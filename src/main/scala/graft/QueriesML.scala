package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ml._
import graft.operators.MovingAverageTransformer
import graft.multimodal.BinaryPipeline

/** ML-surface queries (SURVEY.md §2.7-§2.8): PCA, MLP scoring, the
  * batched embedding harness, R², media feature plumbing.
  *
  * q_mlp_score pins deterministic literal weights so the broadcast-weights
  * forward pass verifies against a DuckDB oracle generated from the SAME
  * weight values (training itself is pinned by MLSpec properties, not an
  * oracle — iterative float training is not SQL-expressible).
  */
object QueriesML {

  // Shadows functions.round for the query outputs: bit-identical
  // HALF_UP decimal rounding via graft.functions.FastRound (native
  // codegen'd fast path; Spark's BigDecimal round costs ~1.3s/600k rows
  // of single-core time on multi-column outputs). SQL oracle strings
  // keep DuckDB's own round.
  private def round(c: org.apache.spark.sql.Column, s: Int): org.apache.spark.sql.Column = graft.functions.FastRound(c, s)


  private def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Deterministic pinned weights for the scoring query (3 → 4 → 1). */
  val pinned: MLPWeights = MLPWeights(
    w1 = Array.tabulate(3, 4)((i, j) => ((i * 7 + j * 3) % 10 - 5) / 10.0),
    b1 = Array.tabulate(4)(j => (j - 2) / 10.0),
    w2 = Array.tabulate(4)(j => ((j * 5) % 7 - 3) / 10.0),
    b2 = 0.05)
  private val mlpFeats = Seq("l_quantity", "l_discount", "l_tax")
  // q_pipeline_artifact's per-invocation artifact dir (one live tree)
  private val qpaSite = new TempArtifacts.Site("graft-qpa")

  /** q_cortex_mlp trial schedule — (spec, hidden, lr, epochs), iter
    * order; head = baseline. Query and oracle generate from this ONE
    * list. The trajectory is chosen so neighbouring metrics are far
    * apart (>> round-4 and float-noise scales): more epochs improves,
    * the 1-unit 1-epoch trial regresses (rejected), the 3-unit refit
    * lands elsewhere. */
  private val cortexMlpSpecs: Seq[(String, Int, Double, Int)] = Seq(
    ("mlp hidden=2 lr=0.05 epochs=2", 2, 0.05, 2),
    ("mlp hidden=2 lr=0.05 epochs=8", 2, 0.05, 8),
    ("mlp hidden=1 lr=0.05 epochs=1", 1, 0.05, 1),
    ("mlp hidden=3 lr=0.05 epochs=8", 3, 0.05, 8))

  private val pcaFeats = Seq("l_quantity", "l_extendedprice",
    "l_discount", "l_tax")

  /** Pinned multi-output head sharing `pinned`'s hidden layer (3 → 4 → 2,
    * prediction_{i} naming contract). */
  val pinnedMulti: MLPMultiWeights = MLPMultiWeights(
    w1 = pinned.w1, b1 = pinned.b1,
    w2 = Array.tabulate(4, 2)((j, o) => ((j * 5 + o * 3) % 7 - 3) / 10.0),
    b2 = Array(0.05, -0.02))

  /** Pinned DEEP multi-output weights (3 → 4 → 3 hidden, 2 heads; flat
    * [[DeepMlpKernel]] layout). x/7 values: non-terminating binary
    * fractions keep rounded outputs off the round-half boundary where
    * Spark (HALF_UP) and DuckDB disagree — see the pinnedBn note. */
  private val deepDims = Seq(3, 4, 3)
  val pinnedDeep: Array[Double] =
    Array.tabulate(DeepMlpKernel.size(deepDims, 2))(i =>
      ((i * 11) % 19 - 9) / 7.0)

  /** Pinned bottleneck (4 features → 2 latents) for the scoring query.
    * Weights are non-terminating binary fractions (x/7, x/13, …): the
    * inputs are integer-and-2-decimal valued, so terminating-decimal
    * weights would park many outputs EXACTLY on round-half boundaries
    * where Spark (HALF_UP) and DuckDB disagree by one ulp of rounding. */
  val pinnedBn: BottleneckWeights = BottleneckWeights(
    means = Array(25.5, 38000.0, 0.05, 0.04),
    loadings = Array(Array(1.0 / 13, -1.0 / 37),
      Array(1.0 / 52345, 1.0 / 31234),
      Array(17.0 / 11, -23.0 / 13), Array(-13.0 / 11, 7.0 / 9)),
    head = Array(3.0 / 7, -2.0 / 9), headBias = 1.0 / 7)
  private val bnFeats = Seq("l_quantity", "l_extendedprice", "l_discount",
    "l_tax")

  private def m22(seed: Int): Array[Array[Double]] =
    Array.tabulate(2, 2)((a, b) => (((a * 3 + b * 5 + seed) % 11) - 5) / 10.0)
  private def v2(seed: Int): Array[Double] =
    Array.tabulate(2)(u => (((u * 7 + seed) % 9) - 4) / 10.0)

  /** Pinned LSTM cell (2 features/step, 2 units) + linear head. */
  val pinnedLstm: LstmWeights = LstmWeights(
    wi = m22(1), ui = m22(2), bi = v2(1),
    wf = m22(3), uf = m22(4), bf = v2(2),
    wc = m22(5), uc = m22(6), bc = v2(3),
    wo = m22(7), uo = m22(8), bo = v2(4),
    wOut = Array(0.6, -0.4), bOut = 0.05)

  /** Pinned second stacked layer (2→2) + head, and the per-layer norms
    * for the use_layer_norm / use_batch_norm scoring query
    * (sequence.py:141-144): layer 0 gets a trainable-shape LayerNorm
    * (per-timestep, Keras eps 1e-3), layer 1 a BatchNorm at INFERENCE —
    * pinned moving stats folded to the per-unit Keras affine. */
  val pinnedLstmL2: LstmWeights = LstmWeights(
    wi = m22(9), ui = m22(10), bi = v2(5),
    wf = m22(11), uf = m22(12), bf = v2(6),
    wc = m22(13), uc = m22(14), bc = v2(7),
    wo = m22(15), uo = m22(16), bo = v2(8),
    wOut = Array(0.7, 0.35), bOut = -0.15)
  val pinnedLstmNorms: Seq[LstmNorm] = Seq(
    LstmNorm(Array(1.1, 0.9), Array(0.05, -0.05)),
    LstmNorm(Array(1.2, 0.8), Array(0.1, -0.1), eps = 1e-3,
      movingMean = Array(0.05, -0.02), movingVar = Array(0.04, 0.09)))

  /** Pinned Dense(2) multi-output head over the stacked final state —
    * the base class's `output_units > 1` scoring query (base.py:46,
    * sequence.py:146; `prediction_{i}` contract base.py:144-150). */
  val pinnedLstmHeadW: Array[Array[Double]] =
    Array(Array(0.6, -0.4), Array(-0.3, 0.5))
  val pinnedLstmHeadB: Array[Double] = Array(0.05, -0.1)

  /** Pinned single-head attention (2 features/step, 2 hidden) + head. */
  val pinnedAttn: AttnWeights = AttnWeights(
    wq = m22(1), bq = v2(5), wk = m22(4), bk = v2(6),
    wv = m22(7), bv = v2(7), wOut = Array(0.5, 0.3), bOut = -0.1)

  private def frac(r: Int, c: Int, seed: Int, den: Int): Array[Array[Double]] =
    Array.tabulate(r, c)((a, b) =>
      (((a * 5 + b * 3 + seed) % den) - den / 2).toDouble / den)
  private def fracV(n: Int, seed: Int, den: Int): Array[Double] =
    Array.tabulate(n)(u => (((u * 7 + seed) % den) - den / 2).toDouble / den)

  /** Pinned FULL encoder block (input projection + learned position
    * embedding + attention residual + ReLU FFN residual + avg pooling,
    * transformer.py:161-217): the fidelity query's weights. */
  val pinnedBlock: AttnWeights = AttnWeights(
    wq = frac(2, 2, 1, 13), bq = fracV(2, 1, 7),
    wk = frac(2, 2, 2, 13), bk = fracV(2, 2, 7),
    wv = frac(2, 2, 3, 13), bv = fracV(2, 3, 7),
    wOut = Array(6.0 / 11, -4.0 / 11), bOut = 1.0 / 7,
    wIn = frac(2, 2, 4, 11), bIn = fracV(2, 4, 7),
    posEmb = frac(3, 2, 5, 13),
    wF1 = frac(2, 3, 6, 11), bF1 = fracV(3, 5, 7),
    wF2 = frac(3, 2, 7, 11), bF2 = fracV(2, 6, 7))

  /** The full block under the reference's DEFAULT pooling_type
    * ("attention", transformer.py:96-107,142): learned Dense(1) softmax
    * pooling instead of the average. */
  val pinnedBlockPool: AttnWeights =
    pinnedBlock.copy(wPool = Array(5.0 / 9, -3.0 / 9), bPool = 1.0 / 9)

  /** The full block under `attention_type="cross"` (dual-axis,
    * transformer.py:51-90): feature-axis q/k/v are seqLen-sized (3). */
  val pinnedBlockCross: AttnWeights = pinnedBlock.copy(
    wqF = frac(3, 3, 8, 13), bqF = fracV(3, 7, 7),
    wkF = frac(3, 3, 9, 13), bkF = fracV(3, 8, 7),
    wvF = frac(3, 3, 10, 13), bvF = fracV(3, 9, 7))

  /** The reference's DEFAULT configuration end to end
    * (transformer.py:142-147,221-234): pre-norm LayerNorms (γ pinned
    * near 1, β near 0), attention pooling AND the `mlp_units=(64,)`-style
    * ReLU prediction head (3 units here). */
  val pinnedKerasDefault: AttnWeights = pinnedBlockPool.copy(
    preNorm = LayerNormParams(
      g1 = fracV(2, 10, 7).map(1.0 + _), c1 = fracV(2, 11, 9),
      g2 = fracV(2, 12, 7).map(1.0 + _), c2 = fracV(2, 13, 9),
      gF = fracV(2, 14, 7).map(1.0 + _), cF = fracV(2, 15, 9)),
    mlpHead = Seq((frac(2, 3, 11, 11), fracV(3, 16, 7))),
    wOut = Array(6.0 / 11, -4.0 / 11, 3.0 / 11))

  /** Pinned Dense(2) multi-output head over the transformer's MLP-head
    * units — `output_units > 1` (base.py:46, transformer.py:236). */
  val pinnedAttnHeadW: Array[Array[Double]] =
    Array(Array(6.0 / 11, -4.0 / 11, 3.0 / 11),
      Array(-2.0 / 7, 5.0 / 9, 1.0 / 3))
  val pinnedAttnHeadB: Array[Double] = Array(1.0 / 7, -1.0 / 9)

  /** Multi-head variant of the default config (num_heads=2 over
    * d_model=2, key_dim=1 — the Keras `d_model // num_heads` shape,
    * transformer.py:175-178): per-head q/k/v, head-major concat,
    * output projection. */
  val pinnedMultiHead: AttnWeights = AttnWeights(
    wq = null, bq = null, wk = null, bk = null, wv = null, bv = null,
    wOut = Array(6.0 / 11, -4.0 / 11, 3.0 / 11), bOut = 1.0 / 7,
    wIn = frac(2, 2, 4, 11), bIn = fracV(2, 4, 7),
    posEmb = frac(3, 2, 5, 13),
    wF1 = frac(2, 3, 6, 11), bF1 = fracV(3, 5, 7),
    wF2 = frac(3, 2, 7, 11), bF2 = fracV(2, 6, 7),
    preNorm = LayerNormParams(
      g1 = fracV(2, 10, 7).map(1.0 + _), c1 = fracV(2, 11, 9),
      g2 = fracV(2, 12, 7).map(1.0 + _), c2 = fracV(2, 13, 9),
      gF = fracV(2, 14, 7).map(1.0 + _), cF = fracV(2, 15, 9)),
    wPool = Array(5.0 / 9, -3.0 / 9), bPool = 1.0 / 9,
    mlpHead = Seq((frac(2, 3, 11, 11), fracV(3, 16, 7))),
    heads = Seq(
      HeadWeights(frac(2, 1, 33, 13), fracV(1, 33, 7),
        frac(2, 1, 34, 13), fracV(1, 34, 7),
        frac(2, 1, 35, 13), fracV(1, 35, 7)),
      HeadWeights(frac(2, 1, 36, 13), fracV(1, 36, 7),
        frac(2, 1, 37, 13), fracV(1, 37, 7),
        frac(2, 1, 38, 13), fracV(1, 38, 7))),
    wO = frac(2, 2, 39, 11), bO = fracV(2, 39, 7))

  /** Second encoder block for the `num_blocks=2` stack
    * (transformer.py:226-227): no input projection (tokens arrive
    * hidden-dim from block 1), own attention/FFN/pre-norm weights;
    * carries the final norm + pooling + head as the LAST block. */
  val pinnedBlockTail: AttnWeights = AttnWeights(
    wq = frac(2, 2, 20, 13), bq = fracV(2, 20, 7),
    wk = frac(2, 2, 21, 13), bk = fracV(2, 21, 7),
    wv = frac(2, 2, 22, 13), bv = fracV(2, 22, 7),
    wOut = Array(6.0 / 11, -4.0 / 11, 3.0 / 11), bOut = 1.0 / 7,
    wF1 = frac(2, 3, 23, 11), bF1 = fracV(3, 23, 7),
    wF2 = frac(3, 2, 24, 11), bF2 = fracV(2, 24, 7),
    preNorm = LayerNormParams(
      g1 = fracV(2, 26, 7).map(1.0 + _), c1 = fracV(2, 27, 9),
      g2 = fracV(2, 28, 7).map(1.0 + _), c2 = fracV(2, 29, 9),
      gF = fracV(2, 30, 7).map(1.0 + _), cF = fracV(2, 31, 9)),
    wPool = Array(5.0 / 9, -3.0 / 9), bPool = 1.0 / 9,
    mlpHead = Seq((frac(2, 3, 25, 11), fracV(3, 32, 7))))

  /** Pinned 2-tree depth-2 SOFT forest (differentiable NDF routing,
    * tree.py:170-206) at the reference's default temperature 0.5.
    * Fractional weights per the pinnedBn rationale; the sigmoid keeps
    * outputs off round-half boundaries anyway. */
  val pinnedSoftTrees: Seq[SoftTreeWeights] = Seq(
    SoftTreeWeights(featIdx = Array(0, 1, 2),
      wDec = frac(3, 3, 41, 13), bDec = fracV(3, 41, 7),
      pi = Array(10.0 / 7, -5.0 / 7, 3.0 / 11, -9.0 / 11)),
    SoftTreeWeights(featIdx = Array(0, 2),
      wDec = frac(2, 3, 42, 13), bDec = fracV(3, 42, 7),
      pi = Array(8.0 / 9, -4.0 / 9, 2.0 / 7, -6.0 / 7)))

  /** Pinned standardization for the soft-forest query's raw features
    * (the fitted model's input-BatchNormalization analog). */
  private val softFeatStats = Seq((25.5, 14.0), (0.05, 0.03), (0.04, 0.02))
  private val softFeatCols = Seq("l_quantity", "l_discount", "l_tax")

  /** The pinned trees with a 2-output pi MATRIX (num_leaves,
    * output_units — tree.py:127-133): output 0 keeps the single-output
    * leaf values, output 1 gets its own set over the SAME routing. */
  val pinnedSoftTreesMulti: Seq[SoftTreeWeights] = Seq(
    pinnedSoftTrees(0).copy(piM = Array(
      pinnedSoftTrees(0).pi,
      Array(-3.0 / 7, 6.0 / 11, -2.0 / 9, 5.0 / 13))),
    pinnedSoftTrees(1).copy(piM = Array(
      pinnedSoftTrees(1).pi,
      Array(4.0 / 11, -7.0 / 13, 1.0 / 3, -2.0 / 5))))

  /** Pinned nonlinear joint autoencoder (4 feats → swish(2) → latent 2
    * → swish(2) → recon 4 → swish(2) → prediction) for the trained-path
    * scoring query (autoencoder.py:25-85 architecture): the chain at one
    * encoder and one head stage. */
  val aeCfg: DeepAeKernel.Cfg =
    DeepAeKernel.Cfg(k = 4, enc = Seq(2), latent = 2, head = Seq(2))
  /** Encoder, latent, decoder, recon and head-hidden stages, each
    * row-major [in][out] weights then the bias. */
  private val aeTrunk: Array[Double] = Seq(
    (frac(4, 2, 51, 13), fracV(2, 51, 7)),
    (frac(2, 2, 52, 13), fracV(2, 52, 7)),
    (frac(2, 2, 53, 13), fracV(2, 53, 7)),
    (frac(2, 4, 54, 13), fracV(4, 54, 7)),
    (frac(4, 2, 55, 13), fracV(2, 55, 7))).flatMap { case (w, b) =>
      w.flatten.toSeq ++ b
    }.toArray
  val pinnedAe: Array[Double] = aeTrunk ++ fracV(2, 56, 9) :+ 1.0 / 7

  /** Pinned standardization for the autoencoder query's features. */
  private val aeFeatStats = Seq((25.5, 14.0), (38000.0, 22000.0),
    (0.05, 0.03), (0.04, 0.02))

  /** The pinned AE with a 2-output target head (Dense(output_units)
    * target_prediction, autoencoder.py:67-69): output 0 keeps the
    * single head column, output 1 its own column over the SAME staged
    * chain (head matrix [hidden][out], then the two biases). */
  val aeMultiCfg: DeepAeKernel.Cfg = aeCfg.copy(out = 2)
  val pinnedAeMulti: Array[Double] = aeTrunk ++
    fracV(2, 56, 9).zip(Seq(-3.0 / 11, 5.0 / 13)).flatMap { case (a, b) =>
      Seq(a, b)
    } ++ Seq(1.0 / 7, -2.0 / 9)

  /** Pinned inference affines of the BatchNorm autoencoder
    * ([[graft.ml.DeepBnAutoencoder]] population-statistics fold,
    * autoencoder.py:30,35,41,52,63): the input site absorbs the raw
    * feature scales (gamma/sqrt(var+eps) ≈ 1/sd with a learned gamma
    * near 1), sites 1..4 sit between each Dense pre-activation and its
    * swish. */
  private val aeBnAff0: (Array[Double], Array[Double]) = {
    val g = Array(9.0 / 8, 7.0 / 8, 1.0, 5.0 / 4)
    val b = Array(1.0 / 7, -1.0 / 9, 2.0 / 11, -1.0 / 13)
    (Array.tabulate(4)(i => g(i) / aeFeatStats(i)._2),
      Array.tabulate(4)(i =>
        b(i) - g(i) * aeFeatStats(i)._1 / aeFeatStats(i)._2))
  }
  private val aeBnAff: Seq[(Array[Double], Array[Double])] = Seq(
    (Array(9.0 / 8, 6.0 / 7), fracV(2, 61, 7)),
    (Array(7.0 / 6, 4.0 / 5), fracV(2, 62, 7)),
    (Array(10.0 / 9, 5.0 / 6), fracV(2, 63, 7)),
    (Array(8.0 / 7, 11.0 / 10), fracV(2, 64, 7)))

  /** Pinned DEPTH-GENERAL AE chain (encoder_units=[3,2] → latent 2 →
    * mirrored decoder → recon 4 → ae_units=[2] → prediction — the
    * reference's list-shaped config, autoencoder.py:15-19). */
  val deepAeCfg: DeepAeKernel.Cfg =
    DeepAeKernel.Cfg(k = 4, enc = Seq(3, 2), latent = 2, head = Seq(2))
  val pinnedDeepAeW: Array[Double] =
    Array.tabulate(deepAeCfg.size)(i => (((i * 7 + 3) % 23) - 11) / 29.0)

  /** Pinned ACT-stage inference affines of the BatchNorm DEEP chain
    * ([[graft.ml.DeepBnKernel]] population fold) — one (scale, shift)
    * pair per activated stage down the chain; the input-site affine is
    * [[aeBnAff0]] pre-applied to the raw feature columns. */
  private val deepBnAff: Seq[(Array[Double], Array[Double])] =
    deepAeCfg.stages.filter(_.act).map(_.nOut).zipWithIndex.map {
      case (w0, i) =>
        (Array.tabulate(w0)(j =>
          1.0 + (((i * 5 + j * 3 + 2) % 7) - 3) / 14.0),
          fracV(w0, 71 + i, 9))
    }

  /** Pinned 2-tree depth-2 forest for the deterministic scoring query. */
  val pinnedTrees: Seq[PinnedTrees.TreeNode] = {
    import PinnedTrees._
    Seq(
      Split("l_quantity", 25.0,
        Split("l_discount", 0.05, Leaf(1.0), Leaf(2.0)),
        Split("l_tax", 0.04, Leaf(3.0), Leaf(4.0))),
      Split("l_discount", 0.03, Leaf(10.0),
        Split("l_quantity", 40.0, Leaf(20.0), Leaf(30.0))))
  }

  /** Lag-major 3-step × 2-feature sequence panel (the SequenceReshape
    * layout over LagTransformer-shaped windows; quantity scaled to keep
    * the recurrent gates in their active region). */
  private val seqSteps = Seq(Seq("q3", "d3"), Seq("q2", "d2"),
    Seq("q1", "d1"))
  private def seqBase(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    def lg(c: Column, n: Int) = lag(c, n).over(w)
    val q = col("l_quantity").cast("double") / lit(50.0)
    val d = col("l_discount").cast("double")
    li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
      lg(q, 3).as("q3"), lg(q, 2).as("q2"), lg(q, 1).as("q1"),
      lg(d, 3).as("d3"), lg(d, 2).as("d2"), lg(d, 1).as("d1"))
      .where(col("q3").isNotNull && col("d3").isNotNull)
  }
  private val seqBaseSql =
    """WITH lags AS (
      |  SELECT l_orderkey, l_linenumber,
      |    lag(CAST(l_quantity AS DOUBLE) / 50.0, 3) OVER w AS q3,
      |    lag(CAST(l_quantity AS DOUBLE) / 50.0, 2) OVER w AS q2,
      |    lag(CAST(l_quantity AS DOUBLE) / 50.0, 1) OVER w AS q1,
      |    lag(CAST(l_discount AS DOUBLE), 3) OVER w AS d3,
      |    lag(CAST(l_discount AS DOUBLE), 2) OVER w AS d2,
      |    lag(CAST(l_discount AS DOUBLE), 1) OVER w AS d1
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber)
      |), base AS (
      |  SELECT * FROM lags WHERE q3 IS NOT NULL AND d3 IS NOT NULL
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PCA latent codes under a FULL DYNAMIC oracle: the fit (Jacobi
    // eigensolve, sign-canonicalized) is stored in DynamicOracles; the
    // oracle embeds the fitted means/loadings as literals, VERIFIES them
    // against DuckDB's independently computed covariance (eigen-equation
    // residuals, descending order, top-2-ness via the trace/det
    // complement spectrum), and projects rows with the same literals —
    // bit-identical per-row arithmetic, genuinely cross-checked fit.
    "q_pca" -> ((s, dir) => {
      val red = DimReducer(pcaFeats, 2)
      val (means, loadings) = red.fit(li(s, dir))
      DynamicOracles.pca.set((means, loadings))
      red.project(li(s, dir), means, loadings)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("dim_0"), 6).as("dim_0"),
          round(col("dim_1"), 6).as("dim_1"))
    }),

    // closed-form 2-feature PCA: fit + transform under a FULL oracle
    // (deterministic atan2 sign convention — see ClosedFormPCA)
    "q_pca2" -> ((s, dir) => {
      ClosedFormPCA.pca2(li(s, dir), "l_quantity", "l_discount")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("dim_0"), 6).as("dim_0"),
          round(col("dim_1"), 6).as("dim_1"))
    }),

    // broadcast-weights MLP forward pass, codegen'd arithmetic
    "q_mlp_score" -> ((s, dir) => {
      val m = new MLPRegressor(mlpFeats, "l_extendedprice")
      li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        round(m.predictColumn(pinned,
          mlpFeats.map(c => col(c).cast("double"))), 6).as("score"))
    }),

    // the one-artifact deploy path INSIDE the correctness gate: compose
    // a feature chain + a pinned-weight MLP head (ModelStage), SAVE the
    // whole fitted pipeline as ONE WeightsIO artifact, LOAD it back,
    // and score with the LOADED object — the oracle verifies the
    // round-tripped artifact, so any codec drift (dropped knob,
    // reordered stage, corrupted section) breaks the hash, not just a
    // unit test. Artifact I/O is driver-side kilobytes at query build.
    "q_pipeline_artifact" -> ((s, dir) => {
      val scaledFeats = mlpFeats.map(_ + "_mm")
      val head = MLPRegressor.fromParts(
        Map("family" -> "mlp",
          "features" -> WeightsIO.namesToMeta(scaledFeats),
          "target" -> "l_extendedprice", "hidden" -> "4",
          "lr" -> "0.001", "epochs" -> "1", "seed" -> "42",
          "scaleTarget" -> "false", "batchFraction" -> "1.0",
          "loss" -> "mse", "optimizer" -> "adam",
          "yMean" -> "0.0", "yStd" -> "1.0"),
        WeightsIO.packMlp(pinned).toMap, "q_pipeline_artifact head")
      val p = graft.operators.Pipeline(Seq(
        graft.operators.MinMaxScaler(mlpFeats, "_mm"),
        graft.operators.ModelStage(head)))
      val path = qpaSite.fresh().resolve("pipeline.json").toString
      graft.operators.PipelineIO.save(path, p)
      val loaded = graft.operators.PipelineIO.load(path)
      loaded.transform(li(s, dir)).select(col("l_orderkey"),
        col("l_linenumber"),
        round(col("prediction"), 6).as("prediction"))
    }),

    // batched embedding harness with the reference's deterministic mock;
    // output through the {f}_embed_{i} explode contract
    "q_embed" -> ((s, dir) => {
      val emb = EmbeddingTransformer("text", MockEmbedder.apply,
        batchSize = 200, dim = MockEmbedder.dim).transform(docs(s, dir))
      EmbeddingTransformer.explodeToColumns(emb, "text", MockEmbedder.dim)
        .select(col("doc_id"),
          col("text_embed_0").cast("double"),
          col("text_embed_1").cast("double"))
    }),

    // multi-output MLP head: prediction_{i} naming contract
    "q_mlp_multi" -> ((s, dir) => {
      val outs = MLPRegressor.predictColumns(pinnedMulti,
        mlpFeats.map(c => col(c).cast("double")))
      li(s, dir).select(col("l_orderkey") +: col("l_linenumber") +:
        outs.map { case (n, c) => round(c, 6).as(n) }: _*)
    }),

    // multi-output DEEP scoring (the DeepMLPRegressor forward at two
    // outputs):
    // two shared ReLU hidden layers feeding two linear heads, staged
    // per-layer named codegen'd columns, CTE-chain SQL mirror
    "q_deep_multi" -> ((s, dir) => {
      DeepMlpScore.stage(li(s, dir),
        mlpFeats.map(c => col(c).cast("double")), pinnedDeep,
        deepDims, 2, swish = false, Array(0.0, 0.0), Array(1.0, 1.0))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction_0"), 6).as("prediction_0"),
          round(col("prediction_1"), 6).as("prediction_1"))
    }),

    // pinned linear-bottleneck scoring: latent codes, reconstruction and
    // the through-the-bottleneck prediction (autoencoder.py:10-161 analog)
    "q_bottleneck" -> ((s, dir) => {
      val model = BottleneckModel(pinnedBn, bnFeats)
      val withZ = model.reconstruct(li(s, dir))
      withZ
        .withColumn("prediction", BottleneckEncoder.headCol(pinnedBn,
          Seq(col("latent_0"), col("latent_1"))))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("latent_0"), 6).as("latent_0"),
          round(col("latent_1"), 6).as("latent_1"),
          round(col("recon_0"), 6).as("recon_0"),
          round(col("recon_3"), 6).as("recon_3"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // pinned 2-tree forest scoring (tree.py:53-384 analog scoring path)
    "q_forest_score" -> ((s, dir) => {
      li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        PinnedTrees.forestColumn(pinnedTrees).as("forest_score"))
    }),

    // pinned nonlinear joint-autoencoder forward pass: staged swish
    // layers (encoder → latent → decoder → recon → head) as named
    // codegen'd projections — the trained counterpart of q_bottleneck's
    // closed-form linear path; standardized-space outputs
    "q_ae_score" -> ((s, dir) => {
      val feats = bnFeats.zip(aeFeatStats).map { case (c, (m, sd)) =>
        (col(c).cast("double") - lit(m)) / lit(sd)
      }
      DeepAeKernel.score(li(s, dir), feats, pinnedAe, aeCfg)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("latent_0"), 6).as("latent_0"),
          round(col("latent_1"), 6).as("latent_1"),
          round(col("recon_0"), 6).as("recon_0"),
          round(col("recon_3"), 6).as("recon_3"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // BatchNorm AE scoring (DeepBnAutoencoder inference): the five BN
    // sites folded to per-unit population affines — the input site on
    // the RAW features, sites 1..4 between each Dense and its swish —
    // over the SAME staged projection chain as q_ae_score
    "q_ae_bn" -> ((s, dir) => {
      val feats = bnFeats.zip(aeBnAff0._1.zip(aeBnAff0._2)).map {
        case (c, (sc, sh)) => col(c).cast("double") * lit(sc) + lit(sh)
      }
      DeepAeKernel.score(li(s, dir), feats, pinnedAe, aeCfg, aeBnAff)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("latent_0"), 6).as("latent_0"),
          round(col("latent_1"), 6).as("latent_1"),
          round(col("recon_0"), 6).as("recon_0"),
          round(col("recon_3"), 6).as("recon_3"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // depth-general AE chain (encoder_units/ae_units LISTS): every
    // stage a named codegen'd projection, same staging as q_ae_score
    "q_deep_ae" -> ((s, dir) => {
      val feats = bnFeats.zip(aeFeatStats).map { case (c, (m, sd)) =>
        (col(c).cast("double") - lit(m)) / lit(sd)
      }
      DeepAeKernel.score(li(s, dir), feats, pinnedDeepAeW, deepAeCfg)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("latent_0"), 6).as("latent_0"),
          round(col("recon_0"), 6).as("recon_0"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // BatchNorm DEEP-chain scoring (DeepBnAutoencoder inference): the
    // list-shaped config with population BN affines threaded per ACT
    // stage — the q_deep_ae chain with q_ae_bn's affine treatment
    "q_deep_bn" -> ((s, dir) => {
      val feats = bnFeats.zip(aeBnAff0._1.zip(aeBnAff0._2)).map {
        case (c, (sc, sh)) => col(c).cast("double") * lit(sc) + lit(sh)
      }
      DeepAeKernel.score(li(s, dir), feats, pinnedDeepAeW, deepAeCfg,
        deepBnAff)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("latent_0"), 6).as("latent_0"),
          round(col("recon_0"), 6).as("recon_0"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // multi-output AE target head: encoder/decoder/head-hidden staged
    // ONCE, each prediction_i one Dense column over the shared head units
    "q_ae_multi" -> ((s, dir) => {
      val feats = bnFeats.zip(aeFeatStats).map { case (c, (m, sd)) =>
        (col(c).cast("double") - lit(m)) / lit(sd)
      }
      DeepAeKernel.score(li(s, dir), feats, pinnedAeMulti, aeMultiCfg)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("latent_0"), 6).as("latent_0"),
          round(col("prediction_0"), 6).as("prediction_0"),
          round(col("prediction_1"), 6).as("prediction_1"))
    }),

    // pinned SOFT forest: the differentiable-NDF routing forward pass
    // (sigmoid routing at T=0.5, leaf-probability products, ensemble
    // average) as pure codegen'd arithmetic — the trained-model analog
    // of q_forest_score's hard CASE trees
    "q_soft_forest" -> ((s, dir) => {
      val feats = softFeatCols.zip(softFeatStats).map { case (c, (m, sd)) =>
        (col(c).cast("double") - lit(m)) / lit(sd)
      }
      li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        round(SoftForest.forestColumn(pinnedSoftTrees, feats, 0.5), 6)
          .as("soft_forest_score"))
    }),

    // multi-output soft forest (pi matrix over SHARED routing,
    // tree.py:127-133,205): leaf probabilities staged once as named
    // codegen'd columns, each prediction_i a projection over them
    "q_soft_multi" -> ((s, dir) => {
      SoftForestModel(pinnedSoftTreesMulti, Nil,
        softFeatStats.map(_._1).toArray, softFeatStats.map(_._2).toArray,
        0.5, 0.0, 1.0, softFeatCols,
        yMeans = Array(0.0, 0.0), yStds = Array(1.0, 1.0))
        .predictMulti(li(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction_0"), 6).as("prediction_0"),
          round(col("prediction_1"), 6).as("prediction_1"))
    }),

    // pinned LSTM-cell forward pass over the lag-major sequence layout
    "q_seq_score" -> ((s, dir) => {
      LstmScorer.score(seqBase(s, dir), seqSteps, pinnedLstm)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("seq_score"))
    }),

    // multi-output LSTM head (output_units=2): both predictions from
    // ONE shared forward pass — the staged hidden columns are computed
    // once and every head is a map-side projection over them
    "q_lstm_multi" -> ((s, dir) => {
      LstmScorer.scoreStackedMulti(seqBase(s, dir), seqSteps,
        Seq(pinnedLstm, pinnedLstmL2), pinnedLstmHeadW, pinnedLstmHeadB)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction_0"), 6).as("prediction_0"),
          round(col("prediction_1"), 6).as("prediction_1"))
    }),

    // stacked LSTM with the reference's use_layer_norm / use_batch_norm
    // stages (sequence.py:141-144): layer 0 LayerNorm per timestep,
    // layer 1 BatchNorm-at-inference (pinned moving stats), all pure
    // codegen'd column arithmetic from the same expression algebra
    "q_lstm_ln" -> ((s, dir) => {
      LstmScorer.scoreStacked(seqBase(s, dir), seqSteps,
        Seq(pinnedLstm, pinnedLstmL2), pinnedLstmNorms)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("ln_score"))
    }),

    // pinned single-head attention forward pass (transformer analog)
    "q_attn_score" -> ((s, dir) => {
      AttnScorer.score(seqBase(s, dir), seqSteps, pinnedAttn)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("attn_score"))
    }),

    // the FULL transformer encoder block: input projection + position
    // embedding + attention residual + ReLU FFN residual + avg pooling
    "q_transformer_score" -> ((s, dir) => {
      AttnScorer.score(seqBase(s, dir), seqSteps, pinnedBlock)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("block_score"))
    }),

    // dual-axis "cross" attention (temporal + feature contexts summed)
    // through the same encoder block
    "q_cross_score" -> ((s, dir) => {
      AttnScorer.score(seqBase(s, dir), seqSteps, pinnedBlockCross)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("cross_score"))
    }),

    // same encoder block under the reference's DEFAULT pooling:
    // AttentionPooling (learned Dense(1) softmax over tokens)
    "q_attn_pool" -> ((s, dir) => {
      AttnScorer.score(seqBase(s, dir), seqSteps, pinnedBlockPool)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("pool_score"))
    }),

    // num_heads=2 multi-head attention through the full default config
    "q_multihead" -> ((s, dir) => {
      AttnScorer.score(seqBase(s, dir), seqSteps, pinnedMultiHead)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("mh_score"))
    }),

    // num_blocks=2: two stacked pre-norm encoder blocks, final norm +
    // attention pooling + MLP head from the last block
    "q_stacked_blocks" -> ((s, dir) => {
      AttnScorer.scoreBlocks(seqBase(s, dir), seqSteps,
        Seq(pinnedKerasDefault, pinnedBlockTail))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("stack_score"))
    }),

    // the reference's full DEFAULT config: pre-norm LayerNorms +
    // attention pooling + ReLU MLP prediction head
    "q_keras_default" -> ((s, dir) => {
      AttnScorer.score(seqBase(s, dir), seqSteps, pinnedKerasDefault)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("keras_score"))
    }),

    // multi-output transformer head (output_units=2): both predictions
    // from ONE shared encoder/pooling/MLP-head pass — each output a
    // map-side Dense row over the staged representation
    "q_attn_multi" -> ((s, dir) => {
      AttnScorer.scoreBlocksMulti(seqBase(s, dir), seqSteps,
        Seq(pinnedKerasDefault), pinnedAttnHeadW, pinnedAttnHeadB)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction_0"), 6).as("prediction_0"),
          round(col("prediction_1"), 6).as("prediction_1"))
    }),

    // CombinedLoss metric (losses.py:125-189): weighted MSE + negative
    // Spearman of a trailing-MA prediction vs price, per returnflag.
    // Computed on thousand-scaled values (the reference standardizes
    // targets before its losses, keras_estimators/base.py:89-100): the
    // raw-price MSE is ~1e9, where a round(4) comparison would sit below
    // cross-engine aggregation-order noise.
    "q_combined_loss" -> ((s, dir) => {
      val ma = MovingAverageTransformer(Seq("l_extendedprice"), Seq(4),
        "l_suppkey", Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .transform(li(s, dir))
        .where(col("l_extendedprice_ma4").isNotNull)
        .withColumn("pred_k", col("l_extendedprice_ma4") / lit(1000.0))
        .withColumn("price_k", col("l_extendedprice") / lit(1000.0))
      Metrics.combinedLoss(ma, "pred_k", "price_k",
        Seq("l_returnflag"), mseWeight = 2.0, spearmanWeight = 1.0)
        .select(col("l_returnflag"),
          round(col("combined_loss"), 4).as("combined_loss"))
    }),

    // Soft differentiable Spearman loss (losses.py:76-117) on per-status
    // mini-batches: 256 md5-ordered orders per group (o_orderkey is the
    // unique row id — lineitem's (orderkey, linenumber) is NOT unique in
    // the synthetic data). The reference evaluates this loss on training
    // batches — pairwise soft ranks are O(n²), so the group must be
    // batch-bounded; the n² expansion here is a broadcast join (zero
    // pre-aggregation shuffle, see Metrics.softSpearman). price/1000
    // keeps the sigmoid off its saturated tails so the soft ranks differ
    // from exact ranks. The 256-smallest selection is TWO-PHASE (salted
    // local top-256, then a global top-256 over <= 256·32 survivors per
    // group) so a status with a billion orders never serializes one
    // sort task — same scale shape as Sketches.kmvDistinct; results
    // identical by the top-k union property.
    "q_soft_spearman" -> ((s, dir) => {
      val key = md5(col("o_orderkey").cast("string"))
      val wLocal = Window
        .partitionBy(col("o_orderstatus"), pmod(hash(key), lit(32)))
        .orderBy(key)
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(key)
      val batch = s.read.parquet(s"$dir/orders.parquet")
        .withColumn("lrn", row_number().over(wLocal)).where(col("lrn") <= 256)
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 256)
        .withColumn("price_k", col("o_totalprice") / lit(1000.0))
        .withColumn("cust_k", col("o_custkey") / lit(1000.0))
      Metrics.softSpearman(batch, "price_k", "cust_k",
        Seq("o_orderstatus"), Seq("o_orderkey"), tau = 1.0)
        .select(col("o_orderstatus"),
          round(col("soft_spearman_loss"), 6).as("soft_loss"))
    }),

    // R² of a trailing-MA "prediction" vs price, per returnflag
    "q_r2" -> ((s, dir) => {
      val ma = MovingAverageTransformer(Seq("l_extendedprice"), Seq(4),
        "l_suppkey", Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .transform(li(s, dir))
        .where(col("l_extendedprice_ma4").isNotNull)
      Metrics.r2(ma, "l_extendedprice_ma4", "l_extendedprice",
        Seq("l_returnflag"))
        .select(col("l_returnflag"), round(col("r2"), 6).as("r2"))
    }),

    // global z-score standardization (target-scaling primitive)
    "q_standardize" -> ((s, dir) => {
      graft.operators.StandardScaler(Seq("l_extendedprice"))
        .transform(li(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice_std"), 6).as("price_std"))
    }),

    // bounded-concurrency LLM row-predictor harness (deterministic mock)
    "q_row_predict" -> ((s, dir) => {
      val mock: Map[String, String] => Map[String, String] = kw => {
        val t = kw.getOrElse("text", "")
        Map("summary" -> t.take(20).toUpperCase,
          "sentiment" -> (t.length % 3 match {
            case 0 => "neg"; case 1 => "neu"; case 2 => "pos"
          }))
      }
      RowPredictor(Seq("text"), Seq("summary", "sentiment"), mock,
        batchSize = 100, concurrency = 8)
        .transform(docs(s, dir))
        .select(col("doc_id"), col("summary"), col("sentiment"))
    }),

    // KerasCortex think-loop (keras_cortex.py:99-146) under a FULL value
    // oracle: a deterministic proposal schedule over the closed ridge
    // spec DSL, per-era closed-form fits (so every trial's fit, score,
    // acceptance decision, and the break-on-malformed-spec exit unroll
    // exactly into SQL). The baseline is over-regularized (λ=10⁴) so
    // trial 1 genuinely improves; trials 2-3 are worse features /
    // crushing regularization (rejected); trial 4's proposal doesn't
    // parse — the reference's exec-failure break, so the log ends at 4
    // rows despite nIterations=5. The MLP-backed interpreter (the
    // reference's default base estimator) runs under CortexThinkSpec.
    "q_cortex" -> ((s, dir) => {
      val base = li(s, dir)
        .withColumn("era", date_format(col("l_shipdate"), "yyyy-MM"))
      val train = base.where(col("l_orderkey") % 5 =!= 0)
      val valid = base.where(col("l_orderkey") % 5 === 0)
      val schedule = Map(
        1 -> "ridge feature=l_quantity lambda=0.0",
        2 -> "ridge feature=l_discount lambda=0.0",
        3 -> "ridge feature=l_tax lambda=100000.0",
        4 -> "def build_model(self): attention!!") // exec-failure analog
      var step = 0
      val proposer: CortexThink.Proposer =
        (_, _, _) => { step += 1; schedule(step) }
      val res = CortexThink.thinkLoop(train, valid,
        "ridge feature=l_quantity lambda=10000.0",
        new RidgeEraSpecInterpreter("l_extendedprice", "era"),
        proposer, nIterations = 5)
      import s.implicits._
      res.log.toDF()
        .select(col("iter"), col("spec"),
          round(col("metric"), 4).as("val_r2"), col("accepted"))
    }),

    // the SAME think-loop over the reference's DEFAULT base estimator
    // (keras_cortex.py:44-60: MLPRegressor scored by R²) under a FULL
    // value oracle: batchFraction = 1.0 makes every trial a
    // deterministic full-batch Adam trajectory whose every operation
    // (matmul, ReLU, grad sums, bias-corrected Adam step) unrolls into
    // SQL — the q_penalize_fixed treatment applied to the NN fit. The
    // schedule completes all 3 iterations (no break), so this query
    // also pins the completion path (q_cortex pins the exec-failure
    // break); metrics are round(4) — far above the cross-engine
    // float-sum noise floor (~1e-12) of the unrolled trajectory.
    "q_cortex_mlp" -> ((s, dir) => {
      // bounded panel (supplier-key thirds): the loop's cost is
      // rows × total epochs × trials — a fixed demo slice keeps the
      // 19-epoch 4-trial trajectory ~4s at sf0.1 without touching the
      // full-batch determinism the value oracle needs
      val base = li(s, dir).where(col("l_suppkey") % 3 === 0)
      val train = base.where(col("l_orderkey") % 5 =!= 0)
      val valid = base.where(col("l_orderkey") % 5 === 0)
      var step = 0
      val proposer: CortexThink.Proposer =
        (_, _, _) => { step += 1; cortexMlpSpecs(step)._1 }
      val res = CortexThink.thinkLoop(train, valid,
        cortexMlpSpecs.head._1,
        new MlpSpecInterpreter(mlpFeats, "l_extendedprice",
          batchFraction = 1.0),
        proposer, nIterations = cortexMlpSpecs.size - 1)
      import s.implicits._
      res.log.toDF()
        .select(col("iter"), col("spec"),
          round(col("metric"), 4).as("val_r2"), col("accepted"))
    }),

    // leakage-safe hyperparameter search (VERDICT r13 item 4 — the
    // GridSearchCV role the reference inherits from sklearn) under a
    // FULL value oracle: a 4-candidate grid of closed-form GLOBAL
    // single-feature no-intercept ridge heads (β = Σxy/(Σx²+λn) on the
    // fold's purged-train eras — a global head, not the per-era one,
    // because purged CV scores on DISJOINT eras that per-era betas
    // never saw), scored by R² on the fold's test eras, winner = best
    // mean across the k=3 folds (first-best tie order), then refit on
    // the full frame. Every trial's fit and score is exact SQL, so the
    // whole sweep — fold roles, betas, scores, the argmax — unrolls
    // into the oracle (the q_cortex treatment applied to model
    // selection).
    "q_grid_search" -> ((s, dir) => {
      val base = li(s, dir)
        .withColumn("era", date_format(col("l_shipdate"), "yyyy-MM"))
      val y = col("l_extendedprice").cast("double")
      val grid = Seq(("l_quantity", 0.0), ("l_quantity", 100000.0),
        ("l_discount", 0.0), ("l_tax", 1000.0))
      def fit(c: (String, Double), train: DataFrame): ((String, Double), Double) = {
        val x = col(c._1).cast("double")
        (c, train.agg((sum(x * y) /
          (sum(x * x) + lit(c._2) * count(lit(1)))).as("b"))
          .first().getDouble(0))
      }
      def score(m: ((String, Double), Double), test: DataFrame): Double = {
        val x = col(m._1._1).cast("double")
        val pred = lit(m._2) * x
        val r = test.agg(sum((y - pred) * (y - pred)).as("ssres"),
          sum(y * y).as("syy"), sum(y).as("sy"),
          count(lit(1)).cast("double").as("n")).first()
        1.0 - r.getDouble(0) /
          (r.getDouble(1) - r.getDouble(2) * r.getDouble(2) / r.getDouble(3))
      }
      val res = GridSearch.search(base, "era", k = 3, embargo = 1,
        grid, fit, score)
      import s.implicits._
      res.trials
        .map(t => (s"${t.param._1}:${t.param._2}", t.fold, t.score,
          t.param == res.best))
        .toDF("cand", "fold", "score", "is_best")
        .select(col("cand"), col("fold"),
          round(col("score"), 4).as("val_r2"), col("is_best"))
    }),

    // multimodal frame sampling: evenly-spaced byte-window "keyframes"
    "q_media_frames" -> ((s, dir) => {
      val media = BinaryPipeline.synthesizeMedia(docs(s, dir), "text")
      BinaryPipeline.sampleFrames(media, "media", nFrames = 3,
        frameBytes = 16)
        .select(col("doc_id"), col("frame_idx"),
          col("frame_len").cast("long").as("frame_len"),
          col("frame").cast("string").as("frame_str"))
    }),

    // multimodal plumbing: synthesize binary media, batched stub decode
    "q_media_features" -> ((s, dir) => {
      val media = BinaryPipeline.synthesizeMedia(docs(s, dir), "text")
      BinaryPipeline.extractFeatures(media, "media", dim = 8)
        .select(col("doc_id"), col("media_meta.width").as("width"),
          round(element_at(col("media_features"), 1).cast("double"), 4)
            .as("f0"),
          round(element_at(col("media_features"), 2).cast("double"), 4)
            .as("f1"))
    })
  )

  private def mlpSql: String = {
    val f = mlpFeats
    val hidden = (0 until 4).map { j =>
      val z = f.zipWithIndex.map { case (c, i) =>
        s"CAST($c AS DOUBLE) * ${pinned.w1(i)(j)}"
      }.mkString("(", " + ", s" + ${pinned.b1(j)})")
      s"greatest($z, 0.0)"
    }
    val out = hidden.zipWithIndex.map { case (h, j) =>
      s"$h * ${pinned.w2(j)}"
    }.mkString("(", " + ", s" + ${pinned.b2})")
    s"round($out, 6)"
  }

  /** q_pca dynamic oracle: the fitted (means, loadings) arrive as
    * literals; a check CTE recomputes the covariance from the data and
    * verifies (a) the stored means, (b) the eigen-equation ‖C·v − λv‖ ≤
    * tol per component (λ recovered as vᵀCv), (c) descending order, and
    * (d) top-2-ness — the two REMAINING eigenvalues are recovered from
    * trace/det (μ₁+μ₂ = tr − λ₀ − λ₁, μ₁μ₂ = det/(λ₀λ₁)) and the larger
    * must not exceed λ₁. Any failure NULLs every output → hash mismatch.
    * The projection itself uses the literals on both engines, so the
    * per-row doubles are bit-identical (no aggregate noise in values).
    */
  private def pcaOracleSql(means: Array[Double],
      loadings: Array[Array[Double]]): String = {
    val k = pcaFeats.size
    def cv(i: Int, j: Int) = s"c${math.min(i, j)}${math.max(i, j)}"
    val sums = pcaFeats.zipWithIndex.map { case (c, i) =>
      s"sum(CAST($c AS DOUBLE)) AS s$i" }
    val cross = for (i <- 0 until k; j <- i until k) yield
      s"sum(CAST(${pcaFeats(i)} AS DOUBLE) * CAST(${pcaFeats(j)} AS DOUBLE)) AS ss${i}_$j"
    val covDefs = for (i <- 0 until k; j <- i until k) yield
      s"ss${i}_$j / n - (s$i / n) * (s$j / n) AS c$i$j"
    // λ_d = vᵀCv and the residual ‖C·v − λ·v‖² for each stored component
    def lam(d: Int) = (for (i <- 0 until k; j <- 0 until k) yield
      s"${loadings(d)(i)} * ${cv(i, j)} * ${loadings(d)(j)}")
      .mkString(" + ")
    def resid(d: Int) = (0 until k).map { i =>
      val cvi = (0 until k).map(j => s"${cv(i, j)} * ${loadings(d)(j)}")
        .mkString(" + ")
      s"pow(($cvi) - lam$d * ${loadings(d)(i)}, 2)"
    }.mkString(" + ")
    // det(C) by cofactor expansion over the symmetric cov columns
    def detExpr(rows: Seq[Int], cols: Seq[Int]): String =
      if (rows.size == 1) cv(rows.head, cols.head)
      else cols.zipWithIndex.map { case (cj, idx) =>
        val minor = detExpr(rows.tail, cols.filterNot(_ == cj))
        val term = s"${cv(rows.head, cj)} * ($minor)"
        if (idx % 2 == 0) s"+ $term" else s"- $term"
      }.mkString("(", " ", ")")
    val meanOk = (0 until k).map(i =>
      s"abs(s$i / n - ${means(i)}) <= 1e-6 * (abs(${means(i)}) + 1.0)")
      .mkString(" AND ")
    def proj(d: Int) = (0 until k).map(i =>
      s"(CAST(${pcaFeats(i)} AS DOUBLE) - ${means(i)}) * ${loadings(d)(i)}")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""WITH st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${sums.mkString(",\n    ")},
       |    ${cross.mkString(",\n    ")}
       |  FROM lineitem),
       |cov AS (
       |  SELECT n, ${(0 until k).map(i => s"s$i").mkString(", ")},
       |    ${covDefs.mkString(",\n    ")}
       |  FROM st),
       |lams AS (
       |  SELECT *, ${lam(0)} AS lam0, ${lam(1)} AS lam1 FROM cov),
       |comp AS (
       |  SELECT *,
       |    ${cv(0, 0)} + ${cv(1, 1)} + ${cv(2, 2)} + ${cv(3, 3)}
       |      - lam0 - lam1 AS musum,
       |    ${detExpr(0 until k, 0 until k)} / (lam0 * lam1) AS muprod
       |  FROM lams),
       |chk AS (
       |  SELECT
       |    ($meanOk)
       |    AND (${resid(0)}) <= pow(1e-9 * lam0 + 1e-7 * lam0, 2)
       |    AND (${resid(1)}) <= pow(1e-9 * lam0 + 1e-7 * lam1, 2)
       |    AND lam0 >= lam1
       |    AND lam1 >= (musum + sqrt(greatest(musum * musum
       |        - 4.0 * muprod, 0.0))) / 2.0 - 1e-7 * lam0
       |    AS ok
       |  FROM comp)
       |SELECT l_orderkey, l_linenumber,
       |  CASE WHEN ok THEN round(${proj(0)}, 6) END AS dim_0,
       |  CASE WHEN ok THEN round(${proj(1)}, 6) END AS dim_1
       |FROM lineitem CROSS JOIN chk""".stripMargin
  }

  def oracleSql: Map[String, String] = staticOracleSql ++
    Option(DynamicOracles.pca.get).map { case (m, l) =>
      "q_pca" -> pcaOracleSql(m, l)
    }

  /** q_cortex_mlp oracle: EVERY trial's full-batch Adam trajectory
    * unrolled — an operation-for-operation mirror of MLPRegressor.fit
    * at batchFraction = 1.0 (glorot literals from the SAME seeded init,
    * per-row forward `((x0·w+x1·w)+x2·w)+b` → ReLU → head, gradient
    * sums normalized by the weight sum, the bias-corrected Adam step
    * with driver-computed 1−βᵗ literals), then Metrics.r2's exact
    * algebra on the validation split and the running-max acceptance
    * window (the q_cortex pattern). Every per-iteration op is IEEE
    * basic arithmetic; only the row-sum order differs between engines,
    * and that noise (~1e-12 relative) sits far below the round(4)
    * metric snap. All CTEs MATERIALIZED: each epoch state is referenced
    * twice (data pass + Adam update), and inlining would recompute the
    * whole prefix per epoch. */
  private def cortexMlpSql(specs: Seq[(String, Int, Double, Int)])
      : String = {
    val k = 3
    val (beta1, beta2, eps) = (0.9, 0.999, 1e-8)
    def trialCtes(ti: Int, h: Int, lr: Double, epochs: Int): String = {
      val (w1, w2) = MLPRegressor.glorotInit(k, h, 42L)
      val I = 0 until k
      val J = 0 until h
      val params = (for (i <- I; j <- J) yield s"w${i}_$j") ++
        J.map(j => s"b$j") ++ J.map(j => s"u$j") :+ "bo"
      val init = (
        (for (i <- I; j <- J) yield s"${w1(i, j)} AS w${i}_$j") ++
        J.map(j => s"0.0 AS b$j") ++
        J.map(j => s"${w2(j)} AS u$j") ++ Seq("0.0 AS bo") ++
        params.map(p => s"0.0 AS m_$p") ++
        params.map(p => s"0.0 AS v_$p")).mkString(", ")
      def zExpr(q: String, j: Int) =
        I.map(i => s"$q.x$i * s.w${i}_$j").mkString(" + ") + s" + s.b$j"
      val epochBlocks = (1 to epochs).map { t =>
        val prev = s"t${ti}s${t - 1}"
        val (bc1, bc2) =
          (1.0 - math.pow(beta1, t), 1.0 - math.pow(beta2, t))
        val zs = J.map(j => s"${zExpr("d", j)} AS z$j").mkString(", ")
        val hs = J.map(j =>
          s"CASE WHEN z$j > 0 THEN z$j ELSE 0.0 END AS h$j").mkString(", ")
        val pr = J.map(j => s"h$j * u$j").mkString(" + ") + " + bo AS pr"
        val gsums = ((for (i <- I; j <- J) yield
          s"sum(CASE WHEN z$j > 0 THEN x$i * (u$j * dd) ELSE 0.0 END) " +
            s"AS g_w${i}_$j") ++
          J.map(j => s"sum(CASE WHEN z$j > 0 THEN u$j * dd ELSE 0.0 END)" +
            s" AS g_b$j") ++
          J.map(j => s"sum(dd * h$j) AS g_u$j") ++
          Seq("sum(dd) AS g_bo", "sum(1.0) AS ws")).mkString(",\n    ")
        def gn(p: String) = s"(g.g_$p / greatest(g.ws, 1e-12))"
        val ms = params.map(p =>
          s"$beta1 * s.m_$p + ${1 - beta1} * ${gn(p)} AS m2_$p," +
            s" $beta2 * s.v_$p + (${1 - beta2} * ${gn(p)}) * ${gn(p)}" +
            s" AS v2_$p").mkString(",\n    ")
        val upd = (params.map(p =>
          s"$p - ($lr * (m2_$p / $bc1)) / (sqrt(v2_$p / $bc2) + $eps)" +
            s" AS $p") ++
          params.map(p => s"m2_$p AS m_$p") ++
          params.map(p => s"v2_$p AS v_$p")).mkString(",\n    ")
        s"""t${ti}a$t AS MATERIALIZED (
           |  SELECT s.*, d.x0, d.x1, d.x2, d.ys, $zs
           |  FROM trs d CROSS JOIN $prev s),
           |t${ti}b$t AS MATERIALIZED (SELECT *, $hs FROM t${ti}a$t),
           |t${ti}c$t AS MATERIALIZED (SELECT *, $pr FROM t${ti}b$t),
           |t${ti}d$t AS MATERIALIZED (SELECT *, pr - ys AS dd
           |  FROM t${ti}c$t),
           |t${ti}g$t AS MATERIALIZED (SELECT
           |    $gsums
           |  FROM t${ti}d$t),
           |t${ti}m$t AS MATERIALIZED (
           |  SELECT s.*,
           |    $ms
           |  FROM $prev s CROSS JOIN t${ti}g$t g),
           |t${ti}s$t AS MATERIALIZED (SELECT
           |    $upd
           |  FROM t${ti}m$t)""".stripMargin
      }.mkString(",\n")
      val vz = J.map(j => s"${zExpr("v", j)} AS z$j").mkString(", ")
      val vh = J.map(j =>
        s"CASE WHEN z$j > 0 THEN z$j ELSE 0.0 END AS h$j").mkString(", ")
      val vout = J.map(j => s"h$j * u$j").mkString(" + ") + " + bo"
      s"""t${ti}s0 AS MATERIALIZED (SELECT $init),
         |$epochBlocks,
         |t${ti}va AS MATERIALIZED (
         |  SELECT v.y, s.*, st.ym, st.ysd, $vz
         |  FROM va v CROSS JOIN t${ti}s$epochs s CROSS JOIN st),
         |t${ti}vh AS MATERIALIZED (SELECT *, $vh FROM t${ti}va),
         |t${ti}r AS MATERIALIZED (
         |  SELECT 1.0 - sum(pow(y - (($vout) * ysd + ym), 2.0))
         |      / (sum(pow(y, 2.0)) - (count(*) * avg(y)) * avg(y)) AS r2
         |  FROM t${ti}vh)""".stripMargin
    }
    val trials = specs.zipWithIndex.map { case ((_, h, lr, ep), ti) =>
      trialCtes(ti, h, lr, ep)
    }.mkString(",\n")
    val scoredRows = specs.zipWithIndex.map { case ((spec, _, _, _), ti) =>
      s"SELECT $ti AS iter, '$spec' AS spec, (SELECT r2 FROM t${ti}r) AS r2"
    }.mkString("\n  UNION ALL ")
    s"""WITH li0 AS (
       |  SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS x0,
       |    CAST(l_discount AS DOUBLE) AS x1, CAST(l_tax AS DOUBLE) AS x2,
       |    CAST(l_extendedprice AS DOUBLE) AS y
       |  FROM lineitem WHERE l_suppkey % 3 = 0),
       |tr AS (SELECT * FROM li0 WHERE l_orderkey % 5 <> 0),
       |va AS (SELECT * FROM li0 WHERE l_orderkey % 5 = 0),
       |st AS MATERIALIZED (
       |  SELECT avg(y) AS ym, greatest(stddev_pop(y), 1e-12) AS ysd
       |  FROM tr),
       |trs AS MATERIALIZED (
       |  SELECT x0, x1, x2, (y - ym) / ysd AS ys FROM tr, st),
       |$trials,
       |scored AS (
       |  $scoredRows)
       |SELECT CAST(iter AS INTEGER) AS iter, spec,
       |  round(r2, 4) AS val_r2,
       |  CASE WHEN iter = 0 THEN true
       |       ELSE r2 > max(r2) OVER (ORDER BY iter
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |  END AS accepted
       |FROM scored""".stripMargin
  }

  private val staticOracleSql: Map[String, String] = Map(
    "q_cortex_mlp" -> cortexMlpSql(cortexMlpSpecs),
    // mirror of ClosedFormPCA.pca2 (same raw-moment covariance, same
    // atan2 angle, same projection op order; libm behind round(6))
    "q_pca2" ->
      """WITH st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(l_quantity) AS sx, sum(l_discount) AS sy,
        |    sum(l_quantity * l_quantity) AS sxx,
        |    sum(l_discount * l_discount) AS syy,
        |    sum(l_quantity * l_discount) AS sxy
        |  FROM lineitem),
        |a AS (
        |  SELECT sx / n AS mx, sy / n AS my,
        |    0.5 * atan2(2.0 * ((sxy / n) - ((sx / n) * (sy / n))),
        |      ((sxx / n) - ((sx / n) * (sx / n)))
        |        - ((syy / n) - ((sy / n) * (sy / n)))) AS theta
        |  FROM st)
        |SELECT l_orderkey, l_linenumber,
        |  round(((l_quantity - mx) * cos(theta))
        |    + ((l_discount - my) * sin(theta)), 6) AS dim_0,
        |  round(((l_discount - my) * cos(theta))
        |    - ((l_quantity - mx) * sin(theta)), 6) AS dim_1
        |FROM lineitem, a""".stripMargin,
    "q_standardize" ->
      """SELECT l_orderkey, l_linenumber,
        | round((l_extendedprice - mu) / sd, 6) AS price_std
        |FROM lineitem,
        | (SELECT avg(l_extendedprice) AS mu,
        |         stddev_pop(l_extendedprice) AS sd FROM lineitem)""".stripMargin,
    "q_row_predict" ->
      """SELECT doc_id, upper(substr(text, 1, 20)) AS summary,
        | CASE length(text) % 3 WHEN 0 THEN 'neg' WHEN 1 THEN 'neu'
        |   ELSE 'pos' END AS sentiment
        |FROM documents""".stripMargin,
    // the think-loop unrolled: per-era ridge sufficient statistics over
    // the train split, R² on the valid split via Σ(y−ȳ)² = Σy² − (Σy)²/n
    // (the identical algebra the interpreter computes), acceptance =
    // strict running-max improvement; trial 4 never scores (parse break)
    "q_cortex" ->
      """WITH li AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS era, l_orderkey,
        |    CAST(l_quantity AS DOUBLE) AS xq,
        |    CAST(l_discount AS DOUBLE) AS xd,
        |    CAST(l_tax AS DOUBLE) AS xt,
        |    CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem),
        |tr AS (SELECT * FROM li WHERE l_orderkey % 5 <> 0),
        |va AS (SELECT * FROM li WHERE l_orderkey % 5 = 0),
        |specs(iter, spec, feat, lam) AS (VALUES
        |  (0, 'ridge feature=l_quantity lambda=10000.0', 'q', 10000.0),
        |  (1, 'ridge feature=l_quantity lambda=0.0',     'q', 0.0),
        |  (2, 'ridge feature=l_discount lambda=0.0',     'd', 0.0),
        |  (3, 'ridge feature=l_tax lambda=100000.0',     't', 100000.0)),
        |beta AS (
        |  SELECT s.iter, s.spec, s.feat, t.era,
        |    sum(CASE s.feat WHEN 'q' THEN t.xq WHEN 'd' THEN t.xd
        |          ELSE t.xt END * t.y)
        |      / (sum(CASE s.feat WHEN 'q' THEN t.xq WHEN 'd' THEN t.xd
        |               ELSE t.xt END
        |             * CASE s.feat WHEN 'q' THEN t.xq WHEN 'd' THEN t.xd
        |               ELSE t.xt END)
        |         + s.lam * count(*)) AS b
        |  FROM specs s CROSS JOIN tr t
        |  GROUP BY s.iter, s.spec, s.feat, s.lam, t.era),
        |scored AS (
        |  SELECT b.iter, b.spec,
        |    1.0 - sum((v.y - b.b * CASE b.feat WHEN 'q' THEN v.xq
        |                 WHEN 'd' THEN v.xd ELSE v.xt END)
        |              * (v.y - b.b * CASE b.feat WHEN 'q' THEN v.xq
        |                 WHEN 'd' THEN v.xd ELSE v.xt END))
        |          / (sum(v.y * v.y) - sum(v.y) * sum(v.y) / count(*))
        |      AS r2
        |  FROM beta b JOIN va v ON b.era = v.era
        |  GROUP BY b.iter, b.spec)
        |SELECT CAST(iter AS INTEGER) AS iter, spec,
        |  round(r2, 4) AS val_r2,
        |  CASE WHEN iter = 0 THEN true
        |       ELSE r2 > max(r2) OVER (ORDER BY iter
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |  END AS accepted
        |FROM scored""".stripMargin,
    // the full purged-CV grid sweep unrolled set-based: fold roles on
    // the era spine (the q_purged_cv CTEs at k=3, embargo=1), per
    // (candidate × fold) global ridge betas over train eras, R² over
    // test eras, candidate means, first-best argmax — all one SQL
    "q_grid_search" ->
      """WITH li AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS era,
        |    CAST(l_quantity AS DOUBLE) AS xq,
        |    CAST(l_discount AS DOUBLE) AS xd,
        |    CAST(l_tax AS DOUBLE) AS xt,
        |    CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem),
        |eras AS (SELECT DISTINCT era FROM li),
        |idx AS (SELECT era, row_number() OVER (ORDER BY era) - 1 AS i
        |  FROM eras),
        |nn AS (SELECT count(*) AS e FROM idx),
        |fo AS (SELECT era, i, CAST(floor(i * 3 / e) AS INT) AS fo
        |  FROM idx, nn),
        |ext AS (SELECT fo AS fold, min(i) AS lo, max(i) AS hi FROM fo
        |  GROUP BY fo),
        |roles AS (
        |  SELECT f.era, ext.fold,
        |    CASE WHEN f.fo = ext.fold THEN 'test'
        |      WHEN f.i >= ext.lo - 1 AND f.i <= ext.hi + 1 THEN 'purged'
        |      ELSE 'train' END AS role
        |  FROM fo f CROSS JOIN ext),
        |cands(cand, pos, feat, lam) AS (VALUES
        |  ('l_quantity:0.0',      0, 'q', 0.0),
        |  ('l_quantity:100000.0', 1, 'q', 100000.0),
        |  ('l_discount:0.0',      2, 'd', 0.0),
        |  ('l_tax:1000.0',        3, 't', 1000.0)),
        |beta AS (
        |  SELECT c.cand, c.pos, r.fold,
        |    sum(CASE c.feat WHEN 'q' THEN t.xq WHEN 'd' THEN t.xd
        |          ELSE t.xt END * t.y)
        |      / (sum(CASE c.feat WHEN 'q' THEN t.xq WHEN 'd' THEN t.xd
        |               ELSE t.xt END
        |             * CASE c.feat WHEN 'q' THEN t.xq WHEN 'd' THEN t.xd
        |               ELSE t.xt END)
        |         + c.lam * count(*)) AS b
        |  FROM cands c CROSS JOIN roles r JOIN li t ON t.era = r.era
        |  WHERE r.role = 'train'
        |  GROUP BY c.cand, c.pos, c.feat, c.lam, r.fold),
        |scored AS (
        |  SELECT b.cand, b.pos, b.fold,
        |    1.0 - sum((v.y - b.b * CASE b.cand
        |                 WHEN 'l_discount:0.0' THEN v.xd
        |                 WHEN 'l_tax:1000.0' THEN v.xt ELSE v.xq END)
        |              * (v.y - b.b * CASE b.cand
        |                 WHEN 'l_discount:0.0' THEN v.xd
        |                 WHEN 'l_tax:1000.0' THEN v.xt ELSE v.xq END))
        |          / (sum(v.y * v.y) - sum(v.y) * sum(v.y) / count(*))
        |      AS r2
        |  FROM beta b
        |  JOIN roles r ON r.fold = b.fold AND r.role = 'test'
        |  JOIN li v ON v.era = r.era
        |  GROUP BY b.cand, b.pos, b.fold, b.b),
        |best AS (
        |  SELECT cand FROM (
        |    SELECT cand, avg(r2) AS m, pos FROM scored
        |    GROUP BY cand, pos)
        |  QUALIFY row_number() OVER (ORDER BY m DESC, pos) = 1)
        |SELECT s.cand, CAST(s.fold AS INTEGER) AS fold,
        |  round(s.r2, 4) AS val_r2,
        |  s.cand = (SELECT cand FROM best) AS is_best
        |FROM scored s""".stripMargin,

    "q_mlp_score" ->
      s"""SELECT l_orderkey, l_linenumber, $mlpSql AS score
         |FROM lineitem""".stripMargin,
    // the loaded-artifact pipeline: global min-max CTE (the scaler's
    // exact 1e-10 degenerate branch), then the pinned MLP over the
    // SCALED features — same left-associated term order as the Spark
    // codegen'd columns
    "q_pipeline_artifact" -> {
      val mm = mlpFeats.zipWithIndex.map { case (c, i) =>
        s"min($c) AS mn$i, max($c) AS mx$i"
      }.mkString(", ")
      val sc = mlpFeats.zipWithIndex.map { case (c, i) =>
        s"CASE WHEN mx$i - mn$i < 1e-10 THEN 0.5 " +
          s"ELSE ($c - mn$i) / (mx$i - mn$i) END AS f$i"
      }.mkString(",\n        |  ")
      val f = mlpFeats.indices.map(i => s"f$i")
      val hidden = (0 until 4).map { j =>
        val z = f.zipWithIndex.map { case (c, i) =>
          s"$c * ${pinned.w1(i)(j)}"
        }.mkString("(", " + ", s" + ${pinned.b1(j)})")
        s"greatest($z, 0.0)"
      }
      val out = hidden.zipWithIndex.map { case (h, j) =>
        s"$h * ${pinned.w2(j)}"
      }.mkString("(", " + ", s" + ${pinned.b2})")
      s"""WITH st AS (SELECT $mm FROM lineitem),
        |sc AS (SELECT l_orderkey, l_linenumber,
        |  $sc
        |  FROM lineitem, st)
        |SELECT l_orderkey, l_linenumber,
        |  round(($out) * 1.0 + 0.0, 6) AS prediction
        |FROM sc""".stripMargin
    },
    "q_embed" ->
      """SELECT doc_id,
        | CAST(CAST(length(text) AS FLOAT) AS DOUBLE) AS text_embed_0,
        | CAST(CAST(list_sum(list_transform(generate_series(1, length(text)),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)))) % 100 AS FLOAT)
        |   AS DOUBLE) AS text_embed_1
        |FROM documents""".stripMargin,
    "q_mlp_multi" -> {
      val f = mlpFeats
      val hidden = (0 until 4).map { j =>
        val z = f.zipWithIndex.map { case (c, i) =>
          s"CAST($c AS DOUBLE) * ${pinnedMulti.w1(i)(j)}"
        }.mkString("(", " + ", s" + ${pinnedMulti.b1(j)})")
        s"greatest($z, 0.0)"
      }
      val outs = (0 until 2).map { o =>
        val e = hidden.zipWithIndex.map { case (h, j) =>
          s"$h * ${pinnedMulti.w2(j)(o)}"
        }.mkString("(", " + ", s" + ${pinnedMulti.b2(o)})")
        s"round($e, 6) AS prediction_$o"
      }.mkString(",\n  ")
      s"""SELECT l_orderkey, l_linenumber,
         |  $outs
         |FROM lineitem""".stripMargin
    },
    "q_deep_multi" -> DeepMlpScore.sql("lineitem",
      Seq("l_orderkey", "l_linenumber"),
      mlpFeats.map(c => s"CAST($c AS DOUBLE)"),
      pinnedDeep, deepDims, 2, Array(0.0, 0.0), Array(1.0, 1.0), 6),
    "q_bottleneck" -> {
      val fx = bnFeats.map(c => s"CAST($c AS DOUBLE)")
      val zN = Seq("latent_0", "latent_1")
      s"""WITH z AS (
         |  SELECT l_orderkey, l_linenumber,
         |    ${BottleneckEncoder.latentSql(pinnedBn, fx, 0)} AS latent_0,
         |    ${BottleneckEncoder.latentSql(pinnedBn, fx, 1)} AS latent_1
         |  FROM lineitem),
         |r AS (
         |  SELECT *,
         |    ${BottleneckEncoder.reconSql(pinnedBn, zN, 0)} AS recon_0,
         |    ${BottleneckEncoder.reconSql(pinnedBn, zN, 3)} AS recon_3
         |  FROM z)
         |SELECT l_orderkey, l_linenumber,
         |  round(latent_0, 6) AS latent_0, round(latent_1, 6) AS latent_1,
         |  round(recon_0, 6) AS recon_0, round(recon_3, 6) AS recon_3,
         |  round(${BottleneckEncoder.headSql(pinnedBn, zN)}, 6) AS prediction
         |FROM r""".stripMargin
    },
    "q_forest_score" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${PinnedTrees.forestSql(pinnedTrees)} AS forest_score
         |FROM lineitem""".stripMargin,
    "q_ae_score" -> {
      val fx = bnFeats.zip(aeFeatStats).map { case (c, (m, sd)) =>
        s"((CAST($c AS DOUBLE) - $m) / $sd)"
      }
      DeepAeKernel.sql("WITH base AS (SELECT * FROM lineitem)", "base", fx,
        pinnedAe, aeCfg, "l_orderkey, l_linenumber",
        """l_orderkey, l_linenumber,
          |  round(latent_0, 6) AS latent_0, round(latent_1, 6) AS latent_1,
          |  round(recon_0, 6) AS recon_0, round(recon_3, 6) AS recon_3,
          |  round(prediction, 6) AS prediction""".stripMargin)
    },
    "q_ae_bn" -> {
      val fx = bnFeats.zip(aeBnAff0._1.zip(aeBnAff0._2)).map {
        case (c, (sc, sh)) => s"(CAST($c AS DOUBLE) * $sc + $sh)"
      }
      DeepAeKernel.sql("WITH base AS (SELECT * FROM lineitem)", "base", fx,
        pinnedAe, aeCfg, "l_orderkey, l_linenumber",
        """l_orderkey, l_linenumber,
          |  round(latent_0, 6) AS latent_0, round(latent_1, 6) AS latent_1,
          |  round(recon_0, 6) AS recon_0, round(recon_3, 6) AS recon_3,
          |  round(prediction, 6) AS prediction""".stripMargin,
        aeBnAff)
    },
    "q_ae_multi" -> {
      val fx = bnFeats.zip(aeFeatStats).map { case (c, (m, sd)) =>
        s"((CAST($c AS DOUBLE) - $m) / $sd)"
      }
      DeepAeKernel.sql("WITH base AS (SELECT * FROM lineitem)", "base", fx,
        pinnedAeMulti, aeMultiCfg, "l_orderkey, l_linenumber",
        """l_orderkey, l_linenumber,
          |  round(latent_0, 6) AS latent_0,
          |  round(prediction_0, 6) AS prediction_0,
          |  round(prediction_1, 6) AS prediction_1""".stripMargin)
    },
    "q_deep_ae" -> {
      val fx = bnFeats.zip(aeFeatStats).map { case (c, (m, sd)) =>
        s"((CAST($c AS DOUBLE) - $m) / $sd)"
      }
      DeepAeKernel.sql("WITH base AS (SELECT * FROM lineitem)", "base", fx,
        pinnedDeepAeW, deepAeCfg, "l_orderkey, l_linenumber",
        """l_orderkey, l_linenumber,
          |  round(latent_0, 6) AS latent_0,
          |  round(recon_0, 6) AS recon_0,
          |  round(prediction, 6) AS prediction""".stripMargin)
    },
    "q_deep_bn" -> {
      val fx = bnFeats.zip(aeBnAff0._1.zip(aeBnAff0._2)).map {
        case (c, (sc, sh)) => s"(CAST($c AS DOUBLE) * $sc + $sh)"
      }
      DeepAeKernel.sql("WITH base AS (SELECT * FROM lineitem)", "base", fx,
        pinnedDeepAeW, deepAeCfg, "l_orderkey, l_linenumber",
        """l_orderkey, l_linenumber,
          |  round(latent_0, 6) AS latent_0,
          |  round(recon_0, 6) AS recon_0,
          |  round(prediction, 6) AS prediction""".stripMargin,
        deepBnAff)
    },
    "q_soft_forest" -> {
      val fx = softFeatCols.zip(softFeatStats).map { case (c, (m, sd)) =>
        s"((CAST($c AS DOUBLE) - $m) / $sd)"
      }
      s"""SELECT l_orderkey, l_linenumber,
         |  round(${SoftForest.forestSql(pinnedSoftTrees, fx, 0.5)}, 6)
         |    AS soft_forest_score
         |FROM lineitem""".stripMargin
    },
    "q_soft_multi" -> {
      val fx = softFeatCols.zip(softFeatStats).map { case (c, (m, sd)) =>
        s"((CAST($c AS DOUBLE) - $m) / $sd)"
      }
      def out(o: Int): String = SoftForest.forestSql(
        pinnedSoftTreesMulti.map(t => t.copy(pi = t.piM(o))), fx, 0.5)
      s"""SELECT l_orderkey, l_linenumber,
         |  round(${out(0)}, 6) AS prediction_0,
         |  round(${out(1)}, 6) AS prediction_1
         |FROM lineitem""".stripMargin
    },
    "q_seq_score" -> LstmScorer.sql(seqBaseSql, "base", seqSteps, pinnedLstm,
      "l_orderkey, l_linenumber, round(prediction, 6) AS seq_score"),
    "q_lstm_ln" -> LstmScorer.sqlStacked(seqBaseSql, "base", seqSteps,
      Seq(pinnedLstm, pinnedLstmL2),
      "l_orderkey, l_linenumber, round(prediction, 6) AS ln_score",
      pinnedLstmNorms),
    "q_lstm_multi" -> LstmScorer.sqlStackedMulti(seqBaseSql, "base",
      seqSteps, Seq(pinnedLstm, pinnedLstmL2), pinnedLstmHeadW,
      pinnedLstmHeadB,
      "l_orderkey, l_linenumber, round(prediction_0, 6) AS prediction_0, " +
        "round(prediction_1, 6) AS prediction_1"),
    "q_attn_score" -> AttnScorer.sql(seqBaseSql, "base", seqSteps, pinnedAttn,
      "l_orderkey, l_linenumber, round(prediction, 6) AS attn_score"),
    "q_transformer_score" -> AttnScorer.sql(seqBaseSql, "base", seqSteps,
      pinnedBlock,
      "l_orderkey, l_linenumber, round(prediction, 6) AS block_score"),
    "q_attn_pool" -> AttnScorer.sql(seqBaseSql, "base", seqSteps,
      pinnedBlockPool,
      "l_orderkey, l_linenumber, round(prediction, 6) AS pool_score"),
    "q_cross_score" -> AttnScorer.sql(seqBaseSql, "base", seqSteps,
      pinnedBlockCross,
      "l_orderkey, l_linenumber, round(prediction, 6) AS cross_score"),
    "q_keras_default" -> AttnScorer.sql(seqBaseSql, "base", seqSteps,
      pinnedKerasDefault,
      "l_orderkey, l_linenumber, round(prediction, 6) AS keras_score"),
    "q_attn_multi" -> AttnScorer.sqlBlocksMulti(seqBaseSql, "base",
      seqSteps, Seq(pinnedKerasDefault), pinnedAttnHeadW, pinnedAttnHeadB,
      "l_orderkey, l_linenumber, round(prediction_0, 6) AS prediction_0, " +
        "round(prediction_1, 6) AS prediction_1"),
    "q_stacked_blocks" -> AttnScorer.sqlBlocks(seqBaseSql, "base", seqSteps,
      Seq(pinnedKerasDefault, pinnedBlockTail),
      "l_orderkey, l_linenumber, round(prediction, 6) AS stack_score"),
    "q_multihead" -> AttnScorer.sql(seqBaseSql, "base", seqSteps,
      pinnedMultiHead,
      "l_orderkey, l_linenumber, round(prediction, 6) AS mh_score"),
    "q_combined_loss" ->
      """WITH ma AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CASE WHEN count(l_extendedprice) OVER w = 4
        |         THEN avg(l_extendedprice) OVER w END AS pred
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |), f AS (
        |  SELECT l_returnflag, pred / 1000.0 AS pred_k,
        |    l_extendedprice / 1000.0 AS price_k
        |  FROM ma WHERE pred IS NOT NULL
        |), ranked AS (
        |  SELECT l_returnflag, pred_k, price_k,
        |    (rank() OVER (PARTITION BY l_returnflag ORDER BY pred_k ASC)
        |     + (count(pred_k) OVER (PARTITION BY l_returnflag
        |         ORDER BY pred_k ASC
        |         RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1) / 2.0) AS rp,
        |    (rank() OVER (PARTITION BY l_returnflag ORDER BY price_k ASC)
        |     + (count(price_k) OVER (PARTITION BY l_returnflag
        |         ORDER BY price_k ASC
        |         RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1) / 2.0) AS ry
        |  FROM f)
        |SELECT l_returnflag,
        |  round(2.0 * avg(pow(pred_k - price_k, 2.0))
        |    + 1.0 * (-corr(ry, rp)), 4) AS combined_loss
        |FROM ranked GROUP BY l_returnflag""".stripMargin,
    "q_media_frames" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x20-\x7e]', '', 'g') AS p
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, g.i AS frame_idx,
        |    substr(p, CAST(floor(CAST(g.i AS BIGINT) * length(p) / 3.0)
        |      AS INT) + 1, 16) AS frame_str
        |  FROM s CROSS JOIN generate_series(0, 2) AS g(i))
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(frame_str) AS BIGINT) AS frame_len, frame_str
        |FROM f""".stripMargin,

    "q_media_features" -> {
      // mirror of DeterministicDecoder.decode bin j over the sanitized
      // ASCII payload: left-fold of ord(byte)/255.0 at positions j+1,
      // j+1+dim, … (ascending — same accumulation order as the Scala
      // loop), then the same double→float→double cast chain.
      def bin(j: Int) =
        s"""CASE WHEN length(p) > $j THEN
           |  round(CAST(CAST(list_reduce(list_transform(
           |    generate_series(${j + 1}, length(p), 8),
           |    i -> ord(substr(p, CAST(i AS INT), 1)) / 255.0),
           |    (a, b) -> a + b) AS FLOAT) AS DOUBLE), 4)
           |  ELSE 0.0 END""".stripMargin
      s"""WITH s AS (
         |  SELECT doc_id, length(text) % 640 AS width,
         |    regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') AS p
         |  FROM documents)
         |SELECT doc_id, width,
         |  ${bin(0)} AS f0,
         |  ${bin(1)} AS f1
         |FROM s""".stripMargin
    },

    "q_soft_spearman" ->
      """WITH batch AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    o_totalprice / 1000.0 AS p, o_custkey / 1000.0 AS y
        |  FROM (
        |    SELECT o_orderstatus, o_orderkey, o_totalprice, o_custkey,
        |      row_number() OVER (PARTITION BY o_orderstatus
        |        ORDER BY md5(o_orderkey::VARCHAR)) AS rn
        |    FROM orders) WHERE rn <= 256
        |), ranks AS (
        |  SELECT a.o_orderstatus, a.o_orderkey,
        |    sum(1.0 / (1.0 + exp(-(a.p - b.p) / 1.0))) AS rp,
        |    sum(1.0 / (1.0 + exp(-(a.y - b.y) / 1.0))) AS ry
        |  FROM batch a JOIN batch b USING (o_orderstatus)
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n,
        |    sum(rp) AS sp, sum(ry) AS sy, sum(rp * ry) AS spy,
        |    sum(rp * rp) AS spp, sum(ry * ry) AS syy
        |  FROM ranks GROUP BY 1
        |)
        |SELECT o_orderstatus,
        |  round(-((spy - sp * sy / n)
        |    / sqrt((spp - sp * sp / n) * (syy - sy * sy / n) + 1e-7)), 6)
        |    AS soft_loss
        |FROM s""".stripMargin,

    "q_r2" ->
      """WITH ma AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CASE WHEN count(l_extendedprice) OVER w = 4
        |         THEN avg(l_extendedprice) OVER w END AS pred
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |), f AS (SELECT * FROM ma WHERE pred IS NOT NULL)
        |SELECT l_returnflag,
        |  round(1.0 - sum(pow(l_extendedprice - pred, 2.0))
        |    / (sum(pow(l_extendedprice, 2.0))
        |       - count(*) * avg(l_extendedprice) * avg(l_extendedprice)), 6)
        |    AS r2
        |FROM f GROUP BY l_returnflag""".stripMargin
  )
}
