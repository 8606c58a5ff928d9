package graft.ml

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

/** Pinned-weights scoring paths for the reference's sequence models
  * (LSTMRegressor, keras_estimators/sequence.py:101-153; the
  * TransformerRegressor encoder block, transformer.py:108-245).
  *
  * Both families also TRAIN cluster-side: the LSTM through
  * [[LSTMTrainer]] ([[PartitionSum]] BPTT, the MLPRegressor
  * gradient-aggregation shape, stacked/bidirectional/LayerNorm via
  * [[LstmStackBptt]]) and the transformer through [[AttnTrainer]] /
  * [[AttnBpttFull]] (pre-norm blocks, multi-head, attention pooling —
  * oracled by q_stacked_blocks, q_multihead, q_keras_default et al.).
  * What is oracle-checkable either way is the distributed forward pass:
  * broadcast weights unrolled into pure column arithmetic over the
  * lag-major sequence layout of [[graft.operators.SequenceReshape]]
  * (sequence.py:26-40), one projection stage per timestep, no UDF, no
  * shuffle. Both the Spark plan and the DuckDB oracle SQL are generated
  * from the SAME expression-algebra builder ([[SeqAlg]]), so the two
  * engines evaluate structurally identical IEEE expression trees.
  */
object SeqAlg {
  /** Expression algebra: one generic builder emits both Column trees and
    * SQL text with identical operation order. */
  trait Alg[E] {
    def ref(name: String): E
    def const(v: Double): E
    def mulW(e: E, w: Double): E
    def mul(a: E, b: E): E
    def add(a: E, b: E): E
    def div(a: E, b: E): E
    def sigmoid(e: E): E
    def tanh(e: E): E
    def exp(e: E): E
    def relu(e: E): E
    def sqrt(e: E): E
    def sub(a: E, b: E): E
  }

  object ColAlg extends Alg[Column] {
    def ref(name: String): Column = col(name)
    def const(v: Double): Column = lit(v)
    def mulW(e: Column, w: Double): Column = e * lit(w)
    def mul(a: Column, b: Column): Column = a * b
    def add(a: Column, b: Column): Column = a + b
    def div(a: Column, b: Column): Column = a / b
    def sigmoid(e: Column): Column = lit(1.0) / (lit(1.0) + functions.exp(-e))
    def tanh(e: Column): Column = functions.tanh(e)
    def exp(e: Column): Column = functions.exp(e)
    def relu(e: Column): Column = greatest(e, lit(0.0))
    def sqrt(e: Column): Column = functions.sqrt(e)
    def sub(a: Column, b: Column): Column = a - b
  }

  object SqlAlg extends Alg[String] {
    def ref(name: String): String = name
    def const(v: Double): String = v.toString
    def mulW(e: String, w: Double): String = s"($e * $w)"
    def mul(a: String, b: String): String = s"($a * $b)"
    def add(a: String, b: String): String = s"($a + $b)"
    def div(a: String, b: String): String = s"($a / $b)"
    def sigmoid(e: String): String = s"(1.0 / (1.0 + exp(-($e))))"
    // DuckDB ships no tanh; the 1 − 2/(e^{2x}+1) form never overflows
    // (x→−∞ ⇒ −1, x→+∞ ⇒ 1) and agrees with libm tanh to the last ulp —
    // absorbed by the queries' round(6)
    def tanh(e: String): String = s"(1.0 - 2.0 / (exp(2.0 * ($e)) + 1.0))"
    def exp(e: String): String = s"exp($e)"
    def relu(e: String): String = s"greatest($e, 0.0)"
    def sqrt(e: String): String = s"sqrt($e)"
    def sub(a: String, b: String): String = s"($a - $b)"
  }

  /** Σ_i refs(i)·w(i) [+ bias], left-associated. */
  def linear[E](alg: Alg[E], refs: Seq[E], w: Seq[Double],
      bias: Option[Double]): E = {
    val s = refs.zip(w).map { case (r, wi) => alg.mulW(r, wi) }
      .reduce(alg.add)
    bias.fold(s)(b => alg.add(s, alg.const(b)))
  }

  /** The output heads over `ins`: one Dense row per output, named by
    * [[MLPRegressor.predictionNames]] (`prediction` at one output,
    * `prediction_{i}` at several — base.py:137-150). */
  def heads[E](alg: Alg[E], ins: Seq[E], headW: Array[Array[Double]],
      headB: Array[Double]): Seq[(String, E)] = {
    require(headW.length == headB.length, "head rows must match biases")
    MLPRegressor.predictionNames(headW.length).zip(headW.indices).map {
      case (name, o) =>
        name -> linear(alg, ins, headW(o).toSeq, Some(headB(o)))
    }
  }

  /** The Spark head writer: each stage one projection of named columns,
    * then the heads, then the `__` intermediates dropped. */
  def scoreChain(df: DataFrame, stages: Seq[Seq[(String, Column)]],
      heads: Seq[(String, Column)]): DataFrame = {
    var cur = df
    for (stage <- stages)
      cur = cur.select(col("*") +: stage.map { case (n, e) => e.as(n) }: _*)
    for ((n, e) <- heads) cur = cur.withColumn(n, e)
    cur.drop(cur.columns.filter(_.startsWith("__")): _*)
  }

  /** The DuckDB head writer: chained CTEs (`pfx` + stage index) after
    * the caller's base CTE, the heads in a `fin` CTE, then the caller's
    * final select list. */
  def sqlChain(baseCte: String, baseName: String, pfx: String,
      stages: Seq[Seq[(String, String)]], heads: Seq[(String, String)],
      finalSelect: String): String = {
    val sb = new StringBuilder(baseCte)
    var prev = baseName
    for ((stage, si) <- stages.zipWithIndex) {
      val name = s"$pfx$si"
      val cols = stage.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
      sb.append(s",\n$name AS (\n  SELECT *,\n    $cols\n  FROM $prev)")
      prev = name
    }
    val hs = heads.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
    sb.append(s",\nfin AS (\n  SELECT *,\n    $hs FROM $prev)")
    sb.append(s"\nSELECT $finalSelect FROM fin")
    sb.toString
  }
}

/** LSTM cell weights (one layer, H units over F features/step) + linear
  * output head. Gate layout matches Keras LSTM: i, f, c̃ (candidate), o. */
case class LstmWeights(
    wi: Array[Array[Double]], ui: Array[Array[Double]], bi: Array[Double],
    wf: Array[Array[Double]], uf: Array[Array[Double]], bf: Array[Double],
    wc: Array[Array[Double]], uc: Array[Array[Double]], bc: Array[Double],
    wo: Array[Array[Double]], uo: Array[Array[Double]], bo: Array[Double],
    wOut: Array[Double], bOut: Double) extends Serializable {
  def hidden: Int = bi.length
}

/** Per-layer normalization after an LSTM layer — the reference's
  * `use_layer_norm` / `use_batch_norm` flags (sequence.py:141-144).
  * `movingMean`/`movingVar` null = LayerNormalization (per-sample mean
  * and variance over the hidden axis, Keras default eps 1e-3);
  * non-null = BatchNormalization at INFERENCE, where the pinned moving
  * statistics fold to a per-unit affine (training-side BN is the
  * standardization-in-lieu-of-BatchNorm deviation documented on the
  * autoencoder). Inner stacked layers normalize every timestep
  * (return_sequences=True output); the final layer normalizes its last
  * hidden state (the (batch, H) tensor Keras sees). */
case class LstmNorm(gamma: Array[Double], beta: Array[Double],
    eps: Double = 1e-3,
    movingMean: Array[Double] = null,
    movingVar: Array[Double] = null) extends Serializable {
  require(gamma.length == beta.length, "gamma/beta size mismatch")
  require((movingMean == null) == (movingVar == null),
    "BatchNorm needs BOTH moving stats; LayerNorm neither")
}

object LstmScorer {
  import SeqAlg._

  /** One step's stage expressions: (gates, cell, hidden) as name→expr
    * lists. `steps(t)` are the feature column names of timestep t;
    * `pfx` namespaces the intermediates per layer (stacked LSTMs). */
  private def stepStages[E](alg: Alg[E], w: LstmWeights,
      steps: Seq[Seq[String]], t: Int,
      pfx: String = "__"): Seq[Seq[(String, E)]] = {
    val hPrev = (0 until w.hidden).map(u => alg.ref(s"${pfx}h${t - 1}_$u"))
    val x = steps(t).map(alg.ref)
    def gate(wx: Array[Array[Double]], uh: Array[Array[Double]],
        b: Array[Double], u: Int): E = {
      val xPart = linear(alg, x, wx.map(_(u)).toSeq, None)
      val z0 = if (t == 0) xPart
        else alg.add(xPart, linear(alg, hPrev, uh.map(_(u)).toSeq, None))
      alg.add(z0, alg.const(b(u)))
    }
    val gates = (0 until w.hidden).flatMap { u =>
      Seq(
        s"${pfx}i${t}_$u" -> alg.sigmoid(gate(w.wi, w.ui, w.bi, u)),
        s"${pfx}f${t}_$u" -> alg.sigmoid(gate(w.wf, w.uf, w.bf, u)),
        s"${pfx}g${t}_$u" -> alg.tanh(gate(w.wc, w.uc, w.bc, u)),
        s"${pfx}o${t}_$u" -> alg.sigmoid(gate(w.wo, w.uo, w.bo, u)))
    }
    val cell = (0 until w.hidden).map { u =>
      val ig = alg.mul(alg.ref(s"${pfx}i${t}_$u"), alg.ref(s"${pfx}g${t}_$u"))
      s"${pfx}c${t}_$u" -> (if (t == 0) ig
        else alg.add(alg.mul(alg.ref(s"${pfx}f${t}_$u"),
          alg.ref(s"${pfx}c${t - 1}_$u")), ig))
    }
    val hid = (0 until w.hidden).map { u =>
      s"${pfx}h${t}_$u" ->
        alg.mul(alg.ref(s"${pfx}o${t}_$u"),
          alg.tanh(alg.ref(s"${pfx}c${t}_$u")))
    }
    Seq(gates, cell, hid)
  }

  /** Normalization stages for one layer at one timestep (the
    * [[LstmNorm]] semantics): LayerNorm emits mean → variance →
    * normalized columns (3 chained stages, per-sample statistics over
    * the hidden axis); BatchNorm-at-inference folds its pinned moving
    * stats into constants and emits one per-unit affine stage. */
  private def normStages[E](alg: Alg[E], n: LstmNorm, pfx: String,
      t: Int, h: Int, inName: Int => String): Seq[Seq[(String, E)]] = {
    require(n.gamma.length == h, s"norm width ${n.gamma.length} != $h")
    if (n.movingMean != null) {
      Seq((0 until h).map { u =>
        val sc = n.gamma(u) / math.sqrt(n.movingVar(u) + n.eps)
        val sh = n.beta(u) - n.movingMean(u) * sc
        s"${pfx}n${t}_$u" ->
          alg.add(alg.mulW(alg.ref(inName(u)), sc), alg.const(sh))
      })
    } else {
      val mName = s"${pfx}nm$t"
      val vName = s"${pfx}nv$t"
      val mean = alg.mulW(
        (0 until h).map(u => alg.ref(inName(u))).reduce(alg.add), 1.0 / h)
      val variance = alg.mulW(
        (0 until h).map { u =>
          val d = alg.sub(alg.ref(inName(u)), alg.ref(mName))
          alg.mul(d, d)
        }.reduce(alg.add), 1.0 / h)
      val normed = (0 until h).map { u =>
        val d = alg.sub(alg.ref(inName(u)), alg.ref(mName))
        s"${pfx}n${t}_$u" -> alg.add(
          alg.mulW(alg.div(d,
            alg.sqrt(alg.add(alg.ref(vName), alg.const(n.eps)))),
            n.gamma(u)),
          alg.const(n.beta(u)))
      }
      Seq(Seq(mName -> mean), Seq(vName -> variance), normed)
    }
  }

  /** The whole stacked forward pass as ordered stages + head expression,
    * emitted once for BOTH engines: layer n+1's timestep features are
    * layer n's (optionally normalized) hidden columns at every step
    * (Keras return_sequences=True between layers, sequence.py:125-131);
    * `norms` (aligned with `weights`, null entries skip) inserts the
    * reference's per-layer use_layer_norm/use_batch_norm stage — inner
    * layers at every timestep, the last layer on its final hidden state
    * only. The head reads the LAST layer's (normalized) final state. */
  private def stackedStages[E](alg: Alg[E], weights: Seq[LstmWeights],
      steps: Seq[Seq[String]], norms: Seq[LstmNorm])
      : (Seq[Seq[(String, E)]], Seq[String]) = {
    require(norms.isEmpty || norms.size == weights.size,
      s"norms (${norms.size}) must align with layers (${weights.size})")
    val lastT = steps.size - 1
    val stages = Seq.newBuilder[Seq[(String, E)]]
    var in: Seq[Seq[String]] = steps
    for (li <- weights.indices) {
      val pfx = if (li == 0) "__" else s"__l${li}_"
      val w = weights(li)
      for (t <- steps.indices; st <- stepStages(alg, w, in, t, pfx))
        stages += st
      val norm = if (norms.isEmpty) null else norms(li)
      val hCol: Int => Int => String = t => u => s"${pfx}h${t}_$u"
      if (norm != null) {
        val ts = if (li < weights.size - 1) steps.indices else Seq(lastT)
        for (t <- ts; st <- normStages(alg, norm, pfx, t, w.hidden,
            hCol(t)))
          stages += st
        in = steps.indices.map(t =>
          (0 until w.hidden).map(u => s"${pfx}n${t}_$u"))
      } else
        in = steps.indices.map(t => (0 until w.hidden).map(hCol(t)))
    }
    (stages.result(), in(lastT))
  }

  /** Appends `prediction` = unrolled LSTM forward pass over the lag-major
    * timesteps; each stage is a named projection (gates → cell → hidden
    * per step), so no expression is ever duplicated. */
  def score(df: DataFrame, steps: Seq[Seq[String]], w: LstmWeights)
      : DataFrame = scoreStacked(df, steps, Seq(w))

  /** Stacked variant (the reference's `lstm_units` list,
    * sequence.py:125-131): layer n+1 consumes layer n's per-step hidden
    * states; only the LAST layer's output head is used. `norms` adds the
    * per-layer use_layer_norm/use_batch_norm stages (sequence.py:141-144). */
  def scoreStacked(df: DataFrame, steps: Seq[Seq[String]],
      weights: Seq[LstmWeights], norms: Seq[LstmNorm] = Nil): DataFrame =
    scoreStackedMulti(df, steps, weights, Array(weights.last.wOut),
      Array(weights.last.bOut), norms)

  /** The general head — the base class's `output_units` with the
    * `prediction` / `prediction_{i}` naming contract (base.py:46,
    * 144-150, sequence.py:146): one Dense row per output over the
    * (optionally normalized) final state; the cells' own heads are
    * unused. */
  def scoreStackedMulti(df: DataFrame, steps: Seq[Seq[String]],
      weights: Seq[LstmWeights], headW: Array[Array[Double]],
      headB: Array[Double], norms: Seq[LstmNorm] = Nil): DataFrame = {
    val (stages, headIn) = stackedStages(ColAlg, weights, steps, norms)
    scoreChain(df, stages, heads(ColAlg, headIn.map(ColAlg.ref), headW,
      headB))
  }

  /** Bidirectional variant (the reference's `bidirectional` flag,
    * sequence.py:136-139): one cell runs the steps forward, a second runs
    * them REVERSED; the head reads the concatenated final hidden states
    * [fwd_h, bwd_h] (`wOut` spans 2H; per-cell heads are unused). */
  def scoreBidirectional(df: DataFrame, steps: Seq[Seq[String]],
      fwd: LstmWeights, bwd: LstmWeights, wOut: Array[Double],
      bOut: Double, norm: LstmNorm = null): DataFrame = {
    require(wOut.length == fwd.hidden + bwd.hidden,
      "bidirectional head must span both cells' hidden states")
    val rev = steps.reverse
    val lastT = steps.size - 1
    val h = fwd.hidden
    val concat: Int => String = u =>
      if (u < h) s"__fwd_h${lastT}_$u" else s"__bwd_h${lastT}_${u - h}"
    // norm over the CONCATENATED [fwd, bwd] final state — Keras applies
    // the use_layer_norm stage after the Bidirectional wrapper's output
    val stages =
      steps.indices.flatMap(t => stepStages(ColAlg, fwd, steps, t,
        "__fwd_")) ++
      rev.indices.flatMap(t => stepStages(ColAlg, bwd, rev, t, "__bwd_")) ++
      (if (norm == null) Nil
       else normStages(ColAlg, norm, "__bi_", lastT, 2 * h, concat))
    val headIn = (0 until 2 * h).map(u =>
      col(if (norm == null) concat(u) else s"__bi_n${lastT}_$u"))
    scoreChain(df, stages, heads(ColAlg, headIn, Array(wOut), Array(bOut)))
  }

  /** DuckDB mirror: chained CTEs, one per stage, same expressions. The
    * caller supplies the base CTE (must expose the step feature columns)
    * and the final select list. */
  def sql(baseCte: String, baseName: String, steps: Seq[Seq[String]],
      w: LstmWeights, finalSelect: String): String =
    sqlStacked(baseCte, baseName, steps, Seq(w), finalSelect)

  def sqlStacked(baseCte: String, baseName: String, steps: Seq[Seq[String]],
      weights: Seq[LstmWeights], finalSelect: String,
      norms: Seq[LstmNorm] = Nil): String =
    sqlStackedMulti(baseCte, baseName, steps, weights,
      Array(weights.last.wOut), Array(weights.last.bOut), finalSelect,
      norms)

  /** DuckDB mirror of [[scoreStackedMulti]]. */
  def sqlStackedMulti(baseCte: String, baseName: String,
      steps: Seq[Seq[String]], weights: Seq[LstmWeights],
      headW: Array[Array[Double]], headB: Array[Double],
      finalSelect: String, norms: Seq[LstmNorm] = Nil): String = {
    val (stages, headIn) = stackedStages(SqlAlg, weights, steps, norms)
    sqlChain(baseCte, baseName, "s", stages,
      heads(SqlAlg, headIn.map(SqlAlg.ref), headW, headB), finalSelect)
  }
}

/** Single-head self-attention scorer — the pinned-weights forward pass of
  * the reference transformer's core (Q/K/V projections, scaled dot-product
  * softmax, average pooling, linear head; transformer.py:108-245 with
  * pooling_type="average").
  *
  * The optional fields turn the bare attention into the reference's FULL
  * encoder block (transformer.py:161-217): `wIn`/`bIn` is the
  * Dense(d_model) input projection, `posEmb` the learned-position
  * embedding added to the projected tokens (`[seqLen][hidden]`,
  * transformer.py:14-47,216), and `wF1..bF2` the ReLU feed-forward
  * sub-layer; when present, both attention and FFN get their residual
  * connections (x + attn, r + ffn). Null fields skip their stage (the
  * bare scorer remains the oracle-minimal form).
  *
  * `wPool`/`bPool` select the reference's DEFAULT pooling —
  * AttentionPooling (transformer.py:96-107): a Dense(1) score per token,
  * softmax over the sequence axis, weighted sum of tokens. Null keeps
  * `pooling_type="average"`.
  *
  * `wqF..bvF` (each seqLen×seqLen / seqLen) add the FEATURE-axis
  * attention of the reference's `attention_type="cross"` dual-axis mode
  * (CrossAttention, transformer.py:51-90): a second single-head
  * attention over the TRANSPOSED token matrix (tokens = hidden dims,
  * token width = seqLen), whose context — transposed back — is SUMMED
  * with the temporal context before the residual.
  *
  * `heads` + `wO`/`bO` switch the temporal attention to MULTI-HEAD
  * (Keras MultiHeadAttention, the reference's `num_heads=4` default):
  * each head projects tokens to its own key_dim-sized q/k/v, runs
  * scaled-dot-product attention (scale √key_dim), the per-head contexts
  * concatenate head-major and project back to d_model through `wO`
  * ((nh·kd)×H) + `bO`. When `heads` is non-empty the single-head
  * `wq..bv` are unused (pass null). */
case class AttnWeights(
    wq: Array[Array[Double]], bq: Array[Double],
    wk: Array[Array[Double]], bk: Array[Double],
    wv: Array[Array[Double]], bv: Array[Double],
    wOut: Array[Double], bOut: Double,
    wIn: Array[Array[Double]] = null, bIn: Array[Double] = null,
    posEmb: Array[Array[Double]] = null,
    wF1: Array[Array[Double]] = null, bF1: Array[Double] = null,
    wF2: Array[Array[Double]] = null, bF2: Array[Double] = null,
    wPool: Array[Double] = null, bPool: Double = 0.0,
    wqF: Array[Array[Double]] = null, bqF: Array[Double] = null,
    wkF: Array[Array[Double]] = null, bkF: Array[Double] = null,
    wvF: Array[Array[Double]] = null, bvF: Array[Double] = null,
    preNorm: LayerNormParams = null,
    mlpHead: Seq[(Array[Array[Double]], Array[Double])] = Nil,
    heads: Seq[HeadWeights] = Nil,
    wO: Array[Array[Double]] = null, bO: Array[Double] = null)
    extends Serializable {
  def hidden: Int = if (heads.nonEmpty) bO.length else bq.length
  require(heads.isEmpty || (wO != null && bO != null),
    "multi-head attention needs the output projection wO/bO")
  require(heads.isEmpty || wqF == null,
    "cross mode is single-head (set heads empty)")
  require(posEmb == null || wIn != null,
    "posEmb requires the input projection (tokens must be hidden-dim)")
  require(wPool == null || wPool.length == hidden,
    "attention-pooling scores read hidden-dim tokens")
  require(Seq(wqF, wkF, wvF).forall(_ == null) ||
    Seq(wqF, bqF, wkF, bkF, wvF, bvF).forall(_ != null),
    "cross mode needs all six feature-axis q/k/v arrays")
  require(preNorm == null || wF1 != null,
    "pre-norm is the full-block architecture (attention + FFN)")
  require(mlpHead.isEmpty || wOut.length == mlpHead.last._2.length,
    "wOut is the output layer over the LAST mlp head layer's units")
}

/** LayerNormalization γ/β pairs for the reference's `use_pre_norm=True`
  * default (transformer.py:162-166,199,221-223): `g1/c1` normalize the
  * tokens entering attention, `g2/c2` the FFN input, `gF/cF` the final
  * post-block normalization before pooling. Keras epsilon 1e-6; per-token
  * moments over the hidden axis — pure row-local arithmetic. */
case class LayerNormParams(
    g1: Array[Double], c1: Array[Double],
    g2: Array[Double], c2: Array[Double],
    gF: Array[Double], cF: Array[Double],
    epsilon: Double = 1e-6) extends Serializable

/** One attention head's projections: H×kd matrices + kd biases. */
case class HeadWeights(
    wq: Array[Array[Double]], bq: Array[Double],
    wk: Array[Array[Double]], bk: Array[Double],
    wv: Array[Array[Double]], bv: Array[Double]) extends Serializable {
  def keyDim: Int = bq.length
}

object AttnScorer {
  import SeqAlg._

  /** LayerNormalization over the hidden axis of each token (pre-norm
    * architecture, transformer.py:162-166): staged as per-token mean →
    * variance → normalized γ/β outputs, all row-local arithmetic. */
  private def lnStages[E](alg: Alg[E], l: Int, h: Int,
      inRef: (Int, Int) => E, pfx: String, g: Array[Double],
      c: Array[Double], eps: Double): Seq[Seq[(String, E)]] = {
    val means = (0 until l).map(t => s"${pfx}m$t" ->
      alg.div((0 until h).map(j => inRef(t, j)).reduce(alg.add),
        alg.const(h.toDouble)))
    val vars = (0 until l).map { t =>
      s"${pfx}v$t" -> alg.div((0 until h).map { j =>
        val d = alg.sub(inRef(t, j), alg.ref(s"${pfx}m$t"))
        alg.mul(d, d)
      }.reduce(alg.add), alg.const(h.toDouble))
    }
    val outs = (for { t <- 0 until l; j <- 0 until h } yield
      s"$pfx${t}_$j" -> alg.add(alg.mulW(
        alg.div(alg.sub(inRef(t, j), alg.ref(s"${pfx}m$t")),
          alg.sqrt(alg.add(alg.ref(s"${pfx}v$t"), alg.const(eps)))),
        g(j)), alg.const(c(j))))
    Seq(means, vars, outs)
  }

  /** One encoder block's stages under name-prefix `pfx` (so blocks
    * stack, transformer.py:226-227), reading input tokens of `width`
    * dims via `tokRef`; the block's per-token outputs land in
    * `${pfx}f*` (with FFN) or `${pfx}z*` (bare attention). */
  private def blockStages[E](alg: Alg[E], w: AttnWeights, l: Int,
      pfx: String, width: Int, tokRef: (Int, Int) => E)
      : Seq[Seq[(String, E)]] = {
    val h = w.hidden
    val norm1: Seq[Seq[(String, E)]] =
      if (w.preNorm == null) Seq.empty
      else lnStages(alg, l, width, tokRef, s"${pfx}n1",
        w.preNorm.g1, w.preNorm.c1, w.preNorm.epsilon)
    // attention (and cross-mode feature attention) read the pre-normed
    // tokens; the residual still adds the UN-normed x (transformer.py:194)
    def attnIn(t: Int, i: Int): E =
      if (w.preNorm == null) tokRef(t, i)
      else alg.ref(s"${pfx}n1${t}_$i")
    val attnStages: Seq[Seq[(String, E)]] = if (w.heads.isEmpty) {
      val qkv = (0 until l).flatMap { t =>
        val x = (0 until width).map(i => attnIn(t, i))
        (0 until h).flatMap { u =>
          Seq(
            s"${pfx}q${t}_$u" ->
              linear(alg, x, w.wq.map(_(u)).toSeq, Some(w.bq(u))),
            s"${pfx}k${t}_$u" ->
              linear(alg, x, w.wk.map(_(u)).toSeq, Some(w.bk(u))),
            s"${pfx}v${t}_$u" ->
              linear(alg, x, w.wv.map(_(u)).toSeq, Some(w.bv(u))))
        }
      }
      // scaled dot-product scores, exponentiated once per (t, u)
      val scores = (for { t <- 0 until l; u <- 0 until l } yield {
        val dot = (0 until h).map(j =>
          alg.mul(alg.ref(s"${pfx}q${t}_$j"), alg.ref(s"${pfx}k${u}_$j")))
          .reduce(alg.add)
        s"${pfx}e${t}_$u" -> alg.exp(alg.div(dot, alg.const(math.sqrt(h))))
      })
      val dens = (0 until l).map { t =>
        s"${pfx}d$t" -> (0 until l).map(u => alg.ref(s"${pfx}e${t}_$u"))
          .reduce(alg.add)
      }
      // temporal context lands in ${pfx}z directly unless the cross-mode
      // sum stage below combines it with the feature-axis context
      val zName = if (w.wqF == null) s"${pfx}z" else s"${pfx}tz"
      val ctx = (for { t <- 0 until l; j <- 0 until h } yield {
        val num = (0 until l).map(u =>
          alg.mul(alg.ref(s"${pfx}e${t}_$u"), alg.ref(s"${pfx}v${u}_$j")))
          .reduce(alg.add)
        s"$zName${t}_$j" -> alg.div(num, alg.ref(s"${pfx}d$t"))
      })
      Seq(qkv, scores, dens, ctx)
    } else {
      // multi-head (Keras MultiHeadAttention): per-head key_dim-sized
      // q/k/v + scaled softmax context, contexts concatenated head-major
      // and projected back to d_model through wO/bO
      val qkv = (0 until l).flatMap { t =>
        val x = (0 until width).map(i => attnIn(t, i))
        w.heads.zipWithIndex.flatMap { case (hw, hi) =>
          (0 until hw.keyDim).flatMap { u =>
            Seq(
              s"${pfx}h${hi}q${t}_$u" ->
                linear(alg, x, hw.wq.map(_(u)).toSeq, Some(hw.bq(u))),
              s"${pfx}h${hi}k${t}_$u" ->
                linear(alg, x, hw.wk.map(_(u)).toSeq, Some(hw.bk(u))),
              s"${pfx}h${hi}v${t}_$u" ->
                linear(alg, x, hw.wv.map(_(u)).toSeq, Some(hw.bv(u))))
          }
        }
      }
      val scores = (for { hi <- w.heads.indices; t <- 0 until l;
                          u <- 0 until l } yield {
        val kd = w.heads(hi).keyDim
        val dot = (0 until kd).map(j =>
          alg.mul(alg.ref(s"${pfx}h${hi}q${t}_$j"),
            alg.ref(s"${pfx}h${hi}k${u}_$j")))
          .reduce(alg.add)
        s"${pfx}h${hi}e${t}_$u" ->
          alg.exp(alg.div(dot, alg.const(math.sqrt(kd))))
      })
      val dens = (for { hi <- w.heads.indices; t <- 0 until l } yield
        s"${pfx}h${hi}d$t" ->
          (0 until l).map(u => alg.ref(s"${pfx}h${hi}e${t}_$u"))
            .reduce(alg.add))
      val ctx = (for { hi <- w.heads.indices; t <- 0 until l;
                       j <- 0 until w.heads(hi).keyDim } yield {
        val num = (0 until l).map(u =>
          alg.mul(alg.ref(s"${pfx}h${hi}e${t}_$u"),
            alg.ref(s"${pfx}h${hi}v${u}_$j")))
          .reduce(alg.add)
        s"${pfx}h${hi}c${t}_$j" -> alg.div(num, alg.ref(s"${pfx}h${hi}d$t"))
      })
      val outProj = (for { t <- 0 until l; j <- 0 until h } yield {
        val concat: Seq[E] = w.heads.indices.flatMap(hi =>
          (0 until w.heads(hi).keyDim)
            .map(u => alg.ref(s"${pfx}h${hi}c${t}_$u")))
        s"${pfx}z${t}_$j" ->
          linear(alg, concat, w.wO.map(_(j)).toSeq, Some(w.bO(j)))
      })
      Seq(qkv, scores, dens, ctx, outProj)
    }
    // feature-axis attention of the "cross" dual-axis mode
    // (transformer.py:51-90, single-head): same machinery over the
    // transposed tokens (one token per hidden dim, width = seqLen),
    // softmax scale √seqLen, context transposed back and summed
    val crossStages: Seq[Seq[(String, E)]] =
      if (w.wqF == null) Seq.empty
      else {
        val fqkv = (0 until h).flatMap { j =>
          val xj = (0 until l).map(t => attnIn(t, j))
          (0 until l).flatMap { s =>
            Seq(
              s"${pfx}fq${j}_$s" -> linear(alg, xj, w.wqF.map(_(s)).toSeq,
                Some(w.bqF(s))),
              s"${pfx}fk${j}_$s" -> linear(alg, xj, w.wkF.map(_(s)).toSeq,
                Some(w.bkF(s))),
              s"${pfx}fv${j}_$s" -> linear(alg, xj, w.wvF.map(_(s)).toSeq,
                Some(w.bvF(s))))
          }
        }
        val fscores = (for { j <- 0 until h; j2 <- 0 until h } yield {
          val dot = (0 until l).map(s =>
            alg.mul(alg.ref(s"${pfx}fq${j}_$s"),
              alg.ref(s"${pfx}fk${j2}_$s")))
            .reduce(alg.add)
          s"${pfx}fe${j}_$j2" ->
            alg.exp(alg.div(dot, alg.const(math.sqrt(l))))
        })
        val fdens = (0 until h).map { j =>
          s"${pfx}fd$j" ->
            (0 until h).map(j2 => alg.ref(s"${pfx}fe${j}_$j2"))
              .reduce(alg.add)
        }
        val fctx = (for { j <- 0 until h; t <- 0 until l } yield {
          val num = (0 until h).map(j2 =>
            alg.mul(alg.ref(s"${pfx}fe${j}_$j2"),
              alg.ref(s"${pfx}fv${j2}_$t")))
            .reduce(alg.add)
          s"${pfx}fz${j}_$t" -> alg.div(num, alg.ref(s"${pfx}fd$j"))
        })
        val zsum = (for { t <- 0 until l; j <- 0 until h } yield
          s"${pfx}z${t}_$j" ->
            alg.add(alg.ref(s"${pfx}tz${t}_$j"),
              alg.ref(s"${pfx}fz${j}_$t")))
        Seq(fqkv, fscores, fdens, fctx, zsum)
      }
    // optional residual + ReLU feed-forward sub-layer with its residual
    // (transformer.py:194-203): r = x + attn; f = r + W2·relu(W1·r + b1) + b2
    val ffnStages: Seq[Seq[(String, E)]] =
      if (w.wF1 == null) Seq.empty
      else {
        val res = (for { t <- 0 until l; j <- 0 until h } yield
          s"${pfx}r${t}_$j" ->
            alg.add(tokRef(t, j), alg.ref(s"${pfx}z${t}_$j")))
        // pre-norm: the FFN reads LN(r); its residual still adds r
        val norm2: Seq[Seq[(String, E)]] =
          if (w.preNorm == null) Seq.empty
          else lnStages(alg, l, h, (t, j) => alg.ref(s"${pfx}r${t}_$j"),
            s"${pfx}n2", w.preNorm.g2, w.preNorm.c2, w.preNorm.epsilon)
        def ffnIn(t: Int, i: Int): E =
          if (w.preNorm == null) alg.ref(s"${pfx}r${t}_$i")
          else alg.ref(s"${pfx}n2${t}_$i")
        val ff = w.bF1.length
        val hiddenFfn = (for { t <- 0 until l; j <- 0 until ff } yield
          s"${pfx}u${t}_$j" -> alg.relu(linear(alg,
            (0 until h).map(i => ffnIn(t, i)),
            w.wF1.map(_(j)).toSeq, Some(w.bF1(j)))))
        val out = (for { t <- 0 until l; j <- 0 until h } yield
          s"${pfx}f${t}_$j" -> alg.add(alg.ref(s"${pfx}r${t}_$j"),
            linear(alg, (0 until ff).map(i => alg.ref(s"${pfx}u${t}_$i")),
              w.wF2.map(_(j)).toSeq, Some(w.bF2(j)))))
        Seq(res) ++ norm2 ++ Seq(hiddenFfn, out)
      }
    norm1 ++ attnStages ++ crossStages ++ ffnStages
  }

  private def blockOut(w: AttnWeights, pfx: String): String =
    if (w.wF1 == null) s"${pfx}z" else s"${pfx}f"

  private def stages[E](alg: Alg[E], blocks: Seq[AttnWeights],
      steps: Seq[Seq[String]]): Seq[Seq[(String, E)]] = {
    val w0 = blocks.head
    val last = blocks.last
    val l = steps.size
    val h = last.hidden
    // optional Dense(d_model) input projection + position embedding
    // (block 0 only): tokens become named __x columns; otherwise the
    // first block's q/k/v read the raw step features
    val tokStage: Seq[Seq[(String, E)]] =
      if (w0.wIn == null) Seq.empty
      else Seq(steps.indices.flatMap { t =>
        val x = steps(t).map(alg.ref)
        (0 until w0.hidden).map { u =>
          val proj = linear(alg, x, w0.wIn.map(_(u)).toSeq, Some(w0.bIn(u)))
          s"__x${t}_$u" -> (if (w0.posEmb == null) proj
            else alg.add(proj, alg.const(w0.posEmb(t)(u))))
        }
      })
    val blockSeqs = blocks.zipWithIndex.flatMap { case (w, b) =>
      val (width, tokRef): (Int, (Int, Int) => E) =
        if (b == 0) {
          if (w0.wIn == null)
            (steps.head.size, (t: Int, i: Int) => alg.ref(steps(t)(i)))
          else (w0.hidden, (t: Int, i: Int) => alg.ref(s"__x${t}_$i"))
        } else {
          val prevOut = blockOut(blocks(b - 1), s"__b${b - 1}")
          (blocks(b - 1).hidden,
            (t: Int, i: Int) => alg.ref(s"$prevOut${t}_$i"))
        }
      blockStages(alg, w, l, s"__b$b", width, tokRef)
    }
    // pre-norm: final LayerNorm after ALL blocks, before pooling
    // (transformer.py:221-223) — the last block's gF/cF
    val lastOut = blockOut(last, s"__b${blocks.size - 1}")
    val norm3: Seq[Seq[(String, E)]] =
      if (last.preNorm == null) Seq.empty
      else lnStages(alg, l, h, (t, j) => alg.ref(s"$lastOut${t}_$j"),
        "__nF", last.preNorm.gF, last.preNorm.cF, last.preNorm.epsilon)
    // AttentionPooling (transformer.py:96-107): per-token Dense(1) logit,
    // softmax over tokens — staged as exp → Σexp → normalized weight so
    // the head is a plain weighted sum
    val poolStages: Seq[Seq[(String, E)]] =
      if (last.wPool == null) Seq.empty
      else {
        val fin = finName(blocks)
        val es = (0 until l).map { t =>
          s"__pe$t" -> alg.exp(linear(alg,
            (0 until h).map(j => alg.ref(s"$fin${t}_$j")),
            last.wPool.toSeq, Some(last.bPool)))
        }
        val dn = Seq("__pd" ->
          (0 until l).map(t => alg.ref(s"__pe$t")).reduce(alg.add))
        val pw = (0 until l).map(t =>
          s"__pw$t" -> alg.div(alg.ref(s"__pe$t"), alg.ref("__pd")))
        Seq(es, dn, pw)
      }
    // MLP prediction head (the reference's `mlp_units`, default (64,),
    // transformer.py:232-234): pooled vector staged as named columns,
    // then one ReLU Dense stage per layer; `wOut` becomes the final
    // linear output layer reading the last hidden layer
    val headStages: Seq[Seq[(String, E)]] =
      if (last.mlpHead.isEmpty) Seq.empty
      else {
        val pool = (0 until h).map(j =>
          s"__pool$j" -> pooledExpr(alg, blocks, l, j))
        val layers = last.mlpHead.zipWithIndex.map { case ((wm, bm), li) =>
          val in: Seq[E] =
            if (li == 0) (0 until h).map(j => alg.ref(s"__pool$j"))
            else last.mlpHead(li - 1)._2.indices
              .map(u => alg.ref(s"__hd${li - 1}_$u"))
          bm.indices.map(u => s"__hd${li}_$u" ->
            alg.relu(linear(alg, in, wm.map(_(u)).toSeq, Some(bm(u)))))
        }
        pool +: layers
      }
    tokStage ++ blockSeqs ++ norm3 ++ poolStages ++ headStages
  }

  private def finName(blocks: Seq[AttnWeights]): String =
    if (blocks.last.preNorm != null) "__nF"
    else blockOut(blocks.last, s"__b${blocks.size - 1}")

  /** The j-th component of the pooled (sequence-collapsed) vector. */
  private def pooledExpr[E](alg: Alg[E], blocks: Seq[AttnWeights], l: Int,
      j: Int): E = {
    val fin = finName(blocks)
    if (blocks.last.wPool == null)
      alg.div((0 until l).map(t => alg.ref(s"$fin${t}_$j")).reduce(alg.add),
        alg.const(l.toDouble))
    else
      (0 until l).map(t =>
        alg.mul(alg.ref(s"__pw$t"), alg.ref(s"$fin${t}_$j")))
        .reduce(alg.add)
  }

  /** What the final Dense reads: the pooled vector, or the last MLP
    * head layer's staged units (transformer.py:232-236). */
  private def headInputs[E](alg: Alg[E], blocks: Seq[AttnWeights],
      l: Int): Seq[E] = {
    val last = blocks.last
    if (last.mlpHead.isEmpty)
      (0 until last.hidden).map(j => pooledExpr(alg, blocks, l, j))
    else {
      val li = last.mlpHead.size - 1
      last.mlpHead.last._2.indices.map(u => alg.ref(s"__hd${li}_$u"))
    }
  }

  /** Appends `prediction` = attention forward pass (named-stage unroll). */
  def score(df: DataFrame, steps: Seq[Seq[String]], w: AttnWeights)
      : DataFrame = scoreBlocks(df, steps, Seq(w))

  /** Stacked encoder blocks (the reference's `num_blocks`,
    * transformer.py:226-227): block n+1's tokens are block n's per-token
    * outputs; input projection/posEmb come from the FIRST block, the
    * final norm / pooling / head from the LAST. */
  def scoreBlocks(df: DataFrame, steps: Seq[Seq[String]],
      blocks: Seq[AttnWeights]): DataFrame =
    scoreBlocksMulti(df, steps, blocks, Array(blocks.last.wOut),
      Array(blocks.last.bOut))

  /** The general head (output_units, base.py:46, transformer.py:236):
    * every `prediction` / `prediction_{i}` reads the SAME staged
    * forward pass — pooling/MLP-head computed once, each output one
    * map-side Dense row. The blocks' own wOut/bOut are unused. */
  def scoreBlocksMulti(df: DataFrame, steps: Seq[Seq[String]],
      blocks: Seq[AttnWeights], headW: Array[Array[Double]],
      headB: Array[Double]): DataFrame = {
    checkBlocks(blocks)
    scoreChain(df, stages(ColAlg, blocks, steps),
      heads(ColAlg, headInputs(ColAlg, blocks, steps.size), headW, headB))
  }

  private def checkBlocks(blocks: Seq[AttnWeights]): Unit = {
    require(blocks.nonEmpty, "at least one encoder block")
    require(blocks.tail.forall(_.wIn == null),
      "only the first block projects the input (Dense(d_model) is applied once)")
    require(blocks.map(_.hidden).distinct.size == 1,
      "stacked blocks share d_model")
  }

  /** DuckDB mirror (chained CTEs). */
  def sql(baseCte: String, baseName: String, steps: Seq[Seq[String]],
      w: AttnWeights, finalSelect: String): String =
    sqlBlocks(baseCte, baseName, steps, Seq(w), finalSelect)

  def sqlBlocks(baseCte: String, baseName: String, steps: Seq[Seq[String]],
      blocks: Seq[AttnWeights], finalSelect: String): String =
    sqlBlocksMulti(baseCte, baseName, steps, blocks,
      Array(blocks.last.wOut), Array(blocks.last.bOut), finalSelect)

  /** DuckDB mirror of [[scoreBlocksMulti]]. */
  def sqlBlocksMulti(baseCte: String, baseName: String,
      steps: Seq[Seq[String]], blocks: Seq[AttnWeights],
      headW: Array[Array[Double]], headB: Array[Double],
      finalSelect: String): String = {
    checkBlocks(blocks)
    sqlChain(baseCte, baseName, "a", stages(SqlAlg, blocks, steps),
      heads(SqlAlg, headInputs(SqlAlg, blocks, steps.size), headW, headB),
      finalSelect)
  }
}

/** Reference-shaped estimator surfaces over the pinned scorers: the
  * `lag_windows` / `n_features_per_timestep` reshape contract of
  * SequenceEstimator (sequence.py:18-40) with the `prediction` output
  * contract (keras_estimators/base.py:137-150). `lagCols` must be
  * lag-major (the LagTransformer output order) — exactly the layout
  * [[graft.operators.SequenceReshape]] documents. */
case class LSTMRegressor(lagCols: Seq[String], seqLen: Int,
    layers: Seq[LstmWeights]) {
  require(lagCols.size % seqLen == 0,
    s"${lagCols.size} lag columns do not reshape into $seqLen steps")
  require(layers.nonEmpty, "at least one LSTM layer required")
  def steps: Seq[Seq[String]] = lagCols.grouped(lagCols.size / seqLen).toSeq
  def predict(df: DataFrame): DataFrame =
    LstmScorer.scoreStacked(df, steps, layers)
}

object LSTMRegressor {
  def apply(lagCols: Seq[String], seqLen: Int,
      weights: LstmWeights): LSTMRegressor =
    LSTMRegressor(lagCols, seqLen, Seq(weights))
}

/** @param attentionType "temporal" attends across timesteps;
  * "feature" is the iTransformer-style mode (transformer.py:179-186):
  * Permute → attention → Permute, i.e. the SAME scorer over the
  * transposed token layout (tokens = features, token width = seqLen —
  * size `weights` accordingly); "cross" is the dual-axis mode
  * (transformer.py:51-90) — temporal + feature attention summed, which
  * needs the `wqF..bvF` feature-axis arrays set on `weights`. */
case class TransformerRegressor(lagCols: Seq[String], seqLen: Int,
    weights: AttnWeights, attentionType: String = "temporal") {
  require(lagCols.size % seqLen == 0,
    s"${lagCols.size} lag columns do not reshape into $seqLen steps")
  require(Set("temporal", "feature", "cross")(attentionType),
    s"attention_type must be temporal|feature|cross, got $attentionType")
  require(attentionType != "cross" || weights.wqF != null,
    "cross mode needs the feature-axis q/k/v arrays on weights")
  def steps: Seq[Seq[String]] = {
    val base = lagCols.grouped(lagCols.size / seqLen).toSeq
    if (attentionType == "feature") base.transpose else base
  }
  def predict(df: DataFrame): DataFrame =
    AttnScorer.score(df, steps, weights)
}
