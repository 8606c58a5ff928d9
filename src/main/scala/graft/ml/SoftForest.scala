package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One differentiable decision tree's parameters (the reference's
  * NeuralDecisionTree, keras_estimators/tree.py:53-206): a routing layer
  * producing one logit per internal node, leaf output values `pi`, and a
  * bagged feature subset. Internal nodes are heap-indexed breadth-first
  * (node m's children are 2m+1 / 2m+2); the reference keeps a dead
  * index-0 output in its Dense(num_leaves) routing layer — here the
  * layer has exactly 2^depth − 1 outputs, which is the same function.
  */
case class SoftTreeWeights(
    featIdx: Array[Int],          // bagged indices into featureCols
    wDec: Array[Array[Double]],   // [nUsed][nNodes] routing logit weights
    bDec: Array[Double],          // [nNodes] routing logit bias
    pi: Array[Double],            // [nLeaves] leaf values (output 0)
    piM: Array[Array[Double]] = null) // [out][nLeaves], output_units > 1
  extends Serializable {
  def nNodes: Int = bDec.length          // 2^depth − 1
  def nLeaves: Int = pi.length           // 2^depth
  def depth: Int = java.lang.Integer.numberOfTrailingZeros(nLeaves)
  /** Output count (the reference's pi is (num_leaves, output_units),
    * tree.py:127-133; piM == null is the single-output layout). */
  def nOut: Int = if (piM == null) 1 else piM.length
}

/** Soft-routing forward pass + SQL mirror shared by scoring and the
  * training kernel. Routing: d_m = σ(logit_m / T); a leaf's probability
  * is the product of d_m (left) / 1−d_m (right) along its root path; the
  * tree output is Σ_leaf μ_leaf·π_leaf; the forest averages trees
  * (tree.py:170-206,363-377).
  */
object SoftForest {

  /** Trainable input-BatchNormalization state for one gradient pass
    * (tree.py:323: `x = layers.BatchNormalization()(inputs)`): learned
    * gamma/beta plus the CURRENT batch's feature mean / 1/sqrt(var+eps).
    * The input site's statistics are data-only — independent of every
    * trainable parameter — so the batch-stat normalization adds no
    * gradient coupling; only dGamma/dBeta accumulate. */
  final case class InputBn(gamma: Array[Double], beta: Array[Double],
      mean: Array[Double], invStd: Array[Double]) extends Serializable

  /** Root path of each leaf: (heap node index, wentLeft) per level. */
  def leafPaths(depth: Int): Array[Array[(Int, Boolean)]] =
    Array.tabulate(1 << depth) { l =>
      val path = new Array[(Int, Boolean)](depth)
      var m = 0
      for (level <- 0 until depth) {
        val left = ((l >> (depth - 1 - level)) & 1) == 0
        path(level) = (m, left)
        m = 2 * m + (if (left) 1 else 2)
      }
      path
    }

  /** Driver-local forward of one tree over a standardized feature row. */
  def treeForward(t: SoftTreeWeights, x: Array[Double], temp: Double)
      : Double = {
    val d = nodeSigmoids(t, x, temp)
    val paths = leafPaths(t.depth)
    var out = 0.0
    for (l <- 0 until t.nLeaves) {
      var mu = 1.0
      paths(l).foreach { case (m, left) =>
        mu *= (if (left) d(m) else 1.0 - d(m))
      }
      out += mu * t.pi(l)
    }
    out
  }

  def nodeSigmoids(t: SoftTreeWeights, x: Array[Double], temp: Double)
      : Array[Double] =
    Array.tabulate(t.nNodes) { m =>
      var z = t.bDec(m)
      for (u <- t.featIdx.indices) z += x(t.featIdx(u)) * t.wDec(u)(m)
      1.0 / (1.0 + math.exp(-z / temp))
    }

  // ---- pinned scoring surface (Column + line-for-line SQL mirror) ----

  private def logitCol(t: SoftTreeWeights, feats: Seq[Column], m: Int)
      : Column =
    t.featIdx.indices.map(u =>
      feats(t.featIdx(u)) * lit(t.wDec(u)(m))).reduce(_ + _) + lit(t.bDec(m))

  private def logitSql(t: SoftTreeWeights, fx: Seq[String], m: Int): String =
    t.featIdx.indices.map(u =>
      s"${fx(t.featIdx(u))} * ${t.wDec(u)(m)}").mkString(" + ") +
      s" + ${t.bDec(m)}"

  private def sigCol(z: Column, temp: Double): Column =
    lit(1.0) / (lit(1.0) + exp(-z / lit(temp)))

  private def sigSql(z: String, temp: Double): String =
    s"1.0 / (1.0 + exp(-($z) / $temp))"

  /** One tree's soft prediction as a codegen'd Column expression. */
  def treeColumn(t: SoftTreeWeights, feats: Seq[Column], temp: Double)
      : Column = {
    val d = (0 until t.nNodes).map(m => sigCol(logitCol(t, feats, m), temp))
    val paths = leafPaths(t.depth)
    (0 until t.nLeaves).map { l =>
      val mu = paths(l).map { case (m, left) =>
        if (left) d(m) else lit(1.0) - d(m)
      }.reduce(_ * _)
      mu * lit(t.pi(l))
    }.reduce(_ + _)
  }

  def treeSql(t: SoftTreeWeights, fx: Seq[String], temp: Double): String = {
    val d = (0 until t.nNodes).map(m => sigSql(logitSql(t, fx, m), temp))
    val paths = leafPaths(t.depth)
    (0 until t.nLeaves).map { l =>
      val mu = paths(l).map { case (m, left) =>
        if (left) s"(${d(m)})" else s"(1.0 - ${d(m)})"
      }.mkString(" * ")
      s"$mu * ${t.pi(l)}"
    }.mkString("(", " + ", ")")
  }

  /** Forest average, left-associated like the SQL mirror. */
  def forestColumn(trees: Seq[SoftTreeWeights], feats: Seq[Column],
      temp: Double): Column =
    trees.map(treeColumn(_, feats, temp)).reduce(_ + _) /
      lit(trees.size.toDouble)

  def forestSql(trees: Seq[SoftTreeWeights], fx: Seq[String],
      temp: Double): String =
    trees.map(treeSql(_, fx, temp))
      .mkString("(", " + ", s") / ${trees.size.toDouble}")
}

/** Fitted soft forest: per-feature standardization (the reference's input
  * BatchNormalization, tree.py:322-323) + broadcast tree weights. Scoring
  * stages per-tree outputs as named intermediate columns so each codegen'd
  * expression stays small (no re-expansion of shared node sigmoids across
  * trees), then averages — a pure map-side projection.
  */
case class SoftForestModel(
    trees: Seq[SoftTreeWeights],
    trunk: Seq[(Array[Array[Double]], Array[Double])],
    featMeans: Array[Double], featStds: Array[Double],
    temperature: Double, yMean: Double, yStd: Double,
    featureCols: Seq[String],
    yMeans: Array[Double] = null, yStds: Array[Double] = null)
    extends ModelEstimator {

  def familyName: String = "soft_forest"
  def predictionNames: Seq[String] =
    if (trees.head.piM != null)
      (0 until trees.head.nOut).map(o => s"prediction_$o")
    else Seq("prediction")

  /** Standardized features → staged trunk columns; returns the staged
    * frame, the final feature refs, and the staged column names. */
  private def stageTrunk(df: DataFrame)
      : (DataFrame, Seq[Column], Seq[String]) = {
    val stdFeats = featureCols.zipWithIndex.map { case (c, i) =>
      (col(c).cast("double") - lit(featMeans(i))) / lit(featStds(i))
    }
    var cur = df
    var feats: Seq[Column] = stdFeats
    trunk.zipWithIndex.foreach { case ((w, b), l) =>
      val outs = b.indices.map { j =>
        greatest(feats.zipWithIndex.map { case (f, i) =>
          f * lit(w(i)(j))
        }.reduce(_ + _) + lit(b(j)), lit(0.0)).as(s"__trunk${l}_$j")
      }
      cur = cur.select(cur.columns.map(col) ++ outs: _*)
      feats = b.indices.map(j => col(s"__trunk${l}_$j"))
    }
    val names = trunk.zipWithIndex.flatMap { case ((_, b), l) =>
      b.indices.map(j => s"__trunk${l}_$j")
    }
    (cur, feats, names)
  }

  def predict(df: DataFrame): DataFrame = {
    if (trees.head.piM != null) return predictMulti(df)
    val (cur, feats, trunkCols) = stageTrunk(df)
    val staged = cur.select(cur.columns.map(col) ++ trees.zipWithIndex.map {
      case (t, i) => SoftForest.treeColumn(t, feats, temperature)
        .as(s"__tree_$i")
    }: _*)
    val avg = trees.indices.map(i => col(s"__tree_$i")).reduce(_ + _) /
      lit(trees.size.toDouble)
    val dropCols = trees.indices.map(i => s"__tree_$i") ++ trunkCols
    staged.withColumn("prediction", avg * lit(yStd) + lit(yMean))
      .drop(dropCols: _*)
  }

  /** Multi-output scoring (`output_units > 1`, tree.py:127-133,205):
    * each tree's LEAF PROBABILITIES are staged ONCE as named codegen'd
    * columns (the routing is shared across outputs — outputs = mu @ pi),
    * then every `prediction_{i}` is a cheap projection Σ μ·π_i averaged
    * over trees. */
  def predictMulti(df: DataFrame): DataFrame = {
    val nOut = trees.head.nOut
    val (cur0, feats, trunkCols) = stageTrunk(df)
    var cur = cur0
    val paths = SoftForest.leafPaths(trees.head.depth)
    // stage per-tree leaf probabilities: sigmoids inline, one column
    // per (tree, leaf) — each a depth-sized product of sigmoids
    trees.zipWithIndex.foreach { case (t, ti) =>
      val d = (0 until t.nNodes).map(m =>
        lit(1.0) / (lit(1.0) + exp(-(t.featIdx.indices.map(u =>
          feats(t.featIdx(u)) * lit(t.wDec(u)(m))).reduce(_ + _) +
          lit(t.bDec(m))) / lit(temperature))))
      val mus = (0 until t.nLeaves).map { l =>
        paths(l).map { case (m, left) =>
          if (left) d(m) else lit(1.0) - d(m)
        }.reduce(_ * _).as(s"__mu_${ti}_$l")
      }
      cur = cur.select(cur.columns.map(col) ++ mus: _*)
    }
    for (o <- 0 until nOut) {
      val sum = trees.zipWithIndex.map { case (t, ti) =>
        (0 until t.nLeaves).map(l =>
          col(s"__mu_${ti}_$l") * lit(t.piM(o)(l))).reduce(_ + _)
      }.reduce(_ + _) / lit(trees.size.toDouble)
      val (ym, ysd) =
        if (yMeans != null) (yMeans(o), yStds(o)) else (yMean, yStd)
      cur = cur.withColumn(s"prediction_$o", sum * lit(ysd) + lit(ym))
    }
    val dropCols = trunkCols ++ trees.zipWithIndex.flatMap {
      case (t, ti) => (0 until t.nLeaves).map(l => s"__mu_${ti}_$l")
    }
    cur.drop(dropCols: _*)
  }

  /** Driver-local trunk forward over a standardized row (test aid). */
  def trunkForward(x: Array[Double]): Array[Double] =
    trunk.foldLeft(x) { case (a, (w, b)) =>
      Array.tabulate(b.length) { j =>
        var z = b(j); for (i <- a.indices) z += a(i) * w(i)(j)
        if (z > 0) z else 0.0
      }
    }

  /** The fitted payload: per-tree routing/leaf sections, trunk layers,
    * and the standardization scalars — exact-double JSON, so
    * [[SoftForestModel.load]] scores bit-identically (bagged featIdx
    * values are small ints, exact in a double). */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    val treeSecs = trees.zipWithIndex.flatMap { case (t, i) =>
      Seq(s"t${i}_featIdx" -> t.featIdx.map(_.toDouble),
        s"t${i}_wDec" -> WeightsIO.fromMat(t.wDec),
        s"t${i}_bDec" -> t.bDec, s"t${i}_pi" -> t.pi) ++
        (if (t.piM == null) Nil
         else Seq(s"t${i}_piM" -> WeightsIO.fromMat(t.piM)))
    }
    val trunkSecs = trunk.zipWithIndex.flatMap { case ((w, b), l) =>
      Seq(s"trunk${l}_w" -> WeightsIO.fromMat(w), s"trunk${l}_b" -> b)
    }
    (Map(
      "family" -> "soft_forest",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "numTrees" -> trees.size.toString,
      "numTrunk" -> trunk.size.toString,
      "nOut" -> trees.head.nOut.toString,
      "temperature" -> temperature.toString,
      "yMean" -> yMean.toString, "yStd" -> yStd.toString),
      Seq("featMeans" -> featMeans, "featStds" -> featStds) ++
        (if (yMeans == null) Nil
         else Seq("yMeans" -> yMeans, "yStds" -> yStds)) ++
        treeSecs ++ trunkSecs)
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object SoftForestModel {
  /** Rehydrate a `save`d forest (shape-validated per section). */
  def load(path: String): SoftForestModel = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : SoftForestModel = {
    WeightsIO.requireFamily(meta, "soft_forest", where)
    val featureCols = WeightsIO.namesFromMeta(meta("features"))
    val k = featureCols.size
    val nOut = meta("nOut").toInt
    val trees = (0 until meta("numTrees").toInt).map { i =>
      val featIdx = sections(s"t${i}_featIdx").map(_.toInt)
      val bDec = sections(s"t${i}_bDec")
      val wDec = WeightsIO.toMat(sections(s"t${i}_wDec"), featIdx.length)
      require(wDec.head.length == bDec.length,
        s"tree $i: wDec cols ${wDec.head.length} != nNodes ${bDec.length}")
      val pi = sections(s"t${i}_pi")
      require(pi.length == bDec.length + 1,
        s"tree $i: ${pi.length} leaves do not match ${bDec.length} nodes")
      SoftTreeWeights(featIdx, wDec, bDec, pi,
        if (nOut == 1) null
        else WeightsIO.toMat(sections(s"t${i}_piM"), nOut))
    }
    var inDim = k
    val trunk = (0 until meta("numTrunk").toInt).map { l =>
      val b = sections(s"trunk${l}_b")
      val w = WeightsIO.toMat(sections(s"trunk${l}_w"), inDim)
      require(w.head.length == b.length,
        s"trunk $l: weight cols ${w.head.length} != bias ${b.length}")
      inDim = b.length
      (w, b)
    }
    WeightsIO.requireLen("featMeans", sections("featMeans"), k)
    WeightsIO.requireLen("featStds", sections("featStds"), k)
    sections.get("yMeans").foreach(a =>
      WeightsIO.requireLen("yMeans", a, nOut))
    sections.get("yStds").foreach(a =>
      WeightsIO.requireLen("yStds", a, nOut))
    SoftForestModel(trees, trunk, sections("featMeans"),
      sections("featStds"), meta("temperature").toDouble,
      meta("yMean").toDouble, meta("yStd").toDouble, featureCols,
      sections.get("yMeans").orNull, sections.get("yStds").orNull)
  }
}

/** Differentiable Neural-Decision-Forest regressor
  * (keras_estimators/tree.py:209-384) trained Spark-first: Adam on the
  * driver over flat gradients computed cluster-side with [[PartitionSum]]
  * (the MLPRegressor kernel pattern — the driver only ever holds the
  * parameter vector, never rows). Soft sigmoid routing with the
  * reference's temperature-annealing schedule (TemperatureAnnealing,
  * tree.py:21-50: linear start→end over the epochs), per-tree feature
  * bagging (used_features_rate, tree.py:112-119), L2 on routing kernels
  * and leaf values (kernel-only, matching Keras Dense kernel_regularizer),
  * and target standardization (base.py:89-100). `batchFraction` < 1 takes
  * a seeded per-epoch Bernoulli sample — minibatch semantics at cluster
  * granularity, the 100 TB path.
  *
  * Input conditioning (the reference's unconditional
  * `BatchNormalization()(inputs)`, tree.py:323): `useInputBn = true`
  * trains the layer literally — learned gamma/beta, normalization by the
  * CURRENT batch's statistics (one data-only aggregate per epoch batch;
  * the input site has no parameter-dependent statistics, so the batch
  * coupling adds no gradient terms), population stats folded into the
  * scorer's (mean, std) slots at fit end — or, with `bnInference =
  * "moving_average"`, the strict-Keras EMA of the per-epoch batch
  * statistics (momentum `bnMomentum`), folded through the SAME affine
  * so the scorer is unchanged. The default pre-standardizes
  * instead — the exact population fold of the same layer at gamma=1,
  * beta=0; since the BN output feeds a LINEAR map, trainable gamma/beta
  * are absorbable reparameterizations of the same function class, and
  * the two modes differ only in optimization dynamics.
  */
class SoftNdfRegressor(
    val featureCols: Seq[String],
    val targetCol: String,
    val extraTargetCols: Seq[String] = Nil,
    val numTrees: Int = 5,
    val depth: Int = 3,
    val usedFeaturesRate: Double = 1.0,
    val tempStart: Double = 2.0,
    val tempEnd: Double = 0.5,
    val l2Decision: Double = 1e-4,
    val l2Leaf: Double = 1e-3,
    val lr: Double = 0.05,
    val epochs: Int = 100,
    val seed: Long = 42L,
    val batchFraction: Double = 0.2,
    val trunkUnits: Seq[Int] = Nil,
    val loss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val rankBatch: Int = 64,
    val inputNoiseStd: Double = 0.0,
    val treeNoiseStd: Double = 0.0,
    val treeDropoutRate: Double = 0.0,
    val useInputBn: Boolean = false,
    val optimizer: String = "adam",
    val bnInference: String = "population",
    val bnMomentum: Double = 0.99) extends Serializable {

  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  require(Set("population", "moving_average")(bnInference),
    s"bnInference must be population|moving_average, got $bnInference")
  require(usedFeaturesRate > 0 && usedFeaturesRate <= 1.0,
    s"usedFeaturesRate must be in (0, 1], got $usedFeaturesRate")
  require(inputNoiseStd >= 0 && treeNoiseStd >= 0 &&
    treeDropoutRate >= 0 && treeDropoutRate < 1,
    "noise stds >= 0, tree dropout in [0, 1)")
  /** The reference NDF's three stochastic regularizers
    * (tree.py:291-293, 325-375, all defaulting OFF like the reference):
    * GaussianNoise on the standardized input before the trunk
    * (input_noise_std), an independent GaussianNoise view of the trunk
    * output per tree (tree_noise_std — ensemble diversity), and
    * whole-tree Dropout with inverted scaling (tree_dropout_rate — the
    * broadcast noise_shape that zeroes an entire tree's output).
    * Training-time only; per-row per-epoch seeded draws. */
  private def noiseActive: Boolean =
    inputNoiseStd > 0 || treeNoiseStd > 0 || treeDropoutRate > 0

  /** All targets: `output_units = 1 + extraTargetCols.size` — the
    * reference's pi matrix (num_leaves, output_units) with SHARED
    * routing (tree.py:127-133,205: outputs = mu @ pi), trained jointly.
    * Multi-output composes with trunk/bagging/annealing/regularizers
    * AND the rank losses (the reference's loss flattens (batch, out)
    * to one ranked vector, losses.py:67-69 — [[rankGradient]]). */
  val targetCols: Seq[String] = targetCol +: extraTargetCols
  require(targetCols.distinct.size == targetCols.size,
    s"target columns repeat a name: ${targetCols.mkString(", ")}")
  private val nOut = targetCols.size

  private val nFeat = featureCols.size
  private val nNodes = (1 << depth) - 1
  private val nLeaves = 1 << depth
  // trees split on the trunk's output features when a trunk is configured
  // (trunk_units, tree.py:330-336), else on the raw standardized inputs
  private val treeFeat = trunkUnits.lastOption.getOrElse(nFeat)
  private val trunkDims: Seq[Int] = nFeat +: trunkUnits
  private val trunkLayerSz: Seq[Int] = trunkUnits.indices.map(l =>
    trunkDims(l) * trunkDims(l + 1) + trunkDims(l + 1))
  private val trunkSz = trunkLayerSz.sum
  private def trunkOff(l: Int): Int = trunkLayerSz.take(l).sum
  private val nUsed =
    math.max(1, math.round(treeFeat * usedFeaturesRate).toInt)
  // leaf block: output-major (π_o at piOff + o·nLeaves, tree.py:131)
  private val perTree = nUsed * nNodes + nNodes + nLeaves * nOut
  // trainable input-BN gamma/beta ride at the END of the flat vector
  // (useInputBn, tree.py:323) so every other offset is unchanged
  private val bnOff0 = trunkSz + numTrees * perTree
  private val sz = bnOff0 + (if (useInputBn) 2 * nFeat else 0)

  /** Decode the input-BN affine (gamma block then beta block). */
  def decodeBn(p: Array[Double]): (Array[Double], Array[Double]) =
    (Array.tabulate(nFeat)(j => p(bnOff0 + j)),
      Array.tabulate(nFeat)(j => p(bnOff0 + nFeat + j)))

  /** Decode the flat parameter vector into broadcastable tree weights
    * (`pi` = output 0; `piM` carries every output when nOut > 1). */
  def decode(p: Array[Double], masks: Seq[Array[Int]])
      : Seq[SoftTreeWeights] =
    (0 until numTrees).map { t =>
      val o = trunkSz + t * perTree
      val piOff = o + nUsed * nNodes + nNodes
      SoftTreeWeights(
        featIdx = masks(t),
        wDec = Array.tabulate(nUsed, nNodes)((u, m) =>
          p(o + u * nNodes + m)),
        bDec = Array.tabulate(nNodes)(m => p(o + nUsed * nNodes + m)),
        pi = Array.tabulate(nLeaves)(l => p(piOff + l)),
        piM = if (nOut == 1) null
          else Array.tabulate(nOut, nLeaves)((o2, l) =>
            p(piOff + o2 * nLeaves + l)))
    }

  /** Decode the trunk layers (weights[in][out], bias[out]) per layer. */
  def decodeTrunk(p: Array[Double])
      : Seq[(Array[Array[Double]], Array[Double])] =
    trunkUnits.indices.map { l =>
      val o = trunkOff(l)
      val (nin, nout) = (trunkDims(l), trunkDims(l + 1))
      (Array.tabulate(nin, nout)((i, j) => p(o + i * nout + j)),
        Array.tabulate(nout)(j => p(o + nin * nout + j)))
    }

  /** Fused per-row forward (+backward into `acc` when non-null, with
    * output delta = pred − y): returns the prediction. Shared by the MSE
    * gradient path and the rank-loss surrogate-injection path. */
  private def rowRun(trees: Seq[SoftTreeWeights],
      trunk: Seq[(Array[Array[Double]], Array[Double])],
      paths: Array[Array[(Int, Boolean)]], tOffs: Seq[Int],
      x0in: Array[Double], y: Double, acc: Array[Double], temp: Double,
      maskSeed: Long = 0L, ys: Array[Double] = null,
      predsOut: Array[Double] = null,
      bn: SoftForest.InputBn = null): Double = {
    val ysEff = if (ys != null) ys else Array(y)
    val (nT, pT, tSz) = (numTrees, perTree, trunkSz)
    val (nU, nN, nL, tF) = (nUsed, nNodes, nLeaves, treeFeat)
    // stochastic regularizer draws (fixed order: input noise, per-tree
    // noise, tree-dropout masks) — active only at training time
    val rng = if (noiseActive && maskSeed != 0L)
      new java.util.Random(maskSeed) else null
    // trainable input BN (tree.py:323) normalizes the RAW row with the
    // batch statistics, then GaussianNoise applies to ITS output
    // (tree.py:326-328 order)
    val x0bn = if (bn == null) x0in
      else Array.tabulate(x0in.length)(j =>
        bn.gamma(j) * (x0in(j) - bn.mean(j)) * bn.invStd(j) + bn.beta(j))
    val x0 = if (rng == null || inputNoiseStd <= 0) x0bn
      else Array.tabulate(x0bn.length)(i =>
        x0bn(i) + inputNoiseStd * rng.nextGaussian())
    val tNoise: Array[Array[Double]] =
      if (rng == null || treeNoiseStd <= 0) null
      else Array.fill(nT, tF)(treeNoiseStd * rng.nextGaussian())
    val tMask: Array[Double] =
      if (rng == null || treeDropoutRate <= 0) null
      else Array.fill(nT)(if (rng.nextDouble() < treeDropoutRate) 0.0
        else 1.0 / (1.0 - treeDropoutRate))
    // shared ReLU trunk forward (trunk_units, tree.py:330-336),
    // keeping per-layer activations for backprop
    val acts = new Array[Array[Double]](trunk.size + 1)
    acts(0) = x0
    for (l <- trunk.indices) {
      val (w, b) = trunk(l)
      val in = acts(l)
      acts(l + 1) = Array.tabulate(b.length) { j =>
        var z = b(j); for (i <- in.indices) z += in(i) * w(i)(j)
        if (z > 0) z else 0.0
      }
    }
    val x = acts(trunk.size)
    // forward: per-tree node sigmoids (over that tree's noisy view),
    // leaf probabilities, dropout-masked outputs
    val sig = new Array[Array[Double]](nT)
    val mus = new Array[Array[Double]](nT)
    val xT = new Array[Array[Double]](nT)
    val preds = new Array[Double](nOut)
    for (t <- 0 until nT) {
      xT(t) = if (tNoise == null) x
        else Array.tabulate(tF)(i => x(i) + tNoise(t)(i))
      val d = SoftForest.nodeSigmoids(trees(t), xT(t), temp)
      sig(t) = d
      val mu = new Array[Double](nL)
      for (l <- 0 until nL) {
        var m = 1.0
        paths(l).foreach { case (n, left) =>
          m *= (if (left) d(n) else 1.0 - d(n))
        }
        mu(l) = m
      }
      mus(t) = mu
      val tw = trees(t)
      val mask = if (tMask == null) 1.0 else tMask(t)
      for (o2 <- 0 until nOut) {
        val piO = if (tw.piM == null) tw.pi else tw.piM(o2)
        var tp = 0.0
        for (l <- 0 until nL) tp += mu(l) * piO(l)
        preds(o2) += mask * tp
      }
    }
    for (o2 <- 0 until nOut) preds(o2) /= nT
    if (predsOut != null) System.arraycopy(preds, 0, predsOut, 0, nOut)
    if (acc == null) return preds(0)
    val deltas = Array.tabulate(nOut)(o2 => preds(o2) - ysEff(o2))
    // backward: leaf values + routing logits per tree (scaled by the
    // tree's dropout mask; the routing gradient SUMS over outputs — the
    // shared pi-matrix semantics), accumulating the gradient w.r.t. the
    // trunk output across ALL trees (additive noise has unit jacobian)
    val dX = new Array[Double](tF)
    for (t <- 0 until nT) {
      val o = tSz + t * pT
      val piOff = o + nU * nN + nN
      val d = sig(t); val mu = mus(t); val tw = trees(t)
      val mask = if (tMask == null) 1.0 else tMask(t)
      val gl = new Array[Double](nN)
      for (l <- 0 until nL) {
        var wSum = 0.0
        for (o2 <- 0 until nOut) {
          val scale = deltas(o2) / nT * mask
          val piO = if (tw.piM == null) tw.pi else tw.piM(o2)
          acc(piOff + o2 * nL + l) += scale * mu(l)
          wSum += scale * mu(l) * piO(l) / temp
        }
        paths(l).foreach { case (n, left) =>
          gl(n) += wSum * (if (left) 1.0 - d(n) else -d(n))
        }
      }
      for (m <- 0 until nN) {
        val g = gl(m)
        for (u <- 0 until nU) {
          acc(o + u * nN + m) += g * xT(t)(tw.featIdx(u))
          dX(tw.featIdx(u)) += g * tw.wDec(u)(m)
        }
        acc(o + nU * nN + m) += g
      }
    }
    // trunk backward (ReLU mask from the stored activations)
    var dOut = dX
    for (l <- trunk.indices.reverse) {
      val (w, b) = trunk(l)
      val in = acts(l); val out = acts(l + 1)
      val o = tOffs(l)
      val nout = b.length
      val dz = Array.tabulate(nout)(j =>
        if (out(j) > 0) dOut(j) else 0.0)
      for (i <- in.indices; j <- 0 until nout)
        acc(o + i * nout + j) += in(i) * dz(j)
      for (j <- 0 until nout) acc(o + in.length * nout + j) += dz(j)
      dOut = Array.tabulate(in.length) { i =>
        var s = 0.0; for (j <- 0 until nout) s += dz(j) * w(i)(j); s
      }
    }
    // input-BN affine gradient: after the trunk loop dOut is dL/dx0 =
    // dL/d(BN output) (the additive noise has unit jacobian); the batch
    // statistics carry no parameter dependence, so only gamma/beta
    // accumulate (BatchNorm.backwardInput semantics)
    if (bn != null) {
      var j = 0
      while (j < dOut.length) {
        acc(bnOff0 + j) += dOut(j) * (x0in(j) - bn.mean(j)) * bn.invStd(j)
        acc(bnOff0 + nFeat + j) += dOut(j)
        j += 1
      }
    }
    preds(0)
  }

  /** Current-batch feature statistics for the input BN: data-only, one
    * narrow aggregate over the epoch's sampled batch (the Keras
    * batch-statistics analog at this trainer's cluster-granularity
    * minibatch). Keras BatchNormalization epsilon 1e-3. */
  private def batchBnStats(data: DataFrame, p: Array[Double])
      : SoftForest.InputBn = {
    val (g, b) = decodeBn(p)
    val names = data.columns.drop(nOut)
    val aggs = names.toSeq.flatMap(c => Seq(avg(col(c)), var_pop(col(c))))
    val r = data.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (r.isNullAt(0))
      return SoftForest.InputBn(g, b, new Array[Double](nFeat),
        Array.fill(nFeat)(1.0))
    SoftForest.InputBn(g, b,
      Array.tabulate(nFeat)(i => r.getDouble(2 * i)),
      Array.tabulate(nFeat)(i =>
        1.0 / math.sqrt(r.getDouble(2 * i + 1) + BatchNorm.Eps)))
  }

  /** L2 (kernel-only, matching Keras kernel_regularizer): routing
    * weights at strength l2Decision, leaf values at l2Leaf; the trunk
    * Dense layers carry no regularizer in the reference. */
  private def applyL2(g: Array[Double], p: Array[Double]): Unit =
    for (t <- 0 until numTrees) {
      val o = trunkSz + t * perTree
      for (i <- 0 until nUsed * nNodes)
        g(o + i) += 2.0 * l2Decision * p(o + i)
      for (l <- 0 until nLeaves * nOut)
        g(o + nUsed * nNodes + nNodes + l) +=
          2.0 * l2Leaf * p(o + nUsed * nNodes + nNodes + l)
    }

  /** Most recent epoch's input-BN batch statistics (driver-side — the
    * input site's statistics are ONE narrow aggregate per epoch, see
    * [[batchBnStats]]); consumed by the moving-average inference mode. */
  @transient private var lastBnStats: SoftForest.InputBn = _

  /** One full-data (or sampled) gradient of the MSE loss at `p`; exposed
    * for the finite-difference spec. Returns (grad, meanLoss). `ep != 0`
    * activates the stochastic regularizers with per-row per-epoch seeded
    * draws (0 = deterministic, the spec mode). */
  def gradient(data: DataFrame, p: Array[Double], masks: Seq[Array[Int]],
      temp: Double, ep: Long = 0L): (Array[Double], Double) = {
    val trees = decode(p, masks)
    val trunk = decodeTrunk(p)
    val paths = SoftForest.leafPaths(depth)
    val tOffs = trunkUnits.indices.map(trunkOff)
    val k = nFeat
    val seed0 = seed
    val useNoise = noiseActive && ep != 0L
    val bn = if (!useInputBn) null else batchBnStats(data, p)
    if (ep != 0L) lastBnStats = bn
    val sums = PartitionSum.sum(data.rdd, sz + 2) { (part, it, acc) =>
      it.foreach { row =>
        val ys = Array.tabulate(nOut)(o2 => row.getDouble(o2))
        val x0 = Array.tabulate(k)(i => row.getDouble(i + nOut))
        val ms = if (!useNoise) 0L
          else SeqAdam.maskSeed(seed0, ep, part, acc(sz + 1).toLong)
        val preds = new Array[Double](nOut)
        rowRun(trees, trunk, paths, tOffs, x0, 0.0, acc, temp, ms,
          ys = ys, predsOut = preds, bn = bn)
        for (o2 <- 0 until nOut) {
          val delta = preds(o2) - ys(o2)
          acc(sz) += 0.5 * delta * delta
        }
        acc(sz + 1) += 1.0
      }
    }
    val (g, meanLoss) = PartitionSum.mean(sums, sz)
    applyL2(g, p)
    (g, meanLoss)
  }

  /** Batched epoch gradient for loss="spearman"|"combined"
    * (losses.py:22-189): the per-row backward is linear in pred − y, so
    * the batch rank gradient injects via the surrogate target
    * y′ = pred − dL/dp_i (the [[RankLoss.seqEpochGradientMulti]]
    * identity); slot sz+1 counts batches. Multi-output uses the reference's exact
    * semantics — the loss FLATTENS (batch, out) to one ranked vector
    * (losses.py:67-69) — so the single-output path is just nOut = 1. */
  def rankGradient(data: DataFrame, p: Array[Double],
      masks: Seq[Array[Int]], temp: Double, ep: Long = 0L)
      : (Array[Double], Double) = {
    val trees = decode(p, masks)
    val trunk = decodeTrunk(p)
    val paths = SoftForest.leafPaths(depth)
    val tOffs = trunkUnits.indices.map(trunkOff)
    val k = nFeat
    val (mw, sw) = if (loss == "spearman") (0.0, 1.0)
      else (mseWeight, spearmanWeight)
    val (tau, rb) = (rankTau, rankBatch)
    val n = sz
    val nO = nOut
    val seed0 = seed
    val useNoise = noiseActive && ep != 0L
    val bn = if (!useInputBn) null else batchBnStats(data, p)
    if (ep != 0L) lastBnStats = bn
    val sums = PartitionSum.sum(data.rdd, n + 2) { (part, it, acc) =>
      var idx = 0L
      SeqAdam.shuffledBatches(it, rb, seed0, ep, part).foreach { batch =>
        val b = batch.size
        // combinedGrad degenerates to the pure MSE gradient at b = 1
        // (the Spearman term is identically 0 on one row), so leftover
        // single-row batches still contribute their MSE term; only the
        // pure single-output spearman loss skips them (undefined on one
        // element — a multi-output row still flattens to nOut >= 2)
        if (b >= 2 || mw != 0.0 || nO >= 2) {
          val xs = new Array[Array[Double]](b)
          val ysM = new Array[Array[Double]](b)
          val seeds = new Array[Long](b)
          val flatP = new Array[Double](b * nO)
          val flatY = new Array[Double](b * nO)
          var i = 0
          batch.foreach { row =>
            ysM(i) = Array.tabulate(nO)(o2 => row.getDouble(o2))
            xs(i) = Array.tabulate(k)(j => row.getDouble(j + nO))
            seeds(i) = if (!useNoise) 0L
              else SeqAdam.maskSeed(seed0, ep, part, idx)
            idx += 1
            val po = new Array[Double](nO)
            rowRun(trees, trunk, paths, tOffs, xs(i), 0.0, null, temp,
              seeds(i), ys = ysM(i), predsOut = po, bn = bn)
            var o2 = 0
            while (o2 < nO) {
              flatP(i * nO + o2) = po(o2)
              flatY(i * nO + o2) = ysM(i)(o2)
              o2 += 1
            }
            i += 1
          }
          val (dp, lossVal) =
            RankLoss.combinedGrad(flatP, flatY, tau, mw, sw)
          i = 0
          while (i < b) {
            val sur = Array.tabulate(nO)(o2 =>
              flatP(i * nO + o2) - dp(i * nO + o2))
            rowRun(trees, trunk, paths, tOffs, xs(i), 0.0, acc, temp,
              seeds(i), ys = sur, bn = bn)
            i += 1
          }
          acc(n) += lossVal
          acc(n + 1) += 1.0
        }
      }
    }
    val (g, meanLoss) = PartitionSum.mean(sums, n)
    applyL2(g, p)
    (g, meanLoss)
  }

  def fit(df: DataFrame): SoftForestModel = {
    val data = df.select((targetCols ++ featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    val nRows = data.count()
    require(nRows > 0, "no complete rows to fit on")
    // input standardization (the reference's input BatchNormalization)
    // + per-output target standardization in the same single aggregate
    val statCols = featureCols.flatMap(c =>
      Seq(avg(col(c)), stddev_pop(col(c)))) ++
      targetCols.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c))))
    val r = data.agg(statCols.head, statCols.tail: _*).collect()(0)
    val fMean = Array.tabulate(nFeat)(i => r.getDouble(2 * i))
    val fStd = Array.tabulate(nFeat)(i =>
      math.max(r.getDouble(2 * i + 1), 1e-12))
    val yMeans = Array.tabulate(nOut)(o2 =>
      r.getDouble(2 * (nFeat + o2)))
    val yStds = Array.tabulate(nOut)(o2 =>
      math.max(r.getDouble(2 * (nFeat + o2) + 1), 1e-12))
    val yMean = yMeans(0)
    val yStd = yStds(0)
    // with trainable input BN the features stay RAW (the BN layer IS
    // the reference's input conditioning, tree.py:323); otherwise
    // pre-standardize (the population fold of that same layer)
    val std = data.select(
      targetCols.zipWithIndex.map { case (c, o2) =>
        (col(c) - lit(yMeans(o2))) / lit(yStds(o2))
      } ++
      featureCols.zipWithIndex.map { case (c, i) =>
        if (useInputBn) col(c)
        else (col(c) - lit(fMean(i))) / lit(fStd(i))
      }: _*)
    std.cache(); std.count(); data.unpersist()

    val rng = new scala.util.Random(seed)
    // feature bagging over the TRUNK output space when configured
    // (a seeded mask per tree, tree.py:112-119)
    val masks = Seq.fill(numTrees)(
      rng.shuffle((0 until treeFeat).toList).take(nUsed).sorted.toArray)
    val p = new Array[Double](sz)
    for (l <- trunkUnits.indices)
      Activations.glorot(p, trunkOff(l), trunkDims(l), trunkDims(l + 1), rng)
    for (t <- 0 until numTrees) {
      val o = trunkSz + t * perTree
      Activations.glorot(p, o, nUsed, nNodes, rng) // routing kernel
      for (l <- 0 until nLeaves * nOut)           // pi ~ random_normal
        p(o + nUsed * nNodes + nNodes + l) = rng.nextGaussian() * 0.05
    }
    if (useInputBn)                               // BN gamma=1, beta=0
      for (j <- 0 until nFeat) p(bnOff0 + j) = 1.0
    val adam = new AdamState(sz, lr, optimizer)
    var temp = tempStart
    // moving-average inference statistics (strict-Keras mode): EMA of
    // the per-epoch input-BN batch statistics, momentum bnMomentum,
    // Keras init moving_mean=0 / moving_var=1. Keras steps the EMA once
    // per batch_size-32 batch (base.py:120); this trainer's input-BN
    // granularity is the whole epoch sample, so one epoch composes its
    // k ≈ sampleRows/32 identical-statistics batch updates in closed
    // form: momentum^k (without the composition the (0,1) init keeps
    // momentum^epochs weight and the folded stats stay visibly biased)
    val kerasBatchesPerEpoch = math.max(1L,
      math.round(nRows * math.min(batchFraction, 1.0) / 32.0))
    val maMean = new Array[Double](nFeat)
    val maVar = Array.fill(nFeat)(1.0)
    for (t <- 1 to epochs) {
      val batch = if (batchFraction >= 1.0) std
        else std.sample(withReplacement = false, batchFraction, seed + t)
      val (g0, _) = if (loss != "mse")
        rankGradient(batch, p, masks, temp, t)
        else gradient(batch, p, masks, temp, t)
      adam.update(p, g0, t)
      if (useInputBn && bnInference == "moving_average" &&
          lastBnStats != null) {
        val effM = math.pow(bnMomentum, kerasBatchesPerEpoch.toDouble)
        var j = 0
        while (j < nFeat) {
          val v = 1.0 / (lastBnStats.invStd(j) * lastBnStats.invStd(j)) -
            BatchNorm.Eps
          maMean(j) = effM * maMean(j) + (1.0 - effM) * lastBnStats.mean(j)
          maVar(j) = effM * maVar(j) + (1.0 - effM) * v
          j += 1
        }
      }
      // linear temperature annealing, assigned at epoch end
      // (TemperatureAnnealing.on_epoch_end, tree.py:47-50)
      temp = tempStart - (tempStart - tempEnd) * t.toDouble / epochs
    }
    std.unpersist()
    // population fold of the trained input BN into the scorer's
    // (mean, std) slots: (x − m')/sd' ≡ gamma·(x − mu)/sqrt(var+eps) +
    // beta with sd' = sqrt(var+eps)/gamma, m' = mu − beta·sd' — the
    // inference affine, so the staged scoring path is unchanged. The
    // moving-average mode folds (maMean, maVar) through the SAME affine.
    val (mEff, sEff) = if (!useInputBn) (fMean, fStd) else {
      val (g, b) = decodeBn(p)
      val (mu, varr) =
        if (bnInference == "moving_average") (maMean, maVar)
        else (fMean, Array.tabulate(nFeat)(i => fStd(i) * fStd(i)))
      val sd = Array.tabulate(nFeat) { i =>
        val gv = if (math.abs(g(i)) < 1e-12) 1e-12 else g(i)
        math.sqrt(varr(i) + BatchNorm.Eps) / gv
      }
      (Array.tabulate(nFeat)(i => mu(i) - b(i) * sd(i)), sd)
    }
    SoftForestModel(decode(p, masks), decodeTrunk(p), mEff, sEff, temp,
      yMean, yStd, featureCols, yMeans, yStds)
  }
}
