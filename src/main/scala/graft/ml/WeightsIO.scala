package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper

/** Model persistence for the trained estimator families — the surface
  * sklearn gives the reference for free (a pickled estimator travels
  * from the training job to every scoring job; keras_estimators carry
  * their fitted weights inside the sklearn wrapper). JSON with EXACT
  * doubles: `Double.toString` emits the shortest decimal that parses
  * back to the same IEEE bits, so a save → load round-trip is
  * bit-identical and a loaded model scores byte-for-byte like the
  * fitted one (WeightsIOSpec pins both).
  *
  * Format: `{"meta": {k: v…}, "sections": {name: [d…]…}}` — named flat
  * double arrays, the common denominator of every kernel in `graft.ml`
  * (the deep-MLP / AE / attention trainers already keep flat layouts,
  * so any of them serializes as one section). Driver-side file I/O by
  * design: model artifacts are kilobytes, and the artifact store is
  * whatever the caller mounts at `path` — weights then reach executors
  * the same way fitted ones do, as broadcast plan literals.
  */
object WeightsIO {

  def save(path: String, meta: Map[String, String],
      sections: Seq[(String, Array[Double])]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val mn = root.putObject("meta")
    meta.foreach { case (k, v) => mn.put(k, v) }
    val sn = root.putObject("sections")
    sections.foreach { case (name, arr) =>
      require(arr.forall(d => !d.isNaN && !d.isInfinite),
        s"section $name holds a non-finite weight — refusing to save")
      val a = sn.putArray(name)
      arr.foreach(a.add)
    }
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, root.toString.getBytes(StandardCharsets.UTF_8))
  }

  def load(path: String)
      : (Map[String, String], Map[String, Array[Double]]) = {
    val root = new ObjectMapper().readTree(
      new String(Files.readAllBytes(Paths.get(path)),
        StandardCharsets.UTF_8))
    val meta = {
      val it = root.get("meta").properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
    val sections = {
      val it = root.get("sections").properties().iterator()
      val b = Map.newBuilder[String, Array[Double]]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> Array.tabulate(e.getValue.size)(i =>
          e.getValue.get(i).doubleValue())
      }
      b.result()
    }
    (meta, sections)
  }

  /** Encode a column-name list as ONE meta value — a JSON array, so a
    * name containing a comma survives the round-trip (a comma-joined
    * string would silently corrupt the schema on load). */
  def namesToMeta(names: Seq[String]): String = {
    val m = new ObjectMapper()
    val a = m.createArrayNode()
    names.foreach(a.add)
    a.toString
  }

  /** Inverse of [[namesToMeta]]; a legacy comma-joined value (no `[`
    * prefix) still parses for artifacts saved before the JSON form. */
  def namesFromMeta(v: String): Seq[String] =
    if (v.startsWith("[")) {
      val n = new ObjectMapper().readTree(v)
      (0 until n.size).map(i => n.get(i).asText())
    } else v.split(",").toSeq

  /** Comma-joined Int list from a meta value ("" = empty) — the shared
    * convention every family loader uses for layer/unit lists. */
  def intsFromMeta(v: String): Seq[Int] =
    if (v.isEmpty) Nil else v.split(",").toSeq.map(_.toInt)

  /** Comma-joined Double list from a meta value ("" = empty). */
  def doublesFromMeta(v: String): Seq[Double] =
    if (v.isEmpty) Nil else v.split(",").toSeq.map(_.toDouble)

  /** Encode a (Double, Double) pair list as ONE meta value (`d:r`
    * pairs, comma-joined) — the per-layer dropout-tuple shape. */
  def pairsToMeta(pairs: Seq[(Double, Double)]): String =
    pairs.map { case (a, b) => s"$a:$b" }.mkString(",")

  /** Inverse of [[pairsToMeta]]. */
  def pairsFromMeta(v: String): Seq[(Double, Double)] =
    if (v.isEmpty) Nil
    else v.split(",").toSeq.map { s =>
      val Array(a, b) = s.split(":")
      (a.toDouble, b.toDouble)
    }

  // ---- shared structural helpers (per-family codecs build on these) ----

  /** Row-major flatten; inverse of [[toMat]]. */
  def fromMat(m: Array[Array[Double]]): Array[Double] = m.flatten

  /** Row-major unflatten into `rows` rows (length must divide evenly —
    * the loader-side shape validation every family codec inherits). */
  def toMat(a: Array[Double], rows: Int): Array[Array[Double]] = {
    require(rows > 0 && a.length % rows == 0,
      s"section of ${a.length} doubles does not reshape into $rows rows")
    a.grouped(a.length / rows).toArray
  }

  /** Loader-side family guard — the wrong-artifact error every `load`
    * raises instead of mis-decoding another estimator's sections. */
  def requireFamily(meta: Map[String, String], expected: String,
      path: String): Unit =
    require(meta.get("family").contains(expected),
      s"$path holds family ${meta.getOrElse("family", "<none>")}, " +
        s"expected $expected")

  /** Loader-side length guard for a flat-kernel section. */
  def requireLen(name: String, a: Array[Double], expected: Int): Unit =
    require(a.length == expected,
      s"section $name holds ${a.length} doubles, expected $expected " +
        "(architecture meta does not match the stored kernel)")

  /** The target half of a flat-kernel estimator's payload, in the two
    * layouts every `output_units` family writes: one target is `family`
    * with `target`, `yMean` and `yStd` in meta; several are
    * `family_multi` with a `targets` list in meta and per-output
    * `yMeans`/`yStds` sections. */
  def targetParts(family: String, targets: Seq[String],
      yMean: Array[Double], yStd: Array[Double])
      : (Map[String, String], Seq[(String, Array[Double])]) =
    if (targets.size == 1)
      (Map("family" -> family, "target" -> targets.head,
        "yMean" -> yMean(0).toString, "yStd" -> yStd(0).toString), Nil)
    else (Map("family" -> s"${family}_multi",
      "targets" -> namesToMeta(targets)),
      Seq("yMeans" -> yMean, "yStds" -> yStd))

  /** Inverse of [[targetParts]]: (targets, yMean, yStd) from a payload
    * of either layout; any other family is refused. */
  def targetsFromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], family: String, path: String)
      : (Seq[String], Array[Double], Array[Double]) =
    meta.get("family") match {
      case Some(`family`) => (Seq(meta("target")),
        Array(meta("yMean").toDouble), Array(meta("yStd").toDouble))
      case Some(f) if f == s"${family}_multi" =>
        val targets = namesFromMeta(meta("targets"))
        requireLen("yMeans", sections("yMeans"), targets.size)
        requireLen("yStds", sections("yStds"), targets.size)
        (targets, sections("yMeans"), sections("yStds"))
      case other => throw new IllegalArgumentException(
        s"$path holds family ${other.getOrElse("<none>")}, expected " +
          s"$family or ${family}_multi")
    }

  // ---- MLP family codecs (row-major flattening) ----

  def packMlp(w: MLPWeights): Seq[(String, Array[Double])] = Seq(
    "w1" -> w.w1.flatten.toArray, "b1" -> w.b1,
    "w2" -> w.w2, "b2" -> Array(w.b2))

  def unpackMlp(s: Map[String, Array[Double]]): MLPWeights = {
    val (b1, w2) = (s("b1"), s("w2"))
    val h = b1.length
    MLPWeights(s("w1").grouped(h).toArray, b1, w2, s("b2")(0))
  }

  def packMlpMulti(w: MLPMultiWeights): Seq[(String, Array[Double])] = Seq(
    "w1" -> w.w1.flatten.toArray, "b1" -> w.b1,
    "w2" -> w.w2.flatten.toArray, "b2" -> w.b2)

  def unpackMlpMulti(s: Map[String, Array[Double]]): MLPMultiWeights = {
    val (b1, b2) = (s("b1"), s("b2"))
    MLPMultiWeights(s("w1").grouped(b1.length).toArray, b1,
      s("w2").grouped(b2.length).toArray, b2)
  }
}
