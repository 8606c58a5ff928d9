package graft

import graft.ml._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the on-disk formats of the autoencoder families. Each artifact
  * under `legacy_models/` was saved when the single-stage `joint_ae` and
  * `bn_ae` trainers were classes of their own beside the depth-general
  * `deep_ae` and `deep_bn_ae` trainers (tiny fits), together with that
  * code's `predict` and `reconstruct` columns on one fixed frame
  * (`ae_predictions.json`). Every artifact must load through
  * [[ModelCodecs]] and through its normalization's `load`, report the
  * general family and its prediction columns, score the saved bits, and
  * re-save to a payload that loads back to the same predictions. */
class AeLegacyArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def resource(name: String): String =
    Paths.get(getClass.getResource(s"/legacy_models/$name").toURI).toString

  private lazy val saved: Map[String, Array[Double]] =
    WeightsIO.load(resource("ae_predictions.json"))._2

  /** The fixed frame the artifacts were scored on. */
  private lazy val frame: DataFrame = (0 until 12).map { i =>
    (i.toLong, (i * 7 % 11) / 4.0 - 1.0, (i * 5 % 9) / 3.0 - 1.5,
      (i * 3 % 7) / 2.0 - 1.0)
  }.toDF("id", "f0", "f1", "f2")

  private def bits(a: Seq[Double]): Seq[Long] =
    a.map(java.lang.Double.doubleToRawLongBits)
  private def column(df: DataFrame, c: String): Seq[Long] =
    bits(df.select(col("id"), col(c)).collect().sortBy(_.getLong(0))
      .map(_.getDouble(1)).toSeq)

  private def reconstruct(m: ModelEstimator): DataFrame = m match {
    case a: DeepJointAutoencoder => a.reconstruct(frame)
    case b: DeepBnAutoencoder => b.reconstruct(frame)
  }

  private val latent = Seq("latent_0", "latent_1")
  private val one = latent :+ "prediction"
  private val two = latent ++ Seq("prediction_0", "prediction_1")
  private val recon = Seq("recon_0", "recon_1", "recon_2")

  private val cases: Seq[(String, String, String => ModelEstimator,
      Seq[String])] = Seq(
    ("joint_ae", "deep_ae", DeepJointAutoencoder.load, one),
    ("joint_ae_multi", "deep_ae", DeepJointAutoencoder.load, two),
    ("bn_ae", "deep_bn_ae", DeepBnAutoencoder.load, one),
    ("deep_ae", "deep_ae", DeepJointAutoencoder.load, one),
    ("deep_bn_ae", "deep_bn_ae", DeepBnAutoencoder.load, one))

  for ((file, family, load, names) <- cases)
    test(s"$file artifact loads through ModelCodecs and its class load, " +
      "scores the saved bits, and re-saves to the same predictions") {
      val path = resource(s"$file.json")
      val (meta, sections) = WeightsIO.load(path)
      for (m <- Seq(ModelCodecs.load(meta, sections, path), load(path))) {
        assert(m.familyName == family)
        assert(m.predictionNames == names)
        val pred = m.predict(frame)
        for (c <- names)
          assert(column(pred, c) == bits(saved(s"$file.$c").toSeq),
            s"$file: $c differs from the saved predictions")
        // the deep_bn_ae artifact's saved predict surface also carried
        // the raw recon columns, which reconstruct now appends
        for (c <- recon if saved.contains(s"$file.$c"))
          assert(column(reconstruct(m), c) == bits(saved(s"$file.$c").toSeq),
            s"$file: $c differs from the saved reconstruction")
        val out = Files.createTempFile("ae-legacy-", ".json")
        try {
          val (mm, ss) = m.saveParts
          WeightsIO.save(out.toString, mm, ss)
          val again = load(out.toString).predict(frame)
          for (c <- names)
            assert(column(again, c) == column(pred, c),
              s"$file: $c changed across a re-save")
        } finally Files.delete(out)
      }
    }
}
