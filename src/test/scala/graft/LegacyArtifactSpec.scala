package graft

import graft.ml._
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the on-disk formats of the LSTM, attention and deep-MLP
  * families. Each artifact under `legacy_models/` was saved when the
  * one-output and several-output fits were separate classes (tiny
  * fits). Every one must still load through [[ModelCodecs]] and through
  * its family's `load`, report the family and prediction columns it was
  * saved with, and re-save to the same bytes. Pure IO, no Spark. */
class LegacyArtifactSpec extends AnyFunSuite {
  private val one = Seq("prediction")
  private val two = Seq("prediction_0", "prediction_1")

  private val cases: Seq[(String, String, String => ModelEstimator,
      Seq[String])] = Seq(
    ("deep_mlp", "deep_mlp", DeepMLPRegressor.load, one),
    ("deep_mlp_multi", "deep_mlp_multi", DeepMLPRegressor.load, two),
    ("lstm", "lstm", LSTMTrainer.load, one),
    ("lstm_bidi", "lstm", LSTMTrainer.load, one),
    ("lstm_multi", "lstm_multi", LSTMTrainer.load, two),
    ("attn", "attn", AttnTrainer.load, one),
    ("attn_multi", "attn_multi", AttnTrainer.load, two))

  for ((file, family, load, names) <- cases)
    test(s"$file artifact loads through ModelCodecs and its family load " +
      "and re-saves byte for byte") {
      val path = Paths.get(getClass.getResource(
        s"/legacy_models/$file.json").toURI)
      val (meta, sections) = WeightsIO.load(path.toString)
      val loaded = Seq(ModelCodecs.load(meta, sections, path.toString),
        load(path.toString))
      for (m <- loaded) {
        assert(m.familyName == family)
        assert(m.predictionNames == names)
        val out = Files.createTempFile("legacy-", ".json")
        try {
          val (mm, ss) = m.saveParts
          WeightsIO.save(out.toString, mm, ss)
          assert(java.util.Arrays.equals(Files.readAllBytes(out),
            Files.readAllBytes(path)), s"$file re-saved different bytes")
        } finally Files.delete(out)
      }
    }
}
