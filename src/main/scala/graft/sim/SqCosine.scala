package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Similarity

/** Scalar (int8) quantization for nearest-neighbor search — the
  * FAISS `SQ8` index shape (Jégou et al.'s IndexScalarQuantizer;
  * symmetric per-vector linear quantization): each float dimension is
  * rounded to `round(x / scale)` with `scale = max|x| / 127`, so a
  * vector is stored as dim int8 codes + two floats (scale, norm) —
  * ~26% of raw float32 bytes at dim 64, with none of PQ's codebook
  * machinery. The middle rung of the compression ladder this library
  * offers: float32 ([[CosineTopK]]) → SQ8 (this) → PQ
  * ([[PqCosine]], ~5%) → IVF-PQ ([[IvfPq]], ~5% + pruned scan).
  *
  * Search is asymmetric (FAISS ADC convention): the float query is NOT
  * quantized; approx_dot = scale · Σ qᵢ·codeᵢ, evaluated by the same
  * codegen'd [[graft.functions.VecDot]] kernel as the exact path (int
  * codes cast to double — exact, so the oracle's
  * `list_inner_product(double[], double[])` reproduces it bit-for-bit).
  * The `shortlist` best per probe by approximate cosine are re-ranked
  * with the exact cosine over the raw vectors — reads touch code bytes
  * for the scan and raw floats only for shortlist·|probes| rows.
  *
  * Everything is deterministic (no trained state at all — unlike PQ
  * there is not even a codebook), so encode, the ADC scores, and the
  * re-rank all verify bit-for-bit against the DuckDB oracle.
  *
  * North-star extension beyond the reference surface (SURVEY.md §7.6).
  */
object SqCosine {

  /** (idCol, codes array<int> in [-127,127], scale, nrm). Zero vectors
    * encode to all-zero codes with scale 0. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // abs/max/÷ are single float→double ops (no accumulation), so the
    // scale is engine-exact; round is HALF-away-from-zero on both sides
    val maxAbs = array_max(transform(col(vecCol),
      x => abs(x))).cast("double")
    val scale = (maxAbs / lit(127.0)).as("scale")
    corpus.select(col(idCol), col(vecCol), scale)
      .select(col(idCol),
        when(col("scale") > 0, transform(col(vecCol), x =>
          graft.functions.FastRound(x.cast("double") / col("scale"), 0)
            .cast("int")))
          .otherwise(transform(col(vecCol), _ => lit(0)))
          .as("codes"),
        col("scale"),
        sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("nrm"))
  }

  /** ADC top-k with exact re-rank (same plan shape as [[PqCosine]]
    * search: probes broadcast, the code table is the scanned side). */
  def search(codes: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, shortlist: Int): DataFrame = {
    val probesN = probes.select(col(qidCol), col(qvecCol),
      sqrt(Similarity.dot(col(qvecCol), col(qvecCol))).as("__qn"))
    val approx = (col("scale") *
      Similarity.dot(col(qvecCol), col("codes").cast("array<double>")))
    CosineTopK.rerank(
      codes.join(broadcast(probesN), col(qidCol) =!= col(idCol))
        .select(col(qidCol), col(qvecCol), col("__qn"), col(idCol),
          (approx / (col("__qn") * col("nrm"))).as("approx_cos")),
      corpus, idCol, vecCol, qidCol, qvecCol, k, shortlist)
  }
}
