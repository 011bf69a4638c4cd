package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding quantization for billion-vector similarity at 100 TB:
  * symmetric per-vector int8 — 4× smaller than float32, 8× smaller than
  * the double intermediates, which is the difference between an ANN
  * index that fits executor memory and one that spills.
  *
  * Determinism contract (oracle-reproducible): the quantizer is
  * `floor(x / scale + 0.5)` (explicit half-up, identical in every
  * engine — no locale/rounding-mode ambiguity), scale is
  * `max(|x|)/127`. Quantized values are kept as integral DOUBLES so the
  * fused [[graft.plans.VectorExpressions.DotProduct]] kernel applies
  * unchanged; integer-valued double arithmetic below 2^53 is exact, so
  * scores are bit-identical across engines and partitionings.
  *
  * Cosine over quantized vectors needs NO dequantization: the scales
  * cancel — cos_q = Σqa·qb / √(Σqa²·Σqb²) — so ranking is pure integer
  * arithmetic with one final division.
  */
object Quantize {

  /** struct(q: array<double-of-ints in [-127,127]>, scale: double). */
  def int8(emb: Column): Column = {
    val absMax = array_max(transform(emb, x => abs(x.cast("double"))))
    val scale = when(absMax > 0, absMax / 127.0).otherwise(lit(1.0))
    struct(
      // floor() yields LongType in Spark; keep q as integral DOUBLES so
      // the fused vector kernel (and DuckDB's double lists) apply as-is
      transform(emb, x => floor(x.cast("double") / scale + 0.5).cast("double")).as("q"),
      scale.as("scale"))
  }

  /** Max absolute reconstruction error of a quantized vector — the
    * quality gauge; ≤ scale/2 by construction. */
  def maxError(emb: Column, q: Column, scale: Column): Column =
    array_max(zip_with(emb, q, (x, qv) => abs(x.cast("double") - qv * scale)))
}
