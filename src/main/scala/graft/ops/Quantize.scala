package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Embedding storage quantization (north-star extension): symmetric
 * per-vector int8 codes — a 4× storage/scan-bandwidth reduction for the
 * 100 TB vectors table, with the scale stored beside the codes for
 * reconstruction (`v ≈ code * scale`). All arithmetic is composed from
 * codegen'd built-ins (transform/aggregate higher-order functions), no
 * UDFs, and the spec is engine-exact: scale = max|v| / 127 with double
 * math throughout, codes = `floor(v/scale + 0.5)` — arithmetic
 * round-half-up (toward +∞), chosen over SQL `round()` both for
 * portability (identical in every engine, no ties-away-from-zero
 * ambiguity) and speed (Spark's round() routes every element through
 * BigDecimal).
 *
 * Callers should materialize [[int8Scale]]/[[int8Codes]] in one projection
 * and derive the error from the materialized columns via
 * [[reconError]] — recomputing the code array inside every consumer
 * multiplies the per-element work.
 */
object Quantize {

  /** Per-vector scale: `max|v| / 127` (0 for the zero vector). */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / 127.0

  /** Int8 codes `floor(v/scale + 0.5)` as ARRAY<INT> (zero vector → 0s),
    * given a materialized scale column. */
  def int8Codes(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0.0, lit(0))
        .otherwise(floor(x.cast("double") / scale + 0.5).cast("int")))

  /** Mean absolute reconstruction error `mean |v - code*scale|` from
    * materialized codes + scale — the quality metric a quantized store
    * reports. Left-fold accumulation so any engine sums in the same
    * order. */
  def reconError(vec: Column, codes: Column, scale: Column): Column =
    aggregate(
      zip_with(vec, codes,
        (v, c) => abs(v.cast("double") - c.cast("double") * scale)),
      lit(0.0), (acc, x) => acc + x) / size(vec)

  /** Driver-side query quantization with the same spec as
    * [[int8Scale]]/[[int8Codes]]: `(codes, scale)`. */
  def quantizeQuery(query: Array[Float]): (Seq[Int], Double) = {
    val qScale = query.map(x => math.abs(x.toDouble)).max / 127.0
    val qCodes: Seq[Int] = query.toSeq.map(x =>
      if (qScale == 0) 0 else math.floor(x / qScale + 0.5).toInt)
    (qCodes, qScale)
  }

  /** Approximate dot product from a materialized codes/scale pair and a
    * [[quantizeQuery]] result: exact integer dot, one double rescale. */
  def approxDotCol(codes: Column, scale: Column, qCodes: Column,
      qScale: Column): Column =
    aggregate(
      zip_with(codes, qCodes, (a, b) => (a * b).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double") * scale * qScale

  /** Batched SQ8 search: the [[graft.ops.Ann.binaryTopKMany]] shape on the
    * int8 path — per-query codes/scale broadcast with the query frame, one
    * corpus pass, bounded per-query top-`rerank` on the rescaled integer
    * dot, exact-cosine refine. Output `(query_id, rnk, id, sim)`. */
  def int8TopKMany(emb: org.apache.spark.sql.DataFrame, idCol: Column,
      vecCol: Column, queries: Seq[(String, Array[Float])], k: Int,
      rerank: Int): org.apache.spark.sql.DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qdf = queries.map { case (qid, qv) =>
      val (qc, qs) = quantizeQuery(qv)
      (qid, qc, qs, qv.toSeq)
    }.toDF("query_id", "qcodes", "qsc", "qvec")
    val scored = emb
      .select(idCol.cast("long").as("id"), vecCol.as("v"),
        int8Scale(vecCol).as("sc"))
      .select(col("id"), col("v"), col("sc"),
        int8Codes(col("v"), col("sc")).as("codes"))
      .crossJoin(broadcast(qdf))
      .select(col("query_id"), col("id"),
        approxDotCol(col("codes"), col("sc"), col("qcodes"), col("qsc")).as("approx"))
    val cands = TopK.perGroup(scored, Seq(col("query_id")), col("id"),
      col("approx"), rerank).select(col("query_id"), col("id"))
    graft.ops.Ann.refineMany(cands, emb, idCol, vecCol,
      qdf.select("query_id", "qvec"), k)
  }

  /** SQ8 asymmetric search: candidates rank by the INTEGER dot product of
    * code arrays rescaled by both scales (exact integer arithmetic, one
    * double product — engine-portable to the bit), the top `rerank` by
    * `(approx DESC, id)` rerank by exact cosine, top `k` return as
    * `(id, approx, sim)`. Two `TakeOrderedAndProject`s, zero exchanges;
    * in production the `(codes, scale)` pair is a materialized store
    * column ([[graft.store.VectorStore.writeVectorsQuantized]], 4×
    * narrower than the float vectors). */
  def int8TopK(emb: org.apache.spark.sql.DataFrame, idCol: Column,
      vecCol: Column, query: Array[Float], k: Int, rerank: Int):
      org.apache.spark.sql.DataFrame = {
    val (qCodes, qScale) = quantizeQuery(query)
    emb.select(idCol.as("id"), vecCol.as("v"), int8Scale(vecCol).as("sc"))
      .select(col("id"), col("v"), col("sc"),
        int8Codes(col("v"), col("sc")).as("codes"))
      .select(col("id"), col("v"),
        approxDotCol(col("codes"), col("sc"), typedLit(qCodes), lit(qScale))
          .as("approx"))
      .orderBy(col("approx").desc, col("id"))
      .limit(rerank)
      .select(col("id"), round(col("approx"), 4).as("approx"),
        round(graft.functions.cosine_similarity(col("v"), typedLit(query)), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }
}
