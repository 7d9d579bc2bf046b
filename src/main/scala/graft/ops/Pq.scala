package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.nearest_centroid

/**
 * Product quantization (Jégou et al., "Product Quantization for Nearest
 * Neighbor Search", TPAMI 2011) over an embedding column — the memory-side
 * companion to the IVF scan reduction: split each `dim` vector into `m`
 * contiguous sub-vectors, learn a `ksub`-centroid codebook per subspace
 * (the same deterministic md5-seeded Lloyd as [[Ivf]], run per slice), and
 * represent each vector by `m` small codes. A 64-float vector at m=4,
 * ksub=256 becomes 4 bytes — a 64× memory cut, which is what makes
 * billion-vector ANN fit in RAM at all.
 *
 * Query scoring is ASYMMETRIC (ADC): the query stays exact; per subspace a
 * `ksub`-entry table of squared L2 distances from the query's sub-vector
 * to each centroid is computed ON THE DRIVER (m × ksub doubles), and a
 * row's distance is the sum of its codes' table entries — a row-local
 * literal-array lookup, zero exchanges, no per-row float math beyond the
 * code assignment.
 *
 * Every step is engine-portable like IVF (the q85 oracle re-trains the
 * same codebooks per subspace and reproduces distances): md5 seed draw,
 * cosine-argmax assignment with ties → lowest cid, 1/1024-quantized mean
 * updates.
 */
object Pq {

  /** Per-subspace codebooks: `m` [[Ivf.trainCentroids]] runs over the
    * vector slices. The md5 training sample is drawn and persisted ONCE
    * here and shared by all `m` runs (they see identical seed ids by
    * construction) — letting each run re-sample from the source would
    * re-materialize the upstream lineage `m` times, which for the
    * residual path means `m` full assignment passes over the corpus
    * sample instead of one. */
  def trainCodebooks(emb: DataFrame, idCol: Column, vecCol: Column, dim: Int,
      m: Int, ksub: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): Seq[Seq[(Int, Seq[Float])]] = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val d = dim / m
    val base = emb.select(idCol.cast("long").as("id"),
      vecCol.cast("array<float>").as("v"))
    val sampled = (if (sampleFraction >= 100) base
      else base.filter(
        graft.expr.PortableHash.hex15Col(col("id")) % 100 < sampleFraction))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0 until m).map { s =>
        Ivf.trainCentroids(sampled, col("id"), slice(col("v"), s * d + 1, d),
          ksub, iters, sampleFraction = 100)
      }
    } finally sampled.unpersist(blocking = false)
  }

  /** The `ARRAY<INT>` codes column: per subspace, the nearest-centroid id
    * via the same row-local argmax as IVF assignment. */
  def codesColumn(vecCol: Column, dim: Int,
      books: Seq[Seq[(Int, Seq[Float])]]): Column = {
    val m = books.length
    val d = dim / m
    array((0 until m).map { s =>
      nearest_centroid(slice(vecCol.cast("array<float>"), s * d + 1, d),
        Ivf.centsLit(books(s)))
    }: _*)
  }

  /** `(id, codes)` — the PQ encoding. Pure projection, zero exchanges, one
    * output row per input row. */
  def encode(emb: DataFrame, idCol: Column, vecCol: Column, dim: Int,
      books: Seq[Seq[(Int, Seq[Float])]]): DataFrame =
    emb.select(idCol.as("id"), codesColumn(vecCol, dim, books).as("codes"))

  /** Squared-L2 ADC lookup tables for one query: `table(s)(cid)` =
    * ‖q_s − c_{s,cid}‖² (driver-side; m × ksub doubles). */
  def adcTables(query: Array[Float], books: Seq[Seq[(Int, Seq[Float])]])
      : Seq[Seq[Double]] = {
    val m = books.length
    val d = query.length / m
    (0 until m).map { s =>
      books(s).sortBy(_._1).map { case (_, c) =>
        var acc = 0.0
        var i = 0
        while (i < d) {
          val diff = query(s * d + i).toDouble - c(i).toDouble
          acc += diff * diff
          i += 1
        }
        acc
      }
    }
  }

  /** The ADC distance column for a literal table set: per subspace, a
    * row-local code argmax feeding a literal-array lookup; zero exchanges. */
  private def adcDist(v: Column, tables: Seq[Seq[Double]],
      books: Seq[Seq[(Int, Seq[Float])]], d: Int): Column =
    tables.indices.map { s =>
      element_at(typedLit(tables(s)),
        nearest_centroid(slice(v, s * d + 1, d), Ivf.centsLit(books(s))) + 1)
    }.reduce(_ + _)

  /** Approximate top-k by ADC distance (ascending; ties → lowest id):
    * train → per-row code assignment → literal-table lookups summed — the
    * whole scoring pass is a projection feeding `TakeOrderedAndProject`.
    * Returns `(id, dist)` with dist rounded to 4dp. */
  def pqTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int, m: Int = 4, ksub: Int = 8,
      iters: Int = 2, sampleFraction: Int = 50): DataFrame = {
    val dim = query.length
    val d = dim / m
    val books = trainCodebooks(emb, idCol, vecCol, dim, m, ksub, iters,
      sampleFraction)
    val tables = adcTables(query, books)
    val v = vecCol.cast("array<float>")
    emb.select(idCol.as("id"),
        round(adcDist(v, tables, books, d), 4).as("dist"))
      .orderBy(col("dist").asc, col("id"))
      .limit(k)
  }

  /** IVF-PQ: the two scan reductions composed — IVF's coarse clustering
    * prunes WHICH rows are scored (only `nprobe` of `nlist` cells), PQ's
    * codes shrink WHAT scoring costs (m table lookups instead of a dim-wide
    * cosine). Both the cell assignment and the ADC lookup are row-local
    * literal-driven projections: the scoring plan has zero exchanges, and
    * on a cluster-partitioned store the probe filter becomes directory
    * pruning exactly as in an [[graft.query.Searcher.Ivf]] search.
    *
    * Codebooks here quantize the RAW vectors (query-independent, shareable
    * across cells); classical FAISS IVFADC quantizes residuals v − C_cell,
    * which buys accuracy at the cost of per-cell query tables — a
    * refinement, not a different shape. */
  def ivfPqTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int, nlist: Int = 8, nprobe: Int = 2,
      m: Int = 4, ksub: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    val dim = query.length
    val d = dim / m
    val coarse = Ivf.trainCentroids(emb, idCol, vecCol, nlist, iters,
      sampleFraction)
    val probes = Ivf.probeList(coarse, query, nprobe)
    val books = trainCodebooks(emb, idCol, vecCol, dim, m, ksub, iters,
      sampleFraction)
    val tables = adcTables(query, books)
    emb.select(idCol.as("id"), vecCol.cast("array<float>").as("v"))
      .withColumn("cluster",
        coalesce(nearest_centroid(col("v"), Ivf.centsLit(coarse)), lit(-1)))
      .filter(col("cluster").isin(probes: _*))
      .select(col("id"),
        round(adcDist(col("v"), tables, books, d), 4).as("dist"))
      .orderBy(col("dist").asc, col("id"))
      .limit(k)
  }

  // ---- residual (IVFADC) variant ----

  /** The residual frame `(id, cluster, r)`: each vector minus its coarse
    * cell's centroid, float32 like the inputs (binary64 subtraction of two
    * binary32 values rounds to binary32 without double-rounding error —
    * 53 ≥ 2·24+2 — so the oracle's DOUBLE-subtract-then-CAST-FLOAT
    * reproduces the exact same bits). A pure per-row projection. */
  private[ops] def residuals(emb: DataFrame, idCol: Column, vecCol: Column,
      coarse: Seq[(Int, Seq[Float])]): DataFrame = {
    val centArr = typedLit(coarse.sortBy(_._1).map(_._2.toVector))
      .cast("array<array<float>>")
    emb.select(idCol.as("id"), vecCol.cast("array<float>").as("v"))
      // null guard on the INPUT, not on the computed cluster: a
      // `cluster >= 0` filter would push a whole extra nearest_centroid
      // argmax per row into the scan filter (the ivfTopKMany lesson);
      // with v non-null the coalesce(-1) never fires and folds to
      // non-nullable, so no inferred isnotnull duplicates the argmax
      .filter(col("v").isNotNull)
      .withColumn("cluster",
        coalesce(nearest_centroid(col("v"), Ivf.centsLit(coarse)), lit(-1)))
      .withColumn("r",
        zip_with(col("v"), element_at(centArr, col("cluster") + 1),
          (a, b) => a - b))
      .select(col("id"), col("cluster"), col("r"))
  }

  /** One cell's ADC tables over the query residual q − C_cell:
    * `table(s)(j) = ‖(q − C_cell)_s − r_{s,j}‖²`, all binary64 in index
    * order — the arithmetic the oracle replays as
    * `((q_i − C_i) − r_i)²`. */
  private def residualTables(query: Array[Float], cent: Seq[Float],
      books: Seq[Seq[(Int, Seq[Float])]], d: Int): Vector[Vector[Double]] =
    books.indices.map { s =>
      books(s).sortBy(_._1).map { case (_, rc) =>
        var acc = 0.0
        var i = 0
        while (i < d) {
          val qr = query(s * d + i).toDouble - cent(s * d + i).toDouble
          val diff = qr - rc(i).toDouble
          acc += diff * diff
          i += 1
        }
        acc
      }.toVector
    }.toVector

  /** Classical residual IVFADC (Jégou et al. §IV.C / FAISS `IVFx,PQy`):
    * PQ codebooks are trained on the RESIDUALS v − C_cell rather than the
    * raw vectors, so the fine quantizer spends its ksub^m cells on the
    * within-cell geometry the coarse quantizer already localized — the
    * accuracy refinement over [[ivfPqTopK]] at identical probe fractions.
    *
    * The price is query-side: the ADC tables become PER-PROBED-CELL (the
    * query's residual q − C_cell differs per cell) — still driver-side,
    * nprobe × m × ksub doubles shipped as one literal map keyed by cell.
    * Scoring stays fully row-local: codes assign once per row
    * ([[codesColumn]] on the residual), the cell picks its table via a
    * map lookup on the cluster column, zero exchanges end-to-end beyond
    * the bounded training aggregations and the final top-k.
    */
  def ivfPqResidualTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int, nlist: Int = 8, nprobe: Int = 2,
      m: Int = 4, ksub: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    val dim = query.length
    val d = dim / m
    val coarse = Ivf.trainCentroids(emb, idCol, vecCol, nlist, iters,
      sampleFraction)
    val probes = Ivf.probeList(coarse, query, nprobe)
    val rv = residuals(emb, idCol, vecCol, coarse)
    val books = trainCodebooks(rv, col("id"), col("r"), dim, m, ksub, iters,
      sampleFraction)
    // per-probed-cell tables over the query residual, all doubles: the
    // oracle mirrors ((q_i − C_i) − r_i)² with the same index order
    val coarseMap = coarse.toMap
    val tablesLit = typedLit(probes.map { c =>
      c -> residualTables(query, coarseMap(c), books, d)
    }.toMap)
    val cellT = element_at(tablesLit, col("cluster"))
    rv.filter(col("cluster").isin(probes: _*))
      .withColumn("codes", codesColumn(col("r"), dim, books))
      .select(col("id"),
        round((0 until m).map { s =>
          element_at(element_at(cellT, s + 1),
            element_at(col("codes"), s + 1) + 1)
        }.reduce(_ + _), 4).as("dist"))
      .orderBy(col("dist").asc, col("id"))
      .limit(k)
  }

  /** Batched residual IVFADC — the [[Ivf.ivfTopKMany]] amortization on
    * the residual-PQ path: coarse centroids and residual codebooks train
    * ONCE; each query's probe list AND per-probed-cell ADC tables resolve
    * on the driver and broadcast as columns of the tiny query frame
    * (queries × nprobe × m × ksub doubles). One corpus pass: a row joins
    * only the queries probing its cell, codes assign once per surviving
    * row (post-join projection, attribute-shared across the m lookups),
    * and the per-query top-k is the bounded [[TopKAggregator]] — map-side
    * ≤ k per query per partition, no window. Output:
    * `(query_id, rnk, id, dist)` ascending ADC distance. */
  def ivfPqResidualTopKMany(emb: DataFrame, idCol: Column, vecCol: Column,
      queries: Seq[(String, Array[Float])], k: Int, nlist: Int = 8,
      nprobe: Int = 2, m: Int = 4, ksub: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = queries.head._2.length
    val d = dim / m
    val coarse = Ivf.trainCentroids(emb, idCol, vecCol, nlist, iters,
      sampleFraction)
    val coarseMap = coarse.toMap
    val rv = residuals(emb, idCol, vecCol, coarse)
    val books = trainCodebooks(rv, col("id"), col("r"), dim, m, ksub, iters,
      sampleFraction)
    val qrows = queries.map { case (qid, qv) =>
      val probes = Ivf.probeList(coarse, qv, nprobe)
      (qid, probes.toVector,
        probes.map(c => c -> residualTables(qv, coarseMap(c), books, d)).toMap)
    }
    val qdf = broadcast(qrows.toDF("query_id", "probes", "tables"))
    val cellT = element_at(col("tables"), col("cluster"))
    val scored = rv
      .join(qdf, array_contains(col("probes"), col("cluster")))
      .withColumn("codes", codesColumn(col("r"), dim, books))
      .select(col("query_id"), col("id"),
        round((0 until m).map { s =>
          element_at(element_at(cellT, s + 1),
            element_at(col("codes"), s + 1) + 1)
        }.reduce(_ + _), 4).as("dist"))
    // TopKAggregator orders (sim DESC, id ASC); negate for ascending dist
    TopK.perGroup(scored, Seq(col("query_id")), col("id"),
        -col("dist"), k)
      .select(col("query_id"), col("rnk"), col("id"), (-col("sim")).as("dist"))
  }
}
