package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{cosine_similarity, nearest_centroid}

/**
 * IVF (inverted-file) clustering over an embedding column: k-means
 * centroids learned from the data, vectors assigned to their nearest
 * centroid, queries probing only the `nprobe` nearest cells — the
 * scan-reduction ANN structure the reference's FLAT index lacks (its
 * tiledb-vector-search backend ships IVF_FLAT; SURVEY §4.3 names this the
 * clustered-store upgrade path). Learned cells adapt to the data's density,
 * so recall at equal probe fraction dominates the data-oblivious sign-LSH
 * cells (`ExtensionsAndClusterSpec` measures exactly that).
 *
 * Every step is engine-portable by construction (the DuckDB oracle of
 * q66 re-trains the same centroids):
 *
 *  - seed selection: the k vectors with smallest 60-bit md5(id) — a
 *    deterministic pseudo-random draw that plans as TakeOrderedAndProject
 *    (no global row_number; [[graft.expr.PortableHash]] spec)
 *  - Lloyd iterations: assign = argmax cosine (ties → lowest cid) against
 *    broadcast centroids; update = per-dimension mean QUANTIZED to 1/1024
 *    steps — exactly representable in float32 AND in any engine's doubles,
 *    so cross-engine ulp noise cannot survive an iteration
 *  - empty clusters keep their previous centroid
 *
 * Scale shape: centroids are k×dim floats (driver-resident, shipped as a
 * literal inside [[graft.expr.NearestCentroid]]); assignment is a pure
 * per-row projection — ZERO exchanges, one output row per input row (plan
 * evidence in PLANS.md). Each Lloyd iteration is one scan of the cached
 * training sample + one partial-aggregated shuffle of (cid, dim) partials
 * (nlist×dim groups — bytes, not rows). Training runs on a `sampleFraction`
 * md5-sample (persisted across iterations), keeping the iterations off the
 * full 100 TB table; the assignment pass still sees every row.
 */
object Ivf {

  /** Deterministic 60-bit md5 hash of an id column (PortableHash spec). */
  private def idHash(id: Column): Column = graft.expr.PortableHash.hex15Col(id)

  /** Centroids as an `ARRAY<STRUCT<cid, c>>` literal, sorted by cid so the
    * first-wins tie rule of [[graft.expr.NearestCentroid]] lands on the
    * lowest cid. k×dim floats — driver-resident, codegen reference object. */
  private[ops] def centsLit(cents: Seq[(Int, Seq[Float])]): Column =
    typedLit(cents.sortBy(_._1).map { case (cid, c) => (cid, c.toVector) })
      .cast("array<struct<cid:int,c:array<float>>>")

  /** One Lloyd step: returns the updated (cid, centroid) rows. Assignment
    * is the row-local [[graft.expr.NearestCentroid]] argmax — the only
    * exchange is the (cid, pos) partial-mean aggregation (nlist×dim rows
    * after map-side combine). */
  private def step(v: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame =
    v.select(nearest_centroid(col("v"), centsLit(cents)).as("cid"),
        posexplode(col("v")))
      .groupBy("cid", "pos")
      .agg((round(avg(col("col")) * 1024) / 1024).as("q"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("q")))),
        x => x("q")).cast("array<float>").as("c"))

  /** Train k-means centroids; returns `(cid, centroid)` sorted by cid.
    * Deterministic in (data, k, iters, sampleFraction). The training
    * sample is persisted once and reused across seed selection and every
    * Lloyd iteration (it is re-scanned iters+1 times). */
  def trainCentroids(emb: DataFrame, idCol: Column, vecCol: Column, k: Int,
      iters: Int = 2, sampleFraction: Int = 100): Seq[(Int, Seq[Float])] = {
    val all = emb.select(idCol.cast("long").as("id"),
      vecCol.cast("array<float>").as("v"))
    val v = (if (sampleFraction >= 100) all
      else all.filter(idHash(col("id")) % 100 < sampleFraction))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // .toVector: Row.getAs hands back a mutable ArraySeq, which Scala
      // 2.13's immutable-Seq encoder rejects when the tuples go back
      // through toDF
      val seeds = v.withColumn("h", idHash(col("id")))
        .orderBy("h").limit(k) // TakeOrderedAndProject: no global sort
        .collect().sortBy(_.getAs[Long]("h"))
        .zipWithIndex
        .map { case (r, i) => (i, r.getAs[Seq[Float]]("v").toVector: Seq[Float]) }
        .toSeq
      (0 until iters).foldLeft(seeds) { (cents, _) =>
        val updated = step(v, cents).collect()
          .map(r => r.getAs[Int]("cid") -> (r.getAs[Seq[Float]]("c").toVector: Seq[Float]))
          .toMap
        cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
      }
    } finally v.unpersist(blocking = false)
  }

  /** Nearest-centroid id for every row: `(…emb columns, cluster)`. A pure
    * per-row projection (no join, no shuffle, no regrouping): exactly one
    * output row per input row, duplicate rows included. */
  def assignClusters(emb: DataFrame, idCol: Column, vecCol: Column,
      cents: Seq[(Int, Seq[Float])]): DataFrame =
    emb.withColumn("cluster", nearest_centroid(vecCol, centsLit(cents)))

  /** Clustering-quality (elbow) curve: for each candidate `k`, train
    * centroids and report the corpus-wide mean cosine DISTANCE
    * `1 − cos(v, centroid)` of every vector to its assigned centroid —
    * `(k, n, mean_dist)`, the diagnostic that picks `nlist` for the IVF
    * store before committing to an index build. Returns one row per `k`,
    * ascending.
    *
    * Scale shape: per `k` this costs exactly one [[trainCentroids]]
    * (sampled Lloyd, bounded collects) plus one full assignment pass —
    * row-local argmax, then a broadcast join against the k-row centroid
    * table and ONE partial-agg average; the driver loop is over the
    * (parameter-sized) `ks` list, never the data. */
  def inertiaCurve(emb: DataFrame, idCol: Column, vecCol: Column,
      ks: Seq[Int], iters: Int = 2, sampleFraction: Int = 100): DataFrame = {
    require(ks.nonEmpty, "need at least one candidate k")
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(idCol.cast("long").as("id"),
      vecCol.cast("array<float>").as("v"))
    ks.map { k =>
      val cents = trainCentroids(v, col("id"), col("v"), k, iters, sampleFraction)
      val cdf = cents.map { case (cid, c) => (cid, c.toVector) }.toDF("cid", "c")
        .select(col("cid"), col("c").cast("array<float>").as("c"))
      assignClusters(v, col("id"), col("v"), cents)
        .join(broadcast(cdf), col("cluster") === col("cid"))
        .select((lit(1.0) - cosine_similarity(col("v"), col("c"))).as("d"))
        .agg(count(lit(1)).as("n"), round(avg(col("d")), 4).as("mean_dist"))
        .select(lit(k.toLong).as("k"), col("n"), col("mean_dist"))
    }.reduce(_ unionByName _).orderBy("k")
  }

  /** Simplified silhouette per cluster (Hruschka et al.): for every
    * vector, `a` = cosine distance to its OWN centroid, `b` = distance
    * to the nearest OTHER centroid, `s = (b − a) / max(a, b)` — the
    * cluster-quality diagnostic that catches overlapping cells
    * [[inertiaCurve]]'s pure compactness cannot (inertia always improves
    * with k; silhouette peaks where cells separate). Returns
    * `(cluster, n, mean_silhouette)`; corpus-wide mean = the n-weighted
    * average. Points equidistant from everything (`max(a,b) = 0`) score 0.
    *
    * Scale shape: centroids ride the same k×dim literal as assignment,
    * so a and b are ROW-LOCAL array folds — no point×centroid join, no
    * per-point shuffle; the only exchange is the nlist-row partial agg. */
  def silhouetteSimplified(emb: DataFrame, idCol: Column, vecCol: Column,
      nlist: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    val cents = trainCentroids(emb, idCol, vecCol, nlist, iters,
      sampleFraction)
    val cl = centsLit(cents)
    val v = col("v")
    val sims = transform(cl, c => cosine_similarity(v, c.getField("c")))
    val cluster = nearest_centroid(v, cl)
    val aDist = lit(1.0) - element_at(col("sims"), col("cluster") + 1)
    val otherBest = array_max(filter(col("sims"),
      (s, i) => i =!= col("cluster")))
    val bDist = lit(1.0) - otherBest
    emb.select(idCol.cast("long").as("id"),
        vecCol.cast("array<float>").as("v"))
      .select(col("id"), sims.as("sims"), cluster.as("cluster"))
      .select(col("cluster").cast("long").as("cluster"), aDist.as("a"),
        bDist.as("b"))
      .select(col("cluster"),
        when(greatest(col("a"), col("b")) === 0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
          .as("s"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg(col("s")), 4).as("mean_silhouette"))
  }

  /** Embedding-space outlier gate: each vector's cosine to its ASSIGNED
    * centroid, flagged below `tau` — the per-document semantic filter
    * next to [[silhouetteSimplified]]'s per-cluster diagnostic
    * (mislabeled scrapes, encoding garbage and off-domain strays all
    * land far from every centroid). One row-local fold over the
    * broadcast centroid literal per row: no join, no shuffle beyond the
    * training sample's. Output: `(id, cluster, cent_sim, outlier)`. */
  def embeddingOutliers(emb: DataFrame, idCol: Column, vecCol: Column,
      tau: Double, nlist: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    val cents = trainCentroids(emb, idCol, vecCol, nlist, iters,
      sampleFraction)
    val cl = centsLit(cents)
    emb.select(idCol.cast("long").as("id"),
        vecCol.cast("array<float>").as("v"))
      .select(col("id"),
        transform(cl, c => cosine_similarity(col("v"), c.getField("c")))
          .as("sims"),
        nearest_centroid(col("v"), cl).as("cluster"))
      .select(col("id"), col("cluster").cast("long").as("cluster"),
        round(element_at(col("sims"), col("cluster") + 1), 4).as("cent_sim"))
      .withColumn("outlier", col("cent_sim") < tau)
  }

  /** Diversity-first inspection sample: `k` rows spread round-robin
    * across the learned cells — rank within each cell by md5 (so every
    * cell surfaces its own deterministic "random" members), then take
    * the globally lowest (round, md5) rows. The "show me k DIFFERENT
    * examples" query behind corpus datasheets and labeling batches,
    * where a plain md5 sample would mirror the majority cell. Per-cell
    * ranking is a cell-partitioned window (bounded by the largest
    * cell, the standard IVF bound); the global pick is a
    * TakeOrderedAndProject, never a full sort. Output:
    * `(id, cluster, rnd)` with `rnd` the 1-based within-cell round. */
  def diverseSample(emb: DataFrame, idCol: Column, vecCol: Column,
      k: Int, nlist: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val cents = trainCentroids(emb, idCol, vecCol, nlist, iters,
      sampleFraction)
    val h = graft.expr.PortableHash.hex15Col(
      concat(lit("div:"), col("id").cast("string")))
    val w = Window.partitionBy("cluster").orderBy(col("h").asc, col("id").asc)
    emb.select(idCol.cast("long").as("id"),
        vecCol.cast("array<float>").as("v"))
      .select(col("id"), nearest_centroid(col("v"), centsLit(cents))
        .as("cluster"))
      .withColumn("h", h)
      .withColumn("rnd", row_number().over(w))
      .orderBy(col("rnd").asc, col("h").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("cluster").cast("long").as("cluster"),
        col("rnd").cast("long").as("rnd"))
  }

  /** The query's `nprobe` nearest centroid ids (driver-side: k is tiny). */
  def probeList(cents: Seq[(Int, Seq[Float])], query: Array[Float],
      nprobe: Int): Seq[Int] = {
    def cos(a: Seq[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < b.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cents.map { case (cid, c) => (cid, cos(c, query)) }
      .sortBy { case (cid, s) => (-s, cid) }
      .take(nprobe).map(_._1)
  }

  /** End-to-end IVF approximate top-k over an embedding frame: train (or
    * reuse) centroids, assign, probe, exact cosine within probed cells.
    * Training defaults to a 50% md5-sample — at 100 TB the Lloyd
    * iterations must never scan the full table (assignment still does,
    * as one shuffle-free projection). */
  def ivfTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int, nlist: Int = 8, iters: Int = 2,
      nprobe: Int = 2, sampleFraction: Int = 50): DataFrame = {
    val cents = trainCentroids(emb, idCol, vecCol, nlist, iters, sampleFraction)
    val probes = probeList(cents, query, nprobe)
    assignClusters(emb.select(idCol.as("id"), vecCol.as("v")),
        col("id"), col("v"), cents)
      .filter(col("cluster").isin(probes: _*))
      .select(col("id"),
        round(cosine_similarity(col("v"), typedLit(query)), 4).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Batched multi-query IVF top-k: centroids trained ONCE, each query's
    * probe list resolved on the driver (nlist × dim floats), then one
    * pruned pass over the corpus — rows outside every query's probe union
    * never compute a similarity. The (query_id, qvec, probes) frame
    * broadcasts; a row joins only the queries probing its cell
    * (`array_contains`), so per-row scoring work is |queries probing this
    * cell|, not |queries|. Per-query top-k via [[TopKAggregator]]: map-side
    * buffers cap the exchange at partitions × queries × k structs. Output:
    * `(query_id, rnk, id, sim)` — the batched-search amortization
    * ([[graft.query.Searcher]]) on the IVF scan-reduction path. */
  def ivfTopKMany(emb: DataFrame, idCol: Column, vecCol: Column,
      queries: Seq[(String, Array[Float])], k: Int, nlist: Int = 8,
      iters: Int = 2, nprobe: Int = 2, sampleFraction: Int = 50): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = trainCentroids(emb, idCol, vecCol, nlist, iters, sampleFraction)
    val qrows = queries.map { case (qid, qv) =>
      (qid, qv.toVector, probeList(cents, qv, nprobe).toVector)
    }
    val qdf = broadcast(qrows.toDF("query_id", "qvec", "probes"))
    // NO separate probe-union filter here: the join condition already drops
    // rows outside every query's probe set, and a pre-filter would sit
    // under the projection and make `nearest_centroid` evaluate twice per
    // row (Filter + Project). The coalesce(-1) guard makes `cluster`
    // non-nullable, so the inner join's inferred `isnotnull(cluster)` —
    // which would push a SECOND nearest_centroid evaluation into the scan
    // filter — folds away (null vectors get cluster -1, in no probe list).
    // The STORE path (an [[graft.query.Searcher.Ivf]] search) keeps its
    // filter — there `cluster` is a stored partition column, and the
    // filter is directory-level pruning.
    val scored = emb.select(idCol.as("id"), vecCol.as("v"))
      .withColumn("cluster",
        coalesce(nearest_centroid(col("v"), centsLit(cents)), lit(-1)))
      .join(qdf, array_contains(col("probes"), col("cluster")))
      .select(col("query_id"), col("id"),
        round(cosine_similarity(col("v"), col("qvec")), 4).as("sim"))
    TopK.perGroup(scored, Seq(col("query_id")), col("id"), col("sim"), k)
  }
}
