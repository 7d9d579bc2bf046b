package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.expr.LshBucket
import graft.functions.cosine_similarity

/**
 * Similarity search over an embedding column (north-star extension):
 *
 *  - brute force: fused cosine scan + `TakeOrderedAndProject` — exact, reads
 *    every vector once; the baseline and the correctness reference.
 *  - sign-LSH bucketed: an [[graft.expr.LshBucket]] per row partitions the
 *    space into 2^nbits cells; a query probes its own cell (plus optional
 *    1-bit-flip neighbors) and scans only those candidates. At 100 TB the
 *    bucket becomes a parquet partition key, so probing is partition
 *    pruning — the scan reads 1/2^nbits of the data per probe.
 */
object Ann {

  def lsh_bucket(c: Column, nbits: Int = 8, seed: Long = 42L): Column =
    Bridge.column(LshBucket(Bridge.expression(c), nbits, seed))

  /** Exact top-k by cosine: `(id, sim)` rows, sim rounded to 4dp,
    * deterministic tie-break on id. */
  def bruteForceTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int): DataFrame =
    emb.select(idCol.as("id"),
        round(cosine_similarity(vecCol, typedLit(query)), 4).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)

  /** Exact batched top-k over a broadcast query frame — the ground-truth
    * leg for retrieval eval ([[retrievalMetrics]]) and the multi-query
    * analog of [[bruteForceTopK]]: one corpus pass scores every query
    * (deliberately un-pruned; the approximate paths it grades are
    * [[graft.ops.Ivf.ivfTopKMany]] and friends). Per-query top-k via the
    * bounded [[TopK]] aggregator: the exchange carries
    * partitions × queries × k structs, never corpus rows.
    * Output `(query_id, rnk, id, sim)`, ties (sim desc, id asc). */
  def bruteForceTopKMany(emb: DataFrame, idCol: Column, vecCol: Column,
      queries: Seq[(String, Array[Float])], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qdf = broadcast(queries.map { case (q, v) => (q, v.toVector) }
      .toDF("query_id", "qvec"))
    val scored = emb.select(idCol.as("id"), vecCol.as("v"))
      .crossJoin(qdf)
      .select(col("query_id"), col("id"),
        round(cosine_similarity(col("v"), col("qvec")), 4).as("sim"))
    TopK.perGroup(scored, Seq(col("query_id")), col("id"), col("sim"), k)
  }

  /** Domain-similarity map: element-wise-mean centroid per group
    * ([[meanPool]]'s bit-deterministic fold), then the cosine between
    * every group pair — which sources/languages occupy the same region
    * of embedding space (mixture design, transfer pairs, near-duplicate
    * FEEDS rather than documents). Upper triangle only,
    * `(a_grp, b_grp, n_a, n_b, sim)`. Groups-bounded self-join — the
    * pooled frame broadcasts; the corpus is touched once by the pool. */
  def groupCentroidSimilarity(emb: DataFrame, idCol: Column, vecCol: Column,
      groupCol: Column): DataFrame = {
    val pooled = meanPool(emb, groupCol, idCol, vecCol)
    pooled.as("a")
      .join(broadcast(pooled.as("b")), col("a.group") < col("b.group"))
      .select(col("a.group").as("a_grp"), col("b.group").as("b_grp"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        round(cosine_similarity(col("a.centroid"), col("b.centroid")), 4)
          .as("sim"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019): for every
    * vector in `a`, its best match in `b` scored by the margin RATIO
    * `cos(x, y) / ((avgTopK_x→b + avgTopK_y→a) / 2)` — cosine normalized
    * by both endpoints' local neighborhood density, which kills the
    * hub/anti-hub false pairs raw cosine mining produces. Emits
    * `(a_id, b_id, cos, margin, mutual)` for pairs at `margin ≥
    * threshold`; `mutual` marks pairs that are also the b-side's best
    * (the "intersection" mining mode — filter on it for high precision).
    *
    * This is the exact all-pairs form (the correctness baseline, like
    * [[bruteForceTopKMany]]); at corpus scale generate candidates with
    * the IVF same-cell equi-join ([[knnGraphIvf]]) and feed the bounded
    * pair frame through the same margin arithmetic — the k-NN means and
    * best-match reductions below are already partial-agg shapes that
    * never move more than (id, cos) pairs. */
  def bitextMine(a: DataFrame, aIdCol: Column, aVecCol: Column,
      b: DataFrame, bIdCol: Column, bVecCol: Column, k: Int = 4,
      threshold: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val av = a.select(aIdCol.cast("long").as("a_id"), aVecCol.as("av"))
    val bv = b.select(bIdCol.cast("long").as("b_id"), bVecCol.as("bv"))
    val pairs = av.crossJoin(broadcast(bv))
      .select(col("a_id"), col("b_id"),
        round(cosine_similarity(col("av"), col("bv")), 4).as("c"))
    val da = TopK.perGroup(pairs, Seq(col("a_id")), col("b_id"), col("c"), k)
      .groupBy("a_id").agg(avg("sim").as("da"))
    val db = TopK.perGroup(pairs, Seq(col("b_id")), col("a_id"), col("c"), k)
      .groupBy("b_id").agg(avg("sim").as("db"))
    val fwd = pairs.groupBy("a_id")
      .agg(max(struct(col("c"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("a_id"), (-col("m.nb")).as("b_id"), col("m.c").as("c"))
    val bwd = pairs.groupBy("b_id")
      .agg(max(struct(col("c"), (-col("a_id")).as("na"))).as("m"))
      .select(col("b_id"), (-col("m.na")).as("best_a"))
    val margin = round(col("c") / ((col("da") + col("db")) / 2), 4)
    fwd.join(da, "a_id").join(db, "b_id").join(bwd, "b_id")
      .select(col("a_id"), col("b_id"), col("c").as("cos"),
        margin.as("margin"), (col("best_a") === col("a_id")).as("mutual"))
      .filter(col("margin") >= threshold)
  }

  /** Retrieval-quality metrics: recall@k, MRR@k and binary-relevance
    * nDCG@k of a ranked `system` result against a ranked `truth` result
    * (both `(query_id, rnk, id)`-shaped, as every `…TopKMany` emits).
    * Relevance is membership in `truth` (binary — truth rank order only
    * sets the ideal-DCG length); a query with no system hit scores 0 on
    * all three, and every truth query appears in the output.
    *
    * Scale shape: both inputs are already k-bounded per query (the ANN
    * paths produced them), so the hit equi-join and per-query partial
    * aggs move O(queries × k) rows — the eval is free next to the search
    * it grades. The ideal-DCG denominator folds over
    * `sequence(1, min(n_rel, k))`, bounded by k. */
  def retrievalMetrics(system: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    val log2 = (x: Column) => log(2.0, x)
    val sys = system.filter(col("rnk") <= k)
      .select(col("query_id"), col("id"), col("rnk"))
    val tr = truth.filter(col("rnk") <= k)
      .select(col("query_id"), col("id"))
    val nRel = tr.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val hits = sys.join(tr, Seq("query_id", "id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"), min("rnk").as("first_hit"),
        sum(lit(1.0) / log2(col("rnk").cast("double") + 1)).as("dcg"))
    val idcg = aggregate(
      sequence(lit(1), least(col("n_rel"), lit(k))), lit(0.0),
      (acc, i) => acc + lit(1.0) / log2(i.cast("double") + 1))
    nRel.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("n_hits"), lit(0)).cast("double") / col("n_rel"),
          4).as("recall"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 4).as("mrr"),
        round(coalesce(col("dcg"), lit(0.0)) / idcg, 4).as("ndcg"))
  }

  /** Approximate top-k: score only the rows in the query's LSH cell (and
    * `probes` 1-bit-flip neighbor cells). */
  def lshTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int, nbits: Int = 4, seed: Long = 42L,
      probes: Int = 0): DataFrame = {
    val qBucket = graft.expr.SketchOps.lshBucket(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(query), nbits, seed)
    val targets = qBucket +: (0 until math.min(probes, nbits)).map(b => qBucket ^ (1 << b))
    emb.select(idCol.as("id"), vecCol.as("v"),
        lsh_bucket(vecCol, nbits, seed).as("bucket"))
      .filter(col("bucket").isin(targets: _*))
      .select(col("id"),
        round(cosine_similarity(col("v"), typedLit(query)), 4).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) two-stage search: coarse
    * top-`refine` by cosine over the FIRST `d` dims — cosine over the
    * renormalized prefix an MRL model nests equals cosine over the raw
    * prefix slice, so no renormalized column is materialized — then an
    * exact full-dim rerank of the bounded candidate set. The 100 TB
    * story: store the d-dim prefix as its own (d/D-bandwidth) column or
    * table and scan ONLY it in stage 1; the full vector is touched for
    * `refine` rows per query. Ties: sim desc, id asc, both stages. */
  def matryoshkaTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], d: Int, k: Int, refine: Int): DataFrame = {
    require(d > 0 && d <= query.length, "prefix dim out of range")
    require(refine >= k, "refine must cover k")
    val coarse = emb.select(idCol.as("id"), vecCol.as("v"),
        round(cosine_similarity(slice(vecCol, 1, d), typedLit(query.take(d))), 4)
          .as("csim"))
      .orderBy(col("csim").desc, col("id"))
      .limit(refine)
    coarse.select(col("id"),
        round(cosine_similarity(col("v"), typedLit(query)), 4).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Deterministic Johnson–Lindenstrauss ±1 sign matrix entry for cell
    * `(i, j)` — parity of the portable md5 hash of "i j", so any engine
    * (and the DuckDB oracle) rebuilds the same matrix without shipping
    * it. */
  private[ops] def jlSign(i: Int, j: Int): Double =
    if (graft.expr.PortableHash.hex15(s"$i $j") % 2 == 0) 1.0 else -1.0

  /** The `inDim × outDim` sign matrix, built once (one md5 per cell) and
    * reused across a partition's rows. */
  private[ops] def jlSigns(inDim: Int, outDim: Int): Array[Array[Double]] =
    Array.tabulate(inDim, outDim)(jlSign)

  private def jlApply(v: Array[Float], signs: Array[Array[Double]],
      outDim: Int): Array[Double] = {
    val out = new Array[Double](outDim)
    var i = 0
    while (i < v.length) {
      val row = signs(i)
      var j = 0
      while (j < outDim) { out(j) += v(i) * row(j); j += 1 }
      i += 1
    }
    val scale = math.sqrt(outDim)
    var j = 0
    while (j < outDim) { out(j) /= scale; j += 1 }
    out
  }

  /** Driver-side twin of [[jlProject]] for a single (query) vector. */
  def jlProjectVec(v: Array[Float], outDim: Int): Array[Double] =
    jlApply(v, jlSigns(v.length, outDim), outDim)

  /** Johnson–Lindenstrauss random-sign projection (Achlioptas 2003:
    * ±1 entries are a valid JL family) to `outDim` dims, scaled by
    * 1/√outDim so expected norms are preserved. The cheap linear
    * dimension cut for clustering/blocking when no trained PCA/whitening
    * transform ([[whiten]]) or nested MRL layout ([[matryoshkaTopK]]) is
    * available — data-independent, so it needs no fit pass and never
    * drifts between batches. Row-local mapPartitions kernel; the sign
    * matrix is rebuilt from the portable hash per partition (inDim·outDim
    * doubles, never shipped); zero exchanges. Returns `(id, v)` with `v`
    * the projected ARRAY<DOUBLE>. */
  def jlProject(emb: DataFrame, idCol: Column, vecCol: Column,
      outDim: Int): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(idCol.cast("long").as("id"),
        vecCol.cast("array<float>").as("v"))
      // null vectors have no projection; drop them up front rather than
      // NPE inside the typed kernel (countMinEstimates' null discipline)
      .filter(col("v").isNotNull)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        // sign matrix built lazily from the first row's width, one md5
        // per CELL per partition — not per row
        var signs: Array[Array[Double]] = null
        it.map { case (id, v) =>
          if (signs == null || signs.length < v.length)
            signs = jlSigns(v.length, outDim)
          (id, jlApply(v, signs, outDim))
        }
      }
      .toDF("id", "v")
  }

  /** Packed sign-bit words of a vector column: ceil(d/32) 32-bit words
    * (bit = `v_i >= 0`, `acc*2+bit` big-endian folding per word) — the
    * narrow store column binary first-stage retrieval scans at 100 TB. */
  def packWordsCol(v: Column, d: Int): Column = {
    val words = (d + 31) / 32
    transform(sequence(lit(0), lit(words - 1)), w =>
      aggregate(
        sequence(w * 32 + 1, least((w + 1) * 32, lit(d))),
        lit(0L),
        (acc, i) => acc * 2 + when(element_at(v, i) >= 0d, 1L).otherwise(0L)))
  }

  /** Driver-side twin of [[packWordsCol]] for the query vector. */
  def packWords(query: Array[Float]): Seq[Long] = {
    val d = query.length
    (0 until (d + 31) / 32).map { w =>
      (w * 32 until math.min((w + 1) * 32, d)).foldLeft(0L) { (acc, i) =>
        acc * 2 + (if (query(i) >= 0) 1L else 0L)
      }
    }
  }

  /** Hamming distance between a packed-words column and a packed query:
    * `Σ bit_count(xor)` over the words — pure codegen'd built-ins. */
  def hammingCol(sig: Column, qWords: Column): Column =
    aggregate(
      zip_with(sig, qWords, (a, b) =>
        bit_count(a.bitwiseXOR(b)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Binary (sign-bit) quantized search: candidates rank by hamming over
    * the packed words (`bit_count(xor)`, whole-stage codegen), the top
    * `rerank` by `(hamming, id)` rerank by exact cosine, top `k` return
    * as `(id, hamming, sim)`. Two `TakeOrderedAndProject`s, zero
    * exchanges; at 100 TB the packed words are materialized store columns
    * ([[graft.store.VectorStore.writeVectorsQuantized]]) so the scan
    * reads d/32 longs per row and parquet column pruning keeps the float
    * vectors untouched for all but the candidates. */
  def binaryTopK(emb: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int, rerank: Int): DataFrame = {
    val hamming = hammingCol(packWordsCol(vecCol, query.length),
      typedLit(packWords(query)))
    emb.select(idCol.as("id"), vecCol.as("v"), hamming.as("hamming"))
      .orderBy(col("hamming"), col("id"))
      .limit(rerank)
      .select(col("id"), col("hamming"),
        round(cosine_similarity(col("v"), typedLit(query)), 4).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Batched binary-quantized search: one corpus pass serves every query.
    * The query frame (id, packed words, float vector) broadcasts; hamming
    * per (row, query) feeds a bounded per-query top-`rerank`
    * ([[TopK.perGroup]] — map output ≤ rerank rows per query per
    * partition, no window), and the candidate union (≤ queries × rerank
    * rows) refines by exact cosine against the vectors it joins back, with
    * a final bounded per-query top-k. Output
    * `(query_id, rnk, id, sim)` — the searchMany amortization on the
    * binary path. */
  def binaryTopKMany(emb: DataFrame, idCol: Column, vecCol: Column,
      queries: Seq[(String, Array[Float])], k: Int, rerank: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // empty batch -> empty result (like the sibling batched paths), not
    // a head-of-empty crash; d=1 keeps the unused pack expression sane
    val d = queries.headOption.fold(1)(_._2.length)
    val qdf = queries.map { case (qid, qv) =>
      (qid, packWords(qv), qv.toSeq) }.toDF("query_id", "qwords", "qvec")
    val scoredAll = emb
      .select(idCol.cast("long").as("id"), vecCol.as("v"),
        packWordsCol(vecCol, d).as("sig"))
      .crossJoin(broadcast(qdf))
      .select(col("query_id"), col("id"),
        hammingCol(col("sig"), col("qwords")).as("hamming"))
    val cands = TopK.perGroup(scoredAll.withColumn("neg", -col("hamming")),
      Seq(col("query_id")), col("id"), col("neg"), rerank)
      .select(col("query_id"), col("id"))
    refineMany(cands, emb, idCol, vecCol, qdf.select("query_id", "qvec"), k)
  }

  /** Exact-cosine refine for a bounded batched candidate set: join the
    * candidates back to their vectors and query vectors, re-rank per
    * query with the bounded aggregator. */
  private[ops] def refineMany(cands: DataFrame, emb: DataFrame,
      idCol: Column, vecCol: Column, qvecs: DataFrame, k: Int): DataFrame = {
    val vecs = emb.select(idCol.cast("long").as("id"), vecCol.as("v"))
    val exact = cands.join(vecs, "id").join(broadcast(qvecs), "query_id")
      .select(col("query_id"), col("id"),
        round(cosine_similarity(col("v"), col("qvec")), 4).as("sim"))
    TopK.perGroup(exact, Seq(col("query_id")), col("id"), col("sim"), k)
      .select(col("query_id"), col("rnk").cast("bigint").as("rnk"),
        col("id"), col("sim"))
      .orderBy("query_id", "rnk")
  }

  /** Hard-negative mining for retrieval training: for each query, the
    * top-k most-similar corpus vectors EXCLUDING its known positives —
    * the negatives a contrastive trainer pairs against each anchor.
    * One corpus pass for the whole query batch (broadcast query frame
    * carrying each query's positive-id list; exclusion is a row-local
    * `array_contains` filter), bounded per-query top-k via the grouped
    * aggregator. Output `(query_id, rnk, id, sim)`. */
  def hardNegatives(emb: DataFrame, idCol: Column, vecCol: Column,
      queries: Seq[(String, Array[Float], Seq[Long])], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qdf = queries.map { case (qid, qv, pos) => (qid, qv.toSeq, pos) }
      .toDF("query_id", "qvec", "pos")
    val scored = emb
      .select(idCol.cast("long").as("id"), vecCol.as("v"))
      .crossJoin(broadcast(qdf))
      .filter(!array_contains(col("pos"), col("id")))
      .select(col("query_id"), col("id"),
        round(cosine_similarity(col("v"), col("qvec")), 4).as("sim"))
    TopK.perGroup(scored, Seq(col("query_id")), col("id"), col("sim"), k)
      .select(col("query_id"), col("rnk").cast("bigint").as("rnk"),
        col("id"), col("sim"))
      .orderBy("query_id", "rnk")
  }

  /** Element-wise MEAN of a group's vectors — chunk embeddings pooled to a
    * document embedding (the standard mean-pool). Deterministic to the
    * bit: each group's vectors fold in ascending `orderCol` order (sorted
    * struct list, left-fold `zip_with` sum), never in partition arrival
    * order — floating-point sums are order-sensitive, and a
    * nondeterministic sum would break engine parity and run-to-run
    * determinism. Group state is the group's own vector list (bounded by
    * chunks-per-document), map-side combined by Spark's partial
    * aggregation. Returns `(group, n, centroid)`. */
  def meanPool(df: org.apache.spark.sql.DataFrame, groupCol: Column,
      orderCol: Column, vecCol: Column): org.apache.spark.sql.DataFrame = {
    val sorted = array_sort(collect_list(struct(orderCol.as("o"),
      vecCol.cast("array<double>").as("v"))))
    df.groupBy(groupCol.as("group"))
      .agg(count(lit(1)).as("n"), sorted.as("vs"))
      .select(col("group"), col("n"),
        transform(
          aggregate(col("vs"),
            transform(element_at(col("vs"), 1).getField("v"), _ => lit(0.0)),
            (acc, x) => zip_with(acc, x.getField("v"), (a, b) => a + b)),
          s => s / col("n")).as("centroid"))
  }

  /** Embedding-cosine near-duplicate pairs (brute force over a bounded
    * range; LSH-bucketed variant below for scale). */
  def nearDupPairs(emb: DataFrame, idCol: Column, vecCol: Column,
      threshold: Double): DataFrame = {
    val v = emb.select(idCol.as("id"), vecCol.as("v"))
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        round(cosine_similarity(col("a.v"), col("b.v")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Per-partition co-moment sums for [[covarianceMatrix]]/[[whiten]]:
    * `(n, Σx, ΣxxT)` accumulated in compiled code and merged on the
    * driver in partition order — #partitions × (d² + d) doubles total,
    * never an n×d² exploded shuffle. */
  private def coMoments(emb: DataFrame, vecCol: Column,
      dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val parts = emb.select(vecCol.cast("array<double>").as("v"))
      .as[Seq[Double]].rdd
      .mapPartitions { it =>
        val sx = new Array[Double](dim)
        val sxy = Array.ofDim[Double](dim, dim)
        var n = 0L
        it.foreach { v =>
          require(v.length == dim, s"expected dim $dim, got ${v.length}")
          val a = v.toArray
          var i = 0
          while (i < dim) {
            sx(i) += a(i)
            var j = i
            while (j < dim) { sxy(i)(j) += a(i) * a(j); j += 1 }
            i += 1
          }
          n += 1
        }
        Iterator.single((n, sx, sxy.map(_.toSeq).toSeq))
      }
      .collect()
    val sx = new Array[Double](dim)
    val sxy = Array.ofDim[Double](dim, dim)
    var n = 0L
    parts.foreach { case (pn, psx, psxy) =>
      n += pn
      var i = 0
      while (i < dim) {
        sx(i) += psx(i)
        var j = i
        while (j < dim) { sxy(i)(j) += psxy(i)(j); j += 1 }
        i += 1
      }
    }
    (n, sx, sxy)
  }

  /** Upper-triangle SAMPLE covariance of the embedding column:
    * `(i, j, cov)` for `i ≤ j`, 6dp — the input statistic for whitening
    * and for drift checks between embedding batches. One corpus pass,
    * ZERO exchanges (see [[coMoments]]); the result is d²-bounded. */
  def covarianceMatrix(emb: DataFrame, vecCol: Column, dim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (n, sx, sxy) = coMoments(emb, vecCol, dim)
    require(n >= 2, "covariance needs at least 2 rows")
    val rows = for (i <- 0 until dim; j <- i until dim) yield {
      val cov = (sxy(i)(j) - sx(i) * sx(j) / n) / (n - 1)
      (i, j, java.math.BigDecimal.valueOf(cov)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    rows.toDF("i", "j", "cov")
  }

  /** ZCA whitening: `x → Q diag(1/√(λ+eps)) Qᵀ (x − μ)` with `(Q, λ)`
    * the eigen-decomposition of the sample covariance — the embedding
    * post-processing that equalizes variance across directions (dedup
    * thresholds and quantizers then see isotropic geometry). Returns
    * `(id, v)` with `v` the whitened double vector.
    *
    * Scale shape: the statistics come from the one-pass zero-exchange
    * [[coMoments]]; the d×d eigen-decomposition runs on the driver
    * (commons-math, d ≤ a few thousand); the transform broadcasts W and
    * μ and applies row-locally — no shuffle anywhere. */
  def whiten(emb: DataFrame, idCol: Column, vecCol: Column, dim: Int,
      eps: Double = 1e-6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (n, sx, sxy) = coMoments(emb, vecCol, dim)
    require(n >= 2, "whitening needs at least 2 rows")
    val mean = sx.map(_ / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (sxy(a)(b) - sx(a) * sx(b) / n) / (n - 1)
    }
    val eig = new org.apache.commons.math3.linear.EigenDecomposition(
      new org.apache.commons.math3.linear.Array2DRowRealMatrix(cov))
    val q = eig.getV
    val scale = org.apache.commons.math3.linear.MatrixUtils
      .createRealDiagonalMatrix(
        eig.getRealEigenvalues.map(l => 1.0 / math.sqrt(math.max(l, 0.0) + eps)))
    val w = q.multiply(scale).multiply(q.transpose).getData
    val bcW = spark.sparkContext.broadcast(w)
    val bcMean = spark.sparkContext.broadcast(mean)
    emb.select(idCol.cast("long").as("id"), vecCol.cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { rows =>
        val wm = bcW.value
        val mu = bcMean.value
        rows.map { case (id, v) =>
          val x = v.toArray
          var i = 0
          while (i < x.length) { x(i) -= mu(i); i += 1 }
          val y = new Array[Double](x.length)
          i = 0
          while (i < x.length) {
            var s = 0.0
            var j = 0
            while (j < x.length) { s += wm(i)(j) * x(j); j += 1 }
            y(i) = s
            i += 1
          }
          (id, y.toSeq)
        }
      }
      .toDF("id", "v")
  }

  /** PCA projection onto the top `nComponents` principal directions —
    * the data-dependent dimensionality reduction next to the
    * data-oblivious JL projection and the truncation-style Matryoshka
    * cut: embeddings project onto the directions of maximal variance,
    * the 2-D map / drift-chart / cheap-prefilter standard.
    *
    * The components come from FIXED-SWEEP POWER ITERATION with
    * deflation, NOT a black-box eigensolver: `v₀ = 1/√d`, `sweeps`
    * rounds of `v ← Cv / ‖Cv‖`, `λ = vᵀCv`, then `C ← C − λvvᵀ` and
    * repeat. Deterministic replayable arithmetic is the point — the
    * DuckDB oracle reruns the identical sweeps from the identical
    * start, so parity never depends on convergence or on matching an
    * engine-internal eigen routine (the [[whiten]] decomposition can
    * only be spec-checked; this path is oracle-checked end to end).
    * Sample covariance is PSD, so the iterate's sign is itself
    * deterministic. Convergence to the true component needs a spectral
    * gap (`(λ₂/λ₁)^sweeps` error — the planted-direction spec pins
    * it); with no gap the output is still a well-defined deterministic
    * basis of the top eigenspace.
    *
    * Scale shape: statistics via the one-pass zero-exchange
    * [[coMoments]]; the d×d sweeps run on the driver (d² doubles);
    * the projection broadcasts `nComponents·d + d` doubles and applies
    * row-locally — no shuffle anywhere. Output:
    * `(id, pc1 … pcN)` (4dp). */
  def pcaProject(emb: DataFrame, idCol: Column, vecCol: Column, dim: Int,
      nComponents: Int = 2, sweeps: Int = 40): DataFrame = {
    require(nComponents >= 1 && nComponents <= dim,
      "pcaProject: 1 <= nComponents <= dim")
    require(sweeps >= 1, "pcaProject: sweeps >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val (n, sx, sxy) = coMoments(emb, vecCol, dim)
    require(n >= 2, "pca needs at least 2 rows")
    val mean = sx.map(_ / n)
    val c = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (sxy(a)(b) - sx(a) * sx(b) / n) / (n - 1)
    }
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var s = 0.0
        var j = 0
        while (j < dim) { s += m(i)(j) * v(j); j += 1 }
        out(i) = s
        i += 1
      }
      out
    }
    val comps = Array.ofDim[Double](nComponents, dim)
    for (k <- 0 until nComponents) {
      var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      for (_ <- 1 to sweeps) {
        val w = matvec(c, v)
        val nor = math.sqrt(w.map(x => x * x).sum)
        v = if (nor > 0) w.map(_ / nor) else w
      }
      val cv = matvec(c, v)
      var lambda = 0.0
      var i = 0
      while (i < dim) { lambda += v(i) * cv(i); i += 1 }
      comps(k) = v
      i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { c(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
    }
    val bcC = spark.sparkContext.broadcast(comps)
    val bcMean = spark.sparkContext.broadcast(mean)
    val nc = nComponents
    val projected = emb
      .select(idCol.cast("long").as("id"),
        vecCol.cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { rows =>
        val cs = bcC.value
        val mu = bcMean.value
        rows.map { case (id, v) =>
          val pcs = new Array[Double](nc)
          var k = 0
          while (k < nc) {
            var s = 0.0
            var i = 0
            while (i < mu.length) { s += (v(i) - mu(i)) * cs(k)(i); i += 1 }
            pcs(k) = s
            k += 1
          }
          (id, pcs.toSeq)
        }
      }
      .toDF("id", "pcs")
    // + 0.0 canonicalizes IEEE negative zero (round(-1e-9, 4) = -0.0,
    // which engines PRINT differently while comparing equal)
    projected.select(col("id") +:
      (0 until nc).map(k =>
        (round(element_at(col("pcs"), k + 1), 4) + lit(0.0))
          .as(s"pc${k + 1}")): _*)
  }

  /** EXACT k-nearest-neighbor graph: `(id, rnk, nbr, sim)` — each
    * vector's top `k` neighbors by 4dp-rounded cosine (ties → lowest
    * neighbor id), ranked through the bounded [[TopK]] aggregator so no
    * window sort ever sees the O(n²) candidate stream. The scored join
    * BROADCASTS the whole vector table (an embedding table is k×dim
    * floats per row — MBs up to low GBs), so this is the exact
    * BASELINE/diagnostic; [[knnGraphIvf]] is the pruned scale path, and
    * the pair of them is what a recall report compares. */
  def knnGraph(emb: DataFrame, idCol: Column, vecCol: Column,
      k: Int): DataFrame = {
    val v = emb.select(idCol.cast("long").as("id"),
      vecCol.cast("array<float>").as("v"))
    // The stream side MUST be repartitioned with an explicit count: the
    // O(n·|broadcast|) scoring work parallelizes per stream partition,
    // and a small parquet scan arrives as ONE partition — measured 7.7 s
    // of task time on a single core at sf0.1 (q149) vs ~0.6 s spread
    // over 32. The explicit numPartitions pins a REPARTITION_BY_NUM
    // shuffle origin, which AQE's coalescer leaves alone (a bare
    // repartition(col) would be coalesced right back to 1 for tiny
    // inputs, undoing the spread).
    val p = math.max(
      emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt, 1)
    rankEdges(v.repartition(p, col("id")).as("a").join(broadcast(v.as("b")),
      col("a.id") =!= col("b.id")), k)
  }

  /** The shared kNN edge contract: score candidate pairs by 4dp-rounded
    * cosine, rank per query through the bounded [[TopK]] aggregator —
    * ONE place, so the exact and pruned graphs (and therefore the q149
    * recall comparison between them) can never drift on rounding or tie
    * rules. Input: a joined frame with `a.id/a.v/b.id/b.v`. */
  private def rankEdges(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.select(col("a.id").as("qid"), col("b.id").as("cid"),
      round(cosine_similarity(col("a.v"), col("b.v")), 4).as("sim"))
    TopK.perGroup(scored, Seq(col("qid")), col("cid"), col("sim"), k)
      .select(col("qid").as("id"), col("rnk"), col("id").as("nbr"), col("sim"))
  }

  /** IVF-pruned kNN graph: candidates are same-cluster pairs only — an
    * EQUI-join on the learned cluster id, so the shuffle is bucketed by
    * cell and the pair fan-out is bounded by the largest cell, never n².
    * Same output contract as [[knnGraph]]; vectors alone in their cell
    * contribute no edges (the recall report measures exactly what that
    * pruning costs). */
  def knnGraphIvf(emb: DataFrame, idCol: Column, vecCol: Column, k: Int,
      nlist: Int, iters: Int = 2, sampleFraction: Int = 100): DataFrame = {
    val v = emb.select(idCol.cast("long").as("id"),
      vecCol.cast("array<float>").as("v"))
    val cents = Ivf.trainCentroids(v, col("id"), col("v"), nlist, iters,
      sampleFraction)
    val assigned = Ivf.assignClusters(v, col("id"), col("v"), cents)
    rankEdges(assigned.as("a").join(assigned.as("b"),
      col("a.cluster") === col("b.cluster") && col("a.id") =!= col("b.id")), k)
  }

  /** Near-dup pairs with the self-join restricted to same-LSH-cell rows:
    * shuffle and compare only within cells instead of the full cross
    * product. Recall follows the sign-LSH collision probability
    * `(1 - θ/π)^nbits` — callers trade nbits for recall. */
  def lshNearDupPairs(emb: DataFrame, idCol: Column, vecCol: Column,
      threshold: Double, nbits: Int = 4, seed: Long = 42L): DataFrame = {
    val v = emb.select(idCol.as("id"), vecCol.as("v"),
      lsh_bucket(vecCol, nbits, seed).as("bucket"))
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        round(cosine_similarity(col("a.v"), col("b.v")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Leave-one-out k-NN classification over the embedding space — the
    * "is this labeling learnable from geometry" probe (and the
    * label-noise detector: rows whose neighbors consistently outvote
    * their own label): each vector takes the majority label of its
    * [[knnGraph]] neighbors, ties broken by the SMALLEST label (the
    * portable two-step argmax — max count, then min label — integer
    * comparisons every engine shares). Output
    * `(id, pred, votes, actual, correct)`.
    *
    * Scale shape: the kNN edges come from the shared [[knnGraph]] /
    * [[knnGraphIvf]] contract (swap in the pruned graph at corpus
    * scale); labels broadcast; voting is two grouped aggs on the
    * |edges| frame. */
  def knnClassify(emb: DataFrame, idCol: Column, vecCol: Column,
      labelCol: Column, k: Int): DataFrame = {
    val edges = knnGraph(emb, idCol, vecCol, k)
    val labels = emb.select(idCol.cast("long").as("nbr"),
        labelCol.cast("long").as("lbl"))
      .localCheckpoint(true) // read twice: votes + the actual join
    val votes = edges.join(broadcast(labels), "nbr")
      .groupBy(col("id"), col("lbl")).agg(count(lit(1)).as("cv"))
      .localCheckpoint(true) // read twice: max + argmax
    val mx = votes.groupBy("id").agg(max("cv").as("mv"))
    votes.join(mx, Seq("id"))
      .filter(col("cv") === col("mv"))
      .groupBy("id")
      .agg(min("lbl").as("pred"), max("cv").as("votes"))
      .join(labels.select(col("nbr").as("id"), col("lbl").as("actual")),
        "id")
      .select(col("id"), col("pred"), col("votes"), col("actual"),
        (col("pred") === col("actual")).as("correct"))
  }

  /** Davies–Bouldin index of a labelled partition of the embedding
    * space — the internal cluster-quality score next to
    * [[Ivf.silhouetteSimplified]]: per cluster the mean Euclidean
    * member→centroid distance (scatter S), then
    * `DB = (1/k) Σ_i max_{j≠i} (S_i + S_j) / ‖c_i − c_j‖` — lower is
    * better-separated. Output ONE row `(n_clusters, db_index)` (4dp).
    *
    * Scale shape: centroids are one grouped per-dim mean (dims
    * exploded — ints and doubles shuffle, never whole vectors);
    * scatter is one broadcast-centroid pass over the members (the
    * fold is per-row over d elements); the max-ratio cross runs on
    * the k-row centroid frame. */
  def daviesBouldin(emb: DataFrame, idCol: Column, vecCol: Column,
      clusterCol: Column): DataFrame = {
    val v = emb.select(idCol.cast("long").as("id"),
        vecCol.cast("array<double>").as("v"),
        clusterCol.cast("long").as("c"))
      .filter(col("c").isNotNull)
      .localCheckpoint(true) // read twice: centroids + scatter
    val cent = v.select(col("c"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("c", "i").agg(avg("x").as("m"))
      .groupBy("c")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("cv"))
      .localCheckpoint(true) // read 3×: scatter + both cross sides
    val dist = (a: Column, b: Column) => sqrt(aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))
    val scatter = v.join(broadcast(cent), "c")
      .select(col("c"), dist(col("v"), col("cv")).as("d"))
      .groupBy("c").agg(avg("d").as("s"))
    val cc = cent.join(scatter, "c")
    // the k-row cross is deliberate; broadcast pins it to a nested
    // loop instead of a CartesianProduct (PlanGuard's global ban)
    cc.as("x").join(broadcast(cc.as("y")), col("x.c") =!= col("y.c"))
      .select(col("x.c").as("c"),
        ((col("x.s") + col("y.s")) /
          dist(col("x.cv"), col("y.cv"))).as("ratio"))
      .groupBy("c").agg(max("ratio").as("r"))
      .agg(count(lit(1)).as("n_clusters"),
        round(avg("r"), 4).as("db_index"))
  }

  /** Exact DBSCAN over a 2-d projection (Ester et al., KDD'96) — the
    * density clusterer that finds arbitrary-shape groups and labels
    * sparse points NOISE, run on two coordinate columns (feed raw
    * features, a [[pcaProject]] plane, or any 2-d score space). A
    * point is CORE when ≥ `minPts` points (itself included) sit
    * within `eps` Euclidean distance; clusters are the connected
    * components of the core-core ε-graph (labelled by their min core
    * id — the deterministic stand-in for scan order); border points
    * (non-core with a core neighbor) take the SMALLEST neighboring
    * core's cluster; everything else is noise, cluster −1. Output
    * `(id, is_core, cluster)`.
    *
    * Scale shape: neighbor pairs come from a GRID equi-join — each
    * point replicates into its 3×3 neighborhood of eps-sized cells
    * (9 rows, exact — a pair within eps can never span farther than
    * adjacent cells) and joins cell-to-cell, so candidate generation is
    * density-bounded, never the all-pairs cross. Components resolve by
    * the path-halving min-label loop ([[Dedup.duplicateClusters]] —
    * O(log diameter) rounds of int-only joins); components still
    * merging after `maxIters` rounds throw an `IllegalStateException`
    * naming `duplicateClusters` and the cap.
    *
    * Memory contract: the pair pass materializes Σ_cell k·K₃ₓ₃
    * candidate rows (~64 B each) through one shuffle — the quantity
    * that OOMed the round-11 100× rehearsal at an 8 GiB heap. A cheap
    * exact pre-count over the per-cell histogram guards it:
    * `maxCandidatePairs` (default 5×10⁷ ≈ 3 GiB) fails fast with the
    * sizing formula; raise it in proportion to provisioned executor
    * memory (rows × 64 B ÷ shuffle partitions per task). */
  def dbscan(df: DataFrame, idCol: Column, xCol: Column, yCol: Column,
      eps: Double, minPts: Int, maxIters: Int = 20,
      maxCandidatePairs: Long = 50000000L): DataFrame = {
    require(eps > 0, "dbscan: eps must be positive")
    require(minPts >= 1, "dbscan: minPts must be >= 1")
    require(maxCandidatePairs >= 1, "dbscan: maxCandidatePairs >= 1")
    val pts = df.select(idCol.cast("long").as("id"),
        xCol.cast("double").as("x"), yCol.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))
      .localCheckpoint(true) // read 3×: density guard + probe + build
    // density guard (round-11 rehearsal lesson: the 100× point cloud
    // OOMed an 8 GiB heap mid-aggregation — ~129M candidate rows ×
    // ~64 B ≈ 8.3 GiB): count the EXACT pre-filter candidate volume
    // Σ_cell k_c·K₃ₓ₃(c) on the tiny per-cell count table (|cells| ≤
    // |points|, one k²-free join) and fail fast with the sizing
    // formula instead of dying mid-shuffle.
    val cells = pts.groupBy("cx", "cy").agg(count(lit(1)).as("k"))
      .localCheckpoint(true) // read twice: probe + build of the guard
    val cellProbe = cells.select(col("k").as("ka"),
        explode(sequence(col("cx") - 1, col("cx") + 1)).as("cx"),
        col("cy").as("cy0"))
      .select(col("ka"), col("cx"),
        explode(sequence(col("cy0") - 1, col("cy0") + 1)).as("cy"))
    val estPairs = cellProbe.join(cells, Seq("cx", "cy"))
      .agg(coalesce(sum(col("ka") * col("k")), lit(0L)))
      .head().getLong(0)
    require(estPairs <= maxCandidatePairs,
      f"dbscan: eps-grid candidate volume = $estPairs%,d rows (> " +
        f"maxCandidatePairs = $maxCandidatePairs%,d). At ~64 B/row the " +
        f"pair pass needs ≈ ${estPairs * 64.0 / (1L << 30)}%.1f GiB of " +
        "shuffle+aggregation memory across the cluster " +
        "(candidate_rows × 64 B; divide by shuffle partitions for the " +
        "per-task bound). Provision executor memory to that formula " +
        "and raise maxCandidatePairs deliberately, or shrink eps so " +
        "per-cell density drops.")
    val probe = pts.select(col("id").as("ia"), col("x").as("xa"),
        col("y").as("ya"),
        explode(sequence(col("cx") - 1, col("cx") + 1)).as("cx"),
        col("cy").as("cy0"))
      .select(col("ia"), col("xa"), col("ya"), col("cx"),
        explode(sequence(col("cy0") - 1, col("cy0") + 1)).as("cy"))
    val base = pts.select(col("id").as("ib"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    val dx = col("xa") - col("xb")
    val dy = col("ya") - col("yb")
    val nbr = probe.join(base, Seq("cx", "cy"))
      .filter(col("ia") =!= col("ib") &&
        dx * dx + dy * dy <= lit(eps) * lit(eps))
      .select(col("ia"), col("ib"))
      .localCheckpoint(true) // read 3×: counts, core edges, border
    val coreIds = pts
      .join(nbr.groupBy(col("ia").as("id")).agg(count(lit(1)).as("nn")),
        Seq("id"), "left")
      .filter(coalesce(col("nn"), lit(0L)) + 1 >= minPts)
      .select(col("id"))
      .localCheckpoint(true) // read 3×: edges, labels, border lookup
    val coreEdges = nbr
      .join(coreIds.select(col("id").as("ia")), Seq("ia"), "left_semi")
      .join(coreIds.select(col("id").as("ib")), Seq("ib"), "left_semi")
    val cc = Dedup.duplicateClusters(coreEdges, col("ia"), col("ib"),
      maxIters)
    val coreLab = coreIds.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id"))
        .as("cluster"))
      .localCheckpoint(true) // read twice: output + border lookup
    val borderLab = nbr
      .join(coreLab.select(col("id").as("ib"), col("cluster")), Seq("ib"))
      .join(coreIds.select(col("id").as("ia")), Seq("ia"), "left_anti")
      .groupBy(col("ia").as("id")).agg(min(col("cluster")).as("cluster"))
    val labelled = coreLab.withColumn("is_core", lit(true))
      .unionByName(borderLab.withColumn("is_core", lit(false)))
    pts.select(col("id")).join(labelled, Seq("id"), "left")
      .select(col("id"), coalesce(col("is_core"), lit(false)).as("is_core"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
