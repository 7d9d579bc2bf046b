package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.expr.{MinHashSignature, SimHash}

/**
 * Deduplication operators for training-data pipelines (north-star
 * extensions; SURVEY §2.7 notes the reference has none — these are the ops a
 * 100 TB corpus needs before embedding):
 *
 *  - exact: content-hash groupBy (one shuffle on the hash).
 *  - MinHash + LSH: per-row signature (no shuffle) → band-bucket explode →
 *    self-join on (band, bucket) → exact-verify candidates. Shuffle volume
 *    is #rows × #bands small ints, never the text; candidate verification
 *    touches only colliding pairs — the standard web-scale recipe.
 *  - SimHash: per-row 60-bit sketch; near-dups = small hamming distance,
 *    found via band-bucket join on 15-bit chunks (any pair within hamming 3
 *    shares at least one of 4 chunks).
 *  - n-gram Jaccard: exact token-set similarity for candidate pairs.
 *  - embedding cosine: see [[Ann.nearDupPairs]].
 */
object Dedup {

  private def col_(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Bridge.column(e)

  def minhash(c: Column, numHashes: Int = 64, shingleSize: Int = 3,
      seed: Long = 42L): Column =
    col_(MinHashSignature(Bridge.expression(c), numHashes, shingleSize, seed))

  def simhash(c: Column, seed: Long = 42L): Column =
    col_(SimHash(Bridge.expression(c), seed))

  /** MinHash ESTIMATE-vs-EXACT calibration over a bounded evaluation
    * sample: for every pair, the signature estimate (matching positions
    * / `numHashes`) against the exact distinct-token Jaccard, reported
    * per exact-similarity bucket — the "how many hash functions does my
    * threshold actually need" eval artifact behind every
    * banding-parameter choice. Returns
    * `(bucket, n_pairs, avg_abs_err, max_abs_err)` with `bucket =
    * min(⌊exact·buckets⌋, buckets−1)`; errors round to 4dp and
    * aggregate as integer 1e-4ths, so the report is summation-order
    * independent (the q142 exact-longs stance).
    *
    * The pair join is an explicit broadcast nested loop over the
    * EVALUATION SAMPLE — all-pairs by design, like the q45/knnGraph
    * bounded recall baselines; production similarity stays banded. */
  def minhashCalibration(df: DataFrame, idCol: Column, textCol: Column,
      buckets: Int = 10, numHashes: Int = 64): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val rows = df.filter(length(trim(textCol)) > 0)
      .select(idCol.cast("long").as("id"),
        minhash(textCol, numHashes, shingleSize = 1).as("sig"),
        array_distinct(array_remove(split(textCol, "\\s+"), "")).as("tk"))
    val matches = aggregate(
      zip_with(col("a.sig"), col("b.sig"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m)
    val est = matches.cast("double") / numHashes
    val exact = size(array_intersect(col("a.tk"), col("b.tk"))).cast("double") /
      size(array_distinct(concat(col("a.tk"), col("b.tk"))))
    rows.as("a").join(broadcast(rows.as("b")), col("a.id") < col("b.id"))
      .select(
        least(floor(exact * buckets).cast("int"), lit(buckets - 1)).as("bucket"),
        round(round(abs(est - exact), 4) * 10000, 0).cast("long").as("err4"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum("err4") / (count(lit(1)) * 10000.0), 4).as("avg_abs_err"),
        (max("err4") / 10000.0).as("max_abs_err"))
      .select(col("bucket").cast("bigint").as("bucket"), col("n_pairs"),
        col("avg_abs_err"), col("max_abs_err"))
  }

  /** Exact duplicate groups by a key expression (default: the full text).
    * Returns `(h, n, keep)` — hash, group size, smallest id (the canonical
    * row to keep). */
  def exactDuplicates(df: DataFrame, idCol: Column, keyCol: Column): DataFrame =
    df.groupBy(sha2(keyCol, 256).as("h"))
      .agg(count("*").as("n"), min(idCol).as("keep"))
      .filter(col("n") > 1)

  /** The LSH band table `(id, band, bucket)` of a corpus — the artifact an
    * INCREMENTAL pipeline persists (parquet, partitioned or bucketed by
    * `(band, bucket)`): new batches join against it without recomputing a
    * single corpus signature. Band bucket = the band's signature slice
    * verbatim (joined as a string key): exact equality, no cross-band or
    * hash-collision candidates — the oracle reproduces the buckets from
    * md5 alone. Token-less documents are excluded up front (their sentinel
    * signatures would band-match each other). */
  def bandTable(df: DataFrame, idCol: Column, textCol: Column,
      bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
      shingleSize: Int = 3): DataFrame = {
    val sig = df.filter(length(trim(textCol)) > 0).select(idCol.as("id"),
      minhash(textCol, bands * rowsPerBand, shingleSize, seed).as("sig"))
    sig.select(col("id"),
      posexplode(array((0 until bands).map(bn =>
        concat_ws("_", slice(col("sig"), bn * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>"))): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Distinct LSH candidate pairs `(a_id, b_id)` from the band table's
    * self-join. */
  def lshCandidatePairs(df: DataFrame, idCol: Column, textCol: Column,
      bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
      shingleSize: Int = 3): DataFrame = {
    val banded = bandTable(df, idCol, textCol, bands, rowsPerBand, seed,
      shingleSize)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** Incremental near-duplicate detection: a NEW batch against an EXISTING
    * corpus via the corpus's persisted [[bandTable]] — the shape a daily
    * ingest runs, where the corpus side costs zero signature recomputation
    * and the join touches only colliding `(band, bucket)` keys. With the
    * stored table bucketed on `(band, bucket)`, only the (small) new
    * batch shuffles. New-vs-new duplicates inside the batch are
    * [[minHashDuplicates]]'s job — this op returns CROSS pairs only:
    * `(corpus_id, new_id, jaccard)` at ≥ `threshold`, exact-verified on
    * the same shingle space the signatures were built over. */
  def incrementalDuplicates(newDf: DataFrame, newIdCol: Column,
      newTextCol: Column, corpusBands: DataFrame, corpus: DataFrame,
      corpusIdCol: Column, corpusTextCol: Column, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
      shingleSize: Int = 3): DataFrame = {
    val newBands = bandTable(newDf, newIdCol, newTextCol, bands, rowsPerBand,
      seed, shingleSize)
    val cands = corpusBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("corpus_id"), col("b.id").as("new_id"))
      .distinct()
    val aToks = corpus.select(corpusIdCol.as("corpus_id"),
      shingleSet(corpusTextCol, shingleSize).as("a_toks"))
    val bToks = newDf.select(newIdCol.as("new_id"),
      shingleSet(newTextCol, shingleSize).as("b_toks"))
    cands.join(aToks, "corpus_id").join(bToks, "new_id")
      .select(col("corpus_id"), col("new_id"),
        (size(array_intersect(col("a_toks"), col("b_toks"))).cast("double") /
          size(array_union(col("a_toks"), col("b_toks")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Distinct word `shingleSize`-gram set of a text column (shingleSize = 1
    * → unigram token set). MUST match the shingle space the MinHash
    * signature was built over, or LSH candidates and verification measure
    * different similarities. */
  def shingleSet(textCol: Column, shingleSize: Int): Column = {
    // array_remove "" so edge whitespace can't mint an empty token:
    // SketchOps.tokens (the signature space) never produces one, and the
    // MUST-match contract below extends to edge-whitespace documents
    val toks = array_remove(split(textCol, "\\s+"), "")
    if (shingleSize <= 1) array_distinct(toks)
    else array_distinct(
      when(size(toks) < shingleSize, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - shingleSize),
          i => concat_ws(" ", slice(toks, i + 1, lit(shingleSize))))))
  }

  /** Exact shingle-set Jaccard for given id pairs (verification step). */
  def verifyJaccard(pairs: DataFrame, df: DataFrame, idCol: Column,
      textCol: Column, shingleSize: Int = 3): DataFrame = {
    val toks = df.select(idCol.as("id"), shingleSet(textCol, shingleSize).as("toks"))
    pairs
      .join(toks.withColumnRenamed("id", "a_id").withColumnRenamed("toks", "a_toks"), "a_id")
      .join(toks.withColumnRenamed("id", "b_id").withColumnRenamed("toks", "b_toks"), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_toks"), col("b_toks"))).cast("double") /
          size(array_union(col("a_toks"), col("b_toks")))).as("jaccard"))
  }

  /** Containment pairs: one-sided Jaccard `|A∩B| / |A|` — detects
    * near-SUBSET documents (quoted posts, excerpted articles) that
    * symmetric Jaccard misses when the containing document is much
    * larger. Candidates come from the same banded LSH table (a subset
    * shares its shingles, so it collides with its superset's bands when
    * the size ratio is moderate; for extreme ratios raise `bands`);
    * verification is exact on the shared shingle space. Returns both
    * directions: `(a_id, b_id, a_in_b, b_in_a)` filtered on
    * `max(a_in_b, b_in_a) >= threshold`. */
  def containmentPairs(df: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4,
      shingleSize: Int = 1, seed: Long = 42L): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand,
      seed, shingleSize)
    val toks = df.select(idCol.as("id"), shingleSet(textCol, shingleSize).as("toks"))
    cands
      .join(toks.withColumnRenamed("id", "a_id").withColumnRenamed("toks", "a_toks"), "a_id")
      .join(toks.withColumnRenamed("id", "b_id").withColumnRenamed("toks", "b_toks"), "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("a_toks"), col("b_toks"))).cast("double")
          / size(col("a_toks")), 4).as("a_in_b"),
        round(size(array_intersect(col("a_toks"), col("b_toks"))).cast("double")
          / size(col("b_toks")), 4).as("b_in_a"))
      .filter(greatest(col("a_in_b"), col("b_in_a")) >= threshold)
  }

  /** MinHash-LSH near-duplicate pairs with exact shingle-Jaccard ≥
    * threshold (same shingle space for signature and verification). */
  def minHashDuplicates(df: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4,
      shingleSize: Int = 3, seed: Long = 42L): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand, seed,
      shingleSize)
    verifyJaccard(cands, df, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-duplicate pairs within `maxHamming` (≤ 3 for full recall
    * with 4 chunks): band the 60-bit signature into four 15-bit chunks,
    * verify with `bit_count(a^b)`. Token-less documents (signature would be
    * 0) are excluded up front, matching the oracle. */
  def simHashDuplicates(df: DataFrame, idCol: Column, textCol: Column,
      maxHamming: Int = 3, seed: Long = 42L): DataFrame = {
    val sigs = df.filter(length(trim(textCol)) > 0)
      .select(idCol.as("id"), simhash(textCol, seed).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(bn =>
        shiftright(col("sig"), bn * 15).bitwiseAND(lit(0x7FFFL))): _*)))
      .select(col("id"), col("sig"), col("pos").as("band"), col("col").as("chunk"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The persisted SimHash signature table of a frozen corpus — `(id,
    * sig)`, one 60-bit sketch per document: the simhash member of the
    * `…Against` artifact family ([[frequentLines]], [[repeatedGrams]]
    * stance). 8 bytes per frozen document, whatever the text size.
    * Token-less documents (signature 0) are excluded, matching
    * [[simHashDuplicates]]. */
  def simHashTable(df: DataFrame, idCol: Column, textCol: Column,
      seed: Long = 42L): DataFrame =
    df.filter(length(trim(textCol)) > 0)
      .select(idCol.cast("long").as("id"), simhash(textCol, seed).as("sig"))

  /** Incremental [[simHashDuplicates]]: near-dups of a NEW batch against
    * a PERSISTED [[simHashTable]] with zero corpus re-sketching — the
    * daily-ingest fuzzy gate at 8 bytes/frozen doc. Same banding (four
    * 15-bit chunks, full recall at hamming ≤ 3 by pigeonhole; larger
    * `maxHamming` recalls only pairs sharing a lucky chunk — the
    * [[simHashDuplicates]] contract) and the same `bit_count` verify.
    * Returns `(id, ref_id, hamming)`; a doc present on both sides
    * self-matches at hamming 0 (the q170 self-containment proof).
    *
    * Scale shape: both sides reduce to (id, sig) longs row-locally; the
    * equi-join on (band, chunk) carries 4 rows per doc and every bucket
    * is bounded by chunk-collision mass — never all-pairs, text never
    * shuffles. */
  def simHashDupAgainst(batch: DataFrame, idCol: Column, textCol: Column,
      sigTable: DataFrame, maxHamming: Int = 3,
      seed: Long = 42L): DataFrame = {
    def banded(sigs: DataFrame): DataFrame =
      sigs.select(col("id"), col("sig"),
        posexplode(array((0 until 4).map(bn =>
          shiftright(col("sig"), bn * 15).bitwiseAND(lit(0x7FFFL))): _*)))
        .select(col("id"), col("sig"), col("pos").as("band"),
          col("col").as("chunk"))
    val b = banded(simHashTable(batch, idCol, textCol, seed)).as("b")
    val f = banded(sigTable.select(col("id").cast("long").as("id"),
      col("sig").cast("long").as("sig"))).as("f")
    b.join(f, col("b.band") === col("f.band") &&
        col("b.chunk") === col("f.chunk"))
      .select(col("b.id").as("id"), col("f.id").as("ref_id"),
        bit_count(col("b.sig").bitwiseXOR(col("f.sig")))
          .cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate CLUSTERS from a near-duplicate pair relation: connected
    * components of the pair graph, each node labeled with the smallest id
    * reachable from it — so a pipeline keeps the `id == cluster_id` row of
    * each cluster and drops the rest (the step after pair detection that
    * an actual dedup run needs; pairs alone don't say which doc survives
    * when A~B and B~C but A!~C).
    *
    * Each round: (1) neighbor-min — one equi-join + partial-agg min shuffle
    * of (node, label) longs, never the text; (2) path halving — labels
    * relabel through the label TABLE itself (`lbl(x) := lbl(lbl(x))`), the
    * pointer-jumping step that turns O(diameter) rounds into
    * O(log diameter). Every round's frame is checkpointed EAGERLY:
    * an iterative plan that merely caches still grows its logical plan by
    * two joins per round, and by round ~10 the driver spends more time in
    * the optimizer than the executors spend in the (tiny) jobs — lineage
    * truncation keeps re-planning O(1) per round and doubles as the
    * convergence action ([[Rounds]]). Labels still moving after
    * `maxIters` rounds are not components: that throws an
    * `IllegalStateException` naming `duplicateClusters` and the cap.
    * Output: `(id, cluster_id)`, one lineage-free row per node in
    * `pairs`.
    */
  def duplicateClusters(pairs: DataFrame, aCol: Column, bCol: Column,
      maxIters: Int = 20): DataFrame = {
    val fwd = pairs.select(aCol.cast("long").as("src"), bCol.cast("long").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)
    // stats-reset round checkpoints ([[Rounds]]): the halving self-join
    // DOUBLES the carried sizeInBytes estimate every round (geometric
    // digit growth). Convergence via the monotone label sum (r15):
    // labels only ever DECREASE (grouped min + least in the halving
    // step), so Σlbl strictly drops iff any row changed, and the Σ
    // rides each round's checkpoint job. Decimal(38,0) so arbitrary
    // Long ids cannot wrap.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val labels = Rounds.untilStable("duplicateClusters",
        edges.select(col("src").as("id")).distinct().withColumn("lbl", col("id")),
        maxIters,
        Some(coalesce(sum(col("lbl").cast(dec)),
          lit(java.math.BigDecimal.ZERO).cast(dec)))) { cur =>
      val neigh = edges.join(cur, edges("dst") === cur("id"))
        .select(edges("src").as("id"), cur("lbl").as("lbl"))
      // materialized before the self-join below — otherwise the halving
      // step would recompute the neighbor-min shuffle twice per round
      val m1 = Rounds.checkpoint(cur.unionByName(neigh)
        .groupBy("id").agg(min("lbl").as("lbl"))).frame
      // path halving: follow the label's own label one hop
      m1.join(m1.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
    }
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, §3): k-means
    * cluster the embedding space, then compare vectors ONLY within their
    * cluster — the all-pairs cosine matrix shrinks to per-cluster blocks.
    * A row is dropped when a SMALLER-id row in the same cluster is ≥
    * `threshold` cosine-similar (the paper's greedy keep-one rule with id
    * as the deterministic keep order). Returns one row per input vector:
    * `(id, cluster, keep)`.
    *
    * Scale shape: centroids train on an md5 sample ([[Ivf.trainCentroids]]);
    * assignment is the shuffle-free [[graft.expr.NearestCentroid]]
    * projection; the only corpus exchange is the equi-join on `cluster`,
    * whose blocks are corpus/nlist on average. `nlist <= 0` (the default)
    * auto-scales to ⌈√n⌉ — the paper's web-scale setting — so per-cluster
    * blocks average √n rows and the within-cluster pair count stays
    * ~n^1.5 corpus-wide instead of n²; pass an explicit `nlist` to pin
    * the clustering (the one extra job is a count of the input). A
    * within-cluster LSH prefilter could cut the block pair count further
    * at the cost of exactness-within-cluster; this operator keeps the
    * block exact so the keep set is deterministic in the clustering. */
  def semanticDedup(emb: DataFrame, idCol: Column, vecCol: Column,
      threshold: Double, nlist: Int = 0, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    val k =
      if (nlist > 0) nlist
      else math.max(1, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val cents = Ivf.trainCentroids(emb, idCol, vecCol, k, iters, sampleFraction)
    val assigned = Ivf.assignClusters(
        emb.select(idCol.cast("long").as("id"), vecCol.cast("array<float>").as("v")),
        col("id"), col("v"), cents)
    val a = assigned.as("a")
    val b = assigned.as("b")
    val dropped = a.join(b,
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(round(graft.functions.cosine_similarity(col("a.v"), col("b.v")), 4)
        >= threshold)
      .select(col("b.id").as("drop_id")).distinct()
    assigned.join(dropped, col("id") === col("drop_id"), "left")
      .select(col("id"), col("cluster"), col("drop_id").isNull.as("keep"))
  }

  /** End-to-end near-duplicate REMOVAL: MinHash-LSH pairs →
    * [[duplicateClusters]] → keep only each cluster's smallest-id document
    * (plus every document in no cluster at all). This is the operator a
    * pipeline actually calls — pairs and clusters are the evidence, the
    * deduplicated corpus is the product. Anti-join on the (tiny) drop list:
    * the corpus itself is never shuffled. */
  def dedupCorpus(df: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4,
      shingleSize: Int = 3, seed: Long = 42L): DataFrame = {
    val pairs = minHashDuplicates(df, idCol, textCol, threshold, bands,
      rowsPerBand, shingleSize, seed)
    val clusters = duplicateClusters(pairs, col("a_id"), col("b_id"))
    val drop = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("drop_id"))
    df.join(drop, idCol.cast("long") === col("drop_id"), "left_anti")
  }

  /** [[dedupCorpus]] with QUALITY-AWARE survivor selection: keep each
    * duplicate cluster's highest-`scoreCol` document (ties → smallest
    * id) instead of the smallest id unconditionally — the production
    * rule when near-dups differ in quality (keep the longest / the
    * highest-[[graft.ops.TextAnalysis.qualityScore]] copy, drop the
    * truncated mirror). Returns the surviving corpus rows unchanged.
    *
    * Scale shape: identical to [[dedupCorpus]] plus one partial-agg
    * `max(struct(score, −id))` over the (tiny) cluster table joined
    * with per-doc scores; the corpus itself still only pays the
    * anti-join against the drop list and never shuffles. */
  def dedupCorpusKeepBest(df: DataFrame, idCol: Column, textCol: Column,
      scoreCol: Column, threshold: Double, bands: Int = 16,
      rowsPerBand: Int = 4, shingleSize: Int = 3, seed: Long = 42L): DataFrame = {
    val pairs = minHashDuplicates(df, idCol, textCol, threshold, bands,
      rowsPerBand, shingleSize, seed)
    val clusters = duplicateClusters(pairs, col("a_id"), col("b_id"))
    // NaN sorts ABOVE every real double in Spark orderings and NULL
    // below — either would let a garbage-scored duplicate win its
    // cluster (NaN) or lose unconditionally (null) on a rule the caller
    // never chose. Both normalize to -Infinity: a doc with no usable
    // score only survives when nothing scored beats it, and the id
    // tie-break decides deterministically among unscored copies.
    val scored = clusters.join(
      df.select(idCol.cast("long").as("id"),
        coalesce(nanvl(scoreCol.cast("double"), lit(null).cast("double")),
          lit(Double.NegativeInfinity)).as("_sc")),
      "id")
    // max(struct) = highest score, then largest −id = smallest id
    val winners = scored.groupBy("cluster_id")
      .agg(max(struct(col("_sc"), (-col("id")).as("nid"))).as("w"))
      .select(col("cluster_id"), (-col("w.nid")).as("keep_id"))
    val drop = scored.join(winners, "cluster_id")
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("drop_id"))
    df.join(drop, idCol.cast("long") === col("drop_id"), "left_anti")
  }

  /** Duplicate-span MASKING: replace every token covered by a
    * [[duplicateSpans]] interval with `sentinel` instead of cutting it —
    * the length-preserving variant (token positions survive, so
    * downstream alignment labels, span annotations, and position-keyed
    * indexes stay valid; [[stripDuplicateSpans]] is the pre-training
    * default, this is the labeled-data one). Returns
    * `(id, n_tokens, n_masked, text)`, tokens re-joined by single
    * spaces.
    *
    * Scale shape: [[duplicateSpans]]'s int-only shuffles; span lists
    * collapse to a few `(start, end)` pairs per affected doc and attach
    * with one id equi-join; the rebuild is the compiled
    * [[graft.expr.SpanMask]] kernel inside whole-stage codegen (a first
    * cut deserialized every row through a typed encoder — ~25% slower
    * at sf0.1 for the identical result; [[stripDuplicateSpans]]' SpanCut
    * lesson) — corpus text never shuffles. */
  def maskDuplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int = 2, sentinel: String = "<DUP>"): DataFrame = {
    val spanLists = duplicateSpans(df, idCol, textCol, k, minDocs)
      .select(col("id").cast("long").as("id"),
        col("span_start").cast("int").as("s"), col("span_end").cast("int").as("e"))
      .groupBy("id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    val mask = col_(graft.expr.SpanMask(
      Bridge.expression(col("text").cast("string")),
      Bridge.expression(col("spans")), sentinel))
    spreadSmallScan(
        df.select(idCol.cast("long").as("id"),
          textCol.cast("string").as("text")), col("id"))
      .join(spanLists, Seq("id"), "left")
      .select(col("id"), mask.as("r"))
      .select(col("id"), col("r.n_tokens").as("n_tokens"),
        col("r.n_masked").as("n_masked"), col("r.text").as("text"))
  }

  /** Line-level deduplication (the RefinedWeb/CCNet pre-training scrub:
    * Penedo et al. 2023 §3.2 remove lines repeated across documents —
    * navigation bars, cookie banners, boilerplate headers). A line is
    * removed when its EXACT content (non-blank after trim) appears in at
    * least `minDocs` DISTINCT documents; blank lines are never counted or
    * removed. Returns one row per input document:
    * `(id, n_kept, n_removed, text)` with `text` rebuilt from the surviving
    * lines in original order.
    *
    * Scale shape: document text never shuffles. Lines explode for
    * DETECTION only ([[frequentLines]]: hash-candidate pass shuffling
    * longs, then exact-content verification of the candidate slice — so
    * membership is EXACT, never hash-probabilistic); the frequent table
    * (the corpus's boilerplate vocabulary, small by construction)
    * broadcasts, so dropped line occurrences resolve map-side — matched
    * on hash AND exact content — and only `(id, pos)` int pairs shuffle
    * into per-doc drop lists. The REBUILD is a
    * row-local indexed-`filter` HOF over the doc's own split array
    * (whole-stage codegen); the drop lists attach with one equi-join on
    * id — co-partitioned for free when the corpus is bucketed by id, and
    * its payload is a handful of ints per affected doc either way.
    *
    * `sep` is the unit boundary — "\n" for lines (default), "\n\n" for
    * PARAGRAPH-level scrubbing (the other RefinedWeb pass); it is used
    * both to split and to rejoin, so it must be a literal (regex-neutral)
    * string. */
  def lineDedup(df: DataFrame, idCol: Column, textCol: Column,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    val lines = spreadSmallScan(
        df.select(idCol.as("id"), textCol.as("__t")), col("id"))
      .select(col("id"),
        posexplode(split(col("__t"), java.util.regex.Pattern.quote(sep), -1)))
      .select(col("id"), col("pos"), col("col").as("line"))
      .filter(length(trim(col("line"))) > 0)
    val frequent = frequentLines(df, idCol, textCol, minDocs, sep)
      .withColumnRenamed("line", "fline")
    val dropLists = lines
      .join(broadcast(frequent),
        xxhash64(col("line")) === col("h") && col("line") === col("fline"))
      .groupBy("id").agg(collect_list(col("pos")).as("drop_pos"))
    val kept = filter(col("ls"),
      (_, i) => !array_contains(coalesce(col("drop_pos"),
        array().cast("array<int>")), i))
    spreadSmallScan(
        df.select(idCol.as("id"),
          split(textCol, java.util.regex.Pattern.quote(sep), -1).as("ls")),
        col("id"))
      .join(dropLists, Seq("id"), "left")
      .select(col("id"),
        size(kept).cast("long").as("n_kept"),
        (size(col("ls")) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, sep).as("text"))
  }

  /** The frequent-line table of a corpus — the artifact an INCREMENTAL
    * line-dedup pipeline persists (tiny: `(h, line)` per boilerplate
    * line). New batches — or an unbounded STREAM — scrub against it via
    * [[lineDedupAgainst]] with zero corpus recomputation.
    *
    * EXACT, in two stages: hash-level candidates first — `(xxhash64(line),
    * id)` pairs dedupe and count under partial aggregation, so the corpus-
    * wide pass shuffles only longs — then the candidate slice (boilerplate-
    * sized by construction) re-counts by exact line content, eliminating
    * hash-collision false positives entirely; the table carries the line
    * text so downstream joins match content, not hashes. Only candidate
    * lines' text ever shuffles. */
  def frequentLines(df: DataFrame, idCol: Column, textCol: Column,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    val lines = spreadSmallScan(
        df.select(idCol.as("id"), textCol.as("__t")), col("id"))
      .select(col("id"),
        explode(split(col("__t"), java.util.regex.Pattern.quote(sep), -1))
          .as("line"))
      .filter(length(trim(col("line"))) > 0)
    val candidates = lines
      .select(xxhash64(col("line")).as("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    lines.join(broadcast(candidates), xxhash64(col("line")) === col("h"))
      .groupBy("line").agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(xxhash64(col("line")).as("h"), col("line"))
  }

  /** Spark's `trim`: strips SPACES only (not tabs/newlines) — the blank-
    * line predicate [[lineDedup]] applies, reproduced for the row-local
    * path so the two stay bit-identical on whitespace-art lines. */
  private[graft] def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  /** Scrub documents against a PERSISTED [[frequentLines]] table: same
    * output contract as [[lineDedup]] (`id` cast to long), but the
    * boilerplate vocabulary is given, not recomputed — the shape a daily
    * ingest or a streaming pipeline runs. The vocabulary ships ONCE per
    * executor as a broadcast hash set of exact line strings: O(1)
    * membership per line (not a per-line literal-array scan), exact
    * content matching (no hash false positives), and O(1) plan size. The
    * scrub itself is a stateless per-partition projection — streaming-safe
    * in append mode with no watermark, and the corpus text never
    * shuffles. */
  def lineDedupAgainst(df: DataFrame, idCol: Column, textCol: Column,
      frequent: DataFrame, sep: String = "\n"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lineSet = frequent.select(col("line").cast("string"))
      .collect().map(_.getString(0)).toSet
    val bc = spark.sparkContext.broadcast(lineSet)
    spreadSmallScan(
        df.select(idCol.cast("long").as("id"),
          textCol.cast("string").as("text")), col("id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val set = bc.value
        rows.map { case (id, text) =>
          val ls = if (text == null) Array.empty[String]
            else text.split(java.util.regex.Pattern.quote(sep), -1)
          val kept = ls.filter(l =>
            trimSpaces(l).isEmpty || !set.contains(l))
          (id, kept.length.toLong, (ls.length - kept.length).toLong,
            kept.mkString(sep))
        }
      }
      .toDF("id", "n_kept", "n_removed", "text")
  }

  /** WITHIN-document unit deduplication (the Gopher/RefinedWeb intra-doc
    * scrub: a crawl page repeating its own navigation or a generation
    * loop repeating a paragraph): keep the FIRST occurrence of each
    * non-blank unit inside a document, drop later repeats; blank units
    * always survive. Complements [[lineDedup]] (cross-document) and
    * [[QualitySignals.repetitionSignals]] (which only MEASURES
    * repetition). Returns `(id, n_kept, n_removed, text)` (`id` cast to
    * long), `sep` as in [[lineDedup]].
    *
    * Scale shape: perfectly row-local — a compiled per-partition
    * projection with one hash set per document; zero joins, zero
    * aggregation, zero exchanges, streaming-safe with no watermark. */
  def dedupWithinDoc(df: DataFrame, idCol: Column, textCol: Column,
      sep: String = "\n"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spreadSmallScan(
        df.select(idCol.cast("long").as("id"),
          textCol.cast("string").as("text")), col("id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val ls = if (text == null) Array.empty[String]
            else text.split(java.util.regex.Pattern.quote(sep), -1)
          val seen = scala.collection.mutable.HashSet.empty[String]
          val kept = ls.filter(l =>
            trimSpaces(l).isEmpty || seen.add(l))
          (id, kept.length.toLong, (ls.length - kept.length).toLong,
            kept.mkString(sep))
        }
      }
      .toDF("id", "n_kept", "n_removed", "text")
  }

  /** Cross-document duplicate SPANS at word-`k`-gram granularity — the
    * bucketed approximation of suffix-array exact-substring dedup (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models Better":
    * long verbatim repeats hurt more than whole-doc near-dups, and most
    * verbatim repeats are substrings, invisible to document-level MinHash).
    * A token position is covered when some `k`-gram starting there occurs
    * in ≥ `minDocs` distinct documents; overlapping/adjacent covered
    * intervals `[pos, pos+k)` merge into maximal spans. Returns
    * `(id, span_start, span_end, n_grams)` — token-index spans a pipeline
    * cuts or masks (span_end exclusive).
    *
    * Scale shape: grams explode once (positions kept, so no distinct);
    * the repeated-gram table reduces to `(xxhash64(gram), n_docs)` under
    * partial aggregation and only hashes shuffle; the membership join
    * broadcasts that table when the duplicated vocabulary is small, else
    * it is a plain equi-join on the hash. Interval merging is a
    * per-document window (bounded by document length), never global.
    *
    * Contract note: span membership is decided on `xxhash64(gram)`, so a
    * 64-bit collision can flag an unrelated gram — P ≈ n²/2⁶⁵ for n
    * distinct grams (~3·10⁻⁸ at a billion grams), the standard trade for
    * keeping gram text out of the shuffle at corpus scale. Line-level
    * scrubbing ([[lineDedup]]) verifies exact content instead because its
    * vocabulary is small; here the 10× positional gram expansion makes
    * hashing the right default. */
  /** Small-split guard for CPU-heavy per-row kernels: when the input
    * arrives in fewer than half the available cores' worth of splits
    * (the single-row-group small-file case — measured: the whole gram
    * expansion of a 5 000-doc corpus serializing onto ONE task, 9 s of
    * task time at 1/32 utilization), spread it by `key` first. A no-op
    * whenever the scan already carries enough splits — which any
    * corpus-scale input does — so the documented "text never shuffles"
    * shapes still hold where they matter; this only refuses to let a
    * tiny file serialize a 32-core box. */
  private[graft] def spreadSmallScan(df: DataFrame, key: Column): DataFrame = {
    if (df.isStreaming) return df // split counts are a batch concept
    // Guard the guard: `df.rdd.getNumPartitions` on a plan WITH
    // exchanges finalizes AQE, which EXECUTES the upstream stages just
    // to learn the partitioning — a chained caller (scrub gate 2 fed by
    // gate 1) would silently run its input twice (measured: q194
    // +40%). A derived frame downstream of any exchange already has
    // shuffle-grade parallelism, so the small-split problem cannot
    // exist there: only scan-rooted (exchange-free) plans are checked,
    // where .rdd finalization runs nothing.
    if (df.queryExecution.executedPlan.toString.contains("Exchange"))
      return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target, key)
    else df
  }

  /** Positional word-`k`-grams of each document as `(id, pos, h)` —
    * `h = xxhash64(gram text)`, the shared kernel of the span-dedup
    * family. Narrow scans spread first ([[spreadSmallScan]]) so the 10×
    * gram expansion hashes on every core. */
  private def gramPositions(df: DataFrame, idCol: Column, textCol: Column,
      k: Int): DataFrame = {
    // explode POSITIONS, not gram strings (r16, guide §5): the former
    // shape materialized the full gram-string array per row (≈ k× the
    // text bytes) before posexplode — under 32 concurrent heavy tasks
    // that allocation spike is what collapsed the driver-host runs of
    // q100-class queries. Generating int positions and slicing the one
    // token array per output row keeps everything in one
    // whole-stage-codegen stage with O(text) per-task state; each gram
    // string exists only transiently between slice and xxhash64. Rows
    // out are bit-identical.
    val toks = array_remove(split(col("__t"), "\\s+"), "")
    spreadSmallScan(df.select(idCol.as("id"), textCol.as("__t")), col("id"))
      .select(col("id"), toks.as("__tk"))
      .select(col("id"), col("__tk"),
        explode(when(size(col("__tk")) >= k,
            sequence(lit(0), size(col("__tk")) - k))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("id"), col("pos"),
        xxhash64(concat_ws(" ",
          slice(col("__tk"), col("pos") + 1, lit(k)))).as("h"))
  }

  /** The repeated-gram table of a corpus — `(h)` per word-`k`-gram found
    * in ≥ `minDocs` distinct documents: the artifact an INCREMENTAL
    * substring-dedup pipeline persists (one long per duplicated gram).
    * New batches — or an unbounded STREAM — scrub against it via
    * [[spanScrubAgainst]] with zero corpus recomputation. Same detection
    * semantics as [[duplicateSpans]]; `(h, id)` dedupes and counts under
    * partial aggregation, so only longs shuffle. */
  def repeatedGrams(df: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int = 2): DataFrame =
    gramPositions(df, idCol, textCol, k)
      .select(col("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))

  /** Multi-pattern exact token-run search — "grep at scale" against the
    * same positional gram table the span family scans. The corpus is
    * reduced ONCE to `(id, pos, h)` gram hashes; each query pattern of
    * `L >= k` tokens becomes its own `L-k+1` aligned gram hashes
    * (driver-side, [[xxh64]] = the column expression bit-for-bit), and an
    * occurrence at `(doc, start)` is certified when EVERY pattern gram
    * lands at its aligned offset: one broadcast join on `h` + one count
    * aggregation over `(pattern, id, start)` — the corpus text is never
    * joined, shuffled, or rescanned per pattern. A false positive needs
    * ALL of a pattern's grams to collide at aligned offsets
    * simultaneously — beyond the span family's documented single-hash
    * n²/2⁶⁴ stance. Returns `(pattern, id, start_pos)` (0-based token
    * position), one row per occurrence. */
  def substringSearch(df: DataFrame, idCol: Column, textCol: Column,
      patterns: Seq[String], k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(patterns.nonEmpty, "need at least one pattern")
    val spark = df.sparkSession
    import spark.implicits._
    // output rows key by the raw pattern string: dedupe up front so a
    // repeated input pattern doesn't probe twice and duplicate every
    // occurrence row
    val patGrams = patterns.distinct.flatMap { p =>
      val tk = p.trim.split("\\s+").filter(_.nonEmpty)
      require(tk.length >= k, s"pattern '$p' shorter than k=$k tokens")
      (0 to tk.length - k).map(i =>
        (p, i.toLong, xxh64(tk.slice(i, i + k).mkString(" ")),
          (tk.length - k + 1).toLong))
    }.toDF("pattern", "off", "ph", "n_grams")
    gramPositions(df, idCol, textCol, k)
      .join(broadcast(patGrams), col("h") === col("ph"))
      .select(col("pattern"), col("id"),
        (col("pos") - col("off")).as("start_pos"), col("n_grams"))
      .filter(col("start_pos") >= 0)
      .groupBy("pattern", "id", "start_pos", "n_grams")
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === col("n_grams"))
      .select(col("pattern"), col("id"), col("start_pos"))
  }

  def duplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int = 2, keepFirst: Boolean = false): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val g = gramPositions(df, idCol, textCol, k)
    val repeated = g.groupBy("h")
      .agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    // no broadcast hint: the repeated-gram table is usually small, but on
    // boilerplate-heavy corpora it can exceed driver memory — the planner
    // (with AQE) picks broadcast vs shuffled hash join from actual sizes
    val occurrences = g.join(repeated, "h")
    // keepFirst (Lee et al.'s remove-all-but-one): each repeated gram's
    // lexicographically smallest (id, pos) occurrence is canonical and
    // not counted as covered — its tokens survive unless an OVERLAPPING
    // non-canonical occurrence of another gram covers them. The canonical
    // table is one row per repeated gram (same size as `repeated`), so it
    // broadcasts identically.
    val covered =
      if (!keepFirst) occurrences.select(col("id"), col("pos"))
      else {
        val canon = occurrences.groupBy("h")
          .agg(min(struct(col("id"), col("pos"))).as("c"))
        occurrences.join(canon, "h")
          .filter(!(col("id") === col("c.id") && col("pos") === col("c.pos")))
          .select(col("id"), col("pos"))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    // intervals are all length k and sorted by start, so the running max
    // end is lag(pos)+k: a new span starts exactly when the gap exceeds k
    val islands = covered
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1, -k).over(w) > k, 1).otherwise(0))
      .withColumn("span", sum(col("new_span")).over(w))
    islands.groupBy("id", "span")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("span")
  }

  /** Duplicate-span REMOVAL: cut every [[duplicateSpans]] interval out of
    * the corpus and rebuild each document from its surviving tokens — the
    * end of the substring-dedup story (spans are the evidence, the cleaned
    * corpus is the product). By default removes ALL occurrences of a
    * repeated span (the conservative pipeline default); `keepFirst = true`
    * is Lee et al.'s remove-all-but-one — each repeated gram's canonical
    * min-(id, pos) occurrence survives (unless overlapped by another
    * gram's non-canonical occurrence). Returns
    * `(id, n_tokens, n_removed, text)` with tokens re-joined by single
    * spaces.
    *
    * Scale shape: [[duplicateSpans]]'s shuffles all carry ints; the span
    * lists collapse to a few `(start, end)` pairs per affected doc and
    * attach with one equi-join on id (broadcast when the affected-doc set
    * is small, co-partitioned for free on an id-bucketed corpus); the cut
    * itself is the compiled [[graft.expr.SpanCut]] interval-mask kernel —
    * O(tokens + span length) per row inside whole-stage codegen, where
    * the earlier interpreted `filter`/`exists` HOF pair paid
    * O(tokens × spans) outside it — and corpus text never shuffles. */
  def stripDuplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int = 2, keepFirst: Boolean = false): DataFrame = {
    val spanLists = duplicateSpans(df, idCol, textCol, k, minDocs, keepFirst)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start").cast("int").as("s"),
        col("span_end").cast("int").as("e"))).as("spans"))
    val cut = col_(graft.expr.SpanCut(
      Bridge.expression(col("text").cast("string")),
      Bridge.expression(col("spans"))))
    spreadSmallScan(
        df.select(idCol.as("id"), textCol.cast("string").as("text")),
        col("id"))
      .join(spanLists, Seq("id"), "left")
      .select(col("id"), cut.as("r"))
      .select(col("id"), col("r.n_tokens").as("n_tokens"),
        col("r.n_removed").as("n_removed"), col("r.text").as("text"))
  }

  /** Scrub a batch — or an unbounded STREAM — against a PERSISTED
    * [[repeatedGrams]] table: cut every token span covered by a gram in
    * the table, same output contract as [[stripDuplicateSpans]] (`id`
    * cast to long; remove-ALL-occurrences semantics — keep-first needs
    * global canonical state and is batch-only by design).
    *
    * Row-local by construction: the gram-hash table ships once per
    * executor as a broadcast set; each row re-grams its own tokens,
    * hashes them with the same XXH64(seed 42) kernel as `xxhash64`
    * (bit-identical — spec-fuzzed), marks covered `[pos, pos+k)`
    * intervals in a boolean mask, and rebuilds. A stateless
    * per-partition projection: no joins, no aggregation, no watermark —
    * the streaming twin of the batch strip, and the daily-ingest shape
    * where the corpus gram table is already on disk. */
  def spanScrubAgainst(df: DataFrame, idCol: Column, textCol: Column,
      grams: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val hashes = grams.select(col("h").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val bc = spark.sparkContext.broadcast(hashes)
    spreadSmallScan(
        df.select(idCol.cast("long").as("id"),
          textCol.cast("string").as("text")), col("id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val set = bc.value
        rows.map { case (id, text) =>
          val tk =
            if (text == null) Array.empty[String]
            else text.split("\\s+").filter(_.nonEmpty)
          val covered = new Array[Boolean](tk.length)
          var i = 0
          while (i + k <= tk.length) {
            val gram = tk.slice(i, i + k).mkString(" ")
            if (set.contains(xxh64(gram))) {
              var j = i
              while (j < i + k) { covered(j) = true; j += 1 }
            }
            i += 1
          }
          val kept = new StringBuilder
          var nKept = 0L
          i = 0
          while (i < tk.length) {
            if (!covered(i)) {
              if (nKept > 0) kept += ' '
              kept ++= tk(i)
              nKept += 1
            }
            i += 1
          }
          (id, tk.length.toLong, tk.length - nKept, kept.result())
        }
      }
      .toDF("id", "n_tokens", "n_removed", "text")
  }

  /**
   * Bounded edit-distance similarity join over a SHORT-string column
   * (titles, URLs, line keys — not documents) via symmetric deletes
   * (the SymSpell family): `lev(a, b) <= maxDist` implies the deletion
   * neighbourhoods `del<=d(a)` and `del<=d(b)` intersect, so candidate
   * pairs come from an EQUI-join on deletion-variant hashes and only
   * candidates pay the exact DP verify. Returns `(a_id, b_id, dist)`
   * with `a_id < b_id`, exact duplicates included at dist 0.
   *
   * Scale shape: each row emits ≤ 1 + L + L·(L−1) variants (`maxDist`
   * ≤ 2 enforced; L = string length), carrying `(xxhash64(variant), id,
   * str)` — strings are short by contract, so the variant shuffle is
   * O(d·L) per row. Hot variants (shared prefixes) fan candidate
   * buckets out quadratically — the standard SymSpell trade; candidate
   * pairs dedupe before the verify, and the verify is compiled
   * row-local DP, never an all-pairs cross. Hash collisions only ADD
   * candidates (the verify rejects them), never lose a true pair.
   *
   * `maxBucket` makes the short-string contract ENFORCEABLE instead of
   * advisory (the [[graft.ops.TextAnalysis.winnowOverlapPairs]] `maxDf`
   * discipline): variant buckets holding more than `maxBucket` rows are
   * dropped before the self-join via a broadcast anti-join on the hot
   * hashes, capping candidate fan-out at maxBucket²/2 per bucket. The
   * trade is recall on hot buckets only — a pair is lost ONLY if every
   * variant it shares is hot; in particular an exact-duplicate group
   * larger than `maxBucket` loses its pairs (its members share all of
   * each other's buckets). 0 (the default) disables the cap — exact
   * results, adversarial corpora fan out quadratically.
   */
  def editDistanceJoin(df: DataFrame, idCol: Column, strCol: Column,
      maxDist: Int = 1, maxBucket: Int = 0): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2, "maxDist must be in 0..2")
    require(maxBucket >= 0, "maxBucket must be >= 0 (0 = uncapped)")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(idCol.cast("long").as("id"),
        strCol.cast("string").as("s"))
      .filter(col("s").isNotNull)
      .as[(Long, String)]
    val variants = rows.mapPartitions { it =>
      it.flatMap { case (id, s) =>
        val out = scala.collection.mutable.HashSet.empty[String]
        out += s
        if (maxDist >= 1) {
          var i = 0
          while (i < s.length) {
            val v1 = s.substring(0, i) + s.substring(i + 1)
            out += v1
            if (maxDist >= 2) {
              var j = 0
              while (j < v1.length) {
                out += v1.substring(0, j) + v1.substring(j + 1)
                j += 1
              }
            }
            i += 1
          }
        }
        out.iterator.map(v => (xxh64(v), id, s))
      }
    }.toDF("v", "id", "s")
    val kept =
      if (maxBucket == 0) variants
      else {
        // hot list is small by construction (only buckets a capped run
        // would blow up on), so it broadcasts; counts partial-agg first
        val hot = variants.groupBy("v").agg(count(lit(1)).as("c"))
          .filter(col("c") > maxBucket).select(col("v"))
        variants.join(broadcast(hot), Seq("v"), "left_anti")
      }
    val a = kept.as("a")
    val b = kept.as("b")
    val cand = a.join(b, col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("a.s").as("sa"),
        col("b.id").as("b_id"), col("b.s").as("sb"))
      .distinct()
    cand.as[(Long, String, Long, String)].mapPartitions { it =>
      it.flatMap { case (ai, sa, bi, sb) =>
        val dd = levDistance(sa, sb)
        if (dd <= maxDist) Iterator((ai, bi, dd.toLong)) else Iterator.empty
      }
    }.toDF("a_id", "b_id", "dist")
  }

  /** Unit-cost Levenshtein (insert/delete/substitute — the same metric
    * as DuckDB's `levenshtein`), two-row DP. */
  private[graft] def levDistance(a: String, b: String): Int =
    if (a == b) 0
    else {
      val m = b.length
      var prev = Array.tabulate(m + 1)(identity)
      var curr = new Array[Int](m + 1)
      var i = 1
      while (i <= a.length) {
        curr(0) = i
        var j = 1
        while (j <= m) {
          val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
          curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + cost)
          j += 1
        }
        val t = prev; prev = curr; curr = t
        i += 1
      }
      prev(m)
    }

  /**
   * Blocked Jaro-Winkler similarity join — the record-linkage staple
   * next to [[editDistanceJoin]] for name/title matching, where edit
   * distance over-penalizes transpositions and length differences.
   * Candidates come from an EQUI-join on the caller's `blockCol`
   * (standard blocking: first token, soundex, zip code — the caller
   * owns the recall contract, since unlike SymSpell deletes no
   * blocking key is complete for JW); only same-block pairs pay the
   * row-local scoring kernel. Returns `(a_id, b_id, sim)` with
   * `a_id < b_id`, `sim` the raw double (round at the read site).
   *
   * Scale shape: one shuffle on the block key, candidate fan-out
   * |block|²/2 per block — `maxBucket` drops blocks above the cap via
   * a broadcast anti-join (the [[editDistanceJoin]] discipline; the
   * trade is recall on hot blocks only). The kernel is O(|a|·window)
   * per pair, row-local, no state.
   */
  def jaroWinklerJoin(df: DataFrame, idCol: Column, strCol: Column,
      blockCol: Column, minSim: Double, maxBucket: Int = 0): DataFrame = {
    require(minSim > 0 && minSim <= 1, "jaroWinklerJoin: minSim in (0, 1]")
    require(maxBucket >= 0, "jaroWinklerJoin: maxBucket >= 0 (0 = uncapped)")
    val spark = df.sparkSession
    import spark.implicits._
    // spread BEFORE the self-join: the quadratic pair expansion happens
    // in the join's output stage, and on a small single-row-group scan
    // AQE coalesces the tiny blk shuffle to ONE task right where the
    // |block|²/2 work explodes — a pinned repartition(blk) keeps the
    // kernel on every core (no-op at corpus scale)
    val rows = spreadSmallScan(
      df.select(blockCol.cast("string").as("blk"),
          idCol.cast("long").as("id"), strCol.cast("string").as("s"))
        .filter(col("blk").isNotNull && col("s").isNotNull), col("blk"))
    val kept =
      if (maxBucket == 0) rows
      else {
        val hot = rows.groupBy("blk").agg(count(lit(1)).as("c"))
          .filter(col("c") > maxBucket).select(col("blk"))
        rows.join(broadcast(hot), Seq("blk"), "left_anti")
      }
    kept.as("a").join(kept.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("a.s").as("sa"),
        col("b.id").as("b_id"), col("b.s").as("sb"))
      .as[(Long, String, Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (ai, sa, bi, sb) =>
          val sim = jaroWinkler(sa, sb)
          if (sim >= minSim) Iterator((ai, bi, sim)) else Iterator.empty
        }
      }.toDF("a_id", "b_id", "sim")
  }

  /** Jaro-Winkler similarity — standard Winkler parameters (prefix
    * weight 0.1 over at most 4 chars, boost only when jaro > 0.7) and
    * the both-empty → 0 convention, matching DuckDB's
    * `jaro_winkler_similarity` (5k-case random fuzz showed exact
    * agreement, which is what lets [[jaroWinklerJoin]] oracle-verify
    * with a threshold filter on the raw double). */
  private[graft] def jaroWinkler(a: String, b: String): Double = {
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val w = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la); val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb, i + w + 1)
      var j = math.max(0, i - w)
      var found = false
      while (j < hi && !found) {
        if (!mb(j) && b.charAt(j) == a.charAt(i)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var j = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val tr = t / 2
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - tr).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var l = 0
      while (l < 4 && l < la && l < lb && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1 - jaro)
    } else jaro
  }

  /** `xxhash64(string)` as a plain function — XXH64 with Spark's fixed
    * seed 42 over UTF-8 bytes, for row-local code that must agree
    * bit-for-bit with the column expression. */
  private[graft] def xxh64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /**
   * Content-defined chunking (CDC): cut each document into variable-size
   * chunks at positions the CONTENT chooses — after token `i` whenever
   * `hex15(window of the last w tokens) mod divisor == 0` — so an
   * insertion or deletion only reshapes the chunks around the edit while
   * every boundary downstream re-synchronizes (the FastCDC/rsync
   * property fixed-size blocks lack; fixed-length gram dedup pays a 10×
   * expansion for the same robustness). Expected chunk length ≈
   * `divisor` tokens. Returns `(id, chunk_no, h, n_tok)` — the chunk's
   * [[graft.expr.PortableHash]] hex15, so the DuckDB oracle reproduces
   * every boundary and hash bit-for-bit.
   *
   * Scale shape: chunking is a compiled per-partition projection (zero
   * exchanges; the boundary rule reads only the w-token window). Only
   * `(id, chunk_no, h, n_tok)` rows leave the scan — the text never
   * shuffles, and downstream block-level dedup joins on longs.
   */
  def cdcChunks(df: DataFrame, idCol: Column, textCol: Column,
      window: Int = 2, divisor: Int = 8): DataFrame = {
    require(window >= 1 && divisor >= 1, "need window >= 1 and divisor >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    spreadSmallScan(
        df.select(idCol.cast("long").as("id"),
          textCol.cast("string").as("text")), col("id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val tk =
            if (text == null) Array.empty[String]
            else trimSpaces(text).split("\\s+").filter(_.nonEmpty)
          if (tk.isEmpty) Iterator.empty
          else chunkBounds(tk, window, divisor).iterator.zipWithIndex.map {
            case ((start, end), no) =>
              (id, no.toLong, graft.expr.PortableHash.hex15(
                tk.slice(start, end).mkString(" ")), (end - start).toLong)
          }
        }
      }
      .toDF("id", "chunk_no", "h", "n_tok")
  }

  /** CDC chunk spans of a token array: `(start, end)` token index pairs,
    * cut after 1-based position `i` (`window ≤ i < n`) whenever the
    * hex15 of the trailing `window`-token run divides by `divisor` — the
    * ONE boundary rule [[cdcChunks]] and [[cdcScrubAgainst]] (and the
    * DuckDB oracle) share. */
  private def chunkBounds(tk: Array[String], window: Int,
      divisor: Int): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = 0
    var i = 0
    while (i < tk.length) {
      val cut = i + 1 >= window && i + 1 < tk.length &&
        graft.expr.PortableHash.hex15(
          tk.slice(i + 1 - window, i + 1).mkString(" ")) % divisor == 0
      if (cut) { out += ((start, i + 1)); start = i + 1 }
      i += 1
    }
    out += ((start, tk.length))
    out.toArray
  }

  /**
   * Scrub a batch — or an unbounded STREAM — against a PERSISTED
   * duplicate-chunk table (`h` rows from [[cdcChunks]], e.g. the hashes
   * [[cdcDupFraction]] counts as cross-document blocks): re-chunk each
   * document with the same boundary rule and DROP every chunk whose hash
   * is in the table — rsync-style block dedup for incremental ingest,
   * the CDC member of the `…Against` family ([[lineDedupAgainst]],
   * [[spanScrubAgainst]]). Returns `(id, n_chunks, n_removed, text)`
   * with surviving chunks re-joined by single spaces; token-less
   * documents pass through as `(id, 0, 0, "")`.
   *
   * Row-local by construction: the duplicate-block table — bounded, by
   * the same argument as the frequent-line table: blocks must repeat to
   * enter it — ships once per executor as a broadcast set; each row
   * re-chunks its own tokens. No joins, no aggregation, no watermark:
   * stateless per-partition projection, streaming-safe.
   */
  def cdcScrubAgainst(df: DataFrame, idCol: Column, textCol: Column,
      chunks: DataFrame, window: Int = 2, divisor: Int = 8): DataFrame = {
    require(window >= 1 && divisor >= 1, "need window >= 1 and divisor >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val hashes = chunks.select(col("h").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val bc = spark.sparkContext.broadcast(hashes)
    spreadSmallScan(
        df.select(idCol.cast("long").as("id"),
          textCol.cast("string").as("text")), col("id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val set = bc.value
        rows.map { case (id, text) =>
          val tk =
            if (text == null) Array.empty[String]
            else trimSpaces(text).split("\\s+").filter(_.nonEmpty)
          if (tk.isEmpty) (id, 0L, 0L, "")
          else {
            val bounds = chunkBounds(tk, window, divisor)
            val kept = bounds.filter { case (s, e) =>
              !set.contains(graft.expr.PortableHash.hex15(
                tk.slice(s, e).mkString(" ")))
            }
            (id, bounds.length.toLong, (bounds.length - kept.length).toLong,
              kept.map { case (s, e) => tk.slice(s, e).mkString(" ") }
                .mkString(" "))
          }
        }
      }
      .toDF("id", "n_chunks", "n_removed", "text")
  }

  /**
   * Block-level duplication report over [[cdcChunks]]: per document, the
   * chunk count and the share of its chunks whose hash occurs in ≥ 2
   * distinct documents — the CDC analogue of [[graft.ops.QualitySignals
   * .boilerplateFraction]], and the detector for storage-level/container
   * dedup (shared blocks across .tar members, mirrored file sections).
   * Returns `(id, n_chunks, dup_frac)`; token-less documents are absent.
   *
   * Scale shape: the chunk table is built row-locally; the distinct-doc
   * count per hash is a `(h, id)` DISTINCT then count — two partial-agg
   * exchanges of longs, never an object-hash set (the q96 lesson); the
   * membership join carries only hashes that reached `minDocs`.
   */
  def cdcDupFraction(df: DataFrame, idCol: Column, textCol: Column,
      window: Int = 2, divisor: Int = 8, minDocs: Int = 2): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol, window, divisor)
    val dup = chunks.select(col("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), lit(1L).as("dup"))
    chunks.select(col("id"), col("h"))
      .join(dup, Seq("h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("dup"), lit(0L))).as("nd"))
      .select(col("id"), col("n_chunks"),
        round(col("nd") / col("n_chunks"), 4).as("dup_frac"))
  }

  /**
   * EXACT longest token run shared by two different documents, with a
   * witness pair: `(len, a_id, b_id)` — one row, the lexicographically
   * smallest pair among those achieving the maximum (empty when no token
   * is shared at all). The cross-document analogue of what suffix-array
   * dedup reports, without building a distributed suffix array:
   * "∃ an `L`-gram in ≥ 2 docs" is monotone in `L`, so a bracketing
   * sweep plus interval search pins it. Probes are BATCHED: one corpus
   * scan evaluates a whole GRID of candidate lengths at once (emitting
   * per-document DISTINCT `(l, h)` gram hashes — row-local
   * [[graft.expr.PortableHash]] work, shuffling only longs with partial
   * aggregation), so the power-of-two bracket is ONE job instead of
   * log₂(answer) sequential ones, and the refinement probes up to 7
   * interior lengths per round (≤ 2 rounds for any bracket up to 64
   * wide) instead of bisecting one mid at a time. Same total hash work
   * as sequential probing, a fraction of the job-launch barriers — the
   * round-5 lesson that many-small-jobs cadence is what a loaded driver
   * amplifies. `maxLen` is a hard probe cap: a result of exactly
   * `maxLen` means "the longest shared run is ≥ maxLen" (raise the cap
   * for the exact value). The final length is then re-derived over gram
   * STRINGS restricted to the (tiny) surviving hash set, so the
   * reported answer is exact even if a 60-bit hash collision inflated a
   * probe (in which case the verification join is empty and this throws
   * rather than reports a phantom span; probability ≈ grams²/2⁶⁰).
   *
   * The token table is persisted across probes — the text is tokenized
   * once, not once per probe. Job count is ~2 + log₇(maxLen/answer)·2
   * regardless of corpus size (the [[Bpe.train]] discipline: loops whose
   * trip count is a parameter, never the data).
   */
  def longestSharedSpan(df: DataFrame, idCol: Column, textCol: Column,
      maxLen: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("len", "a_id", "b_id")
    val toks = df
      .select(idCol.cast("long").as("id"), textCol.cast("string").as("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, if (t == null) Array.empty[String]
             else trimSpaces(t).split("\\s+").filter(_.nonEmpty))
      }
      .persist()
    try {
      def sharedHashes(l: Int): DataFrame =
        toks.mapPartitions { it =>
          it.flatMap { case (id, tk) =>
            if (tk.length < l) Iterator.empty
            else {
              val set = scala.collection.mutable.HashSet.empty[Long]
              var i = 0
              while (i + l <= tk.length) {
                set += graft.expr.PortableHash.hex15(
                  tk.slice(i, i + l).mkString(" "))
                i += 1
              }
              set.iterator.map(h => (h, id))
            }
          }
        }.toDF("h", "id")
          .groupBy("h").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2)

      // Batched probe: ONE job answering "which of these lengths have a
      // shared gram" — per-doc distinct (l, h) pairs, partial-agg count
      // over (l, h), max over the surviving lengths. Monotonicity makes
      // the largest shared grid point exactly what sequential probing of
      // each grid point would find.
      def sharedMax(ls: Seq[Int]): Option[Int] = {
        val lens = ls.toArray
        val row = toks.mapPartitions { it =>
          it.flatMap { case (id, tk) =>
            lens.iterator.filter(_ <= tk.length).flatMap { l =>
              val set = scala.collection.mutable.HashSet.empty[Long]
              var i = 0
              while (i + l <= tk.length) {
                set += graft.expr.PortableHash.hex15(
                  tk.slice(i, i + l).mkString(" "))
                i += 1
              }
              set.iterator.map(h => (l, h, id))
            }
          }
        }.toDF("l", "h", "id")
          .groupBy("l", "h").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2)
          .agg(max("l").as("l")).head()
        if (row.isNullAt(0)) None else Some(row.getInt(0))
      }

      val powers =
        Iterator.iterate(1)(p => math.min(p.toLong * 2, Int.MaxValue).toInt)
          .takeWhile(_ <= maxLen).toSeq.distinct
      sharedMax(powers) match {
        case None => empty // not even a single token is shared
        case Some(p) =>
          var lo = p
          // the next power failed (monotonicity: a shared 2p-gram would
          // make 2p the sweep's max) — or exceeds the cap, in which case
          // the space is (lo, maxLen] and a result of exactly maxLen
          // means "at least maxLen", the documented cap semantics
          var hi = math.min(p.toLong * 2, maxLen.toLong + 1).toInt
          while (hi - lo > 1) {
            val mids = (1 to 7)
              .map(i => lo + ((hi.toLong - lo) * i / 8).toInt)
              .map(m => math.max(lo + 1, math.min(m, hi - 1)))
              .distinct.sorted
            sharedMax(mids) match {
              case None => hi = mids.min
              case Some(m) =>
                lo = m
                val above = mids.filter(_ > m)
                if (above.nonEmpty) hi = above.min
            }
          }
          val l = lo
        // exact witness: gram STRINGS for the surviving hashes only
        val cand = sharedHashes(l).select("h").collect().map(_.getLong(0)).toSet
        val bc = spark.sparkContext.broadcast(cand)
        val gs = toks.mapPartitions { it =>
          val keep = bc.value
          it.flatMap { case (id, tk) =>
            if (tk.length < l) Iterator.empty
            else {
              val set = scala.collection.mutable.HashSet.empty[String]
              var i = 0
              while (i + l <= tk.length) {
                val g = tk.slice(i, i + l).mkString(" ")
                if (keep.contains(graft.expr.PortableHash.hex15(g))) set += g
                i += 1
              }
              set.iterator.map(g => (g, id))
            }
          }
        }.toDF("g", "id")
        val a = gs.as("a")
        val b = gs.as("b")
        val pair = a
          .join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id"))
          .agg(min(struct(col("a.id").as("a_id"), col("b.id").as("b_id"))).as("p"))
          .select(lit(l.toLong).as("len"),
            col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
        val rows = pair.collect()
        require(rows.nonEmpty && !rows.head.isNullAt(1),
          s"hash collision inflated the probe at L=$l — no exact witness")
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq), pair.schema)
      }
    } finally toks.unpersist()
  }

  /**
   * EXACT Jaccard similarity join by PREFIX FILTERING (the
   * PPJoin/AllPairs family): returns every pair with token-set Jaccard
   * ≥ `threshold` — same answer as the O(n²) brute force, reached
   * without scoring all pairs. Each document's DISTINCT token set is
   * ordered rarest-global-token first; a pair at Jaccard ≥ t must share
   * at least one token among each side's first `|s| − ⌈t·|s|⌉ + 1`
   * tokens (pigeonhole on the overlap bound `t/(1+t)·(|a|+|b|)`), so
   * candidates come from an EQUI-join on prefix tokens only — and
   * because prefixes hold the rarest tokens, the hottest join keys are
   * the coldest words. Candidates then verify exactly. Returns
   * `(a_id, b_id, jaccard)` (4dp), `a_id < b_id`.
   *
   * Scale shape: the global frequency dictionary is vocabulary-bounded
   * and broadcasts ([[graft.ops.Classify]] discipline); set ordering and
   * prefix extraction are compiled row-local work; the only corpus-sized
   * shuffle carries `(prefix token, id)` pairs; exact verification joins
   * token sets back for CANDIDATE ids only. Tiny-vocabulary corpora
   * saturate the prefixes (every doc holds every word) — the filter's
   * selectivity is a property of the data, its exactness never is.
   */
  def prefixJaccardJoin(df: DataFrame, idCol: Column, textCol: Column,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val sets = df.select(idCol.cast("long").as("id"),
        array_sort(array_distinct(array_remove(split(trim(textCol), "\\s+"), "")))
          .as("ts"))
      .filter(size(col("ts")) > 0)
    val dict = sets.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(dict)
    val prefixes = sets.as[(Long, Seq[String])]
      .mapPartitions { it =>
        val f = bc.value
        it.flatMap { case (id, ts) =>
          // rarest-first order, ties by token — engine-reproducible
          val ordered = ts.sortBy(t => (f(t), t))
          val plen = ts.length - math.ceil(threshold * ts.length).toInt + 1
          ordered.take(plen).map(t => (t, id))
        }
      }
      .toDF("tok", "id")
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    cand
      .join(sets.select(col("id").as("a_id"), col("ts").as("ta")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("ts").as("tb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact pairwise n-gram Jaccard over a bounded id range — the
    * brute-force baseline the LSH paths approximate. O(n²): keep the range
    * small or use [[minHashDuplicates]] at scale. */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, shingleSize: Int = 1): DataFrame = {
    val toks = df.select(idCol.as("id"), shingleSet(textCol, shingleSize).as("toks"))
    val a = toks.as("a")
    val b = toks.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        (size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
          size(array_union(col("a.toks"), col("b.toks")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Dedup SATURATION curve — "how much of the next data increment is
    * actually new": for each corpus prefix size `N` (by id order, the
    * ingest order), the count and share of prefix documents that
    * near-duplicate an EARLIER document ([[minHashDuplicates]] pairs,
    * later id = the duplicate). A flattening novel-share curve is the
    * empirical argument for stopping collection or switching sources.
    * Returns `(prefix_n, n_docs, n_dup_docs, dup_rate)`.
    *
    * Scale shape: pairs are computed ONCE (banded LSH, never all-pairs);
    * the per-prefix rollup joins the duplicate-id frame against the
    * broadcast prefix list — |pairs| × |prefixes| at worst, corpus text
    * untouched. */
  def dedupSaturation(df: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, prefixes: Seq[Long], bands: Int = 16,
      rowsPerBand: Int = 4, shingleSize: Int = 3,
      seed: Long = 42L): DataFrame = {
    require(prefixes.nonEmpty, "need at least one prefix size")
    val spark = df.sparkSession
    import spark.implicits._
    val pf = broadcast(prefixes.sorted.toDF("prefix_n"))
    val dups = minHashDuplicates(df, idCol, textCol, threshold, bands,
        rowsPerBand, shingleSize, seed)
      .select(col("b_id")).distinct()
    val dupCounts = dups.join(pf, col("b_id") < col("prefix_n"))
      .groupBy("prefix_n").agg(count(lit(1)).as("n_dup_docs"))
    val docCounts = df.select(idCol.cast("long").as("id"))
      .join(pf, col("id") < col("prefix_n"))
      .groupBy("prefix_n").agg(count(lit(1)).as("n_docs"))
    docCounts.join(dupCounts, Seq("prefix_n"), "left")
      .select(col("prefix_n"),
        col("n_docs"), coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)) /
          col("n_docs").cast("double"), 4).as("dup_rate"))
  }

  /** LSH banding planner: for every `(bands, rows_per_band)` layout
    * within the `maxHashes` signature budget, the S-curve collision
    * probability `p(s) = 1 − (1 − s^r)^b` evaluated below, at, and above
    * the target Jaccard `threshold`, plus the curve's midpoint
    * `s* = (1/b)^(1/r)` — the table that picks [[minHashDuplicates]]'s
    * banding before an index build (`fp_low` = spurious-candidate rate
    * on clearly-below-threshold pairs, `fn_high` = miss rate on
    * clearly-above ones; [[minhashCalibration]] then MEASURES what this
    * predicts). Parameter-sized literal frame, pure row-local math. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, threshold: Double,
      maxHashes: Int = 256, margin: Double = 0.15): DataFrame = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    require(margin > 0 && threshold - margin > 0 && threshold + margin < 1,
      "margin must keep threshold±margin inside (0,1)")
    import spark.implicits._
    val grid = for {
      r <- 1 to maxHashes; b <- 1 to maxHashes if b * r <= maxHashes
    } yield (b.toLong, r.toLong)
    def pAt(s: Double) = round(lit(1.0) -
      pow(lit(1.0) - pow(lit(s), col("r")), col("b")), 6)
    grid.toDF("b", "r")
      .select(col("b").as("bands"), col("r").as("rows_per_band"),
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6).as("s_mid"),
        pAt(threshold - margin).as("fp_low"),
        pAt(threshold).as("p_at_t"),
        (lit(1.0) - pAt(threshold + margin)).as("fn_high"))
  }

  /** Latest-version snapshot dedup (the crawl-recrawl / SCD "current
    * view"): keep, per `keyCols` (URL, record key, …), the single row with
    * the highest `versionCol`, ties broken toward the smallest `idCol` so
    * the snapshot is deterministic under same-instant recrawls. One
    * partial-agg struct-max pass: per partition each key reduces to its
    * best candidate row, so the exchange carries O(keys × partitions)
    * rows — the full payload moves only for per-partition winners, never
    * the whole history. (With very wide payloads and few partitions per
    * key, a two-pass winner-id + semi-join costs one more shuffle but
    * moves no payload; this one-pass shape is right when keys ≪ rows.)
    * A null version loses to any non-null one (Spark struct ordering);
    * all payload columns must be orderable types (no maps) — Parquet
    * corpus tables are. */
  def latestSnapshot(df: DataFrame, keyCols: Seq[Column],
      versionCol: Column, idCol: Column): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.select(struct(keyCols: _*).as("_k"),
        struct(versionCol.as("_v"), (-idCol.cast("long")).as("_nid"),
          payload.as("_row")).as("_c"))
      .groupBy("_k").agg(max(col("_c")).as("_w"))
      .select(col("_w._row.*"))
  }
}
