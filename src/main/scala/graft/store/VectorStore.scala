package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{DatabaseInfo, IndexMetadata}

/**
 * Persistent layout of one vector database (FIXTURES.md §2), replacing the
 * reference's TileDB array + FLAT index + SQLite metadata DB + YAML catalog
 * (`/root/reference/vector_db_creator.py:230-358`,
 * `/root/reference/sqlite_operations.py:4-51`,
 * `/root/reference/config.py:124-155`):
 *
 * {{{
 * <warehouse>/<db>/
 *   vectors/             id, vector ARRAY<FLOAT>, text, metadata STRUCT
 *   documents/           file_name, hash, file_path, page_content
 *   chunk_doc_map/       chunk_id, hash
 *   index_metadata.json  {distance_metric, dimensions, vector_type,
 *                         index_type, num_vectors}
 * <warehouse>/catalog.json   {db -> {model, chunk_size, chunk_overlap}}
 * }}}
 *
 * The parquet `vectors` table IS the FLAT index (SURVEY §2.1 S12): a
 * brute-force scan is a column-pruned parquet read of `(id, vector)` fused
 * with the cosine expression. Scale posture: vectors are range-partitioned
 * by id at write so the id-lookup join (J1) prunes row groups, and files are
 * capped at 100k records mirroring the reference's write batch
 * (`vector_db_creator.py:48,239`).
 */
final class VectorStore(spark: SparkSession, warehouse: String) {

  def dbDir(db: String): String = s"$warehouse/$db"

  def writeVectors(db: String, vectors: DataFrame, partitions: Int = 0): Unit = {
    val n = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    vectors.repartitionByRange(n, col("id"))
      .sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .parquet(s"${dbDir(db)}/vectors")
  }

  /** IVF-style clustered layout (SURVEY §4.3): vectors land in hive
    * partitions keyed by their sign-LSH cell, so an approximate search that
    * probes B buckets reads B/2^nbits of the data via plain partition
    * pruning — the 100 TB scan-reduction path, with no custom planner rule
    * needed. Within each bucket, files stay sorted by id for the lookup
    * phase. `(nbits, seed)` persist beside the table ([[lshParams]]), so a
    * search hashes its query into the same cells. */
  def writeVectorsClustered(db: String, vectors: DataFrame, nbits: Int = 4,
      seed: Long = 42L): Unit = {
    vectors
      .withColumn("bucket", graft.ops.Ann.lsh_bucket(col("vector"), nbits, seed))
      .repartition(col("bucket"))
      .sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .partitionBy("bucket")
      .parquet(s"${dbDir(db)}/vectors")
    atomicWrite(s"${dbDir(db)}/lsh.json", s"""{"nbits": $nbits, "seed": $seed}""")
  }

  /** `(nbits, seed)` of a [[writeVectorsClustered]] layout, read on the
    * driver (no Spark job). */
  def lshParams(db: String): (Int, Long) = {
    val file = Paths.get(s"${dbDir(db)}/lsh.json")
    if (!Files.exists(file)) throw new IllegalStateException(
      s"'$db' has no LSH parameters: write it with writeVectorsClustered")
    val txt = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
    val m = """\{"nbits":\s*(\d+),\s*"seed":\s*(-?\d+)\}""".r.findFirstMatchIn(txt)
      .getOrElse(throw new IllegalStateException(s"malformed LSH parameters of '$db': $txt"))
    (m.group(1).toInt, m.group(2).toLong)
  }

  /** IVF clustered layout with LEARNED centroids ([[graft.ops.Ivf]]): like
    * [[writeVectorsClustered]] but cells are k-means clusters instead of
    * data-oblivious sign-LSH half-spaces, so equal probe fractions buy more
    * recall. Centroids persist beside the table; [[graft.query.Searcher]]
    * probes by centroid similarity + partition pruning. */
  def writeVectorsIvf(db: String, vectors: DataFrame, nlist: Int = 8,
      iters: Int = 2, sampleFraction: Int = 100): Unit = {
    val cents = graft.ops.Ivf.trainCentroids(vectors, col("id"), col("vector"),
      nlist, iters, sampleFraction)
    val spark2 = spark
    import spark2.implicits._
    cents.toDF("cid", "c").write.mode("overwrite")
      .parquet(s"${dbDir(db)}/centroids")
    graft.ops.Ivf.assignClusters(vectors, col("id"), col("vector"), cents)
      .repartition(col("cluster"))
      .sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .partitionBy("cluster")
      .parquet(s"${dbDir(db)}/vectors")
  }

  /** HNSW graph layout: the [[graft.ops.Hnsw]] layered edge frame
    * persisted PARTITIONED BY `src_bucket = id % buckets`, so a beam
    * hop's adjacency fetch (`src IN frontier` plus the bucket
    * predicate) is a directory-pruned point read instead of a full
    * edge scan — the on-disk shape that keeps search cost proportional
    * to `hops × ef × M`, not to the graph. Construction uses the
    * IVF-pruned build when `nlist > 0` (the corpus-scale path), the
    * exact broadcast build otherwise; `(m, max_level, buckets)` persist
    * beside the edges for the [[graft.query.Searcher.Hnsw]] search. */
  def writeHnsw(db: String, vectors: DataFrame, m: Int = 8,
      maxLevel: Int = 2, nlist: Int = 0, buckets: Int = 32): Unit = {
    val edges =
      if (nlist > 0) graft.ops.Hnsw.buildIvf(vectors, col("id"),
        col("vector"), m, maxLevel, nlist)
      else graft.ops.Hnsw.buildExact(vectors, col("id"), col("vector"),
        m, maxLevel)
    edges.withColumn("src_bucket", pmod(col("id"), lit(buckets.toLong)))
      .repartition(col("src_bucket"))
      .sortWithinPartitions("level", "id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .partitionBy("src_bucket")
      .parquet(s"${dbDir(db)}/hnsw_edges")
    val spark2 = spark
    import spark2.implicits._
    Seq((m, maxLevel, buckets)).toDF("m", "max_level", "buckets")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${dbDir(db)}/hnsw_meta")
  }

  def hnswEdges(db: String): DataFrame =
    spark.read.parquet(s"${dbDir(db)}/hnsw_edges")

  /** `(m, max_level, buckets)` of a [[writeHnsw]] layout. */
  def hnswMeta(db: String): (Int, Int, Int) = {
    val r = sideTable(db, "hnsw_meta", "m INT, max_level INT, buckets INT").head()
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Incremental HNSW maintenance ([[graft.ops.Hnsw.append]]): link a
    * new `(id, vector)` batch into the persisted graph — md5-ladder
    * levels, per-layer candidates from ONE shared beam descent over the
    * standing bucketed edges (directory-pruned point reads), reverse
    * edges re-capped at `m`, rings re-extended — then rewrite the
    * bucketed layout. The corpus is never re-scored: append cost is the
    * descent's O(levels + hops) jobs plus an integer re-cap, vs a full
    * rebuild's layer-0 pair join. Micro-batch path (the batch rides the
    * driver as the descent's query set); bulk loads re-run
    * [[writeHnsw]]. Ids already present in the graph's vector table are
    * handled (streaming appends vectors before maintaining the graph). */
  def appendHnsw(db: String, newVectors: DataFrame, efC: Int = 50): Unit = {
    val (m, maxLevel, buckets) = hnswMeta(db)
    val edges = hnswEdges(db)
    // only genuinely new nodes link in: a re-delivered batch (stream
    // catch-up over a pre-existing store) must not re-insert graph
    // members; the vector side dedupes by id for the same reason
    val fresh = newVectors
      .select(col("id").cast("long").as("id"), col("vector"))
      .join(edges.select(col("id")).distinct(), Seq("id"), "left_anti")
    val updated = graft.ops.Hnsw.append(
        edges, vectors(db).dropDuplicates("id"), col("id"), col("vector"),
        fresh, col("id"), col("vector"), m, maxLevel, efC,
        srcBuckets = buckets)
      .withColumn("src_bucket", pmod(col("id"), lit(buckets.toLong)))
      // eager checkpoint: the lineage reads the very parquet layout the
      // write below overwrites
      .localCheckpoint(true)
    updated.repartition(col("src_bucket"))
      .sortWithinPartitions("level", "id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .partitionBy("src_bucket")
      .parquet(s"${dbDir(db)}/hnsw_edges")
  }

  /** Learned centroids of an IVF store (tiny: nlist × dim floats). */
  def centroids(db: String): Seq[(Int, Seq[Float])] =
    sideTable(db, "centroids", "cid INT, c ARRAY<FLOAT>")
      .collect()
      .map(r => r.getAs[Int]("cid") ->
        (r.getAs[Seq[Float]]("c").toVector: Seq[Float]))
      .sortBy(_._1).toSeq

  /** IVF-PQ layout: the [[writeVectorsIvf]] cluster-partitioned vectors
    * table (phase-2 text/metadata lookups) PLUS a `pq_codes` side table of
    * `(id, codes)` per cluster — the scan a [[graft.query.Searcher.Pq]] search
    * actually reads: m small ints per vector instead of the dim-float
    * array (the 16× scan-size cut that makes the candidate pass
    * memory-resident at billion scale), pruned by the same cluster
    * directories. Coarse centroids and the per-subspace codebooks persist
    * beside the table. */
  def writeVectorsPq(db: String, vectors: DataFrame, nlist: Int = 8,
      m: Int = 4, ksub: Int = 8, iters: Int = 2,
      sampleFraction: Int = 100): Unit = {
    val dim = vectors.select(size(col("vector"))).head().getInt(0)
    val cents = graft.ops.Ivf.trainCentroids(vectors, col("id"), col("vector"),
      nlist, iters, sampleFraction)
    val books = graft.ops.Pq.trainCodebooks(vectors, col("id"), col("vector"),
      dim, m, ksub, iters, sampleFraction)
    val spark2 = spark
    import spark2.implicits._
    cents.toDF("cid", "c").write.mode("overwrite")
      .parquet(s"${dbDir(db)}/centroids")
    books.zipWithIndex
      .flatMap { case (book, s) => book.map { case (cid, c) => (s, cid, c) } }
      .toDF("sub", "cid", "c").write.mode("overwrite")
      .parquet(s"${dbDir(db)}/codebooks")
    val assigned = graft.ops.Ivf.assignClusters(vectors, col("id"),
        col("vector"), cents)
      .repartition(col("cluster"))
      .sortWithinPartitions("id")
    assigned
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .partitionBy("cluster")
      .parquet(s"${dbDir(db)}/vectors")
    // codes derive from the just-written table (one clean re-read beats
    // recomputing the assignment lineage for a second write)
    spark.read.parquet(s"${dbDir(db)}/vectors")
      .select(col("id"), col("cluster"),
        graft.ops.Pq.codesColumn(col("vector"), dim, books).as("codes"))
      .write.mode("overwrite")
      .partitionBy("cluster")
      .parquet(s"${dbDir(db)}/pq_codes")
  }

  /** Quantized side table for first-stage retrieval: per-vector SQ8 codes
    * + scale AND packed sign-bit words in ONE narrow table
    * `(id, sc, codes, sig)` — ~d bytes + d/8 bits per row instead of 4d
    * float bytes, so both the SQ8 and binary candidate scans read a
    * fraction of the vectors table's bandwidth
    * (a [[graft.query.Searcher.Quantized]] search verifies the few candidates
    * against the full vectors). Derived from the already-written vectors
    * table (one clean re-read, same as the PQ codes path). */
  def writeVectorsQuantized(db: String): Unit = {
    val vecs = spark.read.parquet(s"${dbDir(db)}/vectors")
    val dim = vecs.select(size(col("vector"))).head().getInt(0)
    vecs
      .select(col("id"), col("vector"),
        graft.ops.Quantize.int8Scale(col("vector")).as("sc"))
      .select(col("id"), col("sc"),
        graft.ops.Quantize.int8Codes(col("vector"), col("sc")).as("codes"),
        graft.ops.Ann.packWordsCol(col("vector"), dim).as("sig"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .parquet(s"${dbDir(db)}/quant_codes")
  }

  /** The quantized side table of [[writeVectorsQuantized]]. */
  def quantCodes(db: String): DataFrame =
    sideTable(db, "quant_codes", "id BIGINT, sc DOUBLE, codes ARRAY<INT>, sig ARRAY<BIGINT>")

  /** The `(id, codes, cluster)` side table of [[writeVectorsPq]]. */
  def pqCodes(db: String): DataFrame =
    sideTable(db, "pq_codes", "id BIGINT, codes ARRAY<INT>, cluster INT")

  /** Per-subspace PQ codebooks of a [[writeVectorsPq]] store (tiny:
    * m × ksub × dim/m floats). */
  def codebooks(db: String): Seq[Seq[(Int, Seq[Float])]] =
    sideTable(db, "codebooks", "sub INT, cid INT, c ARRAY<FLOAT>")
      .collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid"),
        r.getAs[Seq[Float]]("c").toVector: Seq[Float]))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.map { case (_, cid, c) => (cid, c) }.sortBy(_._1).toSeq
      }

  /** Build and persist a [[graft.ops.ScrubArtifact]]'s frozen-corpus table
    * under `<db>/artifacts/<kind>` — run once per corpus freeze; every
    * later batch gates against the parquet with zero recomputation. */
  def writeScrubArtifact(db: String, artifact: graft.ops.ScrubArtifact,
      corpus: DataFrame, id: Column, text: Column): Unit =
    artifact.build(corpus, id, text).write.mode("overwrite")
      .parquet(s"${dbDir(db)}/artifacts/${artifact.kind}")

  /** Load a persisted scrub artifact table (schema is the artifact's own). */
  def scrubArtifact(db: String, artifact: graft.ops.ScrubArtifact): DataFrame =
    spark.read.parquet(s"${dbDir(db)}/artifacts/${artifact.kind}")

  /** The artifact's NATIVE per-batch output (scrub rewrite or report)
    * against its persisted table. */
  def scrubApply(db: String, artifact: graft.ops.ScrubArtifact,
      batch: DataFrame, id: Column, text: Column): DataFrame =
    artifact.apply(batch, id, text, scrubArtifact(db, artifact))

  /** THE daily-ingest one-liner: fold a batch — or, when every member is a
    * streaming-safe scrubber/row-local gate, an unbounded stream — through
    * a chain of persisted artifacts, left to right. Returns `(id, text)`
    * with scrubbers' text rewritten and gates' flagged rows dropped. */
  def scrubGate(db: String, artifacts: Seq[graft.ops.ScrubArtifact],
      batch: DataFrame, id: Column, text: Column): DataFrame =
    artifacts.foldLeft(
        batch.select(id.cast("long").as("id"),
          text.cast("string").as("text"))) { (acc, a) =>
      a.gate(acc, col("id"), col("text"), scrubArtifact(db, a))
    }

  def writeIndexMetadata(db: String, meta: IndexMetadata): Unit = {
    val json =
      s"""{"distance_metric": "${meta.distance_metric}", "dimensions": ${meta.dimensions}, "vector_type": "${meta.vector_type}", "index_type": "${meta.index_type}", "num_vectors": ${meta.num_vectors}}"""
    atomicWrite(s"${dbDir(db)}/index_metadata.json", json)
  }

  /** Compaction (the reference's consolidate+vacuum,
    * `vector_db_creator.py:326-329`): rewrite the vectors table into
    * `targetPartitions` id-sorted files — run after many streaming
    * micro-batch appends have fragmented the directory. */
  def compactVectors(db: String, targetPartitions: Int = 0): Unit = {
    val n = if (targetPartitions > 0) targetPartitions
      else spark.sparkContext.defaultParallelism
    val tmp = s"${dbDir(db)}/vectors_compacting"
    vectors(db).repartitionByRange(n, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").option("maxRecordsPerFile", 100000).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"${dbDir(db)}/vectors")
    fs.delete(live, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), live)
  }

  /** A side table the store writes with a fixed schema, read with that
    * schema: no Spark job infers it from the parquet footers. */
  private def sideTable(db: String, table: String, schema: String): DataFrame =
    spark.read.schema(schema).parquet(s"${dbDir(db)}/$table")

  def vectors(db: String): DataFrame = spark.read.parquet(s"${dbDir(db)}/vectors")
  def documents(db: String): DataFrame = spark.read.parquet(s"${dbDir(db)}/documents")
  def chunkDocMap(db: String): DataFrame = spark.read.parquet(s"${dbDir(db)}/chunk_doc_map")

  /** Whether the store has written `table` (a side table decides a
    * layout: `centroids` IVF, `hnsw_meta` HNSW). A driver-side check, no
    * Spark job; reading a table that exists but is unreadable fails. */
  def hasTable(db: String, table: String): Boolean =
    Files.isDirectory(Paths.get(s"${dbDir(db)}/$table"))

  /** The vector count: `index_metadata.json`'s when the store has one,
    * else a count of a vectors table written without it, else 0. */
  def numVectors(db: String): Long =
    if (Files.exists(Paths.get(s"${dbDir(db)}/index_metadata.json")))
      indexMetadata(db).num_vectors
    else if (hasTable(db, "vectors")) vectors(db).count()
    else 0L

  def indexMetadata(db: String): IndexMetadata = {
    val row = spark.read.json(s"${dbDir(db)}/index_metadata.json").collect()(0)
    IndexMetadata(
      distance_metric = row.getAs[String]("distance_metric"),
      dimensions = row.getAs[Long]("dimensions").toInt,
      vector_type = row.getAs[String]("vector_type"),
      index_type = row.getAs[String]("index_type"),
      num_vectors = row.getAs[Long]("num_vectors"))
  }

  /** Catalog upsert (reference: `config.yaml created_databases`,
    * `config.py:175-181`) — tiny driver-side JSON with atomic tmp-rename
    * like the reference's save path (`config.py:139-155`). */
  def catalogAdd(db: String, info: DatabaseInfo): Unit = {
    val entries = catalog + (db -> info)
    val json = entries.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"model": "${v.model}", "chunk_size": ${v.chunk_size}, "chunk_overlap": ${v.chunk_overlap}}"""
    }.mkString("{", ", ", "}")
    atomicWrite(s"$warehouse/catalog.json", json)
  }

  def catalog: Map[String, DatabaseInfo] = {
    val p = Paths.get(s"$warehouse/catalog.json")
    if (!Files.exists(p)) return Map.empty
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    // catalog files are engine-written (schema above); a light regex parse
    // avoids a JSON library dependency
    val entry =
      """"([^"]+)":\s*\{"model":\s*"([^"]*)",\s*"chunk_size":\s*(\d+),\s*"chunk_overlap":\s*(\d+)\}""".r
    entry.findAllMatchIn(txt).map { m =>
      m.group(1) -> DatabaseInfo(m.group(2), m.group(3).toInt, m.group(4).toInt)
    }.toMap
  }

  private def atomicWrite(path: String, content: String): Unit = {
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
