package graft.ingest

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.embed.{Embedder, HashEmbedder}
import graft.functions.{chunk_document, hash_embed, normalize_text}
import graft.model.{DatabaseInfo, IndexMetadata}
import graft.store.VectorStore

/**
 * Create-database pipeline (SURVEY §3.1): the reference's six subprocess
 * stages (`/root/reference/vector_db_creator.py:369-535`) collapse into one
 * declarative Spark lineage —
 *
 * {{{
 * binaryFile scan → decode (S4/S5) → metadata projection (O3) →
 * ChunkDocument generator (G1) → NormalizeText (O4) → embed (O12) →
 * vectors/documents/chunk_doc_map parquet (S11, S14) + index_metadata.json
 * }}}
 *
 * Batch [[run]] and [[graft.streaming.StreamingIngest]] write the store
 * through one [[sink]]: each file decodes once, each chunk embeds once,
 * and every count is read off the jobs that write — no job only counts,
 * and nothing reads the store back. Everything before the write is
 * per-row/per-partition — no shuffle except the range-partitioning of
 * the vectors table — so the plan scales by adding executors (SURVEY
 * §7.4.6). Worker subprocesses, pickle IRs, retry and checkpoint
 * machinery (C1-C3) are replaced by Spark task scheduling, lineage and
 * task retries.
 */
object IngestJob {

  // referenced from the statDates UDF as a module static — the formatter
  // itself (not Serializable) never enters the closure
  private val IsoMicros =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Defaults mirror the reference config (`/root/reference/config.py:26-27`). */
  final case class Config(
      chunkSize: Int = 1200,
      chunkOverlap: Int = 600,
      model: String = "hash-64",
      dim: Int = 64,
      seed: Long = 42L,
      /** None → embed with the codegen'd HashEmbed expression (tests/bench);
        * Some(e) → per-partition embedding via `mapPartitions` for
        * heavyweight model backends. */
      embedder: Option[Embedder] = None)

  /** A7 pipeline counters (`stage_split.py:82-88`, `vector_db_creator.py:
    * 397,438`): matched files, successfully extracted documents, chunks
    * written, files skipped (matched but undecodable or blank) — the
    * reference's skip-and-count contract (§4.1.3) — and files of an
    * unsupported extension. */
  final case class Result(
      documents: Long,
      chunks: Long,
      filesMatched: Long,
      filesSkipped: Long,
      filesUnsupported: Long)

  /** The reference's 12 supported formats (`constants.py:112-115`). ALL
    * twelve extract for real, pure-JVM: PDF via [[PdfText]], `.msg` via
    * the OLE2/CFB reader ([[Ole2]]), legacy `.xls` via BIFF8
    * ([[XlsBiff]]). Remaining skip-and-count cases are encrypted PDFs and
    * (pre-round-3) CID-font pages — see [[PdfText]]'s scope note. */
  private val Supported = Seq(".txt", ".md", ".csv", ".pdf", ".docx", ".eml",
    ".msg", ".xls", ".xlsx", ".xlsm", ".rtf", ".html", ".htm")
  /** A `binaryFile` row's lower-cased extension, and whether it is one of
    * the twelve (F1). */
  private val extension = lower(regexp_extract(col("path"), "(\\.[^./\\\\]+)$", 1))
  private val supported: Column = extension.isin(Supported: _*)

  /** Extract the text-family formats from a directory into a documents
    * DataFrame `(text, file_path, file_type, file_name, creation_date,
    * modification_date, hash, document_type)`. */
  def extract(spark: SparkSession, docsDir: String): DataFrame =
    decodeAndProject(spark.read.format("binaryFile").load(docsDir))

  /** As [[extract]], but top-level `.zip` containers expand into their
    * supported members first (member path = `archive.zip!member`, so
    * provenance survives into `file_path`). */
  def extractWithArchives(spark: SparkSession, docsDir: String): DataFrame =
    decodeAndProject(expandArchives(
      spark.read.format("binaryFile").load(docsDir)))

  /** Expand container rows of a `binaryFile` frame — `.zip`, `.tar`,
    * `.tgz`/`.tar.gz`, and `.warc`/`.warc.gz` web-crawl captures (one
    * member per response/conversion record, named by target URI with an
    * extension inferred from the media type when the URI lacks one) —
    * into one row per supported member; every other
    * row passes through unchanged. Row-local (each archive decompresses
    * inside its own task — the explode is the only plan change), so
    * archive ingest scales exactly like flat-file ingest. The tar reader
    * is pure JVM from the ustar spec (512-byte headers, octal size field,
    * checksum-verified, GNU 'L' long-name records honored); gzip layers
    * through `GZIPInputStream`. Members keep the archive's
    * modificationTime (container entry times are unreliable across
    * tools); nested containers are NOT recursed — `.docx`/`.xlsx`
    * members are fine, they decode as ordinary OOXML bytes.
    *
    * Zip-bomb guards, all per-archive-task: `maxMemberBytes` bounds any
    * single member, `maxTotalBytes` bounds the SUM of decompressed bytes
    * held for one archive (a bomb of many individually-small members
    * can't accumulate gigabytes in one task), `maxMembers` bounds the row
    * fan-out. Once a total cap trips, extraction of that archive STOPS.
    * Nothing is dropped silently: every supported member skipped by a
    * guard — and every archive aborted mid-stream by corruption — adds to
    * `dropCounter` when one is passed (a `SparkContext.longAccumulator`;
    * task retries can over-count, the standard accumulator caveat, fine
    * for a completeness audit). A corrupt archive contributes the members
    * readable before the failure point, matching the skip-and-count
    * ethos. */
  def expandArchives(binary: DataFrame,
      maxMemberBytes: Long = 64L << 20,
      maxTotalBytes: Long = 512L << 20,
      maxMembers: Int = 4096,
      dropCounter: org.apache.spark.util.LongAccumulator = null): DataFrame = {
    val unpack = udf((path: String, b: Array[Byte]) => {
      // guard state shared across this one archive's walk
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
      var dropped = 0L
      var grandTotal = 0L

      def wantMember(name: String): Boolean = {
        val ext = name.lastIndexOf('.') match {
          case -1 => ""
          case i  => name.substring(i).toLowerCase(java.util.Locale.ROOT)
        }
        Supported.contains(ext)
      }
      // drain up to the caps from an entry stream; None = guard tripped
      def readCapped(in: java.io.InputStream): Option[Array[Byte]] = {
        if (out.size >= maxMembers || grandTotal >= maxTotalBytes) {
          dropped += 1; return None
        }
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var total = 0L
        var overflow = false
        var n = in.read(buf)
        while (n > 0 && !overflow) {
          total += n
          if (total > maxMemberBytes ||
              grandTotal + total > maxTotalBytes) overflow = true
          else { bos.write(buf, 0, n); n = in.read(buf) }
        }
        if (overflow) { dropped += 1; None }
        else { grandTotal += total; Some(bos.toByteArray) }
      }

      def walkZip(raw: java.io.InputStream): Unit = {
        val zin = new java.util.zip.ZipInputStream(raw)
        try {
          var e = zin.getNextEntry
          while (e != null) {
            if (!e.isDirectory && wantMember(e.getName))
              readCapped(zin).foreach(d => out += ((e.getName, d)))
            e = zin.getNextEntry
          }
        } finally zin.close()
      }

      // ustar walk: 512-byte headers, octal size, checksum-verified;
      // GNU 'L' records carry the next entry's long name
      def walkTar(raw: java.io.InputStream): Unit = {
        val hdr = new Array[Byte](512)
        def readFully(dst: Array[Byte], len: Int): Boolean = {
          var off = 0
          while (off < len) {
            val n = raw.read(dst, off, len - off)
            if (n < 0) return false
            off += n
          }
          true
        }
        def cstr(off: Int, len: Int): String = {
          var end = off
          while (end < off + len && hdr(end) != 0) end += 1
          new String(hdr, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
        }
        def octal(off: Int, len: Int): Long = {
          val s = cstr(off, len).trim
          if (s.isEmpty) 0L else java.lang.Long.parseLong(s, 8)
        }
        var pendingLongName: String = null
        var done = false
        while (!done && readFully(hdr, 512)) {
          if (hdr.forall(_ == 0)) done = true // end-of-archive blocks
          else {
            // header checksum: sum of bytes with the checksum field spaced
            val stored = octal(148, 8)
            var sum = 0L
            var i = 0
            while (i < 512) {
              sum += (if (i >= 148 && i < 156) 32 else hdr(i) & 0xff)
              i += 1
            }
            if (sum != stored) throw new java.io.IOException("bad tar checksum")
            val size = octal(124, 12)
            val typeflag = hdr(156).toChar
            val name = {
              val n = if (pendingLongName != null) pendingLongName else cstr(0, 100)
              pendingLongName = null
              n
            }
            val padded = ((size + 511) / 512) * 512
            if (typeflag == 'L') {
              // GNU long-name record: payload is the next entry's name
              val nb = new Array[Byte](size.toInt)
              if (!readFully(nb, size.toInt)) done = true
              else {
                pendingLongName = new String(nb,
                  java.nio.charset.StandardCharsets.UTF_8).takeWhile(_ != '\u0000') // GNU pads with a trailing NUL
                raw.skipNBytes(padded - size)
              }
            } else if ((typeflag == '0' || typeflag == 0.toChar) && wantMember(name)) {
              val capped = new BoundedStream(raw, size)
              readCapped(capped).foreach(d => out += ((name, d)))
              capped.drain()
              raw.skipNBytes(padded - size)
            } else raw.skipNBytes(padded)
          }
        }
      }

      // WARC walk (ISO 28500): version line, CRLF headers, Content-Length
      // payload, blank-line separators. `response` records unwrap their
      // HTTP envelope (status line + headers stripped, chunked
      // transfer-encoding decoded); `conversion`/`resource` records (the
      // WET layout) carry text directly. Members that neither have a
      // supported URI extension nor an html/plain media type are skipped
      // like any unsupported container entry.
      def walkWarc(raw: java.io.InputStream): Unit = {
        def readLine(in: java.io.InputStream): String = {
          val sb = new java.lang.StringBuilder()
          var c = in.read()
          if (c < 0) return null
          while (c >= 0 && c != '\n') { sb.append(c.toChar); c = in.read() }
          val s = sb.toString
          if (s.endsWith("\r")) s.substring(0, s.length - 1) else s
        }
        def extFor(mime: String): String =
          if (mime.contains("html")) ".html"
          else if (mime.startsWith("text/plain")) ".txt"
          else ""
        var done = false
        while (!done) {
          var l = readLine(raw)
          while (l != null && l.trim.isEmpty) l = readLine(raw)
          if (l == null) done = true
          else if (!l.startsWith("WARC/"))
            throw new java.io.IOException("bad WARC record header")
          else {
            val h = scala.collection.mutable.Map.empty[String, String]
            var line = readLine(raw)
            while (line != null && line.nonEmpty) {
              val i = line.indexOf(':')
              if (i > 0)
                h(line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)) =
                  line.substring(i + 1).trim
              line = readLine(raw)
            }
            val len = h.getOrElse("content-length", "0").toLong
            val wtype = h.getOrElse("warc-type", "")
            val uri = h.getOrElse("warc-target-uri", "record")
            val ctype = h.getOrElse("content-type", "")
            val payload = new BoundedStream(raw, len)
            def emit(body: java.io.InputStream, mime: String): Unit = {
              val name =
                if (wantMember(uri)) uri
                else { val e = extFor(mime); if (e.isEmpty) return else uri + e }
              readCapped(body).foreach(d => out += ((name, d)))
            }
            if (wtype == "response" &&
                ctype.startsWith("application/http")) {
              readLine(payload) // HTTP status line
              var httpType = ""
              var chunked = false
              var hl = readLine(payload)
              while (hl != null && hl.nonEmpty) {
                val i = hl.indexOf(':')
                if (i > 0) {
                  val k = hl.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
                  val v = hl.substring(i + 1).trim.toLowerCase(java.util.Locale.ROOT)
                  if (k == "content-type") httpType = v
                  else if (k == "transfer-encoding" && v.contains("chunked"))
                    chunked = true
                }
                hl = readLine(payload)
              }
              emit(if (chunked) new ChunkedStream(payload) else payload, httpType)
            } else if (wtype == "conversion" || wtype == "resource")
              emit(payload, ctype.toLowerCase(java.util.Locale.ROOT))
            payload.drain()
          }
        }
      }

      try {
        val p = path.toLowerCase(java.util.Locale.ROOT)
        val bin = new java.io.ByteArrayInputStream(b)
        if (p.endsWith(".zip")) walkZip(bin)
        else if (p.endsWith(".tar")) walkTar(bin)
        else if (p.endsWith(".warc")) walkWarc(bin)
        else if (p.endsWith(".warc.gz"))
          walkWarc(new java.util.zip.GZIPInputStream(bin))
        else walkTar(new java.util.zip.GZIPInputStream(bin)) // .tgz/.tar.gz
      } catch { case _: Exception => dropped += 1 } // corrupt: keep prefix
      if (dropCounter != null && dropped > 0) dropCounter.add(dropped)
      out.toSeq
    })
    val lp = lower(col("path"))
    val isArchive = lp.endsWith(".zip") || lp.endsWith(".tar") ||
      lp.endsWith(".tgz") || lp.endsWith(".tar.gz") ||
      lp.endsWith(".warc") || lp.endsWith(".warc.gz")
    val members = binary.filter(isArchive)
      .select(col("path").as("zpath"), col("modificationTime"),
        explode(unpack(col("path"), col("content"))).as("m"))
      .select(concat(col("zpath"), lit("!"), col("m._1")).as("path"),
        col("modificationTime"),
        length(col("m._2")).cast("long").as("length"),
        col("m._2").as("content"))
    binary.filter(!isArchive)
      .select(col("path"), col("modificationTime"),
        col("length").cast("long").as("length"), col("content"))
      .unionByName(members)
  }

  /** A view of `size` bytes of `in` that never reads past the entry —
    * lets the capped member reader treat a tar data run like a stream. */
  private final class BoundedStream(in: java.io.InputStream, size: Long)
      extends java.io.InputStream {
    private var remaining = size
    override def read(): Int =
      if (remaining <= 0) -1
      else { val v = in.read(); if (v >= 0) remaining -= 1; v }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (remaining <= 0) return -1
      val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) remaining -= n
      n
    }
    /** Skip whatever the capped reader left unconsumed. */
    def drain(): Unit = if (remaining > 0) {
      in.skipNBytes(remaining)
      remaining = 0
    }
  }

  /** Minimal HTTP/1.1 chunked-transfer decoder over a byte stream: hex
    * size line, that many payload bytes, CRLF, repeat; a zero-size chunk
    * ends the body (trailers ignored — the enclosing [[BoundedStream]]
    * drains them). Malformed framing raises, landing in the archive
    * walker's corrupt-container path. */
  private final class ChunkedStream(in: java.io.InputStream)
      extends java.io.InputStream {
    private var remaining = 0L
    private var finished = false
    private def crlf(): Unit = { in.read(); in.read() }
    private def nextChunk(): Unit = {
      val sb = new java.lang.StringBuilder()
      var c = in.read()
      while (c >= 0 && c != '\n') { sb.append(c.toChar); c = in.read() }
      val line = sb.toString.trim
      val semi = line.indexOf(';') // chunk extensions are legal; ignore
      val hexSize = (if (semi >= 0) line.substring(0, semi) else line).trim
      remaining = java.lang.Long.parseLong(hexSize, 16)
      if (remaining == 0) finished = true
    }
    override def read(): Int = {
      if (finished) return -1
      if (remaining == 0) {
        nextChunk()
        if (finished) return -1
      }
      val v = in.read()
      if (v >= 0) { remaining -= 1; if (remaining == 0) crlf() }
      v
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (finished) return -1
      if (remaining == 0) {
        nextChunk()
        if (finished) return -1
      }
      val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) { remaining -= n; if (remaining == 0) crlf() }
      n
    }
  }

  /** Same decode + metadata projection over any `binaryFile`-shaped frame —
    * shared by batch [[extract]] and [[graft.streaming.StreamingIngest]]
    * (the per-row operators are streaming-compatible, SURVEY §2.9). */
  def decodeAndProject(binary: DataFrame): DataFrame = {
    // one UDF dispatching on extension: decode is inherently imperative JVM
    // work (SURVEY §2.1 maps extractors to UDFs over binaryFile bytes)
    val decodeAny = udf((ext: String, b: Array[Byte]) =>
      RichExtractors.extractByExtension(ext, b))

    // The reference records ctime AND mtime ISO strings
    // (document_processor.py:61-62) but binaryFile exposes modificationTime
    // only: stat the file executor-side (works for file: paths — the common
    // local/NFS mount case). BOTH dates render from one UDF in UTC so they
    // can never disagree on timezone; a zero creationTime (filesystems
    // without birth time return the epoch rather than throwing) and stat
    // failures (non-file URLs) fall back to the source's mtime column.
    val statDates = udf((path: String, mtime: java.sql.Timestamp) => {
      def iso(i: java.time.Instant): String =
        java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
          .format(IsoMicros) // hoisted: pattern-parsing per row would double the UDF cost
      try {
        val p = java.nio.file.Paths.get(new java.net.URI(path))
        val attrs = java.nio.file.Files.readAttributes(
          p, classOf[java.nio.file.attribute.BasicFileAttributes])
        val m = iso(attrs.lastModifiedTime().toInstant)
        val c = if (attrs.creationTime().toMillis <= 0) m
                else iso(attrs.creationTime().toInstant)
        (c, m)
      } catch {
        case _: Exception =>
          val m = iso(mtime.toInstant)
          (m, m)
      }
    })

    val bin = binary.withColumn("ext", extension).filter(supported) // F1

    bin.select(
      decodeAny(col("ext"), col("content")).as("text"),
      regexp_replace(col("path"), "^file:", "").as("file_path"),
      col("ext").as("file_type"),
      regexp_extract(col("path"), "([^/\\\\]+)$", 1).as("file_name"),
      statDates(col("path"), col("modificationTime")).as("dates"),
      sha2(col("content"), 256).as("hash"), // O2
      lit("document").as("document_type"))
      .withColumn("creation_date", col("dates._1"))
      .withColumn("modification_date", col("dates._2"))
      .drop("dates")
      .select("text", "file_path", "file_type", "file_name", "creation_date",
        "modification_date", "hash", "document_type")
      .filter(col("text").isNotNull) // F2: undecodable/blank files dropped
  }

  /** Chunk + normalize + embed extracted documents into the vectors schema. */
  def vectorize(docs: DataFrame, cfg: Config): DataFrame = {
    val chunked = docs
      .select(col("file_path"), col("file_type"), col("file_name"),
        col("creation_date"), col("modification_date"), col("hash"),
        col("document_type"),
        chunk_document(col("text"), lit(cfg.chunkSize), lit(cfg.chunkOverlap)))
      .select(col("*"), normalize_text(col("chunk_text")).as("norm_text")) // O4
      .filter(col("norm_text").isNotNull) // F3
      // content-derived chunk id (SURVEY §7.4.3): the reference draws random
      // uint64 ids (vector_db_creator.py:288-291) — fatal for testability.
      // file_path participates so identical-content files (same hash) still
      // get distinct ids; duplicate ids would fan out the J1 lookup join.
      .withColumn("id", xxhash64(col("file_path"), col("hash"), col("chunk_index")))
      .select(col("id"), col("norm_text").as("text"),
        struct(col("file_path"), col("file_type"), col("file_name"),
          col("creation_date"), col("modification_date"), col("hash"),
          col("document_type"), col("page_number")).as("metadata"))

    cfg.embedder match {
      case None =>
        chunked.withColumn("vector", hash_embed(col("text"), cfg.dim, cfg.seed))
          .select("id", "vector", "text", "metadata")
      case Some(e) => embedWith(chunked, e)
    }
  }

  /** Per-partition embedding for heavyweight backends (O12): one `Embedder`
    * per partition, length-desc sort first to mirror the reference's
    * padding-minimizing batch order (K2, `stage_tokenize.py:103-104`) —
    * physical-only, rows keep their ids. Texts stream through
    * [[Embedder.embedBatch]] in bounded `batchSize` groups (the
    * length-sorted neighbors land in the same forward pass, so a real
    * model pads each batch only to its own max), and the 1:1 order
    * contract is asserted per batch — a backend that drops or reorders
    * outputs fails fast instead of mis-assigning vectors to ids. */
  def embedWith(chunked: DataFrame, embedder: Embedder,
      batchSize: Int = 64): DataFrame = {
    val spark = chunked.sparkSession
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(
      chunked.schema.fields :+ org.apache.spark.sql.types.StructField(
        "vector",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false),
        nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    chunked
      .sortWithinPartitions(length(col("text")).desc)
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { grp =>
          val vecs = embedder.embedBatch(grp.iterator.map(_.getAs[String]("text"))).toArray
          require(vecs.length == grp.length,
            s"Embedder.embedBatch returned ${vecs.length} vectors for ${grp.length} texts")
          grp.iterator.zip(vecs.iterator).map { case (r, v) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v.toSeq)
          }
        }
      }(enc)
      .select("id", "vector", "text", "metadata")
  }

  /** Where [[sink]] writes. Each mode has its caller; neither is a user
    * option. */
  private[graft] sealed trait Mode
  /** [[run]]: every table is replaced, and the vectors take the FLAT
    * layout, range-partitioned by id. */
  private[graft] case object Overwrite extends Mode
  /** A streaming micro-batch joins a store of `vectorsBefore` vectors:
    * its vectors land in their cluster directories when the store has
    * fixed IVF `centroids`, and link into its graph when it has an HNSW
    * one. */
  private[graft] final case class Append(vectorsBefore: Long,
      centroids: Option[Seq[(Int, Seq[Float])]], hnsw: Boolean) extends Mode

  /** The write end of the create pipeline, shared by [[run]] and
    * [[graft.streaming.StreamingIngest]]: decode a `binaryFile`-shaped
    * frame, vectorize it, and write `chunk_doc_map`, `documents`,
    * `vectors` and `index_metadata.json`. The decoded documents and the
    * vectors are persisted, and the first write's one job fills both
    * caches, so each file decodes once and each chunk embeds once however
    * many writes read them (the documents, the range sample, the vectors,
    * the graph link). Every count is observed on a job that writes:
    * matched and unsupported files on the scan and chunks on the
    * vectorized frame, both under their caches, and documents on the
    * `documents` write. */
  private[graft] def sink(binary: DataFrame, store: VectorStore, db: String,
      cfg: Config, mode: Mode): Result = {
    val files, chunks, documents = Observation()
    val docs = decodeAndProject(binary.observe(files,
        count(when(supported, 1)).as("matched"),
        count(when(!supported, 1)).as("unsupported")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vectors = vectorize(docs, cfg)
      .observe(chunks, count(lit(1)).as("chunks"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dir = store.dbDir(db)
    val (save, before, indexType) = mode match {
      case Overwrite => ("overwrite", 0L, "FLAT")
      case a: Append =>
        ("append", a.vectorsBefore, if (a.centroids.isDefined) "IVF" else "FLAT")
    }
    try {
      // S14: chunk→doc-hash map + per-document metadata
      // (sqlite_operations.py:12-27) as parquet
      vectors.select(col("id").as("chunk_id"), col("metadata.hash").as("hash"))
        .write.mode(save).parquet(s"$dir/chunk_doc_map")
      docs.select(col("file_name"), col("hash"), col("file_path"),
          col("text").as("page_content"))
        .observe(documents, count(lit(1)).as("documents"))
        .write.mode(save).parquet(s"$dir/documents")
      mode match {
        case Overwrite => store.writeVectors(db, vectors)
        case Append(_, centroids, hnsw) =>
          centroids.fold(vectors.write)(c => graft.ops.Ivf.assignClusters(
              vectors, col("id"), col("vector"), c).write.partitionBy("cluster"))
            .mode(save).option("maxRecordsPerFile", 100000)
            .parquet(s"$dir/vectors")
          // after the vectors write: the link reads the table it joins
          if (hnsw) store.appendHnsw(db, vectors.select(col("id"), col("vector")))
      }
    } finally { vectors.unpersist(); docs.unpersist() }
    val f = observed(files)
    val nDocs = observed(documents).getLong(0)
    val res = Result(documents = nDocs, chunks = observed(chunks).getLong(0),
      filesMatched = f.getLong(0), filesSkipped = f.getLong(0) - nDocs,
      filesUnsupported = f.getLong(1))
    store.writeIndexMetadata(db, IndexMetadata(
      distance_metric = "cosine", dimensions = cfg.dim, vector_type = "float32",
      index_type = indexType, num_vectors = before + res.chunks))
    res
  }

  /** An observation's row. The listener bus delivers it after the job
    * that computed it returns; one that never arrives fails loudly. */
  private def observed(o: Observation): Row =
    try Await.result(o.future, 2.minutes)
    catch { case _: TimeoutException => throw new IllegalStateException(
      s"IngestJob: the observed counts ${o.name} never arrived") }

  /** Full create pipeline: one `binaryFile` scan of the folder into
    * [[sink]] in overwrite mode — a fresh FLAT store, each file decoded
    * once, each chunk embedded once, every count read off the writes —
    * then the catalog entry. */
  def run(spark: SparkSession, docsDir: String, warehouse: String, db: String,
      cfg: Config = Config()): Result = {
    val store = new VectorStore(spark, warehouse)
    val res = sink(spark.read.format("binaryFile").load(docsDir), store, db,
      cfg, Overwrite)
    store.catalogAdd(db, DatabaseInfo(cfg.model, cfg.chunkSize, cfg.chunkOverlap))
    res
  }
}
