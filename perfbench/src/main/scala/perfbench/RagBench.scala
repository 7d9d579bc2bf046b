package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.embed.HashEmbedder
import graft.expr.TextNorm
import graft.format.Citations
import graft.ingest.IngestJob
import graft.query.Searcher
import graft.rag.RagChat
import graft.store.VectorStore

/**
 * `rag`: the reference's own journey. A round ingests the seeded document
 * folder with [[IngestJob.run]], then runs a closed loop of
 * `Searcher.search(...).collect()` calls (some with the `searchTerm` or
 * `documentTypeFilter` post-filters, some whose query is a stored chunk's
 * text) and [[RagChat.ask]] turns with the offline echo client.
 */
object RagBench {
  val Docs = 80
  val Topics = 8
  val MinChars = 1500
  val MaxChars = 4500
  val SearchesPerRound = 8 // every round runs the same searches and turns
  val TurnsPerRound = 2
  val Cfg = IngestJob.Config()
  val SearchParams = Searcher.Params(k = 6, threshold = 0.3)
  val Db = "rag"

  /** A search of the loop: the query text and its post-filter, if any. */
  final case class Query(text: String, term: Option[String], docType: Option[String],
      identity: Boolean) {
    def params: Searcher.Params =
      SearchParams.copy(searchTerm = term, documentTypeFilter = docType)
    def kind: String =
      if (identity) "identity" else if (term.nonEmpty) "term" else if (docType.nonEmpty) "type"
      else "plain"
  }

  /** The store as the checks see it: text, metadata and the reference's
    * own embedding of each chunk's text. */
  final case class Chunk(id: Long, text: String, path: String, name: String,
      ext: String, docType: String, vec: Array[Double])

  def run(spark: SparkSession, seed: Long, rounds: Int, tracer: Tracer,
      report: Report, work: Path, setupDone: () => Unit): Unit = {
    val corpus = Inputs.corpus(seed, Docs, Topics, MinChars, MaxChars)
    val docsDir = work.resolve("docs")
    Inputs.writeCorpus(docsDir, corpus)
    val warehouse = work.resolve("warehouse").toString
    val store = new VectorStore(spark, warehouse)
    val searcher = new Searcher(spark, store)

    // set-up ingest: the store the checks snapshot; the first ingest of a
    // process also pays the JIT and Spark first-use costs
    IngestJob.run(spark, docsDir.toString, warehouse, Db, Cfg)
    val chunks = snapshot(store)
    val queries = makeQueries(seed, corpus, chunks)
    // turn questions: plain queries the reference answers with at least
    // one context (a turn without contexts is refused by design)
    val questions = queries.filter(q => q.kind == "plain" && expected(q, chunks).nonEmpty)
      .take(TurnsPerRound)
    require(questions.length == TurnsPerRound, "too few answerable questions")
    // a process's first search and first turn cost 2-3x a later one and
    // vary most run to run; they belong to set-up, not to the round
    searcher.search(Db, questions.head.text, SearchParams).collect()
    RagChat.ask(searcher, Db, questions.head.text, SearchParams)
    setupDone()

    report.rounds(rounds) { round =>
      ingestOp(spark, docsDir, warehouse, corpus, chunks, store, tracer, report, round)
      queries.foreach(q => searchOp(searcher, q, chunks, tracer, report, round))
      questions.foreach(q => turnOp(searcher, q.text, chunks, tracer, report, round))
      if (tracer.enabled) traceLayers(spark, docsDir, warehouse, searcher, queries, questions, tracer)
    }
    figures(report, tracer, chunks.length)
  }

  /** The searches of every round: plain topic-word queries, the same with
    * a term or type post-filter, and stored chunk texts as queries. */
  def makeQueries(seed: Long, corpus: Inputs.Corpus, chunks: Vector[Chunk]): Vector[Query] = {
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    Vector.tabulate(SearchesPerRound) { i =>
      val t = rnd.nextInt(corpus.topics.length)
      val words = Vector.fill(5 + rnd.nextInt(4))(corpus.topics(t)(rnd.nextInt(40)))
      val text = words.mkString(" ")
      i % 8 match {
        case 1 | 5 => Query(text, Some(words(rnd.nextInt(words.length))), None, identity = false)
        case 3 => Query(text, None, Some("document"), identity = false)
        case 7 => Query(chunks(rnd.nextInt(chunks.length)).text, None, None, identity = true)
        case _ => Query(text, None, None, identity = false)
      }
    }
  }

  private def snapshot(store: VectorStore): Vector[Chunk] =
    store.vectors(Db)
      .select(col("id"), col("text"), col("metadata.file_path"), col("metadata.file_name"),
        col("metadata.file_type"), col("metadata.document_type"))
      .collect().map(r => Chunk(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5), Reference.hashEmbed(r.getString(1))))
      .sortBy(_.id).toVector

  private def ingestOp(spark: SparkSession, docsDir: Path, warehouse: String,
      corpus: Inputs.Corpus, chunks: Vector[Chunk], store: VectorStore, tracer: Tracer,
      report: Report, round: Int): Unit = {
    val what = s"ingest round $round"
    try {
      val res = report.timed("ingest", round) {
        tracer.span("ingest.run")(IngestJob.run(spark, docsDir.toString, warehouse, Db, Cfg))
      }
      report.check(what, checkIngest(res, corpus, chunks, store))
    } catch { case e: Exception => report.crashed(what, e) }
  }

  /** Documents = files written; each document's text is the text written
    * (where the format's decoding is plain) and its chunk count follows
    * the windowing rule; every stored vector is the reference embedding
    * of its chunk's text. */
  private def checkIngest(res: IngestJob.Result, corpus: Inputs.Corpus,
      before: Vector[Chunk], store: VectorStore): Option[String] = {
    if (res.documents != corpus.docs.length)
      return Some(s"documents: expected ${corpus.docs.length} got ${res.documents}")
    if (res.filesSkipped != 0) return Some(s"files skipped: ${res.filesSkipped}")
    val stored = store.documents(Db).select("file_name", "page_content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val rows = store.vectors(Db)
      .select(col("id"), col("text"), col("vector"), col("metadata.file_name"))
      .collect().sortBy(_.getLong(0))
    val perFile = rows.groupBy(_.getString(3)).map { case (f, rs) => f -> rs.length }
    for (d <- corpus.docs) {
      val text = stored.get(d.name) match {
        case Some(t) => t
        case None => return Some(s"document ${d.name}: missing from the store")
      }
      if (d.expected.exists(_ != text))
        return Some(s"document ${d.name}: extracted text differs from the text written " +
          s"(${text.length} vs ${d.expected.get.length} chars)")
      val want = Reference.chunkCount(text.strip().length, Cfg.chunkSize, Cfg.chunkOverlap)
      val got = perFile.getOrElse(d.name, 0)
      if (got != want) return Some(s"document ${d.name}: expected $want chunks got $got")
    }
    if (rows.length != before.length) return Some(s"chunks: expected ${before.length} got ${rows.length}")
    rows.zip(before).collectFirst {
      case (r, c) if r.getLong(0) != c.id || r.getString(1) != c.text =>
        s"chunk row: expected (${c.id}, ${c.text.take(40)}) got (${r.getLong(0)}, ${r.getString(1).take(40)})"
      case (r, c) if !r.getSeq[Float](2).map(_.toDouble).sameElements(c.vec) =>
        s"chunk ${c.id}: stored vector differs from the reference embedding of its text"
    }
  }

  /** Expected hits of a query: brute-force top-k with the threshold after
    * the cut, then the post-filters, scores clipped to [0, 1] as served. */
  private def expected(q: Query, chunks: Vector[Chunk]): Seq[(Reference.Hit, Chunk)] = {
    val qv = Reference.hashEmbed(TextNorm.normalizeQuery(q.text))
    val byId = chunks.map(c => c.id -> c).toMap
    Reference.topK(qv, chunks.map(c => c.id -> c.vec), SearchParams.k, SearchParams.threshold)
      .map(h => (h.copy(score = clip(h.score)), byId(h.id)))
      .filter { case (_, c) =>
        q.term.forall(t => c.text.toLowerCase(java.util.Locale.ROOT)
          .contains(t.toLowerCase(java.util.Locale.ROOT))) &&
          q.docType.forall(_ == c.docType)
      }
  }

  private def clip(s: Double): Double = math.min(1.0, math.max(0.0, s))

  private def truth(q: Query, chunks: Vector[Chunk]): Long => Option[Double] = {
    val qv = Reference.hashEmbed(TextNorm.normalizeQuery(q.text))
    val byId = chunks.map(c => c.id -> c).toMap
    id => byId.get(id).map(c => clip(Reference.cosine(qv, c.vec)))
  }

  private def searchOp(searcher: Searcher, q: Query, chunks: Vector[Chunk],
      tracer: Tracer, report: Report, round: Int): Unit = {
    val what = s"search '${q.text.take(40)}' (${q.kind})"
    try {
      val rows = report.timed("search", round) {
        val df = tracer.span("query.topk")(searcher.search(Db, q.text, q.params))
        tracer.span("query.lookup")(df.select("id", "text", "metadata", "similarity_score").collect())
      }
      report.check(what, checkSearch(q, rows, chunks))
    } catch { case e: Exception => report.crashed(what, e) }
  }

  private def checkSearch(q: Query, rows: Array[Row], chunks: Vector[Chunk]): Option[String] = {
    val got = rows.map(r => Reference.Hit(r.getLong(0), r.getDouble(3))).toSeq
    val exp = expected(q, chunks)
    Reference.diffHits(exp.map(_._1), got, truth(q, chunks)).orElse {
      // every post-filtered hit carries its term or its type
      rows.collectFirst {
        case r if q.term.exists(t => !r.getString(1).toLowerCase(java.util.Locale.ROOT)
            .contains(t.toLowerCase(java.util.Locale.ROOT))) =>
          s"hit ${r.getLong(0)} lacks the term '${q.term.get}'"
        case r if q.docType.exists(_ != r.getStruct(2).getAs[String]("document_type")) =>
          s"hit ${r.getLong(0)} is not of type '${q.docType.get}'"
      }
    }.orElse {
      if (!q.identity) None
      else rows.headOption match {
        case Some(r) if r.getDouble(3) >= 1.0 - 1e-9 && r.getString(1) == q.text => None
        case Some(r) => Some(s"stored-chunk query: first hit (${r.getLong(0)}, ${r.getDouble(3)}) " +
          "is not the chunk at similarity 1")
        case None => Some("stored-chunk query: no hits")
      }
    }
  }

  private def turnOp(searcher: Searcher, question: String, chunks: Vector[Chunk],
      tracer: Tracer, report: Report, round: Int): Unit = {
    val what = s"turn '${question.take(40)}'"
    try {
      val answer = report.timed("turn", round) {
        tracer.span("rag.turn")(RagChat.ask(searcher, Db, question, SearchParams))
      }
      val q = Query(question, None, None, identity = false)
      val exp = expected(q, chunks)
      val cites = Reference.citations(exp.map { case (h, c) => (c.path, c.name, c.ext, h.score) })
      val got = answer.citations
      val outcome =
        if (answer.text != s"[echo] ${question.linesIterator.toSeq.last}")
          Some(s"answer '${answer.text.take(60)}'")
        else if (answer.contexts.length != exp.length)
          Some(s"contexts: expected ${exp.length} got ${answer.contexts.length}")
        else if (got.length != cites.length)
          Some(s"citations: expected ${cites.length} got ${got.length}")
        else if (got.map(_.min_score).sliding(2).exists(p => p.length == 2 && p(0) > p(1)))
          Some(s"citations not ordered by min score: ${got.map(_.min_score).mkString(",")}")
        else {
          val byPath = got.map(c => c.file_path -> c).toMap
          cites.collectFirst {
            case e if !byPath.get(e.filePath).exists(g => g.file_name == e.fileName &&
                g.file_type == e.fileType && sameRange(g.score_range, e.scoreRange)) =>
              s"citation: expected (${e.fileName}, ${e.scoreRange}) got " +
                byPath.get(e.filePath).map(g => s"(${g.file_name}, ${g.score_range})").getOrElse("none")
          }
        }
      report.check(what, outcome)
    } catch { case e: Exception => report.crashed(what, e) }
  }

  /** Score ranges agree to their printed 4 dp (one rounding step). */
  private def sameRange(a: String, b: String): Boolean = {
    val xs = a.split("-(?=\\d)").map(_.toDouble)
    val ys = b.split("-(?=\\d)").map(_.toDouble)
    xs.length == ys.length && xs.zip(ys).forall { case (x, y) => math.abs(x - y) <= 1.5e-4 }
  }

  /** Traced runs only: the ingest pipeline's stages called one by one, a
    * query embedding, and the citation fold of a turn's hits, each as its
    * own layer span. Off the operation clock. */
  private def traceLayers(spark: SparkSession, docsDir: Path, warehouse: String,
      searcher: Searcher, queries: Vector[Query], questions: Vector[Query],
      tracer: Tracer): Unit = {
    val store = new VectorStore(spark, warehouse)
    val docs = tracer.span("ingest.extract") {
      val d = IngestJob.extract(spark, docsDir.toString).cache()
      d.count()
      d
    }
    val vectors = tracer.span("ingest.vectorize") {
      val v = IngestJob.vectorize(docs, Cfg).cache()
      v.count()
      v
    }
    tracer.span("store.write_vectors")(store.writeVectors("rag_layers", vectors))
    vectors.unpersist()
    docs.unpersist()
    queries.take(8).foreach { q =>
      tracer.span("embed.query")(HashEmbedder().embed(TextNorm.normalizeQuery(q.text)))
    }
    questions.foreach { q =>
      val hits = searcher.search(Db, q.text, SearchParams).cache()
      hits.count()
      tracer.span("format.citations")(Citations.citations(hits.select("metadata", "similarity_score")))
      hits.unpersist()
    }
  }

  private def figures(report: Report, tracer: Tracer, nChunks: Int): Unit = {
    val ingestS = Stats.median(report.msOf("ingest")) / 1000
    report.figure("ingest_docs_per_s", Docs / ingestS, "docs/s")
    report.figure("search_p50_ms", Stats.median(report.msOf("search")), "ms")
    report.figure("rag_turn_p50_ms", Stats.median(report.msOf("turn")), "ms")
    if (tracer.enabled) {
      def med(name: String)(f: CallStat => Double): Double = {
        val cs = tracer.calls(name)
        if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
      }
      report.figure("ingest.extract_ms", med("ingest.extract")(_.wallMs), "ms")
      report.figure("ingest.vectorize_ms", med("ingest.vectorize")(_.wallMs), "ms")
      report.figure("store.write_vectors_ms", med("store.write_vectors")(_.wallMs), "ms")
      report.figure("ingest.jobs", med("ingest.run")(_.jobs.toDouble), "count")
      report.figure("ingest.cpu_s", med("ingest.run")(_.cpuS), "s")
      report.figure("ingest.gap_ms", med("ingest.run")(_.gapMs), "ms")
      report.figure("ingest.chunks", nChunks.toDouble, "count")
      report.figure("embed.query_us", med("embed.query")(_.wallMs) * 1000, "us")
      report.figure("query.topk_ms", med("query.topk")(_.wallMs), "ms")
      report.figure("query.lookup_ms", med("query.lookup")(_.wallMs), "ms")
      val topk = tracer.calls("query.topk")
      val look = tracer.calls("query.lookup")
      val n = math.max(topk.length, 1).toDouble
      report.figure("query.jobs_per_search", (topk ++ look).map(_.jobs).sum / n, "count")
      report.figure("query.gap_ms_per_search", (topk ++ look).map(_.gapMs).sum / n, "ms")
      report.figure("query.rows_read_per_search", (topk ++ look).map(_.rowsRead).sum / n, "count")
      report.figure("format.citations_ms", med("format.citations")(_.wallMs), "ms")
      report.figure("rag.jobs_per_turn", med("rag.turn")(_.jobs.toDouble), "count")
      report.figure("rag.gap_ms_per_turn", med("rag.turn")(_.gapMs), "ms")
    }
  }
}
