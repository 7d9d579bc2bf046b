package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.format.ContextFormatter
import graft.ingest.IngestJob
import graft.query.Searcher
import graft.rag.{OpenAiCompatibleClient, RagChat}
import graft.store.VectorStore

/** RAG chat end-to-end against a local OpenAI-compatible SSE stub server:
  * search → prompt → streamed completion → citations. */
class RagChatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val work = Files.createTempDirectory("graft-rag").toString
  private var server: HttpServer = _
  private var port: Int = 0
  @volatile private var lastRequest: String = ""

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    Files.write(Paths.get(docsDir, "engine.txt"),
      ("spark engines shuffle data between stages for joins " * 15)
        .getBytes(StandardCharsets.UTF_8))
    IngestJob.run(spark, docsDir, s"$work/wh", "ragdb",
      IngestJob.Config(chunkSize = 120, chunkOverlap = 0))

    // OpenAI-compatible SSE stub: streams three content deltas then [DONE]
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/v1/chat/completions", exchange => {
      lastRequest = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      val sse = Seq(
        """data: {"choices":[{"delta":{"role":"assistant"}}]}""",
        """data: {"choices":[{"delta":{"content":"Shuffles "}}]}""",
        """data: {"choices":[{"delta":{"content":"move\ndata "}}]}""",
        """data: {"choices":[{"delta":{"content":"between stages."}}]}""",
        "data: [DONE]", "").mkString("\n\n").getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.add("Content-Type", "text/event-stream")
      exchange.sendResponseHeaders(200, sse.length)
      exchange.getResponseBody.write(sse)
      exchange.close()
    })
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    spark.stop()
  }

  test("rag chat: streamed tokens, assembled prompt, citations") {
    val store = new VectorStore(spark, s"$work/wh")
    val searcher = new Searcher(spark, store)
    val client = new OpenAiCompatibleClient(
      s"http://127.0.0.1:$port/v1", "test-model", apiKey = Some("k"))
    val tokens = scala.collection.mutable.ArrayBuffer.empty[String]

    val ans = RagChat.ask(searcher, "ragdb", "how do engines shuffle data",
      Searcher.Params(k = 3, threshold = 0.0), client, tokens += _,
      artifactsDir = Some(s"$work/artifacts"))

    assert(ans.text == "Shuffles move\ndata between stages.")
    assert(tokens.toSeq == Seq("Shuffles ", "move\ndata ", "between stages."))
    assert(ans.contexts.nonEmpty)
    assert(ans.citations.map(_.file_name) == Seq("engine.txt"))
    // the request carried system message + rag string + contexts + question
    assert(lastRequest.contains("helpful person"))
    assert(lastRequest.contains("base your answer on"))
    assert(lastRequest.contains("how do engines shuffle data"))
    // S17 side files written
    assert(Files.exists(Paths.get(s"$work/artifacts/contexts.txt")))
    assert(Files.exists(Paths.get(s"$work/artifacts/metadata.txt")))
  }

  test("hybrid retrieval drives the same chat turn") {
    val store = new VectorStore(spark, s"$work/wh")
    val searcher = new Searcher(spark, store)
    val client = new OpenAiCompatibleClient(
      s"http://127.0.0.1:$port/v1", "test-model", apiKey = Some("k"))
    val ans = RagChat.ask(searcher, "ragdb", "how do engines shuffle data",
      Searcher.Params(k = 3, threshold = 0.0), client, hybrid = true)
    assert(ans.text.nonEmpty && ans.contexts.nonEmpty && ans.citations.nonEmpty)
  }

  test("hybrid turn: side files hold the turn's own contexts") {
    val store = new VectorStore(spark, s"$work/wh")
    val searcher = new Searcher(spark, store)
    // no cosine passes a threshold of 1, so a plain search finds nothing;
    // the hybrid turn still answers from its lexical-only hits
    val p = Searcher.Params(k = 3, threshold = 1.0)
    assert(searcher.search("ragdb", "how do engines shuffle data", p).count() == 0)
    val dir = s"$work/hybrid-artifacts"
    val ans = RagChat.ask(searcher, "ragdb", "how do engines shuffle data", p,
      hybrid = true, artifactsDir = Some(dir))
    assert(ans.contexts.nonEmpty)
    val sep = "\n\n---\n\n"
    val written = new String(Files.readAllBytes(Paths.get(dir, "contexts.txt")),
      StandardCharsets.UTF_8)
    assert(written.endsWith(sep))
    assert(written.stripSuffix(sep).split(sep, -1).map(ContextFormatter.cleanContext)
      .toSeq == ans.contexts)
    val meta = new String(Files.readAllBytes(Paths.get(dir, "metadata.txt")),
      StandardCharsets.UTF_8).linesIterator.toSeq
    assert(meta.length == ans.contexts.length)
    assert(meta.forall(_.contains("\"file_name\":\"engine.txt\"")))
  }

  test("empty contexts raise (reference contract)") {
    val store = new VectorStore(spark, s"$work/wh")
    val searcher = new Searcher(spark, store)
    assertThrows[IllegalArgumentException] {
      RagChat.ask(searcher, "ragdb", "anything",
        Searcher.Params(k = 3, threshold = 1.0)) // nothing passes
    }
  }
}
