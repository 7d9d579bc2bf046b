package graft.rag

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.format.{Citations, ContextFormatter}
import graft.model.Citation
import graft.query.Searcher

/**
 * Full RAG chat turn (SURVEY §3.3, `ask_llm` path): search → side files →
 * prompt assembly → streaming completion → citation aggregation
 * (`/root/reference/chat_llm.py:30-51,116-164`). Retrieval is the only
 * engine dataflow: its ≤ k hits are collected once, and the side files,
 * contexts and citations are all computed from those rows on the driver.
 */
object RagChat {

  final case class Answer(text: String, contexts: Seq[String],
      citations: Seq[Citation])

  def ask(searcher: Searcher, db: String, question: String,
      p: Searcher.Params = Searcher.Params(),
      client: ChatClient = new EchoChatClient,
      onToken: String => Unit = _ => (),
      artifactsDir: Option[String] = None,
      hybrid: Boolean = false): Answer = {
    // hybrid retrieval surfaces lexical matches (exact names/ids) the
    // embedding space alone can miss; hit schema is identical either way
    val planned =
      if (hybrid) searcher.searchHybrid(db, question, p)
        .select("id", "text", "metadata", "similarity_score", "distance")
      else searcher.search(db, question, p)
    val rows = planned.collect().toIndexedSeq
    val contexts = rows.map(r => ContextFormatter.cleanContext(r.getAs[String]("text")))
    artifactsDir.foreach(d => Searcher.writeSearchArtifacts(
      planned.sparkSession.createDataFrame(rows.asJava, planned.schema), d))

    val prompt = RagPrompt.assemble(question, contexts) // throws on empty (ref :43-44)
    val answer = client.complete(RagPrompt.systemMessage, prompt, onToken)
    val cits = Citations.fold(rows.map(r =>
      r.getAs[Row]("metadata") -> r.getAs[Double]("similarity_score")))
    Answer(answer, contexts, cits)
  }
}
