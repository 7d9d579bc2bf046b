package graft.rag

/**
 * RAG prompt assembly (SURVEY §3.3), re-expressing
 * `assemble_rag_prompt_and_query` (`/root/reference/chat_llm.py:30-51`) with
 * the reference's system/rag strings (`/root/reference/constants.py:207-208`).
 * Driver-side string work — the dataflow part of RAG chat is the search
 * in [[graft.query.Searcher]]; the citations of its hits fold on the
 * driver in [[graft.format.Citations]]. The completion call itself is an
 * external HTTP boundary outside the engine (SURVEY §7.5).
 */
object RagPrompt {

  val systemMessage: String =
    "You are a helpful person who clearly and directly answers questions in a " +
      "succinct fashion based on contexts provided to you. If you cannot find the " +
      "answer within the contexts simply tell me that the contexts do not provide " +
      "an answer. However, if the contexts partially address my question I still " +
      "want you to answer based on what the contexts say and then briefly " +
      "summarize the parts of my question that the contexts didn't provide an answer."

  val ragString: String =
    "Here are the contexts to base your answer on.  However, I need to reiterate " +
      "that I only want you to base your response on these contexts and do not use " +
      "outside knowledge that you may have been trained with."

  /** `rag_string + "---"-joined contexts + query` (`chat_llm.py:45-49`);
    * empty contexts is an error in the reference (`:43-44`). */
  def assemble(query: String, contexts: Seq[String]): String = {
    require(contexts.nonEmpty, "No relevant contexts found.")
    s"$ragString\n\n---\n\n" + contexts.mkString("\n\n---\n\n") + s"\n\n-----\n\n$query"
  }
}
