package graft.serve

import scala.collection.mutable.ArrayBuffer

/** The reference's LLM chat loop (`cli/commands/chat.py:66-1712`)
  * re-expressed around the Spark data planes: an agentic REPL that lets
  * a model call the `Tools` registry, with 5-pair history compaction,
  * task tracking, search-history context and a loud synthesis fallback
  * when the tool budget runs out.
  *
  * The MODEL is the declared seam ([[ChatLlm]]) — same class as the
  * embedder/reranker seams: the sandbox has no network or model
  * runtime, so specs drive the loop with scripted deterministic
  * clients. Everything on this side of the seam — session state,
  * compaction semantics, the tool loop, dispatch, result rendering,
  * budget handling — mirrors the reference faithfully and is
  * spec-verified.
  */
object Chat {

  final case class ChatMessage(role: String, content: String)
  final case class ToolCall(name: String, args: Map[String, Any])

  /** One model turn: either tool invocations or a final text answer. */
  sealed trait LlmTurn
  final case class ToolTurn(calls: Seq[ToolCall]) extends LlmTurn
  final case class TextTurn(text: String) extends LlmTurn

  /** The LLM seam. Implementations receive the full message stack and
    * the tool registry, exactly the reference's `chat_with_tools`.
    */
  trait ChatLlm {
    def chatWithTools(messages: Seq[ChatMessage],
        tools: Seq[Tools.ToolSpec]): LlmTurn
  }

  final case class ChatOutcome(text: String, toolCalls: Seq[ToolCall],
      synthesized: Boolean)

  /** Session state: last `recentPairs` user/assistant exchanges kept
    * verbatim, older pairs compacted into a rolling summary
    * (`chat.py:138-190`); task context and the last 10 search summaries
    * ride as system messages (`chat.py:193-235`).
    */
  final class ChatSession(systemPrompt: String, recentPairs: Int = 5) {
    private val messages = ArrayBuffer.empty[ChatMessage]
    private var historySummary: String = ""
    private var currentTask: Option[(String, String)] = None
    private var searchHistory: List[String] = Nil

    def setTask(description: String): Unit =
      currentTask = Some((description, "in_progress"))
    def updateTaskStatus(status: String): Unit =
      currentTask = currentTask.map { case (d, _) => (d, status) }
    def clearTask(): Unit = currentTask = None

    def addMessage(role: String, content: String): Unit = {
      messages += ChatMessage(role, content)
      if (messages.count(_.role == "user") > recentPairs) compact()
    }

    def addToolMessage(content: String): Unit =
      messages += ChatMessage("tool", content)

    def addSearchSummary(tool: String, query: String, n: Long): Unit = {
      searchHistory = (searchHistory :+
        s"$tool('${query.take(50)}...') -> $n results").takeRight(10)
    }

    /** Oldest user/assistant pair (plus trailing tool messages) folds
      * into the summary with 150-char previews.
      */
    private def compact(): Unit = {
      val ui = messages.indexWhere(_.role == "user")
      if (ui < 0) return
      val ai = messages.indexWhere(_.role == "assistant", ui)
      if (ai < 0) return
      val preview = (s: String) => s.take(150).replace("\n", " ")
      val entry = s"- User asked: ${preview(messages(ui).content)}...\n" +
        s"  Assistant: ${preview(messages(ai).content)}..."
      historySummary =
        if (historySummary.isEmpty) entry else historySummary + "\n" + entry
      var drop = ai + 1
      while (drop < messages.length && messages(drop).role == "tool")
        drop += 1
      messages.remove(0, drop)
    }

    /** [system, summary?, task?, searches?, ...recent]. */
    def getMessages: Seq[ChatMessage] = {
      val head = Seq(ChatMessage("system", systemPrompt)) ++
        (if (historySummary.nonEmpty)
          Seq(ChatMessage("system",
            s"[Previous Conversation Summary]\n$historySummary\n[End Summary]"))
        else Nil) ++
        currentTask.map { case (d, st) => ChatMessage("system",
          s"[Current Task]\nDescription: $d\nStatus: $st\n[End Task]")
        }.toSeq ++
        (if (searchHistory.nonEmpty)
          Seq(ChatMessage("system", "[Recent Searches]\n" +
            searchHistory.map("  • " + _).mkString("\n") + "\n[End Searches]"))
        else Nil)
      head ++ messages.toSeq
    }

    def recentMessageCount: Int = messages.length
    def summary: String = historySummary
  }

  /** Bounded, deterministic text rendering of a tool's DataFrame result
    * for the model: header + first `maxRows` rows, tab-separated.
    */
  def renderResult(df: org.apache.spark.sql.DataFrame,
      maxRows: Int = 20): (String, Long) = {
    val rows = df.limit(maxRows + 1).collect()
    val shown = rows.take(maxRows)
    val header = df.columns.mkString("\t")
    val body = shown.map(_.toSeq.map(v =>
      if (v == null) "" else v.toString).mkString("\t"))
    val more = if (rows.length > maxRows) "\n..." else ""
    (header + "\n" + body.mkString("\n") + more, shown.length.toLong)
  }

  /** The agentic tool loop (`chat.py:1594-1712`): model turns execute
    * tool calls through [[Tools.run]], rendered by [[renderResult]],
    * until a text answer arrives. Any failing call, at planning or at
    * execution, reaches the model as an `ERROR: …` tool message and the
    * loop goes on; exhausting `maxIterations` triggers the reference's
    * explicit synthesis turn (never a silent truncation).
    */
  def processQuery(p: Tools.Project, session: ChatSession, query: String,
      llm: ChatLlm, maxIterations: Int = 30): ChatOutcome = {
    session.addMessage("user", query)
    val transcript = ArrayBuffer[ChatMessage](session.getMessages: _*)
    val trace = ArrayBuffer.empty[ToolCall]
    var it = 0
    while (it < maxIterations) {
      llm.chatWithTools(transcript.toSeq, Tools.specs) match {
        case TextTurn(text) =>
          session.addMessage("assistant", text)
          return ChatOutcome(text, trace.toSeq, synthesized = false)
        case ToolTurn(calls) =>
          transcript += ChatMessage("assistant",
            calls.map(c => s"[tool_call ${c.name}]").mkString(" "))
          calls.foreach { c =>
            trace += c
            val content = Tools.run(p, c.name, c.args)(renderResult(_)) match {
              case Right((text, n)) =>
                c.args.get("query").foreach(q =>
                  session.addSearchSummary(c.name, q.toString, n))
                text
              case Left(err) => s"ERROR: $err"
            }
            transcript += ChatMessage("tool", content)
          }
      }
      it += 1
    }
    // budget exhausted: one explicit synthesis turn over the gathered
    // evidence (chat.py:1712 — "synthesizing response from collected
    // data"), flagged so callers can tell
    transcript += ChatMessage("user",
      "You've reached the maximum number of tool calls. Based on all " +
        "the information gathered from the tools above, please provide " +
        "the best possible answer to the original question.")
    val text = llm.chatWithTools(transcript.toSeq, Tools.specs) match {
      case TextTurn(t) => t
      case ToolTurn(_) => "ERROR: model kept requesting tools past the budget"
    }
    session.addMessage("assistant", text)
    ChatOutcome(text, trace.toSeq, synthesized = true)
  }
}
