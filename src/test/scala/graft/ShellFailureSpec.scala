package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll

import graft.serve.{Chat, McpServer, ServeMain, Tools}
import graft.serve.Chat._
import graft.serve.Tools.Project

/** A tool that fails while its action runs, not while it plans, must
  * fail the same way in all three shells: the MCP server answers an
  * `isError` result, the line shell an `err` line and chat an `ERROR:`
  * tool message, and each shell serves the next call.
  *
  * The broken project's chunks table holds a data file that is not
  * Parquet, named after the real one. The table's schema comes from
  * the first data file by name, so `dispatch` plans `analyze_project`
  * and only its scan fails.
  */
class ShellFailureSpec extends SparkSpec with BeforeAndAfterAll {

  private val M = new ObjectMapper()

  private lazy val dir = Files.createTempDirectory("shell-failure")

  override def afterAll(): Unit =
    try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally super.afterAll()

  private lazy val (clean, broken): (Project, Project) = {
    def at(name: String) = Project(spark, sampleRepo,
      chunksPath = dir.resolve(s"$name/chunks").toString,
      vectorsPath = dir.resolve(s"$name/vectors").toString)
    val clean = at("clean")
    assert(Tools.dispatch(clean, "index_project").isRight)
    val broken = at("broken")
    for ((from, to) <- Seq(clean.chunksPath -> broken.chunksPath,
        clean.vectorsPath -> broken.vectorsPath)) {
      Files.createDirectories(Paths.get(to))
      Files.list(Paths.get(from)).forEach { (f: Path) =>
        Files.copy(f, Paths.get(to).resolve(f.getFileName)); ()
      }
    }
    Files.writeString(Paths.get(broken.chunksPath,
      "part-99999-garbage.snappy.parquet"), "not a parquet file")
    (clean, broken)
  }

  private val failed = "tool analyze_project failed: "

  test("the fixture plans the failing call and fails only when it runs") {
    assert(Tools.dispatch(broken, "analyze_project").isRight)
    assert(Tools.run(broken, "analyze_project", Map.empty)(_.collect())
      .left.exists(_.startsWith(failed)))
  }

  test("the line shell answers one err line and serves the next call") {
    val lines = ServeMain.handle(broken, "analyze_project")
    assert(lines.size == 1 && lines.head.startsWith(s"err $failed"), lines)
    assert(ServeMain.handle(clean, "get_project_status").last == "ok 1")
  }

  test("chat shows the model an ERROR tool message and reaches its text turn") {
    var toolMessages = Seq.empty[String]
    def llm(call: String) = new ChatLlm {
      def chatWithTools(ms: Seq[ChatMessage],
          tools: Seq[Tools.ToolSpec]): LlmTurn = {
        toolMessages = ms.filter(_.role == "tool").map(_.content)
        if (toolMessages.isEmpty) ToolTurn(Seq(ToolCall(call, Map.empty)))
        else TextTurn(s"done with $call")
      }
    }
    val session = new ChatSession("sys")
    val out = Chat.processQuery(broken, session, "grade the code",
      llm("analyze_project"))
    assert(out.text == "done with analyze_project" && !out.synthesized)
    assert(toolMessages.size == 1 &&
      toolMessages.head.startsWith(s"ERROR: $failed"), toolMessages)
    val next = Chat.processQuery(clean, new ChatSession("sys"), "status?",
      llm("get_project_status"))
    assert(next.text == "done with get_project_status")
    assert(toolMessages.size == 1 && toolMessages.head.contains("n_chunks") &&
      !toolMessages.head.startsWith("ERROR"), toolMessages)
  }

  test("MCP answers an isError result and serves the next call") {
    def call(p: Project, tool: String) = M.readTree(McpServer.handleLine(p,
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call",""" +
        s""""params":{"name":"$tool","arguments":{}}}""").get).get("result")
    val bad = call(broken, "analyze_project")
    assert(bad.get("isError").asBoolean())
    assert(bad.get("content").get(0).get("text").asText().startsWith(failed))
    val ok = call(clean, "get_project_status")
    assert(!ok.get("isError").asBoolean())
    assert(ok.get("content").get(0).get("text").asText().contains("n_chunks"))
  }
}
