package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import graft.serve.{McpServer, Tools}
import graft.serve.Tools.Project

/** MCP JSON-RPC framing round-trips (round-9 verdict #7): a real MCP
  * client's handshake against ServeMain's dispatch — initialize,
  * tools/list schemas, tools/call success AND error CallToolResults,
  * protocol error envelopes with id echo, silent notifications.
  */
class McpSpec extends SparkSpec {

  private val M = new ObjectMapper()

  private lazy val project: Project = {
    val dir = Files.createTempDirectory("mcp").toFile
    val p = Project(spark, sampleRepo,
      chunksPath = new java.io.File(dir, "chunks").getAbsolutePath,
      vectorsPath = new java.io.File(dir, "vectors").getAbsolutePath,
      kgPath = Some(new java.io.File(dir, "kg").getAbsolutePath))
    assert(Tools.dispatch(p, "index_project").isRight)
    p
  }

  private def rpc(line: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    McpServer.handleLine(project, line).map(M.readTree)

  test("initialize echoes the id and advertises tool capability") {
    val r = rpc("""{"jsonrpc":"2.0","id":7,"method":"initialize",""" +
      """"params":{"protocolVersion":"2024-11-05","capabilities":{}}}""").get
    assert(r.get("id").asInt() == 7)
    val res = r.get("result")
    assert(res.get("protocolVersion").asText() == McpServer.ProtocolVersion)
    assert(res.get("capabilities").has("tools"))
    assert(res.get("serverInfo").get("name").asText() == "graft")
    assert(r.get("error") == null)
  }

  test("notifications get no response") {
    assert(McpServer.handleLine(project,
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
  }

  test("tools/list carries all 33 schemas with required markers") {
    val r = rpc("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""").get
    val tools = r.get("result").get("tools")
    assert(tools.size() == Tools.specs.size)
    val byName = (0 until tools.size()).map(tools.get)
      .map(t => t.get("name").asText() -> t).toMap
    val sc = byName("search_code")
    assert(sc.get("inputSchema").get("type").asText() == "object")
    assert(sc.get("inputSchema").get("properties").has("query"))
    assert(sc.get("inputSchema").get("properties").get("limit")
      .get("type").asText() == "integer")
    val req = sc.get("inputSchema").get("required")
    assert((0 until req.size()).map(req.get(_).asText()).contains("query"))
  }

  test("tools/list types every property with a JSON Schema type") {
    val tools = rpc("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
      .get.get("result").get("tools")
    val types = (for {
      t <- (0 until tools.size()).map(tools.get)
      props = t.get("inputSchema").get("properties")
      name <- scala.jdk.CollectionConverters.IteratorHasAsScala(
        props.fieldNames()).asScala
    } yield s"${t.get("name").asText()}.$name" ->
      props.get(name).get("type").asText()).toMap
    for (array <- Seq("search_boolean.must", "search_boolean.should",
        "search_boolean.must_not", "search_context.focus_areas",
        "review_pull_request.files"))
      assert(types.get(array).contains("array"), array)
    assert(types.values.toSet.subsetOf(Set("string", "integer", "number", "array")),
      types)
  }

  test("tools/call returns result rows as text content") {
    val r = rpc("""{"jsonrpc":"2.0","id":3,"method":"tools/call",""" +
      """"params":{"name":"get_project_status","arguments":{}}}""").get
    val res = r.get("result")
    assert(!res.get("isError").asBoolean())
    val text = res.get("content").get(0).get("text").asText()
    assert(text.startsWith("[") && text.contains("{"), text)
  }

  test("tool failures are error CallToolResults, not protocol errors " +
      "(the reference's wrapping)") {
    val unknown = rpc("""{"jsonrpc":"2.0","id":4,"method":"tools/call",""" +
      """"params":{"name":"no_such_tool","arguments":{}}}""").get
    assert(unknown.get("result").get("isError").asBoolean())
    assert(unknown.get("result").get("content").get(0).get("text")
      .asText().contains("unknown tool"))
    val missing = rpc("""{"jsonrpc":"2.0","id":5,"method":"tools/call",""" +
      """"params":{"name":"search_code","arguments":{}}}""").get
    assert(missing.get("result").get("isError").asBoolean())
    assert(missing.get("result").get("content").get(0).get("text")
      .asText().contains("missing required"))
  }

  test("unknown method and parse errors produce JSON-RPC error " +
      "envelopes with the id echoed") {
    val e = rpc("""{"jsonrpc":"2.0","id":9,"method":"bogus/method"}""").get
    assert(e.get("error").get("code").asInt() == -32601)
    assert(e.get("id").asInt() == 9)
    val p = rpc("""{"jsonrpc":"2.0", broken""").get
    assert(p.get("error").get("code").asInt() == -32700)
    assert(p.get("id").isNull)
  }

  test("the line shell still answers non-JSON input (dual protocol)") {
    val lines = graft.serve.ServeMain.handle(project, "get_project_status")
    assert(lines.last.startsWith("ok "))
  }
}
