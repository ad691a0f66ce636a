package graft.serve

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** MCP JSON-RPC framing over the tool table — the reference serves its
  * 27 tools as an MCP stdio server speaking JSON-RPC 2.0
  * (`mcp/server.py:303-380`), so a real MCP client can connect to
  * ServeMain: `initialize` → capability envelope, `tools/list` → the
  * 33 tool schemas, `tools/call` → [[Tools.run]], whose rows become a
  * CallToolResult's JSON text (any tool failure is an `isError: true`
  * result, the reference's error-CallToolResult wrapping, not a
  * protocol error). Notifications (no id) get no response; unknown
  * methods / unparsable frames get standard JSON-RPC error envelopes
  * with the request id echoed.
  *
  * Jackson does the (de)serialization — it ships with Spark's
  * classpath; no new dependency.
  */
object McpServer {

  val ProtocolVersion = "2024-11-05"

  private val M = new ObjectMapper()

  /** Handle one JSON-RPC frame; None = notification (no response). */
  def handleLine(p: Tools.Project, line: String,
      maxRows: Int = 100): Option[String] = {
    val root =
      try M.readTree(line)
      catch { case _: Exception => return Some(error(null, -32700, "parse error")) }
    if (root == null || !root.isObject)
      return Some(error(null, -32700, "parse error"))
    val id = root.get("id")
    val method = Option(root.get("method")).map(_.asText("")).getOrElse("")
    val params: JsonNode =
      Option(root.get("params")).getOrElse(M.createObjectNode())
    def reply(result: JsonNode): Option[String] =
      if (id == null) None
      else {
        val env = M.createObjectNode()
        env.put("jsonrpc", "2.0")
        env.set[ObjectNode]("id", id)
        env.set[ObjectNode]("result", result)
        Some(M.writeValueAsString(env))
      }
    method match {
      case "initialize" =>
        val r = M.createObjectNode()
        r.put("protocolVersion", ProtocolVersion)
        r.putObject("capabilities").putObject("tools")
        val info = r.putObject("serverInfo")
        info.put("name", "graft")
        info.put("version", "0.1.0")
        reply(r)
      case "notifications/initialized" | "initialized" => None
      case "ping" => reply(M.createObjectNode())
      case "tools/list" =>
        val r = M.createObjectNode()
        val arr = r.putArray("tools")
        Tools.specs.foreach { t =>
          val o = arr.addObject()
          o.put("name", t.name)
          o.put("description", t.description)
          val schema = o.putObject("inputSchema")
          schema.put("type", "object")
          val props = schema.putObject("properties")
          t.params.foreach { pm =>
            props.putObject(pm.name).put("type", pm.kind)
          }
          val req = t.params.filter(_.required)
          if (req.nonEmpty) {
            val ra = schema.putArray("required")
            req.foreach(pm => ra.add(pm.name))
          }
        }
        reply(r)
      case "tools/call" =>
        val name = Option(params.get("name")).map(_.asText("")).getOrElse("")
        val args = Option(params.get("arguments"))
          .filter(_.isObject).map(toArgs).getOrElse(Map.empty[String, Any])
        val r = M.createObjectNode()
        val content = r.putArray("content")
        Tools.run(p, name, args)(_.toJSON.take(maxRows)) match {
          case Left(err) =>
            content.addObject().put("type", "text").put("text", err)
            r.put("isError", true)
          case Right(rows) =>
            content.addObject().put("type", "text")
              .put("text", rows.mkString("[", ",", "]"))
            r.put("isError", false)
        }
        reply(r)
      case "" => Some(error(id, -32600, "invalid request: no method"))
      case other =>
        if (id == null) None
        else Some(error(id, -32601, s"method not found: $other"))
    }
  }

  /** JSON argument object → the Map[String, Any] a tool takes
    * (the line shell passes strings / Seq[String]; mirror that).
    */
  private def toArgs(node: JsonNode): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      val v = e.getValue
      val any: Any =
        if (v.isArray) v.elements().asScala.map(_.asText()).toSeq
        else v.asText()
      e.getKey -> any
    }.toMap
  }

  private def error(id: JsonNode, code: Int, message: String): String = {
    val env = M.createObjectNode()
    env.put("jsonrpc", "2.0")
    if (id == null) env.putNull("id") else env.set[ObjectNode]("id", id)
    val err = env.putObject("error")
    err.put("code", code)
    err.put("message", message)
    M.writeValueAsString(env)
  }
}
