package graft.serve

/** Minimal long-running serving shell over [[Tools.run]] — the
  * transport role of the reference's MCP server loop
  * (`mcp/server.py:431-520`) and CLI (`cli/main.py:589`), kept
  * deliberately thin: one line in, one result out, engine state (the
  * SparkSession + persisted stores) reused across requests so repeat
  * queries pay probe cost only.
  *
  * Protocol (stdio, line-oriented — no network, no added deps):
  *   list                          → one line per tool: name, params
  *   <tool> k=v k2=a,b,c           → run; rows stream back as JSON
  *                                   lines, then `ok <n>`, or one
  *                                   `err <msg>` line for any failure
  *   quit                          → exit
  *
  * Usage: runMain graft.serve.ServeMain <root> <chunksPath>
  *   <vectorsPath> [kgPath]
  */
object ServeMain {

  /** `k=v` args; comma values become Seq — exposed for the spec. */
  def parseArgs(tokens: Seq[String]): Map[String, Any] =
    tokens.flatMap { t =>
      t.split("=", 2) match {
        case Array(k, v) if v.contains(",") => Some(k -> v.split(",").toSeq)
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap

  /** One request → the printable response lines (bounded). */
  def handle(p: Tools.Project, line: String, maxRows: Int = 100): Seq[String] = {
    val tokens = line.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    tokens match {
      case Nil => Nil
      case Seq("list") =>
        Tools.specs.map { t =>
          val ps = t.params.map(p =>
            if (p.required) s"${p.name}*" else p.name).mkString(", ")
          val seam = if (t.llmSeam) " [llm-seam]" else ""
          s"${t.name}($ps)$seam — ${t.description}"
        }
      case tool +: rest =>
        Tools.run(p, tool, parseArgs(rest))(_.toJSON.take(maxRows + 1)) match {
          case Left(err) => Seq(s"err $err")
          case Right(rows) =>
            val shown = rows.take(maxRows).toSeq
            shown :+ (if (rows.length > maxRows) s"ok ${shown.length}+"
              else s"ok ${shown.length}")
        }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ServeMain <root> <chunksPath> <vectorsPath> [kgPath]")
    val spark = graft.GraftSession("graft-serve", defaultCpus = 32)
    val p = Tools.Project(spark, args(0), args(1), args(2),
      kgPath = args.lift(3))
    val in = scala.io.Source.stdin.getLines()
    var running = true
    while (running && in.hasNext) {
      val line = in.next()
      if (line.trim == "quit") running = false
      // dual protocol: a JSON object frame is MCP JSON-RPC (the
      // reference's stdio transport, mcp/server.py:303-380); anything
      // else stays the human line shell
      else if (line.trim.startsWith("{"))
        McpServer.handleLine(p, line).foreach(println)
      else handle(p, line).foreach(println)
    }
    spark.stop()
  }
}
