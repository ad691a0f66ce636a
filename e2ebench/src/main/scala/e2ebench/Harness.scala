package e2ebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.chunk.Chunker
import graft.embed.HashEmbedder
import graft.graph.Kg
import graft.index.IndexStore
import graft.ingest.FileDiscovery
import graft.search.{Fusion, QueryProcessor, SearchEngine}
import graft.serve.{McpServer, Tools}
import graft.streaming.WatchStream

/** One benchmark run in one JVM: one closed-loop client thread drives a
  * workload through the engine's public entry points and checks every
  * answer against the generator's plan.
  *
  * Usage: Harness --workload <serve|index|edit_search> --units <n>
  *   --trace <0|1> --work <dir with corpus/ and plan.json> --cores <n>
  *   --t0-ms <epoch ms the run started>
  *
  * Writes <work>/result.json: raw latency samples in time order, set-up
  * time, checks, environment and, with --trace 1, the per-layer probes
  * and spans.
  */
object Harness {

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work")).getAbsoluteFile
    val cores = opts("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = new Run(spark, work, Json.readTree(new File(work, "plan.json")),
        opts("trace") == "1", opts("t0-ms").toLong)
      val units = opts("units").toInt
      val result = opts("workload") match {
        case "serve" => run.serve(units)
        case "index" => run.index(units)
        case "edit_search" => run.editSearch(units)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      Json.writeValue(new File(work, "result.json"), result)
    } finally spark.stop()
  }
}

final class Run(spark: SparkSession, work: File, plan: JsonNode,
    trace: Boolean, t0Ms: Long) {
  import Harness.Json
  import spark.implicits._

  private val root = new File(work, "corpus").getPath
  private val probeRoot = new File(work, "probe_corpus").getPath
  private val pristine = new File(work, "corpus_initial")
  private val indexDir = new File(work, "index")
  private def tables(dir: File) = (new File(dir, "chunks").getPath,
    new File(dir, "vectors").getPath, new File(dir, "kg").getPath)
  private val (chunksPath, vectorsPath, kgPath) = tables(indexDir)
  private val project = Tools.Project(spark, root, chunksPath, vectorsPath,
    kgPath = Some(kgPath))
  private val engine = new SearchEngine(spark)

  // ---- bookkeeping -----------------------------------------------------

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val tracedFlags = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Boolean]]
  private val queries = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val counters = new Counters
  private val spans = new Spans
  private var tracing = false
  private var rpcId = 0L

  private def record(name: String, ms: Double): Unit = {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    tracedFlags.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += tracing
  }

  /** Counts one checked operation; a false check or a throw is a failure. */
  private def checked(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val error = try { if (ok) None else Some("wrong answer") }
    catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    error.foreach { msg =>
      failed += 1
      if (failures.size < 20) failures += s"$what: $msg"
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e6)
  }

  /** Time the harness's own checks spent inside the timed phase. */
  private var checkNs = 0L

  /** Runs a check's own Spark work off the timed phase's clock. */
  private def unclocked[T](f: => T): T = {
    val t = System.nanoTime()
    try f finally checkNs += System.nanoTime() - t
  }

  /** A timed operation; in a traced run every other one runs traced. */
  private def op[T](name: String)(f: => T): T = {
    val (r, ms) = if (tracing) spans(name)(timed(f)) else timed(f)
    record(name, ms)
    r
  }

  private def absPrefix(r: String) = new File(r).getAbsolutePath + "/"
  private def rel(id: String, r: String = root): String = id.stripPrefix(absPrefix(r))
  private def abs(p: String, r: String = root): String = absPrefix(r) + p

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def counts(n: JsonNode): Map[String, Long] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  // ---- calls into the engine ---------------------------------------------

  /** One JSON-RPC tools/call through McpServer.handleLine; the rows of a
    * successful CallToolResult, or an exception for an error result.
    */
  private def call(p: Tools.Project, tool: String,
      args: Map[String, Any]): Seq[JsonNode] = {
    rpcId += 1
    val frame = Json.writeValueAsString(Map("jsonrpc" -> "2.0", "id" -> rpcId,
      "method" -> "tools/call",
      "params" -> Map("name" -> tool, "arguments" -> args)))
    val reply = Json.readTree(McpServer.handleLine(p, frame).get).get("result")
    val text = reply.get("content").get(0).get("text").asText
    if (reply.get("isError").asBoolean) throw new RuntimeException(text)
    Json.readTree(text).elements().asScala.toSeq
  }

  private def foundChunk(rows: Seq[JsonNode], name: String, file: String,
      r: String = root): Boolean =
    rows.exists(x => x.get("name").asText == name &&
      rel(x.get("file_path").asText, r) == file) || {
      throw new RuntimeException(s"$name ($file) not in " + rows.map(x =>
        s"${x.get("name").asText}@${rel(x.get("file_path").asText, r)}")
        .mkString(", "))
    }

  private def neighbours(rows: Seq[JsonNode], r: String = root): Seq[String] =
    rows.map(x => rel(x.get("id").asText, r)).sorted

  private def longestPath(rows: Seq[JsonNode], r: String = root): Seq[String] =
    if (rows.isEmpty) Nil
    else strings(rows.maxBy(_.get("path").size).get("path")).map(rel(_, r))

  private def chunkCounts(chunks: String, r: String = root): Map[String, Long] = {
    spark.catalog.refreshByPath(chunks)
    spark.read.parquet(chunks).groupBy("file_path").count().collect()
      .map(x => rel(x.getString(0), r) -> x.getLong(1)).toMap
  }

  private def kgCounts(rows: Seq[JsonNode]): Map[String, Long] =
    rows.map(x => s"${x.get("kind").asText}:${x.get("name").asText}" ->
      x.get("count").asLong).toMap

  /** Full build: indexRepo, then the kg_build tool. */
  private def build(p: Tools.Project): Seq[JsonNode] = {
    engine.indexRepo(p.root, p.chunksPath, p.vectorsPath)
    call(p, "kg_build", Map.empty)
  }

  private def checkBuild(rows: Seq[JsonNode], chunkExp: JsonNode,
      kgExp: JsonNode): Unit = {
    checked("build chunk counts")(chunkCounts(chunksPath) == counts(chunkExp))
    checked("kg_build counts")(kgCounts(rows) == counts(kgExp))
  }

  /** Writes, deletes and moves one planned edit batch on disk. */
  private def applyEdits(batch: JsonNode, r: String): Unit = {
    batch.get("write").properties().asScala.foreach { e =>
      val f = new File(abs(e.getKey, r))
      f.getParentFile.mkdirs()
      Files.write(f.toPath, e.getValue.asText.getBytes("UTF-8"))
    }
    strings(batch.get("delete")).foreach(p => Files.delete(new File(abs(p, r)).toPath))
    batch.get("move").elements().asScala.foreach { m =>
      val dst = new File(abs(m.get(1).asText, r))
      dst.getParentFile.mkdirs()
      Files.move(new File(abs(m.get(0).asText, r)).toPath, dst.toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** The watcher events of one edit batch, as WatchStream consumes them. */
  private def events(batch: JsonNode, existed: Set[String], r: String): DataFrame = {
    val ts = new Timestamp(System.currentTimeMillis())
    val writes = batch.get("write").properties().asScala.map(_.getKey).toSeq
      .map(p => WatchStream.FileEvent(abs(p, r),
        if (existed.contains(p)) "modified" else "created", ts))
    val deletes = strings(batch.get("delete"))
      .map(p => WatchStream.FileEvent(abs(p, r), "deleted", ts))
    val moves = batch.get("move").elements().asScala.toSeq.map(m =>
      WatchStream.FileEvent(abs(m.get(0).asText, r), "moved", ts,
        abs(m.get(1).asText, r)))
    (writes ++ deletes ++ moves).toDF()
  }

  /** Stored bytes of the index and knowledge graph right after set-up. */
  private var indexBytes = 0L
  private var buildS = 0.0

  /** Generated files in, one full build (the index, then the kg_build
    * tool) out. A traced run records the build's layers here.
    */
  private def setup(): Unit = {
    copyTree(new File(root), pristine)
    if (trace) counters.attach(spark)
    val t = System.nanoTime()
    val (_, iMs, iW) = measure("index.build") {
      engine.indexRepo(root, chunksPath, vectorsPath)
    }
    val (rows, gMs, gW) = measure("graph.build")(call(project, "kg_build", Map.empty))
    buildS = (System.nanoTime() - t) / 1e9
    if (trace) counters.detach(spark)
    layers("index.write_ms") = iMs
    layers("index.bytes_written") = iW.bytesWritten
    layers("index.build_jobs") = iW.jobs
    layers("index.build_cpu_ms") = iW.cpuMs
    layers("index.build_shuffle_bytes") = iW.shuffleBytes
    layers("graph.build_ms") = gMs
    layers("graph.build_jobs") = gW.jobs
    checkBuild(rows, plan.get("chunk_counts"), plan.get("kg_counts"))
    indexBytes = dirBytes(indexDir)
  }

  private def copyTree(src: File, dst: File): Unit = {
    val base = src.toPath
    Files.walk(base).iterator().asScala.foreach { p =>
      val t = dst.toPath.resolve(base.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def dirBytes(d: File): Long =
    Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  // ---- workloads -----------------------------------------------------------

  private val Tools4 = Seq("search_code", "search_hybrid", "kg_query",
    "trace_execution_flow")

  /** Read-only: each unit is one round-robin of the four tools. */
  def serve(units: Int): Map[String, Any] = {
    setup()
    timedPhase(units, plan.get("rounds").elements().asScala, serveRound)
  }

  private def serveRound(r: JsonNode): Unit = Tools4.foreach { tool =>
    val q = r.get(tool)
    tool match {
      case "search_code" | "search_hybrid" =>
        val name = q.get("query").asText
        queries += name
        checked(tool) {
          foundChunk(op(tool)(call(project, tool, Map("query" -> name))),
            name, q.get("file").asText)
        }
      case "kg_query" =>
        checked(tool) {
          neighbours(op(tool)(call(project, tool,
            Map("entity_name" -> q.get("name").asText)))) ==
            strings(q.get("neighbours"))
        }
      case "trace_execution_flow" =>
        checked(tool) {
          longestPath(op(tool)(call(project, tool,
            Map("entry_point" -> abs(q.get("entry").asText))))) ==
            strings(q.get("path"))
        }
    }
  }

  /** Write-only: each unit is a full build followed by two edit batches
    * through incrementalIndex.
    */
  def index(units: Int): Map[String, Any] = {
    setup()
    var last = plan // the expected counts of the files now on disk
    val cycles = plan.get("batches").elements().asScala.grouped(2).map { pair =>
      () =>
        val rows = op("build")(build(project))
        unclocked(checkBuild(rows, last.get("chunk_counts"), last.get("kg_counts")))
        pair.foreach { b =>
          applyEdits(b, root)
          op("reindex")(engine.incrementalIndex(root, chunksPath, vectorsPath))
          checked("reindex chunk counts")(
            unclocked(chunkCounts(chunksPath)) == counts(b.get("chunk_counts")))
          last = b
        }
    }
    timedPhase(units, cycles, (c: () => Unit) => c())
  }

  /** Writes beside reads: each unit adds a class of one fresh name to
    * each of two files, applies the batch through WatchStream, then
    * searches for that name: both definitions must be found.
    */
  def editSearch(units: Int): Map[String, Any] = {
    setup()
    timedPhase(units, plan.get("cycles").elements().asScala, editCycle)
  }

  private def editCycle(c: JsonNode): Unit = {
    val fresh = c.get("fresh")
    val name = fresh.get("name").asText
    queries += name
    val t = System.nanoTime()
    applyEdits(c, root)
    op("reindex")(WatchStream.applyBatch(spark,
      events(c, c.get("write").properties().asScala.map(_.getKey).toSet, root),
      chunksPath, vectorsPath, Some(kgPath)))
    checked("fresh search_code") {
      val rows = op("search_code")(call(project, "search_code",
        Map("query" -> name)))
      strings(fresh.get("files")).forall(foundChunk(rows, name, _))
    }
    record("fresh_search", (System.nanoTime() - t) / 1e6)
    checked("fresh kg_query") {
      neighbours(op("kg_query")(call(project, "kg_query",
        Map("entity_name" -> name)))) == strings(fresh.get("neighbours"))
    }
    checked("reindex chunk counts")(
      unclocked(chunkCounts(chunksPath)) == counts(c.get("chunk_counts")))
  }

  // ---- timed phase and result ----------------------------------------------

  private def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** A traced run first probes the layers on the set-up state. Then
    * `nUnits` units run; a traced run alternates untraced and traced
    * units so that the two kinds of sample give the tracing overhead.
    * The timed wall excludes the harness's own checks.
    */
  private def timedPhase[U](nUnits: Int, units: Iterator[U],
      unit: U => Unit): Map[String, Any] = {
    if (trace) probes()
    val firstOpMs = System.currentTimeMillis()
    val (gc0, gcMs0) = gc()
    val t0 = System.nanoTime()
    checkNs = 0L
    var n = 0
    while (units.hasNext && n < nUnits) {
      tracing = trace && n % 2 == 1
      spans.nextOp()
      if (tracing) {
        counters.attach(spark)
        spans("unit")(unit(units.next()))
        counters.detach(spark)
      } else unit(units.next())
      n += 1
    }
    tracing = false
    val wall = (System.nanoTime() - t0 - checkNs) / 1e9
    val (gc1, gcMs1) = gc()
    val heap = retainedHeap()
    if (trace) Json.writeValue(new File(work, "spans.json"), spans.rows)
    Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "samples" -> samples, "traced" -> tracedFlags, "queries" -> queries,
      "units" -> n, "timed_wall_s" -> wall, "check_s" -> checkNs / 1e9,
      "setup_s" -> (firstOpMs - t0Ms) / 1000.0,
      "build_s" -> buildS,
      "gc_count" -> (gc1 - gc0), "gc_ms" -> (gcMs1 - gcMs0),
      "retained_heap_mb" -> heap / 1048576.0,
      "index_bytes" -> indexBytes,
      "layers" -> layers, "work" -> layerWork, "span_times" -> spans.selfTimes,
      "env" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "spark_conf" -> spark.conf.getAll))
  }

  /** Heap in use once collections stop freeing more: Spark's context
    * cleaner drops blocks of unreachable RDDs only after a collection, so
    * one forced collection is not enough.
    */
  private def retainedHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = 0L
    var i = 0
    do {
      last = used
      System.gc()
      Thread.sleep(200)
      used = mem.getHeapMemoryUsage.getUsed
      i += 1
    } while (i < 10 && (i < 3 || math.abs(used - last) > used / 100))
    used
  }

  // ---- per-layer probes (traced run) -----------------------------------------

  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val layerWork = mutable.LinkedHashMap.empty[String, Work]

  /** Times one layer call and records the Spark work it caused. */
  private def measure[T](name: String)(f: => T): (T, Double, Work) = {
    val w0 = counters.snapshot(spark)
    val (r, ms) = spans(name)(timed(f))
    val w = counters.snapshot(spark) - w0
    layerWork(name) = w
    (r, ms, w)
  }

  /** Each layer's public function, timed and counted in isolation on the
    * set-up state or on copies of it, so counts repeat exactly for a seed.
    */
  private def probes(): Unit = {
    val probe = plan.get("probe")
    counters.attach(spark)
    spans.nextOp()

    // the four tools: plan building (Tools.dispatch) apart from the action
    val search = probe.get("search")
    val kgq = probe.get("kg")
    val tr = probe.get("trace")
    val toolArgs = Seq(
      "search_code" -> Map[String, Any]("query" -> search.get("query").asText),
      "search_hybrid" -> Map[String, Any]("query" -> search.get("query").asText),
      "kg_query" -> Map[String, Any]("entity_name" -> kgq.get("name").asText),
      "trace_execution_flow" -> Map[String, Any]("entry_point" ->
        abs(tr.get("entry").asText)))
    toolArgs.foreach { case (tool, args) =>
      val (df, dispMs, dW) = measure(s"serve.$tool.dispatch") {
        Tools.dispatch(project, tool, args)
          .fold(e => throw new RuntimeException(e), identity)
      }
      val (rowsJson, execMs, eW) = measure(s"serve.$tool.exec")(df.toJSON.take(100))
      val w = dW + eW
      val rows = rowsJson.toSeq.map(Json.readTree)
      checked(s"probe $tool")(tool match {
        case "search_code" | "search_hybrid" => foundChunk(rows,
          search.get("query").asText, search.get("file").asText)
        case "kg_query" => neighbours(rows) == strings(kgq.get("neighbours"))
        case _ => longestPath(rows) == strings(tr.get("path"))
      })
      layers(s"serve.$tool.dispatch_ms") = dispMs
      layers(s"serve.$tool.exec_ms") = execMs
      layers(s"serve.$tool.jobs") = w.jobs
      layers(s"serve.$tool.tasks") = w.tasks
      layers(s"serve.$tool.cpu_ms") = w.cpuMs
      layers(s"serve.$tool.run_ms") = w.runMs
      layers(s"serve.$tool.shuffle_bytes") = w.shuffleBytes
      layers(s"serve.$tool.planning_ms") = w.planningMs
    }

    // search stages in isolation (isolated costs, not additive shares)
    val q = search.get("query").asText
    val vec = IndexStore.read(spark, vectorsPath)
    val ch = IndexStore.read(spark, chunksPath)
    layers("search.embed_query_ms") = measure("search.embed_query")(engine.embedQuery(q))._2
    val (vRows, vMs, vW) = measure("search.vector") {
      engine.vectorSearch(vec, q, 20, threshold = Some(0.0))
        .select(col("chunk_id").as("id"), col("rank")).collect()
    }
    layers("search.vector_ms") = vMs
    layers("search.vector_jobs") = vW.jobs
    layers("search.vector_cpu_ms") = vW.cpuMs
    val (kRows, kMs, kW) = measure("search.bm25") {
      engine.keywordSearch(ch, q, 20)
        .select(col("chunk_id").as("id"), col("rank")).collect()
    }
    layers("search.bm25_ms") = kMs
    layers("search.bm25_jobs") = kW.jobs
    layers("search.bm25_cpu_ms") = kW.cpuMs
    layers("search.bm25_shuffle_bytes") = kW.shuffleBytes
    val rankSchema = StructType(Seq(StructField("id", StringType),
      StructField("rank", IntegerType)))
    def local(rows: Array[Row]) = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), rankSchema)
    val (_, fMs, fW) = measure("search.fuse") {
      val fused = Fusion.rrf(local(vRows), local(kRows),
          QueryProcessor.hybridAlpha(q))
        .withColumnRenamed("id", "chunk_id")
        .join(vec, Seq("chunk_id"), "left")
      Fusion.ranked(engine.boost(fused, q, "rrf_score"), "chunk_id",
        "boosted", 10).collect()
    }
    layers("search.fuse_ms") = fMs
    layers("search.fuse_jobs") = fW.jobs

    // graph reads
    val kg = Kg.KgTables(IndexStore.read(spark, s"$kgPath/vertices"),
      IndexStore.read(spark, s"$kgPath/edges"))
    val (_, rMs, rW) = measure("graph.related") {
      Kg.related(kg, kgq.get("name").asText).collect()
    }
    layers("graph.related_ms") = rMs
    layers("graph.related_jobs") = rW.jobs
    val (_, bMs, bW) = measure("graph.bfs") {
      Kg.bfsPaths(kg.edges, abs(tr.get("entry").asText)).collect()
    }
    layers("graph.bfs_ms") = bMs
    layers("graph.bfs_jobs") = bW.jobs

    // ingest -> chunk -> embed, each materialized over a cached input
    val (files, dMs, _) = measure("ingest.discover") {
      val f = FileDiscovery.discover(spark, pristine.getPath).cache()
      f.write.format("noop").mode("overwrite").save()
      f
    }
    val stats = files.agg(count(lit(1)), sum(col("size_bytes"))).head()
    layers("ingest.discover_ms") = dMs
    layers("ingest.files") = stats.getLong(0)
    layers("ingest.bytes") = stats.getLong(1)
    val (chunks, cMs, _) = measure("chunk") {
      val c = files.flatMap(Chunker.chunkFile _).toDF().cache()
      c.write.format("noop").mode("overwrite").save()
      c
    }
    layers("chunk.chunk_ms") = cMs
    layers("chunk.chunks") = chunks.count()
    val (_, eMs, eW) = measure("embed") {
      HashEmbedder.embed(chunks.withColumn("ctx", HashEmbedder.contextText(
        col("file_path"), col("language"), col("name"), col("content"))),
        "chunk_id", "ctx").write.format("noop").mode("overwrite").save()
    }
    layers("embed.embed_ms") = eMs
    layers("embed.cpu_ms") = eW.cpuMs
    chunks.unpersist()
    files.unpersist()

    // write paths on copies of the set-up state: one batch through
    // incrementalIndex, then one through WatchStream.applyBatch
    val probeIndex = new File(work, "probe_index")
    copyTree(indexDir, probeIndex)
    copyTree(pristine, new File(probeRoot))
    val (pc, pv, pk) = tables(probeIndex)
    val a = probe.get("batch_a")
    applyEdits(a, probeRoot)
    val (_, riMs, riW) = measure("index.reindex") {
      engine.incrementalIndex(probeRoot, pc, pv)
    }
    checked("probe reindex chunk counts")(
      chunkCounts(pc, probeRoot) == counts(a.get("chunk_counts")))
    layers("index.reindex_ms") = riMs
    layers("index.reindex_jobs") = riW.jobs
    layers("index.reindex_cpu_ms") = riW.cpuMs
    layers("index.reindex_bytes_written") = riW.bytesWritten
    layers("index.rows_rewritten_per_row_changed") =
      riW.recordsWritten / (2.0 * a.get("rows_changed").asDouble)
    val b = probe.get("batch_b")
    val before = chunkCounts(pc, probeRoot).keySet
    applyEdits(b, probeRoot)
    val (_, sMs, sW) = measure("streaming.apply") {
      WatchStream.applyBatch(spark, events(b, before, probeRoot), pc, pv, Some(pk))
    }
    checked("probe apply chunk counts")(
      chunkCounts(pc, probeRoot) == counts(b.get("chunk_counts")))
    layers("streaming.apply_ms") = sMs
    layers("streaming.apply_jobs") = sW.jobs
    layers("streaming.apply_cpu_ms") = sW.cpuMs
    layers("streaming.bytes_written") = sW.bytesWritten
    counters.detach(spark)
  }
}
