package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.chunk.Chunker
import graft.graph.Kg
import graft.index.IndexStore
import graft.ingest.FileDiscovery
import graft.search.SearchEngine
import graft.serve.Tools
import graft.serve.Tools.Project
import graft.streaming.WatchStream

/** Jobs per query on the serving path. A keyword search is one
  * statistics aggregate plus one scoring pass (three more jobs when the
  * epsilon floor needs the vocabulary's average idf), whatever the
  * corpus size. `search_code` is three jobs over the vectors table: the
  * vector top-k scan that also gathers the BM25 statistics, the BM25
  * scoring pass and the render of the collected rows. Deriving the BM25
  * index inline again costs well over a dozen jobs and fails here.
  * `get_project_status` discovers the files on disk once.
  * `trace_execution_flow` runs one edge scan per BFS level. Reading an
  * index table takes its schema from a Parquet footer on the driver,
  * with no schema-inference job. An edit batch through `applyBatch`
  * derives its new rows with work the size of the change: no
  * corpus-wide shuffle and no job to debounce its events; its chunk
  * rows are collected once, and every job of its concurrent table
  * stages runs in the caller's job group. Its KG delta comes from that
  * collect and one scan of the stored vertices, and merges into each KG
  * table in that table's write.
  */
class SearchJobCountSpec extends SparkSpec {

  /** Walks executed plans through adaptive query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  private lazy val project: Project = {
    val dir = Files.createTempDirectory("search-jobs").toFile
    val p = Project(spark, sampleRepo,
      chunksPath = new java.io.File(dir, "chunks").getAbsolutePath,
      vectorsPath = new java.io.File(dir, "vectors").getAbsolutePath)
    new SearchEngine(spark).indexRepo(sampleRepo, p.chunksPath, p.vectorsPath)
    p
  }

  /** The same index with its knowledge graph built by `kg_build`. */
  private lazy val kgProject: Project = {
    val p = project.copy(kgPath = Some(
      Files.createTempDirectory("search-jobs-kg").toFile.getAbsolutePath))
    Tools.dispatch(p, "kg_build", Map.empty).fold(e => fail(e), identity)
    p
  }

  /** Spark jobs started by `f`, counted after the listener bus drained.
    * Only jobs of this thread's job group count, so a query left running
    * by another suite in the JVM cannot add to it.
    */
  private def jobs(f: => Any): Int = jobCounts(f)._1

  /** [[jobs]], and every job that started meanwhile, in any job group. */
  private def jobCounts(f: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"search-job-count-${System.nanoTime()}"
    ListenerBusDrain(sc)
    val (n, all) = (new AtomicInteger, new AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted search")
    try { f; ListenerBusDrain(sc); (n.get, all.get) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  private def keywordJobs(query: String): Int = {
    val engine = new SearchEngine(spark)
    val ch = IndexStore.read(spark, project.chunksPath)
    engine.keywordSearch(ch, query, 20).collect() // warm
    jobs(engine.keywordSearch(ch, query, 20).collect())
  }

  test("keywordSearch: statistics aggregate + scoring pass") {
    assert(keywordJobs("FileParser") == 3)
  }

  test("keywordSearch: the epsilon floor adds the vocabulary pass") {
    // every chunk's file_path lies under src/test/resources: df = N
    assert(keywordJobs("resources") == 6)
  }

  test("keywordSearch: a query with no tokens runs only the scoring pass") {
    assert(keywordJobs("?? 42") <= 1)
  }

  /** Jobs of a warm `search_code` (or `search_hybrid`) dispatch plus
    * toJSON.take.
    */
  private def searchJobs(tool: String, query: String): Int = {
    def call() = Tools.dispatch(project, tool,
      Map("query" -> query)).fold(e => fail(e), identity)
      .toJSON.take(100)
    assert(call().nonEmpty)
    jobs(call())
  }

  test("search_code through dispatch and toJSON.take") {
    assert(searchJobs("search_code", "FileParser") == 3)
  }

  test("search_hybrid through dispatch and toJSON.take") {
    assert(searchJobs("search_hybrid", "search index query") == 3)
  }

  test("search_code with no query term in the corpus skips the scoring pass") {
    assert(searchJobs("search_code", "zyzzyvaqq") == 2)
    assert(searchJobs("search_code", "?? 42") == 2)
  }

  test("hybridSearch scans the vectors table twice and renders local rows") {
    val engine = new SearchEngine(spark)
    val vectors = IndexStore.read(spark, project.vectorsPath)
    for (query <- Seq("FileParser", "search index query")) {
      val collected = ArrayBuffer.empty[SparkPlan]
      val l = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          collected.synchronized(collected += qe.executedPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      val out = try {
        val out = engine.hybridSearch(vectors, query, 10)
        ListenerBusDrain(spark.sparkContext)
        out
      } finally spark.listenerManager.unregister(l)
      val rows = out.collect()
      assert(rows.nonEmpty && rows.forall(_.getAs[String]("file_path") != null))
      val plan = out.queryExecution.executedPlan
      assert(Plans.find(plan)(_.isInstanceOf[FileSourceScanExec]).isEmpty, plan)
      assert(Plans.find(plan)(_.isInstanceOf[Exchange]).isEmpty, plan)
      assert(collected.size == 2)
      for (p <- collected) {
        val scanned = Plans.collect(p) { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toUri.getPath)
        }
        assert(scanned == Seq(Seq(project.vectorsPath)), p)
      }
    }
  }

  test("get_project_status: one discovery scan for the stale count") {
    def call() = Tools.dispatch(project, "get_project_status")
      .fold(e => fail(e), identity).collect()
    assert(call().head.getAs[Long]("n_stale_files") == 0L)
    val n = jobs(call())
    info(s"$n jobs")
    assert(n == 8, s"$n jobs")
  }

  test("an index table's footer schema is the schema Spark infers") {
    val kp = kgProject.kgPath.get
    for (path <- Seq(project.chunksPath, project.vectorsPath,
        s"$kp/vertices", s"$kp/edges")) {
      assert(IndexStore.footerSchema(spark, path).nonEmpty, path)
      val read = IndexStore.read(spark, path)
      assert(read.schema == spark.read.parquet(path).schema, path)
      assert(jobs(IndexStore.read(spark, path)) == 0, path)
      assert(read.count() == spark.read.parquet(path).count(), path)
    }
  }

  test("a Parquet file without Spark's footer key reads through inference") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("footerless").resolve("t")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required binary name (UTF8); required int64 n; }")
    val w = ExampleParquetWriter.builder(new Path(dir.resolve("part-0.parquet").toString))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("name", "a").append("n", 1L))
      w.write(g.newGroup().append("name", "b").append("n", 2L))
    } finally w.close()
    assert(IndexStore.footerSchema(spark, dir.toString).isEmpty)
    import spark.implicits._
    val df = IndexStore.read(spark, dir.toString)
    assert(df.schema.fieldNames.toSeq == Seq("name", "n"))
    assert(df.as[(String, Long)].collect().sorted.toSeq == Seq("a" -> 1L, "b" -> 2L))
  }

  /** The tool's result, and the jobs of a warm dispatch + toJSON.take. */
  private def toolJobs(tool: String, args: Map[String, Any]): (DataFrame, Int) = {
    def call() = Tools.dispatch(kgProject, tool, args).fold(e => fail(e), identity)
    val out = call()
    out.toJSON.take(100) // warm
    (out, jobs(call().toJSON.take(100)))
  }

  test("trace_execution_flow: one edge scan per level, plus the render") {
    import spark.implicits._
    val entry = IndexStore.read(spark, s"${kgProject.kgPath.get}/vertices")
      .filter(col("name") === "load_config").select("id").as[String].head()
    val (paths, n) = toolJobs("trace_execution_flow", Map("entry_point" -> entry))
    // load_config -> parse_file -> read_text / split_blocks / make_chunk,
    // then one scan that finds no further level
    val levels = paths.select(size(col("path")) - 1).as[Int].collect().max
    assert(levels == 2)
    assert(n == (levels + 1) + 1)
  }

  test("kg_query through dispatch and toJSON.take") {
    val (related, n) = toolJobs("kg_query", Map("entity_name" -> "parse_file"))
    assert(!related.isEmpty)
    assert(n == 4)
  }

  test("kg_query broadcasts the neighbour ids and streams the vertices scan") {
    val (related, _) = toolJobs("kg_query", Map("entity_name" -> "parse_file"))
    related.collect()
    val plan = related.queryExecution.executedPlan
    val top = Plans.collect(plan) { case j: BroadcastHashJoinExec => j }.head
    assert(top.joinType == Inner && top.buildSide == BuildRight, plan)
    assert(Plans.find(top.right)(_.isInstanceOf[HashAggregateExec]).nonEmpty, plan)
    assert(Plans.find(top.left)(_.isInstanceOf[FileSourceScanExec]).nonEmpty, plan)
    assert(Plans.find(top.left)(p =>
      p.isInstanceOf[BroadcastHashJoinExec] || p.isInstanceOf[HashAggregateExec]).isEmpty, plan)
  }

  test("applyBatch with the KG: a warm 2-file modify") {
    import spark.implicits._
    val p = indexedSampleCopy(Files.createTempDirectory("apply-jobs"))
    val repo = Paths.get(p.root)
    val edited = Seq("src/parser.py" -> "\nclass Fresh%d:\n    pass\n",
      "src/search.js" -> "\nclass Fresh%d {}\n").map { case (f, c) => (repo.resolve(f), c) }
    def edit(round: Int): Unit = {
      edited.foreach { case (f, c) => Files.writeString(f, Files.readString(f) + c.format(round)) }
      WatchStream.applyBatch(spark, edited.map { case (f, _) =>
          WatchStream.FileEvent(f.toString, "modified", new Timestamp(round.toLong))
        }.toDF(), p.chunksPath, p.vectorsPath, p.kgPath)
    }
    edit(1) // warm
    // a stage that ran outside the caller's job group would lower n
    val (n, all) = jobCounts(edit(2))
    assert(IndexStore.read(spark, s"${p.kgPath.get}/vertices")
      .filter(col("name") === "Fresh2").count() == 2)
    info(s"$n jobs")
    assert(all == n, s"$all jobs started, $n in the caller's job group")
    assert(n <= 7, s"$n jobs")
  }

  test("differentialUpdate and both KG writes on a 2-file change") {
    import spark.implicits._
    val p = indexedSampleCopy(Files.createTempDirectory("kg-delta-jobs"))
    val kp = p.kgPath.get
    val edited = Seq("src/parser.py" -> "\nclass Fresh:\n    pass\n",
      "src/search.js" -> "\nclass Fresh {}\n").map { case (f, c) =>
        val path = Paths.get(p.root).resolve(f)
        Files.writeString(path, Files.readString(path) + c)
        path.toString
      }
    val rechunked = FileDiscovery.readFiles(spark, edited)
      .flatMap(Chunker.chunkFile _).toDF()
    def update(): Unit = {
      val kg = Kg.KgTables(IndexStore.read(spark, s"$kp/vertices"),
        IndexStore.read(spark, s"$kp/edges"))
      val updated = Kg.differentialUpdate(kg, rechunked, Nil)
      IndexStore.overwriteSafe(spark, updated.vertices, s"$kp/vertices")
      IndexStore.overwriteSafe(spark, updated.edges, s"$kp/edges")
    }
    update() // warm
    // the change collect, the vertex scan and one write per table
    val n = jobs(update())
    assert(IndexStore.read(spark, s"$kp/vertices")
      .filter(col("name") === "Fresh").count() == 2)
    info(s"$n jobs")
    assert(n <= 4, s"$n jobs")
  }
}
