package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.index.IndexStore
import graft.search.SearchEngine
import graft.serve.Tools
import graft.serve.Tools.Project

/** Jobs per query on the serving path. A keyword search is one
  * statistics aggregate plus one scoring pass (three more jobs when the
  * epsilon floor needs the vocabulary's average idf), and `search_code`
  * a fixed handful on top, whatever the corpus size. Deriving the BM25
  * index inline again costs well over a dozen jobs and fails here.
  */
class SearchJobCountSpec extends SparkSpec {

  private lazy val project: Project = {
    val dir = Files.createTempDirectory("search-jobs").toFile
    val p = Project(spark, sampleRepo,
      chunksPath = new java.io.File(dir, "chunks").getAbsolutePath,
      vectorsPath = new java.io.File(dir, "vectors").getAbsolutePath)
    new SearchEngine(spark).indexRepo(sampleRepo, p.chunksPath, p.vectorsPath)
    p
  }

  /** Spark jobs started by `f`, counted after the listener bus drained.
    * Only jobs of this thread's job group count, so a query left running
    * by another suite in the JVM cannot add to it.
    */
  private def jobs(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"search-job-count-${System.nanoTime()}"
    ListenerBusDrain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted search")
    try { f; ListenerBusDrain(sc); n.get }
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

  test("search_code through dispatch and toJSON.take") {
    def call() = Tools.dispatch(project, "search_code",
      Map("query" -> "FileParser")).fold(e => fail(e), identity)
      .toJSON.take(100)
    assert(call().nonEmpty)
    assert(jobs(call()) == 8)
  }
}
