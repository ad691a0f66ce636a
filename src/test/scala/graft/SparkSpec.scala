package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.search.SearchEngine
import graft.serve.Tools
import graft.serve.Tools.Project

/** Shared session: one per JVM, REBUILT if a prior suite's context died.
  *
  * r11 post-mortem (VERDICT r11 #2): a host-starvation heartbeat kill
  * stopped the shared SparkContext mid-suite, and because every suite
  * held a suite-lazy reference to the dead session, one environmental
  * event cascaded into failures in every subsequent suite in the JVM
  * (`GraftFunctions.ensure` → `SparkSession.active` → "No active or
  * default Spark session"). `spark` is therefore a def that re-checks
  * liveness on every access, and the heartbeat/network timeouts are
  * raised well past the 10 s defaults — the sandbox host shows 6-20 %
  * hypervisor-steal bursts lasting minutes, and a missed heartbeat in
  * local mode kills the only executor there is.
  *
  * `spark` stays a suite-lazy val (a stable identifier — every spec
  * does `import spark.implicits._`, which a def cannot support), so a
  * context killed MID-suite still fails that suite's remaining tests;
  * but every suite initialized after the kill gets a fresh session from
  * the liveness-checked factory instead of the r11 cascade.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The fixture is read from the source tree, not the classpath copy —
    * the copy lives under target/, which discovery rightly ignores.
    */
  def sampleRepo: String =
    new java.io.File("src/test/resources/sample_repo").getAbsolutePath

  /** A copy of [[sampleRepo]] at `dir/repo`, indexed into `dir/chunks`
    * and `dir/vectors`, with its knowledge graph built by `kg_build` at
    * `dir/kg`: a spec may edit the tree and its index freely.
    */
  def indexedSampleCopy(dir: Path): Project = {
    val from = Paths.get(sampleRepo)
    val repo = dir.resolve("repo")
    Files.walk(from).forEach { f =>
      val t = repo.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
      ()
    }
    val p = Project(spark, repo.toString,
      chunksPath = dir.resolve("chunks").toString,
      vectorsPath = dir.resolve("vectors").toString,
      kgPath = Some(dir.resolve("kg").toString))
    new SearchEngine(spark).indexRepo(p.root, p.chunksPath, p.vectorsPath)
    Tools.dispatch(p, "kg_build", Map.empty).fold(e => fail(e), identity)
    p
  }
}

object SparkSpec {
  @volatile private var cached: SparkSession = _

  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      // a stopped context leaves cleared/stale active+default references
      // behind; clear them so getOrCreate builds fresh instead of
      // resurrecting a zombie
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      cached = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "600s")
        .getOrCreate()
    }
    cached
  }
}
