package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.graph.Kg
import graft.index.IndexStore
import graft.search.SearchEngine
import graft.streaming.WatchStream
import graft.streaming.WatchStream.FileEvent

/** An edit batch cut at one of `IndexStore.applyChanges`' table writes
  * is repaired by one retry. A `SparkListener` cancels the jobs of the
  * write whose plan targets the cut table's staging directory. Every
  * table is staged before any is swapped in, so after the cut every
  * live table (chunks, vectors, KG vertices, KG edges) keeps its
  * pre-batch rows, and the call throws only once no job of the batch
  * runs any more: a retry cannot race a straggling write into the same
  * staging directory. Nor is any non-daemon thread the call started
  * still alive, whether it threw or returned. Change detection reads
  * only the chunks table, so the chunks swap must come last: a batch
  * cut between swaps is detected again, and the retry must leave every
  * table equal to a full build of the edited tree, as in
  * `ApplyChangesSpec`. Within the KG, the delta takes the ids it
  * removes from the stored vertices, so the vertices swap comes after
  * the edges swap.
  *
  * The edit renames `make_chunk` in `parser.py`, which `util.py` calls:
  * a retry that read the new vertices would keep the edge into the old
  * entity.
  */
class TornBatchSpec extends SparkSpec {
  import spark.implicits._

  /** Cancels every job of the first SQL execution whose plan writes `target`. */
  private final class CutWrite(target: String) extends SparkListener {
    @volatile private var execution: Option[String] = None
    @volatile var cut = false
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if execution.isEmpty && s.physicalPlanDescription.contains(target) =>
        execution = Some(s.executionId.toString)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (execution.isDefined &&
          Option(j.properties).map(_.getProperty("spark.sql.execution.id")) == execution) {
        cut = true
        spark.sparkContext.cancelJob(j.jobId, s"cut the write of $target")
      }
  }

  private def rows(path: String): Set[Row] = rows(spark.read.parquet(path))

  private def rows(df: DataFrame): Set[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().toSet
  }

  /** Runs `f`, then the non-daemon threads started meanwhile that are
    * still alive.
    */
  private def leftThreads(f: => Any): Set[Thread] = {
    def live = Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon)
    val before = live.toSet
    f
    live.toSet -- before
  }

  private def cutThenRetry(table: String, viaKg: Boolean): Unit = {
    val dir = Files.createTempDirectory("torn-batch")
    try {
      val repo = dir.resolve("repo")
      val from = Paths.get(sampleRepo)
      Files.walk(from).forEach { f =>
        val t = repo.resolve(from.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
        ()
      }
      Files.writeString(repo.resolve("src/util.py"),
        "def helper(path):\n    return make_chunk(path, \"\")\n")
      val Seq(chunks, vectors, kg) =
        Seq("chunks", "vectors", "kg").map(t => dir.resolve(t).toString)
      val engine = new SearchEngine(spark)
      engine.indexRepo(repo.toString, chunks, vectors)
      val kg0 = Kg.fromChunks(IndexStore.read(spark, chunks))
      IndexStore.write(kg0.vertices, s"$kg/vertices")
      IndexStore.write(kg0.edges, s"$kg/edges")
      val tables = Seq(chunks, vectors, s"$kg/vertices", s"$kg/edges")
      val before = tables.map(rows)

      val parser = repo.resolve("src/parser.py")
      Files.writeString(parser, Files.readString(parser)
        .replace("make_chunk", "build_chunk"))
      def apply(): Unit =
        if (viaKg) WatchStream.applyBatch(spark,
          Seq(FileEvent(parser.toString, "modified", new Timestamp(1L), null)).toDF(),
          chunks, vectors, Some(kg))
        else engine.incrementalIndex(repo.toString, chunks, vectors)

      val cutter = new CutWrite(s"${dir.resolve(table)}._staging")
      spark.sparkContext.addSparkListener(cutter)
      val left = try leftThreads(intercept[Exception](apply()))
        finally spark.sparkContext.removeSparkListener(cutter)
      ListenerBusDrain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "a job of the cut batch still runs")
      assert(cutter.cut, s"no write of $table ran")
      assert(left.isEmpty, s"threads left by the cut batch: $left")
      for ((t, rs) <- tables.zip(before)) assert(rows(t) == rs, s"$t changed by the cut batch")

      val retryLeft = leftThreads(apply())
      assert(retryLeft.isEmpty, s"threads left by the retry: $retryLeft")
      val (fullChunks, fullVectors) = engine.buildIndex(repo.toString)
      assert(rows(chunks) == rows(fullChunks), "chunks")
      assert(rows(vectors) == rows(fullVectors), "vectors")
      if (viaKg) {
        val fullKg = Kg.fromChunks(fullChunks)
        assert(rows(s"$kg/vertices") == rows(fullKg.vertices), "vertices")
        assert(rows(s"$kg/edges") == rows(fullKg.edges), "edges")
      }
    } finally Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
  }

  for ((table, viaKg) <- Seq("vectors" -> false, "chunks" -> false,
      "kg/edges" -> true, "kg/vertices" -> true)) {
    val retry = if (viaKg) "applyBatch with the KG" else "incrementalIndex"
    test(s"a batch cut at the $table write is repaired by one retried $retry") {
      cutThenRetry(table, viaKg)
    }
  }
}
