package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Comparator

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
  * write whose plan targets the cut table's staging directory; the live
  * table then keeps its pre-batch rows. Change detection reads only the
  * chunks table, so the chunks write must come last: the cut batch is
  * detected again, and the retry must leave every table equal to a full
  * build of the edited tree, as in `ApplyChangesSpec`. Within the KG,
  * the delta takes the ids it removes from the stored vertices, so the
  * vertices write comes after the edges write.
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
      val before = rows(chunks)

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
      try intercept[Exception](apply())
      finally spark.sparkContext.removeSparkListener(cutter)
      assert(cutter.cut, s"no write of $table ran")
      assert(rows(chunks) == before, "the chunks table changed before the cut write")

      apply()
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
