package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.Kg
import graft.search.SearchEngine
import graft.streaming.WatchStream
import graft.streaming.WatchStream.FileEvent

/** The one change-apply path (`IndexStore.applyChanges`) reached through
  * both callers: two scripted batches on a copy of the sample repo go
  * through `incrementalIndex` into one store and through `applyBatch`
  * with a KG into a second. Each end state must equal a full build of
  * the final tree (`buildIndex` + `Kg.fromChunks`) as row sets, except
  * that a moved file keeps its pre-move chunk ids and vectors (the S7
  * metadata-only rewrite). The third batch writes one file's content
  * over an existing file and into two new ones: `incrementalIndex`,
  * which pairs moves by content hash, may move the gone file onto one
  * new path only.
  *
  * `Kg.differentialUpdate` documents one more drift: edges from
  * unchanged files into entities the delta re-creates are lost. The
  * batches are scripted so that set is empty (nothing outside a batch
  * calls into a file the batch touches), and they keep every module
  * import alive (module vertices carry no file, so a delete leaves
  * them behind); the KG must therefore equal the full build exactly.
  */
class ApplyChangesSpec extends SparkSpec {
  import spark.implicits._

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
      ()
    }

  private def rows(df: DataFrame): Set[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().toSet
  }

  test("incrementalIndex and applyBatch land where a full build of the final tree does") {
    val dir = Files.createTempDirectory("apply-changes")
    try {
      val repo = dir.resolve("repo")
      copyTree(Paths.get(sampleRepo), repo)
      def abs(rel: String): String = repo.resolve(rel).toString
      // two files with no calls or imports, for batch 3
      Files.writeString(repo.resolve("src/alpha.py"),
        "def alpha(x):\n    return x + 1\n")
      Files.writeString(repo.resolve("src/beta.py"),
        "def beta(x):\n    return x * 2\n")
      def store(name: String) = Seq("chunks", "vectors", "kg")
        .map(t => dir.resolve(s"$name/$t").toString)
      val Seq(incChunks, incVectors, _) = store("inc")
      val Seq(strChunks, strVectors, strKg) = store("stream")
      val engine = new SearchEngine(spark)

      // one full build seeds both stores; the streamed one also gets a KG
      engine.indexRepo(repo.toString, incChunks, incVectors)
      Seq("chunks", "vectors").foreach(t =>
        copyTree(dir.resolve(s"inc/$t"), dir.resolve(s"stream/$t")))
      val kg0 = Kg.fromChunks(spark.read.parquet(strChunks))
      kg0.vertices.write.parquet(s"$strKg/vertices")
      kg0.edges.write.parquet(s"$strKg/edges")

      def apply(events: FileEvent*): Unit = {
        engine.incrementalIndex(repo.toString, incChunks, incVectors)
        WatchStream.applyBatch(spark, events.toDF(), strChunks, strVectors,
          Some(strKg))
      }
      def ev(rel: String, kind: String, dest: String = null) =
        FileEvent(abs(rel), kind, new Timestamp(1L),
          Option(dest).map(abs).orNull)

      // batch 1: modify parser.py, create util.py (which calls into
      // parser.py: both are in the delta, so those edges resolve)
      val parser = repo.resolve("src/parser.py")
      val before = Files.readString(parser)
      Files.writeString(parser, before.replace(
        """re.split(r"\n\s*\n", text)""", """re.split(r"\n{2,}", text)"""))
      assert(Files.readString(parser) != before)
      Files.writeString(repo.resolve("src/util.py"),
        """def load_all(root):
          |    parser = FileParser(root)
          |    return [parser.parse_file(p) for p in discover_files(root, [".py"])]
          |""".stripMargin)
      apply(ev("src/parser.py", "modified"), ev("src/util.py", "created"))

      // each store must equal a full build of the current tree, except
      // that a moved file keeps its pre-move chunk ids and vectors:
      // `moved` maps each store's moved paths to those (chunk_id → vector)
      def movedRows(vectors: String, path: String) = spark.read.parquet(vectors)
        .filter(col("file_path") === path)
        .select("chunk_id", "vector").as[(String, Seq[Float])].collect().toMap
      def check(moved: Seq[Map[String, Map[String, Seq[Float]]]]): Kg.KgTables = {
        val (fullChunks, fullVectors) = engine.buildIndex(repo.toString)
        for (((chunksPath, vectorsPath), exceptions) <-
            Seq((incChunks, incVectors), (strChunks, strVectors)).zip(moved)) {
          val isMoved = col("file_path").isin(exceptions.keys.toSeq: _*)
          for ((path, full, keep) <- Seq(
              (chunksPath, fullChunks, Seq("chunk_id")),
              (vectorsPath, fullVectors, Seq("chunk_id", "vector")))) {
            val got = spark.read.parquet(path)
            assert(rows(got.filter(!isMoved)) == rows(full.filter(!isMoved)), path)
            assert(rows(got.filter(isMoved).drop(keep: _*)) ==
              rows(full.filter(isMoved).drop(keep: _*)), path)
          }
          for ((p, ids) <- exceptions)
            assert(movedRows(vectorsPath, p) == ids, s"$vectorsPath $p")
        }
        val fullKg = Kg.fromChunks(fullChunks)
        assert(rows(spark.read.parquet(s"$strKg/vertices")) == rows(fullKg.vertices))
        assert(rows(spark.read.parquet(s"$strKg/edges")) == rows(fullKg.edges))
        fullKg
      }

      // batch 2: delete guide.md, move search.js into a subdirectory
      val movedFrom = abs("src/search.js")
      val movedTo = abs("src/web/search.js")
      val preMove = Seq(incVectors, strVectors).map(movedRows(_, movedFrom))
      assert(preMove.forall(_.nonEmpty))
      Files.delete(repo.resolve("docs/guide.md"))
      Files.createDirectories(repo.resolve("src/web"))
      Files.move(Paths.get(movedFrom), Paths.get(movedTo))
      apply(ev("docs/guide.md", "deleted"),
        ev("src/search.js", "moved", dest = "src/web/search.js"))

      val fullKg = check(preMove.map(ids => Map(movedTo -> ids)))
      assert(fullKg.edges.filter(col("rel_type") === "CALLS" &&
        col("src").startsWith(abs("src/util.py"))).count() > 0)

      // batch 3: delete alpha.py, write its content over the existing
      // beta.py and into two new files. Only alpha.py → copies/one.py is
      // a move (the first fresh path in sorted order); beta.py, which
      // has stored rows, and copies/two.py are re-read. applyBatch gets
      // no move event, so its store re-reads all three.
      val alpha = Files.readString(repo.resolve("src/alpha.py"))
      val preCopy = movedRows(incVectors, abs("src/alpha.py"))
      assert(preCopy.nonEmpty)
      Files.delete(repo.resolve("src/alpha.py"))
      Files.writeString(repo.resolve("src/beta.py"), alpha)
      Files.createDirectories(repo.resolve("src/copies"))
      Seq("one", "two").foreach(n =>
        Files.writeString(repo.resolve(s"src/copies/$n.py"), alpha))
      apply(ev("src/alpha.py", "deleted"), ev("src/beta.py", "modified"),
        ev("src/copies/one.py", "created"), ev("src/copies/two.py", "created"))
      check(Seq(Map(movedTo -> preMove(0), abs("src/copies/one.py") -> preCopy),
        Map(movedTo -> preMove(1))))
    } finally Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
  }
}
