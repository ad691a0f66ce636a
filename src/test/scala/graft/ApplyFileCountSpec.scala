package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Comparator

import graft.search.SearchEngine
import graft.streaming.WatchStream
import graft.streaming.WatchStream.FileEvent

/** `IndexStore.applyChanges` writes each table back in no more parquet
  * files than it had: six batches through `applyBatch` with the KG (and
  * `incrementalIndex` between them) leave the chunks, vectors and both
  * KG tables at their full-build file counts, instead of adding the
  * fresh rows' files on every batch.
  */
class ApplyFileCountSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(table: String): Int =
    new java.io.File(table).listFiles().count(_.getName.endsWith(".parquet"))

  test("six edit batches do not grow any table's file count") {
    val dir = Files.createTempDirectory("apply-files")
    try {
      val p = indexedSampleCopy(dir)
      val repo = Paths.get(p.root)
      val engine = new SearchEngine(spark)
      val tables = Seq(p.chunksPath, p.vectorsPath,
        s"${p.kgPath.get}/vertices", s"${p.kgPath.get}/edges")
      val built = tables.map(parquetFiles)
      assert(built.forall(_ >= 1))

      val parser = repo.resolve("src/parser.py")
      def ev(f: Path, kind: String, round: Int, dest: Path = null) =
        FileEvent(f.toString, kind, new Timestamp(round.toLong),
          Option(dest).map(_.toString).orNull)
      (1 to 6).foreach { round =>
        val extra = repo.resolve(s"src/extra$round.py")
        Files.writeString(parser, Files.readString(parser) +
          s"\nclass Fresh$round:\n    pass\n")
        Files.writeString(extra, s"def extra$round():\n    return $round\n")
        val prev = repo.resolve(s"src/extra${round - 1}.py")
        val events = Seq(ev(parser, "modified", round), ev(extra, "created", round)) ++
          (if (round % 2 == 0) {
            Files.delete(prev)
            Seq(ev(prev, "deleted", round))
          } else if (round > 1) {
            val moved = repo.resolve(s"src/moved$round.py")
            Files.move(prev, moved)
            Seq(ev(prev, "moved", round, moved))
          } else Nil)
        WatchStream.applyBatch(spark, events.toDF(), p.chunksPath,
          p.vectorsPath, p.kgPath)
        engine.incrementalIndex(p.root, p.chunksPath, p.vectorsPath)
        tables.zip(built).foreach { case (t, n) =>
          assert(parquetFiles(t) <= n, s"batch $round: $t")
        }
      }
      assert(spark.read.parquet(p.chunksPath)
        .filter($"name" === "Fresh6").count() == 1)
    } finally Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
  }
}
