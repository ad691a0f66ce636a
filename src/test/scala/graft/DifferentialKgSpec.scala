package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.chunk.Chunker
import graft.core.FileRecord
import graft.graph.Kg

/** Differential (incremental) KG rebuild — mirrors the reference's
  * `tests/unit/core/test_differential_kg.py` (issue #108): the
  * add/modify/delete update, entity deletion by file set
  * (`delete_entities_for_files`) included, and the streaming
  * `applyBatch` wiring. Change detection is `IndexStore.changedFiles`,
  * specified with the index.
  */
class DifferentialKgSpec extends SparkSpec {
  import spark.implicits._

  private def rec(path: String, content: String) =
    FileRecord(path, "python", Chunker.sha256Hex(content),
      new Timestamp(0L), content.length.toLong, content)

  private def chunksOf(files: (String, String)*) =
    files.flatMap { case (p, c) => Chunker.chunkFile(rec(p, c)) }.toDF()

  private val srcA =
    """def func_a():
      |    return helper()
      |
      |def helper():
      |    return 1
      |""".stripMargin
  private val srcB =
    """def func_b():
      |    return func_a()
      |""".stripMargin

  // ---- differentialUpdate -------------------------------------------------

  test("modify: changed file re-chunks and its calls resolve to survivors") {
    val kg = Kg.fromChunks(chunksOf("src/a.py" -> srcA, "src/b.py" -> srcB))
    val srcA2 =
      """def func_a():
        |    return func_b()
        |""".stripMargin
    val updated = Kg.differentialUpdate(kg,
      chunksOf("src/a.py" -> srcA2), Nil)

    // helper disappeared with the old version of a.py
    assert(updated.vertices.filter(col("id") === "src/a.py::helper").count() == 0)
    assert(updated.vertices.filter(col("id") === "src/a.py::func_a").count() == 1)
    // the re-chunked file's call resolves against the SURVIVING entity set
    assert(updated.edges.filter(col("rel_type") === "CALLS" &&
      col("src") === "src/a.py::func_a" &&
      col("dst") === "src/b.py::func_b").count() == 1)
    // reference-faithful drift: the unchanged file's edge into the changed
    // file was detach-deleted and is NOT re-created (only changed files
    // are re-processed); a periodic full rebuild reconciles
    assert(updated.edges.filter(col("src") === "src/b.py::func_b" &&
      col("rel_type") === "CALLS").count() == 0)
  }

  test("add + delete: new file's edges appear, deleted file's subgraph goes") {
    val kg = Kg.fromChunks(chunksOf("src/a.py" -> srcA, "src/b.py" -> srcB))
    val srcC =
      """def func_c():
        |    return func_a()
        |""".stripMargin
    val updated = Kg.differentialUpdate(kg,
      chunksOf("src/c.py" -> srcC), Seq("src/b.py"))

    assert(updated.vertices.filter(col("file_path") === "src/b.py").count() == 0)
    assert(updated.edges.filter(col("src").startsWith("src/b.py")).count() == 0)
    assert(updated.edges.filter(col("rel_type") === "CALLS" &&
      col("src") === "src/c.py::func_c" &&
      col("dst") === "src/a.py::func_a").count() == 1)
  }

  test("empty and non-matching deleted sets with no new rows are no-ops") {
    val kg = Kg.fromChunks(chunksOf("src/a.py" -> srcA, "src/b.py" -> srcB))
    def rows(t: Kg.KgTables) = (t.vertices.collect().toSet, t.edges.collect().toSet)
    val before = rows(kg)
    val none = chunksOf()
    assert(rows(Kg.differentialUpdate(kg, none, Nil)) == before)
    assert(rows(Kg.differentialUpdate(kg, none, Seq("nonexistent/file.py"))) == before)
  }

  test("null keys merge as <=> compares them") {
    import graft.KgDeltaPropertySpec.Chunk
    // a null import makes a null-id module and a null IMPORTS target; a
    // chunk with no path makes a null-id file and null edge sources
    val loose = Seq(
      Chunk("src/a.py", "function", "f", "f", "", Nil, Seq("m", null), Nil, ""),
      Chunk(null, "code", "x", "x", "", Nil, Seq("m"), Nil, "")).toDF()
    val kg = Kg.fromChunks(loose)
    def keys(t: Kg.KgTables) = (
      t.vertices.select("id").collect().map(_.toString).sorted.toSeq,
      t.edges.select("src", "dst", "rel_type").collect().map(_.toString).sorted.toSeq)
    assert(keys(kg)._1.contains("[null]") && keys(kg)._2.contains("[null,m,IMPORTS]"))
    assert(keys(Kg.differentialUpdate(kg, loose, Nil)) == keys(kg))
  }

  test("drift-free delta matches a full rebuild") {
    val kg = Kg.fromChunks(chunksOf("src/a.py" -> srcA, "src/b.py" -> srcB))
    // c.py only calls into the surviving corpus; nothing calls into c.py
    val srcC =
      """import os
        |
        |def func_c():
        |    return helper()
        |""".stripMargin
    val diff = Kg.differentialUpdate(kg,
      chunksOf("src/c.py" -> srcC), Nil)
    val full = Kg.fromChunks(
      chunksOf("src/a.py" -> srcA, "src/b.py" -> srcB, "src/c.py" -> srcC))
    assert(diff.vertices.select("id").as[String].collect().toSet ==
      full.vertices.select("id").as[String].collect().toSet)
    assert(diff.edges.select("src", "dst", "rel_type").as[(String, String, String)]
      .collect().toSet ==
      full.edges.select("src", "dst", "rel_type").as[(String, String, String)]
        .collect().toSet)
  }

  // ---- streaming wiring ---------------------------------------------------

  test("applyBatch refreshes the KG tables differentially") {
    val dir = java.nio.file.Files.createTempDirectory("diffkg").toFile
    val root = new java.io.File(dir, "src"); root.mkdirs()
    def write(name: String, content: String): String = {
      val f = new java.io.File(root, name)
      java.nio.file.Files.writeString(f.toPath, content)
      f.getAbsolutePath
    }
    val pathA = write("a.py", srcA)
    val pathB = write("b.py", srcB)

    val chunksPath = new java.io.File(dir, "chunks").getAbsolutePath
    val vectorsPath = new java.io.File(dir, "vectors").getAbsolutePath
    val kgPath = new java.io.File(dir, "kg").getAbsolutePath

    // seed the stores with an initial full build
    val seed = chunksOf(pathA -> srcA, pathB -> srcB)
    seed.write.mode("overwrite").parquet(chunksPath)
    graft.embed.HashEmbedder.embed(
      seed.withColumn("ctx", col("content")), "chunk_id", "ctx")
      .withColumnRenamed("id", "chunk_id")
      .join(seed.select("chunk_id", "file_path", "content", "language",
        "start_line", "end_line", "chunk_type", "name", "hierarchy_path"),
        Seq("chunk_id"))
      .write.mode("overwrite").parquet(vectorsPath)
    val kg0 = Kg.fromChunks(seed)
    kg0.vertices.write.mode("overwrite").parquet(s"$kgPath/vertices")
    kg0.edges.write.mode("overwrite").parquet(s"$kgPath/edges")

    // modify a.py on disk, delete b.py, then apply the two events
    val srcA2 =
      """def func_a():
        |    return 42
        |""".stripMargin
    java.nio.file.Files.writeString(new java.io.File(root, "a.py").toPath, srcA2)
    new java.io.File(root, "b.py").delete()
    val now = new Timestamp(System.currentTimeMillis())
    val batch = Seq(
      graft.streaming.WatchStream.FileEvent(pathA, "modified", now),
      graft.streaming.WatchStream.FileEvent(pathB, "deleted", now)).toDF()
    graft.streaming.WatchStream.applyBatch(
      spark, batch, chunksPath, vectorsPath, Some(kgPath))

    val v = spark.read.parquet(s"$kgPath/vertices")
    val e = spark.read.parquet(s"$kgPath/edges")
    assert(v.filter(col("file_path") === pathB).count() == 0)
    assert(v.filter(col("id") === s"$pathA::helper").count() == 0)
    assert(v.filter(col("id") === s"$pathA::func_a").count() == 1)
    assert(e.filter(col("rel_type") === "CALLS").count() == 0)
  }
}
