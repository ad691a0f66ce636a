package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.Kg
import graft.KgDeltaPropertySpec.Chunk

/** Seeded randomized sweep (PropertySpec's style) of
  * `Kg.differentialUpdate` against a full `Kg.fromChunks` of the final
  * files. Random small corpora (functions, classes, methods under real
  * or missing classes, name collisions across files, calls to unknown
  * names, imports, frontmatter tags) go through create / modify /
  * delete batches, one after another on the updated graph. Each batch
  * is closed over inbound references: a file that calls or inherits a
  * name defined in a touched file (old or new version) is re-chunked
  * too, since the differential path documents that such edges are not
  * re-created. An anchor file that no batch touches imports every module
  * and carries every tag, so module and tag vertices never go stale.
  * After each batch the two graphs must be equal as row sets, with
  * unique vertex ids and edge keys, and the full build must equal the
  * relational reference build (`ParitySpec.relationalKg`).
  */
class KgDeltaPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(0x5EED)

  private val names = (0 until 10).map(i => s"n$i")
  private val callees = names ++ Seq("print", "len")
  private val modules = (0 until 4).map(i => s"m$i")
  private val tagNames = (0 until 3).map(i => s"t$i")

  private def pick(xs: Seq[String], max: Int): Seq[String] =
    Seq.fill(rnd.nextInt(max + 1))(xs(rnd.nextInt(xs.size))).distinct

  private def randomFile(path: String): Seq[Chunk] = {
    val classes = scala.collection.mutable.ArrayBuffer.empty[String]
    val entities = (0 until 1 + rnd.nextInt(4)).map { j =>
      val name = names(rnd.nextInt(names.size))
      rnd.nextInt(3) match {
        case 0 =>
          classes += s"$name$j"
          Chunk(path, "class", name, s"$name$j", "", pick(callees, 2),
            pick(modules, 1), pick(names, 1), "")
        case 1 =>
          val parent = if (classes.nonEmpty && rnd.nextInt(4) > 0)
            classes(rnd.nextInt(classes.size)) else "Missing"
          Chunk(path, "method", name, s"$parent.$name$j", parent,
            pick(callees, 2), pick(modules, 1), Nil, "")
        case _ =>
          Chunk(path, "function", name, s"$name$j", "", pick(callees, 2),
            pick(modules, 2), Nil, "")
      }
    }
    val frontmatter =
      if (rnd.nextBoolean())
        Seq(Chunk(path, "text", "<frontmatter>", "<frontmatter>", "", Nil, Nil,
          Nil, s"title: x\ntags: [${pick(tagNames, 2).mkString(", ")}]\n"))
      else Nil
    entities ++ frontmatter
  }

  private val anchor = "src/anchor.md"
  private val anchorChunks = Seq(Chunk(anchor, "text", "<frontmatter>",
    "<frontmatter>", "", Nil, modules, Nil, s"tags: [${tagNames.mkString(", ")}]\n"))

  private def defined(chunks: Seq[Chunk]): Set[String] =
    chunks.filter(c => Set("function", "class", "method")(c.chunk_type))
      .map(_.name).toSet

  private def uses(chunks: Seq[Chunk]): Set[String] =
    chunks.flatMap(c => c.calls ++ c.inherits_from).toSet

  private def rows(df: DataFrame): Set[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().toSet
  }

  private def unique(df: DataFrame, keys: String*): Boolean =
    df.count() == df.select(keys.map(col): _*).distinct().count()

  test("differentialUpdate equals fromChunks of the final files") {
    (1 to 6).foreach { round =>
      var files: Map[String, Seq[Chunk]] =
        (0 until 3 + rnd.nextInt(4)).map { i =>
          val p = s"src/f$i.py"
          p -> randomFile(p)
        }.toMap + (anchor -> anchorChunks)
      var kg = Kg.fromChunks(files.values.flatten.toSeq.toDF())
      (1 to 2).foreach { batch =>
        val editable = files.keys.filter(_ != anchor).toSeq.sorted
        val deleted = editable.filter(_ => rnd.nextInt(4) == 0).toSet
        val modified = editable.filterNot(deleted).filter(_ => rnd.nextInt(3) == 0)
        val created = (0 until rnd.nextInt(3)).map(i => s"src/new${round}_${batch}_$i.py")
        val next = files -- deleted ++ (modified ++ created).map(p => p -> randomFile(p))
        // close the touched set over inbound references
        var touched = deleted ++ modified ++ created
        var growing = true
        while (growing) {
          val names = defined(touched.toSeq.flatMap(p =>
            files.getOrElse(p, Nil) ++ next.getOrElse(p, Nil)))
          val callers = next.keySet.filterNot(touched)
            .filter(p => (uses(next(p)) & names).nonEmpty)
          growing = callers.nonEmpty
          touched ++= callers
        }
        val rechunked = touched.toSeq.flatMap(p => next.getOrElse(p, Nil))
        val gone = touched.filterNot(next.contains).toSeq
        val updated = Kg.differentialUpdate(kg, rechunked.toDF(),
          gone ++ touched.filter(next.contains))
        kg = Kg.KgTables(updated.vertices.localCheckpoint(),
          updated.edges.localCheckpoint())
        files = next
        val finalChunks = files.values.flatten.toSeq.toDF()
        val full = Kg.fromChunks(finalChunks)
        val ref = ParitySpec.relationalKg(finalChunks)
        val clue = s"round $round batch $batch touched ${touched.toSeq.sorted}"
        assert(unique(kg.vertices, "id"), clue)
        assert(unique(kg.edges, "src", "dst", "rel_type"), clue)
        assert(rows(kg.vertices) == rows(full.vertices), clue)
        assert(rows(kg.edges) == rows(full.edges), clue)
        assert(rows(full.vertices) == rows(ref.vertices), clue)
        assert(rows(full.edges) == rows(ref.edges), clue)
      }
    }
  }
}

object KgDeltaPropertySpec {
  final case class Chunk(file_path: String, chunk_type: String, name: String,
      hierarchy_path: String, parent_name: String, calls: Seq[String],
      imports: Seq[String], inherits_from: Seq[String], content: String)
}
