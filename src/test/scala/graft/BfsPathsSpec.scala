package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.graph.Kg

/** Differential check of `Kg.bfsPaths` (seeded randomized sweep, in
  * `PropertySpec`'s style) against an in-memory BFS: the same rows in
  * the same order, on small edge tables with cycles, self-loops,
  * parallel edges under two `rel_type`s, null `dst` rows, unreachable
  * sources and a `maxPaths` small enough that the per-level cap cuts.
  * Some ids are non-ASCII (one BMP character above U+E000, one
  * supplementary character), where Spark's UTF-8 byte order of paths
  * and Java's UTF-16 `String` order disagree.
  */
class BfsPathsSpec extends SparkSpec {

  private type Edge = (String, String, String)

  private val Smile = new String(Character.toChars(0x1F600))
  private val Bmp = "\uE001"
  private val Ids = Seq("a", "b", "c", "d", "\u00e9", Bmp, Smile,
    s"x$Smile", "x")

  private def utf8Order(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Paths of one level all have the same size: element-wise order. */
  private def pathOrder(elem: (String, String) => Int): Ordering[Seq[String]] =
    (a, b) => a.lazyZip(b).map(elem).find(_ != 0).getOrElse(a.size - b.size)

  /** Level-by-level BFS over the edge list: every level's new paths in
    * `elem` order, cut to `maxPaths`, until `maxDepth` or an empty level.
    */
  private def reference(edges: Seq[Edge], src: String, maxDepth: Int,
      maxPaths: Int, elem: (String, String) => Int = utf8Order)
      : Seq[(String, Seq[String])] = {
    val levels = Iterator.iterate(Seq(Seq(src))) { frontier =>
      frontier.flatMap(p => edges.collect {
        case (s, d, _) if s == p.last && d != null && !p.contains(d) => p :+ d
      }).sorted(pathOrder(elem)).take(maxPaths)
    }
    levels.slice(1, maxDepth + 1).takeWhile(_.nonEmpty).flatten
      .map(p => (p.last, p)).toSeq
  }

  private def bfs(edges: Seq[Edge], src: String, maxDepth: Int,
      maxPaths: Int): Seq[(String, Seq[String])] = {
    import spark.implicits._
    val df = Kg.bfsPaths(edges.toDF("src", "dst", "rel_type"), src,
      maxDepth, maxPaths)
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> StringType, "path" -> ArrayType(StringType)))
    df.collect().map(r => (r.getString(0), r.getSeq[String](1))).toSeq
  }

  test("the cap keeps the UTF-8-smallest paths, in UTF-8 order") {
    assert(utf8Order(Bmp, Smile) < 0 && Bmp.compareTo(Smile) > 0)
    val edges = Seq(("s", Smile, "CALLS"), ("s", Bmp, "CALLS"),
      ("s", "b", "CALLS"))
    assert(bfs(edges, "s", 2, 2) ==
      Seq("b" -> Seq("s", "b"), Bmp -> Seq("s", Bmp)))
  }

  test("bfsPaths equals the in-memory BFS on random small graphs") {
    val rnd = new scala.util.Random(0xBF5)
    var orderSensitive = 0
    (1 to 30).foreach { round =>
      val pool = rnd.shuffle(Ids).take(4 + rnd.nextInt(Ids.size - 3))
      def v() = pool(rnd.nextInt(pool.size))
      val random = Seq.fill(rnd.nextInt(14))((v(), v(), "CALLS"))
      val parallel = random.take(2).map { case (s, d, _) => (s, d, "CONTAINS") }
      val loop = v()
      val extra = Seq((loop, loop, "CALLS"), (v(), null, "CALLS"))
        .filter(_ => rnd.nextInt(3) == 0)
      val edges = rnd.shuffle(random ++ parallel ++ extra)
      val src = if (round % 7 == 0) "unreachable" else v()
      val maxDepth = 1 + rnd.nextInt(5)
      val maxPaths = Seq(1, 2, 3, 5, 1000)(rnd.nextInt(5))
      val want = reference(edges, src, maxDepth, maxPaths)
      if (want != reference(edges, src, maxDepth, maxPaths, _ compareTo _))
        orderSensitive += 1
      assert(bfs(edges, src, maxDepth, maxPaths) == want,
        s"round $round: src=$src maxDepth=$maxDepth maxPaths=$maxPaths " +
          s"edges=$edges")
    }
    // the sweep can tell the two orders apart
    assert(orderSensitive > 0)
  }
}
