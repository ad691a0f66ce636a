package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.graph.{Closeness, Kg, ShortestPath}

/** Differential checks of [[graft.graph.WalkLayout.walk]] through the
  * five operators that call it, on small random directed multigraphs
  * (cycles, self-loops, parallel edges, one seed or several, Long and
  * String ids) against in-memory references: breadth-first search for
  * `minDist` (both directions), `closure` and `ancestorClosure`, BFS
  * distances for `Closeness`, Dijkstra for `ShortestPath`, and for the
  * last two the round budget at which they must throw. Every property
  * runs twice: under the default layout, and with
  * `spark.graft.walk.shjMinEdges=0`, which gives every walk of 3 rounds
  * or more the big hash-partitioned edge layout no gate reaches.
  */
class WalkDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val Cases = 6

  /** Nodes `0 until n`; edges (src, dst, weight 0..4); `hops` doubles as
    * a hop cap and a round budget.
    */
  case class Graph(n: Int, edges: Seq[(Int, Int, Int)], seeds: Seq[Int],
      hops: Int, stringIds: Boolean) {
    def id(i: Int): Any = if (stringIds) s"n$i" else i.toLong
    def adj(reverse: Boolean = false): Map[Int, Seq[Int]] =
      edges.groupMap(e => if (reverse) e._2 else e._1)(e =>
        if (reverse) e._1 else e._2)
    def idFrame(xs: Seq[Int]): DataFrame =
      if (stringIds) xs.map(i => s"n$i").toDF("id") else xs.map(_.toLong).toDF("id")
    def edgeFrame: DataFrame =
      if (stringIds) edges.map(e => (s"n${e._1}", s"n${e._2}", e._3.toLong))
        .toDF("src", "dst", "w")
      else longEdges
    def longEdges: DataFrame =
      edges.map(e => (e._1.toLong, e._2.toLong, e._3.toLong)).toDF("src", "dst", "w")
  }

  private val graphs: Gen[Graph] = for {
    n <- Gen.choose(1, 7)
    node = Gen.choose(0, n - 1)
    m <- Gen.choose(0, 10)
    random <- Gen.listOfN(m, Gen.zip(node, node, Gen.choose(0, 4)))
    ring <- Gen.oneOf(false, true)
    selfLoop <- Gen.oneOf(false, true)
    seeds <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, node))
    hops <- Gen.choose(1, 5)
    stringIds <- Gen.oneOf(false, true)
  } yield {
    // a cycle through every node, a self-loop, and a parallel copy of
    // the first edge with another weight
    val extra = (if (ring) (0 until n).map(i => (i, (i + 1) % n, 1)) else Nil) ++
      (if (selfLoop) Seq((n - 1, n - 1, 2)) else Nil) ++
      random.headOption.map(e => (e._1, e._2, e._3 + 3))
    Graph(n, random ++ extra, seeds, hops, stringIds)
  }

  /** Least hop counts from `from` within `maxHops` edges. */
  private def bfs(adj: Map[Int, Seq[Int]], from: Seq[Int],
      maxHops: Int): Map[Int, Int] = {
    var dist = from.map(_ -> 0).toMap
    var level = from.distinct
    var h = 0
    while (level.nonEmpty && h < maxHops) {
      h += 1
      level = level.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      dist ++= level.map(_ -> h)
    }
    dist
  }

  /** Dijkstra over (cost, hops) pairs: each reached node's least cost,
    * and the fewest edges of a least-cost path to it.
    */
  private def dijkstra(g: Graph, source: Int): Map[Int, (Long, Int)] = {
    val out = g.edges.groupMap(_._1)(e => (e._2, e._3))
    var done = Map.empty[Int, (Long, Int)]
    var open = Map(source -> ((0L, 0)))
    while (open.nonEmpty) {
      val (v, d) = open.minBy { case (v, (c, h)) => (c, h, v) }
      open -= v
      done += v -> d
      out.getOrElse(v, Nil).foreach { case (t, w) =>
        val c = (d._1 + w, d._2 + 1)
        if (!done.contains(t) && open.get(t).forall(o => Ordering[(Long, Int)].lt(c, o)))
          open += t -> c
      }
    }
    done
  }

  private def pairs(df: DataFrame): Set[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSet

  /** `Cases` graphs from a fixed seed; each must satisfy `p`. */
  private def forGraphs(p: Graph => Unit): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(Cases).withWorkers(1)
        .withInitialSeed(Seed(20261021L)),
      Prop.forAll(graphs) { g => p(g); true })
    assert(res.passed, res.status.toString)
  }

  for ((layout, minEdges) <- Seq("default layout" -> None,
      "big layout" -> Some("0"))) {
    def check(p: Graph => Unit): Unit = {
      minEdges.foreach(spark.conf.set("spark.graft.walk.shjMinEdges", _))
      try forGraphs(p)
      finally spark.conf.unset("spark.graft.walk.shjMinEdges")
    }

    test(s"minDist matches BFS forward and reversed ($layout)") {
      check { g =>
        Seq(false, true).foreach { reverse =>
          val got = pairs(Kg.minDist(g.edgeFrame, g.idFrame(g.seeds), g.hops, reverse))
          val want = bfs(g.adj(reverse), g.seeds, g.hops).map { case (v, d) =>
            (g.id(v), d: Any) }.toSet
          assert(got == want, s"$g reverse=$reverse")
        }
      }
    }

    test(s"closure matches per-source BFS over one relation type ($layout)") {
      check { g =>
        // weight-4 edges carry another relation type and are not walked
        val typed = g.edgeFrame.selectExpr("src", "dst",
          "IF(w = 4, 'CALLS', 'INHERITS') AS rel_type")
        val adj = g.copy(edges = g.edges.filter(_._3 != 4)).adj()
        val want = adj.toSeq.flatMap { case (a, next) =>
          bfs(adj, next, g.hops - 1).keys.map(b => (g.id(a), g.id(b)))
        }.toSet
        assert(pairs(Kg.closure(typed, "INHERITS", g.hops)) == want, g.toString)
      }
    }

    test(s"ancestorClosure matches BFS over commit → parent edges ($layout)") {
      check { g =>
        val parents = g.edges.map(e => (s"n${e._1}", s"n${e._2}"))
          .toDF("commit_hash", "parent_hash")
        val ref = g.seeds.head
        val got = Kg.ancestorClosure(parents, s"n$ref", g.hops)
          .as[String].collect()
        assert(got.length == got.distinct.length)
        assert(got.toSet == bfs(g.adj(), Seq(ref), g.hops).keys.map(v => s"n$v").toSet,
          g.toString)
      }
    }

    // `hops` is the round budget: a walk needs one round per edge of its
    // deepest least path plus one that improves nothing
    test(s"Closeness matches BFS distances or throws past its budget ($layout)") {
      var outcomes = Set.empty[Boolean]
      check { g =>
        val dist = g.seeds.distinct.map(s => s -> bfs(g.adj(), Seq(s), Int.MaxValue))
        val rounds = dist.flatMap(_._2.values).max + 1
        val got = Try(Closeness.harmonicFromSeeds(g.longEdges.drop("w"),
            g.seeds.map(_.toLong), g.hops)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
        outcomes += rounds <= g.hops
        got match {
          case Success(out) =>
            assert(rounds <= g.hops, s"$g converged past its budget")
            val want = dist.flatMap(_._2.filter(_._2 > 0)).groupMapReduce(_._1.toLong)(
              p => (1L, 1000000L / p._2))((a, b) => (a._1 + b._1, a._2 + b._2))
            assert(out == want, g.toString)
          case Failure(e: IllegalStateException) =>
            assert(rounds > g.hops, s"$g threw within its budget: $e")
          case Failure(e) => throw e
        }
      }
      assert(outcomes == Set(true, false), "both outcomes exercised")
    }

    test(s"ShortestPath matches Dijkstra or throws past its budget ($layout)") {
      var outcomes = Set.empty[Boolean]
      check { g =>
        val source = g.seeds.head
        val want = dijkstra(g, source)
        val rounds = want.values.map(_._2).max + 1
        outcomes += rounds <= g.hops
        Try(ShortestPath.fromSource(g.longEdges, source.toLong, g.hops).collect()
            .map { case Row(v: Long, c: Long) => v -> c }.toMap) match {
          case Success(out) =>
            assert(rounds <= g.hops, s"$g converged past its budget")
            assert(out == want.map { case (v, (c, _)) => v.toLong -> c }, g.toString)
          case Failure(e: IllegalStateException) =>
            assert(rounds > g.hops, s"$g threw within its budget: $e")
          case Failure(e) => throw e
        }
      }
      assert(outcomes == Set(true, false), "both outcomes exercised")
    }
  }
}
