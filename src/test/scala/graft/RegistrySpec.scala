package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.util.Try

import graft.ann.Ivf

/** `Registry`: build once per (kind, key), persisted dirs under
  * `target/<kind>/`, and the rule the IVF oracles follow — they
  * interpolate the one fit of this JVM, so their output depends on which
  * corpora were fit, never on the order the gates ran in. Inputs are
  * temp dirs holding a 48-row `embeddings.parquet` each.
  */
class RegistrySpec extends SparkSpec {
  import spark.implicits._

  test("build runs once per (kind, key); kinds do not share keys") {
    var builds = 0
    def get(kind: String, key: String) =
      Registry.memo(kind, key) { builds += 1; s"$kind:$key:$builds" }
    assert(get("registry_spec_a", "k") == "registry_spec_a:k:1")
    assert(get("registry_spec_a", "k") == "registry_spec_a:k:1")
    assert(get("registry_spec_b", "k") == "registry_spec_b:k:2")
    assert(get("registry_spec_a", "k2") == "registry_spec_a:k2:3")
    assert(builds == 3)
    assert(Registry.values[String]("registry_spec_a") ==
      Seq("k" -> "registry_spec_a:k:1", "k2" -> "registry_spec_a:k2:3"))
  }

  test("persisted hands one absolute dir under target/<kind>/") {
    val dirs = (1 to 2).map(_ =>
      Registry.persisted("registry_spec_dir", "corpus") { dir => dir })
    val dir = dirs.head
    assert(dirs.distinct == Seq(dir))
    assert(new java.io.File(dir).isAbsolute)
    assert(dir.startsWith(
      new java.io.File("target/registry_spec_dir").getAbsolutePath + "/"))
    assert(Registry.tableName(dir).startsWith("registry_spec_dir_"))
  }

  private val ivfKeys = Seq("a3_knn_ivf", "a7_ivf_incremental",
    "cl1_cluster_profile", "sd1_semantic_dedup")

  /** A corpus dir whose 48 random 16-d embeddings depend on `seed`. */
  private def corpus(root: Path, name: String, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val dir = root.resolve(name).toString
    (0L until 48L).map(i => (i, Seq.fill(16)(rnd.nextFloat())))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def fit(dir: String): Unit =
    SparkEntry.queries("a3_knn_ivf")(spark, dir)

  /** The centroid literals the oracles should hold for `dir`'s fit. */
  private def literals(dir: String): Seq[String] =
    Registry.persisted[Ivf.IvfIndex]("ivf", dir)(_ => fail(s"$dir not fit"))
      .centroids.orderBy("cluster_id").collect().map { r =>
        s"(${r.getAs[Int]("cluster_id")}, [${
          r.getSeq[Float](r.fieldIndex("centroid")).mkString(", ")}]::FLOAT[])"
      }.toSeq

  test("IVF oracles follow which corpora were fit, not the fit order") {
    val root = Files.createTempDirectory("registry-spec")
    try {
      val a = corpus(root, "a", 1L)
      val b = corpus(root, "b", 2L)
      def outcome() = Try(SparkEntry.oracleSql).toEither.left.map(_.getMessage)

      Registry.forget("ivf")
      fit(a); fit(b)
      val ab = outcome()
      fit(b); fit(a)
      val ba = outcome()
      assert(ab == ba)
      assert(ab.left.exists(m => m.contains(a) && m.contains(b)), ab)

      val lits = Seq(a, b).map(d => d -> literals(d)).toMap
      assert(lits(a) != lits(b))
      for ((dir, other) <- Seq((a, b), (b, a))) {
        Registry.forget("ivf")
        fit(dir)
        val oracles = SparkEntry.oracleSql
        val (mine, theirs) = (lits(dir), lits(other))
        for (k <- ivfKeys) {
          assert(mine.forall(oracles(k).contains), s"$k lacks $dir's centroids")
          assert(!oracles(k).contains(theirs.head), s"$k holds $other's centroids")
        }
      }
    } finally {
      Registry.forget("ivf")
      Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
