package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan of `src/main` (no Spark): per-corpus index state goes
  * through `Registry` and sessions through `GraftSession`, so no new
  * JVM-global cache or session builder grows back beside them. Two
  * caches stay outside the Registry on purpose: `IndexPack.st1SeedCache`
  * checks every hit against an on-disk manifest, and
  * `Decontaminate.benchCountMemo` is a bounded library memo.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val sources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
      .toMap
    finally walk.close()
  }

  private def filesWith(needle: String): Set[String] =
    sources.collect { case (f, text) if text.contains(needle) => f }.toSet

  test("the scan sees the main sources") {
    assert(sources.size > 100 && sources.contains("graft/Registry.scala"))
  }

  test("TrieMap appears only in Registry and the two named caches") {
    assert(filesWith("TrieMap") == Set("graft/Registry.scala",
      "graft/queries/IndexPack.scala", "graft/dedup/Decontaminate.scala"))
    for ((f, name) <- Seq("graft/queries/IndexPack.scala" -> "st1SeedCache",
        "graft/dedup/Decontaminate.scala" -> "benchCountMemo")) {
      val text = sources(f)
      assert("TrieMap".r.findAllIn(text).size == 1, f)
      assert(s"private val $name = scala.collection.concurrent\\s*\\.TrieMap".r
        .findFirstIn(text).isDefined, s"$f: the TrieMap is not $name")
    }
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(filesWith("SparkSession.builder") == Set("graft/GraftSession.scala"))
  }

  test("native functions register only through GraftFunctions.ensure") {
    assert(filesWith("createOrReplaceTempFunction") ==
      Set("graft/functions/GraftFunctions.scala"))
  }

  test("the per-kind caches and the last-fit globals are gone") {
    for (name <- Seq("IvfCache", "PqCache", "DedupCache", "AncestryCache",
        "lastCentroids", "lastCodebook"))
      assert(filesWith(name).isEmpty, name)
  }
}
