package graft

import graft.search.{BooleanQuery, Phrase}
import graft.text.TextFunctions

class BooleanQuerySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark join fast table"),
    (2L, "spark join slow table"),
    (3L, "spark merge window"),
    (4L, "table scan batch key"),
    (5L, "window batch fast")).toDF("doc_id", "text")

  private def postings(d: org.apache.spark.sql.DataFrame) =
    BooleanQuery.fromPositional(
      Phrase.positionalPostings(d, "doc_id", TextFunctions.tokens))

  private lazy val p = postings(docs)

  private def ids(must: Seq[String], should: Seq[String] = Nil,
      not: Seq[String] = Nil) =
    BooleanQuery.query(p, must, should, not)
      .collect().map(_.getLong(0)).toSet

  test("must requires ALL terms") {
    assert(ids(Seq("spark", "join")) == Set(1L, 2L))
    assert(ids(Seq("spark", "join", "merge")) == Set.empty)
  }

  test("mustNot excludes") {
    assert(ids(Seq("spark", "join"), not = Seq("slow")) == Set(1L))
  }

  test("should requires at least one when present") {
    assert(ids(Seq("spark"), should = Seq("fast", "window")) == Set(1L, 3L))
  }

  test("empty must means all docs, filtered by should/mustNot") {
    assert(ids(Nil, should = Seq("batch"), not = Seq("key")) == Set(5L))
    assert(ids(Nil) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("duplicated must terms collapse instead of becoming unsatisfiable") {
    assert(ids(Seq("spark", "spark", "join")) == Set(1L, 2L))
  }

  test("term repetition within a doc does not double-count the ALL check") {
    val rep = Seq((9L, "spark spark spark")).toDF("doc_id", "text")
    val pr = postings(rep)
    assert(BooleanQuery.query(pr, Seq("spark"), Nil, Nil)
      .collect().map(_.getLong(0)).toSet == Set(9L))
    assert(BooleanQuery.query(pr, Seq("spark", "join"), Nil, Nil)
      .count() == 0)
  }

  test("completions rank by df desc then term, within prefix") {
    val cs = BooleanQuery.completions(p, prefixLen = 2, k = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    val sp2 = cs.filter(_._1 == "sp")
    assert(sp2.toSeq == Seq(("sp", "spark", 3L, 1)))
    val ta = cs.filter(_._1 == "ta")
    assert(ta.toSeq == Seq(("ta", "table", 3L, 1)))
  }
}
