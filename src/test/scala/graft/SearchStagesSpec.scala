package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.search.{Mmr, QueryProcessor}

class SearchStagesSpec extends AnyFunSuite {

  test("preprocess expands abbreviations and dedups order-preserving") {
    assert(QueryProcessor.preprocess("db   config db") == "database configuration")
    assert(QueryProcessor.preprocess("auth flow") == "authentication flow")
  }

  test("adaptive threshold heuristics move in the documented directions") {
    val base = QueryProcessor.adaptiveThreshold("some ordinary words here now")
    assert(QueryProcessor.adaptiveThreshold("cache") < base)          // 1 word + technical
    assert(QueryProcessor.adaptiveThreshold("parse_file thing") < base) // snake_case
    assert(QueryProcessor.adaptiveThreshold(
      "how do i find the widget rendering entry point") > base)       // >6 words
    assert(QueryProcessor.adaptiveThreshold("x(y)") <= base)          // punctuation
  }

  test("identifier detection lowers hybrid alpha") {
    assert(QueryProcessor.isIdentifierQuery("os.path.join"))
    assert(QueryProcessor.isIdentifierQuery("HybridSearchHandler"))
    assert(!QueryProcessor.isIdentifierQuery("find the parser"))
    assert(QueryProcessor.isIdentifierQuery("parse_file"))
    assert(!QueryProcessor.isIdentifierQuery("parse file"))
    assert(QueryProcessor.hybridAlpha("os.path.join") == 0.2)
    assert(QueryProcessor.hybridAlpha("parse_file") == 0.2)
    assert(QueryProcessor.hybridAlpha("find the parser") == 0.7)
    assert(QueryProcessor.hybridAlpha("parse file") == 0.7)
  }

  test("expansion yields original first then single-substitution variants") {
    val vs = QueryProcessor.expand("delete user")
    assert(vs.head == "delete user")
    assert(vs.contains("remove user") && vs.contains("drop user"))
    assert(vs.forall(_.split(" ").length == 2))
  }

  test("MMR picks relevance first, then diversity") {
    val a = Mmr.Candidate(1, 0.99, Array(1f, 0f, 0f))
    val aDup = Mmr.Candidate(2, 0.98, Array(1f, 0f, 0f))   // near-clone of a
    val b = Mmr.Candidate(3, 0.60, Array(0f, 1f, 0f))      // different direction
    val out = Mmr.rerank(Seq(a, aDup, b), lambda = 0.5, k = 2)
    assert(out.head.id == 1)
    assert(out(1).id == 3) // diverse b beats duplicate aDup
  }

  test("MMR with lambda=1 is pure relevance order") {
    val cs = Seq(
      Mmr.Candidate(1, 0.5, Array(1f, 0f)),
      Mmr.Candidate(2, 0.9, Array(1f, 0f)),
      Mmr.Candidate(3, 0.7, Array(0f, 1f)))
    val out = Mmr.rerank(cs, lambda = 1.0, k = 3)
    assert(out.map(_.id) == Seq(2L, 3L, 1L))
  }
}
