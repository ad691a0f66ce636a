package graft

/** The flagship search gates must PROBE the persisted corpus-vector
  * registry, never re-featurize the corpus in-plan (the round-7 verdict's
  * one weak-perf family): at 100 TB the embedding table is index state
  * built once at ingest, and a query pays only scan + cosine + fuse.
  *
  * Machine checks, per gate:
  *  - e2e2 / sbc1 / cv1: ZERO featurizer stages anywhere in the plan —
  *    no native embed expression, no portable-hash md5 chain and no
  *    n-gram explode (query vectors are embedLocal plan-time literals,
  *    corpus vectors a bucketed scan);
  *  - ss1: the corpus side scans the registry; only the seed CONTENT
  *    (the genuine query side) may re-embed in-plan.
  */
class VectorRegistrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The featurizer's name in a plan. */
  private val embedExpr = "graft_hash_embed"

  private def planString(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    qe.optimizedPlan.toString + "\n" + qe.executedPlan.toString
  }

  test("lifecycle/code-vector probes contain zero featurizer stages") {
    Seq("e2e2_search_pipeline", "sbc1_search_by_context",
        "swc1_search_with_context", "cv1_code_vectors").foreach { name =>
      val p = planString(name)
      assert(!p.contains(embedExpr) && !p.contains("md5"),
        s"$name: featurizer found in the probe plan")
      assert(!p.toLowerCase.contains("explode"),
        s"$name: n-gram explode found in the probe plan")
    }
  }

  test("probe plans scan the persisted vector registry") {
    Seq("e2e2_search_pipeline", "sbc1_search_by_context",
        "ss1_search_similar").foreach { name =>
      assert(planString(name).contains("vecs_"),
        s"$name: expected a scan of the persisted corpus-vector table")
    }
    assert(planString("cv1_code_vectors").contains("codevecs_"),
      "cv1: expected a scan of the persisted code-vector table")
  }

  test("ss1 re-embeds only the seed side (bounded), not the corpus") {
    // the seed leg legitimately featurizes (content-as-query); the
    // corpus leg must be the registry scan — so the plan has BOTH a
    // registry scan (asserted above) and a featurizer chain whose
    // source is the %101 seed filter, never an unfiltered corpus scan
    val p = planString("ss1_search_similar")
    assert(p.contains(embedExpr), "ss1: seed-side query embed should stay in-plan")
    assert(p.contains("% 101"), "ss1: featurizer source must be the seed filter")
  }
}
