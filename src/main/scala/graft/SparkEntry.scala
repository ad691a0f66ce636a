package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsPack, AuditPack, ChunkPack, CurationPack, GitPack, GraphPack, IndexPack, MultimodalPack, RelationalPack, SearchPack, TextDedupPack}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented operator from SURVEY.md §2,
  * contributed by per-family packs under `graft.queries`. Each has a DuckDB
  * oracle in `oracleSql` (same column names, deterministic values/ordering).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalPack.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalPack.queries ++ TextDedupPack.queries ++ SearchPack.queries ++
      GraphPack.queries ++ GitPack.queries ++ AnalyticsPack.queries ++
      AuditPack.queries ++ MultimodalPack.queries ++ IndexPack.queries ++
      CurationPack.queries ++ ChunkPack.queries

  def oracleSql: Map[String, String] =
    RelationalPack.oracles ++ TextDedupPack.oracles ++ SearchPack.oracles ++
      GraphPack.oracles ++ GitPack.oracles ++ AnalyticsPack.oracles ++
      AuditPack.oracles ++ MultimodalPack.oracles ++ IndexPack.oracles ++
      CurationPack.oracles ++ ChunkPack.oracles
}
