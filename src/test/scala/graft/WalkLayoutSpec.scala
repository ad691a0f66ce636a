package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import graft.graph.WalkLayout

/** The r12 walk-layout discipline (OPTIMIZATION_r12.md §2.5/§2.6):
  * a checkpoint materialized through [[WalkLayout.partitionedCheckpoint]]
  * must carry its HashPartitioning into the LogicalRDD even with AQE
  * enabled in the session — the property a bare
  * `repartition(...).localCheckpoint(...)` silently LOSES (the executed
  * plan is the AdaptiveSparkPlanExec wrapper, whose LeafExecNode default
  * is UnknownPartitioning), which re-introduced a full static-relation
  * Exchange into every hop of the r11 big walks.
  */
class WalkLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def logicalRdd(df: org.apache.spark.sql.DataFrame): LogicalRDD =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRDD => l }.head

  test("partitionedCheckpoint preserves HashPartitioning under AQE") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = (1L to 100L).map(i => (i % 7, i)).toDF("k", "v")
    val laid = WalkLayout.partitionedCheckpoint(df, "k")
    logicalRdd(laid).outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.map(_.toString).exists(_.contains("k")))
        assert(h.numPartitions ==
          spark.sessionState.conf.numShufflePartitions)
      case other => fail(s"expected HashPartitioning, got $other")
    }
    // AQE setting restored after the materialization
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("the bare repartition+localCheckpoint loses partitioning under AQE (the bug the helper works around)") {
    val df = (1L to 100L).map(i => (i % 7, i)).toDF("k", "v")
    val bare = df.repartition(8, col("k")).localCheckpoint(eager = true)
    assert(!logicalRdd(bare).outputPartitioning.isInstanceOf[HashPartitioning])
  }

  test("materializedCountSum equals the SQL (count, sum) aggregate, including on empty frames") {
    val df = (1L to 100L).map(i => (i % 7, i * 3)).toDF("node", "cost")
      .localCheckpoint(eager = false)
    val sql = df.agg(count(lit(1)), coalesce(sum(col("cost")), lit(0L))).head()
    assert(WalkLayout.materializedCountSum(df, "cost") ==
      ((sql.getLong(0), sql.getLong(1))))
    val empty = df.filter(col("cost") < 0).localCheckpoint(eager = false)
    assert(WalkLayout.materializedCountSum(empty, "cost") == ((0L, 0L)))
  }

  test("materializeCounted returns the exact count and a reusable materialized frame") {
    val df = (1L to 57L).toDF("v")
    val (m, n) = WalkLayout.materializeCounted(df)
    assert(n == 57L)
    assert(m.count() == 57L)
    assert(m.agg(sum("v")).head().getLong(0) == 57L * 58 / 2)
  }
}
