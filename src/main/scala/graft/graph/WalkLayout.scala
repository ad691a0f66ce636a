package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Shared layout discipline for iterative walks/relaxations that join
  * a STATIC relation every round (`Kg.minDist`, `ShortestPath`,
  * `Closeness`): materialize it once, and past a size threshold give
  * it a hash-partitioned (optionally sorted) checkpointed layout so
  * every round's equi-join reads it exchange-free.
  *
  * Two r12 findings this encodes (see OPTIMIZATION_r12.md §2.5/§2.6):
  *
  *  - With AQE enabled, `Dataset.localCheckpoint` copies
  *    `outputPartitioning` from the executed plan — the
  *    `AdaptiveSparkPlanExec` wrapper, a LeafExecNode whose default is
  *    `UnknownPartitioning(0)` — so a repartition BEFORE a checkpoint
  *    is silently discarded and every round re-exchanges the full
  *    static relation (measured: 237.3 MB → 49.3 MB shuffle write per
  *    x100 walk once fixed; the probe's committed output is
  *    `plans/r12/walk_partitioning_probe_output.txt`).
  *    [[partitionedCheckpoint]] materializes with AQE off so the
  *    `ShuffleExchangeExec`'s HashPartitioning (and SortExec ordering)
  *    survive into the LogicalRDD; AQE stays on for the round queries.
  *
  *  - The pinned-width layout LOSES below corpus scale (it defeats
  *    AQE's small-data coalescing; the r11 a13 gate ran ~2× slower
  *    than planner-chosen plans), so callers gate it on the relation's
  *    exact row count — which [[materializeCounted]] yields for free:
  *    a lazy checkpoint mark + `count()` materializes every partition
  *    under the mark in ONE job, the same job an eager checkpoint's
  *    internal count would have been.
  */
object WalkLayout {

  /** Size gate (rows) for the big-relation layout:
    * `spark.graft.walk.shjMinEdges` (default 500k — at 32-way
    * parallelism that is ~16k rows/task, comfortably past the
    * near-empty-task floor that makes pinned widths lose at gate
    * scale; every sf0.1 gate stays below it, the x100 stress walks
    * are above it).
    */
  def minRows(df: DataFrame): Long = df.sparkSession.conf
    .getOption("spark.graft.walk.shjMinEdges").map(_.toLong)
    .getOrElse(500000L)

  /** Count that materializes a localCheckpoint-MARKED frame in ONE
    * scheduled job (r12, measured with graft.JobCount): the SQL
    * `count()` plans a two-stage aggregate that AQE schedules as TWO
    * jobs (partial agg + shuffle write, then the final stage), while a
    * direct RDD count over the frame's internal rows computes — and
    * persists, under the mark — every partition in a single job. The
    * value is the exact row count either way. This is the per-round
    * probe for every frontier/fixpoint loop whose convergence test is
    * a plain (non)emptiness/row count; fingerprint probes that need a
    * real aggregate (sum+count) keep the SQL path.
    */
  def materializedCount(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Monotone-fingerprint probe in the same single-job style as
    * [[materializedCount]]: (row count, Σ `longCol`) over the frame's
    * internal rows — the relaxation-loop convergence test
    * (ShortestPath/Closeness) that the SQL two-stage aggregate would
    * schedule as two AQE jobs per round. `longCol` must be a
    * non-nullable LongType in practice (both fingerprint columns are
    * min/+1 folds over non-null longs); equality with the SQL
    * aggregate is pinned in WalkLayoutSpec.
    */
  def materializedCountSum(df: DataFrame, longCol: String): (Long, Long) = {
    val idx = df.schema.fieldIndex(longCol)
    df.queryExecution.toRdd.aggregate((0L, 0L))(
      (a, row) => (a._1 + 1L, a._2 + row.getLong(idx)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** (count, Σ (a·mult + b)) keyed checksum in the same single-job
    * style — the Dedup loops' set-identity probe when both id columns
    * are LongType (callers type-check and keep the SQL aggregate as
    * the fallback for non-long ids).
    */
  def materializedCountChecksum(df: DataFrame, aCol: String, bCol: String,
      mult: Long): (Long, Long) = {
    val ia = df.schema.fieldIndex(aCol)
    val ib = df.schema.fieldIndex(bCol)
    df.queryExecution.toRdd.aggregate((0L, 0L))(
      (acc, row) =>
        (acc._1 + 1L, acc._2 + row.getLong(ia) * mult + row.getLong(ib)),
      (x, y) => (x._1 + y._1, x._2 + y._2))
  }

  /** Materialize a static relation once (localCheckpoint mark +
    * [[materializedCount]], one job) and return it with its exact row
    * count.
    */
  def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val m = df.localCheckpoint(eager = false)
    (m, materializedCount(m))
  }

  /** Checkpoint `df` hash-partitioned on `key` (sorted within
    * partitions when `sorted` — gives sort-merge joins an exchange-
    * AND sort-free static side), with AQE disabled for just this
    * materialization so the layout survives into the LogicalRDD. The
    * partition count is pinned to the session's shuffle partitions: an
    * AQE-coalesced width would stop matching the round joins' required
    * distribution and silently re-introduce the per-round exchange.
    */
  def partitionedCheckpoint(df: DataFrame, key: String,
      sorted: Boolean = false): DataFrame = {
    val sess = df.sparkSession
    val n = sess.sessionState.conf.numShufflePartitions
    val laid = {
      val r = df.repartition(n, col(key))
      if (sorted) r.sortWithinPartitions(key) else r
    }
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    try laid.localCheckpoint(eager = true)
    finally sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
