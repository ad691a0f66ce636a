package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit, max, min, when}

/** The one iterative walk of the engine, [[walk]], and the layout
  * discipline for loops that join a STATIC relation every round:
  * materialize it once, and past a size threshold give it a
  * hash-partitioned checkpointed layout so every round's equi-join
  * reads it exchange-free. `Kg.minDist`, `Kg.closure`,
  * `Kg.ancestorClosure`, `ShortestPath` and `Closeness` are calls of
  * [[walk]]; `LogisticTrain.hashedFeatures` takes the layout, and the
  * KCore, Dedup and `Analytics.cyclicFiles` loops take the single-job
  * probes.
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
  *    `ShuffleExchangeExec`'s HashPartitioning survives into the
  *    LogicalRDD; AQE stays on for the round queries.
  *
  *  - The pinned-width layout LOSES below corpus scale (it defeats
  *    AQE's small-data coalescing and schedules ~3 exchanges × width
  *    near-empty tasks per round; the r11 a13 gate ran ~2× slower than
  *    planner-chosen plans), so callers gate it on the relation's
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
    * internal rows — the convergence test of [[walk]] and of the
    * fixpoint loops that the SQL two-stage aggregate would schedule as
    * two AQE jobs per round. `longCol` must be a non-nullable LongType
    * in practice; equality with the SQL aggregate is pinned in
    * WalkLayoutSpec.
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

  /** Checkpoint `df` hash-partitioned on `key`, with AQE disabled for
    * just this materialization so the layout survives into the
    * LogicalRDD. The partition count is pinned to the session's
    * shuffle partitions: an AQE-coalesced width would stop matching the
    * round joins' required distribution and silently re-introduce the
    * per-round exchange.
    */
  def partitionedCheckpoint(df: DataFrame, key: String): DataFrame = {
    val sess = df.sparkSession
    val n = sess.sessionState.conf.numShufflePartitions
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    try df.repartition(n, col(key)).localCheckpoint(eager = true)
    finally sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** Least-distance walk: the variable-length path `-[*1..N]-` the
    * reference asks KuzuDB for (`knowledge_graph.py:3018-3028`,
    * `:3601-3605`), as rounds of relaxation over a static edge relation.
    *
    * `start` holds `(keys…, id, dist)` rows; `edges` holds `src`, `dst`
    * and, when `weight` names it, a non-negative weight column (unit
    * weights otherwise), followed src→dst, or dst→src when `reverse`.
    * Each row carries the round that last improved it (0 for start
    * rows). A round joins only the frontier — the rows the previous
    * round improved — with the edges, then one `groupBy(keys, id)` over
    * the accumulated rows and the candidates keeps the least dist per
    * key, stamped with this round only when a candidate beat the
    * accumulated row (a tie keeps the older round), so the next
    * frontier is exactly the rows stamped with this round. After round
    * i every row holds the least dist over paths of at most i edges.
    *
    * Returns the reached `(keys…, id, dist)` rows, one per (keys, id)
    * once a round has run, and whether the walk converged, i.e. its
    * last round improved nothing. A walk of fewer than 3 rounds answers
    * that with a job, so only when asked.
    */
  def walk(edges: DataFrame, start: DataFrame, keys: Seq[String],
      maxRounds: Int, reverse: Boolean = false,
      weight: Option[String] = None): (DataFrame, () => Boolean) = {
    val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
    val keyed = (keys :+ "id").map(col)
    val e0 = edges.select(Seq(col(from).as("walk_from"), col(to).as("walk_to")) ++
      weight.map(col(_).as("walk_w")): _*)
    val step = if (weight.isEmpty) lit(1) else col("walk_w")
    // Deep walks pay per-round job overhead, so: materialize the static
    // edge relation once (every round joins it; unmaterialized it would
    // be re-derived per round), checkpoint every round's rows (plan
    // truncation — persist() instead was measured to send Catalyst into
    // quadratic re-optimization of the growing lineage), and stop as
    // soon as a round improves nothing. Shallow walks (g3-style 1-2
    // hops) stay fully lazy — one Catalyst plan, no extra jobs.
    val deep = maxRounds >= 3
    // the edge materialization is a lazy mark + count in ONE job, and
    // the count is the size-gate input: BIG deep walks get the
    // hash-partitioned layout, so every round's equi-join reads the
    // edge side exchange-free and only the (smaller) frontier moves
    val (ecp, nEdges) = if (deep) materializeCounted(e0) else (e0, 0L)
    val big = deep && nEdges >= minRows(edges)
    val e = if (big) partitionedCheckpoint(ecp, "walk_from") else ecp
    // a start derived by a multi-join plan (a13 roots the walk at the
    // EntryPoints detector output) is read twice by the first round:
    // checkpoint it once, unless it is a literal relation already
    val s0 = start.select(keyed :+ col("dist") :+ lit(0L).as("round"): _*)
    var acc =
      if (deep && !s0.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        materializeCounted(s0)._1
      else s0
    var frontier = acc
    var improved = true
    var lastSum = 0L
    var round = 0L
    while (improved && round < maxRounds) {
      round += 1
      // BIG walks hint shuffle_hash on the frontier: it grows toward
      // corpus scale, and checkpointed RDDs carry no size stats, so the
      // planner would fall back to sort-merge and re-sort every round;
      // small walks stay hint-free — their seed-scale frontiers get
      // planner-chosen broadcast joins and AQE-coalesced exchanges,
      // which the hint would override with pinned-width shuffles (g3's
      // plan and the r12 a13 gate measurement are the witnesses)
      val side = if (big) frontier.hint("shuffle_hash") else frontier
      val cand = side.join(e, col("id") === col("walk_from"))
        .select(keys.map(col) :+ col("walk_to").as("id") :+
          (col("dist") + step).as("dist") :+ lit(round).as("round"): _*)
      // three primitive-typed aggregates rather than one min over a
      // (dist, round) struct: a struct buffer is not mutable in place,
      // so it plans a SortAggregate that sorts acc every round
      val old = col("round") < round
      val next = acc.unionByName(cand).groupBy(keyed: _*)
        .agg(min("dist").as("dist"), min(when(old, col("dist"))).as("acc_dist"),
          max(when(old, col("round"))).as("acc_round"))
        .select(keyed :+ col("dist") :+ when(col("acc_dist") === col("dist"),
          col("acc_round")).otherwise(lit(round)).as("round"): _*)
      if (deep) {
        // loop-body plan evidence: no-op unless the PlanDump session
        // conf is set
        graft.PlanDump.probe(next, s"walk_round$round")
        // mark the checkpoint lazily and materialize it WITH the
        // convergence probe in ONE job: the single-job RDD aggregate
        // computes every partition (persisting each under the mark),
        // where an eager checkpoint ran its own count job and a SQL
        // aggregate costs two AQE jobs. Σ round grows exactly when a
        // row was improved (stamped with this round) or added.
        acc = next.localCheckpoint(eager = false)
        val sum = materializedCountSum(acc, "round")._2
        improved = sum > lastSum
        lastSum = sum
      } else acc = next
      frontier = acc.filter(col("round") === round)
    }
    (acc.select(keyed :+ col("dist"): _*),
      () => if (deep) !improved else frontier.isEmpty)
  }
}
