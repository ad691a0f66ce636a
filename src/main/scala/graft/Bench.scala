package graft

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * A small warmup action runs first so the first measured query does not
  * pay JVM/codegen/session initialization (the driver compares against
  * the reference's steady-state numbers, BASELINE.md).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench", defaultCpus = 32)

    // Wall-clock budget (VERDICT r11 #1b): BOTH driver bench runs in r11
    // were killed at the driver's time limit (rc 124) before the compact
    // JSON line printed, so an optimization round recorded ZERO numbers.
    // The harness now tracks elapsed wall time against a soft budget
    // (env-overridable) and degrades HONESTLY rather than losing
    // everything: past 45% of the budget remaining gates run
    // warmup + 1 timed run (instead of +3); past 70% a single timed run
    // with no warmup; stress is skipped if under 25% of the budget
    // remains, and the fork is hard-killed at the budget edge. Every cut
    // is named in a "degraded" field (the no-silent-caps rule). Gates
    // are NEVER skipped — the driver treats a missing query as dropped.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    val tStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - tStart) / 1e9

    // warmup: touch every input table + exercise codegen/shuffle machinery
    graft.tables.Tables.names.foreach { t =>
      try graft.tables.Tables(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => }
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // Reference harness semantics (BASELINE.md): 3 timed runs per query,
    // report the median — for EVERY query, no run-once shortcut. A query
    // that throws is reported visibly in an "errors" field (and on
    // stderr), never silently recorded as a fast success.
    def once(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          // keep errors SHORT: the driver tails the bench output, and 12
          // long stack prefixes once truncated away all 121 timings
          Some(e.toString.replaceAll("\\s+", " ").take(80))
        }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // SPARK_GRAFT_ONLY=<regex> restricts to matching query names (and
    // implies stress off) — for targeted perf iteration; the driver
    // never sets it, so recorded rounds always cover everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.findFirstIn(n).isDefined)
    }
    // budget degradation bookkeeping: which gates ran with fewer
    // executions than the 1-warmup+3-timed contract, and why
    val reducedGates = scala.collection.mutable.ArrayBuffer.empty[String]
    val singleRunGates = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.map { case (name, fn) =>
      // budget mode for THIS gate, decided at its start
      val frac = elapsedS / budgetS
      val mode = if (frac > 0.70) 2 else if (frac > 0.45) 1 else 0
      if (mode == 2) singleRunGates += name
      else if (mode == 1) reducedGates += name
      // one UNTIMED warmup run first (standard steady-state harness
      // practice — JMH/TPC, and the reference's own numbers are warm):
      // per-corpus persisted registries (corpus vectors, BM25/F, phrase
      // postings, IVF layouts) build lazily on first touch, and that
      // one-time ingest work must not contaminate the timed probe runs.
      // SPARK_GRAFT_WARMUP_RUNS=0 disables; budget mode 2 drops it too.
      val warmErr: Option[String] =
        if (mode < 2 && !sys.env.get("SPARK_GRAFT_WARMUP_RUNS").contains("0"))
          once(fn)._2
        else None
      // a warmup-only failure (first-touch registry/seed build crash)
      // must be VISIBLE: the timed runs may then measure or reuse
      // partial state — log it and carry it into the errors map even
      // when the timed runs succeed (ADVICE r8)
      warmErr.foreach(e =>
        System.err.println(s"[bench] $name WARMUP FAILED: $e"))
      val runs =
        if (mode == 0) Seq(once(fn), once(fn), once(fn))
        else Seq(once(fn))
      val median = runs.map(_._1).sorted.apply(runs.size / 2)
      // the min distinguishes host-load contamination (median >> min)
      // from a real regression (median ≈ min, both high) — three rounds
      // of load-skewed driver numbers motivated recording it
      val minT = runs.map(_._1).min
      val err = runs.flatMap(_._2).headOption
        .orElse(warmErr.map("warmup-only: " + _))
      err.foreach(e => System.err.println(s"[bench] $name FAILED: $e"))
      (name, median, minT, err)
    }
    if (reducedGates.nonEmpty || singleRunGates.nonEmpty)
      System.err.println(
        "[bench] BUDGET DEGRADATION: %d gates at warmup+1run, %d at 1run-only (budget %.0fs, elapsed %.0fs)"
          .formatLocal(java.util.Locale.ROOT, reducedGates.size,
            singleRunGates.size, budgetS, elapsedS))
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
    def j3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + j3(v) }
      .mkString("{", ",", "}")
    val qmins = results.map { case (k, _, m, _) => "\"" + k + "\":" + j3(m) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) => "\"" + k + "\":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // Scale-stress recording (SPARK_GRAFT_STRESS=0 disables): the
    // heaviest operator families at two sizes 10× apart, so the round
    // artifact captures wall-time GROWTH, not just absolute speed.
    // Kept OUT of "total"/"queries" — it measures scaling, not the
    // per-query baseline comparison.
    //
    // Runs in a FRESH CHILD JVM by default (SPARK_GRAFT_STRESS_FORK=0
    // falls back in-process): round 8 recorded x3_d3 6× / an x3>x30
    // inversion with stress code UNCHANGED — the 224-gate bench's
    // accumulated heap/GC/codegen state contaminated the first stress
    // points even under warmup + min-of-2. A child JVM (same flags,
    // same classpath, inherited env) measures stress from a clean heap.
    // budget: remaining wall time for the stress phase, minus a grace
    // window so the guard/JSON emission after it always fits. A hung or
    // slow child is hard-killed at this deadline (forkJson timeout) —
    // losing stress rows honestly beats losing the whole artifact.
    val stressBudgetS = budgetS - elapsedS - 45.0
    // stressCut: what the budget removed from the stress section (None
    // when the section ran whole) — lands in the `degraded` field
    var stressCut: Option[String] = None
    val stressPairs: Either[String, Seq[(String, Double)]] =
      if (sys.env.get("SPARK_GRAFT_STRESS").contains("0"))
        Left("SPARK_GRAFT_STRESS=0")
      else if (only.nonEmpty) Left("SPARK_GRAFT_ONLY set")
      else if (elapsedS > 0.75 * budgetS || stressBudgetS < 90.0) {
        val msg = "budget: %.0fs of %.0fs elapsed before stress"
          .formatLocal(java.util.Locale.ROOT, elapsedS, budgetS)
        stressCut = Some(msg)
        Left(msg)
      } else if (!sys.env.get("SPARK_GRAFT_STRESS_FORK").contains("0")) {
        val fork = Stress.forkJson(Seq("--json"), timeoutS = stressBudgetS)
        stressCut = fork.cut
        fork.rows
      } else {
        // drop the gate queries' persisted caches (dedup/IVF/ancestry
        // indexes) first: stress builds its own corpora, and measuring
        // it against a memory-starved session inflates variance
        spark.catalog.clearCache()
        try Right(Stress.runDefault(spark))
        catch { case e: Throwable =>
          Left(e.toString.replaceAll("\\s+", " ").take(160))
        }
      }
    // a stress failure must be VISIBLE in the artifact — an empty {}
    // here once read as "stress silently not recorded" in a committed
    // round artifact
    stressPairs.left.foreach(msg =>
      System.err.println(s"[bench] stress not recorded: $msg"))
    // Per-trial rows (t:<row>:<i>) fold into a stress_trials map so an
    // adjudication of a flagged stress row is DATA (round 9's min-of-2
    // sampled the fast mode of a bimodal row and a wrong
    // "host contention" narrative got committed); headline rows stay
    // min-of-Trials.
    val (stressHead, stressTrials) =
      BenchGuards.splitTrials(stressPairs.getOrElse(Seq.empty))
    val stress = stressPairs match {
      case Right(_) => stressHead
        .map { case (k, v) => "\"" + k + "\":" + j3(v) }
        .mkString("{", ",", "}")
      case Left(msg) if msg.startsWith("SPARK_GRAFT") =>
        s"""{"skipped":${jstr(msg)}}"""
      case Left(msg) => s"""{"error":${jstr(msg)}}"""
    }
    val trialsJson = stressTrials.toSeq.sortBy(_._1).map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(j3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // Per-family growth ratios (large-factor time / small-factor time)
    // and small>large inversions, computed INTO the artifact: the
    // sublinear-growth claim is the 100 TB argument, so the artifact
    // should state it, not leave the division to the reader — and an
    // inversion (like r8's x3_sa1 > x30_sa1) must be loud. Inversion
    // and spread flags are floor-aware (BenchGuards): pairs entirely
    // under the job floor carry no signal.
    val growth = BenchGuards.growth(stressHead)
    val inversions = BenchGuards.inversions(growth)
    inversions.foreach { case (fam, fs, vs, fb, vb, _) =>
      System.err.println(
        "[bench] STRESS INVERSION %-18s x%d %.2fs > x%d %.2fs"
          .formatLocal(java.util.Locale.ROOT, fam, fs, vs, fb, vb))
    }
    val growthJson = growth.map { case (fam, _, _, _, _, r) =>
      "\"" + fam + "\":" + j3(r)
    }.mkString("{", ",", "}")
    val invJson = inversions.map { case (fam, fs, vs, fb, vb, _) =>
      "\"" + fam + "\":\"x" + fs + " " + j3(vs) + "s > x" + fb + " " +
        j3(vb) + "s\""
    }.mkString("{", ",", "}")
    val spreads = BenchGuards.spreadFlags(stressTrials)
    spreads.foreach { case (row, mn, mx) =>
      System.err.println(
        "[bench] STRESS BIMODAL %-22s trials %.2fs .. %.2fs"
          .formatLocal(java.util.Locale.ROOT, row, mn, mx))
    }
    val spreadJson = spreads.map { case (row, mn, mx) =>
      "\"" + row + "\":\"" + j3(mn) + "s .. " + j3(mx) + "s\""
    }.mkString("{", ",", "}")

    // Per-gate regression guard against the COMMITTED snapshot
    // (BENCH_SNAPSHOT.json, sum-of-min per gate): a gate whose min grew
    // past 1.5x AND +0.3s is a regression — loud on stderr and recorded
    // in the artifact, so drift like round 7's s12 2.3x is visible the
    // round it happens, not a round later in the verdict.
    val snapPath = sys.env.getOrElse("SPARK_GRAFT_SNAPSHOT_PATH",
      "/root/repo/BENCH_SNAPSHOT.json")
    val snapshot: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(snapPath)), "UTF-8")
        "\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // gate mins AND stress headline rows both face the guard (r8's
    // blind spot: three stress rows regressed 3-6× and nothing flagged
    // it); trial rows feed the spread flag instead
    val guarded: Seq[(String, Double)] =
      results.map { case (k, _, m, _) => (k, m) } ++ stressHead
    // Host-drift normalization (r9 measured a clean run where EVERY
    // gate ran a uniform ~1.2× slower than the snapshot's host state,
    // and six job-floor-bound gates crossed the raw 1.5× line with no
    // code change): estimated from the JOB-FLOOR gate cohort so a
    // uniform CODE slowdown can't scale its own thresholds
    // (BenchGuards.drift); a high ALL-gates median additionally raises
    // drift_alert so a uniform slowdown is still surfaced.
    val minsWithPrev = results.flatMap { case (k, _, m, _) =>
      snapshot.get(k).map(prev => (m, prev))
    }
    val drift = BenchGuards.drift(minsWithPrev)
    val driftAlert = BenchGuards.driftAlert(minsWithPrev)
    if (drift > 1.0)
      System.err.println(
        "[bench] host drift vs snapshot: floor-cohort ratio %.2f — thresholds scaled"
          .formatLocal(java.util.Locale.ROOT, drift))
    if (driftAlert)
      System.err.println(
        "[bench] DRIFT ALERT: all-gates median ratio exceeds " +
          s"${BenchGuards.DriftAlertRatio} — uniform slowdown, inspect")
    val regressions = BenchGuards.regressions(guarded, snapshot, drift)
    // recall rows guard in the OPPOSITE direction: flag drops
    val recallDrops = BenchGuards.recallDrops(guarded, snapshot)
    recallDrops.foreach { case (k, p, v) =>
      System.err.println("[bench] RECALL DROP %-24s %.3f -> %.3f"
        .formatLocal(java.util.Locale.ROOT, k, p, v))
    }
    val recallJson = recallDrops.map { case (k, p, v) =>
      "\"" + k + "\":{\"prev\":" + j3(p) + ",\"now\":" + j3(v) + "}"
    }.mkString("{", ",", "}")
    if (regressions.nonEmpty) {
      System.err.println(s"[bench] ===== TOP REGRESSIONS vs $snapPath =====")
      regressions.foreach { case (k, p, m) =>
        System.err.println("[bench] REGRESSION %-36s min %8.3fs -> %8.3fs (%.1fx)"
          .formatLocal(java.util.Locale.ROOT, k, p, m, m / p))
      }
    }
    val regJson = regressions.map { case (k, p, m) =>
      "\"" + k + "\":{\"prev\":" + j3(p) + ",\"now\":" + j3(m) + "}"
    }.mkString("{", ",", "}")
    // refresh the committed snapshot on demand (end-of-round clean run):
    // SPARK_GRAFT_WRITE_SNAPSHOT=1, full (non-filtered) runs only
    if (sys.env.get("SPARK_GRAFT_WRITE_SNAPSHOT").contains("1") &&
        only.isEmpty) {
      val snap = guarded.map { case (k, m) => "\"" + k + "\":" + j3(m) }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(snapPath),
        (snap + "\n").getBytes("UTF-8"))
      System.err.println(
        s"[bench] wrote snapshot ${guarded.size} rows -> $snapPath")
    }

    // "degraded": exactly what the wall-clock budget cut, or null when
    // nothing was (the normal case). Compact variant carries counts (the
    // driver tail window is ~2 KB); the full artifact names every gate.
    def namesJson(xs: Seq[String]): String =
      xs.map(jstr).mkString("[", ",", "]")
    val degradedFull: String =
      if (reducedGates.isEmpty && singleRunGates.isEmpty && stressCut.isEmpty) "null"
      else s"""{"budget_s":${j3(budgetS)},"gates_warmup_plus_1run":${namesJson(reducedGates.toSeq)},"gates_1run_only":${namesJson(singleRunGates.toSeq)},"stress_cut":${stressCut.map(jstr).getOrElse("null")}}"""
    val degradedCompact: String =
      if (degradedFull == "null") "null"
      else s"""{"budget_s":${j3(budgetS)},"n_gates_warmup_plus_1run":${reducedGates.size},"n_gates_1run_only":${singleRunGates.size},"stress_cut":${stressCut.map(jstr).getOrElse("null")}}"""
    val fullLine = s"""{"metric":"total","value":${j3(total)},"unit":"sec","queries":$qs,"queries_min":$qmins,"errors":$errs,"regressions":$regJson,"stress":$stress,"stress_trials":$trialsJson,"stress_growth":$growthJson,"stress_inversions":$invJson,"stress_spread":$spreadJson,"recall_drops":$recallJson,"drift":${j3(drift)},"drift_alert":$driftAlert,"degraded":$degradedFull,"sf":"$sfDir"}"""
    // The driver TAIL-captures the last ~2 KB of the bench log, then
    // tries to json-parse a line — so the LAST stdout line must be (a)
    // pure JSON from column 0 (r8's "parsed": null: sbt's forked-run
    // logger prefixed every line with "[info] " — killed in build.sbt
    // via outputStrategy/showSuccess), (b) short enough to survive the
    // window whole, and (c) shaped like the driver contract
    // ("metric":"total" with a "queries" map — truncated to the top
    // 30, flagged, full maps in BENCH_LOCAL.json). Printed before AND
    // after the full line so either truncation direction keeps one.
    val slow = results.sortBy(-_._2).take(30)
      .map { case (k, v, _, _) => "\"" + k + "\":" + j3(v) }
      .mkString("{", ",", "}")
    // Trials for FLAGGED rows only (r10 verdict #2): the 2 KB tail
    // window cuts the full stress_trials map and BENCH_FULL is the
    // builder's run, not the driver's — so the driver's own flags were
    // not self-adjudicating (the judge had to re-measure x10_j11 to
    // call it transient). A handful of flagged rows × Trials floats is
    // bounded and survives the tail window.
    val flaggedKeys: Set[String] =
      regressions.map(_._1).toSet ++
        inversions.flatMap { case (fam, fs, _, fb, _, _) =>
          Seq(s"x${fs}_$fam", s"x${fb}_$fam") } ++
        spreads.map(_._1)
    val flaggedTrialsJson = stressTrials.view
      .filterKeys(flaggedKeys).toSeq.sortBy(_._1)
      .map { case (k, ts) =>
        "\"" + k + "\":[" + ts.map(j3).mkString(",") + "]"
      }.mkString("{", ",", "}")
    val compactLine = s"""{"metric":"total","value":${j3(total)},"unit":"sec","queries":$slow,"queries_truncated_to_top30":true,"n_queries":${results.size},"n_errors":${results.count(_._4.nonEmpty)},"regressions":$regJson,"stress_inversions":$invJson,"stress_spread":$spreadJson,"recall_drops":$recallJson,"flagged_trials":$flaggedTrialsJson,"drift":${j3(drift)},"drift_alert":$driftAlert,"degraded":$degradedCompact,"sf":"$sfDir"}"""
    println(compactLine)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LOCAL.json")),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write BENCH_LOCAL.json: $e")
    }
    println(fullLine)
    println(compactLine)
    spark.stop()
  }
}
