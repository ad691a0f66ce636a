package graft

/** Measurement tooling (optimization rounds), sibling of [[PlanDump]]:
  * count the Spark JOBS a gate query schedules on a warm run. The
  * iterative operators' per-hop work is invisible in the final plan
  * (localCheckpoint truncation), so job count is the verifiable
  * signature of loop-body changes — e.g. r12's "materialize + probe in
  * one action" claim is exactly a jobs-per-hop drop.
  *
  * Usage: runMain graft.JobCount [--conf k=v ...] <queryName>...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  * Prints one `[jobcount] <name> warm_jobs=<n> sec=<t>` line per gate.
  * `--conf k=v` sets a runtime session conf first (e.g. a size-gate
  * override to A/B a layout at gate scale).
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobCount <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-jobcount", defaultCpus = 32)
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
      })
    // listener events are async (the bus is private[spark]) — quiesce
    // by polling the counter until it stops moving
    def drained(): Int = {
      var prev = -1
      var cur = nJobs.get()
      while (prev != cur) { Thread.sleep(200); prev = cur; cur = nJobs.get() }
      cur
    }
    val (confArgs, names) = {
      val confs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val qs = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < args.length) {
        if (args(i) == "--conf" && i + 1 < args.length) {
          val Array(k, v) = args(i + 1).split("=", 2)
          confs += ((k, v)); i += 2
        } else { qs += args(i); i += 1 }
      }
      (confs.toSeq, qs.toSeq)
    }
    confArgs.foreach { case (k, v) =>
      spark.conf.set(k, v)
      println(s"[jobcount] conf $k=$v")
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          fn(spark, sfDir).count() // warm: registries, codegen, caches
          val j0 = drained()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[jobcount] $name warm_jobs=${drained() - j0} sec=$sec%.3f")
        case None => System.err.println(s"[jobcount] UNKNOWN QUERY: $name")
      }
    }
    spark.stop()
  }
}
