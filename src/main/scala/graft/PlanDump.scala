package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Measurement tooling (optimization rounds): dump
  * `.explain("formatted")` for named gate queries to files, so plan
  * claims in OPTIMIZATION_r*.md are verifiable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> [--conf k=v ...] <queryName>...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  * Writes <outDir>/<queryName>.txt. AQE left ON (the bench runs with
  * AQE), so plans show the initial AdaptiveSparkPlan shape.
  * `--conf k=v` sets a runtime session conf before planning — e.g.
  * `--conf spark.graft.walk.shjMinEdges=0` forces the big-walk layout
  * at gate scale so its hop plans can be captured (r12 size gate).
  */
object PlanDump {
  /** In-loop plan capture for iterative operators (VERDICT r11 #3): an
    * eager localCheckpoint truncates the loop body out of the FINAL
    * plan, so the committed before/after dumps for walk-shaped gates
    * were node-identical and the per-hop claims unverifiable. Operators
    * call `probe(frame, label)` on the hop frame BEFORE checkpointing;
    * it writes the formatted plan only when the session conf
    * `spark.graft.plandump.dir` is set (PlanDump's own session sets it;
    * bench/tests never do, so the hot path pays one conf lookup).
    */
  def probe(df: DataFrame, label: String): Unit =
    df.sparkSession.conf.getOption("spark.graft.plandump.dir").foreach { d =>
      val p = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve(s"$label.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
    }

  /** The probe mains' arguments: sets each `--conf k=v` on the session
    * (printing `[tag] conf k=v`), then runs `f` on every named gate of
    * [[SparkEntry.queries]] in order, reporting an unknown name on
    * stderr.
    */
  private[graft] def gates(spark: SparkSession, args: Seq[String],
      tag: String)(f: (String, (SparkSession, String) => DataFrame) => Unit)
      : Unit = {
    def parse(rest: List[String]): List[Either[(String, String), String]] =
      rest match {
        case "--conf" :: kv :: tail =>
          val Array(k, v) = kv.split("=", 2)
          Left((k, v)) :: parse(tail)
        case name :: tail => Right(name) :: parse(tail)
        case Nil => Nil
      }
    val (confs, names) = parse(args.toList).partitionMap(identity)
    confs.foreach { case (k, v) =>
      spark.conf.set(k, v)
      println(s"[$tag] conf $k=$v")
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) => f(name, fn)
        case None => System.err.println(s"[$tag] UNKNOWN QUERY: $name")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query> [query...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-plandump", defaultCpus = 32)
    // route in-loop probes (see `probe`) next to the gate plans
    spark.conf.set("spark.graft.plandump.dir", outDir.toString)
    gates(spark, args.toSeq.drop(1), "plandump") { (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $name (${plan.length} chars)")
    }
    spark.stop()
  }
}
