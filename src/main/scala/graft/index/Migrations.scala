package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StructField, StructType}

/** Versioned index migrations (reference `migrations/`): an ordered,
  * idempotent migration chain over the stored tables, with the executed
  * history in a parquet registry table instead of `migrations.json`.
  *
  * Runner semantics mirror `migrations/runner.py`: migrations sort by
  * semantic version; pending = not yet recorded successful AND newer than
  * the last successful version AND `checkNeeded`; they run in order, each
  * outcome is recorded, and a failure stops the chain (later migrations
  * stay pending). The reference's SIGINT handling and process locking are
  * host concerns Spark's driver already owns.
  */
object Migrations {

  trait Migration {
    def id: String
    def version: String
    def name: String
    /** True if the stored state still needs this migration. */
    def checkNeeded(spark: SparkSession, indexPath: String): Boolean
    /** Apply; returns a human message. Throw to mark FAILED. */
    def apply(spark: SparkSession, indexPath: String): String
  }

  final case class Result(migration_id: String, version: String,
      name: String, status: String, message: String, ordinal: Int)

  /** Numeric-segment semver ordering ("0.10.0" > "0.9.1"). */
  def versionKey(v: String): Seq[Int] =
    v.split("\\.").toSeq.map(s => s.takeWhile(_.isDigit)).map {
      s => if (s.isEmpty) 0 else s.toInt
    }

  private def lt(a: String, b: String): Boolean = {
    import scala.math.Ordering.Implicits._
    versionKey(a) < versionKey(b)
  }

  private def registryPath(indexPath: String) = s"$indexPath/migrations_registry"

  def executed(spark: SparkSession, indexPath: String): Seq[Result] = {
    val p = new org.apache.hadoop.fs.Path(registryPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      import spark.implicits._
      spark.read.parquet(registryPath(indexPath)).as[Result]
        .collect().toSeq.sortBy(_.ordinal)
    }
  }

  /** Last successfully executed version (`registry.get_last_version`). */
  def lastVersion(spark: SparkSession, indexPath: String): Option[String] =
    executed(spark, indexPath).filter(_.status == "success")
      .map(_.version).sortWith(lt).lastOption

  /** Migrations that would run, in order (`get_pending_migrations`). */
  def pending(spark: SparkSession, indexPath: String,
      migrations: Seq[Migration]): Seq[Migration] = {
    val ran = executed(spark, indexPath)
      .filter(_.status == "success").map(_.migration_id).toSet
    val last = lastVersion(spark, indexPath)
    migrations.sortWith((a, b) => lt(a.version, b.version))
      .filterNot(m => ran.contains(m.id))
      .filterNot(m => last.exists(lv => !lt(lv, m.version)))
      .filter(_.checkNeeded(spark, indexPath))
  }

  /** Run the pending chain; a failure records FAILED and stops. Results
    * (including the failure) append to the parquet registry.
    */
  def run(spark: SparkSession, indexPath: String,
      migrations: Seq[Migration], dryRun: Boolean = false): Seq[Result] = {
    val todo = pending(spark, indexPath, migrations)
    if (dryRun)
      return todo.zipWithIndex.map { case (m, i) =>
        Result(m.id, m.version, m.name, "pending", "dry run", i)
      }
    val base = executed(spark, indexPath).size
    val results = scala.collection.mutable.ListBuffer.empty[Result]
    val it = todo.iterator
    var halted = false
    while (it.hasNext && !halted) {
      val m = it.next()
      val r =
        try Result(m.id, m.version, m.name, "success",
          m.apply(spark, indexPath), base + results.size)
        catch {
          case e: Exception =>
            halted = true
            Result(m.id, m.version, m.name, "failed",
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200),
              base + results.size)
        }
      results += r
    }
    if (results.nonEmpty) {
      import spark.implicits._
      IndexStore.appendEvolved(spark, results.toSeq.toDF(),
        registryPath(indexPath))
    }
    results.toSeq
  }

  /** A real migration over stored state: add the monorepo subproject
    * columns (round-3 schema) to a chunks table written by an older
    * version — built on the additive schema evolution in
    * `IndexStore.readEvolved` (reference `v2_3_0_two_phase.py` shape:
    * check stored schema, rewrite once, idempotent after).
    */
  final class AddSubprojectColumns(table: String = "chunks") extends Migration {
    val id = s"add_subproject_columns_$table"
    val version = "0.2.0"
    val name = "add subproject_name/subproject_path to stored chunks"
    private def tablePath(indexPath: String) = s"$indexPath/$table"
    private val added = StructType(Seq(
      StructField("subproject_name", org.apache.spark.sql.types.StringType),
      StructField("subproject_path", org.apache.spark.sql.types.StringType)))

    def checkNeeded(spark: SparkSession, indexPath: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(tablePath(indexPath))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && {
        val have = spark.read.parquet(tablePath(indexPath)).columns.toSet
        !added.fieldNames.forall(have.contains)
      }
    }

    def apply(spark: SparkSession, indexPath: String): String = {
      val evolved = IndexStore.readEvolved(spark, tablePath(indexPath), added)
      IndexStore.overwriteSafe(spark, evolved, tablePath(indexPath))
      s"evolved $table with ${added.fieldNames.mkString(", ")}"
    }
  }
}
