package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided synthetic tables (TESTDATA.md).
  *
  * Every query in the engine takes `(SparkSession, sfDir)` and loads its
  * inputs through here so the scan is a plain parquet relation Catalyst can
  * push filters/projections into. Nothing is cached at this layer: at 100 TB
  * a table does not fit in memory, so operators must stream from the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  /** orders/lineitem drift pins: the driver has regenerated testdata
    * with changed physical types twice (events.ts nanos→micros,
    * documents int32 ids); the remaining drift-prone columns here are
    * the dates (shipped timestamp[us] today — a pandas/arrow change
    * could ship date32) and the money columns (shipped double — could
    * ship decimal). Normalize to the types every gate and oracle was
    * written against so a third regeneration is a no-op: dates →
    * TIMESTAMP_NTZ (today's read type; date32 casts to midnight, =
    * DuckDB CAST(DATE AS TIMESTAMP)), money → DoubleType (exact for
    * 2-dp decimals in range), keys → long, linenumber → int.
    */
  def orders(s: SparkSession, d: String): DataFrame =
    pinTimestamp(pinDouble(pinLong(apply(s, d, "orders"),
      "o_orderkey", "o_custkey"), "o_totalprice"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    pinTimestamp(pinInt(pinDouble(pinLong(apply(s, d, "lineitem"),
      "l_orderkey", "l_partkey", "l_suppkey"),
      "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      "l_linenumber"), "l_shipdate")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader only surfaces as a nanos-since-epoch long
    * under `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS)
    * without UTC adjustment (which reads as TIMESTAMP_NTZ). Normalize both
    * to a session-TZ TimestampType column so downstream operators always
    * see the same type. Sessions run with `spark.sql.session.timeZone=UTC`
    * (every main builds its session with [[graft.GraftSession]]),
    * so the NTZ→LTZ cast is value-preserving and matches DuckDB's naive
    * TIMESTAMP reading of the same file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pinLong(normalizeTs(apply(s, d, "events")), "event_id", "user_id")
  }

  /** The ts-normalization branch on its own, so streaming readers (which
    * must pass an explicit schema and hence see the same drift) can apply
    * the identical rule to a `readStream` relation.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => // nanos long: truncate to micros like DuckDB's ns→us cast
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  /** Pin integral id columns to LongType: a regenerated parquet with
    * int32 ids would silently flip the output schema of every gate
    * doing id arithmetic (the events.ts failure mode, wholesale).
    */
  private def pinLong(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    cols.foldLeft(df) { (acc, c) =>
      if (acc.schema.fieldNames.contains(c) &&
          acc.schema(c).dataType != LongType)
        acc.withColumn(c, col(c).cast(LongType))
      else acc
    }
  }

  /** Pin a date-ish column to TIMESTAMP_NTZ — the type these columns
    * read as TODAY (parquet timestamp[us] with isAdjustedToUTC=false)
    * and hence the type every relational gate and oracle was written
    * against, so the pin is a pass-through on current testdata. A
    * regenerated date32 or UTC-adjusted timestamp casts back
    * value-preservingly under the UTC session. (events.ts is the one
    * deliberate exception: it normalizes to session-TZ TimestampType,
    * the type ITS gates were written against.)
    */
  private def pinTimestamp(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    cols.foldLeft(df) { (acc, c) =>
      if (acc.schema.fieldNames.contains(c) &&
          acc.schema(c).dataType != TimestampNTZType)
        acc.withColumn(c, col(c).cast(TimestampNTZType))
      else acc
    }
  }

  /** Pin a money/measure column to DoubleType (decimal drift guard). */
  private def pinDouble(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    cols.foldLeft(df) { (acc, c) =>
      if (acc.schema.fieldNames.contains(c) &&
          acc.schema(c).dataType != DoubleType)
        acc.withColumn(c, col(c).cast(DoubleType))
      else acc
    }
  }

  /** Pin a narrow ordinal column to IntegerType. */
  private def pinInt(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    cols.foldLeft(df) { (acc, c) =>
      if (acc.schema.fieldNames.contains(c) &&
          acc.schema(c).dataType != IntegerType)
        acc.withColumn(c, col(c).cast(IntegerType))
      else acc
    }
  }

  def documents(s: SparkSession, d: String): DataFrame =
    pinLong(apply(s, d, "documents"), "doc_id")

  /** The whole similarity stack (cosine folds, sign buckets, IVF
    * assignment, quantization) is specified in float32 and the oracles
    * mirror float32 — pin the column to array<float> so a regenerated
    * parquet with double lists cannot silently move every gate to
    * double arithmetic (the events.ts lesson applied to the other
    * drift-prone column).
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val df = pinLong(apply(s, d, "embeddings"), "vec_id")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case _: ArrayType =>
        df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case _ => df
    }
  }
}
