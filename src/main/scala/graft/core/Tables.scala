package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Source layer. The reference has no file formats — tables are environment
  * bindings (fiat2/src/fiat2/Ex_Employee.v:68-71); ours are parquet scans,
  * which get Catalyst predicate pushdown + column pruning for free.
  */
object Tables {
  /** Recursive delete for scratch dirs (verify dumps, stream feeds). */
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }


  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The accepted layouts for `events.ts` (TESTDATA.md, "events schema
    * contract") — the driver has generated both over time:
    *   - epoch-nanos int64 (parquet TIMESTAMP(NANOS), readable only as
    *     longs via the legacy nanosAsLong conf);
    *   - timestamp[us] (read as TimestampNTZ — already µs precision).
    * Any other type fails here, loudly, naming both layouts — not as ten
    * scattered analysis exceptions in downstream event-time queries. */
  private def assertEventsTs(dt: DataType): Unit = dt match {
    case LongType | TimestampType | TimestampNTZType => ()
    case other => sys.error(
      s"events.ts has unsupported type $other; accepted layouts are " +
        "epoch-nanos int64 (legacy) or timestamp[us]/TimestampNTZ — see " +
        "TESTDATA.md 'events schema contract'")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // Legacy-layout support: TIMESTAMP(NANOS) footers are rejected by the
      // reader unless surfaced as epoch-nanos longs (no-op for µs files).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Event-time derivations (the NTZ→LTZ cast in tsCol, date_trunc /
      // window bucketing) must agree with the UTC DuckDB oracle.
      // ScaleConf.tuned pins spark.sql.session.timeZone=UTC; a session
      // that arrives here non-UTC is misconfigured, and silently flipping
      // its zone mid-session would corrupt any intentional setting — fail
      // loudly instead.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      val isUtc = try {
        java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
      } catch { case _: java.time.DateTimeException => false }
      require(isUtc,
        s"events requires spark.sql.session.timeZone=UTC (found '$tz'): " +
          "event-time derivations must agree with the UTC DuckDB oracle. " +
          "Build the session through graft.core.ScaleConf.tuned, which " +
          "pins it (all graft mains do)")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      assertEventsTs(df.schema("ts").dataType)
      df
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** µs-precision TimestampType event time from `df("ts")`, whichever
    * accepted layout the file carries: epoch-nanos longs floor to µs
    * (DuckDB's ns→µs truncation); TimestampNTZ casts under the UTC pin. */
  def tsCol(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => timestamp_micros(
      call_function("div", df("ts"), lit(1000L)))
    case TimestampType => df("ts")
    case _ => df("ts").cast(TimestampType)
  }

  /** Epoch-microseconds LongType event time — the integer both engines
    * compare/bucket on exactly (no float, no ns-vs-µs edge). */
  def epochUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => call_function("div", df("ts"), lit(1000L))
    case _ => unix_micros(tsCol(df))
  }

  /** Register every table as a temp view so queries can also be authored in
    * SQL (mirrors the driver's DuckDB oracle environment). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
