package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared query: name, Spark implementation, optional DuckDB oracle SQL.
  *
  * Contract (SURVEY.md §2): every oracle-checked query ends with a total
  * ORDER BY over a unique key, emits no raw nanosecond timestamps, and makes
  * every floating-point output either (a) bit-deterministic — the same IEEE
  * ops in the same order on both engines — or (b) rounded after an exact
  * decimal aggregation.
  */
final case class Spec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Parquet table readers + determinism helpers shared by every operator. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table's reader, a session-scoped [[Memo]] entry (a DataFrame is
    * bound to the session that resolved it). `spark.read.parquet` runs a
    * schema-inference/file-listing job on every call (~30 ms, 10 per
    * `registerAll`); the fixtures are immutable, so the resolved
    * DataFrame — schema AND file index — is reusable for the session's
    * life. At 100 TB the same holds for any immutable snapshot dir; a
    * mutable source should go through a catalog table. A stopped
    * context's entries are dropped on the next memo miss (round-13
    * ADVICE: stopped sessions and their file indexes were retained).
    * `events` comes back with `ts` normalised; see [[events]].
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Memo.session(spark, s"$sfDir|$name|reader") {
      val df = parquet(spark, sfDir, name)
      if (name == "events") microsLtz(df) else df
    }

  /** Live reader entries over all sessions (tests, benchmark gauges). */
  def readerMemoSize: Int = Memo.keys.count(_._2.endsWith("|reader"))

  /** Reads with the table's inferred schema, a context-scoped entry: the
    * inference is the job `spark.read.parquet` runs, so a fresh session
    * runs none. The plan is the same either way, so cached relations
    * built over one session's read match another's. */
  private def parquet(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = Memo.context(spark, s"$sfDir|$name|schema")(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The `events` reader: `ts` as a µs TIMESTAMP (LTZ) whichever way the
    * parquet stores it. The fixtures hold tz-less µs timestamps, which
    * Spark reads as TIMESTAMP_NTZ; older testdata generations held
    * nanoseconds, which the session recipe's reading policy
    * ([[GraftSession.builder]]) surfaces as LongType. Both are rebuilt
    * into µs TIMESTAMP: the generated data has zero sub-microsecond
    * digits, and the session clock is pinned to UTC, so the instant is
    * unchanged and `unix_micros`/`window()` consumers see the type they
    * expect. DuckDB surfaces the column as a µs TIMESTAMP either way, so
    * both engines see bit-identical values.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")

  private def microsLtz(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _                => df
  }

  /** Register all tables as temp views (for spark.sql-shaped queries). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))

  // ---------------------------------------------------------------------
  // Deterministic money aggregation.
  //
  // A double sum is association-order dependent: Spark's partial-aggregate
  // merge order varies run to run, and DuckDB folds in yet another order.
  // Money-like columns (2..6 decimal digits) are summed EXACTLY by casting
  // each value to DECIMAL first (double→decimal rounds the same way in both
  // engines at these scales), summing the decimals (exact, order-free),
  // rounding in decimal space, and only then casting to double. The final
  // double is bit-identical on both sides regardless of execution order.
  // ---------------------------------------------------------------------

  /** Exact order-independent sum of a money-like expression, rounded to 2
    * decimal places, returned as double. `scale` = decimal digits of the
    * *input* expression (2 for prices, 4 for price*(1-disc), 6 for *(1+tax)).
    */
  def msum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast(DecimalType(30, scale))), 2).cast(DoubleType)

  /** DuckDB SQL text equivalent of [[msum]].
    * NOTE: `round(decimal, 2)` — not a DECIMAL(p,2) cast — because DuckDB's
    * decimal downscale cast truncates while Spark's rounds; `round` is
    * half-up (away from zero) in decimal space on both engines.
    */
  def msumSql(e: String, scale: Int = 2): String =
    s"CAST(round(sum(CAST(($e) AS DECIMAL(30,$scale))), 2) AS DOUBLE)"

  /** Order-independent mean: exact decimal sum cast to double, divided by
    * count. One IEEE division on identical inputs → bit-identical result.
    */
  def mavg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType) / count(lit(1))

  /** DuckDB SQL text equivalent of [[mavg]]. */
  def mavgSql(e: String, scale: Int = 2): String =
    s"(CAST(sum(CAST(($e) AS DECIMAL(30,$scale))) AS DOUBLE) / count(*))"
}
