package graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.graftshim.DatasetShim

/** The one recipe for a graft session: every entry point and the test
  * suite build theirs here, in the configuration the graded runs use. It
  * sets no `spark.sql.extensions`; queries install what they need with
  * [[GraftExtensions.ensure]].
  *
  * This is the only place a session conf is set. A query step that needs
  * other confs runs in a [[child]] of the caller's session, never by
  * setting and restoring the caller's conf, so queries sharing one
  * session concurrently each plan under the conf it was built for.
  */
object GraftSession {
  /** Cores for a local session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The master, the shuffle width, a UTC session clock and no UI;
    * callers add only what their master needs. It also fixes one reading
    * policy: a nanosecond parquet timestamp reads as its INT64 value,
    * which `Tables.events` rebuilds into µs, where Spark would otherwise
    * refuse the column. It changes nothing on µs parquet. Child sessions
    * inherit every setting here. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** A `local[cpus]` session with `cpus` shuffle partitions. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A child of `parent` with `confs` set, for a query step that needs
    * session conf of its own without touching the caller's. One child per
    * (`parent`, `name`), memoised in the parent's session scope, so
    * building the query again reuses the child and its reader entries;
    * `name` must decide `confs`. Move a DataFrame in or out with
    * [[reroot]]. */
  def child(parent: SparkSession, name: String, confs: (String, String)*): SparkSession =
    Memo.session(parent, s"$name|child") {
      val c = parent.newSession()
      confs.foreach { case (k, v) => c.conf.set(k, v) }
      GraftExtensions.ensure(c)
      c
    }

  /** `df` as a DataFrame of `s`: the same analyzed plan, optimized,
    * planned and run under `s`'s conf. Caches match across sessions, and
    * a view `df` read stays resolved, so this moves a relation between a
    * caller and its [[child]] in either direction. */
  def reroot(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else DatasetShim.ofRows(s.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)
}
