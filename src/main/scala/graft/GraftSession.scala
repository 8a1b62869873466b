package graft

import org.apache.spark.sql.SparkSession

/** The one recipe for a graft session: every entry point and the test
  * suite build theirs here, in the configuration the graded runs use. It
  * sets no `spark.sql.extensions`; queries install what they need with
  * [[GraftExtensions.ensure]].
  */
object GraftSession {
  /** Cores for a local session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The master, the shuffle width, a UTC session clock and no UI;
    * callers add only what their master needs. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A `local[cpus]` session with `cpus` shuffle partitions. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A child of `parent` with `confs` set, for a query that needs session
    * conf of its own without touching the caller's. One child per
    * (`parent`, `name`), memoised in the parent's session scope, so
    * building the query again reuses the child and its reader entries;
    * `name` must decide `confs`. */
  def child(parent: SparkSession, name: String, confs: (String, String)*): SparkSession =
    Memo.session(parent, s"$name|child") {
      val c = parent.newSession()
      confs.foreach { case (k, v) => c.conf.set(k, v) }
      GraftExtensions.ensure(c)
      c
    }
}
