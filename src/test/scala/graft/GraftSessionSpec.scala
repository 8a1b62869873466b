package graft

import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.child`: a query that needs session conf of its own gets
  * one child per caller session, so building it again adds no reader
  * entries and the caller's conf is never touched.
  */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  /** The join children, the helper collects' child (agg_weighted_median's
    * picks) and both stream recipes (stream_tumbling's default,
    * stream_stateful_tws's RocksDB). */
  private val childQueries =
    Seq("join_bloom_runtime", "scan_agg_pushdown", "join_range_auto", "join_overlap_auto",
      "agg_weighted_median", "stream_tumbling", "stream_stateful_tws")

  private def children: Int = Memo.keys.count(_._2.endsWith("|child"))

  test("child-session queries reuse one child per caller session") {
    val caller = spark.newSession()
    val confBefore = caller.conf.getAll
    def round(): Seq[Seq[String]] = childQueries.map { name =>
      val df = SparkEntry.queries(name)(caller, sf)
      assert(df.count() > 0, name)
      df.collect().map(_.toString).toSeq
    }
    val first = round()
    val readers = Tables.readerMemoSize
    val sessions = children
    round()
    assert(round() == first)
    assert(Tables.readerMemoSize == readers,
      "building the queries again added reader entries (a new child session per construction)")
    assert(children == sessions, "building the queries again added child sessions")
    assert(caller.conf.getAll == confBefore)
    for (k <- Seq("spark.graft.rangeBinJoin.binWidth", "spark.graft.overlapBinJoin.binWidth"))
      assert(caller.conf.getOption(k).isEmpty, s"a child conf $k reached the caller")
    assert(!caller.conf.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"),
      "the RocksDB stream recipe reached the caller")
  }
}
