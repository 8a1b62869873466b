package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Queries sharing one session concurrently. Each of these runs a step
  * under confs of its own (the helper collects of the quantile picks and
  * the cumulations, label propagation's static tier, a RocksDB stream):
  * run side by side in one session, each must return the rows of a serial
  * run, and a sampler reading the session's conf meanwhile must never see
  * it change. A step that set and restored a conf on the caller's session
  * would show to the sampler, and a concurrent query would plan under it.
  */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._

  private val queries = Seq("agg_weighted_median", "agg_mad", "agg_abc_class",
    "evt_pareto_share", "dedup_cc_labelprop", "stream_stateful_tws")
  private val sampled = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  private def rows(s: SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf).collect().map(_.toString).toSeq.sorted

  test("queries run concurrently in one session return the serial rows and leave its conf alone") {
    val serialSession = spark.newSession()
    val serial = queries.map(n => n -> rows(serialSession, n)).toMap

    val shared = spark.newSession()
    val expected = sampled.map(k => k -> shared.conf.get(k)).toMap
    val seen = new ConcurrentLinkedQueue[String]()
    val done = new AtomicBoolean(false)
    val sampler = new Thread(() =>
      while (!done.get) {
        for (k <- sampled; v = shared.conf.get(k) if v != expected(k)) seen.add(s"$k=$v")
        Thread.sleep(1)
      })
    val pool = Executors.newFixedThreadPool(queries.size)
    sampler.start()
    val concurrent = try {
      val futures = queries.map(n => n -> pool.submit(() => rows(shared, n)))
      futures.map { case (n, f) => n -> f.get(10, TimeUnit.MINUTES) }.toMap
    } finally {
      done.set(true)
      sampler.join()
      pool.shutdownNow()
    }

    for (n <- queries)
      assert(concurrent(n) == serial(n), s"$n returns different rows when run concurrently")
    val changes = seen.asScala.toSeq.distinct
    assert(changes.isEmpty, "the shared session's conf changed while the queries ran")
  }
}
