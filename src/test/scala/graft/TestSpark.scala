package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test run (SURVEY.md §5.4),
  * built by the graded recipe ([[GraftSession]], no extensions) at
  * `local[8]`, the core count the plan and job budgets are pinned at. */
object TestSpark {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_warehouse_")
    val s = GraftSession.builder("local[8]", 8)
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** `name<TAB>count` rows of a budget file on the test classpath. */
  def budgetTsv(resource: String): Seq[(String, Int)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(resource), "UTF-8")
    try src.getLines().map { l =>
      val Array(n, c) = l.split("\t"); n -> c.toInt
    }.toList
    finally src.close()
  }

  /** Spark jobs that `body` starts on this thread. A job carries its
    * submitting thread's local properties; a marker job run after `body`
    * shows the asynchronous listener bus has delivered everything
    * before it.
    */
  def jobsRunBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    def tagged(t: String)(f: => Any): Unit = {
      sc.setLocalProperty(key, t)
      try f finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(s"$tag-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!seen.contains(s"$tag-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-marker"), "listener bus never delivered the marker job")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
}
