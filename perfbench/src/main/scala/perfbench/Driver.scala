package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark. Runs one workload's operations through the
  * engine's public entry points and writes raw records (timings, and in a
  * traced run spans plus Spark job/stage/task events) as JSON lines. Every
  * derived number — percentiles, self times, idle time, conf diffs — is
  * computed by `metrics.py`, so that logic is testable without Spark.
  *
  * Usage: perfbench.Driver <plan file>. The plan is written by `run.py`.
  */
object Driver {
  /** One workload invocation: its queries in run order, run by one client
    * in a closed loop, either all on one shared session or each operation
    * in a fresh `newSession()`. */
  final case class Plan(
      sf: String, warm: Int, passes: Int, fresh: Boolean, trace: Boolean, cpus: Int,
      queries: Vector[String], checkOrder: Vector[String], checkDir: String, out: String)

  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with the epoch
    * times Spark puts in listener events. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val records = new ConcurrentLinkedQueue[String]()
  private def emit(fields: (String, Any)*): Unit = records.add(obj(fields: _*))

  def readPlan(path: String): Plan = {
    val src = scala.io.Source.fromFile(path)
    val kv = try src.getLines().map(_.split("\t", 2)).map(a => a(0) -> a(1)).toVector
      finally src.close()
    def one(k: String) =
      kv.collectFirst { case (`k`, v) => v }.getOrElse(sys.error(s"plan: missing $k"))
    Plan(one("sf"), one("warm").toInt, one("passes").toInt, one("fresh") == "1",
      one("trace") == "1", one("cpus").toInt, one("queries").split(",").toVector,
      one("check_order").split(",").toVector, one("check_dir"), one("out"))
  }

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => js(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => js(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"

  /** Runs whole passes over the query list while `passStart(pass)` holds. */
  def runWindow(win: String, queries: Vector[String], passStart: Int => Boolean)(
      op: (Int, Int, String) => Unit): Unit = {
    var pass = 0
    while (passStart(pass)) {
      val t0 = nowMs
      queries.zipWithIndex.foreach { case (q, i) => op(pass, i, q) }
      emit("t" -> "pass", "win" -> win, "pass" -> pass, "t0" -> t0, "t1" -> nowMs)
      pass += 1
    }
  }

  /** Heap in use after forced full collections: what the session retains.
    * Spark's ContextCleaner frees shuffles and broadcasts only after a
    * collection has shown them unreachable, so a single collection leaves
    * a varying amount of dead data; the reading settles by the third. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  /** Heap, memo and cache levels at a window boundary. */
  private def gauge(win: String, at: String, spark: SparkSession, heap: Boolean = false): Unit = {
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    emit("t" -> "gauge", "win" -> win, "at" -> at, "time" -> nowMs,
      "heap_mb" -> Option.when(heap)(retainedHeapMb()),
      "cache_mb" -> cached, "memo_build_s" -> graft.ops.LlmOps.memoBuildSeconds,
      "reader_entries" -> graft.Tables.readerMemoSize)
  }

  /** Records every job, stage, task and dropped cache block while attached.
    * Jobs carry the operation id and phase from the submitting thread's
    * local properties, which is how tasks are attributed to operations. */
  final class Recorder extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      emit("t" -> "job", "job" -> e.jobId, "submit" -> e.time.toDouble,
        "op" -> props.flatMap(p => Option(p.getProperty(OpKey))),
        "phase" -> props.flatMap(p => Option(p.getProperty(PhaseKey))),
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("t" -> "job_end", "job" -> e.jobId, "end" -> e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      emit("t" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "submit" -> i.submissionTime.map(_.toDouble), "end" -> i.completionTime.map(_.toDouble),
        "tasks" -> i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      emit("t" -> "task", "stage" -> e.stageId, "launch" -> i.launchTime.toDouble,
        "finish" -> i.finishTime.toDouble,
        "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
        "cpu_ns" -> m.map(_.executorCpuTime).getOrElse(0L),
        "gc_ms" -> m.map(_.jvmGCTime).getOrElse(0L),
        "in_b" -> m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        "in_rows" -> m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        "sr_b" -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        "sw_b" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "spill_b" -> m.map(_.diskBytesSpilled).getOrElse(0L))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && !b.storageLevel.isValid) emit("t" -> "drop", "time" -> nowMs)
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val specs = graft.SparkEntry.specs
    val queries = specs.map(sp => sp.name -> sp.fn).toMap
    val oracle = specs.flatMap(sp => sp.oracle.map(sp.name -> _)).toMap
    def fn(q: String) = queries.getOrElse(q, sys.error(s"unknown query $q"))

    // The session is built exactly as graft.Bench builds it.
    val spark = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tSession = nowMs
    /** The session an operation runs on. A fresh session shares the
      * SparkContext but starts with empty session state: no registered
      * functions, no session-keyed memo entries. */
    def session(): SparkSession = if (plan.fresh) spark.newSession() else spark
    plan.queries.distinct.foreach(q => emit("t" -> "oracle", "q" -> q, "sql" -> oracle.get(q)))

    // Untimed correctness pass. Each query runs once with its full result
    // written for the hash match against the oracle. The first execution of
    // a query in a JVM costs 5-20 times a steady one (JIT, code generation,
    // class loading), so these run side by side on one client thread per
    // core, costliest first, each in a session of its own so that none sees
    // another's session state. Nothing else runs beside them: extra warm-up
    // threads here took the cores the JIT compiler and the costliest first
    // execution need, and lengthened the pass without shortening the
    // warm-up after it.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(plan.cpus)
    try {
      plan.checkOrder.map { q =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val t0 = nowMs
            val err = try {
              fn(q)(spark.newSession(), plan.sf).coalesce(1).write.mode("overwrite")
                .parquet(s"${plan.checkDir}/$q")
              None
            } catch { case NonFatal(e) => Some(describe(e)) }
            emit("t" -> "check", "q" -> q, "ms" -> (nowMs - t0), "err" -> err)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val tCheck = nowMs

    def timedOp(win: String)(pass: Int, idx: Int, q: String): Unit = {
      val t0 = nowMs
      var rows = -1L
      val err = try { rows = fn(q)(session(), plan.sf).count(); None }
        catch { case NonFatal(e) => Some(describe(e)) }
      emit("t" -> "op", "win" -> win, "pass" -> pass, "idx" -> idx, "q" -> q,
        "t0" -> t0, "t1" -> nowMs, "rows" -> rows, "err" -> err)
    }

    // Warm-up: untimed passes of the timed operation itself, one client,
    // in the workload's session mode. After the correctness pass the JIT is
    // far from settled: it compiles hundreds of methods a second for the
    // next half minute, and it settles with executions, not with time (an
    // idle pause here did not shorten it). The board's passes run 1.5-3
    // times their steady time for about ten passes, the LLM slice's 1.3
    // times for one; timing passes on that slope made every run's figures
    // depend on how far its JIT had got. Concurrent warm-up clients raced
    // on the shared session's memo fills, so there is one.
    runWindow("warm", plan.queries, _ < plan.warm)(timedOp("warm"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    emit("t" -> "setup", "session_s" -> (tSession - jvmStart) / 1e3,
      "check_s" -> (tCheck - tSession) / 1e3, "warm_s" -> (nowMs - tCheck) / 1e3)

    def window(win: String, passes: Int)(op: (Int, Int, String) => Unit): Unit = {
      gauge(win, "start", spark)
      val w0 = nowMs
      runWindow(win, plan.queries, _ < passes)(op)
      emit("t" -> "window", "win" -> win, "start" -> w0, "end" -> nowMs)
      gauge(win, "end", spark, heap = win == "main")
    }

    if (!plan.trace) {
      window("main", plan.passes)(timedOp("main"))
    } else {
      // Traced passes, the same passes untraced, then the traced passes
      // again: the untraced window sits between the two traced ones so that
      // warm-up drift cancels out of the overhead, and the second traced
      // window repeats the first for the structural-repeat check.
      val sc = spark.sparkContext
      val rec = new Recorder
      sc.addSparkListener(rec)
      val passes = (plan.passes + 1) / 2
      window("t1", passes)((p, i, q) => tracedOp(session(), plan, "t1", fn)(p, i, q))
      ListenerDrain(sc)
      sc.removeSparkListener(rec)
      window("base", passes)(timedOp("base"))
      sc.addSparkListener(rec)
      window("t2", passes)((p, i, q) => tracedOp(session(), plan, "t2", fn)(p, i, q))
      ListenerDrain(sc)
      sc.removeSparkListener(rec)
    }

    val out = new java.io.PrintWriter(plan.out, "UTF-8")
    try records.asScala.foreach(out.println) finally out.close()
    spark.stop()
    sys.exit(0)
  }

  /** One traced operation: build, plan and action as separate spans. The
    * action is `groupBy().count()` collected — the same work as `count()` —
    * so that the planner's phase times can be read from its own
    * QueryExecution before it runs. */
  private def tracedOp(s: SparkSession, plan: Plan, win: String,
      fn: String => (SparkSession, String) => org.apache.spark.sql.DataFrame)(
      pass: Int, idx: Int, q: String): Unit = {
    val id = s"$win/$pass/$idx"
    val sc = s.sparkContext
    sc.setLocalProperty(OpKey, id)
    val before = s.conf.getAll
    val t0 = nowMs
    var tb: Option[Double] = None
    var tp: Option[Double] = None
    var rows = -1L
    var phases = Map.empty[String, Double]
    val err = try {
      sc.setLocalProperty(PhaseKey, "build")
      val df = fn(q)(s, plan.sf)
      tb = Some(nowMs)
      sc.setLocalProperty(PhaseKey, "plan")
      val c = df.groupBy().count()
      c.queryExecution.executedPlan
      tp = Some(nowMs)
      sc.setLocalProperty(PhaseKey, "action")
      rows = c.collect()(0).getLong(0)
      phases = c.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
      None
    } catch { case NonFatal(e) => Some(describe(e)) }
    val t1 = nowMs
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(PhaseKey, null)
    emit("t" -> "op", "win" -> win, "pass" -> pass, "idx" -> idx, "q" -> q, "id" -> id, "t0" -> t0, "tb" -> tb, "tp" -> tp,
      "t1" -> t1, "rows" -> rows, "err" -> err, "phases" -> phases,
      "conf_before" -> before, "conf_after" -> s.conf.getAll)
  }
}
