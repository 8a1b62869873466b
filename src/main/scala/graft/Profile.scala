package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Diagnosis main for declared queries, on the graded session recipe
  * ([[GraftSession.local]] at `SPARK_GRAFT_CPUS` cores). Not part of any
  * gate.
  *
  *   sbt "runMain graft.Profile [--plan] <sfDir> <query> [query ...]"
  *
  * Runs each query twice (the second, post-JIT pass is the one to read)
  * and prints rows, build and total wall time and job count, then every
  * job's wall time, phase and stages, every stage's IO volumes, and every
  * cached block that left memory — so a multi-job query (materialize +
  * eager picks + the returned plan) shows where its seconds go. A job's
  * phase is the job description set while it was submitted, `<query>
  * build` or `<query> action`; AQE's pool threads inherit it with the
  * caller's local properties. `--plan` adds the executed
  * plan of the second pass's `count()` after it ran (AQE-final, with the
  * ReusedExchange/ReusedSubquery nodes a pre-action explain cannot show).
  *
  *   sbt -batch -error "runMain graft.Profile --budget <sf0.001 dir>" \
  *     > src/test/resources/shuffle_budget.tsv
  *
  * prints `name<TAB>shuffle exchanges` for every declared query at
  * `local[8]` over the suite's sf0.001 fixtures: the source of truth for
  * the budgets PlanGuardSpec enforces. Shuffle exchanges, not
  * broadcasts, are counted, because they decide whether a plan survives a
  * 100× scale-up.
  */
object Profile {
  def main(args: Array[String]): Unit = args.toList match {
    case "--budget" :: sfDir :: Nil => budget(sfDir)
    case "--plan" :: sfDir :: names => profile(sfDir, names, plan = true)
    case sfDir :: names if !sfDir.startsWith("--") => profile(sfDir, names, plan = false)
    case _ => sys.error("usage: graft.Profile [--plan] <sfDir> <query> [query ...] | --budget <sfDir>")
  }

  private def budget(sfDir: String): Unit = {
    val spark = GraftSession.local(8)
    SparkEntry.specs.sortBy(_.name).foreach { sp =>
      // visible shuffles in the final plan + shuffles hidden behind any
      // ScalableCumulate.materialize checkpoint built during construction
      // (round-9 advice: the checkpoint must not create a budget blind
      // spot) — PlanGuardSpec counts with the same budgetCount.
      ops.ScalableCumulate.resetHiddenShuffles()
      println(s"${sp.name}\t${ops.ScalableCumulate.budgetCount(sp.fn(spark, sfDir))}")
    }
    ops.ScalableCumulate.endAudit()
    spark.stop()
  }

  private def profile(sfDir: String, names: Seq[String], plan: Boolean): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    val starts = mutable.Map[Int, (Long, String)]()
    val lines = mutable.ArrayBuffer[String]()
    // job count tracked separately from `lines` (round-14 ADVICE): lines
    // also accumulates per-stage and per-block-update entries, so its
    // size is NOT the job count
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(),
          s"[${Option(j.properties).map(_.getProperty("spark.job.description")).orNull}] " +
            s"stages=${j.stageInfos.size} " +
            j.stageInfos.map(_.name.takeWhile(_ != '\n').take(60)).mkString(" | "))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobCount.incrementAndGet()
        starts.remove(j.jobId).foreach { case (t0, site) =>
          lines += f"  job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s  $site"
        }
      }
      // Per-stage wall + IO volumes: the job lines say WHICH job is
      // slow; these say WHAT the slow job's stages moved.
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
        val i = st.stageInfo
        val m = i.taskMetrics
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        lines += f"    stage ${i.stageId}%3d $wall%6.2f s tasks=${i.numTasks}%3d " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          f"spill=${m.memoryBytesSpilled / 1e6}%6.1fMB " +
          i.name.takeWhile(_ != '\n').take(40)
      }
      // A cached block leaving memory mid-query: its storage level lost
      // useMemory (spilled to disk) or became invalid (dropped entirely →
      // lineage recompute on the next read).
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
        val lvl = b.blockUpdatedInfo.storageLevel
        val id = b.blockUpdatedInfo.blockId
        if (id.isRDD && !lvl.isValid)
          lines += s"  block DROP $id (recompute on next read)"
        else if (id.isRDD && !lvl.useMemory && lvl.useDisk)
          lines += s"  block to-disk $id"
      }
    })
    names.foreach { name =>
      (1 to 2).foreach { pass =>
        lines.clear()
        jobCount.set(0)
        val sc = spark.sparkContext
        val t0 = System.nanoTime()
        sc.setJobDescription(s"$name build")
        // what `count()` runs, kept so its executed plan can be printed
        val counted = SparkEntry.queries(name)(spark, sfDir).groupBy().count()
        val build = (System.nanoTime() - t0) / 1e9
        sc.setJobDescription(s"$name action")
        val n = try counted.collect().head.getLong(0) finally sc.setJobDescription(null)
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the listener bus drain before printing
        println(f"[profile] $name pass=$pass rows=$n build=$build%.3f s total=$total%.3f s " +
          s"jobs=${jobCount.get()} events=${lines.size}")
        lines.foreach(println)
        if (plan && pass == 2) println(counted.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
