package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one driver-side memo, keyed by (scope, key). The scope
  * is compared by identity: the SparkContext for values derived from
  * data, shared by every session (schemas, cached relations, corpus
  * verdicts, stream batches); the SparkSession for values bound to it
  * (readers, a memory sink's temp view). A key carries only what decides
  * the value, never a session's hashCode; the sfDir parquet is assumed
  * immutable.
  *
  * A hit takes no lock. A miss is single-flight per key; a build that
  * throws leaves no entry. Entries of a stopped context are dropped on
  * the next miss.
  */
object Memo {
  private final class Cell { @volatile var value: AnyRef = _ }
  private val entries = new java.util.concurrent.ConcurrentHashMap[(AnyRef, String), Cell]()

  private def get[T <: AnyRef](scope: AnyRef, key: String, live: T => Boolean)(build: => T): T = {
    val k = (scope, key)
    def valid(c: Cell) = c != null && c.value != null && live(c.value.asInstanceOf[T])
    val hit = entries.get(k)
    if (valid(hit)) hit.value.asInstanceOf[T]
    else {
      evictStopped()
      val cell = entries.computeIfAbsent(k, _ => new Cell)
      cell.synchronized {
        if (entries.get(k) ne cell) get(scope, key, live)(build) // its build threw
        else if (valid(cell)) cell.value.asInstanceOf[T]
        else try { val b = build; cell.value = b; b }
        catch { case e: Throwable => entries.remove(k, cell); throw e }
      }
    }
  }

  /** A value derived from data, shared by every session of `s`'s context. */
  def context[T <: AnyRef](s: SparkSession, key: String)(build: => T): T =
    get[T](s.sparkContext, key, _ => true)(build)

  /** A value bound to the session `s`. */
  def session[T <: AnyRef](s: SparkSession, key: String)(build: => T): T =
    get[T](s, key, _ => true)(build)

  /** A cached relation shared by every session of `s`'s context; `build`
    * returns the persisted handle. A handle whose cache entry was
    * released (`unpersist`, or `catalog.clearCache()` from any session)
    * is rebuilt: one CacheManager lookup per hit. The handle comes back
    * re-rooted into `s`, unless `s` owns it. */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    GraftSession.reroot(s,
      get[DataFrame](s.sparkContext, key, _.storageLevel != StorageLevel.NONE)(build))
  }

  /** Unpersist and forget every cached relation of `s`'s context,
    * whichever session built it; returns how many. Queries rebuild
    * transparently afterwards. */
  def release(s: SparkSession): Int = {
    val sc = s.sparkContext
    entries.asScala.toSeq.count {
      case (k @ (scope, _), cell) => (scope eq sc) && (cell.value match {
        case df: Dataset[_] if entries.remove(k, cell) => df.unpersist(blocking = true); true
        case _ => false
      })
    }
  }

  /** Drop every entry whose context is stopped, in any scope. Runs on
    * each miss; public so multi-context smokes can assert it. */
  def evictStopped(): Unit =
    entries.keySet.removeIf { case (scope, _) => contextOf(scope).isStopped }

  /** (scope, key) of every live entry. */
  private[graft] def keys: Seq[(AnyRef, String)] = entries.keySet.asScala.toSeq

  private def contextOf(scope: AnyRef): SparkContext = scope match {
    case sc: SparkContext => sc
    case s: SparkSession => s.sparkContext
  }
}
