package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Misra-Gries heavy-hitters summary used by `mg_heavy_hitters`. Keeps at
  * most `k` (item → count) counters; overflow decrements every counter
  * (the classic frequent algorithm — fully deterministic, no RNG, no
  * hashing error). Guarantee: estimates undercount by at most n/(k+1), so
  * EVERY item with true frequency > n/k survives in the summary — under
  * any partitioning and any merge order (mergeability per Agarwal et al.,
  * "Mergeable Summaries", PODS'12: sum counters, then subtract the
  * (k+1)-th largest count and drop non-positives).
  *
  * That superset guarantee is what the declared query's oracle leans on:
  * filtering the sketch's candidates by their EXACT counts (a second
  * aggregate) yields exactly the > n/k item set, which DuckDB states
  * relationally. State is O(k) longs per group — at 100 TB the shuffle
  * carries k counters per (group, partition), never the item universe.
  */
final class MGSummary(val k: Int) extends Serializable {
  val counters: mutable.LongMap[Long] = mutable.LongMap.empty
  var n: Long = 0L

  def update(item: Long): Unit = {
    n += 1
    val cur = counters.getOrElse(item, 0L) // counts are always >= 1
    if (cur > 0L) counters(item) = cur + 1L
    else if (counters.size < k) counters(item) = 1L
    else decrementAll(1L)
  }

  private def decrementAll(by: Long): Unit = {
    val dead = mutable.ArrayBuffer.empty[Long]
    counters.foreachEntry { (it, c) =>
      if (c <= by) dead += it else counters(it) = c - by
    }
    dead.foreach(counters.remove)
  }

  def merge(other: MGSummary): MGSummary = {
    n += other.n
    other.counters.foreachEntry { (it, c) =>
      counters(it) = counters.getOrElse(it, 0L) + c
    }
    if (counters.size > k) {
      // subtract the (k+1)-th largest count, drop non-positive counters
      val sorted = counters.values.toArray
      java.util.Arrays.sort(sorted)
      val cut = sorted(sorted.length - k - 1)
      decrementAll(cut)
    }
    this
  }

  /** Surviving candidate items, ascending (deterministic output order). */
  def items: Array[Long] = { val a = counters.keys.toArray; java.util.Arrays.sort(a); a }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k); out.writeLong(n); out.writeInt(counters.size)
    counters.foreachEntry { (it, c) => out.writeLong(it); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }
}

object MGSummary {
  def deserialize(bytes: Array[Byte]): MGSummary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new MGSummary(in.readInt())
    s.n = in.readLong()
    val m = in.readInt()
    var i = 0
    while (i < m) { s.counters(in.readLong()) = in.readLong(); i += 1 }
    s
  }
}

/** `mg_heavy_hitters(item, k)` — TypedImperativeAggregate returning the
  * array<bigint> of Misra-Gries candidates: a guaranteed superset of all
  * items occurring more than n/k times in the group.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MGSummary] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mg_heavy_hitters expects an integral item column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): MGSummary = new MGSummary(k)

  override def update(buffer: MGSummary, input: InternalRow): MGSummary = {
    val v = child.eval(input)
    if (v != null) buffer.update(v match {
      case l: Long => l
      case i: Int => i.toLong
      case sh: Short => sh.toLong
      case b: Byte => b.toLong
    })
    buffer
  }

  override def merge(buffer: MGSummary, input: MGSummary): MGSummary = buffer.merge(input)

  override def eval(buffer: MGSummary): Any = new GenericArrayData(buffer.items)

  override def serialize(buffer: MGSummary): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): MGSummary = MGSummary.deserialize(bytes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "mg_heavy_hitters"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0))
}

object MisraGriesAgg {
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"mg_heavy_hitters expects (item, k), got ${exprs.length} args")
    val k = exprs(1) match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"mg_heavy_hitters: k must be an integer literal, got $other")
    }
    require(k > 0, "mg_heavy_hitters: k must be positive")
    MisraGriesAgg(exprs.head, k)
  }
}
