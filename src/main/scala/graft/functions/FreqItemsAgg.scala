package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter summary as a native Catalyst
  * `TypedImperativeAggregate`: at most `k` (item, counter) pairs per
  * aggregation buffer, mergeable (Agarwal et al., "Mergeable Summaries",
  * PODS 2012), byte-serializable for shuffle/spill. The deterministic
  * guarantees that hold REGARDLESS of row order or merge tree shape:
  *
  *  - `est(x) <= true(x)` for every item x in the summary;
  *  - `true(x) - est(x) <= N / (k+1)` where N is the total (non-null)
  *    input count — so every item with true frequency > N/(k+1) is
  *    guaranteed present in the summary.
  *
  * Update is the classic stream rule (hit: +1; room: insert at 1; full:
  * decrement ALL counters, dropping zeros — amortized O(1) per row since
  * each decrement pass destroys k+1 units of mass). Merge is the
  * mergeable-summaries rule: sum counters pointwise, then if more than k
  * survive, subtract the (k+1)-th largest counter value from every
  * counter and drop the non-positive ones. Both keep the additive error
  * within the combined streams' N/(k+1).
  *
  * This is the 100 TB frequent-items pattern: constant bytes per group no
  * matter how many distinct items flow through (the exact groupBy's state
  * is the full item domain), partial aggregation does almost all the work
  * map-side, and per-partition summaries merge losslessly w.r.t. the
  * error contract. The exact counterpart for the verified output is one
  * extra aggregation over the same scan (see `SketchOps.heavyHitters`).
  */
case class FreqItemsMG(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[JHashMap[String, java.lang.Long]]
  with UnaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "graft_freq_items"
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): JHashMap[String, java.lang.Long] =
    new JHashMap[String, java.lang.Long](k * 2)

  override def update(
      b: JHashMap[String, java.lang.Long],
      input: InternalRow): JHashMap[String, java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) MGSummary.update(b, v.asInstanceOf[UTF8String].toString, k)
    b
  }

  override def merge(
      b: JHashMap[String, java.lang.Long],
      o: JHashMap[String, java.lang.Long]): JHashMap[String, java.lang.Long] =
    MGSummary.mergeInto(b, o, k)

  override def eval(b: JHashMap[String, java.lang.Long]): Any = {
    val n = b.size
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = UTF8String.fromString(e.getKey)
      vals(i) = e.getValue.longValue()
      i += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  override def serialize(b: JHashMap[String, java.lang.Long]): Array[Byte] =
    MGSummary.serialize(b)

  override def deserialize(bytes: Array[Byte]): JHashMap[String, java.lang.Long] =
    MGSummary.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): FreqItemsMG =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItemsMG =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): FreqItemsMG =
    copy(child = c)
}

/** The Misra–Gries core of the batch aggregate ([[FreqItemsMG]]): one
  * update rule, one merge rule, one wire format, with the
  * est ≤ true / deficit ≤ N/(k+1) contract.
  */
object MGSummary {

  /** Stream update: hit +1; room: insert at 1; full: decrement all. */
  def update(b: JHashMap[String, java.lang.Long], s: String, k: Int): Unit = {
    val cur = b.get(s)
    if (cur != null) b.put(s, cur + 1L)
    else if (b.size < k) b.put(s, 1L)
    else {
      val it = b.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  /** Mergeable-summaries merge: pointwise sum, then subtract the
    * (k+1)-th largest counter and drop non-positive if over capacity.
    */
  def mergeInto(b: JHashMap[String, java.lang.Long],
      o: JHashMap[String, java.lang.Long], k: Int): JHashMap[String, java.lang.Long] = {
    val it = o.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = b.get(e.getKey)
      b.put(e.getKey,
        if (cur == null) e.getValue else java.lang.Long.valueOf(cur + e.getValue))
    }
    if (b.size > k) {
      val vals = new Array[Long](b.size)
      var i = 0
      val vit = b.values().iterator()
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val sub = vals(vals.length - (k + 1)) // (k+1)-th largest
      val eit = b.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getValue <= sub) eit.remove() else e.setValue(e.getValue - sub)
      }
    }
    b
  }

  def serialize(b: JHashMap[String, java.lang.Long]): Array[Byte] = {
    var bytes = 4
    val entries = new Array[(Array[Byte], Long)](b.size)
    var i = 0
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(StandardCharsets.UTF_8)
      entries(i) = (kb, e.getValue.longValue())
      bytes += 4 + kb.length + 8
      i += 1
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(entries.length)
    entries.foreach { case (kb, v) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(v)
    }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): JHashMap[String, java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new JHashMap[String, java.lang.Long](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val kb = new Array[Byte](len)
      bb.get(kb)
      b.put(new String(kb, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    b
  }
}

object FreqItemsAgg {
  /** Misra–Gries summary of a string column: map item -> estimated count,
    * at most `k` entries, est <= true, true - est <= N/(k+1).
    */
  def graft_freq_items(c: Column, k: Int): Column =
    GraftColumnBridge.column(
      FreqItemsMG(GraftColumnBridge.expression(c), k).toAggregateExpression())
}
