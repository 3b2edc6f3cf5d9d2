package graft.streaming

import java.util.{HashMap => JHashMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoders

import graft.functions.MGSummary

/** Per-key streaming Misra–Gries heavy-hitter maintainer — the
  * "trending items" twin of the batch `graft_freq_items` aggregate
  * (`graft.functions.FreqItemsMG`): each key (e.g. epoch day) carries ONE
  * ≤k-counter summary as state, arrivals apply the identical stream
  * update rule through the shared [[MGSummary]] core, and every batch
  * emits the key's full current summary.
  *
  * State per key is O(k) bytes no matter how many distinct items flow
  * through — the constant-state property that makes per-window trending
  * feasible at corpus scale (the exact counterpart keeps the full item
  * domain per window). The emitted estimates satisfy the deterministic
  * Misra–Gries contract at every emission: est ≤ true,
  * true − est ≤ N_key/(k+1) with N_key the key's arrivals so far, and
  * any item with true frequency > N_key/(k+1) is present. With a
  * single-partition source the final summary is additionally
  * bit-identical to a sequential batch build over the same rows in
  * arrival order (StreamingExtrasSpec pins both).
  *
  * Input: (key, item). Output: (key, item, est) — the whole summary of
  * each touched key per micro-batch (append mode; readers take the
  * latest emission per key).
  */
final class FreqItemsProcessor(k: Int)
    extends KeyedFold[Long, (Long, String), Array[Byte], JHashMap[String, java.lang.Long],
      (Long, String, Long)](
      "mg", Encoders.BINARY, KeyedFold.arrival) {

  protected def load(stored: Option[Array[Byte]]): JHashMap[String, java.lang.Long] =
    stored.map(MGSummary.deserialize)
      .getOrElse(new JHashMap[String, java.lang.Long](k * 2))
  protected def store(m: JHashMap[String, java.lang.Long]): Array[Byte] = MGSummary.serialize(m)

  protected def step(key: Long, m: JHashMap[String, java.lang.Long], row: (Long, String),
      emit: ((Long, String, Long)) => Unit): JHashMap[String, java.lang.Long] = {
    MGSummary.update(m, row._2, k)
    m
  }

  override protected def finish(key: Long,
      m: JHashMap[String, java.lang.Long]): Iterator[(Long, String, Long)] =
    m.entrySet().iterator().asScala.toList
      .map(e => (key, e.getKey, e.getValue.longValue())).iterator
}
