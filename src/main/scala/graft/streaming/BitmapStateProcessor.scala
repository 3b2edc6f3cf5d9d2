package graft.streaming

import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.Encoders

import graft.functions.BitmapPages

/** Per-key streaming EXACT distinct-count maintainer on paged-bitmap
  * state — the streaming twin of the `graft_bitmap_distinct` native
  * aggregate (qagg_bitmap_distinct), sharing its update/merge/wire core
  * ([[graft.functions.BitmapPages]]) the way the trending twin shares
  * MGSummary. Each key's state is ONE serialized page map (4096-bit
  * pages, present-word mask encoding); arrivals OR bits in place.
  *
  * Sits between the engine's two other rolling-distinct shapes: the
  * exact `slidingDistinctStream` carries a state ROW PER MEMBERSHIP
  * (state scales with distincts seen), the HLL twin
  * ([[HllStateProcessor]]) is constant-state but approximate. For dense
  * BIGINT id domains the bitmap is exact at ~1 bit per domain slot:
  * 10⁶ clustered users/day is ~125 KB of state per day-key, one row.
  *
  * Determinism is STRUCTURAL, stronger than the HLL twin's composite-
  * estimate argument: bitwise OR is commutative, associative, and
  * idempotent, so any micro-batching, arrival order, or at-least-once
  * replay yields the identical bitmap — the emitted count is pinned
  * bit-exact to batch `countDistinct` / `graft_bitmap_distinct` with no
  * tolerance clause anywhere.
  *
  * Input: (key, id). Output: (key, exact distinct) per touched key per
  * batch.
  */
final class BitmapStateProcessor
    extends KeyedFold[Long, (Long, Long), Array[Byte],
      JHashMap[java.lang.Long, Array[Long]], (Long, Long)](
      "bitmap", Encoders.BINARY, KeyedFold.arrival) {

  protected def load(stored: Option[Array[Byte]]): JHashMap[java.lang.Long, Array[Long]] =
    stored.map(BitmapPages.deserialize)
      .getOrElse(new JHashMap[java.lang.Long, Array[Long]]())
  protected def store(pages: JHashMap[java.lang.Long, Array[Long]]): Array[Byte] =
    BitmapPages.serialize(pages)

  protected def step(key: Long, pages: JHashMap[java.lang.Long, Array[Long]],
      row: (Long, Long), emit: ((Long, Long)) => Unit): JHashMap[java.lang.Long, Array[Long]] = {
    BitmapPages.add(pages, row._2)
    pages
  }

  override protected def finish(key: Long,
      pages: JHashMap[java.lang.Long, Array[Long]]): Iterator[(Long, Long)] =
    Iterator.single((key, BitmapPages.cardinality(pages)))
}
