package graft.streaming

import org.apache.datasketches.hll.{HllSketch, TgtHllType}
import org.apache.spark.sql.Encoders

/** Per-key (e.g. per-day) streaming HLL distinct-count maintainer —
  * MERGEABLE-SKETCH state, the streaming half of the qagg_hll_sketch /
  * qagg_hll_sliding warehouse pattern: each key's state is ONE serialized
  * HllSketch (lgK, HLL_8 — the configuration of Spark's
  * `hll_sketch_agg(col, lgK)`; both route through datasketches-java),
  * arrivals update it in place.
  *
  * Estimator choice is the determinism-critical detail: the library's
  * default `getEstimate` prefers the HIP (historical inverse
  * probability) estimator, whose accumulator depends on INSERTION
  * HISTORY — two builds over the same distinct set in different orders,
  * or a merged vs sequential build, legitimately emit slightly different
  * numbers (which is also why `hll_sketch_agg`'s estimate varies with
  * partitioning). This processor emits `getCompositeEstimate` instead —
  * a pure function of the REGISTER state, and registers are
  * max-commutative, so the emitted estimate is identical however the
  * stream is micro-batched, ordered, or partitioned. StreamingExtrasSpec
  * pins exactly that: stream final ≡ a sequential golden build's
  * composite estimate (bit-equal), and ≈ `hll_sketch_agg` within sketch
  * tolerance.
  *
  * State per key is the ~2^lgK-byte sketch — constant, never
  * per-distinct-element (the whole point vs the exact dropDuplicates
  * twin `slidingDistinctStream`, whose state is one row per membership).
  * At corpus scale this is the only viable rolling-distinct state shape.
  *
  * Input: (key, value-to-count). Output: (key, estimate) per touched key
  * per batch.
  */
final class HllStateProcessor(lgK: Int = 12)
    extends KeyedFold[Long, (Long, Long), Array[Byte], HllSketch, (Long, Long)](
      "hll", Encoders.BINARY, KeyedFold.arrival) {

  protected def load(stored: Option[Array[Byte]]): HllSketch =
    stored.map(HllSketch.heapify).getOrElse(new HllSketch(lgK, TgtHllType.HLL_8))
  protected def store(s: HllSketch): Array[Byte] = s.toUpdatableByteArray

  protected def step(key: Long, s: HllSketch, row: (Long, Long),
      emit: ((Long, Long)) => Unit): HllSketch = {
    s.update(row._2)
    s
  }

  override protected def finish(key: Long, s: HllSketch): Iterator[(Long, Long)] =
    Iterator.single((key, Math.round(s.getCompositeEstimate)))
}
