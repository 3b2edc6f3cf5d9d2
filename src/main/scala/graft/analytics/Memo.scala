package graft.analytics

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memoization of deterministic shared intermediates —
  * the "materialize the shared dimension once" pattern. Several query
  * bindings derive the same frame (the customer↔supplier trade graph,
  * the simhash near-dup clustering) before diverging; without sharing,
  * a suite run re-executes that common prefix once per binding. The
  * memo materializes it once per (session, key) via an eager
  * `localCheckpoint`, so every consumer reads the same blocks and the
  * plan downstream of the checkpoint stays flat.
  *
  * Correctness: only DETERMINISTIC builds may be memoized (all graft
  * intermediates are — the determinism discipline is engine-wide), so
  * reuse is observationally identical to recomputation. Keys embed the
  * data directory, so different SFs never collide.
  *
  * Scale: the memoized frames are reduced intermediates (edge lists,
  * label frames, centroid tables), not raw corpora; on a cluster this
  * is exactly the "stage table reused across downstream jobs" shape —
  * localCheckpoint keeps blocks on executors, sized by the intermediate,
  * not the input.
  */
object Memo {
  private val frames = TrieMap.empty[(Int, String), DataFrame]
  private val values = TrieMap.empty[(Int, String), Any]

  /** Memoize a non-DataFrame deterministic artifact (trained centroid
    * literals, fitted thresholds) under `key` for the lifetime of
    * `spark`. Same determinism contract as [[cached]].
    */
  def value[T](spark: SparkSession, key: String)(build: => T): T =
    values.getOrElseUpdate((System.identityHashCode(spark), key), build)
      .asInstanceOf[T]

  /** Memoize `build` under `key` for the lifetime of `spark`. The result
    * is eagerly materialized with `localCheckpoint()` unless the builder
    * already returns a checkpointed frame (`checkpoint = false`).
    *
    * Storage profile (r13 verdict task 4): localCheckpoint's default
    * level keeps DESERIALIZED row objects in memory — a >1 GB memo
    * frame's per-object overhead evicts blocks to disk, and on the
    * rehearsal box that write-back is the measurement noise floor
    * (18–80 s run-to-run on a 58.7M-row frame, pure iowait —
    * EXPLAINS_r13 §1b). `SPARK_GRAFT_MEMO_SER=1` switches memo blocks
    * to MEMORY_AND_DISK_SER: partitions stored as one serialized
    * buffer (UnsafeRow bytes, no per-object headers), several-fold
    * smaller, so they STAY in memory; reads pay a deserialize copy —
    * cheap next to virtual-disk writeback, but nonzero, which is why
    * it is a profile (rehearsal/sf10 runs) and not the default (bench
    * at sf0.1, where every memo fits in memory deserialized anyway).
    * Pair with SPARK_LOCAL_DIRS on tmpfs to take shuffle spill off the
    * virtual disk too.
    */
  def cached(spark: SparkSession, key: String, checkpoint: Boolean = true)(
      build: => DataFrame): DataFrame =
    frames.getOrElseUpdate((System.identityHashCode(spark), key),
      if (!checkpoint) build
      else if (sys.env.get("SPARK_GRAFT_MEMO_SER").contains("1"))
        build.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else build.localCheckpoint())

  /** Drop all memoized frames. Bench calls this between interleaved
    * passes: within a pass the sharing is real suite economics (the first
    * consumer pays the build), but letting a memo survive into the next
    * pass would let min-over-passes report a query as cheaper than any
    * cold suite run can be.
    */
  def clear(): Unit = { frames.clear(); values.clear() }
}
