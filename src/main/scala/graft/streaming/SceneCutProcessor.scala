package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-asset state behind [[graft.analytics.MultimodalOps.sceneCutStream]]:
  * the previous frame's (histogram, length) plus the running
  * (n_frames, n_cuts, first_cut) — so the histogram-delta cut rule
  * (2·L1 > flen + prev_flen, exactly [[graft.analytics.MultimodalOps.sceneCuts]])
  * keeps firing across micro-batch boundaries: a cut whose two frames
  * arrive in different batches is detected from the 40-byte state, not by
  * re-reading earlier frames. Within a batch rows sort by frame_idx (the
  * same in-order contract as the CEP processor); across batches frames
  * are assumed to arrive batch-monotonically, as a frame extractor
  * produces them.
  *
  * Input: (doc_id, frame_idx, flen, hist). Output after each batch that
  * touches the asset: (doc_id, n_frames, n_cuts, first_cut | -1).
  */
final case class SceneState(hist: Seq[Long], flen: Int, n: Long,
    cuts: Long, first: Int)

final class SceneCutProcessor
    extends KeyedFold[Long, (Long, Int, Int, Seq[Long]), SceneState, SceneState,
      (Long, Long, Long, Int)](
      "scene", Encoders.product[SceneState], Ordering.by(_._2)) {

  protected def load(stored: Option[SceneState]): SceneState =
    stored.getOrElse(SceneState(Nil, 0, 0L, 0L, -1))
  protected def store(s: SceneState): SceneState = s

  protected def step(key: Long, s: SceneState, row: (Long, Int, Int, Seq[Long]),
      emit: ((Long, Long, Long, Int)) => Unit): SceneState = {
    val (_, idx, flen, hist) = row
    var next = s
    if (s.n > 0L) {
      var l1 = 0L
      var i = 0
      while (i < hist.length) { l1 += math.abs(hist(i) - s.hist(i)); i += 1 }
      if (2L * l1 > flen + s.flen)
        next = s.copy(cuts = s.cuts + 1, first = if (s.first < 0) idx else s.first)
    }
    next.copy(hist = hist, flen = flen, n = s.n + 1)
  }

  override protected def finish(key: Long, s: SceneState): Iterator[(Long, Long, Long, Int)] =
    Iterator.single((key, s.n, s.cuts, s.first))
}
