package graft.streaming

import java.nio.ByteBuffer
import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalCounterExecutor
import graft.model._

/** Checkpoint/restart (the reference's C1: 5 s AT_LEAST_ONCE checkpointing
  * → Spark checkpointLocation + state store commit per batch) and
  * event-time windowing with watermarks — the streaming capability the
  * analytics plane adds beyond the reference's processing-time-only
  * surface (WatermarkStrategy.noWatermarks, StateFlowFlinkJob.java:69).
  */
class StreamingExtrasSpec extends AnyFunSuite with BeforeAndAfterAll {

  // every keyed-state test here runs on the RocksDB store, which
  // transformWithState requires
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val acct = FunctionType("global", "Account", stateful = true)
  private def delta(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
  private def asLong(b: Array[Byte]): Long = ByteBuffer.wrap(b).getLong

  /** Per-batch sink of [[StateflowPipeline.start]] that keeps the CLIENT replies. */
  private def collectReplies(into: mutable.Buffer[Event])(batch: Dataset[WireRoute]): Unit = {
    import spark.implicits._
    val client = batch.filter(_.direction == RouteDirection.CLIENT)
      .map(_.event).collect().map(ProtoCodec.decodeEvent)
    into.synchronized { into ++= client }
  }

  test("state survives restart on transformWithState + RocksDB") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-restart").toString
    val input = MemoryStream[Array[Byte]](spark)
    val replies = mutable.Buffer.empty[Event]

    def startQuery() = StateflowPipeline.start(input.toDS(), new LocalCounterExecutor,
      ckpt, JobConfig())(collectReplies(replies))

    val keyed = FunctionAddress(acct, "rk2")
    val q1 = startQuery()
    input.addData(ProtoCodec.encode(Event.request("r1", keyed, Request.InvokeStateful, delta(2))))
    input.addData(ProtoCodec.encode(Event.request("r2", keyed, Request.InvokeStateful, delta(3))))
    q1.processAllAvailable()
    q1.stop()

    // restart against the same checkpoint: per-key state must be restored
    val q2 = startQuery()
    input.addData(ProtoCodec.encode(Event.request("r3", keyed, Request.GetState)))
    q2.processAllAvailable()
    q2.stop()

    val got = replies.synchronized(replies.find(_.eventId == "r3"))
    assert(got.isDefined, s"no GetState reply after restart: $replies")
    assert(asLong(got.get.payload) == 5L, "state lost across restart")
  }

  test("state survives a restart across a RocksDB snapshot boundary") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-snapshot").toString
    val input = MemoryStream[Array[Byte]](spark)
    val replies = mutable.Buffer.empty[Event]
    def startQuery() = StateflowPipeline.start(input.toDS(), new LocalCounterExecutor,
      ckpt, JobConfig())(collectReplies(replies))

    // 13 committed batches: past the default minDeltasForSnapshot of 10, so
    // recovery loads a snapshot and replays the changelog files after it
    val keyed = FunctionAddress(acct, "snap1")
    val q1 = startQuery()
    for (v <- 1 to 13) {
      input.addData(ProtoCodec.encode(Event.request(s"s$v", keyed, Request.InvokeStateful, delta(v))))
      q1.processAllAvailable()
    }
    q1.stop()
    // each state partition holds a snapshot below version 13 and the
    // changelog up to 13, so the restart must replay changelog files
    val parts = new java.io.File(ckpt, "state/0").listFiles().filter(_.getName.forall(_.isDigit))
    assert(parts.length == 4, parts.toSeq)
    for (part <- parts; names = part.list().toSet)
      assert(names("13.changelog") && (1 to 12).exists(v => names(s"$v.zip")), s"$part: $names")

    val q2 = startQuery()
    input.addData(ProtoCodec.encode(Event.request("sget", keyed, Request.GetState)))
    q2.processAllAvailable()
    q2.stop()

    val got = replies.synchronized(replies.find(_.eventId == "sget"))
    assert(got.isDefined, s"no GetState reply after restart: $replies")
    assert(asLong(got.get.payload) == (1 to 13).sum.toLong, "state lost across restart")
  }

  test("streaming near-dup: a later-batch near-duplicate is flagged") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val input = MemoryStream[(Long, String)](spark)
    val out = graft.analytics.DedupOps.nearDupStream(
      input.toDS().toDF("doc_id", "text"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-neardup").toString)
      .start()
    // batch 1: the original + an unrelated doc
    input.addData((1L, base), (2L, "the quick brown fox jumps over a dog"))
    q.processAllAvailable()
    val afterB1 = spark.table("neardup_out").count()
    // batch 2: a near-dup of doc 1 (one word appended: jaccard = 18/19)
    input.addData((3L, base + " chi"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterB1 == 0, s"false positives in batch 1: $afterB1")
    assert(pairs.exists(p => p._1 == 3L && p._2 == 1L && p._3 >= 0.8),
      s"later-batch near-dup not flagged against stored state: $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated doc flagged: $pairs")
  }

  test("streaming weighted reservoir equals the batch sampler on everything seen") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(String, Long, Long)](spark)
    val out = graft.analytics.TextOps.weightedReservoirStream(
      input.toDS().toDF("stratum", "doc_id", "w"), k = 3)
    @volatile var last: Map[String, Set[(Long, Long, Long)]] = Map.empty
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val grouped = df.collect().groupBy(_.getString(0)).map { case (s, rs) =>
          s -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        }
        last = last ++ grouped // post-batch snapshot replaces prior per stratum
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-reservoir").toString)
      .start()
    val b1 = Seq(("a", 1L, 10L), ("a", 2L, 1L), ("a", 3L, 500L), ("a", 4L, 2L),
      ("b", 11L, 7L), ("b", 12L, 7L))
    input.addData(b1: _*)
    q.processAllAvailable()
    // batch 2 brings heavier weights that must displace batch-1 picks,
    // plus a re-delivery of a row already sampled (must not double-fill)
    val b2 = Seq(("a", 5L, 1000L), ("a", 6L, 3L), ("a", 3L, 500L),
      ("b", 13L, 7000L), ("b", 14L, 1L))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2).distinct.toDF("stratum", "doc_id", "w")
    val expected = Seq("a", "b").map { s =>
      s -> graft.analytics.TextOps.weightedSample(
          all.filter(col("stratum") === s), 3, col("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }.toMap
    assert(last == expected, s"stream $last vs batch $expected")
  }

  test("streaming scene cuts equal the batch detector across a batch-split cut") {
    import spark.implicits._
    val input = MemoryStream[(Long, Int, Int, Seq[Long])](spark)
    val out = graft.analytics.MultimodalOps.sceneCutStream(
      input.toDS().toDF("doc_id", "frame_idx", "flen", "hist"))
    @volatile var last: Map[Long, (Long, Long, Any)] = Map.empty
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        last = last ++ df.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-scene").toString)
      .start()
    val h1 = Seq(4L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)   // all bytes class 0
    val h2 = Seq(0L, 0L, 0L, 4L, 0L, 0L, 0L, 0L)   // all bytes class 3
    // batch 1: two identical frames; batch 2 opens with the flipped frame
    // -> the cut straddles the batch boundary
    input.addData((9L, 0, 4, h1), (9L, 1, 4, h1))
    q.processAllAvailable()
    input.addData((9L, 2, 4, h2), (9L, 3, 4, h2))
    q.processAllAvailable()
    q.stop()
    val batch = graft.analytics.MultimodalOps.sceneCuts(
      Seq((9L, 0, 4, h1), (9L, 1, 4, h1), (9L, 2, 4, h2), (9L, 3, 4, h2))
        .toDF("doc_id", "frame_idx", "flen", "hist"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
    assert(last == batch, s"stream $last vs batch $batch")
    assert(last(9L)._2 == 1L && last(9L)._3 == 2)
  }

  test("streaming OHLC equals the batch struct-order aggregation with late data") {
    import spark.implicits._
    val input = MemoryStream[(String, Long, Long, Long)](spark)
    val out = graft.analytics.EventsQueries.ohlcStream(
      input.toDS().toDF("key", "us", "event_id", "cents"))
    @volatile var last: Map[String, (Long, Long, Long, Long, Long)] = Map.empty
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        last = last ++ df.collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ohlc").toString)
      .start()
    input.addData(("k", 100L, 1L, 50L), ("k", 200L, 2L, 80L))
    q.processAllAvailable()
    // batch 2: a LATE row before the current open (us 50) must take over
    // open; a later row moves close; low drops
    input.addData(("k", 50L, 3L, 70L), ("k", 300L, 4L, 20L))
    q.processAllAvailable()
    q.stop()
    // batch semantics: open = cents at min (us,id) = 70, close at max = 20
    assert(last("k") == ((4L, 70L, 80L, 20L, 20L)), last.toString)
  }

  test("streaming SCD2 change capture equals the batch LAG collapse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)](spark)
    val out = graft.analytics.CdcOps.scd2Stream(
      input.toDS().toDF("user_id", "event_type", "ts", "event_id"),
      "user_id", "event_type", "ts", "event_id")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("scd2_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-scd2").toString)
      .start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // user 1: A, A (collapse), B; user 2: X — split across two batches so
    // the cross-batch collapse exercises the stored last-attr state
    val b1 = Seq((1L, "A", t(10), 1L), (1L, "A", t(20), 2L), (2L, "X", t(15), 3L))
    input.addData(b1: _*)
    q.processAllAvailable()
    val b2 = Seq((1L, "B", t(30), 4L), (1L, "B", t(40), 5L), (2L, "X", t(50), 6L))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scd2_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val all = (b1 ++ b2).toDF("user_id", "event_type", "ts", "event_id")
    val batch = graft.analytics.CdcOps
      .scd2(all, "user_id", "event_type", "ts", "event_id")
      .select(col("user_id"), col("event_type"), unix_micros(col("valid_from")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming changelog merge equals the batch latest-wins state; stale updates suppressed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String, Double, Long, Long, String)](spark)
    val out = graft.analytics.CdcOps.mergeStream(
      input.toDS().toDF("k", "et", "v", "ts_us", "tie", "op"),
      "k", "et", "v", "ts_us", "tie")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("merge_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-merge").toString)
      .start()
    // batch 1: keys 1, 2 born; batch 2: key 1 updated, key 2 tombstoned,
    // key 3 born, plus a STALE out-of-order update for key 1 (ts 5 < 20)
    // that must be suppressed by the stored stamp
    val b1 = Seq((1L, "a", 1.0, 10L, 1L, "upsert"), (1L, "b", 2.0, 20L, 2L, "upsert"),
      (2L, "x", 3.0, 15L, 3L, "upsert"))
    input.addData(b1: _*)
    q.processAllAvailable()
    val b2 = Seq((1L, "z", 9.0, 5L, 4L, "upsert"), (1L, "c", 4.0, 30L, 5L, "upsert"),
      (2L, "y", 0.0, 40L, 6L, "delete"), (3L, "q", 7.0, 35L, 7L, "upsert"))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("merge_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4)))
    assert(!emitted.exists(e => e._1 == 1L && e._2 == "z"),
      s"stale out-of-order update must be suppressed: ${emitted.toSeq}")
    // reduce the emitted changelog to its per-key last row, drop deletes
    val fin = emitted.groupBy(_._1).map { case (k, rs) => rs.maxBy(_._4) }
      .filter(_._5 != "delete").map(r => (r._1, r._2, r._3, r._4)).toSet
    val all = (b1 ++ b2).toDF("k", "et", "v", "ts_us", "tie", "op")
    val batch = graft.analytics.CdcOps.changelogState(all, "k", "ts_us", "tie")
      .select(col("k"), col("et"), col("v"), col("ts_us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    assert(fin == batch, s"stream-final $fin vs batch $batch")
  }

  test("streaming near-dup: band state survives a checkpoint restart") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val ckpt = Files.createTempDirectory("graft-neardup-restart").toString
    val input = MemoryStream[(Long, String)](spark)
    val pairs = mutable.Set.empty[(Long, Long)]
    def startQuery() = graft.analytics.DedupOps
      .nearDupStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val got = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        pairs.synchronized { pairs ++= got }
        ()
      }
      .start()
    val q1 = startQuery()
    input.addData((1L, base))
    q1.processAllAvailable()
    q1.stop()
    // the original doc lives only in restored ListState now
    val q2 = startQuery()
    input.addData((2L, base + " chi"))
    q2.processAllAvailable()
    q2.stop()
    assert(pairs.synchronized(pairs.contains((2L, 1L))),
      s"band ListState lost across restart: $pairs")
  }

  test("event-time tumbling windows with watermark drop late data") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = input.toDS().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-wm").toString)
      .start()

    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    input.addData((ts(0), "click", 1.0), (ts(1), "click", 2.0), (ts(6), "view", 5.0))
    q.processAllAvailable()
    // advance event time far enough to close the first windows
    input.addData((ts(30), "click", 7.0))
    q.processAllAvailable()
    // late arrival: inside an already-closed window, behind the watermark
    input.addData((ts(2), "click", 100.0))
    q.processAllAvailable()
    input.addData((ts(45), "click", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_out")
      .select(col("window.start").cast("string"), col("event_type"), col("n"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // first click window has exactly the two on-time events; the late
    // value=100 event must NOT appear anywhere
    assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)), s"got $rows")
    assert(rows.contains(("2024-01-01 10:05:00", "view", 1L, 5.0)))
    assert(!rows.exists(_._4 == 100.0), "late data leaked past the watermark")
  }

  test("streaming dropDuplicates within watermark dedupes replayed events") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)](spark)
    val deduped = input.toDS().toDF("ts", "id")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-dd").toString)
      .start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    input.addData((t, "a"), (t, "b"), (t, "a"))
    q.processAllAvailable()
    input.addData((t, "a"), (t, "c"))   // replay across batches
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("id").as[String].collect().sorted
    assert(ids.toSeq == Seq("a", "b", "c"))
  }

  test("streaming RFM features: last emission per user equals the batch aggregate") {
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Double)](spark) // (user, ts, value)
    val out = graft.analytics.EventsQueries.rfmFeaturesStream(
      input.toDS().toDF("user_id", "ts", "value"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("rfm_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-rfm").toString)
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    val b1 = Seq((1L, t("2024-01-02 09:00:00"), 1.5),
      (1L, t("2024-01-01 12:00:00"), 2.0), (2L, t("2024-01-03 08:00:00"), 10.0))
    input.addData(b1: _*)
    q.processAllAvailable()
    // batch 2: user 1's late event must NOT move last ts backward; user 3 new
    val b2 = Seq((1L, t("2024-01-01 06:00:00"), 0.25),
      (3L, t("2024-01-04 10:00:00"), 4.0))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("rfm_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val fin = emitted.zipWithIndex.groupBy(_._1._1)
      .map { case (_, rs) => rs.maxBy(_._2)._1 }.toSet
    val batch = (b1 ++ b2).toDF("user_id", "ts", "value")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("lm"), count(lit(1)).as("f"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(fin == batch, s"stream-final $fin vs batch $batch")
  }

  test("streaming incremental aggregate equals the batch view over all deltas") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String, Long)](spark) // (key, op, cents)
    val out = graft.analytics.CdcOps.incrementalAggStream(
      input.toDS().toDF("k", "op", "cents"), "k", "cents")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("incr_agg_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-incr").toString)
      .start()
    val b1 = Seq((1L, "insert", 100L), (1L, "insert", 250L), (2L, "insert", 40L))
    input.addData(b1: _*)
    q.processAllAvailable()
    // batch 2 retracts key 2 entirely and grows keys 1 and 3
    val b2 = Seq((2L, "delete", 40L), (1L, "delete", 100L), (3L, "insert", 7L))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("incr_agg_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // per-key LAST emission, live keys only
    val fin = emitted.zipWithIndex.groupBy(_._1._1)
      .map { case (_, rs) => rs.maxBy(_._2)._1 }
      .filter(_._2 > 0).toSet
    assert(fin == Set((1L, 1L, 250L), (3L, 1L, 7L)), s"got $fin")
    // batch equivalence: same deltas through the batch operator (empty base)
    val all = (b1 ++ b2).toDF("k", "op", "cents")
      .select(col("k"), col("cents").cast("long").as("value"), col("op"))
    val base = Seq.empty[(Long, Long, Long)].toDF("k", "n_rows", "total")
    val batch = graft.analytics.CdcOps.incrementalAgg(base, all, "k",
        valueCol = "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fin == batch, s"stream-final $fin vs batch $batch")
  }

  test("streaming running aggregate with flatMapGroupsWithState") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val input = MemoryStream[(Long, Double)](spark)  // (user, value)
    // running per-user aggregate emitted on every update. NoTimeout on
    // purpose: a ProcessingTimeTimeout registration under the default
    // as-fast-as-possible trigger keeps the micro-batch executor
    // re-triggering batches and processAllAvailable never settles.
    val counts = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[Double]) =>
          val acc = state.getOption.getOrElse(0.0) + rows.map(_._2).sum
          state.update(acc)
          Iterator((user, acc))
      }
    val q = counts.toDF("user_id", "acc").writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-fs").toString)
      .start()
    input.addData((1L, 2.0), (2L, 5.0))
    q.processAllAvailable()
    input.addData((1L, 3.0))
    q.processAllAvailable()
    q.stop()
    val byUser = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(byUser == Map(1L -> 5.0, 2L -> 5.0))
  }

  test("stream-static broadcast join enriches the stream without a shuffle of the stream") {
    import spark.implicits._
    val input = MemoryStream[(Long, String)](spark)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val joined = input.toDS().toDF("user_id", "action")
      .join(broadcast(dim), Seq("user_id"), "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ss").toString)
      .start()
    input.addData((1L, "click"), (2L, "view"), (3L, "click"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich_out")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows == Set((1L, "click", Some("gold")), (2L, "view", Some("silver")),
      (3L, "click", None)))
  }

  test("streaming session windows: gap merge emits on watermark, late events drop") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Double)](spark)
    val agg = input.toDS().toDF("ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("user_id"), col("w.start").cast("string").as("start"),
        col("n"), col("v"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_win_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-sw").toString)
      .start()

    def ts(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    // user 1: 10:00 and 10:20 are within the 30 min gap → ONE session
    input.addData((ts("10:00"), 1L, 1.0), (ts("10:20"), 1L, 2.0))
    q.processAllAvailable()
    // jump event time far ahead: watermark passes the session end → emit
    input.addData((ts("13:00"), 1L, 5.0))
    q.processAllAvailable()
    // late event inside the closed session, behind the watermark → dropped
    input.addData((ts("10:10"), 1L, 100.0))
    q.processAllAvailable()
    input.addData((ts("15:00"), 1L, 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sess_win_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // gap merge: [10:00, 10:50) holds both on-time events
    assert(rows.contains((1L, "2024-01-01 10:00:00", 2L, 3.0)), s"got $rows")
    assert(!rows.exists(_._4 == 100.0), "late event leaked into a closed session")
    assert(!rows.exists(r => r._2 == "2024-01-01 10:20:00"),
      "gap merge failed: second event started its own session")
  }

  test("transformWithState event-time timers: session emits when watermark passes the gap") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    val sessions = input.toDS().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(30 * 60 * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
    val q = sessions.toDF("user_id", "n", "total").writeStream.outputMode("append")
      .format("memory").queryName("tws_sess_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-twst").toString)
      .start()

    def ts(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    input.addData((1L, ts("10:00"), 1.0), (1L, ts("10:10"), 2.0))
    q.processAllAvailable()
    // watermark jumps past 10:10 + 30 min → user 1's session timer fires
    input.addData((9L, ts("12:00"), 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tws_sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.count(_._1 == 1L) == 1, s"session emitted ${rows.count(_._1 == 1L)} times: ${rows.toSeq}")
    assert(rows.contains((1L, 2L, 3.0)), s"got ${rows.toSeq}")
  }

  test("stream-stream join: watermarked interval join matches within the window only") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val views = MemoryStream[(Timestamp, Long)](spark)
    val cdf = clicks.toDS().toDF("cts", "c_user").withWatermark("cts", "10 minutes")
    val vdf = views.toDS().toDF("vts", "v_user").withWatermark("vts", "10 minutes")
    // view attributed to a click if it lands within 15 min AFTER the click
    val joined = cdf.join(vdf,
      expr("c_user = v_user AND vts >= cts AND vts <= cts + interval 15 minutes"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ssj").toString)
      .start()

    def ts(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    clicks.addData((ts("10:00"), 1L), (ts("10:00"), 2L))
    views.addData((ts("10:05"), 1L))   // in window for user 1
    views.addData((ts("10:40"), 2L))   // 40 min later: OUT of window for user 2
    q.processAllAvailable()
    // advance both watermarks so state can be evicted, then a too-late view
    clicks.addData((ts("12:00"), 9L))
    views.addData((ts("12:00"), 9L))
    q.processAllAvailable()
    views.addData((ts("10:06"), 2L))   // behind the watermark → dropped
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssj_out")
      .collect().map(r => (r.getLong(1), r.getTimestamp(2).toString)).toSet
    assert(rows.contains((1L, "2024-01-01 10:05:00.0")), s"got $rows")
    assert(rows.contains((9L, "2024-01-01 12:00:00.0")))
    assert(!rows.exists(_._1 == 2L), s"out-of-window or late view joined: $rows")
  }

  test("stream-stream LEFT OUTER join emits null-padded rows on watermark expiry") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val views = MemoryStream[(Timestamp, Long)](spark)
    val cdf = clicks.toDS().toDF("cts", "c_user").withWatermark("cts", "10 minutes")
    val vdf = views.toDS().toDF("vts", "v_user").withWatermark("vts", "10 minutes")
    // LEFT OUTER: a click with no view inside its window must still be
    // emitted — but only once the watermark proves no match can arrive
    val joined = cdf.join(vdf,
      expr("c_user = v_user AND vts >= cts AND vts <= cts + interval 15 minutes"),
      "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssoj_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ssoj").toString)
      .start()

    def ts(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    clicks.addData((ts("10:00"), 1L), (ts("10:00"), 2L))
    views.addData((ts("10:05"), 1L))   // user 1 matches; user 2 never will
    q.processAllAvailable()
    // the unmatched click can only be emitted after the watermark passes
    // its join window end; advance far beyond it
    clicks.addData((ts("12:00"), 9L))
    views.addData((ts("12:00"), 9L))
    q.processAllAvailable()
    clicks.addData((ts("13:00"), 9L))
    views.addData((ts("13:00"), 9L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssoj_out")
      .select(col("c_user"), col("v_user"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(rows.contains((1L, 1L)), s"matched row missing: $rows")
    assert(rows.contains((2L, -1L)),
      s"unmatched click not emitted null-padded after expiry: $rows")
  }

  test("dropDuplicatesWithinWatermark: dedupes inside the delay, re-admits after eviction") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)](spark)
    // Unlike dropDuplicates (state grows with distinct keys forever),
    // dropDuplicatesWithinWatermark BOUNDS state: a key's entry is evicted
    // once the watermark passes its expiry, after which the same key is
    // admitted again — the streaming contract exact dedup needs at scale.
    val deduped = input.toDS().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("ddww_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ddww").toString)
      .start()
    def ts(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    input.addData((ts("10:00"), "a"), (ts("10:00"), "b"))
    q.processAllAvailable()
    input.addData((ts("10:05"), "a"))          // within the delay → deduped
    q.processAllAvailable()
    input.addData((ts("12:00"), "x"))          // advances watermark to 11:50
    q.processAllAvailable()                     // → a/b entries evicted
    input.addData((ts("12:01"), "a"))          // same key AFTER eviction
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("ddww_out").select("id").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(ids == Map("a" -> 2, "b" -> 1, "x" -> 1),
      s"expected a re-admitted after watermark eviction, got $ids")
  }

  test("stream-stream FULL OUTER join null-pads BOTH unmatched sides on expiry") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val views = MemoryStream[(Timestamp, Long)](spark)
    val cdf = clicks.toDS().toDF("cts", "c_user").withWatermark("cts", "10 minutes")
    val vdf = views.toDS().toDF("vts", "v_user").withWatermark("vts", "10 minutes")
    val joined = cdf.join(vdf,
      expr("c_user = v_user AND vts >= cts AND vts <= cts + interval 15 minutes"),
      "full_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssfoj_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ssfoj").toString)
      .start()

    def ts(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    clicks.addData((ts("10:00"), 1L), (ts("10:00"), 2L)) // 2 never matches
    views.addData((ts("10:05"), 1L), (ts("10:05"), 3L))  // 3 never matches
    q.processAllAvailable()
    // push the watermark far past both join windows so unmatched state on
    // BOTH sides expires and emits null-padded
    clicks.addData((ts("12:00"), 9L))
    views.addData((ts("12:00"), 9L))
    q.processAllAvailable()
    clicks.addData((ts("13:00"), 9L))
    views.addData((ts("13:00"), 9L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssfoj_out")
      .select(col("c_user"), col("v_user"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(rows.contains((1L, 1L)), s"matched pair missing: $rows")
    assert(rows.contains((2L, -1L)), s"unmatched click not null-padded: $rows")
    assert(rows.contains((-1L, 3L)), s"unmatched view not null-padded: $rows")
  }

  test("non-default trigger: pipeline correct under Trigger.ProcessingTime") {
    import org.apache.spark.sql.streaming.Trigger
    val h = new LoopHarness(spark, new LocalCounterExecutor,
      config = JobConfig(trigger = Some(Trigger.ProcessingTime("50 milliseconds"))))
    try {
      val k = FunctionAddress(acct, "trig1")
      h.send(Event.request("t1", k, Request.InvokeStateful, delta(4)))
      h.drain()
      h.send(Event.request("gt", k, Request.GetState))
      h.drain()
      assert(asLong(h.clientReplies.find(_.eventId == "gt").get.payload) == 4L)
    } finally h.stop()
  }

  test("LLM text/dedup operators compose with readStream (map-only, first-wins dedup)") {
    import spark.implicits._
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDS().toDF("doc_id", "text")
    // quality scoring is map-only → valid in a streaming plan; exact dedup
    // streams through the state-backed dropDuplicates variant
    val scored = graft.analytics.TextOps.qualityScore(docs)
    val deduped = graft.analytics.DedupOps.exactDedupStream(docs)
      .select(col("doc_id"))
    val q1 = scored.writeStream.outputMode("append")
      .format("memory").queryName("stream_quality")
      .option("checkpointLocation", Files.createTempDirectory("graft-sq").toString)
      .start()
    val q2 = deduped.writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup")
      .option("checkpointLocation", Files.createTempDirectory("graft-sd").toString)
      .start()
    input.addData((1L, "the quick brown fox"), (2L, "the quick brown fox"))
    q1.processAllAvailable(); q2.processAllAvailable()
    input.addData((3L, "THE  quick   brown fox"), (4L, "something else entirely"))
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    assert(spark.table("stream_quality").count() == 4, "map-only op must emit per row")
    val kept = spark.table("stream_dedup").as[Long].collect().toSet
    // 1 and 2 collide in the SAME batch (either may win the intra-batch
    // tie); 3 normalizes to the same fingerprint in a LATER batch, where
    // the state store guarantees rejection; 4 is unique
    assert(kept.size == 2 && kept.contains(4L) && !kept.contains(3L) &&
      (kept - 4L).subsetOf(Set(1L, 2L)), s"got $kept")
  }

  test("parquet file sink: append across restart yields every window exactly once") {
    import spark.implicits._
    // The production sink path: append-mode windowed agg → parquet files +
    // checkpoint. The file sink's commit log must make the restart NOT
    // rewrite batch 0's files (exactly-once file output, vs the at-least-
    // once memory/foreachBatch path tested above).
    val ckpt = Files.createTempDirectory("graft-fsink-ckpt").toString
    val outDir = Files.createTempDirectory("graft-fsink-out").toString
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    def start(input: MemoryStream[(Timestamp, String, Double)]) =
      input.toDS().toDF("ts", "event_type", "value")
        .withWatermark("ts", "1 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()

    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val q1 = start(in)
    in.addData((ts(0), "click", 1.0), (ts(1), "click", 1.0))
    q1.processAllAvailable()
    in.addData((ts(10), "view", 1.0))   // watermark passes window [0,5)
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint: agg state (the open [10,15) view
    // window) must be restored, and batch 0's committed files not rewritten
    val q2 = start(in)
    in.addData((ts(11), "view", 1.0))
    q2.processAllAvailable()
    in.addData((ts(30), "click", 1.0))
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(outDir)
      .select(col("ws").cast("string"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // exactly one row per closed window — no duplicates from the restart
    assert(rows.sorted == Seq(
      ("2024-01-01 10:00:00", "click", 2L),
      ("2024-01-01 10:10:00", "view", 2L)).sorted, s"got $rows")
  }

  test("state TTL: an idle entity's state expires; fresh entities are unaffected") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{TTLConfig, Trigger}
    val input = MemoryStream[Array[Byte]](spark)
    val replies = mutable.Buffer.empty[Event]
    val keyed = FunctionAddress(acct, "ttlk")
    val ckpt = Files.createTempDirectory("graft-ttl").toString
    // Two short-lived query runs against one checkpoint. ProcessingTime
    // time-mode + processAllAvailable livelocks (the r2 lesson, TTL
    // cleanup keeps scheduling batches), so each run polls for its reply
    // with a bounded deadline and stops explicitly — no blocking waits.
    def runOnce(expectId: String, commitBatch: Int): Unit = {
      val q = StateflowPipeline.start(input.toDS(), new LocalCounterExecutor, ckpt,
        JobConfig(trigger = Some(Trigger.AvailableNow()),
          stateTtl = TTLConfig(java.time.Duration.ofMillis(1))))(collectReplies(replies))
      // wait for the reply AND the batch's offset commit marker —
      // stopping between foreachBatch and the commit would make the next
      // run REPLAY this batch (at-least-once), merging t1+t2 into one
      // handleInputRows call and defeating the TTL-lapse setup
      val commitFile = java.nio.file.Paths.get(ckpt, "commits", commitBatch.toString)
      val deadline = System.currentTimeMillis() + 60000
      while ((!replies.synchronized(replies.exists(_.eventId == expectId)) ||
          !java.nio.file.Files.exists(commitFile)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      q.stop()
    }
    input.addData(ProtoCodec.encode(Event.request("t1", keyed, Request.InvokeStateful, delta(5))))
    runOnce("t1", commitBatch = 0)
    Thread.sleep(50)   // let the 1 ms TTL lapse in wall-clock time
    // same key again: the executor must see EMPTY state (expired), so the
    // counter restarts at 0 + 7 instead of 5 + 7
    input.addData(ProtoCodec.encode(Event.request("t2", keyed, Request.InvokeStateful, delta(7))))
    runOnce("t2", commitBatch = 1)
    val byId = replies.synchronized(replies.map(e => e.eventId -> asLong(e.payload)).toMap)
    assert(byId("t1") == 5L, s"got $byId")
    assert(byId("t2") == 7L, s"TTL'd state must read as empty, got $byId")
  }

  test("at-least-once: replayed batch duplicates replies, never loses them") {
    import spark.implicits._
    // Send the same event twice (the reference's AT_LEAST_ONCE contract
    // allows duplicates, StateFlowFlinkJob.java:40,132); the engine must
    // process both, not deduplicate silently.
    val h = new LoopHarness(spark, new LocalCounterExecutor)
    try {
      val keyed = FunctionAddress(acct, "alo1")
      val e = Event.request("dup1", keyed, Request.InvokeStateful, delta(1))
      h.send(e); h.send(e)
      h.drain()
      h.send(Event.request("g1", keyed, Request.GetState))
      h.drain()
      assert(asLong(h.clientReplies.find(_.eventId == "g1").get.payload) == 2L)
      assert(h.clientReplies.count(_.eventId == "dup1") == 2)
    } finally h.stop()
  }

  test("streaming PIT join equals the batch pitJoin under the ordered-feed contract") {
    import spark.implicits._
    // (entity, kind 0=dim / 1=fact, ts-seconds, tie, attr, fact_id)
    val input = MemoryStream[(Long, Int, Long, Long, String, Long)](spark)
    val all = input.toDS()
      .toDF("user_id", "kind", "secs", "event_id", "attr", "fact_id")
      .withColumn("ts", col("secs").cast("timestamp"))
    val out = graft.analytics.CdcOps.pitJoinStream(
      all.filter(col("kind") === 1).select("user_id", "ts", "event_id", "fact_id"),
      all.filter(col("kind") === 0).select("user_id", "ts", "event_id", "attr"),
      "user_id", "attr", "ts", "event_id", "fact_id")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pit_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-pit").toString)
      .start()
    val b1 = Seq(
      (1L, 0, 10L, 1L, "A", -1L),          // user 1 becomes A at t=10
      (1L, 1, 15L, 2L, null: String, 100L), // fact at 15 -> A
      (2L, 1, 5L, 3L, null: String, 200L))  // fact before any dim -> null
    input.addData(b1: _*)
    q.processAllAvailable()
    val b2 = Seq(
      (1L, 0, 20L, 4L, "B", -1L),           // change to B at t=20
      (1L, 1, 20L, 5L, null: String, 101L), // same-instant fact -> B (inclusive)
      (1L, 1, 25L, 6L, null: String, 102L), // later fact -> B (cross-batch state)
      (2L, 0, 30L, 7L, "X", -1L),
      (2L, 1, 35L, 8L, null: String, 201L))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pit_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    // batch twin over the same rows
    val rows = (b1 ++ b2)
      .toDF("user_id", "kind", "secs", "event_id", "attr", "fact_id")
      .withColumn("ts", col("secs").cast("timestamp"))
    val batch = graft.analytics.CdcOps.pitJoin(
        rows.filter(col("kind") === 1).select("user_id", "ts", "fact_id"),
        rows.filter(col("kind") === 0).select("user_id", "ts", "event_id", "attr"),
        "user_id", "attr", "ts", "event_id", "ts")
      .select(col("user_id"), col("fact_id"), unix_micros(col("ts")),
        col("profile_state"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.exists(r => r._2 == 101L && r._4 == "B"),
      "same-instant dimension change must be visible to the fact (inclusive as-of)")
    assert(streamed.exists(r => r._2 == 200L && r._4 == null),
      "fact before any dimension row must null-pad")
  }

  test("streaming sliding distinct equals the batch rolling-distinct on closed windows") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)](spark)
    val out = graft.analytics.EventsQueries.slidingDistinctStream(
      input.toDS().toDF("ts", "user_id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sliding_distinct")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sdist").toString)
      .start()
    def t(h: Long, m: Long = 0) = new Timestamp((h * 3600 + m * 60) * 1000)
    // users 1/2 in hour 100; user 1 AGAIN in hour 101 (must not double-
    // count in the 3h windows covering both); user 3 in hour 102
    val data = Seq((t(100), 1L), (t(100, 30), 2L), (t(101), 1L), (t(102), 3L))
    input.addData(data: _*)
    q.processAllAvailable()
    // watermark advancer: closes every window ending <= 300h - 1h
    input.addData((t(300), 99L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sliding_distinct").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    val batch = data.toDF("ts", "user_id")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .select(col("user_id"),
        explode(expr("sequence(hr - interval 2 hours, hr, interval 1 hour)"))
          .as("win_start"))
      .groupBy(col("win_start"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // the cross-window dedup really deduped: hour-101 window counts user 1 once
    assert(streamed(t(101).getTime) == 2L,
      s"user seen in two hours double-counted: $streamed")
  }

  test("stream-stream time-range join equals the native batch interval join") {
    import spark.implicits._
    // fixed-width validity windows (start .. start+10s): the form Spark's
    // stream-stream join supports with state cleanup (both sides
    // watermarked, event times bounded relative to each other) — the
    // streaming twin of graft.plans.IntervalOps.intervalJoin
    val pts = MemoryStream[(String, Timestamp, Long)](spark)
    val ivs = MemoryStream[(String, Timestamp, Long)](spark)
    val p = pts.toDS().toDF("k", "t", "pid").withWatermark("t", "1 minute")
    val w = ivs.toDS().toDF("wk", "ws", "wid").withWatermark("ws", "1 minute")
    val joined = p.join(w,
      expr("k = wk AND t >= ws AND t <= ws + interval 10 seconds"))
    val q = joined.select(col("pid"), col("wid"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ivj_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ivj").toString)
      .start()
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val ptRows = Seq(("A", t(0), 1L), ("A", t(5), 2L), ("A", t(11), 3L),
      ("B", t(5), 4L), ("A", t(20), 5L))
    val ivRows = Seq(("A", t(0), 10L), ("A", t(4), 20L), ("B", t(30), 30L))
    pts.addData(ptRows: _*)
    ivs.addData(ivRows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ivj_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.plans.IntervalOps.intervalJoin(
        ptRows.toDF("k", "t", "pid"),
        ivRows.toDF("wk", "ws", "wid")
          .withColumn("we", expr("ws + interval 10 seconds")),
        Seq("k"), Seq("wk"), "t", "ws", "we")
      .select(col("pid"), col("wid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(batch == Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)),
      s"fixture drifted: $batch")
  }

  test("streaming CEP chain pattern equals batch; a match spanning micro-batches still counts") {
    import spark.implicits._
    val stages = Seq("view", "click", "purchase")
    val input = MemoryStream[(Long, Timestamp, Long, String)](spark)
    val out = graft.analytics.EventsQueries.cepStream(
      input.toDS().toDF("user_id", "ts", "event_id", "event_type"), stages)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cep_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cep").toString)
      .start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1 opens a match in batch 1 (view view) and closes it in batch 2
    // (click purchase) — the state the streaming twin exists to carry;
    // user 2 breaks contiguity (view purchase) and must never match
    val b1 = Seq((1L, ts(0), 1L, "view"), (1L, ts(1), 2L, "view"),
      (2L, ts(0), 10L, "view"), (2L, ts(1), 11L, "purchase"))
    input.addData(b1: _*)
    q.processAllAvailable()
    // batch 2 completes user 1's first match and adds a full second one
    val b2 = Seq((1L, ts(2), 3L, "click"), (1L, ts(3), 4L, "purchase"),
      (2L, ts(2), 12L, "click"),
      (1L, ts(4), 5L, "view"), (1L, ts(5), 6L, "click"), (1L, ts(6), 7L, "purchase"))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("cep_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val streamFinal = emitted.zipWithIndex.groupBy(_._1._1)
      .map { case (_, rs) => rs.maxBy(_._2)._1 }
      .filter(_._2 > 0).toMap
    val batch = graft.analytics.EventsQueries.cepPatternCount(
        (b1 ++ b2).toDF("user_id", "ts", "event_id", "event_type"), stages)
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    assert(streamFinal == Map(1L -> 2L), s"stream final: $streamFinal")
    assert(streamFinal == batch, s"stream $streamFinal vs batch $batch")
  }

  test("streaming HLL sketch state equals batch hll_sketch_agg across micro-batches") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp)](spark) // (user, ts)
    val out = graft.analytics.EventsQueries.hllDailyDistinctStream(
      input.toDS().toDF("user_id", "ts"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hll_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-hll").toString)
      .start()
    // two days, users split across micro-batches with cross-batch repeats
    val b1 = (1L to 400L).map(u => (u, t("2024-03-01 10:00:00"))) ++
      (1L to 50L).map(u => (u, t("2024-03-02 09:00:00")))
    input.addData(b1: _*)
    q.processAllAvailable()
    val b2 = (200L to 700L).map(u => (u, t("2024-03-01 18:00:00"))) ++
      (40L to 90L).map(u => (u, t("2024-03-02 23:00:00")))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("hll_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val streamFinal = emitted.zipWithIndex.groupBy(_._1._1)
      .map { case (_, rs) => rs.maxBy(_._2)._1 }.toMap
    // golden twin: a sequential single-sketch build over the same rows.
    // Composite estimates are a pure function of the (max-commutative)
    // register state, so stream ≡ golden must be BIT-identical however
    // the stream was micro-batched — the determinism pin getEstimate's
    // insertion-history-dependent HIP estimator cannot give.
    import org.apache.datasketches.hll.{HllSketch, TgtHllType}
    val golden = (b1 ++ b2).groupBy(p =>
        p._2.toLocalDateTime.toLocalDate.toEpochDay)
      .map { case (day, rows) =>
        val s = new HllSketch(12, TgtHllType.HLL_8)
        rows.foreach(r => s.update(r._1))
        day -> Math.round(s.getCompositeEstimate)
      }
    assert(streamFinal == golden, s"stream $streamFinal vs golden $golden")
    // and within sketch tolerance of hll_sketch_agg (whose HIP estimate
    // is partitioning-dependent — equality is deliberately NOT asserted)
    val batch = (b1 ++ b2).toDF("user_id", "ts")
      .groupBy(expr("cast(datediff(to_date(ts), date '1970-01-01') as bigint)")
        .as("day"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
        .as("approx_users"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    batch.foreach { case (d, est) =>
      assert(math.abs(streamFinal(d) - est) * 20 <= est,
        s"day $d: stream ${streamFinal(d)} vs agg $est")
    }
    // and the sketch is actually estimating: day 1 near its exact count
    assert(math.abs(streamFinal(19783L) - 700L) * 10 <= 700L, streamFinal.toString)
  }

  test("streaming bitmap distinct equals batch countDistinct bit-exactly") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp)](spark)
    val out = graft.analytics.EventsQueries.bitmapDailyDistinctStream(
      input.toDS().toDF("user_id", "ts"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("bitmap_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-bitmap").toString)
      .start()
    // two days; heavy cross-batch overlap exercises OR idempotence, and
    // ids straddling page boundaries (4095/4096) exercise the page map
    val b1 = (1L to 400L).map(u => (u, t("2024-03-01 10:00:00"))) ++
      (4090L to 4100L).map(u => (u, t("2024-03-02 09:00:00")))
    input.addData(b1: _*)
    q.processAllAvailable()
    val b2 = (200L to 700L).map(u => (u, t("2024-03-01 18:00:00"))) ++
      (4095L to 4200L).map(u => (u, t("2024-03-02 23:00:00"))) ++
      b1.take(100) // straight at-least-once replay of earlier rows
    input.addData(b2: _*)
    q.processAllAvailable()
    val sop = q.recentProgress.flatMap(_.stateOperators).maxBy(_.numRowsTotal)
    q.stop()
    val streamFinal = spark.table("bitmap_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex
      .groupBy(_._1._1).map { case (_, rs) => rs.maxBy(_._2)._1 }.toMap
    // batch twin must match BIT-EXACTLY - no tolerance clause: OR-state
    // is order/merge-tree/replay-invariant by construction
    val batch = (b1 ++ b2).toDF("user_id", "ts")
      .groupBy(expr("cast(datediff(to_date(ts), date '1970-01-01') as bigint)")
        .as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamFinal == batch, s"stream $streamFinal vs batch $batch")
    // and the native batch aggregate agrees too (shared BitmapPages core)
    val native = (b1 ++ b2).toDF("user_id", "ts")
      .groupBy(expr("cast(datediff(to_date(ts), date '1970-01-01') as bigint)")
        .as("day"))
      .agg(graft.functions.BitmapAgg.graft_bitmap_distinct(col("user_id")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamFinal == native, s"stream $streamFinal vs native $native")
    // one state row per day, not per user
    assert(sop.numRowsTotal == 2L, s"state rows: ${sop.numRowsTotal}")
  }

  test("HLL state twin: 10^6 users collapse to ONE sketch row per day") {
    // The constant-state counterpart of the 10^6-fingerprint case below:
    // where exact streaming distinct carries a state row PER MEMBERSHIP,
    // the sketch twin's state is one serialized HLL per key however many
    // users stream through — numRowsTotal must equal the number of DAYS,
    // not users, and the per-day estimate must stay inside the lgK=12
    // error envelope at 250k users/day.
    import spark.implicits._
    def day(d: Int) = Timestamp.valueOf(f"2024-03-0$d%d 12:00:00")
    val input = MemoryStream[(Long, Timestamp)](spark)
    val out = graft.analytics.EventsQueries.hllDailyDistinctStream(
      input.toDS().toDF("user_id", "ts"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hll_scale")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-hll-1m").toString)
      .start()
    for (d <- 1 to 4) {
      input.addData((0L until 250000L).map(u => (d * 1000000L + u, day(d))))
      q.processAllAvailable()
    }
    val sop = q.recentProgress.flatMap(_.stateOperators).maxBy(_.numRowsTotal)
    q.stop()
    assert(sop.numRowsTotal == 4L,
      s"sketch state should be one row per day, got ${sop.numRowsTotal}")
    val est = spark.table("hll_scale").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (d, rs) => d -> rs.last._2 }
    assert(est.size == 4, s"days: $est")
    est.foreach { case (d, e) =>
      assert(math.abs(e - 250000L) * 20 <= 250000L,
        s"day $d estimate $e outside 5% of 250000")
    }
  }

  test("streaming EWMA: alert rows identical to the batch fold across batch splits") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val h = 250L
    // user 1 ramps the smoothed level over h then decays below; user 2
    // stays under. s <- (s + cents) div 2 from 0:
    // u1: 400->200, 500->350 ALERT, 300->325 ALERT, 0->162
    // u2: 300->150, 100->125
    val rows = Seq(
      (1L, t("2024-03-01 10:00:00"), 1L, 4.0),
      (2L, t("2024-03-01 10:00:01"), 2L, 3.0),
      (1L, t("2024-03-01 10:01:00"), 3L, 5.0),
      (1L, t("2024-03-01 10:02:00"), 4L, 3.0),
      (2L, t("2024-03-01 10:02:30"), 5L, 1.0),
      (1L, t("2024-03-01 10:03:00"), 6L, 0.0))
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val out = graft.analytics.EventsQueries.ewmaAlertsStream(
      input.toDS().toDF("user_id", "ts", "event_id", "value"), h = h)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ewma_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ewma").toString)
      .start()
    val (b1, b2) = rows.splitAt(3)   // split MID-run of user 1
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ewma_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val golden = rows.groupBy(_._1).flatMap { case (u, rs) =>
      var acc = 0L
      rs.sortBy(r => (r._2.getTime, r._3)).flatMap { case (_, ts, _, v) =>
        acc = Math.floorDiv(acc + math.round(v * 100), 2L)
        if (acc > h) Some((u, ts.getTime * 1000, acc)) else None
      }
    }.toSet
    assert(got == golden, s"stream $got vs golden $golden")
    assert(got.map(_._1) == Set(1L) && got.size == 2, got.toString)
  }

  test("streaming Holt trend: level/trend/forecast identical to the batch fold across splits") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // u1 ramps then drops (trend goes NEGATIVE — the >> 1 floor case `div`
    // would get wrong); u2 seeds in batch 1 and continues in batch 2
    val rows = Seq(
      (1L, t("2024-03-01 10:00:00"), 1L, 4.0),
      (2L, t("2024-03-01 10:00:01"), 2L, 3.0),
      (1L, t("2024-03-01 10:01:00"), 3L, 8.0),
      (1L, t("2024-03-01 10:02:00"), 4L, 0.0),
      (2L, t("2024-03-01 10:02:30"), 5L, 1.0),
      (1L, t("2024-03-01 10:03:00"), 6L, 0.0))
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val out = graft.analytics.EventsQueries.holtTrendStream(
      input.toDS().toDF("user_id", "ts", "event_id", "value"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("holt_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-holt").toString)
      .start()
    val (b1, b2) = rows.splitAt(3)   // split MID-run of both users
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("holt_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val golden = rows.groupBy(_._1).flatMap { case (u, rs) =>
      var l = 0L; var b = 0L; var seeded = false
      rs.sortBy(r => (r._2.getTime, r._3)).map { case (_, ts, _, v) =>
        val c = math.round(v * 100)
        if (!seeded) { l = c; b = 0L; seeded = true }
        else { val l0 = l; l = (c + l + b) >> 1; b = ((l - l0) + b) >> 1 }
        (u, ts.getTime * 1000, l, b, l + b)
      }
    }.toSet
    assert(got == golden, s"stream $got vs golden $golden")
    // the drop phase must show a negative trend somewhere for user 1
    assert(got.exists(r => r._1 == 1L && r._4 < 0L),
      s"expected a negative trend row for user 1: $got")
  }

  test("streaming rate limit: rejected rows identical to the batch fold across splits") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val cap = 300L; val rate = 1L   // cents per second
    // u1: 250 admitted (tok 50); each later event sees only +10 cents
    // of refill, so 200, 100, and 300 are ALL rejected (avail 60/70/80)
    val rows = Seq(
      (1L, t("2024-03-01 10:00:00"), 1L, 2.5),
      (2L, t("2024-03-01 10:00:01"), 2L, 1.0),
      (1L, t("2024-03-01 10:00:10"), 3L, 2.0),
      (1L, t("2024-03-01 10:00:20"), 4L, 1.0),
      (2L, t("2024-03-01 10:00:21"), 5L, 0.5),
      (1L, t("2024-03-01 10:00:30"), 6L, 3.0))
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val out = graft.analytics.EventsQueries.rateLimitStream(
      input.toDS().toDF("user_id", "ts", "event_id", "value"),
      cap = cap, rate = rate)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("rl_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-rl").toString)
      .start()
    val (b1, b2) = rows.splitAt(3)   // split MID-run of user 1
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rl_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val golden = rows.groupBy(_._1).flatMap { case (u, rs) =>
      var tok = -1L; var last = 0L
      rs.sortBy(r => (r._2.getTime, r._3)).flatMap { case (_, ts, _, v) =>
        val us = ts.getTime * 1000
        val c = math.round(v * 100)
        val avail = if (tok < 0) cap
          else math.min(cap, tok + rate * ((us - last) / 1000000L))
        val adm = avail >= c
        tok = if (adm) avail - c else avail
        last = us
        if (adm) None else Some((u, us, c, avail))
      }
    }.toSet
    assert(got == golden, s"stream $got vs golden $golden")
    assert(got.map(_._1) == Set(1L) && got.size == 3, got.toString)
  }

  test("streaming CUSUM: alert rows identical to the batch fold across batch splits") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val k = 100L; val h = 250L
    // two interleaved users; values chosen so user 1 crosses h twice
    // (with a clamp reset in between) and user 2 never does
    val rows = Seq(
      (1L, t("2024-03-01 10:00:00"), 1L, 3.0),   // +200  -> 200
      (2L, t("2024-03-01 10:00:01"), 2L, 0.5),   // -50   -> 0 (clamped)
      (1L, t("2024-03-01 10:01:00"), 3L, 2.0),   // +100  -> 300  ALERT
      (1L, t("2024-03-01 10:02:00"), 4L, 0.1),   // -90   -> 210
      (2L, t("2024-03-01 10:02:30"), 5L, 2.0),   // +100  -> 100
      (1L, t("2024-03-01 10:03:00"), 6L, 2.5),   // +150  -> 360  ALERT
      (2L, t("2024-03-01 10:04:00"), 7L, 1.0))   // +0    -> 100
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val out = graft.analytics.EventsQueries.cusumAlertsStream(
      input.toDS().toDF("user_id", "ts", "event_id", "value"), k = k, h = h)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cusum_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cusum").toString)
      .start()
    val (b1, b2) = rows.splitAt(4)   // split MID-run of user 1
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cusum_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // golden: the batch recurrence per user in (ts, event_id) order
    val golden = rows.groupBy(_._1).flatMap { case (u, rs) =>
      var acc = 0L
      rs.sortBy(r => (r._2.getTime, r._3)).flatMap { case (_, ts, _, v) =>
        acc = math.max(0L, acc + math.round(v * 100) - k)
        if (acc > h) Some((u, ts.getTime * 1000, acc)) else None
      }
    }.toSet
    assert(got == golden, s"stream $got vs golden $golden")
    assert(got.map(_._1) == Set(1L), "only user 1 should alert")
    assert(got.size == 2)
  }

  test("streaming Misra-Gries trending: golden bit-equality + contract per day") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val k = 5
    val input = MemoryStream[(String, Timestamp)](spark) // (item, ts)
    val out = graft.analytics.EventsQueries.trendingItemsStream(
      input.toDS().toDF("item", "ts"), k = k)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("mg_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-mg").toString)
      .start()
    // one skewed day: item_i ~ 600/(i+1) occurrences over 20 items,
    // interleaved deterministically; split mid-stream across two batches
    val day1 = (0 until 20).flatMap(i => Seq.fill(600 / (i + 1))(s"item_$i"))
      .sortBy(s => (s.hashCode * 2654435761L) & 0xffffL)
      .map(s => (s, t("2024-03-01 10:00:00")))
    val (b1, b2) = day1.splitAt(day1.length / 2)
    input.addData(b1: _*)
    q.processAllAvailable()
    val rowsAfterB1 = spark.table("mg_stream").count()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val finalSummary = spark.table("mg_stream").collect().drop(rowsAfterB1.toInt)
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    // golden: sequential MG build over the same rows in arrival order —
    // single-partition source, so stream final must be bit-identical
    val golden = new java.util.HashMap[String, java.lang.Long]()
    day1.foreach(p => graft.functions.MGSummary.update(golden, p._1, k))
    import scala.jdk.CollectionConverters._
    val goldenMap = golden.asScala.map { case (i, c) => i -> c.longValue() }.toMap
    assert(finalSummary == goldenMap, s"stream $finalSummary vs golden $goldenMap")
    // order-independent Misra-Gries contract vs exact counts
    val exact = day1.groupBy(_._1).map { case (i, rs) => i -> rs.size.toLong }
    val n = day1.size.toLong
    assert(finalSummary.size <= k)
    finalSummary.foreach { case (item, est) =>
      assert(est <= exact(item), s"$item overestimated")
      assert(exact(item) - est <= n / (k + 1) + 1, s"$item deficit too large")
    }
    exact.filter(_._2 * (k + 1) > n).keys.foreach { hot =>
      assert(finalSummary.contains(hot), s"heavy $hot missing: $finalSummary")
    }
  }

  test("exactDedupStream holds 10^6 fingerprints in RocksDB across a restart") {
    // State-SCALE evidence (r8): the streaming twins are pinned
    // stream ≡ batch on small frames elsewhere; this case drives the
    // dedup state store to one MILLION distinct fingerprints — far more
    // rows than would fit as driver-side or per-batch structures — and
    // asserts (a) exact dedup counts, (b) the state lives in the RocksDB
    // provider (off-JVM-heap by construction; its memory/SST metrics are
    // reported and asserted non-trivial), (c) the full state survives a
    // stop + restart from the checkpoint: a post-restart wave of 200k
    // values that all repeat run-1 fingerprints emits ZERO rows.
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-dedup-1m").toString
    val input = MemoryStream[Long](spark)
    val emitted = new java.util.concurrent.atomic.AtomicLong
    def start() = graft.analytics.DedupOps.exactDedupStream(
        input.toDS().toDF("v")
          .withColumn("text", concat(lit("document number "), col("v") % 1000000L)))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count()); ()
      }
      .start()
    val q1 = start()
    // 1.2M rows in 4 batches; values mod 1e6 → exactly 1,000,000 distinct
    (0 until 4).foreach { i =>
      input.addData((i * 300000L) until ((i + 1) * 300000L))
      q1.processAllAvailable()
    }
    assert(emitted.get() == 1000000L,
      s"run 1 emitted ${emitted.get()}, want 1e6 distinct")
    val sop = q1.recentProgress.flatMap(_.stateOperators).maxBy(_.numRowsTotal)
    assert(sop.numRowsTotal == 1000000L,
      s"state store holds ${sop.numRowsTotal} fingerprints, want 1e6")
    val custom = sop.customMetrics
    val rocksKeys = custom.keySet().toArray.map(_.toString).filter(_.startsWith("rocksdb"))
    assert(rocksKeys.nonEmpty, s"no RocksDB metrics — wrong provider? $custom")
    assert(rocksKeys.exists(k => custom.get(k).longValue() > 0L),
      s"RocksDB metrics all zero: $custom")
    q1.stop()
    val q2 = start()
    input.addData(1200000L until 1400000L) // mod 1e6 → all run-1 repeats
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == 1000000L,
      s"duplicates leaked after restart: ${emitted.get() - 1000000L}")
  }

  // ---- 10⁶-entity soaks for the monitor twins (r10 verdict item 4):
  // the stream ≡ batch pins elsewhere use a handful of keys; these
  // drive each per-key fold to one MILLION entities in RocksDB (one/two
  // longs of state per key — ~16 MB total, nowhere near heap scale) and
  // assert the EXACT state value survives a stop + checkpoint restart:
  // the run-2 probe's emitted value is a function of run-1 state, so a
  // lost or corrupted store changes the output, not just a metric.
  private val SoakUsers = 1000000L
  private val SoakProbe = 200000L
  private def soakWaves: Seq[Range] =
    (0 until 4).map(i => (i * 250000) until ((i + 1) * 250000))

  private def assertSoakState(q: org.apache.spark.sql.streaming.StreamingQuery,
      want: Long, what: String): Unit = {
    val sop = q.recentProgress.flatMap(_.stateOperators).maxBy(_.numRowsTotal)
    // transformWithState reports one row per key per internal column
    // family (the value state + key bookkeeping → 2/key on Spark 4.1);
    // the metric pins state SCALE — exact per-key values are proved by
    // the run-2 probes below
    assert(sop.numRowsTotal == 2 * want,
      s"$what state store holds ${sop.numRowsTotal} rows, want ${2 * want}")
    val custom = sop.customMetrics
    val rocks = custom.keySet().toArray.map(_.toString)
      .filter(_.startsWith("rocksdb"))
    assert(rocks.nonEmpty && rocks.exists(k => custom.get(k).longValue() > 0L),
      s"$what: no live RocksDB metrics — wrong provider? $custom")
  }

  test("EwmaProcessor soak: 10^6 entities, exact state across a restart") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-ewma-1m").toString
    val t1 = Timestamp.valueOf("2024-03-01 10:00:00")
    val t2 = Timestamp.valueOf("2024-03-01 10:00:20")
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val exact = new java.util.concurrent.atomic.AtomicLong
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    def start() = graft.analytics.EventsQueries.ewmaAlertsStream(
        input.toDS().toDF("user_id", "ts", "event_id", "value"), h = 4000L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count())
        // s = 5000 can ONLY arise from the run-2 zero-value probe on a
        // RETAINED run-1 level of 10000 (run-1 rows emit s = 10000)
        exact.addAndGet(b.filter("s = 5000").count()); ()
      }.start()
    val q1 = start()
    soakWaves.foreach { w =>
      input.addData(w.map(u => (u.toLong, t1, u.toLong, 200.0)))
      q1.processAllAvailable()
    }
    assert(emitted.get() == SoakUsers, s"run 1 alerts ${emitted.get()}")
    assertSoakState(q1, SoakUsers, "ewma")
    q1.stop()
    val q2 = start()
    input.addData((0L until SoakProbe).map(u => (u, t2, SoakUsers + u, 0.0)))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == SoakUsers + SoakProbe,
      s"run 2 should alert on every probe: ${emitted.get()}")
    assert(exact.get() == SoakProbe,
      s"run-2 levels not the exact continuation (want s=5000 ×$SoakProbe, " +
        s"got ${exact.get()})")
  }

  test("HoltProcessor soak: 10^6 entities, exact (level, trend) across a restart") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-holt-1m").toString
    val t1 = Timestamp.valueOf("2024-03-01 10:00:00")
    val t2 = Timestamp.valueOf("2024-03-01 10:00:20")
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val exact = new java.util.concurrent.atomic.AtomicLong
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    def start() = graft.analytics.EventsQueries.holtTrendStream(
        input.toDS().toDF("user_id", "ts", "event_id", "value"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count())
        // (level 10000, trend -5000) can ONLY arise from the run-2
        // zero-value probe applied to a RETAINED run-1 seed of
        // (l = 20000, b = 0): l' = (0+20000+0)>>1, b' = (l'-20000)>>1.
        // A lost store re-seeds the probe to (l = 0, b = 0) instead.
        exact.addAndGet(b.filter("level = 10000 AND trend = -5000").count()); ()
      }.start()
    val q1 = start()
    soakWaves.foreach { w =>
      input.addData(w.map(u => (u.toLong, t1, u.toLong, 200.0)))
      q1.processAllAvailable()
    }
    assert(emitted.get() == SoakUsers, s"run 1 rows ${emitted.get()}")
    assertSoakState(q1, SoakUsers, "holt")
    q1.stop()
    val q2 = start()
    input.addData((0L until SoakProbe).map(u => (u, t2, SoakUsers + u, 0.0)))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == SoakUsers + SoakProbe,
      s"run 2 should emit every probe row: ${emitted.get()}")
    assert(exact.get() == SoakProbe,
      s"run-2 (level, trend) not the exact continuation (want " +
        s"(10000, -5000) ×$SoakProbe, got ${exact.get()})")
  }

  test("RateLimitProcessor soak: 10^6 buckets, exact tokens across a restart") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-rl-1m").toString
    val t1 = Timestamp.valueOf("2024-03-01 10:00:00")
    val t2 = Timestamp.valueOf("2024-03-01 10:00:20")
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val exact = new java.util.concurrent.atomic.AtomicLong
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    def start() = graft.analytics.EventsQueries.rateLimitStream(
        input.toDS().toDF("user_id", "ts", "event_id", "value"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count())
        // avail = 2000 = run-1 residue 1000 + 20 s × 50 c/s refill: only
        // reachable by continuing run-1 state (a fresh bucket admits)
        exact.addAndGet(b.filter("avail = 2000").count()); ()
      }.start()
    val q1 = start()
    soakWaves.foreach { w =>
      // 19000 of the 20000-cent bucket: admitted (no emission), tok 1000
      input.addData(w.map(u => (u.toLong, t1, u.toLong, 190.0)))
      q1.processAllAvailable()
    }
    assert(emitted.get() == 0L, s"run 1 should admit everything: ${emitted.get()}")
    assertSoakState(q1, SoakUsers, "rate-limit")
    q1.stop()
    val q2 = start()
    // +20 s: avail = min(cap, 1000 + 1000) = 2000 < 10000 → reject+emit;
    // a LOST bucket would re-open at cap 20000 and admit silently
    input.addData((0L until SoakProbe).map(u => (u, t2, SoakUsers + u, 100.0)))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == SoakProbe,
      s"run 2 should reject every probe: ${emitted.get()}")
    assert(exact.get() == SoakProbe,
      s"run-2 avail not the exact token continuation: ${exact.get()}")
  }

  test("CepProcessor soak: 10^6 open DFA states, match completes after restart") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-cep-1m").toString
    val t1 = Timestamp.valueOf("2024-03-01 10:00:00")
    val t2 = Timestamp.valueOf("2024-03-01 10:00:01")
    val t3 = Timestamp.valueOf("2024-03-01 10:00:20")
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val exact = new java.util.concurrent.atomic.AtomicLong
    val input = MemoryStream[(Long, Timestamp, Long, String)](spark)
    def start() = graft.analytics.EventsQueries.cepStream(
        input.toDS().toDF("user_id", "ts", "event_id", "event_type"),
        Seq("view", "click", "purchase"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count())
        exact.addAndGet(b.filter("n_matches = 1").count()); ()
      }.start()
    val q1 = start()
    soakWaves.foreach { w =>
      // view + click in one batch: every user's DFA parks at stage 2
      input.addData(w.flatMap(u => Seq(
        (u.toLong, t1, u.toLong * 2, "view"),
        (u.toLong, t2, u.toLong * 2 + 1, "click"))))
      q1.processAllAvailable()
    }
    assert(emitted.get() == SoakUsers && exact.get() == 0L,
      s"run 1: ${emitted.get()} rows, ${exact.get()} premature matches")
    assertSoakState(q1, SoakUsers, "cep")
    q1.stop()
    val q2 = start()
    // the closing 'purchase' completes view+ click+ purchase ONLY if the
    // open stage-2 state survived the restart (fresh state → count 0)
    input.addData((0L until SoakProbe).map(u =>
      (u, t3, 3 * SoakUsers + u, "purchase")))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == SoakUsers + SoakProbe, s"rows: ${emitted.get()}")
    assert(exact.get() == SoakProbe,
      s"run-2 matches ${exact.get()}, want $SoakProbe — DFA state lost")
  }

  test("SrmProcessor soak: 10^6 assignments over 250k experiments, exact counts across a restart") {
    import graft.analytics.StatTests
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-srm-1m").toString
    val keys = 250000L
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val exact = new java.util.concurrent.atomic.AtomicLong
    val input = MemoryStream[(String, Long)](spark)
    def start() = StatTests.srmStream(
        input.toDS().toDF("exp", "variant"), "exp", "variant")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count())
        // (3, 2) is ONLY reachable as run-1 (2, 2) + the run-2 arm-0
        // probe; a lost store would re-open at (1, 0)
        exact.addAndGet(b.filter("users_a = 3 AND users_b = 2").count()); ()
      }.start()
    val q1 = start()
    soakWaves.zipWithIndex.foreach { case (w, j) =>
      // waves 0-1 feed arm 0, waves 2-3 arm 1: every key ends at (2, 2)
      input.addData(w.map(u => ((u % 250000).toString, (j / 2).toLong)))
      q1.processAllAvailable()
    }
    assert(emitted.get() == 4L * keys, s"run 1 emissions ${emitted.get()}")
    assertSoakState(q1, keys, "srm")
    q1.stop()
    val q2 = start()
    input.addData((0L until SoakProbe).map(k => (k.toString, 0L)))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == 4L * keys + SoakProbe, s"rows: ${emitted.get()}")
    assert(exact.get() == SoakProbe,
      s"run-2 counts not the exact continuation (want (3,2) x$SoakProbe, " +
        s"got ${exact.get()})")
  }

  test("ContaminationProcessor soak: 10^6 stored hashes, late benchmark retro-flags after restart") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-contam-1m").toString
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val docSum = new java.util.concurrent.atomic.AtomicLong
    val input = MemoryStream[(String, Boolean, Long)](spark)
    def start() = input.toDS().groupByKey(_._1)
      .transformWithState(new ContaminationProcessor(),
        TimeMode.None(), OutputMode.Append())
      .toDF("doc_id", "kind")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect()
        emitted.addAndGet(rows.length)
        rows.foreach(r => docSum.addAndGet(r.getLong(0))); ()
      }.start()
    val q1 = start()
    soakWaves.foreach { w =>
      // one train doc per hash key: no benchmark seen -> zero emissions
      input.addData(w.map(u => (s"p:$u", false, u.toLong)))
      q1.processAllAvailable()
    }
    assert(emitted.get() == 0L, s"run 1 must emit nothing: ${emitted.get()}")
    val sop = q1.recentProgress.flatMap(_.stateOperators).maxBy(_.numRowsTotal)
    assert(sop.numRowsTotal >= SoakUsers,
      s"state holds ${sop.numRowsTotal} rows, want >= $SoakUsers")
    q1.stop()
    val q2 = start()
    // LATE benchmark lands on 200k of the stored hashes: each must
    // retro-flag exactly its stored train doc (doc id == key id), so
    // count AND doc-id sum are fully determined by retained state
    input.addData((0L until SoakProbe).map(k => (s"p:$k", true, 0L)))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == SoakProbe,
      s"run 2 should retro-flag one doc per probed hash: ${emitted.get()}")
    assert(docSum.get() == SoakProbe * (SoakProbe - 1) / 2,
      s"retro-flagged doc ids not the exact stored set: ${docSum.get()}")
  }

  test("srmStream: per-experiment counts equal the batch SRM gate across batch splits") {
    import graft.analytics.StatTests
    import spark.implicits._
    // exp "bad": 600 vs 400 (SRM); exp "ok": 520 vs 480 (healthy) —
    // split so each experiment's arms straddle the batch boundary
    val bad = (1 to 600).map(_ => ("bad", 0L)) ++ (1 to 400).map(_ => ("bad", 1L))
    val ok = (1 to 520).map(_ => ("ok", 0L)) ++ (1 to 480).map(_ => ("ok", 1L))
    val all = bad ++ ok
    val (w1, w2) = all.splitAt(all.length / 2)
    val input = MemoryStream[(String, Long)](spark)
    val latest = mutable.Map.empty[String, (Long, Long, Long, Boolean)]
    val q = StatTests.srmStream(
        input.toDS().toDF("exp", "variant"), "exp", "variant")
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-srm").toString)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => latest.synchronized {
          latest(r.getString(0)) =
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
        }); ()
      }.start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    q.stop()
    // batch truth per experiment on the same unit sets
    val bBad = StatTests.sampleRatioMismatch(
      bad.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
        .toDF("id", "variant"), "variant").collect().head
    val bOk = StatTests.sampleRatioMismatch(
      ok.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
        .toDF("id", "variant"), "variant").collect().head
    val got = latest.synchronized(latest.toMap)
    assert(got("bad") == ((bBad.getLong(0), bBad.getLong(1),
      bBad.getLong(2), bBad.getBoolean(3))), s"bad: $got vs $bBad")
    assert(got("ok") == ((bOk.getLong(0), bOk.getLong(1),
      bOk.getLong(2), bOk.getBoolean(3))), s"ok: $got vs $bOk")
    assert(got("bad")._4 && !got("ok")._4, got.toString)
  }

  test("srmStream: fractional variant encodings split arms pre-cast, equal to batch") {
    import graft.analytics.StatTests
    import spark.implicits._
    // variant 0.5 is NONZERO: the batch gate's `=!= 0` counts it in arm
    // B; a cast-first stream would truncate 0.5 -> 0 into arm A (r12
    // ADVICE). 30 zeros vs 70 halves must read 30/70, not 100/0.
    val units = (1 to 30).map(_ => ("e", 0.0)) ++ (1 to 70).map(_ => ("e", 0.5))
    val input = MemoryStream[(String, Double)](spark)
    val latest = mutable.Map.empty[String, (Long, Long, Long, Boolean)]
    val q = StatTests.srmStream(
        input.toDS().toDF("exp", "variant"), "exp", "variant")
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-srm-frac").toString)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => latest.synchronized {
          latest(r.getString(0)) =
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
        }); ()
      }.start()
    input.addData(units); q.processAllAvailable()
    q.stop()
    val batch = StatTests.sampleRatioMismatch(
      units.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
        .toDF("id", "variant"), "variant").collect().head
    val got = latest.synchronized(latest.toMap)
    assert(got("e")._1 == 30L && got("e")._2 == 70L, got.toString)
    assert(got("e") == ((batch.getLong(0), batch.getLong(1),
      batch.getLong(2), batch.getBoolean(3))), s"$got vs $batch")
  }

  test("contaminationStream: late benchmark retro-flags stored docs; flag set equals batch") {
    import graft.analytics.TextOps
    import spark.implicits._
    val b1 = "alpha beta gamma delta epsilon zeta eta theta"
    val b2 = "one two three four five six seven eight nine ten"
    val trainRows = Seq(
      (1L, b1),                                                   // exact + partial vs b1
      (2L, "prefix words then one two three four five six seven eight tail"), // partial vs b2
      (3L, "completely different words nothing shared here at all okay"))
    val benchRows = Seq((101L, b1), (102L, b2))
    // batch truth on the full corpora
    val batch = TextOps.contaminationCheck(
        trainRows.toDF("doc_id", "text"), benchRows.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(batch == Map(1L -> ((true, true)), 2L -> ((false, true)),
      3L -> ((false, false))), batch.toString)
    // stream: docs 2,3 + benchmark b1 land first; doc 1 and the LATE
    // benchmark b2 land second — b2 must retro-flag the stored doc 2
    val trainIn = MemoryStream[(Long, String)](spark)
    val benchIn = MemoryStream[(Long, String)](spark)
    val q = TextOps.contaminationStream(
        trainIn.toDS().toDF("doc_id", "text"), benchIn.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-contam").toString)
      .start()
    trainIn.addData(trainRows(1), trainRows(2))
    benchIn.addData(benchRows.head)
    q.processAllAvailable()
    val early = spark.table("contam_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(early.isEmpty, s"nothing contaminated yet: $early")
    trainIn.addData(trainRows.head)
    benchIn.addData(benchRows(1))
    q.processAllAvailable()
    q.stop()
    val flags = spark.table("contam_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val streamed = trainRows.map(_._1).map(d =>
      d -> ((flags.contains((d, "e")), flags.contains((d, "p"))))).toMap
    assert(streamed == batch,
      s"stream flag set $streamed differs from batch $batch")
  }

  test("graphAnnStream: incrementally-built graph equals the batch rebuild edge for edge") {
    import graft.analytics.SimilarityOps
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = SimilarityOps.trainCentroids(corpus)
    val k = 6; val xCells = 2; val xK = 2
    // batch rebuild on the full corpus: intra-cell kNN + cross-cell links
    val bk = SimilarityOps.knnGraph(corpus, k, cents).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val bx = SimilarityOps.crossCellEdges(corpus, cents, xCells, xK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // stream the same 500 vectors in 3 waves; latest emission per
    // (cell, src) wins (all emissions of one src ride one cell key →
    // one task, in order; foreachBatch appends batches in order)
    val rows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])](spark)
    val buf = mutable.Buffer.empty[(Long, Long, Boolean, Seq[Long], Seq[Double], Boolean)]
    val q = SimilarityOps.graphAnnStream(
        input.toDS().toDF("vec_id", "embedding"), cents, k, xCells, xK)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-gann").toString)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val got = b.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getBoolean(2), r.getSeq[Long](3), r.getSeq[Double](4),
          r.getBoolean(5)))
        buf.synchronized { buf ++= got }; ()
      }.start()
    rows.grouped(200).foreach { w => input.addData(w.toSeq); q.processAllAvailable() }
    q.stop()
    val fin = buf.synchronized {
      buf.zipWithIndex.groupBy { case (r, _) => (r._1, r._2, r._3) }
        .map { case (_, v) => v.maxBy(_._2)._1 }.toSeq
    }.filter(_._6)
    // member rows ARE the batch kNN edges — same order = same ranks
    val sk = fin.filter(_._3).flatMap { case (_, src, _, nbrs, cos, _) =>
      nbrs.indices.map(i => (src, i + 1, nbrs(i), cos(i))) }
    assert(sk.toSet == bk.toSet,
      s"kNN edges differ: stream ${sk.size} vs batch ${bk.length}; " +
        s"missing ${(bk.toSet -- sk.toSet).take(3)}, extra ${(sk.toSet -- bk.toSet).take(3)}")
    // visitor rows ARE the cross-cell links (per secondary cell)
    val sx = fin.filter(!_._3).flatMap { case (_, src, _, nbrs, cos, _) =>
      nbrs.indices.map(i => (src, nbrs(i), cos(i))) }.toSet
    assert(sx == bx,
      s"cross edges differ: stream ${sx.size} vs batch ${bx.size}; " +
        s"missing ${(bx -- sx).take(3)}, extra ${(sx -- bx).take(3)}")
  }

  test("graphAnnStream / bm25Stream: non-NONE TTL throws without the incoherence opt-in") {
    // r13 verdict: TTL expiry drops graph residents without re-linking
    // survivors (orphan edges) and expires bm25's replay guard
    // independently of its counters (stats drift) — tombstones /
    // batch rebuilds are the supported expiry; TTL needs the loud opt-in
    import graft.analytics.{SimilarityOps, VocabOps}
    import org.apache.spark.sql.streaming.TTLConfig
    import spark.implicits._
    val ttl = TTLConfig(java.time.Duration.ofMinutes(5))
    val vecs = MemoryStream[(Long, Array[Float])](spark)
      .toDS().toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))
    val e1 = intercept[IllegalArgumentException] {
      SimilarityOps.graphAnnStream(vecs, cents, stateTtl = ttl)
    }
    assert(e1.getMessage.contains("tombstones"), e1.getMessage)
    // with the opt-in the builder proceeds (plan construction succeeds)
    SimilarityOps.graphAnnStream(vecs, cents, stateTtl = ttl,
      allowIncoherentTtl = true)
    val docs = MemoryStream[(Long, String)](spark).toDS().toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      VocabOps.bm25Stream(docs, Seq("spark"), stateTtl = ttl)
    }
    assert(e2.getMessage.contains("seenDocs"), e2.getMessage)
    VocabOps.bm25Stream(docs, Seq("spark"), stateTtl = ttl,
      allowIncoherentTtl = true)
  }

  test("bm25Stream: maintained index ranks bit-identically to batch bm25Rank") {
    import graft.analytics.VocabOps
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val terms = Seq("spark", "query", "dup")
    val batchTop = VocabOps.bm25Rank(docs, terms).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)](spark)
    val buf = mutable.Buffer.empty[(String, Long, Long, Long)]
    val q = VocabOps.bm25Stream(input.toDS().toDF("doc_id", "text"), terms)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-bm25").toString)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val got = b.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        buf.synchronized { buf ++= got }; ()
      }.start()
    val waves = rows.grouped(200).toSeq
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    val postedOnce = buf.synchronized(buf.count(_._1.startsWith("t:")))
    // at-least-once: re-deliver the whole first wave — postings are
    // first-wins no-ops, the seen-doc shard guard holds the stats
    input.addData(waves.head); q.processAllAvailable()
    q.stop()
    val all = buf.synchronized(buf.toVector)
    assert(all.count(_._1.startsWith("t:")) == postedOnce,
      "replayed postings must not re-emit")
    // assemble latest state: postings are immutable (keep first), shard
    // stats keep the LATEST row per shard then sum
    val postings = all.filter(_._1.startsWith("t:"))
      .groupBy(r => (r._1, r._2)).map(_._2.head)
      .map(r => (r._1.drop(2), r._2, r._3, r._4)).toSeq
      .toDF("token", "doc_id", "tf", "dl")
    val shard = all.zipWithIndex.filter(_._1._1.startsWith("s:"))
      .groupBy(_._1._1).map(_._2.maxBy(_._2)._1)
    val stats = Seq((shard.map(_._3).sum, shard.map(_._4).sum))
      .toDF("n_docs", "sum_dl")
    assert(stats.head.getLong(0) == rows.size, "shard stats must cover every doc")
    val streamTop = VocabOps.bm25RankFromPostings(postings, stats).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamTop == batchTop,
      s"stream ranking diverged:\n stream $streamTop\n batch  $batchTop")
  }

  test("Bm25PostingsProcessor soak: 10^6 postings, restart, replays are no-ops") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-bm25-1m").toString
    val emittedPosts = new java.util.concurrent.atomic.AtomicLong
    val shardLatest = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
    val input = MemoryStream[(String, Long, Long, Long)](spark)
    def start() = input.toDS().groupByKey(_._1)
      .transformWithState(new Bm25PostingsProcessor(),
        TimeMode.None(), OutputMode.Append())
      .toDF("key", "doc_id", "tf", "dl")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emittedPosts.addAndGet(b.filter("key LIKE 't:%'").count())
        b.filter("key LIKE 's:%'").collect().foreach(r =>
          shardLatest.put(r.getString(0), (r.getLong(2), r.getLong(3)))); ()
      }.start()
    def dlOf(u: Long): Long = u % 50 + 10
    val q1 = start()
    soakWaves.foreach { w =>
      // each doc u: one posting on term key t:t<u%4> + one stats row on
      // shard s:<u%64> — 10^6 postings total, ~250k per term key
      input.addData(w.flatMap(u => Seq(
        (s"t:t${u % 4}", u.toLong, u.toLong % 7 + 1, dlOf(u.toLong)),
        (s"s:${u % 64}", u.toLong, 0L, dlOf(u.toLong)))))
      q1.processAllAvailable()
    }
    assert(emittedPosts.get() == SoakUsers, s"run 1 postings ${emittedPosts.get()}")
    val sop = q1.recentProgress.flatMap(_.stateOperators).maxBy(_.numRowsTotal)
    assert(sop.numRowsTotal >= SoakUsers,
      s"state holds ${sop.numRowsTotal} rows, want >= $SoakUsers")
    val custom = sop.customMetrics
    val rocks = custom.keySet().toArray.map(_.toString).filter(_.startsWith("rocksdb"))
    assert(rocks.nonEmpty && rocks.exists(kk => custom.get(kk).longValue() > 0L),
      s"bm25: no live RocksDB metrics — wrong provider? $custom")
    q1.stop()
    val q2 = start()
    // replay the whole first wave AGAINST RESTORED STATE: postings are
    // first-wins no-ops and the stats shards see no new doc — zero
    // emissions is only possible if every state entry survived
    input.addData(soakWaves.head.flatMap(u => Seq(
      (s"t:t${u % 4}", u.toLong, u.toLong % 7 + 1, dlOf(u.toLong)),
      (s"s:${u % 64}", u.toLong, 0L, dlOf(u.toLong)))))
    q2.processAllAvailable()
    assert(emittedPosts.get() == SoakUsers,
      s"replays must not re-emit postings: ${emittedPosts.get()}")
    // one genuinely new doc: exactly one posting + its shard re-emits
    input.addData(Seq(("t:t0", 2000000L, 3L, 10L), ("s:0", 2000000L, 0L, 10L)))
    q2.processAllAvailable()
    q2.stop()
    assert(emittedPosts.get() == SoakUsers + 1, s"want exactly one new posting")
    val n = shardLatest.values().toArray.map(_.asInstanceOf[(Long, Long)])
    val wantSum = (0L until SoakUsers).map(dlOf).sum + 10L
    assert(n.map(_._1).sum == SoakUsers + 1,
      s"shard n_docs sum ${n.map(_._1).sum}, want ${SoakUsers + 1}")
    assert(n.map(_._2).sum == wantSum,
      s"shard sum_dl ${n.map(_._2).sum}, want $wantSum")
  }

  test("graphAnnStream with deletes: maintained graph equals the batch rebuild on survivors") {
    import graft.analytics.SimilarityOps
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = SimilarityOps.trainCentroids(corpus)
    val k = 6; val xCells = 2; val xK = 2
    val rows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val byId = rows.toMap
    // every id % 3 == 1 is deleted: first-wave ids in a LATER batch
    // than their insert, second-wave ids in the SAME batch, plus one
    // never-inserted id (a no-op tombstone)
    val gone = rows.map(_._1).filter(_ % 3 == 1).toSet
    val (w1, w2) = rows.splitAt(rows.length / 2)
    val waves: Seq[Seq[(Long, Array[Float], Boolean)]] = Seq(
      w1.toSeq.map { case (id, v) => (id, v, false) },
      w2.toSeq.map { case (id, v) => (id, v, false) } ++
        w2.toSeq.collect { case (id, v) if gone(id) => (id, v, true) } ++
        Seq((99999L, byId(rows.head._1), true)),
      w1.toSeq.collect { case (id, v) if gone(id) => (id, v, true) })
    // batch truth: the full rebuild over the survivor set
    val surv = corpus.filter(col("vec_id") % 3 =!= 1)
    val bk = SimilarityOps.knnGraph(surv, k, cents).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val bx = SimilarityOps.crossCellEdges(surv, cents, xCells, xK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val input = MemoryStream[(Long, Array[Float], Boolean)](spark)
    val buf = mutable.Buffer.empty[(Long, Long, Boolean, Seq[Long], Seq[Double], Boolean)]
    val q = SimilarityOps.graphAnnStream(
        input.toDS().toDF("vec_id", "embedding", "del"), cents, k, xCells, xK,
        deleteCol = "del")
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-gann-del").toString)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val got = b.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getBoolean(2), r.getSeq[Long](3), r.getSeq[Double](4),
          r.getBoolean(5)))
        buf.synchronized { buf ++= got }; ()
      }.start()
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    q.stop()
    val latest = buf.synchronized {
      buf.zipWithIndex.groupBy { case (r, _) => (r._1, r._2, r._3) }
        .map { case (_, v) => v.maxBy(_._2)._1 }.toSeq
    }
    // every routed copy of a deleted id ends on a tombstone
    assert(latest.filter(r => gone(r._2)).forall(!_._6),
      "a deleted id's latest emission must be alive = false")
    val fin = latest.filter(_._6)
    val sk = fin.filter(_._3).flatMap { case (_, src, _, nbrs, cos, _) =>
      nbrs.indices.map(i => (src, i + 1, nbrs(i), cos(i))) }.toSet
    assert(sk == bk,
      s"kNN edges differ: stream ${sk.size} vs batch ${bk.size}; " +
        s"missing ${(bk -- sk).take(3)}, extra ${(sk -- bk).take(3)}")
    val sx = fin.filter(!_._3).flatMap { case (_, src, _, nbrs, cos, _) =>
      nbrs.indices.map(i => (src, nbrs(i), cos(i))) }.toSet
    assert(sx == bx,
      s"cross edges differ: stream ${sx.size} vs batch ${bx.size}; " +
        s"missing ${(bx -- sx).take(3)}, extra ${(sx -- bx).take(3)}")
    // ---- serve path (r14): graphAnnSearchFromState over the POST-CHURN
    // maintained snapshot must be bit-identical to the batch walker over
    // a batch-built index on the survivors — the maintain-AND-serve pin
    // (bm25Stream/bm25RankFromPostings's twin for the ANN tier)
    val stateDf = fin.toDF("cell", "src", "member", "nbrs", "cosines", "alive")
    val queries = surv.filter(col("vec_id") < 50)
    val kq = 6
    val served = SimilarityOps.graphAnnSearchFromState(
        stateDf, surv, queries, kq)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val batchBase = (bk.map { case (src, _, nbr, _) => (src, nbr) } ++
      bx.map { case (src, nbr, _) => (src, nbr) }).toSeq
    val batchSym = (batchBase ++ batchBase.map(_.swap)).toDF("src", "nbr")
    val batchTop = SimilarityOps.graphAnnSearch(surv, queries,
        surv.filter(col("vec_id") % 256 === 0), batchSym, kq, 40, 3, 24)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(served.toSeq == batchTop.toSeq,
      s"served top-k diverged from the batch walker: ${served.length} vs " +
        s"${batchTop.length} rows; first diff ${
          served.zip(batchTop).find(p => p._1 != p._2)}")
  }

  test("GraphAnnInsertProcessor soak: 10^6 residents, restart, delete churn, exact adjacency") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-gann-1m").toString
    val cells = 250000L
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val exact = new java.util.concurrent.atomic.AtomicLong
    val tomb = new java.util.concurrent.atomic.AtomicLong
    val input = MemoryStream[(Long, Long, Boolean, Array[Double], Double, Boolean)](spark)
    def start() = input.toDS().groupByKey(_._1)
      .transformWithState(new GraphAnnInsertProcessor(4, 2),
        TimeMode.None(), OutputMode.Append())
      .toDF("cell", "src", "member", "nbrs", "cosines", "alive")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count())
        // a probe visitor's top-2 over cell c's four members (1, j),
        // j = 0..3, against (1, 0) is EXACTLY [id(j=0), id(j=1)] =
        // [c, c + 250000] with cosine 1.0 first — only derivable from
        // retained run-1 member vectors (lost state → 0 neighbors)
        exact.addAndGet(b.filter("member = false AND size(nbrs) = 2 AND " +
          "nbrs[0] = src - 1000000 AND nbrs[1] = src - 750000 AND " +
          "cosines[0] = CAST(1 AS DOUBLE)").count())
        tomb.addAndGet(b.filter("alive = false").count()); ()
      }.start()
    val q1 = start()
    soakWaves.zipWithIndex.foreach { case (w, j) =>
      // wave j: one member per cell with v = (1, j); 4 waves fill every
      // cell with 4 members — adjacency churn on every arrival
      input.addData(w.map(u => (u.toLong % cells, u.toLong, true,
        Array(1.0, j.toDouble), math.sqrt(1.0 + j * j), false)))
      q1.processAllAvailable()
    }
    // wave j changes j+1 adjacencies per cell: (1+2+3+4) × 250k cells
    assert(emitted.get() == 10L * cells, s"run 1 emissions ${emitted.get()}")
    val sop = q1.recentProgress.flatMap(_.stateOperators).maxBy(_.numRowsTotal)
    assert(sop.numRowsTotal >= SoakUsers,
      s"map state holds ${sop.numRowsTotal} rows, want >= $SoakUsers")
    val custom = sop.customMetrics
    val rocks = custom.keySet().toArray.map(_.toString).filter(_.startsWith("rocksdb"))
    assert(rocks.nonEmpty && rocks.exists(kk => custom.get(kk).longValue() > 0L),
      s"graph-ann: no live RocksDB metrics — wrong provider? $custom")
    q1.stop()
    val q2 = start()
    // delete-churn wave AGAINST RESTORED STATE (r13): tombstone the
    // wave-3 member of every cell. Each cell's three survivors carried
    // id c+750000 in their top-3 adjacency (only 3 candidates at cap
    // 4), so every survivor re-links: 3 re-link rows + 1 tombstone per
    // cell. The probe below then reads the post-churn graph.
    input.addData((0L until cells).map(c =>
      (c, c + 750000L, true, Array(1.0, 3.0), math.sqrt(10.0), true)))
    q2.processAllAvailable()
    assert(emitted.get() == 10L * cells + 4L * cells,
      s"churn wave should emit 4 rows/cell: ${emitted.get()}")
    assert(tomb.get() == cells,
      s"churn wave should emit one tombstone/cell: ${tomb.get()}")
    // probe: one VISITOR per cell (cross-link insert path); emits only
    // itself, with adjacency computed against the restored, re-linked
    // member state — top-2 over the j=0..2 survivors is unchanged
    // ([id(j=0), id(j=1)]), so the exact-probe predicate still holds
    input.addData((0L until SoakProbe).map(c =>
      (c, 1000000L + c, false, Array(1.0, 0.0), 1.0, false)))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.get() == 10L * cells + 4L * cells + SoakProbe,
      s"run 2 should emit exactly one row per probe: ${emitted.get()}")
    assert(exact.get() == SoakProbe,
      s"run-2 adjacency not the exact continuation (want $SoakProbe exact " +
        s"top-2 rows, got ${exact.get()}) — member state lost or reordered")
  }
}

/** Event-time sessionization on raw transformWithState timers: per-key
  * running (n, total, session-end) state; every input re-arms the session
  * timer at maxTs + gap; the timer fires once the watermark passes it,
  * emits the session, and clears state. Stale timers (re-armed sessions)
  * are filtered by comparing against the stored session end — the
  * manual-timer equivalent of the built-in session_window operator.
  */
final class SessionTimerProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Timestamp, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var agg: ValueState[(Long, Double, Long)] = _ // (n, total, maxTsMs)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    agg = getHandle.getValueState[(Long, Double, Long)]("sess",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Timestamp, Double)],
      timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    var (n, total, maxTs) = if (agg.exists()) agg.get() else (0L, 0.0, 0L)
    rows.foreach { r =>
      n += 1; total += r._3; maxTs = math.max(maxTs, r._2.getTime)
    }
    agg.update((n, total, maxTs))
    getHandle.registerTimer(maxTs + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expired: ExpiredTimerInfo): Iterator[(Long, Long, Double)] = {
    if (agg.exists()) {
      val (n, total, maxTs) = agg.get()
      if (expired.getExpiryTimeInMs >= maxTs + gapMs) {
        agg.clear()
        return Iterator((key, n, total))
      }
    }
    Iterator.empty
  }
}
