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

  test("state layout: one operatorState row per operator and entity, written once per batch") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-layout").toString
    val input = MemoryStream[Array[Byte]](spark)
    val replies = mutable.Buffer.empty[Event]
    val ledger = FunctionType("global", "Ledger", stateful = true)
    def hop(id: String, ft: FunctionType, key: String, v: Long) =
      ProtoCodec.encode(Event.request(id, FunctionAddress(ft, key), Request.InvokeStateful, delta(v)))

    val q = StateflowPipeline.start(input.toDS(), new LocalCounterExecutor, ckpt,
      JobConfig())(collectReplies(replies))
    input.addData(hop("h1", acct, "e1", 2), hop("h2", ledger, "e1", 5),
      ProtoCodec.encode(Event.request("p1", Event.emptyAddress, Request.Ping)))
    q.processAllAvailable()
    // two hops on one key in one batch fold into one state write
    input.addData(hop("h3", acct, "e1", 3), hop("h4", acct, "e1", 4), hop("h5", ledger, "e2", 7))
    q.processAllAvailable()
    q.stop()
    assert(replies.synchronized(replies.map(_.eventId).toSet) == Set("h1", "h2", "h3", "h4", "h5", "p1"))

    // the grouping key is routeName + NUL + key; the value is the counter blob
    def stateKey(ft: FunctionType, key: String) = s"${ft.namespace}/${ft.name}\u0000$key"
    val reader = spark.read.format("statestore").option("stateVarName", "operatorState")
    val rows = reader.load(ckpt).select(col("key.value"), col("value.value"))
      .as[(String, Array[Byte])].collect()
    assert(rows.map { case (k, v) => k -> asLong(v) }.toMap == Map(
      stateKey(acct, "e1") -> 9L, stateKey(ledger, "e1") -> 5L, stateKey(ledger, "e2") -> 7L))
    assert(rows.length == 3, rows.map(_._1).toSeq)

    // the change feed: one update per key and batch that invoked it; the
    // ping's key never reaches the store
    val changes = reader.option("readChangeFeed", "true").option("changeStartBatchId", 0L)
      .load(ckpt).select(col("batch_id"), col("change_type"), col("key.value"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(changes == Seq(
      (0L, "update", stateKey(acct, "e1")), (0L, "update", stateKey(ledger, "e1")),
      (1L, "update", stateKey(acct, "e1")), (1L, "update", stateKey(ledger, "e2"))))
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
    // quality scoring is map-only → valid in a streaming plan
    val scored = graft.analytics.TextOps.qualityScore(docs)
    val q1 = scored.writeStream.outputMode("append")
      .format("memory").queryName("stream_quality")
      .option("checkpointLocation", Files.createTempDirectory("graft-sq").toString)
      .start()
    input.addData((1L, "the quick brown fox"), (2L, "the quick brown fox"))
    q1.processAllAvailable()
    input.addData((3L, "THE  quick   brown fox"), (4L, "something else entirely"))
    q1.processAllAvailable()
    q1.stop()

    assert(spark.table("stream_quality").count() == 4, "map-only op must emit per row")
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
