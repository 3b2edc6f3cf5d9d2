package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery

/** Change-data-capture / warehouse-maintenance operators: turning an
  * append-only change log into the queryable history tables downstream
  * pipelines join against.
  *
  * Scale shape: everything here is per-entity window work — one shuffle
  * on the (uniform) entity key, LAG/LEAD inside each partition, no joins
  * and no global sort. At 100 TB the change log shuffles once by entity
  * and each history is built in-partition; there is no driver state and
  * no iteration.
  */
object CdcOps {

  /** Slowly-changing-dimension type-2 history from a change log: collapse
    * consecutive duplicate attribute values per entity (LAG), then stamp
    * each surviving version with its validity interval (`valid_from` =
    * its own change time, `valid_to` = the NEXT change's time via LEAD,
    * NULL while current). The standard warehouse dimension-history build,
    * expressed as two window passes over one entity-key shuffle.
    *
    * `tie` must be a per-entity-unique column (an event/sequence id) so
    * same-timestamp changes order deterministically — without it the
    * collapse step itself is nondeterministic under shuffle, not just the
    * output order.
    *
    * Output: (key, attr, valid_from, valid_to, is_current), one row per
    * retained version.
    */
  def scd2(log: DataFrame, key: String, attr: String, ts: String,
      tie: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val changes = log
      .withColumn("_prev", lag(col(attr), 1).over(ord))
      .filter(col("_prev").isNull || col("_prev") =!= col(attr))
      .select(col(key), col(attr), col(ts).as("valid_from"), col(tie))
    val vord = Window.partitionBy(col(key)).orderBy(col("valid_from"), col(tie))
    changes
      .withColumn("valid_to", lead(col("valid_from"), 1).over(vord))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Latest-wins state of an append-only changelog — the read side of a
    * lakehouse MERGE: per key, the row of the most recent change (by
    * `ts`, then `tie` for same-timestamp determinism), dropped entirely
    * when that final change is a tombstone (`opCol = 'delete'`). Keeps
    * every other column, including `ts`/`tie` (the "last changed"
    * metadata that lets the output be re-merged as a base via
    * [[applyChangelog]]). One entity-key shuffle + one in-partition
    * window, no joins — at 100 TB the log shuffles once by (uniform) key.
    */
  def changelogState(log: DataFrame, key: String, ts: String, tie: String,
      opCol: String = "op"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts).desc, col(tie).desc)
    log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col(opCol) =!= "delete")
      .drop("_rn", opCol)
  }

  /** Apply a changelog increment to a base state — MERGE-style upserts +
    * deletes without a mutable table format: the base (a prior
    * [[changelogState]] output, so it still carries its `ts`/`tie`) is
    * unioned with the new changes as implicit upserts and the latest-wins
    * rule re-resolves per key. Because latest-wins only depends on each
    * key's FINAL change, `applyChangelog(stateAt(T), changesAfter(T))`
    * is row-identical to computing [[changelogState]] over the full log —
    * the incremental-maintenance equivalence the oracle checks (base
    * rows predate the increment by construction, so their timestamps
    * order them correctly with no epoch column).
    */
  def applyChangelog(base: DataFrame, changes: DataFrame, key: String,
      ts: String, tie: String, opCol: String = "op"): DataFrame =
    changelogState(
      base.withColumn(opCol, lit("upsert"))
        .unionByName(changes.select(base.columns.map(col) :+ col(opCol): _*)),
      key, ts, tie, opCol)

  // ==================== driver-checked query bindings ====================

  /** Per-user event_type version history over the events log; validity
    * bounds emitted as epoch-µs BIGINTs (the events tier's cross-engine
    * timestamp convention).
    */
  private val scd2Sql = """WITH s AS (SELECT user_id, event_type, ts, event_id,
      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events),
    c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM s
      WHERE prev IS NULL OR prev <> event_type),
    v AS (SELECT user_id, event_type, valid_from, event_id,
      LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
    FROM c)
    SELECT user_id, event_type, epoch_us(valid_from) AS from_us,
      epoch_us(valid_to) AS to_us, valid_to IS NULL AS is_current
    FROM v ORDER BY user_id, from_us, event_id"""

  private val qScd2 = GraftQuery(
    "qcdc_scd2",
    (s, dir) => scd2(Tables.events(s, dir), "user_id", "event_type", "ts", "event_id")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("from_us"),
        unix_micros(col("valid_to")).as("to_us"), col("is_current"),
        col("event_id"))
      .orderBy(col("user_id"), col("from_us"), col("event_id"))
      .drop("event_id"),
    Some(scd2Sql))

  /** The events log viewed as a changelog of per-user profile rows:
    * 'error' events are tombstones, everything else upserts the row. The
    * Spark side exercises the INCREMENTAL path — state at Jan 16 merged
    * with the post-cutoff increment — while the oracle computes the
    * final state from the whole log in one pass; they agree exactly
    * because latest-wins depends only on each key's final change.
    */
  private val MergeCutoff = "2024-01-16 00:00:00"

  private val mergeSql = s"""WITH ch AS (SELECT user_id, event_type, value, ts, event_id,
      CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
    FROM events),
    r AS (SELECT user_id, event_type, value, ts, event_id, op,
      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM ch)
    SELECT user_id, event_type, value, epoch_us(ts) AS changed_us
    FROM r WHERE rn = 1 AND op <> 'delete' ORDER BY user_id"""

  private val qMerge = GraftQuery(
    "qcdc_merge_upserts",
    (s, dir) => {
      val log = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"), col("ts"),
          col("event_id"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
      val cut = lit(MergeCutoff).cast("timestamp")
      val base = changelogState(log.filter(col("ts") < cut),
        "user_id", "ts", "event_id")
      applyChangelog(base, log.filter(col("ts") >= cut),
          "user_id", "ts", "event_id")
        .select(col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("changed_us"))
        .orderBy(col("user_id"))
    },
    Some(mergeSql))

  /** Incremental maintenance of a grouped COUNT/SUM aggregate view under a
    * changelog of inserts and retractions — the materialized-view delta
    * rule (view ⊎ Δ): per-key signed deltas (insert → +1/+v, delete →
    * −1/−v) are aggregated and merged into the base aggregate, and a key
    * whose live count reaches 0 drops out. Because decimal addition is
    * associative and commutative, the maintained view is row-identical to
    * recomputing the aggregate over the net multiset — which is exactly
    * what the oracle checks.
    *
    * Scale shape: cost ∝ |Δ| + |view|, never |facts| — the delta batch
    * aggregates with map-side partials on the (uniform) group key, then
    * one merge shuffle with the view, which at 100 TB of facts is orders
    * of magnitude smaller than the fact table a recompute would rescan.
    * Repeated application keeps the view partitioned by the same key, so
    * successive merges reuse the layout (bucketing the stored view on
    * `key` makes the merge co-located and shuffle-free).
    *
    * `baseAgg`: (key, cntCol, sumCol); `changes`: (key, valueCol, opCol ∈
    * insert|delete). Deletes must retract rows actually present (standard
    * changelog well-formedness) or counts go negative — a `require` can't
    * see data, so malformed logs surface as dropped (cnt ≤ 0) keys.
    */
  def incrementalAgg(baseAgg: DataFrame, changes: DataFrame, key: String,
      cntCol: String = "n_rows", sumCol: String = "total",
      valueCol: String = "value", opCol: String = "op"): DataFrame = {
    val sumType = baseAgg.schema(sumCol).dataType
    val sign = when(col(opCol) === "delete", lit(-1L)).otherwise(lit(1L))
    val delta = changes.groupBy(col(key))
      .agg(sum(sign).as(cntCol),
        sum(sign * col(valueCol)).cast(sumType).as(sumCol))
    baseAgg.select(col(key), col(cntCol).cast("long").as(cntCol),
        col(sumCol).cast(sumType).as(sumCol))
      .unionByName(delta)
      .groupBy(col(key))
      .agg(sum(col(cntCol)).as(cntCol), sum(col(sumCol)).as(sumCol))
      .filter(col(cntCol) > 0)
  }

  /** Per-supplier revenue view maintained incrementally: base = shipments
    * before the cutoff; the increment inserts the post-cutoff shipments
    * and retracts the pre-cutoff rows flagged returned. The oracle
    * recomputes over the net row set directly.
    */
  private val IncrCutoff = "1998-01-01 00:00:00"

  private val incrSql = s"""SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(${OracleFragments.discPrice}) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '$IncrCutoff'
       OR (l_shipdate < TIMESTAMP '$IncrCutoff' AND l_returnflag <> 'R')
    GROUP BY l_suppkey ORDER BY l_suppkey"""

  private val qIncrAgg = GraftQuery(
    "qcdc_incr_agg",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cut = lit(IncrCutoff).cast("timestamp")
      val base = li.filter(col("l_shipdate") < cut)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_rows"), sum(Exact.discPrice).as("total"))
      val ins = li.filter(col("l_shipdate") >= cut)
        .select(col("l_suppkey"), Exact.discPrice.as("value"),
          lit("insert").as("op"))
      val del = li.filter(col("l_shipdate") < cut && col("l_returnflag") === "R")
        .select(col("l_suppkey"), Exact.discPrice.as("value"),
          lit("delete").as("op"))
      incrementalAgg(base, ins.unionByName(del), "l_suppkey")
        .select(col("l_suppkey"), col("n_rows"),
          col("total").cast("double").as("revenue"))
        .orderBy(col("l_suppkey"))
    },
    Some(incrSql))

  /** Snapshot diff — the audit view of two keyed table versions: per key,
    * `added` (only in `after`), `removed` (only in `before`), or
    * `changed` (present in both, any non-key column differs, null-safe).
    * The "what did this merge/backfill actually do" query every
    * lakehouse exposes as table_changes/DESCRIBE HISTORY, computed here
    * from the two states directly.
    *
    * One full-outer hash join on the (uniform) key; column comparison is
    * a null-safe conjunction evaluated in the join's projection — no
    * second pass, no hashing of rows into strings. Unchanged keys are
    * dropped. Output: (key, change_type) plus the before/after values of
    * `carryCols` for human consumption.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    val cols = before.columns.filterNot(_ == key).toSeq
    require(cols == after.columns.filterNot(_ == key).toSeq,
      s"schemas differ: ${before.columns.toSeq} vs ${after.columns.toSeq}")
    val b = before.select(col(key).as("_bk") +: cols.map(c => col(c).as(s"_b_$c")): _*)
    val a = after.select(col(key).as("_ak") +: cols.map(c => col(c).as(s"_a_$c")): _*)
    val anyDiff = cols.map(c => !(col(s"_b_$c") <=> col(s"_a_$c")))
      .reduce(_ || _)
    b.join(a, col("_bk") === col("_ak"), "full_outer")
      .withColumn("change_type",
        when(col("_bk").isNull, lit("added"))
          .when(col("_ak").isNull, lit("removed"))
          .when(anyDiff, lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(coalesce(col("_bk"), col("_ak")).as(key) +: col("change_type") +:
        carryCols.flatMap(c =>
          Seq(col(s"_b_$c").as(s"old_$c"), col(s"_a_$c").as(s"new_$c"))): _*)
  }

  /** Profile-state diff across the merge cutoff: what the post-cutoff
    * changelog increment did to each user's latest-wins row.
    */
  private val diffSql = s"""WITH ch AS (SELECT user_id, event_type, value, ts, event_id,
      CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
    FROM events),
    b AS (SELECT user_id, event_type, value, ts FROM (
      SELECT user_id, event_type, value, ts, op,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM ch WHERE ts < TIMESTAMP '$MergeCutoff') t WHERE rn = 1 AND op <> 'delete'),
    a AS (SELECT user_id, event_type, value, ts FROM (
      SELECT user_id, event_type, value, ts, op,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM ch) t WHERE rn = 1 AND op <> 'delete')
    SELECT COALESCE(b.user_id, a.user_id) AS user_id,
      CASE WHEN b.user_id IS NULL THEN 'added'
        WHEN a.user_id IS NULL THEN 'removed' ELSE 'changed' END AS change_type,
      b.event_type AS old_event_type, a.event_type AS new_event_type
    FROM b FULL JOIN a ON b.user_id = a.user_id
    WHERE b.user_id IS NULL OR a.user_id IS NULL
      OR b.event_type IS DISTINCT FROM a.event_type
      OR b.value IS DISTINCT FROM a.value
      OR b.ts IS DISTINCT FROM a.ts
    ORDER BY user_id"""

  private val qDiff = GraftQuery(
    "qcdc_snapshot_diff",
    (s, dir) => {
      val log = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"), col("ts"),
          col("event_id"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
      val cut = lit(MergeCutoff).cast("timestamp")
      def state(df: DataFrame) =
        changelogState(df, "user_id", "ts", "event_id").drop("event_id")
      snapshotDiff(state(log.filter(col("ts") < cut)), state(log),
          "user_id", carryCols = Seq("event_type"))
        .orderBy(col("user_id"))
    },
    Some(diffSql))

  // --------------------------------------------- point-in-time join
  /** Point-in-time (PIT) join — facts against an [[scd2]] dimension AS OF
    * each fact's own timestamp: the feature-store correctness operator
    * (training rows must see the feature value that was current WHEN the
    * fact happened; joining today's dimension row into last year's facts
    * is the classic label-leakage bug, the temporal twin of
    * [[LearnOps.looTargetEncode]]'s LOO guard).
    *
    * A PIT join IS an as-of join on (entity, validity start), so this
    * composes the native [[graft.plans.AsofJoinExec]] operator: each side
    * shuffles once on the entity key, sorts on (entity, time), one
    * forward merge — sort-merge scale shape, no interval explode, no
    * window-over-union. Same-instant dimension changes are collapsed to
    * the last one (by the tie column) BEFORE the join so the as-of probe
    * is unambiguous in both engines.
    *
    * Output: every fact row + `profile_state` (the dimension attribute in
    * force at fact time; null when the fact precedes any dimension row).
    */
  def pitJoin(facts: DataFrame, dimLog: DataFrame, key: String, attr: String,
      ts: String, tie: String, factTs: String): DataFrame = {
    val dim0 = scd2(dimLog, key, attr, ts, tie)
      .select(col(key).as("d_user"), col(attr).as("profile_state"),
        col("valid_from").as("d_from"), col(tie).as("d_tie"))
    // collapse same-instant changes: one row per (entity, valid_from)
    val w = Window.partitionBy(col("d_user"), col("d_from"))
      .orderBy(col("d_tie").desc)
    val dim = dim0.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "d_tie")
    graft.plans.AsofOps.asofJoin(facts, dim,
      Seq(key), Seq("d_user"), factTs, "d_from")
  }

  private val pitSql = """WITH s AS (SELECT user_id, event_type, ts, event_id,
      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events WHERE event_type <> 'purchase'),
    c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM s
      WHERE prev IS NULL OR prev <> event_type),
    dim AS (SELECT user_id AS d_user, event_type AS profile_state, valid_from
      FROM (SELECT user_id, event_type, valid_from,
        ROW_NUMBER() OVER (PARTITION BY user_id, valid_from ORDER BY event_id DESC) AS rn
        FROM c) WHERE rn = 1)
    SELECT p.user_id, p.event_id, p.ts, dim.profile_state
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN dim ON p.user_id = dim.d_user AND p.ts >= dim.valid_from
    ORDER BY p.user_id, p.ts, p.event_id"""

  private val qPit = GraftQuery(
    "qcdc_pit_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      pitJoin(facts, ev.filter(col("event_type") =!= "purchase"),
          "user_id", "event_type", "ts", "event_id", "ts")
        .select(col("user_id"), col("event_id"), col("ts"), col("profile_state"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some(pitSql))

  // -------------------- incremental JOIN view maintenance (delta join)
  /** Incremental maintenance of a JOIN materialized view under
    * insert-only deltas — the warehouse IVM identity
    * Δ(A⋈B) = dA⋈B ∪ A⋈dB ∪ dA⋈dB, computed as
    * dA⋈(B∪dB) ∪ A⋈dB (the first term folds in dA⋈dB). The view's
    * refresh cost is proportional to the DELTAS times their join
    * partners, never to |A⋈B|: both terms are ordinary hash joins whose
    * probe side is a delta, so a daily increment against a year of
    * base data touches one day's rows. Multiset-correct (no distinct
    * anywhere): appending the output to the stored view equals a full
    * recompute, pinned in OpsApiSpec on duplicate-key data and
    * cross-checked in the oracle by the equivalent "at least one side
    * is new" predicate over the full join — two independent
    * formulations of the same delta.
    * Output: A's columns ++ B's columns, one row per new view row.
    */
  def joinDeltaMaintenance(aBase: DataFrame, aDelta: DataFrame,
      bBase: DataFrame, bDelta: DataFrame,
      aKey: String, bKey: String): DataFrame = {
    val bAll = bBase.union(bDelta)
    aDelta.join(bAll, col(aKey) === col(bKey))
      .union(aBase.join(bDelta, col(aKey) === col(bKey)))
  }

  private val IvmCut = "1998-01-01"

  private val qIvmJoin = GraftQuery(
    "qcdc_ivm_join",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val cut = lit(IvmCut).cast("timestamp")
      joinDeltaMaintenance(
        o.filter(col("o_orderdate") < cut), o.filter(col("o_orderdate") >= cut),
        c.filter(col("c_custkey") % 50 =!= 0), c.filter(col("c_custkey") % 50 === 0),
        "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("c_mktsegment"))
        .orderBy(col("o_orderkey"))
    },
    Some(s"""SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, c.c_mktsegment
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate >= TIMESTAMP '$IvmCut' OR c.c_custkey % 50 = 0
      ORDER BY o_orderkey"""))

  val queries: Seq[GraftQuery] = Seq(qScd2, qMerge, qIncrAgg, qDiff, qPit,
    qIvmJoin)
}
