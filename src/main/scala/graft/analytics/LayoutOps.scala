package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery

/** Z-order (Morton-curve) data layout — the write-side clustering that
  * makes parquet min/max footer stats selective on MORE THAN ONE column
  * at once. A table sorted by `a` alone skips nothing for predicates on
  * `b`; laid out along the Z-curve over (a, b), every file covers a small
  * RECTANGLE of the (a, b) space, so range predicates on either column
  * (or both) prune files. At 100 TB this is the difference between a
  * full scan and reading a few percent of files for selective filters —
  * the same layout trick Delta/Iceberg expose as `OPTIMIZE ZORDER BY`,
  * built here from public Spark primitives: one tiny min/max aggregate
  * (broadcast as a 1-row literal), a map-only bit-interleave expression,
  * and `repartitionByRange` + `sortWithinPartitions` so each output task
  * writes one contiguous Z-range.
  *
  * Everything is exact integer arithmetic (scale-to-code uses integer
  * `DIV`, never a double), so the layout — and the oracle — are
  * deterministic across engines and partitionings.
  */
object LayoutOps {

  /** Bit-interleave two `bits`-wide non-negative codes into the Morton
    * code: bit i of `ca` lands at position 2i, bit i of `cb` at 2i+1.
    * Statically unrolled (2·bits codegen-friendly shift/mask terms), no
    * UDF, no loop at runtime.
    */
  def mortonInterleave(ca: Column, cb: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(ca, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(cb, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** `df` plus a `zval` Morton code over integer columns `colA`/`colB`:
    * each value is scaled to a `bits`-wide code by exact integer
    * arithmetic against the column's min/max — `(x-min)·2^bits DIV
    * (max-min+1)`, which lands max at 2^bits−1 with no clamp — then the
    * codes are interleaved. The min/max aggregate is one 1-row frame,
    * broadcast into a map-only projection; the corpus is scanned twice
    * (stats + codes), the standard two-pass layout write.
    */
  def zorder(df: DataFrame, colA: String, colB: String,
      bits: Int = 8): DataFrame = {
    require(!df.columns.exists(Set("_mna", "_mxa", "_mnb", "_mxb", "_ca", "_cb")),
      "input already has a _mna/_mxa/_mnb/_mxb/_ca/_cb column")
    val st = df.agg(min(col(colA)).as("_mna"), max(col(colA)).as("_mxa"),
      min(col(colB)).as("_mnb"), max(col(colB)).as("_mxb"))
    val w = 1L << bits
    df.crossJoin(broadcast(st))
      .withColumn("_ca", expr(s"(($colA - _mna) * ${w}L) DIV (_mxa - _mna + 1)"))
      .withColumn("_cb", expr(s"(($colB - _mnb) * ${w}L) DIV (_mxb - _mnb + 1)"))
      .withColumn("zval", mortonInterleave(col("_ca"), col("_cb"), bits))
      .drop("_mna", "_mxa", "_mnb", "_mxb", "_ca", "_cb")
  }

  /** The write-side layout: Z-value the rows, range-partition into
    * `numFiles` contiguous Z-ranges, sort within each — every output
    * file then covers one rectangle of (colA, colB) space and its
    * parquet footer min/max prunes on both columns. Write with
    * `.write.parquet(...)` as-is.
    */
  def zorderLayout(df: DataFrame, colA: String, colB: String,
      numFiles: Int, bits: Int = 8): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    zorder(df, colA, colB, bits)
      .repartitionByRange(numFiles, col("zval"))
      .sortWithinPartitions("zval")
  }

  // ==================== driver-checked query bindings ====================

  private val ZBits = 8
  // Buckets = top 4 Morton bits → 16 buckets, 2 bits per dimension.

  /** Per-Z-bucket occupancy + raw-column spans: the direct evidence the
    * layout skips — each bucket's (min,max) on BOTH key columns is a
    * quarter-range rectangle, where a single-column sort would leave the
    * other column's span at full range.
    */
  private val zorderSql = s"""WITH st AS (SELECT MIN(l_partkey) AS mna, MAX(l_partkey) AS mxa,
      MIN(l_suppkey) AS mnb, MAX(l_suppkey) AS mxb FROM lineitem),
    c AS (SELECT l_partkey, l_suppkey,
      ((l_partkey - mna) * ${1L << ZBits}) // (mxa - mna + 1) AS ca,
      ((l_suppkey - mnb) * ${1L << ZBits}) // (mxb - mnb + 1) AS cb
      FROM lineitem, st),
    z AS (SELECT l_partkey, l_suppkey,
      ${(0 until ZBits).map(i =>
        s"(((ca >> $i) & 1) << ${2 * i}) + (((cb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")} AS zval
      FROM c)
    SELECT zval >> ${2 * ZBits - 4} AS bucket, COUNT(*) AS n_rows,
      MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
      MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM z GROUP BY bucket ORDER BY bucket"""

  /** Compaction planner for the small-files problem: assign every input
    * file to an output bin of ≈ `targetBytes`, deterministically. The
    * packing rule is next-fit over the (bytes DESC, id) total order: a
    * file's bin is `floor(prefix_bytes / targetBytes)` where
    * `prefix_bytes` is the byte total of all files strictly before it —
    * large files first (so each gets a dedicated bin when over target),
    * then decreasing fill.
    *
    * The prefix sum is DISTRIBUTED — no single-partition window over the
    * inventory. Textbook two-level scan: range-partition the inventory on
    * the total order, per-partition byte totals (one tiny aggregate, ≤ P
    * rows) get exclusive prefix offsets via a window over P rows, then
    * each partition computes its local running sum in parallel
    * (`partitionBy(_pid)` window) and adds its broadcast offset. Range
    * boundaries from Spark's sampling can land anywhere without changing
    * the answer: the total order is strict (id is unique), so global
    * prefix sums are partition-placement-independent. A 100 TB corpus at
    * 128 MB/file is only ~800 k inventory rows, but the same plan holds
    * even for billions.
    *
    * Output: (file_id, bytes, bin).
    */
  def compactionPlan(files: DataFrame, idCol: String, sizeCol: String,
      targetBytes: Long, parts: Int = 0): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val spark = files.sparkSession
    val p = if (parts > 0) parts
      else spark.sessionState.conf.numShufflePartitions
    val inv = files
      .select(col(idCol).as("file_id"), col(sizeCol).cast("long").as("bytes"))
      .repartitionByRange(p, col("bytes").desc, col("file_id"))
      // materialized: both consumers must read ONE sampled partitioning
      // (see Scans.rangedCumSums)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val offsets = inv.groupBy(col("_pid")).agg(sum(col("bytes")).as("_psum"))
      .withColumn("_off", coalesce(sum(col("_psum")).over(
        Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_psum")
    val wLoc = Window.partitionBy(col("_pid"))
      .orderBy(col("bytes").desc, col("file_id"))
    inv.join(broadcast(offsets), "_pid")
      .withColumn("_cum",
        col("_off") + sum(col("bytes")).over(wLoc) - col("bytes"))
      .select(col("file_id"), col("bytes"),
        expr(s"_cum div ${targetBytes}L").as("bin"))
  }

  private val CompactTarget = 65536L

  private val qCompaction = GraftQuery(
    "qlayout_compaction",
    (s, dir) => compactionPlan(
        Tables.documents(s, dir)
          .select(col("doc_id"), length(col("text")).as("sz")),
        "doc_id", "sz", CompactTarget)
      .orderBy(col("bin"), col("file_id")),
    Some(s"""WITH f AS (SELECT doc_id AS file_id, CAST(length(text) AS BIGINT) AS bytes
      FROM documents),
    c AS (SELECT file_id, bytes,
      COALESCE(SUM(bytes) OVER (ORDER BY bytes DESC, file_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM f)
    SELECT file_id, bytes, CAST(cum // $CompactTarget AS BIGINT) AS bin
    FROM c ORDER BY bin, file_id"""))

  private val qZorder = GraftQuery(
    "qlayout_zorder",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      zorder(li.select(col("l_partkey"), col("l_suppkey")),
          "l_partkey", "l_suppkey", ZBits)
        .groupBy(shiftright(col("zval"), 2 * ZBits - 4).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
        .orderBy(col("bucket"))
    },
    Some(zorderSql))

  // ==================== Hilbert-curve layout ====================

  /** Hilbert index over two `bits`-wide non-negative codes — the
    * locality-superior alternative to [[mortonInterleave]]: the Hilbert
    * curve visits every cell of the 2^bits × 2^bits grid through
    * UNIT-DISTANCE steps only (the Z-curve's long diagonal jumps are what
    * let a single file's rectangle span half the key space), so
    * equal-size index ranges cover tighter rectangles and zonemaps prune
    * strictly better on range predicates — why Iceberg/DataBricks offer
    * Hilbert clustering above Z-order.
    *
    * Implementation is the standard xy2d state machine (per level:
    * quadrant digit + rotate/reflect), folded over the `bits` levels in
    * ONE `aggregate` expression with (x, y, d) struct state — linear
    * expression size (a statically unrolled column chain would grow ~3×
    * per level from the rotation's multi-reference of x and y), no UDF,
    * map-only. The quadrant digit is a 4-way CASE, no XOR — identical
    * text in the DuckDB oracle's unrolled CTE chain.
    */
  def hilbertIndex(ca: Column, cb: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val b1 = bits - 1
    def s = s"shiftleft(cast(1 as bigint), $b1 - k)"
    expr(s"""aggregate(
      sequence(0, $b1),
      named_struct('x', cast(${ca.toString} as bigint),
                   'y', cast(${cb.toString} as bigint),
                   'd', cast(0 as bigint)),
      (acc, k) -> named_struct(
        'x', IF((acc.y & $s) = 0,
               IF((acc.x & $s) > 0, $s - 1 - acc.y, acc.y), acc.x),
        'y', IF((acc.y & $s) = 0,
               IF((acc.x & $s) > 0, $s - 1 - acc.x, acc.x), acc.y),
        'd', acc.d + $s * $s *
          (CASE WHEN (acc.x & $s) = 0 AND (acc.y & $s) = 0 THEN 0L
                WHEN (acc.x & $s) = 0 THEN 1L
                WHEN (acc.y & $s) > 0 THEN 2L
                ELSE 3L END)),
      acc -> acc.d)""")
  }

  /** `df` plus an `hval` Hilbert index over integer columns
    * `colA`/`colB`; same exact-integer min/max scaling and two-pass
    * shape as [[zorder]]. Feed `repartitionByRange(hval)` +
    * `sortWithinPartitions` for the write, exactly like
    * [[zorderLayout]].
    */
  def hilbert(df: DataFrame, colA: String, colB: String,
      bits: Int = 8): DataFrame = {
    require(!df.columns.exists(Set("_mna", "_mxa", "_mnb", "_mxb", "_ca", "_cb")),
      "input already has a _mna/_mxa/_mnb/_mxb/_ca/_cb column")
    val st = df.agg(min(col(colA)).as("_mna"), max(col(colA)).as("_mxa"),
      min(col(colB)).as("_mnb"), max(col(colB)).as("_mxb"))
    val w = 1L << bits
    val coded = df.crossJoin(broadcast(st))
      .withColumn("_ca", expr(s"(($colA - _mna) * ${w}L) DIV (_mxa - _mna + 1)"))
      .withColumn("_cb", expr(s"(($colB - _mnb) * ${w}L) DIV (_mxb - _mnb + 1)"))
    // the code-pair DOMAIN is ≤ 4^bits regardless of row count: at the
    // layout-typical bits ≤ 12 evaluate the (higher-order-function,
    // interpreted) fold once per DISTINCT pair and broadcast the ≤16M-row
    // map back — measured 6× on the suite vs folding per row. Wider
    // grids fall back to the inline per-row fold.
    val out =
      if (bits <= 12) {
        val codes = coded.select(col("_ca"), col("_cb")).distinct()
          .withColumn("hval", hilbertIndex(col("_ca"), col("_cb"), bits))
        coded.join(broadcast(codes), Seq("_ca", "_cb"))
      } else coded.withColumn("hval", hilbertIndex(col("_ca"), col("_cb"), bits))
    out.drop("_mna", "_mxa", "_mnb", "_mxb", "_ca", "_cb")
  }

  /** One xy2d level as a CTE over (x, y, d, …passthrough) — mirrors the
    * fold body in [[hilbertIndex]] with the level's s = 2^(bits-1-k)
    * constant-folded into the text.
    */
  private def hilbertCtes(bits: Int, pass: String): String =
    (0 until bits).map { k =>
      val s = 1L << (bits - 1 - k)
      val prev = if (k == 0) "c" else s"h${k - 1}"
      s"""h$k AS (SELECT $pass,
      CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END ELSE x END AS x,
      CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END ELSE y END AS y,
      d + ${s * s} * (CASE WHEN (x & $s) = 0 AND (y & $s) = 0 THEN 0
                           WHEN (x & $s) = 0 THEN 1
                           WHEN (y & $s) > 0 THEN 2 ELSE 3 END) AS d
      FROM $prev)"""
    }.mkString(",\n    ")

  private val hilbertSql = s"""WITH st AS (SELECT MIN(l_partkey) AS mna, MAX(l_partkey) AS mxa,
      MIN(l_suppkey) AS mnb, MAX(l_suppkey) AS mxb FROM lineitem),
    c AS (SELECT l_partkey, l_suppkey,
      ((l_partkey - mna) * ${1L << ZBits}) // (mxa - mna + 1) AS x,
      ((l_suppkey - mnb) * ${1L << ZBits}) // (mxb - mnb + 1) AS y,
      CAST(0 AS BIGINT) AS d
      FROM lineitem, st),
    ${hilbertCtes(ZBits, "l_partkey, l_suppkey")}
    SELECT d >> ${2 * ZBits - 4} AS bucket, COUNT(*) AS n_rows,
      MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
      MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM h${ZBits - 1} GROUP BY bucket ORDER BY bucket"""

  /** Same per-bucket span readout as qlayout_zorder, on the Hilbert
    * index — the two bindings together are the layout bake-off: compare
    * each bucket's (part, supp) rectangle areas between the curves.
    */
  private val qHilbert = GraftQuery(
    "qlayout_hilbert",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      hilbert(li.select(col("l_partkey"), col("l_suppkey")),
          "l_partkey", "l_suppkey", ZBits)
        .groupBy(shiftright(col("hval"), 2 * ZBits - 4).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
        .orderBy(col("bucket"))
    },
    Some(hilbertSql))

  /** Zonemap (file min/max) skipping readout: for each candidate layout
    * (a "file id" expression simulating how rows would be grouped into
    * files), compute every file's min/max zonemap on `valueCol` and
    * report how many files — and how many rows — a range predicate
    * `[lo, hi)` would have to read. The planning-time answer to "is this
    * layout worth writing": a value-clustered layout reads only the
    * overlapping files, a hash layout reads ~all of them, and the
    * `n_rows_match` column (identical across layouts) shows the true
    * selectivity the best possible layout would approach.
    *
    * Scale shape: one pass per layout — a map-only projection to
    * (file_id, value) and an aggregation on the (uniform) file key, then
    * a 1-row rollup; zonemaps are metadata-sized (one row per file).
    * This is exactly the pruning arithmetic engines run against parquet
    * footers / Iceberg manifests, surfaced as a query so layouts can be
    * compared BEFORE paying for the rewrite ([[zorderLayout]],
    * [[compactionPlan]] are the write side).
    */
  def zonemapSkipping(df: DataFrame, valueCol: String,
      layouts: Seq[(String, Column)], lo: Column, hi: Column): DataFrame = {
    require(layouts.nonEmpty, "at least one layout required")
    layouts.map { case (name, fileExpr) =>
      df.select(fileExpr.as("file_id"), col(valueCol).as("_v"))
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_v") >= lo && col("_v") < hi, 1L).otherwise(0L)).as("n_match"),
          min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
        .withColumn("_read", col("_mx") >= lo && col("_mn") < hi)
        .groupBy()
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("_read"), 1L).otherwise(0L)).as("n_files_read"),
          sum(col("n_rows")).as("n_rows_total"),
          sum(when(col("_read"), col("n_rows")).otherwise(0L)).as("n_rows_scanned"),
          sum(col("n_match")).as("n_rows_match"))
        .select(lit(name).as("layout"), col("n_files"), col("n_files_read"),
          col("n_rows_total"), col("n_rows_scanned"), col("n_rows_match"))
    }.reduce(_ unionByName _).orderBy(col("layout"))
  }

  // Shipdate-month clustering vs orderkey hashing, probed with a one-
  // quarter shipdate predicate: the clustered layout reads 3-4 files of
  // ~84, the hash layout reads all 64 — the numeric case for time-
  // partitioning fact tables.
  private val ZmLo = "1999-01-01 00:00:00"
  private val ZmHi = "1999-04-01 00:00:00"

  private def zmLayoutSql(name: String, fileExpr: String) =
    s"""SELECT '$name' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
      CAST(SUM(CASE WHEN mx >= TIMESTAMP '$ZmLo' AND mn < TIMESTAMP '$ZmHi' THEN 1 ELSE 0 END) AS BIGINT) AS n_files_read,
      CAST(SUM(n_rows) AS BIGINT) AS n_rows_total,
      CAST(SUM(CASE WHEN mx >= TIMESTAMP '$ZmLo' AND mn < TIMESTAMP '$ZmHi' THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_scanned,
      CAST(SUM(n_match) AS BIGINT) AS n_rows_match
    FROM (SELECT $fileExpr AS file_id, COUNT(*) AS n_rows,
        SUM(CASE WHEN l_shipdate >= TIMESTAMP '$ZmLo' AND l_shipdate < TIMESTAMP '$ZmHi' THEN 1 ELSE 0 END) AS n_match,
        MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx
      FROM lineitem GROUP BY 1)"""

  private val qZonemap = GraftQuery(
    "qlayout_zonemap",
    (s, dir) => zonemapSkipping(Tables.lineitem(s, dir), "l_shipdate",
      Seq("clustered_by_month" -> date_trunc("month", col("l_shipdate")),
        "hashed_by_orderkey" -> (col("l_orderkey") % 64)),
      lit(ZmLo).cast("timestamp"), lit(ZmHi).cast("timestamp")),
    Some(s"""${zmLayoutSql("clustered_by_month", "date_trunc('month', l_shipdate)")}
      UNION ALL
      ${zmLayoutSql("hashed_by_orderkey", "l_orderkey % 64")}
      ORDER BY layout"""))

  // ------------------------------------------------ disk-backed IVF
  /** Disk-backed IVF: write the corpus PARTITIONED BY its coarse-
    * quantizer cell, so a vector query's probe set (best + second-best
    * cell, [[SimilarityOps.annIvf]]'s probe rule) maps to partition
    * DIRECTORIES and Spark's partition pruning skips every other file
    * at the metadata level — the `PartitionFilters` twin of
    * [[zorderLayout]]'s footer-stats pruning, and what FAISS's on-disk
    * inverted lists look like expressed as a lakehouse layout. At
    * 100 TB the probe set reads probes/C of the corpus; everything else
    * is never opened. StorageLayoutSpec proves the pruning on real
    * written files; [[ivfScanArithmetic]] is the oracle-checkable
    * arithmetic readout of the same effect.
    */
  def ivfLayout(corpus: DataFrame, outPath: String,
      cents: Seq[Seq[Double]] = SimilarityOps.centroids,
      vecCol: String = "embedding"): Unit = {
    import graft.functions.GraftFunctions.graft_dot_scores
    require(!corpus.columns.contains("cell"), "input already has a cell column")
    corpus
      .withColumn("__sc",
        graft_dot_scores(typedLit(cents), col(vecCol).cast("array<double>")))
      .withColumn("cell", expr("array_position(__sc, array_max(__sc))"))
      .drop("__sc")
      .write.mode("overwrite").partitionBy("cell").parquet(outPath)
  }

  /** Scan-volume arithmetic for a probed vector query batch under
    * different file layouts — [[zonemapSkipping]]'s form applied to IVF:
    * a file must be read iff it contains ANY row of a cell some query
    * probes. Cell-partitioned files make the probe set ≈ 2/C of rows
    * per query; a hash layout stripes every cell across every file, so
    * every probe reads everything. Exact integer counts end-to-end.
    *
    * Output per layout: (layout, n_files, n_files_read, n_rows_total,
    * n_rows_scanned), n_rows_scanned summed over the query batch.
    */
  def ivfScanArithmetic(corpus: DataFrame, queries: DataFrame,
      layouts: Seq[(String, Column)],
      cents: Seq[Seq[Double]] = SimilarityOps.centroids): DataFrame = {
    require(layouts.nonEmpty, "at least one layout required")
    val cells = SimilarityOps.corpusCells(corpus, cents).localCheckpoint()
    val probes = SimilarityOps.queryProbes(queries, cents).localCheckpoint()
    layouts.map { case (name, fileExpr) =>
      val fc = cells.select(fileExpr.as("file_id"), col("cell"))
        .groupBy(col("file_id"), col("cell")).agg(count(lit(1)).as("nr"))
      val fr = fc.groupBy(col("file_id")).agg(sum(col("nr")).as("n_rows"))
      val qf = probes.join(fc.select(col("file_id"), col("cell")), Seq("cell"))
        .select(col("query_id"), col("file_id")).distinct()
      fr.agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows_total"))
        .crossJoin(qf.agg(countDistinct(col("file_id")).as("n_files_read")))
        .crossJoin(qf.join(fr, Seq("file_id"))
          .agg(sum(col("n_rows")).as("n_rows_scanned")))
        .select(lit(name).as("layout"), col("n_files"), col("n_files_read"),
          col("n_rows_total"), col("n_rows_scanned"))
    }.reduce(_ unionByName _).orderBy(col("layout"))
  }

  private val IvfNq = 20

  private def ivfLayoutSql(name: String, fileExpr: String, n: Int) =
    s"""SELECT '$name' AS layout,
      CAST((SELECT COUNT(*) FROM fr_$n) AS BIGINT) AS n_files,
      CAST((SELECT COUNT(DISTINCT file_id) FROM qf_$n) AS BIGINT) AS n_files_read,
      CAST((SELECT SUM(n_rows) FROM fr_$n) AS BIGINT) AS n_rows_total,
      CAST((SELECT SUM(fr.n_rows) FROM qf_$n qf JOIN fr_$n fr ON qf.file_id = fr.file_id)
        AS BIGINT) AS n_rows_scanned"""

  private def ivfLayoutCtes(fileExpr: String, n: Int) =
    s"""fc_$n AS (SELECT $fileExpr AS file_id, cell, COUNT(*) AS nr FROM e GROUP BY 1, 2),
    fr_$n AS (SELECT file_id, SUM(nr) AS n_rows FROM fc_$n GROUP BY 1),
    qf_$n AS (SELECT DISTINCT pr.query_id, fc.file_id
      FROM pr JOIN fc_$n fc ON pr.cell = fc.cell)"""

  private val ivfArithSql = {
    val cw = SimilarityOps.centroids.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val c = SimilarityOps.centroids.length
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cw AS (SELECT $cw AS w),
    scs AS (SELECT vec_id, list_transform(generate_series(1, $c), c ->
        list_reduce(list_transform(generate_series(1, 64), i -> w[c][i] * v[i]), (a, b) -> a + b)) AS sc
      FROM e0, cw),
    e AS (SELECT vec_id, list_position(sc, list_max(sc)) AS cell, sc FROM scs),
    q AS (SELECT vec_id, cell AS p1,
        list_position(sc, list_max(list_filter(sc, x -> x <> list_max(sc)))) AS p2
      FROM e WHERE vec_id < $IvfNq),
    pr AS (SELECT DISTINCT query_id, cell FROM
      (SELECT vec_id AS query_id, unnest([p1, p2]) AS cell FROM q)),
    ${ivfLayoutCtes("cell", 1)},
    ${ivfLayoutCtes("vec_id % 64", 2)}
    ${ivfLayoutSql("cell_partitioned", "cell", 1)}
    UNION ALL
    ${ivfLayoutSql("hashed_by_vecid", "vec_id % 64", 2)}
    ORDER BY layout"""
  }

  private val qIvfLayout = GraftQuery(
    "qlayout_ivf",
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      ivfScanArithmetic(corpus, corpus.filter(col("vec_id") < IvfNq),
        Seq("cell_partitioned" -> col("cell"),
          "hashed_by_vecid" -> (col("vec_id") % 64)))
    },
    Some(ivfArithSql))

  val queries: Seq[GraftQuery] =
    Seq(qZorder, qHilbert, qCompaction, qZonemap, qIvfLayout)
}
