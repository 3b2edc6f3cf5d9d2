package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import graft.functions.{GraftFunctions, MinHashAffine}
import Nlp._

/** Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup — exposed as a column-parameterized public API
  * (any DataFrame with an id + text/vector column) plus the driver-checked
  * query bindings over the test tables.
  *
  * Scale design: signatures (minhash/simhash/fingerprints) are computed
  * row-locally (map-only, no shuffle, codegen'd); the only shuffles are
  * (a) the groupBy/join on signature, band, chunk, or block values — keys
  * that are uniformly hash-distributed, so no skew — and (b) the
  * candidate-pair join, whose size the bucketing bounds far below the
  * O(n²) cross-join a naive near-dup pass would need. No plan in this file
  * contains a cartesian product or a corpus broadcast.
  */
object DedupOps {

  // ======================= public operator API =======================

  /** Exact dedup: hash-groupBy on the whitespace-normalized text; every doc
    * labeled with its canonical (minimum) id. One shuffle on a 128-bit
    * fingerprint. Output: (doc_id, canonical_id, is_dup) ordered by doc_id.
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary")))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, sh) with the distinct word-3-gram shingle array MATERIALIZED
    * behind an exchange. The barrier matters: downstream ops reference `sh`
    * many times (explode, signatures, verification), and without a physical
    * column each reference re-runs tokenize+shingle. At scale this is the
    * "signature table" stage every dedup pipeline materializes before the
    * candidate join.
    */
  def shingleTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), expr(shingles("toks")).as("sh"))
      .repartition(col("doc_id"))

  /** Prefix-hash postings hotter than this document frequency are dropped
    * before the inverted-index self-join (standard stop-shingle guard). A
    * df-f posting fans out f²/2 candidate pairs, so one hot stop-phrase is
    * a skew key that dominates the shuffle at corpus scale; capping df
    * bounds per-key fan-out at Cap²/2. The cap only affects candidate
    * GENERATION — verification still intersects the full hash arrays — so
    * a pair whose shared prefix hashes are ALL above the cap is missed:
    * recall is 1.0 exactly when the cap doesn't bind (max df in the test
    * corpora is 25) and degrades gracefully for hot-prefix-only pairs when
    * it does. The oracle mirrors the same cap, keeping the gate exact.
    */
  val ShingleDfCap = 500

  /** Exact n-gram Jaccard ≥ threshold with PREFIX FILTERING (the
    * AllPairs/PPJoin technique): sort each doc's distinct 60-bit shingle
    * hashes into the global hash order; any pair with Jaccard ≥ t must
    * share an element within each doc's first |x| − ⌈t·|x|⌉ + 1 hashes, so
    * the inverted index holds only that prefix (~(1−t)·|x| postings per
    * doc — 5× smaller at t=0.8, candidate pairs ~25× fewer) and candidates
    * are verified exactly with a full array intersection. The prefix
    * length uses `− floor(t·n) + 1`, which is ≥ the exact requirement
    * under any floating-point rounding of t·n, so the prefix filter itself
    * loses nothing; exactness is conditional on the [[ShingleDfCap]] skew
    * guard not binding (see its doc). Output: (d1, d2, jaccard), d1 < d2.
    */
  def ngramJaccard(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.8,
      dfCap: Int = ShingleDfCap): DataFrame = {
    // sorted distinct hash arrays via the native codegen'd kernel
    // ([[graft.functions.ShingleHashes]] — one tight loop from text to hash
    // array, replacing the interpreted tokenize→shingle→md5→distinct→sort
    // lambda chain), barriered for reuse across join branches
    val shl = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        GraftFunctions.graft_shingle_hashes(col("text"), 3).as("hs"))
      .repartition(col("doc_id"))
    // prefix postings via the native Generator ([[graft.functions.ShinglePrefixGen]])
    val px = shl.select(col("doc_id"),
      GraftFunctions.graft_prefix_explode(col("hs"), threshold).as("ph"))
    // hot-prefix skew guard: a posting list above the df cap fans out
    // df²/2 candidate pairs; the hot list is tiny by construction →
    // broadcast anti-join costs one map-side filter
    val hot = px.groupBy(col("ph")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("ph"))
    val keptPx = px.join(broadcast(hot), Seq("ph"), "left_anti")
    val cand = keptPx.as("a").join(keptPx.as("b"),
        col("a.ph") === col("b.ph") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(shl.select(col("doc_id").as("d1"), col("hs").as("h1")), "d1")
      .join(shl.select(col("doc_id").as("d2"), col("hs").as("h2")), "d2")
      // hs is sorted-distinct by ShingleHashes construction, so the
      // primitive merge-scan kernel applies (≡ size(array_intersect))
      .withColumn("inter",
        GraftFunctions.graft_sorted_intersect_count(col("h1"), col("h2")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("h1")) + size(col("h2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** MinHash+LSH near-dup: k-permutation signatures banded `bands` ×
    * (k/bands); docs sharing any band become candidates; candidates
    * verified with exact shingle Jaccard ≥ threshold. At scale the band
    * join replaces the O(n²) pair space. Signature = native codegen'd
    * [[MinHashAffine]] over one 60-bit base hash per shingle (1 md5 + k
    * multiply-mods instead of k md5s).
    */
  def minhashLsh(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, "k must be a multiple of bands")
    val rows = k / bands
    val sh = shingleTable(docs, idCol, textCol)
    // barriered so the self-join's two branches don't recompute signatures.
    // Signature input = native sorted-distinct hash array: MinHash is
    // invariant under dedup+sort (min ignores multiplicity and order), so
    // this equals the transform(sh, h60) form while skipping the
    // interpreted lambda chain.
    val sigs = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        GraftFunctions.graft_minhash_affine(
          GraftFunctions.graft_shingle_hashes(col("text"), 3), k).as("sig"))
      .repartition(col("doc_id"))
    // bands joined as strings (slice — not sig[i] indexing — so sig is
    // evaluated once per band)
    val banded = sigs.select(col("doc_id"),
        explode(expr(s"transform(sequence(0, ${bands - 1}), b -> struct(b as band, " +
          s"concat_ws(',', transform(slice(sig, b * $rows + 1, $rows), x -> cast(x as string))) as bv))"))
          .as("bd"))
      .select(col("doc_id"), col("bd.band"), col("bd.bv"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("inter", expr("size(array_intersect(sh1, sh2))"))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Cross-corpus MinHash containment — the scalable twin of the exact
    * window-hash [[graft.analytics.TextOps.contaminationCheck]]: find
    * TRAIN documents that contain a BENCHMARK document's content, where
    * train is corpus-scale and the benchmark suite is small. Candidates
    * come from a MinHash band join with the bench side BROADCAST (the
    * train corpus is never shuffled for candidate generation — one
    * map-side band hash probe per train doc); verification scores exact
    * shingle CONTAINMENT |train ∩ bench| / |bench|, not symmetric
    * Jaccard — a short benchmark question pasted into a long train doc
    * has near-zero Jaccard but containment ~1, and containment is what
    * decontamination decisions key on.
    *
    * MinHash banding approximates Jaccard, not containment, so recall
    * for tiny-bench-in-huge-train pairs degrades with the length ratio —
    * the standard trade; shrink band rows or shingle the train side in
    * windows (as `contaminationCheck` does) when that matters. The
    * oracle mirrors the same bands, so the gate is exact.
    *
    * Output: (d_train, bench_id, containment ≥ threshold).
    */
  def crossContain(train: DataFrame, bench: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must be a multiple of bands")
    val rows = k / bands
    def sigs(docs: DataFrame) = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        GraftFunctions.graft_minhash_affine(
          GraftFunctions.graft_shingle_hashes(col("text"), 3), k).as("sig"))
    def banded(s: DataFrame) = s.select(col("doc_id"),
        explode(expr(s"transform(sequence(0, ${bands - 1}), b -> struct(b as band, " +
          s"concat_ws(',', transform(slice(sig, b * $rows + 1, $rows), x -> cast(x as string))) as bv))"))
          .as("bd"))
      .select(col("doc_id"), col("bd.band"), col("bd.bv"))
    val tb = banded(sigs(train))
    val bb = banded(sigs(bench))
      .select(col("doc_id").as("bench_id"), col("band"), col("bv"))
    val cand = tb.join(broadcast(bb), Seq("band", "bv"))
      .select(col("doc_id").as("d_train"), col("bench_id")).distinct()
    val tsh = shingleTable(train, idCol, textCol)
      .select(col("doc_id").as("d_train"), col("sh").as("sht"))
    val bsh = shingleTable(bench, idCol, textCol)
      .select(col("doc_id").as("bench_id"), col("sh").as("shb"))
    cand.join(tsh, Seq("d_train")).join(broadcast(bsh), Seq("bench_id"))
      .withColumn("containment", expr(
        "cast(size(array_intersect(sht, shb)) as double) / greatest(size(shb), 1)"))
      .filter(col("containment") >= threshold)
      .select(col("d_train"), col("bench_id"), col("containment"))
      .orderBy(col("d_train"), col("bench_id"))
  }

  /** SimHash near-dup: 60-bit token-hash majority-vote signature (native
    * codegen'd [[graft.functions.SimHash60]]), pairs within hamming ≤
    * maxHamming.
    *
    * Pair generation is a PIGEONHOLE BUCKET JOIN, not a pair scan: the 60
    * bits split into maxHamming+1 chunks; two signatures within the
    * hamming bound differ in ≤ maxHamming bits, so at least one chunk is
    * bit-identical — joining on (chunk index, chunk value) is EXACT
    * (recall 1.0), and candidates are verified with a full bit_count.
    * A hash join on near-uniform hash slices replaces the O(n²) scan.
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 6): DataFrame =
    simhashPairsFromSigs(simhashSigsOf(docs, idCol, textCol), maxHamming)

  /** The 60-bit chunk layout shared by the pair join and the clusters-only
    * edge build: maxHamming+1 chunks of (offset, width), wider chunks
    * first — two signatures within the hamming bound are bit-identical on
    * at least one chunk (pigeonhole).
    */
  private[analytics] def simhashChunks(maxHamming: Int): IndexedSeq[(Int, Int)] = {
    val nChunks = maxHamming + 1
    val base = 60 / nChunks
    val rem = 60 % nChunks
    (0 until nChunks).map { i =>
      val off = if (i < rem) i * (base + 1) else rem * (base + 1) + (i - rem) * base
      val w = if (i < rem) base + 1 else base
      (off, w)
    }
  }

  /** (doc_id, simhash) signatures — token hashes materialized once per
    * doc, majority vote in the native SimHash60 expression (codegen'd
    * tight loop; the pure array-lambda form recomputed the hash array per
    * bit — 60×). Shared scan of [[simhashPairs]] and
    * [[clusterEdgesFromSigs]] (memoized per sf at the binding layer).
    */
  private[analytics] def simhashSigsOf(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("hs", expr(s"transform($toksExpr, t -> ${h60("t")})"))
      .select(col("doc_id"), GraftFunctions.graft_simhash60(col("hs")).as("simhash"))

  private[analytics] def simhashPairsFromSigs(rawSigs: DataFrame,
      maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 60)
    val nChunks = maxHamming + 1
    val layout = simhashChunks(maxHamming)
    def off(i: Int) = layout(i)._1
    def width(i: Int) = layout(i)._2
    def chunkVal(s: String, i: Int): String =
      s"(shiftright($s, ${off(i)}) & ${(1L << width(i)) - 1}L)"
    // repartition barrier so the self-join's branches reuse one exchange
    val sigs = rawSigs.repartition(col("doc_id"))
    val chunkArr = (0 until nChunks).map(i =>
      s"named_struct('ck', $i, 'cv', ${chunkVal("simhash", i)})")
      .mkString("array(", ", ", ")")
    val chunked = sigs.select(col("doc_id"), col("simhash"),
        explode(expr(chunkArr)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.ck").as("ck"), col("x.cv").as("cv"))
    // ---- intra-bucket triangle blocking (r13): the chunk join's cost
    // is Σ_buckets C(b,2) candidate enumerations, and a sort-merge join
    // runs each KEY group in one task — the r13 sf1 rehearsal corpus
    // (50k docs over a 30-word vocab, signatures correlated) put 9,176
    // docs in one (chunk, value) bucket = 42M pair evaluations on a
    // single core while 31 idled (memo_build:neardup_clusters measured
    // exponent 2.01, 2.6 → 263 s). Blocking splits every bucket into
    // ⌈b/T⌉ hash blocks and keys the join by (bucket, ordered block
    // pair) — the embeddingNearDup triangle idiom — so per-task work is
    // ≤ C(T,2)·(pairs per doc) and the hot bucket fans out over
    // nb·(nb+1)/2 tasks. Exactness: every pair meets in exactly one
    // block-pair key of each colliding chunk (p = min, q = max of the
    // two block ids; same-block pairs meet at p = q with the doc_id <
    // guard). Bucket sizes ride a broadcast of the ≤ nChunks·2^9-row
    // count table — no corpus-keyed shuffle added.
    val blockT = 512
    val bsize = chunked.groupBy(col("ck"), col("cv"))
      .agg(count(lit(1)).as("_b"))
      .withColumn("_nb", expr(s"int(ceil(_b / ${blockT}d))"))
      .select(col("ck"), col("cv"), col("_nb"))
    val blocked = chunked.join(broadcast(bsize), Seq("ck", "cv"))
      .withColumn("_blk", pmod(xxhash64(col("doc_id")), col("_nb")))
    // EXPLICIT partition counts on the join keys: the sides are a few
    // MB, so AQE's byte-based coalescing would merge them into one
    // task — but the join's OUTPUT is the candidate enumeration (420M
    // rows at sf1), invisible to input-byte heuristics. Measured: the
    // coalesced plan enumerated everything on one core (~102 s at sf1);
    // a user-specified repartition is exempt from AQE coalescing, so
    // the block-pair key groups actually fan out. EXPLAINS_r13 §2.
    val p = rawSigs.sparkSession.sessionState.conf.numShufflePartitions
    val aSide = blocked
      .select(col("doc_id"), col("simhash"), col("ck"), col("cv"),
        col("_blk").as("_p"), explode(expr("sequence(_blk, _nb - 1)")).as("_q"))
      .repartition(p, col("ck"), col("cv"), col("_p"), col("_q"))
    val bSide = blocked
      .select(col("doc_id").as("_bid"), col("simhash").as("_bsig"),
        col("ck"), col("cv"),
        explode(expr("sequence(0L, _blk)")).as("_p"), col("_blk").as("_q"))
      .repartition(p, col("ck"), col("cv"), col("_p"), col("_q"))
    // multi-chunk collisions dedup MAP-SIDE, not with distinct(): the
    // first matching chunk index is a pure expression of the two
    // signatures (unique per pair, and pigeonhole guarantees one for
    // every verified pair), so "emit only from that chunk" replaces a
    // candidate-volume exchange with a codegen filter — the linear doc
    // exchange into the join is the only shuffle in the pair phase.
    val firstMatch = (0 until nChunks).map(i =>
      s"${chunkVal("s1", i)} = ${chunkVal("s2", i)}")
      .mkString("array(", ", ", ")")
    // a cross-block pair meets exactly ONCE, with roles fixed by block
    // (a = lower block), so doc ids are canonicalized by least/greatest;
    // a same-block pair (p = q) meets in both role orders and keeps the
    // doc_id < guard
    aSide.join(bSide,
        Seq("ck", "cv", "_p", "_q"))
      .filter(col("doc_id") =!= col("_bid") &&
        (col("_p") < col("_q") || col("doc_id") < col("_bid")))
      .select(least(col("doc_id"), col("_bid")).as("d1"),
        greatest(col("doc_id"), col("_bid")).as("d2"),
        col("simhash").as("s1"), col("_bsig").as("s2"), col("ck"))
      .filter(expr("bit_count(s1 ^ s2)") <= maxHamming &&
        col("ck") === expr(s"array_position($firstMatch, true) - 1"))
      .select(col("d1"), col("d2"), expr("bit_count(s1 ^ s2)").as("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Clusters-only near-dup edges — the pair-BUDGET mode (r13 verdict
    * task 1). On a collision-dense corpus (hamming ≤ maxHamming common)
    * the VERIFIED pair list of [[simhashPairs]] is intrinsically
    * Θ(Σ cluster²) — the answer itself, not the plan. The CLUSTERS
    * consumers don't need that list: connectivity does. This builder
    * emits a LINEAR-sized edge set whose union-find closure EQUALS the
    * full pair list's closure — exactly, on every input, not just the
    * tested corpora:
    *
    *  1. identical-signature collapse — docs sharing a simhash are
    *     hamming-0 duplicates; one membership edge (min-id rep, doc)
    *     each replaces their C(m,2) pairs. Exact by definition.
    *  2. per-bucket spanning forests — every verified pair is
    *     bit-identical on ≥1 of the maxHamming+1 chunks (pigeonhole),
    *     so the global verified graph is the UNION over (chunk, value)
    *     buckets of each bucket's verified subgraph; replacing each
    *     bucket subgraph with a connectivity-equivalent spanning forest
    *     preserves every path, hence the closure (any full-graph path
    *     decomposes into bucket edges, each replaceable by its bucket's
    *     forest path). A local union-find per bucket emits ≤ b−1 tree
    *     edges instead of O(b²) pair rows, and skips the hamming check
    *     entirely for already-connected candidates — in the dense regime
    *     (the one that hurts) almost everything connects early.
    *
    * Skew: buckets above `blockT` distinct signatures split into hash
    * blocks joined as ordered block PAIRS (the r13 triangle idiom), so
    * a hot bucket fans out over nb(nb+1)/2 tasks of ≤ 2·blockT members
    * each; forests-per-block-pair is still exact (the decomposition
    * argument applies to any cover of the bucket's pair set). Per-task
    * cost is bounded by (2·blockT)²/2 union-find probes — popcount-free
    * once connected — and the edge output stays linear. The grouping
    * key is explicitly repartitioned (AQE-exempt): input BYTES per
    * group are tiny while in-task CPU is not, exactly the coalescing
    * trap EXPLAINS_r13 §2 measured.
    *
    * Returned pairs carry NO hamming column (a tree edge's hamming is
    * known, but membership edges are hamming-0 by construction and the
    * point is clusters): (d1 < d2). Feed to [[nearDupClusters]] /
    * [[ccStars]]; use [[simhashPairs]] when the pair LIST is the answer.
    *
    * Takes a prepared (doc_id, simhash) frame ([[simhashSigsOf]]) and
    * returns the edge frame plus the skipped-checks accumulator:
    * candidate pairs whose hamming check the FOREST phase elided because
    * both ends were already connected (≈ count, accumulators can
    * over-count on task retries). It bounds only the forest phase's
    * elisions — pairs elided by the identical-signature COLLAPSE
    * (hamming-0 pairs replaced by membership edges) are not counted
    * here; [[clusterEdgesMemo]]'s loud flag checks the collapse
    * separately via the sig memo's doc/distinct counts.
    */
  private[analytics] def clusterEdgesFromSigs(rawSigs: DataFrame,
      maxHamming: Int = 6, blockT: Int = 8192)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    require(maxHamming >= 1 && maxHamming < 60)
    require(blockT >= 2, s"blockT must be >= 2, got $blockT")
    val spark = rawSigs.sparkSession
    val skipped = spark.sparkContext.longAccumulator("simhashClusterEdges.skippedChecks")
    // one exchange on simhash feeds both the rep aggregation and the
    // membership join (hot identical-sig keys are map-side combined by
    // the partial min/agg; the 1-row build side per key streams fine)
    val sigs = rawSigs
      .select(col("doc_id").cast("long").as("doc_id"), col("simhash"))
      .repartition(col("simhash"))
    val reps = sigs.groupBy(col("simhash")).agg(min(col("doc_id")).as("rep"))
    val membership = sigs.join(reps.select(col("simhash"), col("rep")), "simhash")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("d1"), col("doc_id").as("d2"))
    // chunk-explode DISTINCT signatures only: the collapse means bucket
    // sizes are counted in distinct sigs, not docs — on the degenerate
    // corpora that trip the budget this alone removes most of the mass
    val layout = simhashChunks(maxHamming)
    val chunkArr = layout.zipWithIndex.map { case ((off, w), i) =>
      s"named_struct('ck', $i, 'cv', (shiftright(simhash, $off) & ${(1L << w) - 1}L))"
    }.mkString("array(", ", ", ")")
    val chunked = reps.select(col("rep"), col("simhash"),
        explode(expr(chunkArr)).as("x"))
      .select(col("x.ck").as("ck"), col("x.cv").as("cv"),
        col("rep"), col("simhash"))
    val bsize = chunked.groupBy(col("ck"), col("cv"))
      .agg(count(lit(1)).as("_b"))
      .withColumn("_nb", expr(s"int(ceil(_b / ${blockT}d))"))
      .select(col("ck"), col("cv"), col("_nb"))
    // replicate each member to every ordered block pair touching its
    // block: (p = blk, q in blk..nb-1) ∪ (p in 0..blk-1, q = blk) —
    // nb rows per member, so a hot bucket fans out without a candidate
    // exchange. sequence(0, blk-1) would DESCEND for blk = 0 (Spark
    // quirk); the if() guards the empty lower range.
    val tasks = chunked.join(broadcast(bsize), Seq("ck", "cv"))
      .withColumn("_blk", pmod(xxhash64(col("rep")), col("_nb")).cast("int"))
      .select(col("ck"), col("cv"), col("rep"), col("simhash"), col("_blk"),
        explode(expr(
          """concat(
               transform(sequence(_blk, _nb - 1), q -> struct(_blk AS p, int(q) AS q)),
               if(_blk = 0, array(),
                  transform(sequence(0, _blk - 1), p -> struct(int(p) AS p, _blk AS q))))"""))
          .as("t"))
      .select(col("ck"), col("cv"), col("t.p").as("p"), col("t.q").as("q"),
        col("rep"), col("simhash"), col("_blk"))
    val p = spark.sessionState.conf.numShufflePartitions
    val grouped = tasks.repartition(p, col("ck"), col("cv"), col("p"), col("q"))
      .groupBy(col("ck"), col("cv"), col("p"), col("q"))
      .agg(collect_list(struct(col("rep"), col("simhash"), col("_blk"))).as("ms"))
    val mh = maxHamming
    val forest = udf { (ms: Seq[org.apache.spark.sql.Row], cross: Boolean) =>
      // deterministic scan order: sort by (simhash, rep) so identical
      // prefixes union early and the connected-skip kicks in fast.
      // Primitive parallel arrays, not tuples — this loop runs the full
      // per-task candidate volume (≤ (2·blockT)²/2 iterations) and a
      // boxed tuple per access would double its cost.
      val sorted = ms.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._2, t._1))
      val n = sorted.length
      val rep = new Array[Long](n)
      val sig = new Array[Long](n)
      val blk = new Array[Int](n)
      var x = 0
      sorted.foreach { t => rep(x) = t._1; sig(x) = t._2; blk(x) = t._3; x += 1 }
      val parent = Array.tabulate(n)(identity)
      def find(y: Int): Int = {
        var r = y
        while (parent(r) != r) r = parent(r)
        var c = y
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var sk = 0L
      var i = 1
      while (i < n) {
        var ri = find(i) // maintained across the j loop: a union roots i at min(ri, rj)
        var j = 0
        while (j < i) {
          // a cross-block task (p != q) OWNS only its cross-block pairs:
          // within-block pairs belong to the (p, p) task, so evaluating
          // them here would double hot-bucket CPU and inflate `skipped`
          // nb-fold (r14 review). The union over tasks of owned pair
          // sets still covers every bucket pair — exactness unchanged.
          if (!cross || blk(i) != blk(j)) {
            val rj = find(j)
            if (ri == rj) sk += 1L
            else if (java.lang.Long.bitCount(sig(i) ^ sig(j)) <= mh) {
              parent(math.max(ri, rj)) = math.min(ri, rj)
              ri = math.min(ri, rj)
              out += ((math.min(rep(i), rep(j)), math.max(rep(i), rep(j))))
            }
          }
          j += 1
        }
        i += 1
      }
      skipped.add(sk)
      out.toSeq
    }
    val forestEdges = grouped
      .select(explode(forest(col("ms"), col("p") =!= col("q"))).as("e"))
      .select(col("e._1").as("d1"), col("e._2").as("d2"))
      .distinct() // the same tree edge can be chosen in several buckets
    (membership.unionByName(forestEdges), skipped)
  }

  /** Exact embedding-cosine near-dup: all pairs with cosine ≥ threshold.
    *
    * Why NOT hyperplane LSH here: at θ = 0.4 the per-plane collision
    * probability is 1 − arccos(0.4)/π ≈ 0.63, and the test corpora contain
    * NO high-cosine pairs (max pairwise cosine 0.51 at sf0.01 / 0.60 at
    * sf0.1 — every matching pair is borderline), so any banding scheme
    * either misses pairs (breaking exactness) or degenerates to buckets
    * covering most of the corpus. An exact low-θ similarity join over
    * random vectors is intrinsically Ω(n²) candidate evaluations.
    *
    * The scale-correct EXACT plan is a BLOCK-PARTITIONED pair join
    * (triangle enumeration): assign each vector a block in [0, B),
    * broadcast the B·(B+1)/2 ordered block pairs, and hash-join vectors to
    * block pairs. Work per task is (n/B)² dot products, build memory per
    * task is n/B vectors, parallelism is B·(B+1)/2 tasks, and nothing —
    * neither the corpus nor the pair space — is broadcast or cartesian'd.
    * (For true near-dup thresholds θ ≥ ~0.8, the hyperplane buckets in
    * [[SimilarityOps]] are the sub-quadratic path; B scales with cluster
    * size.)
    *
    * B SIZING RULE: pick B ≥ n·rowBytes / taskBudget, where rowBytes ≈
    * 8·dim + ~48 overhead and taskBudget is the per-task execution-memory
    * share (executor memory × memoryFraction / cores) — that bounds one
    * task's build side (n/B vectors) under its budget; then check
    * B·(B+1)/2 ≥ desired parallelism (it usually is by a wide margin).
    * Larger B only splits tasks further — results are invariant in B and
    * the join machinery spills if a block still exceeds budget
    * (BlockJoinMemorySpec pins both under a constrained-memory context).
    */
  def embeddingNearDup(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.4,
      blocks: Int = 16): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val B = blocks
    // norms computed once per vector (not per pair); dot product in the
    // native codegen'd DotProduct expression — same sequential fold as the
    // oracle, ~100× the interpreted-lambda throughput; repartition barrier
    // so both join branches reuse one exchange
    val e = vecs
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(GraftFunctions.graft_dot(col("v"), col("v"))))
      .withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
      .repartition(col("vec_id"))
    // ordered block pairs (bi ≤ bj): each unordered vector pair lands in
    // exactly one block pair — cross-block via block order, same-block via
    // vec_id order
    val blockPairs = (for { i <- 0 until B; j <- i until B } yield (i, j))
      .toDF("bi", "bj")
    e.as("a")
      .join(broadcast(blockPairs), col("a.blk") === col("bi"))
      .join(e.as("b"),
        col("b.blk") === col("bj") &&
          (col("bi") < col("bj") || col("a.vec_id") < col("b.vec_id")))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("v1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("v2"),
        (GraftFunctions.graft_dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy(col("v1"), col("v2"))
  }

  /** Substring-level duplicate detection ("Deduplicating Training Data"
    * style): find w-token spans that appear in ≥ minDocs DISTINCT
    * documents. The native [[graft.functions.SpanHashGen]] Generator emits
    * one (pos, hash) row per span at `stride` (map-only, no text pair
    * comparisons); one hash aggregation finds every duplicated passage.
    * Scale: the shuffle key is a uniform 60-bit hash — no skew; output is
    * bounded by the number of DUPLICATED spans, not the corpus. stride > 1
    * trades recall of unaligned duplicates for a stride× smaller posting
    * table (the standard corpus-scale setting; exact offset-independent
    * coverage needs stride 1).
    * Output: (span_hash, n_docs, n_occ) ordered by span_hash.
    */
  def duplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 20, stride: Int = 1,
      minDocs: Int = 2): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        GraftFunctions.graft_span_hashes(col("text"), w, stride).as(Seq("pos", "h")))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h").as("span_hash"), col("n_docs"), col("n_occ"))
      .orderBy(col("span_hash"))

  /** Transitive near-dup clustering: connected components over a pair
    * list via min-label propagation TO FIXPOINT — each doc ends up labeled
    * with the smallest doc id reachable through any chain of pairs. Each
    * iteration is one neighbor-min join + groupBy, one pointer-jump
    * (label-of-label) join, and a count action for convergence
    * detection; the pointer jump shortcuts labels exponentially, so
    * iterations needed are O(log diameter), not O(diameter) (a 2000-hop
    * chain converges in ~13 rounds — OpsApiSpec pins a 200-hop chain).
    * Lineage is cut with a
    * localCheckpoint each round so the plan stays flat.
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 100,
      localBudget: Long = 1L << 18): DataFrame = {
    val edges = pairs.select(col("d1").cast("bigint").as("a"),
        col("d2").cast("bigint").as("b"))
      .union(pairs.select(col("d2").cast("bigint").as("a"),
        col("d1").cast("bigint").as("b")))
      .localCheckpoint()
    // Bounded local tail (the GraphOps.GraphLocalSolveRowBudget
    // reasoning — a fixed ~4 MB corpus-independent driver budget): a
    // near-dup PAIR list is |duplicates|-sized, usually minuscule next
    // to the corpus, and connected components are algorithm-independent
    // — a driver union-find with min-label roots returns the identical
    // (doc_id, component-min) labeling the fixpoint converges to
    // (OpsApiSpec pins localBudget = 0 ≡ default), without the
    // O(log diameter) × job-floor rounds. Above budget the distributed
    // fixpoint below runs unchanged.
    if (edges.count() <= localBudget) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val uf = new MinLabelUnionFind
      val rows = edges.collect()
      rows.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      return rows.iterator.map(_.getLong(0)).toSet.iterator
        .map((x: Long) => (x, uf.find(x))).toSeq
        .toDF("doc_id", "cluster_id")
    }
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, col("b") === col("id"))
        .groupBy(col("a")).agg(min(col("lbl")).as("nbl"))
      val viaNbr = labels.join(nbrMin, col("id") === col("a"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("l1"))
      // Pointer jump (label-of-label): labels shortcut toward the component
      // min exponentially, so rounds are O(log diameter) instead of
      // O(diameter) — a 2000-hop chain converges in ~13 rounds, not ~2000.
      // Monotone (label(l1) ≤ l1 at the fixpoint path) and closed within
      // the component, so the fixpoint is unchanged: component min
      // everywhere. Join keys concentrate on component minima as
      // convergence nears — the alternating large-star/small-star variant
      // balances giant-component hubs better at extreme scale.
      val parentTbl = labels.select(col("id").as("pid"), col("lbl").as("plbl"))
      val updated = viaNbr.join(parentTbl, col("l1") === col("pid"), "left")
        .select(col("id"), col("old"),
          least(col("l1"), coalesce(col("plbl"), col("l1"))).as("lbl"))
        .localCheckpoint()
      converged = updated.filter(col("lbl") =!= col("old")).isEmpty
      labels = updated.select(col("id"), col("lbl"))
      i += 1
    }
    // truncated labels are silently WRONG (two labels, one component) —
    // fail loudly rather than return them
    if (!converged) throw new IllegalStateException(
      s"nearDupClusters did not converge in $maxIter iterations; " +
        "a component's diameter exceeds maxIter")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the extreme-scale alternative to
    * [[nearDupClusters]]'s min-label + pointer-jump fixpoint that
    * [[nearDupClusters]]'s own scaladoc points at. Same contract and
    * IDENTICAL output (every node in the pair list labeled with its
    * component's minimum id; OpsApiSpec pins the equivalence):
    *
    *  - large-star(u): with m = min(N(u) ∪ {u}), every STRICTLY LARGER
    *    neighbor of u re-links to m — one symmetrized per-u min + one
    *    edge⋈min join;
    *  - small-star(u): every smaller neighbor of u (and u itself)
    *    re-links to the minimum of u's smaller neighborhood — the same
    *    two operators on the (hi, lo) orientation.
    *
    * Why it exists next to the pointer-jump version: pointer jumping
    * concentrates JOIN KEYS on component minima as convergence nears
    * (every label row hits the giant component's min), while the star
    * rounds only ever group a node with its CURRENT neighbors — hub load
    * is bounded by the evolving star structure, the property the paper
    * proves keeps rounds O(log n) with balanced reducers at web scale.
    * Edges live canonically as (lo < hi) distinct pairs; every round is
    * two aggregate+join passes over the edge frame, each materialized;
    * convergence = edge-set fixpoint (counts equal + except empty), and
    * non-convergence throws rather than returning truncated labels.
    * Output: (doc_id, cluster_id) ordered by doc_id.
    */
  def ccStars(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    var edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetrized view
      val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val afterLarge = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("m").as("lo"), col("v").as("hi")) // m < u < v
        .distinct()
        .localCheckpoint()
      // small-star on the (hi → its smaller neighbors) orientation:
      // m = min of hi's smaller neighborhood; every other small neighbor
      // and hi itself re-link to m
      val minsS = afterLarge.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = afterLarge.join(minsS, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi")) // m < lo
        .unionByName(minsS.select(col("m").as("lo"), col("hi")))
        .distinct()
        .localCheckpoint()
      // set equality in ONE action: both frames are distinct, so the
      // symmetric difference is exactly the union rows seen once
      converged = next.unionByName(edges)
        .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("c"))
        .filter(col("c") === 1).isEmpty
      edges = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"ccStars did not converge in $maxIter rounds")
    // fixpoint = disjoint stars centered at component minima
    edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
      .unionByName(
        edges.select(col("lo").as("doc_id"), col("lo").as("cluster_id")))
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // ==================== driver-checked query bindings ====================

  private val qExact = GraftQuery(
    "qd_exact_dedup",
    (s, dir) => exactDedup(Tables.documents(s, dir)),
    Some("""WITH f AS (SELECT doc_id,
      md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents)
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
      doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
    FROM f ORDER BY doc_id"""))

  private val qNgram = GraftQuery(
    "qd_ngram_jaccard",
    (s, dir) => ngramJaccard(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    shl AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM t),
    hl AS (SELECT doc_id, list_sort(list_distinct(list_transform(sh, s -> ${h60Sql("s")}))) AS hs FROM shl),
    px AS (SELECT doc_id,
      unnest(list_slice(hs, 1, len(hs) - CAST(floor(0.8 * len(hs)) AS INTEGER) + 1)) AS ph FROM hl),
    hot AS (SELECT ph FROM px GROUP BY ph HAVING COUNT(*) > $ShingleDfCap),
    kept AS (SELECT * FROM px WHERE ph NOT IN (SELECT ph FROM hot)),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM kept a JOIN kept b ON a.ph = b.ph AND a.doc_id < b.doc_id),
    v AS (SELECT d1, d2,
      CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
        / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) AS jaccard
      FROM cand JOIN hl x ON x.doc_id = d1 JOIN hl y ON y.doc_id = d2)
    SELECT d1, d2, jaccard FROM v WHERE jaccard >= 0.8 ORDER BY d1, d2"""))

  private val qMinhash = GraftQuery(
    "qd_minhash_lsh",
    (s, dir) => minhashLsh(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    shl AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM t),
    sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
    hs AS (SELECT doc_id, ${h60Sql("shingle")} AS h FROM sh),
    hashes AS (
      SELECT doc_id, i,
        MIN((${MinHashAffine.sqlListA(16)}[i + 1] * (h & ${MinHashAffine.Mask})
          + ${MinHashAffine.sqlListB(16)}[i + 1]) % ${MinHashAffine.P}) AS m
      FROM hs CROSS JOIN generate_series(0, 15) t2(i) GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY i) AS bv
      FROM hashes GROUP BY doc_id, i // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
    verified AS (
      SELECT d1, d2,
        CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
      FROM cand JOIN shl x ON x.doc_id = d1 JOIN shl y ON y.doc_id = d2)
    SELECT d1, d2, jaccard FROM verified WHERE jaccard >= 0.8 ORDER BY d1, d2"""))

  // Benchmark subset = doc_id % 17 (same slice as qt_contamination, so the
  // exact window-hash flags and the MinHash containment scores are directly
  // comparable on the same corpus). Docs with <3 tokens have no signature
  // rows in the oracle but a degenerate signature in Spark; any such
  // candidate pair scores containment 0 and is filtered on BOTH sides, so
  // the outputs agree.
  private val qCrossContain = GraftQuery(
    "qd_cross_contain",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      crossContain(docs, docs.filter(col("doc_id") % 17 === 0))
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    shl AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM t),
    sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
    hs AS (SELECT doc_id, ${h60Sql("shingle")} AS h FROM sh),
    hashes AS (
      SELECT doc_id, i,
        MIN((${MinHashAffine.sqlListA(16)}[i + 1] * (h & ${MinHashAffine.Mask})
          + ${MinHashAffine.sqlListB(16)}[i + 1]) % ${MinHashAffine.P}) AS m
      FROM hs CROSS JOIN generate_series(0, 15) t2(i) GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY i) AS bv
      FROM hashes GROUP BY doc_id, i // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS d_train, b.doc_id AS bench_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
      WHERE b.doc_id % 17 = 0),
    verified AS (
      SELECT d_train, bench_id,
        CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / greatest(len(y.sh), 1) AS containment
      FROM cand JOIN shl x ON x.doc_id = d_train JOIN shl y ON y.doc_id = bench_id)
    SELECT d_train, bench_id, containment FROM verified
    WHERE containment >= 0.5 ORDER BY d_train, bench_id"""))

  private val qSimhash = GraftQuery(
    "qd_simhash",
    (s, dir) => simhashPairs(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    hs AS (SELECT doc_id, list_transform(toks, t -> ${h60Sql("t")}) AS h FROM t),
    sig AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
        CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) > len(h)
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      FROM hs)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    ORDER BY d1, d2"""))

  // Shared DuckDB cosine math (sequential left-folds over index order,
  // the order Spark's `aggregate` folds in → bit-identical doubles).
  private[analytics] val dotFoldSql =
    "list_reduce(list_transform(generate_series(1, 64), i -> va[i] * vb[i]), (a, b) -> a + b)"
  private[analytics] def normFoldSql(v: String): String =
    s"list_reduce(list_transform($v, x -> x * x), (a, b) -> a + b)"

  private val qEmbed = GraftQuery(
    "qd_embedding_neardup",
    (s, dir) => embeddingNearDup(Tables.embeddings(s, dir)),
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, a.v AS va, b.v AS vb
      FROM e a JOIN e b ON a.vec_id < b.vec_id),
    c AS (SELECT v1, v2,
      $dotFoldSql / (sqrt(${normFoldSql("va")}) * sqrt(${normFoldSql("vb")})) AS cosine
      FROM p)
    SELECT v1, v2, cosine FROM c WHERE cosine >= 0.4 ORDER BY v1, v2"""))

  // Transitive clustering over the simhash pairs, oracled with a DuckDB
  // recursive-CTE reachability closure.
  // The CC fixpoint over simhash pairs is the shared prefix of
  // qd_neardup_clusters and qd_cluster_canonical; nearDupClusters already
  // returns a localCheckpoint-materialized frame, so memoize the reference
  // (checkpoint = false) rather than re-running the whole fixpoint per
  // binding.
  // the signature scan is the shared prefix of BOTH pair modes (the
  // exact list for qd_simhash / qd_cc_stars and the clusters-only edge
  // budget) — memoized once per sf
  private def simhashSigsMemo(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Memo.cached(s, s"simhashSigs:$dir")(
      simhashSigsOf(Tables.documents(s, dir)))

  // the exact simhash pair list (the answer for qd_simhash, the input
  // the alternative-CC equivalence check runs on) — on a collision-dense
  // corpus this is intrinsically Θ(Σ cluster²); the clusters path below
  // does NOT consume it (r14 pair budget)
  private def simhashPairsMemo(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Memo.cached(s, s"simhashPairs:$dir")(
      simhashPairsFromSigs(simhashSigsMemo(s, dir)))

  /** Forces the exact simhash pair-list memo shared by qd_simhash and
    * qd_cc_stars onto its own Bench warm-up line (first-consumer-lottery
    * discipline — the clusters path stopped consuming this memo in r14,
    * so it needs its own attribution row).
    */
  def warmSimhashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = simhashPairsMemo(s, dir).count(): Unit

  // clusters-only edge budget (r14): linear edge set, closure identical
  // to the full pair list's — with the loud flag when pair rows were
  // actually elided (the collision-dense regime the budget exists for)
  private[analytics] def clusterEdgesMemo(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    var acc: Option[org.apache.spark.util.LongAccumulator] = None
    val edges = Memo.cached(s, s"simhashClusterEdges:$dir") {
      val (e, skipped) = clusterEdgesFromSigs(simhashSigsMemo(s, dir))
      acc = Some(skipped)
      e
    }
    // Memo.cached localCheckpoints eagerly, so on first build the
    // accumulator is final here; on memo hits acc stays None (flag
    // printed once per build, not once per consumer). The flag must
    // also fire when ALL the elision came from the identical-signature
    // collapse (a pure exact-duplication corpus never enters the forest
    // loop — r14 review), so check the collapse via two cheap counts on
    // the checkpointed sig memo.
    acc.foreach { a =>
      // r15 (r14 verdict task 7): ONE aggregation job derives both counts
      // — the previous count() + distinct().count() pair cost two jobs on
      // every cold build, charged to whichever warm-up row ran first.
      // r16 (r15 ADVICE low): countDistinct skips NULLs where the old
      // distinct().count() counted a NULL group as one value (simhash IS
      // null for a null-text doc: toksExpr(NULL) → NULL array), so add
      // the null group back explicitly — same single aggregation job,
      // exact old semantics.
      val sigs = simhashSigsMemo(s, dir)
      val cc = sigs.agg(count(lit(1)).as("n"),
        (countDistinct(col("simhash")) +
          coalesce(max(when(col("simhash").isNull, 1L).otherwise(0L)),
            lit(0L))).as("nd")).head()
      val collapsed = cc.getLong(0) - cc.getLong(1)
      if (a.value > 0L || collapsed > 0L)
        System.err.println(s"[graft-dedup] pair budget active at $dir: " +
          s"clusters-only edge build elided ~${a.value} candidate pair " +
          s"checks between already-connected docs and collapsed " +
          s"$collapsed identical-signature docs to membership edges. " +
          "Cluster closure is EXACT; the materialized edge list is " +
          "smaller than the verified pair list — use " +
          "simhashPairs/qd_simhash when the pair rows themselves are " +
          "the answer")
    }
    edges
  }

  private def simhashClusters(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Memo.cached(s, s"simhashClusters:$dir", checkpoint = false)(
      nearDupClusters(clusterEdgesMemo(s, dir)))

  /** Forces the shared near-dup clustering memo (the common prefix of
    * qd_neardup_clusters / qd_cluster_canonical / qd_cluster_weights /
    * qd_cluster_sizes) so Bench can charge the pairs→CC fixpoint build to
    * its own warm-up line instead of whichever binding happens to run
    * first. No-op when the memo is already warm.
    */
  def warmNearDupClusters(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = simhashClusters(s, dir).count(): Unit

  // recursive-CTE reachability closure over the simhash pairs — the
  // shared oracle of BOTH CC implementations (the algorithms differ, the
  // semantics — component-minimum labels — must not)
  private val ccClosureSql =
    s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    hs AS (SELECT doc_id, list_transform(toks, t -> ${h60Sql("t")}) AS h FROM t),
    sig AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
        CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) > len(h)
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      FROM hs),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(x, y) AS (
      SELECT a AS x, b AS y FROM edges
      UNION
      SELECT r.x, e.b FROM reach r JOIN edges e ON r.y = e.a)
    SELECT x AS doc_id, least(x, MIN(y)) AS cluster_id
    FROM reach GROUP BY x ORDER BY doc_id"""

  private val qClusters = GraftQuery(
    "qd_neardup_clusters",
    (s, dir) => simhashClusters(s, dir).orderBy(col("doc_id")),
    Some(ccClosureSql))

  private val qCcStars = GraftQuery(
    "qd_cc_stars",
    (s, dir) => ccStars(simhashPairsMemo(s, dir)),
    Some(ccClosureSql))

  /** SOFT dedup: duplicate-aware TRAINING WEIGHTS instead of hard drops —
    * every member of an n-doc near-dup cluster gets weight ⌊10⁶/n⌋ so the
    * cluster contributes one document's worth of gradient mass in total
    * (the down-weighting alternative data-constrained scaling studies
    * reach for when dropping repeats wastes signal; cf. Muennighoff et
    * al. 2023 on repeated-data value). Unclustered documents keep weight
    * 10⁶. One cluster-key count + two id-key left joins over the memoized
    * clustering — linear, no new pair work.
    * Output: (id, cluster_id ∥ NULL, csize, weight_micro) for EVERY doc.
    */
  def clusterWeights(ids: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", clusterCol: String = "cluster_id"): DataFrame = {
    val c = clusters.select(col(idCol), col(clusterCol))
    val sizes = c.groupBy(col(clusterCol)).agg(count(lit(1)).as("_n"))
    ids.select(col(idCol))
      .join(c, Seq(idCol), "left")
      .join(sizes, Seq(clusterCol), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("_n"), lit(1L)).as("csize"),
        expr("1000000 div coalesce(_n, 1L)").as("weight_micro"))
      .orderBy(col(idCol))
  }

  /** The dedup END PRODUCT: which documents survive near-dup clustering.
    * Each cluster keeps its best-scoring member (`scoreCol` is any
    * caller-supplied quality signal — token count, a learned score;
    * ties → smallest id so the choice is deterministic) and every
    * unclustered document survives untouched — [[nearDupClusters]] emits
    * only docs that appear in a pair, so survivors = singletons ∪ winners.
    *
    * Scale shape: two uniform-key hash joins (id) + one per-cluster
    * `max(struct)` aggregate with map-side partials — no windows, no
    * sorts, linear in the corpus. Ids must be non-negative (the negation
    * tie-break trick, as in LPA's argmax).
    *
    * Output: (id, cluster_id ∥ NULL, kept).
    */
  def clusterCanonical(ids: DataFrame, clusters: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", clusterCol: String = "cluster_id",
      scoreCol: String = "score"): DataFrame = {
    val c = clusters.select(col(idCol), col(clusterCol))
    val winners = c.join(scores.select(col(idCol), col(scoreCol)), idCol)
      .groupBy(col(clusterCol))
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("nid"))).as("w"))
      .select((-col("w.nid")).as(idCol), lit(true).as("_win"))
    ids.select(col(idCol))
      .join(c, Seq(idCol), "left")
      .join(winners, Seq(idCol), "left")
      .select(col(idCol), col(clusterCol),
        (col(clusterCol).isNull || coalesce(col("_win"), lit(false))).as("kept"))
      .orderBy(col(idCol))
  }

  // ------------------------------------- DBSCAN density clustering
  /** DBSCAN (Ester et al. 1996) over the cosine ε-neighbor graph — the
    * density clustering that, unlike k-means, needs no cluster count,
    * finds non-convex clusters, and LABELS NOISE — the right tool for
    * "carve a web-scale embedding space into topical islands and a junk
    * tier". Semantics on the graph view of DBSCAN:
    *
    *  - core: ≥ `minPts` neighbors at cosine ≥ `threshold` (self
    *    excluded — document the off-by-one when comparing to minPts
    *    conventions that count the point itself);
    *  - cluster: connected component of the core-core subgraph (min
    *    reachable core id, via [[nearDupClusters]]'s pointer-jump
    *    fixpoint); an isolated core keeps its own id;
    *  - border: non-core adjacent to ≥1 core, assigned the SMALLEST
    *    adjacent core's cluster id (the deterministic tie policy —
    *    classic DBSCAN's border assignment is scan-order-dependent);
    *  - noise: everything else (cluster NULL).
    *
    * Scale shape: pair generation is the caller's choice of ε-graph
    * tier — here [[embeddingNearDup]]'s triangle-blocked exact join
    * (see its scaladoc for why exact low-θ is inherently Ω(n²) compute;
    * swap in the LSH/IVF tiers for banded candidates at corpus scale).
    * Everything after the pair list is uniform-key degree aggs,
    * semi-joins, the O(log d)-round CC fixpoint, and one min-agg for
    * borders — all linear in edges.
    * Output: (vec_id, role ∈ core|border|noise, cluster_id ∥ NULL).
    */
  def dbscan(vecs: DataFrame, threshold: Double = 0.3, minPts: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blocks: Int = 16): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pairs = embeddingNearDup(vecs, idCol, vecCol, threshold, blocks)
      .select(col("v1"), col("v2")).localCheckpoint()
    val ed = pairs.select(col("v1").as("a"), col("v2").as("b"))
      .union(pairs.select(col("v2").as("a"), col("v1").as("b")))
    val core = ed.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= minPts).select(col("a").as("id"))
      .localCheckpoint()
    val coreEdges = pairs.select(col("v1").as("d1"), col("v2").as("d2"))
      .join(core.select(col("id").as("d1")), Seq("d1"), "left_semi")
      .join(core.select(col("id").as("d2")), Seq("d2"), "left_semi")
    val cc = nearDupClusters(coreEdges)
    val coreLbl = core.join(cc, core("id") === cc("doc_id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val borderLbl = ed
      .join(coreLbl.select(col("id").as("b"), col("cluster_id")), "b")
      .join(core.select(col("id").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a")).agg(min(col("cluster_id")).as("cluster_id"))
    val roles = coreLbl
      .select(col("id").as("vec_id"), lit("core").as("role"), col("cluster_id"))
      .unionByName(borderLbl.select(col("a").as("vec_id"),
        lit("border").as("role"), col("cluster_id")))
    vecs.select(col(idCol).as("vec_id"))
      .join(roles, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("role"), lit("noise")).as("role"),
        col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  // Pipeline observability: exact-dup rate SLICED by source — the first
  // question after any dedup pass ("which feed is flooding us with
  // copies"). One join of the dedup verdicts to the source column + a
  // source-key agg; rates in exact bp.
  private val qDupBySource = GraftQuery(
    "qd_dup_rate_by_source",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      exactDedup(docs)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .withColumn("dup_bp", expr("10000 * n_dups div n_docs"))
        .orderBy(col("source"))
    },
    Some("""WITH f AS (SELECT doc_id, source,
        md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
      d AS (SELECT source,
        doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup FROM f)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        CAST(10000 * SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS dup_bp
      FROM d GROUP BY source ORDER BY source"""))

  private val DbTheta = 0.3
  private val DbMinPts = 4

  private val qDbscan = GraftQuery(
    "qd_dbscan",
    (s, dir) => dbscan(Tables.embeddings(s, dir), DbTheta, DbMinPts),
    Some(s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, a.v AS va, b.v AS vb
      FROM e a JOIN e b ON a.vec_id < b.vec_id),
    pr AS (SELECT v1, v2 FROM (SELECT v1, v2,
      $dotFoldSql / (sqrt(${normFoldSql("va")}) * sqrt(${normFoldSql("vb")})) AS cosine
      FROM p) WHERE cosine >= $DbTheta),
    ed AS (SELECT v1 AS a, v2 AS b FROM pr UNION ALL SELECT v2, v1 FROM pr),
    core AS (SELECT a AS id FROM ed GROUP BY a HAVING COUNT(*) >= $DbMinPts),
    ce AS (SELECT a, b FROM ed
      WHERE a IN (SELECT id FROM core) AND b IN (SELECT id FROM core)),
    reach(x, y) AS (SELECT a, b FROM ce
      UNION SELECT r.x, e2.b FROM reach r JOIN ce e2 ON r.y = e2.a),
    lbl AS (SELECT x AS id, least(x, MIN(y)) AS cluster_id FROM reach GROUP BY x),
    corelbl AS (SELECT c.id, COALESCE(l.cluster_id, c.id) AS cluster_id
      FROM core c LEFT JOIN lbl l ON c.id = l.id),
    borderlbl AS (SELECT ed.a AS id, MIN(cl.cluster_id) AS cluster_id
      FROM ed JOIN corelbl cl ON ed.b = cl.id
      WHERE ed.a NOT IN (SELECT id FROM core) GROUP BY ed.a)
    SELECT v.vec_id,
      CASE WHEN c.id IS NOT NULL THEN 'core'
           WHEN b2.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
      COALESCE(c.cluster_id, b2.cluster_id) AS cluster_id
    FROM (SELECT vec_id FROM embeddings) v
    LEFT JOIN corelbl c ON v.vec_id = c.id
    LEFT JOIN borderlbl b2 ON v.vec_id = b2.id
    ORDER BY v.vec_id"""))

  private val qCanonical = GraftQuery(
    "qd_cluster_canonical",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      clusterCanonical(
        docs.select(col("doc_id")),
        simhashClusters(s, dir),
        docs.select(col("doc_id"),
          expr(s"cast(size($toksExpr) as bigint)").as("score")))
    },
    Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    hs AS (SELECT doc_id, list_transform(toks, t -> ${h60Sql("t")}) AS h FROM t),
    sig AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
        CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) > len(h)
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      FROM hs),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(x, y) AS (
      SELECT a AS x, b AS y FROM edges
      UNION
      SELECT r.x, e.b FROM reach r JOIN edges e ON r.y = e.a)
    , cl AS (SELECT x AS doc_id, least(x, MIN(y)) AS cluster_id FROM reach GROUP BY x),
    sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS score FROM t),
    w AS (SELECT cluster_id, doc_id AS win_id FROM (
      SELECT cl.cluster_id, cl.doc_id,
        ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
          ORDER BY sc.score DESC, cl.doc_id) AS rk
      FROM cl JOIN sc USING (doc_id)) WHERE rk = 1)
    SELECT t.doc_id, cl.cluster_id,
      cl.cluster_id IS NULL OR t.doc_id = w.win_id AS kept
    FROM t LEFT JOIN cl USING (doc_id) LEFT JOIN w ON w.cluster_id = cl.cluster_id
    ORDER BY t.doc_id"""))

  private val qSpans = GraftQuery(
    "qd_span_dedup",
    (s, dir) => duplicateSpans(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    s AS (SELECT doc_id, ${h60Sql("array_to_string(toks[i:i+19], ' ')")} AS h
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 19)) AS i) g
      WHERE len(toks) >= 20)
    SELECT h AS span_hash, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
    FROM s GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2 ORDER BY span_hash"""))

  // ------------------------------------- Bloom-pre-filtered incremental
  /** Incremental exact dedup with a Bloom pre-filter: which incoming
    * documents are NEW vs an existing corpus? The existing side — the
    * 100 TB one — is collapsed to a Bloom filter over its 60-bit
    * normalized-text fingerprints (a distributed `stat.bloomFilter`
    * treeAggregate: the corpus itself never moves, only the fixed-size bit
    * array merges up). The sketch broadcasts to every executor and probes
    * the incoming batch map-side; only Bloom POSITIVES (true dups + ~fpp
    * false positives) enter the exact semi-join against the corpus
    * fingerprints. The result is therefore exactly the anti-join — the
    * sketch never changes the answer (no false negatives by construction),
    * it only prunes the join's probe side from |incoming| to ~|dups| rows.
    * That pruning is the point at scale: the incoming batch never joins
    * wholesale against a corpus-sized table.
    *
    * The probe is a Scala UDF deliberately: the sketch lives in a
    * broadcast variable, and a sketch probe has no builtin-function or
    * codegen'd-Expression equivalent — this is the one documented UDF
    * class (same exemption as the MediaDecoder plumbing).
    *
    * Output: incoming (doc_id, is_new), ordered by doc_id.
    */
  def bloomNewDocs(existing: DataFrame, incoming: DataFrame,
      fpp: Double = 0.03, expectedItems: Long = -1L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    def fps(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      expr(h60(s"trim(regexp_replace(lower($textCol), '\\\\s+', ' '))")).as("fp"))
    val ex = fps(existing)
    val inc = fps(incoming)
    // sizing pass: one count of the existing side unless the caller knows it
    val n = if (expectedItems > 0) expectedItems else math.max(ex.count(), 1L)
    val bf = ex.stat.bloomFilter("fp", n, fpp)
    val bc = existing.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((x: Long) => bc.value.mightContainLong(x))
    val confirmed = inc.filter(mightContain(col("fp")))
      .join(ex.select(col("fp")), Seq("fp"), "left_semi")
      .select(col("doc_id"))
    inc.select(col("doc_id"))
      .join(confirmed.withColumn("dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), not(coalesce(col("dup"), lit(false))).as("is_new"))
      .orderBy(col("doc_id"))
  }

  private val qBloom = GraftQuery(
    "qd_bloom_incremental",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      bloomNewDocs(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0))
    },
    Some(s"""WITH f AS (SELECT doc_id,
      ${h60Sql("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS fp FROM documents),
    inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0),
    ex AS (SELECT fp FROM f WHERE doc_id % 5 <> 0)
    SELECT inc.doc_id, inc.fp NOT IN (SELECT fp FROM ex) AS is_new
    FROM inc ORDER BY inc.doc_id"""))

  // ------------------------------------------------------ URL/domain dedup
  /** URL-aware dedup — keep-one per NORMALIZED URL and per registered
    * domain, the most common first pass of a web-crawl pipeline (CCNet /
    * RefinedWeb / Dolma all dedup on normalized URL before touching text).
    *
    * Normalization (each step a standard crawl-pipeline rule): lowercase;
    * strip the scheme (`http://` ≡ `https://`); strip one leading `www.`;
    * drop the query string and fragment (`?…`/`#…` — tracking params);
    * strip trailing slashes. The registered domain is the host's last two
    * labels (a public-suffix-list-free approximation, documented — swap in
    * a PSL table via a broadcast join when one is available).
    *
    * Scale shape: normalization is map-only regex; each keep-one is a min
    * window over a uniform key (norm_url / domain) — the same one-shuffle
    * shape as [[exactDedup]]. No joins, no skew beyond genuinely hot
    * domains (which a salted two-level min handles if ever needed).
    * Output: (doc_id, norm_url, domain, kept_url, kept_domain).
    */
  def urlDedup(docs: DataFrame, idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame = {
    val wUrl = Window.partitionBy(col("norm_url"))
    val wDom = Window.partitionBy(col("domain"))
    docs.select(col(idCol).as("doc_id"), col(urlCol).as("url"))
      .withColumn("norm_url",
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(col("url")),
          "^[a-z][a-z0-9+.-]*://", ""), "^www\\.", ""), "[?#].*$", ""), "/+$", ""))
      .withColumn("host", regexp_extract(col("norm_url"), "^([^/]+)", 1))
      .withColumn("domain",
        when(instr(col("host"), ".") > 0,
          regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
          .otherwise(col("host")))
      .withColumn("kept_url", col("doc_id") === min(col("doc_id")).over(wUrl))
      .withColumn("kept_domain", col("doc_id") === min(col("doc_id")).over(wDom))
      .select(col("doc_id"), col("norm_url"), col("domain"),
        col("kept_url"), col("kept_domain"))
      .orderBy(col("doc_id"))
  }

  // URL fixture: documents carries no URL column, so both engines build the
  // identical deterministic one — three variants (scheme/case/www/query/
  // fragment/trailing-slash noise) that normalize to the same
  // `<source>.com/item/<doc_id % 40>`, plus a unique cdn.<source>.com asset
  // URL whose registered domain still collapses with the site's.
  private[analytics] def urlViewDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir).select(col("doc_id"), expr(
      """CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN concat('https://www.', source, '.com/item/', CAST(doc_id % 40 AS STRING), '?utm_source=feed')
      WHEN 1 THEN concat('http://', source, '.com/item/', CAST(doc_id % 40 AS STRING), '/')
      WHEN 2 THEN concat('HTTPS://WWW.', upper(source), '.COM/item/', CAST(doc_id % 40 AS STRING), '#top')
      ELSE concat('https://cdn.', source, '.com/asset/', CAST(doc_id AS STRING))
      END""").as("url"))

  private[analytics] val urlViewSql = """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'https://www.' || source || '.com/item/' || CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed'
      WHEN 1 THEN 'http://' || source || '.com/item/' || CAST(doc_id % 40 AS VARCHAR) || '/'
      WHEN 2 THEN 'HTTPS://WWW.' || upper(source) || '.COM/item/' || CAST(doc_id % 40 AS VARCHAR) || '#top'
      ELSE 'https://cdn.' || source || '.com/asset/' || CAST(doc_id AS VARCHAR)
      END AS url FROM documents"""

  private val qUrlDedup = GraftQuery(
    "qd_url_dedup",
    (s, dir) => urlDedup(urlViewDf(s, dir)),
    Some(s"""WITH uv AS ($urlViewSql),
    n AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        lower(url),
        '^[a-z][a-z0-9+.-]*://', ''), '^www\\.', ''), '[?#].*$$', ''), '/+$$', '') AS norm_url
      FROM uv),
    h AS (SELECT doc_id, norm_url, regexp_extract(norm_url, '^([^/]+)', 1) AS host FROM n),
    d AS (SELECT doc_id, norm_url,
      CASE WHEN instr(host, '.') > 0 THEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
        ELSE host END AS domain FROM h)
    SELECT doc_id, norm_url, domain,
      doc_id = MIN(doc_id) OVER (PARTITION BY norm_url) AS kept_url,
      doc_id = MIN(doc_id) OVER (PARTITION BY domain) AS kept_domain
    FROM d ORDER BY doc_id"""))

  // ------------------------------------------------- LSH recall harness
  /** Pair-level recall of MinHash-LSH against the exact Jaccard ground
    * truth — the dedup tier's analogue of the ANN tier's
    * [[graft.analytics.SimilarityOps.annRecall]]: how many of the true
    * near-dup pairs (exact n-gram Jaccard ≥ t, from the prefix-filtered
    * [[ngramJaccard]]) does the banded [[minhashLsh]] recover? The gap is
    * exactly the pairs whose signatures collide in NO band — the quantity
    * the (k, bands) trade-off tunes — so this one-row readout is the
    * scale-tuning instrument: rerun it when changing band geometry before
    * committing a 100 TB dedup pass to it.
    *
    * Both inputs are the already-bucketed production operators (prefix
    * index / band join) — the harness adds two pair-keyed semi-join-sized
    * aggregates on top, no all-pairs work anywhere. Recall is emitted in
    * basis points via integer division (cross-engine exact; no float
    * ratio). Output: one row (n_exact, n_lsh, n_common, recall_bp).
    */
  def lshRecall(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.8,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val exact = ngramJaccard(docs, idCol, textCol, threshold)
      .select(col("d1"), col("d2"))
    val lsh = minhashLsh(docs, idCol, textCol, k, bands, threshold)
      .select(col("d1"), col("d2"))
    val common = exact.join(lsh, Seq("d1", "d2"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .withColumn("recall_bp",
        expr("CASE WHEN n_exact = 0 THEN 0L ELSE (10000 * n_common) div n_exact END"))
  }

  // One WITH chain running both pipelines: t/shl are shared verbatim, the
  // minhash CTEs are suffixed m where names would clash with the ngram ones.
  private val lshRecallSql = s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    shl AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM t),
    hl AS (SELECT doc_id, list_sort(list_distinct(list_transform(sh, s -> ${h60Sql("s")}))) AS hs FROM shl),
    px AS (SELECT doc_id,
      unnest(list_slice(hs, 1, len(hs) - CAST(floor(0.8 * len(hs)) AS INTEGER) + 1)) AS ph FROM hl),
    hot AS (SELECT ph FROM px GROUP BY ph HAVING COUNT(*) > $ShingleDfCap),
    kept AS (SELECT * FROM px WHERE ph NOT IN (SELECT ph FROM hot)),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM kept a JOIN kept b ON a.ph = b.ph AND a.doc_id < b.doc_id),
    v AS (SELECT d1, d2,
      CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
        / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) AS jaccard
      FROM cand JOIN hl x ON x.doc_id = d1 JOIN hl y ON y.doc_id = d2),
    ex AS (SELECT d1, d2 FROM v WHERE jaccard >= 0.8),
    shm AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
    hsm AS (SELECT doc_id, ${h60Sql("shingle")} AS h FROM shm),
    hashes AS (
      SELECT doc_id, i,
        MIN((${graft.functions.MinHashAffine.sqlListA(16)}[i + 1] * (h & ${graft.functions.MinHashAffine.Mask})
          + ${graft.functions.MinHashAffine.sqlListB(16)}[i + 1]) % ${graft.functions.MinHashAffine.P}) AS m
      FROM hsm CROSS JOIN generate_series(0, 15) t2(i) GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY i) AS bv
      FROM hashes GROUP BY doc_id, i // 4),
    candm AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
    verified AS (
      SELECT d1, d2,
        CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
      FROM candm JOIN shl x ON x.doc_id = d1 JOIN shl y ON y.doc_id = d2),
    lp AS (SELECT d1, d2 FROM verified WHERE jaccard >= 0.8),
    cm AS (SELECT d1, d2 FROM ex INTERSECT SELECT d1, d2 FROM lp)
    SELECT CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_exact,
      CAST((SELECT COUNT(*) FROM lp) AS BIGINT) AS n_lsh,
      CAST((SELECT COUNT(*) FROM cm) AS BIGINT) AS n_common,
      CAST(CASE WHEN (SELECT COUNT(*) FROM ex) = 0 THEN 0
        ELSE (10000 * (SELECT COUNT(*) FROM cm)) // (SELECT COUNT(*) FROM ex)
      END AS BIGINT) AS recall_bp"""

  private val qLshRecall = GraftQuery(
    "qd_lsh_recall",
    (s, dir) => lshRecall(Tables.documents(s, dir)),
    Some(lshRecallSql))

  // ---------------------------------------------------- winnowing
  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS algorithm): hash every word 3-gram, slide a window
    * of `w` consecutive hashes over each document, and keep each window's
    * minimum (leftmost on ties). The guarantee that makes this the
    * standard copy-detection sampler: any shared run of w+2 tokens
    * between two documents contributes at least one IDENTICAL selected
    * fingerprint to both — unlike fixed-stride sampling, detection is
    * offset-independent — while storing only ~2/(w+1) of the k-gram
    * hashes.
    *
    * Distributed shape: everything before the pair join is per-document
    * map work — tokenize, hash, and a bounded ≤w fan-out of (hash,
    * window) memberships — followed by ONE uniform-key aggregation on
    * (doc, window) to select minima (map-side partials absorb the w×
    * fan-out before it shuffles). The min-hash-then-leftmost-position
    * rule is packed into a single BIGINT key (hash·2²⁰ + pos) so the
    * argmin is a plain `min`, exact in both engines, no struct-ordering
    * or float anywhere. The cross-doc join then runs on the winnowed
    * fingerprints — a corpus-volume reduction of ~(w+1)/2 before the
    * first pair is formed — with the same df-cap skew guard as
    * [[ngramJaccard]]: a fingerprint shared by > `maxDf` docs (boilerplate)
    * is dropped rather than allowed to form a quadratic bucket.
    *
    * Positions are capped at 2²⁰−1 k-grams per document (the BIGINT pack
    * budget); chunk longer documents first ([[MixOps.chunkDocs]]) — at
    * corpus scale they always are.
    *
    * Output: (d1, d2, shared) — document pairs sharing ≥ `minShared`
    * winnowed fingerprints, ordered by (d1, d2).
    */
  def winnowPairs(docs: DataFrame, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 50, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    // (pos, hash) per word 3-gram via the native SpanHashGen kernel —
    // tokenization + hashing in one codegen-adjacent generator (the
    // interpreted zip_with + md5 construction this replaced measured
    // 14.6 s at sf0.1; docs with < 3 tokens emit no fingerprints).
    // The doc-count window piggybacks on the SAME doc_id exchange the
    // (doc, window)-keyed min-agg needs (HashPartitioning(doc) satisfies
    // ClusteredDistribution(doc, ws)), so fingerprint construction costs
    // one exchange total.
    val fp = docs
      .select(col(idCol).as("doc_id"),
        GraftFunctions.graft_span_hashes(col(textCol), 3, 1).as(Seq("p0", "h0")))
      .withColumn("nh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("p0") < (1 << 20) - 1)
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("nh"),
        (col("h0") % (1L << 43)).as("h"))
      .select(col("doc_id"),
        explode(expr(s"sequence(greatest(1, pos - ${w - 1}), " +
          s"least(pos, greatest(nh - ${w - 1}, 1)))")).as("ws"),
        (col("h") * (1L << 20) + col("pos")).as("key"))
      .groupBy(col("doc_id"), col("ws")).agg(min(col("key")).as("k"))
      .select(col("doc_id"), expr(s"k div ${1L << 20}").as("h")).distinct()
    val kept = fp.join(
      fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, maxDf)).select(col("h")), Seq("h"))
    kept.alias("a").join(kept.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("d1"), col("d2"))
  }

  private val WinnowW = 4
  private val WinnowMinShared = 2
  private val WinnowMaxDf = 50

  private val winnowSql = s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    hr AS (SELECT doc_id, len(toks) - 2 AS nh, i AS pos,
        ${h60Sql("array_to_string(toks[i:i+2], ' ')")} % ${1L << 43} AS h
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
      WHERE len(toks) >= 3 AND i <= ${(1 << 20) - 1}),
    wins AS (SELECT doc_id, unnest(generate_series(GREATEST(1, pos - ${WinnowW - 1}),
        LEAST(pos, GREATEST(nh - ${WinnowW - 1}, 1)))) AS ws,
      h * ${1L << 20} + pos AS key FROM hr),
    sel AS (SELECT doc_id, ws, MIN(key) AS k FROM wins GROUP BY doc_id, ws),
    fp AS (SELECT DISTINCT doc_id, k // ${1L << 20} AS h FROM sel),
    df AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) BETWEEN 2 AND $WinnowMaxDf),
    fpd AS (SELECT fp.doc_id, fp.h FROM fp JOIN df ON fp.h = df.h)
    SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS shared
    FROM fpd a JOIN fpd b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY d1, d2 HAVING COUNT(*) >= $WinnowMinShared ORDER BY d1, d2"""

  private val qWinnow = GraftQuery(
    "qd_winnow",
    (s, dir) => winnowPairs(Tables.documents(s, dir), WinnowW,
      WinnowMinShared, WinnowMaxDf),
    Some(winnowSql))

  // --------------------------------------------- cluster QA metrics
  /** Cluster-size distribution of a near-dup clustering — the dedup QA
    * readout (a giant component means the pairing threshold collapsed
    * the corpus; a flat histogram of 2s means it found only exact-ish
    * twins). Two uniform-key aggregations over the CLUSTER frame (rows =
    * clustered docs, not the corpus) — linear, no joins.
    *
    * Output: (cluster_size, n_clusters, n_docs) ascending by size.
    */
  def clusterSizeProfile(clusters: DataFrame,
      clusterCol: String = "cluster_id"): DataFrame =
    clusters.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  private val qClusterStats = GraftQuery(
    "qd_cluster_stats",
    (s, dir) => clusterSizeProfile(simhashClusters(s, dir)),
    Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    hs AS (SELECT doc_id, list_transform(toks, t -> ${h60Sql("t")}) AS h FROM t),
    sig AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
        CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) > len(h)
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      FROM hs),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(x, y) AS (
      SELECT a AS x, b AS y FROM edges
      UNION
      SELECT r.x, e.b FROM reach r JOIN edges e ON r.y = e.a),
    cl AS (SELECT x AS doc_id, least(x, MIN(y)) AS cluster_id FROM reach GROUP BY x),
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY cluster_id)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
      CAST(COUNT(*) AS BIGINT) AS n_clusters,
      CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sz GROUP BY cluster_size ORDER BY cluster_size"""))

  // -------------------------------------------- dedup token savings
  /** What exact dedup is WORTH, in training tokens: per source, total
    * whitespace tokens vs tokens surviving keep-first exact dedup, and
    * the savings in basis points — the readout that turns "we deduped"
    * into a compute-budget number (duplicate tokens are the ones a
    * training run would pay for twice). Composes [[exactDedup]]'s keep
    * rule with the token counter; near-dup tiers report their own keep
    * sets (qd_cluster_canonical) and slot into the same rollup.
    *
    * Plan: one scan computes (fp, tokens, source); the keep flag is the
    * same fp-window min-id rule as qd_exact_dedup; per-source agg.
    */
  private val qDedupSavings = GraftQuery(
    "qd_dedup_savings",
    (s, dir) => {
      val w = Window.partitionBy(col("fp"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr(s"size(${Nlp.toksExpr})").cast("long").as("tok"),
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
            .cast("binary")).as("fp"))
        .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tokens_total"),
          sum(when(col("keep"), col("tok")).otherwise(0L)).as("tokens_kept"))
        .select(col("source"), col("n_docs"), col("tokens_total"),
          col("tokens_kept"),
          expr("""CAST(CASE WHEN tokens_total = 0 THEN 0
              ELSE (10000 * (tokens_total - tokens_kept)) div tokens_total
              END AS BIGINT)""").as("savings_bp"))
        .orderBy(col("source"))
    },
    Some(s"""WITH f AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS tok,
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents),
    k AS (SELECT source, tok,
        doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep FROM f)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(tok) AS BIGINT) AS tokens_total,
      CAST(SUM(CASE WHEN keep THEN tok ELSE 0 END) AS BIGINT) AS tokens_kept,
      CAST(CASE WHEN SUM(tok) = 0 THEN 0
        ELSE (10000 * (SUM(tok) - SUM(CASE WHEN keep THEN tok ELSE 0 END)))
          // SUM(tok) END AS BIGINT) AS savings_bp
    FROM k GROUP BY source ORDER BY source"""))

  private val qClusterWeights = GraftQuery(
    "qd_cluster_weights",
    (s, dir) => clusterWeights(
      Tables.documents(s, dir).select(col("doc_id")),
      simhashClusters(s, dir)),
    Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    hs AS (SELECT doc_id, list_transform(toks, t -> ${h60Sql("t")}) AS h FROM t),
    sig AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
        CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) > len(h)
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      FROM hs),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(x, y) AS (
      SELECT a AS x, b AS y FROM edges
      UNION
      SELECT r.x, e.b FROM reach r JOIN edges e ON r.y = e.a),
    cl AS (SELECT x AS doc_id, least(x, MIN(y)) AS cluster_id
      FROM reach GROUP BY x),
    sz AS (SELECT cluster_id, COUNT(*) AS n FROM cl GROUP BY cluster_id)
    SELECT d.doc_id, cl.cluster_id,
      CAST(COALESCE(sz.n, 1) AS BIGINT) AS csize,
      CAST(1000000 // COALESCE(sz.n, 1) AS BIGINT) AS weight_micro
    FROM documents d
    LEFT JOIN cl ON d.doc_id = cl.doc_id
    LEFT JOIN sz ON cl.cluster_id = sz.cluster_id
    ORDER BY d.doc_id"""))

  // ------------------------------------- content-defined chunking
  /** Content-defined chunking (the Rabin/LBFS/FastCDC family) — the
    * storage-dedup primitive fixed-stride framing is not: a chunk
    * boundary is declared wherever the HASH OF THE TRAILING w-BYTE
    * WINDOW lands in a 1-in-2^bits bucket, so boundaries depend only on
    * LOCAL content and every chunk after an insertion/prefix realigns
    * (shift-invariance — spec-pinned; a fixed-stride chunker loses every
    * block after the edit point). The window hash is md5 (the engine-
    * shared hash, standing in for a gear/Rabin rolling hash — same
    * contract, O(w) per position instead of O(1); a native rolling-hash
    * Expression is the optimization tier if w grows). No min/max chunk
    * bounds: FastCDC's length clamps make each boundary depend on the
    * previous one (sequential), which would break the closed per-position
    * form — documented tradeoff, boundary density is tuned by `bits`
    * instead.
    *
    * Everything is map-only array arithmetic per document (positions →
    * boundary list → chunk spans via zip_with over the 0-prepended /
    * len-appended boundary arrays) followed by ONE source-keyed
    * aggregate; the distinct-chunk side is a (source, hash) aggregate —
    * no pair joins at all, dedup falls out of hash-equality.
    *
    * Output per source: (source, n_docs, n_chunks, n_distinct_chunks,
    * total_bytes, dup_bytes) ordered by source — dup_bytes is the
    * storage a chunk-store would save within that source.
    */
  def contentChunkStats(docs: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text", w: Int = 8,
      buckets: Int = 4): DataFrame = {
    require(w >= 1 && buckets >= 1 && buckets <= 255,
      s"need w >= 1 and 1 <= buckets <= 255, got w=$w buckets=$buckets")
    // boundary ⟺ first md5 byte of the trailing window < buckets — the
    // native [[graft.functions.CdcBoundaries]] kernel (one compiled pass
    // per row, thread-local digest, no per-position string allocations);
    // exactly the composed `filter(sequence(w, len), i -> substring(
    // md5(substring(t, ...)), 1, 2) < hex(buckets))` on ASCII text
    // (StringExprsSpec pins the equivalence — a HOF lambda evaluates
    // interpreted per element, which made the composed form the suite's
    // slowest query: 7.5 s → ~1.5 s at sf0.1). Map-only: boundaries
    // never leave the row they describe.
    val chunks = docs.select(col(sourceCol).as("src"), col(idCol).as("doc_id"),
        col(textCol).as("t"))
      .withColumn("len", length(col("t")))
      .withColumn("bnds",
        GraftFunctions.graft_cdc_boundaries(col("t"), w, buckets))
      .withColumn("spans", expr(
        s"""filter(zip_with(concat(array(0), bnds), concat(bnds, array(len)),
            (s, e) -> struct(s + 1 AS start, e - s AS clen)),
          x -> x.clen > 0)"""))
      .select(col("src"), col("doc_id"), col("t"),
        explode(col("spans")).as("sp"))
      .select(col("src"), col("doc_id"), col("sp.clen").as("clen"),
        expr("md5(substring(t, sp.start, sp.clen))").as("chash"))
    val perSrc = chunks.groupBy(col("src"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("total_bytes"))
    val distinctSrc = chunks.groupBy(col("src"), col("chash"))
      .agg(max(col("clen")).as("clen"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_distinct_chunks"),
        sum(col("clen")).as("distinct_bytes"))
    perSrc.join(distinctSrc, "src")
      .select(col("src").as(sourceCol), col("n_docs"), col("n_chunks"),
        col("n_distinct_chunks"), col("total_bytes"),
        (col("total_bytes") - col("distinct_bytes")).as("dup_bytes"))
      .orderBy(col(sourceCol))
  }

  private val qContentChunks = GraftQuery(
    "qd_content_chunks",
    (s, dir) => contentChunkStats(Tables.documents(s, dir)),
    // ASCII assumption (char positions = byte positions) as qm_frame_sample
    Some("""WITH d AS (SELECT source AS src, doc_id, text AS t,
        length(text) AS len FROM documents),
    b AS (SELECT src, doc_id, t, len,
        CASE WHEN len >= 8 THEN list_filter(generate_series(8, len),
          i -> substr(md5(substr(t, i - 7, 8)), 1, 2) < '04')
        ELSE [] END AS bnds FROM d),
    sp AS (SELECT src, doc_id, t,
        unnest(list_filter(list_transform(generate_series(1, len(bnds) + 1),
          k -> {'start': COALESCE(bnds[k - 1], 0) + 1,
                'clen': COALESCE(bnds[k], len) - COALESCE(bnds[k - 1], 0)}),
          x -> x.clen > 0)) AS s FROM b),
    ch AS (SELECT src, doc_id, s.clen AS clen,
        md5(substr(t, s.start, s.clen)) AS chash FROM sp),
    ps AS (SELECT src, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
        SUM(clen) AS total_bytes FROM ch GROUP BY src),
    dsb AS (SELECT src, COUNT(*) AS n_distinct_chunks,
        SUM(clen) AS distinct_bytes FROM
      (SELECT src, chash, MAX(clen) AS clen FROM ch GROUP BY src, chash)
      GROUP BY src)
    SELECT ps.src AS source, CAST(ps.n_docs AS BIGINT) AS n_docs,
      CAST(ps.n_chunks AS BIGINT) AS n_chunks,
      CAST(dsb.n_distinct_chunks AS BIGINT) AS n_distinct_chunks,
      CAST(ps.total_bytes AS BIGINT) AS total_bytes,
      CAST(ps.total_bytes - dsb.distinct_bytes AS BIGINT) AS dup_bytes
    FROM ps JOIN dsb USING (src) ORDER BY source"""))

  val queries: Seq[GraftQuery] =
    Seq(qExact, qNgram, qMinhash, qCrossContain, qSimhash, qEmbed, qClusters,
      qCcStars, qCanonical, qDbscan, qDupBySource, qSpans, qBloom, qUrlDedup,
      qLshRecall, qWinnow, qClusterStats, qDedupSavings, qClusterWeights,
      qContentChunks)
}
