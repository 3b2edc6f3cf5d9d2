package graft.analytics

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The analytics operators are a LIBRARY, not a fixed query set: every op
  * takes any DataFrame plus id/text/vector column names. This spec runs
  * them against a frame with non-default column names — the oracle gate
  * (Verify/check.py) covers numeric correctness on the test tables; here
  * we pin the public API contract.
  */
class OpsApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Driver-side union-find closure over an edge list — the reference
    * semantics both cluster-edge pins compare against (doc ->
    * component-min label, docs restricted to those appearing in an edge,
    * matching nearDupClusters' emit contract).
    */
  private def unionFindClosure(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs = {
    import spark.implicits._
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 10
      (12L, "the quick brown fox jumps over the lazy cat"),   // near dup
      (13L, "completely different content about database tables and rows"))
      .toDF("post_id", "body")
  }

  test("exactDedup on custom column names finds the exact duplicate") {
    val out = exactDedupRows
    assert(out.toMap == Map(10L -> (10L, false), 11L -> (10L, true),
      12L -> (12L, false), 13L -> (13L, false)))
  }

  private def exactDedupRows =
    DedupOps.exactDedup(docs, idCol = "post_id", textCol = "body")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))

  test("ngramJaccard on custom column names pairs the near-duplicates") {
    val pairs = DedupOps.ngramJaccard(docs, idCol = "post_id", textCol = "body",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((10L, 12L)) && pairs.contains((11L, 12L)),
      s"near-dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L), s"false pair: $pairs")
  }

  test("minhashLsh on custom column names surfaces the exact-dup pair") {
    val pairs = DedupOps.minhashLsh(docs, idCol = "post_id", textCol = "body",
        k = 16, bands = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"identical docs not banded together: $pairs")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L), s"false pair: $pairs")
  }

  test("simhashPairs on custom column names pairs only the near-duplicates") {
    val pairs = DedupOps.simhashPairs(docs, idCol = "post_id", textCol = "body",
        maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"identical docs not hamming-0: $pairs")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L), s"false pair: $pairs")
  }

  test("simhashPairs: triangle-blocked hot buckets equal brute-force hamming pairs") {
    import spark.implicits._
    // 1,500 docs over a 6-word vocab: the majority-vote signatures
    // correlate hard, so (chunk, value) buckets blow past the 512-doc
    // block threshold — the sf1-measured regime the r13 triangle
    // blocking exists for. The oracle sfs never reach that threshold
    // (≤ 500 docs), so the blocked path needs its own exactness pin:
    // the pair set must equal a driver-side brute-force hamming scan
    // over the same signatures.
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0L until 1500L).map { i =>
      val words = (0 until 40).map(p =>
        vocab(math.floorMod((i * 40 + p) * 2654435761L,
          vocab.length.toLong).toInt))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val got = DedupOps.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the engine's own signatures (same expression)
    val sigs = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.GraftFunctions.graft_simhash60(
          org.apache.spark.sql.functions.expr(
            s"transform(${Nlp.toksExpr}, t -> ${Nlp.h60("t")})")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 6
    } yield (sigs(i)._1, sigs(j)._1)).toSet
    assert(got == brute,
      s"blocked pair set diverged: got ${got.size} vs brute ${brute.size}; " +
        s"missing ${(brute -- got).take(3)}, extra ${(got -- brute).take(3)}")
    // the pin only has teeth if blocking actually fired: recompute the
    // production chunk layout (4×9 + 3×8 bits) and assert a hot bucket
    def off(i: Int) = if (i < 4) i * 9 else 36 + (i - 4) * 8
    def width(i: Int) = if (i < 4) 9 else 8
    val hottest = sigs.flatMap { case (_, s) =>
      (0 until 7).map(i => (i, (s >>> off(i)) & ((1L << width(i)) - 1))) }
      .groupBy(identity).map(_._2.length).max
    assert(hottest > 512,
      s"corpus no longer exceeds the 512-doc block threshold ($hottest) — " +
        "the blocked path went untested; make the vocab smaller")
  }

  test("simhashClusterEdges: budgeted closure equals full pair-list closure on a planted hot bucket") {
    import spark.implicits._
    // the r13 hot-bucket family (6-word vocab, 1,500 docs → correlated
    // signatures, buckets past any practical block threshold) PLUS
    // planted exact duplicates so the identical-signature collapse path
    // carries real mass. blockT = 64 forces the block-pair fan-out so
    // the exactness argument is exercised on the BLOCKED decomposition.
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val base = (0L until 1200L).map { i =>
      val words = (0 until 40).map(p =>
        vocab(math.floorMod((i * 40 + p) * 2654435761L,
          vocab.length.toLong).toInt))
      (i, words.mkString(" "))
    }
    // 300 exact duplicates of the first 100 docs (ids 2000+)
    val dups = (0 until 300).map(j => (2000L + j, base(j % 100)._2))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val full = DedupOps.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val budgeted = DedupOps.clusterEdgesFromSigs(
        DedupOps.simhashSigsOf(docs), blockT = 64)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(unionFindClosure(budgeted) == unionFindClosure(full),
      s"budgeted closure diverged from the full pair-list closure: " +
        s"${unionFindClosure(budgeted).size} vs ${unionFindClosure(full).size} labeled docs")
    // the budget must actually bite on this corpus, or the pin is hollow
    assert(budgeted.size < full.size,
      s"pair budget emitted ${budgeted.size} edges vs ${full.size} " +
        "verified pairs — the collision-dense family stopped being dense")
    // and the doc set must match exactly (clusters consumers key on it)
    assert(budgeted.flatMap(p => Seq(p._1, p._2)).toSet ==
      full.flatMap(p => Seq(p._1, p._2)).toSet,
      "budgeted edge set covers a different doc set than the pair list")
  }

  test("simhashClusterEdges: closure identical at sf0.1 (and sf1 when the rehearsal set exists)") {
    def check(dir: String): Unit = {
      val docs = Tables.documents(spark, dir)
      val full = DedupOps.simhashPairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // the edge memo the qd_neardup_clusters family reads
      val budgeted = DedupOps.clusterEdgesMemo(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(unionFindClosure(budgeted) == unionFindClosure(full),
        s"budgeted closure diverged from full closure at $dir")
    }
    check("/root/testdata/sf0.1")
    // the sf1 rehearsal decade (deterministic GenSf output) when present;
    // cancels cleanly on boxes that never generated it
    if (new java.io.File("/tmp/graft_sf1/documents.parquet").exists())
      check("/tmp/graft_sf1")
    else info("sf1 rehearsal set absent — sf0.1 pin only " +
      "(regenerate with graft.tools.GenSf)")
  }

  test("embeddingNearDup and cosineTopK on custom column names") {
    import spark.implicits._
    val vecs = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.9f, 0.1f, 0.0f)),    // close to 100
      (102L, Array(0.0f, 0.0f, 1.0f)))    // orthogonal
      .toDF("item", "emb")
    val dups = DedupOps.embeddingNearDup(vecs, idCol = "item", vecCol = "emb",
        threshold = 0.9, blocks = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((100L, 101L)), s"got $dups")

    val top = SimilarityOps.cosineTopK(vecs, vecs.filter($"item" === 100L),
        k = 1, idCol = "item", vecCol = "emb")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(top.toSeq == Seq((100L, 1, 101L)), s"got ${top.toSeq}")
  }

  test("piiRedact counts and redacts emails, IPs, phones on custom columns") {
    import spark.implicits._
    val md = Seq(
      (1L, "write a@b.io or c.d+x@e.org from 10.0.0.7 call 555-010-1234 end"),
      (2L, "no pii here"),
      // IP-shaped substring inside the email's domain: counting happens on
      // the progressively redacted text, so this is 1 email and 0 IPs —
      // never double-counted
      (3L, "ping a@10.0.0.7.io now")).toDF("post_id", "body")
    val out = CurationOps.piiRedact(md, idCol = "post_id", textCol = "body")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    assert(out(1L) == ((2, 1, 1,
      "write <EMAIL> or <EMAIL> from <IP> call <PHONE> end")), s"got $out")
    assert(out(2L) == ((0, 0, 0, "no pii here")), s"got $out")
    assert(out(3L) == ((1, 0, 0, "ping <EMAIL> now")), s"got $out")
  }

  test("c4LineFilter applies punctuation, min-words, and blocklist rules") {
    import spark.implicits._
    val md = Seq((1L, Seq(
      "a good long sentence here.",   // kept
      "too short.",                   // < 4 words
      "no terminal punctuation at all", // no [.!?]
      "contains the BLOCKED word javascript today.").mkString("\n")))
      .toDF("post_id", "body")
    val r = CurationOps.c4LineFilter(md, idCol = "post_id", textCol = "body")
      .collect().head
    assert((r.getInt(1), r.getInt(2), r.getString(4)) ==
      ((4, 1, "a good long sentence here.")), s"got $r")
  }

  test("paragraphDedup keeps the corpus-wide first occurrence only") {
    import spark.implicits._
    val md = Seq(
      (1L, "alpha beta\nshared para\ngamma"),
      (2L, "shared para\ndelta\nshared para")).toDF("post_id", "body")
    val out = CurationOps.paragraphDedup(md, idCol = "post_id", textCol = "body")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1 owns "shared para" (lowest doc_id); doc 2 loses both copies
    assert(out(1L) == ((3L, 3L, "alpha beta\nshared para\ngamma")), s"got $out")
    assert(out(2L) == ((3L, 1L, "delta")), s"got $out")
  }

  test("sampleFrames yields zero frames for an empty payload") {
    import spark.implicits._
    val assets = Seq(
      (1L, Array.emptyByteArray),
      (2L, Array.fill[Byte](65)(7))).toDS()
    val frames = MultimodalOps.sampleFrames(assets, stride = 64)
      .collect().map(f => (f.doc_id, f.frame_idx, f.frame_len))
    assert(frames.toSet == Set((2L, 0, 64), (2L, 1, 1)), s"got ${frames.toSet}")
  }

  test("nearDupClusters converges on a diameter-200 chain in O(log d) rounds") {
    import spark.implicits._
    // path graph 0-1-...-200: one component, diameter 200. Plain min-label
    // propagation would need ~201 rounds; the pointer jump shortcuts
    // label chains exponentially, so ~12 rounds must suffice.
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("d1", "d2")
    // localBudget = 0 forces the distributed fixpoint (the default takes
    // the bounded union-find tail on a 200-pair input)
    val labels = DedupOps.nearDupClusters(chain, maxIter = 14,
        localBudget = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 201 && labels.values.forall(_ == 0L), s"got $labels")
    // the local tail must produce the identical labeling
    val local = DedupOps.nearDupClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == labels)
    // truncation must fail loudly, not return split clusters
    val e = intercept[IllegalStateException] {
      DedupOps.nearDupClusters(chain, maxIter = 3, localBudget = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("mwDomainReweight: excess domains gain share, hedge exact, per-round clamp holds") {
    import spark.implicits._
    val rows = (Seq.fill(50)(("a", 1000L)) ++ Seq.fill(50)(("b", 3000L)) ++
      Seq.fill(50)(("c", 2000L))).toDF("src", "sig")
    val out = MixOps.mwDomainReweight(rows, "src",
        org.apache.spark.sql.functions.col("sig"),
        rounds = 3, etaBp = 2500)
      .collect().map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    // corpus mean 2000: c sits exactly on it (weight unchanged), b above
    // gains, a below loses; shares floor-sum to ≤ 10000 bp
    assert(out("c")._1 == 1000000L, s"zero-excess weight moved: $out")
    assert(out("b")._1 > out("c")._1 && out("c")._1 > out("a")._1, s"$out")
    val bpSum = out.values.map(_._2).sum
    assert(bpSum <= 10000 && bpSum >= 9997, s"shares don't sum to ~1: $out")
    // an extreme negative-excess domain clamps at x0.25 per round exactly
    val rows2 = (Seq.fill(99)(("hi", 1000000L)) ++ Seq(("lo", -100000000L)))
      .toDF("src", "sig")
    val w2 = MixOps.mwDomainReweight(rows2, "src",
        org.apache.spark.sql.functions.col("sig"),
        rounds = 2, etaBp = 10000)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(w2("lo") == 62500L, s"clamped hedge should be 1e6/16: $w2")
  }

  test("ccStars ≡ nearDupClusters: chain, star, multi-component, hash graph") {
    import spark.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def both(pairs: org.apache.spark.sql.DataFrame) =
      (labelsOf(DedupOps.ccStars(pairs)),
        labelsOf(DedupOps.nearDupClusters(pairs)))
    // diameter-120 chain: star rounds must converge in O(log n), and the
    // labels must match the pointer-jump implementation exactly
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("d1", "d2")
    val (sc, pc) = both(chain)
    assert(sc == pc && sc.values.forall(_ == 0L), s"chain: $sc")
    // hub star with reversed pair orientation + a disjoint component +
    // a singleton-pair component
    val star = ((1L to 40L).map(i => (100L + i, 100L)) ++
      Seq((500L, 600L), (600L, 550L), (7L, 8L))).toDF("d1", "d2")
    val (ss, ps) = both(star)
    assert(ss == ps, s"star: $ss vs $ps")
    assert(ss(140L) == 100L && ss(600L) == 500L && ss(8L) == 7L)
    // deterministic pseudo-random graph on 300 nodes (~450 edges)
    val rnd = (0L until 450L)
      .map(i => ((i * 131) % 300, (i * i * 7 + i) % 300))
      .filter(p => p._1 != p._2).toDF("d1", "d2")
    val (sr, pr) = both(rnd)
    assert(sr == pr, "random graph labels diverge between implementations")
  }

  test("annRecall is the fraction of exact pairs the approximation recovered") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "cand_id")
    // recovers 3 of 4 exact pairs; the extra (2,99) pair must not count
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 12L), (2L, 99L))
      .toDF("query_id", "cand_id")
    val r = SimilarityOps.annRecall(exact, approx).collect().head.getDouble(0)
    assert(r == 0.75, s"got $r")
    val perfect = SimilarityOps.annRecall(exact, exact).collect().head.getDouble(0)
    assert(perfect == 1.0, s"got $perfect")
  }

  test("trainCentroids moves seeds toward the data, empty cells keep theirs") {
    import spark.implicits._
    // two tight clusters in 4-d around e1 and e2
    val vecs = ((0 until 20).map(i => (i.toLong,
        Seq(1.0 + 0.01 * (i % 3), 0.02 * (i % 2), 0.0, 0.0).map(_.toFloat))) ++
      (20 until 40).map(i => (i.toLong,
        Seq(0.0, 0.02 * (i % 2), 1.0 + 0.01 * (i % 3), 0.0).map(_.toFloat))))
      .toDF("item", "emb")
    // seeds: near cluster 1, near cluster 2, and one orthogonal (never wins)
    val init = Seq(Seq(0.9, 0.0, 0.1, 0.0), Seq(0.1, 0.0, 0.9, 0.0),
      Seq(0.0, 0.0, 0.0, 1.0))
    val trained = SimilarityOps.trainCentroids(vecs, init, iters = 2,
      idCol = "item", vecCol = "emb")
    assert(trained.size == 3 && trained.forall(_.size == 4))
    // winning centroids moved to the cluster means (first coord ~1.01)
    assert(math.abs(trained(0)(0) - 1.01) < 0.01, s"got ${trained(0)}")
    assert(math.abs(trained(1)(2) - 1.01) < 0.01, s"got ${trained(1)}")
    // the empty cell kept its seed verbatim
    assert(trained(2) == init(2), s"got ${trained(2)}")
    // iters = 0 is the identity
    assert(SimilarityOps.trainCentroids(vecs, init, iters = 0,
      idCol = "item", vecCol = "emb") == init)
  }

  test("trainSample is the deterministic hash-sample rule; rate 1 is identity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val vecs = (0 until 40).map(i => (i.toLong,
        Seq(1.0 + 0.01 * (i % 3), 0.02 * (i % 2), 0.0, 0.0).map(_.toFloat)))
      .toDF("item", "emb")
    // rate den/den keeps everything → sampled training ≡ full training
    assert(SimilarityOps.trainSample(vecs, 3, 3, idCol = "item").count() == 40)
    val init = Seq(Seq(0.9, 0.0, 0.1, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val full = SimilarityOps.trainCentroids(vecs, init, iters = 2,
      idCol = "item", vecCol = "emb")
    val rateOne = SimilarityOps.trainCentroids(
      SimilarityOps.trainSample(vecs, 3, 3, idCol = "item"), init, iters = 2,
      idCol = "item", vecCol = "emb")
    assert(rateOne == full)
    // a proper sub-sample is the exact mod-rule subset (mirrorable in SQL),
    // and training on it is training on that explicit subset
    val smp = SimilarityOps.trainSample(vecs, 1, 2, idCol = "item")
    val ids = smp.select("item").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.size < 40, s"degenerate sample: ${ids.size}")
    val manual = vecs.filter(
      expr("cast(conv(substring(md5(cast(item as string)), 1, 15), 16, 10) " +
        "as bigint) % 2 < 1"))
    assert(manual.select("item").collect().map(_.getLong(0)).toSet == ids)
    val sampled = SimilarityOps.trainCentroids(smp, init, iters = 2,
      idCol = "item", vecCol = "emb")
    val explicit = SimilarityOps.trainCentroids(manual, init, iters = 2,
      idCol = "item", vecCol = "emb")
    assert(sampled == explicit)
  }

  test("tokenBudgetAllocate waterfills exactly: caps, redistribution, conservation") {
    import spark.implicits._
    val dom = Seq(("a", 10L, 1L), ("b", 100L, 1L), ("c", 1000L, 1L))
      .toDF("src", "toks", "wt")
    val out = MixOps.tokenBudgetAllocate(dom, 500L,
        domainCol = "src", availCol = "toks", wCol = "wt")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getBoolean(4))).toList
    // a and b cap at their supply; c absorbs exactly the remainder
    assert(out == List(("a", 10L, true), ("b", 100L, true), ("c", 390L, false)))
    // zero budget → zero allocation everywhere
    val z = MixOps.tokenBudgetAllocate(dom, 0L, "src", "toks", "wt")
      .collect().map(_.getLong(3)).sum
    assert(z == 0L)
    // running-AND prefix: a low-ratio heavy-weight domain saturating must
    // not let later domains claim more than the remainder
    val dom2 = Seq(("a", 1L, 100L), ("b", 100L, 1L)).toDF("src", "toks", "wt")
    val out2 = MixOps.tokenBudgetAllocate(dom2, 50L, "src", "toks", "wt")
      .collect().map(r => (r.getString(0), r.getLong(3))).toList
    assert(out2 == List(("a", 1L), ("b", 49L)))
  }

  test("embeddingDimProfile: exact per-dimension stats") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val rows = ProfileOps.embeddingDimProfile(vecs).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toList
    assert(rows == List((1L, 2.0, 1.0, 1.0, 3.0), (2L, 2.0, 2.0, 0.0, 4.0)))
  }

  test("vocabCoverage counts in-vocab tokens per doc in basis points") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "a a d")).toDF("post_id", "body")
    val vocab = Seq("a", "b").toDF("tok")
    val out = VocabOps.vocabCoverage(d, vocab,
        idCol = "post_id", textCol = "body", tokenCol = "tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(out == List((1L, 3L, 2L, 6666L), (2L, 3L, 2L, 6666L)))
  }

  test("clusterSizeProfile histograms cluster sizes") {
    import spark.implicits._
    val cl = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L))
      .toDF("doc_id", "cluster_id")
    val out = DedupOps.clusterSizeProfile(cl)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(out == List((2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("lineDedup keeps the first occurrence of each line") {
    import spark.implicits._
    val md = Seq(
      (1L, "alpha\nbeta\nalpha\ngamma\nbeta"),
      (3L, "solo")).toDF("post_id", "body")
    val out = TextOps.lineDedup(md, idCol = "post_id", textCol = "body")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(4))))
      .toMap
    assert(out(1L) == ((5, 2, "alpha\nbeta\ngamma")), s"got $out")
    assert(out(3L) == ((1, 0, "solo")), s"got $out")
    // separator that is a regex metachar — must be quoted internally
    val piped = Seq((2L, "one|two|one")).toDF("post_id", "body")
    val out2 = TextOps.lineDedup(piped, idCol = "post_id", textCol = "body",
        lineSep = "|")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(4))).head
    assert(out2 == ((3, 1, "one|two")), s"got $out2")
  }

  test("repetitionStats collapses consecutive repeats and counts dup 3-grams") {
    import spark.implicits._
    // doc 1 tokens: a a b a b a b → 3-grams (a a b)(a b a)(b a b)(a b a)(b a b)
    // = 5 with 2 duplicate occurrences; one consecutive repeat collapsed.
    val md = Seq((1L, "a a b a b a b"), (2L, "x y z")).toDF("post_id", "body")
    val out = TextOps.repetitionStats(md, idCol = "post_id", textCol = "body")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(5), r.getString(6))))
      .toMap
    assert(out(1L) == ((7, 5, 2, 1, "a b a b a b")), s"got $out")
    assert(out(2L) == ((3, 1, 0, 0, "x y z")), s"got $out")
  }

  test("contaminationCheck flags exact and window-overlap docs") {
    import spark.implicits._
    val train = Seq(
      (1L, "w1 w2 w3 w4 w5"),            // exact copy of the benchmark doc
      (2L, "zz w1 w2 w3 yy aa"),         // shares one 3-token window
      (3L, "totally different words here")).toDF("post_id", "body")
    val bench = Seq("w1 w2 w3 w4 w5").toDF("btxt")
    val out = TextOps.contaminationCheck(train, bench, idCol = "post_id",
        textCol = "body", benchTextCol = "btxt", window = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) == ((true, true, true)), s"got $out")
    assert(out(2L) == ((false, true, true)), s"got $out")
    assert(out(3L) == ((false, false, false)), s"got $out")
  }

  test("normalizeText applies NFC + lowercase + whitespace collapse") {
    import spark.implicits._
    val md = Seq(
      (1L, "  Hello\t\tWORLD  "),
      (2L, "Cafe\u0301"),       // combining acute -> precomposed e\u0301... NFC
      (3L, "already clean")).toDF("post_id", "body")
    val out = MixOps.normalizeText(md, idCol = "post_id", textCol = "body")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(3)))).toMap
    assert(out(1L) == (("hello world", true)), s"got $out")
    assert(out(2L) == (("caf\u00e9", true)), s"got $out")
    assert(out(3L) == (("already clean", false)), s"got $out")
  }

  test("packSequences: partitioned packing covers every doc, offsets stay in budget") {
    import spark.implicits._
    val md = (1L to 100L).map(i => (i, ("w " * (i.toInt % 13 + 1)).trim))
      .toDF("post_id", "body")
    val out = MixOps.packSequences(md, idCol = "post_id", textCol = "body",
      budget = 16, buckets = 4).collect()
    assert(out.length == 100)
    assert(out.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 4))                 // bucket
    assert(out.forall(r => r.getLong(4) >= 0 && r.getLong(4) < 16))              // seq_offset
    // within a (bucket, seq_id), summed tokens of docs STARTING there stay
    // under budget + the straddling doc's length; seq ids are dense from 0
    val perBucket = out.groupBy(_.getInt(2))
    perBucket.foreach { case (_, rows) =>
      val seqs = rows.map(_.getLong(3)).distinct.sorted
      assert(seqs.head == 0L)
    }
    // deterministic across runs
    val again = MixOps.packSequences(md, idCol = "post_id", textCol = "body",
      budget = 16, buckets = 4).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("domainMix keeps all of the rarest domain and downsamples the rest") {
    import spark.implicits._
    val md = ((1 to 80).map(i => (s"en doc $i ${"filler " * (i % 5)}", "en")) ++
      (1 to 5).map(i => (s"rare doc $i", "rare"))).toDF("body", "src")
    val out = MixOps.domainMix(md, domainCol = "src", textCol = "body")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("rare") == ((5L, 5L)), s"rarest domain must keep everything: $out")
    assert(out("en")._1 == 80L && out("en")._2 < 80L,
      s"dominant domain must be downsampled: $out")
    assert(intercept[IllegalArgumentException](
      MixOps.domainMix(md, domainCol = "src", textCol = "body",
        temperature = 0.5)).getMessage.contains("temperature"))
    // per-doc contract: original columns + (domain, doc_hash_ratio, keep),
    // and nothing else — internal keep_rate must not leak
    val keepCols = MixOps.domainMixKeep(md, domainCol = "src",
      textCol = "body").columns.toSeq
    assert(keepCols.sorted ==
      Seq("body", "doc_hash_ratio", "domain", "keep", "src"), s"got $keepCols")
  }

  test("sqTopK agrees with exact cosine on well-separated vectors") {
    import spark.implicits._
    // 3 orthogonal-ish clusters; quantization cannot reorder a clear margin.
    val base = Seq(
      Seq.tabulate(8)(i => if (i < 3) 1.0f else 0.0f),
      Seq.tabulate(8)(i => if (i >= 3 && i < 6) 1.0f else 0.0f),
      Seq.tabulate(8)(i => if (i >= 6) 1.0f else 0.0f))
    val vecs = (0 until 9).map(i =>
      (i.toLong, base(i % 3).zipWithIndex.map { case (x, j) =>
        x + 0.01f * ((i * 7 + j) % 5)}))
    val df = vecs.toDF("vid", "emb")
    val out = SimilarityOps.sqTopK(df, df.filter($"vid" < 3), k = 2,
      idCol = "vid", vecCol = "emb").collect()
    assert(out.length == 6)
    // each query's top-2 come from its own cluster
    out.foreach { r =>
      assert(r.getLong(2) % 3 == r.getLong(0) % 3,
        s"query ${r.getLong(0)} matched cross-cluster cand ${r.getLong(2)}")
    }
    // scores are exact ints bounded by 127*127*dim
    assert(out.forall(r => math.abs(r.getLong(3)) <= 127L * 127 * 8))
  }

  test("chunkTokens covers every token with the configured overlap") {
    import spark.implicits._
    val md = Seq(
      (1L, (1 to 150).map(i => s"t$i").mkString(" ")),   // 150 toks → 3 chunks
      (2L, "a b c"),                                     // short → 1 chunk
      (3L, "")).toDF("post_id", "body")                  // empty → no chunks
    val out = MixOps.chunkTokens(md, idCol = "post_id", textCol = "body",
      size = 64, stride = 48).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(!byDoc.contains(3L))
    assert(byDoc(2L).map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSeq ==
      Seq((0, 3, "a b c")))
    val c1 = byDoc(1L).sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getInt(2)))
    // chunks start at 0, 48, 96: sizes 64, 64, 54 — all 150 tokens covered
    assert(c1.toSeq == Seq((0, 64), (1, 64), (2, 54)), s"got ${c1.toSeq}")
    val texts = byDoc(1L).sortBy(_.getInt(1)).map(_.getString(3))
    assert(texts(0).endsWith("t64") && texts(1).startsWith("t49") &&
      texts(2).endsWith("t150"))
  }

  test("salted agg and join are result-identical to the unsalted plans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // hot key: 900 of 1000 rows share key 1
    val fact = (1 to 1000).map(i =>
      (if (i <= 900) 1L else i.toLong, i.toLong)).toDF("k", "v")
    val dim = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("k", "nm")
    val direct = fact.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedAgg(fact, Seq("k"), col("v"), salts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
    val dj = fact.join(dim, "k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val sj = SkewOps.saltedJoin(fact, dim, "k", salts = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(sj == dj, s"salted join changed the result: ${sj.size} vs ${dj.size}")
    // schema identity too: the two-level decimal sum must be cast back to
    // the single-level sum's type (DECIMAL(p+10,s), not p+20)
    val dec = fact.withColumn("d", col("v").cast("decimal(10,2)"))
    val directType = dec.groupBy("k").agg(sum(col("d")).as("s"))
      .schema("s").dataType
    val saltedType = SkewOps.saltedAgg(dec, Seq("k"), col("d"), salts = 8)
      .schema("salted_sum").dataType
    assert(saltedType == directType, s"$saltedType != $directType")
  }

  test("vocabulary and tfidfKeywords rank by count and tf/df") {
    import spark.implicits._
    val md = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "apple banana banana date"),
      (3L, "apple egg egg egg fig")).toDF("post_id", "body")
    val vocab = VocabOps.vocabulary(md, idCol = "post_id", textCol = "body", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(vocab.toSeq == Seq(("apple", 4L, 3L), ("banana", 3L, 2L), ("egg", 3L, 1L)),
      s"got ${vocab.toSeq}")
    val kw = VocabOps.tfidfKeywords(md, idCol = "post_id", textCol = "body", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // doc 1: cherry tf=1 df=1 (score 1.0) beats apple 2/3; doc 3: egg 3/1
    assert(kw == Map(1L -> "cherry", 2L -> "banana", 3L -> "egg"), s"got $kw")
  }

  test("bm25Rank ranks rare-term docs above common-term docs on custom columns") {
    import spark.implicits._
    val md = Seq(
      (1L, "apple banana apple banana cherry date egg fig"),
      (2L, "apple banana grape melon"),
      (3L, "zebra apple banana banana banana melon grape kiwi"),
      (4L, "pear plum quince melon")).toDF("post_id", "body")
    // "zebra" df=1 (rare), "apple" df=3: doc 3 holds the rare term and must
    // outrank docs with only the common one
    val out = VocabOps.bm25Rank(md, Seq("apple", "zebra"),
      idCol = "post_id", textCol = "body", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.head._1 == 3L, s"rare-term doc should rank first: ${out.toSeq}")
    // doc 1 (tf=2) outscores doc 2 (tf=1, shorter): tf dominates at these dls
    assert(out.map(_._1).toSeq == Seq(3L, 1L, 2L), s"got ${out.toSeq}")
    // n_terms counts matched distinct terms
    assert(out.head._2 == 2L)
    // doc 4 matches nothing → absent
    assert(!out.map(_._1).contains(4L))
  }

  test("duplicateSpans finds cross-doc spans on custom columns; stride bounds recall") {
    import spark.implicits._
    val md = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q"),      // shares the 5-token span "a b c d e"
      (3L, "p q r s t u v w")).toDF("post_id", "body")
    val out = DedupOps.duplicateSpans(md, idCol = "post_id", textCol = "body",
      w = 5, stride = 1).collect()
    // exactly the one span shared by docs 1 and 2
    assert(out.length == 1, s"got ${out.toSeq}")
    assert(out.head.getLong(1) == 2L && out.head.getLong(2) == 2L)
    // same corpus, stride 5: doc 2's copy starts at offset 2 — misses
    val strided = DedupOps.duplicateSpans(md, idCol = "post_id",
      textCol = "body", w = 5, stride = 5).collect()
    assert(strided.isEmpty)
  }

  test("duplicateSpans: planted near-verbatim recall — exact at stride 1, 1/stride when misaligned") {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    // 40 doc pairs, each sharing one verbatim 12-token passage embedded
    // in globally-unique filler (edits everywhere EXCEPT the passage —
    // the Lee et al. 2021 near-verbatim shape). Pair i's copies start at
    // offsets 8 and 8 + (i mod 4), so exactly the i ≡ 0 (mod 4) pairs
    // are offset-ALIGNED mod 4.
    def alpha(n: Int): String = {
      val s = new StringBuilder; var v = n
      while ({ s.append(('a' + v % 26).toChar); v /= 26; v > 0 }) ()
      s.toString
    }
    var fc = 0
    def filler(k: Int): Seq[String] = Seq.fill(k) { fc += 1; "f" + alpha(fc) }
    val L = 12; val W = 8
    val docs = (0 until 40).flatMap { i =>
      val passage = (0 until L).map(j => "p" + alpha(i) + "q" + alpha(j))
      Seq((2L * i, (filler(8) ++ passage ++ filler(6)).mkString(" ")),
        (2L * i + 1, (filler(8 + i % 4) ++ passage ++ filler(5)).mkString(" ")))
    }.toDF("doc_id", "text")
    def detectedPairs(stride: Int): Long = {
      val dup = DedupOps.duplicateSpans(docs, w = W, stride = stride)
        .select(col("span_hash").as("h"))
      docs.select(col("doc_id"),
          graft.functions.GraftFunctions
            .graft_span_hashes(col("text"), W, stride).as(Seq("pos", "h")))
        .join(dup, "h")
        .select(expr("doc_id div 2")).distinct().count()
    }
    // stride 1: spans are emitted at EVERY offset, so any shared run of
    // >= w tokens is caught regardless of where it sits — recall 1.0 vs
    // exact substring dedup on aligned duplicates (what stride 1 cannot
    // see is only sub-w runs, by the w-window definition)
    assert(detectedPairs(1) == 40L, "stride 1 must catch every planted pair")
    // stride 4: a shared passage is caught iff its two copies' offsets
    // agree mod stride AND the passage spans >= stride emitted slots
    // (L - w + 1 = 5 >= 4 here) — exactly the 10 aligned pairs, the
    // 1/stride recall law for uniformly-misaligned duplicates
    assert(detectedPairs(4) == 10L,
      "stride 4 must catch exactly the offset-aligned quarter")
  }

  test("labelCentroids computes exact per-label dimension means") {
    import spark.implicits._
    val vecs = Seq(
      ("a", Array(1.0f, 0.0f)), ("a", Array(3.0f, 2.0f)),
      ("b", Array(0.5f, 0.5f)))
      .toDF("grp", "emb")
    val out = SimilarityOps.labelCentroids(vecs, labelCol = "grp", vecCol = "emb")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(out(("a", 0)) == ((2.0, 2L)) && out(("a", 1)) == ((1.0, 2L)), s"got $out")
    assert(out(("b", 0)) == ((0.5, 1L)) && out(("b", 1)) == ((0.5, 1L)), s"got $out")
  }

  test("pageRank ranks the hub of a symmetrized star highest, mass conserved") {
    import spark.implicits._
    // star: hub 0 <-> spokes 1..5, symmetrized; hub receives from all 5
    // spokes each round while each spoke only receives 1/5 of the hub
    val e = (1L to 5L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("a", "b")
    val out = GraphOps.pageRank(e, iters = 3, srcCol = "a", dstCol = "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 6)
    val hub = out(0L)
    assert((1L to 5L).forall(i => out(i) < hub), s"hub must dominate: $out")
    assert((1L to 5L).map(out).distinct.size == 1, s"spokes symmetric: $out")
    // fixed-point mass stays near 1.0 (integer floors only lose ulps)
    val total = out.values.sum
    assert(total > 990000000000L && total <= 1000000000000L, s"mass: $total")
  }

  test("pageRank matches the hand-computed exact fixed point (r15 node-first contribution join)") {
    import spark.implicits._
    // asymmetric out-degrees exercise the per-NODE r div d path: d(1)=2,
    // d(2)=d(3)=1. Hand-computed over 2 rounds at scale 10^12:
    //   r0 = 333333333333, base = 49999999999
    //   r1 = (616666666665, 191666666665, 191666666665)
    //   r2 = (375833333329, 312083333331, 312083333331)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val out = GraphOps.pageRank(e, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 375833333329L, 2L -> 312083333331L,
      3L -> 312083333331L), s"exact fixed point diverged: $out")
  }

  test("pageRank keeps zero-in-degree nodes and their outgoing mass") {
    import spark.implicits._
    // node 3 satisfies the out-degree contract but nothing links TO it:
    // it must keep the base (teleport) rank and keep feeding node 1
    val e = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val out = GraphOps.pageRank(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"node with in-degree 0 dropped: $out")
    val base = (15L * (1000000000000L / 3)) / 100L
    assert(out(3L) == base, s"in-degree-0 node must hold base mass: $out")
    assert(out(1L) > out(2L) && out(2L) > out(3L),
      s"1 (fed by 2 and 3) > 2 (fed by 1) > 3 (teleport only): $out")
  }

  test("labelPropagation breaks frequency ties by smallest label") {
    import spark.implicits._
    // symmetrized star: round 1, hub 0 sees labels {1,2,3,4} all once ->
    // tie -> smallest (1); each spoke's only neighbor is 0 -> label 0
    val e = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val out = GraphOps.labelPropagation(e, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 1L, s"tie must go to smallest label: $out")
    assert((1L to 4L).forall(out(_) == 0L), s"spokes adopt hub: $out")
  }

  test("labelPropagation majority label beats a smaller minority label") {
    import spark.implicits._
    // round 1: 10,11 (neighbors {3, 100}) -> 3; 12 (neighbors {1, 100}) -> 1
    // round 2: 100 sees {3:2, 1:1} -> majority 3 must beat smaller label 1
    val base = Seq((100L, 10L), (100L, 11L), (100L, 12L),
      (10L, 3L), (11L, 3L), (12L, 1L))
    val e = base.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val out = GraphOps.labelPropagation(e, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(100L) == 3L, s"majority (3 x2) must beat minority (1 x1): $out")
  }

  test("mmrRerank displaces a near-duplicate of the top hit; lambda=1 is pure top-k") {
    import spark.implicits._
    // 1 and 2 are near-identical high-relevance vectors; 3 is moderately
    // relevant but diverse. Pure top-2 = (1, 2); MMR's redundancy penalty
    // must displace 2 with 3 at the second step.
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(10.0, 0.1)),
      (2L, Seq(10.0, 0.100001)),
      (3L, Seq(0.7, -0.7))
    ).toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" === 0)
    val mmr = SimilarityOps.mmrRerank(vecs, qs, k = 2, poolK = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(mmr == Seq((1, 1L), (2, 3L)), s"diversity pick expected: $mmr")
    val pure = SimilarityOps.mmrRerank(vecs, qs, k = 2, poolK = 3, lambda = 1.0)
      .collect().map(r => r.getLong(2)).toSeq
    val top = SimilarityOps.cosineTopK(vecs, qs, 2)
      .collect().map(r => r.getLong(2)).toSeq
    assert(pure == top, s"lambda=1 must equal relevance order: $pure vs $top")
  }

  test("applyChangelog: incremental merge == from-scratch state; deletes tombstone; ties by tie-col") {
    import spark.implicits._
    val log = Seq(
      (1L, "a", 1L, 1L, "upsert"),
      (1L, "b", 2L, 2L, "upsert"),
      (2L, "x", 1L, 3L, "upsert"),
      (2L, "y", 3L, 4L, "delete"),  // key 2 tombstoned after the cutoff
      (3L, "q", 3L, 5L, "upsert"),  // key born after the cutoff
      (1L, "c", 4L, 6L, "upsert"),
      (4L, "t1", 5L, 7L, "upsert"), // same-ts pair: higher tie wins
      (4L, "t2", 5L, 8L, "upsert")
    ).toDF("k", "v", "t", "seq", "op")
    val full = CdcOps.changelogState(log, "k", "t", "seq").orderBy("k")
    val base = CdcOps.changelogState(log.filter($"t" <= 2), "k", "t", "seq")
    val inc = CdcOps.applyChangelog(base, log.filter($"t" > 2), "k", "t", "seq")
      .orderBy("k")
    assert(inc.collect().toSeq == full.collect().toSeq,
      "incremental apply must equal the from-scratch state")
    val m = full.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "c", 3L -> "q", 4L -> "t2"), s"got $m")
  }

  test("compactionPlan packs next-fit by size desc; invariant to partition count") {
    import spark.implicits._
    val files = Seq((1L, 70L), (2L, 50L), (3L, 40L), (4L, 30L), (5L, 10L))
      .toDF("fid", "sz")
    def plan(parts: Int) =
      LayoutOps.compactionPlan(files, "fid", "sz", targetBytes = 100L,
        parts = parts).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
    assert(plan(1) == expected, s"got ${plan(1)}")
    // distributed prefix sum must not depend on where range boundaries fall
    assert(plan(3) == expected)
    assert(plan(5) == expected)
  }

  test("kCore peels below-threshold nodes; cascade removals propagate") {
    import spark.implicits._
    // path 1-2-3-4 hanging off a triangle 4-5-6: k=2 keeps only the
    // triangle, and the peel must CASCADE (3 only drops under k after 2
    // does, then 4's degree falls to 2 and stays)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
    val edges = (und ++ und.map(e => (e._2, e._1))).toDF("a", "b")
    val out = GraphOps.kCore(edges, rounds = 3, k = Some(2L),
      srcCol = "a", dstCol = "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(4L -> 2L, 5L -> 2L, 6L -> 2L), s"got $out")
  }

  test("fuzzyNameMatch blocks on shared tokens and verifies edit distance") {
    import spark.implicits._
    val df = Seq("cold anvil", "cold anvil", "old anvil", "red bolt",
      "zinc plate").toDF("label")
    val out = MatchOps.fuzzyNameMatch(df, nameCol = "label", maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("cold anvil", "old anvil", 1, 2L, 1L)), s"got ${out.toSeq}")
    // skew cap: with maxTokenDf = 1 the shared token "anvil" (df 2) is
    // dropped as a blocking key, so no candidate pair survives
    val capped = MatchOps.fuzzyNameMatch(df, nameCol = "label",
      maxDist = 3, maxTokenDf = 1)
    assert(capped.count() == 0)
  }

  test("clusterCanonical keeps singletons and the best-scoring member per cluster") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L)).toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 10L), (2L, 20L), (3L, 1L), (4L, 7L), (5L, 7L)).toDF("doc_id", "score")
    val out = DedupOps.clusterCanonical(ids, clusters, scores).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // cluster 1: higher score (doc 2) wins; cluster 4: score tie -> smallest
    // id (doc 4); doc 3 is unclustered and survives
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true, 5L -> false),
      s"got $out")
  }

  test("bloomNewDocs equals the exact anti-join even at absurd fpp") {
    // fpp = 0.5 floods the probe with false positives; the exact verify
    // join must resolve every one — the sketch only prunes, never decides
    val existing = docs.filter("post_id != 11 AND post_id != 13")
    val incoming = docs.filter("post_id = 11 OR post_id = 13")
    val out = DedupOps.bloomNewDocs(existing, incoming, fpp = 0.5,
        idCol = "post_id", textCol = "body")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // 11 duplicates 10 (exists in corpus) -> not new; 13 is unique -> new
    assert(out == Map(11L -> false, 13L -> true), s"got $out")
  }

  test("semDedup keeps each cell's minimum id and flags its near-dups") {
    import spark.implicits._
    // two tight clusters on orthogonal axes + one isolated vector
    def v(axis: Int, eps: Double): Seq[Double] =
      (0 until 64).map(i => if (i == axis) 1.0 else if (i == axis + 1) eps else 0.0)
    val emb = Seq(
      (1L, v(0, 0.0)), (2L, v(0, 0.01)),   // cosine ~1 -> 2 dropped
      (3L, v(10, 0.0)), (4L, v(10, 0.02)), // cosine ~1 -> 4 dropped
      (5L, v(30, 0.0))                      // alone in its cell
    ).toDF("vid", "vec")
    // quantizer sized by the C ~ sqrt(n) rule the API now requires
    val out = SimilarityOps.semDedup(emb, theta = 0.9,
        cents = SimilarityOps.seedCentroids(SimilarityOps.semDedupCellCount(5)),
        idCol = "vid", vecCol = "vec")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true),
      s"got $out")
  }

  test("withArgmaxCell: broadcast-join path ≡ matrix-literal path, ties to lowest cell") {
    import spark.implicits._
    // deterministic pseudo-random vectors, plus a vector EQUIDISTANT from
    // centroids 1 and 2 (exact dot tie) to pin the tie rule on both paths
    def hv(i: Int): Seq[Double] =
      (0 until 8).map(d => ((i * 31 + d * 17) % 13 - 6).toDouble / 6.0)
    val cents = (0 until 5).map(c => hv(c * 97 + 1))
    val emb = ((1 to 40).map(i => (i.toLong, hv(i))) :+
      (99L, Seq.fill(8)(0.0))).toDF("vec_id", "embedding")
    val prepped = emb.selectExpr("vec_id",
      "cast(embedding as array<double>) as v")
    val lits = SimilarityOps.withArgmaxCell(prepped, cents)
      .selectExpr("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val joined = SimilarityOps.withArgmaxCell(prepped, cents, literalMax = 0)
      .selectExpr("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lits == joined, s"literal=$lits join=$joined")
    // the all-zero vector dots 0.0 against EVERY centroid: both paths
    // must resolve the 5-way tie to cell 1
    assert(lits(99L) == 1L, lits.toString)
  }

  test("withArgmaxCell: C = 10⁴ plans a broadcast codebook, not a literal bomb") {
    import spark.implicits._
    val bigC = (0 until 10000).map(c =>
      (0 until 4).map(d => ((c * 31 + d * 7) % 17 - 8).toDouble))
    val prepped = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v")
    val plan = SimilarityOps.withArgmaxCell(prepped, bigC)
      .queryExecution.executedPlan.toString
    // 10⁴×4 doubles inlined as a literal would be ≥ ~200 KB of plan text;
    // the broadcast-join path keeps the plan codebook-free and compact
    assert(plan.length < 100000, s"plan text ${plan.length} chars")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("semDedupCellCount sizing keeps intra-cell pair fan-out sub-quadratic") {
    import spark.implicits._
    // pseudo-random corpus (hash-derived, deterministic), n large enough
    // that quadratic vs sqrt(n)-sized behavior separates clearly
    val n = 600
    val emb = (0 until n).map { i =>
      (i.toLong, (0 until 64).map(d => ((i * 2654435761L + d * 40503L) % 2001 - 1000) / 1000.0))
    }.toDF("vec_id", "embedding")
    val c = SimilarityOps.semDedupCellCount(n)
    assert(c >= math.floor(math.sqrt(n.toDouble)).toInt, s"C = $c undersized")
    val cents = SimilarityOps.trainCentroids(emb, SimilarityOps.seedCentroids(c))
    // theta > 1 drops nothing; we only need the cell assignment histogram
    val occ = SimilarityOps.semDedup(emb, theta = 1.5, cents)
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(occ.sum == n)
    val pairs = occ.map(o => o * (o - 1) / 2).sum
    val quadratic = n.toLong * (n - 1) / 2
    val bound = 4L * n * c // ~8x the ideal n^1.5/2, far under quadratic
    assert(pairs <= bound && bound < quadratic,
      s"intra-cell fan-out $pairs exceeds sub-quadratic bound $bound (all-pairs = $quadratic)")
  }

  test("triangleCount: exact triangles + clustering coefficient, any edge orientation") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + pendant 5, with messy input:
    // duplicate edges, reversed orientation, and a self-loop to ignore
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (4L, 2L), (3L, 4L), (4L, 5L), (5L, 5L)).toDF("u", "v")
    val out = GraphOps.triangleCount(edges, srcCol = "u", dstCol = "v")
      .collect().head
    // degrees: 1,2,3 -> 3; 4 -> 4; 5 -> 1  => wedges = 3*3 + 6 + 0 = 15
    assert(out.getLong(0) == 15, s"wedges: $out")
    assert(out.getLong(1) == 4, s"triangles: $out")
    assert(math.abs(out.getDouble(2) - 12.0 / 15.0) < 1e-15, s"gcc: $out")
    // triangle-free bipartite graph -> zero
    val bip = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L)).toDF("u", "v")
    val z = GraphOps.triangleCount(bip, srcCol = "u", dstCol = "v").collect().head
    assert(z.getLong(1) == 0 && z.getDouble(2) == 0.0, s"bipartite: $z")
  }

  test("urlDedup normalization: scheme/case/www/query/fragment/slash noise collapses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://www.Example.com/a/b?utm=1"),
      (2L, "HTTP://EXAMPLE.COM/a/b#frag"),
      (3L, "example.com/a/b/"),            // scheme-less input
      (4L, "https://cdn.example.com/a/b"), // same registered domain, different host
      (5L, "https://example.org/a/b"))     // different domain
      .toDF("id", "link")
    val out = DedupOps.urlDedup(docs, idCol = "id", urlCol = "link")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getBoolean(3), r.getBoolean(4))).toMap
    // 1,2,3 normalize identically; only the first survives the URL level
    assert(out(1L)._1 == "example.com/a/b" && out(1L)._3, s"got $out")
    assert(!out(2L)._3 && !out(3L)._3, s"got $out")
    // 4 is a distinct URL but shares the registered domain with 1..3
    assert(out(4L)._1 == "cdn.example.com/a/b" && out(4L)._2 == "example.com", s"got $out")
    assert(out(4L)._3 && !out(4L)._4, s"got $out")
    assert(out(5L)._2 == "example.org" && out(5L)._3 && out(5L)._4, s"got $out")
  }

  test("webPipeline funnels url-dup -> quality -> content-dup with reasons") {
    import spark.implicits._
    val good = "the of " + Seq.fill(12)("data table query value stream").mkString(" ")
    val rows = Seq(
      (1L, "https://site.com/a", good),                 // survives everything
      (2L, "HTTP://WWW.Site.com/a?utm=x", good + " x"), // same normalized URL as 1
      (3L, "https://site.com/b", "tiny doc"),           // fails Gopher word count
      (4L, "https://site.com/c", good))                 // exact content dup of 1
      .toDF("id", "link", "body")
    val out = CurationOps.webPipeline(rows, idCol = "id", urlCol = "link",
        textCol = "body")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.getString(2)))).toMap
    assert(out == Map(
      1L -> (true, None),
      2L -> (false, Some("url_dup")),
      3L -> (false, Some("quality")),
      4L -> (false, Some("content_dup"))), s"got $out")
  }

  test("bpeTrain learns the textbook merges; bpeTokenize replays them") {
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest")).toDF("post_id", "body")
    val ms = VocabOps.bpeTrain(docs, rounds = 4, idCol = "post_id", textCol = "body")
    // hand-computed: (l,o)x3 ties (o,w)x3 -> lex tie-break picks (l,o);
    // then (lo,w)x3; then (low,e)x2; then 1-count ties -> (lowe,r)
    assert(ms.map(m => (m.round, m.lhs, m.rhs, m.pairCount)) == Seq(
      (1, "l", "o", 3L), (2, "lo", "w", 3L), (3, "low", "e", 2L),
      (4, "lowe", "r", 1L)), s"got $ms")
    // after 4 merges: low -> [low], lower -> [lower], lowest -> [lowe,s,t]
    val tok = VocabOps.bpeTokenize(docs, ms, idCol = "post_id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tok.toSeq == Seq((1L, 3L, 5L)), s"got ${tok.toSeq}")
    // training stops early once every word is a single symbol
    val tiny = Seq((1L, "ab ab")).toDF("post_id", "body")
    val m2 = VocabOps.bpeTrain(tiny, rounds = 5, idCol = "post_id", textCol = "body")
    assert(m2.map(m => (m.lhs, m.rhs)) == Seq(("a", "b")), s"got $m2")
  }

  test("dsirWeights scores target-like docs above off-target docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta", "t"),
      (2L, "alpha beta gamma epsilon", "t"),
      (3L, "zeta eta theta iota kappa", "r"),
      (4L, "lambda mu nu xi omicron", "r"),
      (5L, "alpha beta gamma delta epsilon", "r")) // r-side doc made of t-features
      .toDF("id", "body", "side")
    val out = MixOps.dsirWeights(corpus, corpus.filter("side = 't'"),
        buckets = 32, idCol = "id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = out.map(t => t._1 -> t._3).toMap
    // every doc got features; target-like docs outscore off-target ones
    assert(out.forall(_._2 > 0), s"feature counts: $out")
    assert(byId(5L) > byId(3L) && byId(5L) > byId(4L),
      s"target-like doc must outscore off-target docs: $byId")
    assert(byId(1L) > byId(3L), s"target doc must outscore off-target: $byId")
  }

  test("pqTopK scores by codebook lookup on custom columns; ADC is exact") {
    import spark.implicits._
    // 8-dim vectors, 2 subspaces of 4 dims, 2 codewords per subspace:
    // codewords are +/- axis indicators so the ADC score is hand-checkable
    val books: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 0, 0, 0), Seq(-1.0, 0, 0, 0)),
      Seq(Seq(0, 0, 1.0, 0), Seq(0, 0, -1.0, 0)))
    val vecs = Seq(
      (100L, Seq(2.0, 0, 0, 0, 0, 0, 3.0, 0)),   // codes (1, 1)
      (101L, Seq(-2.0, 0, 0, 0, 0, 0, 3.0, 0)),  // codes (2, 1)
      (102L, Seq(-2.0, 0, 0, 0, 0, 0, -3.0, 0))) // codes (2, 2)
      .toDF("vid", "vec")
    val out = SimilarityOps.pqTopK(vecs, vecs.filter("vid = 100"), k = 2,
        books = books, idCol = "vid", vecCol = "vec")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // query 100 subvectors: (2,0,0,0) and (0,0,3,0) -> LUTs: m1 = [2, -2],
    // m2 = [3, -3]. adc(101) = lut1[2] + lut2[1] = -2 + 3 = 1;
    // adc(102) = lut1[2] + lut2[2] = -2 - 3 = -5.
    assert(out.toSeq == Seq((100L, 1, 101L, 1.0), (100L, 2, 102L, -5.0)),
      s"got ${out.toSeq}")
  }

  test("scd2 collapses duplicate versions and stamps validity on custom columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val log = Seq(
      (7L, "bronze", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      (7L, "bronze", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2L), // collapse
      (7L, "gold", java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 3L),
      (9L, "silver", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 4L))
      .toDF("acct", "tier", "seen", "seq")
    val out = CdcOps.scd2(log, "acct", "tier", "seen", "seq")
      .orderBy(col("acct"), col("valid_from"))
      .select(col("acct"), col("tier"), col("is_current")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((7L, "bronze", false), (7L, "gold", true),
      (9L, "silver", true)), s"got ${out.toSeq}")
  }

  test("zorder emits bounded Morton codes on custom columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((0L, 0L), (255L, 255L), (0L, 255L), (128L, 7L))
      .toDF("x", "y")
    val out = LayoutOps.zorder(df, "x", "y", bits = 8)
      .select(col("x"), col("y"), col("zval")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // min maps to code 0, max to 255 on both axes; z in [0, 65536)
    assert(out((0L, 0L)) == 0L)
    assert(out((255L, 255L)) == 65535L)
    assert(out.values.forall(z => z >= 0 && z < 65536))
    // interleave property: (0, 255) has all odd bits set = 0b10...10
    assert(out((0L, 255L)) == (0 until 8).map(i => 1L << (2 * i + 1)).sum)
  }

  test("validate counts NULL predicate results as failures; uniqueness on keys") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (1L, "c"))
      .toDF("k", "s")
    val checks = ProfileOps.validate(df,
        Seq(ProfileOps.Expectation("k_positive", org.apache.spark.sql.functions.col("k") > 0)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(checks == Set(("k_positive", 3L, 1L)), s"got $checks") // null k fails
    val uniq = ProfileOps.uniqueExpectation(df, "k_unique", Seq("k")).head()
    // 3 rows, 1 distinct non-null key -> 2 failures by the documented rule
    assert(uniq.getLong(1) == 3L && uniq.getLong(2) == 2L && !uniq.getBoolean(3))
  }

  test("reachability labels min hops; unreachable nodes absent") {
    import spark.implicits._
    // 1→2→3→4 chain plus shortcut 1→3; 9→10 disconnected from the seed
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
      .toDF("from", "to")
    val seeds = Seq(1L).toDF("start")
    val out = GraphOps.reachability(edges, seeds, maxHops = 2,
        srcCol = "from", dstCol = "to", seedCol = "start")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 is reached at hop 1 via the shortcut, NOT hop 2; 4 at hop 2 via it
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L), s"got $out")
  }

  test("incrementalAgg merge equals recompute; zero-count keys drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq((1L, 2L, BigDecimal("10.00")), (2L, 1L, BigDecimal("5.00")))
      .toDF("k", "n_rows", "total")
    val changes = Seq(
      (1L, BigDecimal("3.00"), "insert"),
      (2L, BigDecimal("5.00"), "delete"),          // retracts key 2 entirely
      (3L, BigDecimal("7.00"), "insert"))
      .toDF("k", "value", "op")
    val out = CdcOps.incrementalAgg(base, changes, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).doubleValue)).toSet
    assert(out == Set((1L, 3L, 13.0), (3L, 1L, 7.0)), s"got $out")
  }

  test("phraseSearch counts consecutive occurrences incl. repeated words") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b a"),      // "a b a" at anchors 0 and 2
      (2L, "b a b"),          // "a b a" nowhere (needs a _ a spacing)
      (3L, "x y z"))
      .toDF("post_id", "body")
    val out = VocabOps.phraseSearch(d, Seq("a", "b", "a"),
        idCol = "post_id", textCol = "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L), s"got $out")
  }

  test("skyline2d keeps exactly the non-dominated rows; partition-invariant") {
    import spark.implicits._
    // (price, size): (1,5) and (2,7) frontier; (2,5) dominated by both;
    // (3,7) dominated by (2,7); duplicate of a frontier point survives too
    val rows = Seq((100L, 1.0, 5), (101L, 2.0, 7), (102L, 2.0, 5),
      (103L, 3.0, 7), (104L, 1.0, 5)).toDF("id", "price", "sz")
    def run(parts: Int) = Relational2.skyline2d(rows, "price", "sz", parts)
      .select("id").collect().map(_.getLong(0)).toSet
    val expected = Set(100L, 101L, 104L)
    assert(run(1) == expected, s"got ${run(1)}")
    assert(run(3) == expected)
    assert(run(7) == expected)
  }

  test("lshRecall emits consistent pair counts on a custom-named frame") {
    val out = DedupOps.lshRecall(docs, idCol = "post_id", textCol = "body")
      .head()
    val (nExact, nLsh, nCommon, bp) =
      (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
    // 10/11 are exact dups -> at least that pair is a true near-dup
    assert(nExact >= 1 && nCommon <= math.min(nExact, nLsh))
    assert(bp == (if (nExact == 0) 0L else 10000L * nCommon / nExact))
  }

  test("coOccurrenceTopK ranks by count then item; excludes self-pairs") {
    import spark.implicits._
    // baskets: {1,2,3}, {1,2}, {1,3} -> for item 1: 2 co-occurs 2x, 3 co-occurs 2x
    val b = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L)).toDF("basket", "sku")
    val out = Relational3.coOccurrenceTopKFrom(Relational3.coOccurrencePairs(
        b.select($"basket".as("g"), $"sku".as("item")).distinct()), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val item1 = out.filter(_._1 == 1L).toList
    assert(item1 == List((1L, 2L, 2L, 1), (1L, 3L, 2L, 2)), s"got $item1")
    assert(!out.exists(r => r._1 == r._2), "self-pair leaked")
  }

  test("zonemapSkipping: clustered layout prunes, scattered layout reads all") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0L until 100L).map(i => (i, i / 10)).toDF("v", "tens")
    val out = LayoutOps.zonemapSkipping(rows, "v",
        Seq("clustered" -> col("tens"), "scattered" -> (col("v") % 10)),
        lit(20L), lit(40L))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    // clustered: files 2 and 3 only; scattered: every file spans [0,99]
    assert(out("clustered") == ((10L, 2L, 20L, 20L)), s"got ${out("clustered")}")
    assert(out("scattered") == ((10L, 10L, 100L, 20L)), s"got ${out("scattered")}")
  }

  test("snapshotDiff classifies added/removed/changed; unchanged dropped") {
    import spark.implicits._
    val before = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    val after = Seq((2L, "b", 2.0), (3L, "cc", 3.0), (4L, "d", 4.0))
      .toDF("k", "s", "v")
    val out = CdcOps.snapshotDiff(before, after, "k", carryCols = Seq("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "removed"), (3L, "changed"), (4L, "added")),
      s"got $out")
  }

  test("HLL sketch union of per-group sketches equals the global sketch estimate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10k distinct ids across 4 groups — large enough that HLL actually
    // approximates (estimate != exact), so the merge identity is a real pin
    val df = (0L until 10000L).map(i => (i, i % 4)).toDF("id", "g")
    val merged = df.groupBy(col("g")).agg(expr("hll_sketch_agg(id, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
      .head().getLong(0)
    val direct = df.agg(expr("hll_sketch_estimate(hll_sketch_agg(id, 12))"))
      .head().getLong(0)
    assert(merged == direct, s"union-merged $merged != direct $direct")
    // lgK=12 keeps relative error ~1.6%; allow 5%
    assert(math.abs(merged - 10000L) <= 500, s"estimate $merged off by >5%")
  }

  test("intervalOverlapJoin finds cross-bucket overlaps exactly once; no false pairs") {
    import spark.implicits._
    // bucket = 100: L1 spans buckets 0-2, R1 overlaps it in bucket 2 only
    // (pair must appear ONCE despite L1's 3 buckets); R2 touches no interval;
    // L2/R3 overlap at a single shared point (closed-interval semantics)
    val left = Seq((1L, 50L, 250L), (2L, 400L, 500L)).toDF("lid", "ls", "le")
    val right = Seq((10L, 240L, 260L), (20L, 300L, 310L), (30L, 500L, 600L))
      .toDF("rid", "rs", "re")
    val out = Relational3.intervalOverlapJoin(left, right,
        "ls", "le", "rs", "re", bucketUs = 100L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.sorted.toList == List((1L, 10L), (2L, 30L)), s"got ${out.toList}")
    assert(out.length == out.distinct.length, "duplicate pair leaked")
  }

  test("subtreeRollup sums whole subtrees; doubling covers deep chains") {
    import spark.implicits._
    // chain 1<-2<-3<-4<-5 (depth 4 needs 2 doubling rounds) + branch 1<-6
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 1L))
      .toDF("kid", "par")
    val vals = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L),
      (6L, 60L)).toDF("n", "w")
    val out = GraphOps.subtreeRollup(edges, vals, rounds = 2,
        childCol = "kid", parentCol = "par", nodeCol = "n", valCol = "w")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((6L, 210L)), s"root got ${out(1L)}")
    assert(out(2L) == ((4L, 140L)) && out(4L) == ((2L, 90L))
      && out(5L) == ((1L, 50L)) && out(6L) == ((1L, 60L)), s"got $out")
  }

  test("distillFilter learns its labeling rule with >= 0.9 fidelity on custom columns") {
    import org.apache.spark.sql.functions.{expr, size}
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("doc_id", "post_id").withColumnRenamed("text", "body")
    val out = LearnOps.distillFilter(d,
        size(expr(Nlp.toksExprOn("body"))) >= 50,
        idCol = "post_id", textCol = "body")
      .collect()
    assert(out.nonEmpty)
    val acc = out.count(r => r.getBoolean(2) == r.getBoolean(3)).toDouble / out.length
    assert(acc >= 0.9, s"distillation fidelity $acc below 0.9 (n=${out.length})")
    // scores must discriminate, not defer to a constant prediction
    assert(out.exists(_.getBoolean(2)) && out.exists(!_.getBoolean(2)),
      "classifier collapsed to a constant prediction")
  }

  test("winnowPairs: shared token runs pair, offset-independently; disjoint docs do not") {
    import spark.implicits._
    // 20 and 21 share a long run at DIFFERENT offsets (the winnowing
    // guarantee: any shared run of w+2 tokens yields a shared selected
    // fingerprint regardless of alignment); 22 is disjoint.
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (20L, s"intro words here $run"),
      (21L, s"$run trailing content entirely other"),
      (22L, "unrelated material about storage engines and buffer pools wholly distinct"))
      .toDF("post_id", "body")
    val pairs = DedupOps.winnowPairs(d, idCol = "post_id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((20L, 21L)), s"expected exactly (20,21): $pairs")
  }

  test("rrfFuse: cross-retriever consensus outranks single-list placement; ties on id") {
    import spark.implicits._
    // cand 100 is mid-list in BOTH rankings; 200/300 top exactly one each.
    // RRF: 100 → 2/(60+2) beats 200/300 → 1/61 + 0.
    val r1 = Seq((1L, 1, 200L), (1L, 2, 100L)).toDF("query_id", "rank", "cand_id")
    val r2 = Seq((1L, 1, 300L), (1L, 2, 100L)).toDF("query_id", "rank", "cand_id")
    val out = SimilarityOps.rrfFuse(Seq(r1, r2), k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.head == ((1, 100L, 2 * (1000000 / 62))),
      s"consensus candidate not first: ${out.toSeq}")
    // 200 and 300 have identical scores — the id breaks the tie
    assert(out.map(_._2).toSeq == Seq(100L, 200L, 300L), s"order: ${out.toSeq}")
  }

  test("bigramNovelty: all-rare doc scores 10000 bp, all-common doc 0 bp") {
    import spark.implicits._
    val common = "the cat sat on the mat"
    val d = Seq(
      (30L, common), (31L, common), (32L, common),        // every bigram df=3
      (33L, "zebra quark nebula fjord glyph"))            // every bigram df=1
      .toDF("post_id", "body")
    val out = TestHelp.collectMap2(
      VocabOps.bigramNovelty(d, tau = 2, idCol = "post_id", textCol = "body"))
    assert(out(30L) == 0L && out(31L) == 0L && out(32L) == 0L,
      s"common docs must score 0: $out")
    assert(out(33L) == 10000L, s"all-rare doc must score 10000: $out")
  }

  test("shortestPaths: multi-hop cheaper path beats the direct edge; rounds bound hops") {
    import spark.implicits._
    // 1→3 direct costs 10; 1→2→3 costs 2. A 3rd hop reaches 4.
    val e = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def dists(rounds: Int) =
      GraphOps.shortestPaths(e, seeds, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d3 = dists(3)
    assert(d3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
      s"3-round labels wrong: $d3")
    // after 1 round only direct edges are relaxed: 3 still carries 10
    val d1 = dists(1)
    assert(d1(3L) == 10L && !d1.contains(4L), s"1-round labels wrong: $d1")
  }

  test("personalizedPageRank: restart mass stays near the seeds; disconnected component ranks 0") {
    import spark.implicits._
    // two symmetric 2-cliques; seeds only in the first
    val e = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val out = GraphOps.personalizedPageRank(e, Seq(1L).toDF("node"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(3L) == 0L && out(4L) == 0L,
      s"mass leaked to a component the walk cannot reach: $out")
    assert(out(1L) > 0L && out(2L) > 0L, s"seed component unranked: $out")
    // all mass stays in the seed component (up to integer-division dust);
    // NOTE a 2-cycle is bipartite, so seed-vs-neighbor ORDER oscillates
    // with iteration parity — only the component split is invariant
    assert(out(1L) + out(2L) > 999L * 1000000000L,
      s"seed-component mass not conserved: $out")
  }

  test("looTargetEncode: own label excluded; singleton category falls back to the prior") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq((1L, "a", true), (2L, "a", false), (3L, "a", false),
      (4L, "b", true)).toDF("rid", "cat", "label")
    val out = LearnOps.looTargetEncode(rows, "cat", col("label"), m = 2,
        keep = Seq("rid"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // prior = 10^6·2 div 4 = 500000
    // row 1 (y=1, cat a): (10^6·(1−1) + 2·500000) div (3−1+2) = 250000
    // row 2 (y=0, cat a): (10^6·(1−0) + 2·500000) div 4       = 500000
    assert(out(1L) == 250000L && out(2L) == 500000L && out(3L) == 500000L,
      s"LOO arithmetic wrong: $out")
    // singleton: numerator y_cat−y = 0 → pure prior, never divide-by-zero
    assert(out(4L) == 500000L, s"singleton must encode to the prior: $out")
    // leakage check: same category, different own-label → different encodings
    assert(out(1L) != out(2L), "own label not excluded (target leakage)")
  }

  test("bottomKQuantile: merge of shard sketches equals the direct sketch") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, expr, round, row_number}
    val k = 16
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("event_id"), col("value"))
    // shard sketches: bottom-k rows per group by the SAME deterministic
    // hash order the operator uses
    def sketchRows(df: org.apache.spark.sql.DataFrame) = {
      val hk = "cast(conv(substring(md5(cast(event_id as string)), 1, 15), 16, 10) as bigint)"
      val w = Window.partitionBy(col("event_type")).orderBy(expr(hk), col("event_id"))
      df.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= k)
        .select(col("event_type"), col("event_id"), col("value"))
    }
    val shards = sketchRows(ev.filter(col("event_id") % 2 === 0))
      .unionByName(sketchRows(ev.filter(col("event_id") % 2 === 1)))
    def readout(df: org.apache.spark.sql.DataFrame) =
      Relational2.bottomKQuantile(df, "event_type",
          round(col("value") * 100).cast("bigint"), "event_id", k)
        .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val direct = readout(ev)
    val merged = readout(shards)
    // bottom-k is a min-monoid: re-sketching the union of shard sketches
    // gives the same sample, hence the same n_sample and quantile
    assert(direct == merged, s"direct $direct vs merged $merged")
  }

  test("shardPlan: partition-count invariant, contiguous shards, budget-bounded") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    def plan(parts: Int) =
      MixOps.shardPlan(d, 4096, parts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val a = plan(3)
    val b = plan(7)
    // the global hash order exists only as arithmetic — the physical
    // partitioning must not leak into shard membership
    assert(a.sameElements(b), "shard assignment depends on partition count")
    val byShard = a.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(byShard.size > 3, s"expected several shards, got ${byShard.size}")
    // each shard starts before its budget line: total minus its last doc
    // stays under budget (next-fit semantics)
    val maxDoc = a.map(_._2).max
    assert(byShard.values.forall(_ <= 4096 + maxDoc),
      s"a shard exceeds budget + one document: $byShard")
  }

  test("sortedNeighborhoodPairs: window-complete across block boundaries, nothing outside") {
    import spark.implicits._
    // 10 distinct names; raw forms exercise the key normalization
    val names = Seq("Alpha-One", "alpha two", "ALPHA_three", "beta one",
      "Beta-Two", "gamma one", "Gamma Two", "gamma-three", "delta one", "epsilon")
    val rows = names.flatMap(n => Seq.fill(1 + (n.length % 3))(n))
    val df = rows.toDF("label")
    val w = 3
    // maxDist large -> pure blocking semantics: pair set must equal ALL
    // pairs within w positions of the normalized-key sort order,
    // regardless of where the internal block boundaries fall
    val out = MatchOps.sortedNeighborhoodPairs(df, nameCol = "label",
        window = w, maxDist = 99)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    def key(n: String) = n.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    val sorted = names.sortBy(n => (key(n), n))
    val expected = (for {
      i <- sorted.indices; j <- (i + 1) until math.min(i + w, sorted.length)
    } yield (sorted(i), sorted(j))).toSet
    assert(out == expected, s"got $out\nexpected $expected")
  }

  test("kCenterSelect: distinct picks, non-increasing coverage gaps, custom columns") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("vec_id", "eid").withColumnRenamed("embedding", "emb")
    val sel = SimilarityOps.kCenterSelect(emb, 5, idCol = "eid", vecCol = "emb")
    assert(sel.map(_._1) == Seq(1, 2, 3, 4, 5))
    assert(sel.map(_._2).distinct.size == 5, s"repeated pick: $sel")
    // rounds >= 2 maximize min-distance to the growing selected set, so
    // the chosen gap can only shrink (round 1 measures to the mean —
    // a different reference — and is excluded)
    val gaps = sel.drop(1).map(_._3)
    assert(gaps.zip(gaps.tail).forall { case (a, b) => a >= b },
      s"gaps not non-increasing: $gaps")
  }

  test("giniBp: perfect equality scores 0, maximal concentration (n-1)/n, exact bp") {
    import spark.implicits._
    val rows = Seq(
      ("eq", 1L, 100L), ("eq", 2L, 100L), ("eq", 3L, 100L), ("eq", 4L, 100L),
      ("one", 5L, 0L), ("one", 6L, 0L), ("one", 7L, 0L), ("one", 8L, 100L))
      .toDF("seg", "cid", "cents")
    val out = StatTests.giniBp(rows, "seg", "cents", "cid")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // all-equal -> 0; single holder of everything -> (2*4*100 - 5*100)/(4*100)
    // = 0.75 exactly = (n-1)/n
    assert(out == Map("eq" -> 0L, "one" -> 7500L), out.toString)
  }

  test("linRegBp: exact fit recovers slope/intercept, r2=1; degenerate groups NULL") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pts = Seq(
      // y = 2x + 5 exactly
      ("fit", 0L, 5L), ("fit", 1L, 7L), ("fit", 2L, 9L), ("fit", 3L, 11L),
      // constant y: slope 0, r2 0/0 -> NULL
      ("flat", 0L, 4L), ("flat", 1L, 4L),
      // constant x: zero x-variance -> all NULL
      ("vert", 2L, 1L), ("vert", 2L, 9L))
      .toDF("g", "x", "y")
    val out = StatTests.linRegBp(pts, "g", col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out("fit") == ((Some(2000000L), Some(5L), Some(10000L))), out.toString)
    assert(out("flat") == ((Some(0L), Some(4L), None)), out.toString)
    assert(out("vert") == ((None, None, None)), out.toString)
  }

  test("fdProfile: exact FD holds, violated FD counts g3 rows, NULL dep is a value") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = Seq(
      (1L, "x", "p"), (2L, "x", "p"), (3L, "x", "q"),   // x -> {p,p,q}: remove 1
      (4L, "y", "r"), (5L, "y", "r"),                    // y -> r: clean
      (6L, "z", null))                                   // z -> NULL: one value, clean
      .toDF("id", "det", "dep")
    val out = ProfileOps.fdProfile(rows,
        Seq(("id", "dep"), ("det", "dep")))
      .collect().map(r => (r.getString(0), r.getLong(4), r.getLong(5), r.getBoolean(7)))
    // id is a key: holds. det: one violating group, g3 = 1 row.
    assert(out.toSet == Set(("det", 1L, 1L, false), ("id", 0L, 0L, true)),
      out.mkString(", "))
  }

  test("joinCardEstimate: exact card is sum of count products; rate=1 estimate is exact") {
    import spark.implicits._
    val l = Seq(1L, 1L, 2L, 3L).toDF("k1")
    val r = Seq(1L, 2L, 2L, 4L).toDF("k2")
    val row = ProfileOps.joinCardEstimate(l, "k1", r, "k2", rate = 1)
      .collect().head
    // products: k=1 -> 2*1, k=2 -> 1*2 => exact 4; rate 1 samples every key
    assert(row.getLong(3) == 4L, row.toString)
    assert(row.getLong(2) == 4L && row.getLong(4) == 0L, row.toString)
  }

  test("marginMine: aligned pairs mine mutually with exact margin; hub is demoted") {
    import spark.implicits._
    // src basis vectors; tgt has exact copies plus a diagonal "hub" that is
    // fairly close to BOTH sources — raw cosine would rank it near the top
    // for both, but its own dense neighborhood deflates its margin.
    val src = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val tgt = Seq((10L, Seq(1f, 0f)), (11L, Seq(0f, 1f)),
      (12L, Seq(1f, 1f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.marginMine(src, tgt, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
    // k=1: each source's neighborhood sum is its exact copy (cos 1), each
    // copy's backward neighborhood is its source => margin = 2k*1e6/(2e6)
    // in bp = 10000, mutual both ways; the hub never wins a source.
    assert(out.toSeq == Seq((1L, 10L, 10000L, true), (2L, 11L, 10000L, true)),
      out.mkString(", "))
  }

  test("wordpieceTokenize: greedy longest match wins; uncovered char emits UNK") {
    import spark.implicits._
    val docs = Seq((1L, "quick the"), (2L, "aaab")).toDF("doc_id", "text")
    // no 'e' piece: 'the' = th + UNK(e); 'aaab' = aa + aa? no — greedy at
    // pos 3 matches 'ab' over 'a': aa + ab = 2 pieces.
    val pieces = Seq("q", "u", "i", "c", "k", "qu", "ick", "th", "a", "aa", "ab", "b")
    val out = VocabOps.wordpieceTokenize(docs, pieces)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 4L, 1L), (2L, 1L, 2L, 0L)), out.mkString(", "))
  }

  test("unigramLmTrain: repeated motif learned, unused seeds pruned, Viterbi segments minimally") {
    import spark.implicits._
    val docs = Seq.tabulate(30)(i => (i.toLong, "abcdabcd abcd qrst"))
      .toDF("doc_id", "text")
    val vocab = VocabOps.unigramLmTrain(docs)
    // EM rank 1/2 = the two real pieces by Viterbi usage (abcd is chosen
    // 3x per doc, qrst once); everything else prunes down to the 26
    // never-pruned single chars
    assert(vocab.map(_._1).take(2) == Seq("abcd", "qrst"), vocab.take(4).toString)
    assert(vocab.head._2 == 90L && vocab(1)._2 == 30L, vocab.take(2).toString)
    assert(vocab.length == 28, s"expected 2 pieces + 26 chars, got ${vocab.length}")
    // interior seed substrings (bcda, dabc, ...) had zero optimal usage
    assert(!vocab.exists(v => Set("bcda", "cdab", "dabc")(v._1)),
      s"unused seeds not pruned: ${vocab.map(_._1)}")
    // serving: abcdabcd -> [abcd, abcd], abcd -> [abcd], qrst -> [qrst]
    val t = VocabOps.unigramTokenize(docs, vocab.map(v => (v._1, v._3)))
      .collect().head
    assert((t.getLong(1), t.getLong(2)) == ((3L, 4L)), t.toString)
  }

  test("hilbertIndex: matches the canonical 4x4 curve; every step is unit distance") {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val grid = (for (x <- 0 to 3; y <- 0 to 3) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val got = grid.withColumn("d", LayoutOps.hilbertIndex(col("x"), col("y"), 2))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val canonical = Map(
      (0L, 0L) -> 0L, (1L, 0L) -> 1L, (2L, 0L) -> 14L, (3L, 0L) -> 15L,
      (0L, 1L) -> 3L, (1L, 1L) -> 2L, (2L, 1L) -> 13L, (3L, 1L) -> 12L,
      (0L, 2L) -> 4L, (1L, 2L) -> 7L, (2L, 2L) -> 8L, (3L, 2L) -> 11L,
      (0L, 3L) -> 5L, (1L, 3L) -> 6L, (2L, 3L) -> 9L, (3L, 3L) -> 10L)
    assert(got == canonical, got.toString)
    // unit-distance walk (the property Z-order lacks)
    val walk = got.toSeq.sortBy(_._2).map(_._1)
    walk.zip(walk.tail).foreach { case ((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-unit step ($x1,$y1)->($x2,$y2)")
    }
  }

  test("dbscan: dense run is core, edge point is border, isolate is noise") {
    import spark.implicits._
    def at(deg: Double) = {
      val r = math.toRadians(deg); Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // 0,1,2 within 10 degrees (pairwise cos >= cos10 > 0.95): each has >= 2
    // neighbors -> core. 3 at 25 degrees: only its cos15-neighbor (id 2)
    // qualifies -> 1 neighbor -> border, inherits cluster min id 0.
    // 4 at 90 degrees: no neighbors -> noise.
    val vecs = Seq((0L, at(0)), (1L, at(5)), (2L, at(10)), (3L, at(25)),
      (4L, at(90))).toDF("vec_id", "embedding")
    val out = DedupOps.dbscan(vecs, threshold = 0.95, minPts = 2, blocks = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq == Seq((0L, "core", 0L), (1L, "core", 0L),
      (2L, "core", 0L), (3L, "border", 0L), (4L, "noise", -1L)),
      out.mkString(", "))
  }

  test("calibrationBins: equal-width bins, exact rates, extremes in end bins") {
    import spark.implicits._
    val scored = Seq(
      (1L, 0L, false, false), (2L, 10L, false, false), (3L, 20L, false, true),
      (4L, 80L, true, true), (5L, 99L, true, true))
      .toDF("doc_id", "score", "pred", "label")
    val out = LearnOps.calibrationBins(scored, "score", "label", "pred", bins = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(6), r.getLong(7)))
    // bin 0: scores 0,10,20 -> 1/3 positive = 3333 bp, 0 predicted
    // bin 1: scores 80,99 -> all positive and predicted
    assert(out.toSeq == Seq((0L, 3L, 3333L, 0L), (1L, 2L, 10000L, 10000L)),
      out.mkString(", "))
  }

  test("stupidBackoffScore: seen bigrams score c/c1, unseen back off at 0.4") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Seq((2L, "a b a b"), (3L, "a b c")).toDF("doc_id", "text")
    val out = VocabOps.stupidBackoffScore(docs, col("doc_id") % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // train = doc 2: bi (a,b)=2 (b,a)=1; uni a=2 b=2; N=4.
    // doc 2: 1e6, 5e5, 1e6 -> avg 833333. doc 3: (a,b)=1e6; (b,c) unseen,
    // c('c')=0 -> 0 with backoff -> avg 500000, 1 backoff.
    assert(out.toSeq == Seq((2L, 3L, 0L, 833333L), (3L, 2L, 1L, 500000L)),
      out.mkString(", "))
  }

  test("pettittTest: level shift found at the last pre-shift index, exact K") {
    import spark.implicits._
    val rows = Seq(("s", 1L, 1L), ("s", 2L, 1L), ("s", 3L, 1L),
      ("s", 4L, 10L), ("s", 5L, 10L), ("s", 6L, 10L)).toDF("g", "t", "v")
    val r = StatTests.pettittTest(rows, "g", "t", "v").collect().head
    // U = (-5,-8,-9,-8,-5,0): K=9 at i=3; n=6 too small for alpha=.05
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getBoolean(5)) == ((6L, 3L, 3L, 9L, false)), r.toString)
  }

  test("ndcgScore: rank-1 hit scores full weight; misses contribute zero") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val exact = Seq((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 10L))
      .toDF("query_id", "rank", "cand_id")
    val approx = Seq((1L, 1, 10L), (2L, 1, 99L))
      .toDF("query_id", "rank", "cand_id")
    val r = SimilarityOps.ndcgScore(exact, approx).collect().head
    // one hit at rank 1 (w=1e6), idcg = 2948457 over 2 queries
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((2L, 1L, 10000L * 1000000L / (2L * 2948457L))), r.toString)
  }

  test("silhouetteByLabel: points on own centroid score 10000; none negative") {
    import spark.implicits._
    val vecs = Seq((1L, 0, Seq(0f, 0f)), (2L, 0, Seq(0f, 0f)),
      (3L, 1, Seq(10f, 0f)), (4L, 1, Seq(10f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val out = SimilarityOps.silhouetteByLabel(vecs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0, 2L, 10000L, 0L), (1, 2L, 10000L, 0L)),
      out.mkString(", "))
  }

  test("phoneticBlocking: sound-alike spellings pair; different consonants do not") {
    import spark.implicits._
    // smith/smyth: same consonant classes (s,5,3) with y dropped -> one
    // bucket; "baker" maps b->..126 vs "maker" m->..26 with different
    // first letter -> never candidates even at dist 1.
    val rows = Seq("smith", "smyth", "baker", "maker").map(Tuple1(_)).toDF("name")
    val pairs = MatchOps.phoneticBlocking(rows, maxDist = 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getInt(3)))
    assert(pairs.toSeq == Seq(("smith", "smyth", 1)), pairs.mkString(", "))
  }

  test("knnShapley: nearest correct neighbor valued highest, wrong label negative") {
    import spark.implicits._
    val train = Seq((100L, 0, Seq(1f, 0f)), (101L, 1, Seq(0f, 1f)),
      (102L, 0, Seq(-1f, 0f))).toDF("vec_id", "label", "embedding")
    val test = Seq((1L, 0, Seq(1f, 0f))).toDF("vec_id", "label", "embedding")
    val out = SimilarityOps.knnShapley(train, test, k = 1, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // hand recursion: s = (833333, -166667, 333333) for ranks (1,2,3)
    assert(out.toSeq == Seq((100L, 833333L), (101L, -166667L)),
      out.mkString(", "))
  }

  test("weightedMedian: heavy weight pulls the median; lower median under even split") {
    import spark.implicits._
    val rows = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 100L, 10L),
      ("b", 5L, 1L), ("b", 7L, 1L)).toDF("g", "v", "wt")
    val out = StatTests.weightedMedian(rows, "g", "v", "wt")
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    // a: W=12, first v with 2cw>=12 is 100 (cw 1,2,12). b: even split ->
    // lower median 5 (2*1 >= 2).
    assert(out == Map("a" -> 100L, "b" -> 5L), out.toString)
  }

  test("linkPredict: 4-cycle predicts both diagonals, never existing edges") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = GraphOps.linkPredict(edges, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    // diagonals share BOTH neighbors: common=2, jaccard = 2/(2+2-2) = 1
    assert(out.toSeq == Seq((1L, 3L, 2L, 10000L), (2L, 4L, 2L, 10000L)),
      out.mkString(", "))
  }

  test("sceneCuts: full byte-class flip is a cut, repeated frame is not") {
    import spark.implicits._
    // stride 4: frames "aaaa" (class 3), "aaaa", "0000" (class 1):
    // frame 1 identical -> no cut; frame 2 flips every byte's class -> cut.
    val assets = Seq((7L, "aaaaaaaa0000".getBytes("UTF-8"))).toDS()
    val out = MultimodalOps.sceneCuts(
        MultimodalOps.frameHistograms(assets, 4).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq((7L, 3L, 1L, 2)), out.mkString(", "))
  }

  test("assocRules: exact support/confidence/lift; confidence is directional") {
    import spark.implicits._
    val baskets = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"))
      .toDF("g", "item")
    val rules = Relational3.assocRules(baskets, "g", "item", minPairs = 1,
        topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // a->b: support 2/3, conf 2/3, lift (2*3)/(3*2) = 1.0
    assert(rules(("a", "b")) == ((6666L, 6666L, 1000000L)), rules.toString)
    // b->a: same pair, confidence 2/2 = 1
    assert(rules(("b", "a")) == ((6666L, 10000L, 1000000L)), rules.toString)
  }

  test("assocRules: maxBasket skew guard excludes mega-baskets everywhere") {
    import spark.implicits._
    // basket 9 has 5 items (> cap 4): its pairs, its item counts, AND its
    // row in the basket total must all vanish — metrics must equal the
    // capped corpus computed from scratch, not a partially-filtered mix
    val mega = (1 to 5).map(i => (9L, s"m$i"))
    val baskets = (Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"))
      ++ mega).toDF("g", "item")
    val rules = Relational3.assocRules(baskets, "g", "item", minPairs = 1,
        topK = 50, maxBasket = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(!rules.keys.exists(k => k._1.startsWith("m") ||
      k._2.startsWith("m")), rules.toString)
    // n_baskets = 3 (not 4): support 2/3 as in the uncapped 3-basket case
    assert(rules(("a", "b")) == ((6666L, 6666L, 1000000L)), rules.toString)
    assert(intercept[IllegalArgumentException] {
      Relational3.assocRules(baskets, "g", "item", maxBasket = 1)
    }.getMessage.contains("maxBasket"))
    // empty input: the adaptive hottest-basket probe must see 0 (not a
    // null -> NPE) and return an empty rules frame
    val none = Seq.empty[(Long, String)].toDF("g", "item")
    assert(Relational3.assocRules(none, "g", "item").count() == 0L)
  }

  test("readability: counts and FK grade exact on a hand-counted sentence") {
    import spark.implicits._
    // "the cat sat. it ran!" -> 5 words, 2 sentences, 5 one-syllable words
    // fk = 390000*5/2 + 11800000*5/5 - 15590000 = 975000 + 11800000 - 15590000
    val out = TextOps.readability(
        Seq((1L, "the cat sat. it ran!")).toDF("doc_id", "text"))
      .collect().head
    assert((out.getLong(1), out.getLong(2), out.getLong(3), out.getLong(4)) ==
      ((2L, 5L, 5L, 975000L + 11800000L - 15590000L)), out.toString)
  }

  test("prfExpand: feedback term from the top doc rescues an unseeded match") {
    import spark.implicits._
    // seed 'alpha' ranks docs 1,2; their shared co-term 'beta' expands the
    // query, so doc 3 (beta-only) enters the final ranking. 'the' appears
    // in every doc -> stopword ratio cap excludes it.
    // beta must stay under the 40% df stopword cap: 3 of 8 docs.
    val docs = Seq(
      (1L, "the alpha beta gamma"), (2L, "the alpha beta delta"),
      (3L, "the beta beta epsilon"), (4L, "the zeta eta theta"),
      (5L, "the kappa lambda mu"), (6L, "the nu xi omicron"),
      (7L, "the pi rho sigma"), (8L, "the tau upsilon phi"))
      .toDF("doc_id", "text")
    val ranked = VocabOps.prfExpand(docs, Seq("alpha"), fbDocs = 2,
        expandK = 1, topK = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ranked.contains(3L), s"expansion missed the beta-only doc: $ranked")
    assert(!ranked.contains(4L), s"unrelated doc ranked: $ranked")
  }

  test("mannWhitney: dominated sample scores U1=0; ties take half-wins exactly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val a = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("s", "v")
    val r1 = StatTests.mannWhitney(a, "v", col("s") === "a").collect().head
    // sample a always loses: U1x2 = 0, U2x2 = 8, r = -1
    assert((r1.getLong(2), r1.getLong(3), r1.getLong(4), r1.getBoolean(5)) ==
      ((0L, 8L, -10000L, false)), r1.toString)
    val t = Seq(("a", 1L), ("a", 1L), ("b", 1L), ("b", 2L)).toDF("s", "v")
    val r2 = StatTests.mannWhitney(t, "v", col("s") === "a").collect().head
    // two (1,1) ties at half a win each: U1 = 1 -> x2 units = 2
    assert(r2.getLong(2) == 2L && r2.getLong(3) == 6L, r2.toString)
  }

  test("interval union: overlapping windows merge, disjoint bursts add") {
    // covered-time semantics pinned through the qe_covered_time binding's
    // exact oracle at the gate; here pin the island identity on raw data:
    // 3 events at 0s, 60s, 1000s with 300s windows -> 2 islands,
    // covered = (60+300) + 300 seconds.
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val winUs = 300000000L
    val wOrd = W.partitionBy(col("u")).orderBy(col("us"))
    val iv = Seq((1L, 0L), (1L, 60000000L), (1L, 1000000000L)).toDF("u", "us")
      .withColumn("e", col("us") + winUs)
      .withColumn("pmax", max(col("e")).over(wOrd.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("ni", when(col("pmax").isNull || col("us") > col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy(col("u"), col("isl")).agg(min(col("us")).as("s0"), max(col("e")).as("e0"))
      .groupBy(col("u")).agg(count(lit(1)).as("n"), sum(col("e0") - col("s0")).as("cov"))
      .collect().head
    assert((iv.getLong(1), iv.getLong(2)) == ((2L, 360000000L + 300000000L)), iv.toString)
  }

  test("pieceUsage: repeated piece in one word tallies usage twice, n_words once") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa aaaa b")).toDF("doc_id", "text")
    val out = VocabOps.pieceUsage(docs, Seq("a", "aa", "b"), topK = 10)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 'aaaa' (freq 2) segments greedily as aa+aa: usage 2 occurrences x
    // freq 2 = 4, from ONE distinct word; 'b' once.
    assert(out == Map("aa" -> ((1L, 4L)), "b" -> ((1L, 1L))), out.toString)
  }

  test("silenceRuns: dominant-class frames form runs; mixed frames break them") {
    import spark.implicits._
    // stride 4: "aaaa"(silent) "aaaa"(silent) "a0b1"(mixed) "bbbb"(silent)
    val assets = Seq((3L, "aaaaaaaaa0b1bbbb".getBytes("UTF-8"))).toDS()
    val out = MultimodalOps.silenceRuns(
        MultimodalOps.frameHistograms(assets, 4).toDF())
      .collect().head
    assert((out.getLong(1), out.getLong(2), out.getLong(3), out.getLong(4)) ==
      ((4L, 3L, 2L, 2L)), out.toString)
  }

  test("binaryTopK: sign-identical vector survives hamming phase and reranks first") {
    import spark.implicits._
    // query 0: signs (+,+,-,-). cand 10 same signs (hamming 0), cand 11
    // differs in every sign (hamming 4), cand 12 differs in one.
    val corpus = Seq(
      (10L, Seq(0.9f, 0.8f, -0.7f, -0.6f)),
      (11L, Seq(-0.9f, -0.8f, 0.7f, 0.6f)),
      (12L, Seq(0.9f, 0.8f, -0.7f, 0.6f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(1f, 1f, -1f, -1f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.binaryTopK(corpus, q, k = 2, rerank = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // rerank pool = hamming top-2 = {10, 12}; exact cosine orders 10 first
    assert(out.toSeq == Seq((1, 10L), (2, 12L)), out.mkString(", "))
  }

  test("joinDeltaMaintenance: stored view + delta equals full recompute, multiset-exact") {
    import spark.implicits._
    // duplicate keys on BOTH sides so any accidental distinct would show
    val aBase = Seq((1L, "a1"), (1L, "a2"), (2L, "a3")).toDF("ak", "av")
    val aDelta = Seq((1L, "a4"), (3L, "a5")).toDF("ak", "av")
    val bBase = Seq((1L, "b1"), (1L, "b2"), (3L, "b3")).toDF("bk", "bv")
    val bDelta = Seq((1L, "b4"), (2L, "b5")).toDF("bk", "bv")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .groupBy(identity).view.mapValues(_.length).toMap // multiset
    val stored = rows(aBase.join(bBase, $"ak" === $"bk"))
    val delta = rows(CdcOps.joinDeltaMaintenance(
      aBase, aDelta, bBase, bDelta, "ak", "bk"))
    val full = rows(aBase.union(aDelta).join(bBase.union(bDelta), $"ak" === $"bk"))
    val merged = (stored.keySet ++ delta.keySet).map(k =>
      k -> (stored.getOrElse(k, 0) + delta.getOrElse(k, 0))).toMap
    assert(merged == full, s"view+delta $merged vs recompute $full")
  }

  test("multiPassBlocking: each pass contributes pairs the other's blind spot misses") {
    import spark.implicits._
    // "abcdone"/"abcdtwo": single tokens, share NO token -> token blocking
    // blind; adjacent in sort order with lev 3 -> sorted-neighborhood finds.
    // "red hat"/"zed hat": share a token, lev 1 -> token blocking finds;
    // first chars differ and the s* fillers sort between them, pushing the
    // pair > window apart -> SN blind.
    val names = Seq("abcdone", "abcdtwo", "red hat", "zed hat",
      "s1 hat", "s2 hat", "s3 hat", "s4 hat", "s5 hat", "s6 hat")
    val out = MatchOps.multiPassBlocking(names.toDF("nm"), nameCol = "nm",
        window = 2, snMaxDist = 3, tokenMaxDist = 3, maxTokenDf = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(out(("abcdone", "abcdtwo")) == ((false, true)),
      s"SN-only pair mis-attributed: $out")
    assert(out(("red hat", "zed hat")) == ((true, false)),
      s"token-only pair mis-attributed: $out")
  }

  test("kAnonymityAudit: k-only and l-only violations flagged, compliant group dropped") {
    import spark.implicits._
    // zip A: 2 rows (< k=3) but diverse -> k-violation only
    // zip B: 4 rows all same diagnosis -> l-violation (l=2) only
    // zip C: 3 rows, 2 diagnoses -> compliant, must not appear
    val rows = Seq(
      ("A", "flu"), ("A", "cold"),
      ("B", "flu"), ("B", "flu"), ("B", "flu"), ("B", "flu"),
      ("C", "flu"), ("C", "cold"), ("C", "flu"))
      .toDF("zip", "diagnosis")
    val out = ProfileOps.kAnonymityAudit(rows, Seq("zip"), "diagnosis", k = 3, l = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(("A", 2L, 2L, true, false), ("B", 4L, 1L, false, true)),
      out.mkString(", "))
  }

  test("hardNegatives: positives and paraphrase-cap excluded, hardest-first ranks") {
    import spark.implicits._
    // query 1: positive is c10 at cosine 0.98; cap 0.9 * 0.98 = 0.882
    // -> c11 (0.9) excluded by the cap, c12/c13 kept hardest-first
    val pool = Seq(
      (1L, 10L, 0.98), (1L, 11L, 0.90), (1L, 12L, 0.70), (1L, 13L, 0.80),
      (2L, 20L, 0.50), (2L, 21L, 0.40))
      .toDF("query_id", "cand_id", "cosine")
    val pos = Seq((1L, 10L), (2L, 20L)).toDF("query_id", "cand_id")
    val out = SimilarityOps.hardNegatives(pool, pos, k = 2, capRatio = 0.9)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1, 13L), (1L, 2, 12L), (2L, 1, 21L)),
      out.mkString(", "))
  }

  test("dimTruncationRecall: full-width truncation recalls 1.0; curve is per-dims rows") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = SimilarityOps.dimTruncationRecall(
        emb, emb.filter(col("vec_id") < 5), k = 3, dimsList = Seq(16, 64))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(16, 64), s"dims rows: $out")
    assert(out(64) == 1.0, s"full-width search must equal the exact baseline: $out")
    assert(out(16) >= 0.0 && out(16) <= 1.0)
  }

  test("mutualBestMatch: one-to-one, mutual-only, later rounds match what round 1 blocked") {
    import spark.implicits._
    // chain a-b-c-d with scores: b's best is a, a's best is b (mutual, r1);
    // c's best is b (taken) -> c pairs with d only after b leaves the pool
    val pairs = Seq(
      ("a", "b", 1), ("b", "c", 2), ("c", "d", 3)).toDF("l", "r", "s")
    val out = MatchOps.mutualBestMatch(pairs, aCol = "l", bCol = "r",
        scoreCol = "s", rounds = 3)
      .collect().map(x => (x.getString(0), x.getString(1), x.getInt(2), x.getInt(3)))
    assert(out.toSet == Set(("a", "b", 1, 1), ("c", "d", 3, 2)), out.mkString(", "))
    // every name appears at most once across all rounds
    val names = out.flatMap(x => Seq(x._1, x._2))
    assert(names.distinct.length == names.length, s"name matched twice: ${names.toSeq}")
  }

  test("sampleRatioMismatch: planted imbalance detected at the 0.001 bar, near-balance is not") {
    import spark.implicits._
    // 600 vs 400: chi2 = 200^2/1000 = 40 >> 10.83 -> SRM
    val bad = ((1L to 600L).map(i => (i, 0L)) ++ (1L to 400L).map(i => (i, 1L)))
      .toDF("id", "variant")
    val b = StatTests.sampleRatioMismatch(bad, "variant").collect().head
    assert((b.getLong(0), b.getLong(1)) == ((600L, 400L)), b.toString)
    assert(b.getLong(2) == 40000000L && b.getBoolean(3), b.toString)
    // 520 vs 480: chi2 = 40^2/1000 = 1.6 < 10.83 -> healthy
    val ok = ((1L to 520L).map(i => (i, 0L)) ++ (1L to 480L).map(i => (i, 1L)))
      .toDF("id", "variant")
    val o = StatTests.sampleRatioMismatch(ok, "variant").collect().head
    assert(o.getLong(2) == 1600000L && !o.getBoolean(3), o.toString)
  }

  test("sampleRatioMismatch: extreme imbalance stays detected (no silent long wrap)") {
    import org.apache.spark.sql.functions.{col, lit}
    // (a-b)^2 * 1e6 wraps a long once |a-b| > ~3e6; 4M-vs-0 used to flip
    // chisq negative and srm_detected FALSE exactly when the mismatch is
    // worst. The DECIMAL(38,0) route keeps it exact.
    val units = spark.range(4000000L).select(col("id"), lit(0L).as("variant"))
    val r = StatTests.sampleRatioMismatch(units, "variant").collect().head
    assert(r.getLong(0) == 4000000L && r.getLong(1) == 0L, r.toString)
    // chi2 = (4e6)^2 / 4e6 = 4e6 -> 4e12 micro, positive and detected
    assert(r.getLong(2) == 4000000000000L, s"chisq_micro wrapped: ${r.getLong(2)}")
    assert(r.getBoolean(3), s"extreme SRM must be detected: $r")
  }

  test("ratioMetricDelta: large-magnitude family survives the staged division") {
    import spark.implicits._
    // n=1000 users with x ~ 1e8 and y ~ tens: _num ~ 1e28, so the old
    // single-floor numerator users*_num*1e9 ~ 1e40 silently NULLed
    // DECIMAL(38,0); the staged form's worst operand is _num*1e9 ~ 1e37.
    val rows = (1L to 1000L).map(i => (0L, 100000000L + i * 1000L, i % 61))
    val units = rows.toDF("variant", "x", "y")
    val out = StatTests.ratioMetricDelta(units, "variant", "x", "y").collect().head
    val n = BigInt(1000)
    val sx = BigInt(rows.map(_._2).sum); val sy = BigInt(rows.map(_._3).sum)
    val num = rows.map { case (_, x, y) =>
      val d = sx * y - sy * x; d * d }.sum
    val expected = (n * ((num * BigInt(1000000000L)) / (sx * sx))) /
      ((n - 1) * sy * sy)
    assert(out.getLong(5) == expected.toLong,
      s"rel_se2_nano ${out.getLong(5)} != BigInt-exact $expected")
    assert(out.getLong(5) > 0L, "large family must not NULL/zero out")
    // the OPPOSITE regime (r12 review): tiny denominator, huge numerator
    // — x_i = 1 (Sx = 1000) with y ~ 1e9 ± 2e8: the stage-1 quotient is
    // ~4e28, far past LongType; it must ride the exact decimal floor
    val rows2 = (1L to 1000L).map(i =>
      (0L, 1L, 1000000000L + (if (i % 2 == 0) 200000000L else -200000000L)))
    val out2 = StatTests.ratioMetricDelta(rows2.toDF("variant", "x", "y"),
      "variant", "x", "y").collect().head
    val sx2 = BigInt(1000); val sy2 = BigInt(rows2.map(_._3).sum)
    val num2 = rows2.map { case (_, x, y) =>
      val d = sx2 * y - sy2 * x; d * d }.sum
    val exp2 = (n * ((num2 * BigInt(1000000000L)) / (sx2 * sx2))) /
      ((n - 1) * sy2 * sy2)
    assert(out2.getLong(5) == exp2.toLong,
      s"tiny-Sx/huge-Sy family: ${out2.getLong(5)} != BigInt-exact $exp2")
    assert(out2.getLong(5) > 0L, "stage-1 quotient must not wrap/NULL")
  }

  test("ratioMetricDelta: hand-computed SE; constant-ratio data scores exactly 0") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // variant 0: units (x,y) = (2,1),(4,1): R = 1/3, d_i = ±1/3,
    // s2 = 2/9, Var(R)/R^2 = ((2/9)/(2*9))/(1/9) = 1/9 -> 111111111 nano
    // variant 1: y = 2x exactly -> delta-method variance is exactly 0
    val units = Seq((0L, 2L, 1L), (0L, 4L, 1L),
      (1L, 3L, 6L), (1L, 5L, 10L), (1L, 7L, 14L)).toDF("variant", "x", "y")
    val out = StatTests.ratioMetricDelta(units, "variant", "x", "y")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(4) == 333333L, out(0L).toString)   // 1e6/3
    assert(out(0L).getLong(5) == 111111111L, out(0L).toString)
    assert(out(1L).getLong(4) == 2000000L, out(1L).toString)
    assert(out(1L).getLong(5) == 0L,
      s"constant-ratio data must have zero delta-method variance: ${out(1L)}")
    // degenerate singleton variant reports 0 rather than dividing by n-1=0
    val one = Seq((9L, 3L, 1L)).toDF("variant", "x", "y")
    assert(StatTests.ratioMetricDelta(one, "variant", "x", "y")
      .collect().head.getLong(5) == 0L)
  }

  test("cuped: planted covariate correlation cuts variance and de-biases the lift") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // y = x + small noise + 5000-cent treatment lift; x = 1000*i, variant
    // by parity, so the raw lift estimate is badly confounded by the
    // odd/even x imbalance while the adjusted one is not
    val lift = 5000L
    val units = (1L to 40L).map { i =>
      val x = 1000L * i
      val v = i % 2
      (i, v, x, x + (i % 7) * 100L + v * lift)
    }.toDF("id", "variant", "x", "y")
    val out = StatTests.cuped(units, "id", "variant", "x", "y").collect()
      .map(r => r.getLong(0) -> r).toMap
    val theta = out(0L).getLong(4)
    assert(theta > 900000L && theta < 1100000L, s"theta_micro = $theta (expected ~1e6)")
    val varKeep = out(0L).getLong(5)
    assert(varKeep < 250000L, s"var_keep_micro = $varKeep (expected >4x reduction)")
    // adjusted delta recovers the planted lift better than the raw delta
    val rawDelta = out(1L).getLong(2) - out(0L).getLong(2)
    val adjDelta = out(1L).getLong(3) - out(0L).getLong(3)
    val target = lift * 1000000L
    assert(math.abs(adjDelta - target) < math.abs(rawDelta - target),
      s"adjusted delta $adjDelta not closer to $target than raw $rawDelta")
    assert(math.abs(adjDelta - target) < 200000000L,
      s"adjusted delta $adjDelta too far from planted lift $target")
  }

  test("densestSubgraph: peel isolates a planted clique from a sparse fringe") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // K6 on nodes 1..6 (density 15/6 = 2.5) + a 20-node path fringe
    // (density ~0.95); whole graph density 34/26 ~ 1.31
    val clique = for (a <- 1L to 6L; b <- 1L to 6L if a < b) yield (a, b)
    val path = (101L until 120L).map(i => (i, i + 1))
    val und = (clique ++ path).toDF("src", "dst")
    val edges = und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
    val tr = GraphOps.densestSubgraph(edges, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(tr.length == 4, tr.mkString(", "))
    assert(tr(0) == (0L, 26L, 34L, 1307692L, false), s"round 0: ${tr(0)}")
    // round 1 peels the whole fringe (deg <= 2 < 1.5 x avg) and keeps
    // exactly the clique — the best-density round
    assert(tr(1) == (1L, 6L, 15L, 2500000L, true), s"round 1: ${tr(1)}")
    // the clique itself is regular, so round 2 empties; zeros are never best
    assert(tr(2)._2 == 0L && !tr(2)._5 && !tr(3)._5, tr.mkString(", "))
    assert(tr.count(_._5) == 1, s"exactly one best round: ${tr.mkString(", ")}")
  }

  test("diffInDiff: shared time trend cancels, planted treatment-post lift recovered") {
    import spark.implicits._
    // baseline 1000 (T) / 800 (C); post adds a SHARED +500 trend to
    // both arms plus a +300 treatment effect only to T-post: the naive
    // post-only T-C diff is 200+300, DiD isolates exactly +300
    val obs = (1L to 400L).map { i =>
      val t = i % 2; val p = (i / 2) % 2
      val base = if (t == 1) 1000L else 800L
      (t, p, base + p * 500L + t * p * 300L)
    }.toDF("treat", "post", "v")
    val r = StatTests.diffInDiff(obs, "treat", "post", "v").collect().head
    assert(r.getAs[Long]("did_micro") == 300000000L, r.toString)
    assert(r.getAs[Long]("delta_t_micro") == 800000000L, r.toString)
    assert(r.getAs[Long]("delta_c_micro") == 500000000L, r.toString)
    // empty cell reports 0 delta rather than dividing by zero
    val oneCell = Seq((1L, 1L, 5L)).toDF("treat", "post", "v")
    val e = StatTests.diffInDiff(oneCell, "treat", "post", "v").collect().head
    assert(e.getAs[Long]("did_micro") == 0L, e.toString)
  }

  test("postStratified: composition-drift bias corrected by pooled stratum weights") {
    import spark.implicits._
    // value depends ONLY on stratum (hi=2000, lo=1000) — no true variant
    // effect. Variant 1 over-samples the hi stratum (3:1 vs 1:3), so raw
    // means differ by 500 while post-stratified means are EQUAL.
    val obs =
      Seq.fill(30)((0L, "hi", 2000L)) ++ Seq.fill(90)((0L, "lo", 1000L)) ++
      Seq.fill(90)((1L, "hi", 2000L)) ++ Seq.fill(30)((1L, "lo", 1000L))
    val out = StatTests.postStratified(obs.toDF("variant", "st", "v"),
      "variant", "st", "v").collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("raw_mean_micro") == 1250000000L, out(0L).toString)
    assert(out(1L).getAs[Long]("raw_mean_micro") == 1750000000L, out(1L).toString)
    // pooled weights: both strata 120/240 -> ps mean = (2000+1000)/2
    assert(out(0L).getAs[Long]("poststrat_mean_micro")
        == out(1L).getAs[Long]("poststrat_mean_micro"),
      s"poststrat must equalize: ${out(0L)} vs ${out(1L)}")
    assert(out(0L).getAs[Long]("poststrat_mean_micro") == 1500000000L)
    assert(out(0L).getAs[Long]("missing_strata") == 0L)
  }

  test("groupSequential: planted drift crosses OBF at a late look; early looks hold") {
    import spark.implicits._
    // looks 1-2: arms identical (120 conv / 180 non each). Looks 3-5: arm
    // b's conversion collapses (20/280 per look) — the cumulative chi2
    // crosses the easier late boundaries but NOT at looks 1-2.
    val mk = (v: Long, c: Long, l: Long, n: Int) =>
      Seq.fill(n)((v, c, l))
    val units = ((1L to 2L).flatMap(l =>
        mk(0L, 1L, l, 120) ++ mk(0L, 0L, l, 180) ++
        mk(1L, 1L, l, 120) ++ mk(1L, 0L, l, 180)) ++
      (3L to 5L).flatMap(l =>
        mk(0L, 1L, l, 120) ++ mk(0L, 0L, l, 180) ++
        mk(1L, 1L, l, 20) ++ mk(1L, 0L, l, 280)))
      .toDF("variant", "conv", "look")
    val out = StatTests.groupSequential(units, "variant", "conv", "look")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("chisq_micro"), r.getAs[Boolean]("crossed"),
          r.getAs[Long]("stop_look"))))
      .toMap
    assert(out.size == 5)
    assert(!out(1L)._2 && !out(2L)._2, s"balanced looks must hold: $out")
    assert(out(4L)._2 && out(5L)._2, s"drifted tail must cross: $out")
    val stop = out(1L)._3
    assert(stop >= 3L && out(stop)._2, s"stop_look $stop inconsistent: $out")
    // boundary ladder is the OBF shape: monotone decreasing in k
    val bounds = StatTests.groupSequential(units, "variant", "conv", "look")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bound_micro")).toMap
    assert((1L to 4L).forall(k => bounds(k) > bounds(k + 1)), bounds.toString)
  }

  test("groupSequential: crossing is the exact product rule, not the floored bound") {
    import spark.implicits._
    // 2x2 at look 1 only (cumulative identical at every look):
    // arm a = 2 conv + 1 non, arm b = 0 conv + 1 non
    //   chisq_micro = 4*(2*1-0*1)^2*10^6 div (3*1*2*2) = 1333333.
    // With c2 = 888889, K = 3: c2K = 2666667 (odd). At look 2 the
    // FLOORED bound is 2666667 div 2 = 1333333 = chisq — the floored
    // rule says crossed — but the exact rule 1333333*2 = 2666666 <
    // 2666667 says hold (r12 ADVICE truncated-gap case). Look 3:
    // 1333333*3 = 3999999 >= 2666667 crosses under both.
    val units = (Seq.fill(2)((0L, 1L, 1L)) ++ Seq((0L, 0L, 1L)) ++
      Seq((1L, 0L, 1L))).toDF("variant", "conv", "look")
    val out = StatTests.groupSequential(units, "variant", "conv", "look",
        looks = 3, critC2Micro = 888889L)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("chisq_micro"), r.getAs[Long]("bound_micro"),
          r.getAs[Boolean]("crossed"), r.getAs[Long]("stop_look"))))
      .toMap
    assert(out(2L)._1 == 1333333L, s"setup drifted: $out")
    assert(out(2L)._1 == out(2L)._2 && !out(2L)._3,
      s"look-2 chisq equals the floored bound but the exact rule holds: $out")
    assert(!out(1L)._3 && out(3L)._3 && out(1L)._4 == 3L, out.toString)
  }

  test("winsorizedDelta: pooled-p99 cap neutralizes a planted whale; null family unchanged") {
    import spark.implicits._
    // 100 users per arm at 1000 cents, plus one 10^7-cent whale in arm 1:
    // the raw arm-1 mean is ~100x inflated; capped at the pooled p99 the
    // arms read nearly equal again
    val units = ((1L to 100L).map(i => (0L, 1000L + i % 3)) ++
      (1L to 99L).map(i => (1L, 1000L + i % 3)) :+ (1L, 10000000L))
      .toDF("variant", "v")
    val out = StatTests.winsorizedDelta(units, "variant", "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    val cap = out(0L).getAs[Long]("cap")
    assert(cap <= 1002L, s"pooled p99 must sit in the bulk, got $cap")
    val rawGap = out(1L).getAs[Long]("raw_mean_micro") -
      out(0L).getAs[Long]("raw_mean_micro")
    val winsGap = out(1L).getAs[Long]("wins_mean_micro") -
      out(0L).getAs[Long]("wins_mean_micro")
    assert(rawGap > 90000000000L, s"whale must inflate the raw gap: $rawGap")
    assert(math.abs(winsGap) < 1000000L,
      s"winsorized gap must collapse to the bulk difference: $winsGap")
    // all-below-cap family: winsorized == raw exactly
    val calm = (1L to 50L).map(i => (i % 2, 100L + i)).toDF("variant", "v")
    StatTests.winsorizedDelta(calm, "variant", "v", pMilli = 1000)
      .collect().foreach(r =>
        assert(r.getAs[Long]("raw_mean_micro") == r.getAs[Long]("wins_mean_micro"),
          r.toString))
  }

  test("densestSubgraph: empty input marks NO round best (zeros are never best)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val tr = GraphOps.densestSubgraph(empty, rounds = 2).collect()
    assert(tr.length == 3, tr.mkString(", "))
    assert(tr.forall(r => r.getLong(1) == 0L && !r.getBoolean(4)),
      s"empty graph rounds must not be flagged best: ${tr.mkString(", ")}")
  }

  test("bhFdr: planted signal rejected, step-up rescues an above-line rank, null family rejects nothing") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // m = 10, alpha = 0.5 -> step-up line is rank * 50000 micro.
    // rank 2 (p = 110000) exceeds ITS OWN line (100000) but rank 3
    // (140000 <= 150000) holds, so BH's step-up rejects ranks 1..3.
    val ps = Seq((1L, 10000L), (2L, 110000L), (3L, 140000L), (4L, 600000L),
      (5L, 700000L), (6L, 800000L), (7L, 850000L), (8L, 900000L),
      (9L, 950000L), (10L, 1000000L)).toDF("id", "p_micro")
    val out = StatTests.bhFdr(ps, "id", "p_micro", 500000L)
      .select(col("id"), col("p_rank"), col("rejected")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 10)
    assert(out.filter(_._3).map(_._1).sorted.sameElements(Seq(1L, 2L, 3L)),
      s"expected ids 1-3 rejected (step-up through rank 3): ${out.toSeq}")
    assert(out.find(_._1 == 2L).get._2 == 2L, "rank order broke")
    // q-values: suffix-min of min(1e6, m*p/k) — hand-computed:
    // v = (100000, 550000, 466666, capped 1e6 beyond), so q(1) = 100000,
    // q(2) = q(3) = 466666, q(>=4) = 1e6; rejected <=> q <= alpha here
    val qv = StatTests.bhFdr(ps, "id", "p_micro", 500000L)
      .select(col("p_rank"), col("q_value_micro")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(qv(1L) == 100000L && qv(2L) == 466666L && qv(3L) == 466666L,
      qv.toString)
    assert((4L to 10L).forall(qv(_) == 1000000L), qv.toString)
    // a uniform null family (p spread evenly above the line) rejects none
    val nul = (1L to 100L).map(i => (i, 10000L * i)).toDF("id", "p_micro")
    val r0 = StatTests.bhFdr(nul, "id", "p_micro", 50000L)
      .filter(col("rejected")).count()
    assert(r0 == 0L, s"null family produced $r0 rejections")
  }

  test("crossCellEdges: links land in secondary cells only, <= xK per cell; literal ≡ broadcast path") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.trainCentroids(emb)
    val xCells = 2; val xK = 3
    // the assignment stage + cross-edge cut the crossEdges memo runs
    def crossEdges(literalMax: Int) = SimilarityOps.crossEdgesFrom(
      SimilarityOps.assignWithSecondaries(
        SimilarityOps.prep(emb, "vec_id", "embedding"), cents, xCells,
        literalMax), xK).collect()
    val x = crossEdges(SimilarityOps.CentroidLiteralMax)
    assert(x.nonEmpty, "expected some cross-cell edges")
    // budget: at most xCells * xK long links per source
    val bySrc = x.groupBy(_.getLong(0))
    assert(bySrc.values.forall(_.length <= xCells * xK),
      s"per-src budget exceeded: ${bySrc.view.mapValues(_.length).toMap}")
    // a long link must CROSS the partition: src and nbr never share a
    // primary cell (nbr's cell is one of src's secondary cells)
    val cellOf = SimilarityOps.withArgmaxCell(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), cents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(x.forall(r => cellOf(r.getLong(0)) != cellOf(r.getLong(1))),
      "cross edge connected two vectors in the same primary cell")
    // the corpus-scaled branch (broadcast codebook + rank window) must
    // produce the identical edge set as the literal branch
    val xj = crossEdges(literalMax = 0)
    assert(x.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      xj.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "literal and broadcast cross-edge paths diverged")
  }

  test("entryLadder: base config at every oracle sf; mod by budget, beam/rounds by decade") {
    // base (mod 256, 3 rounds, beam 40) must hold at sf0.01 (n=500)
    // and sf0.1 (n=2000) — the static DuckDB oracle bakes those
    // constants in
    assert(SimilarityOps.entryLadder(500L) == ((256L, 3, 40)))
    assert(SimilarityOps.entryLadder(2000L) == ((256L, 3, 40)))
    // beam/rounds step per DECADE of corpus (sf1/sf10 calibration:
    // fixed beam decays with n regardless of entries/rounds — 40/120
    // read 0.79/0.72 a decade past their calibration, 120/360 restore
    // 0.97/0.94); ceil is the recall-safe rounding between decades
    assert(SimilarityOps.entryLadder(20000L) == ((4096L, 4, 120)))
    assert(SimilarityOps.entryLadder(200000L) == ((4096L, 5, 360)))
    assert(SimilarityOps.entryLadder(5000L) == ((256L, 4, 120)))
    // entry mod follows the 64-candidate cost budget independently
    assert(SimilarityOps.entryLadder(256L * 64) == ((256L, 4, 120)))
    assert(SimilarityOps.entryLadder(256L * 64 + 256) == ((4096L, 4, 120)))
    assert(SimilarityOps.entryLadder(4096L * 64 + 4096) == ((65536L, 6, 1080)))
  }

  test("graphAnnSearch: k ranked rows per query; beam result dominates entry-only scoring") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.trainCentroids(emb)
    // the kNN memo's build: shared assignment stage, intra-cell top-k cut
    val edges = SimilarityOps.knnEdgesFrom(SimilarityOps.assignWithSecondaries(
        SimilarityOps.prep(emb, "vec_id", "embedding"), cents, 2)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell")), 3)
    val queries = emb.filter(col("vec_id") < 5)
    val entries = emb.filter(col("vec_id") % 50 === 0)
    val out = SimilarityOps.graphAnnSearch(emb, queries, entries, edges,
      k = 5, beam = 8, rounds = 2).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 5 && byQ.values.forall(_.map(_.getInt(1)).sorted.sameElements(1 to 5)),
      "each query must emit ranks 1..k")
    // the final beam is drawn from a superset of the entry candidates, so
    // its best hit is at least as good as scoring the entry set alone
    val entryBest = SimilarityOps.cosineTopK(entries, queries, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val beamBest = out.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(entryBest.keySet.forall(q => beamBest(q) >= entryBest(q) - 1e-12),
      s"beam search lost to its own entry round: $beamBest vs $entryBest")
  }

  test("cohensD: equal means score 0; known two-point samples exact") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val eq = Seq((10L, true), (20L, true), (10L, false), (20L, false))
      .toDF("v", "one")
    val r0 = StatTests.cohensD(eq, "v", col("one")).collect().head
    assert(r0.getLong(2) == 0L, r0.toString)
    // samples {0,2} vs {10,12}: dm = 10000 milli-cents, s_p^2 = 2 cents^2
    // -> d^2 = 50 exactly -> -50e6 signed (first sample is the smaller)
    val kn = Seq((0L, true), (2L, true), (10L, false), (12L, false))
      .toDF("v", "one")
    val r1 = StatTests.cohensD(kn, "v", col("one")).collect().head
    assert(r1.getLong(2) == -50000000L, r1.toString)
  }

  test("anovaF: identical groups score F=0; separated groups reject") {
    import spark.implicits._
    val same = Seq(("a", 5L), ("a", 7L), ("b", 5L), ("b", 7L))
      .toDF("g", "v")
    val r0 = StatTests.anovaF(same, "g", "v", critMilli = 2372L).collect().head
    assert(r0.getLong(4) == 0L && !r0.getBoolean(5), r0.toString)
    val sep = Seq.tabulate(40)(i =>
      (if (i % 2 == 0) "a" else "b", if (i % 2 == 0) 100L + i % 4 else 200L + i % 4))
      .toDF("g", "v")
    val r1 = StatTests.anovaF(sep, "g", "v", critMilli = 2372L).collect().head
    assert(r1.getBoolean(5), r1.toString)
  }

  test("simpsonDiversity: single category 0 bp, uniform k categories exact") {
    import spark.implicits._
    val rows = Seq(("one", "x"), ("one", "x"), ("one", "x"),
      ("uni", "x"), ("uni", "y"), ("uni", "z"))
      .toDF("g", "c")
    val out = StatTests.simpsonDiversity(rows, "g", "c")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // uniform over 3 with n=3: 1 - 0 = 1 (no same-pair draws) -> 10000
    assert(out == Map("one" -> 0L, "uni" -> 10000L), out.toString)
  }

  test("percentileRank: inclusive ECDF exact, ties share the upper rank") {
    import spark.implicits._
    val rows = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L))
      .toDF("id", "v")
    val out = TextOps.percentileRank(rows, "id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 5000L, 2L -> 5000L, 3L -> 7500L, 4L -> 10000L),
      out.toString)
  }

  test("randomWalks: deterministic, correct length, every hop is an edge") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("node")
    val w1 = GraphOps.randomWalks(edges, seeds, steps = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w2 = GraphOps.randomWalks(edges, seeds, steps = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w1.sameElements(w2), "walks must be deterministic")
    assert(w1.length == 2 * 4, s"2 seeds x 4 positions: ${w1.length}")
    val edgeSet = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
    val bySeed = w1.groupBy(_._1).values
    bySeed.foreach { walk =>
      val path = walk.sortBy(_._2).map(_._3)
      path.zip(path.tail).foreach { hop =>
        assert(edgeSet.contains(hop), s"non-edge hop $hop in $path")
      }
    }
  }

  test("pcaPowerTop: recovers the dominant axis of a rank-1 cloud exactly") {
    import spark.implicits._
    // every vector is a multiple of (1, 0.25, 0): the second-moment matrix
    // is rank 1 and power iteration must land on that axis in one round —
    // v_int = (1e6, 25e4, 0) on the L-infinity grid
    val vecs = Seq(
      (1L, Seq(1.0f, 0.25f, 0.0f)), (2L, Seq(-2.0f, -0.5f, 0.0f)),
      (3L, Seq(0.5f, 0.125f, 0.0f)))
      .toDF("vid", "emb")
    val out = SimilarityOps.pcaPowerTop(vecs, idCol = "vid", vecCol = "emb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1000000L, 1L -> 250000L, 2L -> 0L), out.toString)
  }

  test("spearmanBp: monotone ±1 exactly, tie-averaged double-ranks exact") {
    import spark.implicits._
    val rows = Seq(
      ("up", 1L, 10L), ("up", 2L, 20L), ("up", 3L, 30L),
      ("down", 1L, 30L), ("down", 2L, 20L), ("down", 3L, 10L),
      // ties in both columns: double-ranks (3,3,6), still a perfect
      // monotone relation -> rho^2 = 1
      ("tie", 1L, 5L), ("tie", 1L, 5L), ("tie", 2L, 9L))
      .toDF("g", "x", "y")
    val out = StatTests.spearmanBp(rows, "g", "x", "y")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("up" -> 10000L, "down" -> -10000L, "tie" -> 10000L),
      out.toString)
  }

  test("cramersV: perfect association v2=1, independence v2=0, exact nano") {
    import spark.implicits._
    val assoc = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("u", "v")
    val r1 = StatTests.cramersV(assoc, "u", "v").collect().head
    // chi2 = N for a perfect 2x2 -> nano = 1e9 * 4; V^2 = 1
    assert(r1.getLong(3) == 4000000000L && r1.getLong(4) == 10000L, r1.toString)
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "v")
    val r2 = StatTests.cramersV(indep, "u", "v").collect().head
    assert(r2.getLong(3) == 0L && r2.getLong(4) == 0L, r2.toString)
  }

  test("dupNgramRate: cross-doc shingles count as dup, unique corpus scores 0") {
    import spark.implicits._
    val d = Seq(
      (1L, "A", "a b c d"), (2L, "A", "a b c d"),  // both shingles shared
      (3L, "B", "x y z"))                          // lone shingle, unique
      .toDF("id", "src", "body")
    val out = TextOps.dupNgramRate(d, idCol = "id", textCol = "body",
        groupCol = "src")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList.sortBy(_._1)
    assert(out == List(("A", 4L, 4L, 10000L), ("B", 1L, 0L, 0L)), out.toString)
  }

  test("aucRoc: perfect separation scores 10000 bp; ties earn half credit") {
    import spark.implicits._
    val perfect = Seq((1L, false), (2L, false), (3L, true), (4L, true))
      .toDF("sc", "lab")
    val r1 = EvalOps.aucRoc(perfect, "sc", "lab").collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3))
      == ((2L, 2L, 10000L, 10000L)), r1.toString)
    // positives {2,3} vs negatives {1,2}: U1 = 1 + 0.5 + 1 + 1 = 3.5 of 4
    val tied = Seq((1L, false), (2L, true), (2L, false), (3L, true))
      .toDF("sc", "lab")
    val r2 = EvalOps.aucRoc(tied, "sc", "lab").collect().head
    assert(r2.getLong(2) == 8750L && r2.getLong(3) == 7500L, r2.toString)
  }

  test("prCurve: keep-all bin has full recall, boundary bin full precision") {
    import spark.implicits._
    val d = (0L to 9L).map(s => (s, s >= 5L)).toDF("sc", "lab")
    val rows = EvalOps.prCurve(d, "sc", "lab", bins = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // threshold at bin 0 keeps everything: precision 50%, recall 100%
    assert(rows(0L) == ((5L, 10L, 5000L, 10000L, 6666L)), rows(0L).toString)
    // threshold at bin 5 keeps exactly the positives: both 100%
    assert(rows(5L) == ((5L, 5L, 10000L, 10000L, 10000L)), rows(5L).toString)
  }

  test("cohenKappa: perfect agreement is 10000 bp; 8/10 with even margins is 6000") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val same = Seq((true, true), (false, false), (true, true))
      .toDF("a", "b")
    val r1 = EvalOps.cohenKappa(same, col("a"), col("b")).collect().head
    assert(r1.getLong(6) == 10000L, r1.toString)
    val mixed = Seq(
      (1, 1), (1, 1), (1, 1), (1, 1), (1, 0),
      (0, 1), (0, 0), (0, 0), (0, 0), (0, 0))
      .toDF("a", "b")
    val r2 = EvalOps.cohenKappa(mixed, col("a") === 1, col("b") === 1)
      .collect().head
    // po = 0.8, pe = 0.5 -> kappa = 0.6
    assert(r2.getLong(4) == 8000L && r2.getLong(5) == 5000L
      && r2.getLong(6) == 6000L, r2.toString)
  }

  test("bradleyTerry2: transitive 3-item tournament ranks A > B > C with exact MM ratings") {
    import spark.implicits._
    val battles = Seq.fill(3)(("A", "B")) ++ Seq.fill(3)(("B", "C")) ++
      Seq.fill(3)(("A", "C"))
    val out = EvalOps.bradleyTerry2(battles.toDF("w", "l"), "w", "l")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    // step 1 from uniform: m = 2e6 / 1e6 / 0; step 2 refines A up, B down
    assert(out == List(
      ("A", 6L, 6L, 2000000L, 2400000L),
      ("B", 3L, 6L, 1000000L, 750000L),
      ("C", 0L, 6L, 0L, 0L)), out.toString)
  }

  test("sourceTvd: identical sources at 0, disjoint vocabularies at 1e6") {
    import spark.implicits._
    val d = Seq(
      ("s1", "a a b b"), ("s2", "a a b b"),   // identical distributions
      ("s3", "c d"))                          // disjoint from both
      .toDF("src", "body")
    val out = PairOps.sourceTvd(d, groupCol = "src", textCol = "body")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(out == List(("s1", "s2", 0L), ("s1", "s3", 1000000L),
      ("s2", "s3", 1000000L)), out.toString)
  }

  test("preferencePairs: best pairs with worst, sub-gap mirror pair dropped") {
    import spark.implicits._
    val scored = Seq(
      (1L, 40L, "en"), (2L, 30L, "en"), (3L, 20L, "en"), (4L, 10L, "en"))
      .toDF("id", "s", "blk")
    val out = PairOps.preferencePairs(scored, Seq("blk"), "id", "s", minGap = 15L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).toList
    // mirror pairs are (1↔4, gap 30) and (2↔3, gap 10 < 15 → dropped)
    assert(out == List((1L, 4L, 30L)), out.toString)
  }

  test("kneserNey: continuation mass flows through the interpolation exactly") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, "c b")).toDF("post_id", "body")
    val out = VocabOps.kneserNey(d, topK = 2, idCol = "post_id", textCol = "body")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    // P_KN(b|a) = (1-¾)/1 + ¾·1·P_cont(b) with P_cont(b) = 2/2 = 1 → exactly 1.0
    assert(out == List(("a", "b", 1L, 1L, 1000000L),
      ("c", "b", 1L, 1L, 1000000L)), out.toString)
  }

  test("boundedBetweenness: the middle of a path carries exactly 2.0, endpoints 0") {
    import spark.implicits._
    // path 1 - 2 - 3, symmetrized; landmarks = all three nodes
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("s", "d")
    val seeds = Seq(1L, 2L, 3L).toDF("n")
    // the qg_betweenness chain: landmark BFS → shortest-path DAG → sweep
    val bfs = GraphOps.landmarkDistances(edges, seeds, maxHops = 2,
        srcCol = "s", dstCol = "d", seedCol = "n")
    val dag = GraphOps.pathDag(bfs, edges.toDF("src", "dst"))
    val out = GraphOps.betweennessFromDag(dag, bfs, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 2 sits on the 1→3 and 3→1 shortest paths: δ = 10⁶ from each root
    assert(out == Map(1L -> 0L, 2L -> 2000000L, 3L -> 0L), out.toString)
  }

  test("shapleyAttribution: hand-built lattice matches the closed form and efficiency") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(s * 1000L)
    // coalitions: u1 {a}→high, u2 {b}→low, u3 {a,b}→high, u4 {}→no conv
    val ev = Seq(
      (1L, "a", t(1), 0.0), (1L, "conv", t(2), 10.0),
      (2L, "b", t(1), 0.0), (2L, "conv", t(2), 1.0),
      (3L, "a", t(1), 0.0), (3L, "b", t(2), 0.0), (3L, "conv", t(3), 10.0),
      (4L, "x", t(1), 0.0))
      .toDF("user_id", "event_type", "ts", "value")
    val out = EventsQueries.shapleyAttribution(ev, Seq("a", "b"), "conv")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // v(∅)=0, v({a})=v({a,b})=10⁶, v({b})=0 → φ_a = 10⁶, φ_b = 0;
    // efficiency: φ_a + φ_b = v(full) − v(∅)
    assert(out == Map("a" -> ((2000000L, 1000000L)), "b" -> ((0L, 0L))),
      out.toString)
  }

  test("kTruss: cliques survive the peel, the lone triangle does not") {
    import spark.implicits._
    // two 4-cliques {1..4} and {4..7} sharing vertex 4, plus a separate
    // triangle {8,9,10}: at k=4 (support >= 2) every clique edge sits in
    // 2 in-subgraph triangles and survives; the lone triangle's edges
    // have support 1 and peel off in round 1
    def clique(vs: Seq[Long]) =
      for { i <- vs.indices; j <- i + 1 until vs.size } yield (vs(i), vs(j))
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(4L, 5L, 6L, 7L)) ++
      Seq((8L, 9L), (9L, 10L), (8L, 10L))).toDF("u", "v")
    val out = GraphOps.kTruss(edges, k = 4, rounds = 3, srcCol = "u",
        dstCol = "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val surviving = out.map(e => (e._1, e._2)).toSet
    assert(surviving == (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(4L, 5L, 6L, 7L))).toSet, out.toList.toString)
    assert(out.forall(_._3 == 2), out.toList.toString)
  }

  test("mcNemar: continuity-corrected chi-square on discordant pairs only") {
    import spark.implicits._
    // 6 discordant rows all favoring A (b=6, c=0): chi2 = 25/6 = 4.1666,
    // over the df=1 critical 3.841459 → reject; concordant rows are inert
    val rows = (1 to 6).map(_ => (1, 1, 0)) ++ (1 to 50).map(_ => (1, 1, 1))
    val df = rows.toDF("y", "pa", "pb")
    val out = EvalOps.mcNemar(df,
      org.apache.spark.sql.functions.col("y"),
      org.apache.spark.sql.functions.col("pa"),
      org.apache.spark.sql.functions.col("pb")).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getBoolean(4)) == ((56L, 6L, 0L, 4166666L, true)), out.toString)
    // zero discordance → null statistic, null decision
    val t = EvalOps.mcNemar(Seq((1, 1, 1)).toDF("y", "pa", "pb"),
      org.apache.spark.sql.functions.col("y"),
      org.apache.spark.sql.functions.col("pa"),
      org.apache.spark.sql.functions.col("pb")).collect().head
    assert(t.isNullAt(3) && t.isNullAt(4), t.toString)
  }

  test("kaplanMeier: censored users leave the risk set without an event") {
    import spark.implicits._
    def t(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // lifetimes: a,b die at day 1; c dies at day 2; d (days 7→10) is
    // censored (last within 2 days of the corpus max, day 10)
    val ev = Seq(
      (1L, t(0)), (1L, t(1)), (2L, t(0)), (2L, t(1)),
      (3L, t(0)), (3L, t(2)), (4L, t(7)), (4L, t(10)))
      .toDF("user_id", "ts")
    val out = EventsQueries.kaplanMeier(ev, censorDays = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    assert(out == List(
      (1, 4L, 2L, 0L, 500000L),    // S = 2/4
      (2, 2L, 1L, 0L, 250000L),    // S = 1/2 · 1/2
      (3, 1L, 0L, 1L, 250000L)),   // censoring alone never moves S
      out.toString)
  }

  test("contentChunkStats: chunks realign after a prefix edit (shift invariance)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val a = (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val b = "zzzzz" + a // 5-byte prefix: misaligns every fixed-stride frame
    val df = Seq((1L, "s", a), (2L, "s", b)).toDF("doc_id", "source", "text")
    val out = DedupOps.contentChunkStats(df).collect().head
    val (nChunks, nDistinct, totalBytes, dupBytes) =
      (out.getLong(2), out.getLong(3), out.getLong(4), out.getLong(5))
    assert(totalBytes == 805, out.toString)
    // every chunk of `a` after its first content-defined boundary
    // reappears bit-identically in `b` — the bulk of the bytes dedup
    assert(dupBytes * 2 > totalBytes / 2,
      s"shift invariance lost: dup=$dupBytes of $totalBytes")
    assert(nDistinct < nChunks)
    // degenerate input: shorter than the window → one whole-doc chunk
    val tiny = Seq((1L, "s", "abc")).toDF("doc_id", "source", "text")
    val t = DedupOps.contentChunkStats(tiny).collect().head
    assert(t.getLong(2) == 1 && t.getLong(4) == 3, t.toString)
  }

  test("audioFingerprint: shifted copy wins the delta vote; aligned join would miss it") {
    import spark.implicits._
    val payload = ("the quick brown fox jumps over the lazy dog " * 6).getBytes("UTF-8")
    val shifted = (new String(Array.fill(64)('x')) + new String(payload, "UTF-8"))
      .getBytes("UTF-8")
    val assets = Seq((1L, payload), (2L, shifted)).toDS()
    val out = MultimodalOps.audioFingerprint(assets, stride = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // 64 bytes = exactly 2 frame slots at stride 32 → every landmark of
    // doc 1 reappears in doc 2 at anchor + 2 → winning Δ = i1 − i2 = −2
    assert(out.length == 1 && out.head._1 == 1L && out.head._2 == 2L &&
      out.head._3 == -2, out.toList.toString)
    // the aligned-frame rule (videoNearDup) sees no identical frame at
    // any SAME index — zero matches on the same fixture
    val aligned = MultimodalOps.videoNearDup(assets, stride = 32)
    assert(aligned.count() == 0)
  }

  test("localClustering: triangle with a pendant gives cc 1/3 and 1.0 buckets") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4-1: cc(1) = 2/(3·2) = 1/3 → 3333 bp,
    // cc(2) = cc(3) = 1 → 10000 bp, node 4 (d=1) excluded
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    val out = GraphOps.localClustering(edges, srcCol = "u", dstCol = "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    assert(out == List((3L, 1L, 3333L, 3333L), (10L, 2L, 10000L, 10000L)),
      out.toString)
  }

  test("kruskalWallis: tie-free hand case gives H = 2.4 exactly") {
    import spark.implicits._
    // groups {1,2} and {3,4}: ranks 1..4, R1 = 3, R2 = 7, S = 29,
    // H = 12/(4·5)·29 − 3·5 = 2.4; no ties so H' = H
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("g", "x")
    val out = StatTests.kruskalWallis(df, "x", "g").collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4), out.getBoolean(5)) ==
      ((4L, 2L, 0L, 2400000L, 2400000L, false)), out.toString)
  }

  test("randomizedResponse: debias identities hold and mechanism is deterministic") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 3 == 0))
    val df = rows.toDF("rid", "grp", "bit")
    def run() = ProfileOps.randomizedResponse(df, "rid", "grp",
        org.apache.spark.sql.functions.col("bit"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    val out = run()
    assert(out.map(_._1) == List("a", "b"))
    out.foreach { case (_, n, truePos, obs, est, err) =>
      assert(est == 4 * obs - n)            // debias closed form, x2 units
      assert(err == est - 2 * truePos)      // realized error definition
      assert(obs >= 0 && obs <= n)
    }
    // flips come from the row-id hash, not from runtime randomness
    assert(out == run())
  }

  test("fellegiSunter: hand-computed u-probabilities and ratio chain") {
    import spark.implicits._
    // N=4, q=12; u_brand = 4/12, u_type = 6/12, u_size = 2/12 (no
    // adjacent sizes) → wb1 = 1e6·19·12/(20·4) = 2_850_000, wb0 = 75_000,
    // ws1 = 5_400_000, ws0 = 120_000, wt1 = 1_800_000, wt0 = 200_000.
    val recs = Seq(
      (1L, "x", "A", 1, "T"), (2L, "x", "A", 1, "T"),
      (3L, "x", "B", 5, "U"), (4L, "x", "B", 9, "T"))
      .toDF("rid", "blk", "brand", "sz", "typ")
    val out = MatchOps.fellegiSunter(recs, idCol = "rid", blockCol = "blk",
        brandCol = "brand", sizeCol = "sz", typeCol = "typ")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(5), r.getString(6)))).toMap
    assert(out == Map(
      7L -> ((1L, 27702000L, "possible")),   // (1,2): 2.85e6→15.39e6→27.702e6
      4L -> ((1L, 68400L, "non_match")),     // (3,4): brand only
      1L -> ((2L, 16200L, "non_match")),     // (1,4),(2,4): type only
      0L -> ((2L, 1800L, "non_match"))),     // (1,3),(2,3): all disagree
      out.toString)
  }

  test("isotonicCalibration: adjacent violators pool to their weighted mean") {
    import spark.implicits._
    // scores land in 4 equal-width bins (0..3); rates 0%, 60%, 40%, 100%
    // — bins 1 and 2 violate monotonicity and must pool to
    // (3+2)/(5+5) = 50%; bins 0 and 3 stay at their raw rates.
    val rows =
      (1 to 5).map(i => (0, 0)) ++                  // bin 0: 0/5
      (1 to 5).map(i => (10, if (i <= 3) 1 else 0)) ++ // bin 1: 3/5
      (1 to 5).map(i => (20, if (i <= 2) 1 else 0)) ++ // bin 2: 2/5
      (1 to 5).map(i => (30, 1))                    // bin 3: 5/5
    val df = rows.toDF("score", "label")
    val out = LearnOps.isotonicCalibration(df, "score", "label", bins = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toList
    assert(out == List(
      (0L, 0L, 0L),
      (1L, 600000L, 500000L),
      (2L, 400000L, 500000L),
      (3L, 1000000L, 1000000L)), out.toString)
    // monotone by construction
    assert(out.map(_._3) == out.map(_._3).sorted)
  }

  test("zipfSurprisal: gamma bits follow corpus ranks; terciles split head/tail") {
    import spark.implicits._
    // counts: a=4 (rank 1, 1 bit), b=2 (rank 2, 3 bits), c=1 (rank 3, 3
    // bits), d=1 (rank 4, 5 bits) — count ties broken by token asc
    val d = Seq(
      (1L, "a a a a"),      // bits 4,  mbpt 1000  -> head
      (2L, "a b b"),        // bits 7,  mbpt 2333  -> middle (t1=1000, t2=2333)
      (3L, "c d"))          // bits 8,  mbpt 4000  -> tail
      .toDF("post_id", "body")
    val out = VocabOps.zipfSurprisal(d, idCol = "post_id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toList
    assert(out == List(
      (1L, 4L, 4L, 1000L, "head"),
      (2L, 3L, 7L, 2333L, "middle"),
      (3L, 2L, 8L, 4000L, "tail")), out.toString)
  }

  test("bleuNgramPrecision: hand-checked clipped counts on custom columns") {
    import spark.implicits._
    // pair 1: cand "the cat the cat" vs ref "the cat sat"
    //   unigrams: the×2→clip 1, cat×2→clip 1          => m1 += 2 of t1 4
    //   bigrams: "the cat"×2→clip 1, "cat the"×1→0    => m2 += 1 of t2 3
    // pair 2: cand "a b" vs ref "a b"                  => m1 += 2, m2 += 1
    val pairs = Seq(
      (1L, "the cat the cat", "the cat sat"),
      (2L, "a b", "a b")).toDF("pid", "hyp", "gold")
    val r = EvalOps.bleuNgramPrecision(pairs, pairCol = "pid",
      candCol = "hyp", refCol = "gold").collect()(0)
    assert(r.getAs[Long]("cand_tokens") == 6L && r.getAs[Long]("ref_tokens") == 5L)
    assert(r.getAs[Long]("m1") == 4L, r.toString)
    assert(r.getAs[Long]("p1_bp") == 10000L * 4 / 6, r.toString)
    assert(r.getAs[Long]("t2") == 4L && r.getAs[Long]("m2") == 2L, r.toString)
    assert(r.getAs[Long]("p2_bp") == 5000L, r.toString)
  }

  test("wilsonCi: bounds bracket the rate and match the closed form") {
    import spark.implicits._
    val d = Seq(("a", 1), ("a", 0), ("a", 0), ("a", 0), ("b", 1), ("b", 1))
      .toDF("grp", "ok")
    val out = StatTests.wilsonCi(d, org.apache.spark.sql.functions.col("grp"),
        org.apache.spark.sql.functions.col("ok"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    def golden(n: Long, s: Long): (Long, Long) = {
      val c = 10000.0 * (s + 1.9208) / (n + 3.8416)
      val h = 10000.0 * 1.96 * math.sqrt(s.toDouble * (n - s) / n + 0.9604) / (n + 3.8416)
      (math.floor(c - h).toLong, math.floor(c + h).toLong)
    }
    out.foreach { case (g, n, s, rate, lo, hi) =>
      val (glo, ghi) = golden(n, s)
      assert((lo, hi) == ((glo, ghi)), s"$g: ($lo,$hi) vs golden ($glo,$ghi)")
      assert(lo <= rate && rate <= hi, s"$g: rate $rate outside [$lo,$hi]")
      assert(lo >= 0 && hi <= 10000, s"$g: Wilson bounds left [0,1]: $lo,$hi")
    }
    assert(out.map(_._1).toSeq == Seq("a", "b"))
  }

  test("epanechnikovKde: exact polynomial kernel mass at each grid point") {
    import spark.implicits._
    // points 5,10,15; grid {10}, h=10: contributions (10²-5²)=75, 100, 75
    val d = Seq(5L, 10L, 15L).toDF("v")
    val out = StatTests.epanechnikovKde(d, org.apache.spark.sql.functions.col("v"),
        gridStart = 10L, gridEnd = 10L, gridStep = 10L, h = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(out == List((10L, 3L, 250L)), out.toString)
  }

  test("cliffsDelta: dominance counts with tie cancellation") {
    import spark.implicits._
    // x=[3,5] vs y=[1,5]: #(x>y)=2, #(x<y)=1, tie cancels -> delta = 1/4
    val d = Seq((3.0, 1), (5.0, 1), (1.0, 0), (5.0, 0)).toDF("v", "one")
    val out = StatTests.cliffsDelta(d, "v",
      org.apache.spark.sql.functions.col("one") === 1).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      == ((2L, 2L, 1L, 250L)), out.toString)
    // total dominance and total reversal hit the [-1000, 1000] ends
    val hi = Seq((9.0, 1), (1.0, 0)).toDF("v", "one")
    assert(StatTests.cliffsDelta(hi, "v",
      org.apache.spark.sql.functions.col("one") === 1)
      .collect().head.getLong(3) == 1000L)
    val lo = Seq((1.0, 1), (9.0, 0)).toDF("v", "one")
    assert(StatTests.cliffsDelta(lo, "v",
      org.apache.spark.sql.functions.col("one") === 1)
      .collect().head.getLong(3) == -1000L)
  }

  test("kendallW: perfect concordance hits 1000 milli; W = Q/(n(k-1))") {
    import spark.implicits._
    val perf = Seq(
      ("j1", "a", 10L), ("j1", "b", 20L), ("j1", "c", 30L),
      ("j2", "a", 1L), ("j2", "b", 2L), ("j2", "c", 3L),
      ("j3", "a", 5L), ("j3", "b", 6L), ("j3", "c", 7L))
      .toDF("j", "it", "v")
    val out = EvalOps.kendallW(perf, "j", "it",
      org.apache.spark.sql.functions.col("v")).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      == ((3L, 3L, 6000000L, 1000L)), out.toString)
  }

  test("jonckheereTerpstra: brute-force hand case with ties, composed floors") {
    import spark.implicits._
    // groups (hypothesized ascending): g1=[1,3,3,5] g2=[2,3,6] g3=[4,6,8,8,9]
    // brute-force reference: 2*JT = 79, dev_x4 = 2*79 - (144-50) = 64,
    // w16 = 712 + 0 + 5 = 717 (composed floors; exact 16*Var = 717.94),
    // z2_milli = 4096000 // 717 = 5712 (> 3841: the planted trend rejects)
    val d = Seq((1L, 1), (3L, 1), (3L, 1), (5L, 1),
      (2L, 2), (3L, 2), (6L, 2),
      (4L, 3), (6L, 3), (8L, 3), (8L, 3), (9L, 3))
      .toDF("v", "g")
    val out = StatTests.jonckheereTerpstra(d,
      org.apache.spark.sql.functions.col("v"),
      org.apache.spark.sql.functions.col("g"), k = 3).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getBoolean(4)) == ((12L, 79L, 64L, 5712L, true)), out.toString)
    // no-trend twin: identical distributions -> dev 0, z2 = 0
    val flat = Seq((1L, 1), (2L, 1), (1L, 2), (2L, 2)).toDF("v", "g")
    val f = StatTests.jonckheereTerpstra(flat,
      org.apache.spark.sql.functions.col("v"),
      org.apache.spark.sql.functions.col("g"), k = 2).collect().head
    assert(f.getLong(2) == 0L && f.getLong(3) == 0L, f.toString)
  }

  test("cochranArmitage: linear dose-response hand case, z2 = T2N/(d1 d2)") {
    import spark.implicits._
    // doses 1,2,3 with (n,r) = (4,1),(4,2),(4,3): T_N = 24, d1 = 36,
    // d2 = 96 -> z2 = 576*12/3456 = 2.000 exactly
    val rows = Seq.tabulate(4)(_ => (1, true)).take(1) ++
      Seq.fill(3)((1, false)) ++ Seq.fill(2)((2, true)) ++
      Seq.fill(2)((2, false)) ++ Seq.fill(3)((3, true)) ++ Seq((3, false))
    val d = rows.toDF("g", "y")
    val out = StatTests.cochranArmitage(d,
      org.apache.spark.sql.functions.col("g"),
      org.apache.spark.sql.functions.col("y"), k = 3).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getBoolean(4)) == ((12L, 6L, 24L, 2000L, false)), out.toString)
    // reversed dose order flips the trend sign, same z2
    val rev = StatTests.cochranArmitage(d,
      org.apache.spark.sql.functions.expr("4 - g"),
      org.apache.spark.sql.functions.col("y"), k = 3).collect().head
    assert(rev.getLong(2) == -24L && rev.getLong(3) == 2000L, rev.toString)
  }

  test("moodMedian: 2xk table at the pooled lower median, composed floors") {
    import spark.implicits._
    // A = [1,3,5], B = [2,4,6,7]: N = 7, lower median = 4; above: A 1/3,
    // B 2/4 -> chi2 = (1/12)(4/3 + 4/4) = 0.1944 -> 194 milli
    val d = Seq((1L, "A"), (3L, "A"), (5L, "A"),
      (2L, "B"), (4L, "B"), (6L, "B"), (7L, "B")).toDF("v", "g")
    val out = StatTests.moodMedian(d, "v", "g", criticalMilli = 3841L)
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getBoolean(4)) == ((7L, 4L, 3L, 194L, false)), out.toString)
  }

  test("cramerVonMises: pooled squared-ECDF-gap integral, exact milli") {
    import spark.implicits._
    // x = [1,2], y = [2,3]: omega2 = (4 + 2*4 + 0)/(16*4) = 0.1875
    val d = Seq((1L, 1), (2L, 1), (2L, 0), (3L, 0)).toDF("v", "one")
    val out = StatTests.cramerVonMises(d, "v",
      org.apache.spark.sql.functions.col("one") === 1).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getBoolean(3))
      == ((2L, 2L, 187L, false)), out.toString)
    // identical samples -> zero statistic
    val same = Seq((5L, 1), (9L, 1), (5L, 0), (9L, 0)).toDF("v", "one")
    assert(StatTests.cramerVonMises(same, "v",
      org.apache.spark.sql.functions.col("one") === 1)
      .collect().head.getLong(2) == 0L)
  }

  test("pageTrend: tie-corrected permutation variance, doubled midranks") {
    import spark.implicits._
    // b1: 10<20<30 (r2 = 2,4,6), b2: 5=5<9 (r2 = 3,3,6): L2 = 55,
    // E = 48, dev = 7, SS = 8+6 = 14, Var(L2) = 14 -> z2 = 3.5 exactly
    val d = Seq(("b1", 1, 10L), ("b1", 2, 20L), ("b1", 3, 30L),
      ("b2", 1, 5L), ("b2", 2, 5L), ("b2", 3, 9L)).toDF("blk", "j", "v")
    val out = StatTests.pageTrend(d, "blk",
      org.apache.spark.sql.functions.col("j"),
      org.apache.spark.sql.functions.col("v"), k = 3).collect().head
    assert((out.getLong(0), out.getInt(1), out.getLong(2), out.getLong(3),
      out.getLong(4), out.getBoolean(5)) == ((2L, 3, 55L, 7L, 3500L, false)),
      out.toString)
    // incomplete blocks are dropped: adding a 2-treatment block changes nothing
    val d2 = d.union(Seq(("b3", 1, 1L), ("b3", 2, 2L)).toDF("blk", "j", "v"))
    val out2 = StatTests.pageTrend(d2, "blk",
      org.apache.spark.sql.functions.col("j"),
      org.apache.spark.sql.functions.col("v"), k = 3).collect().head
    assert(out2.getLong(0) == 2L && out2.getLong(4) == 3500L, out2.toString)
  }

  test("brunnerMunzel: placement moments from one scan, hand-checked W2") {
    import spark.implicits._
    // x = [1,2,3], y = [2,3,4,5]: placements P2x = 0,1,3 / P2y = 3,5,6,6;
    // p_hat = 20/24, U1 = 14, U2 = 24, D = 56 ->
    // W2 = (7/3)^2*144 / (49*(3*(14/24)+4*(24/48))) = 4.2667 -> 4266 milli
    val d = Seq((1L, 1), (2L, 1), (3L, 1),
      (2L, 0), (3L, 0), (4L, 0), (5L, 0)).toDF("v", "one")
    val out = StatTests.brunnerMunzel(d, "v",
      org.apache.spark.sql.functions.col("one") === 1).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getBoolean(4)) == ((3L, 4L, 833L, 4266L, true)), out.toString)
    // stochastic equality: mirrored samples give p = 1/2, W2 = 0
    val sym = Seq((1L, 1), (3L, 1), (1L, 0), (3L, 0)).toDF("v", "one")
    val s = StatTests.brunnerMunzel(sym, "v",
      org.apache.spark.sql.functions.col("one") === 1).collect().head
    assert(s.getLong(2) == 500L && s.getLong(3) == 0L, s.toString)
  }

  test("hodgesLehmannShift: exact order statistic over implicit pairs") {
    import spark.implicits._
    val one = org.apache.spark.sql.functions.col("one") === 1
    // x = [1,5], y = [0,2]: diffs sorted = -1,1,3,5 -> lower median = 1
    val d = Seq((1L, 1), (5L, 1), (0L, 0), (2L, 0)).toDF("v", "one")
    val out = StatTests.hodgesLehmannShift(d, "v", one).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      == ((2L, 2L, 4L, 1L)), out.toString)
    // deterministic pseudo-random 60x45 sample (with ties) vs brute force,
    // at 3 probes/round to force several bracket rounds
    val xs = (1 to 60).map(i => ((i * 7919L) % 257) - 60)
    val ys = (1 to 45).map(i => ((i * 104729L) % 311) - 40)
    val df = (xs.map((_, 1)) ++ ys.map((_, 0))).toDF("v", "one")
    val brute = (for (a <- xs; b <- ys) yield a - b)
      .sorted.apply((xs.size * ys.size + 1) / 2 - 1)
    val got = StatTests.hodgesLehmannShift(df, "v", one, probesPerRound = 3)
      .collect().head
    assert(got.getLong(3) == brute, s"got ${got.getLong(3)} want $brute")
    // degenerate constant samples short-circuit (bracket starts closed)
    val const = Seq((7L, 1), (7L, 1), (3L, 0)).toDF("v", "one")
    assert(StatTests.hodgesLehmannShift(const, "v", one)
      .collect().head.getLong(3) == 4L)
  }

  test("neymanAllocation: variance-weighted shares, Hamilton rounding sums to budget") {
    import spark.implicits._
    // A=[0,2] s=1, B=[0,6] s=4, C=[5,5] s=0: W = 2,8,0; budget 7 ->
    // floors 1,5,0 (rems 4,6,0), leftover 1 -> B: final 1,6,0
    val d = Seq(("A", 0L), ("A", 2L), ("B", 0L), ("B", 6L), ("C", 5L),
      ("C", 5L)).toDF("g", "x")
    val out = TextOps.neymanAllocation(d, "g",
      org.apache.spark.sql.functions.col("x"), budget = 7L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(("A", 2L, 1L, 1L), ("B", 2L, 4L, 6L),
      ("C", 2L, 0L, 0L)), out.toString)
    assert(out.map(_._4).sum == 7L)
  }

  test("katzCentrality: exact dyadic walk counts on a path graph") {
    import spark.implicits._
    // path 1-2-3 symmetrized; hops = 2: units = 2*deg + walks_2
    // node2: 2*2 + 2 = 6; nodes 1,3: 2*1 + 2 = 4 (tie broken by node id)
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val out = GraphOps.katzCentrality(e, hops = 2, topK = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 6L), (1L, 4L), (3L, 4L)), out.toString)
    // a 4-hop walk count on the triangle: every node symmetric, and the
    // closed form for K3 walk counts w_h = 2^h per node pins the units:
    // 8*2 + 4*4 + 2*8 + 16 = 64
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val t = GraphOps.katzCentrality(tri, hops = 4, topK = 3).collect()
    assert(t.forall(_.getLong(1) == 64L), t.mkString(","))
  }

  test("mapScore: average precision in exact lcm units, zero-hit queries count") {
    import spark.implicits._
    // q1 exact {a,b,c}; approx a@1 (P=1), d@2, c@3 (P=2/3): AP = 5/9
    val exact = Seq((1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "x"), (2L, "y"), (2L, "z")).toDF("query_id", "cand_id")
    val approx = Seq((1L, "a", 1), (1L, "d", 2), (1L, "c", 3),
      (2L, "p", 1), (2L, "q", 2), (2L, "r", 3)).toDF("query_id", "cand_id", "rank")
    val one = SimilarityOps.mapScore(exact.filter($"query_id" === 1),
      approx.filter($"query_id" === 1), k = 3).collect().head
    assert((one.getLong(0), one.getLong(1), one.getLong(2))
      == ((1L, 2L, 555555L)), one.toString) // 10^6 * 5/9 floored
    // q2 contributes zero AP but stays in the denominator
    val both = SimilarityOps.mapScore(exact, approx, k = 3).collect().head
    assert((both.getLong(0), both.getLong(1), both.getLong(2))
      == ((2L, 2L, 277777L)), both.toString)
  }

  test("dpNoisyCounts: derandomized discrete Laplace, eps = ln 2") {
    import spark.implicits._
    val d = (1 to 3000).flatMap(g => Seq.fill(1 + g % 3)(s"g$g")).toDF("grp")
    val out = ProfileOps.dpNoisyCounts(d, "grp").collect()
    assert(out.length == 3000)
    // noise is bounded by the +-16 truncation and noisy = true + noise
    assert(out.forall(r => math.abs(r.getLong(3)) <= 16L))
    assert(out.forall(r => r.getLong(2) == r.getLong(1) + r.getLong(3)))
    // P(noise = 0) = 1/3: empirical mass over 3000 groups within [0.29, 0.38]
    val zeros = out.count(_.getLong(3) == 0L).toDouble / out.length
    assert(zeros > 0.29 && zeros < 0.38, s"zero-noise mass $zeros")
    // symmetric: mean noise near 0 (|mean| < 0.2 at n = 3000)
    val mean = out.map(_.getLong(3)).sum.toDouble / out.length
    assert(math.abs(mean) < 0.2, s"mean noise $mean")
    // pinned-seed determinism: a second run is bit-identical
    val again = ProfileOps.dpNoisyCounts(d, "grp").collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
    // a different tag draws different noise (seed actually enters)
    val other = ProfileOps.dpNoisyCounts(d, "grp", tag = "dl2").collect()
    assert(out.map(_.getLong(3)).toSeq != other.map(_.getLong(3)).toSeq)
  }

  test("temperatureWeights: exact isqrt flattens the mix; boosts favor the tail") {
    import spark.implicits._
    // head 100 docs, tail 4: isqrt = 10, 2 -> tau shares 10/12, 2/12
    val d = ((1 to 100).map(i => (i.toLong, "hi", "en"))
      ++ (1 to 4).map(i => (100L + i, "ho", "fi")))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.temperatureWeights(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    assert(out == List(
      ("en", 100L, 9615L, 8333L, 866L),   // boost < 1: head downweighted
      ("fi", 4L, 384L, 1666L, 4333L)),    // tail upweighted 4.3x
      out.toString)
    // isqrt correction is exact at perfect squares and off-by-one inputs
    val sq = Seq((1L, "x", "a"), (2L, "x", "a"), (3L, "x", "a"),
      (4L, "x", "b")).toDF("doc_id", "text", "lang")
    val o2 = TextOps.temperatureWeights(sq).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // isqrt(3)=1, isqrt(1)=1 -> equal tau shares
    assert(o2("a") == o2("b"), o2.toString)
  }

  test("keyness: the subcorpus-exclusive term tops the chi-square ranking") {
    import spark.implicits._
    val d = Seq(
      (1L, "zebra zebra common", "src0"), (2L, "zebra common", "src0"),
      (3L, "common common plain", "srcX"), (4L, "plain common", "srcX"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.keyness(d,
      org.apache.spark.sql.functions.col("source") === "src0").collect()
    val top = out.head
    assert(top.getString(0) == "zebra" && top.getBoolean(3), top.toString)
    // zebra: a=3,b=0; plain: a=0,b=2 -> zebra's chi2 strictly larger
    val byW = out.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(byW("zebra") > byW("plain") && byW("plain") > byW("common"),
      byW.toString)
    // direction flag flips for the B-side term
    assert(!out.find(_.getString(0) == "plain").get.getBoolean(3))
  }

  test("termBurstiness: clumped term overdisperses, one-per-doc term hits 0") {
    import spark.implicits._
    val d = Seq((1L, "a a a b"), (2L, "b")).toDF("doc_id", "text")
    val out = VocabOps.termBurstiness(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // a: S=3,Q=9,n=2 -> (18-9)/6 = 1.5; b: S=2,Q=2 -> (4-4)/4 = 0
    assert(out == List(("a", 3L, 1L, 1500L), ("b", 2L, 2L, 0L)), out.toString)
  }

  test("interEventBurstiness: fixed-form B matches the moment identity") {
    import spark.implicits._
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val ev = Seq((1L, t(0), 1L, "x"), (1L, t(1000), 2L, "x"),
      (1L, t(3000), 3L, "x"), (1L, t(7000), 4L, "x"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = EventsQueries.interEventBurstiness(ev).collect().head
    // gaps 1s,2s,4s in us: n=3, S=7e6, Q=21e12
    assert((out.getString(0), out.getLong(1), out.getLong(2))
      == (("x", 3L, 2333333L)), out.toString)
    val n = 3.0; val s = 7e6; val q = 21e12
    val sd = math.sqrt(n * q - s * s)
    assert(out.getLong(3) == math.floor(1000.0 * ((sd - s) / (sd + s))).toLong,
      out.toString)
  }

  test("richClub: triangle core saturates phi; sub-two-node clubs are NULL") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val out = GraphOps.richClub(e, ks = Seq(1, 2)).collect()
    // k=1: club {1,2,3} keeps the 3 triangle edges -> phi = 1
    val r1 = out(0)
    assert((r1.getInt(0), r1.getLong(1), r1.getLong(2), r1.getLong(3))
      == ((1, 3L, 3L, 10000L)), r1.toString)
    // k=2: only node 1 qualifies -> no pair, NULL phi
    val r2 = out(1)
    assert(r2.getLong(1) == 1L && r2.isNullAt(3), r2.toString)
  }

  test("brierDecomposition: Murphy identity holds; perfect bins maximize resolution") {
    import spark.implicits._
    // two pure bins (all-pos / all-neg), balanced: ybar = 5000bp,
    // unc = 0.25, res = 0.25, brier = 0 (the binned predictor is perfect)
    val pure = Seq((0L, 4L, 0L), (1L, 4L, 4L)).toDF("bin", "n", "n_pos")
    val a = LearnOps.brierDecomposition(pure).collect().head
    assert((a.getLong(0), a.getLong(1), a.getLong(2)) == ((8L, 2L, 5000L)), a.toString)
    assert((a.getLong(3), a.getLong(4), a.getLong(5))
      == ((250000L, 250000L, 0L)), a.toString)
    // uninformative bins (same rate everywhere): res = 0, brier = unc
    val flat = Seq((0L, 4L, 2L), (1L, 4L, 2L)).toDF("bin", "n", "n_pos")
    val b = LearnOps.brierDecomposition(flat).collect().head
    assert(b.getLong(4) == 0L && b.getLong(5) == b.getLong(3), b.toString)
    // uneven case: brier = unc - res + reliability(floored vs true bin
    // rates) - the residual is nonnegative and bounded by the bp
    // quantization (< 1 bp of rate error -> < ~10 micro here)
    val mix = Seq((0L, 3L, 1L), (1L, 5L, 4L)).toDF("bin", "n", "n_pos")
    val c = LearnOps.brierDecomposition(mix).collect().head
    val (u, r2, br) = (c.getLong(3), c.getLong(4), c.getLong(5))
    assert(br - (u - r2) >= 0L && br - (u - r2) <= 10L, c.toString)
  }

  test("rboScore: identical ranking scores full weight; reversal scores less") {
    import spark.implicits._
    def w(m: Int): Long = (1e6 * (1 - 0.9) *
      (m to 5).map(d => math.pow(0.9, d - 1) / d).sum).toLong
    val exact = (1 to 5).map(i => (1L, i.toLong, i)).toDF("query_id", "cand_id", "rank")
    val same = exact
    val rev = (1 to 5).map(i => (1L, i.toLong, 6 - i)).toDF("query_id", "cand_id", "rank")
    val a = SimilarityOps.rboScore(exact, same).collect().head
    assert((a.getLong(0), a.getLong(1)) == ((1L, 5L)), a.toString)
    assert(a.getLong(2) == (1 to 5).map(w).sum, a.toString)
    val b = SimilarityOps.rboScore(exact, rev).collect().head
    // overlap depth per candidate is max(rank, reversed rank)
    assert(b.getLong(2) == Seq(5, 4, 3, 4, 5).map(w).sum, b.toString)
    assert(b.getLong(2) < a.getLong(2), "RBO must reward head agreement")
  }

  test("cochranQ: textbook case; all-0/all-k subjects stay in the denominator") {
    import spark.implicits._
    // 4 subjects x 3 treatments; X = rows s1..s4: (1,1,0),(1,0,0),
    // (1,1,1),(0,0,0). C = (3,2,1), N = 6, R = (2,1,3,0).
    // Q = (k-1)(k*SC2 - N^2)/(kN - SR2) = 2*(3*14-36)/(18-14) = 3
    val d = Seq(
      ("s1", "a", 1), ("s1", "b", 1), ("s1", "c", 0),
      ("s2", "a", 1), ("s2", "b", 0), ("s2", "c", 0),
      ("s3", "a", 1), ("s3", "b", 1), ("s3", "c", 1),
      ("s4", "a", 0), ("s4", "b", 0), ("s4", "c", 0))
      .toDF("u", "t", "x")
    val out = StatTests.cochranQ(d, "u", "t",
      org.apache.spark.sql.functions.col("x")).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getBoolean(4)) == ((4L, 3L, 6L, 3000000L, false)), out.toString)
    // every subject saturated -> denominator 0 -> NULL, not a crash
    val sat = Seq(("s1", "a", 1), ("s1", "b", 1),
      ("s2", "a", 0), ("s2", "b", 0)).toDF("u", "t", "x")
    val f = StatTests.cochranQ(sat, "u", "t",
      org.apache.spark.sql.functions.col("x")).collect().head
    assert(f.isNullAt(3), f.toString)
  }

  test("yuleK: repetition raises K; counts are exact frequency moments") {
    import spark.implicits._
    // "a a a b": N=4, V=2, S2 = 9+1 = 10 -> K = 1e4*(10-4)/16 = 3750
    val d = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val out = VocabOps.yuleK(d).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      == ((4L, 2L, 10L, 3750000L)), out.toString)
    // all-distinct tokens: S2 = N -> K = 0 exactly
    val u = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(VocabOps.yuleK(u).collect().head.getLong(3) == 0L)
  }

  test("goodTuring: adjusted counts follow (r+1)N_{r+1}/N_r; tail is NULL") {
    import spark.implicits._
    // trigrams: "a b c" seen twice, "x y z" once -> N1=1, N2=1, N=3
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = VocabOps.goodTuring(d).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toList
    assert(out == List(
      (1L, 1L, 2000000L, 333333L),  // r*=2*N2/N1=2; p0 = N1/N = 1/3
      (2L, 1L, -1L, 333333L)),      // no N3 -> raw Turing undefined
      out.toString)
  }

  test("cronbachAlpha: hand case 24/25; zero total variance nulls out") {
    import spark.implicits._
    // items (1,3) and (2,5): var-nums 4, 9; totals (3,8): var-num 25
    // alpha = k/(k-1) * (1 - 13/25) = 2 * 12/25 = 0.96
    val d = Seq(Array(1.0f, 2.0f), Array(3.0f, 5.0f)).toDF("embedding")
    val out = EvalOps.cronbachAlpha(d, items = 2).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2))
      == ((2L, 2L, 960L)), out.toString)
    // identical subjects: total variance 0 -> NULL alpha, not a crash
    val flat = Seq(Array(1.0f, 2.0f), Array(1.0f, 2.0f)).toDF("embedding")
    val f = EvalOps.cronbachAlpha(flat, items = 2).collect().head
    assert(f.isNullAt(2), f.toString)
    // short vectors are dropped, not zero-padded
    val short = Seq(Array(1.0f, 2.0f), Array(3.0f, 5.0f), Array(9.0f))
      .toDF("embedding")
    val s2 = EvalOps.cronbachAlpha(short, items = 2).collect().head
    assert(s2.getLong(0) == 2L && s2.getLong(2) == 960L, s2.toString)
  }

  test("krippendorffAlpha: textbook chance level and perfect agreement") {
    import spark.implicits._
    // u1=[a,a] agrees, u2=[a,b] splits: Do = 0.5 = De -> alpha = 0
    val d = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b")).toDF("u", "c")
    val out = EvalOps.krippendorffAlpha(d, "u", "c").collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      == ((4L, 2L, 2L, 0L)), out.toString)
    // all units internally unanimous -> alpha = 1 even with 2 categories
    val u = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("u", "c")
    val p = EvalOps.krippendorffAlpha(u, "u", "c").collect().head
    assert(p.getLong(3) == 1000000L, p.toString)
    // singleton units carry no pairable ratings and must be dropped
    val s2 = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("u", "c")
    val r = EvalOps.krippendorffAlpha(s2, "u", "c").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L, r.toString)
  }

  test("nelsonAalen: additive hazard accumulates d/n with per-step floors") {
    import spark.implicits._
    def t(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // same frame as the kaplanMeier case: 2 deaths day 1 of 4 at risk,
    // 1 death day 2 of 2, day 3 is censoring only (hazard must not move)
    val ev = Seq(
      (1L, t(0)), (1L, t(1)), (2L, t(0)), (2L, t(1)),
      (3L, t(0)), (3L, t(2)), (4L, t(7)), (4L, t(10)))
      .toDF("user_id", "ts")
    val out = EventsQueries.nelsonAalen(ev, censorDays = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    assert(out == List(
      (1, 4L, 2L, 0L, 500000L, 125000000L),   // H = 2/4,       V = 2/16
      (2, 2L, 1L, 0L, 1000000L, 375000000L),  // H += 1/2,      V += 1/4
      (3, 1L, 0L, 1L, 1000000L, 375000000L)), // censoring alone: flat
      out.toString)
  }

  test("logRank: hand case matches the Mantel-Cox expected/variance sums") {
    import spark.implicits._
    def t(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // group1 = {u1}: dies day 1; group2 = {u2 day 1, u3 day 2}; no censor.
    // t=1: n1=1,n2=2,d=2 -> e1 += floor(2e6/3), v += floor(4e6/18)
    // t=2: n1=0 -> e1 += 0, n=1 -> v += 0
    val ev = Seq(
      (1L, t(0)), (1L, t(1)), (2L, t(0)), (2L, t(1)),
      (3L, t(0)), (3L, t(2)))
      .toDF("user_id", "ts")
    val out = EventsQueries.logRank(ev,
      org.apache.spark.sql.functions.col("user_id") === 1, censorDays = 0)
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      == ((1L, 2L, 1L, 2L)), out.toString)
    assert((out.getLong(4), out.getLong(5)) == ((666666L, 222222L)), out.toString)
    // chi2 = (1e6*1 - 666666)^2 * 1000 div (1e6 * 222222) = 500 milli
    assert(out.getLong(6) == 500L && !out.getBoolean(7), out.toString)
  }

  test("friedman: classic 3x3 case gives Q = 14/3; degenerate ties null out") {
    import spark.implicits._
    val d = Seq(
      ("b1", "t1", 10L), ("b1", "t2", 20L), ("b1", "t3", 30L),
      ("b2", "t1", 10L), ("b2", "t2", 20L), ("b2", "t3", 30L),
      ("b3", "t1", 10L), ("b3", "t2", 30L), ("b3", "t3", 20L),
      // incomplete block: must be dropped, not ranked
      ("b4", "t1", 5L), ("b4", "t2", 6L))
      .toDF("blk", "trt", "v")
    val out = StatTests.friedman(d, "blk", "trt",
      org.apache.spark.sql.functions.col("v")).collect().head
    // R_j = 3,7,8 -> Q = 12/(3*3*4)*(9+49+64) - 3*3*4 = 14/3 = 4.666666
    assert((out.getLong(0), out.getLong(1)) == ((3L, 3L)), out.toString)
    assert(out.getLong(2) == 4666666L && !out.getBoolean(3), out.toString)
    // every block ranks all-tied values -> A = C -> null statistic
    val flat = Seq(("b1", "t1", 1L), ("b1", "t2", 1L),
      ("b2", "t1", 2L), ("b2", "t2", 2L)).toDF("blk", "trt", "v")
    val f = StatTests.friedman(flat, "blk", "trt",
      org.apache.spark.sql.functions.col("v")).collect().head
    assert(f.isNullAt(2), f.toString)
  }

  test("hartleyFmax: cross-multiplied extremes, exact milli ratio") {
    import spark.implicits._
    // a: {0,2} var 2; b: {0,6} var 18 -> Fmax = 9.000
    val v = Seq(("a", 0L), ("a", 2L), ("b", 0L), ("b", 6L)).toDF("grp", "x")
    val r = StatTests.hartleyFmax(v, "grp", "x").collect().head
    assert((r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
      r.getLong(4), r.getLong(5)) == ((2L, "b", 18000L, "a", 2000L, 9000L)),
      r.toString)
  }

  test("codeSwitch: mid-document language flip flagged, pure docs not") {
    import spark.implicits._
    val d = Seq(
      (1L, "the the the the table table table table"),   // en -> data
      (2L, "the the the the the the the the"),            // pure en
      (3L, "window window window window")                 // no votes at all
    ).toDF("doc_id", "text")
    val out = TextOps.codeSwitch(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getBoolean(4))).toSeq
    assert(out == Seq((1L, 4, 2, 2, true), (2L, 4, 4, 0, false),
      (3L, 0, 0, 0, false)), out.toString)
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a triangle 6-7-8
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L), (6L, 8L)).toDF("src", "dst")
    val mis = GraphOps.maximalIndependentSet(e).collect()
      .map(_.getLong(0)).toSet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L), (6L, 8L))
    // independence: no edge inside the set
    assert(!edges.exists { case (a, b) => mis(a) && mis(b) }, mis.toString)
    // maximality: every non-member has a member neighbor
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet)
    (1L to 8L).filterNot(mis).foreach { v =>
      assert(nbrs(v).exists(mis), s"$v has no MIS neighbor in $mis")
    }
    // exactly one triangle vertex can be in the set
    assert(Set(6L, 7L, 8L).count(mis) == 1, mis.toString)
    // determinism: a second run draws the identical set
    val again = GraphOps.maximalIndependentSet(e).collect()
      .map(_.getLong(0)).toSet
    assert(again == mis)
  }

  test("seasonalMedianAnomaly: weekday-adjusted spike flagged, flat days not") {
    import spark.implicits._
    // 14 flat days at 100 except one 10000 spike: weekday medians stay
    // 100 (lower median), residuals 0 everywhere else, MAD 0 -> only
    // the spike day exceeds the fence
    val days = (1 to 14).map(i => (java.sql.Date.valueOf(f"2024-03-$i%02d"),
      if (i == 9) 10000L else 100L)).toDF("d", "y")
    val out = StatTests.seasonalMedianAnomaly(days, "d", "y").collect()
    assert(out.length == 1, out.mkString(","))
    val r = out.head
    assert(r.getDate(0).toString == "2024-03-09" && r.getLong(1) == 10000L
      && r.getLong(2) == 100L && r.getLong(3) == 9900L, r.toString)
  }

  test("ppsSystematicSample: budget exact, mass-proportional multiplicity") {
    import spark.implicits._
    val d = Seq((1L, "alpha text", 55L), (2L, "beta text", 20L),
      (3L, "gamma text", 15L), (4L, "delta text", 10L))
      .toDF("doc_id", "text", "n_chars")
    val out = StatTestsHelpers.collectPps(d, 10)
    assert(out.values.sum == 10L, out.toString)          // sum mult == n exactly
    assert(out(1L) >= 5L && out(1L) <= 6L, out.toString) // 55% unit: 5-6 probes
  }

  test("boilerplateLines: cross-doc frequency rule flags the shared footer") {
    import spark.implicits._
    val d = Seq((1L, "FOOTER\nunique one", "s"), (2L, "FOOTER\nunique two", "s"),
      (3L, "FOOTER\nunique three", "s")).toDF("doc_id", "text", "source")
    val r = CurationOps.boilerplateLines(d).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (("s", 3L, 1L, 3L, 6L, 5000L)),
      r.toString)
  }

  test("passAtK: boundary tasks exact, C(n-c,k)/C(n,k) hand case") {
    import spark.implicits._
    // task 1: all pass -> 10000 at every k; task 2: none pass -> 0;
    // task 3: n=10, c=5 -> k=1: 5000; k=5: 1 - 1/252 -> 9960; k=10:
    // fewer than 10 failures -> numerator 0 -> 10000 exactly
    val rows = (1 to 10).flatMap(i => Seq(
      (1L, true), (2L, false), (3L, i <= 5)))
    val r = EvalOps.passAtK(rows.toDF("task", "ok"), "task", $"ok")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((3L, (10000L + 0L + 5000L) / 3, (10000L + 0L + 9960L) / 3,
        (10000L + 0L + 10000L) / 3)), r.toString)
  }

  test("chrF: hand n-gram counts, order skipping, F-beta-2 identity") {
    import spark.implicits._
    // cand "ab ab" vs ref "ab" (whitespace stripped -> "abab" vs "ab"):
    // n=1: m=2, ctot=4, rtot=2 -> p=500000, r=1000000
    // n=2: m=1 (clipped "ab"), ctot=3, rtot=1 -> p=333333, r=1000000
    // n>=3: rtot=0 -> order skipped  =>  n_orders=2,
    // P=416666, R=1000000, chrF2 = 5PR div (4P+R) = 781249
    val p = Seq((1L, "ab ab", "ab")).toDF("pair", "cand_text", "ref_text")
    val r = EvalOps.chrF(p).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, 2L, 416666L, 1000000L, 781249L)), r.toString)
  }

  test("wordErrorRate: distances token-level, empty-candidate rule") {
    import spark.implicits._
    val p = Seq(
      (1L, "the cat sat", "the cat sat"),   // 0 edits
      (2L, "the dog sat", "the cat sat"),   // 1 sub
      (3L, "", "a b c"),                    // empty cand -> 3 edits
      (4L, "a b c d", "a b")                // 2 insertions -> wer 10000+
    ).toDF("pair", "cand_text", "ref_text")
    val out = EvalOps.wordErrorRate(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0L, 3L, 0L), (2L, 1L, 3L, 3333L),
      (3L, 3L, 3L, 10000L), (4L, 2L, 2L, 10000L)), out.mkString(","))
  }

  test("rougeNgram: hand-clipped counts, harmonic F1 identity") {
    import spark.implicits._
    // cand "a b c" vs ref "a b d": uni m=2/3 both sides; bi m=1/2 both
    val cand = Seq((1L, "a b c")).toDF("pair", "cand_text")
    val ref = Seq((1L, "a b d")).toDF("pair", "ref_text")
    val out = EvalOps.rougeNgram(cand.join(ref, "pair")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq((1, 1L, 6666L, 6666L, 6666L),
      (2, 1L, 5000L, 5000L, 5000L)), out.toString)
  }

  test("conformalCoverage: exact order-statistic threshold, set membership") {
    import spark.implicits._
    // calibration (even ids): a = {-10, -5, 0, 3}; alpha 50% -> k = 3
    // -> qhat = 0. tests (odd ids): s=7,y=1 covered; s=-2,y=0 covered;
    // s=-1,y=1 NOT covered -> coverage 2/3, all singleton sets
    val sc = Seq((0L, 10L, true), (2L, -5L, false), (4L, 0L, true),
      (6L, 3L, false), (1L, 7L, true), (3L, -2L, false), (5L, -1L, true))
      .toDF("doc_id", "score", "label")
    val r = EvalOps.conformalCoverage(sc, alphaBp = 5000).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
      == ((4L, 3L, 0L, 6666L, 10000L, 0L, 0L)), r.toString)
  }

  test("madOutliers: exact medians, 3-MAD fence catches the spike") {
    import spark.implicits._
    val v = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L), ("g", 100L))
      .toDF("grp", "x")
    val r = StatTests.madOutliers(v, "grp", "x").collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
      == (("g", 5L, 3L, 1L, 1L, 100L, 100L)), r.toString)
  }

  test("ansariBradley: folded scores on a hand pair, z2 = 3.000 exact") {
    import spark.implicits._
    // s1 = {1, 10} (tails), s2 = {5, 6} (center): scores 1,2,2,1 ->
    // C = 2, E = 3, Var = 1/3 -> z2 = 3.000, below the 3.841 critical
    val v = Seq((1L, true), (10L, true), (5L, false), (6L, false))
      .toDF("x", "one")
    val r = StatTests.ansariBradley(v, "x", $"one").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getBoolean(4)) == ((2L, 2L, 2L, 3000L, false)), r.toString)
  }

  test("stronglyConnectedComponents: cycles found, min-member ids, singletons kept") {
    import spark.implicits._
    // 1→2→3→1 (SCC {1,2,3}), 3→4, 4⇄5 (SCC {4,5}), 6 isolated
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("src", "dst")
    val n = (1L to 6L).toDF("node")
    val out = GraphOps.stronglyConnectedComponents(e, n).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 3L), (4L, 2L), (6L, 1L)), out.toString)
    // a pure DAG: every node its own SCC
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val d = GraphOps.stronglyConnectedComponents(
      dag, (1L to 4L).toDF("node")).collect()
    assert(d.length == 4 && d.forall(_.getLong(1) == 1L), d.mkString(","))
  }

  test("minimumSpanningForest: unique MST by composite key, forest identity") {
    import spark.implicits._
    // square 1-2(w1) 2-3(w2) 3-4(w1) 4-1(w5) + diagonal 1-3(w10):
    // MST = {1-2, 3-4, 2-3}, total 4, max 2; plus disconnected 5-6(w7)
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (4L, 1L, 5L),
      (1L, 3L, 10L), (5L, 6L, 7L)).toDF("src", "dst", "w")
    val r = GraphOps.minimumSpanningForest(e).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((6L, 2L, 4L, 11L, 7L)), r.toString)
    // forest identity: n_components = n_nodes - mst_edges
    assert(r.getLong(1) == r.getLong(0) - r.getLong(2))
    // equal weights: the composite key tiebreak still yields ONE tree
    val eq = Seq((1L, 2L, 3L), (2L, 3L, 3L), (1L, 3L, 3L)).toDF("src", "dst", "w")
    val q = GraphOps.minimumSpanningForest(eq).collect().head
    assert((q.getLong(0), q.getLong(1), q.getLong(2), q.getLong(3))
      == ((3L, 1L, 2L, 6L)), q.toString)
  }

  test("minimumSpanningForest: ekey bounds enforced loudly, int inputs widened") {
    import spark.implicits._
    // node id >= 1e7 would collide in the composite key: loud require
    val big = Seq((1L, 10000000L, 1L)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.minimumSpanningForest(big).collect()
    }
    assert(ex.getMessage.contains("1e7"), ex.getMessage)
    // negative weight breaks ekey ordering: loud require
    val neg = Seq((1L, 2L, -3L)).toDF("src", "dst", "w")
    assert(intercept[IllegalArgumentException] {
      GraphOps.minimumSpanningForest(neg).collect()
    }.getMessage.contains("negative weight"))
    // INT-typed node ids are widened to bigint before the a*1e7 product
    // (no 32-bit wrap): 2000 * 1e7 overflows Int arithmetic
    val ints = Seq((2000, 2001, 5), (2001, 2002, 3)).toDF("src", "dst", "w")
    val r = GraphOps.minimumSpanningForest(ints).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((3L, 1L, 2L, 8L)), r.toString)
  }

  test("minimumSpanningForest: distributed rounds ≡ local Kruskal tail") {
    import spark.implicits._
    // a graph big enough to mix long chains (deep pick forests — the
    // pointer-doubling path) with dense cliques and parallel-ish weights;
    // localBudget = 0 forces every round distributed, the default budget
    // solves the tail locally — the two MUST agree row-for-row
    val chain = (1L until 80L).map(i => (i, i + 1, (i * 37 % 11) + 1))
    val spokes = (1L to 40L).map(i => (100L + i, 100L + (i * 7 % 40) + 1,
      (i * 13 % 9) + 1))
    val bridge = Seq((40L, 120L, 2L), (200L, 201L, 4L))
    val e = (chain ++ spokes ++ bridge).toDF("src", "dst", "w")
    val local = GraphOps.minimumSpanningForest(e).collect().head
    val dist = GraphOps.minimumSpanningForest(e, localBudget = 0L)
      .collect().head
    assert(local == dist, s"local=$local dist=$dist")
    assert(local.getLong(1) == local.getLong(0) - local.getLong(2))
  }

  test("resolvePickForest: driver union-find ≡ pointer doubling") {
    import spark.implicits._
    // pick forests as the MST rounds build them: each tree hangs off one
    // mutual pair (1↔2, 10↔11, 20↔21), the rest chain or fan into it
    val picks = Seq((1L, 2L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L),
      (10L, 11L), (11L, 10L), (12L, 10L),
      (20L, 21L), (21L, 20L), (22L, 21L), (23L, 22L)).toDF("cc", "partner")
    def labels(budget: Long) = GraphOps.resolvePickForest(picks, 12L, budget)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .filter { case (oc, nc) => oc != nc }.toMap
    val want = Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 11L -> 10L,
      12L -> 10L, 21L -> 20L, 22L -> 20L, 23L -> 20L)
    // localBudget = 0 forces the doubling loop; 12 picks fit budget 12
    assert(labels(0L) == want)
    assert(labels(12L) == want)
  }

  test("binarySegmentation: clean step found once, flat never splits") {
    import spark.implicits._
    def day(i: Int) = java.sql.Date.valueOf(f"2024-02-${i}%02d")
    // 10 days at 100, 10 at 200: one split exactly at the step, then
    // both children are constant (Q = 0) and never split again
    val step = (1 to 20).map(i => (day(i), if (i <= 10) 100L else 200L))
      .toDF("d", "cents")
    val out = StatTests.binarySegmentation(step, "d", "cents")
      .collect().map(r => (r.getDate(1).toString, r.getDate(2).toString,
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("2024-02-01", "2024-02-10", 10L, 1000L),
      ("2024-02-11", "2024-02-20", 10L, 2000L)), out.mkString(","))
    // constant series: Q = 0, no split ever
    val flat = (1 to 20).map(i => (day(i), 500L)).toDF("d", "cents")
    val f = StatTests.binarySegmentation(flat, "d", "cents").collect()
    assert(f.length == 1 && f.head.getLong(3) == 20L, f.mkString(","))
  }

  test("mondrianAnonymize: hand cuts, k floor holds, ids conserved") {
    import spark.implicits._
    // d2 constant -> 1-D: 1..10 at k=3 cuts once at the lower median 5
    // (5 | 5), then both sides freeze (a 5-split would leave nr=2 < k)
    val rows = (1L to 10L).map(i => (i, i, 7L)).toDF("id", "d1", "d2")
    val out = ProfileOps.mondrianAnonymize(rows, k = 3, depth = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq((2L, 5L, 1L, 5L, 7L, 7L),
      (3L, 5L, 6L, 10L, 7L, 7L)), out.mkString(","))
    // k-anonymity floor on a bigger random-ish grid
    val big = (1L to 200L).map(i => (i, i % 13, (i * 37) % 101))
      .toDF("id", "d1", "d2")
    val cells = ProfileOps.mondrianAnonymize(big, k = 20, depth = 5)
      .collect()
    assert(cells.forall(_.getLong(1) >= 20L), cells.mkString(","))
    assert(cells.map(_.getLong(1)).sum == 200L)
    assert(cells.length > 1)
  }

  test("facilityLocationSelect: hand marginal gains, hub first, tiebreak") {
    import spark.implicits._
    // hub 2 touches everyone; 3-4 is a strong side pair. round 1 picks
    // the hub (gain = .9+.8+.7+self = 3.4e6); round 2 ties c=3/c=4 at
    // 450000 -> smaller id wins; then 1 (100000), then 4 (50000).
    val edges = Seq((1L, 1, 2L, 0.9), (3L, 1, 2L, 0.8), (4L, 1, 2L, 0.7),
      (3L, 2, 4L, 0.95)).toDF("src", "rank", "nbr", "cosine")
    val ids = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val out = SimilarityOps.facilityLocationSelect(edges, ids, 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, 2L, 3400000L, 3400000L),
      (2, 3L, 450000L, 3850000L), (3, 1L, 100000L, 3950000L),
      (4, 4L, 50000L, 4000000L)), out.mkString(","))
  }

  test("maximalMatching: node-disjoint, maximal, deterministic") {
    import spark.implicits._
    // path 1-2-3-4-5 + triangle 6-7-8 + isolated edge 9-10
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 5L, 9L),
      (6L, 7L, 3L), (7L, 8L, 3L), (6L, 8L, 3L), (9L, 10L, 4L))
    val e = edges.toDF("src", "dst", "w")
    val m = GraphOps.maximalMatching(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // node-disjoint: every endpoint appears at most once
    val ends = m.flatMap(p => Seq(p._1, p._2))
    assert(ends.distinct.size == ends.size, m.toString)
    // maximal: no input edge has both endpoints unmatched
    val used = ends.toSet
    assert(!edges.exists { case (a, b, _) => !used(a) && !used(b) },
      m.toString)
    // the triangle contributes exactly one pair; 9-10 always matches
    assert(m.count(p => Set(6L, 7L, 8L)(p._1)) == 1, m.toString)
    assert(m.contains((9L, 10L)), m.toString)
    // determinism
    val again = GraphOps.maximalMatching(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again == m)
    // empty input -> empty result, no NPE
    assert(GraphOps.maximalMatching(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"))
      .collect().isEmpty)
  }

  test("greedyColoring: proper, first-fit-tight, deterministic") {
    import spark.implicits._
    // triangle 1-2-3 (needs 3 colors) + path to 4-5 + isolated pair 6-7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L))
    val e = edges.toDF("src", "dst")
    val asg = GraphOps.greedyColoringAssignment(e).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // proper: no edge monochromatic
    edges.foreach { case (a, b) =>
      assert(asg(a) != asg(b), s"$a-$b both ${asg(a)} in $asg")
    }
    // every node colored, colors start at 1, triangle forces a 3
    assert(asg.keySet == (1L to 7L).toSet, asg.toString)
    assert(asg.values.min == 1 && asg.values.max >= 3, asg.toString)
    // the histogram view is the assignment rolled up
    val hist = GraphOps.greedyColoring(e).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hist == asg.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap, hist.toString)
    // determinism
    val again = GraphOps.greedyColoringAssignment(e).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == asg)
  }

  test("SCC and coloring: distributed loops ≡ bounded local tails") {
    import spark.implicits._
    // a directed mix: 3-cycle, 2-cycle bridged off it, a DAG tail, and
    // an isolated node — plus a denser pseudo-random layer so the JP
    // simulation sees multi-round structure; localBudget = 0 forces the
    // distributed loops, the default takes the driver pass
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (5L, 6L))
    val rnd = (0 until 120).map(i =>
      ((i * 37 % 30).toLong + 10L, (i * 53 % 30).toLong + 10L))
    val e = (cyc ++ rnd).toDF("src", "dst")
    val n = ((1L to 7L) ++ (10L until 40L)).toDF("node")
    def sccSet(budget: Long) = GraphOps
      .stronglyConnectedComponents(e, n, localBudget = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sccSet(0L) == sccSet(1L << 18))
    def colors(budget: Long) = GraphOps
      .greedyColoringAssignment(e, localBudget = budget)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (cl, cd) = (colors(1L << 18), colors(0L))
    assert(cl == cd, s"local=$cl dist=$cd")
    // matching: same pin on the weighted variant (handshake rounds vs
    // the bounded local handshake — must be matching-for-matching equal)
    val we = (cyc ++ rnd).zipWithIndex
      .map { case ((a, b), i) => (a, b, (i * 29 % 23 + 1).toLong) }
      .toDF("src", "dst", "w")
    def matches(budget: Long) = GraphOps
      .maximalMatching(we, localBudget = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matches(1L << 18) == matches(0L))
    // MIS: the Luby tail must pick the identical member set
    def mis(budget: Long) = GraphOps
      .maximalIndependentSet(e, localBudget = budget)
      .collect().map(_.getLong(0)).toSeq
    assert(mis(1L << 18) == mis(0L))
  }

  test("graph ops: edgeless / empty inputs return empty frames, not NPE") {
    import spark.implicits._
    // MIS on all-self-loop input: node universe empties after the
    // self-loop filter -> empty result with the right schema
    val selfOnly = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(GraphOps.maximalIndependentSet(selfOnly).collect().isEmpty)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.maximalIndependentSet(noEdges).collect().isEmpty)
    // SCC on an empty node universe
    val scc = GraphOps.stronglyConnectedComponents(
      noEdges, Seq.empty[Long].toDF("node"))
    assert(scc.columns.toSeq == Seq("scc", "size") && scc.collect().isEmpty)
  }

  test("wlRefinement: path graph refines ends/middles then stabilizes") {
    import spark.implicits._
    // path 1-2-3-4-5 symmetrized: degrees split {ends}/{middles} (2 colors,
    // largest 3); round 1 splits node 3 ({2,2} neighborhood) from {2,4}
    // ({1,2}) -> 3 colors, largest 2; rounds 2..3 stable at 3 colors.
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val e = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    val out = GraphOps.wlRefinement(e, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0, 2L, 3L), (1, 3L, 2L), (2, 3L, 2L), (3, 3L, 2L)),
      out.toString)
  }
}

/** Helper keeping the PPS multiplicity map extraction out of the test body. */
private object StatTestsHelpers {
  def collectPps(docs: org.apache.spark.sql.DataFrame, n: Int): Map[Long, Long] =
    MixOps.ppsSystematicSample(docs, n).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
}

/** Row-collect helpers shared by the API tests. */
private object TestHelp {
  /** (col0 -> col2) map of a 3+-column frame keyed by its first column. */
  def collectMap2(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
}
