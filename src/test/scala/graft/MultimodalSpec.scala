package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AtRest, MultimodalOps}
import graft.operators.MultimodalOps.MediaIn

class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("decode stub is deterministic and kind-sensitive") {
    val payload = "some media bytes".getBytes("UTF-8")
    val a = MultimodalOps.decodeStub(MediaIn(1L, "video", payload))
    val b = MultimodalOps.decodeStub(MediaIn(1L, "video", payload))
    assert(a == b)
    assert(a.n_bytes == payload.length)
    assert(a.width >= 64 && a.width < 1024 && a.height >= 64 && a.height < 1024)
    val img = MultimodalOps.decodeStub(MediaIn(1L, "image", payload))
    assert(img.n_frames == 1L)
    assert(a.n_frames >= 1L)
    assert(a.content_hash == img.content_hash) // hash depends on bytes, not kind
  }

  test("pipeline emits one feature row per document with consistent bytes") {
    val out = MultimodalOps.queries("q70_media_features")(spark, TestSpark.sf)
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    assert(out.count() == docs.count())
    // ASCII word-salad text → n_bytes == n_chars
    val joined = out.join(docs, "doc_id")
      .filter(org.apache.spark.sql.functions.col("n_bytes") =!=
        org.apache.spark.sql.functions.col("n_chars"))
    assert(joined.count() == 0)
  }

  test("sub-gram payloads (< 4 bytes) are excluded from fingerprinting: no sig rows, no zero-phash clique, no spurious grams") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 50 empty/tiny payloads + 2 real assets: without the length guard
    // every sub-gram payload hashes to the SAME degenerate phash — one
    // hot (c, ch) join key producing a 50-choose-2 candidate clique (the
    // 100 TB failure mode) and an engine-vs-oracle gram divergence
    // (Spark sequence(1, 0) = [1, 0] vs DuckDB range(1, 1) = empty)
    val shorts = (0 until 50).map(i =>
      (1000L + i, "image", "abc".take(i % 4).getBytes("UTF-8")))
    val real = Seq(
      (1L, "image", (0 until 40).map(j => s"aabyte$j").mkString(" ").getBytes("UTF-8")),
      (2L, "image", (0 until 40).map(j => s"qqbyte$j").mkString(" ").getBytes("UTF-8")))
    val media = (shorts ++ real).toDF("doc_id", "kind", "payload")
    val sigs = MultimodalOps.mediaFingerprint(media)
    assert(sigs.count() == 2L, "sub-gram payloads must emit no fingerprint row")
    assert(sigs.filter(col("doc_id") >= 1000L).count() == 0L)
    val pairs = MultimodalOps.mediaNearDupPairs(media, maxHamming = 10)
    assert(pairs.count() == 0L, "short payloads must not form a candidate clique")
    // an in-memory basis has no known size: the pair set stays unpinned
    val memPairs = Seq((1L, 2L)).toDF("a", "b")
    assert(Tables.pinnedRdds(MultimodalOps.pinPairsIfSmall(memPairs, media)).isEmpty,
      "a basis with no input files must keep the recompute path")
  }

  test("media phash index: at-rest round-trip, batch-over-batch append, takedown + compact, zero corpus-side shuffle (plan-asserted), vsIndex == full restricted") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val p = "graft_mp_idx"
    def dropAll(): Unit = AtRest.dropFamily(spark, p)
    def blob(tag: String): Array[Byte] =
      (0 until 40).map(j => s"${tag}byte$j").mkString(" ").getBytes("UTF-8")
    def perturbed(tag: String): Array[Byte] =
      (new String(blob(tag), "UTF-8") + " jitter").getBytes("UTF-8")
    val corpus = Seq(
      (1L, "image", blob("aa")), (2L, "image", blob("qq")),
      (3L, "video", blob("zz"))).toDF("doc_id", "kind", "payload")
    try {
      dropAll()
      MultimodalOps.saveMediaPhashIndex(corpus, p, nBuckets = 4)
      // batch 1: a perturbed copy of asset 1 + a fresh asset — found via
      // the index from a FRESH session, batch-sized work only
      val s2 = spark.newSession()
      val b1 = Seq((10L, "image", perturbed("aa")), (11L, "image", blob("uu")))
        .toDF("doc_id", "kind", "payload")
      val hits = MultimodalOps.mediaNearDupVsIndex(b1, s2, p, maxHamming = 10)
      assert(hits.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 10L)))
      // plan: ZERO corpus-side shuffle — the corpus chunk table reaches
      // the candidate join either off its (c, ch) bucketing (bucketed
      // SMJ/SHJ at corpus-vs-corpus sizes) or as the STREAMED side of a
      // broadcast of the batch's enumerated variants (AQE's pick when the
      // batch is small — the r16 fused fingerprint shrank the batch
      // branch enough to qualify). Both are the scale-correct shapes; the
      // assertion is on the invariant itself: no ShuffleExchange anywhere
      // above the corpus scan, and the corpus is never the broadcast side.
      locally {
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
        def flatten(pl: SparkPlan): Seq[SparkPlan] = pl +: (pl match {
          case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
          case q: QueryStageExec => flatten(q.plan)
          case r: ReusedExchangeExec => flatten(r.child)
          case _ => pl.children.flatMap(flatten)
        })
        def hasCorpusScan(pl: SparkPlan): Boolean = flatten(pl).exists {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table.startsWith(s"${p}_chunks"))
          case _ => false
        }
        val root = hits.queryExecution.executedPlan
        assert(hasCorpusScan(root), "corpus chunk scan missing from the plan")
        val offenders = flatten(root).collect {
          case e: ShuffleExchangeLike if hasCorpusScan(e) => e
          case e: BroadcastExchangeLike if hasCorpusScan(e) => e
        }
        assert(offenders.isEmpty,
          s"corpus side shuffled/broadcast:\n${offenders.mkString("\n")}")
      }
      // vsIndex ≡ the full corpus∪batch mine restricted to batch-incident
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("a", "b", "hamming").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val full = MultimodalOps.mediaNearDupPairs(
        corpus.unionByName(b1), maxHamming = 10)
        .filter(col("b") >= 10L)
      assert(pairSet(hits) == pairSet(full))
      // admit batch 1; batch 2 (a copy of 10's payload) must match the
      // EARLIER ADMISSION through the index
      MultimodalOps.appendToMediaPhashIndex(s2, p, b1)
      assert(MultimodalOps.mediaPhashWatermark(spark, p).contains(11L))
      val b2 = Seq((20L, "image", perturbed("aa"))).toDF("doc_id", "kind", "payload")
      val hits2 = MultimodalOps.mediaNearDupVsIndex(b2, spark, p, maxHamming = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits2 == Set((1L, 20L), (10L, 20L)), s"$hits2")
      // guards: out-of-order append fails; byte-identical replay no-ops;
      // same-span impostor fails the fingerprint
      val eW = intercept[IllegalArgumentException](
        MultimodalOps.appendToMediaPhashIndex(spark, p,
          Seq((5L, "image", blob("x5"))).toDF("doc_id", "kind", "payload")))
      assert(eW.getMessage.contains("watermark"))
      val rows = spark.table(s"${p}_chunks").count()
      MultimodalOps.appendToMediaPhashIndex(spark, p, b1)
      assert(spark.table(s"${p}_chunks").count() == rows)
      val eFp = intercept[IllegalArgumentException](
        MultimodalOps.appendToMediaPhashIndex(spark, p,
          Seq((10L, "image", blob("DIVERGED")), (11L, "image", blob("uu")))
            .toDF("doc_id", "kind", "payload")))
      assert(eFp.getMessage.contains("byte-identically"))
      // takedown of asset 1: hidden at read, folded in by compact; the
      // admitted twin still serves
      MultimodalOps.removeFromMediaPhashIndex(p, Seq(1L).toDF("doc_id"))
      val afterRm = MultimodalOps.mediaNearDupVsIndex(b2, spark, p, maxHamming = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterRm == Set((10L, 20L)), s"$afterRm")
      MultimodalOps.compactMediaPhashIndex(spark, p)
      assert(!spark.catalog.tableExists(s"${p}_tombstones"))
      assert(spark.table(s"${p}_chunks").filter(col("doc_id") === 1L).count() == 0L)
      assert(MultimodalOps.mediaNearDupVsIndex(b2, spark.newSession(), p,
        maxHamming = 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((10L, 20L)))
    } finally dropAll()
  }

  test("cost knob: mihRadiusFor derives the smallest complete radius; radius-1 answer == radius-2 answer filtered to Hamming <= 7") {
    // threshold -> radius: the pigeonhole identity r = floor(h/4)
    assert((0 to 15).map(MultimodalOps.mihRadiusFor) ==
      Seq(0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3))
    // exactness cross-check on real data: both configurations are exact
    // Hamming-range answers, so the cheap one must equal the expensive
    // one restricted to its threshold
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val media = docs.select(col("doc_id"),
        org.apache.spark.sql.functions.lit("image").as("kind"),
        col("text").cast("binary").as("payload"))
    val planted = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000000L).as("doc_id"),
        org.apache.spark.sql.functions.lit("image").as("kind"),
        org.apache.spark.sql.functions.concat(col("text"),
          org.apache.spark.sql.functions.lit(" zz")).cast("binary").as("payload"))
    val corpus = media.unionByName(planted)
    val h7 = MultimodalOps.mediaNearDupPairs(corpus, maxHamming = 7)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect().toSet
    val h10to7 = MultimodalOps.mediaNearDupPairs(corpus, maxHamming = 10)
      .filter(col("hamming") <= 7)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(h7.nonEmpty, "no Hamming<=7 pairs found — planted copies missing")
    assert(h7 == h10to7,
      s"radius-1 answer diverges: only-h7=${(h7 -- h10to7).take(5)}, only-h10=${(h10to7 -- h7).take(5)}")
    // the knob refuses thresholds past the enumeration-cost ceiling
    val e = intercept[IllegalArgumentException](
      MultimodalOps.mediaNearDupPairs(corpus, maxHamming = 16))
    assert(e.getMessage.contains("wider-chunk banding"))

    // REPRESENTATIVE mode ≡ min smaller Hamming-≤10 neighbor of the pair
    // set (self when none): derive the expected mapping from the pair
    // answer and compare — one row per fingerprinted asset, cliques
    // collapse to their min member, singletons self-map
    val pairs10 = MultimodalOps.mediaNearDupPairs(corpus, maxHamming = 10)
      .select("a", "b").as[(Long, Long)].collect()
    val expectRep = pairs10.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val reps = MultimodalOps.mediaDedupReps(corpus, maxHamming = 10)
      .select("doc_id", "rep").as[(Long, Long)].collect().toMap
    val sigCount = MultimodalOps.mediaFingerprint(corpus).count()
    assert(reps.size == sigCount, "one rep row per fingerprinted asset")
    for ((d, r) <- reps)
      assert(r == expectRep.getOrElse(d, d), s"rep($d) = $r, expected ${expectRep.getOrElse(d, d)}")
    assert(reps.values.toSet.subsetOf(reps.keySet), "reps are assets")
  }

  test("media near-dup bridges into cluster/split membership: the perturbed copy joins its original's cluster and split; unrelated assets stay apart") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{DedupPipeline, SplitState}
    // three unrelated media payloads (long, low char overlap) + one
    // perturbed copy of asset 1 — re-encode jitter as an appended suffix
    def blob(tag: String): Array[Byte] =
      (0 until 40).map(j => s"${tag}byte$j").mkString(" ").getBytes("UTF-8")
    val media = Seq(
      (1L, "image", blob("aa")),
      (2L, "image", blob("qq")),
      (3L, "video", blob("zz")),
      (11L, "image", (new String(blob("aa"), "UTF-8") + " jitter").getBytes("UTF-8")))
      .toDF("doc_id", "kind", "payload")
    val pairs = MultimodalOps.mediaNearDupPairs(media, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 11L)), s"expected only the planted pair: $pairs")
    // the pair set feeds the SAME cluster machinery documents use...
    val labels = DedupPipeline.clusters(
      MultimodalOps.mediaNearDupPairs(media, maxHamming = 10).select("a", "b"),
      maxIter = 10).toDF()
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab(11L) == lab(1L))
    // ...and therefore the same split: rep-hash assignment puts the copy
    // exactly where its original went, never across the wall
    val p = "graft_media_split"
    def dropAll(): Unit = AtRest.dropFamily(spark, p)
    try {
      dropAll()
      SplitState.init(spark, p, media.select("doc_id"), labels)
      val m = SplitState.load(spark, p).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(m(11L) == m(1L),
        s"media near-dup straddles the wall: ${m(1L)} / ${m(11L)}")
      // ...and the pair artifact is modality-agnostic: record the media
      // pair (Hamming mapped to a [0,1] similarity) and the at-rest wall
      // audit covers media assets with the same ok/pending/leak verdicts
      SplitState.recordPairs(spark, p,
        MultimodalOps.mediaNearDupPairs(media, maxHamming = 10)
          .select(col("a"), col("b"),
            (lit(1.0) - col("hamming") / 64.0).as("jac")), 1L, 11L)
      val audit = graft.operators.DedupOps.wallAudit(
        SplitState.loadPairs(spark, p).select("a", "b"),
        SplitState.load(spark, p))
        .collect().map(r => r.getString(r.fieldIndex("status")))
      assert(audit.toSeq == Seq("ok"), s"${audit.toSeq}")
    } finally dropAll()
  }
}
