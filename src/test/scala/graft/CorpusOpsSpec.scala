package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AtRest, CorpusOps}

class CorpusOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("ngramNovelty: first doc is fully novel, an exact repeat contributes zero") {
    val docs = Seq(
      (0L, "a b c d e"),        // shingles: abc bcd cde — all first here
      (1L, "a b c d e"),        // exact repeat: zero novel
      (2L, "a b c x y z")       // abc seen; bcx cxy xyz novel
    ).toDF("doc_id", "text")
    val out = CorpusOps.ngramNovelty(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) == ((0L, 3L, 3L, 1.0)), s"doc 0: ${out(0)}")
    assert(out(1) == ((1L, 3L, 0L, 0.0)), s"doc 1: ${out(1)}")
    assert(out(2) == ((2L, 4L, 3L, 0.75)), s"doc 2: ${out(2)}")
  }

  test("ngramNovelty: within-doc repeated shingles count once (distinct shingles)") {
    val docs = Seq((7L, "a b c a b c a b c")).toDF("doc_id", "text")
    val out = CorpusOps.ngramNovelty(docs).collect()
    // distinct shingles of the cycle: abc bca cab — 3, all novel
    assert(out.head.getLong(1) == 3L && out.head.getLong(2) == 3L)
  }

  test("vocabGrowth: two-level prefix sum == global running sum, across bucket boundaries") {
    // doc_ids straddle several width-4 buckets, with gaps and a zero-novelty doc
    val docs = Seq(
      (0L, "w0 w1"), (1L, "w1 w2"), (3L, "w0 w1"), (4L, "w3"),
      (9L, "w4 w5 w6"), (10L, "w2 w6"), (12L, "w7")
    ).toDF("doc_id", "text")
    val out = CorpusOps.vocabGrowth(docs, bucketWidth = 4)
    val got = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference: plain global window over the same per-doc novel counts
    val firstSeen = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val ref = docs.select("doc_id").join(firstSeen, Seq("doc_id"), "left")
      .withColumn("new_tokens", coalesce(col("nt"), lit(0L)))
      .withColumn("cum_vocab", sum("new_tokens").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "new_tokens", "cum_vocab").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == ref.toSeq, s"got ${got.toSeq}\nref ${ref.toSeq}")
    assert(got.last == ((12L, 1L, 8L)), s"final vocab: ${got.last}")
    assert(got.toSeq.exists { case (id, nt, _) => id == 3L && nt == 0L },
      "doc 3 repeats earlier tokens — zero new")
  }

  test("vocabGrowth plan: every corpus-sized window is bucket-partitioned; levels recurse until the top frame fits") {
    // span 10 / width 4 → one bucketed level, totals frame (3 rows) fits
    val docs = (0L to 9L).map(i => (i, s"w$i")).toDF("doc_id", "text")
    val plan = CorpusOps.vocabGrowth(docs, bucketWidth = 4)
      .queryExecution.optimizedPlan.toString
    // the per-doc running sum must carry a bkt partition spec — the spec
    // string puts partition columns before the order spec, so the intra
    // window renders as windowspecdefinition(bkt0…, doc_id… ASC …)
    assert(plan.contains("windowspecdefinition(bkt0"),
      s"expected a bkt0-partitioned window in:\n$plan")
    // span 1000 / width 4 → the totals frame itself recurses: 1000 → 251
    // → 63 → 16 → 5 → 2: five bucketed levels before a frame fits
    val big = Seq((999L, "deep")).toDF("doc_id", "text")
    val planB = CorpusOps.vocabGrowth(big, bucketWidth = 4)
      .queryExecution.optimizedPlan.toString
    for (l <- 0 to 4)
      assert(planB.contains(s"windowspecdefinition(bkt$l"),
        s"expected level-$l bucketed window in:\n$planB")
  }

  test("vocabGrowth: three-plus recursion levels equal the global running sum") {
    val docs = (0L to 100L).filter(i => i % 3 != 1)
      .map(i => (i, s"w${i % 7} w${i % 13} w$i")).toDF("doc_id", "text")
    val got = CorpusOps.vocabGrowth(docs, bucketWidth = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val firstSeen = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val ref = docs.select("doc_id").join(firstSeen, Seq("doc_id"), "left")
      .withColumn("new_tokens", coalesce(col("nt"), lit(0L)))
      .withColumn("cum_vocab", sum("new_tokens").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "new_tokens", "cum_vocab").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == ref.toSeq)
  }

  private def noveltyRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_shingles", "n_novel", "novelty").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  test("noveltyVsIndex == full ngramNovelty restricted to the batch (monotone ids)") {
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val thr = docs.agg(max("doc_id")).collect()(0).getLong(0) * 9 / 10
    val corpus = docs.filter(col("doc_id") <= thr)
    val batch = docs.filter(col("doc_id") > thr)
    val incremental = noveltyRows(
      CorpusOps.noveltyVsIndex(CorpusOps.firstSeenOf(corpus), batch))
    val full = noveltyRows(
      CorpusOps.ngramNovelty(docs).filter(col("doc_id") > thr))
    assert(incremental == full)
    assert(full.nonEmpty)
  }

  test("first-seen index: at-rest round-trip, batch-over-batch append visibility, bucketed join") {
    import spark.implicits._
    val mk = (ws: Seq[String]) => ws.mkString(" ")
    val corpus = Seq((0L, mk((1 to 10).map(i => f"c$i%02d")))).toDF("doc_id", "text")
    // batch 1 doc 10 introduces new shingles; doc 11 repeats doc 10 exactly
    val b1 = Seq(
      (10L, mk((1 to 8).map(i => f"n$i%02d"))),
      (11L, mk((1 to 8).map(i => f"n$i%02d")))).toDF("doc_id", "text")
    // batch 2 repeats batch 1's content — must be zero-novel ONLY if the
    // append made batch 1's admissions visible
    val b2 = Seq((20L, mk((1 to 8).map(i => f"n$i%02d")))).toDF("doc_id", "text")
    try {
      CorpusOps.saveFirstSeenIndex(corpus, "graft_fs", nBuckets = 4)
      val idx = CorpusOps.loadFirstSeenIndex(spark, "graft_fs")
      val out1 = noveltyRows(CorpusOps.noveltyVsIndex(idx, b1))
      assert(out1(10L) == ((10L, 6L, 6L, 1.0)), s"${out1.get(10L)}")
      assert(out1(11L) == ((11L, 6L, 0L, 0.0)), s"${out1.get(11L)}")
      // parity with the in-session frame (round-trip loses nothing)
      assert(out1 == noveltyRows(
        CorpusOps.noveltyVsIndex(CorpusOps.firstSeenOf(corpus), b1)))
      CorpusOps.appendToFirstSeenIndex(spark, "graft_fs", b1)
      val out2 = noveltyRows(CorpusOps.noveltyVsIndex(
        CorpusOps.loadFirstSeenIndex(spark, "graft_fs"), b2))
      assert(out2(20L) == ((20L, 6L, 0L, 0.0)), s"${out2.get(20L)}")
      // the index stores batch 1's shingles under the SENIOR doc once
      val stored = spark.table("graft_fs_firstseen")
        .filter(col("first_doc") === 10L).count()
      assert(stored == 6L, s"stored $stored")
      assert(spark.table("graft_fs_firstseen")
        .filter(col("first_doc") === 11L).count() == 0L)
      // idempotent append: nothing new to admit
      CorpusOps.appendToFirstSeenIndex(spark, "graft_fs", b1)
      assert(spark.table("graft_fs_firstseen").groupBy("g").count()
        .filter(col("count") > 1).count() == 0L, "duplicate shingle rows")
      // the batch joins the loaded table without shuffling the corpus side
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      try {
        spark.conf.set(bcKey, "-1")
        val q = CorpusOps.noveltyVsIndex(
          CorpusOps.loadFirstSeenIndex(spark, "graft_fs"), b2)
        q.collect()
        assert(q.queryExecution.executedPlan.toString.contains("Bucketed: true"))
      } finally spark.conf.set(bcKey, prevBc)
    } finally AtRest.dropFamily(spark, "graft_fs")
  }

  test("first-seen takedown: interim drop semantics, compact re-attributes to next-senior survivor, parity with from-scratch") {
    // doc 0 introduces x1x2x3 (shared with doc 2), x2x3x4, x3x4x5 (its own);
    // doc 1 and doc 2 carry their own shingles
    val corpus = Seq(
      (0L, "x1 x2 x3 x4 x5"),
      (1L, "y1 y2 y3 y4"),
      (2L, "x1 x2 x3 z1 z2 z3")).toDF("doc_id", "text")
    try {
      CorpusOps.saveFirstSeenIndex(corpus, "graft_fst", nBuckets = 4)
      CorpusOps.removeFromFirstSeenIndex("graft_fst", Seq(0L).toDF("doc_id"))
      // INTERIM (pre-compact): every shingle doc 0 introduced reads as
      // never-seen — novel again, including the one doc 2 also contains
      val probe1 = Seq((100L, "x1 x2 x3 x4")).toDF("doc_id", "text")
      val interim = noveltyRows(CorpusOps.noveltyVsIndex(spark, "graft_fst", probe1))
      assert(interim(100L) == ((100L, 2L, 2L, 1.0)), s"${interim.get(100L)}")
      // an orphaned shingle is RE-ADMITTABLE: batch doc 50 re-introduces
      // x2x3x4 and the index stores it under 50
      CorpusOps.appendToFirstSeenIndex(spark, "graft_fst",
        Seq((50L, "x2 x3 x4 q1")).toDF("doc_id", "text"))
      assert(spark.table("graft_fst_firstseen")
        .filter(col("g") === "x2 x3 x4" && col("first_doc") === 50L).count() == 1L)
      // COMPACT with survivors {1, 2} only — doc 50's text deliberately
      // omitted: its live row must still win its shingle (the defensive
      // union), while x1x2x3 re-attributes to doc 2 and x3x4x5 vanishes
      CorpusOps.compactFirstSeenIndex(spark, "graft_fst",
        corpus.filter(col("doc_id") =!= 0L))
      val rows = spark.table("graft_fst_firstseen").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("x1 x2 x3") == 2L, s"$rows")
      assert(rows("x2 x3 x4") == 50L, s"$rows")
      assert(!rows.contains("x3 x4 x5"), s"$rows")
      assert(!spark.catalog.tableExists("graft_fst_tombstones"))
      // parity: a probe batch answers identically through the compacted
      // index and a from-scratch first-seen frame over the survivors
      val survivors = corpus.filter(col("doc_id") =!= 0L)
        .unionByName(Seq((50L, "x2 x3 x4 q1")).toDF("doc_id", "text"))
      val probe2 = Seq((200L, "x1 x2 x3 x4 x5"), (201L, "y2 y3 y4 y5"))
        .toDF("doc_id", "text")
      assert(noveltyRows(CorpusOps.noveltyVsIndex(spark, "graft_fst", probe2)) ==
        noveltyRows(CorpusOps.noveltyVsIndex(CorpusOps.firstSeenOf(survivors), probe2)))
    } finally AtRest.dropFamily(spark, "graft_fst")
  }

  test("first-seen guards: out-of-order append and novelty fail fast; crashed-append re-run passes; tombstoned id rejected") {
    val corpus = Seq((0L, "a1 a2 a3 a4"), (9L, "b1 b2 b3")).toDF("doc_id", "text")
    try {
      CorpusOps.saveFirstSeenIndex(corpus, "graft_fsg", nBuckets = 4)
      assert(CorpusOps.firstSeenWatermark(spark, "graft_fsg").contains(9L))
      // batch below the watermark: both the append and the checked
      // novelty read reject it with a clear error, not silent wrong rows
      val low = Seq((5L, "c1 c2 c3")).toDF("doc_id", "text")
      val e1 = intercept[IllegalArgumentException](
        CorpusOps.appendToFirstSeenIndex(spark, "graft_fsg", low))
      assert(e1.getMessage.contains("watermark"))
      val e2 = intercept[IllegalArgumentException](
        CorpusOps.noveltyVsIndex(spark, "graft_fsg", low))
      assert(e2.getMessage.contains("watermark"))
      // a good batch admits and advances the watermark; re-running the
      // SAME batch (the crash-recovery protocol) is a sanctioned no-op
      val b = Seq((10L, "c1 c2 c3"), (12L, "d1 d2 d3")).toDF("doc_id", "text")
      CorpusOps.appendToFirstSeenIndex(spark, "graft_fsg", b)
      assert(CorpusOps.firstSeenWatermark(spark, "graft_fsg").contains(12L))
      CorpusOps.appendToFirstSeenIndex(spark, "graft_fsg", b)
      assert(spark.table("graft_fsg_firstseen").groupBy("g").count()
        .filter(col("count") > 1).count() == 0L, "duplicate shingle rows")
      assert(spark.table("graft_fsg_meta").count() == 2L, "duplicate meta span")
      // the replay exemption is CONTENT-CHECKED: the same (lo, hi) span
      // presented with different text is a violated single-writer
      // contract, not a sanctioned crash re-run (ADVICE r11)
      val divergent = Seq((10L, "c1 c2 c3"), (12L, "DIVERGED x1 x2"))
        .toDF("doc_id", "text")
      val eFp = intercept[IllegalArgumentException](
        CorpusOps.appendToFirstSeenIndex(spark, "graft_fsg", divergent))
      assert(eFp.getMessage.contains("fingerprint"))
      // a tombstoned id can never be re-admitted before compaction
      CorpusOps.removeFromFirstSeenIndex("graft_fsg", Seq(10L).toDF("doc_id"))
      val e3 = intercept[IllegalArgumentException](
        CorpusOps.appendToFirstSeenIndex(spark, "graft_fsg",
          Seq((10L, "e1 e2 e3")).toDF("doc_id", "text")))
      assert(e3.getMessage.contains("tombstone"))
    } finally AtRest.dropFamily(spark, "graft_fsg")
  }

  test("first-seen legacy _meta (span-only) migrates on the first new admission instead of crashing the append") {
    val corpus = Seq((0L, "m1 m2 m3 m4"), (3L, "n1 n2 n3")).toDF("doc_id", "text")
    try {
      CorpusOps.saveFirstSeenIndex(corpus, "graft_fsl", nBuckets = 2)
      // rewrite _meta in the PRE-UPGRADE shape: (lo, hi) only — the state
      // an index built before the fingerprint columns existed is in
      AtRest.rewrite(spark, "graft_fsl", Seq("meta" -> spark.table("graft_fsl_meta").select("lo", "hi")),
        fold = false)
      // the first admission to the legacy index must migrate, not throw a
      // column-count AnalysisException (ADVICE r12)
      val b = Seq((10L, "p1 p2 p3")).toDF("doc_id", "text")
      CorpusOps.appendToFirstSeenIndex(spark, "graft_fsl", b)
      assert(CorpusOps.firstSeenWatermark(spark, "graft_fsl").contains(10L))
      val meta = spark.table("graft_fsl_meta")
      assert(meta.schema.fieldNames.toSet == Set("lo", "hi", "n", "fp"))
      // migrated legacy rows carry null fingerprints (span-only exemption);
      // the new row carries a real one
      assert(meta.filter(col("hi") === 3L && col("fp").isNull).count() == 1L)
      assert(meta.filter(col("hi") === 10L && col("fp").isNotNull).count() == 1L)
      // replays still behave: same batch no-ops, divergent content on the
      // NEW span still fails the fingerprint check
      CorpusOps.appendToFirstSeenIndex(spark, "graft_fsl", b)
      assert(spark.table("graft_fsl_meta").count() == 2L)
      val eFp = intercept[IllegalArgumentException](
        CorpusOps.appendToFirstSeenIndex(spark, "graft_fsl",
          Seq((10L, "DIVERGED q1")).toDF("doc_id", "text")))
      assert(eFp.getMessage.contains("fingerprint"))
    } finally AtRest.dropFamily(spark, "graft_fsl")
  }
}
