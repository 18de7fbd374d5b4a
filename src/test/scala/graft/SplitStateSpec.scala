package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AtRest, SplitState}

/** The fifth at-rest artifact (VERDICT r11 demands 1-2): durable split
  * assignments that survive committed merges, deletions and session
  * boundaries, with quarantine that always drains and never leaks. */
class SplitStateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** splitOf evaluated on the driver for planted-geometry id selection. */
  private lazy val bucketOf: Map[Long, String] =
    spark.range(1, 2000).select(col("id"), SplitState.splitOf(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Smallest id ≥ `from` whose singleton-rep hash is `want`. */
  private def idWith(want: String, from: Long = 1L): Long =
    (from to 1999L).find(i => bucketOf(i) == want).get

  private def drop(p: String): Unit = AtRest.dropFamily(spark, p)

  private def loadMap(s: org.apache.spark.sql.SparkSession, p: String): Map[Long, String] =
    SplitState.load(s, p).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getString(r.fieldIndex("split"))).toMap

  test("init + load: splits hash the cluster rep; fresh-session load parity") {
    val p = "graft_sp_init"
    try {
      drop(p)
      val a = idWith("train"); val b = idWith("test")
      // cluster {a, a+300-ish} rep a; cluster {b, ...} rep b; singleton c
      val c = idWith("valid")
      val docs = Seq(a, a + 350, b, b + 350, c).toDF("doc_id")
      val labels = Seq((a, a), (a + 350, a), (b, b), (b + 350, b)).toDF("node", "label")
      SplitState.init(spark, p, docs, labels)
      val m = loadMap(spark, p)
      assert(m == Map(a -> "train", (a + 350) -> "train",
        b -> "test", (b + 350) -> "test", c -> bucketOf(c)))
      // FRESH session: the assignment is at rest, not session state
      assert(loadMap(spark.newSession(), p) == m)
      // init refuses a prefix with committed state
      val e = intercept[IllegalArgumentException](
        SplitState.init(spark, p, docs, labels))
      assert(e.getMessage.contains("already has committed state"))
    } finally drop(p)
  }

  test("committed cross-split merge: recorded splits never move; bridge quarantines; resolve drains via senior rule with audit") {
    val p = "graft_sp_merge"
    try {
      drop(p)
      // planted geometry: senior cluster {sA, sA2} hashes train, junior
      // {jB, jB2} hashes test, with sA < jB (ids are arrival-ordered)
      val sA = idWith("train"); val jB = idWith("test", sA + 1)
      val sA2 = sA + 360; val jB2 = jB + 360
      val docs = Seq(sA, sA2, jB, jB2).toDF("doc_id")
      val corpusLabels = Seq((sA, sA), (sA2, sA), (jB, jB), (jB2, jB))
        .toDF("node", "label")
      SplitState.init(spark, p, docs, corpusLabels)
      assert(loadMap(spark, p) ==
        Map(sA -> "train", sA2 -> "train", jB -> "test", jB2 -> "test"))
      // snapshot N: batch doc x bridges the two clusters; the merge is
      // COMMITTED to the cluster labels (min-label contraction)
      val x = 390L
      assert(x > sA2 && x > jB2)
      val mergedLabels = Seq((sA, sA), (sA2, sA), (jB, sA), (jB2, sA), (x, sA))
        .toDF("node", "label")
      SplitState.assign(spark, p, Seq(x).toDF("doc_id"), mergedLabels)
      val atN = loadMap(spark, p)
      // the bridge doc is quarantine — NOT train, NOT test — and every
      // previously-assigned corpus doc reads its ORIGINAL split even
      // though its component's rep now hashes differently
      assert(atN(x) == "quarantine")
      assert(atN - x == Map(sA -> "train", sA2 -> "train",
        jB -> "test", jB2 -> "test"))
      // ...including from a FRESH session (the r11 failure mode: the old
      // splitApply re-derived stickiness per call and lost it here)
      assert(loadMap(spark.newSession(), p) == atN)
      // no near-dup EDGE straddles train/test at snapshot N: edges are
      // (sA~sA2), (jB~jB2), (x~sA2), (x~jB) — x is quarantine, so no edge
      // reads train on one end and test on the other
      val edges = Seq((sA, sA2), (jB, jB2), (x, sA2), (x, jB))
      def noStraddle(m: Map[Long, String]): Unit = edges.foreach { case (u, v) =>
        assert(Set(m(u), m(v)) != Set("train", "test"),
          s"edge ($u, $v) straddles the wall: ${m(u)} / ${m(v)}")
      }
      noStraddle(atN)
      // snapshot N+1: resolve drains the quarantine — the merged cluster
      // keeps the SENIOR side's split (sA is the smallest recorded id);
      // the junior side is REALIGNED to it, each move audited
      SplitState.resolve(spark, p, mergedLabels)
      val atN1 = loadMap(spark, p)
      assert(atN1 == Map(sA -> "train", sA2 -> "train",
        jB -> "train", jB2 -> "train", x -> "train"))
      noStraddle(atN1)
      assert(!atN1.values.exists(_ == "quarantine"), "quarantine pool did not drain")
      val moves = spark.table(s"${p}_moves")
        .select("doc_id", "from_split", "to_split", "reason").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(moves == Set(
        (jB, "test", "train", "realign"),
        (jB2, "test", "train", "realign"),
        (x, null, "quarantine", "quarantine_enter"),
        (x, "quarantine", "train", "quarantine_drain")))
      // resolve is idempotent: a second pass changes nothing
      val seqBefore = SplitState.committedSeq(spark, p)
      SplitState.resolve(spark, p, mergedLabels)
      assert(SplitState.committedSeq(spark, p) == seqBefore)
      assert(loadMap(spark, p) == atN1)
      // coverage audit: every clustered doc holds a split; a label row
      // for a doc the split commit never reached is the alarm
      assert(SplitState.unassigned(spark, p, mergedLabels).count() == 0L)
      val ghost = mergedLabels.unionByName(Seq((399L, sA)).toDF("node", "label"))
      assert(SplitState.unassigned(spark, p, ghost).collect()
        .map(_.getLong(0)).toSeq == Seq(399L))
    } finally drop(p)
  }

  test("assign: inherit unique split, hash fresh components, quarantine next to an open dispute") {
    val p = "graft_sp_asg"
    try {
      drop(p)
      val a = idWith("train"); val b = idWith("test", a + 1)
      val docs = Seq(a, b).toDF("doc_id")
      val labels = Seq((a, a), (b, b)).toDF("node", "label")
      SplitState.init(spark, p, docs, labels)
      // batch: y joins a's cluster (inherits train even if the merged rep
      // would hash differently), z is a fresh singleton (hashes itself),
      // w bridges a and b (quarantine)
      val y = 391L; val z = 392L; val w = 393L
      val updated = Seq((a, a), (b, a), (y, a), (w, a)).toDF("node", "label")
      // first: y alone joining a's cluster inherits
      SplitState.assign(spark, p,
        Seq(y).toDF("doc_id"), Seq((a, a), (y, a)).toDF("node", "label"))
      assert(loadMap(spark, p)(y) == "train")
      // second batch: w bridges (a∪y: train) and (b: test) → quarantine;
      // z is fresh → its own hash
      SplitState.assign(spark, p, Seq(z, w).toDF("doc_id"),
        Seq((a, a), (y, a), (b, a), (w, a)).toDF("node", "label"))
      val m = loadMap(spark, p)
      assert(m(w) == "quarantine")
      assert(m(z) == bucketOf(z))
      // third batch: v near-dups ONLY the disputed component while the
      // dispute is open → quarantines too, never picks a side
      val v = 394L
      SplitState.assign(spark, p, Seq(v).toDF("doc_id"),
        Seq((a, a), (y, a), (b, a), (w, a), (v, a)).toDF("node", "label"))
      assert(loadMap(spark, p)(v) == "quarantine")
      // resolve drains BOTH quarantined docs to the senior split (train)
      SplitState.resolve(spark, p,
        Seq((a, a), (y, a), (b, a), (w, a), (v, a)).toDF("node", "label"))
      val fin = loadMap(spark, p)
      assert(fin(w) == "train" && fin(v) == "train" && fin(b) == "train")
    } finally drop(p)
  }

  test("sticky under deletion rep churn: survivors keep recorded splits; resolve no-ops; all-quarantine component hashes its rep once") {
    val p = "graft_sp_del"
    try {
      drop(p)
      // cluster {c, c2, c3} where the rep c and the next-senior c2 hash
      // DIFFERENT splits — removing c churns the rep, and a re-hashing
      // implementation would silently move c2/c3 across the wall
      val c = idWith("train")
      val c2 = (c + 1 to 399L).find(i => bucketOf(i) != bucketOf(c)).get
      val c3 = c2 + 1
      SplitState.init(spark, p, Seq(c, c2, c3).toDF("doc_id"),
        Seq((c, c), (c2, c), (c3, c)).toDF("node", "label"))
      SplitState.remove(p, Seq(c).toDF("doc_id"))
      val survivorLabels = Seq((c2, c2), (c3, c2)).toDF("node", "label")
      val seqBefore = SplitState.committedSeq(spark, p)
      SplitState.resolve(spark, p, survivorLabels)
      assert(SplitState.committedSeq(spark, p) == seqBefore, "no-op resolve wrote state")
      val m = loadMap(spark, p)
      assert(!m.contains(c))
      assert(m(c2) == "train" && m(c3) == "train",
        s"survivors re-hashed to ${m(c2)}/${m(c3)} — recorded split must win (rep $c2 hashes ${bucketOf(c2)})")
      assert(bucketOf(c2) != "train", "planted geometry broken: churned rep must hash differently")
      // a later batch doc still INHERITS the recorded (not re-hashed) split
      val q1 = 700L
      SplitState.assign(spark, p, Seq(q1).toDF("doc_id"),
        Seq((c2, c2), (c3, c2), (q1, c2)).toDF("node", "label"))
      assert(loadMap(spark, p)(q1) == "train") // inherits the unique split
      // ALL-quarantine component: open a dispute, then take down every
      // assigned member — resolve hashes the survivor's own rep ONCE and
      // records it (later churn can never move it again)
      val d = idWith("test", 701L)    // fresh singleton hashing test
      SplitState.assign(spark, p, Seq(d).toDF("doc_id"),
        Seq((c2, c2), (c3, c2), (q1, c2)).toDF("node", "label"))
      assert(loadMap(spark, p)(d) == "test")
      val w2 = d + 50                  // bridges train side and test side
      SplitState.assign(spark, p, Seq(w2).toDF("doc_id"),
        Seq((c2, c2), (c3, c2), (q1, c2), (d, c2), (w2, c2)).toDF("node", "label"))
      assert(loadMap(spark, p)(w2) == "quarantine")
      SplitState.remove(p, Seq(c2, c3, q1, d).toDF("doc_id"))
      SplitState.resolve(spark, p, Seq((w2, w2)).toDF("node", "label"))
      assert(loadMap(spark, p) == Map(w2 -> bucketOf(w2)))
    } finally drop(p)
  }

  test("crash protocol: uncommitted rows invisible; same-batch replay adopts orphans; stray orphans demand compact; completed replay no-ops; watermark enforced") {
    val p = "graft_sp_crash"
    try {
      drop(p)
      SplitState.init(spark, p, Seq(1L, 2L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // simulate a crashed assign: rows at seq 1, no meta row
      Seq((10L, "train", 1L)).toDF("doc_id", "split", "seq")
        .write.mode("append").format("parquet").bucketBy(32, "doc_id")
        .saveAsTable(s"${p}_assign")
      assert(!loadMap(spark, p).contains(10L), "uncommitted row visible")
      // the deterministic re-run of the SAME batch adopts the orphan and
      // commits exactly one row for it
      SplitState.assign(spark, p, Seq(10L, 11L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      val m = loadMap(spark, p)
      assert(m.contains(10L) && m.contains(11L))
      assert(spark.table(s"${p}_assign").filter(col("doc_id") === 10L).count() == 1L)
      // replay of the COMPLETED batch is a recorded no-op
      val rows = spark.table(s"${p}_assign").count()
      SplitState.assign(spark, p, Seq(10L, 11L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      assert(spark.table(s"${p}_assign").count() == rows)
      // out-of-order batch fails the watermark fence
      val eW = intercept[IllegalArgumentException](
        SplitState.assign(spark, p, Seq(5L).toDF("doc_id"),
          Seq.empty[(Long, Long)].toDF("node", "label")))
      assert(eW.getMessage.contains("watermark"))
      // a stray orphan from a DIFFERENT abandoned batch blocks the commit
      Seq((99L, "test", 2L)).toDF("doc_id", "split", "seq")
        .write.mode("append").format("parquet").bucketBy(32, "doc_id")
        .saveAsTable(s"${p}_assign")
      val eS = intercept[IllegalArgumentException](
        SplitState.assign(spark, p, Seq(30L).toDF("doc_id"),
          Seq.empty[(Long, Long)].toDF("node", "label")))
      assert(eS.getMessage.contains("compact"))
      SplitState.compact(spark, p) // purges the uncommitted orphan
      assert(spark.table(s"${p}_assign").filter(col("doc_id") === 99L).count() == 0L)
      SplitState.assign(spark, p, Seq(30L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      assert(loadMap(spark, p).contains(30L))
    } finally drop(p)
  }

  test("wallAudit verdicts: ok on same split, pending next to quarantine, leak across the wall — and the planted merge ends leak-free") {
    val p = "graft_sp_audit"
    try {
      drop(p)
      val a = idWith("train"); val b = idWith("test", a + 1)
      SplitState.init(spark, p, Seq(a, b).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // open a dispute: w bridges the two singletons
      val w = 396L
      val merged = Seq((a, a), (b, a), (w, a)).toDF("node", "label")
      SplitState.assign(spark, p, Seq(w).toDF("doc_id"), merged)
      val pairs = Seq((a, w), (w, b), (a, b)).toDF("a", "b")
      def statuses(): Map[(Long, Long), String] =
        graft.operators.DedupOps.wallAudit(pairs, SplitState.load(spark, p))
          .collect().map(r => (r.getLong(r.fieldIndex("a")),
            r.getLong(r.fieldIndex("b"))) -> r.getString(r.fieldIndex("status"))).toMap
      // snapshot N: the bridge's edges are PENDING (never leak); the
      // direct a~b pair — impossible through the real corpus-complete
      // discovery, planted here to prove the alarm branch fires — reads
      // LEAK while the merge is unresolved
      val atN = statuses()
      assert(atN((a, w)) == "pending" && atN((w, b)) == "pending", s"$atN")
      assert(atN((a, b)) == "leak", s"$atN")
      // snapshot N+1: resolve drains and realigns — the audit is clean
      SplitState.resolve(spark, p, merged)
      val atN1 = statuses()
      assert(atN1.values.forall(_ == "ok"), s"$atN1")
    } finally drop(p)
  }

  test("recordPairs/loadPairs: the at-rest pair artifact accumulates per batch; replay is fingerprint-verified; takedown + compact fold pairs; orphans adopted") {
    val p = "graft_sp_pairs"
    try {
      drop(p)
      SplitState.init(spark, p, Seq(1L, 2L, 3L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // day 0: corpus pairs recorded with the init span
      val corpusPairs = Seq((1L, 2L, 0.8), (2L, 3L, 0.6)).toDF("a", "b", "jac")
      SplitState.recordPairs(spark, p, corpusPairs, 1L, 3L)
      def pairSet(s: org.apache.spark.sql.SparkSession = spark) =
        SplitState.loadPairs(s, p).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairSet() == Set((1L, 2L, 0.8), (2L, 3L, 0.6)))
      // batch: incident pairs (batch~corpus + batch~batch) with the batch span
      SplitState.assign(spark, p, Seq(10L, 11L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      SplitState.recordPairs(spark, p,
        Seq((3L, 10L, 0.7), (10L, 11L, 0.9)).toDF("a", "b", "jac"), 10L, 11L)
      assert(pairSet() ==
        Set((1L, 2L, 0.8), (2L, 3L, 0.6), (3L, 10L, 0.7), (10L, 11L, 0.9)))
      // at rest: a fresh session reads the same set
      assert(pairSet(spark.newSession()) == pairSet())
      // replay of a committed span with the SAME content: recorded no-op
      val rows = spark.table(s"${p}_pairs").count()
      SplitState.recordPairs(spark, p,
        Seq((3L, 10L, 0.7), (10L, 11L, 0.9)).toDF("a", "b", "jac"), 10L, 11L)
      assert(spark.table(s"${p}_pairs").count() == rows)
      // ...but an IMPOSTOR presenting the same span with different pairs
      // fails fast instead of silently no-opping
      val eF = intercept[IllegalArgumentException](
        SplitState.recordPairs(spark, p,
          Seq((3L, 10L, 0.7), (10L, 99L, 0.9)).toDF("a", "b", "jac"), 10L, 11L))
      assert(eF.getMessage.contains("fingerprint"))
      // crashed-attempt orphans at the next seq: adopted by the re-run,
      // never duplicated
      val next = SplitState.committedSeq(spark, p) + 1
      Seq((11L, 12L, 0.55, next)).toDF("a", "b", "jac", "seq")
        .write.mode("append").format("parquet").bucketBy(32, "a")
        .saveAsTable(s"${p}_pairs")
      assert(!pairSet().contains((11L, 12L, 0.55)), "uncommitted pair visible")
      SplitState.recordPairs(spark, p,
        Seq((11L, 12L, 0.55), (2L, 12L, 0.5)).toDF("a", "b", "jac"), 12L, 12L)
      assert(spark.table(s"${p}_pairs")
        .filter(col("a") === 11L && col("b") === 12L).count() == 1L)
      assert(pairSet().contains((2L, 12L, 0.5)))
      // TAKEDOWN of doc 10: its pairs vanish at read, and compact folds
      // the removal into the files (no re-attribution — a pair dies with
      // either endpoint)
      SplitState.remove(p, Seq(10L).toDF("doc_id"))
      assert(pairSet() ==
        Set((1L, 2L, 0.8), (2L, 3L, 0.6), (11L, 12L, 0.55), (2L, 12L, 0.5)))
      SplitState.compact(spark, p)
      assert(spark.table(s"${p}_pairs")
        .filter(col("a") === 10L || col("b") === 10L).count() == 0L)
      assert(pairSet() ==
        Set((1L, 2L, 0.8), (2L, 3L, 0.6), (11L, 12L, 0.55), (2L, 12L, 0.5)))
    } finally drop(p)
  }

  test("assign replay guard: a same-span different-content replay fails fast; a legacy _meta (no fingerprint columns) migrates and keeps the span-only exemption") {
    val p = "graft_sp_fp"
    try {
      drop(p)
      SplitState.init(spark, p, Seq(1L, 2L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      SplitState.assign(spark, p, Seq(10L, 12L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // same (lo, hi) = (10, 12), DIFFERENT id set: the silent no-op this
      // guard kills would leave doc 11 assigned under the old content
      val e = intercept[IllegalArgumentException](
        SplitState.assign(spark, p, Seq(10L, 11L, 12L).toDF("doc_id"),
          Seq.empty[(Long, Long)].toDF("node", "label")))
      assert(e.getMessage.contains("fingerprint"))
      // byte-identical replay still no-ops
      val rows = spark.table(s"${p}_assign").count()
      SplitState.assign(spark, p, Seq(10L, 12L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      assert(spark.table(s"${p}_assign").count() == rows)
      // LEGACY family: rewrite _meta without the fingerprint columns (a
      // pre-upgrade index); the next commit must MIGRATE it instead of
      // throwing a column-count mismatch, and the legacy span row falls
      // back to the span-only exemption
      AtRest.rewrite(spark, p, Seq("meta" -> spark.table(s"${p}_meta").select("seq", "lo", "hi", "kind")),
        fold = false)
      SplitState.assign(spark, p, Seq(20L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      assert(loadMap(spark, p).contains(20L))
      assert(spark.table(s"${p}_meta").schema.fieldNames.contains("fp"))
      // the legacy apply row (null fp) admits a same-span replay without
      // a fingerprint — the documented weaker exemption, not a crash
      SplitState.assign(spark, p, Seq(10L, 11L, 12L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      assert(!loadMap(spark, p).contains(11L), "legacy replay must no-op")
    } finally drop(p)
  }

  test("incremental wall audit plan: reads the at-rest _pairs scan — no shingling, no window, no pair generation (O(pairs + state), plan-asserted)") {
    val p = "graft_sp_plan"
    try {
      drop(p)
      SplitState.init(spark, p, Seq(1L, 2L, 3L).toDF("doc_id"),
        Seq((1L, 1L), (2L, 1L)).toDF("node", "label"))
      SplitState.recordPairs(spark, p,
        Seq((1L, 2L, 0.9)).toDF("a", "b", "jac"), 1L, 3L)
      val audit = graft.operators.DedupOps.wallAudit(
        SplitState.loadPairs(spark, p).select("a", "b"),
        SplitState.load(spark, p))
      val plan = audit.queryExecution.executedPlan.toString
      assert(plan.contains(s"${p}_pairs"), "audit must read the pair artifact")
      // the re-mine signature is shingle explode (Generate) + the
      // prefix-order window + a candidate join; none may appear in the
      // nightly audit's plan
      assert(!plan.contains("Generate"), s"shingle explode in audit plan:\n$plan")
      assert(!plan.contains("Window"), s"window in audit plan:\n$plan")
      assert(audit.count() == 1L)
    } finally drop(p)
  }

  test("quarantineAging/quarantinePool: multi-tick ages, pending disputes age against the committed seq, the pool curve rises and drains") {
    val p = "graft_sp_age"
    try {
      drop(p)
      // four singletons: a/c hash train-ish, b/d hash something different
      val a = idWith("train"); val b = idWith("test", a + 1)
      val c = idWith("train", math.max(a, b) + 1)
      val d = idWith("test", c + 1)
      SplitState.init(spark, p, Seq(a, b, c, d).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // seq 1: w1 bridges a~b → quarantine; seq 2: w2 joins the SAME open
      // dispute → quarantine; seq 3: resolve drains both (ages 2 and 1)
      val lab1 = Seq((a, a), (b, a), (500L, a)).toDF("node", "label")
      SplitState.assign(spark, p, Seq(500L).toDF("doc_id"), lab1)
      val lab2 = Seq((a, a), (b, a), (500L, a), (600L, a)).toDF("node", "label")
      SplitState.assign(spark, p, Seq(600L).toDF("doc_id"), lab2)
      SplitState.resolve(spark, p, lab2)
      // seq 4: a NEW dispute (c~d) opens and stays pending
      val lab3 = lab2.unionByName(
        Seq((c, c), (d, c), (700L, c)).toDF("node", "label"))
      SplitState.assign(spark, p, Seq(700L).toDF("doc_id"), lab3)
      val aging = SplitState.quarantineAging(spark, p).collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toMap
      assert(aging == Map(
        500L -> ((1L, Some(3L), 2L)),
        600L -> ((2L, Some(3L), 1L)),
        700L -> ((4L, None, 0L))), s"$aging")
      val pool = SplitState.quarantinePool(spark, p).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(pool == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 0L, 4L -> 1L),
        s"$pool")
      // wall-clock twin: every entry has a commit timestamp, ages are
      // non-negative, and a drained doc's drain ts is at-or-after entry
      val wall = SplitState.quarantineAgingWallClock(spark, p).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) ->
          (r.getLong(r.fieldIndex("entered_ts")),
            if (r.isNullAt(r.fieldIndex("drained_ts"))) None
            else Some(r.getLong(r.fieldIndex("drained_ts"))),
            r.getLong(r.fieldIndex("age_ms")))).toMap
      assert(wall.keySet == Set(500L, 600L, 700L), s"$wall")
      assert(wall.values.forall(_._3 >= 0L), s"negative wall age: $wall")
      assert(wall(500L)._2.exists(_ >= wall(500L)._1), s"$wall")
      assert(wall(700L)._2.isEmpty, s"$wall")
      // COMPACT collapses _assign to one row per doc — but the entry
      // events live in the durable _moves trail (quarantine_enter), so
      // the drained docs do NOT vanish from the aging report and the
      // pool curve is byte-identical (ADVICE r13)
      SplitState.compact(spark, p)
      val agingC = SplitState.quarantineAging(spark, p).collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toMap
      assert(agingC == aging, s"aging changed across compact: $agingC vs $aging")
      val poolC = SplitState.quarantinePool(spark, p).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(poolC == pool, s"pool changed across compact: $poolC vs $pool")
    } finally drop(p)
  }

  test("backfillQuarantineEnters restores pre-r14 entry evidence from uncompacted assign history; analytics survive a later compact") {
    val p = "graft_sp_bf"
    try {
      drop(p)
      val a = idWith("train"); val b = idWith("test", a + 1)
      SplitState.init(spark, p, Seq(a, b).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      val lab = Seq((a, a), (b, a), (500L, a)).toDF("node", "label")
      SplitState.assign(spark, p, Seq(500L).toDF("doc_id"), lab)
      SplitState.resolve(spark, p, lab)
      val agingBefore = SplitState.quarantineAging(spark, p).collect()
        .map(_.toSeq).toSet
      val poolBefore = SplitState.quarantinePool(spark, p).collect()
        .map(_.toSeq).toSet
      // simulate a pre-r14 family: strip the quarantine_enter audit rows
      // (but leave _assign history — NOT yet compacted, so recoverable)
      AtRest.rewrite(spark, p, Seq("moves" ->
        spark.table(s"${p}_moves").filter(col("reason") =!= "quarantine_enter")), fold = false)
      // ADVICE r15: a LATER-stint enter row (as written by r14+ code on a
      // re-quarantine) must not mask the missing first-stint row — the
      // anti-join keys on (doc_id, seq) per stint, not doc_id alone
      Seq((500L, "test", "quarantine", "quarantine_enter", 2L))
        .toDF("doc_id", "from_split", "to_split", "reason", "seq")
        .write.mode("append").format("parquet").saveAsTable(s"${p}_moves")
      assert(SplitState.backfillQuarantineEnters(spark, p) == 1L)
      assert(SplitState.backfillQuarantineEnters(spark, p) == 0L) // idempotent
      // the synthesized rows carry the same entry seq the assign-derived
      // branch reported, so the analytics are unchanged...
      assert(SplitState.quarantineAging(spark, p).collect()
        .map(_.toSeq).toSet == agingBefore)
      assert(SplitState.quarantinePool(spark, p).collect()
        .map(_.toSeq).toSet == poolBefore)
      // ...and now durable: compact collapses _assign, analytics hold
      SplitState.compact(spark, p)
      assert(SplitState.quarantineAging(spark, p).collect()
        .map(_.toSeq).toSet == agingBefore)
      assert(SplitState.quarantinePool(spark, p).collect()
        .map(_.toSeq).toSet == poolBefore)
    } finally drop(p)
  }

  test("quarantinePool clamps at 0 on pre-audit legacy state (orphaned drains, ADVICE r14)") {
    val p = "graft_sp_clamp"
    try {
      drop(p)
      val a = idWith("train"); val b = idWith("test", a + 1)
      SplitState.init(spark, p, Seq(a, b).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // seq 1: bridge a~b → 500 quarantines; seq 2: resolve drains it
      val lab = Seq((a, a), (b, a), (500L, a)).toDF("node", "label")
      SplitState.assign(spark, p, Seq(500L).toDF("doc_id"), lab)
      SplitState.resolve(spark, p, lab)
      // simulate a family that quarantined+compacted BEFORE the r14
      // quarantine_enter audit rows existed: compact collapses _assign
      // history (the quarantine row vanishes), then strip the audit rows
      // from _moves — the drain event is now orphaned
      SplitState.compact(spark, p)
      AtRest.rewrite(spark, p, Seq("moves" ->
        spark.table(s"${p}_moves").filter(col("reason") =!= "quarantine_enter")), fold = false)
      val pool = SplitState.quarantinePool(spark, p).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // without the clamp the drain seq reads -1 (corruption to an
      // operator); with it the documented worst case is "reads low" — 0
      assert(pool.values.forall(_ >= 0L), s"negative pool: $pool")
      assert(pool.nonEmpty && pool.values.max == 0L, s"$pool")
    } finally drop(p)
  }

  test("wallAudit surfaces unassigned endpoints instead of dropping the pair") {
    val p = "graft_sp_unas"
    try {
      drop(p)
      val a = idWith("train")
      SplitState.init(spark, p, Seq(a).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // pair (a, 999): 999 holds no recorded split — the coverage gap must
      // read 'unassigned', not vanish and leave the zero-leak proof vacuous
      val audit = graft.operators.DedupOps.wallAudit(
        Seq((a, 999L), (a, a)).toDF("a", "b"), SplitState.load(spark, p))
        .collect().map(r => (r.getLong(r.fieldIndex("a")), r.getLong(r.fieldIndex("b")))
          -> r.getString(r.fieldIndex("status"))).toMap
      assert(audit((a, 999L)) == "unassigned", s"$audit")
      assert(audit((a, a)) == "ok", s"$audit")
    } finally drop(p)
  }

  test("remove + compact: tombstone filters at read, compact collapses history and folds the takedown, a lost catalog heals") {
    val p = "graft_sp_cmp"
    try {
      drop(p)
      val a = idWith("train"); val b = idWith("test", a + 1)
      SplitState.init(spark, p, Seq(a, b).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("node", "label"))
      // one resolve-driven move so history has two rows for b: merge the
      // two singletons (a senior) and resolve
      val merged = Seq((a, a), (b, a)).toDF("node", "label")
      SplitState.resolve(spark, p, merged)
      assert(loadMap(spark, p)(b) == bucketOf(a))
      assert(spark.table(s"${p}_assign").filter(col("doc_id") === b).count() == 2L)
      SplitState.remove(p, Seq(a).toDF("doc_id"))
      assert(!loadMap(spark, p).contains(a))
      // a crashed resolve's orphan AUDIT row (no meta fence) must not
      // survive compaction — a later op committing that seq would
      // silently legitimize the phantom move
      Seq((b, "train", "test", "realign", 99L))
        .toDF("doc_id", "from_split", "to_split", "reason", "seq")
        .write.mode("append").format("parquet").saveAsTable(s"${p}_moves")
      SplitState.compact(spark, p)
      assert(spark.table(s"${p}_moves").filter(col("seq") === 99L).count() == 0L,
        "uncommitted orphan move survived compaction")
      // collapsed: one row per surviving doc, tombstone folded, table dropped
      assert(spark.table(s"${p}_assign").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((b, bucketOf(a))))
      assert(!spark.catalog.tableExists(s"${p}_tombstones"))
      // the audit trail and the watermark survive compaction
      assert(spark.table(s"${p}_moves").count() == 1L)
      assert(SplitState.watermark(spark, p).contains(math.max(a, b)))
      // the catalog loses the assignment and the AUDIT trail (as a new
      // process would): compact re-registers both from the family's layout
      Seq("assign", "moves").foreach(t => spark.sql(s"DROP TABLE ${p}_$t"))
      SplitState.compact(spark, p)
      assert(loadMap(spark, p) == Map(b -> bucketOf(a)))
      assert(spark.table(s"${p}_moves").count() == 1L, "audit trail lost")
    } finally drop(p)
  }
}
