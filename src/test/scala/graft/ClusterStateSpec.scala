package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AtRest, ClusterState, DedupPipeline}

/** Durable cluster-state lifecycle: build → save → load (FRESH session) →
  * insert/remove must equal the in-session result, which itself must equal
  * the full recluster — the restart story a production takedown/ingest
  * pipeline needs (VERDICT r8 item 2). */
class ClusterStateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("node", "label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Every stored edge must carry the component label of BOTH endpoints
    * under the state's own label table — the invariant remove()'s
    * affected-component scoping rests on. */
  private def assertEdgeAnnotation(st: ClusterState): Unit = {
    val bad = st.edges
      .join(st.labels.select(col("node").as("a"), col("label").as("la")), "a")
      .join(st.labels.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("label") =!= col("la") || col("label") =!= col("lb"))
      .count()
    assert(bad == 0L, s"$bad edges carry a label differing from an endpoint's")
    // and no orphan edges: every endpoint is in the label table
    val orphans = st.edges
      .join(st.labels.select(col("node").as("a")), Seq("a"), "left_anti")
      .count() +
      st.edges
        .join(st.labels.select(col("node").as("b")), Seq("b"), "left_anti")
        .count()
    assert(orphans == 0L, s"$orphans edge endpoints missing from the label table")
  }

  test("save → load in a FRESH session → remove ≡ in-session remove ≡ full recluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (30L, 31L)).toDF("a", "b")
    val st = ClusterState.build(pairs)
    assertEdgeAnnotation(st)
    val root = java.nio.file.Files.createTempDirectory("graft-cluster-state").toString
    st.save(root)

    // a NEW session (separate session state; the closest restart stand-in
    // one JVM offers) reads the state back and runs the takedown
    val s2 = spark.newSession()
    val loaded = ClusterState.load(s2, root)
    val removed = loaded.labels.select("node")
      .filter(col("node").isin(3L, 20L, 21L, 31L))
    val afterLoad = loaded.remove(removed)
    val inSession = st.remove(
      st.labels.select("node").filter(col("node").isin(3L, 20L, 21L, 31L)))
    val full = DedupPipeline.clusters(Seq((1L, 2L), (4L, 5L), (10L, 11L)).toDF("a", "b"))
    assert(labelMap(afterLoad.labels) == labelMap(full.toDF()))
    assert(labelMap(afterLoad.labels) == labelMap(inSession.labels))
    // the bridge split {1,2}/{4,5}, untouched {10,11}, edge-less 30 gone
    assert(labelMap(afterLoad.labels) ==
      Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L, 10L -> 10L, 11L -> 10L))
    assertEdgeAnnotation(afterLoad)
    // removed-incident edges are gone from the stored edge set
    assert(afterLoad.edges.filter(
      col("a").isin(3L, 20L, 21L, 31L) || col("b").isin(3L, 20L, 21L, 31L)).count() == 0)
  }

  test("save → load → insert ≡ full recluster of the union; edge labels refresh on merge") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val root = java.nio.file.Files.createTempDirectory("graft-cluster-state").toString
    ClusterState.build(pairs).save(root)
    val loaded = ClusterState.load(spark.newSession(), root)
    // bridge the two old components + a brand-new pair + a new~old attach
    val batch = Seq((3L, 10L), (20L, 21L), (22L, 11L)).toDF("a", "b")
    val after = loaded.insert(batch)
    val full = DedupPipeline.clusters(pairs.unionByName(batch))
    assert(labelMap(after.labels) == labelMap(full.toDF()))
    assertEdgeAnnotation(after) // merged components' edges must re-label to 1
    // round-trip again: save the updated state, reload, and the edge set
    // still supports a correct delete (the nightly loop closes)
    val root2 = java.nio.file.Files.createTempDirectory("graft-cluster-state").toString
    after.save(root2)
    val reloaded = ClusterState.load(spark, root2)
    val got = reloaded.remove(Seq(10L).toDF("node"))
    val fullAfterRm = DedupPipeline.clusters(
      Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("a", "b")
        .unionByName(Seq((22L, 11L)).toDF("a", "b")))
    assert(labelMap(got.labels) == labelMap(fullAfterRm.toDF()))
  }

  test("MASS deletion: thousands of affected components repair correctly with no static broadcast hint") {
    // 3000 chains of 3 (a-b-c); remove every middle node → every component
    // is affected and every one SPLITS into two singletons (edge-less →
    // both endpoints drop out). `affected` is component-table-sized — the
    // shape that must NOT ride a forced broadcast (VERDICT r8 item 5).
    val n = 3000L
    val chain = spark.range(n).selectExpr(
      "stack(2, id*3, id*3+1, id*3+1, id*3+2) AS (a, b)")
    val st = ClusterState.build(chain)
    val removed = st.labels.select("node").filter(col("node") % 3 === 1)
    val out = st.remove(removed)
    // no ResolvedHint anywhere in the optimized plan: broadcast is AQE's
    // runtime call, never a static promise that a whole-source purge breaks
    val logical = out.labels.queryExecution.optimizedPlan
    assert(logical.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.isEmpty, "static broadcast hint found in remove() plan")
    assert(out.labels.count() == 0L, "all survivors are edge-less singletons")
    assert(out.edges.count() == 0L)
    // same purge through the raw-pairs API agrees
    val viaRaw = DedupPipeline.removeFromClusters(
      st.labels, removed, chain)
    assert(viaRaw.count() == 0L)
  }

  test("nightly ingest loop: corpus index + ClusterState round-trip one batch end-to-end") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.DataFrame
    // the production loop VERDICT r8 asked to close: at-rest MinHash index
    // (bucketed tables) + at-rest ClusterState; per batch — load both,
    // discover batch~corpus pairs through the index, insert into the
    // cluster state, append the batch to the index, save the state. All
    // state crosses a session boundary between every step.
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    // day 0: index + cluster the corpus, persist both
    DedupOps.indexCorpus(corpus).saveAsTables("nightly_idx")
    val pairs0 = DedupOps.minHashNearDupPairs(corpus).filter(col("jac") >= 0.8)
    val root = java.nio.file.Files.createTempDirectory("graft-nightly").toString
    ClusterState.build(pairs0.select("a", "b")).save(root)
    // day 1, fresh session: load, discover, insert, append, save
    val s2 = spark.newSession()
    val st = ClusterState.load(s2, root)
    val idx = DedupOps.loadCorpusIndex(s2, "nightly_idx")
    val newPairs = DedupOps.minHashCrossDupPairs(batch, idx)
      .filter(col("jac") >= 0.8)
      .select(col("new_id").as("a"), col("corpus_id").as("b"))
      .unionByName(DedupOps.minHashNearDupPairs(batch)
        .filter(col("jac") >= 0.8).select("a", "b"))
    val updated = st.insert(newPairs)
    DedupOps.appendToCorpusIndex("nightly_idx", batch)
    updated.save(root)
    // the reloaded state equals the from-scratch build over corpus+batch
    def labelMapD(df: DataFrame): Map[Long, Long] =
      df.select("node", "label").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reloaded = ClusterState.load(spark, root)
    val fullPairs = DedupOps.minHashNearDupPairs(docs).filter(col("jac") >= 0.8)
    assert(labelMapD(reloaded.labels) ==
      labelMapD(DedupPipeline.clusters(fullPairs.select("a", "b"), maxIter = 100).toDF()))
    assertEdgeAnnotation(reloaded)
    // and the appended index answers like a from-scratch index (spot check:
    // a next batch sees identical duplicate candidates through both)
    val probe = docs.limit(20)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val viaAppended = DedupOps.minHashCrossDupPairs(
      probe, DedupOps.loadCorpusIndex(spark, "nightly_idx"))
      .filter(col("jac") >= 0.8)
    val viaRebuilt = DedupOps.minHashCrossDupPairs(probe, docs)
      .filter(col("jac") >= 0.8)
    def pairSet(df: DataFrame) = df.select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(viaAppended) == pairSet(viaRebuilt))
    assert(pairSet(viaAppended).nonEmpty)
  }

  test("nightly loop with BOTH at-rest artifacts: prefix index + ClusterState survive a session boundary, takedown reaches both") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.DataFrame
    // the n-gram twin of the MinHash nightly-loop test above, PLUS the
    // takedown leg VERDICT r9 demanded: a doc removed from the clusters
    // must also stop haunting the prefix index, or the next batch emits
    // pairs against deleted docs.
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text", "n_chars")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def labelMapD(df: DataFrame): Map[Long, Long] =
      df.select("node", "label").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      // day 0: index + cluster the corpus, persist both artifacts
      DedupOps.indexNgramPrefix(corpus, 0.5).saveAsTables("nightly_np", nBuckets = 4)
      val pairs0 = DedupOps.ngramJaccardPairsOf(corpus, 0.5)
      val root = java.nio.file.Files.createTempDirectory("graft-nightly-np").toString
      ClusterState.build(pairs0.select("a", "b"), maxIter = 100).save(root)
      // day 1, FRESH session: load both, discover batch-incident pairs
      // through the index, insert, append the batch, save
      val s2 = spark.newSession()
      val st = ClusterState.load(s2, root)
      val idx = DedupOps.loadNgramPrefixIndex(s2, "nightly_np")
      val batch2 = Tables.load(s2, TestSpark.sf, "documents")
        .select("doc_id", "text", "n_chars").filter(col("doc_id") % 10 === 0)
      val newPairs = DedupOps.ngramJaccardPairsVsIndex(batch2, idx).select("a", "b")
      val updated = st.insert(newPairs, maxIter = 100)
      DedupOps.appendToNgramPrefixIndex("nightly_np", batch2)
      updated.save(root)
      // the reloaded state equals the from-scratch build over corpus+batch
      val reloaded = ClusterState.load(spark, root)
      val fullPairs = DedupOps.ngramJaccardPairsOf(docs, 0.5)
      assert(labelMapD(reloaded.labels) ==
        labelMapD(DedupPipeline.clusters(fullPairs.select("a", "b"), maxIter = 100).toDF()))
      // day 2: TAKEDOWN of a clustered doc — remove from the cluster state
      // AND tombstone the prefix index; afterwards no probe pair may touch
      // it through either artifact
      // collect the victim id FIRST: save() prunes the version the loaded
      // frames read from (the documented terminal-step contract), so the
      // post-save takedown frames must be literals, not lineage over v1
      val victimId = reloaded.labels.select("node").orderBy("node")
        .limit(1).head().getLong(0)
      reloaded.remove(Seq(victimId).toDF("node"), maxIter = 100).save(root)
      DedupOps.removeFromNgramPrefixIndex("nightly_np",
        Seq(victimId).toDF("doc_id"))
      val s3 = spark.newSession()
      val probe = Tables.load(s3, TestSpark.sf, "documents")
        .select("doc_id", "text", "n_chars").filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"), col("n_chars"))
      val afterPairs = DedupOps.ngramJaccardPairsVsIndex(
        probe, DedupOps.loadNgramPrefixIndex(s3, "nightly_np"))
      assert(afterPairs.filter(col("a") === victimId || col("b") === victimId)
        .count() == 0, s"removed doc $victimId still pairs through the index")
      assert(ClusterState.load(spark, root).labels
        .filter(col("node") === victimId).count() == 0)
    } finally AtRest.dropFamily(spark, "nightly_np")
  }

  test("nightly loop, ALL SEVEN at-rest artifacts plus the served IVF index: takedown reaches every artifact including the vector and media sides; quarantine drains") {
    import graft.operators.{DedupOps, CorpusOps, SplitState, MultimodalOps}
    // compact five-way loop on a planted corpus: docs 0/1 are exact dups,
    // batch doc 10 is an exact dup of corpus doc 2, 11/12 are unique, and
    // batch doc 13 BRIDGES two corpus docs (overlapping token windows:
    // jac(13, A) = jac(13, B) = 14/22 ≥ 0.5 while jac(A, B) = 10/26 <
    // 0.5) that the split state recorded under DIFFERENT buckets — the
    // cross-split merge the quarantine/resolve machinery exists for. The
    // takedown victim is doc 2 — after removal NO artifact may keep
    // pairing, labeling, novelty-suppressing, or re-bucketing through it.
    def mk(i: Long, tag: String) =
      (i, (0 until 12).map(j => s"${tag}_$j").mkString(" "))
    val bucket: Map[Long, String] =
      spark.range(0, 20).select(col("id"), SplitState.splitOf(col("id")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // two corpus ids (≥ 3, victim 2 keeps its role) hashing different splits
    val Seq(pA, pB) = (3L to 9L).combinations(2).map(_.toSeq)
      .find { case Seq(i, j) => bucket(i) != bucket(j) }.get
    def win(from: Int): String = // 20 3-char tokens -> same length block
      (from until from + 20).map(k => f"w$k%03d").mkString(" ")
    val corpusRows = Seq(mk(0L, "a"), (1L, mk(0L, "a")._2)) ++
      (2L to 9L).collect {
        case i if i == pA => (i, win(1))
        case i if i == pB => (i, win(9))
        case i            => mk(i, s"c$i")
      }
    val batchRows = Seq((10L, mk(2L, "c2")._2), mk(11L, "u11"), mk(12L, "u12"),
      (13L, win(5)))
    val corpus = corpusRows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val root = java.nio.file.Files.createTempDirectory("graft-nightly5").toString
    try {
      // day 0: build + persist all seven artifacts (the verified corpus
      // pairs are the sixth — recorded the moment discovery computes
      // them, so the wall audit never re-mines; the media phash index is
      // the seventh, over the same docs' payload bytes)
      def mediaOf(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"))
      DedupOps.indexCorpus(corpus).saveAsTables("n4_mh", nBuckets = 4)
      DedupOps.indexNgramPrefix(corpus, 0.5).saveAsTables("n4_np", nBuckets = 4)
      CorpusOps.saveFirstSeenIndex(corpus, "n4_fs", nBuckets = 4)
      MultimodalOps.saveMediaPhashIndex(mediaOf(corpus), "n4_mp", nBuckets = 4)
      val pairs0 = DedupOps.ngramJaccardPairsOf(corpus, 0.5)
        .localCheckpoint(true)
      val st0 = ClusterState.build(pairs0.select("a", "b"), maxIter = 50)
      st0.save(root)
      SplitState.init(spark, "n4_sp", corpus.select("doc_id"),
        st0.labels, nBuckets = 4)
      SplitState.recordPairs(spark, "n4_sp", pairs0, 0L, 9L, nBuckets = 4)
      // day 1, FRESH session: load everything, admit the batch through
      // every artifact
      val s2 = spark.newSession()
      val batch = batchRows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("bigint"))
      val novelty = CorpusOps.noveltyVsIndex(s2, "n4_fs", batch)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(novelty(10L) == 0.0 && novelty(11L) == 1.0 && novelty(12L) == 1.0,
        s"$novelty")
      assert(novelty(13L) == 0.0, s"bridge doc's shingles are all covered: $novelty")
      val npPairsFull = DedupOps.ngramJaccardPairsVsIndex(
        batch, DedupOps.loadNgramPrefixIndex(s2, "n4_np")).localCheckpoint(true)
      SplitState.recordPairs(s2, "n4_sp", npPairsFull, 10L, 13L, nBuckets = 4)
      val npPairs = npPairsFull.select("a", "b")
      val st = ClusterState.load(s2, root).insert(npPairs, maxIter = 50)
      // the split assignment flows THROUGH the committed merge's labels
      SplitState.assign(s2, "n4_sp", batch.select("doc_id"), st.labels)
      DedupOps.appendToCorpusIndex("n4_mh", batch.select("doc_id", "text"))
      DedupOps.appendToNgramPrefixIndex("n4_np", batch)
      CorpusOps.appendToFirstSeenIndex(s2, "n4_fs", batch)
      MultimodalOps.appendToMediaPhashIndex(s2, "n4_mp", mediaOf(batch))
      st.save(root)
      // MEDIA LEG day 1: a perceptually jittered copy of doc 2's payload
      // reaches BOTH the victim and its admitted twin through the phash
      // index (planted Hamming 4 to each; everything else ≥ 14)
      def mediaHits(s: org.apache.spark.sql.SparkSession): Set[Long] = {
        import s.implicits._
        MultimodalOps.mediaNearDupVsIndex(
          mediaOf(Seq((2000L, mk(2L, "c2")._2)).toDF("doc_id", "text")
            .withColumn("text", concat(col("text"), lit(" jitter")))),
          s, "n4_mp", maxHamming = 10)
          .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet - 2000L
      }
      assert(mediaHits(spark) == Set(2L, 10L),
        s"media probe must reach victim and twin before takedown: ${mediaHits(spark)}")
      // ANN LEG day 1 (VERDICT r12 demand 3): the serving IVF index over
      // every admitted doc's embedding, saved at rest. Docs 2 and 10 (the
      // exact-dup pair) carry near-identical vectors; everyone else sits
      // far off their axis.
      import graft.operators.IvfIndex
      def embOf(i: Long): Seq[Double] = i match {
        case 2L  => Seq(1.0, 0.0, 0.0)
        case 10L => Seq(0.995, 0.1, 0.0)
        case x   => Seq(math.cos(x * 0.7), math.sin(x * 0.7), 2.0)
      }
      val ivfRoot = java.nio.file.Files
        .createTempDirectory("graft-nightly-ivf").toString
      val allIds = (0L to 9L) ++ (10L to 13L)
      IvfIndex.build(
        allIds.map(i => (i, embOf(i))).toDF("vec_id", "emb"), k = 3)
        .save(ivfRoot)
      def hits(s: org.apache.spark.sql.SparkSession, probe: Long): Seq[(Long, Long)] = {
        import s.implicits._
        IvfIndex.load(s, ivfRoot)
          .search(Seq((100L + probe, embOf(probe))).toDF("q_id", "q_emb"),
            k = 3, nprobe = 3)
          .select("rank", "n_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(hits(spark, 2L).head._2 == 2L,
        "victim must be servable before takedown")
      val unrelatedBefore = hits(spark, 5L)
      // sanity: doc 10 clustered with its corpus twin 2; 13 merged A and B
      val labels1 = ClusterState.load(spark, root).labels
        .select("node", "label").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels1.contains(10L) && labels1(10L) == labels1(2L), s"$labels1")
      assert(labels1(13L) == labels1(pA) && labels1(pA) == labels1(pB), s"$labels1")
      // snapshot N of the split state: the twin INHERITS doc 2's recorded
      // split, fresh docs hash themselves, the bridge QUARANTINES, and no
      // previously-recorded corpus doc moved
      def splitMap(s: org.apache.spark.sql.SparkSession): Map[Long, String] =
        SplitState.load(s, "n4_sp").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      val atN = splitMap(spark)
      assert(atN(10L) == bucket(2L) && atN(11L) == bucket(11L) &&
        atN(12L) == bucket(12L) && atN(13L) == "quarantine", s"$atN")
      assert(atN(pA) == bucket(pA) && atN(pB) == bucket(pB), s"$atN")
      // PAIR LEG: the at-rest pair set ≡ the full corpus∪batch re-mine —
      // the wall audit can read recorded pairs instead of re-mining
      def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val allDocs = corpus.unionByName(batchRows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("bigint")))
      assert(pairSet(SplitState.loadPairs(spark, "n4_sp")) ==
        pairSet(DedupOps.ngramJaccardPairsOf(allDocs, 0.5)))
      assert(pairSet(SplitState.loadPairs(spark, "n4_sp")).nonEmpty)
      // ...and the audit over recorded pairs at snapshot N: the bridge's
      // edges read pending (dispute open), nothing leaks, nothing is
      // unassigned
      val auditN = DedupOps.wallAudit(
        SplitState.loadPairs(spark, "n4_sp").select("a", "b"),
        SplitState.load(spark, "n4_sp"))
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(!auditN.contains("leak") && !auditN.contains("unassigned"), s"$auditN")
      assert(auditN.contains("pending"), s"bridge edges must be pending: $auditN")
      // day 2: TAKEDOWN of doc 2 from all five artifacts
      val victim = Seq(2L)
      ClusterState.load(spark, root)
        .remove(victim.toDF("node"), maxIter = 50).save(root)
      DedupOps.removeFromCorpusIndex("n4_mh", victim.toDF("doc_id"))
      DedupOps.removeFromNgramPrefixIndex("n4_np", victim.toDF("doc_id"))
      CorpusOps.removeFromFirstSeenIndex("n4_fs", victim.toDF("doc_id"))
      SplitState.remove("n4_sp", victim.toDF("doc_id"))
      IvfIndex.removeAtRest(spark, ivfRoot, victim.toDF("vec_id"))
      MultimodalOps.removeFromMediaPhashIndex("n4_mp", victim.toDF("doc_id"))
      // day 3, FRESH session: no artifact still answers through doc 2
      val s3 = spark.newSession()
      val probe = Seq((1000L, mk(2L, "c2")._2)).toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("bigint"))
      val viaMh = DedupOps.minHashCrossDupPairs(
        probe.select("doc_id", "text"), DedupOps.loadCorpusIndex(s3, "n4_mh"))
        .filter(col("jac") >= 0.8)
      assert(viaMh.filter(col("corpus_id") === 2L).count() == 0L)
      assert(viaMh.filter(col("corpus_id") === 10L).count() == 1L,
        "surviving twin must still be found")
      val viaNp = DedupOps.ngramJaccardPairsVsIndex(
        probe, DedupOps.loadNgramPrefixIndex(s3, "n4_np"))
      assert(viaNp.filter(col("a") === 2L || col("b") === 2L).count() == 0L)
      assert(viaNp.filter(col("a") === 10L || col("b") === 10L).count() > 0L)
      assert(ClusterState.load(s3, root).labels
        .filter(col("node") === 2L).count() == 0L)
      // ANN leg day 3: from a FRESH session, the removed vector is
      // unreachable at FULL nprobe (it is gone from the only table search
      // scans — probing every cell cannot resurrect it); its twin still
      // serves, and an unrelated query's results are bit-identical
      val victimHits = hits(s3, 2L)
      assert(!victimHits.exists(_._2 == 2L),
        s"removed vector still servable from the saved IVF index: $victimHits")
      assert(victimHits.head._2 == 10L,
        s"surviving twin must take over the probe: $victimHits")
      assert(hits(s3, 5L).filterNot(_._2 == 2L) ==
        unrelatedBefore.filterNot(_._2 == 2L),
        "survivors' results must be unchanged by the takedown")
      // MEDIA leg day 3: the victim's perceptual fingerprint no longer
      // answers; the admitted twin still serves — and COMPACTION folds
      // the tombstone into the chunk files with byte-identical survivor
      // reads from yet another fresh session
      assert(mediaHits(s3) == Set(10L),
        s"media takedown must drain the phash index: ${mediaHits(s3)}")
      MultimodalOps.compactMediaPhashIndex(s3, "n4_mp")
      assert(!s3.catalog.tableExists("n4_mp_tombstones"))
      assert(s3.table("n4_mp_chunks").filter(col("doc_id") === 2L).count() == 0L)
      assert(mediaHits(spark.newSession()) == Set(10L))
      // first-seen INTERIM semantics: doc 2's introductions read novel
      // again (doc 10's copy was anti-joined away at admit time)...
      val interim = CorpusOps.noveltyVsIndex(s3, "n4_fs", probe)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(interim(1000L) == 1.0, s"$interim")
      // ...and COMPACTION re-attributes them to the surviving twin,
      // restoring exact parity with a from-scratch index over survivors
      val survivors = corpus.filter(col("doc_id") =!= 2L)
        .unionByName(batch).select("doc_id", "text")
      CorpusOps.compactFirstSeenIndex(s3, "n4_fs", survivors)
      val probe2 = Seq((2000L, mk(2L, "c2")._2)).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows(CorpusOps.noveltyVsIndex(s3, "n4_fs", probe2)) ==
        rows(CorpusOps.noveltyVsIndex(CorpusOps.firstSeenOf(survivors), probe2)))
      assert(rows(CorpusOps.noveltyVsIndex(s3, "n4_fs", probe2))
        .head._4 == 0.0, "compaction must re-attribute to the surviving twin")
      // split state, snapshot N+1: RESOLVE against the post-takedown
      // committed labels — the quarantined bridge drains to the SENIOR
      // side's recorded split, the junior side realigns (audited), the
      // removed doc is gone, and the orphaned twin 10 KEEPS the recorded
      // split it inherited from 2 even though its rep churned to itself
      SplitState.resolve(s3, "n4_sp", ClusterState.load(s3, root).labels)
      val atN1 = splitMap(s3)
      val senior = math.min(pA, pB); val junior = math.max(pA, pB)
      assert(!atN1.contains(2L))
      assert(atN1(13L) == bucket(senior), "drain must follow the senior side")
      assert(atN1(junior) == bucket(senior), "junior side realigns on resolve")
      assert(atN1(10L) == bucket(2L),
        s"rep churn re-bucketed the orphaned twin: ${atN1(10L)} vs recorded ${bucket(2L)}")
      assert(!atN1.values.exists(_ == "quarantine"), "quarantine pool did not drain")
      val moves = s3.table("n4_sp_moves")
        .select("doc_id", "from_split", "to_split", "reason").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(moves == Set(
        (13L, null, "quarantine", "quarantine_enter"),
        (junior, bucket(junior), bucket(senior), "realign"),
        (13L, "quarantine", bucket(senior), "quarantine_drain")), s"$moves")
      // pair leg of the takedown: BEFORE compact the victim's pairs are
      // hidden at read; the audit over recorded pairs is clean and
      // complete (left joins would surface any coverage gap as
      // 'unassigned')
      assert(pairSet(SplitState.loadPairs(s3, "n4_sp")) ==
        pairSet(DedupOps.ngramJaccardPairsOf(
          allDocs.filter(col("doc_id") =!= 2L), 0.5)))
      val auditN1 = DedupOps.wallAudit(
        SplitState.loadPairs(s3, "n4_sp").select("a", "b"),
        SplitState.load(s3, "n4_sp"))
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(auditN1.keySet == Set("ok"), s"post-resolve audit not clean: $auditN1")
      // compact folds the takedown; a FRESH session reads identical state
      SplitState.compact(s3, "n4_sp")
      assert(splitMap(spark.newSession()) == atN1)
      assert(!s3.catalog.tableExists("n4_sp_tombstones"))
      // ...including the pair artifact: the victim's rows are out of the
      // FILES now, not just filtered at read
      assert(spark.newSession().table("n4_sp_pairs")
        .filter(col("a") === 2L || col("b") === 2L).count() == 0L)
      assert(pairSet(SplitState.loadPairs(spark.newSession(), "n4_sp")) ==
        pairSet(DedupOps.ngramJaccardPairsOf(
          allDocs.filter(col("doc_id") =!= 2L), 0.5)))
    } finally Seq("n4_mh", "n4_np", "n4_fs", "n4_mp", "n4_sp").foreach(AtRest.dropFamily(spark, _))
  }

  test("versioned save: half-written version is skipped by load; next save prunes it") {
    val st = ClusterState.build(Seq((1L, 2L), (10L, 11L)).toDF("a", "b"))
    val root = java.nio.file.Files.createTempDirectory("graft-cluster-crash").toString
    st.save(root) // layout 0: labels and edges at v0
    // simulate a save that died between the two table writes: v1 has
    // labels but no edges and no layout file
    st.labels.write.parquet(s"$root/labels/v1")
    val loaded = ClusterState.load(spark, root) // must read layout 0
    assert(labelMap(loaded.labels) == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // the recovery save commits layout 1 over the crashed partial v1 and
    // prunes the stale v0 and layout 0
    loaded.remove(Seq(10L).toDF("node")).save(root)
    def names(d: String) = new java.io.File(s"$root/$d").listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).toSet
    assert(names("") == Set("_layout", "labels", "edges"))
    assert(names("labels") == Set("v1") && names("edges") == Set("v1") && names("_layout") == Set("1"),
      s"unexpected versions left: ${names("labels")} ${names("edges")} ${names("_layout")}")
    assert(labelMap(ClusterState.load(spark, root).labels) == Map(1L -> 1L, 2L -> 1L))
  }

  test("re-ingesting an overlapping batch leaves the stored edge set fixed") {
    val st = ClusterState.build(Seq((1L, 2L), (10L, 11L)).toDF("a", "b"))
    // batch overlaps the corpus (1,2), repeats itself ((20,21) twice), and
    // brings one genuinely new pair — the nightly retry-after-crash shape
    val batch = Seq((1L, 2L), (20L, 21L), (20L, 21L), (2L, 3L)).toDF("a", "b")
    val once = st.insert(batch)
    assert(once.edges.count() == 4L, // (1,2) (10,11) (20,21) (2,3)
      "overlapping/self-duplicate batch rows bloated the edge set")
    // a blind full replay of the same batch changes NOTHING
    val twice = once.insert(batch)
    assert(twice.edges.count() == 4L)
    assert(labelMap(twice.labels) == labelMap(once.labels))
    assertEdgeAnnotation(twice)
    // and the maintained state still matches the from-scratch build
    val full = DedupPipeline.clusters(
      Seq((1L, 2L), (10L, 11L), (20L, 21L), (2L, 3L)).toDF("a", "b"))
    assert(labelMap(twice.labels) == labelMap(full.toDF()))
  }

  test("remove of a node absent from every cluster is an identity") {
    val st = ClusterState.build(Seq((1L, 2L), (10L, 11L)).toDF("a", "b"))
    val out = st.remove(Seq(999L).toDF("node"))
    assert(labelMap(out.labels) == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(out.edges.count() == 2L)
  }
}
