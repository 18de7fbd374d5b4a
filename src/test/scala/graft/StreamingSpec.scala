package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream

/** Streaming ⇔ batch equivalence: the streaming wrappers must produce the
  * same aggregates as the batch EventOps code on the same input. */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** File stream sources tail directories; stage the single-file test
    * parquet into one. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  test("streaming hourly agg matches batch on sf0.001 events") {
    val stream = EventStream.fromDirectory(spark, eventsDir)
    EventStream.runToMemory(EventStream.hourlyByType(stream), "hourly_test")
    val streamed = spark.table("hourly_test")
      .select("hr", "event_type", "n").orderBy("hr", "event_type").collect()
    val batch = graft.Tables.load(spark, TestSpark.sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("hr", "event_type").collect()
    assert(streamed.length == batch.length)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming session windows match batch session_window counts") {
    val stream = EventStream.fromDirectory(spark, eventsDir)
    EventStream.runToMemory(EventStream.sessionized(stream), "sessions_test")
    val streamed = spark.table("sessions_test")
      .orderBy("user_id", "session_first_event").collect()
    val batch = graft.Tables.load(spark, TestSpark.sf, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min("event_id").as("session_first_event"), count(lit(1)).as("n_events"))
      .select("user_id", "session_first_event", "n_events")
      .orderBy("user_id", "session_first_event").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming quality filter matches the batch filter on the same docs") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft-docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/documents.parquet"),
      docsDir.resolve("part-0.parquet"))
    val schema = spark.read.parquet(docsDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir.toString)
    EventStream.runToMemory(
      EventStream.qualityFiltered(stream, 0.4).select("doc_id"),
      "quality_stream", org.apache.spark.sql.streaming.OutputMode.Append)
    val streamed = spark.table("quality_stream").orderBy("doc_id").collect()
    val batch = EventStream.qualityFiltered(
      graft.Tables.load(spark, TestSpark.sf, "documents"), 0.4)
      .select("doc_id").orderBy("doc_id").collect()
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("RocksDB state store + AvailableNow drain matches default-provider result") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(providerKey)
    try {
      EventStream.useRocksDbStateStore(spark)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-rocks-ckpt").toString
      val stream = EventStream.fromDirectory(spark, eventsDir)
      EventStream.drainAvailableNow(
        EventStream.hourlyByType(stream), "hourly_rocks", ckpt,
        org.apache.spark.sql.streaming.OutputMode.Complete)
      val rocks = spark.table("hourly_rocks")
        .select("hr", "event_type", "n").orderBy("hr", "event_type").collect()
      val batch = graft.Tables.load(spark, TestSpark.sf, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("hr", "event_type").collect()
      assert(rocks.nonEmpty)
      assert(rocks.toSeq == batch.toSeq)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.unset(changelogKey)
    }
  }

  test("drainToParquet is incremental across scheduled runs on one checkpoint") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-drain-src")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-drain-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain-ckpt").toString
    def addFile(name: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"), srcDir.resolve(name))
    addFile("part-0.parquet")
    val n = graft.Tables.load(spark, TestSpark.sf, "events").count()
    def drain(): Unit = EventStream.drainToParquet(
      EventStream.fromDirectory(spark, srcDir.toString), sinkRoot, ckpt)
    drain()
    assert(spark.read.parquet(sinkRoot).count() == n)
    // re-run with NO new data: checkpoint recovery, nothing re-processed
    drain()
    assert(spark.read.parquet(sinkRoot).count() == n)
    // a new file appears; the next scheduled drain picks up ONLY it
    addFile("part-1.parquet")
    drain()
    assert(spark.read.parquet(sinkRoot).count() == 2 * n)
  }

  test("drainToParquet output matches the committed DuckDB golden file") {
    // EXTERNAL oracle for the drain family: the fixture was computed by
    // DuckDB from the same events.parquet (tools/make_golden.py), so this
    // is not Spark checked against itself — it closes the one operator
    // family the SQL oracle gate can't reach (drains run a streaming
    // lifecycle, not a SQL statement). Exact typed multiset compare.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-golden-src")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-golden-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-golden-ckpt").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      srcDir.resolve("part-0.parquet"))
    EventStream.drainToParquet(
      EventStream.fromDirectory(spark, srcDir.toString), sinkRoot, ckpt)
    val goldenPath = getClass.getResource("/golden/events_drain_sf0001.parquet")
    assert(goldenPath != null, "golden fixture missing from test resources")
    val golden = spark.read.parquet(goldenPath.toString)
    val cols = golden.columns.sorted.toSeq
    // partition-read types differ from written strings (load_date comes
    // back via partition inference); cast both sides to the golden schema
    val drained = spark.read.parquet(sinkRoot)
      .select(cols.map(c => col(c).cast(golden.schema(c).dataType)): _*)
    val g = golden.select(cols.map(col): _*)
    assert(drained.count() == g.count(),
      s"drained ${drained.count()} rows, golden has ${g.count()}")
    assert(drained.exceptAll(g).isEmpty && g.exceptAll(drained).isEmpty,
      "drained parquet differs from the DuckDB-computed golden file")
  }

  test("drainToTable lands in the catalog, incremental on one checkpoint") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-tbl-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tbl-ckpt").toString
    def addFile(name: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"), srcDir.resolve(name))
    addFile("part-0.parquet")
    val n = graft.Tables.load(spark, TestSpark.sf, "events").count()
    spark.sql("DROP TABLE IF EXISTS events_drained")
    def drain(): Unit = EventStream.drainToTable(
      EventStream.fromDirectory(spark, srcDir.toString)
        .select("event_id", "user_id", "event_type", "ts"),
      "events_drained", ckpt)
    drain()
    // queryable by NAME immediately — no separate registration step
    assert(spark.table("events_drained").count() == n)
    // second scheduled run on the same checkpoint appends only the new file
    addFile("part-1.parquet")
    drain()
    assert(spark.table("events_drained").count() == 2 * n)
    spark.sql("DROP TABLE IF EXISTS events_drained")
  }

  /** Exact typed multiset compare against a DuckDB-computed fixture (see
    * tools/make_golden.py) — both sides cast to the golden schema first. */
  private def assertMatchesGolden(actual: org.apache.spark.sql.DataFrame,
                                  fixture: String): Unit = {
    val goldenPath = getClass.getResource(s"/golden/$fixture")
    assert(goldenPath != null, s"golden fixture $fixture missing from test resources")
    val golden = spark.read.parquet(goldenPath.toString)
    // column SETS must match exactly before the projected compare — a
    // regression that adds columns would otherwise be silently projected away
    assert(actual.columns.sorted.toSeq == golden.columns.sorted.toSeq,
      s"schema drift vs $fixture: got ${actual.columns.sorted.mkString(",")}, " +
        s"golden has ${golden.columns.sorted.mkString(",")}")
    val cols = golden.columns.sorted.toSeq
    val a = actual.select(cols.map(c => col(c).cast(golden.schema(c).dataType)): _*)
    val g = golden.select(cols.map(col): _*)
    assert(a.count() == g.count(),
      s"got ${a.count()} rows, golden $fixture has ${g.count()}")
    assert(a.exceptAll(g).isEmpty && g.exceptAll(a).isEmpty,
      s"output differs from DuckDB-computed $fixture")
  }

  test("drainToTable contents match the committed DuckDB golden file") {
    // external-oracle coverage for the CATALOG drain: same lifecycle as the
    // incrementality test above, but the landed rows are compared against
    // DuckDB's answer rather than Spark's own batch read
    val srcDir = java.nio.file.Files.createTempDirectory("graft-tblg-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tblg-ckpt").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      srcDir.resolve("part-0.parquet"))
    spark.sql("DROP TABLE IF EXISTS events_drained_golden")
    EventStream.drainToTable(
      EventStream.fromDirectory(spark, srcDir.toString),
      "events_drained_golden", ckpt)
    assertMatchesGolden(spark.table("events_drained_golden"),
      "events_table_drain_sf0001.parquet")
    spark.sql("DROP TABLE IF EXISTS events_drained_golden")
  }

  test("dropDuplicatesWithinWatermark drain matches the DuckDB golden file") {
    // source = TWO byte-identical copies of the events file; the streaming
    // dedup must collapse every event_id to one row — compared against
    // DuckDB's DISTINCT over the doubled union, not Spark against itself
    val srcDir = java.nio.file.Files.createTempDirectory("graft-dedupg-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedupg-ckpt").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      srcDir.resolve("part-0.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      srcDir.resolve("part-1.parquet"))
    EventStream.drainAvailableNow(
      EventStream.dedupedEvents(EventStream.fromDirectory(spark, srcDir.toString)),
      "deduped_golden", ckpt)
    assertMatchesGolden(spark.table("deduped_golden"),
      "events_dedup_drain_sf0001.parquet")
  }

  test("stream-static enrichment joins dim attributes onto a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val stream = input.toDF().toDF("user_id", "value")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = graft.streaming.EventStream.enrichWithStatic(stream, dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    input.addData((1L, 5.0), (3L, 7.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched").orderBy("user_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.toSeq == Seq((1L, "gold"), (3L, null))) // unmatched keys survive (left join)
  }

  test("streaming incremental dedup flags corpus twins per micro-batch") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-docstream")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-docstream-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-docstream-ckpt").toString
    val docs = graft.Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val nDocs = docs.count()
    // corpus = every document under shifted ids → every streamed doc has an
    // exact corpus twin
    val corpus = docs.withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs.write.mode("overwrite").parquet(srcDir.resolve("batch0").toString)
    val schema = docs.schema
    def drain(): Unit = graft.streaming.DocStream.incrementalDedupDrain(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString + "/*"),
      corpus, 0.8, sinkRoot, ckpt)
    drain()
    val out = spark.read.parquet(sinkRoot)
    assert(out.count() == nDocs)
    assert(out.filter(col("dup_jac") === 1.0).count() == nDocs,
      "every streamed doc has an exact corpus twin and must be flagged")
    // a later file with a genuinely novel doc is NOT flagged
    Seq((7777777L, "utterly novel stream document zz yy xx ww vv uu tt ss rr qq " +
      "pp oo nn mm ll kk jj ii hh gg ff ee dd cc bb aa"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(srcDir.resolve("batch1").toString)
    drain()
    val out2 = spark.read.parquet(sinkRoot)
    assert(out2.count() == nDocs + 1)
    assert(out2.filter(col("doc_id") === 7777777L).collect().head.isNullAt(
      out2.columns.indexOf("dup_of")), "novel doc spuriously flagged")
  }

  test("admissionDrain: later batches dedup against earlier ADMISSIONS; within-batch juniors rejected; no double-admit") {
    import graft.operators.DedupOps
    import spark.implicits._
    val w = (1 to 40).map(i => f"cw$i%02d").mkString(" ") // corpus doc text
    val y = (1 to 40).map(i => f"ny$i%02d").mkString(" ") // novel, admitted in batch 0
    val v = (1 to 40).map(i => f"wv$i%02d").mkString(" ") // batch-1 senior
    val corpus = Seq((100L, w)).toDF("doc_id", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-adm-src")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-adm-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-adm-ckpt").toString
    try {
      DedupOps.indexCorpus(corpus).saveAsTables("graft_adm_idx", nBuckets = 4)
      // batch 0: an exact corpus twin (reject) + a novel doc (admit).
      // ONE part file per logical batch: maxFilesPerTrigger=1 makes each
      // file a micro-batch, and the within-batch pair below must co-arrive.
      Seq((1L, w), (2L, y)).toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(srcDir.resolve("b0").toString)
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      def drain(): Unit = graft.streaming.DocStream.admissionDrain(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString + "/*"),
        "graft_adm_idx", 0.8, sinkRoot, ckpt)
      drain()
      val out1 = spark.read.parquet(sinkRoot)
        .select("doc_id", "admitted", "dup_of").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(out1(1L) == ((false, 100L)), s"corpus twin: ${out1.get(1L)}")
      assert(out1(2L) == ((true, -1L)), s"novel doc: ${out1.get(2L)}")
      assert(spark.table("graft_adm_idx_shingles")
        .filter(col("doc_id") === 2L).count() == 1, "admitted doc not in index")
      // batch 1: a near-dup of the batch-0 ADMISSION (the cross-batch
      // property incrementalDedupDrain lacks), the same doc re-sent, and
      // a within-batch near-dup pair (senior admitted, junior rejected)
      Seq((3L, y + " extra"), (2L, y), (5L, v), (6L, v + " tail"))
        .toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(srcDir.resolve("b1").toString)
      drain()
      // doc 2 has audit rows in BOTH batches (admitted in 0, rejected as a
      // re-send in 1) — scope to batch 1's partition
      val out2 = spark.read.parquet(sinkRoot).filter(col("batch_id") === 1L)
        .select("doc_id", "admitted", "dup_of").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(out2(3L) == ((false, 2L)), s"dup of an earlier ADMISSION: ${out2.get(3L)}")
      assert(out2(2L) == ((false, 2L)), s"re-sent doc must match its corpus copy: ${out2.get(2L)}")
      assert(out2(6L) == ((false, 5L)), s"within-batch junior: ${out2.get(6L)}")
      assert(out2(5L)._1, s"within-batch senior must be admitted: ${out2.get(5L)}")
      // the index gained exactly the senior; the re-sent doc was not
      // double-admitted
      val ids = spark.table("graft_adm_idx_shingles").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ids.keySet == Set(100L, 2L, 5L), s"index ids: ${ids.keySet}")
      assert(ids.values.forall(_ == 1L), s"duplicated index rows: $ids")
    } finally graft.operators.AtRest.dropFamily(spark, "graft_adm_idx")
  }

  test("splitDrain ≡ batch-mode split maintenance; bridge quarantines and drains in-stream; replay is a no-op") {
    import graft.operators.{DedupOps, ClusterState, SplitState, DedupPipeline}
    import spark.implicits._
    // planted geometry (the five-artifact loop's): corpus docs 1/2 are
    // exact dups; idA (train-hash) and idB (test-hash) hold overlapping
    // 20-token windows (jac(A,B)=10/26 < 0.5); batch-1 doc 21 = the
    // middle window bridges them (jac 14/22 to each); batch-2 doc 30
    // near-dups the bridge doc
    val bucket = spark.range(0, 40)
      .select(col("id"), SplitState.splitOf(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val Seq(idA, idB) = (3L to 9L).combinations(2).map(_.toSeq)
      .find { case Seq(i, j) => bucket(i) != bucket(j) }.get
    def win(from: Int): String =
      (from until from + 20).map(k => f"w$k%03d").mkString(" ")
    def dup(tag: String): String = (0 until 12).map(j => s"${tag}_$j").mkString(" ")
    val corpusRows = Seq((1L, dup("d")), (2L, dup("d")), (idA, win(1)), (idB, win(9)))
    val b1Rows = Seq((20L, dup("d")), (21L, win(5)))
    val b2Rows = Seq((30L, win(5)), (31L, dup("fresh")))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val corpus = df(corpusRows)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-spd-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-spd-ck").toString
    val root = java.nio.file.Files.createTempDirectory("graft-spd-cs").toString
    def dropAll(): Unit =
      Seq("spd_np", "spd_sp", "spd_sp2").foreach(graft.operators.AtRest.dropFamily(spark, _))
    try {
      dropAll()
      // day 0: the four at-rest artifacts (corpus pairs recorded so the
      // drain-maintained pair set stays re-mine-complete)
      DedupOps.indexNgramPrefix(corpus, 0.5).saveAsTables("spd_np", nBuckets = 4)
      val pairs0 = DedupOps.ngramJaccardPairsOf(corpus, 0.5).localCheckpoint(true)
      val st0 = ClusterState.build(pairs0.select("a", "b"), maxIter = 50)
      st0.save(root)
      SplitState.init(spark, "spd_sp", corpus.select("doc_id"), st0.labels,
        nBuckets = 4)
      SplitState.recordPairs(spark, "spd_sp", pairs0, 1L, math.max(idA, idB),
        nBuckets = 4)
      val schema = df(Seq.empty).schema
      // maxFilesPerTrigger=1 keeps one file per micro-batch — a real
      // redeploy replays from the checkpoint with ORIGINAL batch bounds;
      // the fresh-checkpoint replay leg below models that per file
      def drain(ck: String): Unit = graft.streaming.DocStream.splitDrain(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir.toString + "/*"),
        "spd_np", "spd_sp", root, ck)
      def splits(p: String): Map[Long, String] =
        SplitState.load(spark, p).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      // batch 1 arrives: the bridge merge commits, 21 quarantines at
      // assign and DRAINS in the same drain (resolve runs every batch):
      // the merged cluster keeps the senior side's recorded split
      df(b1Rows).repartition(1).write.parquet(srcDir.resolve("b1").toString)
      drain(ckpt)
      val senior = math.min(idA, idB); val junior = math.max(idA, idB)
      val at1 = splits("spd_sp")
      assert(at1(20L) == bucket(1L), "twin must inherit its cluster's recorded split")
      assert(at1(21L) == bucket(senior) && at1(junior) == bucket(senior), s"$at1")
      assert(!at1.values.exists(_ == "quarantine"))
      val moves1 = spark.table("spd_sp_moves")
        .select("doc_id", "reason").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(moves1 == Set((21L, "quarantine_enter"),
        (21L, "quarantine_drain"), (junior, "realign")), s"$moves1")
      // batch 2: a near-dup of the drained bridge inherits the canonical
      // split through the APPENDED index; a fresh doc hashes itself
      df(b2Rows).repartition(1).write.parquet(srcDir.resolve("b2").toString)
      drain(ckpt)
      val at2 = splits("spd_sp")
      assert(at2(30L) == bucket(senior) && at2(31L) == bucket(31L), s"$at2")
      // the drain RECORDED each batch's verified pairs: the at-rest set
      // equals the full re-mine over everything admitted — the wall
      // audit needs no corpus re-mine (VERDICT r12 demand 1)
      def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val everything = corpus.unionByName(df(b1Rows)).unionByName(df(b2Rows))
      assert(pairSet(SplitState.loadPairs(spark, "spd_sp")) ==
        pairSet(DedupOps.ngramJaccardPairsOf(everything, 0.5)))
      val auditNow = DedupOps.wallAudit(
        SplitState.loadPairs(spark, "spd_sp").select("a", "b"),
        SplitState.load(spark, "spd_sp"))
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(auditNow.keySet == Set("ok"), s"$auditNow")
      // BATCH-MODE TWIN on a second prefix: same discovery semantics
      // (pairs against an index over everything admitted so far), same
      // assign/resolve sequence — byte-identical final assignment
      SplitState.init(spark, "spd_sp2", corpus.select("doc_id"), st0.labels,
        nBuckets = 4)
      var labels = st0.labels
      var admitted = corpus
      for (rows <- Seq(b1Rows, b2Rows)) {
        val b = df(rows)
        val pairs = DedupOps.ngramJaccardPairsVsIndex(
          b, DedupOps.indexNgramPrefix(admitted, 0.5)).select("a", "b")
        labels = DedupPipeline.updateClusters(labels, pairs, maxIter = 50)
          .localCheckpoint(true)
        SplitState.assign(spark, "spd_sp2", b.select("doc_id"), labels)
        SplitState.resolve(spark, "spd_sp2", labels)
        admitted = admitted.unionByName(b).localCheckpoint(true)
      }
      assert(splits("spd_sp2") == at2, "streaming ≠ batch-mode maintenance")
      // REPLAY with a fresh checkpoint: both batches re-present; the
      // fence routes them to the heal path — no new assign rows, no
      // index growth, no moves, identical assignment
      val rowsBefore = spark.table("spd_sp_assign").count()
      val shBefore = spark.table("spd_np_shingles").count()
      val pairsBefore = spark.table("spd_sp_pairs").count()
      drain(java.nio.file.Files.createTempDirectory("graft-spd-ck2").toString)
      assert(splits("spd_sp") == at2)
      assert(spark.table("spd_sp_assign").count() == rowsBefore)
      assert(spark.table("spd_np_shingles").count() == shBefore)
      assert(spark.table("spd_sp_pairs").count() == pairsBefore)
      // CHANGED-BATCHING replay (ADVICE r12): a redeploy coalesces both
      // files into ONE micro-batch — span (20, 31) was never fenced, but
      // every id is committed, so the drain routes it to the heal path
      // instead of dying on the watermark guard with an ids-reused error
      graft.streaming.DocStream.splitDrain(
        spark.readStream.schema(schema).parquet(srcDir.toString + "/*"),
        "spd_np", "spd_sp", root,
        java.nio.file.Files.createTempDirectory("graft-spd-ck3").toString)
      assert(splits("spd_sp") == at2)
      assert(spark.table("spd_sp_assign").count() == rowsBefore)
      assert(spark.table("spd_sp_pairs").count() == pairsBefore)
    } finally dropAll()
  }

  test("mediaDrain (unwired): flag-and-admit over the durable phash index; later batches match earlier admissions; replay is a fingerprint-verified no-op") {
    import graft.operators.MultimodalOps
    import spark.implicits._
    def blob(tag: String): String =
      (0 until 40).map(j => s"${tag}byte$j").mkString(" ")
    def media(rows: Seq[(Long, String)]) = rows
      .map { case (id, s) => (id, "image", s.getBytes("UTF-8")) }
      .toDF("doc_id", "kind", "payload")
    val corpus = media(Seq(1L -> blob("aa"), 2L -> blob("qq")))
    val b1 = Seq(10L -> (blob("aa") + " jitter"), 11L -> blob("uu"))
    val b2 = Seq(20L -> (blob("uu") + " zz2")) // near-dup of batch-1's ADMISSION
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mdu-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mdu-ck").toString
    val auditRoot = java.nio.file.Files.createTempDirectory("graft-mdu-au").toString
    def dropAll(): Unit = graft.operators.AtRest.dropFamily(spark, "mdu_mp")
    try {
      dropAll()
      MultimodalOps.saveMediaPhashIndex(corpus, "mdu_mp", nBuckets = 4)
      val schema = media(Seq.empty).schema
      def drain(ck: String): Unit = graft.streaming.DocStream.mediaDrain(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir.toString + "/*"),
        "mdu_mp", 10, auditRoot, ck)
      media(b1).repartition(1).write.parquet(srcDir.resolve("b1").toString)
      drain(ckpt)
      media(b2).repartition(1).write.parquet(srcDir.resolve("b2").toString)
      drain(ckpt)
      // flags: the jittered copy names its corpus original; the fresh
      // asset is unflagged in batch 1 but its batch-2 near-dup matches it
      // THROUGH the index (the admission closed the loop)
      val flags = spark.read.parquet(auditRoot)
        .select("doc_id", "dup_of").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(flags == Map(10L -> Some(1L), 11L -> None, 20L -> Some(11L)),
        s"$flags")
      assert(MultimodalOps.mediaPhashWatermark(spark, "mdu_mp").contains(20L))
      // fresh-checkpoint replay: audit partitions rewritten byte-identical,
      // index appends are fingerprint-verified no-ops
      val chunksBefore = spark.table("mdu_mp_chunks").count()
      drain(java.nio.file.Files.createTempDirectory("graft-mdu-ck2").toString)
      assert(spark.table("mdu_mp_chunks").count() == chunksBefore)
      val flags2 = spark.read.parquet(auditRoot)
        .select("doc_id", "dup_of").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(flags2 == flags, s"$flags2")
    } finally dropAll()
  }

  test("mediaDrain with split wiring: media pairs reach the wall audit as ok rows; a cross-split media bridge quarantines and drains; replay and changed batching are no-ops") {
    import graft.operators.{MultimodalOps, ClusterState, SplitState, DedupOps}
    import spark.implicits._
    // planted PERCEPTUAL geometry (validated Hamming distances in
    // comments): corpus docs 1/2 share payload D exactly; idA holds A
    // (40 tokens), idB holds B (A with the first 20 tokens replaced) —
    // d(A, B) = 13 > 11, so they are NOT near-dups and record under
    // DIFFERENT splits; batch-1 asset 21 holds X (A with the first 10
    // replaced), the halfway point: d(A, X) = 6 and d(B, X) = 9 — the
    // media bridge; batch-1 asset 20 is a jittered copy of D (d = 0);
    // batch-2 asset 30 copies X exactly, 31 is fresh (all other pairs
    // sit at Hamming ≥ 21)
    val bucket = spark.range(0, 40)
      .select(col("id"), SplitState.splitOf(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val Seq(idA, idB) = (3L to 9L).combinations(2).map(_.toSeq)
      .find { case Seq(i, j) => bucket(i) != bucket(j) }.get
    val baseToks = (0 until 40).map(j => f"aa$j%02dtok")
    def repl(n: Int): String = baseToks.zipWithIndex
      .map { case (t, j) => if (j < n) f"zq$j%02dxx" else t }.mkString(" ")
    val aPay = baseToks.mkString(" ")
    val bPay = repl(20)
    val xPay = repl(10)
    val dPay = (0 until 40).map(j => f"dd$j%02dtok").mkString(" ")
    def media(rows: Seq[(Long, String)]) = rows
      .map { case (id, s) => (id, "image", s.getBytes("UTF-8")) }
      .toDF("doc_id", "kind", "payload")
    val corpus = media(Seq(1L -> dPay, 2L -> dPay, idA -> aPay, idB -> bPay))
    val b1 = Seq(20L -> (dPay + " jitter"), 21L -> xPay)
    val b2 = Seq(30L -> xPay,
      31L -> (0 until 40).map(j => f"ff$j%02dtok").mkString(" "))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-md-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-md-ck").toString
    val auditRoot = java.nio.file.Files.createTempDirectory("graft-md-au").toString
    val clRoot = java.nio.file.Files.createTempDirectory("graft-md-cs").toString
    def dropAll(): Unit = Seq("md_mp", "md_sp").foreach(graft.operators.AtRest.dropFamily(spark, _))
    try {
      dropAll()
      // day 0: phash index + cluster + split state + recorded corpus pairs
      MultimodalOps.saveMediaPhashIndex(corpus, "md_mp", nBuckets = 4)
      val pairs0 = MultimodalOps.mediaNearDupPairs(corpus, maxHamming = 10)
        .localCheckpoint(true)
      val st0 = ClusterState.build(pairs0.select("a", "b"), maxIter = 50)
      st0.save(clRoot)
      SplitState.init(spark, "md_sp", corpus.select("doc_id"), st0.labels,
        nBuckets = 4)
      SplitState.recordPairs(spark, "md_sp",
        pairs0.select(col("a"), col("b"),
          (lit(1.0) - col("hamming") / 64.0).as("jac")),
        1L, math.max(idA, idB), nBuckets = 4)
      val schema = media(Seq.empty).schema
      def drain(ck: String, onePerTrigger: Boolean = true): Unit = {
        val r = spark.readStream.schema(schema)
        graft.streaming.DocStream.mediaDrain(
          (if (onePerTrigger) r.option("maxFilesPerTrigger", 1) else r)
            .parquet(srcDir.toString + "/*"),
          "md_mp", 10, auditRoot, ck, Some("md_sp"), Some(clRoot))
      }
      def splits: Map[Long, String] = SplitState.load(spark, "md_sp").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // batch 1: the copy inherits; the bridge QUARANTINES at assign and
      // drains to the senior side in the same cycle (resolve runs per
      // batch), junior realigns — all audited
      media(b1).repartition(1).write.parquet(srcDir.resolve("b1").toString)
      drain(ckpt)
      val senior = math.min(idA, idB); val junior = math.max(idA, idB)
      val at1 = splits
      assert(at1(20L) == at1(1L), "media copy must inherit its original's split")
      assert(at1(21L) == bucket(senior) && at1(junior) == bucket(senior), s"$at1")
      assert(!at1.values.exists(_ == "quarantine"))
      val moves1 = spark.table("md_sp_moves")
        .select("doc_id", "reason").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(moves1 == Set((21L, "quarantine_enter"),
        (21L, "quarantine_drain"), (junior, "realign")), s"$moves1")
      // batch 2: the X copy matches through the APPENDED index and
      // inherits the drained canonical split; the fresh asset hashes itself
      media(b2).repartition(1).write.parquet(srcDir.resolve("b2").toString)
      drain(ckpt)
      val at2 = splits
      assert(at2(30L) == bucket(senior) && at2(31L) == bucket(31L), s"$at2")
      // the at-rest pair artifact ≡ the full re-mine over everything
      // admitted, and the WALL AUDIT over it is clean — with the media
      // copy's pair among the ok rows (VERDICT r13 demand 4)
      def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val everything = corpus.unionByName(media(b1)).unionByName(media(b2))
      assert(pairSet(SplitState.loadPairs(spark, "md_sp")) ==
        pairSet(MultimodalOps.mediaNearDupPairs(everything, maxHamming = 10)))
      val audit = DedupOps.wallAudit(
        SplitState.loadPairs(spark, "md_sp").select("a", "b"),
        SplitState.load(spark, "md_sp"))
      val statuses = audit.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(statuses.keySet == Set("ok"), s"$statuses")
      assert(pairSet(audit) contains (1L, 20L),
        "the drained media pair must be an ok row of the wall audit")
      // audit rows flagged the expected seniors
      val flags = spark.read.parquet(auditRoot)
        .select("doc_id", "dup_of").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      // best match by (hamming, id): 20 → doc 1 (d = 0, senior of the
      // exact pair); 21 → idA (d = 6 beats idB's d = 9)
      assert(flags(20L) == Some(1L) && flags(21L) == Some(idA), s"$flags")
      assert(flags(31L).isEmpty, s"$flags")
      // REPLAY with a fresh checkpoint: the span fence routes both
      // batches to the heal path — nothing grows, nothing moves
      val assignBefore = spark.table("md_sp_assign").count()
      val chunksBefore = spark.table("md_mp_chunks").count()
      val pairsBefore = spark.table("md_sp_pairs").count()
      drain(java.nio.file.Files.createTempDirectory("graft-md-ck2").toString)
      assert(splits == at2)
      assert(spark.table("md_sp_assign").count() == assignBefore)
      assert(spark.table("md_mp_chunks").count() == chunksBefore)
      assert(spark.table("md_sp_pairs").count() == pairsBefore)
      // CHANGED-BATCHING replay: both files in ONE micro-batch — span
      // (20, 31) was never fenced but every id is committed → heal path
      drain(java.nio.file.Files.createTempDirectory("graft-md-ck3").toString,
        onePerTrigger = false)
      assert(splits == at2)
      assert(spark.table("md_sp_assign").count() == assignBefore)
      assert(spark.table("md_mp_chunks").count() == chunksBefore)
    } finally dropAll()
  }

  test("admissionDrain fast-path probe reads the admissions manifest, never the shingle table (plan-asserted)") {
    import graft.operators.DedupOps
    import spark.implicits._
    val corpus = Seq((100L, (1 to 40).map(i => f"pp$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    try {
      DedupOps.indexCorpus(corpus).saveAsTables("graft_adm_pp", nBuckets = 4)
      // seed the manifest the way the drain does on first use
      spark.table("graft_adm_pp_shingles")
        .select(lit(-1L).as("batch_id"), col("doc_id"))
        .write.format("parquet").saveAsTable("graft_adm_pp_admissions")
      val survivors = Seq((7L, "x")).toDF("doc_id", "text")
      val probe = graft.streaming.DocStream.replayProbe(spark, "graft_adm_pp", survivors)
      assert(probe.collect().map(_.getLong(0)).toSeq == Seq(7L))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("graft_adm_pp_admissions"),
        s"probe does not read the manifest:\n$plan")
      assert(!plan.contains("graft_adm_pp_shingles"),
        s"probe still scans the shingle table:\n$plan")
      // seeded ids ARE probe-visible (day-0 corpus fence)
      assert(graft.streaming.DocStream.replayProbe(spark, "graft_adm_pp",
        Seq((100L, "y")).toDF("doc_id", "text")).collect().isEmpty)
    } finally graft.operators.AtRest.dropFamily(spark, "graft_adm_pp")
  }

  test("admissionDrain: probe-skipped survivor audits admitted=false with null dup_of and never re-enters the index") {
    import graft.operators.DedupOps
    import spark.implicits._
    val w = (1 to 40).map(i => f"qa$i%02d").mkString(" ")
    val corpus = Seq((100L, w)).toDF("doc_id", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-adm2-src")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-adm2-sink").toString
    try {
      DedupOps.indexCorpus(corpus).saveAsTables("graft_adm2_idx", nBuckets = 4)
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      def drain(ck: String): Unit = graft.streaming.DocStream.admissionDrain(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString + "/*"),
        "graft_adm2_idx", 0.8, sinkRoot, ck)
      // day-0 id 100 re-sent with COMPLETELY different text: the dedup
      // gate cannot reject it (no near-dup), only the manifest fence can
      Seq((100L, (1 to 40).map(i => f"zz$i%02d").mkString(" ")))
        .toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(srcDir.resolve("b0").toString)
      drain(java.nio.file.Files.createTempDirectory("graft-adm2-ck").toString)
      val audit = spark.read.parquet(sinkRoot).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) ->
          ((r.getBoolean(r.fieldIndex("admitted")), r.isNullAt(r.fieldIndex("dup_of"))))).toMap
      // the probe-skip signature: NOT admitted, yet no dup attribution
      assert(audit(100L) == ((false, true)), s"${audit.get(100L)}")
      // and the index did not gain a duplicate id-100 row set
      assert(spark.table("graft_adm2_idx_shingles")
        .filter(col("doc_id") === 100L).count() == 1L)
    } finally graft.operators.AtRest.dropFamily(spark, "graft_adm2_idx")
  }

  test("admissionDrain fails fast on a pending-tombstoned batch id, before any audit row lands") {
    import graft.operators.DedupOps
    import spark.implicits._
    val w = (1 to 40).map(i => f"tb$i%02d").mkString(" ")
    val corpus = Seq((100L, w)).toDF("doc_id", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-adm3-src")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-adm3-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-adm3-ck").toString
    try {
      DedupOps.indexCorpus(corpus).saveAsTables("graft_adm3_idx", nBuckets = 4)
      DedupOps.removeFromCorpusIndex("graft_adm3_idx", Seq(100L).toDF("doc_id"))
      // the r10 silent-loss shape: the tombstoned doc's OWN text re-sent —
      // dedup can't flag it (its index copy is tombstone-hidden), and
      // without the guard it would audit admitted=true then vanish
      Seq((100L, w)).toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(srcDir.resolve("b0").toString)
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      val e = intercept[Exception] {
        graft.streaming.DocStream.admissionDrain(
          spark.readStream.schema(schema).parquet(srcDir.toString + "/*"),
          "graft_adm3_idx", 0.8, sinkRoot, ckpt)
      }
      def rootMsg(t: Throwable): String =
        if (t.getCause == null) String.valueOf(t.getMessage)
        else String.valueOf(t.getMessage) + " | " + rootMsg(t.getCause)
      assert(rootMsg(e).contains("tombstone"), s"wrong failure: ${rootMsg(e)}")
      // no audit partition was written for the failed batch
      assert(!new java.io.File(sinkRoot).listFiles().exists(_.getName.startsWith("batch_id=")))
    } finally graft.operators.AtRest.dropFamily(spark, "graft_adm3_idx")
  }

  test("admissionDrain recovery: a batch replayed after a mid-append crash heals bands + manifest, audits identically") {
    import graft.operators.DedupOps
    import spark.implicits._
    val w = (1 to 40).map(i => f"rc$i%02d").mkString(" ")
    val d1 = (1 to 40).map(i => f"na$i%02d").mkString(" ")
    val d2 = (1 to 40).map(i => f"nb$i%02d").mkString(" ")
    val corpus = Seq((100L, w)).toDF("doc_id", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-adm4-src")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-adm4-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-adm4-ck").toString
    try {
      DedupOps.indexCorpus(corpus).saveAsTables("graft_adm4_idx", nBuckets = 4)
      // craft the exact on-disk state a crash inside appendToCorpusIndex
      // leaves behind for batch 0 of a fresh checkpoint: manifest seeded +
      // marker row present, doc 1's SHINGLES committed but no band rows
      // and no completion rows; doc 2 untouched
      spark.table("graft_adm4_idx_shingles")
        .select(lit(-1L).as("batch_id"), col("doc_id"))
        .write.format("parquet").saveAsTable("graft_adm4_idx_admissions")
      spark.range(1).select(lit(0L).as("batch_id"), lit(null).cast("long").as("doc_id"))
        .write.mode("append").format("parquet").saveAsTable("graft_adm4_idx_admissions")
      graft.operators.TextOps.withShingles(Seq((1L, d1)).toDF("doc_id", "text"))
        .select("doc_id", "sh")
        .write.mode("append").format("parquet").saveAsTable("graft_adm4_idx_shingles")
      // the "replay": both docs arrive as batch 0
      Seq((1L, d1), (2L, d2)).toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(srcDir.resolve("b0").toString)
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      graft.streaming.DocStream.admissionDrain(
        spark.readStream.schema(schema).parquet(srcDir.toString + "/*"),
        "graft_adm4_idx", 0.8, sinkRoot, ckpt)
      // both docs admitted in the audit — the healed doc is not demoted
      val audit = spark.read.parquet(sinkRoot).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) ->
          r.getBoolean(r.fieldIndex("admitted"))).toMap
      assert(audit == Map(1L -> true, 2L -> true), s"$audit")
      // index consistent: one shingle row each, band rows healed for doc 1
      val shc = spark.table("graft_adm4_idx_shingles").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(shc == Map(100L -> 1L, 1L -> 1L, 2L -> 1L), s"$shc")
      assert(spark.table("graft_adm4_idx_bands")
        .filter(col("doc_id") === 1L).count() > 0L, "crashed doc's bands not healed")
      assert(spark.table("graft_adm4_idx_bands")
        .filter(col("doc_id") === 2L).count() > 0L)
      // manifest healed: completion rows for BOTH docs under batch 0
      assert(spark.table("graft_adm4_idx_admissions")
        .filter(col("batch_id") === 0L && col("doc_id").isNotNull)
        .collect().map(_.getLong(1)).toSet == Set(1L, 2L))
      // and a REPLAYED completed batch (fresh checkpoint, same file) takes
      // the fast path: identical audit, no index growth
      graft.streaming.DocStream.admissionDrain(
        spark.readStream.schema(schema).parquet(srcDir.toString + "/*"),
        "graft_adm4_idx", 0.8, sinkRoot,
        java.nio.file.Files.createTempDirectory("graft-adm4-ck2").toString)
      val audit2 = spark.read.parquet(sinkRoot).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) ->
          r.getBoolean(r.fieldIndex("admitted"))).toMap
      assert(audit2 == Map(1L -> true, 2L -> true), s"$audit2")
      assert(spark.table("graft_adm4_idx_shingles").count() == 3L)
    } finally graft.operators.AtRest.dropFamily(spark, "graft_adm4_idx")
  }

  test("admissionDrain: two drains audit like the DataFrame operators, leave the index equal to indexCorpus(day 0 ∪ admitted), recompile nothing and leak no pin") {
    import graft.operators.DedupOps
    import spark.implicits._
    def words(tag: String): String = (1 to 40).map(i => f"$tag$i%02d").mkString(" ")
    val day0 = Seq((100L, words("da")), (101L, words("db"))).toDF("doc_id", "text")
    // each night: a corpus twin, a near-dup of an earlier ADMISSION (night
    // 1), a novel senior with its within-batch junior, and a novel doc —
    // both nights take every branch of the per-batch flow
    val nights = Seq(
      Seq((1L, words("da")), (2L, words("ea")), (3L, words("eb")), (4L, words("eb") + " tail")),
      Seq((5L, words("ea") + " extra"), (6L, words("fa")), (7L, words("fa") + " tail"),
        (8L, words("db")), (9L, words("fb"))))
      .map(_.toDF("doc_id", "text"))
    val juniors = Map(4L -> 3L, 7L -> 6L)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-adm5-src")
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-adm5-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-adm5-ck").toString
    val sc = spark.sparkContext
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    try {
      DedupOps.indexCorpus(day0).saveAsTables("graft_adm5_idx", nBuckets = 4)
      val preDrain = sc.getPersistentRDDs.keySet
      val compiled = nights.zipWithIndex.map { case (night, n) =>
        night.repartition(1).write.parquet(srcDir.resolve(s"n$n").toString)
        val c0 = compiles()
        graft.streaming.DocStream.admissionDrain(
          spark.readStream.schema(night.schema).parquet(srcDir.toString + "/*"),
          "graft_adm5_idx", 0.8, sinkRoot, ckpt)
        compiles() - c0
      }
      // no pin outlives its batch: every frame the drains cached or
      // checkpointed is released (each within-batch cluster here is one
      // pair, so the clustering converges in its first, adopted cut)
      val leftover = sc.getPersistentRDDs.keySet.filterNot(preDrain)
      assert(leftover.isEmpty, s"pins left by the drains: $leftover")
      val audit = spark.read.parquet(sinkRoot)
      val admitted = audit.filter(col("admitted")).select("doc_id")
      // the audit against the DataFrame operators: each night's corpus
      // rejects are its best verified match in day 0 ∪ the earlier nights'
      // admissions, the planted juniors carry their senior, the rest admit
      nights.zipWithIndex.foreach { case (night, n) =>
        val corpus = nights.take(n).foldLeft(day0)((c, earlier) =>
          c.unionByName(earlier.join(admitted, "doc_id")))
        val best = DedupOps.minHashCrossDupPairs(night, corpus)
          .filter(col("jac") >= 0.8).groupBy("new_id")
          .agg(max_by(col("corpus_id"), struct(col("jac"), -col("corpus_id"))).as("dup_of"),
            max("jac").as("dup_jac"))
          .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, Option(r._3)))).toMap
        val expect = night.select("doc_id").as[Long].collect().map { id =>
          val verdict = best.get(id).orElse(juniors.get(id).map(_ -> Option.empty[Double]))
          id -> ((verdict.isEmpty, verdict.map(_._1), verdict.flatMap(_._2)))
        }.toMap
        val got = audit.filter(col("batch_id") === n.toLong)
          .select("doc_id", "admitted", "dup_of", "dup_jac")
          .as[(Long, Boolean, Option[Long], Option[Double])].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(got == expect, s"night $n audit")
      }
      assert(admitted.as[Long].collect().toSet == Set(2L, 3L, 6L, 9L))
      // the index equals a fresh build over day 0 ∪ admitted
      val fresh = DedupOps.indexCorpus(day0.unionByName(
        nights.reduce(_ unionByName _).join(admitted, "doc_id")))
      val loaded = DedupOps.loadCorpusIndex(spark, "graft_adm5_idx")
      assert(same(loaded.shingles.select("doc_id", "sh"), fresh.shingles))
      val bandCols = fresh.bands.columns.toSeq.map(col)
      assert(same(loaded.bands.select(bandCols: _*), fresh.bands))
      // the second drain runs on the caller's session and reuses the
      // classes the first compiled — a batch run on the stream's fresh
      // cloned session compiles them all again
      assert(compiled(1) <= 20, s"second drain compiled ${compiled(1)} classes")
    } finally graft.operators.AtRest.dropFamily(spark, "graft_adm5_idx")
  }

  test("foreachBatch streams into the idempotent partitioned sink") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream-sink").toString
    val stream = EventStream.fromDirectory(spark, eventsDir)
      .select("event_id", "user_id", "event_type", "value", "ts")
    val q = EventStream.toPartitionedParquet(stream, root, checkpoint = None)
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(root)
    assert(written.count() == graft.Tables.load(spark, TestSpark.sf, "events").count())
    assert(written.columns.contains("load_date"))
    // batches land in distinct (load_date, batch_id) partitions so a replay
    // of one batch cannot wipe the day's other batches
    assert(written.columns.contains("batch_id"))
  }

  test("event-time timeout session tracking expires state behind the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().select(col("_1").as("user_id"), col("_2").as("ts"))
    val q = EventStream.sessionTracking(spark, events)
      .writeStream.format("memory").queryName("session_tracking")
      .outputMode("update").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    input.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(2)))
    q.processAllAvailable()
    // push event time far past user 1's timeout (30 min) + watermark (10 min)
    input.addData((2L, ts(55)))
    q.processAllAvailable()
    input.addData((2L, ts(59))) // one more batch so timeouts fire
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("session_tracking")
      .select("userId", "nEvents").as[(Long, Long)].collect()
    assert(rows.contains((1L, 2L)), s"user 1 updates missing: ${rows.toSeq}")
    assert(rows.contains((1L, -1L)), s"user 1 state never timed out: ${rows.toSeq}")
  }

  test("streaming dedup suppresses duplicate event ids within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
    val q = EventStream.dedupedEvents(events)
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    input.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (1L, ts(2), 99.0)) // dup id 1
    q.processAllAvailable()
    input.addData((2L, ts(3), 98.0), (3L, ts(4), 3.0)) // dup id 2 across batches
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_stream").select("event_id", "value")
      .as[(Long, Double)].collect().sorted.toSeq
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)), s"got $rows")
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val cdf = clicks.toDF().toDF("user_id", "event_id", "ts")
    val pdf = purchases.toDF().toDF("user_id", "event_id", "value", "ts")
    val q = EventStream.clickPurchaseAttribution(cdf, pdf)
      .writeStream.format("memory").queryName("attribution").outputMode("append").start()
    clicks.addData((1L, 100L, ts(0)), (1L, 101L, ts(5)), (2L, 200L, ts(1)))
    purchases.addData(
      (1L, 900L, 50.0, ts(10)),  // within 30 min of clicks 100 and 101
      (2L, 901L, 10.0, ts(45)))  // 44 min after click 200 → NOT attributed
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attribution")
      .select("user_id", "purchase_id", "click_id").as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((1L, 900L, 100L), (1L, 900L, 101L)), s"got $rows")
  }

  test("streaming as-of lookup matches batch asofBackward on sf0.001 events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.load(spark, TestSpark.sf, "events")
    // batch reference: q106-shaped as-of with the click value as payload
    val expected = graft.operators.EventOps.asofBackward(
        left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("cid"),
            col("value").as("click_value")),
        key = "user_id", ts = "ts", out = "click_ts",
        payload = Seq("click_value"), tieBreak = Some("cid"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        unix_micros(col("click_ts")).as("cus"), col("click_value"))
      .as[(Long, Long, Long, Option[Long], Option[Double])].collect().toSet
    assert(expected.nonEmpty && expected.exists(_._4.isDefined))

    // stream the same events through the state-store lookup in three
    // event-time-ordered chunks (the per-key monotone arrival contract).
    // BOTH sides are fed from ONE MemoryStream and split by a side tag:
    // with two independent sources, the continuous trigger can capture
    // source offsets mid-addData and process a chunk's purchases one
    // batch BEFORE its clicks — a cross-source race, not an operator
    // property; a single source pins each chunk into one offset range.
    val eventsIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double, Int)]
    val tagged = eventsIn.toDF().toDF("user_id", "event_id", "ts", "value", "side")
    val q = EventStream.asofLookup(spark,
        tagged.filter(col("side") === 0).drop("side"),
        tagged.filter(col("side") === 1).drop("side"))
      .writeStream.format("memory").queryName("asof_lookup").outputMode("append").start()
    val all = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"))
      .as[(Long, Long, java.sql.Timestamp, Double, Int)]
      .collect().sortBy(r => (r._3.getTime, r._5, r._2))
    val chunks = Seq(all.length / 3, 2 * all.length / 3, all.length)
    var fed = 0
    chunks.foreach { until =>
      if (until > fed) eventsIn.addData(all.slice(fed, until).toIndexedSeq)
      fed = until
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("asof_lookup")
      .select("eventId", "userId", "tsMicros", "clickTsMicros", "clickValue")
      .as[(Long, Long, Long, Option[Long], Option[Double])].collect().toSet
    assert(got == expected,
      s"streaming != batch: only-streaming=${(got -- expected).take(5)} only-batch=${(expected -- got).take(5)}")
  }

  test("asofLookup: equal-ts click arriving in a LATER batch cannot displace the max-id click") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val eventsIn = MemoryStream[(Long, Long, java.sql.Timestamp, Option[Double], Int)]
    val tagged = eventsIn.toDF().toDF("user_id", "event_id", "ts", "value", "side")
    val q = EventStream.asofLookup(spark,
        tagged.filter(col("side") === 0).drop("side"),
        tagged.filter(col("side") === 1).drop("side"))
      .writeStream.format("memory").queryName("asof_tie").outputMode("append").start()
    // b1: the HIGHER-id click at ts=100 lands first (valid monotone arrival)
    eventsIn.addData(Seq((1L, 9L, ts(100), Some(9.0), 0))); q.processAllAvailable()
    // b2: a LOWER-id click at the same ts arrives later — still monotone —
    // and must NOT replace the stored reference (batch tieBreak = max id);
    // also a click with NULL value must not crash the query
    eventsIn.addData(Seq((1L, 3L, ts(100), Some(3.0), 0),
      (2L, 5L, ts(100), Option.empty[Double], 0))); q.processAllAvailable()
    // b3: purchases for both users
    eventsIn.addData(Seq((1L, 900L, ts(100), None, 1), (2L, 901L, ts(100), None, 1)))
    q.processAllAvailable(); q.stop()
    val got = spark.table("asof_tie")
      .select("eventId", "clickTsMicros", "clickValue")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(900L) == ((Some(100000000L), Some(9.0))),
      s"later-arriving equal-ts lower-id click displaced the reference: ${got(900L)}")
    assert(got(901L) == ((Some(100000000L), None)), s"NULL payload value: ${got(901L)}")
  }

  test("asofLookupExpiring: idle keys are reaped behind the watermark, active keys keep state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val eventsIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double, Int)]
    val tagged = eventsIn.toDF().toDF("user_id", "event_id", "ts", "value", "side")
    val q = EventStream.asofLookupExpiring(spark,
        tagged.filter(col("side") === 0).drop("side"),
        tagged.filter(col("side") === 1).drop("side"),
        watermarkDelay = "10 minutes", maxIdleMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("asof_expiring").outputMode("append").start()
    def feed(rows: (Long, Long, java.sql.Timestamp, Double, Int)*): Unit = {
      eventsIn.addData(rows.toIndexedSeq); q.processAllAvailable()
    }
    // b1: user 1 click @10:00 then purchase @10:05 -> matched
    feed((1L, 100L, ts("10:00"), 5.0, 0), (1L, 900L, ts("10:05"), 0.0, 1))
    // b2: user 2 click @12:00 -> watermark advances to 11:50 after this batch
    feed((2L, 101L, ts("12:00"), 7.0, 0))
    // b3: user-2-only traffic; user 1 has NO data here and its keep-alive
    // horizon (10:05 + 30 min = 10:35) is behind the 11:50 watermark ->
    // the engine reaps user 1's state in this batch
    feed((2L, 102L, ts("12:05"), 8.0, 0))
    // b4: late-arriving user-1 purchase @12:10 (above watermark, so not
    // dropped) finds NO state -> NULL; user 2's purchase still matches
    feed((1L, 901L, ts("12:10"), 0.0, 1), (2L, 902L, ts("12:30"), 0.0, 1))
    q.stop()
    val got = spark.table("asof_expiring")
      .select("eventId", "userId", "clickTsMicros", "clickValue")
      .as[(Long, Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    def us(t: java.sql.Timestamp) = t.getTime * 1000
    assert(got(900L) == ((Some(us(ts("10:00"))), Some(5.0))))
    assert(got(901L) == ((None, None)), s"expired state must not match: ${got(901L)}")
    assert(got(902L) == ((Some(us(ts("12:05"))), Some(8.0))))
  }

  test("asofForwardStream matches batch asofForward on sf0.001 events (incl. unmatched flush)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.load(spark, TestSpark.sf, "events")
    // batch reference: q109-shaped forward as-of (click -> next purchase,
    // purchase id + value payload, arg-min tie)
    val expected = graft.operators.EventOps.asofForward(
        left = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        right = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("pid"),
            col("value").as("purchase_value")),
        key = "user_id", ts = "ts", out = "purchase_ts",
        payload = Seq("pid", "purchase_value"), tieBreak = Some("pid"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        unix_micros(col("purchase_ts")).as("pus"), col("pid"), col("purchase_value"))
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Double])].collect().toSet
    assert(expected.nonEmpty && expected.exists(_._4.isDefined)
      && expected.exists(_._4.isEmpty)) // both matched and never-converting clicks

    // ONE tagged MemoryStream split by side (see the asofLookup spec for
    // why two sources race); event-time-ordered chunks = the monotone
    // arrival contract. maxWait exceeds the dataset's largest conversion
    // gap, so every batch match is reproduced; two far-future sentinel
    // batches then push the watermark past every deadline so the
    // never-converting clicks FLUSH as unmatched (the batch NULL rows).
    val eventsIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double, Int)]
    val tagged = eventsIn.toDF().toDF("user_id", "event_id", "ts", "value", "side")
    val maxWaitMs = 30L * 24 * 3600 * 1000 // 30 days
    val q = EventStream.asofForwardStream(spark,
        tagged.filter(col("side") === 0).drop("side"),
        tagged.filter(col("side") === 1).drop("side"),
        watermarkDelay = "10 minutes", maxWaitMs = maxWaitMs)
      .writeStream.format("memory").queryName("asof_fwd").outputMode("append").start()
    val all = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"))
      .as[(Long, Long, java.sql.Timestamp, Double, Int)]
      .collect().sortBy(r => (r._3.getTime, r._5, r._2))
    Seq(all.length / 3, 2 * all.length / 3, all.length).foldLeft(0) { (fed, until) =>
      if (until > fed) { eventsIn.addData(all.slice(fed, until).toIndexedSeq); q.processAllAvailable() }
      until
    }
    // sentinel clicks for a throwaway user far beyond every deadline: the
    // first advances the watermark at its batch END; the second's batch
    // runs WITH that watermark and fires the expiry. The sentinels' own
    // pending rows stay in state (their deadline is far future) and are
    // excluded below.
    val maxTs = all.map(_._3.getTime).max
    for (k <- 1 to 2) {
      eventsIn.addData(Seq((999999L, 999990L + k,
        new java.sql.Timestamp(maxTs + maxWaitMs + k * 3600_000L), 0.0, 0)))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("asof_fwd")
      .filter(col("userId") =!= 999999L)
      .select("eventId", "userId", "tsMicros", "matchTsMicros", "matchId", "matchValue")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Double])].collect().toSet
    assert(got == expected,
      s"streaming != batch: only-streaming=${(got -- expected).take(5)} only-batch=${(expected -- got).take(5)}")
  }

  test("asofForwardStream: equal-ts match, arg-min tie, cross-batch hold, deadline flush") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val eventsIn = MemoryStream[(Long, Long, java.sql.Timestamp, Option[Double], Int)]
    val tagged = eventsIn.toDF().toDF("user_id", "event_id", "ts", "value", "side")
    val q = EventStream.asofForwardStream(spark,
        tagged.filter(col("side") === 0).drop("side"),
        tagged.filter(col("side") === 1).drop("side"),
        watermarkDelay = "10 seconds", maxWaitMs = 60_000L)
      .writeStream.format("memory").queryName("asof_fwd_tie").outputMode("append").start()
    // b1: user 1 clicks @100 and @150; TWO purchases @150 in the same batch
    // (ids 901 < 902) — both clicks must match 901 (equal-ts click included,
    // lowest purchase id wins = batch arg-min); 902 drains nothing. A NULL
    // purchase value must ride through as None.
    eventsIn.addData(Seq(
      (1L, 1L, ts(100), Option.empty[Double], 0),
      (1L, 2L, ts(150), Option.empty[Double], 0),
      (1L, 901L, ts(150), Some(9.5), 1),
      (1L, 902L, ts(150), Option.empty[Double], 1)))
    q.processAllAvailable()
    // b2: user 2 click @200 held across batches; user 1 new click @200
    eventsIn.addData(Seq((2L, 3L, ts(200), Option.empty[Double], 0),
      (1L, 4L, ts(200), Option.empty[Double], 0)))
    q.processAllAvailable()
    // b3: user 2's purchase @230 answers its pending click; user 1's click
    // stays pending
    eventsIn.addData(Seq((2L, 903L, ts(230), Some(7.0), 1)))
    q.processAllAvailable()
    // b4+b5: watermark pushed past user 1's deadline (200 + 60 s = 260;
    // sentinel 400 - 10 s delay = 390 > 260) — click 4 flushes unmatched
    for (k <- 0 to 1)  {
      eventsIn.addData(Seq((9L, 800L + k, ts(400 + k), Option.empty[Double], 0)))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("asof_fwd_tie")
      .select("eventId", "matchTsMicros", "matchId", "matchValue")
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((Some(150000000L), Some(901L), Some(9.5))), s"click 1: ${got.get(1L)}")
    assert(got(2L) == ((Some(150000000L), Some(901L), Some(9.5))), s"equal-ts click 2: ${got.get(2L)}")
    assert(got(3L) == ((Some(230000000L), Some(903L), Some(7.0))), s"cross-batch click 3: ${got.get(3L)}")
    assert(got(4L) == ((None, None, None)), s"deadline flush click 4: ${got.get(4L)}")
  }

  test("scd2Stream: closed segments match the batch scd2History build on sf0.001 events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.load(spark, TestSpark.sf, "events")
    // batch reference: per-user event_type runs; CLOSED segments only
    // (the streaming operator's open segment per key is still state)
    val expected = graft.operators.Relational
      .scd2History(ev, "user_id", "ts", "event_id", Seq("event_type"))
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("from_us"),
        unix_micros(col("valid_to")).as("to_us"), col("n_orders"))
      .as[(Long, Option[String], Long, Long, Long)].collect().toSet
    assert(expected.size > 100)

    val eventsIn = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val q = EventStream.scd2Stream(spark,
        eventsIn.toDF().toDF("user_id", "event_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("scd2_stream").outputMode("append").start()
    val all = ev.select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, java.sql.Timestamp, String)]
      .collect().sortBy(r => (r._3.getTime, r._2))
    Seq(all.length / 3, 2 * all.length / 3, all.length).foldLeft(0) { (fed, until) =>
      if (until > fed) { eventsIn.addData(all.slice(fed, until).toIndexedSeq); q.processAllAvailable() }
      until
    }
    q.stop()
    val got = spark.table("scd2_stream")
      .select("userId", "attr", "validFromMicros", "validToMicros", "nEvents")
      .as[(Long, Option[String], Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"streaming != batch: only-streaming=${(got -- expected).take(3)} only-batch=${(expected -- got).take(3)}")
  }

  test("scd2 drain: closed emissions + open-segment snapshot == FULL batch scd2History (valid_to NULL rows included)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.load(spark, TestSpark.sf, "events")
    // the FULL batch reference this time — open segments and all: the
    // drain exists precisely to answer "what is the CURRENT value per key"
    val expected = graft.operators.Relational
      .scd2History(ev, "user_id", "ts", "event_id", Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("from_us"),
        unix_micros(col("valid_to")).as("to_us"), col("n_orders"))
      .as[(Long, Option[String], Long, Option[Long], Long)].collect().toSet
    val nOpen = expected.count(_._4.isEmpty)
    // exactly ONE open segment per observed key — the "current value"
    val nKeys = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select("user_id").distinct().count()
    assert(nOpen.toLong == nKeys && nOpen > 5, s"open=$nOpen keys=$nKeys")

    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-scd2-drain").toString
    val eventsIn = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val q = EventStream.scd2Stream(spark,
        eventsIn.toDF().toDF("user_id", "event_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("scd2_drain")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .start()
    val all = ev.select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, java.sql.Timestamp, String)]
      .collect().sortBy(r => (r._3.getTime, r._2))
    eventsIn.addData(all.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // the AvailableNow-shaped lifecycle: query terminated, snapshot the
    // open segments straight from the checkpoint's state store
    val closed = spark.table("scd2_drain")
      .select("userId", "attr", "validFromMicros", "validToMicros", "nEvents")
      .withColumn("validToMicros", col("validToMicros").cast("long"))
      .as[(Long, Option[String], Long, Option[Long], Long)].collect().toSet
    val open = EventStream.scd2OpenSnapshot(spark, checkpoint)
      .as[(Long, Option[String], Long, Option[Long], Long)].collect().toSet
    assert(open.size == nOpen, s"snapshot rows ${open.size} != open segments $nOpen")
    assert(open.forall(_._4.isEmpty))
    val union = closed ++ open
    assert(union == expected,
      s"drain != batch: only-stream=${(union -- expected).take(3)} only-batch=${(expected -- union).take(3)}")
  }

  test("flatMapGroupsWithState running totals accumulate per user") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val events = input.toDF().select(col("_1").as("user_id"), col("_2").as("value"))
    val q = EventStream.runningTotals(spark, events)
      .writeStream.format("memory").queryName("running_test")
      .outputMode("update").start()
    input.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
    q.processAllAvailable()
    input.addData((1L, 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("running_test")
      .groupBy("userId").agg(max("nEvents").as("n"), max("totalValue").as("v"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ((3L, 17.0)))
    assert(rows(2L) == ((1L, 1.0)))
  }
}
