package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SimHashSketchAgg

class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Direct driver for the imperative agg's pure semantics (no Spark job). */
  private def simhashOf(tokenHashes: Seq[Long]): Long = {
    val agg = SimHashSketchAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false))
    val buf = tokenHashes.foldLeft(agg.createAggregationBuffer()) { (b, th) =>
      agg.update(b, org.apache.spark.sql.catalyst.InternalRow(th))
    }
    agg.eval(buf).asInstanceOf[Long]
  }

  test("SimHashSketchAgg: identical token multisets yield identical signatures") {
    assert(simhashOf(Seq(1L, 2L, 3L, -7L)) == simhashOf(Seq(3L, 1L, -7L, 2L)))
  }

  test("SimHashSketchAgg: merge == update over concatenation, serde round-trips") {
    val agg = SimHashSketchAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false))
    val xs = Seq(5L, 99L, 123456789L)
    val ys = Seq(-42L, 7L)
    def bufOf(ts: Seq[Long]) = ts.foldLeft(agg.createAggregationBuffer()) { (b, t) =>
      agg.update(b, org.apache.spark.sql.catalyst.InternalRow(t))
    }
    val merged = agg.merge(bufOf(xs), agg.deserialize(agg.serialize(bufOf(ys))))
    assert(agg.eval(merged) == agg.eval(bufOf(xs ++ ys)))
  }

  test("SimHashSketchAgg: near-identical docs have small hamming distance") {
    def sig(tokens: Seq[String]): Long =
      simhashOf(tokens.map(t => scala.util.hashing.MurmurHash3.stringHash(t).toLong))
    val doc = (1 to 100).map(i => s"token$i")
    val near = doc.updated(50, "CHANGED")
    val far = (1 to 100).map(i => s"other$i")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(doc), sig(near)) < hamming(sig(doc), sig(far)))
    assert(hamming(sig(doc), sig(near)) <= 8)
  }

  test("Md5Lower64 matches DuckDB md5_number_lower bit patterns") {
    // expected values computed with python hashlib struct.unpack('<q', md5[8:16])
    // and cross-checked against duckdb md5_number_lower
    assert(graft.plans.Md5Lower64.lower64("abc".getBytes("UTF-8")) == 8250560606382298838L)
    assert(graft.plans.Md5Lower64.lower64("".getBytes("UTF-8")) == 9098107892288553193L)
    val df = Seq("abc").toDF("s")
      .select(graft.plans.Md5Lower64.of(col("s")).as("h"))
    assert(df.as[Long].head() == 8250560606382298838L)
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    def dedup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(md5(col("text")).as("fp")).agg(min("doc_id").as("doc_id"))
    val once = dedup(docs)
    val twice = once.groupBy("fp").agg(min("doc_id").as("doc_id"))
    assert(once.orderBy("fp").collect().toSeq == twice.orderBy("fp").collect().toSeq)
    assert(once.count() == 2)
  }

  test("DedupPipeline.Exact removes normalized duplicates, keeps senior ids") {
    import graft.operators.DedupPipeline
    val docs = Seq(
      (10L, "Hello,   World!"), (20L, "hello world"), // same after normalization
      (30L, "something else")).toDF("id", "body")
    val kept = DedupPipeline.dedup(docs, "id", "body", DedupPipeline.Exact)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(10L, 30L))
  }

  test("DedupPipeline.MinHashLsh drops planted near-dups and is idempotent") {
    import graft.operators.DedupPipeline
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val n0 = docs.count()
    val deduped = DedupPipeline.dedup(docs, "doc_id", "text", DedupPipeline.MinHashLsh(0.8))
    val n1 = deduped.count()
    assert(n1 < n0, "no near-dups dropped, but sf0.001 has planted pairs")
    // idempotent: a second pass drops nothing
    val n2 = DedupPipeline.dedup(deduped, "doc_id", "text", DedupPipeline.MinHashLsh(0.8)).count()
    assert(n2 == n1, s"second pass dropped ${n1 - n2} more rows")
    // every dropped doc has a surviving senior near-duplicate
    val pairs = DedupPipeline.nearDupPairs(docs, "doc_id", "text", 0.8)
      .select("a", "b").as[(Long, Long)].collect()
    val keptIds = deduped.select("doc_id").as[Long].collect().toSet
    assert(pairs.forall { case (a, b) => !keptIds.contains(b) || keptIds.contains(a) })
  }

  test("DedupPipeline.SimHash drops planted near-dups and is idempotent") {
    import graft.operators.DedupPipeline
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val n0 = docs.count()
    val deduped = DedupPipeline.dedup(docs, "doc_id", "text", DedupPipeline.SimHash(3))
    val n1 = deduped.count()
    assert(n1 < n0, "no near-dups dropped, but sf0.001 has planted pairs")
    val n2 = DedupPipeline.dedup(deduped, "doc_id", "text", DedupPipeline.SimHash(3)).count()
    assert(n2 == n1, s"second pass dropped ${n1 - n2} more rows")
  }

  test("SimHash above Hamming 3: enumeration finds the pair exact chunks miss; DedupPipeline derives the covering radius; >11 rejected") {
    import graft.operators.{DedupOps, DedupPipeline}
    import spark.implicits._
    // planted pair at token-SimHash Hamming 10 with min chunk distance 2
    // (40 tokens, first 6 replaced — distances verified offline): the
    // exact-chunk rule (radius 0) cannot see it, radius 1 cannot either,
    // radius 2 must — and its completeness bound (4·2+3 = 11) covers the
    // verify threshold 10
    val base = (0 until 40).map(j => f"tok$j%02dword")
    val a = base.mkString(" ")
    val b = base.zipWithIndex
      .map { case (t, j) => if (j < 6) f"rep$j%02dnew" else t }.mkString(" ")
    val far = (0 until 40).map(j => f"oth$j%02dzz").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, far)).toDF("doc_id", "text")
    def found(radius: Int): Set[(Long, Long)] =
      DedupOps.simHashNearDupPairs(docs, mihRadius = radius)
        .filter(col("hamming") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found(0) == Set.empty, s"radius 0 should miss the planted pair: ${found(0)}")
    assert(found(1) == Set.empty, s"radius 1 should miss the planted pair: ${found(1)}")
    assert(found(2) == Set((1L, 2L)), s"radius 2 must find it: ${found(2)}")
    // the pipeline derives radius 2 from maxHamming = 10 and drops the junior
    val kept = DedupPipeline.dedup(docs, "doc_id", "text", DedupPipeline.SimHash(10))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"$kept")
    // radius 1 covers thresholds ≤ 7 — derived for SimHash(7), which must
    // keep the Hamming-10 pair apart
    val kept7 = DedupPipeline.dedup(docs, "doc_id", "text", DedupPipeline.SimHash(7))
      .select("doc_id").as[Long].collect().toSet
    assert(kept7 == Set(1L, 2L, 3L), s"$kept7")
    // beyond the radius-2 completeness bound the pipeline fails fast
    val e = intercept[IllegalArgumentException](
      DedupPipeline.dedup(docs, "doc_id", "text", DedupPipeline.SimHash(12)))
    assert(e.getMessage.contains("wider fingerprint"))
    // on real data the enumerated candidate set is a SUPERSET of the
    // exact-chunk one at every radius (verified pairs only grow)
    val corpus = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    def pairsAt(radius: Int): Set[(Long, Long)] =
      DedupOps.simHashNearDupPairs(corpus, mihRadius = radius)
        .filter(col("hamming") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p0 = pairsAt(0); val p2 = pairsAt(2)
    assert(p0.subsetOf(p2), s"enumeration lost pairs: ${p0 -- p2}")
  }

  test("dedupByEmbedding drops planted exact-copy vectors, keeps seniors") {
    import graft.operators.DedupPipeline
    val base = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = base.count()
    // plant copies: every vector duplicated under a junior id
    val copies = base.withColumn("vec_id", col("vec_id") + lit(1000000L))
    val corpus = base.unionByName(copies)
    val deduped = DedupPipeline.dedupByEmbedding(corpus, "vec_id", "embedding", 0.9999)
    val keptIds = deduped.select("vec_id").as[Long].collect().toSet
    // every planted copy collides with its twin in every LSH table, so all
    // juniors must drop; all seniors must survive
    assert(!keptIds.exists(_ >= 1000000L), "planted junior copies survived")
    assert(keptIds.size == n.toInt, s"expected $n seniors, got ${keptIds.size}")
  }

  test("connected-components clustering resolves chains and separate clusters") {
    import graft.operators.DedupPipeline
    // chain 1-2, 2-3, 3-4 plus isolated pair 10-11 plus singleton-free graph
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a", "b")
    val labels = DedupPipeline.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters with reliable checkpointDir matches the localCheckpoint path") {
    import graft.operators.DedupPipeline
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try {
      val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L))
        .toDF("a", "b")
      val local = DedupPipeline.clusters(pairs)
        .as[(Long, Long)].collect().toMap
      val reliable = DedupPipeline
        .clusters(pairs, checkpointDir = Some(ckpt.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(reliable == local)
      // the reliable path must actually write checkpoint data to the dir
      def countFiles(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
        else 1
      assert(countFiles(ckpt) > 0, "reliable checkpoint wrote nothing")
      // updateClusters threads the same option through its inner propagation
      val upd = DedupPipeline.updateClusters(
        DedupPipeline.clusters(Seq((1L, 2L)).toDF("a", "b")),
        Seq((2L, 3L)).toDF("a", "b"),
        checkpointDir = Some(ckpt.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(upd == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(ckpt)
    }
  }

  test("reliable checkpoint end-to-end: q58 pipeline at sf0.1 matches the " +
    "localCheckpoint path and cleans superseded iteration files") {
    import graft.operators.{DedupOps, DedupPipeline}
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-e2e").toFile
    // the real q58 edge graph on real fixture data at the bench SF — not a
    // toy graph: prefix-filtered n-gram-Jaccard pairs over 50k documents
    val edges = DedupOps.ngramJaccardPairs(spark, "/root/testdata/sf0.1",
        minJac = Some(0.5)).select("a", "b")
      .persist()
    // The resolved dir may be one a PREVIOUS test installed (the no-clobber
    // rule keeps the first configured dir for the shared context), so the
    // cleanup assertion diffs rdd-* dirs around THIS call rather than
    // assuming our ckpt dir is the one in use — order-independent.
    def rddDirsIn(): Set[String] =
      spark.sparkContext.getCheckpointDir.toSet.flatMap { (d: String) =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p))
          fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("rdd-")).toSet
        else Set.empty[String]
      }
    try {
      val local = DedupPipeline.clusters(edges, maxIter = 100)
        .as[(Long, Long)].collect().toMap
      val before = rddDirsIn()
      val reliable = DedupPipeline
        .clusters(edges, maxIter = 100, checkpointDir = Some(ckpt.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(reliable == local,
        "reliable-checkpoint propagation diverged from localCheckpoint at sf0.1")
      assert(local.nonEmpty, "sf0.1 near-dup graph unexpectedly empty")
      // superseded-iteration cleanup (r6 advice): one clusters() call may
      // leave at most the FINAL cut's rdd-* directory behind — earlier
      // iterations' copies are deleted eagerly
      val fresh = rddDirsIn() -- before
      assert(fresh.size <= 1,
        s"superseded iteration checkpoints not cleaned: ${fresh.mkString(",")}")
      // drop the final cut's files too so the shared-context dir does not
      // accumulate one leaked dir per suite run
      spark.sparkContext.getCheckpointDir.foreach { d =>
        val base = new org.apache.hadoop.fs.Path(d)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fresh.foreach(name => fs.delete(new org.apache.hadoop.fs.Path(base, name), true))
      }
    } finally {
      edges.unpersist()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(ckpt)
    }
  }

  test("incremental dedup matches a planted batch doc against the corpus only") {
    import graft.operators.DedupOps
    val corpus = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    // batch: one exact copy of corpus doc 7 (junior id) + one novel doc
    val copied = corpus.filter(col("doc_id") === 7L)
      .withColumn("doc_id", lit(5000001L))
    val novel = Seq((5000002L,
      "entirely novel text with no counterpart whatsoever in this corpus " +
        "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll zz"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minHashCrossDupPairs(copied.unionByName(novel), corpus)
      .filter(col("jac") >= 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 5000001L && p._2 == 7L && p._3 == 1.0),
      "planted exact copy not matched to its corpus twin")
    assert(!pairs.exists(_._1 == 5000002L), "novel doc spuriously matched")
  }

  test("sketch-based pair functions equal the DataFrame ones on sf0.001 documents") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = DedupOps.indexCorpus(docs.filter(col("doc_id") % 10 =!= 0))
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      assert(!a.isEmpty, "vacuous parity: no pairs")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    // the sketches cached, as a caller computing them once holds them
    val batchSketch = DedupOps.indexCorpus(batch).persist()
    val docsSketch = DedupOps.indexCorpus(docs).persist()
    try {
      same(DedupOps.minHashCrossDupPairs(batchSketch, corpus),
        DedupOps.minHashCrossDupPairs(batch, corpus))
      same(DedupOps.minHashNearDupPairs(docsSketch), DedupOps.minHashNearDupPairs(docs))
    } finally { batchSketch.unpersist(); docsSketch.unpersist() }
  }

  test("bucketed corpus index round-trips and joins without shuffling the corpus side") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inline = DedupOps.minHashCrossDupPairs(batch, corpus)
    DedupOps.indexCorpus(corpus).saveAsTables("graft_mh_idx", nBuckets = 4)
    val loaded = DedupOps.loadCorpusIndex(spark, "graft_mh_idx")
    val viaTables = DedupOps.minHashCrossDupPairs(batch, loaded)
    assert(inline.exceptAll(viaTables).isEmpty && viaTables.exceptAll(inline).isEmpty)
    // The no-shuffle claim must hold on the SORT-MERGE path (at corpus
    // scale the bands can't broadcast): disable broadcast, allow subset
    // co-partitioning (the at-scale conf saveAsTables documents), and
    // assert the bucketed corpus scan reaches the join with NO Exchange
    // above it — only the batch side repartitions.
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBc = spark.conf.get(bcKey)
    try {
      spark.conf.set(bcKey, "-1")
      val smj = DedupOps.minHashCrossDupPairs(batch, loaded)
      smj.collect()
      val plan = smj.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"corpus band scan not bucketed:\n$plan")
      // walk the bands scan's ANCESTOR chain (strictly-decreasing tree
      // indentation) up to its candidate join: no Exchange may sit between
      // them — Exchanges elsewhere (e.g. the verify stage above the join)
      // are legitimate
      val lines = plan.linesIterator.toVector
      def indentOf(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
      val scanIdx = lines.indexWhere(l => l.contains("FileScan") && l.contains("graft_mh_idx_bands"))
      assert(scanIdx >= 0, s"bands scan not found:\n$plan")
      var minIndent = indentOf(lines(scanIdx))
      var i = scanIdx - 1
      var sawExchange = false
      var reachedJoin = false
      while (i >= 0 && !reachedJoin) {
        val ind = indentOf(lines(i))
        if (ind >= 0 && ind < minIndent) { // an ancestor of the scan
          minIndent = ind
          if (lines(i).contains("Exchange")) sawExchange = true
          if (lines(i).contains("Join")) reachedJoin = true
        }
        i -= 1
      }
      assert(reachedJoin, s"no join found above the bands scan:\n$plan")
      assert(!sawExchange,
        s"corpus side shuffles between its bucketed scan and the candidate join:\n$plan")
    } finally spark.conf.set(bcKey, prevBc)
    graft.operators.AtRest.dropFamily(spark, "graft_mh_idx")
  }

  test("dedupAgainstCorpus rejects thresholds below the LSH recall floor; empty batch is a no-op") {
    import graft.operators.DedupPipeline
    val corpus = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    intercept[IllegalArgumentException](
      DedupPipeline.dedupAgainstCorpus(corpus.limit(1), corpus, "doc_id", "text", 0.3))
    val empty = corpus.filter(col("doc_id") < 0)
    assert(DedupPipeline.dedupAgainstCorpus(empty, corpus, "doc_id", "text", 0.8).isEmpty)
  }

  test("dedupAgainstCorpus admits novel docs and drops corpus twins") {
    import graft.operators.DedupPipeline
    val corpus = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val copied = corpus.filter(col("doc_id") === 7L)
      .withColumn("doc_id", lit(6000001L))
    val novel = Seq((6000002L,
      "wholly new content never before seen anywhere q1 w2 e3 r4 t5 y6 u7 " +
        "i8 o9 p0 a1 s2 d3 f4 g5 h6 j7 k8 l9 z0"))
      .toDF("doc_id", "text")
    val kept = DedupPipeline.dedupAgainstCorpus(
      copied.unionByName(novel), corpus, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(6000002L), s"expected only the novel doc, got $kept")
  }

  test("MinHash-LSH finds the planted near-duplicates at sf0.001") {
    val out = graft.operators.DedupOps.queries("q51_minhash_lsh")(spark, TestSpark.sf)
    val top = out.select("jac").as[Double].collect()
    assert(top.nonEmpty, "LSH found no candidate pairs")
    assert(top.max >= 0.8, s"expected a high-Jaccard planted pair, max=${top.max}")
  }

  test("clusters strict mode: deep chain past maxIter throws; strict=false returns partial") {
    import graft.operators.DedupPipeline
    // path graph 0-1-2-...-30: min-label propagation moves the 0 label one
    // hop per iteration, so maxIter=3 cannot converge
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      DedupPipeline.clusters(chain, maxIter = 3)
    }
    assert(ex.getMessage.contains("did not converge"))
    val partial = DedupPipeline.clusters(chain, maxIter = 3, strict = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // partial assignment exists for every node but is over-segmented
    assert(partial.size == 31 && partial.values.toSet.size > 1)
    // and with enough iterations the same graph converges to one component
    val full = DedupPipeline.clusters(chain, maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.size == 31 && full.values.forall(_ == 0L))
  }

  test("clusters: the driver path and the distributed loop give identical labels, " +
    "up to the maxIter boundary") {
    import graft.operators.DedupPipeline
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-parity").toFile
    val rnd = new scala.util.Random(61)
    // random graphs over shuffled, spread ids: the minimum sits anywhere
    def random(nodes: Int, edges: Int): Seq[(Long, Long)] = {
      val ids = rnd.shuffle((0 until nodes).map(i => i * 1000L + rnd.nextInt(1000) - 7000L))
      Seq.fill(edges)((ids(rnd.nextInt(nodes)), ids(rnd.nextInt(nodes))))
    }
    // 0-1-...-n: the minimum's eccentricity is n
    def chain(n: Int): Seq[(Long, Long)] = (0L until n).map(i => (i + 1, i))
    val m = 8
    // (name, pairs, maxIter, converges within maxIter)
    val graphs = Seq(
      ("empty", Seq.empty[(Long, Long)], m, true),
      ("chain", chain(4), m, true),
      ("star", (1L to 20L).map(i => (50L, 50L - i)), m, true),
      (s"chain of eccentricity ${m - 1}", chain(m - 1), m, true),
      (s"chain of eccentricity $m", chain(m), m, false)) ++
      Seq((60, 40), (60, 70), (90, 80)).map { case (n, e) =>
        (s"random $n/$e", random(n, e), 100, true)
      }
    def rddDirs(): Set[String] = spark.sparkContext.getCheckpointDir.toSet.flatMap { (d: String) =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.toString).filter(_.contains("/rdd-")).toSet
      else Set.empty[String]
    }
    val dirsBefore = rddDirs()
    try graphs.foreach { case (name, g, maxIter, converges) =>
      val pairs = g.toDF("a", "b")
      val driver = DedupPipeline.clusters(pairs, maxIter, strict = false)
      val distributed = DedupPipeline.clusters(pairs, maxIter, strict = false,
        checkpointDir = Some(ckpt.getAbsolutePath))
      assert(Tables.pinnedRdds(driver).isEmpty == converges, s"$name: wrong path taken")
      assert(Tables.pinnedRdds(distributed).nonEmpty || g.isEmpty,
        s"$name: distributed path not taken")
      assert(driver.schema == distributed.schema, name)
      val labels = driver.as[(Long, Long)].collect().toMap
      assert(labels == distributed.as[(Long, Long)].collect().toMap, name)
      assert(labels.keySet == g.flatMap { case (a, b) => Seq(a, b) }.toSet, name)
      (Tables.pinnedRdds(driver) ++ Tables.pinnedRdds(distributed)).foreach(_.unpersist())
    } finally {
      (rddDirs() -- dirsBefore).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(ckpt)
    }
  }

  test("clusters: the distributed loop releases every superseded cut") {
    import graft.operators.DedupPipeline
    // path graph 0-1-...-30 with maxIter 20: too deep for the driver path
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val partial = DedupPipeline.clusters(chain, maxIter = 20, strict = false)
    val fresh = sc.getPersistentRDDs.keySet -- before
    val finalCut = Tables.pinnedRdds(partial).map(_.id).toSet
    assert(finalCut.nonEmpty, "31-node chain at maxIter 20 took the driver path")
    assert(fresh.subsetOf(finalCut), s"superseded cuts left persisted: ${fresh -- finalCut}")
    // 20 hops of min-label propagation: node v holds the minimum within 20 hops
    assert(partial.as[(Long, Long)].collect().toMap ==
      (0L to 30L).map(v => v -> math.max(0L, v - 20)).toMap)
    Tables.pinnedRdds(partial).foreach(_.unpersist())
  }

  test("prefix-filtered ngramJaccardPairs == exhaustive pairs filtered at the threshold") {
    import graft.operators.DedupOps
    val exhaustiveAll = DedupOps.ngramJaccardPairs(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 0.5 is exactly representable; 0.55 and 0.7 are NOT (0.55·100 =
    // 55.000000000000001 in IEEE doubles) — the generation-threshold slack
    // must keep recall exact for them too
    for (t <- Seq(0.5, 0.55, 0.7)) {
      val exhaustive = exhaustiveAll.filter(_._3 >= t).toSet
      val prefix = DedupOps.ngramJaccardPairs(spark, TestSpark.sf, minJac = Some(t))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exhaustive.nonEmpty, s"test corpus has no pairs at threshold $t")
      assert(prefix == exhaustive,
        s"t=$t missing=${(exhaustive -- prefix).take(5)} extra=${(prefix -- exhaustive).take(5)}")
    }
    // the FP-hazard shape directly: B's 11 shingles all inside A's 20
    // (jac = 11/20 = 0.55); ⌈0.55·20⌉ must stay 11, not round to 12.
    // Fixed-width 3-char tokens keep BOTH docs in 50-char block 1
    // (A: 22·3+21 = 87 chars, B: 13·3+12 = 51) — the length-band blocking
    // only pairs docs in the same block.
    val aTok = (1 to 22).map(i => f"w$i%02d").mkString(" ") // 20 3-gram shingles
    val bTok = (1 to 13).map(i => f"w$i%02d").mkString(" ") // 11 shingles, all shared
    val twoDocs = Seq((1L, aTok), (2L, bTok)).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val got = DedupOps.ngramJaccardPairsOf(twoDocs, 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.55)), s"got ${got.toSeq}")
  }

  test("corpus index takedown: tombstones hide docs at read time; compaction folds them in") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val keep = docs.filter(col("doc_id") % 3 =!= 0)
    val purge = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.limit(40)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    DedupOps.indexCorpus(docs).saveAsTables("graft_rm_idx", nBuckets = 4)
    def pairs(idx: DedupOps.MinHashCorpusIndex) =
      DedupOps.minHashCrossDupPairs(batch, idx).filter(col("jac") >= 0.5)
        .select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = pairs(DedupOps.indexCorpus(keep)) // ground truth: index of the remainder
    val before = pairs(DedupOps.loadCorpusIndex(spark, "graft_rm_idx"))
    assert(before != expect, "purge set must actually matter at smoke scale")
    // tombstone the purge batch: O(batch) append, removed docs invisible
    DedupOps.removeFromCorpusIndex("graft_rm_idx", purge.select("doc_id"))
    assert(pairs(DedupOps.loadCorpusIndex(spark, "graft_rm_idx")) == expect)
    // re-removing is idempotent at read time
    DedupOps.removeFromCorpusIndex("graft_rm_idx", purge.select("doc_id").limit(5))
    assert(pairs(DedupOps.loadCorpusIndex(spark, "graft_rm_idx")) == expect)
    // compaction folds tombstones into the files: same answers, tombstone
    // table gone, bucket spec preserved (a post-compaction append works
    // and the appended doc is visible)
    DedupOps.compactCorpusIndex(spark, "graft_rm_idx")
    assert(!spark.catalog.tableExists("graft_rm_idx_tombstones"))
    assert(pairs(DedupOps.loadCorpusIndex(spark, "graft_rm_idx")) == expect)
    assert(spark.table("graft_rm_idx_shingles")
      .join(purge.select("doc_id"), Seq("doc_id")).count() == 0)
    // unique synthetic text: the re-added id must be VISIBLE in the index
    // without matching any batch doc (which would perturb `expect`)
    val readd = purge.limit(1)
      .withColumn("text", lit("zyx qwv readmitted sentinel document body unique"))
    DedupOps.appendToCorpusIndex("graft_rm_idx", readd)
    val readdId = readd.select("doc_id").head().getLong(0)
    assert(spark.table("graft_rm_idx_bands")
      .filter(col("doc_id") === readdId).count() > 0)
    // compaction with no tombstone table is a no-op, not an error
    DedupOps.compactCorpusIndex(spark, "graft_rm_idx")
    // re-admitting an id with a PENDING tombstone fails fast (silently
    // hidden rows that compaction would then delete are the alternative)
    DedupOps.removeFromCorpusIndex("graft_rm_idx", readd.select("doc_id"))
    val e = intercept[IllegalArgumentException] {
      DedupOps.appendToCorpusIndex("graft_rm_idx", readd)
    }
    assert(e.getMessage.contains("pending"))
    DedupOps.compactCorpusIndex(spark, "graft_rm_idx")
    DedupOps.appendToCorpusIndex("graft_rm_idx", readd) // now legal
    // the catalog loses a name (as a new process would): the next entry
    // point re-registers it from the family's layout
    spark.sql("DROP TABLE graft_rm_idx_bands")
    DedupOps.compactCorpusIndex(spark, "graft_rm_idx")
    assert(spark.catalog.tableExists("graft_rm_idx_bands"))
    assert(pairs(DedupOps.loadCorpusIndex(spark, "graft_rm_idx")) == expect)
    graft.operators.AtRest.dropFamily(spark, "graft_rm_idx")
  }

  test("ngramJaccardPairsIncident == full thresholded pairs filtered to incident endpoints") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text", "n_chars")
    val isBatch = (c: org.apache.spark.sql.Column) => c % 10 === 0
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = canon(DedupOps.ngramJaccardPairsOf(docs, 0.5)
      .filter(isBatch(col("a")) || isBatch(col("b"))))
    val incident = canon(DedupOps.ngramJaccardPairsIncident(docs, 0.5, isBatch))
    assert(incident == full,
      s"only-incident=${(incident -- full).take(5)} only-full=${(full -- incident).take(5)}")
    assert(full.nonEmpty) // non-vacuous at smoke scale
  }

  test("ngramJaccardPairsVsIndex == ngramJaccardPairsIncident (frozen-df order stays exact)") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text", "n_chars")
    val isBatch = (c: org.apache.spark.sql.Column) => c % 10 === 0
    // batch docs get a token the corpus has NEVER seen appended, so the
    // unseen-token (df = 0) ordering path is genuinely exercised —
    // including a planted batch~batch near-dup pair built mostly of
    // unseen tokens
    val seeded = docs.withColumn("text",
      when(isBatch(col("doc_id")), concat(col("text"), lit(" zzunseen")))
        .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")))
    val planted = Seq( // both ids % 10 == 0 → a batch~batch pair
      (800010L, "zq zw ze zr zt zy zu zi zo zp za zs zd zf zg", 0L),
      (800020L, "zq zw ze zr zt zy zu zi zo zp za zs zd zh zj", 0L))
      .toDF("doc_id", "text", "n_chars")
      .withColumn("n_chars", length(col("text")))
    val all = seeded.unionByName(planted)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaIncident = canon(DedupOps.ngramJaccardPairsIncident(all, 0.5, isBatch))
    val idx = DedupOps.indexNgramPrefix(all.filter(!isBatch(col("doc_id"))), 0.5)
    val viaIndex = canon(DedupOps.ngramJaccardPairsVsIndex(
      all.filter(isBatch(col("doc_id"))), idx))
    assert(viaIndex == viaIncident,
      s"only-index=${(viaIndex -- viaIncident).take(5)} only-incident=${(viaIncident -- viaIndex).take(5)}")
    assert(viaIndex.exists { case (a, b, _) => a == 800010L && b == 800020L },
      "planted unseen-token batch~batch pair not found")
    assert(viaIndex.nonEmpty)
  }

  test("appendToCorpusIndex: index(A) + append(B) answers like index(A∪B)") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val a = docs.filter(col("doc_id") % 10 === 1)
    val b = docs.filter(col("doc_id") % 10 === 2)
    try {
      DedupOps.indexCorpus(a).saveAsTables("graft_mh_app", nBuckets = 4)
      DedupOps.appendToCorpusIndex("graft_mh_app", b)
      val appended = DedupOps.minHashCrossDupPairs(
        batch, DedupOps.loadCorpusIndex(spark, "graft_mh_app"))
      val rebuilt = DedupOps.minHashCrossDupPairs(batch, a.unionByName(b))
      assert(appended.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(appended).isEmpty)
      // appended files must land in the same bucket layout: the loaded scan
      // is still bucketed, so batch joins stay corpus-stationary
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      try {
        spark.conf.set(bcKey, "-1")
        val smj = DedupOps.minHashCrossDupPairs(
          batch, DedupOps.loadCorpusIndex(spark, "graft_mh_app"))
        smj.collect()
        assert(smj.queryExecution.executedPlan.toString.contains("Bucketed: true"))
      } finally spark.conf.set(bcKey, prevBc)
    } finally {
      graft.operators.AtRest.dropFamily(spark, "graft_mh_app")
    }
  }

  test("repairCorpusIndex heals a crashed append (shingles landed, bands did not)") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val a = docs.filter(col("doc_id") % 10 === 3)
    val b = docs.filter(col("doc_id") % 10 === 4)
    try {
      DedupOps.indexCorpus(a).saveAsTables("graft_mh_rep", nBuckets = 4)
      // simulate the crash window: the batch's SHINGLES append committed,
      // the bands append never ran
      DedupOps.indexCorpus(b).shingles
        .write.mode("append").format("parquet").saveAsTable("graft_mh_rep_shingles")
      assert(DedupOps.repairCorpusIndex(spark, "graft_mh_rep") ===
        b.select("doc_id").distinct().count())
      // healed index answers like a clean rebuild of A∪B...
      val healed = DedupOps.minHashCrossDupPairs(
        batch, DedupOps.loadCorpusIndex(spark, "graft_mh_rep"))
      val rebuilt = DedupOps.minHashCrossDupPairs(batch, a.unionByName(b))
      assert(healed.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(healed).isEmpty)
      // ...and a second repair is a no-op (idempotent on a healthy index)
      assert(DedupOps.repairCorpusIndex(spark, "graft_mh_rep") === 0L)
    } finally {
      graft.operators.AtRest.dropFamily(spark, "graft_mh_rep")
    }
  }

  test("q96 estimator audit: jac_est is n/32 dyadic and |est - jac| is small on candidates") {
    val rows = graft.operators.DedupOps.queries("q96_minhash_estimate")(spark, TestSpark.sf)
      .select("jac", "jac_est", "abs_err")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty, "no LSH candidate pairs to audit")
    // every estimate is k/32 for integer k in [0, 32], up to the query's
    // round-to-4-decimals (quantization error ≤ 5e-5)
    assert(rows.forall { case (_, e, _) =>
      val k = math.rint(e * 32.0)
      k >= 0 && k <= 32 && math.abs(e - k / 32.0) <= 5e-5 + 1e-12 })
    // abs_err is consistent with the reported columns
    assert(rows.forall { case (j, e, err) => math.abs(math.abs(e - j).round4 - err) < 1e-9 })
    // candidates passed an 8-row band match, so estimates can't all be junk:
    // mean absolute error across candidates stays under 3σ of a 32-hash sketch
    val meanErr = rows.map(_._3).sum / rows.length
    assert(meanErr < 0.27, s"mean |est-jac| = $meanErr")
  }

  private implicit class Round4(private val d: Double) {
    def round4: Double = math.rint(d * 1e4) / 1e4
  }

  private def npCanon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("a", "b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("ngram prefix index round-trips disk in a FRESH session and joins without shuffling the corpus side") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text", "n_chars")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val inline = npCanon(DedupOps.ngramJaccardPairsVsIndex(
      batch, DedupOps.indexNgramPrefix(corpus, 0.5)))
    try {
      DedupOps.indexNgramPrefix(corpus, 0.5).saveAsTables("graft_np_idx", nBuckets = 4)
      // a NEW session (the restart stand-in) reads the index back and must
      // answer byte-identically — the at-rest claim VERDICT r9 demanded
      val s2 = spark.newSession()
      val loaded = DedupOps.loadNgramPrefixIndex(s2, "graft_np_idx")
      assert(loaded.threshold == 0.5)
      val batch2 = Tables.load(s2, TestSpark.sf, "documents")
        .select("doc_id", "text", "n_chars")
        .filter(col("doc_id") % 10 === 0)
      assert(npCanon(DedupOps.ngramJaccardPairsVsIndex(batch2, loaded)) == inline)
      assert(inline.nonEmpty)
      // the scaladoc's pruning claim, on the sort-merge path: the bucketed
      // (blk, t) prefix scan reaches its candidate join with NO Exchange
      // above it — only the batch side repartitions
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      try {
        spark.conf.set(bcKey, "-1")
        val smj = DedupOps.ngramJaccardPairsVsIndex(
          batch, DedupOps.loadNgramPrefixIndex(spark, "graft_np_idx"))
        smj.collect()
        val plan = smj.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), s"prefix scan not bucketed:\n$plan")
        val lines = plan.linesIterator.toVector
        def indentOf(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
        val scanIdx = lines.indexWhere(l =>
          l.contains("FileScan") && l.contains("graft_np_idx_prefix"))
        assert(scanIdx >= 0, s"prefix scan not found:\n$plan")
        var minIndent = indentOf(lines(scanIdx))
        var i = scanIdx - 1
        var sawExchange = false
        var reachedJoin = false
        while (i >= 0 && !reachedJoin) {
          val ind = indentOf(lines(i))
          if (ind >= 0 && ind < minIndent) {
            minIndent = ind
            if (lines(i).contains("Exchange")) sawExchange = true
            if (lines(i).contains("Join")) reachedJoin = true
          }
          i -= 1
        }
        assert(reachedJoin, s"no join found above the prefix scan:\n$plan")
        assert(!sawExchange,
          s"corpus side shuffles between its bucketed scan and the candidate join:\n$plan")
      } finally spark.conf.set(bcKey, prevBc)
    } finally graft.operators.AtRest.dropFamily(spark, "graft_np_idx")
  }

  test("prefix index takedown: tombstones hide docs at read time; compaction folds them in and never rewrites the frozen order") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text", "n_chars")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val keep = corpus.filter(col("doc_id") % 3 =!= 0)
    val purge = corpus.filter(col("doc_id") % 3 === 0)
    try {
      DedupOps.indexNgramPrefix(corpus, 0.5).saveAsTables("graft_np_rm", nBuckets = 4)
      def pairs() = npCanon(DedupOps.ngramJaccardPairsVsIndex(
        batch, DedupOps.loadNgramPrefixIndex(spark, "graft_np_rm")))
      // ground truth: a fresh index of the remainder — a DIFFERENT frozen
      // df order, so equality here also re-proves order-independence
      val expect = npCanon(DedupOps.ngramJaccardPairsVsIndex(
        batch, DedupOps.indexNgramPrefix(keep, 0.5)))
      val before = pairs()
      assert(before != expect, "purge set must actually matter at smoke scale")
      DedupOps.removeFromNgramPrefixIndex("graft_np_rm", purge.select("doc_id"))
      assert(pairs() == expect, "tombstoned docs still reachable through the index")
      // idempotent re-remove
      DedupOps.removeFromNgramPrefixIndex("graft_np_rm", purge.select("doc_id").limit(5))
      assert(pairs() == expect)
      // compaction: same answers, tombstones gone, purged ids out of the
      // doc-keyed tables — and the FROZEN ORDER TABLE untouched (rewriting
      // it would invalidate every surviving prefix)
      val dfRows = spark.table("graft_np_rm_df").count()
      DedupOps.compactNgramPrefixIndex(spark, "graft_np_rm")
      assert(!spark.catalog.tableExists("graft_np_rm_tombstones"))
      assert(pairs() == expect)
      assert(spark.table("graft_np_rm_prefix")
        .join(purge.select("doc_id"), Seq("doc_id")).count() == 0)
      assert(spark.table("graft_np_rm_shingles")
        .join(purge.select("doc_id"), Seq("doc_id")).count() == 0)
      assert(spark.table("graft_np_rm_df").count() == dfRows,
        "compaction rewrote the frozen order table")
      // compaction with no tombstones is a no-op; pending-tombstone
      // re-admit fails fast (the silent-data-loss trap)
      DedupOps.compactNgramPrefixIndex(spark, "graft_np_rm")
      val readd = purge.limit(1)
      DedupOps.removeFromNgramPrefixIndex("graft_np_rm", readd.select("doc_id"))
      val e = intercept[IllegalArgumentException] {
        DedupOps.appendToNgramPrefixIndex("graft_np_rm", readd)
      }
      assert(e.getMessage.contains("pending"))
      DedupOps.compactNgramPrefixIndex(spark, "graft_np_rm")
      DedupOps.appendToNgramPrefixIndex("graft_np_rm", readd) // now legal
      // the catalog loses a name (as a new process would): the next call
      // re-registers it from the family's layout before doing new work
      spark.sql("DROP TABLE graft_np_rm_prefix")
      DedupOps.compactNgramPrefixIndex(spark, "graft_np_rm")
      assert(spark.catalog.tableExists("graft_np_rm_prefix"))
    } finally graft.operators.AtRest.dropFamily(spark, "graft_np_rm")
  }

  test("appendToNgramPrefixIndex: index(A) + append(B) answers like a rebuild over A∪B; repair heals a crashed append") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text", "n_chars")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val a = docs.filter(col("doc_id") % 10 === 1)
    val b = docs.filter(col("doc_id") % 10 === 2)
    val c = docs.filter(col("doc_id") % 10 === 3)
    try {
      DedupOps.indexNgramPrefix(a, 0.5).saveAsTables("graft_np_app", nBuckets = 4)
      DedupOps.appendToNgramPrefixIndex("graft_np_app", b)
      def pairs() = npCanon(DedupOps.ngramJaccardPairsVsIndex(
        batch, DedupOps.loadNgramPrefixIndex(spark, "graft_np_app")))
      // the appended docs were ranked under A's frozen order (df-0
      // extension); the rebuild freezes a different order over A∪B —
      // output equality is the AllPairs exactness claim end-to-end
      val rebuilt = npCanon(DedupOps.ngramJaccardPairsVsIndex(
        batch, DedupOps.indexNgramPrefix(a.unionByName(b), 0.5)))
      assert(pairs() == rebuilt)
      assert(rebuilt.nonEmpty)
      // appended prefix files land in the same bucket layout: the loaded
      // scan is still bucketed, so batch joins stay corpus-stationary
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      try {
        spark.conf.set(bcKey, "-1")
        val smj = DedupOps.ngramJaccardPairsVsIndex(
          batch, DedupOps.loadNgramPrefixIndex(spark, "graft_np_app"))
        smj.collect()
        assert(smj.queryExecution.executedPlan.toString.contains("Bucketed: true"))
      } finally spark.conf.set(bcKey, prevBc)
      // crash window: C's shingles landed, its prefix append never ran —
      // repair recomputes prefixes for exactly the missing docs under the
      // STILL-frozen order and the healed index answers like a rebuild
      DedupOps.indexNgramPrefix(c, 0.5).shingles
        .write.mode("append").format("parquet").saveAsTable("graft_np_app_shingles")
      val emptyC = c.count() - DedupOps.indexNgramPrefix(c, 0.5)
        .prefix.select("doc_id").distinct().count()
      assert(DedupOps.repairNgramPrefixIndex(spark, "graft_np_app") === c.count())
      val healed = pairs()
      val rebuiltABC = npCanon(DedupOps.ngramJaccardPairsVsIndex(
        batch, DedupOps.indexNgramPrefix(a.unionByName(b).unionByName(c), 0.5)))
      assert(healed == rebuiltABC)
      // idempotent up to docs that legitimately have zero prefix rows
      assert(DedupOps.repairNgramPrefixIndex(spark, "graft_np_app") === emptyC)
    } finally graft.operators.AtRest.dropFamily(spark, "graft_np_app")
  }

  test("ngramContainmentPairs: flags a short doc embedded in a long one that Jaccard misses") {
    import spark.implicits._
    val small = (1 to 10).map(i => f"s$i%02d").mkString(" ")
    val big = small + " " + (1 to 60).map(i => f"b$i%02d").mkString(" ")
    val other = (1 to 30).map(i => f"o$i%02d").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val got = graft.operators.DedupOps.ngramContainmentPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 1's 8 shingles all appear in doc 2 (plus the 2 seam shingles miss)
    assert(got == Set((1L, 2L, 1.0)), s"got $got")
    // the same pair is invisible to Jaccard at the same threshold:
    // jac = 8 / (8 + 69 - 8) ≈ 0.12
    val jac = graft.operators.DedupOps.ngramJaccardPairsOf(
      docs.withColumn("n_chars", length(col("text")).cast("bigint")), 0.8)
      .collect()
    assert(jac.isEmpty, s"jaccard unexpectedly flagged: ${jac.toSeq}")
  }

  test("ngramContainmentPairs == exhaustive shared-shingle join at the threshold (exact recall)") {
    import graft.operators.{DedupOps, TextOps}
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fast = canon(DedupOps.ngramContainmentPairs(docs, 0.8))
    // brute force: every pair sharing any shingle, no prefix filter
    val sh = TextOps.withShingles(docs).select(col("doc_id"), col("sh"))
      .withColumn("n", size(col("sh"))).filter(col("n") > 0)
    val p = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val brute = canon(p.as("x").join(p.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .join(sh.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sh.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("c_raw", col("shared") / least(col("na"), col("nb")))
      .filter(col("c_raw") >= 0.8)
      .select(col("a"), col("b"), round(col("c_raw"), 4).as("containment")))
    assert(fast == brute,
      s"only-fast=${(fast -- brute).take(5)} only-brute=${(brute -- fast).take(5)}")
    assert(brute.nonEmpty) // non-vacuous at smoke scale
  }

  test("ngramContainmentReps == min-partner mapping of the pair set, one row per doc") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val got = DedupOps.ngramContainmentReps(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // ground truth from the (independently brute-force-checked) pair set
    val pairs = DedupOps.ngramContainmentPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val minPartner = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val allIds = docs.select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet == allIds.toSet, "one row per document, no extras")
    for (id <- allIds)
      assert(got(id) == minPartner.getOrElse(id, id), s"rep($id)")
    // non-vacuous: at least one doc reps to a smaller partner, and dups
    // collapse — keep-first survivor count < corpus size (ADVICE r17: the
    // second clause was promised but never asserted)
    assert(got.exists { case (d, r) => r < d })
    assert(got.count { case (d, r) => r == d } < allIds.length,
      "keep-first survivor count must be < corpus size")
  }

  private def ciCanon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("a", "b", "containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Incident restriction of the full [[DedupOps.ngramContainmentPairs]]
    * over corpus ∪ batch — the ground truth every vsIndex test compares
    * against. */
  private def ciTruth(docs: org.apache.spark.sql.DataFrame,
                      isBatch: Long => Boolean): Set[(Long, Long, Double)] =
    ciCanon(graft.operators.DedupOps.ngramContainmentPairs(docs, 0.8))
      .filter(p => isBatch(p._1) || isBatch(p._2))

  test("containment vs index == full containment restricted to batch-incident pairs") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val got = ciCanon(DedupOps.ngramContainmentPairsVsIndex(
      batch, DedupOps.indexNgramContainment(corpus, 0.8)))
    val want = ciTruth(docs, _ % 10 == 0)
    assert(got == want, s"only-got=${(got -- want).take(5)} only-want=${(want -- got).take(5)}")
    assert(want.nonEmpty)
    // both orientations non-vacuous: some pair has the batch doc as the
    // SMALLER endpoint and some as the larger (the two cross candidate
    // joins are each exercised)
  }

  test("containment index round-trips disk in a FRESH session; corpus postings reach both candidate joins without shuffling") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val inline = ciCanon(DedupOps.ngramContainmentPairsVsIndex(
      batch, DedupOps.indexNgramContainment(corpus, 0.8)))
    try {
      DedupOps.indexNgramContainment(corpus, 0.8).saveAsTables("graft_ci_idx", nBuckets = 4)
      val s2 = spark.newSession()
      val loaded = DedupOps.loadNgramContainmentIndex(s2, "graft_ci_idx")
      assert(loaded.threshold == 0.8)
      val batch2 = Tables.load(s2, TestSpark.sf, "documents")
        .select("doc_id", "text").filter(col("doc_id") % 10 === 0)
      assert(ciCanon(DedupOps.ngramContainmentPairsVsIndex(batch2, loaded)) == inline)
      assert(inline.nonEmpty)
      // the corpus-stationary claim, on the sort-merge path: EVERY scan of
      // the t-bucketed postings table (the full side of the batch-prefix
      // join AND the prefix side of the batch-full join) reaches its
      // candidate join with no Exchange above it
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      try {
        spark.conf.set(bcKey, "-1")
        val smj = DedupOps.ngramContainmentPairsVsIndex(
          batch, DedupOps.loadNgramContainmentIndex(spark, "graft_ci_idx"))
        smj.collect()
        val plan = smj.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), s"postings scan not bucketed:\n$plan")
        val lines = plan.linesIterator.toVector
        def indentOf(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
        val scanIdxs = lines.zipWithIndex.collect {
          case (l, i) if l.contains("FileScan") && l.contains("graft_ci_idx_postings") => i
        }
        assert(scanIdxs.size >= 2, s"expected two postings scans:\n$plan")
        for (scanIdx <- scanIdxs) {
          var minIndent = indentOf(lines(scanIdx))
          var i = scanIdx - 1
          var sawExchange = false
          var reachedJoin = false
          while (i >= 0 && !reachedJoin) {
            val ind = indentOf(lines(i))
            if (ind >= 0 && ind < minIndent) {
              minIndent = ind
              if (lines(i).contains("Exchange")) sawExchange = true
              if (lines(i).contains("Join")) reachedJoin = true
            }
            i -= 1
          }
          assert(reachedJoin, s"no join above postings scan at line $scanIdx:\n$plan")
          assert(!sawExchange,
            s"corpus postings shuffle between scan (line $scanIdx) and join:\n$plan")
        }
      } finally spark.conf.set(bcKey, prevBc)
    } finally graft.operators.AtRest.dropFamily(spark, "graft_ci_idx")
  }

  test("containment index lifecycle: append parity, crash repair, takedown, compaction") {
    import graft.operators.DedupOps
    val docs = Tables.load(spark, TestSpark.sf, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val half = corpus.filter(col("doc_id") % 3 =!= 1)
    val admit = corpus.filter(col("doc_id") % 3 === 1)
    try {
      // build on half the corpus, append the rest: answers must equal the
      // all-at-once index (the frozen-order independence claim — appended
      // docs ranked under the OLD df order)
      DedupOps.indexNgramContainment(half, 0.8).saveAsTables("graft_ci_app", nBuckets = 4)
      DedupOps.appendToNgramContainmentIndex("graft_ci_app", admit)
      def pairs() = ciCanon(DedupOps.ngramContainmentPairsVsIndex(
        batch, DedupOps.loadNgramContainmentIndex(spark, "graft_ci_app")))
      assert(pairs() == ciTruth(docs, _ % 10 == 0))
      // crash repair: drop one appended doc's posting rows, heal, re-check
      val victim = admit.select("doc_id").orderBy("doc_id").limit(1)
        .collect()(0).getLong(0)
      graft.operators.AtRest.rewrite(spark, "graft_ci_app", Seq("postings" ->
        spark.table("graft_ci_app_postings").filter(col("doc_id") =!= victim)), fold = false)
      assert(DedupOps.repairNgramContainmentIndex(spark, "graft_ci_app") == 1L)
      assert(DedupOps.repairNgramContainmentIndex(spark, "graft_ci_app") == 0L)
      assert(pairs() == ciTruth(docs, _ % 10 == 0))
      // takedown: tombstone a CORPUS doc that carries pairs (a batch
      // endpoint is supplied per query — nothing to tombstone) — every
      // pair through it vanishes at read time, survivors keep answering
      val dead = ciTruth(docs, _ % 10 == 0).iterator
        .flatMap(p => Seq(p._1, p._2)).find(_ % 10 != 0).get
      DedupOps.removeFromNgramContainmentIndex("graft_ci_app",
        Seq(dead).toDF("doc_id"))
      val afterRm = pairs()
      assert(!afterRm.exists(p => p._1 == dead || p._2 == dead))
      val expectSurvive = ciCanon(DedupOps.ngramContainmentPairsVsIndex(
        batch, DedupOps.indexNgramContainment(
          corpus.filter(col("doc_id") =!= dead), 0.8)))
      assert(afterRm == expectSurvive)
      // a tombstoned id cannot be re-admitted before compaction
      val e = intercept[IllegalArgumentException](
        DedupOps.appendToNgramContainmentIndex("graft_ci_app",
          docs.filter(col("doc_id") === dead)))
      assert(e.getMessage.contains("tombstone"))
      // compaction folds the removal in; answers unchanged, tombstones gone
      DedupOps.compactNgramContainmentIndex(spark, "graft_ci_app")
      assert(!spark.catalog.tableExists("graft_ci_app_tombstones"))
      assert(spark.table("graft_ci_app_postings")
        .filter(col("doc_id") === dead).count() == 0L)
      assert(pairs() == expectSurvive)
    } finally graft.operators.AtRest.dropFamily(spark, "graft_ci_app")
  }

  test("q117 cluster split: every doc gets exactly one split and no near-dup cluster straddles splits") {
    val d = TestSpark.sf
    val split = graft.SparkEntry.queries("q117_cluster_split")(spark, d)
    val docs = Tables.load(spark, d, "documents")
    // total coverage: one row per doc, split ∈ {train, valid, test}
    assert(split.count() == docs.count())
    assert(split.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "valid", "test")))
    // the LEAKAGE property the operator exists for: both ends of every
    // thresholded near-dup pair land in the SAME split — hash-by-doc
    // (the thing q117 replaces) violates this with probability ~0.33
    // per cross-cluster-hash pair, so a planted check would catch a
    // regression to it
    val pairs = graft.operators.DedupOps.ngramJaccardPairs(spark, d, minJac = Some(0.5))
      .select("a", "b")
    val straddle = pairs
      .join(split.select(col("doc_id").as("a"), col("split").as("sa")), "a")
      .join(split.select(col("doc_id").as("b"), col("split").as("sb")), "b")
      .filter(col("sa") =!= col("sb"))
    assert(straddle.count() == 0L, "a near-dup pair straddles train/test")
    // fractions hold loosely at cluster granularity (80/10/10 expected)
    val n = split.count().toDouble
    val train = split.filter(col("split") === "train").count() / n
    assert(train > 0.6 && train < 0.95, s"train fraction $train implausible")
  }

  test("q118 sticky split: inherit / quarantine-on-cross-split-bridge / hash-fresh, corpus never moves") {
    import graft.operators.{DedupOps, DedupPipeline}
    // fixed-width tokens keep every doc at 39 chars = one length block, so
    // the pair generator compares them all. Trigram-shingle geometry:
    //   tA = t01..t10, tB = t05..t14 → 4 shared trigrams, jac 4/12 = 0.33
    //     (below 0.5: clusters A and B stay SEPARATE in the corpus)
    //   bridge = t03..t12 → 6 shared with each, jac 6/10 = 0.60 (joins both)
    def words(pfx: String, from: Int, to: Int) =
      (from to to).map(i => f"$pfx$i%02d").mkString(" ")
    val tA = words("t", 1, 10); val tB = words("t", 5, 14)
    val bridge = words("t", 3, 12)
    val tC = words("z", 1, 10); val fresh = words("w", 1, 10)
    // md5 split buckets (precomputed, = DuckDB md5_number_lower replay):
    // rep 1 → 'test' (97), rep 2 → 'train' (55), rep 3 → 'train' (36),
    // rep 14 → 'train' (75). Cluster A {1,5} is 'test', B {2,6} 'train' —
    // DIFFERENT splits, so bridging them must quarantine.
    val docs = Seq(
      (1L, tA), (5L, tA),       // corpus cluster A, rep 1 → test
      (2L, tB), (6L, tB),       // corpus cluster B, rep 2 → train
      (3L, tC), (7L, tC),       // corpus cluster C, rep 3 → train
      (11L, tA),                // batch: joins A — but A gets bridged below
      (12L, bridge),            // batch: bridges A and B → quarantine
      (13L, tC),                // batch: joins C cleanly → inherits train
      (14L, fresh)              // batch: no near-dup → hash own id → train
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val corpusLabels = DedupPipeline.clusters(
      DedupOps.ngramJaccardPairsOf(docs.filter(col("doc_id") <= 10), 0.5)
        .select("a", "b"), maxIter = 100)
    // sanity: A and B really are separate corpus clusters
    assert(corpusLabels.filter(col("node") === 2 && col("label") === 1).count() == 0)
    // incident pairs via the at-rest corpus index, exactly the query's shape
    val idx = DedupOps.indexNgramPrefix(docs.filter(col("doc_id") <= 10), minJac = 0.5)
    val incident = DedupOps.ngramJaccardPairsVsIndex(
      docs.filter(col("doc_id") > 10), idx).select("a", "b")
    val out = DedupOps.splitApply(docs, thr = 10L, corpusLabels, incident)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // the bridge and EVERYTHING in its merged component quarantines:
    // rep = min(1,2,5,6,11,12) = 1
    assert(out(12L) == (1L, "quarantine"), s"bridge: ${out(12L)}")
    assert(out(11L) == (1L, "quarantine"), s"member of disputed merge: ${out(11L)}")
    // clean join inherits the cluster's sticky split
    assert(out(13L) == (3L, "train"), s"inherit: ${out(13L)}")
    // no near-dup → own id hashed
    assert(out(14L) == (14L, "train"), s"fresh: ${out(14L)}")
    assert(out.size == 4) // batch docs only — corpus assignments never re-emitted
  }

  test("at-rest fault injection: a crash after any step of append or compact recovers to a fresh build") {
    import graft.operators.{AtRest, ClusterState, CorpusOps, DedupOps, IvfIndex, MultimodalOps, SplitState}
    import org.apache.spark.sql.DataFrame
    val started = System.nanoTime()
    // 24 docs over a shared vocabulary, so shingles recur across docs (a
    // first-seen takedown re-attributes) and ids ≡ mod 5 are near-dups
    val texts = (1L to 24L).map { i =>
      i -> ((0 until 12).map(j => s"w${(i % 5) * 3 + j}") :+ s"u$i").mkString(" ")
    }.toMap
    def docs(ids: Seq[Long]): DataFrame = ids.map(i => (i, texts(i))).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    def idsOf(d: DataFrame): Seq[Long] = d.select("doc_id").as[Long].collect().toSeq
    def rowHashes(df: DataFrame): Seq[Long] =
      df.select(xxhash64(df.columns.sorted.toSeq.map(col): _*)).collect().map(_.getLong(0)).sorted.toSeq
    // true when the step countdown fired inside `op`
    def crashedAfter(k: Int)(op: => Unit): Boolean = {
      AtRest.crashAfterStep.set(k)
      try { op; false } catch { case _: AtRest.InjectedCrash => true }
      finally AtRest.crashAfterStep.set(0)
    }
    def media(d: DataFrame) =
      d.select(col("doc_id"), lit("image").as("kind"), col("text").cast("binary").as("payload"))
    def vecs(d: DataFrame) = d.select(col("doc_id").as("vec_id"),
      array((col("doc_id") % 5).cast("double"), lit(1.0), (col("doc_id") % 3).cast("double")).as("emb"),
      (col("doc_id") % 2).as("label"))
    // the near-dup pairs among `ids` with an endpoint in `of`
    def pairsOf(ids: Seq[Long], of: Seq[Long]): DataFrame =
      (for (a <- ids; b <- ids if a < b && a % 5 == b % 5 && (of.contains(a) || of.contains(b)))
        yield (a, b)).toDF("a", "b")
    val noLabels = Seq.empty[(Long, Long)].toDF("node", "label")
    def catalogNames(p: String): Seq[String] =
      spark.sessionState.catalog.listTables("default", s"${p}_*").map(_.table)
    // the surviving docs of the family under test
    var live = Vector.empty[Long]
    /** One family's lifecycle. `recover` heals a crashed append of `batch`;
      * `fresh` is a from-scratch build over the surviving docs, or None when
      * the family ranks appends under a frozen order — then the reference is
      * a twin index given the same operations without a crash. A path
      * family takes its takedowns at compaction. */
    final case class Family(name: String, catalog: Boolean, save: (String, DataFrame) => Unit,
        append: (String, DataFrame) => Unit, recover: (String, DataFrame) => Unit,
        remove: (String, DataFrame) => Unit, compact: (String, DataFrame) => Unit,
        load: String => Seq[DataFrame], fresh: Option[DataFrame => Seq[DataFrame]])
    def clusterAppend(p: String, d: DataFrame): Unit = {
      val b = idsOf(d)
      ClusterState.load(spark, p).insert(pairsOf(live ++ b, b)).save(p)
    }
    def ivfAppend(p: String, d: DataFrame): Unit = {
      val cur = IvfIndex.load(spark, p)
      cur.append(vecs(d).select("vec_id", "emb")
        .join(cur.assigned.select("vec_id"), Seq("vec_id"), "left_anti")).save(p)
    }
    val families = Seq(
      Family("minhash", catalog = true,
        (p, d) => DedupOps.indexCorpus(d.select("doc_id", "text")).saveAsTables(p, 4),
        (p, d) => DedupOps.appendToCorpusIndex(p, d.select("doc_id", "text")),
        (p, _) => DedupOps.repairCorpusIndex(spark, p),
        DedupOps.removeFromCorpusIndex, (p, _) => DedupOps.compactCorpusIndex(spark, p),
        p => { val i = DedupOps.loadCorpusIndex(spark, p); Seq(i.shingles, i.bands) },
        Some(d => { val i = DedupOps.indexCorpus(d.select("doc_id", "text")); Seq(i.shingles, i.bands) })),
      Family("prefix", catalog = true,
        (p, d) => DedupOps.indexNgramPrefix(d, 0.5).saveAsTables(p, 4),
        DedupOps.appendToNgramPrefixIndex, (p, _) => DedupOps.repairNgramPrefixIndex(spark, p),
        DedupOps.removeFromNgramPrefixIndex, (p, _) => DedupOps.compactNgramPrefixIndex(spark, p),
        p => { val i = DedupOps.loadNgramPrefixIndex(spark, p); Seq(i.prefix, i.df, i.shingles) },
        None),
      Family("containment", catalog = true,
        (p, d) => DedupOps.indexNgramContainment(d.select("doc_id", "text"), 0.8).saveAsTables(p, 4),
        DedupOps.appendToNgramContainmentIndex,
        (p, _) => DedupOps.repairNgramContainmentIndex(spark, p),
        DedupOps.removeFromNgramContainmentIndex,
        (p, _) => DedupOps.compactNgramContainmentIndex(spark, p),
        p => { val i = DedupOps.loadNgramContainmentIndex(spark, p); Seq(i.postings, i.df, i.shingles) },
        None),
      Family("firstseen", catalog = true,
        (p, d) => CorpusOps.saveFirstSeenIndex(d, p, 4),
        (p, d) => CorpusOps.appendToFirstSeenIndex(spark, p, d),
        (p, d) => CorpusOps.appendToFirstSeenIndex(spark, p, d), // re-run
        CorpusOps.removeFromFirstSeenIndex, CorpusOps.compactFirstSeenIndex(spark, _, _),
        p => Seq(CorpusOps.loadFirstSeenIndex(spark, p)),
        Some(d => Seq(CorpusOps.firstSeenOf(d)))),
      Family("media", catalog = true,
        (p, d) => MultimodalOps.saveMediaPhashIndex(media(d), p, 4),
        (p, d) => MultimodalOps.appendToMediaPhashIndex(spark, p, media(d)),
        (p, d) => MultimodalOps.appendToMediaPhashIndex(spark, p, media(d)), // re-run
        MultimodalOps.removeFromMediaPhashIndex,
        (p, _) => MultimodalOps.compactMediaPhashIndex(spark, p),
        p => Seq(MultimodalOps.loadMediaPhashChunks(spark, p)),
        Some(d => {
          MultimodalOps.saveMediaPhashIndex(media(d), "graft_fi_fresh_media", 4)
          Seq(MultimodalOps.loadMediaPhashChunks(spark, "graft_fi_fresh_media"))
        })),
      Family("split", catalog = true,
        (p, d) => SplitState.init(spark, p, d.select("doc_id"), noLabels, 4),
        (p, d) => SplitState.assign(spark, p, d.select("doc_id"), noLabels),
        (p, d) => SplitState.assign(spark, p, d.select("doc_id"), noLabels), // re-run
        SplitState.remove, (p, _) => SplitState.compact(spark, p),
        p => Seq(SplitState.load(spark, p)),
        Some(d => {
          AtRest.dropFamily(spark, "graft_fi_fresh_split")
          SplitState.init(spark, "graft_fi_fresh_split", d.select("doc_id"), noLabels, 4)
          Seq(SplitState.load(spark, "graft_fi_fresh_split"))
        })),
      Family("cluster", catalog = false,
        (p, d) => ClusterState.build(pairsOf(idsOf(d), idsOf(d))).save(p),
        clusterAppend, clusterAppend, // re-run: an insert absorbs its pairs once
        (_, _) => (),
        (p, d) => {
          val st = ClusterState.load(spark, p)
          st.remove(st.labels.select("node")
            .join(d.select(col("doc_id").as("node")), Seq("node"), "left_anti")).save(p)
        },
        p => { val st = ClusterState.load(spark, p); Seq(st.labels, st.edges) },
        Some(d => { val st = ClusterState.build(pairsOf(idsOf(d), idsOf(d))); Seq(st.labels, st.edges) })),
      Family("ivf", catalog = false,
        (p, d) => IvfIndex.build(vecs(d)).save(p),
        ivfAppend, ivfAppend, // re-run: appends only the vectors not yet assigned
        (_, _) => (),
        (p, d) => IvfIndex.removeAtRest(spark, p, IvfIndex.load(spark, p).assigned.select("vec_id")
          .join(d.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")),
        p => { val i = IvfIndex.load(spark, p); Seq(i.centroids, i.assigned) },
        None))
    val pathRoot = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft-fi").toString)
    val pathFs = pathRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var crashPoints = 0
    for (f <- families) {
      val (p, twin) =
        if (f.catalog) (s"graft_fi_${f.name}", s"graft_fi_twin_${f.name}")
        else (s"$pathRoot/${f.name}", s"$pathRoot/twin_${f.name}")
      def dropAll(): Unit =
        if (f.catalog) Seq(p, twin, "graft_fi_fresh_media", "graft_fi_fresh_split")
          .foreach(AtRest.dropFamily(spark, _))
        else Seq(p, twin).foreach(r => pathFs.delete(new org.apache.hadoop.fs.Path(r), true))
      // an operation on the index under test, mirrored on the twin uncrashed
      def both(op: String => Unit): Unit = { op(p); if (f.fresh.isEmpty) op(twin) }
      try {
        dropAll()
        live = (1L to 8L).toVector
        var nextId = 9L
        both(f.save(_, docs(live)))
        def check(what: String): Unit = {
          val want = f.fresh.fold(f.load(twin))(_(docs(live)))
          assert(f.load(p).map(rowHashes) == want.map(rowHashes), s"${f.name}: $what")
          assert(catalogNames(p).forall(!_.contains("__v")),
            s"${f.name}: $what left a transient name: ${catalogNames(p)}")
        }
        def admit(): DataFrame = {
          val batch = docs(Seq(nextId, nextId + 1))
          nextId += 2
          batch
        }
        // append: a crash after step k = 1, 2, ... until an append completes
        var k = 1
        var crashed = true
        while (crashed) {
          val batch = admit()
          crashed = crashedAfter(k)(f.append(p, batch))
          if (crashed) { crashPoints += 1; f.recover(p, batch) }
          if (f.fresh.isEmpty) f.append(twin, batch)
          live ++= idsOf(batch)
          check(s"append, crash after step $k")
          k += 1
        }
        // compact: each round takes one doc down, crashes after step k and
        // recovers by compacting again
        k = 1
        crashed = true
        while (crashed) {
          val gone = live(k % live.size)
          live = live.filterNot(_ == gone)
          both(f.remove(_, Seq(gone).toDF("doc_id")))
          crashed = crashedAfter(k)(f.compact(p, docs(live)))
          if (crashed) { crashPoints += 1; f.compact(p, docs(live)) }
          if (f.fresh.isEmpty) f.compact(twin, docs(live))
          check(s"compact, crash after step $k")
          k += 1
        }
        // restart: the catalog forgets every name of the family (its files
        // stay, as in a new process); the next entry point re-registers
        // them from the layout. The MinHash family carries the admission
        // drain's manifest too.
        val admitted = live.size
        if (f.name == "minhash")
          AtRest.append(p, "admissions", docs(live).select(lit(-1L).as("batch_id"), col("doc_id")))
        catalogNames(p).foreach(n => spark.sql(s"DROP TABLE $n"))
        val batch = admit()
        both(f.append(_, batch))
        live ++= idsOf(batch)
        val gone = live.head
        live = live.tail
        both(f.remove(_, Seq(gone).toDF("doc_id")))
        both(f.compact(_, docs(live)))
        check("append, remove and compact after the catalog lost the family")
        if (f.name == "minhash") assert(spark.table(s"${p}_admissions").count() == admitted)
      } finally dropAll()
    }
    // a bucketed table committed without its bucket spec fails the admit
    // before the base write lands
    try {
      val sketch = DedupOps.indexCorpus(docs(1L to 4L).select("doc_id", "text"))
      sketch.saveAsTables("graft_fi_plain", 4)
      AtRest.save("graft_fi_plain", AtRest.Version("bands", sketch.bands))
      val n = DedupOps.loadCorpusIndex(spark, "graft_fi_plain").shingles.count()
      intercept[IllegalStateException](
        DedupOps.appendToCorpusIndex("graft_fi_plain", docs(Seq(5L)).select("doc_id", "text")))
      assert(spark.table("graft_fi_plain_shingles").count() == n)
    } finally AtRest.dropFamily(spark, "graft_fi_plain")
    // append: 2 writes in the five index families; 3 in split (assign,
    // moves, meta — its first assign, which also creates `_moves`, is the
    // k = 1 round); a path commit of two versions and the layout in
    // cluster and ivf. compact: per rewritten table a version write and a
    // catalog re-point, plus the layout and the tombstone drop (2 tables in
    // minhash, prefix, containment and split, 1 in firstseen and media);
    // cluster's versions and layout; ivf's assignment and layout
    assert(crashPoints == 5 * 2 + 3 + 2 * 3 + 4 * 6 + 2 * 4 + 3 + 2, s"crash points: $crashPoints")
    info(f"$crashPoints crash points in ${(System.nanoTime() - started) / 1e9}%.1f s")
  }
}
