package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SimilarityOps

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def cos(a: Seq[Double], b: Seq[Double]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(SimilarityOps.cosine(col("a"), col("b")).as("c"))
      .as[Double].head()

  test("cosine: identical vectors → 1") {
    assert(math.abs(cos(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)) - 1.0) < 1e-12)
  }

  test("cosine: orthogonal vectors → 0") {
    assert(math.abs(cos(Seq(1.0, 0.0), Seq(0.0, 5.0))) < 1e-12)
  }

  test("cosine: opposite vectors → -1") {
    assert(math.abs(cos(Seq(1.0, 1.0), Seq(-2.0, -2.0)) + 1.0) < 1e-12)
  }

  test("cosine: scale-invariant") {
    val v1 = Seq(0.3, -0.7, 0.2, 0.9)
    val v2 = Seq(0.1, 0.4, -0.5, 0.2)
    assert(math.abs(cos(v1, v2) - cos(v1.map(_ * 100), v2.map(_ * 0.01))) < 1e-12)
  }

  test("brute-force KNN: neighbors are sorted by similarity, self excluded") {
    val out = graft.operators.SimilarityOps.queries("q60_knn_brute")(spark, TestSpark.sf)
      .select("q_id", "rank", "n_id", "sim")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4).sliding(2).forall { case Array(x, y) => x >= y; case _ => true },
        s"neighbors of $q not sorted by sim")
      assert(!rows.exists(_._3 == q), s"query $q returned itself")
    }
  }

  test("ANN-LSH results are a subset-quality approximation of brute force") {
    val brute = graft.operators.SimilarityOps.queries("q60_knn_brute")(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ann = graft.operators.SimilarityOps.queries("q61_ann_lsh")(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(ann.nonEmpty, "LSH returned no candidates")
    // sanity only: LSH pairs must reference valid query ids
    assert(ann.forall(_._1 < 10))
  }

  test("IVF recall: 1.0 at full probe width, monotone in nprobe") {
    import graft.operators.SimilarityOps
    val brute = SimilarityOps.queries("q60_knn_brute")(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val nCells = Tables.load(spark, TestSpark.sf, "embeddings")
      .select("label").distinct().count().toInt
    def recall(nprobe: Int): Double = {
      val ann = SimilarityOps.ivfTopK(spark, TestSpark.sf, nprobe)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      ann.intersect(brute).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val rMid = recall(math.max(1, nCells / 2))
    val rFull = recall(nCells)
    // probing every cell degrades to exact search: recall must be exactly 1
    assert(rFull == 1.0, s"full-probe IVF recall $rFull != 1.0")
    assert(r1 <= rMid + 1e-9 && rMid <= rFull + 1e-9,
      s"recall not monotone in nprobe: $r1, $rMid, $rFull")
    // NOTE: test embeddings are isotropic gaussians — the worst case for
    // sublinear ANN — so no high-recall assertion at small nprobe; q67
    // reports the honest measurement and is oracle-checked.
  }

  test("NearestCell == the window-over-broadcast-join assignment it replaced, incl. degenerate rows") {
    import org.apache.spark.sql.expressions.Window
    // corpus with planted degenerates: a zero vector (NaN cosine against
    // every centroid), a null-element vector and a wrong-length vector
    // (NULL cosine) — each must land where the old (cdist DESC, cell ASC)
    // row_number put it (smallest cell id)
    val base = (1 to 40).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 31 + j * 7).abs + (if ((i + j) % 3 == 0) -0.9 else 0.1)))
    }
    val degenerate = Seq(
      (90L, Seq.fill(8)(0.0)),
      (92L, Seq.fill(5)(1.0))) // wrong length
    val vecs = (base ++ degenerate).toDF("vec_id", "emb")
      .unionByName(Seq((91L, Seq[Option[Double]](Some(1.0), None, Some(1.0), Some(1.0), Some(1.0), Some(1.0), Some(1.0), Some(1.0))))
        .toDF("vec_id", "emb"))
    val centroids = Seq(
      (3L, Seq.tabulate(8)(j => math.cos(j * 5).abs)),
      (7L, Seq.tabulate(8)(j => -math.cos(j * 3))),
      (11L, Seq.tabulate(8)(j => math.sin(j * 11)))).toDF("cell", "centroid")
    val cents = centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val fused = vecs.select(col("vec_id"),
        graft.plans.NearestCell.cellFor(col("emb"), cents).as("cell"))
      .as[(Long, Long)].collect().toMap
    val w = Window.partitionBy("vec_id").orderBy(col("cdist").desc, col("cell"))
    val legacy = vecs.join(broadcast(centroids))
      .withColumn("cdist", SimilarityOps.cosine(col("emb"), col("centroid")))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") === 1)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(fused == legacy, s"divergence: ${fused.toSet -- legacy.toSet}")
    assert(fused(90L) == 3L && fused(91L) == 3L && fused(92L) == 3L,
      s"degenerates not in smallest cell: ${fused.view.filterKeys(_ >= 90).toMap}")
  }

  test("IvfIndex save/load round-trips and reproduces the inline search") {
    import graft.operators.IvfIndex
    val v = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val queries = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val idx = IvfIndex.build(v)
    val direct = idx.search(queries, k = 5, nprobe = 3)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    idx.save(root)
    val reloaded = IvfIndex.load(spark, root).search(queries, k = 5, nprobe = 3)
    assert(direct.exceptAll(reloaded).isEmpty && reloaded.exceptAll(direct).isEmpty)
    // the declared q65 runs through the same API
    val q65 = SimilarityOps.queries("q65_ann_ivf")(spark, TestSpark.sf)
    assert(q65.exceptAll(direct).isEmpty && direct.exceptAll(q65).isEmpty)
  }

  test("IvfIndex.append: rebuild parity, frozen corpus rows, drift telemetry") {
    import graft.operators.IvfIndex
    val v = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val corpus = v.filter(col("vec_id") % 10 =!= 0)
    val batch = v.filter(col("vec_id") % 10 === 0)
    val base = IvfIndex.build(corpus)
    val appended = base.append(batch)
    // corpus rows are untouched — append must not move anything already in
    val before = base.assigned.select("vec_id", "cell")
    val after = appended.assigned
      .join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id", "cell")
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty)
    // rebuild parity: batch rows land exactly where assigning the union
    // against the SAME centroids would put them (no centroid drift)
    val rebuilt = IvfIndex(base.centroids,
      IvfIndex.assignTo(v.select("vec_id", "emb"), base.centroids))
    assert(appended.assigned.select("vec_id", "cell")
      .exceptAll(rebuilt.assigned.select("vec_id", "cell")).isEmpty)
    // occupancy accounts for every row, corpus and batch alike
    val k = appended.centroids.count().toInt
    assert(appended.occupancy.agg(sum("n_vectors")).head().getLong(0) == v.count())
    // drift telemetry: imbalance is defined, >= 1, and stable under append
    // of a distribution-matched batch (same generator → no blow-up)
    val f0 = base.imbalanceFactor
    val f1 = appended.imbalanceFactor
    assert(f0 >= 1.0 && f1 >= 1.0, s"imbalance must be >= 1: $f0, $f1")
    assert(f1 < f0 * 2, s"matched-distribution append doubled imbalance: $f0 -> $f1")
    // save/load round-trips the appended index
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    appended.save(root)
    val reloaded = IvfIndex.load(spark, root)
    assert(reloaded.assigned.count() == v.count() && reloaded.centroids.count() == k)
  }

  test("IvfIndex.remove: purged vectors never surface; survivors' results are untouched") {
    import graft.operators.IvfIndex
    val v = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val queries = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val purge = v.filter(col("vec_id") % 7 === 0).select("vec_id")
    val idx = IvfIndex.build(v)
    val after = idx.remove(purge)
    // exactly the purge set is gone from the assignment
    assert(after.assigned.join(purge, Seq("vec_id")).count() == 0)
    assert(after.assigned.count() == v.count() - purge.count())
    // centroids frozen: surviving assignments bit-identical
    assert(after.assigned.exceptAll(
      idx.assigned.join(purge, Seq("vec_id"), "left_anti")).isEmpty)
    // search parity: removing vectors ≡ never having indexed them (same
    // frozen centroids), and no purged id appears in any result
    val res = after.search(queries, k = 5, nprobe = 3)
    assert(res.join(purge.select(col("vec_id").as("n_id")), Seq("n_id")).count() == 0)
    val ghost = IvfIndex(idx.centroids,
      IvfIndex.assignTo(v.join(purge, Seq("vec_id"), "left_anti")
        .select("vec_id", "emb"), idx.centroids))
    val ref = ghost.search(queries, k = 5, nprobe = 3)
    assert(res.exceptAll(ref).isEmpty && ref.exceptAll(res).isEmpty)
    // removing an unknown id is a no-op
    import spark.implicits._
    val noop = after.remove(Seq(999999L).toDF("vec_id"))
    assert(noop.assigned.count() == after.assigned.count())
  }

  test("IvfIndex.removeAtRest: a purge of a SAVED index commits a version that a fresh session serves") {
    import graft.operators.IvfIndex
    import spark.implicits._
    val v = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-rm").toString
    IvfIndex.build(v).save(root)
    val purge = v.filter(col("vec_id") % 7 === 0).select("vec_id")
      .localCheckpoint(true)
    IvfIndex.removeAtRest(spark, root, purge)
    // a FRESH session serves no purged vector at any probe width
    val s2 = spark.newSession()
    val reloaded = IvfIndex.load(s2, root)
    assert(reloaded.assigned.join(purge, Seq("vec_id")).count() == 0)
    val queries = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val nCells = reloaded.centroids.count().toInt
    val res = reloaded.search(queries, k = 5, nprobe = nCells)
    assert(res.join(purge.select(col("vec_id").as("n_id")), Seq("n_id")).count() == 0)
  }

  test("IvfIndex.refine recovers true clusters from scrambled seeds") {
    import graft.operators.IvfIndex
    // three tight clusters around orthogonal axes in 8-dim; 30% of the
    // seed labels are CORRUPTED (the realistic poor-seed case — fully
    // random seeds collapse to one near-mean centroid each, a k-means
    // local optimum no refinement escapes)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 90).map { i =>
      val trueCluster = i / 30
      val base = Array.fill(8)(0.0)
      base(trueCluster) = 1.0
      val emb = base.map(_ + rnd.nextGaussian() * 0.05).toSeq
      val label = if (rnd.nextDouble() < 0.3) rnd.nextInt(3) else trueCluster
      (i.toLong, emb, label)
    }
    val vecs = rows.toDF("vec_id", "emb", "label")
    def objective(idx: IvfIndex): Double =
      idx.assigned.join(idx.centroids, "cell")
        .select(avg(SimilarityOps.cosine(col("emb"), col("centroid"))))
        .as[Double].head()
    val seeded = IvfIndex.build(vecs)
    val refined = IvfIndex.refine(seeded, 5)
    assert(objective(refined) >= objective(seeded) - 1e-9,
      "Lloyd refinement decreased the assignment objective")
    // with well-separated clusters, refinement must reach purity 1: every
    // cell contains vectors of exactly one true cluster
    val purity = refined.assigned
      .withColumn("true_cluster", (col("vec_id") / 30).cast("int"))
      .groupBy("cell").agg(count_distinct(col("true_cluster")).as("k"))
      .agg(max("k")).as[Long].head()
    assert(purity == 1L, s"a refined cell still mixes $purity true clusters")
  }

  test("q67 recall measurement is consistent with its inputs") {
    import graft.operators.SimilarityOps
    val out = SimilarityOps.queries("q67_ann_recall")(spark, TestSpark.sf)
      .select("method", "recall").as[(String, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, r) => r >= 0.0 && r <= 1.0 })
    assert(out.map(_._1).toSet == Set("lsh", "ivf"))
  }

  test("IvfIndex.build(k): k = sqrt(n) keeps within-cell pair work sublinear vs fixed k") {
    import graft.operators.IvfIndex
    // synthetic isotropic corpus (the ANN worst case): deterministic seed
    val rnd = new scala.util.Random(1234)
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "emb")
    def pairWork(idx: IvfIndex): (Long, Long) = {
      val sizes = idx.assigned.groupBy("cell").count().select("count").as[Long].collect()
      (sizes.map(m => m * (m - 1) / 2).sum, sizes.max)
    }
    val small = corpus(1000).cache()
    val big = corpus(4000).cache()
    val kSmall = math.ceil(math.sqrt(1000.0)).toInt  // 32
    val kBig = math.ceil(math.sqrt(4000.0)).toInt    // 64
    val (pSmall, _) = pairWork(IvfIndex.build(small, kSmall))
    val (pBigAdaptive, maxCell) = pairWork(IvfIndex.build(big, kBig))
    val (pBigFixed, _) = pairWork(IvfIndex.build(big, kSmall))
    // fixed k: pairs grow ~n^2 (16x); adaptive k = sqrt(n): ~n^1.5 (8x)
    assert(pBigAdaptive < pBigFixed,
      s"k=sqrt(n) ($pBigAdaptive pairs) not below fixed k ($pBigFixed pairs)")
    val growth = pBigAdaptive.toDouble / pSmall
    assert(growth < 13.0,
      s"within-cell pairs grew ${growth}x for 4x corpus — expected ~8x with k = sqrt(n)")
    // no degenerate mega-cell: farthest-point seeds spread over the sphere
    assert(maxCell < 4000 / 4, s"largest cell holds $maxCell of 4000 vectors")
    small.unpersist(); big.unpersist()
  }

  test("buildHierarchical: k >= 4096 cells with O(sqrt(k)) driver seeding") {
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(4242)
    val n = 20000
    val dim = 8
    val corpus = (0 until n)
      .map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "emb").cache()
    val k = 4096
    // driver-side greedy work: flat seeding touches k seeds on one core;
    // hierarchical touches only ceil(sqrt(k)) = 64 before fanning out to
    // executors. Time the SEEDING (centroid construction), not the corpus
    // assignment both paths share.
    val t0 = System.nanoTime()
    val idx = IvfIndex.buildHierarchical(corpus, k)
    val centroids = idx.centroids.collect()
    val seedSec = (System.nanoTime() - t0) / 1e9
    // exactly k distinct, well-formed centroids
    assert(centroids.length == k, s"expected $k cells, got ${centroids.length}")
    assert(centroids.map(_.getLong(0)).toSet.size == k, "cell ids not distinct")
    assert(centroids.forall(_.getSeq[Double](1).length == dim))
    // distinct seed VECTORS — the greedy traversal must not emit repeats
    assert(centroids.map(_.getSeq[Double](1)).toSet.size == k,
      "duplicate seed vectors emitted")
    // every corpus vector lands in exactly one cell
    assert(idx.assigned.count() == n)
    assert(idx.assigned.select("vec_id").distinct().count() == n)
    // no degenerate mega-cell: sub-seeded cells stay balanced
    val maxCell = idx.assigned.groupBy("cell").count()
      .agg(max("count")).as[Long].head()
    assert(maxCell < n / 16, s"largest of $k cells holds $maxCell of $n vectors")
    // the flat greedy loop at this k would be O(sample*k*dim) on one driver
    // core; the hierarchical path must finish its whole build well inside
    // any such budget (loose wall bound so CI noise can't flake it, but
    // tight enough to catch an accidental O(k) driver regression)
    assert(seedSec < 120.0, s"hierarchical seeding took $seedSec s")
    // build(vecs, k) dispatches to the hierarchical path above the
    // threshold — same cell count, no exception from the flat require
    val viaBuild = IvfIndex.build(corpus, IvfIndex.hierarchicalThreshold + 1)
    assert(viaBuild.centroids.count() == IvfIndex.hierarchicalThreshold + 1)
    corpus.unpersist()
  }

  test("hierarchical seeding preserves search recall vs the flat build") {
    // Structure specs (cell counts, balance, dispatch) can't catch seed
    // QUALITY silently degrading — e.g. a sub-seeding bug that clumps seeds
    // would keep every structural invariant while recall collapses. Same
    // corpus, same k, same nprobe: recall@5 of a hierarchical build must
    // track the flat build against exact brute-force ground truth.
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(1717)
    val n = 4000
    val dim = 8
    val vecs = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
    val corpus = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
      .toDF("vec_id", "emb").cache()
    val k = 64
    val nprobe = 8
    // select queries BY ID (limit has no ordering contract) so the driver
    // ground truth below is keyed to the same vectors
    val queries = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    // exact ground truth on the driver — 4000x20 cosines, trivially sized;
    // the query vector itself is EXCLUDED (search never returns self, so a
    // truth set containing it would deflate both recalls by 0.2 and shrink
    // the comparison to 4 actionable slots)
    val exact: Map[Long, Set[Long]] = (0 until 20).map { q =>
      q.toLong -> vecs.indices.filter(_ != q)
        .sortBy(i => (-cos(vecs(q), vecs(i)), i))
        .take(5).map(_.toLong).toSet
    }.toMap
    def recall(idx: IvfIndex): Double = {
      val got = idx.search(queries, k = 5, nprobe = nprobe)
        .select("q_id", "n_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).count(truth).toDouble / truth.size
      }.sum / exact.size
    }
    val flat = recall(IvfIndex.build(corpus, k))
    val hier = recall(IvfIndex.buildHierarchical(corpus, k))
    assert(hier >= flat - 0.1,
      s"hierarchical recall@5 $hier fell below flat build $flat by > 0.1")
    corpus.unpersist()
  }

  test("buildHierarchical: distributed threshold sample on a large corpus") {
    // n > 2·max(sampleSize, 4·k) exercises the hash-cut sampling branch —
    // the path with NO global-limit task — which the other hierarchical
    // specs never reach (their corpora fit the small-corpus passthrough)
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(5150)
    val n = 40000
    val corpus = (0 until n)
      .map(i => (i.toLong, Seq.fill(4)(rnd.nextGaussian())))
      .toDF("vec_id", "emb").cache()
    val k = 64 // s = max(4096, 256) = 4096; 2s = 8192 < 40000 -> threshold cut
    val idx = IvfIndex.buildHierarchical(corpus, k)
    assert(idx.centroids.count() == k)
    // the sample is only for seeding: EVERY corpus vector is still assigned
    assert(idx.assigned.count() == n)
    assert(idx.assigned.select("vec_id").distinct().count() == n)
    corpus.unpersist()
  }

  test("semanticDedup flags a planted duplicate pair under default k") {
    import graft.operators.SimilarityOps
    val v = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val maxId = v.agg(max("vec_id")).as[Long].head()
    val clone = v.filter(col("vec_id") === 3)
      .select((col("vec_id") + maxId + 1).as("vec_id"), col("emb"))
    val out = SimilarityOps.semanticDedup(v.unionByName(clone), tau = 0.9)
      .filter(col("vec_id") === maxId + 4)
      .collect()
    assert(out.length == 1, "clone missing from the output")
    assert(out.head.getAs[Long]("nn_id") == 3L && out.head.getAs[Long]("is_dup") == 1L,
      s"clone row ${out.head} should point at vec 3 with is_dup=1")
  }

  test("lshAdaptiveBits: integer-exact ceil-log2 of expected bucket count, clamped") {
    // fixed points the oracle's LENGTH(BIN(...)) formula must also hit
    assert(SimilarityOps.lshAdaptiveBits(200) == 4)    // tiny corpus → floor
    assert(SimilarityOps.lshAdaptiveBits(2000) == 5)   // ⌈2000/64⌉=32 → 2^5
    assert(SimilarityOps.lshAdaptiveBits(20000) == 9)  // ⌈/64⌉=313 → 2^9
    assert(SimilarityOps.lshAdaptiveBits(1 << 20) == 12) // clamp at SQL max
    assert(SimilarityOps.lshAdaptiveBits(1L << 40, maxBits = 24) == 24)
    // exact power boundary: m = 32 exactly must give 5, not 6 (the float
    // log2 failure mode this formula exists to avoid)
    assert(SimilarityOps.lshAdaptiveBits(32 * 64) == 5)
    assert(SimilarityOps.lshAdaptiveBits(32 * 64 + 1) == 6)
  }

  test("lshSimilarPairs: adaptive bits keep candidate work linear-ish in corpus size") {
    // 4× the corpus must NOT cost ~16× the candidate pairs (the fixed-bit
    // quadratic signature); adaptive bucketing holds the ratio near 4×.
    // Both sizes sit ABOVE the b=4 clamp floor (n > 64·2⁴) so the bit
    // width actually adapts between them.
    val v = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val n = v.count()
    // per-replica deterministic sign flip (orthogonal transform): replicas
    // are NOT near-duplicates of each other, so added pairs are purely the
    // random-collision noise the bucket sizing is supposed to bound —
    // byte-identical replicas would collide in every table by right
    def times(k: Int) = (0 until k).map { r =>
      val emb = if (r == 0) col("emb") else zip_with(col("emb"),
        transform(sequence(lit(0), size(col("emb")) - 1),
          i => when(pmod(xxhash64(lit(r), i), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0))),
        (x, f) => x * f)
      v.select((col("vec_id") + lit(r * n)).as("vec_id"), emb.as("emb"))
    }.reduce(_ unionByName _)
    val small = SimilarityOps.lshSimilarPairs(times(8)).count()
    val big = SimilarityOps.lshSimilarPairs(times(32)).count()
    assert(big.toDouble / small < 8.0,
      s"4x corpus grew candidates ${big.toDouble / small}x (quadratic regime)")
  }

  test("appendOrReseed: drift crosses the imbalance threshold, re-seed restores recall") {
    import graft.operators.IvfIndex
    // Deterministic 2-D angular fixture: four tight clusters at angles
    // 0, π/2, π, 3π/2 (25 vectors each, 0.002 rad spacing).
    def unit(phi: Double): Seq[Double] = Seq(math.cos(phi), math.sin(phi))
    val corpus = (for {
      c <- 0 until 4; i <- 0 until 25
    } yield ((c * 25 + i).toLong, unit(c * math.Pi / 2 + i * 0.002)))
      .toDF("vec_id", "emb")
    val idx0 = IvfIndex.build(corpus, k = 4)
    assert(idx0.imbalanceFactor < 1.15, s"seed build skewed: ${idx0.imbalanceFactor}")

    // A BALANCED batch (one vector per cluster) must not trigger a re-seed.
    val balanced = (0 until 4).map(c => ((200 + c).toLong, unit(c * math.Pi / 2 + 0.05)))
      .toDF("vec_id", "emb")
    val (idx1, reseeded1) = idx0.appendOrReseed(balanced, threshold = 1.2, k = 4)
    assert(!reseeded1, "balanced batch must append without re-seeding")
    assert(idx1.assigned.count() == 104)

    // Drift batch: a 30-vector pile straddling the angular midpoint of the
    // two centroids nearest angles 0 and π/2 — the boundary-straddling
    // failure mode: frozen centroids split the pile across two cells, so
    // an nprobe=1 search from inside the pile can only see its own half.
    val cents = idx1.centroids.select("cell", "centroid")
      .as[(Long, Seq[Double])].collect().toMap
    def ang(v: Seq[Double]): Double = {
      val a = math.atan2(v(1), v(0)); if (a < 0) a + 2 * math.Pi else a
    }
    val a1 = cents.values.map(ang).filter(a => a < 0.3).head
    val a2 = cents.values.map(ang).filter(a => a > 1.3 && a < 1.9).head
    val mid = (a1 + a2) / 2
    // 0.002 rad spacing keeps neighbor similarities distinguishable under
    // search's 6-decimal sim rounding (1 - cos(0.002) ≈ 2e-6)
    val pile = (0 until 30).map(j =>
      ((300 + j).toLong, unit(mid + (j - 14.5) * 0.002))).toDF("vec_id", "emb")

    // Frozen-centroid append: the pile splits across the two cells and the
    // imbalance crosses the threshold...
    val stale = idx1.append(pile)
    assert(stale.imbalanceFactor > 1.2,
      s"drift did not register: ${stale.imbalanceFactor}")
    // ...so the SAME batch through appendOrReseed fires the rebuild
    // (k=5: the pile is now its own cluster and deserves its own cell).
    val (fresh, reseeded2) = idx1.appendOrReseed(pile, threshold = 1.2, k = 5)
    assert(reseeded2, "drift batch must trigger the re-seed")
    assert(fresh.assigned.count() == 134)

    // Recall@5 for queries adjacent to the pile's internal boundary, whose
    // true top-5 mixes both halves. Ground truth = the engine's own search
    // at FULL probe width (exact by construction — every cell probed, same
    // metric and tie-break as the nprobe=1 runs it grades).
    val all = fresh.assigned.select("vec_id", "emb")
      .as[(Long, Seq[Double])].collect().toMap
    val qIds = Seq(313L, 314L, 315L, 316L)
    val queriesDf = qIds.map(q => (q, all(q))).toDF("q_id", "q_emb")
    def top5(ix: IvfIndex, nprobe: Int): Map[Long, Set[Long]] =
      ix.search(queriesDf, k = 5, nprobe = nprobe)
        .select("q_id", "n_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = top5(fresh, nprobe = 5)
    // sanity: boundary queries' true neighbors are pile members
    assert(truth.values.forall(_.forall(id => id >= 300L)), truth.toString)
    def recall(ix: IvfIndex): Double = {
      val got = top5(ix, nprobe = 1)
      qIds.map(q => (truth(q) & got.getOrElse(q, Set.empty)).size / 5.0).sum / qIds.size
    }
    val rStale = recall(stale)
    val rFresh = recall(fresh)
    assert(rFresh == 1.0, s"re-seeded recall = $rFresh")
    assert(rStale < rFresh,
      s"stale recall $rStale not below re-seeded $rFresh — fixture not adversarial")
  }

  test("dot: native DotProduct matches hand-computed sum, nulls, length mismatch") {
    val out = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, -5.0, 6.0)),   // 4 - 10 + 18 = 12
      (Seq(0.5, -0.5), Seq(2.0, 2.0))              // 1 - 1 = 0
    ).toDF("a", "b")
      .select(SimilarityOps.dot(col("a"), col("b")).as("d"))
      .as[Double].collect()
    assert(out.toSeq == Seq(12.0, 0.0), out.toSeq.toString)
    // length mismatch → NULL (DuckDB list_dot_product errors; a truncated
    // finite value would be plausible-but-wrong)
    val mismatch = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
      .select(SimilarityOps.dot(col("a"), col("b")).as("d"))
      .collect().head
    assert(mismatch.isNullAt(0), s"length mismatch gave ${mismatch.get(0)}")
    // NULL element → NULL (not a fabricated 0-contribution)
    val nullElem = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 1.0)))
      .toDF("a", "b")
      .select(SimilarityOps.dot(col("a"), col("b")).as("d"))
      .collect().head
    assert(nullElem.isNullAt(0), s"null element gave ${nullElem.get(0)}")
  }

  test("LshCodes: fused codes match a plain-Scala sign-LSH reference, edge rows → code 0") {
    import graft.plans.LshCodes
    val tables = 4; val bits = 9; val stride = 12; val dim = 8
    val rnd = new scala.util.Random(7)
    val planes = Seq.fill(tables * stride)(Seq.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 50).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    // reference: dot accumulated in index order (the expression's contract),
    // bit i set iff dot(emb, plane(t*stride+i)) >= 0
    def refCodes(emb: Seq[Double]): Seq[Long] =
      (0 until tables).map { t =>
        (0 until bits).map { i =>
          val p = planes(t * stride + i)
          var dot = 0.0
          var k = 0
          while (k < dim) { dot += emb(k) * p(k); k += 1 }
          if (dot >= 0) 1L << i else 0L
        }.sum
      }
    val got = vecs.toDF("vec_id", "emb")
      .select(col("vec_id"),
        LshCodes.codesFor(col("emb"), planes, tables, bits, stride).as("codes"))
      .as[(Long, Seq[Long])].collect().toMap
    vecs.foreach { case (id, emb) =>
      assert(got(id) == refCodes(emb), s"vec $id: ${got(id)} != ${refCodes(emb)}")
    }
    // degenerate rows land in bucket 0 of every table — kept, not dropped
    // (the composed when(dot >= 0, 1).otherwise(0) form's behavior: NULL
    // dot → bit 0; same for the oracle's CASE WHEN ... ELSE 0 END)
    val edge = Seq(
      (0L, Seq.fill(dim)(1.0)),          // control: normal row
      (1L, Seq.fill(dim + 1)(1.0)),      // wrong length
      (2L, null.asInstanceOf[Seq[Double]]) // NULL embedding
    ).toDF("vec_id", "emb")
      .select(col("vec_id"),
        LshCodes.codesFor(col("emb"), planes, tables, bits, stride).as("codes"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(edge.size == 3, s"edge rows dropped: ${edge.keys}")
    assert(edge(1L) == Seq(0L, 0L, 0L, 0L), edge(1L).toString)
    assert(edge(2L) == Seq(0L, 0L, 0L, 0L), edge(2L).toString)
    assert(edge(0L) == refCodes(Seq.fill(dim)(1.0)), edge(0L).toString)
  }
}
