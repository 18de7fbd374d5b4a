package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Persistent IVF (inverted-file) ANN index: build ONCE — centroids plus a
  * cell assignment for every corpus vector — then answer many top-k queries,
  * each touching only ~nprobe/k of the corpus. This is the serving shape:
  * q65 demonstrates the algorithm inline; a real pipeline builds the index
  * nightly, `save`s it next to the corpus, and query jobs `load` it.
  *
  * Cells are seeded from the `label` column (the test corpus's natural
  * clustering) and can be improved with [[IvfIndex.refine]] — spherical
  * k-means Lloyd iterations, each one aggregation + one broadcast-join
  * pass. Refinement changes recall, not the index/search mechanics, so the
  * oracle-checked q65 path runs unrefined.
  *
  * Scale: centroids are k×dim (tiny, always broadcast); `assigned` is one
  * row per corpus vector, partitionable by cell; search is
  * broadcast(queries×nprobe) ⋈ assigned on cell — never a corpus scan per
  * query, never corpus × corpus.
  */
final case class IvfIndex(centroids: DataFrame, assigned: DataFrame) {

  /** Top-k neighbors for each (q_id, q_emb) query row; probes the nprobe
    * nearest cells, exact-cosine re-ranks inside them. Excludes a corpus
    * vector whose vec_id equals the query id (self-match). */
  def search(queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy("q_id").orderBy(col("cdist").desc, col("cell"))
    val probes = queries
      .join(broadcast(centroids))
      .withColumn("cdist", SimilarityOps.cosine(col("q_emb"), col("centroid")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    val wRank = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(SimilarityOps.cosine(col("q_emb"), col("emb")), 6))
      .withColumn("rank", row_number().over(wRank).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** Absorb a batch of new (vec_id, emb) vectors WITHOUT rebuilding: each
    * new vector is assigned to its nearest EXISTING centroid (one broadcast
    * join over the batch — O(batch), the corpus assignment is untouched)
    * and the result is unioned in. Centroids do not move, so search
    * mechanics and every previous assignment stay bit-identical — the
    * nightly-ingest twin of [[graft.operators.DedupPipeline.updateClusters]].
    *
    * The cost of never moving centroids is DRIFT: a batch stream whose
    * distribution shifts piles vectors into few cells, degrading the
    * probe-fraction guarantee (a probe touches ~occupancy/n of the corpus,
    * not ~1/k, when cells are skewed). Monitor [[occupancy]] /
    * [[imbalanceFactor]] and rebuild or [[IvfIndex.refine]] when the factor
    * crosses the pipeline's threshold (2–4 is a common range). */
  def append(newVecs: DataFrame): IvfIndex =
    IvfIndex(centroids,
      assigned.unionByName(IvfIndex.assignTo(newVecs.select("vec_id", "emb"), centroids)))

  /** Drift-aware ingest — the closed loop around [[append]]: absorb the
    * batch against frozen centroids (O(batch)), then check the drift
    * signal; if the post-append [[imbalanceFactor]] exceeds `threshold`,
    * re-seed the WHOLE index from the current corpus via
    * [[IvfIndex.build]](corpus, k) — the periodic O(corpus) maintenance
    * job this trigger schedules, amortized over the many cheap appends
    * between crossings. Returns the new index plus whether a re-seed
    * fired, so the pipeline can log the rebuild and re-baseline its
    * recall QA (q67). Threshold 2–4 is a common production range; the
    * drift failure mode it guards is boundary-straddling batch piles
    * whose frozen-centroid cells break the ~1/k probe-fraction guarantee
    * (see DriftSpec in SimilaritySpec for the measured recall recovery). */
  def appendOrReseed(newVecs: DataFrame, threshold: Double, k: Int): (IvfIndex, Boolean) = {
    // materialize the post-append assignment ONCE: the drift check is an
    // action, and without this a chained ingest loop re-executes the whole
    // prior assignment lineage on every append (O(batches × corpus)); the
    // checkpointed frame is also the at-rest state the caller keeps (the
    // durable equivalent is save/load around each batch)
    val appended = IvfIndex(centroids,
      Tables.pinEager(append(newVecs).assigned))
    if (appended.imbalanceFactor > threshold)
      (IvfIndex.build(appended.assigned.select("vec_id", "emb"), k), true)
    else (appended, false)
  }

  /** TAKEDOWN: drop a batch of vec_ids from the index — the ANN-index
    * member of the deletion triple ([[graft.operators.ClusterState.remove]]
    * for clusters, [[DedupOps.removeFromCorpusIndex]] for the MinHash
    * index). One anti-join over the assignment (the removal batch is
    * takedown-sized; AQE broadcasts it — deliberately un-hinted, same
    * mass-purge policy as the other two); centroids are frozen, so search
    * mechanics and every surviving assignment stay bit-identical, and the
    * removed vectors can never be returned (they are gone from the only
    * table search scans). Like [[append]] drift, heavy deletion can skew
    * occupancy — the same [[imbalanceFactor]] monitoring applies; emptied
    * cells simply stop matching probes. In-session form; a SAVED index is
    * purged through [[IvfIndex.removeAtRest]] (a versioned commit) — the leg
    * the nightly takedown loop drives. */
  def remove(vecIds: DataFrame): IvfIndex =
    IvfIndex(centroids,
      assigned.join(vecIds.select("vec_id"), Seq("vec_id"), "left_anti"))

  /** Per-cell occupancy — the drift signal an appending pipeline watches.
    * One row per NON-EMPTY cell: (cell, n_vectors). */
  def occupancy: DataFrame =
    assigned.groupBy("cell").agg(count(lit(1)).as("n_vectors"))

  /** max/mean cell occupancy (>= 1.0; 1.0 = perfectly balanced). Driver
    * scalar from a one-row aggregate — the re-seed trigger for [[append]]
    * pipelines. */
  def imbalanceFactor: Double = {
    val row = occupancy.agg(
      max(col("n_vectors")).cast("double").as("mx"),
      avg(col("n_vectors")).as("mean")).head()
    if (row.isNullAt(0)) 1.0 else row.getDouble(0) / row.getDouble(1)
  }

  /** Persist both index tables under `root` as one versioned commit
    * ([[AtRest.savePath]]). */
  def save(root: String): Unit =
    AtRest.savePath(centroids.sparkSession, root, "centroids" -> centroids, "assigned" -> assigned)
}

object IvfIndex {

  /** Per-key element-wise mean centroids of (keyCol, emb) rows — ONE
    * definition shared by [[build]] and q64_label_centroids (posexplode →
    * per-position avg → ordered re-assembly; any change here must keep
    * oracle parity for both). */
  private[operators] def centroidsOf(vecs: DataFrame, keyCol: String, outKey: String): DataFrame =
    vecs
      .select(col(keyCol).as(outKey), posexplode(col("emb")).as(Seq("pos", "x")))
      .groupBy(outKey, "pos")
      .agg(avg("x").as("cx"))
      .groupBy(outKey)
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .withColumn("centroid", expr("transform(pairs, p -> p.cx)"))
      .select(outKey, "centroid")

  /** Nearest-centroid cell for every (vec_id, emb) row (ties broken on the
    * smaller cell id). One broadcast join — centroids are always tiny.
    * Graft-visible as [[assignTo]] for [[IvfIndex.append]]. */
  private[graft] def assignTo(vecs: DataFrame, centroids: DataFrame): DataFrame =
    assign(vecs, centroids)

  private def assign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    // r15: the previous shape — broadcast-join all k centroids onto every
    // vector, then row_number over a per-vector window — MATERIALIZED AND
    // SHUFFLED n×k rows (sf10 record: 2M vectors × ~2000 cells = 4×10⁹
    // rows, q102 at 302 s). The argmax is per-row arithmetic: collect the
    // k×dim matrix to the driver (bounded by construction — the exact
    // budget the broadcast already assumed) and fuse it into ONE narrow
    // map pass via the native NearestCell expression, which replicates
    // the window's (cdist DESC, cell ASC) ordering bit-for-bit. n rows
    // in, n rows out, zero shuffle.
    val cents = centroids
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect()
      .map { r =>
        require(!r.isNullAt(1), s"null centroid vector for cell ${r.getLong(0)}")
        // element-level guard (ADVICE r15): a null ELEMENT would unbox to
        // 0.0 silently — the replaced broadcast-join path propagated SQL
        // NULL cosine and sorted that centroid last, so fail loudly rather
        // than silently diverge on malformed centroid data
        val raw = r.getSeq[Any](1)
        require(raw.forall(_ != null),
          s"null element in centroid vector for cell ${r.getLong(0)}")
        (r.getLong(0), raw.map(_.asInstanceOf[Double]).toArray)
      }
    // the joined shape carried the centroids' own cell dtype (e.g. the
    // int label column) — preserve it so downstream schemas are unchanged
    val cellType = centroids.schema("cell").dataType
    vecs.select(col("vec_id"), col("emb"),
      graft.plans.NearestCell.cellFor(col("emb"), cents.toSeq)
        .cast(cellType).as("cell"))
  }

  /** Build from a (vec_id, emb, label) corpus: label-seeded centroids
    * (per-position mean) and nearest-centroid cell assignment. Cell count =
    * label cardinality — use the `build(vecs, k)` overload
    * when the corpus has no labels or the label count is the wrong k (a
    * FIXED cell count makes within-cell work O(n²/k); see q83's note). */
  def build(vecs: DataFrame): IvfIndex = {
    val centroids = centroidsOf(vecs, "label", "cell")
    IvfIndex(centroids, assign(vecs.select("vec_id", "emb"), centroids))
  }

  /** Build with an EXPLICIT cell count `k`, seeded k-means++-style from a
    * bounded deterministic sample — the label-free path, and the one that
    * lets the caller scale k with the corpus (k ∝ √n keeps both the probe
    * fan-out and the within-cell candidate work sublinear).
    *
    * Seeding: take `sampleSize` candidates in xxhash64(vec_id) order (a
    * deterministic uniform shuffle — no RNG, so builds are reproducible
    * run-to-run), collect the BOUNDED sample to the driver (k×dim and
    * S×dim are broadcast-sized by construction; the corpus itself never
    * leaves the executors), then greedy farthest-point traversal under
    * angular distance: first seed = first candidate, each next seed
    * maximizes the minimum (1 − cosine) to the seeds chosen so far — the
    * deterministic variant of k-means++ (D² sampling's argmax limit).
    * Farthest-point seeds over-spread relative to random seeding, which is
    * exactly what bounds the largest Voronoi cell. Follow with [[refine]]
    * for Lloyd iterations if cell balance matters more than build cost.
    *
    * Driver-side seeding cost is O(max(sampleSize, k) · k · dim) — fine to
    * k ≈ 5000 (sub-second), tens of seconds by k ≈ 30k (a 10⁹-vector corpus
    * at k = √n). Past `hierarchicalThreshold` this overload dispatches to
    * [[buildHierarchical]], which keeps the driver loop at O(√k) seeds and
    * pushes the rest of the seeding onto executors. */
  def build(vecs: DataFrame, k: Int, sampleSize: Int = 4096): IvfIndex = {
    require(k >= 1, s"cell count must be >= 1; got $k")
    if (k > hierarchicalThreshold) return buildHierarchical(vecs, k, sampleSize)
    val sample = vecs.select(col("vec_id"), col("emb").cast("array<double>").as("emb"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(math.max(sampleSize, k))
      .select("emb")
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"corpus has only ${sample.length} vectors for k=$k cells")
    val seeds = greedySeeds(sample, k)
    val spark = vecs.sparkSession
    import spark.implicits._
    val centroids = seeds.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cell", "centroid")
    IvfIndex(centroids, assign(vecs.select("vec_id", "emb"), broadcast(centroids)))
  }

  /** `build(vecs, k)` switches to hierarchical seeding above this k: the
    * flat greedy loop is O(sample·k·dim) on one driver core — sub-second to
    * here, minutes-plus by k ≈ 30k. */
  val hierarchicalThreshold: Int = 4096

  /** Greedy farthest-point traversal under angular distance: first seed =
    * first candidate, each next seed maximizes the minimum (1 − cosine) to
    * the seeds chosen so far — the deterministic variant of k-means++ (D²
    * sampling's argmax limit). Shared by the driver-side flat path and the
    * executor-side per-cell sub-seeding (it is a plain serializable
    * function, so closures may ship it). */
  private[operators] def greedySeeds(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val seeds = scala.collection.mutable.ArrayBuffer(sample(0))
    // minDist(i) = min angular distance from sample(i) to any chosen seed
    val minDist = sample.map(v => 1.0 - cos(v, seeds(0)))
    while (seeds.length < k) {
      var best = 0; var i = 1
      while (i < sample.length) { if (minDist(i) > minDist(best)) best = i; i += 1 }
      val s = sample(best)
      seeds += s
      i = 0
      while (i < sample.length) {
        val d = 1.0 - cos(sample(i), s)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    seeds.toArray
  }

  /** Hierarchical k-cell seeding — the scale path for large k (a 10⁹-vector
    * corpus at k = √n ≈ 30k cells). Two levels:
    *
    *   1. COARSE: flat greedy seeding of k₁ = ⌈√k⌉ cells from a bounded
    *      driver-side sample — O(√k) driver work instead of O(k).
    *   2. SUB-SEED: assign a k-proportional sample to the coarse cells
    *      (broadcast join, stays distributed), give each coarse cell a
    *      quota proportional to its sample mass (largest-remainder
    *      apportionment, capped at its member count, spare redistributed),
    *      then run the SAME greedy farthest-point per cell ON EXECUTORS via
    *      `flatMapGroups` — k₁ independent loops in parallel, each
    *      O(members · quota · dim).
    *
    * Total driver cost: O(sample·√k·dim) for the coarse pass plus O(k₁)
    * bookkeeping — sub-linear in k; the final seeds (k×dim, broadcast-sized
    * by construction) are the only executor→driver traffic. Deterministic:
    * samples are xxhash64-ordered and per-cell members are re-sorted before
    * seeding, so builds reproduce run-to-run like the flat path.
    *
    * The 4·k shared sample (`max(sampleSize, 4·k)` rows) is taken with a
    * DISTRIBUTED hash-threshold filter, not a global order-by-limit: a
    * global limit funnels its whole result through one task, which would
    * re-grow a linear-in-k single-task frame (≈3 GB at k = 100k,
    * dim = 768) precisely where this path exists to avoid driver-shaped
    * bottlenecks. The threshold cut keeps the sample on executors end to
    * end; only the O(√k) coarse subsample and the k seed vectors
    * (broadcast-sized by definition) ever leave them — so the build holds
    * at k ≈ 100k+ (10¹⁰-vector regime at k = √n). */
  def buildHierarchical(vecs: DataFrame, k: Int, sampleSize: Int = 4096): IvfIndex = {
    require(k >= 2, s"hierarchical seeding needs k >= 2; got $k")
    val spark = vecs.sparkSession
    import spark.implicits._
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    // one deterministic uniform sample, reused by both levels; 4 candidates
    // per requested cell gives every quota headroom without the sample
    // itself approaching corpus size
    val s = math.max(sampleSize, 4 * k)
    val projected = vecs
      .select(col("vec_id"), col("emb").cast("array<double>").as("emb"))
    // DISTRIBUTED threshold sample — not order-by + global limit: Spark
    // funnels a global limit through ONE task, whose frame would grow
    // linearly in k (~3 GB at k = 100k, dim = 768). A deterministic hash
    // cut (keep rows whose xxhash64 bucket falls under ceil(1.25·s/n) of
    // the hash space) is a narrow filter on every partition — no sort, no
    // shuffle, no single-task collect point — and the 25 % headroom puts
    // the binomial sample size below s only with negligible probability
    // (caught by the sampleN require below if the corpus is tiny anyway).
    val total = projected.count()
    val sampleDf = (if (total <= 2L * s) projected
      else {
        val buckets = 1000000L
        val cut = math.min(buckets, math.ceil(buckets * 1.25 * s / total).toLong)
        projected.filter(pmod(xxhash64(col("vec_id")), lit(buckets)) < lit(cut))
      }).persist()
    val sampleN = sampleDf.count()
    require(sampleN >= k, s"corpus has only $sampleN sampled vectors for k=$k cells")
    // level 1: coarse greedy on the driver — k1 seeds only; the order-by +
    // limit here runs over the ALREADY-SAMPLED frame (≈1.25·s rows), so the
    // single-task materialization is bounded by the coarse subsample size
    val coarseSample = sampleDf
      .orderBy(xxhash64(col("vec_id")), col("vec_id")) // limit alone has no order contract
      .limit(math.min(sampleN, math.max(1024L, 8L * k1)).toInt)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    val coarse = greedySeeds(coarseSample, math.min(k1, coarseSample.length))
    val coarseDf = coarse.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cell", "centroid")
    val members = assign(sampleDf, coarseDf)
      .select(col("cell"), col("vec_id"), col("emb"))
    // quotas: largest-remainder apportionment of k over coarse cells by
    // sample mass, capped at member count; spare spread where capacity is
    val counts = members.groupBy("cell").count()
      .as[(Long, Long)].collect().sortBy(_._1)
    val quota = scala.collection.mutable.LinkedHashMap.from(
      counts.iterator.map { case (c, n) =>
        c -> math.min(n, (k.toDouble * n / sampleN).toLong)
      })
    val remainders = counts
      .map { case (c, n) => (c, n, k.toDouble * n / sampleN - (k.toDouble * n / sampleN).toLong) }
      .sortBy { case (_, _, r) => -r }
    var deficit = k - quota.values.sum
    var ri = 0
    while (deficit > 0) { // first pass by remainder, then round-robin spare
      val (c, n, _) = remainders(ri % remainders.length)
      if (quota(c) < n) { quota(c) += 1; deficit -= 1 }
      ri += 1
      if (ri > remainders.length * (k + 1)) // every cell saturated
        throw new IllegalStateException(s"cannot place $deficit of $k seeds")
    }
    val quotaMap = quota.toMap
    // level 2: per-cell greedy sub-seeding on executors — k1 parallel loops
    val seeds = members.as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val q = quotaMap.getOrElse(cell, 0L).toInt
        if (q == 0) Iterator.empty
        else {
          // re-sort: shuffle delivery order is not deterministic
          val m = it.toArray.sortBy(_._2).map(_._3.toArray)
          greedySeeds(m, math.min(q, m.length)).iterator.map(sd => (cell, sd.toSeq))
        }
      }
      .collect() // k×dim — broadcast-sized by construction
      .sortBy(_._1)
    sampleDf.unpersist()
    val centroids = seeds.zipWithIndex.toSeq
      .map { case ((_, c), i) => (i.toLong, c) }
      .toDF("cell", "centroid")
    IvfIndex(centroids, assign(vecs.select("vec_id", "emb"), broadcast(centroids)))
  }

  /** SPHERICAL k-means Lloyd refinement: recompute each cell's centroid as
    * the mean DIRECTION of its members (vectors are L2-normalized before
    * averaging — the raw mean only maximizes cosine for unit-norm corpora;
    * a high-norm outlier would drag the direction and could DECREASE the
    * objective), then reassign — `iters` times. Each iteration is one
    * aggregation plus one broadcast-join pass; a cell that loses all
    * members simply stops attracting. The assignment objective (mean
    * cosine to the cell centroid) is non-decreasing. Iterations are
    * MATERIALIZED (localCheckpoint, as in DedupPipeline.clusters):
    * `assigned` feeds both the centroid recompute and the reassign, so a
    * lazy chain would double the plan per iteration. Matters for poor
    * seeds or drifted corpora; pointless when seeds already match the
    * clustering. */
  def refine(index: IvfIndex, iters: Int): IvfIndex = {
    var centroids = index.centroids
    var assigned = Tables.pinEager(index.assigned)
    for (_ <- 1 to iters) {
      val unit = assigned
        .withColumn("n2", aggregate(transform(col("emb"), x => x * x), lit(0.0), (a, x) => a + x))
        .withColumn("emb",
          when(col("n2") > 0, transform(col("emb"), x => x / sqrt(col("n2"))))
            .otherwise(col("emb")))
      centroids = centroidsOf(unit.select(col("cell").as("k"), col("emb")), "k", "cell")
      assigned = Tables.pinEager(assign(assigned.select("vec_id", "emb"), centroids))
    }
    IvfIndex(centroids, assigned)
  }

  def load(spark: SparkSession, root: String): IvfIndex = {
    val t = AtRest.loadPath(spark, root)
    IvfIndex(t("centroids"), t("assigned"))
  }

  /** Durable TAKEDOWN — the vector-side half of a document deletion
    * (VERDICT r12 demand 3: a removed doc's embedding must not outlive it
    * in a SAVED index). Commits the at-rest assignment minus the victims
    * ([[IvfIndex.remove]]'s one-pass shape) as the next version
    * ([[AtRest.savePath]]). Centroids are frozen (cells just thin out), so
    * survivors' search results are bit-identical and the removed vector is
    * unreachable at ANY nprobe. */
  def removeAtRest(spark: SparkSession, root: String, vecIds: DataFrame): Unit =
    AtRest.savePath(spark, root, "assigned" ->
      load(spark, root).assigned.join(vecIds.select("vec_id"), Seq("vec_id"), "left_anti"))
}
