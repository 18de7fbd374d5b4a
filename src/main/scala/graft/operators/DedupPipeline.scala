package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import graft.Tables

/** User-facing corpus deduplication API — the operator a training-data
  * pipeline actually calls: hand it a corpus, get back the kept rows.
  *
  * Keeper policy is deterministic (smallest id survives). For near-dedup
  * the drop set is "any doc with a more-senior near-duplicate" — the
  * standard greedy policy; it over-drops only on chains (a~b, b~c, a!~c),
  * which for high thresholds (>= 0.8) is rare and safe-side for training
  * data (dropping a borderline duplicate costs less than keeping one).
  */
object DedupPipeline {

  sealed trait Strategy
  /** Byte-identical after canonical normalization (lowercase, strip
    * punctuation, collapse whitespace). */
  case object Exact extends Strategy
  /** MinHash+LSH candidate generation, exact-Jaccard verification at
    * `threshold`. */
  final case class MinHashLsh(threshold: Double = 0.8) extends Strategy
  /** SimHash 64-bit signatures, exact Hamming verification at
    * `maxHamming`, candidates COMPLETE for the requested radius: exact
    * 16-bit-chunk LSH for maxHamming ≤ 3 (the Manku et al. operating
    * point), multi-index-hash chunk enumeration at the smallest radius
    * covering wider thresholds (≤ 7 → radius 1, ≤ 11 → radius 2 — see
    * [[DedupOps.simHashNearDupPairs]]; r14, closing the silent recall
    * loss q126 measured: the old exact-chunk rule found 19% of
    * band-10 pairs). maxHamming > 11 is rejected — at that distance a
    * 64-bit SimHash is the wrong fingerprint, not the wrong banding. */
  final case class SimHash(maxHamming: Int = 3) extends Strategy

  /** Rows of `docs` that survive deduplication (all columns preserved).
    * `maxIter`/`strict` govern the cluster pass on the near-dup graph: the
    * default (100, strict) converges any realistic dup graph and FAILS
    * rather than silently splitting a deeper one; pass `strict = false` to
    * accept a conservative over-segmentation instead (more docs kept). */
  def dedup(docs: DataFrame, idCol: String, textCol: String, strategy: Strategy,
            maxIter: Int = 100, strict: Boolean = true): DataFrame =
    strategy match {
      case Exact =>
        val norm = TextOps.normTextOf(col(textCol))
        val keepers = docs
          .select(col(idCol), md5(norm).as("__fp"))
          .groupBy("__fp").agg(min(col(idCol)).as(idCol))
          .select(idCol)
        docs.join(keepers, idCol)
      case MinHashLsh(threshold) =>
        // cluster the near-dup graph so CHAINS dedup correctly (a~b, b~c
        // keeps only a even when a!~c), then keep each cluster's senior.
        dropJuniors(docs, idCol, nearDupPairs(docs, idCol, textCol, threshold),
          maxIter, strict)
      case SimHash(maxHamming) =>
        require(maxHamming <= 11,
          s"SimHash(maxHamming = $maxHamming): beyond Hamming 11 the " +
            "radius-2 enumeration no longer guarantees recall — use a " +
            "wider fingerprint (or MinHashLsh) instead of a looser verify")
        val radius = math.max(0, math.ceil((maxHamming - 3) / 4.0).toInt)
        val pairs = DedupOps.simHashNearDupPairs(
          docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
          mihRadius = radius)
          .filter(col("hamming") <= maxHamming)
        dropJuniors(docs, idCol, pairs, maxIter, strict)
    }

  /** Embedding-cosine near-dedup: LSH similar-pairs over `vecCol`
    * (array<float|double>), exact-cosine verification at `simThreshold`,
    * then the same cluster-and-keep-senior policy as the text strategies.
    * The scale path for semantic dedup — candidates come from bucket
    * collisions, never an all-pairs join. */
  def dedupByEmbedding(docs: DataFrame, idCol: String, vecCol: String,
                       simThreshold: Double): DataFrame = {
    // fail fast on non-integral ids: a silent cast("long") would turn
    // string/UUID ids into NULLs, find zero pairs, and "pass" without
    // deduplicating anything
    val idType = docs.schema(idCol).dataType
    require(Seq("byte", "short", "int", "long", "integer", "bigint")
      .contains(idType.simpleString),
      s"dedupByEmbedding requires an integral id column; '$idCol' is ${idType.simpleString}")
    val vecs = docs.select(
      col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("emb"))
    val pairs = SimilarityOps.lshSimilarPairs(vecs)
      .filter(col("sim") >= simThreshold)
    dropJuniors(docs, idCol, pairs.select("a", "b"), maxIter = 100, strict = true)
  }

  /** Incremental dedup: rows of `newDocs` that are NOT near-duplicates (at
    * exact-Jaccard `threshold`) of any document already in `corpus` — the
    * batch ingest gate. Candidates come from the batch-bands × corpus-bands
    * equi-join ([[DedupOps.minHashCrossDupPairs]]), so the corpus is never
    * self-joined; the streaming twin is
    * [[graft.streaming.DocStream.incrementalDedupDrain]]. Within-batch
    * duplicates are NOT collapsed here — run [[dedup]] on the survivors if
    * the batch itself may contain dups.
    *
    * RECALL floor: candidate generation is the 8-band × 4-row LSH, whose
    * collision probability at Jaccard j is 1-(1-j⁴)⁸ — ≈0.99 at j=0.8 but
    * only ≈0.06 at j=0.3, so a low threshold would silently admit most of
    * its true duplicates; thresholds below 0.7 are rejected rather than
    * pretending completeness the bands can't deliver. */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String, threshold: Double): DataFrame = {
    require(threshold >= 0.7,
      f"dedupAgainstCorpus: LSH candidate recall at jaccard $threshold%.2f is " +
        f"${1 - math.pow(1 - math.pow(threshold, 4), 8)}%.2f — thresholds below 0.7 " +
        "would silently miss most true duplicates; use a wider-band index instead")
    val dupIds = DedupOps.minHashCrossDupPairs(
      newDocs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .filter(col("jac") >= threshold)
      .select(col("new_id").as(idCol))
      .distinct()
    newDocs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Cluster the near-dup pair graph, drop every non-representative. */
  private def dropJuniors(docs: DataFrame, idCol: String, pairs: DataFrame,
                          maxIter: Int, strict: Boolean): DataFrame = {
    val labeled = clusters(pairs, maxIter, strict)
    val dropped = labeled.filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Symmetric edge rows (two per pair) up to which [[clusters]] labels the
    * graph on the driver: 200,000 rows of two longs, a few MB collected. */
  val DriverMaxEdges: Long = 200000L

  /** Connected components over a near-dup pair graph: every node is labeled
    * with the smallest id in its component (its cluster representative).
    * Returns (node, label) for every node on an edge.
    *
    * Both paths first persist the symmetric edge frame and count it exactly.
    *  - DRIVER path, taken when `checkpointDir` is empty, the ids are longs
    *    and 0 < edge rows <= [[DriverMaxEdges]]: the cached edges are
    *    collected (one job) and a breadth-first search from each component's
    *    minimum id labels it. The result is a local relation: no checkpoint
    *    behind it, nothing to release. Batch-sized graphs (admission, the
    *    contracted graphs of [[updateClusters]] and [[removeFromClusters]],
    *    q58/q87 at test scales) all take it.
    *  - DISTRIBUTED path, for larger graphs and whenever `checkpointDir` is
    *    set: min-label propagation, one join + aggregation per hop (the
    *    hash-to-min pattern that scales to billions of edges), each hop
    *    materialized and lineage-cut — localCheckpoint (executor blocks) by
    *    default, or a RELIABLE checkpoint against `checkpointDir`: on a real
    *    cluster a lost executor invalidates localCheckpoint blocks
    *    mid-propagation, so production runs should point `checkpointDir` at
    *    durable storage (HDFS/S3). A superseded hop's blocks and files are
    *    released as soon as the next hop is materialized.
    *
    * `maxIter` bounds the propagation hops. Propagation converges exactly
    * when every component's eccentricity from its minimum id is below
    * `maxIter`; the driver path measures those eccentricities and, if any
    * reaches `maxIter` (or an id is null), falls through to the distributed
    * loop, so on every path a graph deeper than `maxIter` hops behaves the
    * same. Non-convergence THROWS by default: a partial assignment silently
    * splits components, and a library caller has no cheap way to notice.
    * Pass `strict = false` to accept the partial assignment (logged as a
    * WARN) — e.g. when a bounded number of rounds is the point and a coarser
    * over-segmentation is acceptable. */
  def clusters(pairs: DataFrame, maxIter: Int = 10, strict: Boolean = true,
               checkpointDir: Option[String] = None): DataFrame = {
    require(maxIter >= 1, s"clusters(): maxIter must be >= 1 (got $maxIter)")
    // Symmetric edges via ONE explode pass, not union(select, select): the
    // union shape concatenated two copies of the pair pipeline's output
    // partitioning (2×32 = 64 cached partitions at any input size) and ran
    // the candidate pipeline's scan segment twice; the explode keeps the
    // pair pipeline's own (AQE byte-sized) partition count and reads it
    // once.
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Materialize the edge cache NOW and learn the exact edge count: the
    // size the driver path dispatches on (measured, never a default), the
    // distributed loop's partition budget, and a zero-iteration exit for
    // the empty graph. It also moves the pair pipeline's cost into jobs of
    // its own, ahead of any labeling.
    val nEdges = edges.count()
    val longIds = Seq("src", "dst").forall(c =>
      edges.schema(c).dataType == org.apache.spark.sql.types.LongType)
    // an empty edge set is vacuously converged (q110-style takedown repairs
    // routinely hand this an empty surviving subgraph)
    val onDriver =
      if (nEdges == 0L) Some(Seq.empty[Row])
      else if (checkpointDir.isEmpty && longIds && nEdges <= DriverMaxEdges)
        driverLabels(edges.collect(), maxIter)
      else None
    onDriver match {
      case Some(rows) =>
        val schema = seed(edges).schema
        edges.unpersist()
        pairs.sparkSession.createDataFrame(rows.asJava, schema)
      case None => propagate(edges, nEdges, maxIter, strict, checkpointDir)
    }
  }

  /** Hop 1 of min-label propagation over symmetric (src, dst) edges: with
    * every label initialized to its node id, the first neighbor-min is
    * simply min(src) per dst — no label join, and no separate distinct over
    * endpoints (symmetric edges make every node a dst). Its schema is the
    * result schema of [[clusters]] on every path. */
  private def seed(edges: DataFrame): DataFrame = edges.groupBy(col("dst").as("node"))
    .agg(min("src").as("m"))
    .select(col("node"), least(col("node"), col("m")).as("label"))

  /** The driver path of [[clusters]]: label the collected symmetric edge
    * rows by a breadth-first search from each component's minimum id (the
    * node ids are visited in ascending order, so the first unlabeled one
    * is its component's minimum). None when an id is null or some node
    * lies `maxIter` or more hops from its component's minimum — exactly
    * the graphs on which `maxIter` rounds of propagation do not converge. */
  private def driverLabels(rows: Array[Row], maxIter: Int): Option[Seq[Row]] = {
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val src = rows.map(_.getLong(0))
    // symmetric rows: every endpoint is some row's src
    val ids = src.distinct.sorted
    val at = (id: Long) => java.util.Arrays.binarySearch(ids, id)
    // adjacency in CSR form: node i's neighbours are adj(off(i) until off(i+1))
    val off = new Array[Int](ids.length + 1)
    src.foreach(s => off(at(s) + 1) += 1)
    for (i <- ids.indices) off(i + 1) += off(i)
    val adj = new Array[Int](rows.length)
    val fill = off.clone()
    rows.foreach { r =>
      val i = at(r.getLong(0))
      adj(fill(i)) = at(r.getLong(1)); fill(i) += 1
    }
    val label = Array.fill(ids.length)(-1)
    val hops = new Array[Int](ids.length)
    val queue = new Array[Int](ids.length)
    var tail = 0
    var root = 0
    while (root < ids.length) {
      if (label(root) < 0) {
        label(root) = root
        var head = tail
        queue(tail) = root; tail += 1
        while (head < tail) {
          val u = queue(head); head += 1
          var k = off(u)
          while (k < off(u + 1)) {
            val v = adj(k)
            if (label(v) < 0) {
              hops(v) = hops(u) + 1
              if (hops(v) >= maxIter) return None
              label(v) = root
              queue(tail) = v; tail += 1
            }
            k += 1
          }
        }
      }
      root += 1
    }
    Some(ids.indices.map(i => Row(ids(i), ids(label(i)))))
  }

  /** The distributed path of [[clusters]]: hop-by-hop min-label propagation
    * over the cached symmetric `edges` (unpersisted on return). */
  private def propagate(edges: DataFrame, nEdges: Long, maxIter: Int, strict: Boolean,
                        checkpointDir: Option[String]): DataFrame = {
    // Lineage cut per iteration: localCheckpoint (executor blocks — fast,
    // but a lost executor kills the job mid-propagation) by default;
    // a reliable checkpoint against `checkpointDir` (HDFS/S3/local FS)
    // when given — the cluster-scale mode for the flagship iterative op.
    // setCheckpointDir mutates GLOBAL SparkContext state, so only install
    // the caller's dir when the application has not configured one; an
    // already-configured dir wins (clobbering it would silently redirect
    // every OTHER checkpoint in the app and outlive this call).
    val sc = edges.sparkSession.sparkContext
    checkpointDir.foreach { d =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
      else org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"clusters(): checkpoint dir already configured " +
          s"(${sc.getCheckpointDir.get}); caller's '$d' not installed")
    }
    // Partition discipline for the loop (optimization r18, guide §2.4/§2.6):
    // the iteration frames are (node, label) longs — a few MB per million
    // nodes — but they inherit partition COUNT from whatever plan produced
    // them (the r17 shape: edges = union of two 32-partition selects = 64
    // cached partitions, so every localCheckpoint job and every post-
    // checkpoint read scheduled 64 near-empty tasks; StageProbe measured
    // 0.2–0.4 s of pure task dispatch per such stage, ×3 per iteration).
    // `looseK` derives a byte-sized partition budget from the exact edge
    // count (≈256k rows ≈ 8 MB per task) and the cut/edge frames are
    // coalesced to it — a NARROW merge, no extra shuffle. Large graphs
    // blow past the budget and keep their native width (coalesce is
    // skipped when the budget ≥ the session's shuffle width), so this is
    // an identity at 100 TB and a ~10× task-count cut on mid-sized graphs.
    val looseK = math.max(1L, nEdges / 262144L + 1L)
      .min(Int.MaxValue.toLong).toInt
    val shuffleWidth = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    def cut(df: DataFrame): DataFrame = {
      val sized = if (looseK < shuffleWidth) df.coalesce(looseK) else df
      if (checkpointDir.isDefined) sized.checkpoint(eager = true)
      else Tables.pinEager(sized)
    }
    // Release a SUPERSEDED cut once the next one stops reading it: drop the
    // checkpointed RDD's blocks (a localCheckpoint's data; Dataset.unpersist
    // would only touch CacheManager entries, which a cut has none of) and a
    // reliable checkpoint's files. Without this, maxIter copies of the
    // label table accumulate per call until a driver GC —
    // spark.cleaner.referenceTracking.cleanCheckpoints is off by default.
    // The LAST cut is kept: it backs the returned DataFrame.
    def release(cutDf: DataFrame): Unit = Tables.pinnedRdds(cutDf).foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.map(new org.apache.hadoop.fs.Path(_)).foreach { p =>
        try { p.getFileSystem(sc.hadoopConfiguration).delete(p, true); () }
        catch { case e: Throwable =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"clusters(): failed to clean superseded checkpoint $p", e)
        }
      }
    }
    // the cached edge partitions inherit the pair pipeline's width (32 on
    // the bench session) — every iteration's map side then schedules that
    // many near-empty tasks (~75 ms each of broadcast-fetch + codegen
    // setup, measured on q58's 469-label graph); merge the cache reads to
    // the same byte-sized budget. Narrow — cached blocks are not moved.
    val edgesR =
      if (looseK < shuffleWidth && edges.rdd.getNumPartitions > looseK)
        edges.coalesce(looseK)
      else edges
    // The seed counts toward maxIter as iteration 1. It is NOT materialized
    // on its own: hop 2's checkpoint job computes it in the same stage
    // chain, so fusing removes one shuffle and one job versus seeding with
    // identity labels.
    var labels: DataFrame = seed(edgesR)
    var prevCut: DataFrame = null // last iteration's checkpointed frame
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      val nbrMin = edgesR
        .join(labels.select(col("node").as("src"), col("label").as("srcLabel")), "src")
        .groupBy(col("dst").as("node"))
        .agg(min("srcLabel").as("nbrLabel"))
      // ONE job per iteration: the eager checkpoint materializes the
      // relabeling, and an observe() metric rides the SAME job to count
      // changed rows — checkpoint/localCheckpoint go through the action
      // path, so CollectMetrics fires and Observation.get returns without
      // a second scan. (The previous shape ran a separate isEmpty probe
      // per iteration; on small graphs fixed per-job overhead dominated,
      // and on a real cluster it's one fewer driver round-trip per hop.)
      val obs = org.apache.spark.sql.Observation(s"graft_cc_conv_$i")
      val next = cut(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbrLabel"), col("label"))).as("newLabel"),
          (least(col("label"), coalesce(col("nbrLabel"), col("label"))) =!= col("label"))
            .as("changed"))
        .observe(obs, count(when(col("changed"), lit(1))).as("n_changed")))
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      if (prevCut ne null) release(prevCut)
      prevCut = next
      labels = next.select(col("node"), col("newLabel").as("label"))
      i += 1
    }
    edges.unpersist()
    // the edge set is non-empty here, so the labels are too: not converging
    // means some component is wider than maxIter hops
    if (!converged) {
      val msg = s"clusters(): label propagation did not converge within $maxIter " +
        "iterations — components wider than maxIter hops carry multiple " +
        "representatives; raise maxIter for deep duplicate chains"
      if (strict) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels
  }

  /** Incremental cluster maintenance — the production shape for a persisted
    * duplicate-cluster table: given the existing (node, label) assignment and
    * ONLY the pairs incident to a new batch (new~new and new~old, e.g. from
    * [[DedupOps.minHashCrossDupPairs]]), produce the updated assignment
    * WITHOUT re-propagating the whole graph.
    *
    * Method: contract every existing component to its representative (the
    * label IS the component's min id, so mapping each endpoint through its
    * label loses no connectivity), run label propagation on the contracted
    * graph — whose size is proportional to the BATCH, not the corpus — and
    * join the resulting rep→rep relabeling back over the full table. Old
    * components untouched by new edges never enter a shuffle wider than the
    * label join. The min-label invariant is preserved: each rep is already
    * its component's min, so the contracted propagation's min over
    * {reps, new ids} is the true global min.
    *
    * At 100 TB this is the difference between a nightly O(batch) update and
    * a nightly O(corpus) recluster; the full [[clusters]] pass remains the
    * bootstrap and the periodic self-check. */
  def updateClusters(existing: DataFrame, newPairs: DataFrame, maxIter: Int = 10,
                     strict: Boolean = true,
                     checkpointDir: Option[String] = None): DataFrame = {
    val repsA = existing.select(col("node").as("a"), col("label").as("ra"))
    val repsB = existing.select(col("node").as("b"), col("label").as("rb"))
    val contracted = newPairs.select("a", "b")
      .join(repsA, Seq("a"), "left")
      .join(repsB, Seq("b"), "left")
      .select(
        coalesce(col("ra"), col("a")).as("a"),
        coalesce(col("rb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val relabel = clusters(contracted, maxIter, strict, checkpointDir)
    // existing nodes: follow their component's rep through the relabeling
    val updatedOld = existing
      .join(relabel.select(col("node").as("label"), col("label").as("nl")), Seq("label"), "left")
      .select(col("node"), coalesce(col("nl"), col("label")).as("label"))
    // genuinely new nodes are the relabeled ids the corpus has never seen
    val newNodes = relabel
      .join(existing.select("node"), Seq("node"), "left_anti")
    updatedOld.unionByName(newNodes)
  }

  /** INCREMENTAL cluster DELETION — the takedown/expiry path, completing
    * the maintenance triple (full [[clusters]] build, [[updateClusters]]
    * insert, this remove): drop a batch of nodes and repair ONLY the
    * components they touched. Removal is harder than insertion because a
    * deleted node can be the BRIDGE of its component — the survivors may
    * SPLIT — so the affected components' surviving edge subgraph is
    * re-propagated from scratch; but ONLY theirs: work is
    * O(affected components), never O(corpus), and untouched components
    * stream through byte-identical (one anti-join on their label).
    *
    * `remainingPairs` is the surviving edge set (any superset restricted
    * here to affected-component survivors is fine — edges never cross
    * components, so the subgraph join prunes everything else). A survivor
    * that loses its last edge drops out of the assignment, matching the
    * full-recluster contract (the label table holds edge-connected nodes).
    * The q110 oracle replays the FULL closure over the remaining corpus,
    * so a green row proves remove ≡ full recluster of the remainder. */
  def removeFromClusters(existing: DataFrame, removed: DataFrame,
                         remainingPairs: DataFrame, maxIter: Int = 10,
                         strict: Boolean = true,
                         checkpointDir: Option[String] = None): DataFrame = {
    // NO static broadcast hint on `affected`: a takedown batch touches few
    // components and AQE broadcasts the joins from runtime stats, but a
    // MASS deletion (purging a whole source) can make `affected` arbitrarily
    // large — a forced broadcast would blow the broadcast limit exactly when
    // the operation matters most; un-hinted, it degrades to a shuffle join.
    val affected = existing
      .join(removed.select("node"), Seq("node"))
      .select("label").distinct()
    val members = existing
      .join(affected, Seq("label"))
      .join(removed.select("node"), Seq("node"), "left_anti")
      .select("node")
    val subEdges = remainingPairs.select(col("a"), col("b"))
      .join(members.select(col("node").as("a")), Seq("a"))
      .join(members.select(col("node").as("b")), Seq("b"))
    val relabeled = clusters(subEdges, maxIter, strict, checkpointDir)
    existing
      .join(affected, Seq("label"), "left_anti")
      .select("node", "label")
      .unionByName(relabeled.select("node", "label"))
  }

  /** Verified near-duplicate pairs (a < b, exact Jaccard >= threshold) via
    * the MinHash-LSH path — exposed for auditing what dedup() would drop. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame =
    DedupOps.minHashNearDupPairs(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .filter(col("jac") >= threshold)
}
