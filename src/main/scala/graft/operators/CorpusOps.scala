package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-evolution analytics over `documents`: the questions a
  * training-data curator asks about a corpus AS IT GROWS — how much genuinely
  * new content each arriving document contributes (novelty), and how the
  * vocabulary accumulates over arrival order (Heaps'-law growth curve).
  *
  * Both are arrival-order cumulative metrics, which is exactly where naive
  * Spark plans go single-task: a global `ORDER BY` window funnels the whole
  * corpus through one partition. The operators here keep every corpus-sized
  * stage key-partitioned (shingle / token / doc bucket) and reserve
  * single-task work for frames already reduced by ≥ the bucket width.
  */
object CorpusOps {

  /** Per-document n-gram novelty: the share of a doc's distinct 3-gram
    * shingles whose FIRST occurrence (min doc_id) in the whole corpus is
    * this doc. The per-batch novelty curve of an ingest pipeline — a
    * near-zero-novelty doc is a rephrasing of earlier content even when no
    * single earlier doc crosses a pair-dedup threshold (novelty is
    * corpus-cumulative, not pairwise like q51/q53).
    *
    * Shape: explode shingles → groupBy(shingle).min(doc_id) (map-side
    * partial min, one shuffle on the shingle key) → join first-seen back to
    * the exploded postings (same key, same partitioning — AQE reuses the
    * exchange) → groupBy(doc_id). Output is |postings| rows into the last
    * shuffle, never |postings|² — no pair materialization anywhere.
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val sh = TextOps.withShingles(docs)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    // first-seen via a WINDOW over g, not a separate min-agg joined back
    // (optimization r18, guide §2.4): the aggregate branch's exchange
    // (partial-min) and the join branch's exchange (raw rows) do not
    // canonicalize equal, so nothing was reused and the scan + shingle
    // explode — the expensive subtree — ran twice. The window reads ONE
    // shingle pass and ONE exchange on g; its per-partition sort replaces
    // the sort the join would have needed anyway.
    import org.apache.spark.sql.expressions.Window
    sh.withColumn("first_doc", min("doc_id").over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_shingles"), 4))
  }

  /** Vocabulary growth curve: per doc_id (arrival order), the number of
    * whitespace tokens first seen at that doc and the cumulative distinct
    * vocabulary up to and including it (Heaps'-law curve; its flattening is
    * the classic signal a crawl has started re-collecting itself).
    *
    * The cumulative sum is a DISTRIBUTED MULTI-LEVEL PREFIX SUM, not a
    * global `ORDER BY` window: docs bucket by `doc_id / bucketWidth`, the
    * running sum within each bucket is a window PARTITIONED by bucket
    * (parallel), and each bucket's offset comes from an exclusive prefix
    * over the per-bucket totals — a frame already reduced bucketWidth-fold.
    * The SAME trick recurses on the totals frame until it fits under
    * `bucketWidth` rows, so the only unpartitioned window in the plan runs
    * over ≤ bucketWidth rows NO MATTER the corpus size — ⌈log_w(maxId)⌉
    * levels, e.g. 5 key-partitioned shuffles at 10⁹ docs and w = 64. The
    * level count is pinned by one 1-row `max(doc_id)` aggregate up front
    * (the plan stays deterministic; data can't grow a level mid-query). */
  def vocabGrowth(docs: DataFrame, bucketWidth: Int = 64): DataFrame = {
    require(bucketWidth >= 2, s"vocabGrowth: bucketWidth $bucketWidth")
    val firstSeen = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("doc_id"))
    val perDoc = firstSeen.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    // lazily pinned: level 0 of the prefix recursion reads this frame from
    // two subtrees (per-bucket totals + the offset join), and without the
    // pin each re-ran the tokenize + first-seen aggregation — the corpus-
    // sized head of the query. Pinned mass is one row per doc.
    val base = docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("new_tokens", coalesce(col("nt"), lit(0L)))
      .transform(Tables.pin)
    val span = docs.agg(max("doc_id")).head() match {
      case r if r.isNullAt(0) => 1L
      case r                  => r.getLong(0) + 1
    }
    // EXCLUSIVE prefix sum of `v` over ascending `key`: single-task only
    // once the frame is ≤ bucketWidth rows, else bucket + recurse
    def exclusive(frame: DataFrame, key: String, v: String,
                  span: Long, lvl: Int): DataFrame =
      if (span <= bucketWidth)
        frame.withColumn("off", coalesce(
          sum(v).over(Window.orderBy(key)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      else {
        val bkt = s"bkt$lvl"
        val up = frame.withColumn(bkt, floor(col(key) / bucketWidth))
        val totals = up.groupBy(bkt).agg(sum(v).as(s"bt$lvl"))
        val upper = exclusive(totals, bkt, s"bt$lvl",
          span / bucketWidth + 1, lvl + 1)
        up.join(upper.select(col(bkt), col("off").as(s"boff$lvl")), bkt)
          .withColumn("off", col(s"boff$lvl") + coalesce(
            sum(v).over(Window.partitionBy(bkt).orderBy(key)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .drop(bkt, s"boff$lvl")
      }
    exclusive(base, "doc_id", "new_tokens", span, 0)
      .withColumn("cum_vocab", col("off") + col("new_tokens"))
      .select("doc_id", "new_tokens", "cum_vocab")
  }

  /** (g, first_doc) — one row per distinct corpus shingle with the doc that
    * introduced it. The reusable state behind [[ngramNovelty]]: novelty of
    * any later batch is O(batch) against this frame instead of O(corpus)
    * re-shingling. */
  def firstSeenOf(docs: DataFrame): DataFrame =
    TextOps.withShingles(docs)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .groupBy("g").agg(min("doc_id").as("first_doc"))

  /** Persist a first-seen index AT REST, bucketed on the shingle — the
    * batch novelty join's key — so [[noveltyVsIndex]] against the loaded
    * table is corpus-stationary (the scan's HashPartitioning covers the
    * join's clustering requirement; zero corpus-side shuffle). Alongside
    * the rows, `_meta` records the corpus (lo, hi) doc_id span: the id
    * WATERMARK the append-only contract ([[noveltyVsIndex]]) is checked
    * against at O(1) instead of a per-call max over the index. Give the
    * family its own namePrefix — `_meta`/`_tombstones` are per-prefix,
    * shared spelling with the other index families. */
  def saveFirstSeenIndex(docs: DataFrame, namePrefix: String,
                         nBuckets: Int = 32): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    val span = docs.agg(min("doc_id"), max("doc_id")).head()
    val rows = if (span.isNullAt(0)) Seq.empty[(Long, Long, Long, Long)]
               else {
                 val (n, fp) = contentFingerprint(docs)
                 Seq((span.getLong(0), span.getLong(1), n, fp))
               }
    AtRest.save(namePrefix, AtRest.Version("firstseen", firstSeenOf(docs), nBuckets, Seq("g")),
      AtRest.Version("meta", rows.toDF("lo", "hi", "n", "fp")))
  }

  /** Order-independent content fingerprint of a (doc_id, text) frame's
    * shingle set: (row count, XOR of per-(doc_id, shingle) xxhash64 —
    * commutative, overflow-free). Recorded in `_meta` beside each admitted
    * span so the crash-replay exemption in [[appendToFirstSeenIndex]] can
    * verify the re-presented batch is byte-equivalent, not merely
    * span-equal. */
  private def contentFingerprint(docs: DataFrame): (Long, Long) = {
    val r = TextOps.withShingles(docs)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("doc_id"), col("g"))), lit(0L)).as("fp"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Load a first-seen index, with pending tombstones
    * ([[removeFromFirstSeenIndex]]) applied: rows ATTRIBUTED to a removed
    * doc are dropped at read, so between takedown and
    * [[compactFirstSeenIndex]] the removed doc's shingles read as
    * never-seen — novel again, and re-admittable by a later batch. That
    * interim semantics is deliberately the forgetting direction (a
    * removed doc must never keep suppressing future novelty); EXACT
    * parity with a from-scratch index over the surviving corpus — where a
    * shingle the removed doc merely introduced FIRST re-attributes to the
    * next-senior surviving doc that contains it — is restored by
    * compaction, which is the only point the index can see surviving
    * TEXT again (it stores one (g, first_doc) row per shingle, not
    * postings). */
  def loadFirstSeenIndex(s: SparkSession, namePrefix: String): DataFrame = {
    AtRest.open(s, namePrefix)
    AtRest.live(s, namePrefix, s.table(s"${namePrefix}_firstseen"), "first_doc")
  }

  /** The highest doc_id ever admitted to the index (save + appends), read
    * from `_meta` at O(1) — None for an index written before the meta
    * table existed. Ids are append-only and NEVER reused after a
    * takedown, so the watermark only advances; compaction does not touch
    * it. */
  def firstSeenWatermark(s: SparkSession, namePrefix: String): Option[Long] = {
    AtRest.open(s, namePrefix)
    if (!s.catalog.tableExists(s"${namePrefix}_meta")) None
    else s.table(s"${namePrefix}_meta").agg(max("hi")).head() match {
      case r if r.isNullAt(0) => None
      case r                  => Some(r.getLong(0))
    }
  }

  /** O(batch) novelty of a NEW batch against an existing first-seen index:
    * [[ngramNovelty]]'s output for exactly the batch docs, without touching
    * corpus text. A shingle absent from the index but shared by two batch
    * docs is novel only for the smaller doc_id (within-batch first-seen).
    * CONTRACT: equality with a full [[ngramNovelty]] over corpus ∪ batch
    * (the q115 oracle) requires batch doc_ids above all corpus ids —
    * arrival order IS id order, the append-only ingest invariant; a stored
    * first_doc always wins over any batch id regardless, so a violation
    * degrades to ARRIVAL-order novelty (novel relative to what the index
    * had admitted when the batch arrived), never to nonsense — but it no
    * longer equals the id-ordered recompute. This raw-frame form trusts
    * the caller (the in-session q115 state constructs the split to
    * satisfy it); the named-table overload REQUIRES it against the
    * `_meta` watermark at O(batch) + O(1). */
  def noveltyVsIndex(index: DataFrame, batch: DataFrame): DataFrame = {
    val bsh = TextOps.withShingles(batch)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val bmin = bsh.groupBy("g").agg(min("doc_id").as("bfirst"))
    bsh.join(bmin, "g")
      .join(index.select(col("g"), col("first_doc").as("idx_first")), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("idx_first").isNull && col("bfirst") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_shingles"), 4))
  }

  /** Named-table [[noveltyVsIndex]] with the append-only contract
    * ENFORCED: fails fast when the batch's smallest doc_id is not above
    * the index's `_meta` watermark (in which case the O(batch) result
    * would silently diverge from the id-ordered recompute the q115 oracle
    * replays). O(batch) for the min + O(1) for the watermark; a pre-meta
    * index (no `_meta` table) falls back to the documented caller-owned
    * contract. */
  def noveltyVsIndex(s: SparkSession, namePrefix: String,
                     batch: DataFrame): DataFrame = {
    firstSeenWatermark(s, namePrefix).foreach { wm =>
      val bmin = batch.agg(min("doc_id")).head()
      require(bmin.isNullAt(0) || bmin.getLong(0) > wm,
        s"noveltyVsIndex: batch doc_id ${bmin.getLong(0)} is not above the " +
          s"index watermark $wm — the append-only id contract is violated " +
          "and the O(batch) result would not equal the id-ordered recompute")
    }
    noveltyVsIndex(loadFirstSeenIndex(s, namePrefix), batch)
  }

  /** Admit a batch into an at-rest first-seen index: append one (g,
    * first_doc = within-batch min) row per shingle the LIVE index (after
    * tombstones — an orphaned shingle is re-admittable, matching what
    * [[loadFirstSeenIndex]] told the batch's own novelty read) has never
    * seen — later batches then measure novelty against earlier
    * admissions. O(batch) work; appended files land in the existing
    * bucket layout, and `_meta` gains the batch's id span LAST.
    *
    * GUARDS: the append-only id contract is REQUIRED against the `_meta`
    * watermark — a batch whose min id is not above every admitted id is
    * rejected (unless its exact (lo, hi) span is already recorded: that
    * is the crash-recovery re-run, which must pass). A batch id with a
    * pending tombstone fails fast ([[AtRest]]).
    *
    * RECOVERY: rows are written first, the `_meta` span row last, and the
    * anti-join re-derives exactly the not-yet-admitted shingles — so a
    * crashed append is healed by RE-RUNNING it (a replay of a completed
    * batch is a recorded no-op). The replay must re-present the ORIGINAL
    * batch: the span row records a content fingerprint and a same-span
    * re-run with different text fails fast instead of silently admitting
    * divergent shingles. */
  def appendToFirstSeenIndex(s: SparkSession, namePrefix: String,
                             batch: DataFrame): Unit = {
    AtRest.open(s, namePrefix)
    val span = batch.agg(min("doc_id"), max("doc_id")).head()
    if (span.isNullAt(0)) return // empty batch
    val (bLo, bHi) = (span.getLong(0), span.getLong(1))
    AtRest.requireNoPendingTombstone("appendToFirstSeenIndex", namePrefix, batch,
      "compactFirstSeenIndex")
    val metaRow = if (!s.catalog.tableExists(s"${namePrefix}_meta")) None
      else s.table(s"${namePrefix}_meta")
        .filter(col("lo") === bLo && col("hi") === bHi).limit(1).collect().headOption
    val replay = metaRow.nonEmpty
    if (!replay) firstSeenWatermark(s, namePrefix).foreach { wm =>
      require(bLo > wm,
        s"appendToFirstSeenIndex: batch doc_id $bLo is not above the index " +
          s"watermark $wm — out-of-order admission would silently break the " +
          "id-ordered novelty contract (re-running a crashed append of the " +
          "SAME batch is the one sanctioned overlap)")
    }
    // the replay exemption admits a batch whose span is already recorded —
    // but only the SAME batch: a re-run presenting the same (lo, hi) with
    // DIFFERENT text (a violated single-writer contract, or a batch
    // regenerated non-deterministically) must not silently admit divergent
    // shingles (ADVICE r11). The recorded content fingerprint makes the
    // check exact; a span row written before the fingerprint columns
    // existed (no `fp` field) falls back to the span-only exemption.
    metaRow.filter(r => r.schema.fieldNames.contains("fp") &&
        !r.isNullAt(r.fieldIndex("fp"))).foreach { r =>
      val (n, fp) = contentFingerprint(batch)
      require(r.getLong(r.fieldIndex("n")) == n &&
          r.getLong(r.fieldIndex("fp")) == fp,
        s"appendToFirstSeenIndex: replay of span [$bLo, $bHi] presents " +
          s"different content (fingerprint ($n, $fp) vs recorded " +
          s"(${r.getLong(r.fieldIndex("n"))}, ${r.getLong(r.fieldIndex("fp"))})) " +
          "— crash-replay must re-present the original batch byte-identically")
    }
    val bmin = TextOps.withShingles(batch)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .groupBy("g").agg(min("doc_id").as("first_doc"))
    AtRest.append(namePrefix, "firstseen",
      bmin.join(loadFirstSeenIndex(s, namePrefix).select("g"), Seq("g"), "left_anti"),
      bucketed = true)
    if (!replay) {
      import s.implicits._
      val mT = s"${namePrefix}_meta"
      // a PRE-UPGRADE index's `_meta` has only (lo, hi) — appending the
      // 4-column fingerprint row would throw, so the first new admission
      // migrates it (existing rows gain null n/fp, preserving their
      // span-only exemption) in one at-rest commit, so the watermark table
      // never risks a non-atomic overwrite (ADVICE r12)
      if (s.catalog.tableExists(mT) &&
          !s.table(mT).schema.fieldNames.contains("fp"))
        AtRest.rewrite(s, namePrefix, Seq("meta" -> s.table(mT)
          .withColumn("n", lit(null).cast("long"))
          .withColumn("fp", lit(null).cast("long"))), fold = false)
      val (n, fp) = contentFingerprint(batch)
      AtRest.append(namePrefix, "meta", Seq((bLo, bHi, n, fp)).toDF("lo", "hi", "n", "fp"))
    }
  }

  /** TAKEDOWN for the at-rest first-seen index — the novelty-side half of
    * a document deletion ([[DedupOps.removeFromCorpusIndex]] /
    * [[DedupOps.removeFromNgramPrefixIndex]] / ClusterState.remove are
    * the other artifacts'): append the ids to the family's TOMBSTONE
    * side-table, O(batch), never a rewrite. The index stores RAW shingle
    * text attributed to the introducing doc, so this is the path that
    * stops a purged doc's verbatim trigrams (and its `first_doc`
    * attribution) from outliving it: [[loadFirstSeenIndex]] drops its
    * rows at read (shingles it introduced become novel — and
    * re-admittable — again), [[appendToFirstSeenIndex]]'s anti-join stops
    * blocking them, and [[compactFirstSeenIndex]] folds the removal into
    * the files. Idempotent; unknown ids are read-time no-ops. */
  def removeFromFirstSeenIndex(namePrefix: String, docIds: DataFrame): Unit =
    AtRest.tombstone(namePrefix, docIds)

  /** Fold accumulated tombstones into the first-seen files and RESTORE
    * exact parity with a from-scratch index over the surviving corpus:
    * live rows (surviving first_doc) are kept verbatim — their attribution
    * is still the global surviving minimum — and each ORPHANED shingle
    * (first_doc tombstoned) is RE-ATTRIBUTED to the smallest surviving doc
    * that contains it, or dropped when none does (it becomes genuinely
    * novel again). Re-attribution needs surviving TEXT, which the index
    * deliberately does not store (one row per shingle, not postings), so
    * the caller passes `survivingDocs` — every (doc_id, text) still
    * admitted to the index; tombstoned ids in it are ignored
    * defensively, and live rows a later batch re-admitted onto an
    * orphaned shingle compete in the same min, so an incomplete frame can
    * never lose an existing attribution. Cost: one shingle pass over the
    * survivors SEMI-JOINED to the orphan set — compaction-cadence work,
    * exactly like the other families' rewrites ([[AtRest.compact]]). The
    * `_meta` watermark is untouched — ids are never reused, so it stays
    * the append-only fence. */
  def compactFirstSeenIndex(spark: SparkSession, namePrefix: String,
                            survivingDocs: DataFrame): Unit =
    AtRest.compact(spark, namePrefix, "firstseen") { _ =>
      val dead = AtRest.dead(spark, namePrefix)
      val fs = spark.table(s"${namePrefix}_firstseen")
      val live = AtRest.live(spark, namePrefix, fs, "first_doc")
      val orphanG = fs.join(dead, fs("first_doc") === dead("doc_id"), "left_semi")
        .select("g").distinct()
      val survivorPostings = TextOps.withShingles(
          survivingDocs.select("doc_id", "text").join(dead, Seq("doc_id"), "left_anti"))
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .join(orphanG, Seq("g"), "left_semi")
      val reattributed = survivorPostings.select("g", "doc_id")
        .unionByName(live.join(orphanG, Seq("g"), "left_semi")
          .select(col("g"), col("first_doc").as("doc_id")))
        .groupBy("g").agg(min("doc_id").as("first_doc"))
      live.join(orphanG, Seq("g"), "left_anti").unionByName(reattributed)
    }

  /** Session cache for q115's corpus-side index (the q87PrefixIndex
    * warm-state pattern): built once per (session, dir), localCheckpointed
    * so benched trials pay the BATCH cost the incremental operator exists
    * to isolate, not the corpus build. */
  private val firstSeenCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Long, DataFrame)]()
  WarmState.registerCache(() => firstSeenCache.clear())

  private def q115State(s: SparkSession, d: String): (Long, DataFrame) =
    firstSeenCache.computeIfAbsent(
      (s, try java.nio.file.Paths.get(d).toRealPath().toString
          catch { case _: java.io.IOException => d }), _ => {
      val docs = Tables.spread(Tables.load(s, d, "documents"))
      // 1-row aggregate: the order-respecting corpus/batch split point
      val thr = math.floor(
        docs.agg(max("doc_id")).collect()(0).getLong(0) * 0.9).toLong
      (thr, WarmState.pin(firstSeenOf(docs.filter(col("doc_id") <= thr))))
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_ngram_novelty" -> ((s, d) =>
      ngramNovelty(Tables.spread(Tables.load(s, d, "documents"))).orderBy("doc_id")),
    "q113_vocab_growth" -> ((s, d) =>
      vocabGrowth(Tables.spread(Tables.load(s, d, "documents"))).orderBy("doc_id")),

    // INCREMENTAL novelty: the last-arrived 10% of docs audited against the
    // warm corpus first-seen index — answer-checked against the full q112
    // computation restricted to the batch (the oracle replays it), proving
    // the O(batch) path ≡ the O(corpus) recompute.
    "q115_incremental_novelty" -> ((s, d) => {
      val (thr, index) = q115State(s, d)
      noveltyVsIndex(index,
        Tables.spread(Tables.load(s, d, "documents")).filter(col("doc_id") > thr))
        .orderBy("doc_id")
    }))

  val oracleSql: Map[String, String] = Map(
    "q112_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         | sh AS (SELECT doc_id, unnest(${TextOps.shinglesSql.replace("\n", " ")}) AS g FROM t),
         | f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
         |SELECT sh.doc_id AS doc_id, count(*) AS n_shingles,
         | CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         | round(CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |   / count(*), 4) AS novelty
         |FROM sh JOIN f USING (g) GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,
    // The incremental path must equal the full novelty pass BY
    // CONSTRUCTION, so its oracle IS q112's computation restricted to the
    // batch — a green row means O(batch) maintenance and O(corpus)
    // recompute agree exactly.
    "q115_incremental_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         | sh AS (SELECT doc_id, unnest(${TextOps.shinglesSql.replace("\n", " ")}) AS g FROM t),
         | f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g),
         | thr AS (SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS mx FROM documents)
         |SELECT sh.doc_id AS doc_id, count(*) AS n_shingles,
         | CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         | round(CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |   / count(*), 4) AS novelty
         |FROM sh JOIN f USING (g), thr WHERE sh.doc_id > thr.mx
         |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,

    "q113_vocab_growth" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |   FROM documents),
        | f AS (SELECT tok, min(doc_id) AS doc_id FROM tok GROUP BY tok),
        | pd AS (SELECT doc_id, count(*) AS nt FROM f GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        | CAST(coalesce(pd.nt, 0) AS BIGINT) AS new_tokens,
        | CAST(sum(coalesce(pd.nt, 0)) OVER (ORDER BY d.doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin)
}
