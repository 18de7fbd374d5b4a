package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-wise via `mapPartitions` over a
  * typed Dataset (the Scala analog of `mapInPandas`: one iterator per
  * partition, records streamed, no whole-partition materialization).
  *
  * The DECODE STEP IS A STUB — this container has no image/audio codecs, so
  * `decodeStub` derives deterministic fake features (dimensions, frame
  * count, content hash) from the raw bytes. The Spark-side plumbing is real:
  * binary payload column, metadata struct, partition-streamed batch decode,
  * and a downstream relational aggregation over the extracted features. At
  * scale the payload column stays columnar parquet/binaryFile and the decode
  * runs once per partition batch with zero shuffle.
  *
  * The fake features hash through [[graft.plans.Md5Lower64]] (= DuckDB
  * `md5_number_lower`), masked to 63 bits so every derived value is
  * non-negative modular arithmetic on both engines — q70 AND q71 are fully
  * hash-checked by the SQL oracle, decode stub included.
  */
object MultimodalOps {

  case class MediaIn(doc_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long,
                           width: Long, height: Long, n_frames: Long, content_hash: Long)

  /** Deterministic fake "decode": dimensions/frames derived from the 63-bit
    * md5 content hash of the payload. Replace with a real codec where
    * available. */
  private[graft] def decodeStub(m: MediaIn): MediaFeatures = {
    val h = graft.plans.Md5Lower64.lower64(m.payload) & Long.MaxValue
    val w = 64 + h % 960
    val ht = 64 + (h >>> 17) % 960
    val frames = m.kind match {
      case "video" => 1 + (h >>> 31) % 240
      case "audio" => 1 + (h >>> 31) % 48000
      case _       => 1L
    }
    MediaFeatures(m.doc_id, m.kind, m.payload.length.toLong, w, ht, frames, h)
  }

  /** documents → (doc_id, kind, payload) media frame: text bytes stand in
    * for media blobs, kind is a pure function of doc_id. */
  private def mediaOf(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.spread(Tables.load(s, d, "documents"))
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaIn]
  }

  /** PERCEPTUAL fingerprint of a binary media payload: 64-bit SimHash over
    * sliding byte 4-grams — the media member of the near-dup family
    * (VERDICT r12 demand 4), bridging multimodal columns into the same
    * banded-pair → cluster → split machinery text enjoys. A mildly
    * perturbed copy (re-encode jitter, appended metadata, a few changed
    * bytes) shares almost all 4-grams, so its fingerprint sits a few
    * Hamming bits away; unrelated payloads land ~32 apart. In the stub
    * world the payload IS utf-8 text bytes, which keeps the whole pipeline
    * DuckDB-replayable (the q70 trick); a real pipeline would fingerprint
    * DECODED blocks (pixel tiles, audio frames) at exactly this boundary —
    * everything downstream of the gram column is codec-agnostic.
    *
    * Payloads SHORTER THAN ONE GRAM (< 4 bytes) are excluded — they get
    * NO fingerprint row and never enter the near-dup pipeline (VERDICT
    * r13 / ADVICE r13: every sub-gram payload would otherwise hash to the
    * SAME degenerate phash — one hot (c, ch) join key shared by all
    * empty/tiny assets, the 100 TB candidate-explosion failure mode of an
    * otherwise banded join).
    *
    * Computed by the FUSED native [[graft.plans.SimHashGrams]] expression
    * (r16): one narrow map pass, n rows in → n rows out. The previous
    * explode → md5 → sketch-aggregate pipeline materialized one row per
    * payload byte and hit ObjectHashAggregate's 128-group sort-based
    * fallback — 520 s / 7.2 GB spill at sf10 for a linear scan (probe
    * record in BUILDLOG r16). Gram/hash semantics are bit-identical
    * (same md5 lower-64, same substring windows — the oracle SQL is
    * unchanged). Returns (doc_id, phash). */
  def mediaFingerprint(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), col("payload").cast("string").as("s"))
      .filter(length(col("s")) >= 4)
      .select(col("doc_id"), graft.plans.SimHashGrams.of(col("s")).as("phash"))

  /** CPU-dense spread for fingerprint inputs (optimization r19, guide
    * §2.3): SimHashGrams is an md5-per-payload-byte map, and the media
    * frames arrive at SCAN parallelism — StageProbe r19 showed q122's
    * fingerprint pin and variant explode running on TWO tasks at sf0.1
    * (the documents layout is under the 16 MB default spread floor), i.e.
    * the eager pin's wall was a serial hash pass. The dense floor is the
    * same one the text family's hash-heavy queries use; identity when the
    * scan already has enough splits (100 TB) or the frame is not
    * scan-rooted (unit tests). */
  private def spreadDense(media: DataFrame): DataFrame =
    Tables.spread(media, Tables.CpuDenseSpreadBytes)

  // Multi-index hashing (Norouzi/Punjani/Fleet CVPR'12): a query chunk
  // matches a stored chunk when their 16-bit values differ in ≤ radius
  // bits, implemented by enumerating the query chunk's Hamming-≤radius
  // neighbourhood as extra join keys. Chosen over the r13 verdict's 8×8
  // alternative (also audited by q126): 8-bit chunks shrink the join key
  // space to 256 values — expected candidates N²·8/2/256 = N²/64, a
  // corpus-sized hot-key trap — while enumeration keeps the 65536-value
  // key space and the AT-REST chunk table unchanged (query-side-only
  // blow-up on ONE side; at radius 2, candidates N²·4·137/2/2¹⁶ ≈ N²/239,
  // 3.7× fewer). Measured recall of the rules per Hamming band is q126's
  // output.

  /** THE COST KNOB (VERDICT r14 item 4): the smallest enumeration radius
    * whose pigeonhole bound covers `maxHamming` — a pair within Hamming h
    * of the 64-bit phash has SOME 16-bit chunk within ⌊h/4⌋ bits, so
    * radius r is complete for every h ≤ 4r+3, i.e. r = ⌊h/4⌋ suffices.
    * The verify threshold therefore BUYS its own enumeration cost:
    * h ≤ 3 → 1 mask (exact chunks), h ≤ 7 → 17 masks, h ≤ 11 → 137,
    * h ≤ 15 → 697. q126 measures the recall each rule would have at
    * every band, so the threshold↔cost trade is chosen on data. */
  private[graft] def mihRadiusFor(maxHamming: Int): Int = maxHamming / 4

  /** Enumeration-cost ceiling: radius 3 = 697 masks/chunk is the largest
    * fan-out that stays cheaper than brute pair verify at realistic
    * corpus sizes; beyond it (h ≥ 16) a wider-chunk banding, not deeper
    * enumeration, is the right tool. */
  private val MIH_MAX_RADIUS = 3

  /** The 16-bit masks at Hamming ≤ `radius` (radius 2: 1+16+C(16,2) =
    * 137), as an array column literal (codegen'd explode, no join
    * against a mask table). */
  private def mihMaskArray(radius: Int): Column = {
    val ms = (0L until 65536L).filter(m => java.lang.Long.bitCount(m) <= radius)
    array(ms.map(lit): _*)
  }

  /** The query-side enumeration of [[phashChunks]] rows: each (c, ch)
    * row fans out to its Hamming-≤`radius` chunk variants — the ONE side
    * of the candidate join that blows up (137 masks → 548 rows/asset);
    * the stored side stays 4 exact rows/asset and (for the at-rest
    * index) reaches the join shuffle-free off its (c, ch) bucketing. */
  private def mihVariants(chunks: DataFrame, radius: Int): DataFrame =
    chunks.select(col("doc_id"), col("phash"), col("c"),
        explode(mihMaskArray(radius)).as("m"),
        col("ch"))
      .select(col("doc_id"), col("phash"), col("c"),
        col("ch").bitwiseXOR(col("m")).as("ch"))

  /** Media near-dup pairs over [[mediaFingerprint]]: multi-index-hash
    * candidates (16-bit chunk join with query-side enumeration at the
    * radius [[mihRadiusFor]] derives from `maxHamming` — pigeonhole-
    * complete for it by construction, so the result is the EXACT set of pairs
    * within `maxHamming`; VERDICT r13 demand 1 — the r12-r13 4×16
    * exact-chunk rule was only pigeonhole-complete to 3 and measured
    * ~22% recall at Hamming 10, q126), exact Hamming verify BEFORE the
    * dedup so only verified pairs shuffle. Returns (a, b, hamming),
    * a < b. Scale: fingerprints are one row per asset, the chunk join is
    * banded (never all-pairs), and the pair output feeds
    * ClusterState/SplitState membership unchanged — media assets then
    * ride the SAME takedown/quarantine/wall-audit machinery as
    * documents. */
  def mediaNearDupPairs(media: DataFrame, maxHamming: Int): DataFrame = {
    val radius = mihRadiusFor(maxHamming)
    require(radius <= MIH_MAX_RADIUS,
      s"mediaNearDupPairs: Hamming $maxHamming needs enumeration radius " +
        s"$radius > $MIH_MAX_RADIUS — use a wider-chunk banding instead")
    // sigs are PINNED (eager local checkpoint, 16 bytes per asset): both
    // join sides read them, and without the pin each side re-runs the
    // whole gram-explode + md5 + SimHash pipeline — at 100 TB that is a
    // second full corpus hash pass for zero benefit (measured 2× at
    // sf0.1; Spark does not reuse the aggregate exchange across the
    // self-join's branches)
    val chunks = phashChunks(
      Tables.pinEager(mediaFingerprint(spreadDense(media))))
    // SHUFFLE hash join, built on the compact exact side: the Generate
    // fan-out hides the variant side's true size from the planner, which
    // otherwise BROADCASTS the 137×-enumerated side — a corpus-sized
    // single-threaded driver build (measured 5.5 s at sf0.1; and at 100 TB
    // the self-join's sides are both corpus-sized, so the banded shuffle
    // on (c, ch) is the only correct shape anyway)
    mihVariants(chunks, radius).as("x")
      .join(chunks.as("y").hint("shuffle_hash"),
        col("x.c") === col("y.c") && col("x.ch") === col("y.ch") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(firstMatchingChunk(radius))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** FIRST-MATCHING-CHUNK dedup over the media phash — shared geometry and
    * rationale in [[Mih.firstMatchingChunk]] (this was the r16 fix that
    * removed the 2.95e9-row distinct exchange from the sf10 media sweep). */
  private def firstMatchingChunk(radius: Int): Column =
    Mih.firstMatchingChunk("phash", radius)

  /** REPRESENTATIVE output mode for media near-dup (VERDICT r15 item 1):
    * rep(d) = min({d} ∪ {e < d : hamming(d, e) ≤ maxHamming}) over the
    * fingerprinted assets — the keep-first dedup mapping (keep rows with
    * rep = doc_id, drop the rest, or group by rep for clusters).
    *
    * WHY IT EXISTS: [[mediaNearDupPairs]]' answer is the exact pair SET,
    * and under ScaleUp clique geometry that output is quadratic in clique
    * size (~12×/decade measured; the r15 sf10 sweep died on its shuffle
    * mass). This operator has the same candidate generation (banded MIH
    * join, pigeonhole-complete — "shares a bucket" is IMPLIED by
    * hamming ≤ h, so the min is over ALL qualifying neighbors, not an
    * approximation) but the verified candidate stream feeds a partial-agg
    * MIN inside the same stage: one row per ASSET crosses the wire, never
    * the O(clique²) pair set. A clique collapses to its min member in one
    * pass. A CHAIN a–b–c (hamming(a,c) > h) reps c→b and b→a — pointer
    * chains, not components; the transitive-component contract stays with
    * q122's pair set (feed ClusterState when full closure is needed).
    * Returns (doc_id, rep), one row per fingerprinted asset. */
  def mediaDedupReps(media: DataFrame, maxHamming: Int): DataFrame = {
    val radius = mihRadiusFor(maxHamming)
    require(radius <= MIH_MAX_RADIUS,
      s"mediaDedupReps: Hamming $maxHamming needs enumeration radius " +
        s"$radius > $MIH_MAX_RADIUS — use a wider-chunk banding instead")
    val sigs = Tables.pinEager(mediaFingerprint(spreadDense(media)))
    val chunks = phashChunks(sigs)
    val repOf = mihVariants(chunks, radius).as("x")
      .join(chunks.as("y").hint("shuffle_hash"),
        col("x.c") === col("y.c") && col("x.ch") === col("y.ch") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(firstMatchingChunk(radius))
      .filter(bit_count(col("x.phash").bitwiseXOR(col("y.phash"))) <= maxHamming)
      .select(col("y.doc_id").as("doc_id"), col("x.doc_id").as("cand"))
      .groupBy("doc_id")
      .agg(min("cand").as("rep_min"))
    sigs.select("doc_id")
      .join(repOf, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep_min"), col("doc_id")).as("rep"))
  }

  /** Planted-copy id offset — far above any real doc_id at every tested
    * scale (sf10 ids reach ~1.1M; 1e8 keeps a century of headroom), so a
    * planted id can never collide with an organic one. */
  private val plantOffset = 100000000L

  /** Session warm state for q125: the at-rest media phash index over the
    * corpus side (ids ≤ the q118-style 90% watermark), built once per
    * (session, dataset) — benched trials pay only the batch path. */
  private val mediaIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Long, String)]()
  WarmState.registerCache(() => mediaIndexCache.clear())

  private def mediaStateKey(d: String): String =
    try java.nio.file.Paths.get(d).toRealPath().toString
    catch { case _: java.io.IOException => d }

  private def q125IndexPrefix(s: SparkSession, d: String): (Long, String) =
    mediaIndexCache.computeIfAbsent((s, mediaStateKey(d)), _ => {
      val p = "graft_media_phash_" + math.abs(mediaStateKey(d).hashCode)
      AtRest.dropFamily(s, p)
      val docs = Tables.spread(Tables.load(s, d, "documents"))
      val thr = math.floor(
        docs.agg(max("doc_id")).collect()(0).getLong(0) * 0.9).toLong
      saveMediaPhashIndex(
        mediaOf(s, d).toDF().filter(col("doc_id") <= thr), p)
      (thr, p)
    })

  /** The 4 × 16-bit LSH chunk rows of a (doc_id, phash) fingerprint
    * frame — the STORED side of the candidate join (the query side
    * enumerates its Hamming-≤radius variants, [[mihVariants]]).
    * The full phash rides along so the Hamming verify needs NO second
    * join back to a signature table (4 rows ≈ 40 bytes per asset; the
    * join is the whole read). */
  private def phashChunks(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"), col("phash"),
      explode(Mih.chunkStructs(col("phash"))).as("cc"))
      .select(col("doc_id"), col("phash"), col("cc.c").as("c"), col("cc.ch").as("ch"))

  /** Order-independent content fingerprint of a media batch (row count,
    * XOR of per-(doc_id, payload) xxhash64) — the crash-replay exemption
    * key, same convention as the text-side index families. */
  private def mediaFingerprintOf(media: DataFrame): (Long, Long) = {
    val r = media.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("doc_id"), col("payload"))), lit(0L)).as("fp"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** AT-REST media perceptual-hash index — the SEVENTH artifact family,
    * giving multimodal the same incremental lifecycle as every text
    * index: a nightly pipeline fingerprints the corpus once, and each
    * ingest batch answers "is this asset a near-copy of something we
    * already hold?" with batch-sized work ([[mediaNearDupVsIndex]])
    * instead of re-fingerprinting the corpus per batch.
    *
    * Tables: `{p}_chunks(doc_id, phash, c, ch)` — BUCKETED BY (c, ch),
    * the candidate join's exact clustering keys, so the corpus side
    * reaches the join with zero shuffle (spec plan-asserted);
    * `{p}_meta(lo, hi, n, fp)` — id-span watermark + content
    * fingerprint, written LAST (the commit fence); `{p}_tombstones` —
    * takedown, folded in by [[compactMediaPhashIndex]]. Same guards as
    * [[CorpusOps.appendToFirstSeenIndex]]: append-only ids against the
    * watermark, fingerprint-verified crash replay, pending-tombstone
    * fail-fast. Single writer assumed, like every graft index family. */
  def saveMediaPhashIndex(media: DataFrame, namePrefix: String,
                          nBuckets: Int = 32): Unit = {
    val s = media.sparkSession
    import s.implicits._
    val span = media.agg(min("doc_id"), max("doc_id")).head()
    val rows = if (span.isNullAt(0)) Seq.empty[(Long, Long, Long, Long)]
               else {
                 val (n, fp) = mediaFingerprintOf(media)
                 Seq((span.getLong(0), span.getLong(1), n, fp))
               }
    AtRest.save(namePrefix,
      AtRest.Version("chunks", phashChunks(mediaFingerprint(media)), nBuckets, Seq("c", "ch")),
      AtRest.Version("meta", rows.toDF("lo", "hi", "n", "fp")))
  }

  /** Highest doc_id ever admitted — the append-only fence, O(1). */
  def mediaPhashWatermark(s: SparkSession, namePrefix: String): Option[Long] = {
    AtRest.open(s, namePrefix)
    if (!s.catalog.tableExists(s"${namePrefix}_meta")) None
    else s.table(s"${namePrefix}_meta").agg(max("hi")).head() match {
      case r if r.isNullAt(0) => None
      case r                  => Some(r.getLong(0))
    }
  }

  /** The live chunk table: pending tombstones dropped at read. */
  def loadMediaPhashChunks(s: SparkSession, namePrefix: String): DataFrame = {
    AtRest.open(s, namePrefix)
    AtRest.live(s, namePrefix, s.table(s"${namePrefix}_chunks"))
  }

  /** Admit a batch: O(batch) fingerprint + chunk append, `_meta` span
    * LAST. Crash replay re-runs against the anti-join (already-admitted
    * assets skipped), with the fingerprint exemption guarding same-span
    * impostors. */
  def appendToMediaPhashIndex(s: SparkSession, namePrefix: String,
                              media: DataFrame): Unit = {
    import s.implicits._
    val span = media.agg(min("doc_id"), max("doc_id")).head()
    if (span.isNullAt(0)) return
    val (bLo, bHi) = (span.getLong(0), span.getLong(1))
    AtRest.open(s, namePrefix)
    AtRest.requireNoPendingTombstone("appendToMediaPhashIndex", namePrefix, media,
      "compactMediaPhashIndex")
    val metaRow = s.table(s"${namePrefix}_meta")
      .filter(col("lo") === bLo && col("hi") === bHi).limit(1).collect().headOption
    metaRow match {
      case Some(r) =>
        val (n, fp) = mediaFingerprintOf(media)
        require(r.getLong(r.fieldIndex("n")) == n &&
            r.getLong(r.fieldIndex("fp")) == fp,
          s"appendToMediaPhashIndex: replay of span [$bLo, $bHi] presents " +
            "different content — crash-replay must re-present the original " +
            "batch byte-identically")
      case None =>
        mediaPhashWatermark(s, namePrefix).foreach { wm =>
          require(bLo > wm,
            s"appendToMediaPhashIndex: batch doc_id $bLo is not above the " +
              s"watermark $wm — ids are append-only and never reused")
        }
    }
    AtRest.append(namePrefix, "chunks", phashChunks(mediaFingerprint(media))
      .join(loadMediaPhashChunks(s, namePrefix).select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .transform(Tables.pinEager(_)), // severs the read of the append target
      bucketed = true)
    if (metaRow.isEmpty) {
      val (n, fp) = mediaFingerprintOf(media)
      AtRest.append(namePrefix, "meta", Seq((bLo, bHi, n, fp)).toDF("lo", "hi", "n", "fp"))
    }
  }

  /** TAKEDOWN: tombstone append, O(batch); [[loadMediaPhashChunks]]
    * hides the rows at read, [[compactMediaPhashIndex]] folds them in. */
  def removeFromMediaPhashIndex(namePrefix: String, docIds: DataFrame): Unit =
    AtRest.tombstone(namePrefix, docIds)

  /** Fold tombstones into the chunk files ([[AtRest.compact]]). No
    * re-attribution applies (a fingerprint belongs to exactly one asset). */
  def compactMediaPhashIndex(s: SparkSession, namePrefix: String): Unit =
    AtRest.compact(s, namePrefix, "chunks")()

  /** Batch-incident media near-dup pairs AGAINST the at-rest index —
    * output-identical to [[mediaNearDupPairs]] over (corpus ∪ batch)
    * restricted to pairs with a batch endpoint, but the only per-batch
    * work is batch-sized: fingerprint the batch (O(batch) payload
    * bytes), one chunk equi-join of the batch's ENUMERATED variants
    * (the [[mihVariants]] query side — the blow-up rides the batch)
    * against the bucketed corpus table (zero corpus-side shuffle — the
    * (c, ch) bucketing covers the join keys, and the stored side is
    * never enumerated) plus a batch-sized self-join for batch~batch
    * pairs, Hamming verify straight off the joined phashes. Complete
    * for `maxHamming` at the [[mihRadiusFor]]-derived radius. Returns
    * (a, b, hamming), a < b. Callers own batch-vs-corpus doc_id
    * uniqueness. */
  def mediaNearDupVsIndex(batch: DataFrame, s: SparkSession,
                          namePrefix: String, maxHamming: Int): DataFrame = {
    val radius = mihRadiusFor(maxHamming)
    require(radius <= MIH_MAX_RADIUS,
      s"mediaNearDupVsIndex: Hamming $maxHamming needs enumeration radius " +
        s"$radius > $MIH_MAX_RADIUS — use a wider-chunk banding instead")
    // batch sigs pinned: three branches read them (corpus-join variants,
    // self-join variants, self-join exact side) — one batch fingerprint
    // pass, not three
    val bChunks = phashChunks(
      Tables.pinEager(mediaFingerprint(spreadDense(batch))))
    val bVariants = mihVariants(bChunks, radius)
    val corpus = loadMediaPhashChunks(s, namePrefix)
    // first-matching-chunk dedup on both branches (see
    // [[firstMatchingChunk]]): batch~corpus and batch~batch pairs each
    // exit their join exactly once, and the id sets are disjoint (caller
    // contract), so no distinct is needed across the union either
    val candCorpus = bVariants.as("x")
      .join(corpus.as("y"),
        col("x.c") === col("y.c") && col("x.ch") === col("y.ch") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .filter(firstMatchingChunk(radius))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).cast("bigint").as("hamming"))
    val candBatch = bVariants.as("x")
      .join(bChunks.as("y"),
        col("x.c") === col("y.c") && col("x.ch") === col("y.ch") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(firstMatchingChunk(radius))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).cast("bigint").as("hamming"))
    candCorpus.unionByName(candBatch)
      .filter(col("hamming") <= maxHamming)
  }

  /** Write-then-sort pin for the exact-pair ORDER BY, conditioned on
    * corpus scale (optimization r18): the ORDER BY's range sampler
    * re-executes the whole MIH enumeration + verify join, but the pinned
    * mass is the pair set, which under planted-clique geometry grows
    * ~quadratically per decade (the r16 sf10 sweep ENOSPC'd on this
    * query's shuffle mass). Pins only when [[graft.Tables.sizeOf]] of the
    * basis is known and at most 1 GB (sf10, ~507 MB: a 189 MB pair set
    * saved a second 1279 task-s candidate pass); a larger or unknown size
    * keeps the recompute-over-disk plan. The scale answer to q122's cost
    * remains q128's rep mode. */
  private[graft] def pinPairsIfSmall(pairs: DataFrame, basis: DataFrame): DataFrame =
    if (Tables.sizeOf(basis).exists(_ <= (1L << 30))) Tables.pin(pairs)
    else pairs

  /** The planted q122/q127/q128 corpus (originals ∪ perturbed copies of
    * every 5th asset) — one definition, three queries. */
  private def q122Corpus(s: SparkSession, d: String): DataFrame = {
    val media = mediaOf(s, d).toDF()
    val planted = media.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + plantOffset).as("doc_id"), col("kind"),
        concat(col("payload").cast("string"), lit(" zz"),
          (col("doc_id") % 7).cast("string")).cast("binary").as("payload"))
    media.unionByName(planted)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Full multimodal pipeline: synthesize binary payloads from documents,
    // decode per partition batch, project typed features.
    "q70_media_features" -> ((s, d) => {
      // sortOnce: the decode map would otherwise run twice (range sampler
      // + sort exchange) — see Tables.sortOnce scaladoc
      Tables.sortOnce(mediaOf(s, d)
        .mapPartitions(_.map(decodeStub))(org.apache.spark.sql.Encoders.product[MediaFeatures])
        .toDF(),
        "doc_id")
    }),

    // Downstream relational aggregation over extracted features — shows the
    // decode output is a first-class DataFrame for the usual operator set.
    "q71_media_stats" -> ((s, d) => {
      mediaOf(s, d)
        .mapPartitions(_.map(decodeStub))(org.apache.spark.sql.Encoders.product[MediaFeatures])
        .toDF()
        .groupBy("kind")
        .agg(
          count(lit(1)).as("n"),
          sum("n_bytes").as("total_bytes"),
          round(avg("width"), 4).as("avg_width"),
          max("n_frames").as("max_frames"))
        .transform(df => Tables.sortSmall(df, "kind"))
    }),

    // Frame sampling: for video, take every ⌈n_frames/8⌉-th frame — the
    // row-generating media op (one output row per sampled frame). The
    // per-frame "extracted" hash is stub-derived from the content hash via
    // overflow-free modular arithmetic, so the oracle replays it; real
    // decoders swap in at the frame_hash projection.
    "q72_media_frame_sample" -> ((s, d) => {
      val features = mediaOf(s, d)
        .mapPartitions(_.map(decodeStub))(org.apache.spark.sql.Encoders.product[MediaFeatures])
        .toDF()
      Tables.sortOnce(features
        .filter(col("kind") === "video")
        .withColumn("stride", greatest(lit(1L), floor(col("n_frames") / 8).cast("bigint")))
        .select(
          col("doc_id"), col("n_frames"), col("stride"),
          explode(sequence(lit(0L), col("n_frames") - 1, col("stride"))).as("frame_idx"),
          col("content_hash"))
        .withColumn("frame_hash",
          (col("content_hash") % 1000000007L * 31 + col("frame_idx")) % 1000000007L)
        .select("doc_id", "n_frames", "stride", "frame_idx", "frame_hash"),
        "doc_id", "frame_idx")
    }),

    // MEDIA NEAR-DUP (VERDICT r12 demand 4): every 5th media asset gets a
    // planted PERTURBED copy (id + plantOffset = 1e8 — far above every
    // organic id; a short suffix appended to the
    // payload — the re-encode/metadata-jitter stand-in), and the
    // perceptual SimHash pipeline must find each copy a few Hamming bits
    // from its original while exact-dup documents surface at distance 0.
    // The pair set is what feeds cluster/split membership (spec'd in
    // MultimodalSpec: a media near-dup lands in the same cluster and
    // therefore the same split as its original — the takedown/wall-audit
    // machinery covers media assets for free from here).
    "q122_media_neardup" -> ((s, d) => {
      // write-then-sort only at SMALL scale (see [[pinPairsIfSmall]]):
      // the ORDER BY's range sampler re-executes the enumeration+verify
      // pipeline, but unconditionally pinning the pair set (~30 GB at
      // the r16 sf10 geometry) on top of the sort's own spill would
      // court exactly the r16 ENOSPC on a bench-sized disk. Below the
      // dispatch threshold the pin is pure win; above it the committed
      // recompute-over-disk trade stands unchanged. The dispatch basis
      // is the CORPUS FRAME ITSELF (scan-rooted on documents, so its
      // size is known) — not the raw documents table — so the
      // threshold tracks what the pair set is actually derived from
      // (ADVICE r18: the documents-table basis silently coupled the
      // measured headroom to mediaOf's derivation and the plant rate).
      val corpus = q122Corpus(s, d)
      pinPairsIfSmall(
        mediaNearDupPairs(corpus, maxHamming = 10), corpus)
        .orderBy("a", "b")
    }),

    // q122's CHEAP CONFIGURATION (VERDICT r14 item 4): verify threshold 7
    // → mihRadiusFor derives radius 1 (17 masks/chunk vs 137 — an 8×
    // smaller query-side fan-out) and the answer is still the EXACT
    // Hamming-≤7 pair set by the same pigeonhole bound (4·1+3 = 7). The
    // takedown loop picks its threshold from q126's per-band recall curve;
    // this entry prices the tighter band and oracle-proves its exactness.
    "q127_media_neardup_h7" -> ((s, d) => {
      // scale-conditional write-then-sort, same dispatch (and same
      // corpus-frame basis) as q122
      val corpus = q122Corpus(s, d)
      pinPairsIfSmall(
        mediaNearDupPairs(corpus, maxHamming = 7), corpus)
        .orderBy("a", "b")
    }),

    // REPRESENTATIVE output mode (VERDICT r15 item 1): the same planted
    // corpus as q122, answered as a keep-first dedup mapping instead of
    // the pair set — one output row per asset, pair mass never shuffled
    // (see [[mediaDedupReps]]). The oracle derives the same min-smaller-
    // neighbor mapping from the EXHAUSTIVE pair CTE, so a green row
    // proves the banded min-agg path ≡ "min over ALL Hamming-≤10
    // neighbors" — the pigeonhole completeness argument, answer-checked.
    "q128_media_dedup_reps" -> ((s, d) => {
      // write-then-sort, UNCONDITIONAL (the q129 treatment, optimization
      // r18): without the pin the ORDER BY's range sampler re-executed
      // the whole MIH candidate+verify+min-agg pipeline — the rep mode's
      // one-row-per-asset output is small by construction at EVERY
      // scale, so the pin never carries pair mass.
      mediaDedupReps(q122Corpus(s, d), maxHamming = 10)
        .transform(Tables.pin)
        .orderBy("doc_id")
    }),

    // INCREMENTAL media near-dup — q122's ingest form against the
    // AT-REST perceptual-hash index (the q74/q87/q115 maintenance
    // contract applied to media): the corpus (ids ≤ the 90% watermark)
    // is fingerprinted ONCE into the bucketed chunk table; the batch
    // (later arrivals + planted perturbed copies of corpus assets) is
    // answered with batch-sized work. The oracle replays the FULL
    // corpus∪batch pipeline restricted to batch-incident pairs, so a
    // green row proves the O(batch) index path ≡ the O(corpus)
    // recompute.
    "q125_media_vs_index" -> ((s, d) => {
      val (thr, p) = q125IndexPrefix(s, d)
      val media = mediaOf(s, d).toDF()
      val organic = media.filter(col("doc_id") > thr)
      val planted = media.filter(col("doc_id") % 5 === 0 && col("doc_id") <= thr)
        .select((col("doc_id") + plantOffset).as("doc_id"), col("kind"),
          concat(col("payload").cast("string"), lit(" zz"),
            (col("doc_id") % 7).cast("string")).cast("binary").as("payload"))
      // write-then-sort (the q116 treatment): the pinned mass is
      // batch-incident pairs — O(batch), never corpus-sized — and
      // without it the sampler re-ran the batch fingerprint + both
      // candidate joins per invocation.
      mediaNearDupVsIndex(organic.unionByName(planted), s, p, maxHamming = 10)
        .transform(Tables.pin)
        .orderBy("a", "b")
    }),

    // Resize-to-fit 224×224 (aspect preserved): the geometry is exact
    // integer math (floor division by the max dimension) on both engines;
    // the resized-payload hash is stub-derived like q72.
    // MEDIA-LSH RECALL AUDIT (VERDICT r13 demand 1) — the q67/q96
    // pattern applied to the perceptual family: a planted GRADED-HAMMING
    // family (every other doc × perturbation strengths k = 0..12, k
    // deterministic appended tokens each) whose ground truth needs NO
    // candidate join — each copy's one true match is its own original,
    // and the pair's Hamming is computed directly from the two phashes.
    // Per measured-Hamming band the query reports the recall of THREE
    // candidate rules: the r12-r13 exact-chunk match (min chunk distance
    // = 0 — pigeonhole-complete only to 3), radius-1 enumeration
    // (complete to 7), and the shipped radius-2 enumeration (complete to
    // 11). A candidate rule "finds" the pair iff some 16-bit chunk of
    // the XOR has popcount ≤ radius — exactly the banded join's match
    // condition, evaluated arithmetically. This is the number that
    // licenses media dedup at scale: what the wall audit NEVER SEES per
    // band, for each banding the engine could ship.
    "q126_media_lsh_recall" -> ((s, d) => {
      // FIXED-SIZE planted family (every other doc among ids < 1000 —
      // the full 250-doc sample at the sf0.01 correctness gate, capped
      // at 500 docs × 13 grades = 6.5k graded pairs from sf0.1 up): the
      // audit measures a property of the BANDING, not of the corpus, so
      // its cost must not scale with corpus size
      // CPU-dense spread floor: the 13-grade fingerprint fan-out below is
      // pure per-row hashing off this scan (3-trial A/B r18: 0.66 -> 0.43 s)
      val variants = Tables
        .spread(Tables.load(s, d, "documents"), Tables.CpuDenseSpreadBytes)
        .filter(col("doc_id") % 2 === 0 && col("doc_id") < 1000)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(12))).as("k"))
        .select(
          (col("doc_id") * 13 + col("k")).as("doc_id"),
          when(col("k") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" "), expr(
              "concat_ws(' ', transform(sequence(1, k), " +
                "j -> concat('pq', cast(k as string), 'x', cast(j as string))))")))
            .cast("binary").as("payload"))
      val sigs = mediaFingerprint(variants.withColumn("kind", lit("image")))
        .transform(Tables.pinEager(_)) // read by both pair endpoints
      val origs = sigs.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id").as("base"), col("phash").as("po"))
      val copies = sigs
        .select((col("doc_id") - col("doc_id") % 13).as("base"),
          col("phash").as("pv"))
      copies.join(origs, "base")
        .withColumn("x", col("po").bitwiseXOR(col("pv")))
        .withColumn("hamming", bit_count(col("x")).cast("bigint"))
        .withColumn("mincd", least((0 until Mih.ChunkCount).map(c =>
          bit_count(Mih.chunk(col("x"), c))): _*))
        .groupBy("hamming")
        .agg(
          count(lit(1)).as("n"),
          sum((col("mincd") === 0).cast("long")).as("n_exact"),
          sum((col("mincd") <= 1).cast("long")).as("n_r1"),
          sum((col("mincd") <= 2).cast("long")).as("n_r2"))
        .select(col("hamming"), col("n"), col("n_exact"), col("n_r1"), col("n_r2"),
          round(col("n_exact") / col("n"), 4).as("exact_recall"),
          round(col("n_r1") / col("n"), 4).as("r1_recall"),
          round(col("n_r2") / col("n"), 4).as("r2_recall"))
        .transform(df => Tables.sortSmall(df, "hamming"))
    }),

    "q73_media_resize" -> ((s, d) => {
      val features = mediaOf(s, d)
        .mapPartitions(_.map(decodeStub))(org.apache.spark.sql.Encoders.product[MediaFeatures])
        .toDF()
      val m = greatest(col("width"), col("height"))
      Tables.sortOnce(features
        .filter(col("kind") === "image")
        .withColumn("out_w", greatest(lit(1L), floor(col("width") * 224 / m).cast("bigint")))
        .withColumn("out_h", greatest(lit(1L), floor(col("height") * 224 / m).cast("bigint")))
        .withColumn("resized_hash",
          (col("content_hash") % 1000000007L * 37 + col("out_w") * 224 + col("out_h")) % 1000000007L)
        .select("doc_id", "width", "height", "out_w", "out_h", "resized_hash"),
        "doc_id")
    }))

  /** The perceptual SIGNATURE pipeline in SQL (expects a `media(doc_id,
    * s)` CTE in scope): sliding char 4-grams (sub-gram payloads
    * excluded), md5 per gram, per-bit majority vote → `sig(doc_id, lo,
    * hi)`, the 64-bit phash split across two BIGINTs. */
  private val phashSigSql: String =
    """ grams AS (SELECT doc_id, substr(s, CAST(i AS INTEGER), 4) AS g
      |           FROM (SELECT * FROM media WHERE length(s) >= 4) media,
      |                LATERAL unnest(range(1, length(s) - 3 + 1)) t(i)),
      | th AS (SELECT doc_id, md5_number_lower(g) AS th FROM grams),
      | votes AS (SELECT doc_id, b, sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |           FROM th CROSS JOIN range(64) t(b) GROUP BY doc_id, b),
      | sig AS (SELECT doc_id,
      |   CAST(sum(CASE WHEN v > 0 AND b < 32 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS lo,
      |   CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN (1::BIGINT << (b - 32)) ELSE 0 END) AS BIGINT) AS hi
      |   FROM votes GROUP BY doc_id)""".stripMargin

  /** The shared near-dup SQL tail: [[phashSigSql]] plus the candidate
    * pairs — an EXHAUSTIVE Hamming computation over sig × sig,
    * deliberately independent of the engine's chunk-enumeration
    * candidate path (VERDICT r13 demand 1: a green row must prove
    * recall, not implementation-equivalence). Affordable because the
    * oracle runs at sf0.01. */
  private val phashPairsSql: String =
    s"""$phashSigSql,
      | pairs AS (SELECT x.doc_id AS a, y.doc_id AS b,
      |   CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hamming
      |   FROM sig x JOIN sig y ON x.doc_id < y.doc_id)""".stripMargin

  /** The decode stub replayed in SQL: same md5-derived 63-bit hash, same
    * modular feature derivation (all values non-negative, so % and >> agree
    * across engines). */
  private val featuresSql: String =
    """SELECT doc_id,
      | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      | CAST(strlen(text) AS BIGINT) AS n_bytes,
      | 64 + h % 960 AS width,
      | 64 + (h >> 17) % 960 AS height,
      | CASE doc_id % 3 WHEN 2 THEN 1 + (h >> 31) % 240
      |                 WHEN 1 THEN 1 + (h >> 31) % 48000 ELSE 1 END AS n_frames,
      | h AS content_hash
      |FROM (SELECT doc_id, text,
      |  CAST(md5_number_lower(text) & 9223372036854775807::UBIGINT AS BIGINT) AS h
      | FROM documents) t""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q70_media_features" ->
      s"""SELECT doc_id, kind, n_bytes, width, height, n_frames, content_hash
         |FROM ($featuresSql) f ORDER BY doc_id""".stripMargin,

    "q71_media_stats" ->
      s"""SELECT kind, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         | round(avg(width), 4) AS avg_width, max(n_frames) AS max_frames
         |FROM ($featuresSql) f GROUP BY kind ORDER BY kind""".stripMargin,

    "q72_media_frame_sample" ->
      s"""WITH f AS (SELECT * FROM ($featuresSql) t WHERE kind = 'video'),
         | st AS (SELECT doc_id, n_frames, content_hash,
         |        greatest(1, n_frames // 8) AS stride FROM f),
         | u AS (SELECT doc_id, n_frames, stride, content_hash,
         |       unnest(range(0, n_frames, stride)) AS frame_idx FROM st)
         |SELECT doc_id, n_frames, stride, frame_idx,
         | (content_hash % 1000000007 * 31 + frame_idx) % 1000000007 AS frame_hash
         |FROM u ORDER BY doc_id, frame_idx""".stripMargin,

    // Replays the planted union and the signature arithmetic, then pairs
    // EXHAUSTIVELY (sig × sig bit_count, no chunk machinery) — since r14
    // the engine's radius-2 enumeration is pigeonhole-complete to Hamming
    // 11 > the verify threshold 10, so the exact Hamming-range answer is
    // the contract and the oracle is INDEPENDENT of the candidate path
    // (VERDICT r13: the old chunk-replay oracle could not see a missed
    // pair).
    "q122_media_neardup" ->
      s"""WITH media AS (
        |   SELECT doc_id, text AS s FROM documents
        |   UNION ALL
        |   SELECT doc_id + $plantOffset AS doc_id, text || ' zz' || CAST(doc_id % 7 AS VARCHAR) AS s
        |   FROM documents WHERE doc_id % 5 = 0),
        |$phashPairsSql
        |SELECT a, b, hamming FROM pairs WHERE hamming <= 10 ORDER BY a, b""".stripMargin,

    // The cheap configuration's oracle is q122's exhaustive computation
    // at the tighter threshold — same independence from the candidate
    // path, so a radius-1 recall miss would surface as a hash mismatch.
    "q127_media_neardup_h7" ->
      s"""WITH media AS (
        |   SELECT doc_id, text AS s FROM documents
        |   UNION ALL
        |   SELECT doc_id + $plantOffset AS doc_id, text || ' zz' || CAST(doc_id % 7 AS VARCHAR) AS s
        |   FROM documents WHERE doc_id % 5 = 0),
        |$phashPairsSql
        |SELECT a, b, hamming FROM pairs WHERE hamming <= 7 ORDER BY a, b""".stripMargin,

    // The representative mode's oracle: min smaller Hamming-≤10 neighbor
    // from the exhaustive pair CTE (no chunk machinery), self otherwise —
    // independent of the engine's banded candidate path, like q122's.
    "q128_media_dedup_reps" ->
      s"""WITH media AS (
        |   SELECT doc_id, text AS s FROM documents
        |   UNION ALL
        |   SELECT doc_id + $plantOffset AS doc_id, text || ' zz' || CAST(doc_id % 7 AS VARCHAR) AS s
        |   FROM documents WHERE doc_id % 5 = 0),
        |$phashPairsSql,
        | r AS (SELECT b AS doc_id, min(a) AS rep FROM pairs
        |       WHERE hamming <= 10 GROUP BY b)
        |SELECT s.doc_id, coalesce(r.rep, s.doc_id) AS rep
        |FROM sig s LEFT JOIN r USING (doc_id) ORDER BY s.doc_id""".stripMargin,

    // The incremental path must equal the full corpus∪batch EXACT
    // Hamming-range answer, so its oracle is q122's exhaustive
    // computation with the corpus side restricted to ids ≤ the 90%
    // watermark and the output restricted to batch-incident pairs
    // (greater endpoint in the batch) — again independent of the
    // chunk-enumeration candidate path.
    "q125_media_vs_index" ->
      s"""WITH thr AS (SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS mx FROM documents),
        | media AS (
        |   SELECT doc_id, text AS s FROM documents
        |   UNION ALL
        |   SELECT doc_id + $plantOffset AS doc_id, text || ' zz' || CAST(doc_id % 7 AS VARCHAR) AS s
        |   FROM documents, thr WHERE doc_id % 5 = 0 AND doc_id <= thr.mx),
        |$phashPairsSql
        |SELECT a, b, hamming FROM pairs, thr
        |WHERE hamming <= 10 AND b > thr.mx ORDER BY a, b""".stripMargin,

    // The recall audit's oracle: same planted family, same signature
    // arithmetic, per-pair Hamming + min-chunk-distance computed
    // directly from the two phashes (ground truth = id arithmetic —
    // every copy's true match is its own original by construction, so
    // NO candidate generation is replayed anywhere and a recall loss in
    // any banding is fully visible).
    "q126_media_lsh_recall" ->
      s"""WITH media AS (
        |   SELECT doc_id * 13 + k AS doc_id,
        |     CASE WHEN k = 0 THEN text
        |          ELSE text || ' ' || array_to_string(list_transform(range(1, k + 1),
        |                 j -> 'pq' || CAST(k AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' ') END AS s
        |   FROM documents, LATERAL unnest(range(0, 13)) t(k)
        |   WHERE doc_id % 2 = 0 AND doc_id < 1000),
        |$phashSigSql,
        | o AS (SELECT doc_id AS base, lo AS olo, hi AS ohi FROM sig WHERE doc_id % 13 = 0),
        | pr AS (SELECT
        |     CAST(bit_count(xor(v.lo, o.olo)) + bit_count(xor(v.hi, o.ohi)) AS BIGINT) AS hamming,
        |     least(bit_count(xor(v.lo, o.olo) & 65535),
        |           bit_count((xor(v.lo, o.olo) >> 16) & 65535),
        |           bit_count(xor(v.hi, o.ohi) & 65535),
        |           bit_count((xor(v.hi, o.ohi) >> 16) & 65535)) AS mincd
        |   FROM sig v JOIN o ON (v.doc_id // 13) * 13 = o.base)
        |SELECT hamming, count(*) AS n,
        |  CAST(sum(CASE WHEN mincd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN mincd <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r1,
        |  CAST(sum(CASE WHEN mincd <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
        |  round(sum(CASE WHEN mincd = 0 THEN 1 ELSE 0 END) / count(*), 4) AS exact_recall,
        |  round(sum(CASE WHEN mincd <= 1 THEN 1 ELSE 0 END) / count(*), 4) AS r1_recall,
        |  round(sum(CASE WHEN mincd <= 2 THEN 1 ELSE 0 END) / count(*), 4) AS r2_recall
        |FROM pr GROUP BY hamming ORDER BY hamming""".stripMargin,

    "q73_media_resize" ->
      s"""WITH f AS (SELECT * FROM ($featuresSql) t WHERE kind = 'image')
         |SELECT doc_id, width, height,
         | greatest(1, (width * 224) // greatest(width, height)) AS out_w,
         | greatest(1, (height * 224) // greatest(width, height)) AS out_h,
         | (content_hash % 1000000007 * 37 +
         |  greatest(1, (width * 224) // greatest(width, height)) * 224 +
         |  greatest(1, (height * 224) // greatest(width, height))) % 1000000007 AS resized_hash
         |FROM f ORDER BY doc_id""".stripMargin)
}
