package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** DURABLE train/valid/test split assignment — the FIFTH at-rest artifact
  * (after the MinHash, prefix, first-seen and containment indexes plus
  * ClusterState), and the one whose entire contract is that assignments
  * NEVER move silently (VERDICT r11 demand 1).
  *
  * Why it must be at rest: [[DedupOps.splitApply]]'s leakage guarantee
  * hashes the near-dup CLUSTER representative, and representatives CHURN —
  * a committed cross-cluster merge (the q87 insert path) or a deletion
  * that removes a component's minimum member (the q110 path) changes the
  * rep, so re-hashing on the next read silently moves an entire cluster
  * across the train/test wall between snapshots. The recorded assignment,
  * consulted BEFORE any hash, is the only thing that makes "sticky" a
  * durable property rather than a per-call accident.
  *
  * STORAGE (log-structured, catalog tables, one family per `namePrefix` —
  * the first-seen index's spelling):
  *
  *  - `{p}_assign(doc_id, split, seq)` — APPEND-ONLY; a doc's effective
  *    split is its row with the highest COMMITTED seq. One row per doc at
  *    init, one more per explicit re-adjudication ([[resolve]] — rare),
  *    so the table stays ~corpus-sized; [[compact]] collapses history.
  *    Bucketed by `doc_id`: the load's latest-per-doc aggregate and every
  *    doc-keyed consumer join shuffle-free off the scan.
  *  - `{p}_meta(seq, lo, hi, kind, n, fp)` — ONE row per committed operation,
  *    written LAST. Commit fence and crash protocol in one: assign/move
  *    rows land first, the meta row last, and readers ignore rows whose
  *    seq never committed — a crashed operation is invisible until its
  *    deterministic re-run commits it ([[ClusterState.save]]'s versioning
  *    idea, without rewriting the corpus-sized table per batch). `lo`/`hi`
  *    is the id span of init/apply batches — the append-only id WATERMARK
  *    — and doubles as the crash-replay exemption key; `n`/`fp` is the
  *    operation's content fingerprint, so the exemption admits only the
  *    ORIGINAL batch, never a same-span impostor.
  *  - `{p}_moves(doc_id, from_split, to_split, reason, seq)` — the AUDIT
  *    trail. Stickiness here means no SILENT movement: the one operation
  *    allowed to move a doc ([[resolve]]) records every move with its
  *    reason (`realign` / `quarantine_drain`). COMMITTED history is never
  *    dropped; [[compact]] only purges uncommitted orphan rows a crashed
  *    resolve left below no fence (one at-rest commit — the audit trail
  *    is never exposed to a non-atomic in-place overwrite).
  *  - `{p}_pairs(a, b, jac, seq)` — the VERIFIED near-dup pairs the
  *    assignments were derived FROM (the sixth at-rest artifact, VERDICT
  *    r12 demand 1): day-0 corpus pairs at init time, each batch's
  *    incident pairs as they are discovered ([[recordPairs]]) — the exact
  *    frames admission/split maintenance already computes and used to
  *    throw away. The nightly wall audit then reads recorded pairs
  *    instead of re-mining the corpus: the one O(corpus) recurring job
  *    becomes an O(pairs) join ([[loadPairs]]).
  *  - `{p}_tombstones(doc_id)` — takedown, O(batch) append; [[load]]
  *    filters, [[compact]] folds into the files.
  *
  * QUARANTINE RESOLUTION (VERDICT r11 demand 2): [[assign]] emits
  * `quarantine` for a batch doc whose component spans clusters recorded
  * under DIFFERENT splits (picking a side would move corpus docs over the
  * wall mid-snapshot). [[resolve]], run after the disputed merge is
  * COMMITTED to ClusterState, drains the pool: the merged component's
  * canonical split is the recorded split of its SENIOR member (smallest
  * doc_id among non-quarantine recorded members — ids are arrival-ordered,
  * so the senior side is the one whose assignment has been in force
  * longest and is most likely already consumed downstream); quarantined
  * members inherit it and junior-side members are REALIGNED to it, each
  * with an audit row. Why this cannot leak: corpus~corpus near-dup edges
  * are complete at init (both endpoints got the same cluster hash), so a
  * cross-split edge can only enter through a NEW doc — which [[assign]]
  * quarantines (neither train nor test) for as long as the dispute is
  * open; after [[resolve]], every component is homogeneous again. At no
  * snapshot does a near-dup edge read train on one end and test on the
  * other. A component with ONLY quarantined members (its assigned
  * neighbours were all taken down) hashes its current rep — recorded from
  * then on, so later churn cannot move it.
  *
  * Scale: [[assign]] is O(batch + touched-component members) — the
  * component-verdict aggregate is pruned to the batch's own comps, never
  * a state-wide pass (the admissionDrain lesson); [[load]] is one
  * zero-exchange latest-per-doc aggregate off the bucketed scan;
  * [[resolve]] and [[compact]] are deliberately O(state) maintenance-
  * cadence passes. No pairwise work anywhere. Single writer assumed,
  * like every graft index family; a transactional table format subsumes
  * `_meta` fencing at cluster scale. */
object SplitState {

  /** Deterministic 80/10/10 split bucket of a cluster representative:
    * md5-keyed (engine-neutral, replayed by the DuckDB oracle),
    * tag-decorrelated from the sampling keys. Hashing the REP is the
    * q117/q118 leakage guarantee — every member of a cluster gets the
    * same bucket. Consulted ONLY for never-recorded docs; recorded
    * assignments always win. */
  def splitOf(rep: Column): Column = {
    val bkt = shiftrightunsigned(
      graft.plans.Md5Lower64.of(concat(lit("split:"), rep.cast("string"))), 1) % 100
    when(bkt < 80, "train").when(bkt < 90, "valid").otherwise("test")
  }

  private def assignT(p: String) = AtRest.table(p, "assign")
  private def metaT(p: String) = AtRest.table(p, "meta")
  private def movesT(p: String) = AtRest.table(p, "moves")
  private def pairsT(p: String) = AtRest.table(p, "pairs")

  /** Opens the family ([[AtRest.open]]) — called before every `_meta`
    * read, so the fence and every table an operation then reads or appends
    * to are the durable ones. */
  private def metaExists(s: SparkSession, p: String): Boolean = {
    AtRest.open(s, p)
    s.catalog.tableExists(metaT(p))
  }

  /** Highest committed operation seq, -1 for a virgin prefix. */
  def committedSeq(s: SparkSession, namePrefix: String): Long =
    if (!metaExists(s, namePrefix)) -1L
    else s.table(metaT(namePrefix)).agg(max("seq")).head() match {
      case r if r.isNullAt(0) => -1L
      case r                  => r.getLong(0)
    }

  /** Order-independent content fingerprint of a batch's doc_id set:
    * (row count, XOR of per-id xxhash64 — commutative, overflow-free).
    * Recorded in `_meta` beside each apply span so the crash-replay
    * exemption in [[assign]] verifies the re-presented batch is the
    * ORIGINAL one, not merely span-equal (the
    * [[CorpusOps.appendToFirstSeenIndex]] guard, ADVICE r11, applied to
    * the newest artifact family — VERDICT r12). */
  private def idFingerprint(ids: DataFrame): (Long, Long) = {
    val r = ids.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)).as("fp")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Fingerprint of a pair set, keyed on the unordered-pair identity. */
  private def pairFingerprint(pairs: DataFrame): (Long, Long) = {
    val r = pairs.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("fp")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Verify a replayed operation's recorded fingerprint against the
    * re-presented content; a span row written before the fingerprint
    * columns existed (null `fp`) falls back to the span-only exemption. */
  private def requireFingerprint(metaRow: org.apache.spark.sql.Row,
                                 actual: => (Long, Long), what: String): Unit =
    if (metaRow.schema.fieldNames.contains("fp") &&
        !metaRow.isNullAt(metaRow.fieldIndex("fp"))) {
      val (n, fp) = actual
      val (rn, rfp) = (metaRow.getLong(metaRow.fieldIndex("n")),
        metaRow.getLong(metaRow.fieldIndex("fp")))
      require(rn == n && rfp == fp,
        s"$what: replay presents different content (fingerprint ($n, $fp) " +
          s"vs recorded ($rn, $rfp)) — crash-replay must re-present the " +
          "original batch byte-identically")
    }

  /** Highest doc_id ever admitted (max `hi` over init/apply spans ONLY —
    * a `pairs` row carries its batch's span too, but lands BEFORE the
    * batch's apply fence and must not pre-advance the admission
    * watermark past the batch it belongs to) — the append-only id fence,
    * O(1) off `_meta`. */
  def watermark(s: SparkSession, namePrefix: String): Option[Long] =
    if (!metaExists(s, namePrefix)) None
    else s.table(metaT(namePrefix))
      .filter(col("kind").isin("init", "apply"))
      .agg(max("hi")).head() match {
      case r if r.isNullAt(0) => None
      case r                  => Some(r.getLong(0))
    }

  /** The effective at-rest assignment: (doc_id, split), latest COMMITTED
    * row per doc, pending tombstones dropped at read. This is the frame
    * every consumer joins BEFORE any hash is considered. */
  def load(s: SparkSession, namePrefix: String): DataFrame = {
    val committed = committedSeq(s, namePrefix)
    val latest = s.table(assignT(namePrefix))
      .filter(col("seq") <= committed)
      .groupBy("doc_id")
      .agg(max_by(col("split"), col("seq")).as("split"))
    AtRest.live(s, namePrefix, latest)
  }

  /** Bootstrap the family: the q117 assignment (hash of each doc's cluster
    * rep, singletons self-representing) recorded for EVERY doc, seq 0.
    * `docs` = (doc_id), `labels` = (node, label) cluster assignment the
    * reps derive from. Refuses a prefix that already has committed state —
    * init is not an upsert. */
  def init(s: SparkSession, namePrefix: String, docs: DataFrame,
           labels: DataFrame, nBuckets: Int = 32): Unit = {
    require(committedSeq(s, namePrefix) < 0L,
      s"SplitState.init: $namePrefix already has committed state — " +
        "use assign/resolve/remove to maintain it")
    val span = docs.agg(min("doc_id"), max("doc_id")).head()
    if (span.isNullAt(0)) return
    val rows = docs.select("doc_id")
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("split", splitOf(coalesce(col("label"), col("doc_id"))))
      .select(col("doc_id"), col("split"), lit(0L).as("seq"))
    AtRest.save(namePrefix, AtRest.Version("assign", rows, nBuckets, Seq("doc_id")),
      AtRest.Version("meta", metaRow(s, 0L, Some((span.getLong(0), span.getLong(1))),
        "init", Some(idFingerprint(docs.select("doc_id"))))))
  }

  /** Record splits for a NEW batch of docs, consulting the state FIRST —
    * the at-rest form of [[DedupOps.splitApply]]. `labels` is the UPDATED
    * cluster assignment (after the batch's pairs were contracted in, the
    * q87 shape); `batch` = (doc_id) of the new docs. Per batch doc's
    * component, among RECORDED members:
    *
    *  - ≥2 distinct non-quarantine splits → `quarantine` (a cross-split
    *    bridge: the cluster's identity is in dispute until [[resolve]]);
    *  - exactly 1 → inherit it (any quarantined members will drain to the
    *    same split, so inheriting now cannot diverge);
    *  - none, but quarantined members present → `quarantine` (the dispute
    *    owns the component until resolve picks its canonical);
    *  - no recorded members at all → [[splitOf]] the component rep,
    *    recorded from here on.
    *
    * GUARDS: batch ids must be ABOVE the `_meta` watermark (ids are
    * arrival-ordered and never reused; this also makes "already recorded"
    * impossible). Replay of a COMMITTED batch (same (lo, hi) span in
    * `_meta`) is a recorded no-op; a crashed attempt's orphan rows are
    * adopted by the deterministic re-run. Orphan rows at the next seq
    * belonging to a DIFFERENT batch fail fast — run [[compact]] to purge
    * an abandoned attempt. */
  def assign(s: SparkSession, namePrefix: String, batch: DataFrame,
             labels: DataFrame): Unit = {
    require(metaExists(s, namePrefix),
      s"SplitState.assign: $namePrefix has no committed state — init first")
    val span = batch.agg(min("doc_id"), max("doc_id")).head()
    if (span.isNullAt(0)) return
    val (bLo, bHi) = (span.getLong(0), span.getLong(1))
    val replayRow = s.table(metaT(namePrefix))
      .filter(col("lo") === bLo && col("hi") === bHi && col("kind") === "apply")
      .limit(1).collect().headOption
    replayRow.foreach { r =>
      // committed batch: recorded no-op — but only for the SAME batch. A
      // re-run presenting the same (lo, hi) with different ids (violated
      // single-writer contract, or a non-deterministic regeneration) must
      // fail fast, not silently leave those docs assigned under the OLD
      // content's clusters (VERDICT r12 wrong-item 1).
      requireFingerprint(r, idFingerprint(batch.select("doc_id")),
        s"SplitState.assign($namePrefix, [$bLo, $bHi])")
      return
    }
    watermark(s, namePrefix).foreach { wm =>
      require(bLo > wm,
        s"SplitState.assign: batch doc_id $bLo is not above the watermark " +
          s"$wm — ids are append-only and never reused (re-running a " +
          "crashed assign of the SAME batch is the one sanctioned overlap)")
    }
    val next = committedSeq(s, namePrefix) + 1
    val lab = labels.withColumnRenamed("node", "doc_id")
    val bc = batch.select("doc_id")
      .join(lab, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("label"), col("doc_id")))
    // O(batch + touched members), NOT O(state): only the batch's own
    // components can contribute recorded splits, and every recorded
    // member of a touched component appears in `labels` (a batch doc
    // adjacent to a state doc forces both into the contracted label
    // set), so the component-verdict aggregate reads exactly the touched
    // comps' members — the batch-sized frames broadcast, and the state
    // scan stays a pruned bucketed read, never a corpus-wide shuffle.
    val touched = bc.select("comp").distinct()
    val memberIds = lab
      .join(touched, lab("label") === touched("comp"), "left_semi")
      .select("doc_id")
    val stComp = load(s, namePrefix)
      .join(memberIds, Seq("doc_id"), "left_semi")
      .join(lab, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("label"), col("doc_id")))
    // min/max instead of countDistinct over the ≤3-value non-quarantine
    // split domain (optimization r18, guide §2.3 — countDistinct plans an
    // Expand + an extra dedup exchange): "≥2 distinct" ⟺ min ≠ max,
    // "exactly 1" ⟺ min = max (non-null), "0" leaves both null and falls
    // through to the hasq/hash branches — identical verdicts, one
    // partial-agg pass.
    val perComp = stComp.groupBy("comp").agg(
      min(when(col("split") =!= "quarantine", col("split"))).as("mn"),
      max(when(col("split") =!= "quarantine", col("split"))).as("mx"),
      max((col("split") === "quarantine").cast("int")).as("hasq"))
    val rows = bc
      .join(perComp, Seq("comp"), "left")
      .withColumn("split",
        when(col("mn") =!= col("mx"), lit("quarantine"))
          .when(col("mn") === col("mx"), col("mn"))
          .when(coalesce(col("hasq"), lit(0)) === 1, lit("quarantine"))
          .otherwise(splitOf(col("comp"))))
      .select(col("doc_id"), col("split"), lit(next).as("seq"))
      // pinned BEFORE the writes: both the assign append and the moves
      // append below would otherwise re-evaluate this frame against the
      // tables they just updated (the documented append-invalidates trap)
      .transform(Tables.pinEager(_))
    appendRows(s, namePrefix, rows, next)
    // quarantine ENTRY is recorded in the durable `_moves` audit trail —
    // not just as an assign row — so the aging/pool analytics survive
    // [[compact]], which collapses `_assign` to one row per doc and would
    // otherwise erase (or re-date) every drained doc's entry event
    // (ADVICE r13). `assign` is the ONLY operation that can put a doc
    // INTO quarantine ([[resolve]]'s canonical split is never
    // `quarantine`), so this one write makes the entry history complete.
    appendMoves(s, namePrefix,
      rows.filter(col("split") === "quarantine")
        .select(col("doc_id"), lit(null).cast("string").as("from_split"),
          lit("quarantine").as("to_split"),
          lit("quarantine_enter").as("reason"), lit(next).as("seq")), next)
    commitMeta(s, namePrefix, next, Some((bLo, bHi)), "apply",
      Some(idFingerprint(batch.select("doc_id"))))
  }

  /** Record a batch of VERIFIED near-dup pairs `(a, b, jac)` at rest —
    * the discovery output admission/split maintenance computes per batch
    * and previously discarded. `(lo, hi)` is the id span of the DOC batch
    * whose incident pairs these are (pair endpoints reach below `lo` —
    * the corpus side), matching [[assign]]'s fence key so one drain cycle
    * writes one pairs fence + one apply fence for the same span.
    *
    * COMPLETENESS contract (what makes [[loadPairs]] ≡ a full corpus
    * re-mine): record the corpus~corpus pairs once at day 0, then every
    * batch's incident pairs ([[DedupOps.ngramJaccardPairsVsIndex]] —
    * batch~corpus AND batch~batch) with every batch admitted to the
    * index. Any pair of the full set has a max endpoint in exactly one
    * batch (or the day-0 corpus), and that batch's discovery emits it —
    * so the union IS the full set, with no pair recorded twice
    * (hash-checked by the q121 oracle, which replays the exhaustive
    * corpus-wide join).
    *
    * CRASH PROTOCOL = [[assign]]'s: pair rows land first, the `_meta`
    * row (kind `pairs`, with the pair-set fingerprint) last; a replay of
    * a committed span is a fingerprint-verified no-op, a crashed
    * attempt's orphan rows are adopted by the deterministic re-run, and
    * orphans belonging to a different abandoned operation fail fast. */
  def recordPairs(s: SparkSession, namePrefix: String, pairs: DataFrame,
                  lo: Long, hi: Long, nBuckets: Int = 32): Unit = {
    require(metaExists(s, namePrefix),
      s"SplitState.recordPairs: $namePrefix has no committed state — init first")
    val replayRow = s.table(metaT(namePrefix))
      .filter(col("lo") === lo && col("hi") === hi && col("kind") === "pairs")
      .limit(1).collect().headOption
    replayRow.foreach { r =>
      requireFingerprint(r, pairFingerprint(pairs),
        s"SplitState.recordPairs($namePrefix, [$lo, $hi])")
      return
    }
    val next = committedSeq(s, namePrefix) + 1
    val rows = pairs.select(col("a"), col("b"),
      col("jac").cast("double").as("jac"), lit(next).as("seq"))
    if (!s.catalog.tableExists(pairsT(namePrefix))) {
      AtRest.save(namePrefix, AtRest.Version("pairs", rows, nBuckets, Seq("a")))
    } else {
      val orphans = s.table(pairsT(namePrefix))
        .filter(col("seq") === next).select("a", "b")
      val stray = orphans.join(rows.select("a", "b"), Seq("a", "b"), "left_anti")
        .limit(1).collect()
      require(stray.isEmpty,
        s"SplitState.recordPairs: uncommitted pair rows at seq $next for " +
          s"(${stray.headOption.map(r => s"${r.get(0)}, ${r.get(1)}")}) belong " +
          "to a different abandoned operation — run SplitState.compact to " +
          "purge them, then retry")
      AtRest.append(namePrefix, "pairs", rows.join(orphans, Seq("a", "b"), "left_anti")
        .transform(Tables.pinEager(_)), // severs the read of the append target
        bucketed = true)
    }
    commitMeta(s, namePrefix, next, Some((lo, hi)), "pairs",
      Some(pairFingerprint(pairs)))
  }

  /** The at-rest verified pair set: (a, b, jac), committed rows only,
    * pairs with a tombstoned endpoint dropped at read (between takedown
    * and [[compact]] a removed doc's pairs are invisible — the forgetting
    * direction, matching [[load]]'s tombstone semantics). This is the
    * frame the nightly wall audit joins against the recorded splits —
    * O(pairs + state), never a corpus re-mine. No senior re-attribution
    * applies on takedown (a pair is a fact about exactly its two
    * endpoints, unlike a first-seen attribution that passes to the
    * next-senior holder): losing an endpoint simply removes the pair. */
  def loadPairs(s: SparkSession, namePrefix: String): DataFrame = {
    val committed = committedSeq(s, namePrefix)
    val live = s.table(pairsT(namePrefix))
      .filter(col("seq") <= committed)
      .select("a", "b", "jac")
    AtRest.live(s, namePrefix, AtRest.live(s, namePrefix, live, "a"), "b")
  }

  /** Re-adjudicate after cluster maintenance COMMITTED (a q87 merge or a
    * q110 deletion): drain the quarantine pool and restore the
    * one-split-per-component invariant, with every movement AUDITED.
    * `labels` is the current committed cluster assignment. Per component
    * of recorded docs, the canonical split is the recorded split of the
    * SENIOR (smallest doc_id) non-quarantine member — or [[splitOf]] the
    * component rep when only quarantined members remain. Members whose
    * recorded split differs get a new assign row plus a `_moves` row
    * (`quarantine_drain` when leaving quarantine, `realign` otherwise —
    * the junior side of a committed cross-split merge). A resolve that
    * changes nothing writes nothing. Idempotent: re-running against the
    * same labels finds zero differences. */
  def resolve(s: SparkSession, namePrefix: String, labels: DataFrame): Unit = {
    val next = committedSeq(s, namePrefix) + 1
    val state = load(s, namePrefix)
    val stComp = state
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("label"), col("doc_id")))
    val perComp = stComp.groupBy("comp").agg(
      min(when(col("split") =!= "quarantine",
        struct(col("doc_id"), col("split")))).as("senior"))
    val changes = stComp.join(perComp, Seq("comp"))
      .withColumn("canon",
        coalesce(col("senior.split"), splitOf(col("comp"))))
      .filter(col("split") =!= col("canon"))
      .select(col("doc_id"), col("split").as("from_split"),
        col("canon").as("to_split"))
      .transform(Tables.pinEager(_)) // one derivation; reused across writes
    if (changes.limit(1).collect().isEmpty) return
    appendRows(s, namePrefix,
      changes.select(col("doc_id"), col("to_split").as("split"),
        lit(next).as("seq")), next)
    appendMoves(s, namePrefix, changes
      .withColumn("reason",
        when(col("from_split") === "quarantine", lit("quarantine_drain"))
          .otherwise(lit("realign")))
      .withColumn("seq", lit(next)), next)
    commitMeta(s, namePrefix, next, None, "resolve", None)
  }

  /** Legacy quarantine-history backfill (VERDICT r14 item 8): synthesize
    * the durable `quarantine_enter` audit rows for quarantine history
    * that PRE-DATES the r14 `_moves` upgrade, while the evidence is
    * still recoverable from uncompacted `_assign` history. For every doc
    * holding an `_assign` row at split 'quarantine' with no
    * `quarantine_enter` move, append the move at the doc's first
    * quarantine seq (the same seq [[enteredSeqs]]' assign-derived branch
    * reports, so the aging/pool analytics are unchanged by the backfill
    * — it only makes them [[compact]]-proof). Run BEFORE the next
    * compact: once `_assign` is collapsed the entry evidence is gone and
    * the documented reads-low caveat applies permanently. Idempotent;
    * returns the number of synthesized rows. */
  def backfillQuarantineEnters(s: SparkSession, namePrefix: String): Long = {
    AtRest.open(s, namePrefix)
    if (!s.catalog.tableExists(assignT(namePrefix))) return 0L
    import org.apache.spark.sql.expressions.Window
    val committed = committedSeq(s, namePrefix)
    // PER-STINT entry detection (ADVICE r15): a quarantine assign row whose
    // previous assign for the doc is not quarantine opens a stint. Keying
    // the anti-join on (doc_id, seq) — the enter move is written with the
    // same seq as its assign row — backfills EVERY stint missing its enter
    // row, not just a doc's first: a doc that re-quarantined under r14+
    // code (enter row at a later seq) but lost its pre-r14 first-stint row
    // is still recovered. The window shuffles _assign once on doc_id —
    // linear, same order as the history scan it replaces.
    val w = Window.partitionBy("doc_id").orderBy("seq")
    val fromAssign = s.table(assignT(namePrefix))
      .filter(col("seq") <= committed)
      .withColumn("prev_split", lag("split", 1).over(w))
      .filter(col("split") === "quarantine" &&
        (col("prev_split").isNull || col("prev_split") =!= "quarantine"))
      .select("doc_id", "seq")
    val existing =
      if (!s.catalog.tableExists(movesT(namePrefix)))
        fromAssign.limit(0).select("doc_id", "seq")
      else s.table(movesT(namePrefix))
        .filter(col("reason") === "quarantine_enter").select("doc_id", "seq")
    val missing = fromAssign.join(existing, Seq("doc_id", "seq"), "left_anti")
      .select(col("doc_id"), lit(null).cast("string").as("from_split"),
        lit("quarantine").as("to_split"),
        lit("quarantine_enter").as("reason"), col("seq"))
      .transform(Tables.pinEager(_)) // severs the read of the append target
    val n = missing.count()
    if (n > 0) AtRest.append(namePrefix, "moves", missing)
    n
  }

  /** Append audit rows (doc_id, from_split, to_split, reason, seq=`next`)
    * to `_moves`, adopting a crashed attempt's orphans: rows already
    * present at `next` for the same docs are skipped (the deterministic
    * re-run recomputes identical content — single writer). */
  private def appendMoves(s: SparkSession, namePrefix: String,
                          moves: DataFrame, next: Long): Unit = {
    val dedup = if (!s.catalog.tableExists(movesT(namePrefix))) moves
      else moves.join(
        s.table(movesT(namePrefix)).filter(col("seq") === next).select("doc_id"),
        Seq("doc_id"), "left_anti")
        .transform(Tables.pinEager(_)) // severs the read of the append target
    AtRest.append(namePrefix, "moves",
      dedup.select("doc_id", "from_split", "to_split", "reason", "seq"))
  }

  /** Per-doc quarantine ENTRY seq: the durable `quarantine_enter` audit
    * rows (written by [[assign]] since r14 — they survive [[compact]],
    * which collapses `_assign` history), unioned with the assign-derived
    * entries so a family whose quarantine rows PRE-DATE the audit
    * upgrade still reports them until its next compact. */
  private def enteredSeqs(s: SparkSession, namePrefix: String,
                          committed: Long): DataFrame = {
    val fromAssign = s.table(assignT(namePrefix))
      .filter(col("seq") <= committed && col("split") === "quarantine")
      .select("doc_id", "seq")
    val fromMoves =
      if (!s.catalog.tableExists(movesT(namePrefix))) fromAssign.limit(0)
      else s.table(movesT(namePrefix))
        .filter(col("seq") <= committed && col("reason") === "quarantine_enter")
        .select("doc_id", "seq")
    fromAssign.unionByName(fromMoves)
      .groupBy("doc_id").agg(min("seq").as("entered_seq"))
  }

  /** QUARANTINE-AGING analytics (VERDICT r12 item 8) — the operational
    * metric a data curator watches on the dispute pool: for every doc
    * that ever entered quarantine, when it entered (the durable
    * `quarantine_enter` audit row — [[compact]]-proof, ADVICE r13), when
    * it drained (first `quarantine_drain` audit row — null while the
    * dispute is still open), and its age in OPERATION TICKS (committed
    * `_meta` seqs are the family's monotone clock; see
    * [[quarantineAgingWallClock]] for the calendar-denominated form). A
    * pending doc ages against the current committed seq. Reads `_assign`
    * + `_moves` only — state-sized doc_id-keyed aggregates, no text, no
    * pairs. */
  def quarantineAging(s: SparkSession, namePrefix: String): DataFrame = {
    val committed = committedSeq(s, namePrefix)
    val entered = enteredSeqs(s, namePrefix, committed)
    val drained =
      if (!s.catalog.tableExists(movesT(namePrefix)))
        entered.select(col("doc_id"), col("entered_seq").as("drained_seq")).limit(0)
      else s.table(movesT(namePrefix))
        .filter(col("seq") <= committed && col("reason") === "quarantine_drain")
        .groupBy("doc_id").agg(min("seq").as("drained_seq"))
    entered.join(drained, Seq("doc_id"), "left")
      .withColumn("age",
        coalesce(col("drained_seq"), lit(committed)) - col("entered_seq"))
  }

  /** [[quarantineAging]] in WALL-CLOCK terms (VERDICT r13 optional item
    * 8): each seq maps to its `_meta` commit timestamp (`ts`, epoch
    * millis — recorded by every commit since r14; null for rows written
    * before the column existed), so the curator metric reads in calendar
    * time without touching the assign tables. A pending doc ages against
    * the LATEST committed operation's ts — "how long has this dispute
    * been open as of the most recent maintenance activity". Returns
    * (doc_id, entered_seq, drained_seq, age, entered_ts, drained_ts,
    * age_ms). */
  def quarantineAgingWallClock(s: SparkSession, namePrefix: String): DataFrame = {
    AtRest.open(s, namePrefix)
    val meta = s.table(metaT(namePrefix))
    val ts =
      (if (meta.schema.fieldNames.contains("ts")) meta.select(col("seq"), col("ts"))
       else meta.select(col("seq"), lit(null).cast("long").as("ts")))
        .groupBy("seq").agg(max("ts").as("ts"))
    val latestTs = ts.agg(max("ts")).head() match {
      case r if r.isNullAt(0) => null.asInstanceOf[java.lang.Long]
      case r                  => java.lang.Long.valueOf(r.getLong(0))
    }
    quarantineAging(s, namePrefix)
      .join(ts.withColumnRenamed("seq", "entered_seq")
        .withColumnRenamed("ts", "entered_ts"), Seq("entered_seq"), "left")
      .join(ts.withColumnRenamed("seq", "drained_seq")
        .withColumnRenamed("ts", "drained_ts"), Seq("drained_seq"), "left")
      .withColumn("age_ms",
        coalesce(col("drained_ts"), lit(latestTs)) - col("entered_ts"))
      .select("doc_id", "entered_seq", "drained_seq", "age",
        "entered_ts", "drained_ts", "age_ms")
  }

  /** Dispute-pool size at every committed operation seq — the curve that
    * shows quarantine DRAINING rather than accumulating (the class-doc
    * guarantee, made observable). A doc enters quarantine at most once
    * ([[assign]] runs once per doc — ids are append-only) and leaves at
    * most once (`quarantine_drain`), so the pool is a pure event count:
    * +1 at each doc's entry seq ([[enteredSeqs]] — durable audit rows,
    * [[compact]]-proof, ADVICE r13), −1 at its drain seq, summed per seq
    * and prefix-summed over the committed seq list. The final window is
    * unpartitioned BY DESIGN: it runs over one row per committed
    * OPERATION (maintenance cadence — dozens, not corpus-sized), after
    * all doc-keyed work is reduced. Returns (seq, pool). Caveat for
    * PRE-UPGRADE state only: a family that both quarantined AND
    * compacted before the r14 `quarantine_enter` audit rows existed has
    * drain events with no surviving entry evidence — its historical pool
    * curve can read low; state maintained by r14+ code is exact. The
    * running sum is clamped at 0 (ADVICE r14): with orphaned drains the
    * raw prefix sum can go NEGATIVE, which reads as corruption to an
    * operator — a floor of 0 keeps the "reads low" caveat the worst
    * case. The clamp is a no-op on any state with complete entry
    * evidence (entries always precede their drains), so oracle replays
    * on fresh state are unaffected. */
  def quarantinePool(s: SparkSession, namePrefix: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val committed = committedSeq(s, namePrefix)
    val enters = enteredSeqs(s, namePrefix, committed)
      .select(col("entered_seq").as("seq"), lit(1L).as("delta"))
    val drains =
      if (!s.catalog.tableExists(movesT(namePrefix))) enters.limit(0)
      else s.table(movesT(namePrefix))
        .filter(col("seq") <= committed && col("reason") === "quarantine_drain")
        .groupBy("doc_id").agg(min("seq").as("seq"))
        .select(col("seq"), lit(-1L).as("delta"))
    val deltas = enters.unionByName(drains)
      .groupBy("seq").agg(sum("delta").as("d"))
    s.table(metaT(namePrefix))
      .filter(col("seq") <= committed).select("seq").distinct()
      .join(deltas, Seq("seq"), "left")
      .withColumn("pool",
        sum(coalesce(col("d"), lit(0L))).over(
          Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("seq"), greatest(col("pool"), lit(0L)).cast("long").as("pool"))
  }

  /** Artifact-consistency audit across the cluster/split pair: every
    * clustered doc (a `labels` node) must hold a recorded split. A
    * nonzero result means a maintenance cycle died after its cluster
    * commit but before its split commit AND was never replayed — the
    * [[graft.streaming.DocStream.splitDrain]] fence makes that
    * unreachable under checkpoint replay; this is the independent
    * nightly proof (q121's wall audit checks assignment QUALITY, this
    * checks assignment COVERAGE). One anti-join, labels-sized. */
  def unassigned(s: SparkSession, namePrefix: String,
                 labels: DataFrame): DataFrame =
    labels.select(col("node").as("doc_id")).distinct()
      .join(load(s, namePrefix), Seq("doc_id"), "left_anti")

  /** TAKEDOWN: append to the tombstone side-table, O(batch), never a
    * rewrite. [[load]] drops the rows at read; [[compact]] folds the
    * removal into the files. A removed doc's id is never reused; if it
    * was its component's senior, the next [[resolve]] re-adjudicates from
    * the surviving members' RECORDED splits — survivors never re-hash. */
  def remove(namePrefix: String, docIds: DataFrame): Unit =
    AtRest.tombstone(namePrefix, docIds)

  /** Collapse assignment history to one row per surviving doc (its latest
    * committed split), purge uncommitted orphan rows from crashed or
    * abandoned attempts, fold tombstones into the assign AND pairs files,
    * in one [[AtRest.rewrite]] commit, so `_moves`, whose whole contract
    * is durability, is never exposed to a non-atomic in-place overwrite
    * (ADVICE r12). `_meta` (the watermark and commit fence) is
    * deliberately untouched; `_moves` keeps all COMMITTED history — the
    * rewrite only purges orphan rows a crashed resolve left below no
    * fence (a later operation committing the same seq would otherwise
    * silently legitimize the phantom moves). */
  def compact(s: SparkSession, namePrefix: String): Unit = {
    val committed = committedSeq(s, namePrefix) // opens first
    def live(df: DataFrame, key: String) = AtRest.live(s, namePrefix, df, key)
    val collapsed = s.table(assignT(namePrefix))
      .filter(col("seq") <= committed)
      .groupBy("doc_id")
      .agg(max_by(col("split"), col("seq")).as("split"), max("seq").as("seq"))
    AtRest.rewrite(s, namePrefix,
      Seq("assign" -> live(collapsed, "doc_id").select("doc_id", "split", "seq")) ++
        // the verified-pairs artifact: fold tombstones (no re-attribution —
        // a pair dies with either endpoint) and purge uncommitted orphans
        Option.when(s.catalog.tableExists(pairsT(namePrefix)))("pairs" ->
          live(live(s.table(pairsT(namePrefix)).filter(col("seq") <= committed), "a"), "b")
            .select("a", "b", "jac", "seq")) ++
        Option.when(s.catalog.tableExists(movesT(namePrefix)))("moves" ->
          s.table(movesT(namePrefix)).filter(col("seq") <= committed)), fold = true)
  }

  /** Append `rows` (doc_id, split, seq=`next`) into the assign table,
    * adopting a crashed attempt's orphans: rows already present at `next`
    * for the same docs are skipped (the deterministic re-run recomputes
    * identical content — single writer); orphans at `next` for docs
    * OUTSIDE this write are a different abandoned operation and fail
    * fast. */
  private def appendRows(s: SparkSession, namePrefix: String,
                         rows: DataFrame, next: Long): Unit = {
    val orphans = s.table(assignT(namePrefix))
      .filter(col("seq") === next).select("doc_id")
    val stray = orphans.join(rows.select("doc_id"), Seq("doc_id"), "left_anti")
      .limit(1).collect()
    require(stray.isEmpty,
      s"SplitState: uncommitted rows at seq $next for doc_id " +
        s"${stray.headOption.map(_.get(0))} belong to a different abandoned " +
        "operation — run SplitState.compact to purge them, then retry")
    // EAGER checkpoint: `rows` (and the orphan anti-join) reads the very
    // table this write appends to — sever the lineage so the append never
    // re-lists its own source (batch-sized frame)
    AtRest.append(namePrefix, "assign", rows.join(orphans, Seq("doc_id"), "left_anti")
      .transform(Tables.pinEager(_)), bucketed = true)
  }

  /** The commit fence: the `_meta` row lands only after every data write
    * of operation `seq` succeeded. Schema (seq, lo, hi, kind, n, fp, ts)
    * — the fingerprint columns back the replay guards, `ts` (epoch
    * millis at commit) is the calendar clock behind
    * [[quarantineAgingWallClock]] (VERDICT r13 item 8; informational
    * only — never consulted by a guard, so commit-time skew is
    * harmless). A PRE-UPGRADE family whose `_meta` lacks columns is
    * migrated first (existing rows gain nulls — span-only exemption
    * preserved) by one [[AtRest.rewrite]] commit, so the fence table never
    * risks a non-atomic overwrite (ADVICE r12). */
  private def commitMeta(s: SparkSession, namePrefix: String, seq: Long,
                         span: Option[(Long, Long)], kind: String,
                         fingerprint: Option[(Long, Long)]): Unit = {
    val mT = metaT(namePrefix)
    if (metaExists(s, namePrefix)) {
      val have = s.table(mT).schema.fieldNames.toSet
      val missing = Seq("n", "fp", "ts").filterNot(have)
      if (missing.nonEmpty)
        AtRest.rewrite(s, namePrefix, Seq("meta" -> missing.foldLeft(s.table(mT))(
          (df, c) => df.withColumn(c, lit(null).cast("long")))), fold = false)
    }
    AtRest.append(namePrefix, "meta", metaRow(s, seq, span, kind, fingerprint))
  }

  /** The `_meta` row of operation `seq`, stamped now. */
  private def metaRow(s: SparkSession, seq: Long, span: Option[(Long, Long)], kind: String,
                      fingerprint: Option[(Long, Long)]): DataFrame = {
    import s.implicits._
    Seq((seq, span.map(_._1), span.map(_._2), kind,
        fingerprint.map(_._1), fingerprint.map(_._2), System.currentTimeMillis()))
      .toDF("seq", "lo", "hi", "kind", "n", "fp", "ts")
  }
}
