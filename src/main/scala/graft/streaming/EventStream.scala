package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming view of the `events` table (driver north-star: the
  * batch EventOps transformations as streams).
  *
  * Batch-first design (SURVEY.md §7.3): the aggregations are the SAME
  * expressions as [[graft.operators.EventOps]] — the streaming layer adds
  * `readStream`, a watermark, and an output mode. One code path is
  * oracle-checked in batch; the wrapper stays thin and state-bounded.
  *
  * Scale posture: watermarks bound state-store size (late events beyond
  * 2 h are dropped instead of growing state forever); session windows use
  * Spark's native state-store merge; arbitrary per-key state uses
  * flatMapGroupsWithState with an explicit processing-time timeout so
  * abandoned keys are evicted.
  */
object EventStream {

  /** File-based stream over a directory of events parquet (the production
    * shape: new daily drops appear as new files under the prefix). The path
    * must be a DIRECTORY — Spark's file stream source tails directories. */
  def fromDirectory(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(schema).parquet(dir)
    // Tables.load's normalization: nanos-as-long AND NTZ-micros testdata
    // encodings both collapse to session-UTC TIMESTAMP
    graft.Tables.normalizeEventTs(graft.Tables.normalizeTimestamps(raw))
  }

  /** Hourly tumbling-window counts by type (streaming q40). */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.operators.Num.Wide.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("hr"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows with a 30-minute gap (streaming q42). */
  def sessionized(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min("event_id").as("session_first_event"), count(lit(1)).as("n_events"))
      .select("user_id", "session_first_event", "n_events")

  final case class UserRunning(userId: Long, nEvents: Long, totalValue: Double)

  /** Arbitrary stateful processing: per-user running totals via
    * flatMapGroupsWithState (the custom-state escape hatch for semantics
    * windows can't express). Emits an updated row per user per batch.
    *
    * NoTimeout is deliberate: with ProcessingTimeTimeout the engine keeps
    * scheduling timeout-check batches even with no new data, which spins the
    * query forever in tests; production jobs bound state via watermark-based
    * EventTimeTimeout on the event-time column instead. */
  def runningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("user_id").as("_1"), col("value").as("_2")).as[(Long, Double)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val (n, v) = rows.foldLeft((prev.nEvents, prev.totalValue)) {
            case ((cn, cv), (_, value)) => (cn + 1, cv + value)
          }
          val next = UserRunning(userId, n, v)
          state.update(next)
          Iterator.single(next)
        })
      .toDF()
  }

  final case class SessionState(userId: Long, nEvents: Long, lastEventMicros: Long)

  /** Event-time-bounded session tracking via mapGroupsWithState with
    * EventTimeTimeout: state for a user expires once the watermark passes
    * 30 minutes beyond their last event — the production pattern for
    * unbounded key spaces (state size tracks ACTIVE keys, not ever-seen
    * keys). Emits (userId, nEvents) on every update and a final tombstone
    * row (nEvents = -1) when a session times out. */
  def sessionTracking(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // The WATERMARKED ts column itself must flow into the stateful operator
    // (projecting it to a long first makes the analyzer reject the
    // EventTimeTimeout), so the tuple keeps the timestamp.
    val typed = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("_1"), col("ts").as("_2"))
      .as[(Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionState(userId, -1L, s.lastEventMicros)
          } else {
            val prev = state.getOption.getOrElse(SessionState(userId, 0L, 0L))
            var n = prev.nEvents
            var lastTs = prev.lastEventMicros
            rows.foreach { case (_, t) => n += 1; lastTs = math.max(lastTs, t.getTime * 1000) }
            val next = SessionState(userId, n, lastTs)
            state.update(next)
            state.setTimeoutTimestamp(lastTs / 1000 + 30L * 60 * 1000) // ms + 30 min
            next
          }
        })
      .toDF()
  }

  /** A foreachBatch micro-batch rebound to the session that started the
    * stream. Structured Streaming hands each batch over on the query's
    * CLONED session, and Spark gives every session its own executor class
    * loader — the codegen cache is keyed by class loader, so batch work run
    * on a fresh clone recompiles every generated class each drain. On the
    * caller's session it reuses the classes earlier drains compiled, runs
    * with the caller's settings (AQE included — the clone turns it off),
    * and its table writes invalidate the caller's own cached relations. */
  private[streaming] def onCaller(caller: SparkSession,
                                  batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): DataFrame =
    org.apache.spark.sql.GraftBridge.ofRows(caller, batch.queryExecution.logical)

  /** Streaming → idempotent partitioned parquet via foreachBatch. Each
    * micro-batch writes under (load_date, batch_id), with load_date derived
    * from the rows' EVENT TIME (`tsCol`) — not processing time, so a batch
    * replayed after midnight re-derives the same partitions it wrote before
    * the crash. Dynamic partition overwrite then replaces EXACTLY the
    * (date, batch) partitions present in the replayed data: no wiping of
    * the day's other batches, no duplicates. */
  private def writePartitionedBatch(batch: DataFrame,
                                    batchId: Long, root: String, tsCol: String): Unit =
    batch
      .withColumn(graft.sources.PartitionedSink.LoadDateCol,
        date_format(col(tsCol), "yyyyMMdd"))
      .withColumn("batch_id", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(graft.sources.PartitionedSink.LoadDateCol, "batch_id")
      .mode("overwrite")
      .parquet(root)

  /** `checkpoint` is REQUIRED for the replay guarantee the batch writer
    * documents: without a durable checkpoint a restarted query begins at
    * batchId 0 over re-read source data, and the previous run's
    * higher-batch_id partitions survive the dynamic overwrite as
    * duplicates. (Tests may pass `None` for a throwaway query.) */
  def toPartitionedParquet(df: DataFrame, root: String,
                           checkpoint: Option[String],
                           tsCol: String = "ts"): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writePartitionedBatch(onCaller(df.sparkSession, batch), batchId, root, tsCol)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Streaming text-quality filter: the TextProfile-based quality score as
    * a STATELESS narrow map over a document stream — the pre-training
    * hygiene gate applied at ingest time (no watermark or state needed;
    * throughput is the batch path's, since it is the same codegen'd
    * expression). Keeps documents whose score clears `minScore`. */
  def qualityFiltered(docs: DataFrame, minScore: Double): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val tp = GraftBridge.column(graft.plans.TextProfile(
      GraftBridge.expression(col("text")),
      Seq(Seq("the", "and", "of", "to", "in", "is", "a", "it", "on", "for"))))
    docs
      .withColumn("tp", tp)
      .withColumn("quality_score",
        element_at(col("tp.hits"), 1) / col("tp.n_tokens") * 0.3 +
          col("tp.n_unique") / col("tp.n_tokens") * 0.4 +
          least(length(col("text")) / lit(500.0), lit(1.0)) * 0.3)
      .filter(col("quality_score") >= minScore)
      .drop("tp")
  }

  /** Stream-static enrichment join: attach static dimension attributes to a
    * stream by key. Stateless — no watermark or state store involved; the
    * static side is re-planned per micro-batch (so a refreshed dim table is
    * picked up on the next batch), and Spark broadcasts it when small. The
    * canonical event-enrichment shape (events ⋈ user/customer dims). */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(dim, Seq(key), "left")

  /** Streaming exact dedup: drop events whose event_id was already seen,
    * with state bounded by the watermark (`dropDuplicatesWithinWatermark`) —
    * duplicates arriving within the watermark window are suppressed, state
    * for older keys is evicted. The streaming member of the dedup family
    * (at-least-once sources → effectively-once downstream). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: attribute each purchase to the same
    * user's click within the preceding 30 minutes. Both sides are
    * watermarked so Spark can bound the join state (clicks older than
    * watermark + interval are evicted) — the canonical streaming
    * attribution shape. Works identically on batch frames. */
  def clickPurchaseAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("amount"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"), col("amount"))
  }

  final case class AsofMatch(eventId: Long, userId: Long, tsMicros: Long,
                             clickTsMicros: Option[Long], clickValue: Option[Double])

  /** Streaming backward AS-OF lookup — the state-store twin of
    * [[graft.operators.EventOps.asofBackward]] (q104/q106): per user, group
    * state holds ONLY the latest reference row (ts + payload) — O(1) state
    * per key with UNBOUNDED lookback, where the interval join
    * ([[clickPurchaseAttribution]]) buffers a bounded window of both sides
    * — and each purchase is emitted enriched with the most recent
    * at-or-before click's timestamp and value.
    *
    * Exactness contract: within a micro-batch the group's rows are
    * processed in (ts, side, event_id) order, so any arrival interleaving
    * INSIDE a batch matches the batch operator exactly (clicks before
    * purchases on equal ts; max event_id wins click ties = the batch
    * tieBreak semantics). ACROSS batches the state remembers the max-ts
    * click seen so far, so exact batch parity requires per-key event-time
    * monotone arrival across batches (the partitioned-by-key Kafka
    * deployment shape); a click arriving after a purchase it should have
    * matched is the late-data case production bounds with watermarks +
    * reconciliation, not silently buffered forever. */
  def asofLookup(spark: SparkSession, clicks: DataFrame, purchases: DataFrame): DataFrame = {
    import spark.implicits._
    // NULL-key/NULL-ts rows are dropped: a streaming key/event-time can't
    // be NULL (groupByKey on a primitive key, watermark on ts). This is
    // the one divergence from the batch twin, which EMITS a NULL-keyed
    // left row with NULL outputs; a NULL payload value rides through as
    // None on both.
    def shaped(df: DataFrame, side: Int, value: Column): DataFrame = df
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as("_1"), col("event_id").as("_2"),
        unix_micros(col("ts")).as("_3"), lit(side).as("_4"), value.as("_5"))
    val tagged = shaped(clicks, 0, col("value"))
      .unionByName(shaped(purchases, 1, lit(0.0)))
      .as[(Long, Long, Long, Int, Option[Double])]
    tagged.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Long, Long, Int, Option[Double])],
         state: GroupState[(Long, Long, Option[Double])]) => {
          val (out, last) = asofAdvance(userId,
            rows.map { case (_, eid, us, side, v) => (eid, us, side, v) },
            state.getOption)
          last.foreach(state.update)
          out.iterator
        })
      .toDF()
  }

  /** One key's micro-batch advance, shared by [[asofLookup]] and
    * [[asofLookupExpiring]]: process (event_id, tsMicros, side, value)
    * rows in (ts, side, id) order against the running last-reference
    * state; returns the emitted matches and the updated state. State
    * carries the reference row's EVENT ID so the max-event_id tie-break
    * among equal timestamps holds ACROSS batches too — a same-ts click
    * arriving in a later batch replaces the stored one only when its id
    * is higher (replace-on-equal alone would let arrival order override
    * the batch operator's deterministic arg-max). */
  private def asofAdvance(userId: Long, rows: Iterator[(Long, Long, Int, Option[Double])],
                          last0: Option[(Long, Long, Option[Double])])
      : (Vector[AsofMatch], Option[(Long, Long, Option[Double])]) = {
    var last = last0
    val out = Vector.newBuilder[AsofMatch]
    rows.toIndexedSeq.sortBy(r => (r._2, r._3, r._1)).foreach {
      case (eid, us, 0, v) =>
        if (last.forall(s => s._1 < us || (s._1 == us && s._2 <= eid)))
          last = Some((us, eid, v))
      case (eid, us, _, _) =>
        val m = last.filter(_._1 <= us)
        out += AsofMatch(eid, userId, us, m.map(_._1), m.flatMap(_._3))
    }
    (out.result(), last)
  }

  /** Watermark-BOUNDED variant of [[asofLookup]] — the posture for
    * unbounded key spaces: NoTimeout keeps one reference row per EVER-SEEN
    * key, which at 100 TB user cardinality grows state forever; here a
    * key's state is reaped once the event-time watermark passes `maxIdleMs`
    * beyond its last activity (EventTimeTimeout, same pattern as
    * [[sessionTracking]] — state size tracks ACTIVE keys). A purchase
    * arriving after its user's reference state expired gets NULL outputs:
    * the bounded-lookback tradeoff, chosen explicitly over unbounded
    * growth. Note the engine reaps a key only in a batch where it has no
    * new data, so a key that stays active keeps its state indefinitely —
    * exactly the wanted semantics. */
  def asofLookupExpiring(spark: SparkSession, clicks: DataFrame, purchases: DataFrame,
                         watermarkDelay: String = "10 minutes",
                         maxIdleMs: Long = 30L * 60 * 1000): DataFrame = {
    import spark.implicits._
    // the WATERMARKED ts column itself must flow into the stateful
    // operator (see sessionTracking) — micros are derived inside the group
    // function, not projected away before it. ONE watermark, applied AFTER
    // the union: per-side watermarks would make the global watermark their
    // MIN, so a side with no recent traffic (purchases overnight) pins the
    // watermark in the past and no idle key ever gets reaped.
    def shaped(df: DataFrame, side: Int, value: Column): DataFrame = df
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as("_1"), col("event_id").as("_2"),
        col("ts").as("_3"), lit(side).as("_4"), value.as("_5"))
    val tagged = shaped(clicks, 0, col("value"))
      .unionByName(shaped(purchases, 1, lit(0.0)))
      .withWatermark("_3", watermarkDelay)
      .as[(Long, Long, java.sql.Timestamp, Int, Option[Double])]
    tagged.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Int, Option[Double])],
         state: GroupState[(Long, Long, Option[Double])]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            def us(t: java.sql.Timestamp): Long =
              t.getTime * 1000 + (t.getNanos / 1000) % 1000
            var lastActivityMs = 0L
            val shapedRows = rows.map { case (_, eid, t, side, v) =>
              lastActivityMs = math.max(lastActivityMs, t.getTime)
              (eid, us(t), side, v)
            }
            val (out, last) = asofAdvance(userId, shapedRows, state.getOption)
            last.foreach(state.update)
            // keep-alive horizon: the engine reaps the key at the first
            // watermark advance past (last activity + maxIdle)
            if (state.exists) state.setTimeoutTimestamp(lastActivityMs + maxIdleMs)
            out.iterator
          }
        })
      .toDF()
  }

  final case class ForwardMatch(eventId: Long, userId: Long, tsMicros: Long,
                                matchTsMicros: Option[Long], matchId: Option[Long],
                                matchValue: Option[Double])

  /** Streaming FORWARD AS-OF join — the state-store twin of
    * [[graft.operators.EventOps.asofForward]] (q109), and the harder mirror
    * of [[asofLookupExpiring]]: backward keeps O(1) state (the last
    * reference row) because its answer lies in the PAST; forward must HOLD
    * each unmatched left row (click) until its answer arrives from the
    * FUTURE — the next same-key right row (purchase) at-or-after it — or
    * until the event-time watermark passes `maxWaitMs` beyond the left
    * row's timestamp, at which point the row is emitted UNMATCHED (NULL
    * outputs): online time-to-conversion with an explicit answer-deadline
    * instead of unbounded buffering.
    *
    * State per key = the pending (still-unanswered) left rows only — a
    * right row drains every pending left at-or-before it in one pass, so
    * state size tracks the conversion lag the `maxWaitMs` horizon bounds,
    * never the stream length. Keys with no pending rows hold NO state
    * (removed eagerly), and expiry runs both on data batches and on
    * EventTimeTimeout wakeups, so an abandoned key's last pending rows
    * still flush when the watermark passes their deadline.
    *
    * Exactness contract (same as [[asofLookup]]): within a micro-batch the
    * group's rows process in (ts, side, event_id) order — LEFT before
    * RIGHT on equal ts, so an equal-timestamp purchase answers the click
    * (the batch operator's equal-ts-matches rule), and among equal-ts
    * purchases the LOWEST event_id drains the pending set first (= the
    * batch arg-min tieBreak). Across batches, per-key event-time monotone
    * arrival (the partitioned-by-key deployment shape); a left row whose
    * true match was expired away reports unmatched — the bounded-state
    * tradeoff, chosen explicitly. */
  def asofForwardStream(spark: SparkSession, clicks: DataFrame, purchases: DataFrame,
                        watermarkDelay: String = "10 minutes",
                        maxWaitMs: Long = 30L * 60 * 1000): DataFrame = {
    import spark.implicits._
    // ONE watermark, applied AFTER the union (see asofLookupExpiring: the
    // global watermark is the min over per-side watermarks, so a quiet
    // side would pin it in the past and nothing would ever expire)
    def shaped(df: DataFrame, side: Int, value: Column): DataFrame = df
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as("_1"), col("event_id").as("_2"),
        col("ts").as("_3"), lit(side).as("_4"), value.as("_5"))
    val tagged = shaped(clicks, 0, lit(null).cast("double"))
      .unionByName(shaped(purchases, 1, col("value")))
      .withWatermark("_3", watermarkDelay)
      .as[(Long, Long, java.sql.Timestamp, Int, Option[Double])]
    val maxWaitUs = maxWaitMs * 1000
    tagged.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Int, Option[Double])],
         state: GroupState[List[(Long, Long)]]) => {
          def us(t: java.sql.Timestamp): Long =
            t.getTime * 1000 + (t.getNanos / 1000) % 1000
          val wmUs = state.getCurrentWatermarkMs() * 1000
          var pending = state.getOption.getOrElse(List.empty[(Long, Long)])
          val out = Vector.newBuilder[ForwardMatch]
          if (!state.hasTimedOut) {
            val sorted = rows.toIndexedSeq
              .map { case (_, eid, t, side, v) => (eid, us(t), side, v) }
              .sortBy(r => (r._2, r._3, r._1))
            sorted.foreach {
              // PREPEND, not append: :+ on List is O(n), and a key with a
              // large pending backlog would pay O(n²) per micro-batch.
              // The drain below partitions on the horizon predicate and
              // never depends on backlog order (ADVICE r9).
              case (eid, u, 0, _) => pending = ((eid, u)) :: pending
              case (rid, u, _, v) =>
                val (answered, still) = pending.partition(_._2 <= u)
                answered.foreach { case (leid, lus) =>
                  out += ForwardMatch(leid, userId, lus, Some(u), Some(rid), v)
                }
                pending = still
            }
          }
          // deadline expiry (data batches AND timeout wakeups): a pending
          // left whose maxWait horizon the watermark has passed can no
          // longer be answered under monotone arrival — flush unmatched
          val (dead, alive) = pending.partition { case (_, u) => u + maxWaitUs < wmUs }
          dead.foreach { case (leid, lus) =>
            out += ForwardMatch(leid, userId, lus, None, None, None)
          }
          pending = alive
          if (pending.nonEmpty) {
            state.update(pending)
            // earliest deadline, clamped above the current watermark (the
            // engine rejects timeout timestamps at-or-before it)
            val deadlineMs = pending.map(_._2).min / 1000 + maxWaitMs
            state.setTimeoutTimestamp(math.max(deadlineMs, wmUs / 1000 + 1))
          } else state.remove()
          out.result().iterator
        })
      .toDF()
  }

  final case class Scd2Segment(userId: Long, attr: Option[String],
                               validFromMicros: Long, validToMicros: Long, nEvents: Long)

  /** Streaming SCD type-2 maintenance — the streaming twin of
    * [[graft.operators.Relational.scd2History]] (q103/q107), the way
    * [[asofLookup]] twins q104/q106: per key, group state holds ONLY the
    * OPEN segment (attr value, valid_from, row count — O(1) per key); a
    * change in the observed attribute CLOSES the segment, which is emitted
    * with `valid_to` = the new segment's start, exactly the batch
    * operator's [valid_from, valid_to) contract. Append-mode semantics:
    * only CLOSED segments are emitted; the open segment per key — the
    * CURRENT value, the first thing a dimension consumer asks for — is
    * state, snapshotted on demand by [[scd2OpenSnapshot]] from the
    * query's checkpoint (closed emissions ∪ snapshot ≡ the full batch
    * build, valid_to-NULL rows included). NULL attr observations are
    * first-class values (None): None→None is NOT a change, None→Some is —
    * the same null-safe struct compare as batch. Exactness needs per-key
    * event-time monotone arrival across batches, same as [[asofLookup]];
    * within a batch rows are processed in (ts, event_id) order. */
  def scd2Stream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val shaped = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as("_1"), col("event_id").as("_2"),
        unix_micros(col("ts")).as("_3"), col("event_type").as("_4"))
      .as[(Long, Long, Long, Option[String])]
    shaped.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Long, Long, Option[String])],
         state: GroupState[(Option[String], Long, Long)]) => {
          var cur = state.getOption
          val out = Vector.newBuilder[Scd2Segment]
          rows.toIndexedSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, us, attr) =>
            cur match {
              case Some((a, from, n)) if a == attr =>
                cur = Some((a, from, n + 1))
              case Some((a, from, n)) =>
                out += Scd2Segment(userId, a, from, us, n)
                cur = Some((attr, us, 1L))
              case None =>
                cur = Some((attr, us, 1L))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
        })
      .toDF()
  }

  /** DRAIN for [[scd2Stream]]'s open segments — the answer to "what is
    * the CURRENT value per key", which append-mode emissions alone cannot
    * give (they carry only CLOSED segments). Reads the query's group
    * state through Spark's state data source (`format("statestore")`)
    * from the CHECKPOINT, so it composes with the
    * `Trigger.AvailableNow` lifecycle with no side-channel: run the
    * scheduled drain ([[drainToParquet]]/[[drainToTable]] with a
    * checkpoint), then call this on the same checkpoint after
    * termination — closed emissions ∪ this snapshot ≡ the batch
    * [[graft.operators.Relational.scd2History]] output INCLUDING its
    * `valid_to IS NULL` rows (spec-asserted). Reading state instead of
    * keeping a shadow table means the snapshot can never drift from what
    * the stream actually holds; the state source reads the last COMMITTED
    * batch's store, so snapshot a stopped (or between-triggers) query.
    * Schema matches [[Scd2Segment]] with `validToMicros` NULL (open). */
  def scd2OpenSnapshot(spark: SparkSession, checkpoint: String): DataFrame =
    // (flat)MapGroupsWithState wraps the user state in a `groupState`
    // struct (alongside timeout bookkeeping); the key is the grouping
    // encoder's single `value` field
    spark.read.format("statestore").option("path", checkpoint).load()
      .select(col("key.value").as("userId"),
        col("value.groupState._1").as("attr"),
        col("value.groupState._2").as("validFromMicros"),
        lit(null).cast("long").as("validToMicros"),
        col("value.groupState._3").as("nEvents"))

  /** Run any of the above to an in-memory sink and block until the source is
    * drained — used by tests and local smoke runs. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Complete): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  /** Production state-store configuration: RocksDB provider (state lives
    * off-heap/on-disk per executor instead of the default in-JVM-heap HDFS
    * map — the first thing to fall over on a 100 TB sessionization load)
    * with changelog checkpointing, so each commit ships only the delta to
    * the checkpoint location rather than a full snapshot.
    *
    * Session-wide conf: set BEFORE starting stateful queries; takes effect
    * for newly started queries (existing checkpoints pin their provider). */
  def useRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  /** PRODUCTION drain: `Trigger.AvailableNow` processes everything available
    * at start in rate-limited micro-batches, then terminates — streaming
    * offset bookkeeping with batch-job lifecycle. Safe to re-invoke on a
    * schedule with the SAME checkpoint: each run picks up only files that
    * appeared since the last one, and the foreachBatch sink (durable,
    * checkpoint-recoverable, idempotent on (event-date, batch_id)) gives
    * effectively-once delivery across crashes and replays. */
  def drainToParquet(df: DataFrame, root: String, checkpoint: String,
                     tsCol: String = "ts"): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writePartitionedBatch(onCaller(df.sparkSession, batch), batchId, root, tsCol)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming → managed CATALOG table (`DataStreamWriter.toTable`) with
    * `Trigger.AvailableNow` lifecycle — the sink for downstream consumers
    * that address data by table name rather than path (the engine-native
    * analog of the reference's Glue-registered datasets: writes land in the
    * catalog already queryable, no separate crawler/registration step).
    * Exactly-once via the checkpoint; re-invoking on a schedule with the
    * SAME checkpoint appends only new source data. */
  def drainToTable(df: DataFrame, table: String, checkpoint: String): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(table)
    q.awaitTermination()
  }

  /** TEST/inspection drain into an in-memory table. The memory sink is not
    * fault-tolerant: pass a FRESH checkpoint per invocation (recovery into a
    * memory sink is rejected by Spark) — for durable scheduled drains use
    * [[drainToParquet]]. */
  def drainAvailableNow(df: DataFrame, name: String, checkpoint: String,
                        mode: OutputMode = OutputMode.Append): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
