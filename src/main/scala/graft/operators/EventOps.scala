package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-stream operators over `events` (timestamped table).
  *
  * These run in BATCH mode here — the exact same transformations run under
  * Structured Streaming via [[graft.streaming.EventStream]] (readStream +
  * watermark + the same windowed aggregations); keeping batch-first means one
  * code path is oracle-checked and the streaming wrapper stays thin.
  *
  * Timestamps: events.ts is nanos-parquet normalized to microseconds by
  * [[graft.Tables]]; session logic compares integer microseconds
  * (`unix_micros`) so Spark and the DuckDB oracle agree exactly.
  */
object EventOps {

  private val gapMicros = 1800L * 1000 * 1000 // 30 min session gap

  /** The pivoted event-type vocabulary — ONE definition for q43's pivot
    * columns, its null-fill, and q82's melt list (the oracle SQL spells the
    * same five names; keep in sync). */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Un-ordered daily per-type pivot shared by q43 (adds orderBy) and q82
    * (melts it back — inheriting a terminal sort would carry a redundant
    * exchange below the Expand). */
  private def dailyPivot(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", eventTypes)
      .count()
      .na.fill(0, eventTypes)

  /** Backward AS-OF JOIN: for each `left` row, the matching `right` row is
    * the one with the greatest right.`ts` <= left.`ts` for the same `key`;
    * the matched timestamp lands in a new column `out` and every column
    * named in `payload` is carried over from the matched right ROW (all
    * NULL when no right row precedes) — the point-in-time feature join
    * ("which campaign/price/version was in effect at event time"), not
    * just a timestamp lookup. Equal timestamps match (right sorts before
    * left on ties).
    *
    * Shape: tag both sides, union, pack `(ts, payload…)` into ONE struct
    * column and take `last(struct, ignoreNulls)` over a per-key
    * (ts, side)-ordered unbounded-preceding row frame, then unpack after
    * the side filter — ONE shuffle on `key`, each key's timeline streamed
    * once, per-key work linear regardless of payload width. The per-key
    * range-join + argmax alternative is quadratic in rows-per-key, and a
    * driver-side merge_asof doesn't distribute at all; this is the
    * 100 TB-safe formulation. `left` keeps all its columns.
    *
    * NULL semantics match an SQL equi-ASOF join (`ON l.key = r.key AND
    * r.ts <= l.ts`): right rows with a NULL key or NULL ts can never
    * match (they are filtered before the union — Window.partitionBy would
    * otherwise group NULL keys into one partition and "match" them), and
    * a left row with NULL key or NULL ts gets NULL outputs (with the NULL
    * right rows gone, its frame holds only left rows, whose packed value
    * is NULL).
    *
    * Determinism: if `right` holds several rows with the SAME (key, ts),
    * which one wins is tie-broken arbitrarily — pass `tieBreak` (a right
    * column, typically a unique id) and the row with the HIGHEST tie-break
    * value wins deterministically (arg-max semantics, matching an
    * `arg_max(·, id)` pre-dedup) WITHOUT the extra shuffle a groupBy
    * pre-aggregation would cost: the tie column just extends the ordering
    * of the one timeline sort. A NULL tie value LOSES to any non-null tie
    * in BOTH directions (NULLs sort first in traversal order; since r9 —
    * earlier builds let a NULL tie win forward matches), and a tied run
    * that is all-NULL still matches with an arbitrary winner — pinned by
    * the NULL-tieBreak regression spec.
    */
  def asofBackward(left: DataFrame, right: DataFrame,
                   key: String, ts: String, out: String,
                   payload: Seq[String] = Nil,
                   tieBreak: Option[String] = None): DataFrame =
    asofMatch(left, right, key, ts, out, payload, tieBreak, forward = false)

  /** Forward AS-OF JOIN — the time-to-next-event mirror of
    * [[asofBackward]]: for each `left` row, the matching `right` row is
    * the one with the SMALLEST right.`ts` >= left.`ts` for the same key
    * ("when did this user next convert"). Equal timestamps match (left
    * sorts before right on ties); with `tieBreak`, the LOWEST tie value
    * wins among equal-ts right rows (arg-min — the mirror of backward's
    * arg-max). Same ONE-shuffle union shape AND the same O(n)-per-key
    * growing frame: forward is backward over the REVERSED ordering
    * (`ts` desc + descending tie), still `last(struct, ignoreNulls)` over
    * unboundedPreceding→currentRow — Spark's only incrementally-evaluated
    * unbounded frame; identical NULL semantics and payload packing. */
  def asofForward(left: DataFrame, right: DataFrame,
                  key: String, ts: String, out: String,
                  payload: Seq[String] = Nil,
                  tieBreak: Option[String] = None): DataFrame =
    asofMatch(left, right, key, ts, out, payload, tieBreak, forward = true)

  private def asofMatch(left: DataFrame, right: DataFrame,
                        key: String, ts: String, out: String,
                        payload: Seq[String], tieBreak: Option[String],
                        forward: Boolean): DataFrame = {
    val op = if (forward) "asofForward" else "asofBackward"
    Seq("__side", "__asof", "__tie", out).foreach { c =>
      require(!left.columns.contains(c),
        s"$op: left already has a column '$c' (reserved/output name) — rename it first")
    }
    tieBreak.foreach { tb =>
      require(right.columns.contains(tb),
        s"$op: tieBreak column '$tb' not found on the right side")
    }
    payload.foreach { p =>
      require(!left.columns.contains(p),
        s"$op: payload column '$p' collides with a left column — alias it on the right side first")
      require(right.columns.contains(p),
        s"$op: payload column '$p' not found on the right side")
      require(p != "__t" && p != out,
        s"$op: payload column '$p' collides with the packed-struct field names")
    }
    val tsType = left.schema(ts).dataType
    // SQL ASOF parity: NULL-key / NULL-ts right rows can never satisfy the
    // equi+range predicate, so they must not enter the timeline — filtered
    // on the CAST value, so a right ts that casts to NULL (type-mismatched
    // input) can't ride in as a non-null struct with a NULL match time
    val rMatchable = right.filter(
      col(key).isNotNull && col(ts).cast(tsType).isNotNull)
    val packed = struct(
      (col(ts).cast(tsType).as("__t") +: payload.map(col)).toIndexedSeq: _*)
    // BOTH directions traverse each key's timeline with a growing
    // (unboundedPreceding → currentRow) row frame + running last(): that is
    // the ONE window frame Spark evaluates incrementally
    // (UnboundedPrecedingWindowFunctionFrame, O(n) per key). Forward is
    // backward over the REVERSED ordering (ts desc) — never first() over an
    // unbounded-FOLLOWING frame, which Spark re-evaluates from every row to
    // partition end (UnboundedFollowingWindowFunctionFrame, O(n²) per key:
    // a hot key with many events degrades quadratically).
    // In traversal order the matchable right row must sort BEFORE an
    // equal-ts left row so ties match: right(0) before left(1) in both
    // directions (forward's desc sort already reverses the ts axis).
    val (lSide, rSide) = (1, 0)
    val rBase = rMatchable.select(
      (col(key) +: col(ts).cast(tsType).as(ts) +: packed.as("__asof") +:
        lit(rSide).as("__side") +:
        tieBreak.map(tb => col(tb).as("__tie")).toSeq).toIndexedSeq: _*)
    val asofType = rBase.schema("__asof").dataType
    val l0 = left.withColumn("__side", lit(lSide))
      .withColumn("__asof", lit(null).cast(asofType))
    val l = tieBreak.fold(l0)(_ => l0.withColumn("__tie",
      lit(null).cast(rBase.schema("__tie").dataType)))
    val extras = left.columns.filterNot(c => c == key || c == ts)
    val r = extras.foldLeft(rBase) {
      (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    // ties among same-(key, ts) right rows: running last() picks the row
    // SORTED LAST within the equal-ts run, so ascending __tie → MAX tie
    // wins (backward, arg-max) and descending __tie → MIN tie wins
    // (forward, arg-min); NULL ties sort FIRST in both so they lose to any
    // non-null tie.
    // NULL-ts left rows must match nothing in BOTH directions: nulls sort
    // FIRST in traversal order (asc_nulls_first / desc_nulls_first), so
    // their growing frame holds only fellow NULL-ts left rows (NULL-ts
    // right rows were filtered above) and the packed value stays NULL.
    val tsOrder = if (forward) col(ts).desc_nulls_first else col(ts).asc_nulls_first
    val tieOrder =
      if (forward) col("__tie").desc_nulls_first else col("__tie").asc_nulls_first
    val order = Seq(tsOrder, col("__side")) ++ tieBreak.map(_ => tieOrder)
    val byKey = Window.partitionBy(key).orderBy(order: _*)
    val timeline = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r.select(l.columns.map(col).toIndexedSeq: _*))
      .withColumn("__asof", last(col("__asof"), ignoreNulls = true).over(timeline))
      .filter(col("__side") === lSide)
      .withColumn(out, col("__asof.__t"))
    payload.foldLeft(matched) { (df, p) => df.withColumn(p, col(s"__asof.$p")) }
      .drop("__side", "__asof", "__tie")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tumbling-window aggregation (hourly) by event type.
    "q40_hourly_by_type" -> ((s, d) => {
      Tables.load(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Num.tierFor(Tables.load(s, d, "events")).dsum(col("value")).as("sum_value"))
        // a global sort, not sortSmall: the hour groups grow with the time
        // span the events cover, so coalesce(1) would merge them in one task
        .orderBy("hr", "event_type")
    }),

    // Gap-based sessionization via window functions: new session when the
    // per-user gap exceeds 30 minutes; running sum of session starts gives
    // the session id. Integer-microsecond comparison for engine parity.
    "q41_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_us").isNull || col("us") - col("prev_us") > gapMicros, 1L).otherwise(0L))
        .withColumn("sid", sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max("sid").cast("bigint").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Native Spark session windows (the scale path: state-store backed under
    // streaming). Session identity is exposed as min(event_id) so the output
    // carries no raw timestamps (engine-neutral). Spark merges events whose
    // gap is STRICTLY less than 30 min, so the oracle splits on gap >= 30min.
    "q42_session_window" -> ((s, d) => {
      Tables.load(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(min("event_id").as("session_first_event"),
          count(lit(1)).as("n_events"),
          Num.tierFor(Tables.load(s, d, "events")).dsum(col("value")).as("sum_value"))
        .select("user_id", "session_first_event", "n_events", "sum_value")
        .orderBy("user_id", "session_first_event")
    }),

    // Pivot: daily event-type count matrix (fixed pivot values → static
    // schema, nulls filled to 0 to match SQL conditional aggregation).
    "q43_daily_pivot" -> ((s, d) => dailyPivot(s, d).orderBy("day")),

    // UNPIVOT (melt) — the inverse reshape of q43: wide per-type columns
    // back to (day, event_type, n) long form via the native unpivot
    // operator (an Expand node: one pass, rows × 5, no shuffle beyond
    // the pivot's own aggregation).
    "q82_unpivot" -> ((s, d) => {
      dailyPivot(s, d)
        .unpivot(Array(col("day")), eventTypes.map(col).toArray, "event_type", "n")
        // a global sort, not sortSmall: the day groups grow with the span
        // the events cover, as q40's hour groups do
        .orderBy("day", "event_type")
    }),

    // As-of lookup as a window: for every event, the value of the user's
    // most recent PRIOR 'purchase' event (last_value IGNORE NULLS over the
    // preceding frame) — the point-in-time-correct join pattern for feature
    // backfills, with no shuffle beyond the per-user window.
    "q45_asof_prev_purchase" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(s, d, "events")
        .withColumn("prev_purchase_value",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
        .select("user_id", "event_id", "event_type", "value", "prev_purchase_value")
        .orderBy("user_id", "event_id")
    }),

    // Conversion funnel (view → click → purchase, strictly ordered in event
    // time per user): each stage is a conditional-min aggregation joined to
    // the previous stage's first-time — three shuffles on user_id, no
    // self-cross-products; stage frames shrink monotonically so the later
    // joins get cheaper, and the single-row stage counts broadcast. Integer
    // microsecond comparisons for engine parity; output carries counts and
    // conversion rates only (no raw timestamps).
    "q77_funnel" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") > col("v_us"))
        .groupBy("user_id").agg(min("us").as("c_us"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") > col("c_us"))
        .groupBy("user_id").agg(min("us").as("p_us"))
      ev.agg(count_distinct(col("user_id")).as("n_users"))
        .join(broadcast(v.agg(count(lit(1)).as("n_view"))))
        .join(broadcast(c.agg(count(lit(1)).as("n_click_after_view"))))
        .join(broadcast(p.agg(count(lit(1)).as("n_purchase_after_click"))))
        .select(
          col("n_users"), col("n_view"), col("n_click_after_view"),
          col("n_purchase_after_click"),
          round(col("n_view") / col("n_users"), 4).as("view_rate"),
          round(col("n_click_after_view") / col("n_view"), 4).as("click_conv"),
          round(col("n_purchase_after_click") / col("n_click_after_view"), 4).as("purchase_conv"))
    }),

    // Regular-interval resampling with forward fill (the time-series
    // gap-fill operator): generate each user's hourly grid between their
    // first and last event (sequence + explode — grid generation is
    // map-side per user, never a driver loop), left-join the observed
    // hourly values, and carry the last observation forward. The grid
    // starts at an observed hour, so the fill is never null. Three users
    // keep the demo output bounded; the shape is per-key linear.
    "q81_resample_ffill" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") < 3)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
          col("value"), col("event_id"))
      val hourly = ev.groupBy("user_id", "hr")
        .agg(max_by(col("value"), col("event_id")).as("v"))
      // bounds from the (small) hourly aggregate, not a second event scan —
      // every observed hour survives the aggregation, so min/max agree
      val grid = hourly.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hr"))
      // no rounding: the fill SELECTS an existing value (max_by + window
      // last carry it bit-for-bit), so both engines emit identical doubles
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .withColumn("filled_value",
          last("v", ignoreNulls = true).over(
            Window.partitionBy("user_id").orderBy("hr")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "hr", "filled_value")
        .orderBy("user_id", "hr")
    }),

    // Deterministic first/last per user via min_by/max_by on the unique
    // event_id (shuffle-safe argmin/argmax, no window needed).
    "q44_first_last" -> ((s, d) => {
      Tables.load(s, d, "events")
        .groupBy("user_id")
        .agg(
          min_by(col("event_type"), col("event_id")).as("first_type"),
          max_by(col("event_type"), col("event_id")).as("last_type"),
          min_by(col("value"), col("event_id")).as("first_value"),
          max_by(col("value"), col("event_id")).as("last_value"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Dimension upsert (SCD type-1 MERGE semantics, engine-composed): the
    // "current state per user" dimension as of a cutoff is merged with a
    // delta batch (events after the cutoff) — matched keys take the delta's
    // latest values, unmatched delta keys insert, untouched keys carry
    // over, and each row reports which of the three MERGE branches it took.
    // Both sides reduce to ONE row per key (shuffle-safe arg-max on the
    // unique event_id) BEFORE the merge, so the full-outer join is
    // key-sized, not event-sized — and in production the delta side is a
    // day's batch, broadcastable against a bucketed dimension table.
    "q92_dim_upsert" -> ((s, d) => {
      val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
      val ev = Tables.load(s, d, "events")
      def latest(df: DataFrame, p: String): DataFrame = df.groupBy("user_id").agg(
        max_by(col("event_type"), col("event_id")).as(p + "t"),
        max_by(col("value"), col("event_id")).as(p + "v"),
        max(col("event_id")).as(p + "eid"))
      latest(ev.filter(col("ts") < cutoff), "b")
        .join(latest(ev.filter(col("ts") >= cutoff), "d"), Seq("user_id"), "full_outer")
        .select(
          col("user_id"),
          coalesce(col("dt"), col("bt")).as("last_type"),
          coalesce(col("dv"), col("bv")).as("last_value"),
          coalesce(col("deid"), col("beid")).as("last_event_id"),
          when(col("deid").isNotNull && col("beid").isNotNull, "updated")
            .when(col("beid").isNull, "inserted")
            .otherwise("unchanged").as("status"))
        .orderBy("user_id")
    }),

    // Retention cohort matrix: users grouped by first-activity day, then
    // distinct active users per (cohort, day-offset) cell — the classic
    // product-analytics triangle. Scale: one shuffle on user_id for the
    // first-day aggregate; the join back is on the SAME key so the
    // exchange is reused, and the cell aggregate is |days|²-sized. The
    // exact count-distinct per cell is the semantics (a HLL sketch
    // variant is q47's territory).
    // AS-OF JOIN (backward) between two relations: every purchase is
    // attributed to the same user's most recent click at-or-before the
    // purchase timestamp. Generalizes q45 (prior-value lookup WITHIN one
    // stream) to the two-sided join API ([[asofBackward]]) a feature
    // pipeline needs for point-in-time-correct joins against a separate
    // table.
    // Implemented as the UNION + running-last pattern — tag both sides,
    // sort within user by (ts, side) with clicks first on ties, and take
    // `last(click_ts, ignoreNulls)` over an unbounded-preceding row frame —
    // which costs ONE shuffle on user_id and streams each user's timeline
    // once. The naive per-user range join (clicks × purchases, then
    // argmax) is quadratic in events-per-user and is exactly what a
    // single-node merge_asof cannot distribute; this shape holds at 100 TB
    // because per-key work is linear and keys are independent. The oracle
    // replays the semantics with DuckDB's native ASOF LEFT JOIN — an
    // independent implementation, not the same algorithm.
    "q104_asof_attribution" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      asofBackward(
        left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = ev.filter(col("event_type") === "click").select("user_id", "ts"),
        key = "user_id", ts = "ts", out = "click_ts")
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("click_ts"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy("event_id")
    }),

    // AS-OF JOIN with right-side PAYLOAD: q104 returns only the matched
    // click's timestamp; the join a feature pipeline actually needs
    // returns the matched right ROW — here each purchase is enriched with
    // the preceding click's event_id, value and props (the "which
    // campaign was in effect" point-in-time lookup). Same ONE-shuffle
    // union + running-last shape: the payload rides the timeline packed
    // in a single struct, so cost is independent of payload width, and
    // same-(user, ts) click ties are broken INSIDE the window ordering
    // (tieBreak = the unique event_id: highest wins, arg-max semantics) —
    // no pre-aggregation shuffle. The oracle dedups with arg_max over
    // (user_id, ts) before its ASOF join (DuckDB's ASOF is arbitrary on
    // ties), which is exactly the row our tie-break selects.
    "q106_asof_enrich" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_event_id"),
          col("value").as("click_value"),
          col("props").as("click_props"))
      asofBackward(
        left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = clicks,
        key = "user_id", ts = "ts", out = "click_ts",
        payload = Seq("click_event_id", "click_value", "click_props"),
        tieBreak = Some("click_event_id"))
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("click_ts"),
          col("click_event_id"), col("click_value"), col("click_props"))
        .orderBy("event_id")
    }),

    // FORWARD AS-OF JOIN — time-to-conversion attribution: every click is
    // matched to the same user's NEXT purchase at-or-after the click, with
    // the purchase's id and value as payload and the conversion gap in
    // microseconds. The mirror of q106 (first-over-following instead of
    // last-over-preceding, arg-MIN tie-break), same one-shuffle timeline.
    // The oracle replays it with DuckDB's (backward-only) native ASOF
    // join over NEGATED epoch micros — min(t >= x) ≡ max(-t <= -x) — an
    // independent formulation, not our window shape; right rows pre-dedup
    // per (user, ts) with arg_min, exactly what the tieBreak selects.
    "q109_asof_forward" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      asofForward(
        left = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        right = purchases,
        key = "user_id", ts = "ts", out = "purchase_ts",
        payload = Seq("purchase_id", "purchase_value"),
        tieBreak = Some("purchase_id"))
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"),
          col("purchase_ts"), col("purchase_id"), col("purchase_value"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("ts"))).as("gap_us"))
        .orderBy("event_id")
    }),

    "q98_retention_cohorts" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val firsts = ev.groupBy("user_id").agg(min("day").as("c0"))
      ev.join(firsts, "user_id")
        .groupBy(
          // string cohort key: raw DATE columns round-trip differently
          // across engines (date32 vs timestamp in the compare harness)
          date_format(col("c0"), "yyyy-MM-dd").as("cohort"),
          datediff(col("day"), col("c0")).cast("long").as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort", "day_offset")
    }))

  val oracleSql: Map[String, String] = Map(
    "q40_hourly_by_type" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_type,
        | count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY hr, event_type ORDER BY hr, event_type""".stripMargin,

    "q104_asof_attribution" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        | CAST(c.cts AS TIMESTAMP) AS click_ts,
        | epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.cts AS TIMESTAMP)) AS gap_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id AS cuid, ts AS cts FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.cuid AND CAST(c.cts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |ORDER BY p.event_id""".stripMargin,

    "q106_asof_enrich" ->
      """WITH c AS (
        | SELECT user_id AS cuid, CAST(ts AS TIMESTAMP) AS cts,
        |  max(event_id) AS click_event_id,
        |  arg_max(value, event_id) AS click_value,
        |  arg_max(props, event_id) AS click_props
        | FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        | c.cts AS click_ts, c.click_event_id, c.click_value, c.click_props
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN c
        | ON p.user_id = c.cuid AND c.cts <= CAST(p.ts AS TIMESTAMP)
        |ORDER BY p.event_id""".stripMargin,

    "q109_asof_forward" ->
      """WITH p AS (
        | SELECT user_id AS puid, CAST(ts AS TIMESTAMP) AS pts,
        |  -epoch_us(CAST(ts AS TIMESTAMP)) AS neg_us,
        |  min(event_id) AS purchase_id,
        |  arg_min(value, event_id) AS purchase_value
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3),
        |c AS (
        | SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts,
        |  -epoch_us(CAST(ts AS TIMESTAMP)) AS neg_us
        | FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.cts AS click_ts,
        | p.pts AS purchase_ts, p.purchase_id, p.purchase_value,
        | epoch_us(p.pts) - epoch_us(c.cts) AS gap_us
        |FROM c
        |ASOF LEFT JOIN p ON c.user_id = p.puid AND p.neg_us <= c.neg_us
        |ORDER BY c.event_id""".stripMargin,

    "q41_sessionize" ->
      """WITH x AS (
        | SELECT user_id, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        | FROM events),
        |y AS (
        | SELECT user_id,
        |  sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x)
        |SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM y GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q42_session_window" ->
      """WITH x AS (
        | SELECT user_id, event_id, value,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        | FROM events),
        |y AS (
        | SELECT user_id, event_id, value,
        |  sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x)
        |SELECT user_id, min(event_id) AS session_first_event, count(*) AS n_events,
        | CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_first_event""".stripMargin,

    "q43_daily_pivot" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    // portable melt: a UNION ALL per measure column (no dialect-specific
    // UNPIVOT syntax needed on the oracle side)
    "q82_unpivot" ->
      """WITH wide AS (
        | SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        | FROM events GROUP BY day)
        |SELECT day, 'click' AS event_type, click AS n FROM wide
        |UNION ALL SELECT day, 'error', error FROM wide
        |UNION ALL SELECT day, 'purchase', purchase FROM wide
        |UNION ALL SELECT day, 'signup', signup FROM wide
        |UNION ALL SELECT day, 'view', view FROM wide
        |ORDER BY day, event_type""".stripMargin,

    "q45_asof_prev_purchase" ->
      """SELECT user_id, event_id, event_type, value,
        | last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |  OVER (PARTITION BY user_id ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q81_resample_ffill" ->
      """WITH ev AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value, event_id
        |            FROM events WHERE user_id < 3),
        | hourly AS (SELECT user_id, hr, arg_max(value, event_id) AS v FROM ev GROUP BY user_id, hr),
        | bounds AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY user_id),
        | grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds),
        | j AS (SELECT g.user_id, g.hr, h.v FROM grid g
        |       LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr)
        |SELECT user_id, hr,
        | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM j ORDER BY user_id, hr""".stripMargin,

    "q77_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | v AS (SELECT user_id, min(us) AS v_us FROM ev WHERE event_type = 'view' GROUP BY user_id),
        | c AS (SELECT ev.user_id, min(us) AS c_us FROM ev JOIN v USING (user_id)
        |       WHERE event_type = 'click' AND us > v_us GROUP BY ev.user_id),
        | p AS (SELECT ev.user_id, min(us) AS p_us FROM ev JOIN c USING (user_id)
        |       WHERE event_type = 'purchase' AND us > c_us GROUP BY ev.user_id),
        | t AS (SELECT count(DISTINCT user_id) AS n_users FROM ev),
        | nv AS (SELECT count(*) AS n_view FROM v),
        | nc AS (SELECT count(*) AS n_click_after_view FROM c),
        | np AS (SELECT count(*) AS n_purchase_after_click FROM p)
        |SELECT n_users, n_view, n_click_after_view, n_purchase_after_click,
        | round(n_view / n_users, 4) AS view_rate,
        | round(n_click_after_view / n_view, 4) AS click_conv,
        | round(n_purchase_after_click / n_click_after_view, 4) AS purchase_conv
        |FROM t, nv, nc, np""".stripMargin,

    "q44_first_last" ->
      """SELECT user_id,
        | arg_min(event_type, event_id) AS first_type,
        | arg_max(event_type, event_id) AS last_type,
        | arg_min(value, event_id) AS first_value,
        | arg_max(value, event_id) AS last_value,
        | count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q92_dim_upsert" ->
      """WITH base AS (
        |  SELECT user_id, arg_max(event_type, event_id) AS bt,
        |   arg_max(value, event_id) AS bv, max(event_id) AS beid
        |  FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        |  GROUP BY user_id),
        | delta AS (
        |  SELECT user_id, arg_max(event_type, event_id) AS dt,
        |   arg_max(value, event_id) AS dv, max(event_id) AS deid
        |  FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-20 00:00:00'
        |  GROUP BY user_id)
        |SELECT coalesce(b.user_id, d.user_id) AS user_id,
        | coalesce(d.dt, b.bt) AS last_type,
        | coalesce(d.dv, b.bv) AS last_value,
        | coalesce(d.deid, b.beid) AS last_event_id,
        | CASE WHEN d.deid IS NOT NULL AND b.beid IS NOT NULL THEN 'updated'
        |      WHEN b.beid IS NULL THEN 'inserted'
        |      ELSE 'unchanged' END AS status
        |FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
        |ORDER BY user_id""".stripMargin,

    "q98_retention_cohorts" ->
      """WITH ev AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        | firsts AS (SELECT user_id, min(day) AS c0 FROM ev GROUP BY user_id)
        |SELECT strftime(f.c0, '%Y-%m-%d') AS cohort,
        | datediff('day', f.c0, e.day) AS day_offset,
        | count(DISTINCT e.user_id) AS n_users
        |FROM ev e JOIN firsts f ON e.user_id = f.user_id
        |GROUP BY cohort, day_offset ORDER BY cohort, day_offset""".stripMargin)
}
