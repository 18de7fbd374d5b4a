package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.storage.StorageLevel

/** The at-rest artifact lifecycle every durable index family shares: the
  * MinHash corpus, n-gram prefix and containment indexes ([[DedupOps]]),
  * the media phash index ([[MultimodalOps]]), the first-seen index
  * ([[CorpusOps]]) and [[SplitState]]. A family is a set of catalog
  * tables `<prefix>_<t>` plus a `<prefix>_tombstones` side-table; each
  * family keeps what is its own (sketching, ranking, `_meta` fences,
  * re-attribution) and calls this module for the rest.
  *
  * THE PROTOCOL (plain parquet tables, no cross-table transaction; single
  * writer assumed — a transactional table format makes each step one
  * commit at cluster scale):
  *
  *  - APPEND ([[append]]) writes into the live table's catalog bucket
  *    spec, so only a family's save states a layout and every batch lands
  *    in the buckets the corpus-stationary joins rely on. A family with
  *    derived tables writes its BASE table first ([[appendDerived]]); a
  *    derived table is a pure function of the base, so the only reachable
  *    inconsistency after a crash is base rows without derived rows,
  *    healed by [[repair]]. Do not re-append the crashed batch: a blind
  *    retry duplicates its base rows. Families fenced by a `_meta` row
  *    (written last) heal by re-running the append, which anti-joins away
  *    what already committed.
  *  - TAKEDOWN ([[tombstone]]) appends ids to the tombstone table, O(batch),
  *    never a rewrite. [[live]] hides them at read with an un-hinted
  *    anti-join: AQE broadcasts a takedown-sized side, which keeps the
  *    scan's bucketed partitioning, and a mass purge degrades to a shuffle.
  *    Re-admitting an id whose tombstone is still pending would leave its
  *    rows hidden until compaction deletes them, so appends call
  *    [[requireNoPendingTombstone]] first.
  *  - COMPACTION ([[compact]], [[rewrite]]) stages every rewritten table
  *    as `<t>_compact` (Spark refuses to overwrite a table it reads), then
  *    swaps each by drop + rename, then drops the tombstones LAST. A crash
  *    before any swap leaves stale staging the next run overwrites; a crash
  *    between two swaps leaves tables that still agree under the pending
  *    tombstones (applying a tombstone to a compacted table is a no-op); a
  *    crash between a drop and its rename leaves the live name dangling,
  *    and the next compaction ([[heal]]) or append heals it before any new
  *    work. The same heal-and-swap rewrites a `_meta` table in place
  *    ([[migrate]]).
  *
  * Every write, drop and rename goes through one private step, so the
  * fault-injection spec can crash after any of them ([[crashAfterStep]]). */
object AtRest {

  def table(p: String, t: String): String = s"${p}_$t"
  def tombstones(p: String): String = s"${p}_tombstones"
  private def staged(t: String): String = s"${t}_compact"
  private def migrating(t: String): String = s"${t}_migrate"

  /** Test seam: set to `k` > 0, the `k`-th at-rest step this thread runs
    * from then on throws [[InjectedCrash]] after it completes. */
  private[graft] val crashAfterStep = new ThreadLocal[Int] { override def initialValue = 0 }

  private[graft] final class InjectedCrash extends RuntimeException("injected at-rest crash")

  private def step(body: => Unit): Unit = {
    body
    val k = crashAfterStep.get
    if (k > 0) {
      crashAfterStep.set(k - 1)
      if (k == 1) throw new InjectedCrash
    }
  }

  private def write(df: DataFrame, t: String, mode: String, layout: Option[BucketSpec]): Unit =
    step {
      val w = df.write.mode(mode).format("parquet")
      layout.fold(w)(b => w.bucketBy(b.numBuckets, b.bucketColumnNames.head,
        b.bucketColumnNames.tail.toSeq: _*)).saveAsTable(t)
    }

  private def sql(s: SparkSession, stmt: String): Unit = step(s.sql(stmt))

  private def layoutOf(s: SparkSession, t: String): Option[BucketSpec] =
    if (!s.catalog.tableExists(t)) None
    else s.sessionState.catalog
      .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec

  /** Overwrite `t` with `df`, bucketed `nBuckets` ways on `bucketCols` when
    * any are given — the one place a family states its layout. */
  def save(df: DataFrame, t: String, nBuckets: Int = 0, bucketCols: Seq[String] = Nil): Unit =
    write(df, t, "overwrite",
      if (bucketCols.isEmpty) None else Some(BucketSpec(nBuckets, bucketCols, Nil)))

  /** `t`'s catalog bucket spec for an append. A live name that a crashed
    * compaction or migration left dangling is first healed from its
    * staging: appending beside the staging would create a batch-only
    * table, which the next heal keeps and whose staged rewrite then
    * overwrites the staging that held the whole table. A `bucketed` target
    * must exist with a bucket spec; any other missing target is created
    * plain. */
  private def target(s: SparkSession, t: String, bucketed: Boolean): Option[BucketSpec] = {
    healStaged(s, t, staged(t))
    healStaged(s, t, migrating(t))
    val layout = layoutOf(s, t)
    if (bucketed && layout.isEmpty) throw new IllegalStateException(
      s"$t is missing or carries no bucket spec — not a table written by a graft index save")
    layout
  }

  /** Append `df` to `t` in `t`'s catalog bucket spec ([[target]]). */
  def append(df: DataFrame, t: String, bucketed: Boolean = false): Unit =
    write(df, t, "append", target(df.sparkSession, t, bucketed))

  /** A family's admit: the `base` rows, then the bucketed `derived` rows
    * computed from them — the order [[repair]] relies on. Both targets are
    * resolved before the base write, so a missing or unbucketed derived
    * table fails before anything lands. */
  def appendDerived(base: (DataFrame, String), derived: (DataFrame, String)): Unit = {
    val s = base._1.sparkSession
    val (bl, dl) = (target(s, base._2, bucketed = false), target(s, derived._2, bucketed = true))
    write(base._1, base._2, "append", bl)
    write(derived._1, derived._2, "append", dl)
  }

  def tombstone(p: String, docIds: DataFrame): Unit =
    append(docIds.select("doc_id"), tombstones(p))

  /** The distinct tombstoned ids under `p` (the table must exist). */
  def dead(s: SparkSession, p: String): DataFrame =
    s.table(tombstones(p)).select("doc_id").distinct()

  /** `df` without the rows whose `key` has a pending tombstone under `p`. */
  def live(s: SparkSession, p: String, df: DataFrame, key: String = "doc_id"): DataFrame =
    if (!s.catalog.tableExists(tombstones(p))) df
    else {
      val d = dead(s, p)
      df.join(d, df(key) === d("doc_id"), "left_anti")
    }

  /** `ids` plus every id with a pending tombstone under `p`: what a replay
    * must treat as already handled (a takedown is not a crashed append). */
  def withTombstoned(s: SparkSession, p: String, ids: DataFrame): DataFrame =
    if (!s.catalog.tableExists(tombstones(p))) ids
    else ids.unionByName(s.table(tombstones(p)).select("doc_id"))

  /** Fails when an id of `ids` has a pending tombstone under `p`; `op`
    * names the caller and `compactOp` what to run first. */
  def requireNoPendingTombstone(op: String, p: String, ids: DataFrame,
                                compactOp: String): Unit =
    if (ids.sparkSession.catalog.tableExists(tombstones(p))) {
      val clash = ids.select("doc_id")
        .join(ids.sparkSession.table(tombstones(p)).select("doc_id"), "doc_id")
        .limit(1).collect()
      require(clash.isEmpty,
        s"$op: doc_id ${clash.head.get(0)} has a pending tombstone in " +
          s"${tombstones(p)} — ids are never reused, and appending it now " +
          s"would leave its rows hidden until compaction deletes them. Run $compactOp.")
    }

  /** Heal derived table `derived` after a crashed append: `rows` of the
    * base rows of exactly the doc_ids `base` has and `derived` lacks,
    * appended. Idempotent; returns the number of such doc_ids. */
  def repair(s: SparkSession, base: String, derived: String)
            (rows: DataFrame => DataFrame): Long = {
    val layout = target(s, derived, bucketed = true)
    val b = s.table(base)
    val missing = b.select("doc_id").distinct()
      .join(s.table(derived).select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = missing.count()
      if (n > 0) write(rows(b.join(missing, "doc_id")), derived, "append", layout)
      n
    } finally missing.unpersist()
  }

  /** Rename a staged table back into a missing live name. */
  private def healStaged(s: SparkSession, live: String, staging: String): Unit =
    if (!s.catalog.tableExists(live) && s.catalog.tableExists(staging))
      sql(s, s"ALTER TABLE $staging RENAME TO $live")

  /** Heal the `_compact` staging of tables `ts` under `p`. */
  def heal(s: SparkSession, p: String, ts: String*): Unit =
    ts.foreach(t => healStaged(s, table(p, t), staged(table(p, t))))

  /** Heal a `_meta`-style table a crashed [[migrate]] left dangling. */
  def healMigration(s: SparkSession, t: String): Unit = healStaged(s, t, migrating(t))

  /** Rewrite `t` as `df` (which may read `t`) via staging + drop + rename. */
  def migrate(s: SparkSession, t: String, df: DataFrame): Unit = {
    write(df, migrating(t), "overwrite", None)
    sql(s, s"DROP TABLE IF EXISTS $t")
    sql(s, s"ALTER TABLE ${migrating(t)} RENAME TO $t")
  }

  /** The tombstone fold: heal `ts`, and if tombstones are pending stage
    * each table's rewrite (by default its [[live]] rows) and swap. */
  def compact(s: SparkSession, p: String, ts: String*)
             (rewritten: String => DataFrame = t => live(s, p, s.table(table(p, t)))): Unit = {
    heal(s, p, ts: _*)
    if (s.catalog.tableExists(tombstones(p))) rewrite(s, p, ts.map(t => t -> rewritten(t)))
  }

  /** Stage each `(t, df)` in `t`'s bucket spec, swap them all in, then
    * drop the tombstones under `p`. */
  def rewrite(s: SparkSession, p: String, rewrites: Seq[(String, DataFrame)]): Unit = {
    for ((t, df) <- rewrites)
      write(df, staged(table(p, t)), "overwrite", layoutOf(s, table(p, t)))
    for ((t, _) <- rewrites) {
      sql(s, s"DROP TABLE IF EXISTS ${table(p, t)}")
      sql(s, s"ALTER TABLE ${staged(table(p, t))} RENAME TO ${table(p, t)}")
    }
    sql(s, s"DROP TABLE IF EXISTS ${tombstones(p)}")
  }

  /** Drop every table family `p` with tables `ts` can leave behind — their
    * staging, `_meta` and its migration, the tombstones — and any managed
    * directory an earlier process orphaned (a fresh create would otherwise
    * fail with LOCATION_ALREADY_EXISTS). Each staging goes before its live
    * table, so a crashed drop leaves no staging for an append to heal. */
  def dropFamily(s: SparkSession, p: String, ts: String*): Unit =
    for (t <- ts.flatMap(t => Seq(staged(table(p, t)), table(p, t))) ++
        Seq(migrating(table(p, "meta")), table(p, "meta"), tombstones(p))) {
      sql(s, s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
}
