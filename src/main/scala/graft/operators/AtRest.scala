package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The at-rest artifact lifecycle every durable family shares. Catalog
  * families: the MinHash corpus (with the admission drain's `_admissions`
  * manifest), n-gram prefix and containment indexes ([[DedupOps]]), the
  * media phash index ([[MultimodalOps]]), the first-seen index
  * ([[CorpusOps]]) and [[SplitState]]. Path families: [[ClusterState]] and
  * [[IvfIndex]]. Each family keeps what is its own (sketching, ranking,
  * `_meta` fences, re-attribution) and calls this module for the rest.
  *
  * THE DIRECTORY IS THE TRUTH. A family's root is `<warehouse>/<p>.atrest`
  * for catalog family `p` (no managed table has such a name) or the
  * caller's path. Table `t` lives at `<root>/<t>/v<N>/`, and the newest
  * LAYOUT file `<root>/_layout/<G>` records each table's version, schema
  * and bucket spec. The layout is read and written through the Hadoop
  * FileSystem API, so no step below starts a Spark job. Catalog tables
  * `<p>_<t>` are external tables over it: a cache any session rebuilds.
  *
  *  - OPEN ([[open]]) registers a missing name with its recorded schema and
  *    bucket spec, moves a stale location and drops folded tombstones.
  *    Every family entry point opens first, so its catalog reads see the
  *    durable state.
  *  - COMMIT ([[save]], [[rewrite]]) writes each given table as `v<G+1>`,
  *    then writes the layout under a temp name and renames it to
  *    `_layout/<G+1>` — a name that does not exist yet, so the rename is
  *    atomic and is the one commit point. It then re-points the catalog
  *    and deletes what the layout no longer names. A crash before the
  *    rename leaves the old layout in force; one after it leaves a catalog
  *    the next [[open]] re-points. bucketBy needs saveAsTable, so a
  *    bucketed version is written under a transient external name that is
  *    dropped at once (an external table keeps its files).
  *  - APPEND ([[append]]) writes into the registered table's current
  *    version in its bucket spec, so every batch lands in the buckets the
  *    corpus-stationary joins rely on. A family with derived tables writes
  *    its BASE table first ([[appendDerived]]); a derived table is a pure
  *    function of the base, so a crash can only leave base rows without
  *    derived rows, healed by [[repair]] (a blind retry would duplicate the
  *    base rows). Families fenced by a `_meta` row (written last) heal by
  *    re-running the append, which anti-joins away what already committed.
  *  - TAKEDOWN ([[tombstone]]) appends ids to the `tombstones` table, never
  *    a rewrite. [[live]] hides them at read with an un-hinted anti-join:
  *    AQE broadcasts a takedown-sized side, which keeps the scan's bucketed
  *    partitioning, and a mass purge degrades to a shuffle. Appends call
  *    [[requireNoPendingTombstone]] first: a re-admitted id would stay
  *    hidden until compaction deleted it.
  *  - COMPACTION ([[compact]]) is one commit of the rewritten tables whose
  *    layout no longer names the tombstones.
  *
  * Single writer assumed. Every write, catalog statement and layout rename
  * is one step the fault-injection spec can crash after ([[crashAfterStep]]). */
object AtRest {

  def table(p: String, t: String): String = s"${p}_$t"
  def tombstones(p: String): String = s"${p}_tombstones"

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

  private def sql(s: SparkSession, stmt: String): Unit = step(s.sql(stmt))

  /** One table of a [[save]]: `df` becomes table `t`'s next version,
    * bucketed `n` ways on `cols` when any are given. */
  final case class Version(t: String, df: DataFrame, n: Int = 0, cols: Seq[String] = Nil)

  /** A table's committed state: its version, schema DDL and bucket spec. */
  private final case class Entry(version: Long, ddl: String, spec: Option[BucketSpec])

  /** Layout generation `gen` (-1: nothing committed) and its tables. */
  private final case class Layout(gen: Long, tables: Map[String, Entry])

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Catalog family `p`'s root. perfbench counts the warehouse entries
    * whose name starts with the family prefix. */
  private def root(s: SparkSession, p: String): Path =
    new Path(s.conf.get("spark.sql.warehouse.dir"), s"${p.toLowerCase}.atrest")

  private def dir(r: Path, t: String, v: Long): Path = new Path(r, s"$t/v$v")

  /** The newest layout under `r`. Each line: table, version, bucket count
    * (0 = unbucketed), bucket columns, schema DDL — tab-separated. */
  private def readLayout(s: SparkSession, r: Path): Layout = {
    val fs = fsOf(s, r)
    Option(fs.globStatus(new Path(r, "_layout/*"))).toSeq.flatten.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.fold(Layout(-1, Map.empty)) { gen =>
        val in = fs.open(new Path(r, s"_layout/$gen"))
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        Layout(gen, lines.map { line =>
          val Array(t, v, n, cols, ddl) = line.split("\t", 5)
          t -> Entry(v.toLong, ddl,
            Option.when(n.toInt > 0)(BucketSpec(n.toInt, cols.split(",").toSeq, Nil)))
        }.toMap)
      }
  }

  private def writeLayout(s: SparkSession, r: Path, l: Layout): Unit = step {
    val fs = fsOf(s, r)
    val (tmp, to) = (new Path(r, s"_layout/${l.gen}.tmp"), new Path(r, s"_layout/${l.gen}"))
    val out = fs.create(tmp, true)
    try out.write(l.tables.toSeq.sortBy(_._1).map { case (t, e) =>
      Seq(t, e.version, e.spec.fold(0)(_.numBuckets),
        e.spec.fold("")(_.bucketColumnNames.mkString(",")), e.ddl).mkString("\t") + "\n"
    }.mkString.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, to)) throw new IllegalStateException(s"layout rename $tmp -> $to failed")
  }

  private def bucketed(w: DataFrameWriter[Row], spec: Option[BucketSpec]): DataFrameWriter[Row] =
    spec.fold(w)(b => w.bucketBy(b.numBuckets, b.bucketColumnNames.head,
      b.bucketColumnNames.tail.toSeq: _*))

  private def catalogTable(s: SparkSession, name: String): Option[CatalogTable] = {
    val (cat, id) = (s.sessionState.catalog, TableIdentifier(name))
    Option.when(cat.tableExists(id))(cat.getTableMetadata(id))
  }

  /** Make the catalog agree with family `p`'s newest layout. */
  def open(s: SparkSession, p: String): Unit = sync(s, p, readLayout(s, root(s, p)))

  private def sync(s: SparkSession, p: String, l: Layout): Unit = {
    val r = root(s, p)
    val fs = fsOf(s, r)
    for ((t, e) <- l.tables) {
      val name = table(p, t)
      val loc = fs.makeQualified(dir(r, t, e.version))
      catalogTable(s, name) match {
        case Some(c) if c.schema.toDDL == e.ddl && c.bucketSpec == e.spec =>
          if (fs.makeQualified(new Path(c.location)) != loc)
            sql(s, s"ALTER TABLE $name SET LOCATION '$loc'")
        case c =>
          if (c.nonEmpty) sql(s, s"DROP TABLE $name")
          sql(s, s"CREATE TABLE $name (${e.ddl}) USING parquet" + e.spec.fold("")(b =>
            s" CLUSTERED BY (${b.bucketColumnNames.map(x => s"`$x`").mkString(", ")})" +
              s" INTO ${b.numBuckets} BUCKETS") + s" LOCATION '$loc'")
      }
    }
    if (!l.tables.contains("tombstones") && s.catalog.tableExists(tombstones(p)))
      sql(s, s"DROP TABLE ${tombstones(p)}")
  }

  /** The one commit: each `(t, df, spec)` as version `G+1` of `t` under
    * `r`, then layout `G+1` (without the tables in `drop`), then — for a
    * catalog family `p` — the catalog, then the prune. */
  private def commit(s: SparkSession, r: Path, p: Option[String],
                     writes: Seq[(String, DataFrame, Option[BucketSpec])],
                     drop: Set[String] = Set.empty): Unit = {
    val cur = readLayout(s, r)
    val gen = cur.gen + 1
    val written = for ((t, df, spec) <- writes) yield {
      val w = df.write.mode("overwrite").format("parquet").option("path", dir(r, t, gen).toString)
      step(spec match {
        case None => w.save()
        case Some(_) =>
          val transient = s"${table(p.get, t)}__v$gen"
          bucketed(w, spec).saveAsTable(transient)
          s.sql(s"DROP TABLE $transient")
      })
      t -> Entry(gen, StructType(df.schema.map(_.copy(nullable = true))).toDDL, spec)
    }
    val next = Layout(gen, cur.tables -- drop ++ written)
    writeLayout(s, r, next)
    p.foreach(sync(s, _, next))
    prune(s, r, cur, next)
  }

  /** Delete every version `next` does not name under the tables `cur` or
    * `next` knows, and every older layout file. Cleanup, not a step: a
    * crash after the commit's last step is a completed commit, and what a
    * crash leaves here the next commit deletes. */
  private def prune(s: SparkSession, r: Path, cur: Layout, next: Layout): Unit = {
    val fs = fsOf(s, r)
    def children(d: Path) = if (fs.exists(d)) fs.listStatus(d).toSeq.map(_.getPath) else Nil
    for (t <- cur.tables.keySet ++ next.tables.keySet) next.tables.get(t) match {
      case None    => fs.delete(new Path(r, t), true)
      case Some(e) => children(new Path(r, t)).filter(_.getName != s"v${e.version}")
        .foreach(fs.delete(_, true))
    }
    children(new Path(r, "_layout")).filter(_.getName != next.gen.toString).foreach(fs.delete(_, true))
  }

  /** Commit `vs` to catalog family `p` — the one place a family states its
    * layout. */
  def save(p: String, vs: Version*): Unit = {
    val s = vs.head.df.sparkSession
    open(s, p)
    commit(s, root(s, p), Some(p), vs.map(v =>
      (v.t, v.df, Option.when(v.cols.nonEmpty)(BucketSpec(v.n, v.cols, Nil)))))
  }

  /** Rewrite each `(t, df)` of `p` (`df` may read `t`) in `t`'s current
    * bucket spec, in one commit that also folds the tombstones when
    * `fold` — a compaction — and keeps them otherwise, e.g. for a `_meta`
    * schema migration. */
  def rewrite(s: SparkSession, p: String, rewrites: Seq[(String, DataFrame)], fold: Boolean): Unit = {
    open(s, p)
    commit(s, root(s, p), Some(p),
      rewrites.map { case (t, df) => (t, df, catalogTable(s, table(p, t)).flatMap(_.bucketSpec)) },
      if (fold) Set("tombstones") else Set.empty)
  }

  /** The tombstone fold: if tombstones are pending, rewrite each table of
    * `ts` (by default as its [[live]] rows) in one commit. */
  def compact(s: SparkSession, p: String, ts: String*)
             (rewritten: String => DataFrame = t => live(s, p, s.table(table(p, t)))): Unit = {
    open(s, p)
    if (s.catalog.tableExists(tombstones(p))) rewrite(s, p, ts.map(t => t -> rewritten(t)), fold = true)
  }

  /** `t`'s registered bucket spec — None when `t` is not registered. A
    * `bucketed` target must be registered with a spec. */
  private def target(s: SparkSession, p: String, t: String,
                     bucketed: Boolean): Option[Option[BucketSpec]] = {
    val spec = catalogTable(s, table(p, t)).map(_.bucketSpec)
    if (bucketed && spec.flatten.isEmpty) throw new IllegalStateException(
      s"${table(p, t)} is missing or carries no bucket spec — not a table written by a graft index save")
    spec
  }

  private def appendTo(s: SparkSession, p: String, t: String, df: DataFrame,
                       spec: Option[Option[BucketSpec]]): Unit = spec match {
    case Some(b) => step(bucketed(df.write.mode("append").format("parquet"), b).saveAsTable(table(p, t)))
    case None    => commit(s, root(s, p), Some(p), Seq((t, df, None)))
  }

  /** Append `df` to table `t` of `p` in its registered bucket spec; a table
    * the layout lacks is committed plain ([[target]]). */
  def append(p: String, t: String, df: DataFrame, bucketed: Boolean = false): Unit = {
    val s = df.sparkSession
    open(s, p)
    appendTo(s, p, t, df, target(s, p, t, bucketed))
  }

  /** A family's admit: the `base` rows, then the bucketed `derived` rows
    * computed from them — the order [[repair]] relies on. Both targets are
    * resolved before the base write, so a missing or unbucketed derived
    * table fails before anything lands. */
  def appendDerived(p: String, base: (String, DataFrame), derived: (String, DataFrame)): Unit = {
    val s = base._2.sparkSession
    open(s, p)
    val (bl, dl) = (target(s, p, base._1, bucketed = false), target(s, p, derived._1, bucketed = true))
    appendTo(s, p, base._1, base._2, bl)
    appendTo(s, p, derived._1, derived._2, dl)
  }

  def tombstone(p: String, docIds: DataFrame): Unit =
    append(p, "tombstones", docIds.select("doc_id"))

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

  /** Heal derived table `derived` of `p` after a crashed append: `rows` of
    * the base rows of exactly the doc_ids `base` has and `derived` lacks,
    * appended. Idempotent; returns the number of such doc_ids. */
  def repair(s: SparkSession, p: String, base: String, derived: String)
            (rows: DataFrame => DataFrame): Long = {
    open(s, p)
    val spec = target(s, p, derived, bucketed = true)
    val b = s.table(table(p, base))
    val missing = b.select("doc_id").distinct()
      .join(s.table(table(p, derived)).select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = missing.count()
      if (n > 0) appendTo(s, p, derived, rows(b.join(missing, "doc_id")), spec)
      n
    } finally missing.unpersist()
  }

  /** Drop every catalog name of family `p` and delete its root. */
  def dropFamily(s: SparkSession, p: String): Unit = {
    val r = root(s, p)
    for (t <- readLayout(s, r).tables.keySet + "tombstones")
      sql(s, s"DROP TABLE IF EXISTS ${table(p, t)}")
    step(fsOf(s, r).delete(r, true))
  }

  /** Commit each `(t, df)` under path root `r` — a family with no catalog
    * names ([[ClusterState]], [[IvfIndex]]). */
  def savePath(s: SparkSession, r: String, tables: (String, DataFrame)*): Unit =
    commit(s, new Path(r), None, tables.map { case (t, df) => (t, df, None) })

  /** Every table of the newest layout under path root `r`, read with its
    * recorded schema. */
  def loadPath(s: SparkSession, r: String): Map[String, DataFrame] = {
    val l = readLayout(s, new Path(r))
    if (l.gen < 0) throw new IllegalStateException(s"no committed layout under $r")
    l.tables.map { case (t, e) => t -> s.read.schema(e.ddl).parquet(dir(new Path(r), t, e.version).toString) }
  }
}
