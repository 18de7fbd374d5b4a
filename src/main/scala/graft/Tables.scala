package graft

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.spark.storage.StorageLevel

/** Loaders for the driver test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All tables are plain parquet files at `\$dir/<name>.parquet`. At 100 TB the
  * same code path works unchanged against `s3a://bucket/prefix/<name>` roots:
  * `spark.read.parquet` does partition discovery, predicate pushdown and
  * column pruning through the vectorized parquet reader, so operators built
  * on these loaders inherit scan-level optimization for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Plan memo — NOT a result cache: the memoized value is the lazy
    * DataFrame (logical plan + file index), never rows. Every query still
    * computes from the parquet bytes; what the memo removes is the
    * per-construction driver work `spark.read.parquet` repeats on every
    * call — leaf-file listing and a footer read for schema inference
    * (~10–30 ms per table here, minutes against an object-store table with
    * many files). A 129-query bench sweep at 3 trials constructs ~900
    * table scans; at 100 TB the same memo is what keeps repeated queries
    * from re-listing the lake. Keyed by (session uuid, dir, name) so
    * Verify/Bench/test sessions and different scale dirs never share
    * plans. */
  private val loadCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]()
  operators.WarmState.registerCache(() => loadCache.clear())

  /** Session identity as a STRING (classic sessionUUID; identityHashCode
    * fallback for non-classic impls): cache keys built on it hold no
    * strong reference to the session object — the r18 shape keyed these
    * maps on the SparkSession itself, which pinned every session (and its
    * driver-side object graph) for the JVM lifetime in long-lived multi-
    * session processes (ADVICE r18). Cached VALUES that are DataFrames
    * still reference their session, so the DataFrame-valued maps also
    * register a WarmState clearer; the primitive-valued maps are leak-free
    * by key alone. */
  private def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.GraftBridge.sessionUUID(spark)
      .getOrElse(s"id@${System.identityHashCode(spark)}")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadCache.computeIfAbsent((sessionKey(spark), dir, name), _ => {
      val df = normalizeTimestamps(spark.read.parquet(s"$dir/$name.parquet"))
      if (name == "events") normalizeEventTs(df) else df
    })

  /** Driver testdata has shipped two timestamp encodings across rounds:
    * TIMESTAMP(NANOS) (no native Spark type; surfaces as LongType nanos
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, handled by
    * [[normalizeEventTs]]) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (surfaces as TIMESTAMP_NTZ). Normalize NTZ columns to the session-zone
    * TIMESTAMP — the session is pinned to UTC everywhere in this repo, so
    * the cast reinterprets the same wall-clock instant and every operator
    * (incl. `unix_micros`, which rejects NTZ) sees ONE timestamp type
    * regardless of which writer produced the input. The DuckDB oracle reads
    * the same parquet as naive timestamps, so canonical values agree. */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((acc, c) => acc.withColumn(c, col(c).cast(TimestampType)))
  }

  /** events.ts as TIMESTAMP(NANOS) parquet surfaces as LongType nanos (see
    * above); truncate to microseconds — the same truncation DuckDB/pandas
    * apply when downcasting — so both engines see identical values. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => df
    }

  /** Spread a freshly-SCANNED frame across the session's cores when the
    * scan itself cannot: parquet parallelism is capped at row-group
    * granularity, so a single-file/single-row-group table (the driver's
    * sf0.1 fixtures; any gzip-style unsplittable source at a real site)
    * pins every downstream NARROW stage — regex, hashing, shingling — to
    * ONE task no matter how many cores the cluster has (measured: the
    * whole text family at 1.06 effective cores over a 1143 s sf10 chunk,
    * VERDICT r16 defect 1). The round-robin exchange costs one pass over
    * the payload, repaid ~cores× by the CPU-dense map above it.
    *
    * SCALE-CORRECT BY CONSTRUCTION: the exchange is inserted only when the
    * scan's split count is below the session's default parallelism — at
    * 100 TB inputs arrive in thousands of row groups, the condition is
    * false, and this is a zero-cost identity. Use it under CPU-dense
    * per-row families only; shuffle-bound pipelines re-spread at their
    * first exchange anyway. */
  /** Scans at or above this size are worth the exchange; below it the
    * serial per-row work costs less than the exchange itself (measured at
    * sf0.1: unconditional spread regressed 40+ small queries 1.3–3.2×
    * while winning <0.1 s back — the exchange + extra stage is ~0.2 s).
    * 16 MB compressed ≈ 50–60 MB of text ≈ multiple seconds of serial
    * regex/hash work — the first point where cores× repayment clearly
    * beats the fixed cost. */
  private val MinSpreadBytes: Long = 16L << 20

  /** Lower floor for CPU-DENSE per-row pipelines — shingling + MinHash/
    * SimHash sketching, containment verify, fingerprinting, PII regex —
    * where one serial scan task costs ~1–2 s/MB of input (StageProbe r18:
    * q58's three single-task shingle stages burned 1.0 s on a 0.58 MB
    * table; q33's fingerprint pass 1.0 s). There the ~0.15 s round-robin
    * exchange repays ~cores× immediately; byte-cheap consumers (plain
    * stats, id-only projections) keep the 16 MB default, which r17
    * measured as their break-even. */
  private[graft] val CpuDenseSpreadBytes: Long = 256L << 10

  /** Layout cache key: session uuid + hash of the FULL sorted file list +
    * count. The r18 key (`files.min + ":" + length`) went stale when a
    * dataset was regenerated AT THE SAME PATH with the same file count
    * within one session (ADVICE r18: a stale byte total can flip
    * pinPairsIfSmall into pinning a huge pair set — the exact ENOSPC the
    * threshold exists to prevent). Spark parquet writers UUID their part
    * files, so any regeneration changes the full list; hashing it keys the
    * cache on actual layout identity without paying an FS stat on hit.
    * The first path anchors the key: two different tables whose lists
    * collide on the 32-bit hash still differ in it, and a dataset
    * regenerated in place still changes the hash. */
  private def layoutKey(spark: SparkSession, files: Array[String]): (String, String) = {
    val sorted = files.sorted
    (sessionKey(spark),
      s"${sorted.head}:${scala.util.hashing.MurmurHash3.orderedHash(sorted.toSeq)}:${files.length}")
  }

  /** Per-file on-disk lengths keyed by file layout ([[layoutKey]]): file
    * length is ground truth where optimizer row-count stats are estimates,
    * and one FS metadata call per file per session is the probe's only
    * non-trivial cost — pay it once per table per session, not once per
    * query construction. */
  private val lengthsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Array[Long]]()

  private def lengths(spark: SparkSession, files: Array[String]): Array[Long] =
    lengthsCache.computeIfAbsent(layoutKey(spark, files), _ => {
      val hconf = spark.sparkContext.hadoopConfiguration
      files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }
    })

  /** The one read of input size: summed on-disk bytes of the frame's input
    * files, or None when it has none (an in-memory, cached, pinned or
    * streamed frame has no known size). `inputFiles` reads the relation's
    * cached listing — no RDD materialization, no job. Every size-based
    * dispatch takes its safe side on None. */
  def sizeOf(df: DataFrame): Option[Long] = {
    val files = df.inputFiles
    if (files.isEmpty) None else Some(lengths(df.sparkSession, files).sum)
  }

  def spread(df: DataFrame): DataFrame = spread(df, MinSpreadBytes)

  def spread(df: DataFrame, minBytes: Long): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Bare file COUNT is not a bound on splits in either direction (a large
    // file splits into multiple byte-range partitions), so only the trivial
    // cases short-circuit here — at scale that stats nothing; the real
    // decision estimates splits from file SIZES below.
    val files = df.inputFiles
    if (files.isEmpty || files.length >= target) return df
    // ≤ target-1 files (guaranteed by the short-circuit above)
    val lens = lengths(spark, files)
    val maxPB = math.max(1L, org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")))
    // splits ≈ Σ ceil(len / maxPartitionBytes): a few-large-files layout
    // (e.g. 8×1 GB on 32 cores) already scans with ≥ target byte-range
    // splits and must NOT pay a full round-robin exchange of the payload.
    // Caveat this estimate cannot see: byte-range splits over a file with
    // ONE giant row group still hand all rows to one task — writers that
    // produce such files (the pre-r17 ScaleUp did) need fixing at the
    // writer, not here (ScaleUp now writes spread files).
    val estSplits = lens.map(l => math.max(1L, (l + maxPB - 1) / maxPB)).sum
    if (estSplits < target && lens.sum >= minBytes) df.repartition(target) else df
  }

  /** Pin-then-sort for presentation ORDER BYs over scan-rooted NARROW
    * pipelines — plans with no exchange between the scan and the sort
    * (optimization r18, guide §1.4/§2.4): the sort's range sampler
    * executes the child once to pick partition bounds, and the sort
    * exchange then executes it AGAIN to write shuffle — a 2× tax on the
    * whole map (StageProbe at sf1: q33's twin ~75-CPU-s stages, q35/q36
    * the same shape; 16 declared queries carried it). The lazy
    * localCheckpoint materializes the map once and both passes read the
    * blocks; pinned mass = exactly the rows the sort's own shuffle
    * carries, so no new disk class at any scale. Queries whose sort
    * child already contains an exchange do NOT need this — AQE reuses
    * the shuffle stage for the sampler (verified: q85's single pass). */
  def sortOnce(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    pin(df).orderBy(cols: _*)

  /** Presentation sort for outputs whose CARDINALITY IS BOUNDED BY
    * CONSTRUCTION (fixed group domains: return-flag × line-status,
    * regions, buckets — a handful to a few thousand rows at ANY corpus
    * size). A global ORDER BY plans a range exchange whose partitioner
    * runs a separate SAMPLING JOB over the child before the sort proper —
    * two driver round-trips and an exchange to order rows that already fit
    * one task. `coalesce(1).sortWithinPartitions` produces the identical
    * total order (single partition ⇒ within-partition order IS the total
    * order) with no exchange and no sampler at all; the single sort task
    * is the natural shape for a presentation-sized result on a 100 TB
    * corpus too. Do NOT use for outputs that scale with the data (one row
    * per doc/pair) — those keep the distributed sort. Also do NOT use
    * over a LAZILY pinned (or otherwise narrow) child: coalesce(1) is a
    * narrow merge, so an unmaterialized upstream pipeline would execute
    * INSIDE the single sort task (measured: q27's pinned window path
    * +0.73 s) — the child must be exchange-rooted (an aggregate/join
    * output) for the collapse to stop at the shuffle boundary. */
  def sortSmall(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  def sortSmall(df: DataFrame, col0: String, rest: String*): DataFrame =
    df.coalesce(1).sortWithinPartitions(col0, rest: _*)

  def sortOnce(df: DataFrame, col0: String, rest: String*): DataFrame =
    pin(df).orderBy(col0, rest: _*)

  /** The ONE spelling of the lazy write-then-read pin (see call sites for
    * per-operator rationale; scale notes in [[sortOnce]]'s scaladoc and
    * the r18 optimization log). */
  def pin(df: DataFrame): DataFrame = atCaller(df)(df.localCheckpoint(eager = false))

  /** Eager twin of [[pin]] — for frames multiple subtrees read where the
    * materialization must happen before plan assembly (the media sigs
    * pattern), or that must stop reading a table before it is written.
    * `level` is where the blocks live; the default is Spark's own. */
  def pinEager(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    atCaller(df)(df.localCheckpoint(eager = true, level))

  /** Makes the pin with Spark's short call site set to the first stack
    * frame outside Tables, WarmState, Spark, Scala and the JDK, so its
    * checkpoint RDD and eager job are named after the operator that
    * pinned, and records it. */
  private def atCaller(df: DataFrame)(pin: => DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("callSite.short")
    Thread.currentThread.getStackTrace.find(f => !Seq("java.", "jdk.", "scala.",
        "org.apache.spark.", "graft.Tables$", "graft.operators.WarmState$")
        .exists(f.getClassName.startsWith))
      .foreach(f => sc.setLocalProperty("callSite.short",
        s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try recorded(df, pin) finally sc.setLocalProperty("callSite.short", prev)
  }

  /** Each pin's pre-pin analyzed plan, keyed weakly by its checkpoint RDD:
    * a pin truncates every plan above it at `Scan ExistingRDD`, and the
    * plan dumps ([[ExplainDump.explain]]) expand it from here. Nothing on
    * the execution path reads it; an entry lives as long as its pin, and
    * the pins a recorded plan scans are held only as [[PinRef]]s. */
  private[graft] val pinPlans = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], LogicalPlan]())

  /** Records `df`'s plan, with each pin it scans named by a [[PinRef]],
    * under the checkpoint RDD of `out`, its pin. */
  private def recorded(df: DataFrame, out: DataFrame): DataFrame = {
    out.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach(pinPlans.put(_, df.queryExecution.analyzed.transformWithSubqueries {
        case lr: LogicalRDD if isPin(lr.rdd) => lr.makeCopy(
          lr.productIterator.map(_.asInstanceOf[AnyRef]).toArray.updated(1, new PinRef(lr.rdd)))
      }))
    out
  }

  /** Stands for pin `pin` in a recorded plan. A strong reference would keep
    * the pin's RDD, and so its blocks, alive while the recording pin lives:
    * Spark frees a checkpoint's blocks only once its RDD is collected. */
  private final class PinRef(pin: RDD[_]) extends RDD[InternalRow](pin.context, Nil) {
    val ref = new java.lang.ref.WeakReference[RDD[_]](pin)
    private val pinId = pin.id
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      Iterator.empty
    override protected def getPartitions: Array[Partition] = Array.empty
    override def toString: String = s"pinned RDD $pinId"
  }

  private def isPin(rdd: RDD[_]): Boolean = rdd.isCheckpointed || pinPlans.containsKey(rdd)

  /** The checkpoint RDDs under `df`: every scanned RDD that is
    * checkpointed (locally or reliably) or that a pin made, in plan order —
    * what the release paths free and the plan dumps expand. In a recorded
    * plan, the live pins its [[PinRef]]s name. */
  def pinnedRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRDD(_, r: PinRef, _, _, _, _) => Option(r.ref.get)
      case lr: LogicalRDD if isPin(lr.rdd) => Some(lr.rdd)
    }.flatten.distinct

  /** Register every table as a temp view so `spark.sql` / SQL-surface tests
    * can address them by the same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
