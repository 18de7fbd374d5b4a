package graft

import org.apache.spark.sql.SparkSession

/** The one session factory and teardown for every engine entry point
  * (Bench, Verify, ExplainDump, PlanDump, ScaleUp, StageProbe and the test
  * suite), so the plans the oracle checks and the tests run are the plans
  * Bench times. Each setting's reason is written here once. */
object GraftSession {
  /** AQE coalescing sizes shuffle-read partitions by BYTES with a 1 MB
    * floor (coalescePartitions.minPartitionSize) — correct for scan-like
    * stages, but the exact-verify joins read small, CPU-DENSE shuffles
    * (154k candidate pairs ≈ 1.4 MB whose array_intersect costs ~2.3 s):
    * the 1 MB floor coalesced that stage to ONE task and serialized the
    * whole verify (StageProbe r18, q114 stage 27). 64 KB keeps such stages
    * parallel; measured q114 3.6→1.2 s, q129 3.1→1.2, q93 3.2→1.5, q87
    * 3.3→1.6 at sf0.1 with every byte-bound query within noise. SCALE
    * POSTURE: the floor only governs shuffles smaller than
    * cores×minPartitionSize — at production volumes partitions are sized by
    * advisoryPartitionSizeInBytes and this setting is inert; it is a
    * small-shuffle parallelism refinement, not a local[32] tune. */
  private val MinPartitionSize = "64KB"

  /** A `local[cores]` session with `cores` shuffle partitions, session time
    * zone UTC, GraftExtensions, no UI and WARN logging (the INFO stream is
    * tens of MB per test-suite run). `warehouseDir` defaults to Spark's
    * (`./spark-warehouse`). */
  def local(cores: Int, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // driver testdata has shipped TIMESTAMP(NANOS) columns, which have no
      // native Spark type; Tables.load normalizes the longs they read as
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // interleaved sweeps touch every query's generated classes once per
      // sweep; the default 100-entry codegen cache evicts them all between
      // a query's trials (measured +35% total from recompiles), and a
      // streaming drain's classes before the next drain can reuse them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // shuffle files live until a JVM GC lets ContextCleaner notice the
      // dropped ShuffleDependency; Spark's default periodic forced GC is
      // 30 MINUTES, and the r15 sf10 chunk-2 sweep (31 heavy queries,
      // 4200 s warmup + 2900 s timed in ONE JVM) accumulated enough live
      // shuffle on /tmp to fill the disk — q122 died with "No space left
      // on device" (scratch/BENCH_SF10_c2.json, stage 363/1006). 2 min
      // bounds the accumulation window at every scale; the GC itself runs
      // on the cleaner's thread and is billed to gc_sec like any other.
      .config("spark.cleaner.periodicGC.interval", "2min")
      // spark.sql.objectHashAggregate.sortBased.fallbackThreshold stays at
      // its DEFAULT (128): r16 A/B at sf10 measured the sort-based fallback
      // FASTER than a large hash map for every sketch aggregate tried
      // (q114 132.6 vs 176.9 s, q101 47.4 vs 63.5, q51 32.5 vs 41.7,
      // q96 35.6 vs 41.7 at threshold 131072) — the big per-group buffers
      // thrash cache/GC harder than the fallback's streaming sort.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", MinPartitionSize)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops the warm caches first: `Tables.loadCache` and the pinned warm
    * state hold frames whose session would otherwise stay reachable after
    * `stop`. */
  def stop(spark: SparkSession): Unit = {
    operators.WarmState.releaseAll(spark)
    spark.stop()
  }
}
