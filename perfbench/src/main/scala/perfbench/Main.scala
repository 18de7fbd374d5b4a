package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

final case class SetupTimes(loadS: Double, warmS: Double,
                            warmOps: Seq[(String, Double)] = Nil)
final case class Check(name: String, ok: Boolean, detail: String)

/** What the runner needs from a workload. */
trait Workload {
  /** Timed passes per run at least. */
  val minPasses: Int = 1
  /** Loads inputs, builds day-0 state and runs the untimed warm pass; the
    * first setup of a run (`check`) also produces the outputs to check. */
  def setup(spark: SparkSession, ph: Phaser, k: Int, check: Boolean): SetupTimes
  /** One timed pass: every op once. */
  def pass(spark: SparkSession, ph: Phaser, passNo: Int): Seq[OpSample]
  /** Output checks made in the JVM after the timed passes. */
  def verify(spark: SparkSession): Seq[Check]
  /** Workload-specific per-layer metrics. */
  def layers(passes: Seq[PassStats]): Map[String, Double]
  /** Drops what one setup left behind before the next setup starts. */
  def release(spark: SparkSession): Unit
}

/** Benchmark entry point: one run of one workload.
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir> <result file> [ops]
  * }}}
  *
  * The run sets up `Setups` times, each time in a fresh Spark session (the
  * first one also writes the outputs the checks read), then runs timed
  * passes in a closed loop with one client until `seconds` have passed and
  * at least the workload's `minPasses` passes ran. With trace 1 a SparkListener plus one
  * job tag per (pass, op, phase) attribute jobs, stages and tasks to ops;
  * passes alternate traced and untraced so the record carries the tracing
  * overhead. The result file is one JSON object. */
object Main {
  val Setups = 3
  /** An op reconciles when its phases sum to its wall time within this
    * share (or `ReconcileFloorS`, whichever is larger). */
  val ReconcileTol = 0.02
  val ReconcileFloorS = 0.002

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, resultFile) = args.take(7)
    val opList = args.lift(7).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val calibS = Probe.calibrate()
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(workDir))
    val checkDir = s"$workDir/check"

    val firstSetupAt = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl: Workload = workload match {
      case "query_mix" =>
        new QueryWorkload(opList, dataDir, checkDir, seed)
      case "nightly_ingest" => new Nightly(dataDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val listener = if (trace) Some(new TraceListener) else None
    val setupWall = Seq.newBuilder[Double]
    val setupParts = Seq.newBuilder[SetupTimes]
    for (k <- 1 to Setups) {
      if (spark != null) {
        wl.release(spark)
        graft.operators.WarmState.releaseAll(spark)
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = Session.create(cores, workDir, k)
      val ph = new Phaser(spark, listener)
      setupParts += wl.setup(spark, ph, k, check = k == 1)
      setupWall += (System.nanoTime() - t0) / 1e9
    }
    val pinnedMb = Probe.pinnedMb(spark)

    val sc = spark.sparkContext
    val ph = new Phaser(spark, listener)
    val passes = Seq.newBuilder[PassStats]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    // tracing needs a traced and an untraced pass, for the tracing overhead
    val minPasses = math.max(wl.minPasses, if (trace) 2 else 1)
    while (p < minPasses || System.nanoTime() < deadline) {
      System.gc()
      val traced = trace && p % 2 == 0
      ph.tracing = traced
      if (traced) sc.addSparkListener(listener.get)
      val busy0 = Probe.busyJiffies(); val cpu0 = Probe.cpuNanos()
      val gc0 = Probe.gcMillis(); val jit0 = Probe.jitMillis()
      val startMs = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      val ops = wl.pass(spark, ph, p)
      val wall = (System.nanoTime() - t0) / 1e9
      val busy1 = Probe.busyJiffies(); val cpu1 = Probe.cpuNanos()
      val gc1 = Probe.gcMillis(); val jit1 = Probe.jitMillis()
      if (traced) {
        org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener.get)
      }
      passes += PassStats(p, traced, wall, (cpu1 - cpu0) / 1e9, (jit1 - jit0) / 1e3, (gc1 - gc0) / 1e3,
        Probe.ambientCores(busy0, busy1, cpu0, cpu1, wall), startMs,
        System.currentTimeMillis().toDouble, ops)
      p += 1
    }
    val all = passes.result()
    val drift = all.last.wallS / all.head.wallS
    val heapLiveMb = Probe.liveHeapMb()
    val checks = wl.verify(spark)

    val setups = setupParts.result()
    val ops = all.flatMap(_.ops)
    val okOps = ops.filter(_.error.isEmpty)
    val okWalls = okOps.map(_.wallS)
    // The typical op: the geometric mean over ops of each op's median over
    // the timed passes. Every op weighs the same; the pooled median is set
    // by the one or two ops in the middle, whose speed differs by 10-20%
    // from one JVM to the next, so it is kept as a per-layer figure.
    val opMedians = okOps.groupBy(_.op).values.map(o => Stats.median(o.map(_.wallS))).toSeq
    val untraced = all.filterNot(_.traced)
    val e2e = Map(
      "setup_s" -> Stats.median(setupWall.result()),
      "pass_s" -> Stats.median(untraced.map(_.wallS)),
      "op_gmean_s" -> math.exp(opMedians.map(math.log).sum / opMedians.size),
      "op_p90_s" -> Stats.quantile(okWalls, 0.9),
      "heap_live_mb" -> heapLiveMb)

    val spans = new SpanLog
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else Layers.compute(all, listener.get, spans, cores) ++ Map(
        "Tables.load_s" -> Stats.median(setups.map(_.loadS)),
        "WarmState.build_s" -> (Stats.median(setups.map(_.warmS)) - Stats.median(untraced.map(_.wallS))),
        "WarmState.pinned_mb" -> pinnedMb,
        "jvm.cpu_s" -> Stats.median(untraced.map(_.cpuS)),
        "run.op_p50_s" -> Stats.quantile(okWalls, 0.5),
        "run.trace_overhead" -> Stats.median(all.filter(_.traced).map(_.wallS)) /
          Stats.median(untraced.map(_.wallS))) ++ wl.layers(all)
    if (trace) spans.writeJsonLines(Paths.get(s"$workDir/trace.jsonl"))
    spark.stop()

    def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed.toDouble),
      "trace" -> Json.num(if (trace) 1 else 0),
      "cores" -> Json.num(cores.toDouble),
      "calib_s" -> Json.num(calibS),
      "setup_wall_s" -> Json.arr(setupWall.result().map(Json.num)),
      "setup_load_s" -> Json.arr(setups.map(x => Json.num(x.loadS))),
      "setup_warm_s" -> Json.arr(setups.map(x => Json.num(x.warmS))),
      "setup_warm_ops_s" -> Json.arr(setups.map(x =>
        Json.obj(x.warmOps.map { case (n, v) => n -> Json.num(v) }))),
      "jvm_start_to_first_setup_s" -> Json.num(firstSetupAt),
      "end_to_end" -> nums(e2e),
      "layers" -> nums(if (!trace) Map.empty else {
        val m = layers ++ Map(
          "run.pass_drift" -> drift,
          "box.calib_s" -> calibS,
          "box.ambient_cores" -> all.map(_.ambientCores).max)
        Layers.Names.map(n => n -> m.getOrElse(n, 0.0)).toMap
      }),
      "pass_drift" -> Json.num(drift),
      "passes" -> Json.arr(all.map { ps =>
        Json.obj(Seq("pass" -> Json.num(ps.pass), "traced" -> ps.traced.toString,
          "wall_s" -> Json.num(ps.wallS), "cpu_s" -> Json.num(ps.cpuS), "jit_s" -> Json.num(ps.jitS),
          "gc_s" -> Json.num(ps.gcS), "ambient_cores" -> Json.num(ps.ambientCores),
          "ops" -> Json.arr(ps.ops.map { o =>
            Json.obj(Seq("op" -> Json.str(o.op), "wall_s" -> Json.num(o.wallS),
              "phases" -> Json.obj(o.phases.map { case (n, _, s) => n -> Json.num(s) }),
              "error" -> o.error.map(Json.str).getOrElse("null")))
          })))
      }),
      "checks" -> Json.arr(checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))))))
    Files.writeString(Paths.get(resultFile), record)
  }
}

/** The benchmark's Spark session: the settings `graft.Bench` uses, with
  * every local directory inside the benchmark's work directory and one
  * table warehouse per setup `k`. */
object Session {
  def create(cores: Int, workDir: String, k: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/ws$k/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
