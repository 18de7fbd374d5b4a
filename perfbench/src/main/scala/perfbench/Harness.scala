package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call into the engine: a query (construct + plan + execute) or
  * one nightly step (execute only). `phases` holds each phase's job-tag key
  * and seconds; `wallS` is timed separately around all of them. */
final case class OpSample(pass: Int, op: String, family: String, wallS: Double,
                          phases: Seq[(String, String, Double)], exchanges: Int,
                          error: Option[String], startMs: Double, endMs: Double)

/** Wall, CPU, JIT, GC and box load of one timed pass. */
final case class PassStats(pass: Int, traced: Boolean, wallS: Double, cpuS: Double,
                           jitS: Double, gcS: Double, ambientCores: Double,
                           startMs: Double, endMs: Double, ops: Seq[OpSample])

/** Times phases and, when tracing, tags their jobs for the listener. */
final class Phaser(spark: SparkSession, val listener: Option[TraceListener]) {
  @volatile var tracing = false

  def phase[T](key: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val on = tracing && listener.isDefined
    if (on) { sc.addJobTag(listener.get.TagPrefix + key); listener.get.openPhase = key }
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally if (on) {
      sc.removeJobTag(listener.get.TagPrefix + key)
      listener.get.openPhase = ""
    }
  }

  /** Runs `phases` in order as one op; a throw ends the op and is recorded. */
  def op(pass: Int, name: String, family: String)(
      phases: Seq[(String, () => Unit)]): OpSample = {
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val done = Seq.newBuilder[(String, String, Double)]
    var error: Option[String] = None
    val it = phases.iterator
    while (error.isEmpty && it.hasNext) {
      val (ph, f) = it.next()
      val key = s"p$pass/$name/$ph"
      val t1 = System.nanoTime()
      try done += ((ph, key, phase(key)(f())._2))
      catch { case e: Throwable =>
        done += ((ph, key, (System.nanoTime() - t1) / 1e9))
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        System.err.println(s"[perfbench] $name failed in $ph: ${error.get}")
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    OpSample(pass, name, family, wall, done.result(), 0, error, startMs,
      System.currentTimeMillis().toDouble)
  }
}

/** JVM and box probes shared by every workload. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def cpuNanos(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Time the JIT compiler threads have spent compiling. */
  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Busy jiffies of the whole machine (user..steal minus idle and iowait),
    * or -1 where /proc/stat is unreadable. */
  def busyJiffies(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val cpu = try src.getLines().next() finally src.close()
    val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
    f.take(8).zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  } catch { case _: Throwable => -1L }

  /** Cores other processes kept busy over a window: machine busy time minus
    * this process's CPU time, per wall second (USER_HZ = 100). */
  def ambientCores(busy0: Long, busy1: Long, cpu0: Long, cpu1: Long, wallS: Double): Double =
    if (busy0 < 0 || busy1 < 0 || cpu0 < 0 || wallS <= 0) -1.0
    else math.max(0.0, (busy1 - busy0) / 100.0 / wallS - (cpu1 - cpu0) / 1e9 / wallS)

  /** Single-threaded fixed scalar work, timed before Spark starts, so a slow
    * or contended box shows in the record. Recorded only, never used to
    * rescale a metric. */
  def calibrate(): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 200000000L) {
      h = java.lang.Long.rotateLeft(h * 0x100000001B3L, 17) ^ i
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("")
    dt
  }

  /** Heap in use after forced full collections. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Memory and disk held by persisted RDDs (warm-state pins included). */
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
