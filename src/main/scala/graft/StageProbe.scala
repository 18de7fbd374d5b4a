package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-stage profiler for scale adjudication (VERDICT r15 items 1/4/5) and
  * fixed-cost hunting (optimization r18): runs each query whose name starts
  * with one of the given prefixes to a noop sink, one at a time, and prints
  * per query a stage cost table — wall, summed task time, input/shuffle/
  * spill bytes and records — plus one `TOTALS` line with the query's wall,
  * job, stage and task counts. A super-linear sf1→sf10 flag is pinned to
  * the STAGE that grew; a sweep's fixed-cost outliers (eager
  * construction-time jobs, a range sampler re-executing its child, an
  * exchange that should not exist) surface as job/stage counts
  * (`grep TOTALS` gives one row per query).
  *
  * Usage: sbt "runMain graft.StageProbe q122,q87_ /path/to/sf10"
  * (second arg defaults to the canonical sf0.1 dir; cores follow
  * SPARK_GRAFT_CPUS as in Bench). Runs are cold unless SPARK_GRAFT_WARM=1,
  * so a cold stage table's first rows usually include parquet footer reads
  * and codegen.
  */
object StageProbe {
  private case class StageRow(
      id: Int, name: String, wallMs: Long, taskSec: Double,
      inRec: Long, inMb: Double, srMb: Double, swMb: Double,
      srRec: Long, swRec: Long, spillMb: Double, tasks: Int)

  /** Local property naming the probed query: set on the driver thread
    * (threads a query starts inherit it), read back from each job's
    * properties, so attribution needs no quiet window between queries. */
  private val QueryKey = "graft.stageProbe.query"

  def main(args: Array[String]): Unit = {
    val prefixes = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: StageProbe <prefix,...> [sfDir]"))
    val sfDir = args.lift(1).getOrElse(Bench.defaultSfDir)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    require(selected.nonEmpty, s"no query name starts with ${prefixes.mkString(" or ")}")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val stageQuery = new ConcurrentHashMap[Int, String]()
    val rows = new ConcurrentLinkedQueue[(String, StageRow)]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey))).foreach { q =>
          jobs.computeIfAbsent(q, _ => new AtomicInteger).incrementAndGet()
          e.stageIds.foreach(stageQuery.put(_, q))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        Option(stageQuery.get(i.stageId)).foreach { q =>
          val m = i.taskMetrics
          val wall = (for (a <- i.completionTime; b <- i.submissionTime)
            yield a - b).getOrElse(-1L)
          rows.add(q -> StageRow(
            i.stageId, i.name.linesIterator.next().take(80), wall,
            m.executorRunTime / 1e3,
            m.inputMetrics.recordsRead, m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            i.numTasks))
        }
      }
    })
    // SPARK_GRAFT_EXPLAIN=1: drive via collect() (a write spawns a fresh
    // QueryExecution and leaves df's un-finalized — the PlanDump lesson)
    // and print the FINAL adaptive plan after execution — pairing the
    // stage-cost table with the plan that produced it, so a
    // double-exchange/recompute is visible in one run
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    // SPARK_GRAFT_WARM=1: run each query once untimed and unattributed
    // first (codegen, JIT, session-state bootstrap), so the table shows the
    // WARM per-trial cost the bench medians measure (r18: separating fixed
    // per-stage scheduling overhead from one-time state builds).
    val warm = sys.env.get("SPARK_GRAFT_WARM").contains("1")
    val results = selected.map { case (name, fn) =>
      if (warm)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      sc.setLocalProperty(QueryKey, name)
      val t0 = System.nanoTime()
      val plan = try {
        val df = fn(spark, sfDir)
        if (explain) { df.collect(); Some(df.queryExecution.executedPlan.toString.take(12000)) }
        else { df.write.format("noop").mode("overwrite").save(); Some("") }
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $name failed: ${e.getMessage}"); None
      } finally sc.setLocalProperty(QueryKey, null)
      // a failed query reports wall -1, never a fast phantom pass
      (name, plan.fold(-1.0)(_ => (System.nanoTime() - t0) / 1e9), plan.getOrElse(""))
    }
    // let straggler listener events drain before printing (the bus is
    // private[spark]; a short sleep is enough for completed queries)
    Thread.sleep(1000)
    import scala.jdk.CollectionConverters._
    val byQuery = rows.asScala.toVector.groupMap(_._1)(_._2)
    results.foreach { case (name, wall, plan) =>
      val all = byQuery.getOrElse(name, Vector.empty).sortBy(-_.wallMs)
      val nJobs = Option(jobs.get(name)).fold(0)(_.get)
      if (plan.nonEmpty) println(plan)
      println(f"%nQUERY $name  sf=$sfDir  wall=$wall%.1f s  stages=${all.size}")
      println(f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"tasks"}%6s " +
        f"${"in_rec"}%12s ${"in_MB"}%9s ${"shR_MB"}%9s ${"shW_MB"}%9s " +
        f"${"shR_rec"}%12s ${"shW_rec"}%12s ${"spill_MB"}%9s  name")
      all.foreach { r =>
        println(f"${r.id}%6d ${r.wallMs / 1e3}%8.1f ${r.taskSec}%8.1f " +
          f"${r.tasks}%6d ${r.inRec}%12d ${r.inMb}%9.1f ${r.srMb}%9.1f " +
          f"${r.swMb}%9.1f ${r.srRec}%12d ${r.swRec}%12d ${r.spillMb}%9.1f  ${r.name}")
      }
      println(f"TOTALS $name wall_s=$wall%.3f jobs=$nJobs stages=${all.size} " +
        f"tasks=${all.map(_.tasks).sum} task_s=${all.map(_.taskSec).sum}%.1f " +
        f"shuffle_write_MB=${all.map(_.swMb).sum}%.1f spill_MB=${all.map(_.spillMb).sum}%.0f " +
        f"input_MB=${all.map(_.inMb).sum}%.0f")
    }
    GraftSession.stop(spark)
  }
}
