package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span of the run → pass → op → phase → job → stage tree. Times are
  * wall-clock milliseconds; `attrs` carries the counts measured at the
  * span's boundary. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** Task-level totals of one stage. */
final class StageStats {
  var tasks = 0L
  var taskMs = 0.0
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var submittedMs = 0.0
  var completedMs = 0.0
}

final case class JobRec(jobId: Int, phaseKey: String, startMs: Double,
                        var endMs: Double, stageIds: Seq[Int])

/** The benchmark's one SparkListener. Every job is attributed to the
  * (pass, op, phase) whose job tag it carries; the benchmark sets that tag
  * around each phase. A job without the tag (a streaming micro-batch runs on
  * its own thread) falls back to the phase that was open when it started —
  * the benchmark runs one op at a time, so that phase is the only candidate.
  * The spans are built from these records once the run ends. */
final class TraceListener extends SparkListener {
  val TagPrefix = "perfbench/"
  @volatile var openPhase: String = ""

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageStats]()

  private def stats(stageId: Int): StageStats =
    stages.computeIfAbsent(stageId, _ => new StageStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val key = tags.find(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix))
      .getOrElse(openPhase)
    if (key.nonEmpty) {
      jobs.put(e.jobId, JobRec(e.jobId, key, e.time.toDouble, e.time.toDouble, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (stageJob.containsKey(i.stageId)) {
      val s = stats(i.stageId)
      s.submittedMs = i.submissionTime.getOrElse(0L).toDouble
      s.completedMs = i.completionTime.getOrElse(0L).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskInfo != null) {
      val s = stats(e.stageId)
      s.synchronized {
        s.tasks += 1
        s.taskMs += e.taskInfo.duration.toDouble
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime
          s.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
        }
      }
    }

  /** Jobs attributed to the phase key `key`, with their stages. */
  def jobsOf(key: String): Seq[(JobRec, Seq[(Int, StageStats)])] =
    jobs.values.asScala.filter(_.phaseKey == key).toSeq.sortBy(_.jobId).map { j =>
      j -> j.stageIds.filter(s => stageJob.get(s) == j.jobId && stages.containsKey(s))
        .map(s => s -> stages.get(s))
    }
}

/** Per-phase layer totals derived from the listener's jobs and stages. */
final case class PhaseCounts(jobs: Int, stages: Int, tasks: Long, taskS: Double,
                             cpuS: Double, criticalS: Double, shuffleReadMb: Double,
                             shuffleWriteMb: Double, fetchWaitS: Double,
                             spillMb: Double, inputMb: Double, inputRows: Long)

object PhaseCounts {
  private val Mb = 1024.0 * 1024.0

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def of(js: Seq[(JobRec, Seq[(Int, StageStats)])]): PhaseCounts = {
    val st = js.flatMap(_._2.map(_._2))
    PhaseCounts(
      jobs = js.size,
      stages = st.count(_.tasks > 0),
      tasks = st.map(_.tasks).sum,
      taskS = st.map(_.taskMs).sum / 1e3,
      cpuS = st.map(_.cpuNs).sum / 1e9,
      criticalS = unionLength(st.map(s => (s.submittedMs, s.completedMs))) / 1e3,
      shuffleReadMb = st.map(_.shuffleReadBytes).sum / Mb,
      shuffleWriteMb = st.map(_.shuffleWriteBytes).sum / Mb,
      fetchWaitS = st.map(_.fetchWaitMs).sum / 1e3,
      spillMb = st.map(_.spillBytes).sum / Mb,
      inputMb = st.map(_.inputBytes).sum / Mb,
      inputRows = st.map(_.inputRows).sum)
  }
}

/** Spans recorded by the benchmark's own code, kept in memory and written
  * out once when the run ends. */
final class SpanLog {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  /** Adds the job and stage spans the listener attributed to `phaseSpan`. */
  def addJobs(phaseSpan: Span, js: Seq[(JobRec, Seq[(Int, StageStats)])]): Unit =
    js.foreach { case (j, ss) =>
      val jid = s"${phaseSpan.id}/job${j.jobId}"
      add(Span(jid, phaseSpan.id, "job", s"job${j.jobId}", j.startMs, j.endMs,
        Map("stages" -> ss.size.toDouble)))
      ss.foreach { case (sid, s) =>
        add(Span(s"$jid/stage$sid", jid, "stage", s"stage$sid", s.submittedMs,
          s.completedMs, Map("tasks" -> s.tasks.toDouble, "task_s" -> s.taskMs / 1e3,
            "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
            "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
            "input_bytes" -> s.inputBytes.toDouble)))
      }
    }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
      sb += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
