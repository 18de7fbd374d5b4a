package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Per-query formatted-plan dumper for the optimization rounds' committed
  * evidence (`plans/rNN/<query>_{before,after}.txt`): writes ONE file per
  * requested query so a plan diff is reviewable per change.
  *
  * Usage: sbt "runMain graft.ExplainDump <outDir> <suffix> q01,q27,..."
  * (data dir via SPARK_GRAFT_SF_DIR, default sf0.1 — plans are dumped
  * against the bench scale so AQE-relevant stats match the timed runs).
  * Queries with a pre-checkpoint twin in DedupOps.planOnly additionally
  * dump `<query>_prepin_<suffix>.txt` — the candidate/verify tree the
  * localCheckpoint pin hides from the main dump. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val wanted = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Bench.defaultSfDir)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    val all = SparkEntry.queries
    wanted.foreach { prefix =>
      all.filter(_._1.startsWith(prefix)).foreach { case (name, fn) =>
        val txt = try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        (graft.operators.DedupOps.planOnly ++
          graft.operators.MultimodalOps.planOnly).get(name).foreach { pfn =>
          val ptxt = try pfn(spark, sfDir).queryExecution.explainString(FormattedMode)
            catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
          Files.writeString(Paths.get(outDir, s"${name}_prepin_$suffix.txt"), ptxt)
        }
        println(s"dumped $name")
      }
    }
    GraftSession.stop(spark)
  }
}
