package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Per-query formatted-plan dumper for the optimization rounds' committed
  * evidence (`plans/rNN/<query>_{before,after}.txt`): writes ONE file per
  * requested query so a plan diff is reviewable per change. Each file is
  * [[explain]]'s output, so the plans under the query's pins follow its
  * top plan.
  *
  * Usage: sbt "runMain graft.ExplainDump <outDir> <suffix> q01,q27,..."
  * (data dir via SPARK_GRAFT_SF_DIR, default sf0.1 — plans are dumped
  * against the bench scale so AQE-relevant stats match the timed runs). */
object ExplainDump {
  /** `df`'s formatted plan, then one section per pin under it: a pin
    * shows up as a bare `Scan ExistingRDD`, so each section re-plans the
    * plan [[Tables.pin]]/[[Tables.pinEager]] recorded for that checkpoint
    * RDD, labelled by RDD id, and expands the pins under it in turn. */
  def explain(df: DataFrame): String = {
    val sb = new StringBuilder(df.queryExecution.explainString(FormattedMode).trim)
    val seen = scala.collection.mutable.Set.empty[Int]
    def expand(d: DataFrame): Unit =
      for (rdd <- Tables.pinnedRdds(d); plan <- Option(Tables.pinPlans.get(rdd))
           if seen.add(rdd.id)) {
        val under = org.apache.spark.sql.GraftBridge.ofRows(d.sparkSession, plan)
        sb.append(s"\n\n== Pinned RDD ${rdd.id} ==\n")
        sb.append(under.queryExecution.explainString(FormattedMode).trim)
        expand(under)
      }
    expand(df)
    sb.append('\n').toString
  }

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
        val txt = try explain(fn(spark, sfDir))
          catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"dumped $name")
      }
    }
    GraftSession.stop(spark)
  }
}
