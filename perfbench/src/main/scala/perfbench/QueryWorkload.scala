package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{SparkEntry, Tables}
import graft.operators._

/** A query workload: a fixed list of `SparkEntry.queries` run in a closed
  * loop with one client. Each op is timed from outside as three phases —
  * `construct` (the constructor call, including any eager jobs it runs),
  * `plan` (forcing the executed physical plan) and `execute` (writing to the
  * `noop` sink, which evaluates every output column). Each pass visits the
  * ops in an order shuffled by the seed. */
final class QueryWorkload(opNames: Seq[String], dataDir: String, checkDir: String,
                          seed: Long) extends Workload {

  private val familyOf: Map[String, String] = Seq(
    "Relational" -> Relational.queries, "EventOps" -> EventOps.queries,
    "TextOps" -> TextOps.queries, "DedupOps" -> DedupOps.queries,
    "SimilarityOps" -> SimilarityOps.queries, "MultimodalOps" -> MultimodalOps.queries,
    "SamplingOps" -> SamplingOps.queries, "CorpusOps" -> CorpusOps.queries,
  ).flatMap { case (f, m) => m.keys.map(_ -> f) }.toMap

  /** Three passes give every op a median that one slow pass cannot move. */
  override val minPasses = 3

  opNames.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))

  private val ctor = SparkEntry.queries

  def setup(spark: SparkSession, ph: Phaser, k: Int, check: Boolean): SetupTimes = {
    val (_, loadS) = ph.phase(s"setup$k/tables") {
      Tables.names.foreach(t => Tables.load(spark, dataDir, t).count())
    }
    // The untimed warm pass pays codegen, JIT and every warm-state build.
    // The first setup writes each result as parquet for the output check
    // instead of to the noop sink.
    val warmOps = Seq.newBuilder[(String, Double)]
    val (_, warmS) = ph.phase(s"setup$k/warm") {
      opNames.foreach { n =>
        val t0 = System.nanoTime()
        try {
          val df = ctor(n)(spark, dataDir)
          if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
          else df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] warm $n failed: ${e.getMessage}")
        }
        warmOps += n -> (System.nanoTime() - t0) / 1e9
      }
    }
    if (check) writeOracleSql()
    SetupTimes(loadS, warmS, warmOps.result())
  }

  def pass(spark: SparkSession, ph: Phaser, passNo: Int): Seq[OpSample] = {
    val order = new scala.util.Random(seed * 1000003L + passNo).shuffle(opNames)
    order.map { n =>
      var df: DataFrame = null
      var exchanges = 0
      ph.op(passNo, n, familyOf(n))(Seq(
        "construct" -> (() => df = ctor(n)(spark, dataDir)),
        "plan" -> (() => exchanges = QueryWorkload.exchanges(df.queryExecution.executedPlan)),
        "execute" -> (() => df.write.format("noop").mode("overwrite").save())
      )).copy(exchanges = exchanges)
    }
  }

  def verify(spark: SparkSession): Seq[Check] = Nil

  def layers(passes: Seq[PassStats]): Map[String, Double] = Map.empty

  def release(spark: SparkSession): Unit = ()

  /** The DuckDB oracle for each op, for the output check that runs after the
    * JVM exits. */
  private def writeOracleSql(): Unit = {
    val json = Json.obj(opNames.flatMap(n => SparkEntry.oracleSql.get(n).map(s => n -> Json.str(s))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"), json)
  }
}

object QueryWorkload {
  /** Exchange nodes (shuffle and broadcast) in a physical plan, looking
    * inside adaptive plans (their current plan, which before execution is
    * the initial plan with its exchanges) and subqueries. */
  def exchanges(plan: SparkPlan): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case _ =>
        (if (p.isInstanceOf[Exchange]) 1 else 0) +
          p.children.map(count).sum + p.subqueries.map(count).sum
    }
    count(plan)
  }
}
