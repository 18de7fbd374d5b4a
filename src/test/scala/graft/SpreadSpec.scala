package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.spread]] — the engine-side guard for single-row-group inputs
  * (VERDICT r16 defect 1). Contract under test:
  *  - multi-file inputs (file count ≥ parallelism) pass through untouched
  *    (at 100 TB this must be a zero-cost identity);
  *  - small single-file inputs pass through untouched (the exchange costs
  *    more than the serial work it parallelizes — measured at sf0.1);
  *  - inputs of unknown size (no input files) pass through untouched;
  *  - LARGE single-file inputs gain a round-robin exchange so downstream
  *    narrow stages use every core;
  *  - rows are never added, dropped, or altered.
  */
class SpreadSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-spread-$name").toString

  test("small single-file scan passes through with no exchange") {
    val dir = tmp("small")
    spark.range(1000).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = Tables.spread(spark.read.parquet(dir))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "sub-threshold table must not pay an exchange")
    assert(df.count() == 1000)
    // no input files: no size to spread on, even under a zero floor
    val mem = Tables.spread(spark.range(1000).toDF("id"), 0L)
    assert(!mem.queryExecution.executedPlan.toString.contains("Exchange"),
      "a frame with no input files must pass through")
  }

  test("multi-file scan passes through with no exchange") {
    val dir = tmp("multi")
    // file count ≥ local[4] parallelism → identity regardless of size
    spark.range(10000).toDF("id").repartition(8).write.mode("overwrite").parquet(dir)
    val df = Tables.spread(spark.read.parquet(dir))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(df.count() == 10000)
  }

  test("large single-file scan is spread to the session parallelism, content intact") {
    val dir = tmp("large")
    // >16 MB compressed: 600k rows of 64-char hex (md5 defeats compression)
    spark.range(600000)
      .select(col("id"), md5(col("id").cast("string")).as("h1"),
        md5(concat(lit("x"), col("id").cast("string"))).as("h2"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    val df = Tables.spread(raw)
    assert(df.queryExecution.executedPlan.toString.contains("Exchange"),
      "above-threshold single-row-group table must be spread")
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // content identity: same rows, nothing altered
    assert(df.count() == 600000)
    assert(df.exceptAll(raw).isEmpty && raw.exceptAll(df).isEmpty)
  }
}
