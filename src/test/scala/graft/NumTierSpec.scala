package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two money-precision tiers (optimization r19): Compact (decimal(8,2),
  * long-backed sum buffers) and Wide (decimal(12,2)) must be VALUE-IDENTICAL
  * on every money-domain input — the oracle only ever drives one tier per
  * scale, so this spec pins the other. Inputs include the hazards the snap
  * exists for: values a hair off the 2-decimal grid, exact .005 rounding
  * midpoints after summation, and the fixture maximum (~5.6e5, which needs
  * all 6 integer digits of decimal(8,2)).
  */
class NumTierSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rows = Seq(
    ("A", 104999.91, 0.05, 0.07),
    ("A", 0.01, 0.0, 0.0),
    ("A", 933.125 - 1e-9, 0.1, 0.02), // off-grid double, snaps to 933.13? no: .125 is 3dp — snaps like the engines do
    ("B", 499993.18, 0.02, 0.08),
    ("B", 0.07, 0.0, 0.01),
    ("B", 123.455, 0.0, 0.0) // .005 midpoint after cast
  ).toDF("g", "l_extendedprice", "l_discount", "l_tax")

  private def agg(n: operators.Num.Tier) =
    rows.groupBy("g").agg(
      n.dsum(col("l_extendedprice")).as("s"),
      n.dsumDec(n.discPrice).as("dp"),
      n.dsumDec(n.charge).as("ch"),
      n.davg(col("l_extendedprice")).as("a"))
      .orderBy("g").collect().toSeq

  test("Compact tier == Wide tier on money-domain inputs") {
    assert(agg(operators.Num.Compact) == agg(operators.Num.Wide))
  }

  test("tierFor dispatches by input bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-numtier").toString
    rows.write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
    assert(operators.Num.tierFor(scanned) eq operators.Num.Compact,
      "a kilobyte input must take the Compact tier")
    assert(operators.Num.tierFor(rows) eq operators.Num.Wide,
      "a frame with no input files has no known size and must take the Wide tier")
  }
}
