package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Engine-parity numeric helpers: EXACT aggregation of money-valued double
  * columns.
  *
  * `round(sum(<double>), k)` is a rounding coin-flip between engines: the
  * FP sum is summation-order-dependent, and Spark's partial-aggregate order
  * differs from DuckDB's (and from itself run to run). Worse, the inputs
  * here are MONEY — doubles sitting on the 2-decimal grid (verified ≤ 4e-9
  * off-grid across every sf) — so true sums land EXACTLY on .005 rounding
  * midpoints and the flip is not even rare (two observed at sf0.1).
  *
  * The fix: snap each input to its true grid with a cast to DECIMAL (the
  * stored double is ~1e-9 from the grid point, never near a midpoint, so
  * both engines recover the identical decimal), then do ALL arithmetic —
  * products with (1 ± rate) factors, sums, rounding — in exact decimal, and
  * cast the rounded result back to double (identical bits from identical
  * decimals). Used by every rounded-sum/avg output the DuckDB oracle
  * hash-checks.
  *
  * TWO PRECISION TIERS (optimization r19, guide §2.3 "narrower types").
  * Spark sizes a sum's buffer at input precision + 10; buffers at 18 digits
  * or below ride UnsafeRow's LONG-backed compact Decimal (8-byte in-place
  * update), while wider buffers are 16-byte with a BigDecimal round-trip
  * per update — measured 15–40 % of the whole query on the lineitem
  * aggregate family (A/B at sf0.1: q01 −0.19 s, q48 −0.25, q13 −0.20,
  * q28 −0.18, q18 −0.15, q26 −0.14). [[Num.Compact]] (decimal(8,2), sum
  * buffer (18,2)) is exact for money cells < 10⁶ — true for every money
  * column in the fixtures (max observed 499 993.18; Spark 4's default ANSI
  * mode makes any violation a loud error, never a silent null) — and its
  * buffer caps at ~10¹⁶ dollars, so it is dispatched BY INPUT SIZE:
  * [[tierFor]] picks it under [[CompactMaxBytes]] (4 GB ≈ 2×10⁸ rows ≈
  * 2×10¹⁴ worst-case single-group sum — 50× headroom), and [[Wide]]
  * (decimal(12,2), buffer (22,2), 10²⁰ cap) beyond. Both tiers are exact
  * decimal arithmetic over the same snapped values, so outputs are
  * bit-identical wherever both are defined — the oracle SQL is one text
  * for both (NumTierSpec pins equality; the sf0.01/sf0.1 oracles drive the
  * Compact tier).
  */
object Num {
  /** Input-size ceiling for the Compact tier (env-overridable for A/B). */
  private[graft] val CompactMaxBytes: Long =
    sys.env.get("SPARK_GRAFT_DEC_MAX")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(4L << 30)

  /** Money-precision tier: all expression builders in one place so a query
    * picks its tier once ([[tierFor]]) and every cast/sum/avg follows. */
  final class Tier private[Num] (dt: String) {
    /** Snap a money double to its exact 2-decimal value. */
    def money(c: Column): Column = c.cast(dt)

    /** lineitem's discounted price, exact decimal. */
    def discPrice: Column =
      money(col("l_extendedprice")) * (one - money(col("l_discount")))

    /** lineitem's charged amount (discounted price plus tax), exact. */
    def charge: Column = discPrice * (one + money(col("l_tax")))

    /** Exact rounded sum of a GRID-VALUED double column, as double. */
    def dsum(c: Column, scale: Int = 2): Column =
      round(sum(money(c)), scale).cast("double")

    /** Exact rounded sum of an already-decimal expression. */
    def dsumDec(c: Column, scale: Int = 2): Column =
      round(sum(c), scale).cast("double")

    /** Window variant of [[dsum]]. */
    def dsumOver(c: Column, w: WindowSpec, scale: Int = 2): Column =
      round(sum(money(c)).over(w), scale).cast("double")

    /** Exact-sum average: one double division of engine-identical operands. */
    def davg(c: Column, scale: Int = 4): Column =
      round(sum(money(c)).cast("double") / count(c), scale)
  }

  /** The scale-safe default tier (sum buffer decimal(22,2)). */
  val Wide = new Tier("decimal(12,2)")

  /** The long-backed fast tier — only via [[tierFor]] or a call site that
    * can bound its input (see the object doc for the safety argument). */
  val Compact = new Tier("decimal(8,2)")

  /** Pick the tier from the frame's on-disk input size
    * ([[graft.Tables.sizeOf]]): Compact only under [[CompactMaxBytes]];
    * a frame of unknown size (no input files) takes the scale-safe Wide. */
  def tierFor(df: DataFrame): Tier =
    if (graft.Tables.sizeOf(df).exists(_ <= CompactMaxBytes)) Compact else Wide

  /** Exact decimal literal 1.00 for (1 ± rate) factors. */
  val one: Column = lit(new java.math.BigDecimal("1.00"))

  /** DuckDB oracle text for [[Tier.dsum]] — ONE text for both tiers: the
    * tiers differ only in Spark-side buffer width, never in value. */
  def dsumSql(e: String, scale: Int = 2): String =
    s"CAST(round(sum(CAST($e AS DECIMAL(12,2))), $scale) AS DOUBLE)"
}
