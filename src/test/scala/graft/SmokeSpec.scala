package graft

import org.scalatest.funsuite.AnyFunSuite

/** t1 smoke (SURVEY.md §5.1): every declared query runs end-to-end on
  * sf0.001 and every oracle-checked query is non-degenerate. */
class SmokeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("every declared query is oracle-checked (no rows-only rows)") {
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without an oracle: $unchecked")
    assert(SparkEntry.queries.size == 129, s"inventory = ${SparkEntry.queries.size}")
  }

  test("README's headline query count matches the inventory") {
    // relative to the working directory (sbt runs tests at the project
    // root), so the spec survives any checkout location; overridable for
    // harnesses that run elsewhere
    val readme = java.nio.file.Files.readString(
      java.nio.file.Paths.get(sys.props.getOrElse("graft.project.root", "."))
        .resolve("README.md"))
    val expected = s"${SparkEntry.queries.size} "
    assert(readme.contains(expected + "oracle-checked") ||
      readme.contains(expected + "queries"),
      s"README.md does not mention '${SparkEntry.queries.size} queries' — " +
        "update its headline count to match SparkEntry.queries.size")
  }

  test("README's suite count matches the test tree (VERDICT r17 item 7)") {
    // the r17 README said "356 cases across 20 suites" while 392/24 ran —
    // stale counts erode trust in every other README number. The CASE
    // count can't be self-counted here (suites register tests dynamically),
    // so the README now states the SUITE count — one *Spec.scala file per
    // suite — and defers the case count to `sbt test` output.
    val root = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.project.root", "."))
    val suites = java.nio.file.Files.list(root.resolve("src/test/scala/graft"))
      .filter(_.getFileName.toString.endsWith("Spec.scala")).count()
    val readme = java.nio.file.Files.readString(root.resolve("README.md"))
    assert(readme.contains(s"$suites ScalaTest suites"),
      s"README.md does not say '$suites ScalaTest suites' — update the " +
        "test-tree line to match the number of *Spec.scala files")
  }

  /** Source files under `dirs` containing `needle` (split it, or this file matches). */
  private def sourcesContaining(needle: String, dirs: String*): Seq[String] = {
    val root = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.project.root", "."))
    import scala.jdk.CollectionConverters._
    dirs.flatMap { d =>
      val walk = java.nio.file.Files.walk(root.resolve(d))
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
        .filter(p => java.nio.file.Files.readString(p).contains(needle))
        .map(_.getFileName.toString).toList
      finally walk.close()
    }
  }

  test("GraftSession is the only session builder in src/") {
    // a second builder is how the entry points' settings drifted apart
    // (Verify ran without Bench's minPartitionSize, ScaleUp without
    // GraftExtensions), so the oracle-checked plans were not the timed ones
    val builders = sourcesContaining("SparkSession" + ".builder", "src/main", "src/test")
    assert(builders == Seq("GraftSession.scala"),
      s"SparkSession builders outside GraftSession.scala: $builders — " +
        "build sessions through GraftSession.local")
  }

  test("Tables is the only local-checkpoint site in src/main") {
    // a raw checkpoint records no pre-pin plan, so the plan dumps stop at
    // its bare `Scan ExistingRDD`; pin through Tables.pin/pinEager instead
    val sites = sourcesContaining("localCheckpoint" + "(", "src/main")
    assert(sites == Seq("Tables.scala"),
      s"local checkpoints outside Tables.scala: $sites — pin through Tables.pin/pinEager")
  }

  test("AtRest is the only site of the at-rest lifecycle's table swaps, tombstones and layouts") {
    // each hand-written copy of the protocol restated its own swap, bucket
    // columns and tombstone table; the tombstone needle ends in a quote so
    // it matches code, not scaladoc
    for (needle <- Seq("SET" + " LOCATION", "_tombstones" + "\"", "bucketBy" + "(")) {
      val sites = sourcesContaining(needle, "src/main")
      assert(sites == Seq("AtRest.scala"),
        s"'$needle' outside AtRest.scala: $sites — go through graft.operators.AtRest")
    }
    // an at-rest commit is a layout-file rename, never a catalog rename
    assert(sourcesContaining("RENAME" + " TO", "src/main").isEmpty)
  }

  test("Tables is the only reader of input files in src/main") {
    // a second read of input size is how the dispatches drifted apart:
    // some read an unknown size as 0 bytes and took the fast path; size
    // frames through Tables.sizeOf, whose None each dispatch reads as large
    val sites = sourcesContaining("input" + "Files", "src/main")
    assert(sites == Seq("Tables.scala"),
      s"input-file reads outside Tables.scala: $sites — size frames through Tables.sizeOf")
  }

  test("PlanDump headline list stays in sync with the query inventory") {
    // no stale names (a renamed query must not silently drop its plan dump)
    val stale = PlanDump.headline.toSet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"PlanDump names not in inventory: $stale")
    assert(PlanDump.headline.distinct.size == PlanDump.headline.size)
    // every marquee operator since round 6 must have a committed plan —
    // the r7 gap (q102 missing from PLANS.md) is exactly what this pins;
    // q1[0-9][0-9] (not q10[0-9]) so q110+ keep tripping the guard
    val marquee = SparkEntry.queries.keySet.filter(_.matches("q1[0-9][0-9]_.*"))
    val missing = marquee -- PlanDump.headline.toSet
    assert(missing.isEmpty, s"marquee queries without a plan dump: $missing")
  }

  test("q77 funnel stage counts are monotone non-increasing") {
    val r = SparkEntry.queries("q77_funnel")(spark, TestSpark.sf).collect().head
    val (nu, nv, nc, np) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_view"),
      r.getAs[Long]("n_click_after_view"), r.getAs[Long]("n_purchase_after_click"))
    assert(nu >= nv && nv >= nc && nc >= np && np >= 0)
  }

  test("q76 per-language KL divergence is non-negative") {
    import org.apache.spark.sql.functions.col
    val bad = SparkEntry.queries("q76_lang_kl")(spark, TestSpark.sf)
      .filter(col("kl") < -1e-6).count() // integer-scaled logs can round KL a hair below 0
    assert(bad == 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      val df = fn(spark, TestSpark.sf)
      val n = df.count()
      // near-dup/ANN candidate queries may legitimately be small, never negative;
      // oracle-checked queries must produce rows at smoke scale.
      if (SparkEntry.oracleSql.contains(name) && name != "q06_anti_join")
        assert(n > 0, s"$name returned no rows")
      else assert(n >= 0)
    }
  }
}
