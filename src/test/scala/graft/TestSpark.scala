package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sessions are expensive;
  * suites must not stop() it). Mirrors the Verify/Bench configuration. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Bench's codegen cache: the default 100 entries evict a streaming
      // drain's generated classes before the next drain can reuse them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Bench and Verify's level: the INFO stream is tens of MB per suite run
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf: String = "/root/testdata/sf0.001"
}
