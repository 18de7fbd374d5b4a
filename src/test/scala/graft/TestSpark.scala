package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sessions are expensive;
  * suites must not stop() it). Built by [[GraftSession.local]], so tests
  * run on Bench's and Verify's settings, with a private temp warehouse. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4,
    Some(java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  val sf: String = "/root/testdata/sf0.001"
}
