package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew-posture dispatch for corpus token-frequency lookups (optimization
  * r19, ADVICE r18): q57/q75 compute df/c via a window below
  * [[operators.TextOps.TokenWindowMaxBytes]] and via a pinned-tf join-back
  * above it. The two paths MUST be value-identical — the oracle only ever
  * drives one of them per scale, so this spec is what pins the other. The
  * corpus includes the hazards the dispatch exists for: a hot token ("the"
  * in every doc), repeated tokens within one doc (tf > 1), a single-token
  * doc, and a NULL text (explode drops it; q75's N guard must too).
  */
class TokenStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog the dog the dog"),
    (3L, "the"),
    (4L, null.asInstanceOf[String]),
    (5L, "cat mat dog the zebra zebra")
  ).toDF("doc_id", "text")

  test("q57 tf-idf: window path == pinned join-back path") {
    val w = operators.TextOps.tfidfKeywordsOf(docs, windowPath = true).collect()
    val j = operators.TextOps.tfidfKeywordsOf(docs, windowPath = false).collect()
    assert(w.toSeq == j.toSeq)
    assert(w.nonEmpty)
  }

  test("q75 unigram LM: window path == pinned join-back path") {
    val w = operators.TextOps.unigramLmOf(docs, windowPath = true).collect()
    val j = operators.TextOps.unigramLmOf(docs, windowPath = false).collect()
    assert(w.toSeq == j.toSeq)
    // NULL-text doc emits no tokens: exactly 4 scored docs
    assert(w.length == 4)
  }

  test("dispatch: sub-threshold corpus takes the window path") {
    // a scan-rooted frame has a known size (Tables.sizeOf); write a small one
    val dir = java.nio.file.Files.createTempDirectory("graft-tokwin").toString
    docs.write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
    assert(operators.TextOps.tokenWindowSafe(scanned),
      "a kilobyte corpus must stay on the window path")
  }

  test("dispatch: an in-memory corpus (unknown size) takes the join path") {
    assert(docs.inputFiles.isEmpty)
    assert(!operators.TextOps.tokenWindowSafe(docs),
      "a frame with no input files has no known size and must not take the window path")
  }
}
