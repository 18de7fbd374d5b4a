package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, IvfIndex}
import graft.sources.{EmailMapping, EtlConfig, PartitionedSink}
import graft.streaming.DocStream

/** The `nightly_ingest` workload: a day-0 corpus at rest, then one night per
  * pass. The inputs (staged from the seed before the JVM starts) live under
  * `inputDir`: `day0/{docs,vecs}.parquet` and one `night_<i>_<yyyyMMdd>`
  * directory per night holding `docs`, `vecs`, `events`, `users`,
  * `takedown_docs` and `takedown_vecs` parquet files. Night 0 is the
  * untimed warm night of the first setup; timed pass `p` is night `p + 1`.
  *
  * Each night, as separately timed steps:
  *  - `land`: the day's events through `PartitionedSink.writeDaily`;
  *  - `email_map`: the night's users through `EmailMapping.run`;
  *  - `admit`: the night's documents through `DocStream.admissionDrain`
  *    against the at-rest MinHash index;
  *  - `ivf_append`, `ivf_search`, `ivf_save`: absorb the night's vectors
  *    into the saved `IvfIndex`, query it, save the next version;
  *  - `index_remove`, `ivf_remove`: take down the ids the seed chose;
  *  - every `CompactEvery` nights, `index_compact` and `partition_compact`.
  */
final class Nightly(inputDir: String, workDir: String) extends Workload {
  /** A night's time is dominated by one streaming drain in a young JVM;
    * the median of two nights is steadier than one. */
  override val minPasses = 2
  /** Compaction runs every night, so every night does the same steps. */
  val CompactEvery = 1
  val Salt = "perfbench-salt"
  val Buckets = 8

  private val nightDirs: IndexedSeq[File] = new File(inputDir).listFiles()
    .filter(_.getName.startsWith("night_")).sortBy(_.getName).toIndexedSeq
  private def dateOf(i: Int): String = nightDirs(i).getName.split("_")(2)

  private val cfg = EtlConfig("perfbench", "jdbc:none", "users", "none", Salt, None, None)

  // state of the current setup
  private var ws: String = _
  private var prefix: String = _
  private var ivfVersion = 0
  private var nightsDone = Vector.empty[Int]
  /** Bytes written per (night, step), measured in traced passes. */
  private val written = mutable.Map.empty[(Int, String), Long]
  private var tracingBytes = false
  /** Day-0 index build time of each setup. */
  private var day0BuildS = Vector.empty[Double]

  private def ivfPath = s"$ws/ivf/v$ivfVersion"
  private def in(i: Int, t: String) = s"${nightDirs(i).getPath}/$t.parquet"

  def setup(spark: SparkSession, ph: Phaser, k: Int, check: Boolean): SetupTimes = {
    ws = s"$workDir/ws$k"
    prefix = s"nightly_k$k"
    ivfVersion = 0
    nightsDone = Vector.empty
    written.clear()
    val (_, loadS) = ph.phase(s"setup$k/tables") {
      Seq("docs", "vecs").foreach(t => spark.read.parquet(s"$inputDir/day0/$t.parquet").count())
    }
    val (_, warmS) = ph.phase(s"setup$k/warm") {
      val t0 = System.nanoTime()
      DedupOps.indexCorpus(spark.read.parquet(s"$inputDir/day0/docs.parquet"))
        .saveAsTables(prefix, Buckets)
      IvfIndex.build(spark.read.parquet(s"$inputDir/day0/vecs.parquet")).save(ivfPath)
      day0BuildS :+= (System.nanoTime() - t0) / 1e9
      // the first setup of a run also plays night 0, untimed, to warm the
      // JVM for every step; later setups start from the warm JVM
      if (check) night(spark, ph, -k, 0)
    }
    SetupTimes(loadS, warmS)
  }

  def pass(spark: SparkSession, ph: Phaser, passNo: Int): Seq[OpSample] = {
    val i = passNo + 1
    require(i < nightDirs.size, s"ran out of staged nights after $i")
    tracingBytes = ph.tracing
    night(spark, ph, passNo, i)
  }

  private def night(spark: SparkSession, ph: Phaser, passNo: Int, i: Int): Seq[OpSample] = {
    val date = dateOf(i)
    val ops = mutable.ArrayBuffer.empty[OpSample]
    def step(name: String)(body: => Unit): Unit = {
      val t0 = System.currentTimeMillis()
      ops += ph.op(passNo, name, "nightly")(Seq("execute" -> (() => body)))
      if (tracingBytes && passNo >= 0) written((i, name)) = bytesSince(t0)
    }
    step("land") {
      PartitionedSink.writeDaily(
        PartitionedSink.stamped(spark.read.parquet(in(i, "events")), Some(date)), s"$ws/landed")
    }
    step("email_map") {
      EmailMapping.run(spark.read.parquet(in(i, "users")), cfg, s"$ws/email/night=$i")
    }
    // the night's documents arrive in the stream's source directory
    Files.createDirectories(Paths.get(s"$ws/stream_src"))
    Files.copy(Paths.get(in(i, "docs")), Paths.get(s"$ws/stream_src/night_$i.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    step("admit") {
      DocStream.admissionDrain(
        spark.readStream.schema(Nightly.DocSchema).parquet(s"$ws/stream_src"),
        prefix, 0.8, s"$ws/audit", s"$ws/ckpt")
    }
    var idx: IvfIndex = null
    step("ivf_append") {
      val cur = IvfIndex.load(spark, ivfPath)
      val next = cur.append(spark.read.parquet(in(i, "vecs")).select("vec_id", "emb"))
      idx = IvfIndex(cur.centroids, next.assigned.localCheckpoint(eager = true))
    }
    step("ivf_search") {
      val q = spark.read.parquet(in(i, "vecs")).orderBy("vec_id").limit(16)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      idx.search(q, 10, 4).write.format("noop").mode("overwrite").save()
    }
    step("ivf_save") {
      val old = ivfPath
      ivfVersion += 1
      idx.save(ivfPath)
      deleteTree(Paths.get(old))
    }
    step("index_remove") {
      DedupOps.removeFromCorpusIndex(prefix, spark.read.parquet(in(i, "takedown_docs")))
    }
    step("ivf_remove") {
      IvfIndex.removeAtRest(spark, ivfPath, spark.read.parquet(in(i, "takedown_vecs")))
    }
    if (i % CompactEvery == 0) {
      step("index_compact") { DedupOps.compactCorpusIndex(spark, prefix) }
      step("partition_compact") {
        nightsDone.filter(_ > i - CompactEvery).map(dateOf).distinct.appended(date)
          .foreach(d => PartitionedSink.compactPartition(spark, s"$ws/landed", d, 64L << 20))
      }
    }
    nightsDone :+= i
    ops.toSeq
  }

  /** Bytes of the files under the workspace written at or after `sinceMs`
    * (the night's staged input excluded). */
  private def bytesSince(sinceMs: Long): Long = filesUnder(ws)
    .filterNot(_.toString.contains("/stream_src/"))
    .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs)
    .map(Files.size).sum

  private def filesUnder(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  private def dirBytes(dir: String): Long = filesUnder(dir).map(Files.size).sum

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  private def docs(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$inputDir/day0/docs.parquet").select("doc_id", "text")
      .unionByName(spark.read.parquet(s"$ws/stream_src").select("doc_id", "text"))

  private def admitted(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$ws/audit").filter(col("admitted")).select("doc_id")

  private def nightsInput(spark: SparkSession, t: String): DataFrame =
    nightsDone.map(i => spark.read.parquet(in(i, t))).reduce(_ unionByName _)

  /** Row count and the sum of 64-bit row hashes of `b` and `a` (same
    * columns): equal multisets of rows give equal pairs, one job per side. */
  private def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    def fingerprint(df: DataFrame) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(a.columns.map(df.col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
    }
    val (fa, fb) = (fingerprint(a), fingerprint(b))
    (fa == fb, s"rows ${fa._1} vs ${fb._1}, row-hash sums ${if (fa._2 == fb._2) "equal" else "differ"}")
  }

  def verify(spark: SparkSession): Seq[Check] = {
    def check(name: String)(body: => (Boolean, String)): Check =
      try { val (ok, d) = body; Check(name, ok, d) }
      catch { case e: Throwable => Check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    Seq(
      check("index") {
        // the loaded index equals a fresh build over day 0 ∪ admitted − removed
        val live = docs(spark)
          .join(spark.read.parquet(s"$inputDir/day0/docs.parquet").select("doc_id")
            .unionByName(admitted(spark)), "doc_id")
          .join(nightsInput(spark, "takedown_docs").select("doc_id"), Seq("doc_id"), "left_anti")
        val fresh = DedupOps.indexCorpus(live)
        val loaded = DedupOps.loadCorpusIndex(spark, prefix)
        val (okS, dS) = sameRows(loaded.shingles.select("doc_id", "sh"), fresh.shingles.select("doc_id", "sh"))
        val cols = fresh.bands.columns.toSeq
        val (okB, dB) = sameRows(loaded.bands.select(cols.map(col): _*), fresh.bands.select(cols.map(col): _*))
        (okS && okB, s"shingles $dS; bands $dB")
      },
      check("ivf") {
        val cur = IvfIndex.load(spark, ivfPath)
        val live = spark.read.parquet(s"$inputDir/day0/vecs.parquet").select("vec_id", "emb")
          .unionByName(nightsInput(spark, "vecs").select("vec_id", "emb"))
          .join(nightsInput(spark, "takedown_vecs"), Seq("vec_id"), "left_anti")
        val fresh = IvfIndex(cur.centroids, cur.assigned.limit(0)).append(live)
        sameRows(cur.assigned.select("vec_id", "cell"), fresh.assigned.select("vec_id", "cell"))
      },
      check("landed") {
        val landed = spark.read.parquet(s"$ws/landed")
        val input = nightsDone.map(i => spark.read.parquet(in(i, "events"))
          .withColumn("load_date", lit(dateOf(i).toInt))).reduce(_ unionByName _)
        sameRows(landed.select(input.columns.map(col).toIndexedSeq: _*), input)
      })
  }

  def layers(passes: Seq[PassStats]): Map[String, Double] = {
    val spark = SparkSession.active
    val timed = passes.flatMap(_.ops)
    def stepS(names: String*): Double = {
      val byNight = timed.filter(o => names.contains(o.op)).groupBy(_.pass)
        .values.map(_.map(_.wallS).sum).toSeq
      if (byNight.isEmpty) 0.0 else Stats.median(byNight)
    }
    // timed pass p is night p + 1
    val tracedNights = passes.filter(_.traced).map(_.pass + 1)
    def writtenMb(steps: String*): Double = Stats.median(tracedNights.map { i =>
      steps.map(s => written.getOrElse((i, s), 0L)).sum / (1024.0 * 1024.0)
    })
    val inputBytes = (i: Int) => Seq("docs", "vecs", "events", "users", "takedown_docs", "takedown_vecs")
      .map(t => Files.size(Paths.get(in(i, t)))).sum
    val tracedWritten = tracedNights.map(i => written.filter(_._1._1 == i).values.sum).sum
    val tracedInput = tracedNights.map(inputBytes).sum

    // admission counts over the timed nights (batch id = night index)
    val timedNights = passes.map(_.pass + 1)
    val audit = spark.read.parquet(s"$ws/audit").groupBy("batch_id")
      .agg(count(lit(1)).as("n"), sum(col("admitted").cast("long")).as("a")).collect()
      .map(r => r.getAs[Number](0).intValue -> (r.getLong(1), r.getLong(2))).toMap
    val offered = timedNights.map(n => audit.get(n).map(_._1).getOrElse(0L)).sum
    val admittedN = timedNights.map(n => audit.get(n).map(_._2).getOrElse(0L)).sum

    // live input: day 0 plus every night's input, documents and vectors
    // scaled by the share still live (admitted minus removed)
    def rows(path: String) = spark.read.parquet(path).count().toDouble
    val day0Docs = rows(s"$inputDir/day0/docs.parquet")
    val day0Vecs = rows(s"$inputDir/day0/vecs.parquet")
    val liveDocs = day0Docs + audit.values.map(_._2).sum - nightsDone.map(i => rows(in(i, "takedown_docs"))).sum
    val allDocs = day0Docs + nightsDone.map(i => rows(in(i, "docs"))).sum
    val liveVecs = day0Vecs + nightsDone.map(i => rows(in(i, "vecs")) - rows(in(i, "takedown_vecs"))).sum
    val allVecs = day0Vecs + nightsDone.map(i => rows(in(i, "vecs"))).sum
    def size(p: String) = Files.size(Paths.get(p)).toDouble
    val docBytes = size(s"$inputDir/day0/docs.parquet") + nightsDone.map(i => size(in(i, "docs"))).sum
    val vecBytes = size(s"$inputDir/day0/vecs.parquet") + nightsDone.map(i => size(in(i, "vecs"))).sum
    val otherBytes = nightsDone.map(i => size(in(i, "events")) + size(in(i, "users"))).sum
    val liveInput = docBytes * liveDocs / allDocs + vecBytes * liveVecs / allVecs + otherBytes
    val atRest = dirBytes(ws) - dirBytes(s"$ws/stream_src")
    val indexLive = new File(s"$ws/warehouse").listFiles().toSeq
      .filter(_.getName.startsWith(prefix)).map(f => dirBytes(f.getPath)).sum

    Map(
      // the at-rest day-0 indexes are this workload's warm state
      "WarmState.build_s" -> Stats.median(day0BuildS),
      "sources.land_s" -> stepS("land"),
      "sources.email_map_s" -> stepS("email_map"),
      "sources.compact_s" -> stepS("partition_compact"),
      "sources.written_mb" -> writtenMb("land", "email_map", "partition_compact"),
      "streaming.admit_s" -> stepS("admit"),
      "streaming.admitted_frac" -> (if (offered > 0) admittedN.toDouble / offered else 0.0),
      "DedupOps.index_remove_s" -> stepS("index_remove"),
      "DedupOps.index_compact_s" -> stepS("index_compact"),
      "DedupOps.index_written_mb" -> writtenMb("admit", "index_remove", "index_compact"),
      "DedupOps.index_live_mb" -> indexLive / (1024.0 * 1024.0),
      "IvfIndex.append_s" -> stepS("ivf_append"),
      "IvfIndex.search_s" -> stepS("ivf_search"),
      "IvfIndex.save_s" -> stepS("ivf_save"),
      "IvfIndex.remove_s" -> stepS("ivf_remove"),
      "ingest.write_amp" -> (if (tracedInput > 0) tracedWritten.toDouble / tracedInput else 0.0),
      "ingest.space_amp" -> atRest / liveInput)
  }

  def release(spark: SparkSession): Unit = {
    for (t <- Seq("shingles", "bands", "tombstones", "admissions", "shingles_compact", "bands_compact"))
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t")
    deleteTree(Paths.get(ws))
  }
}

object Nightly {
  val DocSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
}
