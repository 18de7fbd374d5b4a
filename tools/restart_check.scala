// Body of tools/restart_check.sh: run by spark-shell with `phase` (1 or 2)
// and `work` (the shared work directory) defined ahead of it. Phase 1
// builds all eight at-rest artifacts and runs one admission drain; phase 2,
// in a new JVM whose catalog has never seen them, loads each artifact,
// appends to it, runs a second drain on the same checkpoint, takes a doc
// down, compacts, and checks each result against a fresh build (or, for a
// family that ranks appends under a frozen order, against a twin built in
// phase 2 and given the same operations).
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.DocStream

// ids equal mod 7 are near-duplicates, except the even drain docs (35 on),
// whose vocabulary is their own: each drain admits some docs and rejects
// the rest
val texts = (1L to 60L).map(i => i -> (
  if (i >= 35 && i % 2 == 0) (0 until 12).map(j => s"x${i}_$j")
  else (0 until 12).map(j => s"w${(i % 7) * 3 + j}") :+ s"u$i").mkString(" ")).toMap
def docs(ids: Seq[Long]): DataFrame = ids.map(i => (i, texts(i))).toDF("doc_id", "text")
  .withColumn("n_chars", length(col("text")))
def media(d: DataFrame) =
  d.select(col("doc_id"), lit("image").as("kind"), col("text").cast("binary").as("payload"))
def vecs(d: DataFrame) = d.select(col("doc_id").as("vec_id"),
  array((col("doc_id") % 7).cast("double"), lit(1.0), (col("doc_id") % 3).cast("double")).as("emb"),
  (col("doc_id") % 2).as("label"))
def pairsOf(ids: Seq[Long], of: Seq[Long]): DataFrame =
  (for (a <- ids; b <- ids if a < b && a % 7 == b % 7 && (of.contains(a) || of.contains(b)))
    yield (a, b)).toDF("a", "b")
val noLabels = Seq.empty[(Long, Long)].toDF("node", "label")
def rowHashes(df: DataFrame): Seq[Long] =
  df.select(xxhash64(df.columns.sorted.toSeq.map(col): _*)).collect().map(_.getLong(0)).sorted.toSeq

val day0 = (1L to 30L).toVector
val batch = (31L to 34L).toVector
val gone = 2L
val live = (day0 ++ batch).filterNot(_ == gone)
val (cluster, ivf, twinIvf) = (s"$work/cluster", s"$work/ivf", s"$work/twin_ivf")
val src = s"$work/stream_src"
// a night's documents land in the stream's source directory as one file
def land(night: Int, ids: Seq[Long]): Unit = {
  val tmp = new org.apache.hadoop.fs.Path(s"$work/landing_$night")
  docs(ids).select("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
  val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
  fs.mkdirs(new org.apache.hadoop.fs.Path(src))
  fs.rename(fs.globStatus(new org.apache.hadoop.fs.Path(tmp, "part-*"))(0).getPath,
    new org.apache.hadoop.fs.Path(s"$src/night_$night.parquet"))
}
def drain(): Unit = DocStream.admissionDrain(
  spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src),
  "rc_minhash", 0.8, s"$work/audit", s"$work/ckpt")
def saveAll(sfx: String): Unit = {
  DedupOps.indexNgramPrefix(docs(day0), 0.5).saveAsTables(s"rc_prefix$sfx", 4)
  DedupOps.indexNgramContainment(docs(day0).select("doc_id", "text"), 0.8)
    .saveAsTables(s"rc_containment$sfx", 4)
}

var ok = true
def check(name: String)(got: Seq[DataFrame], want: Seq[DataFrame]): Unit = {
  val same = got.map(rowHashes) == want.map(rowHashes)
  ok &&= same
  println(s"[restart_check] ${if (same) "PASS" else "FAIL"} $name " +
    got.map(_.count()).mkString("rows ", "/", ""))
}

if (phase == 1) {
  DedupOps.indexCorpus(docs(day0).select("doc_id", "text")).saveAsTables("rc_minhash", 4)
  saveAll("")
  CorpusOps.saveFirstSeenIndex(docs(day0), "rc_firstseen", 4)
  MultimodalOps.saveMediaPhashIndex(media(docs(day0)), "rc_media", 4)
  SplitState.init(spark, "rc_split", docs(day0).select("doc_id"), noLabels, 4)
  ClusterState.build(pairsOf(day0, day0)).save(cluster)
  IvfIndex.build(vecs(docs(day0))).save(ivf)
  land(1, 35L to 40L)
  drain()
  println(s"[restart_check] phase 1 built 8 artifacts; catalog: " +
    spark.sessionState.catalog.listTables("default", "rc_*").map(_.table).sorted.mkString(", "))
} else {
  println(s"[restart_check] phase 2 starts with catalog names: " +
    spark.sessionState.catalog.listTables("default", "rc_*").map(_.table).mkString(", ") + ".")
  // the twins of the frozen-order families, built in this JVM from day 0
  saveAll("_twin")
  IvfIndex.build(vecs(docs(day0))).save(twinIvf)
  // load each artifact before touching it
  val loaded = Seq(
    DedupOps.loadCorpusIndex(spark, "rc_minhash").shingles,
    DedupOps.loadNgramPrefixIndex(spark, "rc_prefix").prefix,
    DedupOps.loadNgramContainmentIndex(spark, "rc_containment").postings,
    CorpusOps.loadFirstSeenIndex(spark, "rc_firstseen"),
    MultimodalOps.loadMediaPhashChunks(spark, "rc_media"),
    SplitState.load(spark, "rc_split"),
    ClusterState.load(spark, cluster).labels,
    IvfIndex.load(spark, ivf).assigned).map(_.count())
  println(s"[restart_check] loaded rows ${loaded.mkString("/")}")
  // append the batch to each artifact (the MinHash index takes a second
  // drain on the same checkpoint), take one doc down and compact
  land(2, 41L to 46L)
  drain()
  for (p <- Seq("rc_prefix", "rc_prefix_twin")) DedupOps.appendToNgramPrefixIndex(p, docs(batch))
  for (p <- Seq("rc_containment", "rc_containment_twin"))
    DedupOps.appendToNgramContainmentIndex(p, docs(batch).select("doc_id", "text"))
  CorpusOps.appendToFirstSeenIndex(spark, "rc_firstseen", docs(batch))
  MultimodalOps.appendToMediaPhashIndex(spark, "rc_media", media(docs(batch)))
  SplitState.assign(spark, "rc_split", docs(batch).select("doc_id"), noLabels)
  ClusterState.load(spark, cluster).insert(pairsOf(day0 ++ batch, batch)).save(cluster)
  for (r <- Seq(ivf, twinIvf)) IvfIndex.load(spark, r).append(vecs(docs(batch)).select("vec_id", "emb")).save(r)
  val g = Seq(gone).toDF("doc_id")
  DedupOps.removeFromCorpusIndex("rc_minhash", g)
  for (p <- Seq("rc_prefix", "rc_prefix_twin")) DedupOps.removeFromNgramPrefixIndex(p, g)
  for (p <- Seq("rc_containment", "rc_containment_twin")) DedupOps.removeFromNgramContainmentIndex(p, g)
  CorpusOps.removeFromFirstSeenIndex("rc_firstseen", g)
  MultimodalOps.removeFromMediaPhashIndex("rc_media", g)
  SplitState.remove("rc_split", g)
  DedupOps.compactCorpusIndex(spark, "rc_minhash")
  for (p <- Seq("rc_prefix", "rc_prefix_twin")) DedupOps.compactNgramPrefixIndex(spark, p)
  for (p <- Seq("rc_containment", "rc_containment_twin")) DedupOps.compactNgramContainmentIndex(spark, p)
  CorpusOps.compactFirstSeenIndex(spark, "rc_firstseen", docs(live))
  MultimodalOps.compactMediaPhashIndex(spark, "rc_media")
  SplitState.compact(spark, "rc_split")
  val st = ClusterState.load(spark, cluster)
  st.remove(Seq(gone).toDF("node")).save(cluster)
  for (r <- Seq(ivf, twinIvf)) IvfIndex.removeAtRest(spark, r, Seq(gone).toDF("vec_id"))

  // the MinHash index holds day 0 plus every doc either drain admitted,
  // minus the takedown; the manifest holds every id ever admitted
  val admitted = spark.read.parquet(s"$work/audit").filter(col("admitted"))
    .select("doc_id").as[Long].collect().toSeq
  println(s"[restart_check] drains admitted ${admitted.sorted.mkString(",")}")
  val mh = DedupOps.loadCorpusIndex(spark, "rc_minhash")
  val mhFresh = DedupOps.indexCorpus(docs((day0 ++ admitted).filterNot(_ == gone)).select("doc_id", "text"))
  check("minhash")(Seq(mh.shingles, mh.bands), Seq(mhFresh.shingles, mhFresh.bands))
  val manifest = spark.table("rc_minhash_admissions").filter(col("doc_id").isNotNull)
  check("admissions")(Seq(manifest.select("doc_id")), Seq((day0 ++ admitted).toDF("doc_id")))
  def prefix(p: String) = { val i = DedupOps.loadNgramPrefixIndex(spark, p); Seq(i.prefix, i.df, i.shingles) }
  check("prefix")(prefix("rc_prefix"), prefix("rc_prefix_twin"))
  def containment(p: String) = {
    val i = DedupOps.loadNgramContainmentIndex(spark, p); Seq(i.postings, i.df, i.shingles)
  }
  check("containment")(containment("rc_containment"), containment("rc_containment_twin"))
  check("firstseen")(Seq(CorpusOps.loadFirstSeenIndex(spark, "rc_firstseen")),
    Seq(CorpusOps.firstSeenOf(docs(live))))
  MultimodalOps.saveMediaPhashIndex(media(docs(live)), "rc_media_fresh", 4)
  check("media")(Seq(MultimodalOps.loadMediaPhashChunks(spark, "rc_media")),
    Seq(MultimodalOps.loadMediaPhashChunks(spark, "rc_media_fresh")))
  SplitState.init(spark, "rc_split_fresh", docs(live).select("doc_id"), noLabels, 4)
  check("split")(Seq(SplitState.load(spark, "rc_split")), Seq(SplitState.load(spark, "rc_split_fresh")))
  val cs = ClusterState.load(spark, cluster)
  val csFresh = ClusterState.build(pairsOf(live, live))
  check("cluster")(Seq(cs.labels, cs.edges), Seq(csFresh.labels, csFresh.edges))
  def ivfTables(r: String) = { val i = IvfIndex.load(spark, r); Seq(i.centroids, i.assigned) }
  check("ivf")(ivfTables(ivf), ivfTables(twinIvf))
  println(s"[restart_check] ${if (ok) "all 9 checks passed" else "FAILED"}")
}
if (ok) println(s"[restart_check] phase $phase done")
System.exit(0)
