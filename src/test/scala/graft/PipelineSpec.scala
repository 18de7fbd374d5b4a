package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources._

/** Reference-parity pipeline tests: email mapping end-to-end, partitioned
  * sink layout + dynamic overwrite, prefix catalog, course-export fan-out,
  * config loader (FIXTURES.md §A). */
class PipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("email mapping end-to-end: layout + hash parity") {
    val tmp = Files.createTempDirectory("graft-em").toString
    val cfg = EtlConfig("mitopen", "jdbc:none", "users", "bucket", "s3kr1t", None, None)
    val src = Seq(("alice", "alice@example.com"), ("bob", "bøb@exämple.com")).toDF("username", "email")
    val dest = EmailMapping.run(src, cfg, tmp)
    assert(dest.endsWith("/mitopen_user_map"))
    val out = spark.read.parquet(dest).as[(String, String)].collect().toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def h(e: String) = md.digest(("s3kr1t" + e).getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out("alice") == h("alice@example.com"))
    assert(out("bob") == h("bøb@exämple.com"))
    assert(out.keySet == Set("alice", "bob"))
  }

  test("partitioned sink: YYYYMMDD layout and dynamic partition overwrite") {
    val tmp = Files.createTempDirectory("graft-ps").toString
    val d1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val d2 = Seq((3, "c")).toDF("id", "v")
    PartitionedSink.writeDaily(PartitionedSink.stamped(d1, Some("20260801")), tmp)
    PartitionedSink.writeDaily(PartitionedSink.stamped(d2, Some("20260802")), tmp)
    assert(new java.io.File(s"$tmp/load_date=20260801").isDirectory)
    assert(spark.read.parquet(tmp).count() == 3)
    // overwrite day 2 only — day 1 must survive
    val d2b = Seq((4, "d"), (5, "e")).toDF("id", "v")
    PartitionedSink.writeDaily(PartitionedSink.stamped(d2b, Some("20260802")), tmp)
    val after = spark.read.parquet(tmp)
    assert(after.count() == 4)
    assert(after.filter(col("load_date") === "20260801").count() == 2)
  }

  test("registerTable re-registers bare and qualified names, rejects injection") {
    val tmp = Files.createTempDirectory("graft-reg").toString
    PartitionedSink.writeDaily(
      PartitionedSink.stamped(Seq((1, "a")).toDF("id", "v"), Some("20260801")), tmp)
    // idempotent re-registration (the DROP must resolve the same table
    // createTable will create — including a database qualifier)
    for (name <- Seq("graft_reg_t", "default.graft_reg_t")) {
      PartitionedSink.registerTable(spark, name, tmp)
      PartitionedSink.registerTable(spark, name, tmp)
      assert(spark.table(name).count() == 1)
    }
    spark.sql("DROP TABLE IF EXISTS graft_reg_t")
    intercept[IllegalArgumentException](
      PartitionedSink.registerTable(spark, "x`; DROP TABLE y; --", tmp))
    intercept[IllegalArgumentException](
      PartitionedSink.registerTable(spark, "a..b", tmp))
  }

  test("single-file contract writes exactly one part file") {
    val tmp = Files.createTempDirectory("graft-sf").toString + "/out"
    PartitionedSink.writeSingleFile(Seq((1, "x")).toDF("id", "v"), tmp)
    val parts = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
  }

  test("prefix catalog lists first-level prefixes only") {
    val base = Files.createTempDirectory("graft-pc")
    Files.createDirectories(base.resolve("mailgun/ds1/nested"))
    Files.createDirectories(base.resolve("mailgun/ds2"))
    Files.writeString(base.resolve("mailgun/loosefile.txt"), "x")
    val targets = PrefixCatalog.listFirstLevelPrefixes(spark, base.resolve("mailgun").toString)
    assert(targets.map(t => new org.apache.hadoop.fs.Path(t.path).getName) == Seq("ds1", "ds2"))
    assert(targets.forall(_.exclusions.isEmpty))
  }

  test("course export fans out, is idempotent, and re-ingests as binary") {
    val tmp = Files.createTempDirectory("graft-ce").toString
    val ids = CourseExport.courseIds("course-v1:MITx+6.00x+2026\n\ncourse-v1:MITx+8.01x+2026\n")
    assert(ids.length == 2)
    def exporter(id: String): Array[Byte] = s"tarball-of-$id".getBytes("UTF-8")
    CourseExport.exportAll(spark, ids, tmp, exporter, parallelism = 2)
    CourseExport.exportAll(spark, ids, tmp, exporter, parallelism = 2) // idempotent re-run
    val blobs = CourseExport.readBlobs(spark, tmp)
    assert(blobs.count() == 2)
    val contents = blobs.select("content").as[Array[Byte]].collect().map(new String(_, "UTF-8")).toSet
    assert(contents == ids.map(i => s"tarball-of-$i").toSet)
  }

  test("archive sink reproduces the daily tar.gz layout and round-trips") {
    val exportDir = Files.createTempDirectory("graft-ar-src")
    Files.writeString(exportDir.resolve("course1.tar.gz"), "blob-one")
    Files.writeString(exportDir.resolve("course2.tar.gz"), "blob-two")
    val root = Files.createTempDirectory("graft-ar-root").toString
    val dest = ArchiveSink.dailyArchive(exportDir.toString, root, "20260812")
    assert(dest.toString.endsWith("/20260812/exported_courses_20260812.tar.gz"))
    ArchiveSink.dailyArchive(exportDir.toString, root, "20260812") // idempotent overwrite
    // round-trip: un-tar and compare contents
    val tin = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(dest)))
    val entries = Iterator.continually(tin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> new String(tin.readAllBytes(), "UTF-8")).toMap
    tin.close()
    assert(entries == Map("course1.tar.gz" -> "blob-one", "course2.tar.gz" -> "blob-two"))
  }

  test("partition compaction merges small files and preserves rows") {
    val root = Files.createTempDirectory("graft-compact").toString
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 2)
    // write one day as many small files
    PartitionedSink.writeDaily(
      PartitionedSink.stamped(df.repartition(16), Some("20260810")), root)
    val before = new java.io.File(s"$root/load_date=20260810")
      .listFiles().count(_.getName.startsWith("part-"))
    assert(before == 16)
    val n = PartitionedSink.compactPartition(spark, root, "20260810")
    val after = new java.io.File(s"$root/load_date=20260810")
      .listFiles().count(_.getName.startsWith("part-"))
    assert(after == n && n < before)
    val back = spark.read.parquet(root)
    assert(back.count() == 1000)
    assert(back.agg(sum("v")).head().getLong(0) == (0L until 1000L).map(_ * 2).sum)
  }

  test("compaction recovery restores a partition parked by a mid-swap crash") {
    val root = Files.createTempDirectory("graft-recover").toString
    val df = spark.range(0, 100).toDF("id")
    PartitionedSink.writeDaily(PartitionedSink.stamped(df, Some("20260811")), root)
    // simulate the crash window: live dir moved aside, replacement not yet in
    val live = new java.io.File(s"$root/load_date=20260811")
    val parked = new java.io.File(s"$root/_graft_compact_old_20260811")
    assert(live.renameTo(parked))
    assert(!live.exists()) // parked data invisible to partition discovery
    assert(PartitionedSink.recoverParkedPartition(spark, root, "20260811"))
    assert(spark.read.parquet(root).count() == 100)
    // idempotent: nothing left to recover
    assert(!PartitionedSink.recoverParkedPartition(spark, root, "20260811"))
    // and compactPartition self-heals the same state
    assert(live.renameTo(parked))
    PartitionedSink.compactPartition(spark, root, "20260811")
    assert(spark.read.parquet(root).count() == 100)
  }

  test("prefix drift sync registers new prefixes and retires removed ones") {
    val base = Files.createTempDirectory("graft-drift")
    def mkPrefix(name: String): Unit = {
      spark.range(3).toDF("id").write.mode("overwrite")
        .parquet(base.resolve(name).toString)
    }
    mkPrefix("alpha")
    mkPrefix("beta")
    val (added1, removed1) = PrefixCatalog.syncPrefixTables(spark, base.toString, "drift")
    assert(added1.toSet == Set("drift_alpha", "drift_beta") && removed1.isEmpty)
    assert(spark.table("drift_alpha").count() == 3)
    // listing the registry reads the session catalog and starts no job
    val sc = spark.sparkContext
    def inGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    assert(inGroup("graft-drift-list")(
      new PrefixCatalog.SparkCatalogSync(spark).existingTargets("drift")) ==
      Set("drift_alpha", "drift_beta"))
    // the status store fills in event order: once the fence job shows,
    // a job of the listing's group would show too
    inGroup("graft-drift-fence")(sc.parallelize(Seq(1)).count())
    val deadline = System.currentTimeMillis() + 10000
    while (sc.statusTracker.getJobIdsForGroup("graft-drift-fence").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("graft-drift-fence").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("graft-drift-list").isEmpty,
      "listing the registry must not start a Spark job")
    // idempotent re-run: no changes
    val (added2, removed2) = PrefixCatalog.syncPrefixTables(spark, base.toString, "drift")
    assert(added2.isEmpty && removed2.isEmpty)
    // drift: gamma appears, beta disappears
    mkPrefix("gamma")
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
    }
    rmTree(base.resolve("beta").toFile)
    val (added3, removed3) = PrefixCatalog.syncPrefixTables(spark, base.toString, "drift")
    assert(added3 == Seq("drift_gamma") && removed3 == Seq("drift_beta"))
    assert(spark.catalog.tableExists("drift_gamma"))
    assert(!spark.catalog.tableExists("drift_beta"))
    // mixed case: the catalog lowercases identifiers; a mixed-case prefix or
    // namePrefix must not be re-added (and crash) on every subsequent sync
    mkPrefix("MixedCase")
    val (a4, r4) = PrefixCatalog.syncPrefixTables(spark, base.toString, "Drift")
    assert(a4.contains("drift_mixedcase") && r4.isEmpty)
    val (a5, r5) = PrefixCatalog.syncPrefixTables(spark, base.toString, "Drift")
    assert(a5.isEmpty && r5.isEmpty, s"mixed-case drift sync not idempotent: $a5 / $r5")
  }

  test("drift sync drives an EXTERNAL registry through the CatalogSync seam") {
    // the discovery+diff logic must be registry-agnostic: a cloud-catalog
    // impl (the reference's crawler-target update as a driver step) plugs in
    // here; this fake records the calls the SDK impl would make
    val base = Files.createTempDirectory("graft-drift-ext")
    spark.range(3).toDF("id").write.parquet(base.resolve("alpha").toString)
    spark.range(3).toDF("id").write.parquet(base.resolve("beta").toString)
    class Recording(var targets: Set[String]) extends PrefixCatalog.CatalogSync {
      val calls = scala.collection.mutable.Buffer.empty[String]
      def existingTargets(p: String): Set[String] = targets
      def register(name: String, path: String): Unit = {
        calls += s"register:$name"; targets += name
        assert(path.contains(base.getFileName.toString), s"wrong path $path")
      }
      def remove(name: String): Unit = { calls += s"remove:$name"; targets -= name }
    }
    // registry already holds a stale target; alpha/beta are new
    val reg = new Recording(Set("ext_stale"))
    val (added, removed) = PrefixCatalog.syncPrefixTargets(spark, base.toString, "ext", reg)
    assert(added == Seq("ext_alpha", "ext_beta") && removed == Seq("ext_stale"))
    assert(reg.calls.sorted ==
      Seq("register:ext_alpha", "register:ext_beta", "remove:ext_stale"))
    // converged: a re-run makes no registry calls
    val (a2, r2) = PrefixCatalog.syncPrefixTargets(spark, base.toString, "ext", reg)
    assert(a2.isEmpty && r2.isEmpty && reg.calls.size == 3)
  }

  test("metrics recorder captures actions and feeds the notifier") {
    val rec = Metrics.install(spark)
    val probe = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val out = Files.createTempDirectory("graft-metrics").toString + "/t"
    probe.write.parquet(out)
    // listener delivery is async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (rec.snapshot.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(rec.snapshot.nonEmpty, "no actions recorded")
    assert(rec.snapshot.exists(!_.failed))
    var notified: String = null
    val notifier = new Notifier {
      def notify(m: String): Unit = notified = m
      def healthcheck(): Boolean = true
    }
    assert(Metrics.finish(rec, notifier))
    assert(notified != null && notified.contains("actions="))
  }

  test("config loader: app-keyed layout, flat fallback, fail-fast validation") {
    val yml = Files.createTempFile("graft", ".yml")
    Files.writeString(yml,
      """mitopen:
        |  db_url: jdbc:postgresql://h/db
        |  user_table: auth_user
        |  s3_bucket: b
        |  hash_salt: s
        |""".stripMargin)
    val cfg = EtlConfig.load(yml.toString, "mitopen")
    assert(cfg.dbUrl == "jdbc:postgresql://h/db" && cfg.hashSalt == "s")
    // flat fallback
    val flat = Files.createTempFile("graft", ".yml")
    Files.writeString(flat, "db_url: u\nuser_table: t\ns3_bucket: b\nhash_salt: hs\n")
    assert(EtlConfig.load(flat.toString, "whatever").userTable == "t")
    // fail fast on missing key / missing file
    val bad = Files.createTempFile("graft", ".yml")
    Files.writeString(bad, "mitopen:\n  db_url: u\n")
    intercept[IllegalArgumentException](EtlConfig.load(bad.toString, "mitopen"))
    intercept[IllegalArgumentException](EtlConfig.load("/nope/x.yml", "a"))
  }
}
