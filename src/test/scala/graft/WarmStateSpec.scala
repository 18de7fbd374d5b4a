package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WarmState

class WarmStateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("pin severs lineage, stores serialized+disk-evictable, and releaseAll frees ONLY its own pins") {
    val pinned = WarmState.pin(spark.range(1000).toDF("id")
      .withColumn("x", col("id") * 2))
    assert(pinned.count() == 1000L)
    // the blocks exist and carry the serialized, disk-evictable level
    val before = spark.sparkContext.getPersistentRDDs
    val rdds = before.values.filter(_.getStorageLevel == WarmState.level)
    assert(rdds.nonEmpty, "pinned frame left no block at WarmState.level")
    // lineage severed: the physical plan scans an RDD, not the range
    val plan = pinned.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD")
      || !plan.contains("Range"), s"lineage not severed:\n$plan")
    def ckptId(df: org.apache.spark.sql.DataFrame): Int = Tables.pinnedRdds(df).head.id
    val pinnedId = ckptId(pinned)
    val hot = WarmState.pinHot(spark.range(10).toDF("id"))
    assert(hot.count() == 10L)
    val hotId = ckptId(hot)
    // a WRITER-internal persist outside the warm caches must SURVIVE the
    // hatch — sweeping it mid-write would silently re-evaluate the
    // writer's frame (ADVICE r11): releaseAll only touches its own pins
    val preBystander = spark.sparkContext.getPersistentRDDs.keySet
    val bystander = spark.range(50).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bystander.count()
    // df.rdd would mint a NEW lineage — the persisted block's id is
    // whatever key materializing the cache added to the context map
    val bystanderIds = spark.sparkContext.getPersistentRDDs.keySet -- preBystander
    assert(bystanderIds.nonEmpty, "bystander persist left no block")
    WarmState.releaseAll(spark)
    val after = spark.sparkContext.getPersistentRDDs
    assert(!after.contains(pinnedId), "pinned warm-state blocks survived releaseAll")
    assert(!after.contains(hotId), "hot-pinned warm-state blocks survived releaseAll")
    assert(bystanderIds.subsetOf(after.keySet),
      "releaseAll swept a persist it did not create")
    bystander.unpersist(blocking = false)
  }

  test("plan dumps expand nested pins; the pins stay; releaseAll frees only WarmState's pins") {
    val inner = Tables.pin(spark.range(0, 600, 1, 2).toDF("id").repartition(3))
    val outer = Tables.pinEager(inner.withColumn("y", col("id") + 1))
    val Seq(innerRdd) = Tables.pinnedRdds(inner)
    val Seq(outerRdd) = Tables.pinnedRdds(outer)
    val txt = ExplainDump.explain(outer)
    // the spread sits two pins down, yet the dump shows it, one section per pin
    assert(txt.contains("RoundRobinPartitioning(3)"), txt)
    assert("== Pinned RDD (\\d+) ==".r.findAllMatchIn(txt).map(_.group(1).toInt).toSeq ==
      Seq(outerRdd.id, innerRdd.id), txt)
    // the top plan still reads the pin, not its input
    val top = txt.split("\n== Pinned RDD ").head
    assert(top.contains("Scan ExistingRDD") && !top.contains("RoundRobinPartitioning"), top)
    val Seq(warmRdd) = Tables.pinnedRdds(WarmState.pin(spark.range(10).toDF("id")))
    WarmState.releaseAll(spark)
    val after = spark.sparkContext.getPersistentRDDs
    assert(!after.contains(warmRdd.id), "WarmState.pin's blocks survived releaseAll")
    assert(after.contains(innerRdd.id) && after.contains(outerRdd.id),
      "releaseAll freed pins WarmState did not make")
    Seq(innerRdd, outerRdd).foreach(_.unpersist(blocking = false))
  }

  test("a pin's checkpoint RDD is named after the line that pinned, not after Tables") {
    val Seq(lazyRdd) = Tables.pinnedRdds(Tables.pin(spark.range(5).toDF("id")))
    val Seq(eagerRdd) = Tables.pinnedRdds(Tables.pinEager(spark.range(5).toDF("id")))
    val Seq(warmRdd) = Tables.pinnedRdds(WarmState.pin(spark.range(5).toDF("id")))
    // an RDD prints as `<class>[<id>] at <creation site>`
    for (r <- Seq(lazyRdd, eagerRdd, warmRdd))
      assert(r.toString.contains(" at localCheckpoint at WarmStateSpec.scala:"), r.toString)
    // the caller's own call site is back once the pin is made
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
    WarmState.releaseAll(spark)
    Seq(lazyRdd, eagerRdd).foreach(_.unpersist(blocking = false))
  }

  test("releaseAll clears the query warm caches; queries rebuild and answer identically") {
    val d = TestSpark.sf
    def run() = graft.SparkEntry.queries("q87_incremental_clusters")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = run()
    WarmState.releaseAll(spark)
    // the corpus state and prefix index were dropped with the cache maps —
    // the query must rebuild them lazily and produce the same assignment
    assert(run() == first)
  }
}
