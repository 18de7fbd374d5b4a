package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned dataset layout (reference parity:
  * `mitx/mitx_etl.py:16-17,138` — `s3://bucket/YYYYMMDD/...` daily batches;
  * `email_mapping.py:31,54` — single-file parquet contract).
  *
  * Scale posture: `partitionBy(load_date)` + DYNAMIC partition overwrite
  * gives idempotent daily re-runs (re-running a day replaces exactly that
  * day, never truncating the table), which is the 100 TB-safe version of
  * the reference's `aws s3 sync` into a dated folder.
  */
object PartitionedSink {

  val LoadDateCol = "load_date"

  /** Append a `load_date=YYYYMMDD` column (UTC, session timezone). */
  def stamped(df: DataFrame, date: Option[String] = None): DataFrame =
    date match {
      case Some(d) => df.withColumn(LoadDateCol, lit(d))
      case None    => df.withColumn(LoadDateCol, date_format(current_date(), "yyyyMMdd"))
    }

  /** Idempotent daily write: only the partitions present in `df` are
    * replaced (`partitionOverwriteMode=dynamic`). */
  def writeDaily(df: DataFrame, root: String): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(LoadDateCol)
      .mode(SaveMode.Overwrite)
      .parquet(root)

  /** The reference's one-file parquet contract (`{app}_user_map.parquet`):
    * coalesce(1) — use ONLY for small dimension outputs; large tables keep
    * the directory-of-parts layout. */
  def writeSingleFile(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)

  /** Small-file compaction for one partition: rewrite `root/load_date=<d>`
    * into ~`targetBytes`-sized files. Daily micro-batch / streaming sinks
    * accrete small files; unchecked, a 100 TB table becomes metadata-bound
    * (every scan lists millions of objects). Run as a maintenance pass per
    * closed partition; overwrite keeps it idempotent. Returns file count.
    * This keeps its own rename swap rather than an [[graft.operators.AtRest]]
    * layout commit: readers discover the `load_date=` directories directly,
    * so a layout file could not commit a partition they would see. */
  def compactPartition(spark: SparkSession, root: String, date: String,
                       targetBytes: Long = 128L * 1024 * 1024): Int = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$LoadDateCol=$date")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverParkedPartition(spark, root, date) // heal a prior mid-swap crash
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path.toString)
    // Staging/backup dirs are UNDERSCORE-prefixed: Spark/Hadoop partition
    // discovery ignores `_*` paths, so a crash mid-swap can never surface a
    // half-compacted or duplicate partition to readers (a `=`-style suffix
    // like `load_date=d__old` would be discovered as a real partition and
    // silently double the day's rows).
    val compactPath = new org.apache.hadoop.fs.Path(path.getParent, s"_graft_compact_tmp_$date")
    val oldPath = new org.apache.hadoop.fs.Path(path.getParent, s"_graft_compact_old_$date")
    fs.delete(compactPath, true)
    fs.delete(oldPath, true)
    // streaming-sink roots carry a second (batch_id) partition level; keep
    // the layout depth uniform by writing the compacted data back under a
    // single sentinel batch partition. Compaction must only run on CLOSED
    // partitions (no more replays), so collapsing batch ids is safe.
    val hasBatchId = df.columns.contains("batch_id")
    val writer =
      if (hasBatchId)
        df.withColumn("batch_id", org.apache.spark.sql.functions.lit(-1L))
          .repartition(nFiles).write.partitionBy("batch_id")
      else df.repartition(nFiles).write
    writer.mode(SaveMode.Overwrite).parquet(compactPath.toString)
    // crash-safe swap: live partition aside → compacted copy in → delete.
    // SINGLE-WRITER assumption: one maintenance job per partition at a time
    // (concurrent compactions of the same date race on these renames).
    // A JVM kill between the two renames leaves the live dir missing and
    // the data parked under _graft_compact_old_<date> — invisible to
    // partition discovery but fully recoverable: the next compactPartition
    // (or any caller of recoverParkedPartition) restores it first.
    if (!fs.rename(path, oldPath))
      throw new java.io.IOException(s"compaction: could not move $path aside")
    if (!fs.rename(compactPath, path)) {
      fs.rename(oldPath, path) // roll back
      throw new java.io.IOException(s"compaction: could not install $compactPath")
    }
    fs.delete(oldPath, true)
    nFiles
  }

  /** Startup/maintenance recovery for a crash between compaction renames:
    * if `root/load_date=<d>` is missing but the parked backup exists,
    * restore it. Returns true when a restore happened. Idempotent; called
    * automatically by [[compactPartition]]. */
  def recoverParkedPartition(spark: SparkSession, root: String, date: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$LoadDateCol=$date")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldPath = new org.apache.hadoop.fs.Path(path.getParent, s"_graft_compact_old_$date")
    if (!fs.exists(path) && fs.exists(oldPath)) fs.rename(oldPath, path)
    else false
  }

  /** Catalog registration for a partitioned root (the engine-native analog
    * of pointing the Glue crawler at the prefix —
    * `mailgun_crawler/manage_crawler_targets.py:8-9`): register an external
    * table and recover its partitions. */
  def registerTable(spark: SparkSession, table: String, root: String): Unit = {
    // table is caller-supplied text headed for SQL — allowlist it and
    // backtick-quote, matching PrefixCatalog's sanitization. Quote each
    // dot-separated part so qualified names (db.tbl) keep their qualifier
    // (a single backtick pair would name one literal dotted identifier).
    require(table.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)*"),
      s"registerTable: invalid table identifier '$table'")
    val quoted = table.split('.').map(p => s"`$p`").mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $quoted")
    spark.catalog.createTable(table, root, "parquet")
    spark.catalog.recoverPartitions(table)
  }
}
