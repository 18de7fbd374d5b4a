package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Object-store prefix discovery → catalog maintenance (reference parity:
  * `mailgun_crawler/manage_crawler_targets.py:3-9` — list first-level
  * prefixes under `mailgun/`, register each as a crawler target).
  *
  * The Hadoop FileSystem API abstracts local paths in tests and `s3a://` in
  * production; listing is a driver-side metadata operation either way. The
  * downstream "crawler" step becomes native catalog registration.
  */
object PrefixCatalog {

  final case class CrawlTarget(path: String, exclusions: Seq[String] = Nil)

  /** First-level "directories" under `base` — the `CommonPrefixes` call. */
  def listFirstLevelPrefixes(spark: SparkSession, base: String): Seq[CrawlTarget] = {
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(st => CrawlTarget(st.getPath.toString + "/"))
      .sortBy(_.path)
  }

  /** Catalog-safe table name from a prefix leaf (strict allowlist — listing
    * results are external input and must never reach SQL text raw).
    * Lowercased: the catalog stores identifiers lowercased, and the drift
    * diff compares against catalog listings — mixed case would re-add an
    * existing table on every sync. */
  private def tableNameFor(namePrefix: String, prefixPath: String): String =
    s"${namePrefix}_${new Path(prefixPath).getName}"
      .replaceAll("[^A-Za-z0-9_]", "_").toLowerCase(java.util.Locale.ROOT)

  /** Sanitization is lossy ('logs-a' and 'logs_a' both become 'logs_a'),
    * so a collision would silently register one prefix and drop — or worse,
    * repoint — the other. FAIL instead: the operator must rename a prefix,
    * not discover the wrong dataset downstream. */
  private def tableNamesFor(namePrefix: String,
                            targets: Seq[CrawlTarget]): Seq[(String, String)] = {
    val named = targets.map(t => tableNameFor(namePrefix, t.path) -> t.path)
    val collisions = named.groupBy(_._1).filter(_._2.distinct.size > 1)
    require(collisions.isEmpty,
      "prefix table-name collision after sanitization: " +
        collisions.map { case (n, ps) => s"$n <- ${ps.map(_._2).mkString(", ")}" }
          .mkString("; "))
    named
  }

  /** Register one external table per discovered prefix (the engine-native
    * analog of `glue.update_crawler(Targets=...)`). Table names are derived
    * from the leaf prefix name; registration goes through the typed catalog
    * API (`createTable(name, path)`), so the discovered path is never
    * interpolated into SQL text (a quote in a listed prefix must not become
    * SQL injection). */
  def registerPrefixTables(spark: SparkSession, base: String, namePrefix: String): Seq[String] =
    tableNamesFor(namePrefix, listFirstLevelPrefixes(spark, base)).map { case (table, path) =>
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      spark.catalog.createTable(table, path, "parquet")
      table
    }

  /** Seam for the downstream target registry (SURVEY §3.3). The reference
    * keeps an EXTERNAL catalog authoritative (its crawler-target update,
    * `manage_crawler_targets.py:8-9`, is a cloud-SDK driver step); the
    * engine-native default registers Spark catalog tables instead. A
    * deployment that must keep an external catalog in the loop implements
    * these three calls with its SDK and passes the impl to
    * [[syncPrefixTargets]] — the discovery + diff logic is shared, only
    * the registry calls swap. */
  trait CatalogSync {
    /** Currently-registered target names that belong to `namePrefix`. */
    def existingTargets(namePrefix: String): Set[String]
    def register(name: String, path: String): Unit
    def remove(name: String): Unit
  }

  /** Engine-native registry: Spark catalog external tables. Registration
    * goes through the typed API (`createTable(name, path)`), so discovered
    * paths never reach SQL text (injection-safe); drops quote the
    * identifier. */
  final class SparkCatalogSync(spark: SparkSession) extends CatalogSync {
    def existingTargets(namePrefix: String): Set[String] = {
      // the session catalog lists names without a Spark job (the public
      // `catalog.listTables()` runs one per call); its pattern is a regex,
      // so the literal prefix test stays
      val p = s"${namePrefix}_".toLowerCase(java.util.Locale.ROOT)
      val catalog = spark.sessionState.catalog
      catalog.listTables(catalog.getCurrentDatabase, s"$p*")
        .map(_.table.toLowerCase(java.util.Locale.ROOT))
        .filter(_.startsWith(p)).toSet
    }
    def register(name: String, path: String): Unit =
      spark.catalog.createTable(name, path, "parquet")
    def remove(name: String): Unit =
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  /** Drift sync against ANY registry (reference parity:
    * `manage_crawler_targets.py:3-9` re-runs idempotently as prefixes
    * appear/disappear): diff the CURRENT first-level prefixes against the
    * registry's `namePrefix_*` targets — register new prefixes, remove
    * targets whose prefix is gone, leave the rest untouched. Returns
    * (added, removed) target names. */
  def syncPrefixTargets(spark: SparkSession, base: String, namePrefix: String,
                        sync: CatalogSync): (Seq[String], Seq[String]) = {
    val wanted = tableNamesFor(namePrefix, listFirstLevelPrefixes(spark, base)).toMap
    val existing = sync.existingTargets(namePrefix)
    val added = (wanted.keySet -- existing).toSeq.sorted.map { table =>
      sync.register(table, wanted(table))
      table
    }
    val removed = (existing -- wanted.keySet).toSeq.sorted.map { table =>
      sync.remove(table)
      table
    }
    (added, removed)
  }

  /** Drift sync against the Spark catalog (the engine-native default). */
  def syncPrefixTables(spark: SparkSession, base: String,
                       namePrefix: String): (Seq[String], Seq[String]) =
    syncPrefixTargets(spark, base, namePrefix, new SparkCatalogSync(spark))
}
