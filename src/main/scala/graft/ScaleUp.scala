package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaled-dataset generator: writes a k× replica of a test-data directory
  * (default 10× of sf0.1 ≈ an "sf1-equivalent") so the full query suite can
  * be correctness-checked and benchmarked above the driver-provided scale —
  * the round-5 verdict's top gap ("every green number is from ≤ sf0.1").
  *
  * Run: `SPARK_GRAFT_SCALE=10 sbt "runMain graft.ScaleUp <srcDir> <dstDir>"`
  *
  * Replication design — every replica must add WORK, not degenerate
  * structure, so each query's cost scales ~k× and super-linear behavior is
  * visible as such:
  *
  *  - Keys (PKs and the FKs that reference them) shift per replica by the
  *    source table's key span, so referential integrity and per-replica
  *    join selectivity are preserved exactly. Dimension-geography tables
  *    (region/nation) are NOT replicated — dims stay, facts grow, as in a
  *    real scale-up — and nationkey FKs are left unshifted accordingly.
  *  - `documents.text` gets a per-replica transform with a POWER-LAW
  *    near-dup clique profile (VERDICT r17 item 2; redesigned r18 from
  *    measurement). Two transforms:
  *      - replica 0 stays byte-identical to the source corpus;
  *      - MILD (in-clique replicas 1 ≤ r < c(d)): the original text plus
  *        1–2 APPENDED junk tokens derived from xxhash64(base, r) — the
  *        q126 graded-family perturbation. Original tokens untouched, so
  *        the clique is a realistic near-dup family in EVERY space:
  *        measured phash displacement median 2–3 bits (99% within the
  *        engine's Hamming-10 verify threshold, base↔mild AND
  *        mild↔mild), token Jaccard ≈ 0.97, containment ≈ 1.
  *      - FULL (replicas r ≥ c(d)): every token `w` becomes
  *        `w~h` with h = 3 hex chars of xxhash64(w, r) — a pure per-token
  *        bijection (within-replica token/shingle structure preserved
  *        exactly), token overlap across replicas ≈ 1/4096 (vocabulary
  *        scales ×k), and phash displacement ≈ 22 bits — far outside
  *        every near-dup threshold.
  *    WHY token-DEPENDENT suffixes (r18): the pre-r18 constant `~r`
  *    suffix stamped the same byte grams onto every token of a replica,
  *    CORRELATING the SimHash fingerprints of unrelated docs. Measured on
  *    400 source docs (812 organic Hamming≤10 pairs): 1-digit constant
  *    suffix → 4 735 pairs (5.8×), 2-digit → 74 527 (92×!), hash suffix →
  *    364 (≈ organic). That inflation — not any planted clique (only
  *    2/45 000 base↔replica pairs sat within Hamming 10 at sf1) — is what
  *    made media pair mass grow ≈ 104×/decade: sf10's replicas 10–99 all
  *    carried 2-digit suffixes. With hash suffixes the per-replica organic
  *    density stays at the source corpus's level and TOTAL pair mass
  *    (organic ×k + planted below) grows LINEARLY with dataset size — a
  *    super-linear wall measured on this data now indicts the ALGORITHM,
  *    not the artifact.
  *    The clique size c(d) = min(k, 1 + ⌊0.5/u⌋) with u hash-uniform in
  *    (0,1] over the BASE doc id: half the base docs are singletons
  *    (c = 1), the rest Zipf-ish with P(c ≥ x) ≈ 0.5/(x−1) over sizes
  *    2..k. Planted pair mass per base doc is E[C(c,2)] ≈ (k−1)/2 —
  *    linear in dataset size. Ground truth stays id-arithmetic: base =
  *    doc_id % docSpan, r = doc_id / docSpan, in-clique iff r < c(base)
  *    with c recomputable from xxhash64(base). n_chars is recomputed.
  *  - `embeddings.embedding` gets a per-replica deterministic sign flip
  *    per dimension (an orthogonal transform): within-replica geometry —
  *    every pairwise cosine — is EXACTLY preserved, cross-replica cosines
  *    scatter to ≈0 (random ±1 dot products), so ANN/near-dup neighbor
  *    structure scales ×k. Labels shift per replica, so label-seeded IVF
  *    cell counts scale with the corpus (the k = √n discipline).
  *  - `events` shift event_id and user_id: k× users over the same time
  *    range — sessionization/retention cohorts grow by users, per-user
  *    session structure unchanged.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse(Bench.defaultSfDir)
    val dst = args.lift(1).getOrElse("/root/repo/scratch/sf1")
    // optional 3rd arg: comma-separated table subset (e.g. "documents" for
    // the sf10 clustering-family run — no need to write 100x lineitem to
    // scale-test operators that never read it)
    val tables = args.lift(2).map(_.split(",").toSet)
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, src, dst, k, tables) finally GraftSession.stop(spark)
  }

  def run(spark: SparkSession, src: String, dst: String, k: Int,
          tables: Option[Set[String]] = None): Unit = {
    def load(t: String): DataFrame = Tables.load(spark, src, t)
    /** Write the scaled table SPREAD over max(32, k) files. The old
      * single-file writer capped every downstream scan's parallelism at
      * the file's ROW-GROUP count — and a 500k-row text table compresses
      * under the 128 MB parquet block size, i.e. ONE row group, so the
      * whole per-row text family (regex, md5, shingles) ran serial at
      * sf10 (measured 1.06 effective cores over a 1143 s chunk; VERDICT
      * r16 defect 1). Real scaled datasets arrive in many files; the
      * replica must too. Round-robin repartition is safe here — every
      * engine operator is content-keyed (no rand()/partition-id
      * dependence, grep-verified), so file layout can't change results. */
    def save(df: => DataFrame, t: String, spread: Boolean = true): Unit =
      if (tables.forall(_.contains(t))) {
        val out = if (spread) df.repartition(math.max(32, k)) else df
        out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
        println(s"[scaleup] $t -> $dst/$t.parquet")
      }
    /** Key span of the SOURCE table (max+1) — the per-replica shift unit,
      * shared by the PK table and every FK that references it. */
    def span(t: String, c: String): Long =
      load(t).agg(max(col(c))).head().get(0).asInstanceOf[Number].longValue + 1
    /** Largest value a shifted key column reaches: replica k−1 of the max
      * source key = (k−1)·span + (span−1) = k·span − 1. The shift runs in
      * long arithmetic and casts BACK to the column's source type, so a
      * value past that type's range would wrap silently and corrupt
      * referential integrity — fail fast instead. */
    def requireFits(dt: org.apache.spark.sql.types.DataType, c: String, s: Long): Unit = {
      require(s <= Long.MaxValue / k,
        s"replicate(): span $s x k=$k overflows long for '$c'")
      val maxShifted = k * s - 1
      val limit: Long = dt match {
        case org.apache.spark.sql.types.ByteType    => Byte.MaxValue
        case org.apache.spark.sql.types.ShortType   => Short.MaxValue
        case org.apache.spark.sql.types.IntegerType => Int.MaxValue
        case _                                      => Long.MaxValue
      }
      require(maxShifted <= limit,
        s"replicate(): shifted '$c' reaches $maxShifted which overflows $dt; " +
          "widen the column to long in the source or lower k")
    }
    /** k replicas with each listed key column shifted by rep × its span;
      * non-key columns pass through. Column order and types preserved. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      shifts.foreach { case (c, s) => requireFits(df.schema(c).dataType, c, s) }
      val shifted = df.crossJoin(spark.range(k).toDF("__rep"))
      val out = shifts.foldLeft(shifted) { case (d, (c, s)) =>
        d.withColumn(c, (col(c).cast("long") + col("__rep") * s)
          .cast(df.schema(c).dataType))
      }
      out.drop("__rep").select(df.columns.map(col).toIndexedSeq: _*)
    }

    val custSpan = span("customer", "c_custkey")
    val suppSpan = span("supplier", "s_suppkey")
    val partSpan = span("part", "p_partkey")
    val orderSpan = span("orders", "o_orderkey")

    // geography dims stay fixed; facts grow around them (dims stay
    // single-file — spreading 5 rows over 32 files is pure overhead)
    save(load("region"), "region", spread = false)
    save(load("nation"), "nation", spread = false)
    save(replicate(load("customer"), "c_custkey" -> custSpan), "customer")
    save(replicate(load("supplier"), "s_suppkey" -> suppSpan), "supplier")
    save(replicate(load("part"), "p_partkey" -> partSpan), "part")
    save(replicate(load("orders"),
      "o_orderkey" -> orderSpan, "o_custkey" -> custSpan), "orders")
    save(replicate(load("lineitem"),
      "l_orderkey" -> orderSpan, "l_partkey" -> partSpan,
      "l_suppkey" -> suppSpan), "lineitem")

    save(replicate(load("events"),
      "event_id" -> span("events", "event_id"),
      "user_id" -> span("events", "user_id")), "events")

    // documents: shifted ids + per-replica token transform with the
    // power-law clique profile (see scaladoc)
    val docs = load("documents")
    val docSpan = span("documents", "doc_id")
    // c(d) from the BASE id, computed before the shift overwrites doc_id:
    // u ∈ (0,1] hash-uniform, c = min(k, 1 + floor(0.5/u)) — half the
    // docs singletons, the rest Zipf-ish P(c ≥ x) ≈ 0.5/(x−1), sizes
    // 2..k, E[planted pairs/doc] ≈ (k−1)/2 (linear growth)
    val uCol = (pmod(xxhash64(col("doc_id")), lit(1000000L)) + 1.0) / 1000000.0
    val cliqueCol = least(lit(k.toLong), (floor(lit(0.5) / uCol) + 1).cast("long"))
    /** 3-lowercase-hex render of xxhash64(parts) — the token-dependent
      * suffix/junk-token material. */
    def hex3(parts: org.apache.spark.sql.Column*) =
      lpad(lower(conv(pmod(xxhash64(parts: _*), lit(4096)).cast("string"),
        10, 16)), 3, "0")
    val docsK = docs.crossJoin(spark.range(k).toDF("__rep"))
      .withColumn("__clique", cliqueCol)
      .withColumn("__base", col("doc_id"))
      .withColumn("doc_id", col("doc_id") + col("__rep") * docSpan)
      .withColumn("text",
        when(col("__rep") === 0, col("text"))
          .when(col("__rep") < col("__clique"),
            // MILD: original text + 1–2 appended junk tokens — phash
            // moves 2–3 bits → in-clique at the Hamming-10 threshold
            // (concat_ws flattens the array<string> of junk tokens)
            concat_ws(" ", col("text"),
              transform(
                sequence(lit(0L),
                  pmod(xxhash64(col("__base"), col("__rep"), lit("n")), lit(2))),
                i => concat(lit("pv"),
                  hex3(col("__base"), col("__rep"), i)))))
          .otherwise(
            // FULL: per-token hash suffix — token bijection, vocab ×k,
            // phash ~22 bits away, NO cross-doc suffix-gram correlation
            concat_ws(" ",
              transform(split(col("text"), "\\s+"),
                t => concat(t, lit("~"), hex3(t, col("__rep")))))))
      .withColumn("n_chars", length(col("text")))
      .drop("__rep", "__clique", "__base")
      .select(docs.columns.map(col).toIndexedSeq: _*)
    save(docsK, "documents")

    // embeddings: shifted ids/labels + per-replica orthogonal sign flip
    val emb = load("embeddings")
    val vecSpan = span("embeddings", "vec_id")
    val labelSpan = span("embeddings", "label")
    // validate against the CAST TARGET (the column's own type, which the
    // shift casts back to) — checking the source type alone would pass a
    // long column while the int cast below wrapped
    val labelType = emb.schema("label").dataType
    requireFits(labelType, "label", labelSpan)
    val embK = emb.crossJoin(spark.range(k).toDF("__rep"))
      .withColumn("vec_id", col("vec_id") + col("__rep") * vecSpan)
      .withColumn("label",
        (col("label").cast("long") + col("__rep") * labelSpan).cast(labelType))
      .withColumn("embedding",
        when(col("__rep") === 0, col("embedding"))
          .otherwise(zip_with(
            col("embedding"),
            transform(sequence(lit(0), size(col("embedding")) - 1),
              i => when(pmod(xxhash64(col("__rep"), i), lit(2)) === 0, lit(1.0f))
                .otherwise(lit(-1.0f))),
            (x, f) => x * f)))
      .drop("__rep")
      .select(emb.columns.map(col).toIndexedSeq: _*)
    save(embK, "embeddings")

    println(s"[scaleup] done: $k x $src -> $dst")
  }
}
