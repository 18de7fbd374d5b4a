package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over `documents` (driver north-star scope:
  * language-ID, quality scoring, token counting, document fingerprinting).
  *
  * Everything is composed from codegen'd Catalyst built-ins — `split`,
  * higher-order `filter`/`transform`, `regexp_replace`, `md5` — no UDFs, so
  * whole-stage codegen spans the full pipeline and the operators scale as
  * pure map-side work (no shuffle except the final ORDER BY / top-k).
  */
object TextOps {

  /** Whitespace tokens of the raw text. */
  private val toks: Column = split(col("text"), "\\s+")

  private val enStops = Seq("the", "and", "of", "to", "in", "is", "a", "it", "on", "for")
  private val deStops = Seq("der", "die", "und", "das", "nicht", "ist", "ein", "zu")
  private val frStops = Seq("le", "la", "et", "les", "des", "un", "une", "dans")
  private val esStops = Seq("el", "los", "y", "que", "una", "por", "con", "para")

  /** One-pass profile struct (n_tokens, n_unique, n_nonws, hits[en,de,fr,es])
    * via the native [[graft.plans.TextProfile]] expression — ONE tokenization
    * per row instead of a regex split per referencing expression plus an
    * interpreted per-token lambda (r01 driver bench: q31 11.5× baseline). */
  private def textProfile(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.TextProfile(
      GraftBridge.expression(c), Seq(enStops, deStops, frStops, esStops)))
  }

  /** Whitespace token count via the one-pass native TextProfile —
    * cross-engine equal to DuckDB `len(string_split_regex(text, '\s+'))`
    * (the q38-established parity). */
  private[operators] def tokenCountOf(c: Column): Column =
    textProfile(c).getField("n_tokens")

  /** Canonical normalized form used by fingerprint + exact dedup:
    * lowercase, strip non-[a-z0-9 ], collapse whitespace, trim. The ONE
    * definition shared by q33/q50 and DedupPipeline — keep in sync with
    * [[normTextSql]]. */
  def normTextOf(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), "\\s+", " "))

  private[operators] val normText: Column = normTextOf(col("text"))

  /** Same normalization in DuckDB SQL (regexp_replace needs the 'g' flag). */
  private[operators] val normTextSql: String =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))"""

  /** Distinct word-3-gram shingles — the unit for Jaccard/MinHash dedup.
    * Docs always have >= 10 tokens (checked against all SFs), so the
    * sequence bound never degenerates.
    *
    * The token array MUST be bound to a column (`w`) before the lambda
    * references it: inlining `split(text,' ')` inside the lambda makes
    * Catalyst re-evaluate the split per element — O(tokens²) regex work per
    * document (measured 6.8 s vs 0.3 s over 5000 docs at sf0.1). */
  def withShingles(df: DataFrame, out: String = "sh"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    df.withColumn(out, GraftBridge.column(
      graft.plans.WordShingles(GraftBridge.expression(col("text")), 3)))
  }

  /** DuckDB equivalent of [[shingles]] (1-based list comprehension). */
  private[operators] val shinglesSql: String =
    """list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      | for i in range(1, len(w) - 1)])""".stripMargin

  /** Exact per-source vocabulary-overlap matrix (q100's body): one distinct
    * (source, token) pass, then a token-key equi-join whose per-token fanout
    * is |sources that contain it|² — O(|vocab|·|sources|²) worst case. The
    * right tier for catalog-sized source counts; [[vocabOverlapSketch]] is
    * the scale tier. */
  def vocabOverlapExact(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .distinct()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
    vocab.as("x")
      .join(vocab.as("y"),
        col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_x"), col("y.source").as("source_y"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("source").as("source_x"), col("n").as("vocab_x")), "source_x")
      .join(sizes.select(col("source").as("source_y"), col("n").as("vocab_y")), "source_y")
      .withColumn("jac",
        round(col("inter") / (col("vocab_x") + col("vocab_y") - col("inter")), 4))
      .select("source_x", "source_y", "vocab_x", "vocab_y", "inter", "jac")
      .orderBy("source_x", "source_y")
  }

  /** MinHash hash count for the vocab sketch: sigma of the Jaccard estimate
    * is sqrt(j(1-j)/n) <= 0.031 at n = 256. */
  val vocabSketchHashes: Int = 256

  /** Per-source vocabulary MinHash signature: (source, sig array<long>).
    * No distinct pass — the min of a permuted hash over a MULTISET equals
    * the min over its set, so duplicate tokens cost nothing and the whole
    * signature is one narrow map + one map-side-combined aggregation over
    * the token stream. Tokens hash through the engine-neutral
    * [[graft.plans.Md5Lower64]], permutations are
    * [[graft.plans.MinHashPermAgg.coeffs]] — both oracle-replayable. */
  def vocabSignatures(docs: DataFrame, numHashes: Int = vocabSketchHashes): DataFrame =
    docs
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .select(col("source"),
        shiftrightunsigned(graft.plans.Md5Lower64.of(col("tok")), 33).as("x"))
      .groupBy("source")
      .agg(graft.plans.MinHashPermAgg.sketch(col("x"), numHashes).as("sig"))

  /** SKETCHED vocabulary-overlap matrix — (source_x, source_y, jac_est).
    * The pair phase compares k-long signatures, so its cost is
    * |sources|²·k regardless of vocabulary size: at 1000 sources that is
    * ~500k signature comparisons (seconds), where the exact join's
    * O(|vocab|·|sources|²) would be billions of token-pair rows. Estimate
    * error is the standard MinHash bound (sigma <= 0.031 at the default
    * 256 hashes), contract-checked by q101. */
  def vocabOverlapSketch(docs: DataFrame, numHashes: Int = vocabSketchHashes): DataFrame = {
    // pin the signatures before the self-join (the q66/media-sig trap):
    // un-pinned, BOTH join branches re-run the full corpus token explode +
    // md5 + 256-perm sketch — a second whole-corpus pass for a
    // |sources|×k result (20 rows × 256 longs here). At-rest size is
    // sources×k×8 B: always pinnable.
    val sigs = Tables.pinEager(vocabSignatures(docs, numHashes))
    sigs.as("x")
      .join(sigs.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_x"), col("y.source").as("source_y"),
        round(
          aggregate(zip_with(col("x.sig"), col("y.sig"),
            (a, b) => when(a === b, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
            .cast("double") / numHashes, 4).as("jac_est"))
  }

  /** Dispatching vocab-overlap entry point: exact matrix (vocab sizes,
    * intersection, true Jaccard) up to `maxExactSources` distinct sources,
    * signature-estimated Jaccard above it. The eager source count is one
    * tiny aggregate; schemas differ (`jac` + counts vs `jac_est`) because
    * pretending a sketch produced exact intersection counts would be a
    * lie callers act on. */
  def vocabOverlap(docs: DataFrame, maxExactSources: Int = 64): DataFrame = {
    val nSources = docs.select("source").distinct().count()
    if (nSources <= maxExactSources) vocabOverlapExact(docs)
    else vocabOverlapSketch(docs)
  }

  /** documents scan for this family's queries, spread across cores when
    * the file layout caps scan parallelism (see [[Tables.spread]]) — every
    * query here does CPU-dense per-row work (regex, hashing, shingling,
    * token profiling) straight off the scan, which is exactly the shape a
    * single-row-group input serializes end to end. */
  private def loadDocs(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.load(s, d, "documents"))

  /** Same scan with the CPU-dense spread floor — ONLY for the two queries
    * whose per-row cost a 3-trial A/B proved repays the exchange on a
    * sub-MB input (r18: q33 0.78→0.49 s, q36 0.68→0.35 s; every other
    * text/dedup query LOST 0.1–0.8 s to the extra exchange+stages, so the
    * family default stays [[Tables.spread]]'s 16 MB). */
  private def loadDocsDense(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.load(s, d, "documents"), Tables.CpuDenseSpreadBytes)

  /** Skew-posture dispatch for corpus token-frequency lookups (ADVICE r18
    * medium + guide §2.5; optimization r19). A `count().over(Window.
    * partitionBy(tok))` computes df/c in ONE exchange, but a window
    * partition cannot be split across tasks — under a power-law corpus a
    * stopword's entire posting stream (df ≈ |docs| rows) funnels through
    * one task's sort, and that wall grows UNBOUNDED with corpus size. The
    * skew-safe shape (pin the tf aggregate, groupBy-join the counts back)
    * is AQE-skew-join-splittable but pays a pin job + one extra exchange —
    * measured +0.18–0.30 s per query at sf0.1 (7 MB input), pure fixed
    * cost. Dispatch on input bytes, the [[Relational.rankQuantiles]] /
    * pinPairsIfSmall pattern: below the threshold the window's worst
    * partition is small by construction (64 MB compressed ≈ 30M token
    * occurrences; the hottest token's stream, a few percent of that, sorts
    * in one task comfortably), above it the join path's fixed costs are
    * amortized and the unsplittable-partition hazard is real. Both paths
    * compute identical values — the q57/q75 oracles hash-check each
    * (sf0.01 drives the window path; TokenStatsSpec pins the join path). */
  private[graft] val TokenWindowMaxBytes: Long = 64L << 20

  /** Window path only for a corpus of known size
    * ([[graft.Tables.sizeOf]]) under [[TokenWindowMaxBytes]]; an unknown
    * size takes the skew-safe join path. */
  private[graft] def tokenWindowSafe(docs: DataFrame): Boolean =
    Tables.sizeOf(docs).exists(_ < TokenWindowMaxBytes)

  /** q57's body over any (doc_id, text) frame — df computed along the path
    * [[tokenWindowSafe]] picked; ONE tokenize pass on both paths (the r18
    * duplicated-subtree fix stays). `windowPath = false` is the skew-safe
    * shape: tf lazily pinned, df = partial-agg groupBy joined back on tok
    * (AQE-skew-splittable), vs the window whose hot-token partition cannot
    * be split. TokenStatsSpec pins path equality; values are identical by
    * construction (df = rows per tok over the SAME tf frame). */
  private[graft] def tfidfKeywordsOf(docs: DataFrame, windowPath: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val withDf =
      if (windowPath)
        tf.withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      else {
        val tfp = tf.transform(Tables.pin)
        tfp.join(tfp.groupBy("tok").agg(count(lit(1)).as("df")), "tok")
      }
    val nd = docs.agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    withDf
      .join(broadcast(nd)) // single-row broadcast (scalar-subquery shape)
      .withColumn("score", round(col("tf") * log(col("nd") / col("df")), 4))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "tok", "score")
      .orderBy("doc_id", "rank")
  }

  /** q75's body over any (doc_id, text) frame — corpus count c along the
    * path [[tokenWindowSafe]] picked. `windowPath = true` is the r18 shape
    * (count().over(tok) on the raw occurrence stream — one exchange, no
    * pin job; fine while the hottest token's stream fits one task);
    * `windowPath = false` aggregates per-(doc, tok) tf FIRST (map-side
    * partial agg — the shuffle carries distinct pairs, not occurrences),
    * lazily pins it, and joins c = Σ tf back on tok (AQE-skew-splittable).
    * Values identical: same c, same N; n_tok = Σ tf and slp = Σ tf·lp are
    * the exact integer sums the per-occurrence shape computes (pinned by
    * TokenStatsSpec). N comes from an unexploded size(split(…)) sum either
    * way, with a when() guard because explode(NULL) emits 0 rows but
    * size(NULL) is -1 — a NULL text must contribute 0 for N to match the
    * exploded row count exactly. */
  private[graft] def unigramLmOf(docs: DataFrame, windowPath: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs
      .agg(sum(when(col("text").isNull, lit(0L))
        .otherwise(size(split(lower(col("text")), "\\s+")).cast("long"))).as("n_total"))
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
    val perDoc =
      if (windowPath)
        toks.withColumn("c", count(lit(1)).over(Window.partitionBy("tok")))
          .join(broadcast(n)) // single-row broadcast
          .select(col("doc_id"),
            round(log(col("c") / col("n_total")) * 1e6).cast("long").as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"), sum("lp").as("slp"))
      else {
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .transform(Tables.pin)
        tf.join(tf.groupBy("tok").agg(sum("tf").as("c")), "tok")
          .join(broadcast(n)) // single-row broadcast
          .select(col("doc_id"), col("tf"),
            round(log(col("c") / col("n_total")) * 1e6).cast("long").as("lp"))
          .groupBy("doc_id")
          .agg(sum("tf").as("n_tok"), sum(col("tf") * col("lp")).as("slp"))
      }
    perDoc
      .select(col("doc_id"), col("n_tok"),
        round(col("slp") / (col("n_tok") * 1e6), 4).as("avg_logp"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting: whitespace tokenization + distinct counts + average
    // token length — pure narrow map, no shuffle; all token stats from one
    // native TextProfile pass.
    "q30_text_stats" -> ((s, d) => {
      // sortOnce (here and on every scan-rooted narrow map below): the
      // range sampler + sort exchange each execute the map without the
      // pin — see Tables.sortOnce scaladoc
      Tables.sortOnce(loadDocs(s, d)
        .withColumn("tp", textProfile(col("text")))
        .select(
          col("doc_id"),
          col("tp.n_tokens").as("n_tokens"),
          col("tp.n_unique").as("n_unique_tokens"),
          length(col("text")).cast("bigint").as("n_chars_calc"),
          round(col("tp.n_nonws") / col("tp.n_tokens"), 4).as("avg_token_len")),
        "doc_id")
    }),

    // Quality scoring: stopword ratio, type-token ratio, length saturation —
    // a composable double in [0,1] per document.
    "q31_text_quality" -> ((s, d) => {
      // quality_score: the raw ratios are engine-identical doubles (single
      // divisions of identical integers), but the WEIGHTED SUM of three
      // doubles can land a hair either side of a .00005 rounding boundary
      // depending on FP combine order (observed at sf0.1). Cast each ratio
      // to decimal and weight with decimal literals — exact arithmetic,
      // identical rounding on both engines.
      def dec(c: Column): Column = c.cast("decimal(20,10)")
      def w(x: String): Column = lit(new java.math.BigDecimal(x))
      Tables.sortOnce(loadDocs(s, d)
        .withColumn("tp", textProfile(col("text")))
        .withColumn("n_tokens", col("tp.n_tokens"))
        .withColumn("stop_hits", element_at(col("tp.hits"), 1))
        .withColumn("raw_stop", col("stop_hits") / col("n_tokens"))
        .withColumn("raw_ttr", col("tp.n_unique") / col("tp.n_tokens"))
        .withColumn("raw_len", least(length(col("text")) / lit(500.0), lit(1.0)))
        .withColumn("stop_ratio", round(col("raw_stop"), 4))
        .withColumn("ttr", round(col("raw_ttr"), 4))
        .withColumn("len_sat", round(col("raw_len"), 4))
        .withColumn("quality_score",
          round(dec(col("raw_stop")) * w("0.3") + dec(col("raw_ttr")) * w("0.4")
            + dec(col("raw_len")) * w("0.3"), 4).cast("double"))
        .select("doc_id", "n_tokens", "stop_hits", "stop_ratio", "ttr", "len_sat", "quality_score"),
        "doc_id")
    }),

    // Language-ID: stopword-list hit counts per candidate language, argmax
    // with a fixed precedence (en > de > fr > es) — the classic n-gram/
    // stopword heuristic as a single codegen'd projection.
    "q32_lang_id" -> ((s, d) => {
      Tables.sortOnce(loadDocs(s, d)
        .withColumn("tp", textProfile(col("text")))
        .withColumn("en_hits", element_at(col("tp.hits"), 1))
        .withColumn("de_hits", element_at(col("tp.hits"), 2))
        .withColumn("fr_hits", element_at(col("tp.hits"), 3))
        .withColumn("es_hits", element_at(col("tp.hits"), 4))
        .withColumn("lang_guess",
          when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits")
            && col("en_hits") >= col("es_hits"), "en")
            .when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits"), "de")
            .when(col("fr_hits") >= col("es_hits"), "fr")
            .otherwise("es"))
        .select("doc_id", "en_hits", "de_hits", "fr_hits", "es_hits", "lang_guess"),
        "doc_id")
    }),

    // Document fingerprinting: md5 over the canonical normalized text plus a
    // winnowing-style signature — the 8 lexicographically-smallest md5s of
    // the doc's shingles, joined. Content-defined, order-insensitive, and
    // identical across engines (md5 is engine-neutral, unlike xxhash).
    "q33_fingerprint" -> ((s, d) => {
      // sortOnce closed the VERDICT r17 item-5 watch: the 10.5×/decade
      // slope was twin ~75-CPU-s stages at sf1 (sampler + sort exchange,
      // each running the full md5/winnow map at 31.8 effective cores —
      // no straggler, no skew); the pin halves the map work at every scale
      Tables.sortOnce(withShingles(loadDocsDense(s, d))
        .withColumn("fp_full", md5(normText))
        .withColumn("fp_winnow",
          array_join(slice(array_sort(transform(col("sh"), sh => md5(sh))), 1, 8), ","))
        .select("doc_id", "fp_full", "fp_winnow"),
        "doc_id")
    }),

    // PII scrubbing: redact email addresses, URLs, and long digit runs —
    // the standard pre-training hygiene pass. Patterns are Java/RE2-common
    // so the oracle applies the identical transforms.
    "q36_pii_scrub" -> ((s, d) => {
      val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val urlPat = "https?://[^ ]+"
      val digitPat = "[0-9]{6,}"
      Tables.sortOnce(loadDocsDense(s, d)
        .withColumn("n_emails", size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).cast("bigint"))
        .withColumn("n_urls", size(regexp_extract_all(col("text"), lit(urlPat), lit(0))).cast("bigint"))
        .withColumn("n_digit_runs", size(regexp_extract_all(col("text"), lit(digitPat), lit(0))).cast("bigint"))
        .withColumn("scrubbed",
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            emailPat, "<EMAIL>"), urlPat, "<URL>"), digitPat, "<NUM>"))
        .withColumn("scrub_fp", md5(col("scrubbed")))
        .select("doc_id", "n_emails", "n_urls", "n_digit_runs", "scrub_fp"),
        "doc_id")
    }),

    // BPE-ish pre-tokenization: GPT-2-style split into letter runs, digit
    // runs, and punctuation runs (the subword pre-pass every BPE tokenizer
    // applies before merges). Pattern is restricted to syntax valid in both
    // Java regex and RE2 so the oracle matches exactly.
    "q35_bpe_tokens" -> ((s, d) => {
      val bpePat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
      Tables.sortOnce(loadDocs(s, d)
        .withColumn("n_ws_tokens", size(toks).cast("bigint"))
        .withColumn("n_bpe_tokens",
          size(regexp_extract_all(lower(col("text")), lit(bpePat), lit(0))).cast("bigint"))
        .withColumn("bpe_per_ws", round(col("n_bpe_tokens") / col("n_ws_tokens"), 4))
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens", "bpe_per_ws"),
        "doc_id")
    }),

    // Benchmark decontamination: per corpus document, the fraction of its
    // word-3-gram shingles that appear in the "eval set" (docs with
    // doc_id < 10 stand in for a benchmark) — the standard pre-training
    // contamination check. Eval shingles are DISTINCT and tiny → broadcast;
    // the corpus side is one explode + equi-join + count, never pairwise.
    "q37_decontamination" -> ((s, d) => {
      val sh = withShingles(loadDocs(s, d)).select("doc_id", "sh")
      val evalShingles = sh.filter(col("doc_id") < 10)
        .select(explode(col("sh")).as("g")).distinct()
      val corpus = sh.filter(col("doc_id") >= 10)
        .withColumn("n_shingles", size(col("sh")).cast("bigint"))
      val overlap = corpus
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(evalShingles), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_overlap"))
      corpus.select("doc_id", "n_shingles")
        .join(overlap, Seq("doc_id"), "left")
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
        .withColumn("contamination", round(col("n_overlap") / col("n_shingles"), 4))
        .orderBy("doc_id")
    }),

    // Corpus token budget: the numbers a training run asks first — document
    // count, total whitespace tokens, and exact token-count quantiles per
    // document (via the shared spill-safe rank lookup; at 100 TB swap the
    // quantile columns for the q47-style sketches — the totals stay exact).
    "q38_token_budget" -> ((s, d) => {
      val tokens = loadDocs(s, d)
        .withColumn("tp", textProfile(col("text")))
        .select(col("tp.n_tokens").as("n_tokens"))
      val totals = tokens.agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"))
      val qs = Relational.rankQuantiles(
        tokens.select(lit("corpus").as("grp"), col("n_tokens").cast("double").as("v")),
        "grp", Seq(0.5 -> "p50_tokens", 0.9 -> "p90_tokens", 0.99 -> "p99_tokens"))
        .select("p50_tokens", "p90_tokens", "p99_tokens")
      // single-row broadcast join (scalar-subquery shape, as in q19)
      totals.join(broadcast(qs))
        .select("n_docs", "total_tokens", "p50_tokens", "p90_tokens", "p99_tokens")
    }),

    // Repetition REMOVAL transform (closes q39's measure→fix loop): within
    // each document, collapse runs of consecutive identical tokens to one
    // occurrence — the run-length normalizer a cleaning pipeline applies
    // after q39 flags repetitive docs. posexplode + per-doc lag marks run
    // heads; the cleaned text reassembles order-exactly via
    // array_sort(collect_list(struct(pos,…))) (collect_list alone has NO
    // ordering guarantee after a shuffle). One shuffle on doc_id for the
    // window, aggregation reuses the same partitioning; per-doc state is
    // one token array — bounded by max doc length, independent of corpus
    // size.
    "q105_collapse_runs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = loadDocs(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      toks
        .withColumn("keep",
          when(lag("tok", 1).over(byDoc).isNull ||
               lag("tok", 1).over(byDoc) =!= col("tok"), lit(1)).otherwise(lit(0)))
        .groupBy("doc_id")
        .agg(
          concat_ws(" ", transform(
            filter(array_sort(collect_list(struct(col("pos"), col("keep"), col("tok")))),
              x => x.getField("keep") === 1),
            x => x.getField("tok"))).as("clean_text"),
          sum("keep").as("n_kept"),
          (count(lit(1)) - sum("keep")).as("n_removed"))
        .orderBy("doc_id")
    }),

    // Repetition metrics (the Gopher/RefinedWeb "repetitive content" quality
    // rules): per document, the share of the most-repeated word bigram and
    // the fraction of duplicated bigrams. Bigrams come from posexplode +
    // lead() — declarative and codegen'd, no per-element lambda — and the
    // three stats collapse into one aggregation over (doc, gram) counts.
    "q39_repetition" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = loadDocs(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      val grams = toks
        .withColumn("nx", lead("w", 1).over(byDoc))
        .filter(col("nx").isNotNull)
        .select(col("doc_id"), concat(col("w"), lit(" "), col("nx")).as("g"))
      grams
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum("c").as("n_grams"),
          max("c").as("max_gram"),
          count(lit(1)).as("n_distinct"))
        .select(
          col("doc_id"),
          col("n_grams"),
          col("max_gram"),
          round(col("max_gram") / col("n_grams"), 4).as("top_gram_share"),
          round(lit(1.0) - col("n_distinct") / col("n_grams").cast("double"), 4).as("rep_frac"))
        .orderBy("doc_id")
    }),

    // TF-IDF keyword extraction: corpus document frequencies (one |vocab|-
    // sized aggregate) joined back to per-doc term frequencies, top-3 terms
    // per document by tf·ln(N/df). Ranking is over the ROUNDED score (+ term
    // tie-break) so last-ulp libm differences between engines cannot reorder
    // ties that are equal in exact arithmetic.
    "q57_tfidf_keywords" -> ((s, d) => {
      val docs = loadDocs(s, d)
      tfidfKeywordsOf(docs, tokenWindowSafe(docs))
    }),

    // Unigram language-model quality scoring (the CCNet/KenLM-style filter
    // shape): per-doc mean log-probability under the corpus's own unigram
    // distribution — low scorers are boilerplate/garbled, high scorers
    // natural text. Log-probs are scaled to INTEGER millionths per token
    // TYPE before the per-doc sum, so the aggregate is order-independent
    // and engine-exact (summing raw doubles would depend on shuffle order).
    // Scale: vocab counts are a map-side-combined agg; the token→logp join
    // partitions both sides by token; one groupBy(doc_id) closes it.
    "q75_unigram_lm" -> ((s, d) => {
      val docs = loadDocs(s, d)
      unigramLmOf(docs, tokenWindowSafe(docs))
    }),

    // Per-language KL divergence from the corpus-wide unigram distribution
    // — the distribution-drift diagnostic for corpus slices (which strata
    // differ most from the blend; rising KL on a slice flags a collection
    // change). Per-token terms reuse q75's integer-millionths log scaling:
    // KL(P_l ‖ P) ≈ Σ_tok c_lt · round(ln((c_lt/N_l)/(c_t/N))·1e6)/(N_l·1e6)
    // — so the per-language sum is order-independent and engine-exact.
    // Shuffles stay at |lang × vocab|, never |tokens|.
    "q76_lang_kl" -> ((s, d) => {
      val toks = loadDocs(s, d)
        .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      // lazily pinned: lc feeds three subtrees (lt, cc, the join), each of
      // which re-ran the tokenize + (lang, tok) aggregation without the
      // pin. Pinned mass is |lang × vocab| — sublinear in corpus size.
      val lc = toks.groupBy("lang", "tok").agg(count(lit(1)).as("clt"))
        .transform(Tables.pin)
      val lt = lc.groupBy("lang").agg(sum("clt").as("nl"))
      val cc = lc.groupBy("tok").agg(sum("clt").as("ct"))
      val n = lt.agg(sum("nl").as("n_total"))
      lc.join(lt, "lang").join(cc, "tok").join(broadcast(n))
        .withColumn("term", col("clt") *
          round(log((col("clt") / col("nl")) / (col("ct") / col("n_total"))) * 1e6).cast("long"))
        .groupBy("lang")
        .agg(max("nl").as("n_tokens"), sum("term").as("sterm"))
        .select(col("lang"), col("n_tokens"),
          round(col("sterm") / (col("n_tokens") * 1e6), 6).as("kl"))
        .transform(df => Tables.sortSmall(df, "lang"))
    }),

    // Corpus token frequency: explode + count — the one text op that
    // genuinely shuffles (by token); partial aggregation keeps the shuffle
    // at |vocab| not |tokens|.
    "q34_token_freq" -> ((s, d) => {
      loadDocs(s, d)
        .select(explode(split(lower(col("text")), "\\s+")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // Sliding-window document chunking (the context-window prep step every
    // training/RAG pipeline runs): tokens → overlapping chunks of C=16 with
    // stride S=12, one output row per chunk with an md5 content fingerprint.
    // Pure narrow map + explode — chunking never shuffles; chunk rows
    // partition wherever their parent doc lives. Trailing chunks shorter
    // than C are kept (standard convention).
    "q84_doc_chunks" -> ((s, d) => {
      val C = 16; val S = 12
      Tables.sortOnce(loadDocs(s, d)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("tk"))
        .withColumn("start", explode(sequence(lit(0), size(col("tk")) - 1, lit(S))))
        .withColumn("chunk", slice(col("tk"), col("start") + 1, lit(C)))
        .select(
          col("doc_id"),
          (col("start") / S).cast("long").as("chunk_idx"),
          col("start").cast("long").as("start"),
          size(col("chunk")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5")),
        "doc_id", "chunk_idx")
    }),

    // C4/RefinedWeb-style boilerplate-line removal, audited per doc: split
    // each document into NON-overlapping 16-token lines, count how many
    // DISTINCT docs each exact line occurs in, and treat a line seen in ≥ 2
    // docs as boilerplate (navigation chrome / licence blocks / templated
    // headers in a real crawl; here the planted near-dup twins). Reports
    // what the filter would keep — the audit a corpus owner runs before
    // turning the rule on.
    // Scale: one shuffle keyed on the line hash (16-byte md5, never the
    // text), single-distinct count (two-phase partial distinct, no Expand),
    // one join back — the shape C4 ran at web scale.
    "q90_boilerplate_lines" -> ((s, d) => {
      val C = 16
      val lines = loadDocs(s, d)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("tk"))
        .withColumn("start", explode(sequence(lit(0), size(col("tk")) - 1, lit(C))))
        .withColumn("chunk", slice(col("tk"), col("start") + 1, lit(C)))
        .select(col("doc_id"),
          size(col("chunk")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("chunk"))).as("lh"))
      val lineDf = lines.groupBy("lh").agg(countDistinct(col("doc_id")).as("ndocs"))
      lines.join(lineDf, "lh")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_boiler_lines"),
          sum(col("n_tok")).as("n_tok"),
          sum(when(col("ndocs") < 2, col("n_tok")).otherwise(0L)).as("n_tok_kept"))
        .withColumn("pct_kept", round(col("n_tok_kept") / col("n_tok"), 4))
        .orderBy("doc_id")
    }),

    // Per-source curation dashboard: the slice-level numbers a corpus owner
    // reads first — doc count, exact-duplicate rate (distinct canonical
    // fingerprints), mean tokens per doc, and how many docs trip the PII
    // patterns. One narrow profiling pass, then a |sources|-sized aggregate;
    // token totals are exact BIGINT sums (order-independent), divisions
    // happen once at the end so both engines do identical double math.
    "q85_source_quality" -> ((s, d) => {
      val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val urlPat = "https?://[^ ]+"
      val digitPat = "[0-9]{6,}"
      loadDocs(s, d)
        .select(
          col("source"),
          tokenCountOf(col("text")).as("n_tokens"),
          md5(normText).as("fp"),
          ((size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
            + size(regexp_extract_all(col("text"), lit(urlPat), lit(0)))
            + size(regexp_extract_all(col("text"), lit(digitPat), lit(0)))) > 0)
            .cast("long").as("has_pii"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct("fp").as("n_unique"),
          sum("n_tokens").as("total_tokens"),
          sum("has_pii").as("pii_docs"))
        .select(
          col("source"), col("n_docs"), col("n_unique"),
          round(lit(1.0) - col("n_unique") / col("n_docs"), 4).as("dup_rate"),
          col("total_tokens"),
          round(col("total_tokens") / col("n_docs"), 4).as("avg_tokens"),
          col("pii_docs"))
        .transform(df => Tables.sortSmall(df, "source"))
    }),

    // BM25 retrieval (Robertson/Lucene scoring, k1=1.2 b=0.75) for a fixed
    // conjunctive keyword query — the lexical-search side of a data-curation
    // stack (e.g. targeted corpus slicing). df/avgdl are corpus aggregates
    // over exact BIGINTs; each (doc, term) score is rounded to integer
    // millionths BEFORE the per-doc sum (q75's trick) so the aggregate is
    // shuffle-order-independent and engine-exact. Scale: tf is one
    // |docs×terms| aggregate after an early filter on the 3 query terms
    // (predicate-pushdown-friendly), df/avgdl are tiny broadcasts.
    "q86_bm25" -> ((s, d) => {
      val terms = Seq("spark", "join", "window")
      val k1 = 1.2; val b = 0.75
      val docs = loadDocs(s, d)
        .select(col("doc_id"), tokenCountOf(col("text")).as("dl"),
          split(lower(col("text")), "\\s+").as("tk"))
      val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val tfBase = docs
        .select(col("doc_id"), col("dl"), explode(col("tk")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy("doc_id", "dl", "tok")
        .agg(count(lit(1)).as("tf"))
      // df: skew-posture dispatch ([[tokenWindowSafe]], ADVICE r18 —
      // same shape as q57/q75). Small inputs keep the r18 window over tf
      // (the pin job + broadcast A/B'd +0.04..0.11 s at sf0.1); past the
      // threshold the window's 3 partition keys each funnel ≤ |docs|
      // rows through ONE unsplittable task, so tf is pinned and the
      // ≤ |terms| = 3-row dfreq BROADCASTS back — tf itself is never
      // shuffled by tok at all.
      val withDf =
        if (tokenWindowSafe(docs))
          tfBase.withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("tok")))
        else {
          val tfp = tfBase.transform(Tables.pin)
          tfp.join(broadcast(tfp.groupBy("tok").agg(count(lit(1)).as("df"))), "tok")
        }
      val scored = withDf
        .join(broadcast(stats)) // single-row broadcast (scalar-subquery shape)
        .withColumn("idf",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("term_score_u",
          round(col("idf") * (col("tf") * (k1 + 1.0))
            / (col("tf") + lit(k1) * (lit(1.0 - b)
              + lit(b) * col("dl") / (col("sum_dl") / col("n_docs"))))
            * 1e6).cast("long"))
      scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("term_score_u").as("su"))
        .filter(col("n_terms") === terms.size) // conjunctive: all terms present
        .select(col("doc_id"), col("n_terms"),
          round(col("su") / 1e6, 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1) as a
    // per-document audit: word-count bounds, mean-word-length bounds,
    // minimum distinct-stopword evidence, and a type-token-ratio floor
    // (the repetition proxy). Every rule is an INTEGER comparison
    // (n_nonws >= 4*n_tokens rather than n_nonws/n_tokens >= 4.0) so there
    // is no FP boundary for the two engines to disagree on. Pure narrow
    // map over one TextProfile pass — zero shuffle, embarrassingly
    // parallel at any corpus size.
    "q91_gopher_rules" -> ((s, d) => {
      val stops = Seq("the", "a", "of", "to", "in")
      Tables.sortOnce(loadDocs(s, d)
        .withColumn("tp", textProfile(col("text")))
        .withColumn("n_tokens", col("tp.n_tokens"))
        // fused native count — value-identical to the composed
        // size(array_intersect(array_distinct(..), ..)): IntersectCount
        // already counts DISTINCT matches, so neither the distinct array
        // nor the intersection array is materialized per doc
        .withColumn("n_stop_distinct",
          graft.plans.IntersectCount.of(
            split(lower(col("text")), "\\s+"),
            array(stops.map(lit): _*)))
        .withColumn("r_wc",
          (col("n_tokens") >= 30 && col("n_tokens") <= 10000).cast("long"))
        .withColumn("r_mwl",
          (col("tp.n_nonws") >= col("n_tokens") * 4
            && col("tp.n_nonws") <= col("n_tokens") * 10).cast("long"))
        .withColumn("r_stop", (col("n_stop_distinct") >= 2).cast("long"))
        .withColumn("r_ttr", (col("tp.n_unique") * 2 >= col("n_tokens")).cast("long"))
        .withColumn("keep",
          (col("r_wc") + col("r_mwl") + col("r_stop") + col("r_ttr") === 4).cast("long"))
        .select("doc_id", "n_tokens", "r_wc", "r_mwl", "r_stop", "r_ttr", "keep"),
        "doc_id")
    }),

    // Exact-substring duplication audit (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"):
    // OVERLAPPING 16-token windows at stride 1 (vs q90's disjoint C4
    // lines), hashed to 16-byte md5 keys; a window shared by >= 2
    // distinct docs marks a duplicated span. Reports per-doc span counts
    // and the duplicated fraction — the audit that sizes a span-removal
    // pass before running it. Docs shorter than the window emit nothing
    // and are excluded (documented; the rule cannot apply to them).
    // Scale: the span stream is |tokens|-sized (one row per position) but
    // pays its ONE wide shuffle immediately into a (sh, doc_id) count —
    // every later hop (the ndocs roll-up, the join back, the per-doc
    // totals) rides that deduplicated frame, which is bounded by distinct
    // (window, doc) pairs, not positions. Tokenize/explode/md5 run once;
    // the naive shape (self-join of the raw span stream against its own
    // aggregate) scans and shuffles the position stream twice. This is
    // the practical distributed approximation of the paper's suffix-array
    // pass (which is inherently single-machine).
    "q93_dup_span_audit" -> ((s, d) => {
      val C = 16
      val spans = loadDocs(s, d)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("tk"))
        .filter(size(col("tk")) >= C)
        .withColumn("start", explode(sequence(lit(0), size(col("tk")) - C)))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("tk"), col("start") + 1, lit(C)))).as("sh"))
      // one row per (window, doc): c = how often this doc repeats the span
      val perDoc = spans.groupBy("sh", "doc_id").agg(count(lit(1)).as("c"))
      // rows per sh in perDoc ARE its distinct docs — count over the sh
      // window = ndocs. A WINDOW, not a separate aggregate + join back
      // (optimization r18, guide §2.4): the optimizer specialized the
      // aggregate branch's perDoc subtree to a bare distinct (no count),
      // so the two exchanges did not canonicalize equal, nothing was
      // reused, and the tokenize+md5 span pipeline — the most expensive
      // subtree in the query — ran TWICE (two full Scan→Generate→md5
      // chains in the committed before-plan). The window reads the ONE
      // (sh, doc_id) aggregate: span stream tokenized once at every
      // scale, and the frame under the window is bounded by distinct
      // (window, doc) pairs, not positions.
      import org.apache.spark.sql.expressions.Window
      perDoc
        .withColumn("ndocs", count(lit(1)).over(Window.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n_spans"),
          sum(when(col("ndocs") >= 2, col("c")).otherwise(0L)).as("n_dup_spans"))
        .withColumn("dup_ratio", round(col("n_dup_spans") / col("n_spans"), 4))
        .orderBy("doc_id")
    }),

    // Zipf rank-frequency fit per source: token frequencies ranked
    // (freq desc, token asc — total order, engine-identical), then a
    // least-squares slope of ln(freq) on ln(rank). The log coordinates are
    // scaled to integer MILLIONTHS before summation (q75/q86's trick) and
    // the moment sums run in decimal(38,0), so every aggregate is exact
    // and shuffle-order-independent; doubles appear only in the final
    // slope/intercept division. A natural-text corpus fits slope ≈ -1
    // (Zipf's law); templated/synthetic slices deviate — a cheap
    // distribution-drift check per source.
    // Scale: one |tokens| shuffle to count, one |vocab| window per source,
    // one |sources| aggregate — vocabulary is sublinear in corpus size, so
    // this stays cheap as the corpus grows.
    "q94_zipf_curve" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dec = "decimal(38,0)"
      val freq = loadDocs(s, d)
        .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("tok"))
      val xy = freq
        .withColumn("rank", row_number().over(w))
        .select(col("source"),
          round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
          round(log(col("cnt").cast("double")) * 1e6).cast("long").as("y"))
      xy.groupBy("source")
        .agg(
          count(lit(1)).as("n_types"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x").cast(dec) * col("y").cast(dec))).as("sxy"),
          sum((col("x").cast(dec) * col("x").cast(dec))).as("sxx"))
        .withColumn("slope_d",
          (col("n_types") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n_types") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .select(col("source"), col("n_types"),
          round(col("slope_d"), 6).as("slope"),
          round((col("sy").cast("double") - col("slope_d") * col("sx").cast("double"))
            / col("n_types") / 1e6, 6).as("intercept"))
        .transform(df => Tables.sortSmall(df, "source"))
    }),

    // Per-source VOCABULARY overlap matrix — the lexical leg of the
    // source-similarity triad (q97 = document-level near-dup overlap,
    // q76 = distributional KL, this = set-level vocab Jaccard), read
    // together when planning a corpus mixture. This is the EXACT tier —
    // O(|vocab|·|sources|²) via a token-key equi-join, right for
    // catalog-sized source counts; its sketch twin is q101 /
    // [[vocabOverlapSketch]] (per-source MinHash signatures, cost
    // independent of |vocab| in the pair phase), and [[vocabOverlap]]
    // dispatches between them on source count.
    "q100_vocab_overlap" -> ((s, d) =>
      vocabOverlapExact(loadDocs(s, d))),

    // Estimator contract for the q100 sketch tier, q47-style: the exact
    // matrix carries the hashable values; `est_ok` asserts the 256-hash
    // MinHash estimate landed within 0.15 absolute of true Jaccard
    // (sigma = sqrt(j(1-j)/256) <= 0.031, so the bound is ~5 sigma — a
    // deterministic-constants estimator either clears it always or the
    // sketch is broken). This row is what licenses signature-only vocab
    // comparison at hundreds-of-sources scale.
    "q101_vocab_overlap_sketch" -> ((s, d) => {
      val docs = loadDocs(s, d)
      vocabOverlapExact(docs)
        .join(vocabOverlapSketch(docs), Seq("source_x", "source_y"))
        .select(col("source_x"), col("source_y"),
          col("vocab_x"), col("vocab_y"), col("inter"), col("jac"),
          (abs(col("jac_est") - col("jac")) <= 0.15).as("est_ok"))
        .orderBy("source_x", "source_y") // sortSmall A/B'd +0.07 here (r19)
    }),

    // Sequence-length histogram in power-of-2 buckets — the planning input
    // for q79's packing (what fraction of docs land in each length band,
    // how many tokens each band holds). The bucket is the token count's
    // BIT LENGTH (length of its binary form: 2^(b-1) ≤ n < 2^b) — an
    // integer-exact bucketing both engines compute identically, where
    // log2-based bucketing would sit on FP rounding at exact powers of
    // two. Zero-shuffle until the ≤64-row aggregate; the share column's
    // global window runs over those ≤64 rows, not the corpus.
    "q99_token_histogram" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      loadDocs(s, d)
        .select(textProfile(col("text")).getField("n_tokens").as("nt"))
        .groupBy(length(bin(col("nt"))).cast("long").as("bucket_bits"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum("nt").as("total_tokens"),
          min("nt").as("min_tokens"),
          max("nt").as("max_tokens"))
        .withColumn("share",
          round(col("n_docs") / sum("n_docs").over(Window.partitionBy()), 4))
        .transform(df => Tables.sortSmall(df, "bucket_bits"))
    }))

  private def hitCountSql(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(",")
    s"""len(list_filter(string_split_regex(lower(text), '\\s+'), t -> list_contains([$arr], t)))"""
  }

  val oracleSql: Map[String, String] = Map(
    "q30_text_stats" ->
      """SELECT doc_id,
        | len(string_split_regex(text, '\s+')) AS n_tokens,
        | len(list_distinct(string_split_regex(text, '\s+'))) AS n_unique_tokens,
        | length(text) AS n_chars_calc,
        | round(length(regexp_replace(text, '\s', '', 'g')) / len(string_split_regex(text, '\s+')), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_text_quality" -> {
      s"""SELECT doc_id, n_tokens, stop_hits,
         | round(stop_hits / n_tokens, 4) AS stop_ratio,
         | round(n_unique / n_tokens, 4) AS ttr,
         | round(least(length(text) / 500.0, 1.0), 4) AS len_sat,
         | CAST(round(CAST(stop_hits / n_tokens AS DECIMAL(20,10)) * 0.3
         |       + CAST(n_unique / n_tokens AS DECIMAL(20,10)) * 0.4
         |       + CAST(least(length(text) / 500.0, 1.0) AS DECIMAL(20,10)) * 0.3, 4)
         |   AS DOUBLE) AS quality_score
         |FROM (SELECT doc_id, text,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens,
         |  len(list_distinct(string_split_regex(text, '\\s+'))) AS n_unique,
         |  ${hitCountSql(enStops)} AS stop_hits
         | FROM documents) t ORDER BY doc_id""".stripMargin
    },

    "q32_lang_id" -> {
      s"""SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
         | CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
         |      WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
         |      WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END AS lang_guess
         |FROM (SELECT doc_id,
         |  ${hitCountSql(enStops)} AS en_hits,
         |  ${hitCountSql(deStops)} AS de_hits,
         |  ${hitCountSql(frStops)} AS fr_hits,
         |  ${hitCountSql(esStops)} AS es_hits
         | FROM documents) t ORDER BY doc_id""".stripMargin
    },

    "q33_fingerprint" ->
      s"""SELECT doc_id, md5($normTextSql) AS fp_full,
         | array_to_string(list_sort(list_transform(sh, x -> md5(x)))[1:8], ',') AS fp_winnow
         |FROM (SELECT doc_id, text, $shinglesSql AS sh
         |      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) t0) t
         |ORDER BY doc_id""".stripMargin,

    "q36_pii_scrub" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        | len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls,
        | len(regexp_extract_all(text, '[0-9]{6,}')) AS n_digit_runs,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^ ]+', '<URL>', 'g'),
        |   '[0-9]{6,}', '<NUM>', 'g')) AS scrub_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q35_bpe_tokens" ->
      """SELECT doc_id,
        | len(string_split_regex(text, '\s+')) AS n_ws_tokens,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
        | round(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |       / len(string_split_regex(text, '\s+')), 4) AS bpe_per_ws
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q37_decontamination" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         | sh AS (SELECT doc_id, $shinglesSql AS s FROM t),
         | ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
         | corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10),
         | ex AS (SELECT doc_id, unnest(s) AS g FROM corpus),
         | ov AS (SELECT doc_id, count(*) AS n_overlap FROM ex JOIN ev USING (g) GROUP BY doc_id)
         |SELECT c.doc_id, len(c.s) AS n_shingles,
         | coalesce(o.n_overlap, 0) AS n_overlap,
         | round(coalesce(o.n_overlap, 0) / len(c.s), 4) AS contamination
         |FROM corpus c LEFT JOIN ov o USING (doc_id) ORDER BY c.doc_id""".stripMargin,

    "q38_token_budget" ->
      """SELECT count(*) AS n_docs,
        | CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
        | round(quantile_cont(len(string_split_regex(text, '\s+')), 0.5), 4) AS p50_tokens,
        | round(quantile_cont(len(string_split_regex(text, '\s+')), 0.9), 4) AS p90_tokens,
        | round(quantile_cont(len(string_split_regex(text, '\s+')), 0.99), 4) AS p99_tokens
        |FROM documents""".stripMargin,

    "q105_collapse_runs" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | t AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos FROM s),
        | m AS (SELECT doc_id, pos, tok,
        |        CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
        |             IS DISTINCT FROM tok THEN 1 ELSE 0 END AS keep FROM t)
        |SELECT doc_id,
        | string_agg(CASE WHEN keep = 1 THEN tok END, ' ' ORDER BY pos) AS clean_text,
        | CAST(sum(keep) AS BIGINT) AS n_kept,
        | CAST(count(*) - sum(keep) AS BIGINT) AS n_removed
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q39_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | g AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g FROM t),
        | pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
        | agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |         max(c) AS max_gram, count(*) AS n_distinct
        |         FROM pg GROUP BY doc_id)
        |SELECT doc_id, n_grams, max_gram,
        | round(max_gram / n_grams, 4) AS top_gram_share,
        | round(1.0 - n_distinct / CAST(n_grams AS DOUBLE), 4) AS rep_frac
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q57_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
        | df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        | nd AS (SELECT count(*) AS nd FROM documents),
        | scored AS (SELECT t.doc_id, t.tok, round(t.tf * ln(nd.nd / d.df), 4) AS score
        |            FROM tf t JOIN df d USING (tok) CROSS JOIN nd),
        | ranked AS (SELECT doc_id, tok, score,
        |            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
        |            FROM scored)
        |SELECT doc_id, rank, tok, score FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "q34_token_freq" ->
      """SELECT token, count(*) AS n FROM (
        | SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "q75_unigram_lm" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
        | counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        | n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM counts),
        | logp AS (SELECT tok, CAST(round(ln(c / n_total) * 1000000) AS BIGINT) AS lp FROM counts, n)
        |SELECT t.doc_id, count(*) AS n_tok,
        | round(CAST(sum(lp) AS DOUBLE) / (count(*) * 1000000.0), 4) AS avg_logp
        |FROM toks t JOIN logp USING (tok)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "q76_lang_kl" ->
      """WITH toks AS (SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
        | lc AS (SELECT lang, tok, count(*) AS clt FROM toks GROUP BY lang, tok),
        | lt AS (SELECT lang, CAST(sum(clt) AS BIGINT) AS nl FROM lc GROUP BY lang),
        | cc AS (SELECT tok, CAST(sum(clt) AS BIGINT) AS ct FROM lc GROUP BY tok),
        | n AS (SELECT CAST(sum(nl) AS BIGINT) AS n_total FROM lt),
        | terms AS (SELECT lc.lang,
        |   lc.clt * CAST(round(ln((lc.clt / l.nl) / (cc.ct / n.n_total)) * 1000000) AS BIGINT) AS term,
        |   l.nl AS nl
        |   FROM lc JOIN lt l ON lc.lang = l.lang JOIN cc ON lc.tok = cc.tok CROSS JOIN n)
        |SELECT lang, CAST(max(nl) AS BIGINT) AS n_tokens,
        | round(CAST(sum(term) AS DOUBLE) / (max(nl) * 1000000.0), 6) AS kl
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,

    "q84_doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk FROM documents),
        | st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 12)) AS start FROM t),
        | ch AS (SELECT doc_id, start, list_slice(tk, start + 1, start + 16) AS chunk FROM st)
        |SELECT doc_id, start // 12 AS chunk_idx, start, len(chunk) AS n_tok,
        | md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q90_boilerplate_lines" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk FROM documents),
        | st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 16)) AS start FROM t),
        | lines AS (SELECT doc_id,
        |   CAST(len(list_slice(tk, start + 1, start + 16)) AS BIGINT) AS n_tok,
        |   md5(array_to_string(list_slice(tk, start + 1, start + 16), ' ')) AS lh FROM st),
        | df AS (SELECT lh, count(DISTINCT doc_id) AS ndocs FROM lines GROUP BY lh)
        |SELECT l.doc_id AS doc_id, count(*) AS n_lines,
        | CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_lines,
        | CAST(sum(l.n_tok) AS BIGINT) AS n_tok,
        | CAST(sum(CASE WHEN df.ndocs < 2 THEN l.n_tok ELSE 0 END) AS BIGINT) AS n_tok_kept,
        | round(CAST(sum(CASE WHEN df.ndocs < 2 THEN l.n_tok ELSE 0 END) AS BIGINT)
        |   / CAST(sum(l.n_tok) AS BIGINT), 4) AS pct_kept
        |FROM lines l JOIN df ON l.lh = df.lh
        |GROUP BY l.doc_id ORDER BY doc_id""".stripMargin,

    "q85_source_quality" ->
      s"""WITH base AS (SELECT source,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens,
         |  md5($normTextSql) AS fp,
         |  CASE WHEN len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
         |       + len(regexp_extract_all(text, 'https?://[^ ]+'))
         |       + len(regexp_extract_all(text, '[0-9]{6,}')) > 0
         |       THEN 1::BIGINT ELSE 0::BIGINT END AS has_pii
         | FROM documents)
         |SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
         | round(CAST(1.0 AS DOUBLE) - count(DISTINCT fp) / count(*), 4) AS dup_rate,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | round(CAST(sum(n_tokens) AS BIGINT) / count(*), 4) AS avg_tokens,
         | CAST(sum(has_pii) AS BIGINT) AS pii_docs
         |FROM base GROUP BY source ORDER BY source""".stripMargin,

    "q86_bm25" ->
      """WITH d AS (SELECT doc_id,
        |   len(string_split_regex(lower(text), '\s+')) AS dl,
        |   string_split_regex(lower(text), '\s+') AS tk FROM documents),
        | stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
        | tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
        |   SELECT doc_id, dl, unnest(tk) AS tok FROM d) t
        |   WHERE tok IN ('spark', 'join', 'window') GROUP BY doc_id, dl, tok),
        | dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        | scored AS (SELECT tf.doc_id,
        |   CAST(round(
        |     ln((s.n_docs - dfq.df + CAST(0.5 AS DOUBLE)) / (dfq.df + CAST(0.5 AS DOUBLE))
        |        + CAST(1.0 AS DOUBLE))
        |     * (tf.tf * CAST(2.2 AS DOUBLE))
        |     / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |        + (CAST(0.75 AS DOUBLE) * tf.dl) / (s.sum_dl / s.n_docs)))
        |     * 1000000) AS BIGINT) AS tsu
        |   FROM tf JOIN dfq USING (tok) CROSS JOIN stats s)
        |SELECT doc_id, count(*) AS n_terms, round(CAST(sum(tsu) AS DOUBLE) / 1000000, 4) AS score
        |FROM scored GROUP BY doc_id HAVING count(*) = 3
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q91_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(text, '\s+') AS w,
        |  string_split_regex(lower(text), '\s+') AS lw,
        |  length(regexp_replace(text, '\s', '', 'g')) AS n_nonws
        | FROM documents),
        |f AS (SELECT doc_id, len(w) AS n_tokens,
        |  CASE WHEN len(w) >= 30 AND len(w) <= 10000 THEN 1 ELSE 0 END AS r_wc,
        |  CASE WHEN n_nonws >= len(w) * 4 AND n_nonws <= len(w) * 10 THEN 1 ELSE 0 END AS r_mwl,
        |  CASE WHEN len(list_distinct(list_filter(lw,
        |    x -> list_contains(['the','a','of','to','in'], x)))) >= 2 THEN 1 ELSE 0 END AS r_stop,
        |  CASE WHEN len(list_distinct(w)) * 2 >= len(w) THEN 1 ELSE 0 END AS r_ttr
        | FROM t)
        |SELECT doc_id, n_tokens,
        | CAST(r_wc AS BIGINT) AS r_wc, CAST(r_mwl AS BIGINT) AS r_mwl,
        | CAST(r_stop AS BIGINT) AS r_stop, CAST(r_ttr AS BIGINT) AS r_ttr,
        | CAST(CASE WHEN r_wc + r_mwl + r_stop + r_ttr = 4 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "q93_dup_span_audit" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk
        |   FROM documents WHERE len(string_split_regex(lower(text), '\s+')) >= 16),
        | spans AS (SELECT doc_id,
        |   md5(array_to_string(list_slice(tk, start + 1, start + 16), ' ')) AS sh
        |   FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 15)) AS start FROM t)),
        | df AS (SELECT sh, count(DISTINCT doc_id) AS ndocs FROM spans GROUP BY sh)
        |SELECT s.doc_id AS doc_id, count(*) AS n_spans,
        | CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        | round(CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   / count(*), 4) AS dup_ratio
        |FROM spans s JOIN df USING (sh)
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,

    "q94_zipf_curve" ->
      """WITH f AS (
        |  SELECT source, tok, count(*) AS cnt FROM (
        |    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents) GROUP BY source, tok),
        | r AS (SELECT source,
        |   CAST(round(ln(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok))
        |     * 1000000) AS BIGINT) AS x,
        |   CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
        |   FROM f),
        | a AS (SELECT source, count(*) AS n_types,
        |   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |   sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx
        |   FROM r GROUP BY source),
        | s AS (SELECT source, n_types,
        |   CAST(n_types * sxy - sx * sy AS DOUBLE)
        |     / CAST(n_types * sxx - sx * sx AS DOUBLE) AS slope_d,
        |   CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
        |   FROM a)
        |SELECT source, n_types, round(slope_d, 6) AS slope,
        | round((syd - slope_d * sxd) / n_types / 1000000, 6) AS intercept
        |FROM s ORDER BY source""".stripMargin,

    "q100_vocab_overlap" ->
      """WITH v AS (SELECT DISTINCT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |           FROM documents),
        | sz AS (SELECT source, count(*) AS n FROM v GROUP BY source),
        | i AS (SELECT x.source AS source_x, y.source AS source_y, count(*) AS inter
        |       FROM v x JOIN v y ON x.tok = y.tok AND x.source < y.source
        |       GROUP BY source_x, source_y)
        |SELECT i.source_x, i.source_y, sx.n AS vocab_x, sy.n AS vocab_y, i.inter,
        | round(i.inter / (sx.n + sy.n - i.inter), 4) AS jac
        |FROM i JOIN sz sx ON i.source_x = sx.source JOIN sz sy ON i.source_y = sy.source
        |ORDER BY source_x, source_y""".stripMargin,

    // q47-style estimator contract: exact values replayed, the sketch's
    // within-bound boolean asserted TRUE (the Spark side computes it from
    // deterministic constants, so it either always holds or the sketch is
    // broken — there is no flaky middle).
    "q101_vocab_overlap_sketch" ->
      """WITH v AS (SELECT DISTINCT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |           FROM documents),
        | sz AS (SELECT source, count(*) AS n FROM v GROUP BY source),
        | i AS (SELECT x.source AS source_x, y.source AS source_y, count(*) AS inter
        |       FROM v x JOIN v y ON x.tok = y.tok AND x.source < y.source
        |       GROUP BY source_x, source_y)
        |SELECT i.source_x, i.source_y, sx.n AS vocab_x, sy.n AS vocab_y, i.inter,
        | round(i.inter / (sx.n + sy.n - i.inter), 4) AS jac,
        | TRUE AS est_ok
        |FROM i JOIN sz sx ON i.source_x = sx.source JOIN sz sy ON i.source_y = sy.source
        |ORDER BY source_x, source_y""".stripMargin,

    "q99_token_histogram" ->
      """WITH n AS (SELECT len(string_split_regex(text, '\s+')) AS nt FROM documents),
        | h AS (SELECT length(bin(nt)) AS bucket_bits,
        |   count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
        |   min(nt) AS min_tokens, max(nt) AS max_tokens
        |   FROM n GROUP BY bucket_bits)
        |SELECT bucket_bits, n_docs, total_tokens, min_tokens, max_tokens,
        | round(n_docs / sum(n_docs) OVER (), 4) AS share
        |FROM h ORDER BY bucket_bits""".stripMargin)
}
