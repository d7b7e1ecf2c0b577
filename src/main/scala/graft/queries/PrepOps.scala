package graft.queries

import graft.Tables
import graft.operators.Pin.syntax._
import graft.operators.{Decontaminate, Dedup, Sampling, Scrub, TextAnalysis, Urls}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data preparation query surface, round 4: benchmark
  * decontamination, repetition-quality filters, PII scrubbing, weighted
  * mixture sampling, corpus-level boilerplate-span removal, and
  * fixed-point embedding quantization.
  *
  * Every query here is DuckDB-oracle-checked: counts stay integral,
  * ratios are int/int double divisions, the sampling bucket is the
  * arithmetic md5-nibble decode, and the quantizer is floor-based (no
  * round-tie divergence) — all cross-engine bit-exact.
  */
object PrepOps {
  type Q = (SparkSession, String) => DataFrame

  /** Decontamination shingle width: k=4 keeps the tiny ~40-word fixture
    * vocabulary discriminative (40^4 possible grams vs ~2k eval grams);
    * production corpora use k≈13 through the same operator. */
  val DecontamK = 4

  /** Eval set = content-hash bucket 0 of 20 (~5% of docs) — a stand-in
    * benchmark set derived deterministically from the fixtures. */
  val EvalBuckets = 20

  val SpanTokens = 3
  val SpanMinDocs = 5

  /** Planted non-Latin suffixes for the script-profile gate, keyed by
    * doc_id % 4 — exercises the cyrillic/cjk/greek/arabic count branches
    * and the argmax tie order on an otherwise-ASCII fixture. Shared
    * verbatim with the DuckDB oracle (UTF-8 literals both sides). */
  val ScriptMarkers: Seq[String] = Seq(
    "привет мир", "你好 世界", "γεια σου κόσμε", "مرحبا بالعالم")

  /** Deterministic raw-URL synthesis for the web_url_* gates: residues
    * of doc_id pick case/www/port/tracking/fragment variants so
    * canonicalization has real work on every branch, and the even/odd
    * host suffix splits registered domains between a co.uk-style
    * 3-label suffix and a plain 2-label one. Mirrored verbatim in
    * [[urlSqlExpr]]. */
  /** Source trust order for [[dedup_source_priority]]: listed best
    * first; everything else ranks after, (source, id)-tie-broken. */
  private val SourcePriority = Seq("src7", "src3", "src11")

  /** DuckDB twin of [[graft.operators.Dedup.priorityKeep]]'s rank. */
  private def prioritySql: String =
    "CASE source " + SourcePriority.zipWithIndex
      .map { case (sv, i) => s"WHEN '$sv' THEN $i" }
      .mkString(" ") + s" ELSE ${SourcePriority.size} END"

  private def urlExpr: Column = {
    val g5 = col("doc_id") % 5
    val g3 = col("doc_id") % 3
    val prefix = when(g5 === 0, lit("HTTP://WWW."))
      .when(g5 === 1, lit("https://www."))
      .when(g5 === 2, lit("https://"))
      .when(g5 === 3, lit("HTTPS://News."))
      .otherwise(lit("http://"))
    val hostSuffix = when(col("doc_id") % 2 === 0, lit(".Example.co.uk"))
      .otherwise(lit(".org"))
    val port = when(g5 === 0, lit(":80")).when(g5 === 1, lit(":443"))
      .when(g5 === 3, lit(":8080")).otherwise(lit(""))
    val path = when(g3 === 0, concat(lit("/a/"),
        (col("doc_id") % 10).cast("string"),
        lit("?utm_source=x&id="), (col("doc_id") % 7).cast("string"),
        lit("&utm_campaign=z#frag")))
      .when(g3 === 1, concat(lit("?fbclid="),
        (col("doc_id") % 2).cast("string")))
      .otherwise(lit("/"))
    concat(prefix, col("source"), hostSuffix, port, path)
  }

  /** DuckDB twin of [[urlExpr]]. */
  private val urlSqlExpr: String =
    """(CASE CAST(doc_id % 5 AS INT)
      |   WHEN 0 THEN 'HTTP://WWW.' WHEN 1 THEN 'https://www.'
      |   WHEN 2 THEN 'https://' WHEN 3 THEN 'HTTPS://News.'
      |   ELSE 'http://' END
      | || source
      | || CASE WHEN doc_id % 2 = 0 THEN '.Example.co.uk' ELSE '.org' END
      | || CASE CAST(doc_id % 5 AS INT)
      |   WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 3 THEN ':8080'
      |   ELSE '' END
      | || CASE CAST(doc_id % 3 AS INT)
      |   WHEN 0 THEN '/a/' || CAST(doc_id % 10 AS VARCHAR)
      |     || '?utm_source=x&id=' || CAST(doc_id % 7 AS VARCHAR)
      |     || '&utm_campaign=z#frag'
      |   WHEN 1 THEN '?fbclid=' || CAST(doc_id % 2 AS VARCHAR)
      |   ELSE '/' END)""".stripMargin

  /** Shared CTE chain mirroring Urls.canonicalize / host /
    * registeredDomain over the synthesized `url` (ends with relation
    * `dom(doc_id, url, url_canon, domain)`). */
  private val urlCtes: String =
    // the inner expression flattens to ONE line before interpolation:
    // its '||' continuation lines would otherwise be re-stripped as
    // margins by the outer stripMargin
    s"""WITH u AS (SELECT doc_id, ${urlSqlExpr.linesIterator.mkString(" ")} AS url FROM documents),
       |p AS (SELECT doc_id, url,
       |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$$', 1)) AS sch,
       |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+).*$$', 1)) AS hostport,
       |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$$', 1) AS rest0
       | FROM u),
       |q AS (SELECT doc_id, url, sch,
       |  regexp_replace(CASE WHEN sch = 'http'
       |      THEN regexp_replace(hostport, ':80$$', '')
       |    WHEN sch = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |    ELSE hostport END, '^www\\.', '') AS h,
       |  regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''),
       |    '^www\\.', '') AS hostonly,
       |  regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(rest0, '#.*$$', ''),
       |    '(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
       |    '\\?&', '?', 'g'), '[?&]+$$', '') AS rest2
       | FROM p),
       |c AS (SELECT doc_id, url, hostonly,
       |  sch || '://' || h ||
       |    CASE WHEN rest2 = '' THEN '/' ELSE rest2 END AS url_canon,
       |  string_split(hostonly, '.') AS ls FROM q),
       |dom AS (SELECT doc_id, url, url_canon,
       |  CASE WHEN len(ls) <= 1 OR regexp_matches(hostonly, '^[0-9.]+$$')
       |      THEN hostonly
       |    WHEN len(ls) >= 3 AND ls[-2] IN (${Urls.SecondLevelSuffixes
                .map("'" + _ + "'").mkString(",")})
       |      THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
       |    ELSE ls[-2] || '.' || ls[-1] END AS domain
       | FROM c)""".stripMargin

  // oracle generated from the SAME range/order tables the operator uses
  // (TextAnalysis.ScriptRanges, ScriptMarkers) — pattern text and argmax
  // order cannot drift between engine and oracle
  private lazy val scriptProfileOracle = {
    val m = ScriptMarkers
    val ranges = TextAnalysis.ScriptRanges
    val counts = ranges.map { case (n, p) =>
      s"CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS n_$n"
    }.mkString(",\n  ")
    val total = ranges.map { case (n, _) => s"n_$n" }.mkString(" + ")
    val g = s"GREATEST(${ranges.map { case (n, _) => s"n_$n" }.mkString(", ")})"
    val argmax = ranges.map { case (n, _) =>
      s"WHEN n_$n = $g THEN '$n'"
    }.mkString(" ")
    s"""WITH t2 AS (
       |  SELECT doc_id, text || ' ' || CASE CAST(doc_id % 4 AS INT)
       |    WHEN 0 THEN '${m(0)}' WHEN 1 THEN '${m(1)}'
       |    WHEN 2 THEN '${m(2)}' ELSE '${m(3)}' END AS t
       |  FROM documents),
       |c AS (SELECT doc_id, $counts FROM t2)
       |SELECT doc_id, ${ranges.map { case (n, _) => s"n_$n" }.mkString(", ")},
       |  CAST($total AS BIGINT) AS n_scripted,
       |  CASE WHEN $total = 0 THEN 'none' $argmax END AS dominant_script,
       |  CASE WHEN $total > 0
       |    THEN CAST($g AS DOUBLE) / ($total) END AS dominant_ratio
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Mixture rates by source; unlisted sources keep `MixDefault`%. */
  val MixRates: Seq[(String, Int)] =
    Seq("src0" -> 100, "src1" -> 80, "src2" -> 50, "src3" -> 20,
      "src4" -> 10, "src5" -> 5)
  val MixDefault = 25

  /** Shared train/eval split convention (also used by SketchOps'
    * decontaminate_bloom and the no-leak spec — one definition so the
    * splits can never drift apart). */
  def evalSplit(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
      .withColumn("__bucket", Sampling.hashBucket(col("doc_id"), EvalBuckets))
    (docs.filter(col("__bucket") =!= 0).drop("__bucket"),
      docs.filter(col("__bucket") === 0).drop("__bucket"))
  }

  val defs: Map[String, Q] = Map(
    // benchmark decontamination: training docs flagged by word-4-gram
    // overlap with the (hash-bucket-derived) eval set
    // Per-document n-gram novelty against the already-public reference
    // slice (source src0): the memorization-risk grade — near-copies of
    // reference material score low even when no dedup threshold fires.
    "text_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Decontaminate.noveltyReport(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          col("doc_id"), col("text"), k = 3)
        .select(col("__id").as("doc_id"), col("n_shingles"),
          col("n_known"), col("novelty"))
        .orderBy(col("doc_id"))
    }),

    "text_decontaminate" -> ((s, d) => {
      val (train, eval_) = evalSplit(s, d)
      Decontaminate.overlapReport(train, eval_, col("doc_id"), col("text"),
          DecontamK)
        .select(col("__id").as("doc_id"), col("n_overlap"),
          col("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // FUZZY decontamination: training docs near-duplicating an eval doc
    // at document-level 3-gram Jaccard >= 0.5 — the paraphrased-leak
    // control exact n-gram hits can't express; cross-corpus inverted-
    // index join, exact scores, fully oracle-checked
    "text_decontaminate_fuzzy" -> ((s, d) => {
      val (train, eval_) = evalSplit(s, d)
      Decontaminate.fuzzyPairs(train, eval_, col("doc_id"), col("text"),
          k = 3, tau = 0.5)
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // URL canonicalization: the fixture has no URL column, so each doc
    // derives a deterministic raw URL (case/port/www/tracking/fragment
    // variants keyed by doc_id residues — both engines build the same
    // string) and the operator must collapse the variants
    "web_url_canonicalize" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("url", urlExpr)
        .select(col("doc_id"), col("url"),
          Urls.canonicalize(col("url")).as("url_canon"),
          Urls.registeredDomain(Urls.host(col("url"))).as("domain"))
        .orderBy(col("doc_id"))
    }),

    // the crawl-dedup composition: collapse to one doc per CANONICAL
    // url (min doc_id — different raw spellings of one resource merge),
    // then cap every registered domain at 5 docs so no site dominates
    "web_url_dedup_cap" -> ((s, d) => {
      val canon = Tables.documents(s, d)
        .withColumn("url", urlExpr)
        .select(col("doc_id"),
          Urls.canonicalize(col("url")).as("url_canon"),
          Urls.registeredDomain(Urls.host(col("url"))).as("domain"))
      val kept = canon.groupBy(col("url_canon"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("domain")).as("domain"))
      Sampling.capPerGroup(kept, col("doc_id"), col("domain"), k = 5)
        .select(col("doc_id"), col("url_canon"), col("domain"))
        .orderBy(col("doc_id"))
    }),

    // cross-source survivorship: one doc per canonical URL, the copy
    // from the most-trusted source winning (src7 > src3 > src11 > the
    // rest) — the crawl-mixture hygiene rule min-id dedup can't express
    "dedup_source_priority" -> ((s, d) => {
      val canon = Tables.documents(s, d)
        .withColumn("url", urlExpr)
        .select(col("doc_id"), col("source"),
          Urls.canonicalize(col("url")).as("url_canon"))
      graft.operators.Dedup.priorityKeep(canon, "doc_id",
          col("url_canon"), "source", SourcePriority)
        .orderBy(col("doc_id"))
    }),

    // the dataset data card: per-source AND overall corpus stats in ONE
    // rollup pass — doc/token/char volume, language breadth, exact
    // duplicate rate, exact interpolated token-length quantiles. The
    // single-scan rollup is the point: a 100 TB corpus gets its release
    // documentation from one aggregation, not a stats query per source.
    "profile_data_card" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .rollup(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars_total"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          (lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
            count(lit(1))).as("exact_dup_rate"),
          percentile(col("n_toks"), lit(0.5)).as("p50_tokens"),
          percentile(col("n_toks"), lit(0.95)).as("p95_tokens"))
        .orderBy(col("source").asc_nulls_first)
    }),

    // the full RefinedWeb-shaped extraction pipeline as ONE declarative
    // plan: raw (url, html) -> markup strip -> normalize -> quality gate
    // (token count) -> canonical-URL dedup -> exact-content dedup ->
    // cleaned corpus. Every stage is the already-gated operator; the
    // value of the query is the composition — one optimizer pass plans
    // the whole pipeline, and the oracle replays it stage by stage.
    "pipeline_web_corpus" -> ((s, d) => {
      val raw = Tables.documents(s, d)
        .withColumn("url", urlExpr)
        .withColumn("html", concat(lit("<html><body><p>"), col("text"),
          lit("</p><script>track();</script></body></html>")))
      val stripped = Scrub.stripMarkup(raw, col("html"))
      // fence text_norm: the token-count gate below would otherwise push
      // the ENTIRE strip+normalize regex chain into the parquet scan as
      // a DataFilter (PlanDump-verified) and run it twice per row
      val normed = Scrub.normalize(stripped, col("text_plain"))
        .withColumn("text_norm", Dedup.fence(col("text_norm")))
      // quality gate: >= 5 whitespace tokens post-normalization
      val gated = normed.filter(
        size(split(col("text_norm"), " ")) >= 5)
      // one survivor per CANONICAL url (min doc_id). The dedup stages
      // below are SELF-joins — without a materialization barrier each
      // branch re-executes the whole strip+normalize chain (PlanDump
      // showed it three times); localCheckpoint computes the cleaned
      // intermediate once, exactly where a production pipeline would
      // persist it
      val canon = gated.withColumn("url_canon",
          Urls.canonicalize(col("url")))
        .select(col("doc_id"), col("url_canon"), col("text_norm"))
        .pinned()
      val urlKept = canon.join(
        canon.groupBy(col("url_canon")).agg(min(col("doc_id")).as("doc_id")),
        Seq("doc_id", "url_canon"), "left_semi")
      // then one survivor per distinct cleaned CONTENT
      Dedup.exactKeep(urlKept, "doc_id", "text_norm")
        .select(col("doc_id"), col("url_canon"),
          length(col("text_norm")).cast("long").as("n_chars_clean"))
        .orderBy(col("doc_id"))
    }),

    // Unicode-script profile: per-script char counts over portable
    // codepoint-range classes + deterministic dominant-script argmax.
    // The fixture text plus a per-doc planted non-Latin suffix keyed by
    // doc_id exercises every branch of the argmax cross-engine.
    "text_script_profile" -> ((s, d) => {
      val planted = concat(col("text"), lit(" "),
        element_at(typedlit(ScriptMarkers), (col("doc_id") % 4 + 1).cast("int")))
      TextAnalysis.scriptProfile(
          Tables.documents(s, d).withColumn("text", planted),
          "doc_id", col("text"))
        .select(col("doc_id"), col("n_latin"), col("n_greek"),
          col("n_cyrillic"), col("n_arabic"), col("n_devanagari"),
          col("n_cjk"), col("n_hangul"), col("n_scripted"),
          col("dominant_script"), col("dominant_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style duplicate-chunk fraction: the fixture text plus its
    // own first 16 words appended twice — planted block repetition both
    // engines construct identically, so the fraction math is gated on
    // real duplicates, not a column of zeros
    "quality_dup_chunks" -> ((s, d) => {
      val ws16 = array_join(slice(split(col("text"), " "), 1, 16), " ")
      val t2 = concat_ws(" ", col("text"), ws16, ws16)
      TextAnalysis.dupChunkStats(
          Tables.documents(s, d).withColumn("text", t2),
          "doc_id", col("text"))
        .select(col("doc_id"), col("n_chunks"), col("n_distinct_chunks"),
          col("dup_chunk_frac"))
        .orderBy(col("doc_id"))
    }),

    // compression-ratio quality signal (DEFLATE bytes / raw bytes):
    // rows-only — no SQL engine reproduces DEFLATE; semantics pinned in
    // QualitySpec (repetitive << prose, monotone under repetition)
    "quality_compress_ratio" -> ((s, d) => {
      TextAnalysis.compressionStats(Tables.documents(s, d), "doc_id",
          col("text"))
        .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
          col("compress_ratio"), col("passes_compression"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition stats + filter verdict per doc
    "quality_repetition" -> ((s, d) => {
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id",
          col("text"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
          col("n_2gram"), col("top_2gram"), col("dup_2gram"),
          col("n_3gram"), col("top_3gram"), col("dup_3gram"),
          col("distinct_ratio"), col("top_2gram_frac"),
          col("dup_3gram_frac"), col("passes_repetition"))
        .orderBy(col("doc_id"))
    }),

    // Keyed pseudonymization preserving referential integrity: customer
    // names become salted md5 tokens, and the orders join + group-by
    // still computes correctly ON the pseudonymized key — the PII
    // control that keeps joins alive where redaction would kill them.
    "pii_pseudonymize" -> ((s, d) => {
      val cust = graft.operators.Scrub.pseudonymize(
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
        Seq("c_name"), salt = "k1")
      Tables.orders(s, d)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("c_nationkey")).as("c_nationkey"))
        .orderBy(col("c_name"))
    }),

    // PII scrub over text + a deterministic doc_id-derived PII footer
    // (the fixtures' text is pure words; the footer plants one email,
    // one IPv4, and one long digit run per doc so every rule fires)
    // blocklist phrase report via the codegen'd Aho-Corasick pass: one
    // text scan for the whole phrase list, every (pattern, start)
    // occurrence counted — overlapping phrases ("table scan"/"scan
    // merge" share 'scan'), self-overlap ("batch batch" in "batch
    // batch batch" = 2), and sub-word matches ('an' inside 'scan') all
    // exercised; the oracle replays it as a substring-position scan
    "text_blocklist_hits" -> ((s, d) => {
      Scrub.blocklistHits(Tables.documents(s, d), col("doc_id"),
          col("text"), Seq("table scan", "scan merge", "batch batch",
            "an", "merge slow"))
        .orderBy(col("doc_id"), col("phrase"))
    }),

    "pii_scrub" -> ((s, d) => {
      val withPii = Tables.documents(s, d).withColumn("text2",
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 10).cast("string"), lit(" id "),
          (col("doc_id") + 100000).cast("string")))
      Scrub.redact(withPii, col("text2"))
        .select(col("doc_id"), col("n_email"), col("n_ipv4"),
          col("n_digits"), length(col("text_clean")).as("len_clean"),
          col("text_clean"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance weighting: rank every document by how 'de'-like
    // its hashed-bigram distribution is (fixed-point smoothed frequency
    // ratios — fully oracle-exact, see Sampling.importanceScores)
    "sample_dsir_importance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Sampling.importanceScores(docs, docs.filter(col("lang") === "de"),
          "doc_id", col("text"), buckets = 256)
        .orderBy(col("doc_id"))
    }),

    // corpus normalization gate: NFC + casefold + whitespace collapse.
    // The fixture is ASCII (NFC = identity there — the unicode paths are
    // spec'd in ScrubSpec with composed/decomposed literals); the gate
    // pins the lowercase/whitespace/trim composition cross-engine.
    "text_normalize" -> ((s, d) => {
      Scrub.normalize(Tables.documents(s, d),
          concat(lit("  MIXED Case\t"), col("text"), lit("  ")))
        .select(col("doc_id"), col("text_norm"),
          length(col("text_norm")).cast("long").as("n_chars_norm"))
        .orderBy(col("doc_id"))
    }),

    // web-corpus markup stripping: the fixture text is wrapped in a
    // deterministic HTML shell (tags + comment + script + entities) and
    // the operator must recover exactly "Title <text> & more" — script
    // bodies dropped, entities decoded, whitespace collapsed
    "text_strip_markup" -> ((s, d) => {
      val html = concat(
        lit("<html><head><style>p{color:red}</style></head>" +
          "<body>\n<h1>Title</h1>\n<p class=\"x\">"),
        col("text"),
        lit(" &amp; more</p><!-- boilerplate -->" +
          "<script>var x = 1 < 2;</script></body></html>"))
      Scrub.stripMarkup(Tables.documents(s, d), html)
        .select(col("doc_id"), col("text_plain"),
          length(col("text_plain")).cast("long").as("n_chars_plain"))
        .orderBy(col("doc_id"))
    }),

    // weighted mixture sampling: per-source deterministic keep rates
    "mix_weighted_sample" -> ((s, d) => {
      Sampling.weightedKeep(Tables.documents(s, d), col("doc_id"),
          col("source"), MixRates, MixDefault)
        .groupBy(col("source"))
        .agg(min(col("keep_rate")).as("keep_rate"),
          count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // exact-k global uniform sample (distributed reservoir analogue):
    // md5-order TakeOrderedAndProject — only partition-local k-heaps
    // move, no global sort; the kept id set oracle-checks exactly
    "sample_reservoir_k" -> ((s, d) => {
      Sampling.reservoirK(Tables.documents(s, d), col("doc_id"), k = 100)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // per-source cap: at most 8 docs per source, md5-rank selected —
    // deterministic cross-engine, so the kept id set oracle-checks
    "sample_cap_per_source" -> ((s, d) => {
      Sampling.capPerGroup(Tables.documents(s, d), col("doc_id"),
          col("source"), k = 8)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // exact class balancing: a 4:2:1-skewed deterministic label, every
    // class downsampled to the minority count under the md5 draw order
    // — the kept id set oracle-checks exactly
    "sample_class_balance" -> ((s, d) => {
      val labeled = Tables.documents(s, d).withColumn("label",
        when(col("doc_id") % 7 < 4, "a")
          .when(col("doc_id") % 7 < 6, "b").otherwise("c"))
      Sampling.classBalance(labeled, col("doc_id"), col("label"))
        .select(col("doc_id"), col("label"))
        .orderBy(col("doc_id"))
    }),

    // corpus-wide sentence dedup, first occurrence kept (RefinedWeb
    // line-dedup at sentence granularity): punctuation first derived
    // deterministically (period after every 'table'), then every later
    // copy of a sentence removed and docs reassembled in order
    "dedup_sentences_first" -> ((s, d) => {
      Dedup.dedupSentencesKeepFirst(Tables.documents(s, d), "doc_id",
          regexp_replace(col("text"), "\\btable\\b", "table."))
        .orderBy(col("doc_id"))
    }),

    // corpus-level boilerplate-span removal (C4-style line dedup over
    // 3-token spans; spans in >= 5 distinct docs are dropped)
    "dedup_spans_corpus" -> ((s, d) => {
      Dedup.dropBoilerplateSpans(Tables.documents(s, d), "doc_id",
          col("text"), SpanTokens, SpanMinDocs)
        .orderBy(col("doc_id"))
    }),

    // heavy hitters via the native bounded-memory Misra-Gries aggregate;
    // k=64 >= the fixture vocabulary, so counts are exact and the query
    // oracle-checks against a plain GROUP BY (the sketch guarantee for
    // k < |domain| is spec'd in HeavyHittersSpec)
    "heavy_hitters_tokens" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .agg(graft.functions.HeavyHitters.misra_gries_topk(col("term"), 64)
          .as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.term").as("term"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
    }),

    // corpus-frequency quality stats (integral CCNet-perplexity proxy)
    "quality_corpus_freq" -> ((s, d) => {
      TextAnalysis.corpusFrequencyStats(Tables.documents(s, d), "doc_id",
          col("text"))
        .orderBy(col("doc_id"))
    }),

    // equal-count length buckets without a single-partition NTILE window
    "length_buckets" -> ((s, d) => {
      graft.operators.Packing.lengthBuckets(Tables.documents(s, d),
          col("n_chars"), col("doc_id"), nBuckets = 8)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket"))
    }),

    // fixed-token-window chunking with overlap (chunk 24, stride 16 —
    // map-side fan-out, chunk text + offsets fully oracle-checkable)
    "chunk_documents" -> ((s, d) => {
      graft.operators.Packing.chunkByTokens(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("text"), chunkTokens = 24, strideTokens = 16)
        .select(col("doc_id"), col("chunk_id"), col("start_token"),
          col("n_chunk_tokens"), col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // sentence-boundary-aware chunking: sentences never split; a
    // sentence joins the chunk its FIRST token's offset falls in
    // (greedy 16-token budget), punctuation derived as in
    // dedup_sentences_first — the RAG-prep layout
    "chunk_sentences" -> ((s, d) => {
      graft.operators.Packing.chunkBySentences(Tables.documents(s, d),
          "doc_id",
          regexp_replace(col("text"), "\\btable\\b", "table."),
          budgetTokens = 16)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // chunk -> reassemble roundtrip: non-overlapping token chunks merged
    // back in chunk_id order must reproduce every document byte-exactly
    // — the invertibility proof for the chunking pipeline (a chunk lost,
    // duplicated, reordered, or boundary-clipped anywhere breaks it).
    "chunk_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val chunks = graft.operators.Packing.chunkByTokens(
        docs, col("text"), chunkTokens = 16, strideTokens = 16)
      graft.operators.Packing.mergeChunks(
          chunks.select(col("doc_id"), col("chunk_id"), col("chunk_text")),
          "doc_id")
        .orderBy(col("doc_id"))
    }),

    // proportional stratified sample: EXACTLY ceil(30% of each source)
    "sample_stratified" -> ((s, d) => {
      Sampling.stratifiedSample(Tables.documents(s, d), col("doc_id"),
          col("source"), pct = 30)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // temperature-scaled mixture weights (alpha = 0.5): source share
    // proportional to sqrt(n_docs) — the standard down-weighting of
    // giant crawl sources when mixing training corpora. Weights go
    // FIXED-POINT immediately (floor(sqrt(n) * 1e6) — IEEE sqrt and one
    // multiply are bit-deterministic, and integer weights make the
    // total ASSOCIATIVE; a double sum would drift with aggregation
    // order), so shares and targets are exact integer division
    "mix_temperature_weights" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("weight_x1e6",
          floor(sqrt(col("n_docs").cast("double")) * lit(1e6))
            .cast("long"))
      val tot = counts.agg(sum(col("weight_x1e6")).as("__tw"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("weight_x1e6"),
          expr("weight_x1e6 * 1000000 DIV __tw").as("share_x1e6"),
          expr("weight_x1e6 * 100000 DIV __tw").as("target_docs"))
        .orderBy(col("source"))
    }),

    // mixture materialization: per-source replication factors (1x /
    // 1.75x / 2.5x by source hash) realized as exact copy multisets —
    // floor(f) copies + one more iff the doc's md5 draw lands under
    // frac(f). Map-only at any scale, bit-identical across engines
    "mix_epoch_oversample" -> ((s, d) => {
      val f = lit(1000000L) +
        graft.operators.Sampling.hashBucket(col("source"), 3) * 750000L
      graft.operators.Sampling.epochOversample(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          col("doc_id"), f)
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),

    // WFQ mixture schedule: the deterministic load-time interleave —
    // src0 weighted 4x, src1 2x, the rest 1x; every source appears in
    // weight proportion over every prefix of the merged order, and the
    // whole schedule (virtual times + global positions) is integer-
    // exact against the oracle replay.
    "mix_interleave_schedule" -> ((s, d) => {
      graft.operators.Sampling.interleaveByWeight(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          col("doc_id"), col("source"),
          weights = Map("src0" -> 4, "src1" -> 2))
        .select(col("doc_id"), col("source"), col("vt"), col("pos"))
        .orderBy(col("pos"))
    }),

    // cross-source quantile normalization: each doc's length metric is
    // replaced by the pooled value at the same relative rank, so every
    // source leaves with the pooled distribution and one threshold
    // means the same thing everywhere (Sampling.quantileNormalize)
    "mix_quantile_normalize" -> ((s, d) => {
      graft.operators.Sampling.quantileNormalize(Tables.documents(s, d),
          col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("id"))
    }),

    // token-budget sampling: walk documents in the deterministic
    // md5-draw order and keep while the EXACT running token total stays
    // within budget — the "give me ~1M tokens, reproducibly" primitive.
    // The running total is the distributed prefix sum (no global window)
    "sample_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("h", md5(col("doc_id").cast("string")))
      val cum = graft.operators.Ids.prefixSum(docs,
        Seq(col("h"), col("doc_id")), col("n_tok"), "cum_tok")
      cum.filter(col("cum_tok") <= lit(200000L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          max(col("cum_tok")).as("max_cum"))
        .orderBy(col("source"))
    }),

    // probability-proportional-to-size sampling: each lineitem keeps
    // with probability l_quantity/50 (deterministic md5-nibble draw) —
    // heavy rows oversampled, map-only, no shuffle before the summary agg
    "sample_pps_lineitem" -> ((s, d) => {
      val li = Tables.lineitem(s, d).withColumn("lid",
        col("l_orderkey") * lit(10L) + col("l_linenumber"))
      Sampling.ppsKeep(li, col("lid"), col("l_quantity"), den = 50)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          min(col("lid")).as("min_lid"), max(col("lid")).as("max_lid"))
        .orderBy(col("l_returnflag"))
    }),

    // fixed-point int8 embedding quantization, integral summary per vec
    "embed_quantize" -> ((s, d) => {
      val q = graft.operators.Similarity
        .quantizeFixedPoint(col("embedding"), fracBits = 6)
      Tables.embeddings(s, d)
        .select(col("vec_id"), q.as("qv"))
        .select(col("vec_id"), size(col("qv")).as("n_dims"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("sum_q"),
          array_min(col("qv")).as("min_q"),
          array_max(col("qv")).as("max_q"),
          graft.functions.VectorFunctions.vec_dot_long(col("qv"), col("qv"))
            .as("ssq_q"),
          size(filter(col("qv"), x => x === 127L || x === -128L))
            .as("n_sat"))
        .orderBy(col("vec_id"))
    })
  )

  /** DuckDB word-k-gram list over `string_split(text,' ')` — the same
    * semantics as TextAnalysis.shingles (empty when fewer than k tokens). */
  private[queries] def duckGrams(k: Int,
      wsExpr: String = "string_split(text,' ')")
      : String = {
    val parts = (0 until k).map(j => s"$wsExpr[i+$j]").mkString(" || ' ' || ")
    s"list_transform(range(1, greatest(len($wsExpr) - ${k - 2}, 1)), i -> $parts)"
  }

  private val bucket20 = Sampling.hashBucketSql("doc_id", EvalBuckets)

  private def decontaminateOracle: String =
    s"""WITH hx AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |b AS (SELECT doc_id, text, $bucket20 AS bucket FROM hx),
       |ev AS (SELECT DISTINCT UNNEST(${duckGrams(DecontamK)}) AS shingle
       |  FROM b WHERE bucket = 0),
       |tr AS (SELECT DISTINCT doc_id,
       |    UNNEST(${duckGrams(DecontamK)}) AS shingle
       |  FROM b WHERE bucket != 0),
       |hits AS (SELECT tr.doc_id, COUNT(*) AS n_overlap
       |  FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id)
       |SELECT b.doc_id, COALESCE(hits.n_overlap, 0) AS n_overlap,
       |  COALESCE(hits.n_overlap, 0) > 0 AS contaminated
       |FROM b LEFT JOIN hits ON b.doc_id = hits.doc_id
       |WHERE b.bucket != 0 ORDER BY b.doc_id""".stripMargin

  private def repetitionOracle: String = {
    def stats(n: Int): String =
      s"""g$n AS (SELECT doc_id, UNNEST(${duckGrams(n, "w")}) AS gram
         |  FROM ws),
         |c$n AS (SELECT doc_id, gram, COUNT(*) AS c FROM g$n GROUP BY 1, 2),
         |s$n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_${n}gram,
         |    MAX(c) AS top_${n}gram,
         |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         |      AS dup_${n}gram
         |  FROM c$n GROUP BY doc_id)""".stripMargin
    s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
       |  FROM documents),
       |base AS (SELECT doc_id, len(w) AS n_tokens,
       |  len(list_distinct(w)) AS n_distinct_tokens FROM ws),
       |${stats(2)},
       |${stats(3)},
       |j AS (SELECT base.doc_id, n_tokens, n_distinct_tokens,
       |  COALESCE(n_2gram, 0) AS n_2gram, COALESCE(top_2gram, 0) AS top_2gram,
       |  COALESCE(dup_2gram, 0) AS dup_2gram,
       |  COALESCE(n_3gram, 0) AS n_3gram, COALESCE(top_3gram, 0) AS top_3gram,
       |  COALESCE(dup_3gram, 0) AS dup_3gram
       |  FROM base LEFT JOIN s2 ON base.doc_id = s2.doc_id
       |  LEFT JOIN s3 ON base.doc_id = s3.doc_id)
       |SELECT doc_id, n_tokens, n_distinct_tokens, n_2gram, top_2gram,
       |  dup_2gram, n_3gram, top_3gram, dup_3gram,
       |  CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS distinct_ratio,
       |  CASE WHEN n_2gram > 0 THEN CAST(top_2gram AS DOUBLE) / n_2gram
       |    ELSE CAST(0 AS DOUBLE) END AS top_2gram_frac,
       |  CASE WHEN n_3gram > 0 THEN CAST(dup_3gram AS DOUBLE) / n_3gram
       |    ELSE CAST(0 AS DOUBLE) END AS dup_3gram_frac,
       |  (CAST(n_distinct_tokens AS DOUBLE) / n_tokens > 0.2
       |    AND (CASE WHEN n_2gram > 0 THEN CAST(top_2gram AS DOUBLE) / n_2gram
       |      ELSE CAST(0 AS DOUBLE) END) <= 0.2
       |    AND (CASE WHEN n_3gram > 0 THEN CAST(dup_3gram AS DOUBLE) / n_3gram
       |      ELSE CAST(0 AS DOUBLE) END) <= 0.6) AS passes_repetition
       |FROM j ORDER BY doc_id""".stripMargin
  }

  private def piiOracle: String = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val digits = "[0-9]{6,}"
    s"""WITH t0 AS (SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@example.com from 10.0.'
       |      || CAST(doc_id % 256 AS VARCHAR) || '.'
       |      || CAST(doc_id % 10 AS VARCHAR) || ' id '
       |      || CAST(doc_id + 100000 AS VARCHAR) AS t
       |  FROM documents),
       |t1 AS (SELECT doc_id, t,
       |    len(regexp_extract_all(t, '$email')) AS n_email,
       |    regexp_replace(t, '$email', '<EMAIL>', 'g') AS t_e FROM t0),
       |t2 AS (SELECT doc_id, n_email,
       |    len(regexp_extract_all(t_e, '$ipv4')) AS n_ipv4,
       |    regexp_replace(t_e, '$ipv4', '<IP>', 'g') AS t_i FROM t1),
       |t3 AS (SELECT doc_id, n_email, n_ipv4,
       |    len(regexp_extract_all(t_i, '$digits')) AS n_digits,
       |    regexp_replace(t_i, '$digits', '<NUM>', 'g') AS text_clean
       |  FROM t2)
       |SELECT doc_id, n_email, n_ipv4, n_digits,
       |  length(text_clean) AS len_clean, text_clean
       |FROM t3 ORDER BY doc_id""".stripMargin
  }

  private def mixOracle: String = {
    val rateCase = MixRates
      .map { case (g, r) => s"WHEN source = '$g' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $MixDefault END")
    s"""WITH hx AS (SELECT doc_id, source,
       |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       |b AS (SELECT doc_id, source, $rateCase AS keep_rate,
       |    ${Sampling.hashBucketSql("doc_id", 100)} AS bucket FROM hx)
       |SELECT source, MIN(keep_rate) AS keep_rate, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN bucket < keep_rate THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept
       |FROM b GROUP BY source ORDER BY source""".stripMargin
  }

  private def spansOracle: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
       |  FROM documents),
       |sp AS (SELECT doc_id,
       |    UNNEST(range(0, len(range(1, len(w) + 1, $SpanTokens)))) AS pos,
       |    UNNEST(list_transform(range(1, len(w) + 1, $SpanTokens),
       |      st -> array_to_string(w[st:st+${SpanTokens - 1}], ' '))) AS span
       |  FROM ws),
       |hot AS (SELECT span FROM sp GROUP BY span
       |  HAVING COUNT(DISTINCT doc_id) >= $SpanMinDocs),
       |kept AS (SELECT sp.* FROM sp ANTI JOIN hot ON sp.span = hot.span),
       |re AS (SELECT doc_id, COUNT(*) AS n_spans_kept,
       |    string_agg(span, ' ' ORDER BY pos) AS text_clean
       |  FROM kept GROUP BY doc_id)
       |SELECT ws.doc_id,
       |  CAST(len(range(1, len(w) + 1, $SpanTokens)) AS BIGINT) AS n_spans,
       |  COALESCE(re.n_spans_kept, 0) AS n_spans_kept,
       |  COALESCE(re.text_clean, '') AS text_clean
       |FROM ws LEFT JOIN re ON ws.doc_id = re.doc_id
       |ORDER BY ws.doc_id""".stripMargin

  private def quantizeOracle: String = {
    val q = "list_transform(embedding, x -> GREATEST(-128, LEAST(127, " +
      "CAST(FLOOR(CAST(x AS DOUBLE) * 64) AS BIGINT))))"
    s"""WITH qv AS (SELECT vec_id, $q AS q FROM embeddings)
       |SELECT vec_id, len(q) AS n_dims,
       |  CAST(list_sum(q) AS BIGINT) AS sum_q,
       |  list_aggregate(q, 'min') AS min_q,
       |  list_aggregate(q, 'max') AS max_q,
       |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS ssq_q,
       |  len(list_filter(q, x -> x = 127 OR x = -128)) AS n_sat
       |FROM qv ORDER BY vec_id""".stripMargin
  }

  private def corpusFreqOracle: String =
    """WITH t AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS token
      |  FROM documents),
      |f AS (SELECT token, COUNT(*) AS tf FROM t GROUP BY token)
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(tf) AS BIGINT) AS sum_freq,
      |  MIN(tf) AS min_freq, MAX(tf) AS max_freq,
      |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(CAST(SUM(tf) AS BIGINT) AS DOUBLE) / COUNT(*)
      |    AS mean_token_freq
      |FROM t JOIN f USING (token)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  private def lengthBucketsOracle: String =
    """WITH r AS (SELECT doc_id, n_chars,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS rn
      |  FROM documents),
      |b AS (SELECT n_chars,
      |    CAST((rn * 8) // (SELECT COUNT(*) FROM documents) AS INT) AS bucket
      |  FROM r)
      |SELECT bucket, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
      |  MAX(n_chars) AS max_chars
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  val oracles: Map[String, String] = Map(
    // same (value, source, id) pooled order, same ceil(r*N/ns) type-1
    // quantile index
    "mix_quantile_normalize" ->
      """WITH base AS (
        |  SELECT doc_id AS id, source, CAST(n_chars AS DECIMAL(12,4))
        |    AS value
        |  FROM documents WHERE n_chars IS NOT NULL
        |), ranked AS (
        |  SELECT id, source, value,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY value, id) AS r,
        |    COUNT(*) OVER (PARTITION BY source) AS ns,
        |    COUNT(*) OVER () AS n
        |  FROM base
        |), pooled AS (
        |  SELECT value AS normalized,
        |    ROW_NUMBER() OVER (ORDER BY value, source, id) AS gidx
        |  FROM base
        |)
        |SELECT rk.id, rk.source,
        |  CAST(CAST(rk.value AS VARCHAR) AS DOUBLE) AS value,
        |  CAST(CAST(p.normalized AS VARCHAR) AS DOUBLE) AS normalized
        |FROM ranked rk JOIN pooled p
        |  ON p.gidx = (CAST(rk.r AS HUGEINT) * rk.n + rk.ns - 1) // rk.ns
        |ORDER BY rk.id""".stripMargin,
    "heavy_hitters_tokens" ->
      """SELECT term, COUNT(*) AS cnt FROM (
        |  SELECT UNNEST(string_split(text,' ')) AS term FROM documents)
        |GROUP BY term ORDER BY cnt DESC, term""".stripMargin,
    "sample_reservoir_k" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    "sample_cap_per_source" ->
      """WITH r AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rk <= 8
        |ORDER BY doc_id""".stripMargin,

    // same skewed label rule, same md5 per-class draw, cut at the
    // minority class count
    "sample_class_balance" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 < 4 THEN 'a'
        |         WHEN doc_id % 7 < 6 THEN 'b' ELSE 'c' END AS label
        |  FROM documents
        |), k AS (
        |  SELECT MIN(n) AS k FROM
        |    (SELECT COUNT(*) AS n FROM l GROUP BY label)
        |), r AS (
        |  SELECT doc_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM l
        |)
        |SELECT doc_id, label FROM r, k WHERE rk <= k
        |ORDER BY doc_id""".stripMargin,

    // same segmentation, running token offsets, before-div-budget cut
    "chunk_sentences" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    regexp_replace(coalesce(text, ''), '\btable\b', 'table.',
        |      'g') AS t
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]*') AS l
        |  FROM p
        |), e AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS sent_idx,
        |    unnest(l) AS s
        |  FROM m
        |), sn AS (
        |  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
        |    trim(s) AS sentence
        |  FROM e WHERE length(trim(s)) > 0
        |), t2 AS (
        |  SELECT doc_id, sent_idx, sentence,
        |    CAST(len(string_split(sentence, ' ')) AS BIGINT) AS nt
        |  FROM sn
        |), c AS (
        |  SELECT doc_id, sent_idx, sentence, nt,
        |    CAST((SUM(nt) OVER (PARTITION BY doc_id ORDER BY sent_idx
        |      ROWS UNBOUNDED PRECEDING) - nt) // 16 AS INT) AS chunk_id
        |  FROM t2
        |)
        |SELECT doc_id, chunk_id, COUNT(*) AS n_sents,
        |  CAST(SUM(nt) AS BIGINT) AS n_chunk_tokens,
        |  string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text
        |FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin,

    // same partition-of-the-text segmentation as text_sentences, then
    // rank-1-per-sentence by (doc_id, sent_idx) and in-order reassembly
    "dedup_sentences_first" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    regexp_replace(coalesce(text, ''), '\btable\b', 'table.',
        |      'g') AS t
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]*') AS l
        |  FROM p
        |), e AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS sent_idx,
        |    unnest(l) AS s
        |  FROM m
        |), sn AS (
        |  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
        |    trim(s) AS sentence
        |  FROM e WHERE length(trim(s)) > 0
        |), f AS (
        |  SELECT doc_id, sent_idx, sentence,
        |    ROW_NUMBER() OVER (PARTITION BY sentence
        |      ORDER BY doc_id, sent_idx) AS rk
        |  FROM sn
        |), reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(sentence, ' ' ORDER BY sent_idx) AS text_clean
        |  FROM f WHERE rk = 1 GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, COUNT(*) AS n_sents FROM sn GROUP BY doc_id
        |)
        |SELECT t.doc_id, t.n_sents,
        |  coalesce(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        |  coalesce(r.text_clean, '') AS text_clean
        |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "chunk_roundtrip" ->
      """SELECT doc_id, text FROM documents ORDER BY doc_id""".stripMargin,

    "chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST((g - 1) / 16 AS INT) AS chunk_id,
        |  CAST(g AS INT) AS start_token,
        |  CAST(LEAST(24, len(ws) - g + 1) AS INT) AS n_chunk_tokens,
        |  array_to_string(list_slice(ws, g, g + 23), ' ') AS chunk_text
        |FROM t, UNNEST(generate_series(1, len(ws), 16)) AS u(g)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "sample_stratified" ->
      """WITH r AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE (rk - 1) * 100 < n * 30
        |ORDER BY doc_id""".stripMargin,
    "mix_temperature_weights" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS weight_x1e6
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(weight_x1e6) AS BIGINT) AS tw FROM c)
        |SELECT source, n_docs, weight_x1e6,
        |  weight_x1e6 * 1000000 // tw AS share_x1e6,
        |  weight_x1e6 * 100000 // tw AS target_docs
        |FROM c, t ORDER BY source""".stripMargin,

    // same per-source md5 rank, same integer virtual-finish times,
    // same (vt, source, id) merge order
    "mix_interleave_schedule" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    md5(concat('1:', CAST(doc_id AS VARCHAR))) AS h,
        |    CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2
        |      ELSE 1 END AS w
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
        |      AS rk, w
        |  FROM b
        |), v AS (
        |  SELECT doc_id, source,
        |    CAST((rk * 1048576) // w AS BIGINT) AS vt
        |  FROM r
        |)
        |SELECT doc_id, source, vt,
        |  CAST(ROW_NUMBER() OVER (ORDER BY vt, source, doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM v ORDER BY pos""".stripMargin,

    "sample_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM d)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MAX(cum_tok) AS max_cum
        |FROM c WHERE cum_tok <= 200000
        |GROUP BY source ORDER BY source""".stripMargin,

    "sample_pps_lineitem" -> {
      val lid = "l_orderkey * 10 + l_linenumber"
      s"""WITH k AS (SELECT l_returnflag, l_quantity, $lid AS lid,
         |    md5(CAST($lid AS VARCHAR)) AS h
         |  FROM lineitem),
         |f AS (SELECT * FROM k
         |  WHERE ${Sampling.hashBucketSql("lid", 50)} < l_quantity)
         |SELECT l_returnflag, COUNT(*) AS n_kept,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  MIN(lid) AS min_lid, MAX(lid) AS max_lid
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "quality_corpus_freq" -> corpusFreqOracle,
    "length_buckets" -> lengthBucketsOracle,
    "text_novelty" ->
      s"""WITH tr AS (
         |  SELECT doc_id, text FROM documents WHERE source <> 'src0'
         |), rf AS (SELECT text FROM documents WHERE source = 'src0'),
         |ts AS (
         |  SELECT DISTINCT doc_id, UNNEST(${TextDedup.duckShingles})
         |    AS shingle
         |  FROM tr
         |), rs AS (
         |  SELECT DISTINCT UNNEST(${TextDedup.duckShingles}) AS shingle
         |  FROM rf
         |), tot AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM ts GROUP BY doc_id
         |), kn AS (
         |  SELECT ts.doc_id, COUNT(*) AS n_known
         |  FROM ts JOIN rs USING (shingle) GROUP BY ts.doc_id
         |)
         |SELECT tr.doc_id,
         |  CAST(COALESCE(tot.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(kn.n_known, 0) AS BIGINT) AS n_known,
         |  CASE WHEN COALESCE(tot.n_shingles, 0) > 0
         |    THEN CAST(1.0 AS DOUBLE)
         |      - CAST(COALESCE(kn.n_known, 0) AS DOUBLE)
         |        / CAST(tot.n_shingles AS DOUBLE) END AS novelty
         |FROM tr LEFT JOIN tot USING (doc_id) LEFT JOIN kn USING (doc_id)
         |ORDER BY tr.doc_id""".stripMargin,

    "text_decontaminate" -> decontaminateOracle,
    "text_decontaminate_fuzzy" ->
      s"""WITH hx AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |b AS (SELECT doc_id, text, $bucket20 AS bucket FROM hx),
         |tsh AS (SELECT DISTINCT doc_id, UNNEST(${duckGrams(3)}) AS shingle
         |  FROM b WHERE bucket != 0),
         |esh AS (SELECT DISTINCT doc_id, UNNEST(${duckGrams(3)}) AS shingle
         |  FROM b WHERE bucket = 0),
         |tc AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
         |ec AS (SELECT doc_id, COUNT(*) AS n FROM esh GROUP BY doc_id),
         |pairs AS (
         |  SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
         |    COUNT(*) AS n_inter
         |  FROM tsh t JOIN esh e ON t.shingle = e.shingle
         |  GROUP BY 1, 2)
         |SELECT train_id, eval_id, n_inter, tc.n AS n_train,
         |  ec.n AS n_eval,
         |  CAST(n_inter AS DOUBLE) / (tc.n + ec.n - n_inter) AS jaccard
         |FROM pairs
         |JOIN tc ON train_id = tc.doc_id
         |JOIN ec ON eval_id = ec.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / (tc.n + ec.n - n_inter) >= 0.5
         |ORDER BY train_id, eval_id""".stripMargin,
    "quality_repetition" -> repetitionOracle,
    "pii_pseudonymize" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    'p_' || substring(md5('k1:' || c_name), 1, 16) AS c_name,
        |    c_nationkey
        |  FROM customer
        |)
        |SELECT c_name, COUNT(*) AS n_orders,
        |  MAX(c_nationkey) AS c_nationkey
        |FROM orders JOIN c ON o_custkey = c_custkey
        |GROUP BY c_name ORDER BY c_name""".stripMargin,

    "pii_scrub" -> piiOracle,

    // every (pattern, start) occurrence = the substring-position scan
    "text_blocklist_hits" ->
      """WITH pats(phrase) AS (VALUES ('table scan'), ('scan merge'),
        |  ('batch batch'), ('an'), ('merge slow')),
        |d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |pos AS (SELECT doc_id, t, UNNEST(range(1, length(t) + 1)) AS i
        |  FROM d),
        |m AS (SELECT doc_id, phrase
        |  FROM pos JOIN pats ON substr(t, i, length(phrase)) = phrase)
        |SELECT doc_id, phrase, COUNT(*) AS n_hits
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sample_dsir_importance" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents),
         |gr AS (SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
         |  i -> t[i] || ' ' || t[i + 1])) AS g FROM toks),
         |hx AS (SELECT doc_id, md5(g) AS h FROM gr),
         |bb AS (SELECT doc_id, ${Sampling.hashBucketSql("g", 256)} AS b
         |  FROM hx),
         |craw AS (SELECT b, COUNT(*) AS c_raw FROM bb GROUP BY b),
         |ctgt AS (SELECT bb.b, COUNT(*) AS c_tgt FROM bb
         |  JOIN documents d ON bb.doc_id = d.doc_id
         |  WHERE d.lang = 'de' GROUP BY bb.b),
         |sc AS (
         |  SELECT bb.doc_id, COUNT(*) AS n_grams,
         |    SUM((1000000 * (COALESCE(c_tgt, 0) + 1)) // (c_raw + 256))
         |      AS s
         |  FROM bb JOIN craw USING (b) LEFT JOIN ctgt USING (b)
         |  GROUP BY bb.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(s, 0) AS BIGINT) AS imp_score
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    lower(nfc_normalize('  MIXED Case' || chr(9) || text || '  ')),
        |    '[ \t\r\n\f]+', ' ', 'g')) AS text_norm,
        |  CAST(length(trim(regexp_replace(
        |    lower(nfc_normalize('  MIXED Case' || chr(9) || text || '  ')),
        |    '[ \t\r\n\f]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "profile_data_card" ->
      """WITH t AS (SELECT source, lang, text, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct_texts,
        |  1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
        |    AS exact_dup_rate,
        |  quantile_cont(n_toks, 0.5) AS p50_tokens,
        |  quantile_cont(n_toks, 0.95) AS p95_tokens
        |FROM t GROUP BY ROLLUP(source)
        |ORDER BY source NULLS FIRST""".stripMargin,
    "pipeline_web_corpus" ->
      s"""WITH u AS (SELECT doc_id, text, ${urlSqlExpr.linesIterator.mkString(" ")} AS url FROM documents),
         |h AS (SELECT doc_id, url, '<html><body><p>' || text ||
         |  '</p><script>track();</script></body></html>' AS html FROM u),
         |s1 AS (SELECT doc_id, url, regexp_replace(html,
         |  '(?is)(<script[^>]*>.*?</script>)|(<style[^>]*>.*?</style>)',
         |  ' ', 'g') AS t FROM h),
         |s2 AS (SELECT doc_id, url,
         |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, url,
         |  regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id, url, replace(replace(replace(replace(replace(
         |  replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |  '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3),
         |sp AS (SELECT doc_id, url,
         |  trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g')) AS tp FROM s4),
         |nm AS (SELECT doc_id, url, trim(regexp_replace(
         |  lower(nfc_normalize(tp)), '[ \t\r\n\f]+', ' ', 'g')) AS tn
         |  FROM sp),
         |g AS (SELECT * FROM nm WHERE len(string_split(tn, ' ')) >= 5),
         |p AS (SELECT doc_id, tn,
         |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$$', 1)) AS sch,
         |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+).*$$', 1)) AS hostport,
         |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$$', 1) AS rest0
         | FROM g),
         |q AS (SELECT doc_id, tn, sch,
         |  regexp_replace(CASE WHEN sch = 'http'
         |      THEN regexp_replace(hostport, ':80$$', '')
         |    WHEN sch = 'https' THEN regexp_replace(hostport, ':443$$', '')
         |    ELSE hostport END, '^www\\.', '') AS hh,
         |  regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(rest0, '#.*$$', ''),
         |    '(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
         |    '\\?&', '?', 'g'), '[?&]+$$', '') AS rest2
         | FROM p),
         |c AS (SELECT doc_id, tn, sch || '://' || hh ||
         |  CASE WHEN rest2 = '' THEN '/' ELSE rest2 END AS url_canon
         | FROM q),
         |uk AS (SELECT c.* FROM c JOIN (SELECT url_canon,
         |    MIN(doc_id) AS doc_id FROM c GROUP BY url_canon) m
         |  ON c.doc_id = m.doc_id AND c.url_canon = m.url_canon),
         |ck AS (SELECT * FROM uk WHERE doc_id IN (
         |  SELECT MIN(doc_id) FROM uk GROUP BY md5(tn)))
         |SELECT doc_id, url_canon, CAST(length(tn) AS BIGINT) AS n_chars_clean
         |FROM ck ORDER BY doc_id""".stripMargin,
    "web_url_canonicalize" ->
      s"""$urlCtes
         |SELECT doc_id, url, url_canon, domain FROM dom
         |ORDER BY doc_id""".stripMargin,
    "mix_epoch_oversample" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    1000000 + (${graft.operators.Sampling.hashBucketSql("h", 3)})
         |      * 750000 AS fx
         |  FROM (SELECT doc_id, source, md5(source) AS h FROM documents) x
         |), c AS (
         |  SELECT doc_id, source,
         |    fx // 1000000 + CASE WHEN
         |      ${graft.operators.Sampling.hashU32Sql("h")}
         |        < ((fx % 1000000) * 4294967296) // 1000000
         |      THEN 1 ELSE 0 END AS n
         |  FROM (SELECT d.*, md5('os#' || CAST(doc_id AS VARCHAR)) AS h
         |        FROM d) y
         |)
         |SELECT doc_id, source, UNNEST(range(0, CAST(n AS BIGINT)))
         |  AS copy
         |FROM c WHERE n > 0
         |ORDER BY doc_id, copy""".stripMargin,

    "dedup_source_priority" ->
      s"""$urlCtes,
         |sd AS (SELECT dom.doc_id, d.source, dom.url_canon
         |  FROM dom JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id, source, url_canon,
         |    ROW_NUMBER() OVER (PARTITION BY url_canon ORDER BY
         |      ${prioritySql}, source, doc_id) AS rk
         |  FROM sd)
         |SELECT doc_id, source, url_canon FROM r WHERE rk = 1
         |ORDER BY doc_id""".stripMargin,

    "web_url_dedup_cap" ->
      s"""$urlCtes,
         |kept AS (SELECT url_canon, MIN(doc_id) AS doc_id,
         |    MIN(domain) AS domain
         |  FROM dom GROUP BY url_canon),
         |r AS (SELECT doc_id, url_canon, domain,
         |    ROW_NUMBER() OVER (PARTITION BY domain
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM kept)
         |SELECT doc_id, url_canon, domain FROM r WHERE rk <= 5
         |ORDER BY doc_id""".stripMargin,
    "quality_dup_chunks" ->
      """WITH t0 AS (SELECT doc_id,
        |    text || ' '
        |    || array_to_string(string_split(text, ' ')[1:16], ' ') || ' '
        |    || array_to_string(string_split(text, ' ')[1:16], ' ') AS t
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(t, ' ') AS ws FROM t0),
        |g AS (SELECT doc_id, ws,
        |    CASE WHEN len(ws) >= 8 THEN (len(ws) - 8) // 8 + 1
        |      ELSE 0 END AS nc
        |  FROM t),
        |c AS (SELECT doc_id, nc,
        |    list_transform(range(0, CAST(nc AS INT)),
        |      i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS grams
        |  FROM g)
        |SELECT doc_id, CAST(nc AS BIGINT) AS n_chunks,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_chunks,
        |  CASE WHEN nc > 0 THEN
        |    1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / nc
        |  END AS dup_chunk_frac
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_script_profile" -> scriptProfileOracle,
    "text_strip_markup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style></head><body>'
        |    || chr(10) || '<h1>Title</h1>' || chr(10) || '<p class="x">'
        |    || text ||
        |    ' &amp; more</p><!-- boilerplate --><script>var x = 1 < 2;</script></body></html>'
        |    AS html FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)(<script[^>]*>.*?</script>)|(<style[^>]*>.*?</style>)',
        |  ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id,
        |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(
        |  replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |  '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3)
        |SELECT doc_id,
        |  trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g')) AS text_plain,
        |  CAST(length(trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g')))
        |    AS BIGINT) AS n_chars_plain
        |FROM s4 ORDER BY doc_id""".stripMargin,
    "mix_weighted_sample" -> mixOracle,
    "dedup_spans_corpus" -> spansOracle,
    "embed_quantize" -> quantizeOracle
  )
}
