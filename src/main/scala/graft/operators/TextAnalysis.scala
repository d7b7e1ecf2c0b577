package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID (stopword n-gram heuristic), quality scoring,
  * and shingle fingerprinting.
  *
  * Everything is a pure `Column`/`DataFrame -> DataFrame` transform built
  * from codegen'd built-ins (no UDFs): at 100 TB these run inside
  * whole-stage codegen with full pushdown, shuffle only where an explicit
  * groupBy/join appears.
  */
object TextAnalysis {

  /** Whitespace tokenization on single spaces (matches the fixtures'
    * space-separated text; swap the delimiter regex for real corpora). */
  def tokens(text: Column): Column = split(text, " ")

  /** Fixed-point idf scale for [[rankByTerms]]: weights are integer
    * multiples of 1e-9 of the idf unit, so scoring is engine-exact. */
  val IdfScale: Long = 1000000000L

  /** Ranked keyword retrieval: score every document against a fixed
    * query-term set with integer tf-idf weights —
    *
    *   score(d) = sum over query terms t of tf(t,d) * (IdfScale div df(t))
    *
    * where df(t) counts matching documents. All-integer math (the
    * repo-wide fixed-point discipline: ln() is not correctly-rounded
    * IEEE, so a log-idf BM25 could not be oracle-checked bit-exact;
    * the div-based inverse keeps the same rare-term-dominates ranking).
    * Returns the top `k` docs by (score desc, id) — ties broken by id
    * so the cut is total-order deterministic.
    *
    * Scale posture: the term filter prunes the exploded token stream
    * BEFORE any shuffle (only query-term hits survive, a tiny fraction
    * of the corpus); df is a broadcast-sized aggregate (one row per
    * query term); the final cut is orderBy+limit, which plans as
    * TakeOrderedAndProject — k rows per partition cross to the driver
    * side, never a global sort. */
  def rankByTerms(docs: DataFrame, idCol: String, text: Column,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "rankByTerms needs at least one query term")
    require(k >= 1, s"k=$k must be >= 1")
    val tf = docs
      .select(col(idCol), explode(tokens(text)).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfc), "term")
      .select(col(idCol),
        (col("tf") * expr(s"$IdfScale div df")).as("w"))
      .groupBy(col(idCol)).agg(sum(col("w")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents"): candidate phrases are the
    * maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) (deg = Σ lengths of phrases containing it — words
    * that travel in long phrases score high); a phrase scores the sum
    * of its words. Scores ride the repo's fixed point
    * (deg·2^20 div freq per word, then exact integer sums), so the
    * ranking is engine-independent and fully oracle-checkable.
    *
    * Returns the top `k` phrase TYPES by (score desc, phrase):
    * (phrase, n_words, n_occurrences, score_fp).
    *
    * Scale shape: one posexplode pass; runs come from a per-doc
    * stopword prefix count (window, keyed by doc); word stats are one
    * grouped agg on the member stream; the per-occurrence score
    * re-join is keyed on the word. Nothing driver-side, no all-pairs. */
  def rakePhrases(docs: DataFrame, idCol: String, text: Column,
      stop: Seq[String], k: Int): DataFrame = {
    require(stop.nonEmpty && k >= 1, "need stopwords and k >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("pos"))
    val runs = docs.where(text.isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(tokens(text)).as(Seq("pos", "term")))
      .withColumn("__stop", col("term").isin(stop: _*))
      .withColumn("__run",
        sum(when(col("__stop"), 1).otherwise(0)).over(w))
      .where(!col("__stop"))
    val members = runs.groupBy(col("__id"), col("__run"))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          x => x.getField("term"))).as("phrase"),
        count(lit(1)).as("__len"),
        collect_list(col("term")).as("__ws"))
      .select(col("__id"), col("__run"), col("phrase"), col("__len"),
        explode(col("__ws")).as("term"))
    val wordScores = members.groupBy(col("term"))
      .agg(sum(col("__len")).as("__deg"), count(lit(1)).as("__freq"))
      .select(col("term"),
        expr(s"(__deg * ${1L << 20}) div __freq").as("__wfp"))
    members.join(wordScores, "term")
      .groupBy(col("__id"), col("__run"), col("phrase"), col("__len"))
      .agg(sum(col("__wfp")).as("__occ_fp"))
      .groupBy(col("phrase"))
      .agg(max(col("__len")).as("n_words"),
        count(lit(1)).as("n_occurrences"),
        max(col("__occ_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("phrase"))
      .limit(k)
  }

  /** BM25 ranked retrieval, all-integer: the tf-saturating,
    * length-normalized scoring that supersedes plain tf-idf
    * ([[rankByTerms]]) in every production search stack (Robertson &
    * Zaragoza 2009). With k1 = 6/5 and b = 3/4 held as RATIONALS and
    * avgdl = A/D kept un-divided, each term's contribution reduces to
    *   idf2_fp · 44·A·tf  div  (20·A·tf + 6·A + 18·dl·D)
    * — one exact integer floor division per (doc, term), where
    * idf2_fp = log2_fp(2D+2) − log2_fp(2df+1) is the always-positive
    * Lucene idf ln(1+(N−df+½)/(df+½)) in fixed point (positive matters:
    * floor and truncate agree, so the division is engine-independent).
    * Scores are exact bigints → ranking is deterministic cross-engine.
    *
    * Scale shape: one token pass builds per-doc lengths and the
    * query-term tf's (everything else prunes at the isin filter); df
    * and the (A, D) totals broadcast; final order is a
    * TakeOrderedAndProject top-k, never a full sort. */
  def bm25TopK(docs: DataFrame, idCol: String, text: Column,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && k >= 1, s"need terms and k >= 1: $terms $k")
    import graft.functions.FixedLogFunctions.log2_fp
    val toks = docs.where(text.isNotNull)
      .select(col(idCol), explode(tokens(text)).as("term"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val tot = dl.agg(sum(col("__dl")).as("__A"), count(lit(1)).as("__D"))
    val tf = toks.where(col("term").isin(terms.distinct: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__tf"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(tot))
      .select(col("term"),
        (log2_fp(lit(2L) * col("__D") + 2) -
          log2_fp(lit(2L) * col("__df") + 1)).as("__idf2"))
    tf.join(broadcast(idf), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(tot))
      .withColumn("__c", expr(
        """CAST(CAST(__idf2 AS DECIMAL(38,0)) * 44 * __A * __tf div
          |  (CAST(__A AS DECIMAL(38,0)) * 20 * __tf
          |   + CAST(__A AS DECIMAL(38,0)) * 6
          |   + CAST(__dl AS DECIMAL(38,0)) * 18 * __D)
          |  AS BIGINT)""".stripMargin))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("bm25_fp"))
      .orderBy(col("bm25_fp").desc, col(idCol))
      .limit(k)
  }

  /** Sparse TF-IDF cosine document pairs, DIVISION-FREE: every pair
    * whose weighted-bag cosine clears `tauNum/tauDen`, reported with
    * the exact integer evidence (dot numerator + both squared norms)
    * instead of a float ratio — the threshold test is the decimal
    * cross-multiplication `tauDen^2 * num^2 >= tauNum^2 * n2a * n2b`,
    * so the whole report is bit-identical across engines (the IR
    * similarity the n-gram Jaccard family cannot express: tf weighting
    * and rare-term dominance).
    *
    * Weights follow [[rankByTerms]]' fixed-point idf:
    * `w = tf * (scale div df)`, over the vector space of terms with
    * `df <= maxDf` — the idf prune that also bounds the self-join
    * (a term's pair fan-out is df^2; hot terms carry ~zero idf weight
    * AND quadratic cost, so excluding them is both the scoring and the
    * scale decision, exactly the stop-term convention). Postings
    * materialize once (consumed by norms + both join sides). */
  def sparseCosinePairs(docs: DataFrame, idCol: String, text: Column,
      tauNum: Int, tauDen: Int, maxDf: Long, scale: Long = 100000L)
      : DataFrame = {
    require(tauNum >= 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be a fraction in [0,1]: $tauNum/$tauDen")
    require(maxDf >= 1 && scale >= 1, s"maxDf/scale must be >= 1")
    val tf = docs.filter(text.isNotNull)
      .select(col(idCol), explode(tokens(text)).as("__sc_t"))
      .groupBy(col(idCol), col("__sc_t")).agg(count(lit(1)).as("__sc_tf"))
    val dfc = tf.groupBy(col("__sc_t")).agg(count(lit(1)).as("__sc_df"))
    val w = tf.join(dfc, "__sc_t")
      .filter(col("__sc_df") <= maxDf)
      .select(col(idCol).as("__sc_id"), col("__sc_t"),
        (col("__sc_tf") * expr(s"$scale div __sc_df")).as("__sc_w"))
      .pinned()
    val norms = w.groupBy(col("__sc_id"))
      .agg(sum(col("__sc_w") * col("__sc_w")).as("__sc_n2"))
    val pairs = w.as("a").join(w.as("b"),
        col("a.__sc_t") === col("b.__sc_t") &&
          col("a.__sc_id") < col("b.__sc_id"))
      .groupBy(col("a.__sc_id").as("doc_a"), col("b.__sc_id").as("doc_b"))
      .agg(sum(col("a.__sc_w") * col("b.__sc_w")).as("num"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    pairs
      .join(norms.select(col("__sc_id").as("doc_a"),
        col("__sc_n2").as("norm_a")), Seq("doc_a"))
      .join(norms.select(col("__sc_id").as("doc_b"),
        col("__sc_n2").as("norm_b")), Seq("doc_b"))
      .filter(dec(lit(tauDen.toLong * tauDen)) * dec(col("num")) *
        dec(col("num")) >=
        dec(lit(tauNum.toLong * tauNum)) * dec(col("norm_a")) *
          dec(col("norm_b")))
      .select(col("doc_a"), col("doc_b"), col("num"), col("norm_a"),
        col("norm_b"))
  }

  /** Per-group Shannon entropy of the token distribution — the
    * vocabulary-diversity quality signal (template spam and keyword
    * stuffing have low token entropy; natural prose is high), reported
    * HASH-EXACT as an integer fraction: for group total T and per-token
    * counts c, `H_bits = ent_num / (T * 2^20)` with
    * `ent_num = T*L(T) - sum(c*L(c))` and L = the fixed-point integer
    * `log2_fp` (derivation: H = log2 T - (1/T) sum c*log2 c). No float
    * op anywhere, so the report hash-matches cross-engine; the oracle
    * replays L as a 20-step recursive CTE over the distinct counts.
    *
    * Two aggregations (token counts, then the per-group rollup), both
    * map-side combined; L runs codegen'd on count values (the
    * vocabulary stream), never on raw tokens. */
  def tokenEntropy(docs: DataFrame, group: Column, text: Column)
      : DataFrame = {
    import graft.functions.FixedLogFunctions.log2_fp
    val counts = docs.filter(text.isNotNull)
      .select(group.as("__te_g"), explode(tokens(text)).as("__te_t"))
      .groupBy(col("__te_g"), col("__te_t"))
      .agg(count(lit(1)).as("__te_c"))
    counts.groupBy(col("__te_g").as("grp"))
      .agg(sum(col("__te_c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("__te_c") * log2_fp(col("__te_c"))).as("sum_clc"))
      .select(col("grp"), col("n_tokens"), col("vocab"), col("sum_clc"),
        (col("n_tokens") * log2_fp(col("n_tokens")) - col("sum_clc"))
          .as("ent_num"))
  }

  /** Multinomial naive-Bayes text classifier, trained and scored in ONE
    * declarative plan with NO floating point anywhere: the in-engine
    * baseline classifier every labeling pipeline wants next to its
    * heuristics (langid sanity checks, topic routing, weak
    * supervision). Laplace-smoothed: score(d, c) = log P(c) +
    * Σ_{t∈d} log P(t|c) with P(t|c) = (cnt_{t,c}+1)/(tot_c+V).
    *
    * Every log is the codegen'd integer `log2_fp` (2⁻²⁰ fixed point),
    * so scores — and therefore the argmax — are bit-identical
    * cross-engine and partition-invariant: the full train→score→argmax
    * loop is oracle-checkable, which no float NB can claim. Unseen
    * tokens contribute log2_fp(1) = 0 through the same formula
    * (cnt = 0), folded as score = prior + Σ m_t·L(cnt+1) − T_d·L(tot_c+V).
    *
    * Split is the deterministic md5 bucket of the doc id (train =
    * every bucket but `testBucket`). Scale shape: token-count shuffles
    * (corpus token stream → (class, term) cells), the per-class
    * constants and class list broadcast (≤C rows), the model join keyed
    * (class, term), the argmax a C-row-per-doc window. Output per test
    * doc: (id, true_cls, pred_cls, score_fp, correct). */
  def naiveBayes(docs: DataFrame, id: Column, text: Column,
      label: Column, buckets: Int = 5, testBucket: Int = 0): DataFrame = {
    import graft.functions.FixedLogFunctions.log2_fp
    require(buckets > 1 && testBucket >= 0 && testBucket < buckets,
      s"need 0 <= testBucket < buckets, buckets > 1: $buckets/$testBucket")
    val base = docs.filter(text.isNotNull && label.isNotNull)
      .select(id.as("doc_id"), label.as("cls"), tokens(text).as("__ws"),
        Sampling.hashBucket(id, buckets).as("__b"))
    val train = base.where(col("__b") =!= testBucket)
    val test = base.where(col("__b") === testBucket)
    val tok = train.select(col("cls"), explode(col("__ws")).as("term"))
      .groupBy(col("cls"), col("term")).agg(count(lit(1)).as("cnt"))
    val classes = train.groupBy(col("cls")).agg(count(lit(1)).as("n_docs"))
    val totals = tok.groupBy(col("cls")).agg(sum(col("cnt")).as("tot"))
    val vocabDf = tok.agg(countDistinct(col("term")).as("v"))
    val nAll = train.agg(count(lit(1)).as("n_all"))
    val clsConst = classes.join(totals, "cls")
      .crossJoin(broadcast(vocabDf)).crossJoin(broadcast(nAll))
      .select(col("cls"),
        (log2_fp(col("n_docs")) - log2_fp(col("n_all"))).as("prior_fp"),
        log2_fp(col("tot") + col("v")).as("denom_fp"))
    val model = tok.select(col("cls"), col("term"),
      log2_fp(col("cnt") + 1).as("lfp"))
    val testToks = test.select(col("doc_id"), explode(col("__ws")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("m"))
    val perClass = testToks
      .crossJoin(broadcast(classes.select(col("cls"))))
      .join(model, Seq("cls", "term"), "left")
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("m") * coalesce(col("lfp"), lit(0L))).as("tok_fp"),
        sum(col("m")).as("t_doc"))
    val scored = perClass.join(broadcast(clsConst), "cls")
      .withColumn("score_fp",
        col("prior_fp") + col("tok_fp") - col("t_doc") * col("denom_fp"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_fp").desc, col("cls"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .join(test.select(col("doc_id"), col("cls").as("true_cls")),
        "doc_id")
      .select(col("doc_id"), col("true_cls"), col("cls").as("pred_cls"),
        col("score_fp"),
        (col("cls") === col("true_cls")).cast("long").as("correct"))
  }

  /** Moving-average type-token ratio (MATTR, Covington & McFall 2010)
    * per document — the lexical-diversity signal that, unlike raw TTR,
    * doesn't collapse with document length: the mean over all windows
    * of `w` consecutive tokens of (distinct tokens in window)/w.
    * Repetitive boilerplate scores low at any length; natural prose
    * stays high.
    *
    * Computed WITHOUT materializing windows: occurrence q of a token
    * (previous occurrence at prev_q) is the window-winning "first copy"
    * exactly for window-end positions p ∈ [max(q, prev_q+w, w),
    * min(q+w−1, T)], so Σ_p distinct_p = Σ_q max(0, interval length) —
    * one lag window per (doc, token) stream plus one per-doc sum, all
    * integer-exact (`mattr` is the single IEEE division readout).
    * Shuffle volume is the token stream keyed by doc — no window
    * explosion, no w× row inflation. Docs shorter than `w` tokens have
    * no full window and are omitted.
    *
    * Output: (id, n_tokens, mattr_num, mattr_den, mattr). */
  def mattr(docs: DataFrame, id: Column, text: Column, w: Int = 25)
      : DataFrame = {
    require(w > 1, s"window must exceed 1 token: $w")
    val toks = docs.filter(text.isNotNull)
      .select(id.as("id"), posexplode(tokens(text)).as(Seq("__p0", "__t")))
      .select(col("id"), (col("__p0") + 1).as("__q"), col("__t"))
    val byTok = Window.partitionBy(col("id"), col("__t"))
      .orderBy(col("__q"))
    val lagd = toks.withColumn("__prev", lag(col("__q"), 1).over(byTok))
    // the doc total T clips each interval at the right edge — a window
    // max over the doc partition (reuses the doc-keyed exchange the lag
    // already created; no second shuffle, no join)
    val byDoc = Window.partitionBy(col("id"))
    lagd.withColumn("n_tokens", max(col("__q")).over(byDoc))
      .withColumn("__lo",
        greatest(col("__q"), coalesce(col("__prev"), lit(Long.MinValue / 4))
          + lit(w), lit(w.toLong)))
      .withColumn("__hi", least(col("__q") + lit(w - 1), col("n_tokens")))
      .withColumn("__c", greatest(col("__hi") - col("__lo") + 1, lit(0L)))
      .groupBy(col("id"), col("n_tokens"))
      .agg(sum(col("__c")).as("mattr_num"))
      .where(col("n_tokens") >= w)
      .withColumn("mattr_den",
        lit(w.toLong) * (col("n_tokens") - lit(w - 1)))
      .withColumn("mattr",
        col("mattr_num").cast("double") / col("mattr_den").cast("double"))
      .select(col("id"), col("n_tokens").cast("long").as("n_tokens"),
        col("mattr_num"), col("mattr_den"), col("mattr"))
  }

  /** Word n-gram shingles over an ALREADY-MATERIALIZED token-array column.
    * Use this form (with `tokens(text)` projected once in a prior select)
    * on any path that shingles in bulk: `ws` appears n+2 times in this
    * tree, and `transform` lambdas evaluate interpreted — if `ws` were the
    * split() expression itself, it would re-split per shingle element
    * (measured ~10x slower on the dedup inverted-index builds).
    *
    * Empty array when the doc has < n tokens. Guarded: Spark's
    * `sequence(1, k)` runs DESCENDING for k < 1, which would fabricate
    * shingles for short docs. */
  def shinglesOf(ws: Column, n: Int): Column = {
    val starts = sequence(lit(1), size(ws) - (n - 1))
    val grams = transform(starts,
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))
    when(size(ws) < n, array().cast("array<string>")).otherwise(grams)
  }

  /** Shingles from raw text — the native codegen'd byte-slice expression
    * ([[graft.functions.WordShingles]]; one pass per row, no per-element
    * lambda interpretation). [[shinglesOf]] above is the declarative
    * reference implementation it is spec'd against. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShingleFunctions.word_shingles(text, n)

  /** Per-language stopword sets for the language-ID heuristic. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "data", "table", "join"),
    "es" -> Seq("fila", "tabla", "row", "order", "sort"),
    "de" -> Seq("spalte", "wert", "column", "value", "merge"))

  /** Count of tokens contained in `set` (integer — deterministic). */
  def stopwordHits(text: Column, set: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(set)))

  /** Language-ID: argmax of per-language stopword hits, ties broken by
    * language code order, 'und' when no stopword fires. */
  def langId(text: Column): Column = {
    val scored = Stopwords.toSeq.sortBy(_._1).map { case (l, s) =>
      (l, stopwordHits(text, s))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality features: token count, char count, alpha ratio, stopword
    * ratio, mean token length. All ratios are int/int divisions in double
    * (bit-deterministic). */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val ws = tokens(text)
    val nTok = size(ws)
    val alpha = length(regexp_replace(text, "[^a-z]", ""))
    val allStops = Stopwords.values.flatten.toSeq.distinct
    df.withColumn("n_tokens", nTok)
      .withColumn("n_chars_m", length(text))
      .withColumn("alpha_ratio", alpha.cast("double") / length(text))
      .withColumn("stopword_ratio",
        stopwordHits(text, allStops).cast("double") / nTok)
      .withColumn("mean_token_len",
        (length(text) - (nTok - 1)).cast("double") / nTok)
  }

  /** Content fingerprint: full-doc md5 plus the lexicographic min of the
    * k-shingle md5s (1-permutation MinHash — stable under reordering of
    * equal content, cheap at scale). */
  def fingerprint(df: DataFrame, text: Column, k: Int = 3): DataFrame =
    df.withColumn("content_hash", md5(text))
      .withColumn("min_shingle_md5",
        array_min(transform(shingles(text, k), s => md5(s))))

  /** Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003) over
    * the [[rollingHash]] stream: the minimum hash of every window of `w`
    * consecutive k-gram hashes, rightmost-min tie-break, consecutive
    * duplicates collapsed. Guarantees any shared substring of length
    * >= w + k - 1 contributes at least one shared fingerprint — the
    * plagiarism/near-dup detection primitive. */
  def winnow(hashes: Array[Long], w: Int): Array[Long] = {
    if (hashes.isEmpty || w <= 0) return Array.empty
    if (hashes.length <= w) return Array(hashes.min)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i + w <= hashes.length) {
      var m = hashes(i)
      var j = i + 1
      while (j < i + w) { if (hashes(j) <= m) m = hashes(j); j += 1 }
      if (out.isEmpty || out.last != m) out += m
      i += 1
    }
    out.toArray
  }

  /** md5_head63 of every k-char window — the REPLAYABLE twin of
    * [[rollingHash]] for oracle-checked winnowing: DuckDB rebuilds every
    * value as the md5 of `substr(text, i, k)`. Character positions
    * (equivalent to byte/code-point positions on the ASCII fixtures;
    * non-BMP text would diverge from SQL substr semantics — the rolling
    * variant remains the scale path for arbitrary bytes). */
  def md5KgramHashes(s: String, k: Int): Array[Long] =
    if (s == null) Array.empty
    else graft.functions.HashUtil.md5CharWindowHeads63(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), k)
      .toLongArray()

  /** Per-document winnowing fingerprints as a map-only Dataset transform
    * (doc_id, fingerprints): char-k-gram hashes -> winnow. With
    * `replayableHash` the k-gram hashes are [[md5KgramHashes]] and the
    * whole selection (window minima, rightmost tie, consecutive-dup
    * collapse) is replayable in ANSI SQL — the oracle-checked gate path;
    * the default [[rollingHash]] (61-bit Mersenne polynomial, byte-true)
    * stays the scale path. */
  def winnowFingerprints(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, replayableHash: Boolean = false): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, t) =>
        val text = if (t == null) "" else t
        val hashes =
          if (replayableHash) md5KgramHashes(text, k)
          else rollingHash(text, k)
        (id, winnow(hashes, w))
      }
      .toDF(idCol, "fingerprints")
  }

  /** Corpus-frequency quality stats — the integral proxy for CCNet-style
    * LM-perplexity filtering: per doc, statistics of each token's CORPUS
    * occurrence count (high mean frequency = boilerplate-ish, low =
    * noisy/rare; `n_hapax` counts corpus-unique tokens in the doc). A
    * real LM replaces the frequency table through the same join seam;
    * counts stay integral so the operator is hash-exact cross-engine.
    *
    * Scale shape: explode -> token-keyed count (vocabulary-bound, map-side
    * combined) -> join back on token -> groupBy(doc). The frequency table
    * is vocabulary-sized; AQE broadcasts it when it fits, otherwise both
    * sides shuffle on token (Zipf skew on hot tokens dies in the count's
    * partial agg; the join side is skewed but AQE skew-split handles it). */
  def corpusFrequencyStats(df: DataFrame, idCol: String, text: Column)
      : DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(text)).as("token"))
    val freq = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf_corpus"))
    toks.join(freq, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("tf_corpus")).as("sum_freq"),
        min(col("tf_corpus")).as("min_freq"),
        max(col("tf_corpus")).as("max_freq"),
        sum(when(col("tf_corpus") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("mean_token_freq",
        col("sum_freq").cast("double") / col("n_tokens"))
  }

  /** Smoothed bigram language-model score per document — the statistical
    * LM quality filter (the CCNet/KenLM perplexity-filter shape) with the
    * corpus itself as training data: documents whose word transitions are
    * rare under the corpus bigram model score low and get filtered.
    *
    * Deliberately NOT log-perplexity: ln() is not correctly-rounded IEEE
    * and would drift between engines. Instead each bigram (w1,w2)
    * contributes the FIXED-POINT smoothed transition frequency
    * floor(count(w1,w2) * 1e9 / (count(w1) + V)) (add-V Laplace
    * denominator, V = vocabulary size), an exact integer in any engine;
    * a doc's score is the sum, comparable across docs per n_bigrams.
    *
    * Scale shape: bigram explode -> groupBy(bigram) model build (shuffle
    * keyed on the bigram, map-side combine), then two joins keyed on
    * bigram/unigram and one groupBy(doc) — no corpus-wide collect, the
    * model stays distributed (vocab^2-bounded, in practice ~|corpus|). */
  def bigramLmScore(df: DataFrame, idCol: String, text: Column)
      : DataFrame = {
    val toks = df.select(col(idCol), tokens(text).as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val vocab = broadcast(uni.agg(count(lit(1)).as("v")))
    val bgs = toks.select(col(idCol), explode(expr(
      """CASE WHEN size(t) >= 2
        |  THEN transform(sequence(0, size(t) - 2),
        |                 i -> concat(t[i], ' ', t[i + 1]))
        |  ELSE cast(array() as array<string>) END""".stripMargin)).as("bg"))
    val bgc = bgs.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val scored = bgs.join(bgc, "bg")
      .withColumn("w1", expr("split(bg, ' ')[0]"))
      .join(uni.withColumnRenamed("tok", "w1"), "w1")
      .crossJoin(vocab)
      .withColumn("p", expr("(c2 * 1000000000) div (c1 + v)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("score"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Interpolated Kneser-Ney bigram score per document — the smoothing
    * that actually powers n-gram LM quality filters (Kneser & Ney 1995;
    * Chen & Goodman 1999 found interpolated KN the best-performing
    * n-gram smoothing): where [[bigramLmScore]]'s add-V Laplace hands
    * unseen mass out uniformly, KN discounts every seen bigram by a
    * fixed d and redistributes by CONTINUATION counts — "how many
    * distinct contexts does w2 follow" — so frequent-but-bound words
    * (the 'Francisco' effect) stop inflating scores.
    *
    *   P(w2|w1) = (c(w1,w2) − d)⁺ / c(w1·)
    *            + d·N1+(w1,·)/c(w1·) · N1+(·,w2)/T
    *
    * with d = 3/4 and T = |bigram types|. Everything is a ratio of
    * integers, so each bigram contributes the exact fixed point
    *   floor( ((4c2−3)⁺·T + 3·n1p(w1)·nc(w2)) · 2²⁰ / (4·c1(w1)·T) )
    * — hash-exact cross-engine, no ln/float drift; a doc's score is
    * the sum (comparable across docs per n_bigrams).
    *
    * Scale shape mirrors [[bigramLmScore]]: one bigram-keyed model
    * build with map-side combine, then context/continuation tables
    * keyed on single tokens (vocabulary-bound; AQE broadcasts when
    * they fit), one groupBy(doc). The model never leaves the cluster. */
  def kneserNeyScore(df: DataFrame, idCol: String, text: Column)
      : DataFrame = {
    val toks = df.select(col(idCol), tokens(text).as("t"))
    val bgs = toks.select(col(idCol), explode(expr(
      """CASE WHEN size(t) >= 2
        |  THEN transform(sequence(0, size(t) - 2),
        |                 i -> concat(t[i], ' ', t[i + 1]))
        |  ELSE cast(array() as array<string>) END""".stripMargin)).as("bg"))
    val bgc = bgs.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val parts = bgc
      .withColumn("w1", expr("split(bg, ' ')[0]"))
      .withColumn("w2", expr("split(bg, ' ')[1]"))
    val ctx = parts.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = parts.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val tTot = broadcast(parts.agg(count(lit(1)).as("tt")))
    val scored = bgs.join(bgc, "bg")
      .withColumn("w1", expr("split(bg, ' ')[0]"))
      .withColumn("w2", expr("split(bg, ' ')[1]"))
      .join(ctx, "w1")
      .join(cont, "w2")
      .crossJoin(tTot)
      .withColumn("p", expr(
        """CAST((CAST(greatest(4 * c2 - 3, 0) AS DECIMAL(38,0)) * tt
          |       + CAST(3 AS DECIMAL(38,0)) * n1p * nc) * 1048576
          |  div (CAST(4 AS DECIMAL(38,0)) * c1 * tt) AS BIGINT)"""
          .stripMargin))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("score_kn"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_kn"), lit(0L)).as("score_kn"))
  }

  /** Gopher-style repetition quality stats (Rae et al. 2021 §A1.1),
    * adapted to token n-grams: for n in {2, 3}, the total n-gram count,
    * the count of the single most frequent n-gram, and the number of
    * n-gram OCCURRENCES whose gram appears more than once in the doc —
    * plus the derived fractions repetitive docs are filtered on.
    *
    * Counts are integral (hash-exact cross-engine); fractions are
    * int/int double divisions (bit-deterministic). Scale shape: one
    * explode -> groupBy(doc, gram) -> groupBy(doc) pipeline per n, both
    * shuffles keyed on the doc id with map-side partial aggregation —
    * no corpus-wide state, unlike the corpus-frequency operators. */
  /** Within-document duplicate-chunk fraction — the Gopher
    * `dup_para_frac` family signal (Rae et al. 2021 drop docs whose
    * paragraphs repeat; the fixtures carry no paragraph breaks, so the
    * unit is the non-overlapping `w`-word chunk, the same
    * quality-vs-granularity trade). Per doc: number of chunks, distinct
    * chunks, and `dup_chunk_frac = 1 − distinct/total` (null when the
    * doc is shorter than one chunk). Complements [[repetitionStats]]
    * (overlapping n-gram repeats) and the compression ratio (long-range
    * redundancy) at the intermediate block granularity.
    *
    * Chunks are every w-th entry of the codegen'd shingle array — one
    * explode + one grouped count/count-distinct, a single shuffle on
    * doc id; the trailing `len % w` words are ignored (a partial chunk
    * can't be a duplicate of a full one). */
  def dupChunkStats(df: DataFrame, idCol: String, text: Column,
      w: Int = 8): DataFrame = {
    require(w > 0, s"chunk width must be positive: $w")
    val chunks = df.select(col(idCol),
        posexplode(shingles(text, w)).as(Seq("__pos", "__gram")))
      .filter(col("__pos") % w === 0)
    val stats = chunks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("__gram")).as("n_distinct_chunks"))
    df.select(col(idCol)).join(stats, Seq(idCol), "left")
      .withColumn("n_chunks", coalesce(col("n_chunks"), lit(0L)))
      .withColumn("n_distinct_chunks",
        coalesce(col("n_distinct_chunks"), lit(0L)))
      .withColumn("dup_chunk_frac",
        when(col("n_chunks") > 0,
          lit(1.0) - col("n_distinct_chunks").cast("double") /
            col("n_chunks")))
  }

  /** Unicode-script profile per document — the writing-system complement
    * to the stopword [[langId]] (which only separates languages SHARING
    * a script): per-script character counts, ratios, and the dominant
    * script. Multilingual pipeline uses: route CJK/Arabic docs to
    * script-specific tokenizers, drop mixed-script spam (Latin text
    * stuffed with Cyrillic look-alikes), partition a crawl by writing
    * system before per-language processing.
    *
    * Counts are `regexp_count` over explicit CODEPOINT-RANGE classes
    * (`[\x{4E00}-\x{9FFF}]` etc.) rather than `\p{script=...}`:
    * codepoint ranges mean the same thing in every regex engine and
    * every Unicode version, so the operator is oracle-checkable
    * verbatim, while named script classes drift with each engine's
    * Unicode tables. Map-only codegen'd column math, no shuffle. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}]")

  def scriptProfile(df: DataFrame, idCol: String, text: Column)
      : DataFrame = {
    val counted = ScriptRanges.foldLeft(df.select(col(idCol),
        text.as("__t"))) { case (d, (name, pat)) =>
      d.withColumn(s"n_$name", regexp_count(col("__t"), lit(pat))
        .cast("long"))
    }
    val total = ScriptRanges.map { case (n, _) => col(s"n_$n") }
      .reduce(_ + _)
    val withTotal = counted.withColumn("n_scripted", total)
    // dominant script: max count, ties to the declaration order above —
    // a deterministic argmax CASE chain both engines evaluate identically
    val best = greatest(ScriptRanges.map { case (n, _) => col(s"n_$n") }: _*)
    val dominant = when(col("n_scripted") === 0, lit("none"))
      .otherwise(ScriptRanges.reverse.foldLeft(lit(null)
        .cast("string")) { case (acc, (name, _)) =>
        when(col(s"n_$name") === best, lit(name)).otherwise(acc)
      })
    withTotal
      .withColumn("dominant_script", dominant)
      .withColumn("dominant_ratio",
        when(col("n_scripted") > 0,
          greatest(ScriptRanges.map { case (n, _) =>
            col(s"n_$n") }: _*).cast("double") / col("n_scripted")))
      .drop("__t")
  }

  /** Compression-ratio quality signal: `deflate_len(text) / bytes` —
    * the practical Kolmogorov-complexity estimate RefinedWeb-family
    * pipelines threshold on (template spam, keyword stuffing, and
    * machine-generated boilerplate compress far better than prose; the
    * shingle-based [[repetitionStats]] catches verbatim n-gram repeats,
    * this catches the LONG-RANGE and structural redundancy n-grams
    * miss). One native codegen'd expression per row — map-only at any
    * scale. No SQL engine can reproduce DEFLATE, so queries over this
    * are gated rows-only; the signal's semantics are pinned in
    * QualitySpec. Docs below `minRatio` fail (empty docs pass — length
    * filtering is a different rule's job). */
  def compressionStats(df: DataFrame, idCol: String, text: Column,
      minRatio: Double = 0.35): DataFrame =
    df.select(col(idCol), text.as("__t"))
      .withColumn("n_bytes", octet_length(col("__t")))
      .withColumn("n_deflate",
        graft.functions.CompressFunctions.deflate_len(col("__t")))
      .withColumn("compress_ratio",
        when(col("n_bytes") > 0,
          col("n_deflate").cast("double") / col("n_bytes")))
      .withColumn("passes_compression",
        coalesce(col("compress_ratio") >= minRatio, lit(true)))
      .drop("__t")

  def repetitionStats(df: DataFrame, idCol: String, text: Column)
      : DataFrame = {
    def statsFor(n: Int): DataFrame = {
      val suffix = s"_${n}gram"
      df.select(col(idCol), explode(shingles(text, n)).as("gram"))
        .groupBy(col(idCol), col("gram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col(idCol))
        .agg(sum(col("c")).as(s"n$suffix"),
          max(col("c")).as(s"top$suffix"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
            .as(s"dup$suffix"))
    }
    val base = df.select(col(idCol), size(tokens(text)).as("n_tokens"),
      size(array_distinct(tokens(text))).as("n_distinct_tokens"))
    base.join(statsFor(2), Seq(idCol), "left")
      .join(statsFor(3), Seq(idCol), "left")
      .na.fill(0L, Seq("n_2gram", "top_2gram", "dup_2gram",
        "n_3gram", "top_3gram", "dup_3gram"))
      .withColumn("distinct_ratio",
        col("n_distinct_tokens").cast("double") / col("n_tokens"))
      .withColumn("top_2gram_frac",
        when(col("n_2gram") > 0,
          col("top_2gram").cast("double") / col("n_2gram")).otherwise(0.0))
      .withColumn("dup_3gram_frac",
        when(col("n_3gram") > 0,
          col("dup_3gram").cast("double") / col("n_3gram")).otherwise(0.0))
      .withColumn("passes_repetition",
        col("distinct_ratio") > 0.2 && col("top_2gram_frac") <= 0.2 &&
          col("dup_3gram_frac") <= 0.6)
  }

  /** Rolling polynomial hash (Rabin-Karp style, base 257 mod 2^61-1) over
    * the UTF-8 bytes — the classic fingerprint primitive. Exposed as a
    * deterministic Scala function for winnowing-style pipelines; not
    * SQL-oracle-checkable, covered by unit spec. */
  /** Classical readability scores — Flesch reading ease and
    * Flesch–Kincaid grade — from three regexp counts: sentence runs
    * ([.!?]+, clamped to >= 1 so fragment-only docs still score),
    * letter-run words, and vowel-group syllables ([aeiouy]+ runs; a
    * vowel-less token contributes 0 — the cross-engine-safe
    * approximation, since the per-word min-1 convention needs
    * lookbehind, which RE2 engines lack). The counts are exact
    * integers, the two scores a fixed double dag over them —
    * hash-exact cross-engine; map-only, no shuffle at any scale. */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame = {
    val t = lower(coalesce(text, lit("")))
    df.select(id.as("doc_id"),
        greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("long")
          .as("n_sents"),
        regexp_count(t, lit("[a-z]+")).cast("long").as("n_words"),
        regexp_count(t, lit("[aeiouy]+")).cast("long").as("n_syll"))
      .withColumn("__wps",
        col("n_words").cast("double") / col("n_sents").cast("double"))
      // guard the zero-word division itself (ANSI mode errors eagerly,
      // before the downstream when() could mask it)
      .withColumn("__spw", when(col("n_words") > 0,
        col("n_syll").cast("double") / col("n_words").cast("double")))
      .withColumn("fk_grade", when(col("n_words") > 0,
        lit(0.39d) * col("__wps") + lit(11.8d) * col("__spw") -
          lit(15.59d)))
      .withColumn("reading_ease", when(col("n_words") > 0,
        lit(206.835d) - lit(1.015d) * col("__wps") -
          lit(84.6d) * col("__spw")))
      .drop("__wps", "__spw")
  }

  /** Rule-based sentence segmentation: the pattern `[^.!?]+[.!?]*`
    * consumes the text left-to-right so every character lands in
    * exactly ONE match (terminal punctuation glued to its sentence, a
    * trailing fragment kept as the last sentence) — segmentation is a
    * partition of the text and loses nothing. No lookarounds, so the
    * same pattern runs identically under Java regex and RE2 and the
    * operator is fully oracle-checkable.
    *
    * Output: one row per non-blank sentence — (doc_id, sent_idx,
    * sentence, n_chars), `sent_idx` the 1-based match ordinal in the
    * original text (blank matches — e.g. trailing whitespace after a
    * terminator — are dropped AFTER numbering, so indices always
    * reflect textual position), `sentence` whitespace-trimmed. Map-only
    * explode at any scale; downstream per-sentence dedup/quality runs
    * on rows, not substrings. */
  def sentences(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol),
        posexplode(regexp_extract_all(coalesce(text, lit("")),
          lit("[^.!?]+[.!?]*"), lit(0))).as(Seq("__p", "__s")))
      .select(col(idCol), (col("__p") + 1).cast("long").as("sent_idx"),
        trim(col("__s")).as("sentence"))
      .where(length(col("sentence")) > 0)
      .withColumn("n_chars", length(col("sentence")).cast("long"))

  def rollingHash(s: String, window: Int): Array[Long] = {
    val Mod = (1L << 61) - 1
    val Base = 257L
    def mulmod(a: Long, b: Long): Long = {
      // 61-bit-safe multiply via 128-bit arithmetic on BigInt-free path
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      // fold 128-bit product mod 2^61-1: (x mod 2^61) + (x >> 61)
      val lo61 = lo & Mod
      val rest = (lo >>> 61) | (hi << 3)
      val r = lo61 + rest
      if (r >= Mod) r - Mod else r
    }
    val bytes = s.getBytes("UTF-8")
    if (bytes.length < window) return Array.empty
    var pow = 1L
    (1 until window).foreach(_ => pow = mulmod(pow, Base))
    var h = 0L
    (0 until window).foreach { i =>
      h = (mulmod(h, Base) + (bytes(i) & 0xffL)) % Mod
    }
    val out = new Array[Long](bytes.length - window + 1)
    out(0) = h
    (window until bytes.length).foreach { i =>
      h = (h + Mod - mulmod(bytes(i - window) & 0xffL, pow)) % Mod
      h = (mulmod(h, Base) + (bytes(i) & 0xffL)) % Mod
      out(i - window + 1) = h
    }
    out
  }

  /** Corpus collocations: adjacent-token bigrams ranked by LIFT — the
    * multiword-expression miner ("new york", "machine learning") whose
    * usual PMI score is log(lift); ranking by lift ranks identically and
    * stays EXACT: lift_x1000 = (c_ab * N_u^2 * 1000) div (N_b * c_a *
    * c_b) in floor-divided thousandths through decimal(38) products
    * (N_u^2 overflows int64 at ~3B tokens; decimal(38) holds to 1e19
    * tokens) — the Itemsets.pairRules fixed-point scheme. No log, no
    * float, fully oracle-checkable.
    *
    * Scale shape: two map-side-partial count aggregates (unigrams,
    * bigrams) + two broadcast totals + two hash joins on the word key;
    * `minCount` prunes the bigram tail before the joins. */
  def collocations(df: DataFrame, text: Column, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1)
    val toks = df.select(split(text, " ").as("__ws"))
      .where(text.isNotNull)
    val uniCnt = toks.select(explode(col("__ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nU = uniCnt.agg(sum(col("c")).as("n_uni"))
    // sequence(1, size-1) DESCENDS when size = 1 (Spark steps -1 toward
    // the stop) — single-token docs must be excluded before the expand
    val bigrams = toks.filter(size(col("__ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(__ws) - 1),
          |  i -> named_struct('w1', element_at(__ws, i),
          |                    'w2', element_at(__ws, i + 1)))""".stripMargin))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pairCnt = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val nB = bigrams.agg(count(lit(1)).as("n_bi"))
    pairCnt
      .join(uniCnt.select(col("w").as("w1"), col("c").as("n_w1")), "w1")
      .join(uniCnt.select(col("w").as("w2"), col("c").as("n_w2")), "w2")
      .crossJoin(broadcast(nU)).crossJoin(broadcast(nB))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"),
        expr("""CAST(n_pair AS DECIMAL(38,0)) * n_uni * n_uni * 1000
                DIV (CAST(n_bi AS DECIMAL(38,0)) * n_w1 * n_w2)""")
          .as("lift_x1000"))
      .orderBy(col("lift_x1000").desc, col("w1"), col("w2"))
      .limit(topK)
  }
}
