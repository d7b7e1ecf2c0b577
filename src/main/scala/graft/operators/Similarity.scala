package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three tiers, all shuffle-bounded:
  *  - [[bruteForceTopK]]: exact cosine; per-row norms (and, for the exact
  *    variant, quantized vectors) are computed ONCE per side before the
  *    join, so the per-pair work is a single dot product. Top-k per query
  *    is a window over the scored join — viable when one side broadcasts
  *    (the "score a query batch against the corpus" shape).
  *  - exact variant: integer-quantized arithmetic, bit-identical across
  *    engines/orders (the correctness-oracle path).
  *  - [[lshTopK]]: sign-random-projection LSH — candidates only from
  *    matching hash buckets (shuffle on bucket key), then exact re-rank.
  *    The 100 TB path: bucket fan-out is data-independent and the
  *    all-pairs join never materializes.
  */
object Similarity {

  /** Exact cosine in double precision over raw float arrays (standalone
    * scalar form; the join paths below precompute instead). */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VectorFunctions.vec_dot
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))
  }

  /** Order-independent exact cosine on PRE-QUANTIZED long arrays (see
    * [[quantize]]): int64 dot product, double only at the final division.
    * Kept for API completeness; the oracle query path uses the quantized
    * join below. */
  def cosineExactDecimal(a: Column, b: Column): Column = {
    val qa = quantize(a); val qb = quantize(b)
    val dot = dotLong(qa, qb)
    val na = dotLong(qa, qa)
    val nb = dotLong(qb, qb)
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))
  }

  /** float -> round(x*1e8) as long: both engines compute the identical
    * double product and round identically, so quantized vectors are
    * bit-equal; int sums are exact (dim * (4e7)^2 << 2^63). */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * lit(1e8)).cast("long"))

  /** [[quantize]] at an explicit scale — the JL/MIPS tiers project from
    * a 1e4 grid so 64-term projections and their 16-dim dots stay far
    * inside int64 (1e8-grid JL sums-of-squares would overflow). */
  def quantizeAt(emb: Column, scale: Double): Column =
    transform(emb, x => round(x.cast("double") * lit(scale)).cast("long"))

  // native codegen'd exact integer dot (graft.functions.LongVectorDot) —
  // identical value to aggregate(zip_with(a, b, _*_), 0L, _+_): long
  // products and adds are exact, so order/implementation can't matter
  private def dotLong(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot_long(a, b)

  // native codegen'd dot (graft.functions.FloatVectorDot) — same
  // left-to-right double accumulation as the HOF form, ~none of its
  // interpreted-lambda overhead on the per-pair hot path
  private def dotDouble(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  /** Brute-force top-k neighbors for each row of `queries` against
    * `corpus`, `queries` broadcast. `exact = true` uses the quantized
    * integer path (cross-engine deterministic); both paths precompute
    * per-row vectors/norms so the join computes one dot product per pair. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      exact: Boolean = false): DataFrame = {
    def prep(df: DataFrame, idAs: String, vAs: String, nAs: String) = {
      val v = if (exact) quantize(col("embedding")) else col("embedding")
      df.select(col("vec_id").as(idAs), v.as(vAs))
        .withColumn(nAs, sqrt(
          (if (exact) dotLong(col(vAs), col(vAs))
           else dotDouble(col(vAs), col(vAs))).cast("double")))
    }
    val q = prep(queries, "query_id", "q_v", "q_n")
    val c = prep(corpus, "neighbor_id", "c_v", "c_n")
    val dot = if (exact) dotLong(col("q_v"), col("c_v")).cast("double")
      else dotDouble(col("q_v"), col("c_v"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", dot / (col("q_n") * col("c_n")))
    heapTopK(scored, k)
  }

  /** Exact maximum-inner-product top-k (MIPS) — the retrieval mode for
    * embeddings trained with dot-product objectives (two-tower
    * recommenders), where the longest vectors matter and cosine's norm
    * division is wrong. Scores are EXACT int64 dots of `scale`-quantized
    * vectors: quantization (same double-multiply-then-round both engines
    * compute bit-identically — see [[quantize]]) at 1e4 keeps
    * dim * (|x| * scale)^2 well under 2^53, so the score survives the
    * double-typed heap aggregate losslessly and casts back to the exact
    * BIGINT — fully oracle-checkable, no float ordering anywhere.
    *
    * Scale path: MIPS reduces to cosine by augmenting each corpus vector
    * with sqrt(M^2 - |x|^2) (M = max norm; Bachrach et al., RecSys 2014)
    * — after that one extra dimension, every bucketed ANN tier here
    * (SRP-LSH, IVF, PQ) serves MIPS unchanged. This exact form is the
    * oracle gate those tiers are measured against. */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      scale: Double = 1e4): DataFrame = {
    def prep(df: DataFrame, idAs: String, vAs: String) =
      df.select(col("vec_id").as(idAs),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(scale)).cast("long")).as(vAs))
    val q = prep(queries, "query_id", "q_v")
    val c = prep(corpus, "neighbor_id", "c_v")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__ip", dotLong(col("q_v"), col("c_v")).cast("double"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKBy.topk_by(col("__ip"),
        col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").cast("long").as("ip"))
  }

  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020):
    * the embedding is treated as `subVecs` flattened token vectors and
    * score(q, d) = sum over query tokens of the max over doc tokens of
    * the exact int64 quantized dot — the multi-vector relevance model
    * single-vector cosine can't express (per-token soft alignment).
    * All-integer scoring makes ranks bit-identical cross-engine: a FULL
    * oracle gate, unlike typical ANN tiers.
    *
    * Plan shape matches [[mipsTopK]]: queries broadcast, one codegen'd
    * S^2-dot MaxSim per pair (never a per-token explode — the pair
    * stream stays |Q| x |corpus| rows, not x S^2), bounded-heap top-k
    * per query. At 100 TB the corpus side stays partition-local. */
  def maxSimTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      subVecs: Int = 4, scale: Double = 1e4): DataFrame = {
    require(subVecs >= 1, s"subVecs: $subVecs")
    def prep(df: DataFrame, idAs: String, vAs: String) =
      df.select(col("vec_id").as(idAs),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(scale)).cast("long")).as(vAs))
    val q = prep(queries, "query_id", "q_v")
    val c = prep(corpus, "neighbor_id", "c_v")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__ms", graft.functions.VectorFunctions
        .vec_maxsim_long(col("q_v"), col("c_v"), subVecs).cast("double"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKBy.topk_by(col("__ms"),
        col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("neighbor_id"),
        col("e.score").cast("long").as("maxsim"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — the highest-value negatives for triplet/InfoNCE objectives
    * (the easy negatives a random sampler draws are already separated;
    * the near-boundary ones here carry the gradient). Scoring is the
    * exact quantized-integer cosine ([[quantize]]), so results are
    * bit-identical across engines and fully oracle-checkable.
    *
    * Plan shape matches [[bruteForceTopK]]: queries broadcast, label
    * inequality rides the SAME broadcast join (a per-pair predicate, not
    * a pre-filter — each query excludes only its own class), one dot per
    * surviving pair, bounded-heap top-k. At scale the label check prunes
    * pairs before the dot product evaluates (cheap int comparison guards
    * the expensive vector expression in the join condition order). */
  def hardNegativesTopK(queries: DataFrame, corpus: DataFrame, k: Int)
      : DataFrame = {
    def prep(df: DataFrame, idAs: String, vAs: String, nAs: String,
        lAs: String) =
      df.select(col("vec_id").as(idAs), col("label").as(lAs),
          quantize(col("embedding")).as(vAs))
        .withColumn(nAs, sqrt(dotLong(col(vAs), col(vAs)).cast("double")))
    val q = prep(queries, "query_id", "q_v", "q_n", "q_label")
    val c = prep(corpus, "neighbor_id", "c_v", "c_n", "c_label")
    val scored = c.join(broadcast(q),
        col("q_label") =!= col("c_label") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        dotLong(col("q_v"), col("c_v")).cast("double") /
          (col("q_n") * col("c_n")))
    // re-attach the negative's label by broadcasting the TINY top-k
    // result (|queries| * k rows) back over a map-only corpus scan — the
    // heap aggregate carries (score, id) only, and shuffling the corpus
    // to decorate nq*k rows would invert the size relationship
    val top = heapTopK(scored, k)
    corpus.select(col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"))
      .join(broadcast(top), Seq("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), col("cos_sim"))
  }

  /** SMOTE-style synthetic minority oversampling (Chawla et al. 2002),
    * exact-arithmetic variant: the minority class (fewest rows, ties to
    * the smaller label) pairs each of its vectors with its k nearest
    * SAME-class neighbors (exact int64-quantized cosine) and emits the
    * per-dimension floor-midpoint of each pair on the quantized grid —
    * the class-balancing synthesizer for embedding-space training sets.
    *
    * Midpoints are computed as (a+b − pmod(a+b, 2))/2 — exact floor on
    * integers in BOTH engines (plain `/` would be float, `div` would
    * truncate toward zero on negatives), so the synthetic vectors are
    * bit-identical cross-engine and the gate checks their digests
    * (element sum + exact self-dot) rather than trusting float interp.
    * Scale path: the neighbor stage swaps for any ANN tier; everything
    * after is map-only on |minority|·k rows. Output: (vec_id, rank,
    * nb_id, n_dims, sum_mid, ssq_mid). */
  def smoteMidpoints(corpus: DataFrame, k: Int): DataFrame = {
    // null labels are no class: drop them BEFORE the minority pick —
    // Spark sorts nulls first where the oracle's ORDER BY sorts them
    // last, so a null-label group would diverge the choice
    val labeled = corpus.where(col("label").isNotNull)
    val counts = labeled.groupBy(col("label")).agg(count(lit(1)).as("__n"))
    val minorityLbl = counts.orderBy(col("__n"), col("label"))
      .limit(1).select(col("label"))
    val minor = labeled.join(broadcast(minorityLbl), Seq("label"))
    val top = bruteForceTopK(minor, minor, k, exact = true)
    val qv = minor.select(col("vec_id"), quantize(col("embedding")).as("__q"))
    val mid = zip_with(col("__qa"), col("__qb"), (a, b) => {
      val s = a + b
      ((s - pmod(s, lit(2L))) / lit(2L)).cast("long")
    })
    // decorate the TINY top-k result with both endpoint vectors by
    // broadcasting IT over map-only minority scans (same inversion as
    // hardNegativesTopK — shuffling the vectors to |min|·k rows would
    // invert the size relationship)
    val withA = qv.select(col("vec_id").as("query_id"), col("__q").as("__qa"))
      .join(broadcast(top), Seq("query_id"))
    val withB = qv.select(col("vec_id").as("neighbor_id"),
        col("__q").as("__qb"))
      .join(broadcast(withA), Seq("neighbor_id"))
    withB
      .withColumn("__mid", mid)
      .select(col("query_id").as("vec_id"), col("rank"),
        col("neighbor_id").as("nb_id"),
        size(col("__mid")).as("n_dims"),
        aggregate(col("__mid"), lit(0L), (acc, x) => acc + x)
          .as("sum_mid"),
        graft.functions.VectorFunctions.vec_dot_long(col("__mid"),
          col("__mid")).as("ssq_mid"))
  }

  /** k-NN majority-vote classification over the embedding corpus —
    * the classic label-propagation readout ("what label do my nearest
    * neighbors carry?") used to audit embedding quality and to
    * pseudo-label unlabeled pools. Neighbors come from
    * [[bruteForceTopK]] in exact int64-quantized mode, so the ranking
    * is fully oracle-checkable; the vote is pure integer counting with
    * the deterministic tie rule (most votes, then smallest label).
    *
    * Scale path: the neighbor stage is whatever ANN tier fits the
    * corpus (IVF/LSH replace bruteForce 1:1 on the same output shape);
    * the vote is a |queries|·k → |queries| aggregation — negligible.
    * The neighbor-label decorate broadcasts the tiny top-k result over
    * a map-only corpus scan (same inversion as [[hardNegativesTopK]]).
    * Output: (query_id, true_label, pred_label, votes, correct). */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int)
      : DataFrame = {
    val top = bruteForceTopK(queries, corpus, k, exact = true)
    val decorated = corpus.select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("__nl"))
      .join(broadcast(top), Seq("neighbor_id"))
    val votes = decorated.groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("votes"))
    val best = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__nl"))
    votes.withColumn("__rn", row_number().over(best))
      .where(col("__rn") === 1)
      .join(queries.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("true_label")), Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("__nl").as("pred_label"), col("votes"),
        (col("__nl") === col("true_label")).cast("long").as("correct"))
  }

  /** Final per-query top-k over a scored candidate set, via the native
    * bounded-heap aggregate (graft.functions.TopKByAgg) instead of a
    * rank window: the window form shuffles EVERY scored candidate row to
    * its query's partition and sort-buffers it (for brute force that is
    * |queries| x |corpus| rows through one exchange); the heap's partial
    * pass caps each partition at k rows per query BEFORE the shuffle.
    * Ordering identical to the window idiom: cos_sim DESC, ties to the
    * smaller neighbor_id (NaN-greatest, so a 0/0 zero-norm cosine ranks
    * first, as the window form would).
    *
    * DELIBERATE deviation from the window form: candidates with a NULL
    * cos_sim are dropped (the aggregate skips null scores), whereas
    * `row_number() <= k` would admit them when a query has fewer than k
    * non-null candidates. A null score is never a meaningful neighbor,
    * and the alternative — `.filter(cos_sim.isNotNull)` on this COMPUTED
    * column — is exactly the scan-pushdown trap (see [[nearestCells]]):
    * the dot-product expression would re-evaluate at the parquet scan. */
  private def heapTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKBy.topk_by(col("cos_sim"),
        col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos_sim"))

  /** All `tables * bits` SRP hyperplanes for a deterministic seed. */
  private def planes(dim: Int, bits: Int, tables: Int, seed: Long)
      : Seq[Seq[Seq[Double]]] = {
    (0 until tables).map { t =>
      val rng = new scala.util.Random(seed + t)
      Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
    }
  }

  /** SRP bucket ids, one per hashtable, as array<int>. Each bit is one
    * zip_with/aggregate dot against a literal plane — compact expressions
    * that never blow the codegen method limit (a flat element_at sum at
    * dim=64 x bits=8 x tables does, and falls back to interpreted eval). */
  def srpBuckets(emb: Column, dim: Int, bits: Int, tables: Int,
      seed: Long = 42L): Column = {
    val ps = planes(dim, bits, tables, seed)
    array(ps.map { tablePlanes =>
      tablePlanes.zipWithIndex.map { case (plane, b) =>
        val proj = graft.functions.VectorFunctions.vec_dot(emb, typedlit(plane))
        when(proj >= 0, lit(1 << b)).otherwise(lit(0))
      }.reduce((x, y) => x.bitwiseOR(y))
    }: _*)
  }

  /** ±1 Rademacher weight for SRP plane (table, bit) at dimension `i` —
    * pure mod-P integer arithmetic (the parity of a Carter-Wegman hash
    * over the flattened plane index), shared VERBATIM with the SQL
    * oracle so buckets replay bit-for-bit. Achlioptas (2003, "Database-
    * friendly random projections") shows ±1 projections preserve angles
    * like gaussians, so the recall curve family matches [[srpBuckets]]. */
  def srpWeight(t: Int, b: Int, i: Int, bits: Int, dim: Int): Long = {
    // md5 parity per (flat plane, coordinate) — i.i.d. Rademacher
    // entries. The round-6 golden-ratio-parity formula was a Weyl
    // sequence whose parities are Sturmian, NOT independent: plane rows
    // repeated the pattern (++--) with rare slips, pairwise row dots
    // averaged |30|/64 with some rows IDENTICAL — projections were
    // heavily correlated and any multi-plane construction (SRP buckets,
    // JL projections) had far less effective dimension than designed.
    // Weights are plan-time constants (typedlit on the Spark side,
    // literal lists in the oracle SQL), so replayability is unchanged.
    val flat = t.toLong * bits + b
    if (graft.functions.HashUtil.md5head63(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(s"srp:$flat:$i")) % 2 == 0) 1L else -1L
  }

  /** SRP buckets over the QUANTIZED vector with deterministic ±1 planes
    * ([[srpWeight]]): each projection is an exact int64 sum, so unlike
    * the gaussian [[srpBuckets]] a SQL oracle replays every bucket —
    * the LSH tier itself becomes oracle-checkable end-to-end. Same
    * shape: array of `tables` int bucket ids, `bits` sign bits each. */
  def srpBucketsInt(qv: Column, dim: Int, bits: Int, tables: Int): Column =
    array((0 until tables).map { t =>
      (0 until bits).map { b =>
        val ws = (0 until dim).map(i => srpWeight(t, b, i, bits, dim))
        val proj = dotLong(qv, typedlit(ws))
        when(proj >= 0, lit(1 << b)).otherwise(lit(0))
      }.reduce((x, y) => x.bitwiseOR(y))
    }: _*)

  /** Johnson–Lindenstrauss projection with deterministic ±1 entries
    * (Achlioptas 2003, "Database-friendly random projections":
    * Rademacher matrices carry the same distance-preservation guarantee
    * as gaussian ones) over the QUANTIZED vector — `outDim` exact int64
    * sums, reusing [[srpWeight]]'s md5-parity plane family (table 0,
    * bits = outDim), constants a SQL oracle inlines verbatim. The replayable dimensionality-reduction tier next to
    * the float PCA ([[pcaProject]] stays model-specific): map-only,
    * codegen'd, output magnitude <= dim * max|qv| per coordinate. */
  def jlProjectInt(qv: Column, dim: Int, outDim: Int): Column =
    array((0 until outDim).map { j =>
      val ws = (0 until dim).map(i => srpWeight(0, j, i, outDim, dim))
      dotLong(qv, typedlit(ws))
    }: _*)

  /** JL-space brute-force top-k with full-dim exact rescore: queries and
    * corpus project 64 -> `outDim` dims (4x cheaper dots at outDim 16),
    * rank by the projected quantized cosine, and each returned neighbor
    * carries its full-dim exact cosine — integer-deterministic end to
    * end so the tier is oracle-checkable.
    *
    * What JL does and does not promise: cosine estimates carry noise
    * ~sqrt((1-cos²)/outDim) (~0.25 at outDim 16), so on a corpus whose
    * top-k margins are smaller than that the projected ranking diverges
    * from the exact one — the cos_full column makes the degradation
    * visible per neighbor (this gate doubles as the audit). What IS
    * guaranteed is distance-CLASS preservation: a pair separated from
    * the bulk by more than the noise (near-dups at cos ~0.99 vs bulk
    * ~0) keeps its separation, which SimilaritySpec pins with planted
    * copies retrieved at JL rank 1. */
  def jlTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      outDim: Int): DataFrame = {
    // projection side on the 1e4 grid (64-term sums, 16-dim dots stay
    // int64-safe); the full-dim rescore keeps the 1e8 exact-cosine grid
    def prep(df: DataFrame, idAs: String, vAs: String, pAs: String) =
      df.select(col("vec_id").as(idAs), quantize(col("embedding")).as(vAs),
          quantizeAt(col("embedding"), 1e4).as("__q4"))
        .withColumn(pAs, jlProjectInt(col("__q4"), dim, outDim))
        .drop("__q4")
    val q = prep(queries, "query_id", "q_v", "q_p")
      .withColumn("q_pn", sqrt(dotLong(col("q_p"), col("q_p")).cast("double")))
      .withColumn("q_n", sqrt(dotLong(col("q_v"), col("q_v")).cast("double")))
    val c = prep(corpus, "neighbor_id", "c_v", "c_p")
      .withColumn("c_pn", sqrt(dotLong(col("c_p"), col("c_p")).cast("double")))
      .withColumn("c_n", sqrt(dotLong(col("c_v"), col("c_v")).cast("double")))
    val scored = c.select(col("neighbor_id"), col("c_p"), col("c_pn"))
      .join(broadcast(q.select(col("query_id"), col("q_p"), col("q_pn"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", dotLong(col("q_p"), col("c_p")).cast("double") /
        (col("q_pn") * col("c_pn")))
    // rescore ONLY the k survivors at full dim (the prefilter economics)
    heapTopK(scored, k)
      .join(broadcast(q.select(col("query_id"), col("q_v"), col("q_n"))),
        "query_id")
      .join(c.select(col("neighbor_id"), col("c_v"), col("c_n")),
        "neighbor_id")
      .withColumn("cos_full", dotLong(col("q_v"), col("c_v")).cast("double") /
        (col("q_n") * col("c_n")))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), col("cos_full"))
  }

  /** Exact-integer power iteration for the first principal direction —
    * the oracle-checkable PCA tier (float [[pcaProject]] is
    * model-specific). MLlib's own PCA shape: the d x d Gramian
    * C = AᵀA aggregates distributed (ONE explode pass, map-side
    * combined into d² cells), the d²-long matrix comes to the driver
    * (bounded state — 32 KB at d=64), and `iters` rounds of
    * v <- C·v run there in pure Long arithmetic with deterministic
    * shift normalization (C pre-shifted under 2^34, v kept under 2^20,
    * so |C·v| <= d·2^54 never overflows; all shifts arithmetic = floor
    * on both engines). Projections fan back out map-only as one
    * codegen'd dot. No float enters anywhere, so a SQL oracle unrolling
    * the same `iters` matvecs reproduces every projection bit-exactly —
    * convergence to the true eigenvector is governed by the eigengap
    * (spec'd against brute-force eigen alignment in SimilaritySpec),
    * but ORACLE equality holds at any iteration count. */
  /** Exact-integer orthogonal (power) iteration for the top `nComp`
    * principal directions — the multi-component extension of
    * [[powerIterationPc1]], still fully SQL-replayable. Component c
    * power-iterates the SAME shifted Gramian but GRAM-SCHMIDTs against
    * every previous component each round (classic orthogonal
    * iteration), all in deterministic Long arithmetic:
    *
    *   - matvec w = C·v with C under 2^34 and v under ~2^20: safe;
    *   - shift-normalize u = w >> (bitlen(max|w|) - 18);
    *   - per previous component p: q = (u·p) / (p·p >> 20) — a 2^20
    *     fixed-point projection coefficient (integer q = u·p/p·p would
    *     truncate to 0 near convergence and silently collapse every
    *     component onto PC1) — then u -= (q·p) >> 20; |u| stays ~2^20,
    *     every product under 2^48;
    *   - truncating division and arithmetic shifts match DuckDB's
    *     `//` and `>>` exactly (both truncate toward zero / floor-shift
    *     — the kmeans and PC1 oracles already pin this).
    *
    * Driver state: nComp d-long vectors + the d² Gramian; the Gramian
    * aggregation is the only distributed pass. Like the fixed-round
    * k-means/PCA/BPE tiers, the REPLAYABILITY CONTRACT is the fixed
    * iteration count, not convergence. */
  private[graft] def pcaIntComponents(df: DataFrame, dim: Int,
      nComp: Int, iters: Int): Seq[Array[Long]] = {
    val C = shiftedIntGramian(df, dim)
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    (0 until nComp).foreach { _ =>
      var v = Array.fill(dim)(1L)
      (0 until iters).foreach { _ =>
        val w = Array.tabulate(dim) { j =>
          var acc = 0L
          var k2 = 0
          while (k2 < dim) { acc += C(j)(k2) * v(k2); k2 += 1 }
          acc
        }
        val s = math.max(0, bitlen(w.map(math.abs).max) - 18)
        var u = w.map(_ >> s)
        comps.foreach { p =>
          val den = p.map(x => x * x).sum >> 20
          if (den != 0L) {
            val num = u.indices.map(i => u(i) * p(i)).sum
            val qf = num / den
            u = u.indices.map(i => u(i) - ((qf * p(i)) >> 20)).toArray
          }
        }
        v = u
      }
      comps += v
    }
    comps.toSeq
  }

  /** The top-`nComp` integer-PCA projections as columns: map-only
    * exact int64 dots against the literal component vectors. */
  def pcaIntProject(df: DataFrame, dim: Int, nComp: Int, iters: Int)
      : DataFrame = {
    val comps = pcaIntComponents(df, dim, nComp, iters)
    val q4 = quantizeAt(col("embedding"), 1e4)
    df.select(col("vec_id") +: comps.zipWithIndex.map { case (v, i) =>
      graft.functions.VectorFunctions.vec_dot_long(q4,
        typedlit(v.toSeq)).as(s"proj_${i + 1}")
    }: _*)
  }

  /** PCA-prefiltered ANN on the integer components — [[jlTopK]]'s
    * prefilter/rescore shape with the data-adaptive projection:
    * candidates rank by cosine in the nComp-dim projected space, the
    * survivors re-rank by the exact full-dim 1e8-grid cosine. Fully
    * oracle-checked (projection, prefilter and rescore all replay);
    * the float eigenbasis [[pcaTopK]] stays the spec'd sibling. */
  def pcaIntTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nComp: Int, iters: Int): DataFrame = {
    val comps = pcaIntComponents(corpus, dim, nComp, iters)
    // raw projections reach ~2^32 (q4 ~2^14+6 x components ~2^20+6):
    // their SQUARES in the prefilter norm would overflow int64 — shift
    // 12 bits first (deterministic, replayed verbatim by the oracle;
    // ranking granularity is unaffected at these magnitudes)
    def projCol(q4: Column): Column = array(comps.map(v =>
      shiftright(graft.functions.VectorFunctions.vec_dot_long(q4,
        typedlit(v.toSeq)), 12)): _*)
    def prep(df: DataFrame, idAs: String, vAs: String, pAs: String) =
      df.select(col("vec_id").as(idAs), quantize(col("embedding")).as(vAs),
          quantizeAt(col("embedding"), 1e4).as("__q4"))
        .withColumn(pAs, projCol(col("__q4")))
        .drop("__q4")
    val q = prep(queries, "query_id", "q_v", "q_p")
      .withColumn("q_pn", sqrt(dotLong(col("q_p"), col("q_p")).cast("double")))
      .withColumn("q_n", sqrt(dotLong(col("q_v"), col("q_v")).cast("double")))
    val c = prep(corpus, "neighbor_id", "c_v", "c_p")
      .withColumn("c_pn", sqrt(dotLong(col("c_p"), col("c_p")).cast("double")))
      .withColumn("c_n", sqrt(dotLong(col("c_v"), col("c_v")).cast("double")))
    val scored = c.select(col("neighbor_id"), col("c_p"), col("c_pn"))
      .join(broadcast(q.select(col("query_id"), col("q_p"), col("q_pn"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", dotLong(col("q_p"), col("c_p")).cast("double") /
        (col("q_pn") * col("c_pn")))
    heapTopK(scored, k)
      .join(broadcast(q.select(col("query_id"), col("q_v"), col("q_n"))),
        "query_id")
      .join(c.select(col("neighbor_id"), col("c_v"), col("c_n")),
        "neighbor_id")
      .withColumn("cos_full", dotLong(col("q_v"), col("c_v")).cast("double") /
        (col("q_n") * col("c_n")))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), col("cos_full"))
  }

  /** The 1e4-grid Gramian, pre-shifted under 2^34 — the shared driver
    * matrix behind [[powerIterationPc1]] and [[pcaIntComponents]]. */
  private def shiftedIntGramian(df: DataFrame, dim: Int)
      : Array[Array[Long]] = {
    val q = df.select(quantizeAt(col("embedding"), 1e4).as("q4"))
    val flat = q.rdd
      .treeAggregate(new Array[Long](dim * dim))(
        (acc, row) => {
          val v = row.getSeq[Long](0)
          var j = 0
          while (j < dim) {
            val vj = v(j)
            var k = 0
            while (k < dim) { acc(j * dim + k) += vj * v(k); k += 1 }
            j += 1
          }
          acc
        },
        (a, b) => {
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        })
    val C = Array.tabulate(dim, dim)((j, k) => flat(j * dim + k))
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val maxC = C.flatten.map(math.abs).max
    val cShift = math.max(0, bitlen(maxC) - 34)
    var j = 0
    while (j < dim) {
      var k = 0
      while (k < dim) { C(j)(k) = C(j)(k) >> cShift; k += 1 }
      j += 1
    }
    C
  }

  def powerIterationPc1(df: DataFrame, dim: Int = 64, iters: Int = 100)
      : DataFrame = {
    val q = df.select(col("vec_id"),
      quantizeAt(col("embedding"), 1e4).as("q4"))
    // Gramian via one-pass per-partition accumulation + tree merge —
    // MLlib's RowMatrix.computeGramianMatrix shape (the d² accumulator
    // is genuine per-partition imperative state; the declarative
    // explode form shuffles n·d² rows and measured 5x slower); shared
    // with the multi-component tier ([[shiftedIntGramian]]).
    val C = shiftedIntGramian(df, dim)
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    var v = Array.fill(dim)(1L)
    var t = 0
    while (t < iters) {
      val w = Array.tabulate(dim) { jj =>
        var acc = 0L
        var kk = 0
        while (kk < dim) { acc += C(jj)(kk) * v(kk); kk += 1 }
        acc
      }
      val s = math.max(0, bitlen(w.map(math.abs).max) - 20)
      v = w.map(_ >> s)
      t += 1
    }
    q.select(col("vec_id"),
      graft.functions.VectorFunctions.vec_dot_long(col("q4"),
        typedlit(v.toSeq)).as("pc1_proj"))
  }

  /** Integer Lloyd's k-means — the oracle-checkable clustering tier
    * (the float [[kMeansCodebook]] stays the paper-faithful sibling).
    * Vectors live on the 1e4 quantization grid; every step is exact
    * integer arithmetic with deterministic ties, so a SQL oracle
    * unrolling the same `iters` rounds reproduces the codebook and
    * every assignment bit-for-bit:
    *  - init: the k smallest vec_ids' vectors;
    *  - assignment: argmin of exact integer L2 via the expanded form
    *    (-2·x·c + |c|², |x|² constant per row), FIRST minimum wins
    *    (array_position semantics = smallest cell index);
    *  - update: per-dim truncating division sum/count — Scala `/` and
    *    DuckDB `//` both truncate toward zero, so centroids stay on
    *    the integer grid identically; an emptied cell keeps its
    *    previous centroid.
    * Scale shape: assignment is map-only against broadcast-literal
    * centroids; the update is ONE treeAggregate into a k×(dim+1)
    * accumulator (the Gramian pattern); `iters` is FIXED — the
    * replayability contract, not a convergence loop. */
  def kMeansIntCodebook(df: DataFrame, k: Int, iters: Int, dim: Int)
      : Array[Array[Long]] =
    kMeansIntOnQ4(df.select(col("vec_id"),
      quantizeAt(col("embedding"), 1e4).as("q4")), k, iters, dim)

  /** All `m` per-subspace integer codebooks from ONE fused Lloyd's
    * loop — one treeAggregate action per iteration instead of m
    * separate loops (m * iters actions of pure job-scheduling
    * overhead; the float pqCodebooks makes the same trade). Same
    * per-subspace arithmetic as [[kMeansIntOnQ4]], bit-identical
    * books. */
  private[operators] def kMeansIntSubspaces(base0: DataFrame, m: Int,
      k: Int, iters: Int, subDim: Int): Array[Array[Array[Long]]] = {
    def sub(c: Column, s: Int) = slice(c, s * subDim + 1, subDim)
    // pin the quantized training set ONCE (r11): the init collect plus
    // every Lloyd iteration's treeAggregate otherwise re-executes the
    // upstream scan + quantize cast per action (iters+1 re-executions)
    val base = base0.pinned()
    val initRows = base.orderBy(col("vec_id")).limit(k)
      .select(col("q4")).collect().map(_.getSeq[Long](0).toArray)
    var books: Array[Array[Array[Long]]] = Array.tabulate(m)(s =>
      initRows.map(_.slice(s * subDim, (s + 1) * subDim)))
    val stride = k * (subDim + 1)
    var t = 0
    while (t < iters) {
      val cells = array((0 until m).map(s =>
        argminCellInt(sub(col("q4"), s), books(s))): _*)
      val acc = base.select(col("q4"), cells.as("cs")).rdd
        .treeAggregate(new Array[Long](m * stride))(
          (a, row) => {
            val v = row.getSeq[Long](0)
            val cs = row.getSeq[Int](1)
            var s = 0
            while (s < m) {
              val off = s * stride + cs(s) * (subDim + 1)
              var i = 0
              while (i < subDim) {
                a(off + i) += v(s * subDim + i); i += 1
              }
              a(off + subDim) += 1L
              s += 1
            }
            a
          },
          (a, b) => {
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
      books = Array.tabulate(m) { s =>
        Array.tabulate(k) { c =>
          val off = s * stride + c * (subDim + 1)
          val n = acc(off + subDim)
          if (n == 0L) books(s)(c)
          else Array.tabulate(subDim)(i => acc(off + i) / n)
        }
      }
      t += 1
    }
    books
  }

  /** [[kMeansIntCodebook]]'s core over a pre-quantized (vec_id, q4)
    * frame — shared with the per-subspace PQ codebooks. */
  private[operators] def kMeansIntOnQ4(q0: DataFrame, k: Int, iters: Int,
      dim: Int): Array[Array[Long]] = {
    require(k >= 1 && iters >= 0)
    // pinned once — see kMeansIntSubspaces (r11)
    val q = q0.pinned()
    var cents: Array[Array[Long]] = q.orderBy(col("vec_id")).limit(k)
      .select(col("q4")).collect().map(_.getSeq[Long](0).toArray)
    var t = 0
    while (t < iters) {
      val assigned = q.withColumn("cell", argminCellInt(col("q4"), cents))
      val acc = assigned.select(col("cell"), col("q4")).rdd
        .treeAggregate(new Array[Long](k * (dim + 1)))(
          (a, row) => {
            val c = row.getInt(0)
            val v = row.getSeq[Long](1)
            var i = 0
            while (i < dim) { a(c * (dim + 1) + i) += v(i); i += 1 }
            a(c * (dim + 1) + dim) += 1L
            a
          },
          (a, b) => {
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
      cents = cents.zipWithIndex.map { case (old, c) =>
        val n = acc(c * (dim + 1) + dim)
        if (n == 0L) old
        else Array.tabulate(dim)(i => acc(c * (dim + 1) + i) / n)
      }
      t += 1
    }
    cents
  }

  /** Final assignment view of [[kMeansIntCodebook]]: (vec_id, cell,
    * dist_sq) with the exact integer squared L2 to the winning
    * centroid — the gate/oracle surface. */
  def kMeansIntAssign(df: DataFrame, cents: Array[Array[Long]])
      : DataFrame = {
    val q = df.select(col("vec_id"),
      quantizeAt(col("embedding"), 1e4).as("q4"))
    val scores = array(cents.map { c =>
      val c2 = c.map(x => x * x).sum
      dotLong(col("q4"), typedlit(c.toSeq)) * lit(-2L) + lit(c2)
    }: _*)
    q.select(col("vec_id"),
      (array_position(scores, array_min(scores)) - 1).cast("int")
        .as("cell"),
      (dotLong(col("q4"), col("q4")) + array_min(scores)).as("dist_sq"))
  }

  /** Argmin cell of a quantized vector against literal integer
    * centroids — exact expanded-L2 scores, first minimum wins.
    * coalesce never fires (the min always positions) — it marks the
    * cell NON-NULLABLE so joining on it can't let
    * InferFiltersFromConstraints push an inferred
    * `isnotnull(<the whole centroid-scoring dag>)` into the parquet
    * scan as a DataFilter (the round-4 computed-column trap — every
    * corpus row would re-score at the scan AND the project; PlanSpec
    * pins this). */
  private def argminCellInt(q4: Column, cents: Array[Array[Long]])
      : Column = {
    val scores = array(cents.map { c =>
      val c2 = c.map(x => x * x).sum
      dotLong(q4, typedlit(c.toSeq)) * lit(-2L) + lit(c2)
    }: _*)
    coalesce((array_position(scores, array_min(scores)) - 1).cast("int"),
      lit(-1))
  }

  /** IVF ANN over the INTEGER k-means codebook, fully oracle-checked:
    * corpus vectors live in their argmin cell, each query probes its
    * `nprobe` closest cells (exact integer centroid distances, ties to
    * the smaller cell), candidates score by the exact 1e8-grid
    * quantized cosine and rank deterministically — codebook, cells,
    * probe sets, scores, and ranking all replay in SQL. Same scale
    * shape as [[ivfTopK]]: map-only assignment, broadcast query side,
    * cell-keyed candidate join, bounded-heap top-k. */
  def ivfIntTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      kCells: Int = 8, iters: Int = 6, nprobe: Int = 3): DataFrame =
    ivfIntCore(queries, corpus, k,
      kMeansIntCodebook(corpus, kCells, iters, dim), nprobe)

  /** Integer per-label centroids on the 1e4 grid (truncating per-dim
    * mean — DuckDB `//` parity), label-ascending cell order. The
    * (label, dim) aggregation is map-side combined into a bounded cell
    * set; only labels x dim longs reach the driver. */
  def labelCentroidsInt(corpus: DataFrame, dim: Int): Array[Array[Long]] =
    corpus.select(col("label"),
        posexplode(quantizeAt(col("embedding"), 1e4)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (_, rows) =>
        val c = new Array[Long](dim)
        rows.foreach(r => c(r.getInt(1)) = r.getLong(2) / r.getLong(3))
        c
      }

  /** [[ivfIntTopK]] with the label-centroid coarse quantizer — the
    * integer rebase of the original IVF tier (cells = labels in
    * ascending order), fully oracle-checked for the same reasons. */
  def ivfLabelIntTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, nprobe: Int = 3): DataFrame =
    ivfIntCore(queries, corpus, k, labelCentroidsInt(corpus, dim), nprobe)

  /** Product quantization on the INTEGER Lloyd's codebooks — the fully
    * oracle-checked PQ tier (Jégou et al. 2011 shape; the float
    * [[pqTopK]] stays the spec'd sibling). `m` subspaces each train an
    * integer codebook; corpus vectors compress to m argmin codes;
    * every query carries its exact integer asymmetric-distance table
    * (m x kCodes squared L2s, a map-only literal-centroid expression);
    * the ADC scan ranks (table-sum asc, neighbor asc), the top
    * `candMult * k` candidates re-rank by the exact 1e8-grid cosine.
    * Deterministic integers end to end, so codebooks, codes, ADC
    * scores, the candidate cut AND the final ranking all replay in
    * SQL. Scale shape: codebooks bounded driver state, encoding and
    * tables map-only, the scan a broadcast join over m lookups/pair. */
  def pqIntTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 4, kCodes: Int = 8, iters: Int = 4, candMult: Int = 4)
      : DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    def sub(c: Column, s: Int) = slice(c, s * subDim + 1, subDim)
    val base = corpus.select(col("vec_id"),
      quantizeAt(col("embedding"), 1e4).as("q4"))
    val books = kMeansIntSubspaces(base, m, kCodes, iters, subDim)
    def prep(df: DataFrame, idAs: String) =
      df.select(col("vec_id").as(idAs),
          quantize(col("embedding")).as(s"${idAs}_v"),
          quantizeAt(col("embedding"), 1e4).as("__q4"))
        .withColumn(s"${idAs}_n", sqrt(dotLong(col(s"${idAs}_v"),
          col(s"${idAs}_v")).cast("double")))
    val coded = prep(corpus, "neighbor_id")
      .withColumn("codes", array((0 until m).map(s =>
        argminCellInt(sub(col("__q4"), s), books(s))): _*))
      .drop("__q4")
    val q = prep(queries, "query_id")
      .withColumn("qtab", array((0 until m).map { s =>
        array(books(s).map { cent =>
          val c2 = cent.map(x => x * x).sum
          dotLong(sub(col("__q4"), s), sub(col("__q4"), s)) +
            dotLong(sub(col("__q4"), s), typedlit(cent.toSeq)) *
              lit(-2L) + lit(c2)
        }: _*)
      }: _*))
      .drop("__q4")
    val adc = (0 until m).map(s =>
        element_at(element_at(col("qtab"), s + 1),
          element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val cand = coded.join(broadcast(q),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", adc)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("__adc"), col("neighbor_id"))))
      .filter(col("__rk") <= candMult * k)
    val scored = cand.withColumn("cos_sim",
      dotLong(col("query_id_v"), col("neighbor_id_v")).cast("double") /
        (col("query_id_n") * col("neighbor_id_n")))
    heapTopK(scored, k)
  }

  /** IVF-PQ on the INTEGER tiers (FAISS IVFADC shape, codes over raw
    * vectors like [[ivfPqTopK]]): the integer coarse codebook cuts each
    * query's ADC scan to `nprobe` cells, the integer subspace codebooks
    * supply codes and exact ADC tables, candidates cut on (adc asc,
    * neighbor asc) and re-rank by the exact 1e8-grid cosine — the
    * composite tier fully oracle-checked by composing the two replays. */
  def ivfPqIntTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, kCells: Int = 8, coarseIters: Int = 6, m: Int = 4,
      kCodes: Int = 8, pqIters: Int = 4, nprobe: Int = 3,
      candMult: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    def sub(c: Column, s: Int) = slice(c, s * subDim + 1, subDim)
    val coarse = kMeansIntCodebook(corpus, kCells, coarseIters, dim)
    val base = corpus.select(col("vec_id"),
      quantizeAt(col("embedding"), 1e4).as("q4"))
    val books = kMeansIntSubspaces(base, m, kCodes, pqIters, subDim)
    def prep(df: DataFrame, idAs: String) =
      df.select(col("vec_id").as(idAs),
          quantize(col("embedding")).as(s"${idAs}_v"),
          quantizeAt(col("embedding"), 1e4).as("__q4"))
        .withColumn(s"${idAs}_n", sqrt(dotLong(col(s"${idAs}_v"),
          col(s"${idAs}_v")).cast("double")))
    val coded = prep(corpus, "neighbor_id")
      .withColumn("cell", argminCellInt(col("__q4"), coarse))
      .withColumn("codes", array((0 until m).map(s =>
        argminCellInt(sub(col("__q4"), s), books(s))): _*))
      .drop("__q4")
    val coarseScores = array(coarse.map { cv =>
      val c2 = cv.map(x => x * x).sum
      dotLong(col("__q4"), typedlit(cv.toSeq)) * lit(-2L) + lit(c2)
    }: _*)
    val qtabExpr = array((0 until m).map { s =>
      array(books(s).map { cent =>
        val c2 = cent.map(x => x * x).sum
        dotLong(sub(col("__q4"), s), sub(col("__q4"), s)) +
          dotLong(sub(col("__q4"), s), typedlit(cent.toSeq)) *
            lit(-2L) + lit(c2)
      }: _*)
    }: _*)
    val q = prep(queries, "query_id")
      .withColumn("qtab", qtabExpr)
      .select(col("query_id"), col("query_id_v"), col("query_id_n"),
        col("qtab"), posexplode(coarseScores).as(Seq("cell", "__sc")))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("__sc"), col("cell"))))
      .filter(col("__rk") <= nprobe)
      .select(col("query_id"), col("query_id_v"), col("query_id_n"),
        col("qtab"), col("cell"))
    val adc = (0 until m).map(s =>
        element_at(element_at(col("qtab"), s + 1),
          element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val cand = coded.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", adc)
      .withColumn("__crk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("__adc"), col("neighbor_id"))))
      .filter(col("__crk") <= candMult * k)
    val scored = cand.withColumn("cos_sim",
      dotLong(col("query_id_v"), col("neighbor_id_v")).cast("double") /
        (col("query_id_n") * col("neighbor_id_n")))
    heapTopK(scored, k)
  }

  private def ivfIntCore(queries: DataFrame, corpus: DataFrame, k: Int,
      cents: Array[Array[Long]], nprobe: Int): DataFrame = {
    def prep(df: DataFrame, idAs: String) =
      df.select(col("vec_id").as(idAs),
          quantize(col("embedding")).as(s"${idAs}_v"),
          quantizeAt(col("embedding"), 1e4).as("__q4"))
        .withColumn(s"${idAs}_n", sqrt(dotLong(col(s"${idAs}_v"),
          col(s"${idAs}_v")).cast("double")))
    val c = prep(corpus, "neighbor_id")
      .withColumn("cell", argminCellInt(col("__q4"), cents))
      .drop("__q4")
    // nprobe closest cells per query: explode the exact score array,
    // rank (score, cell) ascending
    val scoresArr = array(cents.map { cv =>
      val c2 = cv.map(x => x * x).sum
      dotLong(col("__q4"), typedlit(cv.toSeq)) * lit(-2L) + lit(c2)
    }: _*)
    val q = prep(queries, "query_id")
      .select(col("query_id"), col("query_id_v"), col("query_id_n"),
        posexplode(scoresArr).as(Seq("cell", "__sc")))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("__sc"), col("cell"))))
      .filter(col("__rk") <= nprobe)
      .select(col("query_id"), col("query_id_v"), col("query_id_n"),
        col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        dotLong(col("query_id_v"), col("neighbor_id_v")).cast("double") /
          (col("query_id_n") * col("neighbor_id_n")))
    heapTopK(scored, k)
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): per query, how many of the exact
    * full-dim top-k survive when scoring uses only the FIRST
    * `prefixDim` coordinates — the measurement that decides whether a
    * pipeline can serve truncated embeddings. Both rankings are exact
    * quantized-integer cosines (ties broken by neighbor id), so the
    * overlap count is oracle-exact. */
  def matryoshkaOverlap(queries: DataFrame, corpus: DataFrame, k: Int,
      prefixDim: Int): DataFrame = {
    def topIds(qv: Column => Column, tag: String): DataFrame = {
      def prep(df: DataFrame, idAs: String, vAs: String) =
        df.select(col("vec_id").as(idAs), qv(quantize(col("embedding")))
          .as(vAs))
          .withColumn(s"${vAs}_n",
            sqrt(dotLong(col(vAs), col(vAs)).cast("double")))
      val q = prep(queries, "query_id", "q_v")
      val c = prep(corpus, "neighbor_id", "c_v")
      val scored = c.join(broadcast(q),
          col("query_id") =!= col("neighbor_id"))
        .withColumn("cos_sim", dotLong(col("q_v"), col("c_v"))
          .cast("double") / (col("q_v_n") * col("c_v_n")))
      heapTopK(scored, k).select(col("query_id"),
        col("neighbor_id").as(s"nb_$tag"))
    }
    val full = topIds(identity, "full")
    val pref = topIds(v => slice(v, 1, prefixDim), "pref")
    // count matches per query; a query with ZERO surviving neighbors
    // must still report 0, so the count left-joins the query list
    val matches = full.join(pref, "query_id")
      .filter(col("nb_full") === col("nb_pref"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("__ov"))
    full.select(col("query_id")).distinct()
      .join(matches, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("__ov"), lit(0)).as("n_overlap"))
  }

  /** Embedding-cosine near-duplicate pairs — SMALL-INPUT ORACLE GATE ONLY.
    * Every unordered pair with cosine >= `tau`, on the quantized-integer
    * path so the result is bit-identical across engines.
    *
    * The self-join is all-pairs (vec_id-ordered to halve it) — O(n²) pairs
    * regardless of how cheap the per-pair int64 dot is, so it exists only
    * to gate correctness at oracle scale and REFUSES large inputs
    * (`maxRows` guard). THE embedding-dedup operator is
    * [[nearDupPairsLsh]]: it only materializes pairs sharing an SRP
    * bucket, and its recall is spec'd against this exact form. */
  def nearDupPairs(df: DataFrame, tau: Double,
      maxRows: Long = 200000L): DataFrame = {
    // guard probe scans at most maxRows+1 rows (LocalLimit stops the scan
    // early) — a full count() here would double the small-input query's cost
    val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    require(df.limit(probe).count() <= maxRows,
      s"nearDupPairs is all-pairs O(n^2), an oracle gate for small inputs " +
        s"(> maxRows=$maxRows rows); use nearDupPairsLsh at scale")
    val prep = df.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(dotLong(col("qv"), col("qv")).cast("double")))
    val a = prep.select(col("vec_id").as("id_a"), col("qv").as("v_a"),
      col("nrm").as("n_a"))
    val b = prep.select(col("vec_id").as("id_b"), col("qv").as("v_b"),
      col("nrm").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        dotLong(col("v_a"), col("v_b")).cast("double") / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= tau)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic dedup by k-means clustering + INTRA-CLUSTER cosine pruning.
    * Cluster the embeddings (distributed Lloyd's, [[kMeansCodebook]]),
    * then within each cluster drop every vector that has a smaller-id
    * cluster-mate with cosine >= `tau` — a deterministic stand-in for the
    * paper's keep-one-per-semantic-group rule (greedy by id: chains a~b,
    * b~c with a!~c keep only a, like the paper's random-keeper variant).
    * Returns the KEPT rows of `corpus`, all original columns.
    *
    * Approximate by design: a near-dup pair split across a cluster
    * boundary is missed — the paper's trade. Scale shape: centroids are
    * a k x dim driver matrix (broadcast as literals into a codegen'd
    * map-only assignment, see [[nearestCells]]); the ONLY data shuffle is
    * keyed on the cell id, and the per-cell self-join degree is bounded
    * by cluster occupancy — at corpus scale k grows with n so n/k stays
    * ~constant (the paper runs 50k clusters). Zero-norm embeddings score
    * NaN cosines, never >= tau, so they are always kept. Rows-only at the
    * driver gate (k-means is not SQL-expressible); planted-duplicate
    * semantics spec'd in SimilaritySpec. */
  /** [[semanticDedup]] with the REPLAYABLE clustering: cells are the
    * integer-SRP buckets of `tables` hash tables ([[srpBucketsInt]] —
    * deterministic md5-parity ±1 planes over the quantized vector)
    * instead of learned k-means centroids; a vector drops when a
    * smaller-id vector shares ANY table's cell at quantized-exact
    * cosine >= tau (OR-amplification: per-table collision for a true
    * near-dup pair is (1 - θ/π)^bits, any-of-T lifts recall to
    * 1-(1-p)^T — with independent planes a single 8-bit table collides
    * ~2.5% of tau-0.4 pairs, which would make the op vacuous). Every
    * step is integer arithmetic a SQL oracle replays, so the semantic
    * dedup tier is oracle-checked end to end. The k-means tier stays
    * [[semanticDedup]] (the paper's cluster geometry; spec'd against
    * planted duplicates in SimilaritySpec). */
  def semanticDedupLshInt(corpus: DataFrame, tau: Double, dim: Int,
      bits: Int = 8, tables: Int = 4): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau=$tau")
    val prep = corpus
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(dotLong(col("qv"), col("qv")).cast("double")))
      .select(col("vec_id"), col("qv"), col("nrm"),
        posexplode(srpBucketsInt(col("qv"), dim, bits, tables)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "cell")
    val dups = prep.as("a").join(prep.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.cell") === col("b.cell") &&
          col("a.vec_id") > col("b.vec_id"))
      .filter(dotLong(col("a.qv"), col("b.qv")).cast("double") /
        (col("a.nrm") * col("b.nrm")) >= tau)
      .select(col("a.vec_id").as("vec_id")).distinct()
    corpus.join(dups, Seq("vec_id"), "left_anti")
  }

  def semanticDedup(corpus: DataFrame, k: Int, tau: Double,
      maxIter: Int = 4): DataFrame = {
    require(k >= 1 && tau > 0 && tau <= 1, s"k=$k tau=$tau")
    val cents = collectCentroids(kMeansCodebook(corpus, k, maxIter))
    val assigned = nearestCells(corpus, cents, "vec_id", "v", keep = 1)
      .withColumn("nrm", sqrt(dotDouble(col("v"), col("v"))))
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
      .filter(dotDouble(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm")) >= tau)
      .select(col("a.vec_id").as("vec_id")).distinct()
    corpus.join(dups, Seq("vec_id"), "left_anti")
  }

  /** Scale path for near-dup detection: candidate pairs only from shared
    * SRP (table, bucket) cells — shuffle on the bucket key, never
    * all-pairs — then exact quantized re-check against `tau`. Approximate
    * (recall < 1 by design); spec'd against [[nearDupPairs]]. */
  def nearDupPairsLsh(df: DataFrame, tau: Double, dim: Int,
      bits: Int = 8, tables: Int = 4): DataFrame = {
    // qv + norm computed once per VECTOR, before the per-table explode
    val prep = df.select(col("vec_id"), quantize(col("embedding")).as("qv"),
        col("embedding"))
      .withColumn("nrm", sqrt(dotLong(col("qv"), col("qv")).cast("double")))
      .select(col("vec_id"), col("qv"), col("nrm"),
        posexplode(srpBuckets(col("embedding"), dim, bits, tables)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bkt")
    val a = prep.select(col("vec_id").as("id_a"), col("qv").as("v_a"),
      col("nrm").as("n_a"), col("tbl"), col("bkt"))
    val b = prep.select(col("vec_id").as("id_b"), col("qv").as("v_b"),
      col("nrm").as("n_b"), col("tbl").as("tbl2"), col("bkt").as("bkt2"))
    a.join(b, col("tbl") === col("tbl2") && col("bkt") === col("bkt2") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"),
        col("n_a"), col("n_b"))
      .distinct()
      .withColumn("cos_sim",
        dotLong(col("v_a"), col("v_b")).cast("double") / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= tau)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** [[nearDupPairsLsh]] on the REPLAYABLE integer-SRP buckets
    * ([[srpBucketsInt]]): candidates only from shared (table, bucket)
    * cells, exact quantized re-check against `tau` — and because the
    * buckets are deterministic integer arithmetic, a SQL oracle replays
    * candidate generation AND verification, making the whole
    * approximate tier oracle-checked (the graph-MinHash trick applied
    * to embeddings). Same scale shape: bucket-keyed shuffle, never
    * all-pairs; quantization happens once and feeds both hashing and
    * scoring. */
  def nearDupPairsLshInt(df: DataFrame, tau: Double, dim: Int,
      bits: Int = 8, tables: Int = 4): DataFrame = {
    val prep = df.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(dotLong(col("qv"), col("qv")).cast("double")))
      .select(col("vec_id"), col("qv"), col("nrm"),
        posexplode(srpBucketsInt(col("qv"), dim, bits, tables)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bkt")
    val a = prep.select(col("vec_id").as("id_a"), col("qv").as("v_a"),
      col("nrm").as("n_a"), col("tbl"), col("bkt"))
    val b = prep.select(col("vec_id").as("id_b"), col("qv").as("v_b"),
      col("nrm").as("n_b"), col("tbl").as("tbl2"), col("bkt").as("bkt2"))
    a.join(b, col("tbl") === col("tbl2") && col("bkt") === col("bkt2") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"),
        col("n_a"), col("n_b"))
      .distinct()
      .withColumn("cos_sim",
        dotLong(col("v_a"), col("v_b")).cast("double") / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= tau)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** [[lshTopK]] on the replayable integer-SRP buckets + exact quantized
    * re-rank — the ANN scale tier whose candidates AND ranking a SQL
    * oracle reproduces exactly. */
  def lshTopKInt(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int = 8, tables: Int = 4): DataFrame = {
    def bucketed(df: DataFrame, idAs: String, vAs: String, nAs: String,
        bAs: String) =
      df.select(col("vec_id").as(idAs),
          quantize(col("embedding")).as(vAs))
        .withColumn(nAs, sqrt(dotLong(col(vAs), col(vAs)).cast("double")))
        .select(col(idAs), col(vAs), col(nAs),
          posexplode(srpBucketsInt(col(vAs), dim, bits, tables)))
        .withColumnRenamed("pos", s"${bAs}_tbl")
        .withColumnRenamed("col", s"${bAs}_bkt")
    val q = bucketed(queries, "query_id", "q_v", "q_n", "q")
    val c = bucketed(corpus, "neighbor_id", "c_v", "c_n", "c")
    val cand = c.join(broadcast(q),
        col("c_tbl") === col("q_tbl") && col("c_bkt") === col("q_bkt") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_v"), col("c_v"),
        col("q_n"), col("c_n"))
      .distinct()
      .withColumn("cos_sim",
        dotLong(col("q_v"), col("c_v")).cast("double") / (col("q_n") * col("c_n")))
    heapTopK(cand, k)
  }

  /** Per-vector cosine similarity to its label's centroid, exact across
    * engines: embeddings quantize to int64 (see [[quantize]]), the
    * centroid is the per-label element-wise quantized mean computed with
    * TRUNCATING integer division (Spark `div` and DuckDB `//` both
    * truncate toward zero, so the centroid longs are bit-identical), and
    * scoring is the codegen'd integer dot — every magnitude stays
    * long-safe (|qv_i| <= 1e8, |cv_i| <= 1e8, dim * 1e16 << 2^63).
    *
    * Scale shape: one shuffle to build the per-label codebook (bounded by
    * labels * dim rows), broadcast back, then a map-only score pass. */
  def labelCentroidCosine(df: DataFrame): DataFrame = {
    val q = df.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qv"))
    val cent = q.select(col("label"), posexplode(col("qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .withColumn("cv_i", expr("s div n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv_i")))),
        x => x.getField("cv_i")).as("cv"))
    q.join(broadcast(cent), "label")
      .withColumn("cos_centroid",
        dotLong(col("qv"), col("cv")).cast("double") /
          (sqrt(dotLong(col("qv"), col("qv")).cast("double")) *
            sqrt(dotLong(col("cv"), col("cv")).cast("double"))))
      .select(col("vec_id"), col("label"), col("cos_centroid"))
  }

  /** Bitext-style mutual-nearest-neighbor alignment — the parallel-
    * corpus mining shape (LASER/CCMatrix family): a source and a target
    * embedding space, candidate pairs = vectors that are EACH OTHER's
    * nearest neighbor, each carrying both directions' best-vs-second
    * margins (the Artetxe & Schwenk margin criterion in its
    * order-independent difference form — an AVERAGE of k neighbor
    * cosines would make the score depend on float summation order and
    * break cross-engine exactness; best minus second is max/2nd-max
    * selection plus one subtraction, bit-stable anywhere).
    *
    * Exact quantized cosine scoring, both directions ride the
    * bounded-heap top-2 (k rows per query per partition cross the
    * shuffle), and mutuality is one equi-join of the two tiny top-1
    * sets. Output: (src_id, tgt_id, cos_sim, margin_src, margin_tgt),
    * one row per mutual pair. */
  def mutualNearestPairs(src: DataFrame, tgt: DataFrame): DataFrame = {
    def top2(q: DataFrame, c: DataFrame, idAs: String, bestAs: String,
        m: String) =
      bruteForceTopK(q, c, k = 2, exact = true)
        .groupBy(col("query_id").as(idAs))
        .agg(
          max(when(col("rank") === 1, col("neighbor_id"))).as(bestAs),
          max(when(col("rank") === 1, col("cos_sim"))).as(s"__c1$m"),
          max(when(col("rank") === 2, col("cos_sim"))).as(s"__c2$m"))
        .withColumn(s"margin$m", col(s"__c1$m") - col(s"__c2$m"))
    val fwd = top2(src, tgt, "src_id", "tgt_best", "_src")
    val bwd = top2(tgt, src, "tgt_id", "src_best", "_tgt")
    fwd.join(bwd, col("tgt_best") === col("tgt_id") &&
        col("src_best") === col("src_id"))
      .select(col("src_id"), col("tgt_id"),
        col("__c1_src").as("cos_sim"),
        col("margin_src"), col("margin_tgt"))
  }

  /** Margin-based ambiguity mining — the active-learning acquisition
    * query (Lewis & Gale '94 uncertainty sampling, margin variant):
    * rank every embedding by the gap between its two closest LABEL
    * CENTROIDS and return the k most ambiguous rows. These are the
    * examples whose annotation budget buys the most — deep inside a
    * class region both cosines differ sharply; near a decision boundary
    * the margin collapses.
    *
    * Same exact quantized-integer scoring and truncating-mean centroids
    * as [[labelCentroidCosine]] (fully oracle-checkable); the per-vector
    * top-2 rides the bounded-heap `topk_by` aggregate (2 rows per vector
    * per partition cross the shuffle), and the global smallest-k margins
    * compile to TakeOrderedAndProject — no global sort at any scale. */
  def marginMining(df: DataFrame, k: Int): DataFrame = {
    val q = df.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qv"))
    val cent = q.select(col("label"), posexplode(col("qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .withColumn("cv_i", expr("s div n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv_i")))),
        x => x.getField("cv_i")).as("cv"))
    val scored = q.crossJoin(broadcast(
        cent.select(col("label").as("c_label"), col("cv"))))
      .withColumn("cos_c",
        dotLong(col("qv"), col("cv")).cast("double") /
          (sqrt(dotLong(col("qv"), col("qv")).cast("double")) *
            sqrt(dotLong(col("cv"), col("cv")).cast("double"))))
    scored.groupBy(col("vec_id"), col("label"))
      // the heap aggregate's id slot is bigint; labels round-trip the cast
      .agg(graft.functions.TopKBy.topk_by(col("cos_c"),
        col("c_label").cast("long"), 2).as("top"))
      .filter(size(col("top")) >= 2) // needs two centroids to have a margin
      .select(col("vec_id"), col("label"),
        col("top")(0).getField("id").cast("int").as("best_label"),
        col("top")(0).getField("score").as("best_cos"),
        col("top")(1).getField("id").cast("int").as("second_label"),
        col("top")(1).getField("score").as("second_cos"))
      .withColumn("margin", col("best_cos") - col("second_cos"))
      .orderBy(col("margin"), col("vec_id"))
      .limit(k)
  }

  /** Distributed Lloyd's k-means codebook over an embedding column —
    * the real coarse quantizer for [[ivfTopK]]. Every iteration is one
    * Spark job: assign each vector to its nearest centroid (broadcast
    * literal centroids — a codebook is small by construction, k*dim
    * doubles — so assignment is a MAP-ONLY argmin over codegen'd dots),
    * then recompute centroids as per-cell means (posexplode -> partial
    * agg bounded at k*dim rows). Only the k*dim codebook ever reaches
    * the driver. Deterministic: init = the k lowest-id vectors.
    *
    * Returns (cell: int, c_v: array<double>). Empty cells drop out
    * (their centroid had no points), so the codebook may shrink below k.
    */
  def kMeansCodebook(df: DataFrame, k: Int, maxIter: Int = 8): DataFrame = {
    // localCheckpoint the cast vectors: every iteration scans them twice
    // (assign + update) and nothing upstream changes between iterations;
    // a columnar cache() would pay an array-decode on every scan (see
    // Graph.pageRank's ew note — measured there), the checkpoint stores
    // finished rows
    val vecs = df.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .pinned()
    try {
      var centers: Array[Seq[Double]] = vecs.orderBy(col("vec_id")).limit(k)
        .select(col("v")).collect()
        .map(_.getSeq[Double](0))
      var it = 0
      var moved = true
      while (moved && it < maxIter) {
        val assigned = assignCells(vecs, centers, "v")
        val next = assigned
          .select(col("cell"), posexplode(col("v")))
          .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
          .groupBy(col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("c_v"))
          .orderBy(col("cell"))
          .collect().map(_.getSeq[Double](1))
        moved = next.length != centers.length ||
          next.zip(centers).exists { case (a, b) =>
            a.zip(b).map(p => math.abs(p._1 - p._2)).max > 1e-9
          }
        centers = next
        it += 1
      }
      val rows = centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      df.sparkSession.createDataFrame(rows).toDF("cell", "c_v")
    } finally vecs.unpersist()
  }

  /** Nearest-centroid cell of `v` against literal centroids: argmin over
    * squared L2 = argmin(-2*x·c + |c|²) (|x|² is constant per row), each
    * dot a codegen'd expression. */
  private def argminCell(v: Column, centers: Array[Seq[Double]]): Column = {
    val scores = array(centers.map { c =>
      val c2 = c.map(x => x * x).sum
      graft.functions.VectorFunctions.vec_dot(v, typedlit(c)) *
        lit(-2.0) + lit(c2)
    }: _*)
    (array_position(scores, array_min(scores)) - 1).cast("int")
  }

  /** Map-only nearest-centroid assignment against literal centroids. */
  private def assignCells(df: DataFrame, centers: Array[Seq[Double]],
      vCol: String): DataFrame =
    df.withColumn("cell", argminCell(col(vCol), centers))

  /** IVF (inverted-file) approximate top-k — the classic coarse-quantizer
    * ANN layout. `codebook` defaults to the per-label mean vectors (a
    * deterministic, oracle-friendly quantizer); pass
    * [[kMeansCodebook]]'s output for the label-free k-means path — the
    * rest of the plan is identical either way.
    *
    * Corpus vectors are assigned to their nearest centroid cell
    * (broadcast centroids — a codebook is small by construction); each
    * query probes its `nprobe` nearest cells; candidates join on the cell
    * id (shuffle bounded by cell fan-out, never all-pairs) and are exactly
    * re-ranked. */
  /** Default IVF coarse quantizer: per-label mean vectors — a
    * deterministic, oracle-friendly stand-in for k-means cells. */
  private def labelCentroids(corpus: DataFrame): DataFrame = corpus
    .select(col("label"), posexplode(col("embedding")))
    .groupBy(col("label"), col("pos")).agg(avg(col("col")).as("v"))
    .groupBy(col("label"))
    .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
      x => x.getField("v")).as("c_v"))
    .select(col("label").as("cell"), col("c_v"))

  /** Each vector's `keep` nearest centroid cells by cosine. A codebook
    * is small by construction (k x dim doubles), so it collects ONCE and
    * cells rank MAP-ONLY against literal centroids: per row, an
    * array_sort over k (dot/|c|, cell) structs — cosine ordering, since
    * |v| is a per-row constant — then the top `keep` explode out. No
    * broadcast join, no per-vector window shuffle: the pre-round-4 form
    * shuffled |df| x k rows through a row_number window, which dominated
    * the IVF plans' cost. */
  /** Collect a (cell, c_v) codebook DataFrame ONCE for reuse across the
    * corpus- and query-side [[nearestCells]] calls (collecting inside
    * each call would run the centroid aggregation twice, eagerly). */
  private def collectCentroids(centroids: DataFrame)
      : Array[(Int, Seq[Double])] = {
    val cents = centroids
      .select(col("cell").cast("int"), col("c_v"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    require(cents.nonEmpty, "empty codebook")
    cents
  }

  private def nearestCells(df: DataFrame, cents: Array[(Int, Seq[Double])],
      idAs: String, vAs: String, keep: Int): DataFrame = {
    // a null embedding can rank against no centroid (its candidates would
    // carry a null cos_sim and be dropped by the final top-k anyway) — gate
    // it HERE on the input column, where it pushes to the scan as a plain
    // isnotnull(embedding), not as a derived filter over the scoring array
    val base = df.filter(col("embedding").isNotNull)
      .select(col("vec_id").as(idAs), col("embedding").as(vAs))
    // struct sort is lexicographic: (-cos, cell) asc == (cos desc, cell)
    val scored = array(cents.map { case (cid, c) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct(
        (dotDouble(col(vAs), typedlit(c)) *
          lit(if (cn == 0) -1.0 else -1.0 / cn)).as("neg"),
        lit(cid).as("cell"))
    }: _*)
    // exploding the computed `__top.cell` array lets Catalyst infer
    // `size(slice(array_sort(scored)..)) > 0 && isnotnull(..)` before the
    // Generate (and the null-intolerant cell equi-join re-derives the same
    // via InferFiltersFromConstraints); predicate pushdown then carries the
    // ENTIRE centroid-scoring expression into the parquet scan as a
    // DataFilter, so every corpus row scores all centroids twice — the
    // round-4 computed-column trap (see Dedup.simhashes). Explode a LITERAL
    // index array instead (its inferred filter constant-folds away) and
    // index the sorted array with a cheap element_at; the never-firing
    // coalesce marks `cell` non-nullable so constraint inference has
    // nothing to resurrect. `scored` always has cents.length >= n elements,
    // so element_at(1..n) never strays out of bounds (ANSI-safe).
    val n = math.min(keep, cents.length)
    base
      .withColumn("__top", slice(array_sort(scored), 1, n))
      .withColumn("__i", explode(typedlit((1 to n).toArray)))
      .select(col(idAs), col(vAs),
        coalesce(element_at(col("__top"), col("__i")).getField("cell"),
          lit(-1)).as("cell"))
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int = 3, codebook: Option[DataFrame] = None): DataFrame = {
    val cents = collectCentroids(codebook.getOrElse(labelCentroids(corpus)))
    def cells(df: DataFrame, idAs: String, vAs: String, keep: Int) =
      nearestCells(df, cents, idAs, vAs, keep)
    val c = cells(corpus, "neighbor_id", "c_v2", keep = 1)
      .withColumn("c_n", sqrt(dotDouble(col("c_v2"), col("c_v2"))))
    val q = cells(queries, "query_id", "q_v", keep = nprobe)
      .withColumn("q_n", sqrt(dotDouble(col("q_v"), col("q_v"))))
    val scored = c.as("c").join(broadcast(q.as("q")),
        col("c.cell") === col("q.cell") &&
          col("q.query_id") =!= col("c.neighbor_id"))
      .withColumn("cos_sim",
        dotDouble(col("q.q_v"), col("c.c_v2")) / (col("q.q_n") * col("c.c_n")))
    heapTopK(scored, k)
  }

  /** Int8-style fixed-point embedding quantization, deterministic across
    * engines: q_i = clamp(floor(x_i * 2^fracBits), -128, 127). Both the
    * float->double widening and the double multiply/floor are exact IEEE
    * ops, so the quantized array is bit-identical everywhere — unlike
    * round-to-nearest-scale quantizers whose tie behavior differs. The
    * compression step before shipping embeddings to an ANN index (4x
    * smaller, map-only, no shuffle). */
  def quantizeFixedPoint(emb: Column, fracBits: Int = 6): Column = {
    require(fracBits >= 0 && fracBits <= 20, s"fracBits: $fracBits")
    transform(emb, x => {
      // least/greatest SKIP nulls, so clamp only a non-null quantized
      // value — a null dimension stays null instead of saturating to 127
      val q = floor(x.cast("double") * lit((1L << fracBits).toDouble))
        .cast("long")
      when(q.isNotNull, greatest(lit(-128L), least(lit(127L), q)))
    })
  }

  /** Product-quantization approximate top-k (Jégou et al., PAMI 2011):
    * dims split into `m` subspaces, each with its own k-means codebook;
    * corpus vectors compress to `m` small codes; each query builds an
    * m x kCodes asymmetric-distance lookup table (ADC) and scans the
    * corpus at O(m) table lookups per pair instead of O(dim) multiplies;
    * the top `candMult * k` PQ candidates are exactly re-ranked by true
    * cosine.
    *
    * Scale shape: codebooks are m Lloyd's runs over dim/m-dim subvectors
    * (driver holds only m * kCodes * dim/m doubles); corpus encoding is
    * map-only against broadcast-literal centroids; the ADC scan is a
    * broadcast join (queries side small) whose per-pair expression is a
    * statically-unrolled sum of m element_at lookups — codegen'd, no
    * interpreted lambdas on the hot path. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 8, kCodes: Int = 16, candMult: Int = 4,
      kmeansIter: Int = 2): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // all m per-subspace codebooks from ONE fused Lloyd's loop (one
    // Spark action per iteration; m separate kMeansCodebook calls would
    // cost m * iters actions of pure job-scheduling overhead)
    val pq = new PqMachinery(
      pqCodebooks(corpus, m, dim / m, kCodes, kmeansIter), m, dim / m)

    val coded = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_v"), pq.codes(col("embedding")).as("codes"))
      .withColumn("c_n", sqrt(dotDouble(col("c_v"), col("c_v"))))
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_v"))
      .withColumn("q_n", sqrt(dotDouble(col("q_v"), col("q_v"))))
      .withColumn("lut", pq.lut(col("q_v")))

    val wPq = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_dist"), col("neighbor_id"))
    val cands = coded.join(broadcast(q),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("pq_dist", pq.adc)
      .withColumn("pq_rank", row_number().over(wPq))
      .filter(col("pq_rank") <= candMult * k)
    exactReRank(cands, k)
  }

  /** IVF-PQ composite (the FAISS IVFADC layout, Jégou et al. §IV): the
    * coarse quantizer restricts each query's ADC scan to its `nprobe`
    * probed cells, so the scan cost drops from |corpus| to
    * ~nprobe/|cells| x |corpus| per query — the piece that makes PQ
    * viable when the corpus no longer fits a per-query linear scan.
    * Codes are over raw vectors (not residuals — a documented
    * simplification; the exact cosine re-rank absorbs the coarser
    * estimate). Shuffle is bounded by cell fan-out, never all-pairs. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 8, kCodes: Int = 16, nprobe: Int = 3, candMult: Int = 4,
      kmeansIter: Int = 2, codebook: Option[DataFrame] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val pq = new PqMachinery(
      pqCodebooks(corpus, m, dim / m, kCodes, kmeansIter), m, dim / m)
    val cents = collectCentroids(codebook.getOrElse(labelCentroids(corpus)))

    val coded = nearestCells(corpus, cents, "neighbor_id", "c_v", keep = 1)
      .withColumn("codes", pq.codes(col("c_v")))
      .withColumn("c_n", sqrt(dotDouble(col("c_v"), col("c_v"))))
    val q = nearestCells(queries, cents, "query_id", "q_v",
        keep = nprobe)
      .withColumn("q_n", sqrt(dotDouble(col("q_v"), col("q_v"))))
      .withColumn("lut", pq.lut(col("q_v")))

    val wPq = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_dist"), col("neighbor_id"))
    val cands = coded.as("c").join(broadcast(q.as("q")),
        col("c.cell") === col("q.cell") &&
          col("q.query_id") =!= col("c.neighbor_id"))
      .withColumn("pq_dist", pq.adc)
      .withColumn("pq_rank", row_number().over(wPq))
      .filter(col("pq_rank") <= candMult * k)
    exactReRank(cands, k)
  }

  /** Exact cosine re-rank of an ANN candidate set carrying
    * (query_id, q_v, q_n, neighbor_id, c_v, c_n). */
  private def exactReRank(cands: DataFrame, k: Int): DataFrame = {
    heapTopK(cands
      .withColumn("cos_sim",
        dotDouble(col("q_v"), col("c_v")) / (col("q_n") * col("c_n"))), k)
  }

  /** Shared PQ machinery: corpus code assignment, query ADC lookup
    * table, and the statically-unrolled ADC sum. The LUT is flattened
    * with CUMULATIVE segment offsets because books may shrink below
    * kCodes when Lloyd's cells empty — a fixed s*kCodes stride would
    * misread every segment after the first short one. */
  private final class PqMachinery(books: Array[Array[Seq[Double]]],
      m: Int, subDim: Int) {
    private val lutOffsets: Array[Int] = books.scanLeft(0)(_ + _.length)

    private def subv(v: Column, s: Int): Column =
      transform(slice(v, s * subDim + 1, subDim), _.cast("double"))

    /** m codes per vector: map-only argmin vs literal centroids. */
    def codes(v: Column): Column =
      array((0 until m).map(s => argminCell(subv(v, s), books(s))): _*)

    /** lut[lutOffsets(s) + c] = |q_s - cent_{s,c}|^2 minus the per-query
      * |q|^2 constant (rank-invariant, dropped). */
    def lut(qv: Column): Column = array((0 until m).flatMap { s =>
      books(s).map { c =>
        val c2 = c.map(x => x * x).sum
        graft.functions.VectorFunctions
          .vec_dot(subv(qv, s), typedlit(c)) * lit(-2.0) + lit(c2)
      }
    }: _*)

    /** ADC scan: statically-unrolled m-lookup sum (codegen'd). */
    def adc: Column = (0 until m).map { s =>
      element_at(col("lut"),
        element_at(col("codes"), s + 1) + lit(lutOffsets(s) + 1))
    }.reduce(_ + _)
  }

  /** All m per-subspace PQ codebooks in ONE fused Lloyd's loop: the
    * corpus explodes to (vec_id, s, subvector) rows once (cached), each
    * iteration assigns every row within its own subspace via a
    * subspace-dispatched argmin and recomputes all m*kCodes centroids in
    * a single groupBy((s, cell, pos)) job. Per iteration: ONE action
    * collecting m * kCodes * subDim doubles — vs m separate
    * [[kMeansCodebook]] runs costing m * (iters + 2) actions of
    * scheduling overhead (measured 5x slower at sf0.1).
    *
    * Deterministic: init = subvectors of the kCodes lowest-id vectors.
    * Empty cells drop out per subspace (books may shrink below kCodes).
    *
    * Training is capped at `MaxTrainRows` vectors via a deterministic
    * hash sample (standard PQ practice — codebooks need a representative
    * sample, not the corpus; at 100 TB, Lloyd's over every vector would
    * rescan the corpus once per iteration for no accuracy gain). Corpus
    * ENCODING still covers every vector. */
  private[operators] val MaxTrainRows = 1L << 18

  private[operators] def pqCodebooks(corpus: DataFrame, m: Int,
      subDim: Int, kCodes: Int, maxIter: Int): Array[Array[Seq[Double]]] = {
    val subs = array((0 until m).map(s =>
      transform(slice(col("embedding"), s * subDim + 1, subDim),
        _.cast("double"))): _*)
    // the deterministic hash-thinning rate comes from the optimizer's
    // LAZY size estimate (sizeInBytes / ~300B-per-embedding-row) — no
    // count() action; thinning is an order-of-magnitude decision and a
    // rough rate only shifts how far under the cap the sample lands
    val estRows = (corpus.queryExecution.optimizedPlan.stats.sizeInBytes
      / 300).toLong
    val trainSet =
      if (estRows <= MaxTrainRows) corpus
      else corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(estRows / MaxTrainRows + 1)) === 0)
    // localCheckpoint, not cache(): re-scanned every training iteration
    // (see kMeansCodebook's note)
    val sub = trainSet
      .select(col("vec_id"), posexplode(subs).as(Seq("s", "v")))
      .pinned()
    try {
      var centers: Array[Array[Seq[Double]]] = {
        val rows = trainSet.orderBy(col("vec_id")).limit(kCodes)
          .select(subs.as("sv")).collect()
          .map(_.getSeq[scala.collection.Seq[Double]](0))
        (0 until m).map(s => rows.map(r => r(s).toSeq)).toArray
      }
      var it = 0
      var moved = true
      while (moved && it < maxIter) {
        val cellExpr = (0 until m).foldRight(lit(-1): Column) {
          case (s, acc) =>
            when(col("s") === s, argminCell(col("v"), centers(s)))
              .otherwise(acc)
        }
        val next = sub.withColumn("cell", cellExpr)
          .select(col("s"), col("cell"), posexplode(col("v")))
          .groupBy(col("s"), col("cell"), col("pos"))
          .agg(avg(col("col")).as("mn"))
          .groupBy(col("s"), col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
            x => x.getField("mn")).as("c_v"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
          .sortBy(t => (t._1, t._2))
        val nb = (0 until m)
          .map(s => next.filter(_._1 == s).map(_._3)).toArray
        moved = nb.zip(centers).exists { case (a, b) =>
          a.length != b.length || a.zip(b).exists { case (x, y) =>
            x.zip(y).map(p => math.abs(p._1 - p._2)).max > 1e-9
          }
        }
        centers = nb
        it += 1
      }
      centers
    } finally sub.unpersist()
  }

  /** LSH-bucketed approximate top-k: queries join candidates only within
    * matching (table, bucket) cells, then exact cosine re-rank. Recall
    * grows with `tables`; spec'd against planted near-duplicates. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int = 8, tables: Int = 4): DataFrame = {
    def bucketed(df: DataFrame, idAs: String, vAs: String, nAs: String,
        bAs: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(vAs))
        .withColumn(nAs, sqrt(dotDouble(col(vAs), col(vAs)))) // pre-explode
        .select(col(idAs), col(vAs), col(nAs),
          posexplode(srpBuckets(col(vAs), dim, bits, tables)))
        .withColumnRenamed("pos", s"${bAs}_tbl")
        .withColumnRenamed("col", s"${bAs}_bkt")
    val q = bucketed(queries, "query_id", "q_v", "q_n", "q")
    val c = bucketed(corpus, "neighbor_id", "c_v", "c_n", "c")
    val cand = c.join(broadcast(q),
        col("c_tbl") === col("q_tbl") && col("c_bkt") === col("q_bkt") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_v"), col("c_v"),
        col("q_n"), col("c_n"))
      .distinct()
      .withColumn("cos_sim",
        dotDouble(col("q_v"), col("c_v")) / (col("q_n") * col("c_n")))
    heapTopK(cand, k)
  }

  /** Bucketed MIPS — the scale path [[mipsTopK]] gates. The classic
    * norm-augmentation reduction (Bachrach et al., RecSys 2014 /
    * Neyshabur-Srebro 2015): append sqrt(M^2 - |x|^2) to every corpus
    * vector (M = max corpus norm) and 0 to every query — augmented
    * corpus norms are all exactly M, so the augmented COSINE is monotone
    * in the raw INNER PRODUCT and angle-based SRP buckets retrieve MIPS
    * candidates. Candidates join per (table, bucket) cell (never
    * all-pairs); the final re-rank scores the RAW vectors with the same
    * quantized int64 dot as [[mipsTopK]], so every reported ip is exact
    * and identical to the brute-force gate on the pairs it finds.
    * Approximate (recall < 1, grows with `tables`); recall spec'd
    * against [[mipsTopK]] in SimilaritySpec. M is the only driver-side
    * value — one scalar from one aggregate. */
  def mipsLshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int = 8, tables: Int = 4, scale: Double = 1e4): DataFrame = {
    val m2 = corpus
      .agg(max(dotDouble(col("embedding"), col("embedding"))))
      .head().getDouble(0)
    def quant(vAs: String) = transform(col(vAs),
      x => round(x.cast("double") * lit(scale)).cast("long"))
    // greatest(0, ...) guards the float rounding edge at |x| = M
    val cAug = concat(col("c_v"),
      array(sqrt(greatest(lit(0.0),
        lit(m2) - dotDouble(col("c_v"), col("c_v"))))))
    val qAug = concat(col("q_v"), array(lit(0.0)))
    def bucketed(df: DataFrame, idAs: String, vAs: String, aug: Column,
        bAs: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(vAs))
        .withColumn("__qv", quant(vAs))
        .select(col(idAs), col("__qv").as(s"${bAs}_qv"),
          posexplode(srpBuckets(aug, dim + 1, bits, tables)))
        .withColumnRenamed("pos", s"${bAs}_tbl")
        .withColumnRenamed("col", s"${bAs}_bkt")
    val q = bucketed(queries, "query_id", "q_v", qAug, "q")
    val c = bucketed(corpus, "neighbor_id", "c_v", cAug, "c")
    val cand = c.join(broadcast(q),
        col("c_tbl") === col("q_tbl") && col("c_bkt") === col("q_bkt") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_qv"), col("c_qv"))
      .distinct()
      .withColumn("__ip",
        dotLong(col("q_qv"), col("c_qv")).cast("double"))
    cand.groupBy(col("query_id"))
      .agg(graft.functions.TopKBy.topk_by(col("__ip"),
        col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").cast("long").as("ip"))
  }

  /** [[mipsLshTopK]] made ORACLE-REPLAYABLE end-to-end: the
    * norm-augmentation itself moves to the integer domain — |x|²q is an
    * exact int64 self-dot of the 1e4-quantized vector, M²q its exact
    * corpus max, and the augmented coordinate round(sqrt(M²q − |x|²q))
    * is one correctly-rounded IEEE sqrt of an exact integer, so it is
    * bit-identical in any engine. Buckets come from the deterministic
    * ±1 planes ([[srpBucketsInt]]) over the augmented integer vector;
    * the re-rank is the same exact int64 inner product as [[mipsTopK]].
    * A SQL oracle therefore regenerates augmentation, buckets,
    * candidates, and ranking — the MIPS scale tier fully checked. */
  def mipsLshTopKInt(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, bits: Int = 8, tables: Int = 4,
      scale: Double = 1e4): DataFrame = {
    def quant(c: Column) = transform(c,
      x => round(x.cast("double") * lit(scale)).cast("long"))
    val m2q = corpus.select(quant(col("embedding")).as("qv"))
      .agg(max(dotLong(col("qv"), col("qv")))).head().getLong(0)
    def bucketed(df: DataFrame, idAs: String, aug: Boolean, bAs: String) = {
      val withQ = df.select(col("vec_id").as(idAs),
        quant(col("embedding")).as("__qv"))
      val augCoord =
        if (!aug) lit(0L)
        else round(sqrt(greatest(lit(0L),
          lit(m2q) - dotLong(col("__qv"), col("__qv"))).cast("double")))
          .cast("long")
      withQ.withColumn("__aug", concat(col("__qv"), array(augCoord)))
        .select(col(idAs), col("__qv").as(s"${bAs}_qv"),
          posexplode(srpBucketsInt(col("__aug"), dim + 1, bits, tables)))
        .withColumnRenamed("pos", s"${bAs}_tbl")
        .withColumnRenamed("col", s"${bAs}_bkt")
    }
    val q = bucketed(queries, "query_id", aug = false, "q")
    val c = bucketed(corpus, "neighbor_id", aug = true, "c")
    val cand = c.join(broadcast(q),
        col("c_tbl") === col("q_tbl") && col("c_bkt") === col("q_bkt") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_qv"), col("c_qv"))
      .distinct()
      .withColumn("__ip", dotLong(col("q_qv"), col("c_qv")).cast("double"))
    cand.groupBy(col("query_id"))
      .agg(graft.functions.TopKBy.topk_by(col("__ip"),
        col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").cast("long").as("ip"))
  }

  // --------------------------------------------------------------------
  // PCA — dimensionality reduction for embeddings (the standard ANN
  // preprocessing: project to the top-k variance directions before
  // bucketing/quantizing; also the rotation step OPQ-style PQ uses).
  // --------------------------------------------------------------------

  /** Mean vector and covariance matrix of an embedding column in ONE
    * distributed pass: the vector self-pairs via two posexplodes (upper
    * triangle only), partial-aggregated map-side, shuffling at most
    * dim*(dim+1)/2 groups regardless of corpus size; the mean rides the
    * diagonal groups. Only the dim x dim result (tiny) reaches the
    * driver. */
  private[operators] def meanAndCovariance(df: DataFrame, vec: Column,
      dim: Int, center: Boolean = true)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val rows = df
      .select(transform(vec, _.cast("double")).as("v"))
      .filter(size(col("v")) === dim)
      .select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
      .select(col("i"), col("vi"), posexplode(col("v")).as(Seq("j", "vj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("vi") * col("vj")).as("sxx"),
        sum(when(col("j") === col("i"), col("vi"))).as("sx"),
        count(when(col("j") === col("i"), lit(1))).as("n"))
      .collect()
    val n = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == 0)
      .map(_.getLong(4)).getOrElse(0L)
    require(n > 1, s"PCA needs >= 2 vectors of dim $dim, got $n")
    val mean = new Array[Double](dim)
    val exx = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val sxx = r.getDouble(2)
      exx(i)(j) = sxx / n; exx(j)(i) = sxx / n
      if (i == j) mean(i) = r.getDouble(3) / n // sx is non-null on diagonal
    }
    // center=false keeps the raw second moment E[xx^T]: its eigenbasis
    // approximately PRESERVES DOT PRODUCTS (dot(Qx, Qy) ~ dot(x, y) up
    // to the discarded-eigenvalue mass), which is what a cosine-ANN
    // coarse filter needs — covariance's centering shifts dots
    val cov =
      if (center) Array.tabulate(dim, dim)((i, j) =>
        exx(i)(j) - mean(i) * mean(j))
      else exx
    (n, mean, cov)
  }

  /** Eigendecomposition of a symmetric matrix by cyclic Jacobi rotations
    * (deterministic sweep order, so the result is a pure function of the
    * input). Returns (eigenvalues, eigenvectors-as-rows), sorted by
    * descending eigenvalue, each vector's first nonzero made positive
    * for sign stability. Fine for PCA's dim x dim (dim <= a few hundred);
    * O(dim^3) per sweep on the driver. */
  private[operators] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until n; j <- i + 1 until n) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-18) {
      for (p <- 0 until n - 1; q <- p + 1 until n
          if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = if (theta == 0.0) 1.0
          else math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until n) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (j <- 0 until n) {
          val apj = a(p)(j); val aqj = a(q)(j)
          a(p)(j) = c * apj - s * aqj
          a(q)(j) = s * apj + c * aqj
        }
        for (i <- 0 until n) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { e =>
      val col = Array.tabulate(n)(i => v(i)(e))
      val lead = col.find(math.abs(_) > 1e-12).getOrElse(1.0)
      if (lead < 0) col.map(-_) else col
    }.toArray
    (vals, vecs)
  }

  /** Top-k principal components of an embedding column: one distributed
    * covariance pass ([[meanAndCovariance]]) + a driver-side Jacobi
    * eigensolve of the dim x dim matrix. Returns (eigenvalues,
    * components-as-rows) — deterministic for a given dataset. */
  def pcaComponents(df: DataFrame, vec: Column, dim: Int, k: Int)
      : (Array[Double], Array[Array[Double]]) = {
    require(k >= 1 && k <= dim, s"k must be in [1, $dim]: $k")
    val (_, _, cov) = meanAndCovariance(df, vec, dim)
    val (vals, vecs) = jacobiEigen(cov)
    (vals.take(k), vecs.take(k))
  }

  /** PCA-filtered cosine top-k: coarse-score in a pcaK-dim UNCENTERED
    * projection (dot products approximately survive the projection — see
    * [[meanAndCovariance]]), keep a `shortlist` per query, then re-rank
    * the shortlist with the exact full-dimension cosine. The fourth ANN
    * tier alongside LSH/IVF/PQ: per-pair coarse work drops dim -> pcaK
    * (e.g. 64 -> 8 mults), and only shortlist*|queries| exact dots run.
    * Recall is spec'd against [[bruteForceTopK]]; raise `shortlist` to
    * trade work for recall. */
  def pcaTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      pcaK: Int = 8, shortlist: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val (_, _, gram) = meanAndCovariance(corpus, col("embedding"), dim,
      center = false)
    val (_, comps) = jacobiEigen(gram)
    val proj = array(comps.take(pcaK).map(w =>
      graft.functions.VectorFunctions.vec_dot(col("embedding"),
        typedLit(w.toSeq))): _*)
    def prep(df: DataFrame, idAs: String, vAs: String, nAs: String,
        pAs: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(vAs),
          proj.as(pAs))
        .withColumn(nAs,
          sqrt(dotDouble(col(vAs), col(vAs)).cast("double")))
    val q = prep(queries, "query_id", "q_v", "q_n", "q_p")
    val c = prep(corpus, "neighbor_id", "c_v", "c_n", "c_p")
    val coarse = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("coarse", dotDouble(col("q_p"), col("c_p")) /
        (col("q_n") * col("c_n")))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id"))
    val short = coarse.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= shortlist)
      .withColumn("cos_sim", dotDouble(col("q_v"), col("c_v")) /
        (col("q_n") * col("c_n")))
    heapTopK(short, k)
  }

  /** OPQ-style rotated PQ: rotate into the PCA eigenbasis with
    * EIGENVALUE ALLOCATION (Ge et al., CVPR 2013, the parametric
    * non-iterative OPQ): dimensions are permuted so each of the m PQ
    * subspaces receives a balanced share of the variance (greedy
    * assignment of eigenvalues, largest first, to the bucket with the
    * smallest log-product and free capacity). A plain PCA ordering
    * would pile all variance into the first subspace and starve the
    * rest — balanced subspaces is where rotated PQ's accuracy gain
    * comes from. The rotation is orthonormal, so dot products and
    * cosines are preserved and the PQ tier's exact re-rank semantics
    * are unchanged; the rotation itself is map-only (dim native dots
    * against literal rows, codegen'd) and everything downstream IS
    * [[pqTopK]] on the rotated frames. The rotation is deliberately
    * RECOMPUTED per downstream pass rather than cached: at corpus scale
    * a cache would pin corpus * dim floats in memory, while the
    * recompute is a codegen'd map riding scans that happen anyway.
    * Recall spec'd in SimilaritySpec alongside the other tiers. */
  def opqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 8, kCodes: Int = 16, candMult: Int = 4,
      kmeansIter: Int = 2): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val (_, _, gram) = meanAndCovariance(corpus, col("embedding"), dim,
      center = false)
    val (vals, comps) = jacobiEigen(gram)
    val order = eigenvalueAllocation(vals, m, dim / m)
    val rows = order.map(comps(_))
    def rot(df: DataFrame) = df.select(col("vec_id"),
      array(rows.map(w =>
        graft.functions.VectorFunctions.vec_dot(col("embedding"),
          typedLit(w.toSeq)).cast("float")): _*).as("embedding"))
    pqTopK(rot(queries), rot(corpus), k, dim, m, kCodes, candMult,
      kmeansIter)
  }

  /** OPQ on the EXACT-INTEGER pipeline — the fully oracle-checked
    * rotated-PQ tier (round-8 conversion; the float [[opqTopK]] stays
    * the paper-faithful spec'd sibling). The OPQ objective is balanced
    * per-subspace variance (Ge et al., CVPR 2013); this tier reaches it
    * with integer-exact, SQL-replayable building blocks instead of a
    * float eigenbasis:
    *
    *   1. per-dimension energies `E_j = Σ x_j²` on the 1e4 grid —
    *      exact longs, one map-side-combined aggregation;
    *   2. rank dims by (E desc, j), pair rank r with rank dim-1-r —
    *      each pair couples a high-variance with a low-variance dim;
    *   3. one 45° Givens rotation per pair, `(x_h, x_l) -> (x_h + x_l,
    *      x_h - x_l)` — exact integers, orthogonal up to the uniform
    *      √2 scale (every dim is in exactly one pair, so L2/cosine
    *      ORDER is preserved and the exact re-rank runs on the
    *      originals anyway). If the pair is uncorrelated this equalizes
    *      the two output variances at (E_h + E_l)/2 — variance
    *      balancing with no trigonometry;
    *   4. snake-draft the pairs (by combined energy desc) across the m
    *      subspaces — balanced allocation, pure modular arithmetic;
    *   5. the integer PQ tier ([[pqIntTopK]]'s codebooks/codes/ADC)
    *      over the rotated vectors, exact 1e8-grid cosine re-rank on
    *      the ORIGINAL embeddings.
    *
    * Deterministic integers end to end — energies, ranks, pairing,
    * rotation, allocation, codebooks, ADC and ranking all replay in
    * DuckDB. Scale shape unchanged from [[pqIntTopK]]: one extra
    * energy aggregation (map-side combined, dim groups), the rotation
    * a map-only expression riding the scans. */
  def opqIntTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 4, kCodes: Int = 8, iters: Int = 4, candMult: Int = 4)
      : DataFrame = {
    require(dim % (2 * m) == 0,
      s"dim $dim must divide into m=$m subspaces of even size")
    val subDim = dim / m
    val en: Array[Long] = corpus
      .select(posexplode(quantizeAt(col("embedding"), 1e4))
        .as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(sum(col("x") * col("x")).as("e"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1).map(_._2)
    require(en.length == dim, s"expected $dim dims, got ${en.length}")
    val byRank: Array[Int] = en.indices.sortBy(i => (-en(i), i)).toArray
    val pairs: IndexedSeq[(Int, Int)] =
      (0 until dim / 2).map(p => (byRank(p), byRank(dim - 1 - p)))
    val orderedPairs = pairs.zipWithIndex
      .sortBy { case ((h, l), p) => (-(en(h) + en(l)), p) }.map(_._1)
    // snake draft: j -> bucket, two adjacent slots per pair
    val slotOf = new Array[(Int, Int, Int)](dim) // (hi, lo, sign)
    val fill = new Array[Int](m)
    orderedPairs.zipWithIndex.foreach { case ((h, l), j) =>
      val b = if ((j / m) % 2 == 0) j % m else m - 1 - (j % m)
      val s0 = b * subDim + 2 * fill(b)
      slotOf(s0) = (h, l, 1)
      slotOf(s0 + 1) = (h, l, -1)
      fill(b) += 1
    }
    def rotate(q4: Column): Column = array((0 until dim).map { s =>
      val (h, l, sg) = slotOf(s)
      if (sg > 0) element_at(q4, h + 1) + element_at(q4, l + 1)
      else element_at(q4, h + 1) - element_at(q4, l + 1)
    }: _*)
    def sub(c: Column, s: Int) = slice(c, s * subDim + 1, subDim)
    val base = corpus.select(col("vec_id"),
      rotate(quantizeAt(col("embedding"), 1e4)).as("q4"))
    val books = kMeansIntSubspaces(base, m, kCodes, iters, subDim)
    def prep(df: DataFrame, idAs: String) =
      df.select(col("vec_id").as(idAs),
          quantize(col("embedding")).as(s"${idAs}_v"),
          rotate(quantizeAt(col("embedding"), 1e4)).as("__r4"))
        .withColumn(s"${idAs}_n", sqrt(dotLong(col(s"${idAs}_v"),
          col(s"${idAs}_v")).cast("double")))
    val coded = prep(corpus, "neighbor_id")
      .withColumn("codes", array((0 until m).map(s =>
        argminCellInt(sub(col("__r4"), s), books(s))): _*))
      .drop("__r4")
    val q = prep(queries, "query_id")
      .withColumn("qtab", array((0 until m).map { s =>
        array(books(s).map { cent =>
          val c2 = cent.map(x => x * x).sum
          dotLong(sub(col("__r4"), s), sub(col("__r4"), s)) +
            dotLong(sub(col("__r4"), s), typedlit(cent.toSeq)) *
              lit(-2L) + lit(c2)
        }: _*)
      }: _*))
      .drop("__r4")
    val adc = (0 until m).map(s =>
        element_at(element_at(col("qtab"), s + 1),
          element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val cand = coded.join(broadcast(q),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", adc)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("__adc"), col("neighbor_id"))))
      .filter(col("__rk") <= candMult * k)
    val scored = cand.withColumn("cos_sim",
      dotLong(col("query_id_v"), col("neighbor_id_v")).cast("double") /
        (col("query_id_n") * col("neighbor_id_n")))
    heapTopK(scored, k)
  }

  /** Greedy eigenvalue allocation: assign eigenvalue indices (sorted
    * descending by |value|) to m buckets of `cap` slots, each to the
    * bucket with the smallest current log-product — balances per-
    * subspace variance products. Returns the permutation: bucket 0's
    * dims, then bucket 1's, ... */
  private[graft] def eigenvalueAllocation(vals: Array[Double], m: Int,
      cap: Int): IndexedSeq[Int] = {
    val buckets = Array.fill(m)(List.empty[Int])
    val logSum = Array.fill(m)(0.0)
    val eps = 1e-12
    vals.indices.sortBy(i => -math.abs(vals(i))).foreach { i =>
      val b = (0 until m).filter(buckets(_).length < cap)
        .minBy(logSum(_))
      buckets(b) = i :: buckets(b)
      logSum(b) += math.log(math.abs(vals(i)) + eps)
    }
    buckets.toIndexedSeq.flatMap(_.reverse)
  }

  /** Project embeddings onto the top-k principal components (centered):
    * adds `outCol` = array<double> of length k. The projection is
    * MAP-ONLY and codegen'd — each component is one native dot against a
    * literal direction plus a precomputed scalar offset (-mu . w); no
    * shuffle, no UDF. At 100 TB: the covariance pass shuffles dim^2
    * groups, the projection rides the scan. */
  def pcaProject(df: DataFrame, vec: Column, dim: Int, k: Int,
      outCol: String = "pca"): DataFrame = {
    val (n, mean, cov) = meanAndCovariance(df, vec, dim)
    require(n > 1, "pcaProject on an empty input")
    val (_, comps) = jacobiEigen(cov)
    val sel = comps.take(k)
    val proj = array(sel.map { w =>
      val offset = -w.indices.map(i => w(i) * mean(i)).sum
      graft.functions.VectorFunctions.vec_dot(vec, typedLit(w.toSeq)) +
        lit(offset)
    }: _*)
    df.withColumn(outCol, proj)
  }
}
