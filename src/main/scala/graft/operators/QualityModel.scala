package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based document quality filtering — the classifier step of the
  * standard LLM-data curation recipe (CCNet, GPT-3, LLaMA): train a
  * linear classifier to recognize "reference-quality" text, score every
  * candidate document, and keep the high-scoring tail. The heuristic
  * rules in [[Quality]]/[[TextAnalysis]] catch mechanical junk; the
  * classifier generalizes from examples and catches what rules cannot
  * name.
  *
  * Spark-first shape (all public `spark.ml`):
  *  - Features are HASHED unigram+bigram counts (`HashingTF`) — the
  *    fastText trick that bounds the model at `numFeatures` doubles no
  *    matter the corpus vocabulary, so the weight vector broadcasts and
  *    the gradient `treeAggregate` moves one dense `numFeatures`-sized
  *    vector per partition per iteration, independent of data size.
  *  - Training runs on a deterministic hash-capped SAMPLE of the labeled
  *    set (the md5 convention shared with [[Sampling]]): at 100 TB the
  *    labeled subset is the thing you bound, the corpus never is.
  *  - Scoring is a MAP-ONLY transform (broadcast weights, one pass, no
  *    shuffle) — the posture that matters at corpus scale.
  *
  * The probability itself is iteration-order-sensitive float math
  * (L-BFGS), so no cross-engine oracle exists; the gate is rows-only and
  * QualityModelSpec pins behavior (planted clean-vs-junk separation,
  * score range, weak-label agreement).
  */
object QualityModel {

  /** Unigram + bigram gram array from a materialized token-array column:
    * tokens `["a","b","c"]` feed `["a","b","c","a b","b c"]`. Bigrams
    * give the classifier word-order evidence that pure bag-of-words
    * lacks (the difference between fluent text and shuffled vocabulary).
    * Takes the COLUMN NAME of the token array so the SQL lambda indexes
    * the materialized array (re-deriving from text would re-split per
    * element — the interpreted-HOF trap noted at dropBoilerplateSpans). */
  private[graft] def grams(toksCol: String): Column = expr(
    s"""concat($toksCol,
       |  CASE WHEN size($toksCol) >= 2
       |    THEN transform(sequence(0, size($toksCol) - 2),
       |                   i -> concat($toksCol[i], ' ', $toksCol[i + 1]))
       |    ELSE cast(array() as array<string>) END)""".stripMargin)

  private def withGrams(df: DataFrame, text: Column): DataFrame =
    df.withColumn("__qm_toks", TextAnalysis.tokens(text))
      .withColumn("__qm_grams", grams("__qm_toks"))

  /** Train a quality classifier from `(text, label)` rows (label 1.0 =
    * reference quality, 0.0 = junk). `trainPct` caps the labeled set by
    * the deterministic md5-hash rule so a replayed job trains on the
    * same rows regardless of partitioning. */
  def train(labeled: DataFrame, text: Column, label: Column,
      numFeatures: Int = 1 << 15, maxIter: Int = 50,
      regParam: Double = 1e-4, trainPct: Int = 100)
      : LogisticRegressionModel = {
    require(numFeatures > 0 && maxIter > 0, "numFeatures/maxIter must be > 0")
    require(trainPct > 0 && trainPct <= 100, s"trainPct in (0,100]: $trainPct")
    val base = labeled
      .withColumn("label", label.cast("double"))
      .filter(col("label").isin(0.0, 1.0) && text.isNotNull)
    val sampled =
      if (trainPct == 100) base
      else base.filter(
        conv(substring(md5(text), 1, 6), 16, 10) % 100 < trainPct)
    val tf = new HashingTF().setInputCol("__qm_grams")
      .setOutputCol("features").setNumFeatures(numFeatures)
    val lr = new LogisticRegression().setMaxIter(maxIter)
      .setRegParam(regParam).setStandardization(false)
    lr.fit(tf.transform(withGrams(sampled, text)))
  }

  /** Score `df`: appends `model_quality` = P(label = 1 | text), in
    * [0, 1]. Null text scores null (no fabricated quality for missing
    * documents).
    *
    * Scoring is a PURE CATALYST plan, not `model.transform`: the native
    * fused [[graft.functions.LinearTextMargin]] expression accumulates
    * `intercept + coef[index(gram)]` over unigrams+bigrams in one
    * codegen'd JVM pass per row, with `index` the REAL HashingTF bucket
    * (NOT SQL `hash()` — different murmur3 tail mixing; parity against
    * model.transform is spec-asserted at 1e-12). Summing the
    * coefficient once per gram occurrence equals the dot product with
    * the TF count vector. The coefficients ride the expression as one
    * reference object; no UDF, no model object in any task closure
    * (model.transform's prediction UDF drags the training summary's
    * SparkSession into the closure — a serialization landmine — and
    * evaluates interpreted besides). */
  def score(model: LogisticRegressionModel, df: DataFrame, text: Column)
      : DataFrame = {
    val cols = df.columns.toSeq
    require(!cols.contains("model_quality") &&
      !cols.exists(_.startsWith("__qm_")),
      "score reserves model_quality and __qm_* column names")
    val margin = graft.functions.MlHashFunctions.linear_text_margin(
      TextAnalysis.tokens(coalesce(text, lit(""))),
      model.coefficients.toArray, model.intercept, model.numFeatures)
    df.withColumn("model_quality",
        when(text.isNull, lit(null).cast("double"))
          .otherwise(lit(1.0) / (lit(1.0) + exp(-margin))))
      .select(cols.map(col) :+ col("model_quality"): _*)
  }

  /** The self-supervised end-to-end loop when no labeled reference
    * corpus exists: weak labels from the corpus's own bigram-LM quality
    * signal ([[TextAnalysis.bigramLmScore]] — fluent word transitions
    * score high), top quartile = positive, bottom quartile = negative,
    * middle half unlabeled; train on the extremes; score EVERY document.
    * This is CCNet's recipe with the corpus standing in for Wikipedia.
    *
    * One extra pass over the corpus for the LM signal (bigram explode +
    * two vocabulary-keyed joins), one exact-percentile aggregate (two
    * doubles to the driver), then train-on-sample + map-only scoring.
    * Returns every input row + (weak_label nullable, model_quality). */
  def weakLabelScore(df: DataFrame, idCol: String, text: Column,
      numFeatures: Int = 1 << 15, maxIter: Int = 50, trainPct: Int = 100)
      : DataFrame = {
    // materialize the per-doc LM signal ONCE (id + one double — tiny):
    // the fences aggregate, the training pass, and the scoring pass all
    // consume it, and lazily each would re-run the bigram explode + two
    // vocabulary joins (this single line is a ~2x on the whole loop)
    val lm = TextAnalysis.bigramLmScore(df, idCol, text)
      .withColumn("__qm_lm",
        when(col("n_bigrams") > 0,
          col("score").cast("double") / col("n_bigrams")).otherwise(0.0))
      .select(col(idCol), col("__qm_lm"))
      .pinned()
    // exact quartile fences, one 2-double row broadcast back onto the
    // corpus (the iqrOutliers pattern) — no global sort, no window
    val fences = lm.agg(
      expr("percentile(__qm_lm, 0.25)").as("__qm_p25"),
      expr("percentile(__qm_lm, 0.75)").as("__qm_p75"))
    val labeled = df.join(lm, idCol).crossJoin(broadcast(fences))
      .withColumn("weak_label",
        when(col("__qm_lm") >= col("__qm_p75"), 1.0)
          .when(col("__qm_lm") <= col("__qm_p25"), 0.0)
          .otherwise(lit(null).cast("double")))
      .drop("__qm_lm", "__qm_p25", "__qm_p75")
    val model = train(labeled.filter(col("weak_label").isNotNull),
      text, col("weak_label"), numFeatures, maxIter, trainPct = trainPct)
    score(model, labeled, text)
  }
}
