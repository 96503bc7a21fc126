package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** LEARNED language identification — a multinomial Naive Bayes over
  * hashed character-bigram buckets, the fasttext-langid shape at
  * engine scale (Joulin et al. 2016 use char n-grams; the hashing
  * trick bounds the feature space exactly like [[graft.ops.Dsir]]'s
  * hashed bigrams). Replaces guessing with training: where
  * [[TextFunctions.langId]] argmaxes a FIXED marker-word list, this
  * model learns per-language character statistics from any labeled
  * slice and classifies with them — the standard corpus-curation
  * langid step (CCNet, Gopher, RedPajama all gate on a learned
  * char-n-gram classifier).
  *
  * Training is COUNTING, so the whole model is oracle-replayable
  * without iteration (unlike GD): per language, add-1-smoothed bucket
  * log-probabilities over B md5-hashed char-bigram buckets, plus a
  * document-frequency log-prior. The model is (|langs| × B) rows —
  * broadcastable at any corpus size — and scoring is one exploded
  * (id, bucket) exchange, one broadcast join, one grouped decimal sum:
  * the [[graft.ops.Dsir]] scale shape exactly.
  *
  * Float discipline (the repo's oracle-exact recipe): every ln() is
  * rounded at 8 immediately; per-term products are rounded at 8 before
  * the DECIMAL(28,10) cast; the final score rounds at 6. Prediction
  * tie-break is (score desc, lang desc) — max-struct order, mirroring
  * the marker heuristic's convention.
  */
object LangModel {

  /** Code-point array of the lowercased text. `split(lt, "")` IS
    * code-point splitting (Java regex zero-width matches never land
    * inside a surrogate pair); the trailing empty element split keeps
    * under limit=-1 is removed. One O(len) pass — vs per-position
    * `substr(i, 2)` on the string, which re-scans to the code-point
    * offset per call and cost O(len²)/doc (measured 8.9 s for the
    * registered query at sf0.1; book-length docs would be hopeless). */
  private def charsOf(text: Column): Column =
    array_remove(split(lower(text), ""), "")

  /** Adjacent bigrams from an ALREADY-MATERIALIZED char-array column.
    * PERF: `chars` must be a projected attribute, NOT a nested
    * expression — a subexpression inside the lambda re-evaluates per
    * ELEMENT (the [[TextFunctions.shinglesFromTokens]] rule; nesting
    * [[charsOf]] here measured 68 s at sf0.1, hoisted ~1 s). Texts
    * shorter than 2 chars yield an empty array (guarded:
    * `sequence(1, 0)` would DESCEND). */
  private def bigramsFromChars(chars: Column): Column =
    when(size(chars) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(chars) - 1),
        i => concat(element_at(chars, i), element_at(chars, i + 1))))

  /** md5-prefix bucket — the [[graft.ops.Dsir]] convention (28 bits
    * folded mod `buckets`; oracle: ('0x'||substr(md5(g),1,7))::BIGINT % B). */
  private def bucketOf(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 7), 16, 10).cast("long"), lit(buckets))

  /** (id, bucket, cnt) hashed char-bigram counts per document. Null or
    * sub-2-char texts yield no rows. */
  def bucketCounts(docs: DataFrame, textCol: String, idCol: String,
      buckets: Int): DataFrame =
    // Unsplittable-input spread (r14, guide §2.5): the char-split +
    // per-position bigram transform below the first aggregate is this
    // operator's dominant CPU (~chars-per-doc array ops), single-task
    // on a one-row-group scan. No-op at scale where the scan splits.
    graft.util.Spread.spreadInput(docs, col(idCol))
      .select(col(idCol).as("id"), charsOf(col(textCol)).as("__c"))
      .select(col("id"), explode(bigramsFromChars(col("__c"))).as("g"))
      // Two-level aggregate: count the gram STRING first (map-side
      // combine on dense (id, g) keys), hash only the distinct grams
      // per doc — md5 per instance would dominate at corpus scale
      // (trillions of instances, ~10⁵ distinct char bigrams).
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"), bucketOf(col("g"), buckets).as("bucket"))
      .agg(sum(col("c")).as("cnt"))

  /** Train the (lang, bucket, logp) table from a labeled slice: add-1
    * smoothing over the B cells, a full lang×bucket spine so unseen
    * buckets carry the smoothed floor.
    *   logp = round(ln((c + 1) / (total_lang + B)), 8)
    * Rows with null label are excluded (unlabeled data trains nothing). */
  def train(docs: DataFrame, textCol: String, langCol: String,
      buckets: Int): DataFrame = {
    val labeled = docs.filter(col(langCol).isNotNull)
    val grams = labeled
      .select(col(langCol).as("lang"), charsOf(col(textCol)).as("__c"))
      .select(col("lang"), explode(bigramsFromChars(col("__c"))).as("g"))
      // Same two-level shape as bucketCounts: hash distinct grams per
      // lang (≈ vocabulary scale), not instances.
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("lang"), bucketOf(col("g"), buckets).as("bucket"))
      .agg(sum(col("n")).as("c"))
    modelFromLangBuckets(grams,
      labeled.select(col(langCol).as("lang")).distinct(),
      buckets, docs.sparkSession)
  }

  /** [[train]] from PRECOMPUTED per-doc bucket counts plus an
    * (id → lang) label table — the shared-scan form: one corpus bucket
    * pass feeds BOTH the model (via this id-scale join, never a second
    * corpus explode) and [[classify]]'s scoring — the
    * [[graft.ops.Dsir]] one-exchange discipline. Identical output to
    * [[train]]: per (lang, bucket) the sum of per-doc counts over the
    * labeled docs IS the slice's gram count. */
  def trainFromCounts(docCounts: DataFrame, labels: DataFrame,
      buckets: Int): DataFrame = {
    val labeled = labels.filter(col("lang").isNotNull)
    val grams = docCounts
      .join(labeled, Seq("id"))
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("cnt")).as("c"))
    modelFromLangBuckets(grams, labeled.select(col("lang")).distinct(),
      buckets, docCounts.sparkSession)
  }

  /** The smoothing tail shared by [[train]] and [[trainFromCounts]]:
    * full lang×bucket spine, add-1 logp with the repo's rounded-ln
    * discipline. */
  private def modelFromLangBuckets(grams: DataFrame, langs: DataFrame,
      buckets: Int, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val totals = grams.groupBy(col("lang")).agg(sum(col("c")).as("total"))
    val spine = langs.crossJoin(
      spark.range(0, buckets).select(col("id").as("bucket")))
    spine
      .join(grams, Seq("lang", "bucket"), "left_outer")
      .join(totals, Seq("lang"), "left_outer")
      .select(col("lang"), col("bucket"),
        round(log((coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
          (coalesce(col("total"), lit(0L)).cast("double") +
            lit(buckets.toDouble))), 8).as("logp"))
  }

  /** Per-language document-frequency log-prior over the labeled slice:
    * round(ln(n_lang / n_labeled), 8). */
  def priors(docs: DataFrame, langCol: String): DataFrame = {
    val labeled = docs.filter(col(langCol).isNotNull)
    val n = labeled.agg(count(lit(1)).as("n_all"))
    labeled.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .crossJoin(broadcast(n))
      .select(col("lang"),
        round(log(col("n_lang").cast("double") / col("n_all").cast("double")),
          8).as("prior"))
  }

  /** Classify every document: score(d, L) = prior_L + Σ_b cnt_b(d) ·
    * logp_{L,b} (exact decimal term sum, final round at 6), predict the
    * max-struct argmax (score desc, lang desc). TOTAL over the corpus:
    * documents with no char bigrams (null/short text) carry no
    * evidence and predict 'und' with a null score — re-attached via a
    * left join from the id spine, so an inner-join caller cannot lose
    * them.
    *
    * Plan shape: `model` and `priorTable` are at most |langs|×B and
    * |langs| rows — both broadcast; the only corpus-scale exchanges are
    * the (id, bucket, cnt) explode and the (id, lang) partial-agg sum. */
  def classify(docs: DataFrame, model: DataFrame, priorTable: DataFrame,
      textCol: String, idCol: String, buckets: Int): DataFrame =
    classifyFromCounts(docs.select(col(idCol).as("id")),
      bucketCounts(docs, textCol, idCol, buckets), model, priorTable)

  /** [[classify]] from a PRECOMPUTED (id, bucket, cnt) table plus the
    * id spine (the shared-scan form; see [[trainFromCounts]]). */
  def classifyFromCounts(ids: DataFrame, docCounts: DataFrame,
      model: DataFrame, priorTable: DataFrame): DataFrame = {
    val scores = docCounts
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("id"), col("lang"))
      .agg(sum(round(col("cnt") * col("logp"), 8).cast(DecimalType(28, 10)))
        .as("ll"))
      .join(broadcast(priorTable), Seq("lang"))
      // ll + prior is an EXACT ≤8-dp decimal (both operands 8 dp) —
      // add and round to 6 in decimal (HALF_UP scale-down cast), one
      // double cast at the end: round(double, 6) splits engines on a
      // 5e-7 tie (the Dsir logw postmortem class, SCALING.md r8).
      .select(col("id"), col("lang"),
        (col("ll").cast(DecimalType(28, 10)) +
            col("prior").cast(DecimalType(18, 8)))
          .cast(DecimalType(28, 6)).cast("double").as("score"))
    val best = scores
      .groupBy(col("id"))
      .agg(max(struct(col("score"), col("lang"))).as("m"))
      .select(col("id"), col("m.lang").as("lang_pred"),
        col("m.score").as("score"))
    ids
      .join(best, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
        col("score"))
  }

  /** Self-train-and-classify convenience: fit on `docs`' own labels,
    * classify the same corpus (the registered-query form; real
    * pipelines would persist `train`'s output and classify new data).
    * The corpus is bigram-exploded ONCE — the pinned (id, bucket, cnt)
    * table feeds both the model join and the scoring join. */
  def selfClassify(docs: DataFrame, textCol: String, langCol: String,
      idCol: String, buckets: Int = 256): DataFrame = {
    val counts = bucketCounts(docs, textCol, idCol, buckets)
      .localCheckpoint()
    val model = trainFromCounts(counts,
      docs.select(col(idCol).as("id"), col(langCol).as("lang")), buckets)
    classifyFromCounts(docs.select(col(idCol).as("id")), counts,
      model, priors(docs, langCol))
  }
}
