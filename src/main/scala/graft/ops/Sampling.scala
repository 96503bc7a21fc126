package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting for training-data pipelines
  * (SURVEY §2.7 scope): held-out splits, Bernoulli subsampling, and
  * per-source mixture weighting.
  *
  * Every decision is a pure function of (row key, salt) — an md5-derived
  * uniform in [0, 1) — so results are reproducible across runs, engines,
  * partition layouts, and cluster sizes: no RNG state, no
  * `rand()`-per-partition seed sensitivity, and any SQL engine replays
  * the exact same sample (the DuckDB oracles do). At 100 TB this also
  * means a split never has to be materialized: membership is recomputable
  * from the key alone, and re-ingesting a source assigns previously-seen
  * rows to the same split.
  */
object Sampling {

  /** Uniform [0, 1) from the first 52 bits (13 hex digits) of
    * md5(key ":" salt). 52 bits fit a double's mantissa exactly and
    * 2^52 is a power of two, so the division is exact — both engines
    * produce the identical double. Delegates to [[Sketches.hash52]]: ONE
    * definition of the oracle-replayed hash family, shared by sampling
    * and the distinct-count sketches. */
  def hashUnit(key: Column, salt: String): Column =
    graft.functions.Sketches.hash52(key, salt).cast("double") /
      lit(graft.functions.Sketches.HashSpace.toDouble)

  /** Split assignment: named buckets with weights (need not sum to 1;
    * they are normalized). Rows hash into buckets by cumulative weight,
    * e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`.
    *
    * A null key gets a NULL split: without the guard every null-key row
    * would fall through the when-chain into the LAST bucket — a
    * deterministic, correlated leak into what is usually the held-out
    * test split. Null-key rows are the caller's decision (filter or
    * repair); they are never silently bucketed, matching
    * [[sampleByHash]]/[[stratifiedK]] which drop null keys. */
  def splitColumn(key: Column, salt: String,
      splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "split weights must be positive")
    val total = splits.map(_._2).sum
    val u = hashUnit(key, salt)
    val cums = splits.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
    // Last bucket is the otherwise-branch: covers u up to 1 exactly.
    val chain = splits.init.zip(cums.init)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), cum), rest) => when(u < lit(cum), name).otherwise(rest)
      }
    when(key.isNull, lit(null).cast("string")).otherwise(chain)
  }

  /** Keep ~fraction of rows, chosen deterministically by key hash. */
  def sampleByHash(df: DataFrame, key: Column, fraction: Double,
      salt: String): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(hashUnit(key, salt) < lit(fraction))
  }

  /** Mixture sampling: per-group keep fractions (a training-data mixture
    * reweighting — e.g. downsample a crawl source to 25% while keeping
    * curated sources whole). Groups absent from `weights` keep
    * `defaultWeight`. */
  def mixture(df: DataFrame, groupCol: Column, key: Column,
      weights: Map[String, Double], defaultWeight: Double,
      salt: String): DataFrame = {
    val w = weights.toSeq.sortBy(_._1).foldRight(lit(defaultWeight): Column) {
      case ((g, f), rest) => when(groupCol === lit(g), lit(f)).otherwise(rest)
    }
    df.filter(hashUnit(key, salt) < w)
  }

  /** Per-ROW weighted (importance) sampling: keep a row iff
    * hashUnit(key, salt) < `weight`, so a row's keep probability is its
    * own weight — e.g. length-proportional corpus sampling
    * (`least(1.0, n_tokens / budget)`) or quality-score-proportional
    * retention. The per-GROUP form is [[mixture]]; this is its
    * continuous, per-row generalization. Weights ≥ 1 always keep,
    * ≤ 0 never keep; a NULL weight drops the row (null comparison —
    * an undefined probability is not silently treated as 1), and the
    * caller decides what to do with such rows, mirroring the module's
    * null-key policy. Deterministic and layout-invariant like everything
    * here, provided `weight` is itself a deterministic column. */
  def weightedSample(df: DataFrame, weight: Column, key: Column,
      salt: String): DataFrame =
    df.filter(hashUnit(key, salt) < weight)

  /** Exactly-k WEIGHTED sample per stratum (Efraimidis–Spirakis A-Res,
    * 2006): each row draws rank u^(1/w) from its deterministic uniform
    * u = hashUnit(key, salt) and the k LARGEST ranks win — inclusion
    * probability proportional to weight, without replacement, in one
    * pass. The fixed-size complement of [[weightedSample]] (per-row
    * rate) the way [[stratifiedK]] is of [[sampleByHash]].
    *
    * The rank is the module's ONE transcendental here, so it is rounded
    * at 6 decimals immediately (the temperatureMixture/unigram-logprob
    * precedent) and ties break on the key — a total, engine-replayable
    * order. Rows with null, zero, or negative weights (and null keys)
    * never win: they have no defined rank. Runs on the native TopKPerKey
    * bounded heaps: no per-stratum sort, partial heaps cap what shuffles
    * at k·partitions rows regardless of corpus size. */
  def weightedK(df: DataFrame, stratum: Column, weight: Column, key: Column,
      k: Int, salt: String): DataFrame = {
    require(k > 0, "k must be positive")
    val rank = round(pow(hashUnit(key, salt), lit(1.0) / weight), 6)
    val ranked = df.withColumn("__stratum", stratum)
      .withColumn("__r", when(weight > 0, rank))
      .where(col("__r").isNotNull)
    graft.plans.TopK.perKey(ranked, Seq(col("__stratum")),
        Seq(col("__r").desc, key.asc), k)
      .drop("__stratum", "__r")
  }

  /** Exactly-k per-stratum sample: the k rows with the smallest key
    * hashes in each stratum — the fixed-SIZE complement of the
    * fixed-RATE [[sampleByHash]]. Deterministic and partition-invariant
    * like everything here (the "k smallest hashes" set is a pure
    * function of the keys), and uniformly distributed because the hash
    * is. Runs on the native TopKPerKey bounded-heap operator: no
    * per-stratum sort, no skew from a popular stratum. Null keys are
    * excluded (no hash). */
  def stratifiedK(df: DataFrame, stratum: Column, key: Column, k: Int,
      salt: String): DataFrame = {
    require(k > 0, "k must be positive")
    val hashed = df.withColumn("__stratum", stratum)
      .withColumn("__h", hashUnit(key, salt))
      .where(col("__h").isNotNull)
    graft.plans.TopK.perKey(hashed, Seq(col("__stratum")),
        Seq(col("__h").asc, key.asc), k)
      .drop("__stratum", "__h")
  }

  /** Temperature-rebalanced mixture (the T5/mC4 multi-source recipe):
    * expected kept rows per group ∝ n_g^alpha, normalized so the
    * SMALLEST group is kept whole — i.e. keep fraction
    * `(n_min / n_g)^(1-alpha)`, downsampling large sources toward the
    * small ones. `alpha = 1` keeps everything (proportional);
    * `alpha → 0` flattens toward uniform group sizes.
    *
    * Group sizes come from one count aggregate collected to the driver
    * (source/domain cardinality is small by nature — this is a per-
    * GROUP decision table, not per-row state). Each fraction is
    * computed with one libm pow and rounded at 6 decimals before the
    * hash comparison, so any engine replays the same keep set (the
    * precedent of the unigram-logprob oracle: round once, immediately
    * after the only transcendental). Row membership then inherits
    * [[mixture]]'s determinism. */
  def temperatureMixture(df: DataFrame, groupCol: Column, key: Column,
      alpha: Double, salt: String): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    val counts = df.groupBy(groupCol.as("__g")).count()
      .collect().map(r => Option(r.get(0)).map(_.toString) -> r.getLong(1))
    val known = counts.collect { case (Some(g), n) => g -> n }
    if (known.isEmpty) return df // only null-group rows: kept whole
    val nMin = known.map(_._2).min.toDouble
    val weights = known.map { case (g, n) =>
      g -> BigDecimal(math.pow(nMin / n, 1 - alpha))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    // Null-group rows take defaultWeight 1.0 (kept whole): they have no
    // size to rebalance against, mirroring splitColumn's null policy of
    // never silently bucketing.
    mixture(df, groupCol, key, weights, defaultWeight = 1.0, salt)
  }

  /** Token-budget mixture planner: allocate a total token `budget`
    * across groups (sources/domains/languages) with temperature-scaled
    * weights and per-group capacity caps — the water-filling step a
    * corpus-assembly pipeline runs BEFORE any sampling, turning "train
    * on T tokens at temperature alpha" into a per-source manifest.
    * Output: one row per group — (group, n_tokens_avail, weight,
    * alloc_tokens, capped).
    *
    * Semantics (a pure function of the data, engine-replayable):
    * weight w_g = pow(capacity_g, alpha), the one libm call, scaled to
    * the exact integer u_g = round(w_g·10^6); then `iterations` rounds
    * of capping — a group whose capacity is at most its weight-
    * proportional share floor(R·u_g / U) of the remaining budget is
    * CAPPED (allocated its whole capacity, leaving the pool); finally
    * every still-active group gets its share of what remains. All
    * shares are exact integer arithmetic (BigInt here, HUGEINT in the
    * oracle) — no float division anywhere after the single rounded pow.
    * A capping round strictly shrinks the active set, so `iterations`
    * ≥ |groups| is a guaranteed fixpoint and extra rounds are no-ops
    * (capping is monotone: removing a capped group only raises the
    * remaining shares); the default 8 converges for realistic source
    * counts and the oracle replays the SAME fixed count, so even an
    * unconverged plan is bit-identical across engines — and final
    * shares clamp at capacity, so an unconverged plan is still
    * FEASIBLE (never allocates above what a group has; the would-be
    * capped survivors show alloc == capacity with capped = false).
    * Floor-division residue (< |active| tokens) stays unallocated by
    * design.
    *
    * Group capacities come from one count aggregate collected to the
    * driver — the [[temperatureMixture]] bounded-collect convention
    * (this is a per-GROUP decision table, not per-row state). Null
    * groups and null token counts are excluded: an allocation needs an
    * identity to receive it. */
  def budgetPlan(df: DataFrame, groupCol: Column, tokensCol: Column,
      budget: Long, alpha: Double, iterations: Int = 8): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = df.sparkSession
    val caps: Seq[(String, Long)] = df
      .filter(groupCol.isNotNull && tokensCol.isNotNull)
      .groupBy(groupCol.cast("string").as("__g"))
      .agg(sum(tokensCol.cast("long")).as("__c"))
      .collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
    // u = round(pow(c, alpha) * 1e6): ONE libm pow, immediately rounded
    // to the exact integer every later step uses (the round-after-the-
    // only-transcendental discipline of the unigram-logprob oracle).
    val u: Map[String, BigInt] = caps.map { case (g, c) =>
      g -> BigInt(math.round(math.pow(c.toDouble, alpha) * 1e6))
    }.toMap
    var active = caps.map(_._1).toSet
    val capOf = caps.toMap
    var remaining = BigInt(budget)
    val capped = scala.collection.mutable.Set[String]()
    var it = 0
    var fixed = false
    while (it < iterations && !fixed) {
      val bigU = active.iterator.map(u).sum
      // bigU == 0 means every active group has zero capacity (u = 0
      // only when c = 0) — no share is computable, nothing to cap.
      if (active.isEmpty || bigU == 0) fixed = true
      else {
        val newly = active.filter(g =>
          BigInt(capOf(g)) <= remaining * u(g) / bigU)
        if (newly.isEmpty) fixed = true
        else {
          newly.foreach { g => remaining -= capOf(g); capped += g }
          active --= newly
        }
      }
      it += 1
    }
    val finalU = active.iterator.map(u).sum
    val rows = caps.sortBy(_._1).map { case (g, c) =>
      // The min() clamp only bites when the cap cascade needed more
      // rounds than `iterations` (a fixpoint guarantees share < cap for
      // every survivor): an unconverged plan then still never allocates
      // above a capacity — alloc == capacity with capped = false marks
      // exactly the groups a longer run would have capped.
      val alloc =
        if (capped(g)) c
        else if (finalU > 0)
          (BigInt(c) min (remaining * u(g) / finalU)).toLong
        else 0L
      (g, c, u(g).toDouble / 1e6, alloc, capped(g))
    }
    import spark.implicits._
    rows.toDF("group", "n_tokens_avail", "weight", "alloc_tokens", "capped")
  }

  /** Deterministic global shuffle for training order: every row gets a
    * contiguous position 0..n-1 in `shuffle_pos`, ordered by
    * (hash52(key, salt), key) — a reproducible permutation that is a
    * pure function of the keys, like everything in this module. Change
    * the salt to get an independent epoch order; `key` must be unique or
    * rows that tie on the full sort key may swap positions.
    *
    * Scale path: [[ScaleOps.withGlobalIndex]] — a range-partitioned
    * sort plus the two-pass per-partition offset pattern; a window
    * `row_number()` without PARTITION BY would funnel all 100 TB
    * through one task. */
  def shuffled(df: DataFrame, key: Column, salt: String): DataFrame = {
    val hashed = df
      .withColumn("__h", graft.functions.Sketches.hash52(key, salt))
      .where(col("__h").isNotNull)
    ScaleOps.withGlobalIndex(hashed, Seq(col("__h"), key), "shuffle_pos")
      ._1.drop("__h")
  }

  /** Deterministic negative sampling for contrastive training: per row
    * (anchor), k pseudo-random OTHER rows, uniform over the corpus,
    * never self. Sampling is WITH replacement across an anchor's k draws
    * (duplicates possible, the standard in-batch-negatives relaxation);
    * each draw is a pure function of (anchor id, draw index, salt), so
    * epochs re-salt and any engine replays the exact pairs.
    *
    * Mechanics: rows get a dense 0..n-1 index in id order
    * ([[ScaleOps.withGlobalIndex]] — no single-partition window); draw j
    * picks r = hash52(id:j, salt) mod (n−1) over the OTHER indexes, with
    * r >= own-index shifted up by one — exactly uniform over the n−1
    * others. One (n·k)-row join keyed on the drawn index fetches the
    * negative ids; both sides shuffle on that dense long key.
    *
    * Output: (anchor_id, j, negative_id), j = 1..k. Null ids are
    * excluded (they cannot be addressed as negatives); needs n >= 2.
    * `idCol` must be UNIQUE (the [[shuffled]] tie-free-key convention):
    * duplicate ids make the dense index order partition-dependent, so
    * draws would stop being replayable. */
  def negativesK(df: DataFrame, idCol: String, k: Int,
      salt: String): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // Pinned: the indexed table feeds BOTH the draws branch and the
    // negative-fetch side of the join — unpinned, the corpus-wide
    // global-index sort would re-execute per branch (the same diamond
    // semanticDedup and Knn.ivf pin).
    val (unpinned, n) = ScaleOps.withGlobalIndex(
      df.select(col(idCol)).where(col(idCol).isNotNull),
      Seq(col(idCol)), "__idx")
    val indexed = unpinned.localCheckpoint()
    require(n >= 2, s"negativesK needs at least 2 rows, found $n")
    val draws = indexed
      .select(col(idCol).as("anchor_id"), col("__idx").as("__ai"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("__r", graft.functions.Sketches.hash52(
        concat(col("anchor_id").cast("string"), lit(":"),
          col("j").cast("string")), salt) % lit(n - 1))
      .withColumn("__ni",
        when(col("__r") >= col("__ai"), col("__r") + 1).otherwise(col("__r")))
    draws.join(
        indexed.select(col("__idx").as("__ni"), col(idCol).as("negative_id")),
        Seq("__ni"))
      .select(col("anchor_id"), col("j"), col("negative_id"))
  }
}
