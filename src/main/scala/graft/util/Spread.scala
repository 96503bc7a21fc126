package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec,
  GenerateExec, ProjectExec, SparkPlan, UnionExec}

/** Unsplittable-input spread — the optimization guide §2.5 input-skew
  * fix ("one huge unsplittable file … repartition immediately after the
  * read"), applied SURGICALLY at operator/query sites whose per-row
  * compute below the first exchange is heavy (md5 sketch digests, span
  * explosion + normalization, broadcast-join probe chains over the fact
  * table).
  *
  * The fixture parquet files hold ONE row group each, so every scan
  * plans as a single task and everything below the first exchange runs
  * on one of the session's cores. [[spreadInput]] hash-repartitions on
  * a key the call site already reads (so ReadSchema does not widen)
  * across `defaultParallelism` partitions — but ONLY when the input is
  * a narrow scan chain that plans to fewer partitions than the session
  * width. At warehouse scale the scan splits by itself, the condition
  * is false, and this is a no-op: the partitioning derives from the
  * planned input, never from a local[32] constant.
  *
  * Probe discipline (r15, ADVICE r14): the r14 form probed
  * `df.rdd.getNumPartitions`, and with AQE enabled `Dataset.rdd`
  * finalizes the adaptive plan — which EXECUTES every upstream
  * shuffle/broadcast stage as a throwaway job at query-CONSTRUCTION
  * time. For plain scans that is free, but [[graft.dedup.Dedup]]'s
  * `shingleTable` is also called on already-shuffled frames (the
  * cluster prestage's representatives), whose collapse stage then ran
  * twice — and at 100 TB that throwaway probe is a full extra corpus
  * pass. Now: the probe only ever touches a NARROW chain
  * (scan/project/filter/generate/union — a lineage whose partition
  * count is pure driver-side split arithmetic, no job); anything wider
  * (joins, aggregates, windows — nodes that will get exchanges in
  * preparation) skips without planning an RDD at all. Call sites that
  * need a spread decision for a post-shuffle frame derive it from the
  * frame's SOURCE scan via [[spreadLike]].
  *
  * Measured r14 (sf0.1, session-relative): sketch_cms_probe 0.55×,
  * q3_join_agg 0.62×, q9_profit_nation 0.68×, sketch_kmv_distinct
  * 0.69×, dedup_span_stats 0.53×. The BLANKET read-layer form was
  * measured first and rejected: consumers whose first operation is
  * itself an exchange (sort-first text queries, agg-first q17/q1) paid
  * more for the extra exchange + task wave than parallel compute
  * returned (q17_small_quantity 2.56×) — exactly guide §2.3's "shuffle
  * fewer bytes" warning, which is why the spread lives at the call
  * sites that win, not in the shared read path. Hash (not round-robin)
  * because round-robin pays the full-width sort-before-repartition
  * pass (SPARK-23207), measured 1.3–5.8× worse.
  */
object Spread {

  /** Narrow scan chain: partition count derives from split planning
    * alone, so probing it can never run a job. `sparkPlan` is the
    * pre-preparation physical plan — joins/aggregates appear directly
    * (EnsureRequirements has not inserted their exchanges yet), so any
    * node outside this whitelist means the frame is NOT a plain read
    * path and the spread does not apply. */
  private def isNarrowChain(plan: SparkPlan): Boolean = plan match {
    case _: FileSourceScanExec => true
    case p: ProjectExec => isNarrowChain(p.child)
    case f: FilterExec => isNarrowChain(f.child)
    case g: GenerateExec => isNarrowChain(g.child)
    case u: UnionExec => u.children.forall(isNarrowChain)
    case _ => false
  }

  /** Planned partition count of a narrow chain, or None when the frame
    * is not one (or cannot be planned without preparation). */
  private def narrowChainPartitions(df: DataFrame): Option[Int] = {
    if (df.isStreaming) return None
    val plan = df.queryExecution.sparkPlan
    if (!isNarrowChain(plan)) None
    else
      try Some(plan.execute().getNumPartitions)
      catch { case _: Throwable => None }
  }

  def spreadInput(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (p <= 1) return df
    narrowChainPartitions(df) match {
      case Some(parts) if parts < math.max(2, p / 2) =>
        df.repartition(p, key)
      case _ => df
    }
  }

  /** Spread `target` by `key` iff `probe` — the narrow SOURCE scan the
    * target derives from — plans unsplittably. The post-shuffle target
    * cannot be probed directly without executing its upstream stages
    * (the r14 hidden-double-work trap); but whenever the source scan is
    * a handful of tasks, AQE's partition coalescing collapses the tiny
    * downstream shuffles to match, so the source's plan width IS the
    * scale signal. At warehouse scale the source splits, the condition
    * is false, and the target flows through untouched. */
  def spreadLike(probe: DataFrame, target: DataFrame, key: Column): DataFrame = {
    val p = target.sparkSession.sparkContext.defaultParallelism
    if (p <= 1 || target.isStreaming) return target
    narrowChainPartitions(probe) match {
      case Some(parts) if parts < math.max(2, p / 2) =>
        target.repartition(p, key)
      case _ => target
    }
  }
}
