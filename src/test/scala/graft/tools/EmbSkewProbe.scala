package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.Knn
import graft.model.Tables

/** r11 receipts for the embedding-space nearskew analogue (r10 verdict
  * #3): the text cluster route was certified under the non-collapsible
  * boilerplate flood, but the embedding paths were only ever probed
  * under the replica-scatter corpus. ScaleProbe's `embskew` mode plants
  * one dense correlated cluster (pairwise cosine ≈0.94, far above the
  * 0.4 gate threshold, all-distinct ids and floats) on 20% of vectors;
  * this probe reports the BUCKET-SIZE DISTRIBUTION each semantic path
  * produces under it — the quantity whose skew decides the within-bucket
  * quadratic — alongside the implied pair work Σ n·(n−1)/2:
  *
  *  - ivf16: `dedup_semantic`'s deterministic first-16-ids assignment
  *    ([[Knn.ivfAssign]]) — expected to land the whole flood in ONE
  *    bucket (the shape the scaladoc already warns about);
  *  - kmeans: the trained √N assignment (`dedup_semantic_trained`'s
  *    production flavor) — k-means puts MANY centroids inside a dense
  *    20% cluster (it minimizes within-cluster SSE), so the flood
  *    should split across centroids and bound the quadratic;
  *  - lsh: `dedup_embedding_lsh`'s sign-projection buckets (24 tables,
  *    adaptive bits) — a correlated cluster signs identically on most
  *    hyperplanes, so its hot (t, bucket) rows measure what the salted
  *    pair join must absorb.
  *
  * Wall times for the registered queries come from [[SkewProbe]]; this
  * probe is the decomposition (where does the pair work concentrate).
  *
  * Usage: Test/runMain graft.tools.EmbSkewProbe <sfDir>
  */
object EmbSkewProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        String.valueOf(Runtime.getRuntime.availableProcessors())))
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val k = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

    def report(name: String, buckets: DataFrame, keyCols: Seq[String]): Unit = {
      val hist = buckets.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n"))
      val row = hist.agg(
        count(lit(1)).as("buckets"),
        max(col("n")).as("max_bucket"),
        sum(col("n") * (col("n") - 1) / 2).as("pair_work")).head
      println(s"""{"probe":"embskew","assign":"$name","vectors":$n,""" +
        s""""buckets":${row.getLong(0)},"max_bucket":${row.getLong(1)},""" +
        s""""pair_work":${row.getDouble(2).toLong},"dir":"$dir"}""")
    }

    report("ivf16",
      Knn.ivfAssign(emb, "vec_id", "embedding",
        Knn.firstCentroids(emb, "vec_id", "embedding", 16)), Seq("bucket"))
    report(s"kmeans$k",
      Knn.ivfAssign(emb, "vec_id", "embedding",
        Knn.kmeans(emb, "vec_id", "embedding", k, 3)), Seq("bucket"))
    // Same adaptive rule as embeddingLshPairs (the LIBRARY path): since
    // r12 the bits and since r14 the TABLES auto-size with the corpus —
    // tables = autoTables(B) = max(24, tablesFor(0.9, B, 0.95)), which
    // departs from 24 past B=13, so the probe must resolve it too or
    // its bucket/pair_work receipts understate the registered gate's
    // real work by T/24 at exactly the corpora this tool exists for
    // (r14 review).
    val bits = Knn.autoBits(n)
    val tables = Knn.autoTables(bits)
    report(s"lsh${tables}x$bits",
      Knn.lshBucketTable(emb, "vec_id", "embedding", tables, bits, 64),
      Seq("t", "bucket"))
    // This IS the registered dedup_embedding_lsh gate's geometry
    // (bits = 0, tables = 0 adaptive; the DuckDB oracle derives the
    // same B and T from count(*)). The fixed bits=6 row stays as the
    // CONTRAST config — the pre-r12 pinned gate whose constant 2^6
    // buckets per table aborted at embskew 30× with 79 GB of spill
    // (probe 20).
    if (bits != 6)
      report("lsh24x6_pinned",
        Knn.lshBucketTable(emb, "vec_id", "embedding", 24, 6, 64),
        Seq("t", "bucket"))
    spark.stop()
  }
}
