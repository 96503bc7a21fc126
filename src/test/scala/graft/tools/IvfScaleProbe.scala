package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Knn
import graft.model.Tables

/** Probe 23 (r13): the IVF SEARCH leg at scale — recall@10 and wall
  * for the trained-√N-centroid configuration that is the family's
  * documented scale path (the registered `knn_ivf_topk` gate runs the
  * deterministic 16-centroid stand-in with nprobe=4, which SCANS 1/4
  * of the corpus at any size: an oracle-replayable fixture geometry,
  * not the 100 TB plan). Measured against exact brute force on the
  * same hash-sampled query set RecallProbe uses, with the gate
  * geometry as the contrast row and nprobe as the swept recall knob.
  * The scan fraction ~nprobe/C is the cost story: √N centroids at
  * nprobe=16 scans ~16/√N of the corpus — 3.6% at 200k vectors and
  * shrinking with N — where the fixed-16 gate geometry scans 25%
  * forever.
  *
  * Usage: Test/runMain graft.tools.IvfScaleProbe <dir> [nQueries]
  */
object IvfScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nQ = if (args.length > 1) args(1).toInt else 50
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        String.valueOf(Runtime.getRuntime.availableProcessors())))
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()
    // Same deterministic query sample + exact baseline as RecallProbe
    // (ProbeCommon) — the two probes must grade the same query set.
    val qs = ProbeCommon.sampledQueries(emb, n, nQ)
    val exact = ProbeCommon.exactTop10(emb, qs)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val denom = exact.count()
    val k = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    // Trained once, reused by every nprobe arm (the warehouse shape:
    // centroids are an offline artifact, search sweeps nprobe).
    val t0 = System.nanoTime()
    val cents = Knn.kmeans(emb, "vec_id", "embedding", k, iterations = 3)
      .localCheckpoint()
    val trainSec = (System.nanoTime() - t0) / 1e9
    // The REAL centroid count: trainLoop drops clusters that capture
    // zero sample points, so C can land below the requested k — and
    // scan_frac must use C, or the cost receipts understate the
    // scanned fraction (r13 review).
    val cReal = cents.count().toInt
    println(f"""{"probe":"ivfscale","dir":"$dir","vectors":$n,"centroids_requested":$k,"centroids":$cReal,"train_sec":$trainSec%.2f,"queries":${qs.count()}}""")

    def arm(name: String, centsDf: org.apache.spark.sql.DataFrame,
        c: Int, nprobe: Int): Unit = {
      val t1 = System.nanoTime()
      val approx = Knn.ivf(emb, qs, "vec_id", "embedding", k = 10,
        centsDf, nprobe)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val sec = (System.nanoTime() - t1) / 1e9
      println(f"""{"probe":"ivfscale","arm":"$name","centroids":$c,"nprobe":$nprobe,"scan_frac":${nprobe.toDouble / c}%.4f,"recall":${hits.toDouble / denom}%.4f,"sec":$sec%.2f}""")
    }

    Seq(4, 8, 16, 32).foreach(np => arm("trained_sqrtN", cents, cReal, np))
    // The registered gate geometry, as the contrast row.
    val cents16 = Knn.firstCentroids(emb, "vec_id", "embedding", 16)
      .localCheckpoint()
    arm("gate_ivf16", cents16, 16, 4)
    spark.stop()
  }
}
