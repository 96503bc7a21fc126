package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Knn
import graft.model.Tables

/** SCALING.md probe 23b (r14 — r13 verdict #3): the COMPOSED trained
  * IVF+PQ at scale. Probe 23 receipted the trained-√N IVF search leg
  * alone; [[Knn.ivfPq]] — the engine's stated 100 TB store layout
  * (FAISS-IVFPQ: IVF prunes WHICH vectors score, PQ codes prune WHAT
  * is read) — had oracle coverage only at fixture geometry (16
  * smallest-id centroids, smallest-id codebooks). This probe measures
  * recall@10 / scan fraction / wall of the composition on a probe
  * corpus, against the same exact brute-force baseline and query
  * sample RecallProbe and IvfScaleProbe grade with, with rows for:
  *
  *  - the registered fixture geometry (gate contrast);
  *  - trained √N centroids ([[Knn.kmeans]]) + deterministic codebooks,
  *    nprobe swept;
  *  - trained √N centroids + per-subspace TRAINED codebooks
  *    ([[Knn.pqCodebooksTrained]] — the configuration FAISS ships);
  *  - plain trained IVF on exact vectors (probe 23's row, the
  *    "PQ's recall cost at equal pruning" denominator);
  *  - LSH multi-probe at the registered width-scaled budget (the
  *    cross-family comparison row).
  *
  * If ADC recall collapses on a near-random corpus (embskew / scatter
  * replicas), that is the honest FAISS result too — 8 subspace codes
  * of 4 dims cannot preserve rank among ~orthogonal vectors; the
  * production regime is the clustered corpus (embcluster).
  *
  * Usage: Test/runMain graft.tools.IvfPqProbe <dir> [nQueries]
  */
object IvfPqProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nQ = if (args.length > 1) args(1).toInt else 50
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        String.valueOf(Runtime.getRuntime.availableProcessors())))
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()
    val qs = ProbeCommon.sampledQueries(emb, n, nQ)
    val exact = ProbeCommon.exactTop10(emb, qs)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val denom = exact.count()
    val kC = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val t0 = System.nanoTime()
    val cents = Knn.kmeans(emb, "vec_id", "embedding", kC, iterations = 3)
      .localCheckpoint()
    val cReal = cents.count().toInt
    val trainSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val tBooks = Knn.pqCodebooksTrained(emb, "vec_id", "embedding",
      m = 16, k = 16, dims = 64).localCheckpoint()
    val booksSec = (System.nanoTime() - t1) / 1e9
    val books = Knn.pqCodebooks(emb, "vec_id", "embedding", 16, 16, 64)
      .localCheckpoint()
    println(f"""{"probe":"ivfpq","dir":"$dir","vectors":$n,"centroids_requested":$kC,"centroids":$cReal,"train_sec":$trainSec%.2f,"trained_books_sec":$booksSec%.2f,"queries":${qs.count()}}""")

    // IVF arms carry (centroids, nprobe, scan_frac); the cross-family
    // LSH row passes None — printing the IVF fields there (0% "scan")
    // would skew exactly the comparison the row exists for (r14
    // review).
    def arm(name: String, df: => DataFrame,
        ivf: Option[(Int, Int)]): Unit = {
      val t = System.nanoTime()
      val approx = df.select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val sec = (System.nanoTime() - t) / 1e9
      val fields = ivf match {
        case Some((c, np)) =>
          f""""centroids":$c,"nprobe":$np,"scan_frac":${np.toDouble / c}%.4f"""
        case None => """"centroids":null,"nprobe":null,"scan_frac":null"""
      }
      println(f"""{"probe":"ivfpq","arm":"$name",$fields,"recall":${hits.toDouble / denom}%.4f,"sec":$sec%.2f}""")
    }

    // Gate fixture geometry: the oracle-replayable contrast row.
    arm("gate_ivfpq16",
      Knn.ivfPq(emb, qs, "vec_id", "embedding", k = 10,
        Knn.firstCentroids(emb, "vec_id", "embedding", 16), nprobe = 4,
        books), Some((16, 4)))
    // Trained centroids + deterministic books, nprobe swept.
    Seq(4, 16, 32).foreach { np =>
      arm("trained_ivfpq",
        Knn.ivfPq(emb, qs, "vec_id", "embedding", k = 10,
          cents = cents, nprobe = np, books), Some((cReal, np)))
    }
    // Trained centroids + trained books — the FAISS-shipped config.
    arm("trained_ivfpq_tbooks",
      Knn.ivfPq(emb, qs, "vec_id", "embedding", k = 10,
        cents = cents, nprobe = 16, tBooks),
      Some((cReal, 16)))
    // The REFINE leg (FAISS IndexRefineFlat, r14): ADC selects the
    // top-R candidates, whose raw vectors re-rank exactly — a second
    // broadcast-filtered scan in this plan (point lookups on an
    // id-keyed store). The R sweep shows how much ADC candidacy
    // retains of the rank it cannot express.
    Seq(100, 1000).foreach { r =>
      arm(s"trained_ivfpq_refine$r",
        Knn.ivfPq(emb, qs, "vec_id", "embedding", k = 10,
          cents = cents, nprobe = 16, books, refine = r), Some((cReal, 16)))
    }
    // Denominator rows: the same pruning on EXACT vectors (PQ's recall
    // cost in isolation), and the cross-family LSH-mp row at the
    // registered width-scaled budget (no centroid fields — its
    // candidate fraction is not nprobe/C).
    arm("trained_ivf_exact",
      Knn.ivf(emb, qs, "vec_id", "embedding", k = 10,
        cents, nprobe = 16), Some((cReal, 16)))
    val b = Knn.autoBits(n)
    arm("lsh_mp_registered",
      Knn.lshCosine(emb, qs, "vec_id", "embedding", k = 10, dims = 64,
        bits = b, probes = Knn.autoProbes(b)), None)
    spark.stop()
  }
}
