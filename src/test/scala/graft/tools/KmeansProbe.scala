package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Scratch profiler for the kmeans-trained semanticDedup path: runs the
  * dedup_semantic_trained query body once warmed, with a listener
  * printing per-job wall times, so variants can be compared job-by-job
  * rather than by one opaque total. Not part of the engine. */
object KmeansProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          j.stageInfos.map(si => si.name.takeWhile(_ != '\n').take(40) +
            ":" + si.numTasks).mkString(" | ")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.get(j.jobId)
        if (s != null) log.add(
          f"job ${j.jobId}%3d ${(System.nanoTime() - s._1) / 1e9}%7.3f s  ${s._2.take(80)}")
      }
    })

    def run(): Double = {
      val emb = graft.model.Tables.embeddings(spark, dir)
      val k = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
      val t0 = System.nanoTime()
      graft.dedup.Dedup.semanticDedup(emb, "vec_id", "embedding",
          graft.functions.Knn.kmeans(emb, "vec_id", "embedding", k,
            iterations = 3),
          threshold = 0.4, graft.GraftFunctions.cosineSim)
        .orderBy(col("vid"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run() // warm
    log.clear()
    val warm = run()
    log.forEach(l => println(l))
    println(f"TOTAL warmed: $warm%.3f s, jobs: ${log.size}")
    spark.stop()
  }
}
