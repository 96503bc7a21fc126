package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class SendoPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("sendo_wh").toString

  test("full pipeline: extract, transform, load into the 3-table warehouse") {
    val wh = freshDir()
    val tables = SendoPipeline.run(spark, SendoFixtures.transport(), wh)

    // Shops: 501/502/503 (599 never materializes — its detail fetch
    // returned 501's info).
    val shops = tables("shop_info")
    assert(shops.select("shop_id").as[String].collect().sorted.toSeq ==
      Seq("501", "502", "503"))
    assert(shops.columns.toSeq == graft.model.Schemas.shopInfoColumns)

    // Products: p3001 dropped by the RI semi-join (shop 599 unknown);
    // p1001 deduped across the two sub-category scans.
    val prods = tables("product_detail")
    assert(prods.select("product_id").as[String].collect().sorted.toSeq ==
      Seq("1001", "1002", "1003", "2001"))
    // category tag survived (P4): p1001 was scanned under dam-nu first.
    val cats = prods.select("product_id", "sub_category")
      .as[(String, String)].collect().toMap
    assert(Set("dam-nu", "ao-nu").contains(cats("1001")))

    // Ratings: 4 rows, none for shop 502; day-first date parse pinned.
    val rats = tables("rating")
    assert(rats.count() == 4)
    val r1 = rats.filter($"rating_id" === "r1")
      .select($"update_time".cast("string")).as[String].head()
    assert(r1 == "2025-04-03", "03/04/2025 must parse day-first")
    assert(rats.filter($"shop_id" === "502").count() == 0)
  }

  test("re-run with identical input is a no-op (upsert idempotency)") {
    val wh = freshDir()
    val first = SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val snap = first.map { case (n, df) => n -> df.collect().toSet }
    val second = SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    second.foreach { case (n, df) =>
      assert(df.collect().toSet == snap(n), s"table $n changed on re-run")
    }
  }

  test("mergeTable recovers a table stranded at the backup path by a mid-swap crash") {
    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val before = SendoPipeline
      .readTable(spark, wh, "rating", graft.model.Schemas.rating).collect().toSet
    // Simulate a crash between the two publish renames: the table only
    // exists at .rating.__old__.
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$wh/rating"),
      new org.apache.hadoop.fs.Path(s"$wh/.rating.__old__")))
    // The next merge must restore the backup, not merge into nothing.
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val after = SendoPipeline
      .readTable(spark, wh, "rating", graft.model.Schemas.rating).collect().toSet
    assert(after == before, "historical rows must survive the recovery")
  }

  test("re-run with one changed field overwrites only that PK's row") {
    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val before = SendoPipeline
      .readTable(spark, wh, "rating", graft.model.Schemas.rating).collect().toSet
    val after = SendoPipeline
      .run(spark, SendoFixtures.transport(r1Comment = "Tuyệt vời"), wh)
    val ratingsAfter = after("rating")
    assert(ratingsAfter.filter($"rating_id" === "r1")
      .select("comment").as[String].head() == "Tuyệt vời")
    // Every other row unchanged.
    val changedKeys = ratingsAfter.collect().toSet.diff(before)
      .map(_.getAs[String]("rating_id"))
    assert(changedKeys == Set("r1"))
  }

  private def snapshot(wh: String): Map[String, Set[org.apache.spark.sql.Row]] =
    Seq("shop_info" -> graft.model.Schemas.shopInfo,
      "product_detail" -> graft.model.Schemas.productDetail,
      "rating" -> graft.model.Schemas.rating).map { case (n, schema) =>
      n -> SendoPipeline.readTable(spark, wh, n, schema).collect().toSet
    }.toMap

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("run requests each URL at most once") {
    val transport = new CountingTransport(SendoFixtures.transport())
    SendoPipeline.run(spark, transport, freshDir())
    val counts = transport.counts
    val repeated = counts.filter(_._2 > 1)
    assert(repeated.isEmpty, s"fetched more than once: $repeated")
    assert(counts.keySet.exists(_.contains("/shop/rating/")))
  }

  test("mergeTable keeps a source the caller cached, and does not refetch it") {
    val transport = new CountingTransport(SendoFixtures.transport())
    val prods = SendoPipeline.products(spark,
      SendoPipeline.subCategories(spark, transport), transport).persist()
    val shops = SendoPipeline.shopInfos(spark, prods, transport).persist()
    try {
      shops.count()
      val fetched = transport.counts
      SendoPipeline.mergeTable(spark, freshDir(), "shop_info",
        graft.model.Schemas.shopInfo, shops, "shop_id")
      assert(shops.storageLevel != StorageLevel.NONE)
      assert(transport.counts == fetched, "the merge refetched shop detail pages")
    } finally { shops.unpersist(); prods.unpersist() }
  }

  test("mergeTable releases a source it cached itself, pass after pass") {
    val before = persistentRdds
    val wh = freshDir()
    val rats = SendoPipeline.ratings(spark,
      Seq("501", "503").toDF("shop_id"), SendoFixtures.transport())
    SendoPipeline.mergeTable(spark, wh, "rating", graft.model.Schemas.rating,
      rats, "rating_id")
    assert(rats.storageLevel == StorageLevel.NONE)
    (1 to 2).foreach(_ => SendoPipeline.run(spark, SendoFixtures.transport(), wh))
    val leaked = persistentRdds -- before
    assert(leaked.isEmpty, s"cached RDDs left behind: $leaked")
  }

  test("a permanently failing rating page fails run, keeps the rating table, and a re-run converges") {
    val clean = freshDir()
    val wh = freshDir()
    Seq(clean, wh).foreach { d =>
      SendoPipeline.run(spark, SendoFixtures.transport(r1Comment = "Cũ"), d)
    }
    SendoPipeline.run(spark, SendoFixtures.transport(), clean)
    val ratingsBefore = snapshot(wh)("rating")

    // The failure comes late, after the shop chain has likely finished,
    // so `run` must wait for the rating branch to see it.
    val badUrl = SendoPipeline.ratingUrl("503", 1)
    val err = intercept[Throwable] {
      SendoPipeline.run(spark,
        new FailingTransport(SendoFixtures.transport(), badUrl, delayMs = 3000), wh)
    }
    val causes = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(e => Option(e.getMessage).exists(_.contains(badUrl))),
      s"run threw $err, not the failed fetch")
    assert(snapshot(wh)("rating") == ratingsBefore, "the failed merge changed the rating table")

    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    assert(snapshot(wh) == snapshot(clean))
  }
}
