package graft.pipeline

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.model.Schemas
import graft.ops.RefOps
import graft.sink.Upsert
import graft.sources.{RestScan, Transport}

/** The reference's entire dataflow (SURVEY §3.1) as one lazy Spark
  * program: sitemap → products → shop_info → ratings → staged upserts into
  * a parquet warehouse. Each stage cites the reference function it
  * re-homes. XCom whole-table hops (reference dags/etl.py:40,81,121-122,167)
  * become plain DataFrame lineage; the two multi-consumer stages are
  * `.persist()`ed — exactly the reference's fan-out points — and each
  * merge caches its own source for its two reads.
  */
object SendoPipeline {

  val SitemapUrl = "https://mapi.sendo.vn/wap_v2/category/sitemap"
  def productUrl(subCategory: String, page: Int): String =
    s"https://searchlist-api.sendo.vn/app/products?category_path=$subCategory&page=$page"
  def detailUrl(path: String): String =
    s"https://detail-api.sendo.vn/full/$path"
  def ratingUrl(shopId: String, page: Int): String =
    s"https://shop-home.sendo.vn/api/web/v1/shop/rating/$shopId?page=$page&limit=10000"

  // ---- payload schemas (FIXTURES.md §2; explicit, fail-fast) ----

  /** from_json options: a malformed (non-JSON) body must FAIL the job,
    * not parse to null and silently drop the page via explode(null) —
    * the reference's pandas parse raises on garbage too. A well-formed
    * body whose `data` is null stays a normal skip: that is the scan's
    * last-page protocol (reference dags/etl.py:58). */
  private val FailFast = Map("mode" -> "FAILFAST")

  private val sitemapChild = StructType(Seq(StructField("url_key", StringType)))
  private val sitemapCat = StructType(Seq(
    StructField("url_key", StringType),
    StructField("child", ArrayType(sitemapChild))))
  val sitemapSchema: StructType = StructType(Seq(
    StructField("result", StructType(Seq(
      StructField("data", ArrayType(sitemapCat)))))))

  private val productRecord = StructType(Seq(
    StructField("product_id", StringType),
    StructField("name", StringType),
    StructField("category_path", StringType),
    StructField("price", DecimalType(15, 2)),
    StructField("price_max", DecimalType(15, 2)),
    StructField("final_price", DecimalType(15, 2)),
    StructField("final_price_max", DecimalType(15, 2)),
    StructField("shop_id", StringType)))
  val productPageSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(productRecord))))

  private val shopInfoRecord = StructType(Seq(
    StructField("shop_id", StringType),
    StructField("shop_name", StringType),
    StructField("good_review_percent", DecimalType(10, 2)),
    StructField("score", DecimalType(10, 2)),
    StructField("customer_id", StringType),
    StructField("phone_number", StringType),
    StructField("rating_avg", DecimalType(10, 2)),
    StructField("rating_count", IntegerType),
    StructField("response_time", StringType),
    StructField("product_total", IntegerType),
    StructField("sale_on_sendo", StringType),
    StructField("time_prepare_product", StringType),
    StructField("warehourse_region_name", StringType)))
  val shopDetailSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("shop_info", shopInfoRecord))))))

  private val ratingRecord = StructType(Seq(
    StructField("rating_id", StringType),
    StructField("address", StringType),
    StructField("star", IntegerType),
    StructField("comment", StringType),
    StructField("status", StringType),
    StructField("update_time", StringType),
    StructField("customer_id", StringType),
    StructField("user_name", StringType),
    StructField("product_name", StringType),
    StructField("product_path", StringType),
    StructField("price", DecimalType(15, 2))))
  val ratingPageSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("ratings", ArrayType(ratingRecord)))))))

  // ---- extract stages ----

  /** S1-S3 (reference dags/etl.py:25-40): sitemap fetch → (category,
    * sub_category) rows. The reference's Map[cat → List[subcat]] is kept
    * relational (SURVEY §1.3). */
  def subCategories(spark: SparkSession, transport: Transport): DataFrame = {
    import spark.implicits._
    val body = transport.get(SitemapUrl) // one request, driver-side (S1)
    Seq(body).toDF("json")
      .select(from_json($"json", sitemapSchema, FailFast).as("j"))
      .select(explode($"j.result.data").as("cat"))
      .select($"cat.url_key".as("category"),
        explode($"cat.child.url_key").as("sub_category"))
  }

  /** S4/S5/P4/U1/P1 (etl.py:43-81): paginated product scan per
    * sub-category; the page batches arrive as one distributed dataset, so
    * the reference's concat (U1) is implicit. */
  def products(spark: SparkSession, subCats: DataFrame,
      transport: Transport): DataFrame = {
    import spark.implicits._
    // A null category/sub_category cannot form a scan URL — concat_ws
    // SKIPS nulls, so the key would silently lose its separator and the
    // split-indexing in the fetch lambda would crash the executor task.
    // Droppable rows are dropped explicitly, here.
    val keys = subCats
      .filter(col("category").isNotNull && col("sub_category").isNotNull)
      .select(
      concat_ws("|", col("category"), col("sub_category")).as("key"))
      .as[String]
    val pages = RestScan.paginated(keys,
      (key, page) => productUrl(key.split('|')(1), page),
      transport, RestScan.productLastPage)
      .toDF("key", "page", "body")
    val parsed = pages
      .withColumn("category", split(col("key"), "\\|").getItem(0))
      .withColumn("sub_category", split(col("key"), "\\|").getItem(1))
      .select(col("category"), col("sub_category"),
        explode(from_json(col("body"), productPageSchema, FailFast).getField("data"))
          .as("p"))
      .select(col("p.*"), col("category"), col("sub_category"))
    RefOps.project(Schemas.productColumns)(parsed)
  }

  /** U3/S6/P7/P2 (etl.py:84-122): dedup products to one per shop, fetch
    * each shop's detail once (the reference's hand-rolled cost
    * optimization, SURVEY §4.1), parse shop_info. */
  def shopInfos(spark: SparkSession, products: DataFrame,
      transport: Transport): DataFrame = {
    import spark.implicits._
    val oneProductPerShop = RefOps.dedupByKeyFirst(
      Seq("shop_id"), Seq(col("product_id")))(products)
    val keys = oneProductPerShop
      .select(RefOps.stripHtmlSuffix(col("category_path")).as("path"))
      .as[String]
    val bodies = RestScan.perKey(keys, detailUrl, transport).toDF("path", "body")
    val parsed = bodies
      .select(from_json(col("body"), shopDetailSchema, FailFast)
        .getField("data").getField("shop_info").as("s"))
      .select(col("s.*"))
    RefOps.project(Schemas.shopInfoColumns)(parsed)
  }

  /** S7/P5/U2/P3/P8 (etl.py:125-167): paginated rating scan per shop,
    * tagged with its shop_id, dates parsed day-first. Each shop is
    * scanned once: two detail pages can answer with the same shop, and
    * scanning it twice would only fetch the same pages again for rows
    * the merge drops as duplicates. */
  def ratings(spark: SparkSession, shopInfos: DataFrame,
      transport: Transport): DataFrame = {
    import spark.implicits._
    val keys = shopInfos.select(col("shop_id")).distinct().as[String]
    val pages = RestScan.paginated(keys, ratingUrl, transport,
      RestScan.ratingLastPage).toDF("shop_id", "page", "body")
    val parsed = pages
      .select(col("shop_id"),
        explode(from_json(col("body"), ratingPageSchema, FailFast)
          .getField("data").getField("ratings")).as("r"))
      .select(col("shop_id"), col("r.*"))
      .withColumn("update_time",
        RefOps.parseVnDate(col("update_time")))
    RefOps.project(Schemas.ratingColumns)(parsed)
  }

  // ---- load (SURVEY §2.4 L1-L9, §3.1 steps 5-6) ----

  /** Read a warehouse table, empty with the right schema if absent. */
  def readTable(spark: SparkSession, warehouseDir: String, name: String,
      schema: StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // The declared schema spares the Spark job that parquet schema
    // inference runs to read footers, once per read.
    if (fs.exists(path)) spark.read.schema(schema).parquet(path.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Staged MERGE of one table (L1-L3 idiom): read target, upsert, write.
    * The staging-table lifecycle lives inside [[Upsert.upsert]]'s
    * semantics; a write-to-stage + rename-swap replaces MySQL's
    * staging+merge+drop. The merged plan still READS the current table
    * files while the stage write runs, so the target is never cached and
    * a lost/evicted partition recomputes safely — mode("overwrite") onto
    * the path being read would delete its own input on recompute. (On a
    * rename-less object store this swap becomes a metastore/manifest
    * pointer flip; the two-rename window is the same one HDFS table
    * swaps accept.)
    *
    * The SOURCE is read twice by the upsert (anti join and union), so it
    * is computed once: persisted for the stage write unless the caller
    * already cached it, and released right after. Only the day's delta
    * is ever cached. For a REST-backed source this is also a consistency
    * rule, not just a saving: two scans could see two versions of the
    * origin, and a row could then land beside the one it replaces. */
  def mergeTable(spark: SparkSession, warehouseDir: String, name: String,
      schema: StructType, source: DataFrame, pk: String): Unit = {
    val finalPath = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
    val stage = new org.apache.hadoop.fs.Path(s"$warehouseDir/.$name.__stage__")
    val old = new org.apache.hadoop.fs.Path(s"$warehouseDir/.$name.__old__")
    val fs = finalPath.getFileSystem(spark.sessionState.newHadoopConf())
    // CRASH RECOVERY first: a previous run that died inside the
    // two-rename window leaves the only copy of the table at `old`
    // (finalPath moved aside, stage not yet published). Restore it
    // BEFORE reading the target — deleting `old` here instead would
    // destroy the table and merge this batch into an empty frame.
    if (!fs.exists(finalPath) && fs.exists(old) && !fs.rename(old, finalPath))
      throw new java.io.IOException(s"mergeTable: could not restore $old")
    val target = readTable(spark, warehouseDir, name, schema)
      .select(source.columns.map(col).toIndexedSeq: _*)
    val merged = Upsert.upsert(target, source, Seq(pk))
    if (fs.exists(stage)) fs.delete(stage, true)
    val ownsCache = source.storageLevel == StorageLevel.NONE
    if (ownsCache) source.persist(StorageLevel.MEMORY_AND_DISK)
    try merged.write.mode("overwrite").parquet(stage.toString)
    finally if (ownsCache) source.unpersist()
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(finalPath) && !fs.rename(finalPath, old))
      throw new java.io.IOException(s"mergeTable: could not move $finalPath aside")
    if (!fs.rename(stage, finalPath))
      throw new java.io.IOException(s"mergeTable: could not publish $stage")
    fs.delete(old, true)
  }

  /** The full DAG (etl.py:329-343). Returns the three final tables.
    *
    * The rating load and the shop → product load share no table, so they
    * run side by side as the reference's DAG runs them (D2/D3): the
    * rating merge on a thread started here, the shop chain on the
    * caller's thread. A fresh thread, not a pooled one, inherits Spark's
    * thread-local properties (job group, scheduler pool) from this
    * caller rather than from whoever created a pool thread. Both
    * branches are joined before `run` returns or throws; the first
    * failure is rethrown, the other attached as suppressed. A failed
    * merge leaves its table as it was (the stage is never published), so
    * a re-run converges. */
  def run(spark: SparkSession, transport: Transport,
      warehouseDir: String): Map[String, DataFrame] = {
    val subCats = subCategories(spark, transport)
    val prods = products(spark, subCats, transport).persist()   // 2 consumers
    val shops = shopInfos(spark, prods, transport).persist()    // 2 consumers
    val rats = ratings(spark, shops, transport)

    val failure = new AtomicReference[Throwable]()
    def record(e: Throwable): Unit =
      if (!failure.compareAndSet(null, e) && (failure.get ne e))
        failure.get.addSuppressed(e)

    // Rating load (etl.py:170-203). The reference's 5-way fan-out (D2/U5)
    // is subsumed by partition parallelism inside one merge.
    val ratingLoad = new Thread(() =>
      try mergeTable(spark, warehouseDir, "rating", Schemas.rating, rats, "rating_id")
      catch { case e: Throwable => record(e) },
      "sendo-rating-load")
    ratingLoad.start()

    // Shop load, then RI-filtered product load (etl.py:206-281):
    try {
      mergeTable(spark, warehouseDir, "shop_info", Schemas.shopInfo, shops, "shop_id")
      val dbShopIds = readTable(spark, warehouseDir, "shop_info", Schemas.shopInfo)
        .select("shop_id") // S8 read-back
      val validShops = RefOps.distinctKeys("shop_id")(dbShopIds, shops) // U4
      val rifProducts = RefOps.riFilter(validShops, "shop_id")(prods)   // P9
      mergeTable(spark, warehouseDir, "product_detail", Schemas.productDetail,
        rifProducts, "product_id")
    } catch { case e: Throwable => record(e) }
    finally {
      ratingLoad.join()
      prods.unpersist(); shops.unpersist()
    }
    Option(failure.get).foreach(e => throw e)

    Map(
      "shop_info" -> readTable(spark, warehouseDir, "shop_info", Schemas.shopInfo),
      "product_detail" -> readTable(spark, warehouseDir, "product_detail", Schemas.productDetail),
      "rating" -> readTable(spark, warehouseDir, "rating", Schemas.rating))
  }
}
