package graft.pipeline

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{FakeTransport, Transport}

/** In-memory fixture world shaped exactly like the four sendo endpoints
  * (FIXTURES.md §2), with the documented edge cases: multi-page scans,
  * both terminator conventions, duplicate PK across pages, duplicate
  * shop_id across products, and a product whose shop never materializes
  * (exercises the P9 RI filter).
  */
object SendoFixtures {

  val sitemap: String =
    """{"result": {"data": [
      |  {"url_key": "thoi-trang-nu", "child": [{"url_key": "dam-nu"}, {"url_key": "ao-nu"}]},
      |  {"url_key": "cong-nghe", "child": [{"url_key": "dien-thoai"}]}
      |]}}""".stripMargin

  private def product(id: String, name: String, path: String, shop: String,
      price: Int): String =
    s"""{"product_id": "$id", "name": "$name", "category_path": "$path",
       | "price": $price, "price_max": ${price + 30000},
       | "final_price": ${price - 21000}, "final_price_max": $price,
       | "shop_id": "$shop", "extra_field_dropped_by_projection": true}""".stripMargin

  val p1001: String = product("1001", "Đầm nữ ABC", "dam-nu-abc-1001.html", "501", 120000)
  val p1002: String = product("1002", "Áo sơ mi", "ao-so-mi-1002.html", "502", 90000)
  val p1003: String = product("1003", "Đầm XX", "dam-xx-1003.html", "501", 150000)
  val p2001: String = product("2001", "Áo nữ", "ao-nu-2001.html", "503", 80000)
  val p3001: String = product("3001", "Điện thoại", "dien-thoai-3001.html", "599", 2000000)

  private def shopInfo(id: String, name: String): String =
    s"""{"data": {"shop_info": {
       |  "shop_id": "$id", "shop_name": "$name", "good_review_percent": 97.5,
       |  "score": 4.8, "customer_id": "9$id", "phone_number": "0901234567",
       |  "rating_avg": 4.6, "rating_count": 321, "response_time": "trong vài giờ",
       |  "product_total": 87, "sale_on_sendo": "2 năm",
       |  "time_prepare_product": "1 ngày", "warehourse_region_name": "Hà Nội"}}}""".stripMargin

  private def rating(id: String, shopCustomer: String, star: Int,
      comment: String, updateTime: String): String =
    s"""{"rating_id": "$id", "address": "Hồ Chí Minh", "star": $star,
       | "comment": "$comment", "status": "approved", "update_time": "$updateTime",
       | "customer_id": "$shopCustomer", "user_name": "nguyenvana",
       | "product_name": "SP", "product_path": "sp.html", "price": 99000}""".stripMargin

  def ratingPage(items: String*): String =
    s"""{"data": {"ratings": [${items.mkString(",")}]}}"""

  /** Base world. `r1Comment` parameterizes the changed-row re-run case. */
  def pages(r1Comment: String = "Tốt"): Map[String, String] = Map(
    SendoPipeline.SitemapUrl -> sitemap,

    // Product scan: 'dam-nu' has 2 pages (+ null terminator, S4
    // convention); p1001 is duplicated across sub-category scans
    // (identical payload — the cross-page duplicate-PK case).
    SendoPipeline.productUrl("dam-nu", 1) -> s"""{"data": [$p1001, $p1002]}""",
    SendoPipeline.productUrl("dam-nu", 2) -> s"""{"data": [$p1003]}""",
    SendoPipeline.productUrl("dam-nu", 3) -> """{"data": null}""",
    SendoPipeline.productUrl("ao-nu", 1) -> s"""{"data": [$p2001, $p1001]}""",
    SendoPipeline.productUrl("ao-nu", 2) -> """{"data": null}""",
    SendoPipeline.productUrl("dien-thoai", 1) -> s"""{"data": [$p3001]}""",
    SendoPipeline.productUrl("dien-thoai", 2) -> """{"data": null}""",

    // Shop details: one fetch per deduped shop's first product path. Shop
    // 599's path returns shop 501's info (API inconsistency) so shop 599
    // never materializes and p3001 must be RI-filtered (P9).
    SendoPipeline.detailUrl("dam-nu-abc-1001") -> shopInfo("501", "Shop ABC"),
    SendoPipeline.detailUrl("ao-so-mi-1002") -> shopInfo("502", "Shop Áo"),
    SendoPipeline.detailUrl("ao-nu-2001") -> shopInfo("503", "Shop Nữ"),
    SendoPipeline.detailUrl("dien-thoai-3001") -> shopInfo("501", "Shop ABC"),

    // Rating scans: empty-array terminator (S7 convention). Shop 502 has
    // zero ratings (terminates on page 1). 03/04/2025 pins day-first
    // parsing (April 3rd, not March 4th).
    SendoPipeline.ratingUrl("501", 1) -> ratingPage(
      rating("r1", "9501", 5, r1Comment, "03/04/2025"),
      rating("r2", "9501", 4, "Ổn", "15/01/2025")),
    SendoPipeline.ratingUrl("501", 2) -> ratingPage(
      rating("r3", "9501", 1, "Kém", "28/02/2025")),
    SendoPipeline.ratingUrl("501", 3) -> ratingPage(),
    SendoPipeline.ratingUrl("502", 1) -> ratingPage(),
    SendoPipeline.ratingUrl("503", 1) -> ratingPage(
      rating("r4", "9503", 3, "Bình thường", "01/12/2024")),
    SendoPipeline.ratingUrl("503", 2) -> ratingPage(),
  )

  def transport(r1Comment: String = "Tốt"): FakeTransport =
    new FakeTransport(pages(r1Comment))
}

/** Counts requests per URL. Tasks run on deserialized copies of the
  * transport, so the counts live in a JVM-wide map keyed by this
  * instance's id rather than in the instance. */
class CountingTransport(inner: Transport) extends Transport {
  private val id = java.util.UUID.randomUUID().toString
  override def get(url: String): String = {
    CountingTransport.hits
      .computeIfAbsent((id, url), _ => new AtomicInteger()).incrementAndGet()
    inner.get(url)
  }
  def counts: Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    CountingTransport.hits.asScala.collect {
      case ((`id`, url), n) => url -> n.get
    }.toMap
  }
}

object CountingTransport {
  private val hits = new ConcurrentHashMap[(String, String), AtomicInteger]()
}

/** Fails every request for `badUrl` after `delayMs`, as an origin that
  * keeps answering 503 past the retries would. */
class FailingTransport(inner: Transport, badUrl: String, delayMs: Long)
    extends Transport {
  override def get(url: String): String =
    if (url == badUrl) {
      Thread.sleep(delayMs)
      throw new java.io.IOException(s"HTTP 503 for $url")
    } else inner.get(url)
}
