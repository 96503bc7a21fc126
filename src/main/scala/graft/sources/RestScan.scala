package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/** Distributed paginated-REST scan operators (SURVEY §2.1 S4/S6/S7).
  *
  * The reference runs every fetch loop on a single process
  * (reference dags/etl.py:50-64, 89-96, 131-145); here each scan KEY
  * (sub-category, shop id, …) is a row of a keys Dataset, and fetching runs
  * in `mapPartitions` on executors, never on the driver. The transport
  * instance ships once per partition; [[HttpTransport]] still closes its
  * connection after every request (measured cheaper than keep-alive
  * against a loopback origin, see its doc). At 1000
  * executors the keys DataFrame is simply repartitioned to spread origin
  * load; retry and rate limiting live inside [[Transport]].
  *
  * Both reference termination conventions are preserved as explicit
  * predicates (SURVEY §2.1 S4 vs S7): products stop on `data: null`
  * (etl.py:58), ratings stop on an empty array (etl.py:140). The
  * terminating page is fetched (that is how the loop discovers the end,
  * exactly like the reference) but not emitted.
  */
object RestScan {

  /** Paginated scan: for each key, fetch pages 1..n until `isLastPage`
    * says the body is the terminator. Returns (key, page, body) rows.
    * `maxPages` bounds a runaway origin (the reference would loop
    * forever on a server that never terminates) — and hitting that
    * bound without seeing the terminator FAILS the task rather than
    * silently truncating: a cut-off scan is indistinguishable from a
    * complete one downstream, so silence here is invisible data loss. */
  def paginated(keys: Dataset[String], urlFor: (String, Int) => String,
      transport: Transport, isLastPage: String => Boolean,
      maxPages: Int = 100000): Dataset[(String, Int, String)] = {
    import keys.sparkSession.implicits._
    keys.mapPartitions { it =>
      it.flatMap { key =>
        var terminated = false
        Iterator.from(1)
          .take(maxPages)
          .map(page => (key, page, transport.get(urlFor(key, page))))
          .takeWhile { case (_, _, body) =>
            terminated = isLastPage(body); !terminated
          } ++ {
          if (!terminated) throw new IllegalStateException(
            s"paginated scan exceeded maxPages=$maxPages without a " +
              "terminator page — raise maxPages or fix the origin")
          Iterator.empty
        }
      }
    }
  }

  /** One fetch per key (the S6 detail-fetch shape): (key, body) rows. */
  def perKey(keys: Dataset[String], urlFor: String => String,
      transport: Transport): Dataset[(String, String)] = {
    import keys.sparkSession.implicits._
    keys.mapPartitions { it =>
      it.map(key => (key, transport.get(urlFor(key))))
    }
  }

  /** Terminator for the product scan: the `data` field is JSON null
    * (reference dags/etl.py:58). Parsed with json4s (ships with Spark) —
    * a real parse, not a substring probe. */
  val productLastPage: String => Boolean = { body =>
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(body) \ "data" match {
      case JNull | JNothing => true
      case _ => false
    }
  }

  /** Terminator for the rating scan: `data.ratings` is an empty array
    * (reference dags/etl.py:140). */
  val ratingLastPage: String => Boolean = { body =>
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(body) \ "data" \ "ratings" match {
      case JArray(items) => items.isEmpty
      case JNull | JNothing => true
      case _ => false
    }
  }
}
