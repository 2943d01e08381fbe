package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.classic

/** The fixture warehouse is held as one session-cached frame per
  * table, each stored when a query first reads it, and nothing of it
  * is registered in the CacheManager.
  */
class WarehouseCacheSpec extends SparkSpec {

  test("wh_q1 stores only the podcast table, and the CacheManager holds no warehouse plan") {
    // a session of its own: no other suite has read its warehouse
    val s = spark.newSession()
    WarehouseQueries.queries("wh_q1_podcasts")(s, "").collect()
    assert(SessionCache.existing(s, "", "wh.podcast") != null)
    for (t <- Seq("time", "episode", "sentence", "entity"))
      assert(SessionCache.existing(s, "", s"wh.$t") == null,
        s"wh_q1 computed the $t table, which it does not read")
    val w = WarehouseQueries.pipeline(s)
    val cm = s.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    for (df <- Seq(w.time, w.podcast, w.episode, w.sentence, w.entity))
      assert(cm.lookupCachedData(df.asInstanceOf[classic.Dataset[_]]).isEmpty,
        s"the CacheManager serves a warehouse plan: ${df.queryExecution.logical}")
  }
}
