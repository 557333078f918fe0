package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Concurrent-execution robustness: a shared SparkSession serves many
  * clients at once (the Thrift-server / notebook-gateway deployment the
  * reference runs — several users against one coordinator), so a
  * diverse set of registered queries must produce serial-identical
  * results when raced on one session. This guards the isolation
  * decisions made for exactly this reason: per-stream child sessions
  * pinning their own shuffle partitions, conf-driven catalog binding
  * (first registration wins), memoized fixtures behind
  * content-fingerprint keys and Memo's locked, marker-last publish. */
class ConcurrencySpec extends SparkSpec {

  // diverse on purpose: batch agg, join+sort, window, dedup chain,
  // streaming (child session + state store), JDBC catalog, document
  // catalog, custom-exec ANN, sketch aggregate
  private val names = Seq(
    "groupby_agg", "q1_join_filter_sort", "window_rank_lag_lead",
    "dedup_exact", "stream_tumbling_counts", "jdbc_scan_agg",
    "mongo_catalog_scan", "ann_custom_exec_topk", "quantile_hist_sketch",
    "bitmap_exact_distinct64", "text_bm25_topk", "graph_triangle_count",
    // round 10: DDL-bearing writers (lake MERGE, JDBC ingest) racing
    // the readers — both serialize internally, results must not change
    "merge_sql_firstseen", "jdbc_ingest_roundtrip",
    // first-touch tmpdir memos (partitioned layout, constant DPP dim)
    // published while other threads read them
    "partitioned_write_prune", "join_dpp_prune")

  test("diverse registered queries race on one session with " +
      "serial-identical results") {
    val serial = names.map { n =>
      n -> SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted.toSeq
    }.toMap
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(names.length))
    val raced = Future.sequence(names.map { n =>
      Future(n -> SparkEntry.queries(n)(spark, sf)
        .collect().map(_.toString).sorted.toSeq)
    })
    val results = Await.result(raced, 5.minutes).toMap
    names.foreach { n =>
      assert(results(n) === serial(n), s"$n diverged under concurrency")
      assert(results(n).nonEmpty, s"$n returned nothing")
    }
  }

  test("snapshot isolation under a LIVE write race: a reader pinned " +
      "mid-sequence repeatedly re-executes while 3 writers commit, " +
      "and never sees a torn or post-pin state") {
    graft.sources.Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_snapiso_race"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, cohort_d DATE)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    spark.sql(s"""INSERT INTO $tbl
      SELECT id AS user_id, DATE '2024-03-01' AS cohort_d
      FROM range(0, 64)""") // v1
    val pinned = spark.sql(
      s"SELECT user_id, cohort_d FROM $tbl VERSION AS OF 1")
    val want = pinned.collect().map(_.toString).sorted.toSeq
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4))
    // three writers commit while the pinned reader re-executes in a
    // loop — every execution must return exactly the v1 rows. Writers
    // retry lost CAS races like any real client (rerunning replans
    // from the new head; each statement is idempotent by content)
    def retrying(sql: String): Unit = {
      def isConflict(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[
          graft.sources.GraftLakeCommitConflict] ||
          isConflict(t.getCause))
      var done = false
      while (!done)
        try { spark.sql(sql): Unit; done = true }
        catch { case e: Exception if isConflict(e) => }
    }
    val writers = Future.sequence(Seq(
      Future(retrying(
        s"INSERT INTO $tbl VALUES (999999, DATE '2030-01-01')")),
      Future(retrying(
        s"UPDATE $tbl SET cohort_d = DATE '2031-01-01' " +
          "WHERE user_id = 0")),
      Future(retrying(s"DELETE FROM $tbl WHERE user_id = 63"))))
    val reader = Future {
      (1 to 10).map { i =>
        val got = pinned.collect().map(_.toString).sorted.toSeq
        assert(got === want, s"pinned read $i saw a foreign state")
        got.length
      }
    }
    Await.result(writers, 2.minutes): Unit
    Await.result(reader, 2.minutes): Unit
    // after the dust settles the head shows all three writes...
    val head = spark.table(tbl).collect()
      .map(r => r.getLong(0) -> r.getDate(1).toString).toMap
    assert(head.contains(999999L) && !head.contains(63L) &&
      head(0L) === "2031-01-01")
    // ...and the pinned reader STILL serves v1
    assert(pinned.collect().map(_.toString).sorted.toSeq === want)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("equality-delete upserts race: concurrent composite-key batch " +
      "writers all land through CAS retries, every key resolves to " +
      "its writer's value, no duplicates survive") {
    graft.sources.Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_equp_race"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, kind STRING,
        v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='4',
        'write_upsert'='equality-delete',
        'upsert_keys'='user_id,kind')""")
    // seed every key once
    spark.sql(s"""INSERT INTO $tbl
      SELECT id % 8 AS user_id,
             CASE WHEN id < 8 THEN 'a' ELSE 'b' END AS kind,
             0L AS v
      FROM range(0, 16)""")
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4))
    def retrying(sql: String): Unit = {
      def isConflict(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[
          graft.sources.GraftLakeCommitConflict] ||
          isConflict(t.getCause))
      var done = false
      while (!done)
        try { spark.sql(sql): Unit; done = true }
        catch { case e: Exception if isConflict(e) => }
    }
    // 4 writers, each upserting ITS OWN key-unique batch: writer w
    // rewrites kind-'a' values of users w and w+4 to 100+w, and the
    // 'b' twin to 200+w — batches overlap in SHARDS (CAS races) but
    // never in KEYS, so last-writer-wins must converge to exactly
    // these values whatever the commit order
    val writers = Future.sequence((0 until 4).map { w =>
      Future(retrying(
        s"""INSERT INTO $tbl
            SELECT u AS user_id, k AS kind,
                   CASE WHEN k = 'a' THEN ${100 + w}L
                        ELSE ${200 + w}L END AS v
            FROM (SELECT explode(array(${w}L, ${w + 4}L)) AS u)
            LATERAL VIEW explode(array('a', 'b')) t AS k"""))
    })
    Await.result(writers, 2.minutes): Unit
    val got = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
    assert(got.length === 16, s"duplicates survived: ${got.length}")
    got.toMap.foreach { case ((u, k), v) =>
      val w = (u % 4).toInt
      assert(v === (if (k == "a") 100 + w else 200 + w),
        s"key ($u,$k) resolved to $v")
    }
    spark.sql(s"DROP TABLE $tbl")
  }
}
