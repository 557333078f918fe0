package graft.sources

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** DSv2 `SupportsReportOrdering` over sorted-shard provenance: a
  * clustered write's required ordering leaves every shard file
  * key-sorted, the commit records it (`_sorted.json`), and the scan
  * reports ascending shard-key order — so a sort-merge join of two
  * co-sharded clustered tables plans with ZERO exchanges (SPJ) and
  * ZERO sort nodes. The negative twins pin soundness: an append drops
  * the claim (the merged part is no longer globally sorted) and the
  * plan grows its sorts back, results identical. */
class LakeSortOrderSpec extends SparkSpec {

  // isolated session: auto-broadcast off to force the SMJ decision
  // without perturbing concurrently-running suites
  private lazy val ss: org.apache.spark.sql.SparkSession = {
    val n = spark.newSession()
    Lake.registerCatalog(n)
    n.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n
  }

  private def mk(tbl: String, hi: Long): Unit = {
    ss.sql(s"DROP TABLE IF EXISTS $tbl")
    ss.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
        'write_distribution'='clustered')""")
    // deliberately shuffled input: the ordering must come from the
    // write's OWN required ordering, not from a lucky input order
    ss.sql(s"""INSERT INTO $tbl
      SELECT id AS user_id, id * 10 AS v
      FROM range(0, $hi) ORDER BY rand(7)""")
  }

  private def finalPlan(df: DataFrame): String = {
    df.collect(): Unit
    df.queryExecution.executedPlan.toString
  }

  private def joined(a: String, b: String): DataFrame =
    ss.sql(s"""SELECT a.user_id, a.v AS va, b.v AS vb
      FROM $a a JOIN $b b ON a.user_id = b.user_id""")

  private def check(df: DataFrame, n: Long): Unit = {
    val rows = df.collect()
    assert(rows.length === n)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) * 10)
      assert(r.getLong(2) === r.getLong(0) * 10)
    }
  }

  test("co-sharded clustered tables sort-merge join with zero " +
      "exchanges AND zero sorts (reported partitioning + ordering); " +
      "an append drops the sorted claim and the sorts grow back") {
    val a = "graft_lake.lake.spec_so_a"
    val b = "graft_lake.lake.spec_so_b"
    mk(a, 64)
    mk(b, 64)

    // the physical shard files really are key-sorted
    val root = ss.conf.get("spark.sql.catalog.graft_lake.path")
    val aDir = new java.io.File(root, "spec_so_a").getPath
    val head = GraftLakeIO.versionDir(aDir,
      GraftLakeIO.latestVersion(aDir))
    assert(GraftLakeIO.readSorted(head).size === 8,
      "all 8 shards must carry sorted provenance")
    val anyPart = GraftLakeIO.allShardParts(head).values.head.head
    val rows = GraftLakeColumnarPartitionReader.rows(
      new GraftLakeColumnarPartitionReader(Seq(anyPart.getPath), 0,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType)))))
    val keys = try rows.map(_.getLong(0)).toVector finally rows.close()
    assert(keys === keys.sorted, "shard file rows must be key-sorted")

    val df = joined(a, b)
    val p = finalPlan(df)
    assert(p.contains("SortMergeJoin"),
      s"expected a sort-merge join in:\n$p")
    assert(!p.contains("Exchange"),
      s"expected zero exchanges (SPJ) in:\n$p")
    assert(!p.contains("Sort "), // SortExec node; SortMergeJoin
      s"expected zero sort nodes (reported ordering) in:\n$p")
    check(df, 64)

    // an append fragments shard parts: sorted provenance drops, the
    // join keeps SPJ (routing unchanged) but sorts come back
    ss.sql(s"""INSERT INTO $b
      SELECT id AS user_id, id * 10 AS v FROM range(64, 80)""")
    val df2 = joined(a, b)
    val p2 = finalPlan(df2)
    assert(!p2.contains("Exchange"),
      s"append must not break SPJ:\n$p2")
    assert(p2.contains("Sort "),
      s"append must re-introduce the sort on the appended side:\n$p2")
    check(df2, 64)

    // CALL rewrite_sorted (round 15 — Iceberg rewrite_data_files
    // strategy 'sort'): the fragmented side's shards rewrite into one
    // key-ordered part each, sorted provenance restores, and the join
    // plans with ZERO exchanges AND ZERO sorts again — with the
    // appended rows now in the result
    val rs = ss.sql("""CALL graft_lake.system.rewrite_sorted(
      table => 'spec_so_b')""").head
    assert(rs.getInt(0) === 8,
      s"all 8 fragmented shards must rewrite, got $rs")
    val bDir = new java.io.File(root, "spec_so_b").getPath
    val head2 = GraftLakeIO.versionDir(bDir,
      GraftLakeIO.latestVersion(bDir))
    assert(GraftLakeIO.readSorted(head2).size === 8,
      "sorted provenance must restore on every shard")
    assert(GraftLakeIO.allShardParts(head2).values
      .forall(_.lengthCompare(1) == 0),
      "every shard must be one part after the sort-rewrite")
    // in the codec's footer schema, name included
    val bFooter = GraftShardCodec.messageType(ss.table(b).schema)
    GraftLakeIO.allShardParts(head2).values.flatten.foreach(f =>
      assert(GraftShardCodec.footer(f)._1 === bFooter, f.getName))
    val df3 = joined(a, b)
    val p3 = finalPlan(df3)
    assert(!p3.contains("Exchange") && !p3.contains("Sort "),
      s"rewrite_sorted must restore the zero-exchange zero-sort " +
        s"join:\n$p3")
    check(df3, 64) // a still holds 0..63; b's appended tail unmatched

    // a single global ORDER BY over one sorted table still plans ITS
    // range exchange (global order needs one), but no extra sort is
    // free to assert here — the single-table scan ordering claim is
    // what the join test above consumed
    for (t <- Seq(a, b)) ss.sql(s"DROP TABLE $t")
  }
}
