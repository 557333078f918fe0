package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ColumnarToRowExec,
  CommandResultExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec

/** Row-level DML over a merge-on-read lake table reads its target
  * through the vectorized reader: the `_pos` row id rides a column
  * vector, and each live row's id stays its PRE-mask concatenation
  * ordinal across 4096-row batch boundaries and multiple parts. */
class LakeColumnarDmlSpec extends SparkSpec {

  /** Every node of an executed plan: AQE stages, command bodies and
    * subqueries included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def lakeScans(all: Seq[SparkPlan]): Seq[BatchScanExec] =
    all.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftLakeScan] => b
    }

  /** Runs `df`, asserts every lake scan of its executed plan is
    * consumed through `ColumnarToRow`, and returns its rows and lake
    * scans. */
  private def columnarRead(df: DataFrame,
      what: String): (Array[Row], Seq[BatchScanExec]) = {
    val rows = df.collect() // finalizes the adaptive plan
    val all = nodes(df.queryExecution.executedPlan)
    val scans = lakeScans(all)
    assert(scans.nonEmpty, s"$what planned no lake scan")
    val underC2R = all.collect { case c: ColumnarToRowExec =>
      c.child match {
        case i: InputAdapter => i.child // codegen stage boundary
        case p => p
      }
    }
    scans.foreach { s =>
      assert(s.supportsColumnar && underC2R.exists(_ eq s),
        s"$what: lake scan not read columnar:\n${df.queryExecution
          .executedPlan}")
    }
    (rows, scans)
  }

  test("merge-on-read DELETE, UPDATE and MERGE read their target " +
      "columnar with _pos; _pos stays the pre-mask ordinal across " +
      "batches and parts") {
    Lake.registerCatalog(spark)
    val name = "spec_colnar_dml"
    val tbl = s"graft_lake.lake.$name"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT, tag STRING)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'delete_mode'='merge-on-read', 'update_mode'='merge-on-read',
        'merge_mode'='merge-on-read')""")
    // two appends: two parts per shard, the first over 4096 rows
    Seq(0 -> 12000, 12000 -> 20000).foreach { case (lo, hi) =>
      spark.sql(s"""INSERT INTO $tbl SELECT id, id * 3, CAST(NULL AS STRING)
        FROM range($lo, $hi)""")
    }
    val dir = new File(new File(
      spark.conf.get("spark.sql.catalog.graft_lake.path")), name).getPath
    val parts = GraftLakeIO.allShardParts(GraftLakeIO.versionDir(dir,
      GraftLakeIO.latestVersion(dir)))
    assert(parts.size === 2 && parts.values.forall(_.length >= 2) &&
      parts.values.forall(ps => GraftShardCodec.footer(ps.head)._2 > 4096L))

    def rowLevelRead(sql: String): Unit = {
      val (_, scans) = columnarRead(spark.sql(sql), sql)
      assert(scans.exists(_.output.exists(_.name == "_pos")),
        s"$sql: no lake scan reads _pos")
    }
    rowLevelRead(s"DELETE FROM $tbl WHERE user_id % 7 = 3")
    rowLevelRead(s"UPDATE $tbl SET v = v + 1000000 WHERE user_id % 11 = 5")
    rowLevelRead(s"""MERGE INTO $tbl t
      USING (SELECT id AS user_id FROM range(0, 24000, 13)) s
      ON t.user_id = s.user_id
      WHEN MATCHED AND s.user_id % 2 = 0 THEN UPDATE SET tag = 'm'
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (user_id, v, tag)
        VALUES (s.user_id, -1, 'new')""")

    val afterUpdate = (0L until 20000L).filterNot(_ % 7 == 3).map { k =>
      k -> ((if (k % 11 == 5) k * 3 + 1000000L else k * 3), null: String)
    }.toMap
    val expect = (0L until 24000L by 13L).foldLeft(afterUpdate) {
      case (m, k) =>
        if (!m.contains(k)) m + (k -> (-1L, "new"))
        else if (k % 2 == 0) m + (k -> (m(k)._1, "m"))
        else m - k
    }.map { case (k, (v, t)) => (k, v, t) }.toSet
    val got = columnarRead(spark.table(tbl), "plain read")._1
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got.size === expect.size, s"${got.size} vs ${expect.size}")
    assert(got === expect)

    // the reference row ids: every physical row of the final version,
    // numbered by concatenating its shard's parts in seq order (Spark's
    // own parquet row index), kept where the row is a live one
    val vdir = GraftLakeIO.versionDir(dir, GraftLakeIO.latestVersion(dir))
    val physical = GraftLakeIO.allShardParts(vdir).toSeq.flatMap {
      case (shard, ps) =>
        var base = 0L
        ps.flatMap { p =>
          val rows = spark.read.parquet(p.getPath)
            .selectExpr("user_id", "v", "tag", "_metadata.row_index")
            .collect().map(r => (shard, base + r.getLong(3),
              (r.getLong(0), r.getLong(1), r.getString(2))))
          base += GraftShardCodec.footer(p)._2
          rows
        }
    }
    val refIds = physical.filter(x => expect.contains(x._3))
    assert(refIds.length === expect.size,
      "each live row is exactly one physical row")
    val (ids, idScans) = columnarRead(
      spark.sql(s"SELECT _shard, _pos, user_id, v, tag FROM $tbl"),
      "_pos read")
    assert(idScans.forall(_.output.exists(_.name == "_pos")))
    assert(ids.map(r => (r.getInt(0), r.getLong(1),
      (r.getLong(2), r.getLong(3), r.getString(4)))).toSet ===
      refIds.toSet)
    assert(physical.length > expect.size,
      "the masked rows are still stored: the ids above skip them")

    // reads with no data column: footer-served, still columnar
    val onlyIds = columnarRead(spark.sql(s"SELECT _shard, _pos FROM $tbl"),
      "_shard/_pos read")._1
    assert(onlyIds.map(r => (r.getInt(0), r.getLong(1))).toSet ===
      refIds.map(x => (x._1, x._2)).toSet)
    val ones = columnarRead(spark.sql(s"SELECT 1 AS one FROM $tbl"),
      "constant read")._1
    assert(ones.length === expect.size)
    spark.sql(s"DROP TABLE $tbl")
  }
}
