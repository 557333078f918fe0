package graft.sources

import java.io.File

import graft.SparkSpec

/** Merge-on-read DELETE via deletion vectors
  * ([[GraftLakeDeltaDeleteOperation]]): position bitmaps instead of
  * shard rewrites, masked at scan time, compacted away by the next
  * rewrite of the shard. */
class LakeDeleteVectorSpec extends SparkSpec {

  private def lakeRoot: File = {
    Lake.registerCatalog(spark)
    new File(spark.conf.get("spark.sql.catalog.graft_lake.path"))
  }

  private def ddlMor(tbl: String, rows: Int = 16): Unit = {
    Lake.registerCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, score BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='4',
        'delete_mode'='merge-on-read')""")
    val values = (0 until rows)
      .map(i => s"($i, ${i * 10})").mkString(", ")
    spark.sql(s"INSERT INTO $tbl VALUES $values") // v1
  }

  private def lakeTable(name: String): GraftLakeTable =
    new GraftLakeCatalog {
      initialize("graft_lake", new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Map.of("path",
          lakeRoot.getPath)))
    }.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("lake"), name)).asInstanceOf[GraftLakeTable]

  private def shardIdentity(dir: String, v: Int): Map[Int, Object] =
    GraftLakeIO.existingShards(GraftLakeIO.versionDir(dir, v)).map { k =>
      k -> java.nio.file.Files.readAttributes(
        GraftLakeIO.shardFile(GraftLakeIO.versionDir(dir, v), k).toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    }.toMap

  test("merge-on-read DELETE writes a deletion vector and rewrites " +
      "NO shard file; reads, counts, and time travel stay exact") {
    val tbl = "graft_lake.lake.spec_dv"
    ddlMor(tbl) // users 0..15 over 4 hash shards
    val dir = new File(lakeRoot, "spec_dv").getPath
    val v1Files = shardIdentity(dir, 1)
    spark.sql(s"DELETE FROM $tbl WHERE user_id IN (1, 2, 5, 11)") // v2
    assert(GraftLakeIO.latestVersion(dir) === 2)
    // every v2 shard file IS the v1 file — hardlink identity, zero
    // rewrite (the whole point of merge-on-read)
    val v2Files = shardIdentity(dir, 2)
    assert(v2Files === v1Files,
      "a deletion-vector commit must not touch any data file")
    // the sidecar records exactly the deleted positions
    val dv = GraftLakeIO.readDv(GraftLakeIO.versionDir(dir, 2))
    assert(dv.values.map(_.getCardinality).sum === 4)
    // live reads mask the positions
    val live = spark.sql(s"SELECT user_id FROM $tbl ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(live === (0L to 15L).filterNot(Set(1L, 2L, 5L, 11L)))
    // count(*) pushes down WITH the DV subtraction
    GraftLakeScanMetrics.reset()
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0)
      === 12L)
    assert(GraftLakeScanMetrics.aggPushdowns.get() === 1L)
    // min/max REFUSES under DVs (a deleted row may have held the
    // extreme) — row-exact answer still correct
    GraftLakeScanMetrics.reset()
    assert(spark.sql(s"SELECT min(user_id) FROM $tbl").head.getLong(0)
      === 0L)
    assert(GraftLakeScanMetrics.aggPushdowns.get() === 0L)
    // time travel: v1 still shows every row (DV is v2 state)
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1")
      .head.getLong(0) === 16L)
    // history stamps LIVE rows for the delete commit
    assert(GraftLakeIO.commitCounts(dir, 2) === Some((12L, 4L)))
    assert(GraftLakeIO.commitOperation(dir, 2) === "delete")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("a second DELETE unions into the existing vectors; an append " +
      "after deletes keeps positions stable; a rewrite compacts the " +
      "shard's deletes away") {
    val tbl = "graft_lake.lake.spec_dv_life"
    ddlMor(tbl) // v1: users 0..15
    val dir = new File(lakeRoot, "spec_dv_life").getPath
    spark.sql(s"DELETE FROM $tbl WHERE user_id = 4") // v2
    spark.sql(s"DELETE FROM $tbl WHERE user_id = 8") // v3: same shard 0
    val dv3 = GraftLakeIO.readDv(GraftLakeIO.versionDir(dir, 3))
    assert(dv3(0).getCardinality === 2, "deletes union per shard")
    // append INTO a DV-carrying shard: base ordinals stay valid (the
    // merge places base rows first), so the old deletes still bind
    spark.sql(s"INSERT INTO $tbl VALUES (16, 160)") // v4, shard 0
    val got = spark.sql(s"SELECT user_id FROM $tbl ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === (0L to 16L).filterNot(Set(4L, 8L)))
    assert(GraftLakeIO.readDv(GraftLakeIO.versionDir(dir, 4))(0)
      .getCardinality === 2, "appends carry the vectors forward")
    // UPDATE rides the group-based rewrite and COMPACTS: the rewritten
    // shard's entry disappears, its file holds live rows only
    spark.sql(s"UPDATE $tbl SET score = -1 WHERE user_id = 12") // v5
    val dv5 = GraftLakeIO.readDv(GraftLakeIO.versionDir(dir, 5))
    assert(!dv5.contains(0),
      "a rewrite of the shard must clear its deletion vector")
    val after = spark.sql(
      s"SELECT user_id, score FROM $tbl ORDER BY user_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.keySet === (0L to 16L).filterNot(Set(4L, 8L)).toSet)
    assert(after(12L) === -1L && after(16L) === 160L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("$changes sees DV deletes: a hardlink-identical shard with a " +
      "changed vector plans a diff partition and emits `delete` rows; " +
      "untouched shards are still skipped by identity") {
    val tbl = "graft_lake.lake.spec_dv_cdc"
    ddlMor(tbl) // v1
    spark.sql(s"DELETE FROM $tbl WHERE user_id IN (3, 6)") // v2
    val changes = spark.sql(
      s"""SELECT _change_type, _commit_version, user_id
          FROM `graft_lake`.`lake`.`spec_dv_cdc$$changes`
          WHERE _commit_version = 2
          ORDER BY user_id""").collect()
    assert(changes.map(r =>
      (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("delete", 3L), ("delete", 6L)))
    // planning honesty: only the two DV'd shards (3%4=3, 6%4=2) diff
    val table = lakeTable("spec_dv_cdc")
    val scan = new GraftLakeChangesScan(table,
      new GraftLakeChangesTable(table).changeSchema, 2)
    val parts = scan.diffPartitions(1, 2)
    assert(parts.length === 2,
      s"expected 2 changed shards, got ${parts.length}")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("merge-on-read UPDATE stages only the replacement rows: " +
      "untouched shards hardlink, touched shards append, the old " +
      "positions enter the vector; a shard-key update migrates the " +
      "row to its new shard") {
    val tbl = "graft_lake.lake.spec_dv_upd"
    Lake.registerCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, score BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='4',
        'update_mode'='merge-on-read')""")
    spark.sql(s"INSERT INTO $tbl VALUES " +
      (0 until 16).map(i => s"($i, ${i * 10})").mkString(", ")) // v1
    val dir = new File(lakeRoot, "spec_dv_upd").getPath
    val v1Files = shardIdentity(dir, 1)
    spark.sql(
      s"UPDATE $tbl SET score = score + 1 WHERE user_id IN (2, 7)") // v2
    assert(GraftLakeIO.latestVersion(dir) === 2)
    assert(GraftLakeIO.commitOperation(dir, 2) === "update")
    // EVERY base part hardlink-carries — even the touched shards'
    // (multi-part layout: the replacement rows land as NEW parts
    // after the base, so no published byte is ever copied)
    val v2Files = shardIdentity(dir, 2)
    (0 to 3).foreach(k => assert(v2Files(k) === v1Files(k),
      s"shard $k's base part must hardlink-carry"))
    Seq(2, 3).foreach { k =>
      val parts = GraftLakeIO.shardParts(
        GraftLakeIO.versionDir(dir, 2), k)
      assert(parts.length === 2,
        s"updated shard $k must carry its replacement as a new part")
    }
    Seq(0, 1).foreach(k => assert(GraftLakeIO.shardParts(
      GraftLakeIO.versionDir(dir, 2), k).length === 1))
    // old positions are dead, replacements appended AFTER base rows
    val dv2 = GraftLakeIO.readDv(GraftLakeIO.versionDir(dir, 2))
    assert(dv2(2).getCardinality === 1 && dv2(3).getCardinality === 1)
    val after = spark.sql(
      s"SELECT user_id, score FROM $tbl ORDER BY user_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === (0 until 16).map(i =>
      i.toLong -> (if (i == 2 || i == 7) i * 10 + 1L else i * 10L))
      .toMap)
    // time travel: v1 still shows the pre-update scores
    assert(spark.sql(
      s"SELECT score FROM $tbl VERSION AS OF 1 WHERE user_id = 2")
      .head.getLong(0) === 20L)
    // UPDATING THE SHARD KEY migrates the row: delete in shard 3
    // (19 % 4 would be wrong — user 3 lives in shard 3), insert
    // routed to shard 0 (20 % 4)
    spark.sql(s"UPDATE $tbl SET user_id = 20 WHERE user_id = 3") // v3
    val got = spark.sql(s"SELECT user_id, score FROM $tbl " +
      "ORDER BY user_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(3L) && got(20L) === 30L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0)
      === 16L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("merge-on-read MERGE: matched-delete, matched-update, and " +
      "not-matched-insert land as one delta commit; shards outside " +
      "the source's key set hardlink-carry") {
    val tbl = "graft_lake.lake.spec_dv_mrg"
    Lake.registerCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, score BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
        'merge_mode'='merge-on-read')""")
    spark.sql(s"INSERT INTO $tbl VALUES " +
      (0 until 16).map(i => s"($i, ${i * 10})").mkString(", ")) // v1
    val dir = new File(lakeRoot, "spec_dv_mrg").getPath
    val v1Files = shardIdentity(dir, 1)
    // source keys 12 (matched→delete), 13 (matched→update), 20 (not
    // matched→insert): touches shards 4 (12, 20) and 5 (13) only
    spark.sql("SELECT * FROM VALUES (12L, -1L), (13L, 999L), " +
      "(20L, 777L) AS src(user_id, score)")
      .createOrReplaceTempView("spec_dv_mrg_src")
    spark.sql(s"""MERGE INTO $tbl t USING spec_dv_mrg_src s
      ON t.user_id = s.user_id
      WHEN MATCHED AND s.user_id = 12 THEN DELETE
      WHEN MATCHED THEN UPDATE SET score = s.score
      WHEN NOT MATCHED THEN
        INSERT (user_id, score) VALUES (s.user_id, s.score)""") // v2
    assert(GraftLakeIO.latestVersion(dir) === 2)
    assert(GraftLakeIO.commitOperation(dir, 2) === "merge")
    val v2Files = shardIdentity(dir, 2)
    (0 until 8).filterNot(k => k == 4 || k == 5).foreach(k =>
      assert(v2Files(k) === v1Files(k),
        s"shard $k outside the source key set must hardlink-carry"))
    val dv2 = GraftLakeIO.readDv(GraftLakeIO.versionDir(dir, 2))
    assert(dv2(4).getCardinality === 1, "matched-delete position")
    assert(dv2(5).getCardinality === 1, "matched-update old position")
    val after = spark.sql(
      s"SELECT user_id, score FROM $tbl ORDER BY user_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (0 until 16).filterNot(_ == 12).map(i =>
      i.toLong -> (if (i == 13) 999L else i * 10L)).toMap +
      (20L -> 777L)
    assert(after === expect)
    // live-row count stamped into the commit: 15 survivors + 1 insert
    assert(GraftLakeIO.commitCounts(dir, 2).map(_._1) === Some(16L))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("OPTIMIZE compaction: only shards past the deleted-fraction " +
      "threshold rewrite (vectors cleared, dead rows dropped); " +
      "under-threshold shards hardlink-carry WITH their vectors; " +
      "results unchanged; a no-op compaction commits nothing") {
    val tbl = "graft_lake.lake.spec_dv_opt"
    ddlMor(tbl) // v1: users 0..15, shard k holds {k, k+4, k+8, k+12}
    val dir = new File(lakeRoot, "spec_dv_opt").getPath
    spark.sql(s"DELETE FROM $tbl WHERE user_id IN (0, 4, 8)") // v2
    spark.sql(s"DELETE FROM $tbl WHERE user_id = 1") // v3
    // shard 0 is 3/4 dead, shard 1 is 1/4 dead
    val v3Files = shardIdentity(dir, 3)
    val compacted =
      GraftLakeMaintenance.compactDeletionVectors(dir, 0.5) // v4
    assert(compacted === Seq(0))
    assert(GraftLakeIO.latestVersion(dir) === 4)
    assert(GraftLakeIO.commitOperation(dir, 4) === "optimize")
    val v4dir = GraftLakeIO.versionDir(dir, 4)
    val dv4 = GraftLakeIO.readDv(v4dir)
    assert(!dv4.contains(0), "compacted shard's vector must clear")
    assert(dv4(1).getCardinality === 1,
      "under-threshold shard keeps its vector")
    val v4Files = shardIdentity(dir, 4)
    Seq(1, 2, 3).foreach(k => assert(v4Files(k) === v3Files(k),
      s"under-threshold shard $k must hardlink-carry"))
    assert(v4Files(0) !== v3Files(0))
    // the rewritten file holds ONLY the live row (user 12)
    assert(GraftShardCodec.footer(
      GraftLakeIO.shardFile(v4dir, 0))._2 === 1L)
    val live = spark.sql(s"SELECT user_id FROM $tbl ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(live === (0L to 15L).filterNot(Set(0L, 1L, 4L, 8L)))
    // nothing left over the threshold: no commit at all
    assert(GraftLakeMaintenance.compactDeletionVectors(dir, 0.5)
      === Nil)
    assert(GraftLakeIO.latestVersion(dir) === 4)
    // the INSERT's parts and the compacted part carry the codec's
    // footer schema, name included, so they still merge: after an
    // append, shard 0 holds one part of each, and OPTIMIZE leaves one
    val footer = GraftShardCodec.messageType(spark.table(tbl).schema)
    (0 to 3).flatMap(k => GraftLakeIO.shardParts(v4dir, k))
      .foreach(f => assert(GraftShardCodec.footer(f)._1 === footer,
        f.getName))
    spark.sql(s"INSERT INTO $tbl VALUES (16, 160)") // v5, shard 0
    assert(GraftLakeIO.shardParts(GraftLakeIO.versionDir(dir, 5), 0)
      .length === 2)
    spark.sql("""CALL graft_lake.system.optimize(
      table => 'spec_dv_opt', max_parts => 1)""").collect(): Unit
    val head = GraftLakeIO.versionDir(dir, GraftLakeIO.latestVersion(dir))
    assert(GraftLakeIO.shardParts(head, 0).length === 1,
      "the INSERT part and the compacted part must merge")
    assert(spark.sql(s"SELECT user_id FROM $tbl ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq === live :+ 16L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("commit validation: position deletes against a snapshot whose " +
      "shard was since rewritten conflict instead of deleting the " +
      "wrong rows") {
    val tbl = "graft_lake.lake.spec_dv_conflict"
    ddlMor(tbl) // v1
    val dir = new File(lakeRoot, "spec_dv_conflict").getPath
    // fabricate a delta commit pinned at v1 touching shard 0...
    val bm = new org.roaringbitmap.RoaringBitmap()
    bm.add(0)
    val buf = new Array[Byte](bm.serializedSizeInBytes())
    bm.serialize(java.nio.ByteBuffer.wrap(buf))
    val t = lakeTable("spec_dv_conflict")
    val stale = new GraftLakeDvBatchWrite(t, dir, 1, "delete", None)
    // ...then land a REWRITE of shard 0 first (UPDATE via group path)
    spark.sql(s"UPDATE $tbl SET score = 0 WHERE user_id = 0") // v2
    val e = intercept[GraftLakeCommitConflict] {
      stale.commit(Array(GraftLakeDvCommit(Map(0 -> buf))))
    }
    assert(e.getMessage.contains("no longer bind"))
    // the disjoint-shard race is FINE: shard 1 was not rewritten
    val stale2 = new GraftLakeDvBatchWrite(t, dir, 1, "delete", None)
    stale2.commit(Array(GraftLakeDvCommit(Map(1 -> buf)))) // v3
    assert(GraftLakeIO.readDv(GraftLakeIO.versionDir(dir, 3))(1)
      .getCardinality === 1)
    spark.sql(s"DROP TABLE $tbl")
  }
}
