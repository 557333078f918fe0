package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import org.roaringbitmap.RoaringBitmap

/** MERGE-ON-READ row-level DML — deletion vectors through Spark's
  * DELTA row-level-operation stack (`SupportsDelta`), the Iceberg v3 /
  * Delta deletion-vector design (reference scope: Trino-on-Iceberg
  * serves `DELETE`/`UPDATE`/`MERGE` as position deletes + data files
  * when the table's `write.<command>.mode` is merge-on-read).
  *
  * Why this exists at 100 TB: the group-based path
  * ([[GraftLakeRowLevelOperation]]) rewrites every shard that holds a
  * matching row — updating 0.1% of rows in a shard re-reads and
  * re-encodes ALL of it through a full Spark job. Here Spark's
  * rewrite rules plan a `WriteDelta` instead: the target scan emits
  * each matching row's ROW ID — the `(_shard, _pos)` metadata pair,
  * where `_pos` is the row's ordinal in its shard's parquet file —
  * and only the MATCHED rows flow through the plan:
  *
  *  - `DELETE` records the positions in per-shard roaring bitmaps
  *    (`_dv.json`, [[GraftLakeIO.writeDv]]) while HARDLINK-carrying
  *    every data file untouched — zero data I/O.
  *  - `UPDATE` is split delete+reinsert
  *    ([[GraftLakeDeltaOperation.representUpdateAsDeleteAndInsert]]):
  *    the old position enters the bitmap, the replacement row stages
  *    like an ordinary append (routed by the CURRENT shard key — key
  *    updates migrate rows across shards correctly). Untouched shards
  *    hardlink; touched shards merge base+staged by raw row-group
  *    append (byte copy, no decode) — the unmatched rows never pass
  *    through the engine.
  *  - `MERGE` uses all three writer verbs: matched-update =
  *    delete+reinsert, matched-delete = position only, not-matched
  *    insert = staged append.
  *
  * Readers mask the positions at scan time
  * ([[GraftLakePartitionReader]]), so queries, time travel, CDC
  * diffs, statistics, and DESCRIBE HISTORY all see live rows only.
  * A later group-based rewrite of a shard (copy-on-write
  * UPDATE/MERGE/OVERWRITE/recluster) compacts its deletes away and
  * clears the entry ([[GraftLakeCommitter]]).
  *
  * Commit safety: positions are computed against the operation's
  * pinned snapshot, so the commit validates — per touched shard —
  * that the current head still carries the SAME file (hardlink
  * identity) before publishing; any concurrent rewrite or append of a
  * DV-touched shard raises [[GraftLakeCommitConflict]] instead of
  * deleting the wrong rows (Iceberg's position-delete conflict rule).
  * The validated head is then pinned as the commit's CAS base
  * (`baseVOverride`), closing the validate→publish window — a racing
  * commit in between fails the CAS and this commit revalidates
  * against the new head. Concurrent delta commits on DISJOINT shards
  * both land. */
class GraftLakeDeltaOperation(table: GraftLakeTable,
    dataDir: String, info: RowLevelOperationInfo)
    extends RowLevelOperation with SupportsDelta {

  /** Snapshot isolation for the whole operation (scan + commit
    * validation), like the group-based op. */
  private[sources] val snapshotV = GraftLakeIO.latestVersion(dataDir)

  override def command(): RowLevelOperation.Command = info.command()

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(table.schema(), dataDir, Some(snapshotV),
      None, table.shardKey, table.nShards)

  /** The row id IS the physical position: shard file + ordinal. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_shard"), Expressions.column("_pos"))

  /** Updates arrive as delete(id) + reinsert(row): the replacement
    * row re-routes through the shard key like any insert, so key
    * updates migrate rows to their new shard instead of corrupting
    * the old one. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder = {
    val li = info
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new GraftLakeDvBatchWrite(table, dataDir, snapshotV,
            command().name().toLowerCase(java.util.Locale.ROOT),
            Some(li))
      }
    }
  }

  override def description(): String =
    s"GraftLakeDeltaOperation(${command()}, ${table.name()}, " +
      s"snapshot=v$snapshotV, merge-on-read)"
}

/** One task's delta: shard -> serialized deleted-position bitmap,
  * plus the staged parquet parts its inserted rows landed in. */
case class GraftLakeDvCommit(dvs: Map[Int, Array[Byte]],
    parts: Seq[GraftLakeCommit] = Nil)
    extends WriterCommitMessage

case class GraftLakeDvWriterFactory(shardIdx: Int, posIdx: Int,
    stagePath: String, writeSchema: StructType, shardKey: String,
    nShards: Int, shardWidth: Long, bloomCols: Seq[String] = Nil)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new GraftLakeDvWriter(shardIdx, posIdx, stagePath, writeSchema,
      shardKey, nShards, shardWidth, partitionId, taskId, bloomCols)
}

/** Accumulates deleted positions per shard — O(live bitmap) memory,
  * no deleted-row payloads ever buffered or shuffled — and stages
  * inserted/replacement rows through the ordinary shard-routed
  * parquet writer (only created if a row actually arrives: a pure
  * DELETE stages nothing). */
class GraftLakeDvWriter(shardIdx: Int, posIdx: Int,
    stagePath: String, writeSchema: StructType, shardKey: String,
    nShards: Int, shardWidth: Long, partitionId: Int, taskId: Long,
    bloomCols: Seq[String] = Nil)
    extends DeltaWriter[InternalRow] {
  private val dvs = scala.collection.mutable.Map[Int, RoaringBitmap]()
  private var dataWriter: GraftLakeDataWriter = null

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val shard = id.getInt(shardIdx)
    val pos = id.getLong(posIdx)
    require(pos >= 0L && pos <= Int.MaxValue.toLong,
      s"deletion-vector position $pos out of the 32-bit bitmap range")
    dvs.getOrElseUpdate(shard, new RoaringBitmap()).add(pos.toInt)
  }

  override def insert(row: InternalRow): Unit = {
    if (dataWriter == null) {
      new java.io.File(stagePath).mkdirs()
      dataWriter = new GraftLakeDataWriter(stagePath, writeSchema,
        shardKey, nShards, shardWidth, partitionId, taskId, bloomCols)
    }
    dataWriter.write(row)
  }

  /** Split-update second half: the replacement row is an insert. */
  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "updates are represented as delete + reinsert")

  override def commit(): WriterCommitMessage = {
    val staged =
      if (dataWriter == null) Nil
      else dataWriter.commit() match {
        case GraftLakeTaskCommit(parts) => parts
        case other => throw new IllegalStateException(
          s"unexpected data-writer commit $other")
      }
    GraftLakeDvCommit(dvs.view.mapValues { bm =>
      bm.runOptimize()
      val buf = new Array[Byte](bm.serializedSizeInBytes())
      bm.serialize(java.nio.ByteBuffer.wrap(buf))
      buf
    }.toMap, staged)
  }

  override def abort(): Unit =
    if (dataWriter != null) dataWriter.abort()
  override def close(): Unit =
    if (dataWriter != null) dataWriter.close()
}

/** The delta commit: position bitmaps + staged replacement rows land
  * as ONE snapshot through the shared commit core
  * ([[GraftLakeCommitter.commitStaged]] with `extraDeletes`). `info`
  * is None only in spec-level direct constructions. */
class GraftLakeDvBatchWrite(table: GraftLakeTable, dataDir: String,
    snapshotV: Int, operation: String,
    info: Option[LogicalWriteInfo]) extends DeltaBatchWrite {

  private val queryId =
    info.map(_.queryId()).getOrElse(
      java.util.UUID.randomUUID().toString)
  private def stageDir =
    new java.io.File(dataDir, s"_stage_${queryId}_delta")

  override def createBatchWriterFactory(
      physical: PhysicalWriteInfo): DeltaWriterFactory = {
    // field positions of the row id columns as Spark will deliver
    // them (rowIdSchema when present; the declared order otherwise)
    val idSchema: StructType = {
      val opt = info.map(_.rowIdSchema())
      if (opt.exists(_.isPresent)) opt.get.get()
      else StructType(Seq(
        org.apache.spark.sql.types.StructField("_shard",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("_pos",
          org.apache.spark.sql.types.LongType)))
    }
    // inserted/replacement rows arrive in the logical write schema's
    // field order — the stage writer maps them by that layout
    val rowSchema = info.map(_.schema()).getOrElse(table.schema())
    GraftLakeDvWriterFactory(idSchema.fieldIndex("_shard"),
      idSchema.fieldIndex("_pos"), stageDir.getPath, rowSchema,
      table.shardKey, table.nShards, table.shardWidth,
      table.bloomCols)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    try {
      val newDeletes =
        scala.collection.mutable.Map[Int, RoaringBitmap]()
      val stagedParts = Seq.newBuilder[GraftLakeCommit]
      messages.foreach {
        case GraftLakeDvCommit(dvs, parts) =>
          dvs.foreach { case (k, bytes) =>
            val bm = new RoaringBitmap()
            bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
            newDeletes.get(k) match {
              case Some(acc) => acc.or(bm)
              case None => newDeletes.update(k, bm)
            }
          }
          stagedParts ++= parts
        case other => throw new IllegalStateException(
          s"unexpected commit message $other")
      }
      val staged = stagedParts.result().groupBy(_.shard)
      if (newDeletes.isEmpty && staged.isEmpty)
        return // DML matched nothing and inserted nothing: no commit
      val snapDir = GraftLakeIO.versionDir(dataDir, snapshotV)
      var attempts = 0
      while (true) {
        val headV = GraftLakeIO.latestVersion(dataDir)
        val headDir = GraftLakeIO.versionDir(dataDir, headV)
        // position validity: a DV-touched shard's snapshot parts must
        // still be an identity PREFIX of the head's parts — positions
        // are concatenation ordinals, so a concurrent APPEND (new
        // parts after the prefix) leaves every recorded ordinal
        // binding the same row and COMMUTES with this commit, while a
        // rewrite/compaction (prefix broken) means the ordinals may
        // name the wrong rows and must conflict
        newDeletes.keys.foreach { k =>
          val snap = GraftLakeIO.shardParts(snapDir, k)
          val head = GraftLakeIO.shardParts(headDir, k)
          val prefixOk = snap.nonEmpty && head.length >= snap.length &&
            snap.zip(head).forall { case (a, b) =>
              java.nio.file.Files.isSameFile(a.toPath, b.toPath)
            }
          if (!prefixOk)
            throw new GraftLakeCommitConflict(
              s"$dataDir: shard $k was rewritten between snapshot " +
                s"v$snapshotV and head v$headV — the position " +
                "deletes no longer bind; re-run the statement " +
                "against the new head")
        }
        try {
          // the shared commit core does the rest: hardlink-carry of
          // untouched shards, raw row-group append of staged parts,
          // zone-map/routing/txn carry, DV carry ∪ newDeletes, and
          // the CAS pinned at the JUST-VALIDATED head
          GraftLakeCommitter.commitStaged(table, dataDir,
            table.schema(), truncateFirst = false, op = None, staged,
            operationOverride = Some(operation), txnUpdate = None,
            extraDeletes = newDeletes.toMap,
            baseVOverride = Some(headV))
          return
        } catch {
          case _: GraftLakeCommitConflict if attempts < 5 =>
            // CAS loss (commitStaged cleans its build): revalidate
            // against the new head and retry
            attempts += 1
        }
      }
    } finally Memo.rmTree(stageDir)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Memo.rmTree(stageDir)
}

/** Table-maintenance operations over the deletion-vector state — the
  * `OPTIMIZE` / Iceberg `rewrite_data_files`-with-delete-threshold
  * story. Merge-on-read trades write cost for a per-read masking tax
  * that grows with the deleted fraction; compaction pays the rewrite
  * back once the tax is worth it. */
object GraftLakeMaintenance {

  /** Rewrite every shard whose DELETED FRACTION (vector cardinality /
    * file rows) is at least `threshold`, dropping the dead positions
    * and clearing the shard's vector entry; shards under the
    * threshold hardlink-carry WITH their vectors. The rewrite is a
    * straight Group copy under the FILE's own schema — no value
    * conversion, schema-evolution state preserved verbatim — run
    * across a bounded pool. Sidecars carry verbatim: base zone-map
    * ranges bound a superset of the surviving rows, so they stay
    * sound (just over-approximate until the shard's next real
    * rewrite); routing provenance and txn watermarks are untouched.
    * Commits as operation `optimize` with CAS retry; returns the
    * compacted shard ids (empty when nothing crossed the
    * threshold, in which case NO commit happens). */
  def compactDeletionVectors(dataDir: String,
      threshold: Double = 0.1): Seq[Int] = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1], got $threshold")
    var attempts = 0
    while (true) {
      val headV = GraftLakeIO.latestVersion(dataDir)
      val headDir = GraftLakeIO.versionDir(dataDir, headV)
      val dv = GraftLakeIO.readDv(headDir)
      val headParts = GraftLakeIO.allShardParts(headDir)
      // equality-delete shards resolve UNCONDITIONALLY: their dead
      // fraction is unknowable from metadata (the whole reason agg
      // pushdown refuses on them), so OPTIMIZE is the reclaim point —
      // the rewrite applies BOTH masks (positions + key bounds) and
      // clears both sidecars, restoring exact commit-metadata counts
      // and metadata-only aggregates for the table
      val eqDel = GraftLakeIO.readEqDel(headDir)
      val targets = (dv.toSeq.collect {
        case (k, bm) if !eqDel.contains(k) && {
          val rows = headParts.getOrElse(k, Nil).iterator
            .map(f => GraftShardCodec.footer(f)._2).sum
          rows > 0L && bm.getCardinality.toDouble / rows >= threshold
        } => k
      } ++ eqDel.keys).distinct.sorted
      // the key columns for the equality masks, from the table
      // descriptor beside the data dir (transforms cannot carry
      // equality deletes, so the raw parse suffices); `upsertKeys`
      // when declared (composite), the shard key otherwise
      lazy val keyCols: Seq[String] = {
        val d = new java.io.File(dataDir)
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val doc = om.readTree(java.nio.file.Files.readString(
          new java.io.File(d.getParentFile,
            s"${d.getName}.lake.json").toPath))
        Option(doc.get("upsertKeys")).map(_.asText())
          .filter(_.nonEmpty).fold(Seq(
            GraftLakeTransform.parse(doc.get("shardKey").asText())._2))(
            _.split(",").toSeq)
      }
      if (targets.isEmpty) return Nil
      val build = GraftLakeIO.newBuildDir(dataDir)
      try {
        val targetFiles = targets
          .flatMap(k => headParts.getOrElse(k, Nil))
          .map(_.getName).toSet
        Option(headDir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter { f =>
            f.isFile && f.getName != "_commit" &&
              f.getName != GraftLakeIO.dvFile(headDir).getName &&
              f.getName != GraftLakeIO.eqDelFile(headDir).getName &&
              !targetFiles.contains(f.getName)
          }
          .foreach { f =>
            val dst = new java.io.File(build, f.getName)
            try java.nio.file.Files.createLink(dst.toPath, f.toPath): Unit
            catch {
              case _: UnsupportedOperationException |
                  _: java.io.IOException =>
                java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
            }
          }
        // each PART rewrites under its OWN schema (no value
        // conversion, evolution state preserved): the shard's vector
        // positions are concatenation ordinals, sliced per part by
        // the running ordinal base; equality-dead rows (key at
        // ordinal < bound — the reader's mask, applied here once and
        // for all) drop alongside them; a part left with zero live
        // rows is dropped entirely (seq numbers legitimately go
        // sparse)
        val rewrites = targets.map { k => () =>
          val mask = dv.getOrElse(k, new org.roaringbitmap.RoaringBitmap)
          val eq = eqDel.getOrElse(k, Map.empty[String, Long])
          var ordBase = 0L
          GraftLakeIO.shardParts(headDir, k).foreach { src =>
            val (fileSchema, rows) = GraftShardCodec.footer(src)
            val eqIdxs: Array[Int] =
              if (eq.isEmpty) null
              else keyCols.map(fileSchema.getFieldIndex).toArray
            def eqDead(g: org.apache.parquet.example.data.Group,
                ord: Long): Boolean =
              eqIdxs != null && {
                val parts = eqIdxs.map(i =>
                  GraftLakeIO.eqKeyPart(GraftShardCodec.rawValue(g, i)))
                !parts.contains(null) &&
                  eq.get(GraftLakeIO.encodeEqKey(parts.toSeq))
                    .exists(ord < _)
              }
            val reader = GraftShardCodec.openReader(src, fileSchema)
            var writer: org.apache.parquet.hadoop.ParquetWriter[
              org.apache.parquet.example.data.Group] = null
            try {
              var ord = ordBase
              var g = reader.read()
              while (g != null) {
                if ((ord > Int.MaxValue || !mask.contains(ord.toInt)) &&
                  !eqDead(g, ord)) {
                  if (writer == null) // open lazily: all-dead parts drop
                    writer = GraftShardCodec.openWriter(
                      new java.io.File(build, src.getName), fileSchema)
                  writer.write(g)
                }
                ord += 1
                g = reader.read()
              }
            } finally {
              reader.close()
              if (writer != null) writer.close()
            }
            ordBase += rows
          }
        }
        if (rewrites.lengthCompare(2) < 0) rewrites.foreach(_())
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(rewrites.length,
              Runtime.getRuntime.availableProcessors()))
          try {
            val futures = rewrites.map(r =>
              pool.submit(new java.util.concurrent.Callable[Unit] {
                override def call(): Unit = r()
              }))
            futures.foreach(_.get())
          } finally pool.shutdown()
        }
        GraftLakeIO.writeDv(build, dv -- targets)
        GraftLakeIO.writeEqDel(build, eqDel -- targets)
        GraftLakeIO.writeCommitMeta(build,
          GraftLakeIO.nextCommitStamp(dataDir, headV), "optimize")
        GraftLakeIO.commitVersion(dataDir, headV, build): Unit
        return targets
      } catch {
        case _: GraftLakeCommitConflict if attempts < 5 =>
          attempts += 1 // lost the CAS race: re-plan on the new head
        case e: Throwable =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          if (build.exists()) rm(build)
          throw e
      }
    }
    Nil // unreachable
  }

  /** SORT-REWRITE — Iceberg `rewrite_data_files(strategy => 'sort')`:
    * rewrite each shard's LIVE rows (both masks applied, exactly like
    * [[compactDeletionVectors]]) into ONE part ordered ascending in
    * the plain shard key, then record sorted provenance — so a
    * clustered table fragmented by appends gets its zero-exchange
    * ZERO-SORT sort-merge joins back, and a plain hash-sharded table
    * can be converted to the sorted layout in place. Skips shards
    * already (sorted ∧ single-part) and shards whose parts carry
    * mixed evolution schemas (one output file has one schema; those
    * sort on their next full rewrite — skipped loudly in the return
    * by absence, never wrongly claimed). Hidden-transform tables
    * refuse: their routing order is not the column order, and the
    * scan never claims ordering for them anyway. DV and
    * equality-delete entries for rewritten shards RESOLVE (only live
    * rows are written); zone maps/blooms carry (sound supersets).
    * At 100 TB this is the single-node twin of a cluster sort-rewrite
    * job: per-shard work, embarrassingly parallel, one shard's rows
    * in memory at a time per pool thread. Commits as `optimize` with
    * CAS retry; returns the rewritten shard ids. */
  def rewriteSorted(dataDir: String): Seq[Int] = {
    val d = new java.io.File(dataDir)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = om.readTree(java.nio.file.Files.readString(
      new java.io.File(d.getParentFile,
        s"${d.getName}.lake.json").toPath))
    val rawKey = doc.get("shardKey").asText()
    val (transform, keyCol) = GraftLakeTransform.parse(rawKey)
    require(transform.isEmpty,
      s"rewrite_sorted: hidden-transform tables have no column sort " +
        s"order to restore (shard_key=$rawKey)")
    val keyCols: Seq[String] =
      Option(doc.get("upsertKeys")).map(_.asText())
        .filter(_.nonEmpty).fold(Seq(keyCol))(_.split(",").toSeq)
    var attempts = 0
    while (true) {
      val headV = GraftLakeIO.latestVersion(dataDir)
      val headDir = GraftLakeIO.versionDir(dataDir, headV)
      val dv = GraftLakeIO.readDv(headDir)
      val eqDel = GraftLakeIO.readEqDel(headDir)
      val headParts = GraftLakeIO.allShardParts(headDir)
      val sortedBase = GraftLakeIO.readSorted(headDir)
      val targets = headParts.collect {
        case (k, parts)
            if !(sortedBase.contains(k) &&
              parts.lengthCompare(1) == 0) &&
              parts.map(f => GraftShardCodec.footer(f)._1)
                .distinct.lengthCompare(1) == 0 => k
      }.toSeq.sorted
      if (targets.isEmpty) return Nil
      val build = GraftLakeIO.newBuildDir(dataDir)
      try {
        val targetFiles = targets
          .flatMap(k => headParts.getOrElse(k, Nil))
          .map(_.getName).toSet
        Option(headDir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter { f =>
            f.isFile && f.getName != "_commit" &&
              f.getName != GraftLakeIO.dvFile(headDir).getName &&
              f.getName != GraftLakeIO.eqDelFile(headDir).getName &&
              f.getName != GraftLakeIO.sortedFile(headDir).getName &&
              !targetFiles.contains(f.getName)
          }
          .foreach { f =>
            val dst = new java.io.File(build, f.getName)
            try java.nio.file.Files.createLink(dst.toPath, f.toPath): Unit
            catch {
              case _: UnsupportedOperationException |
                  _: java.io.IOException =>
                java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
            }
          }
        val rewrites = targets.map { k => () =>
          val mask = dv.getOrElse(k, new org.roaringbitmap.RoaringBitmap)
          val eq = eqDel.getOrElse(k, Map.empty[String, Long])
          val parts = GraftLakeIO.shardParts(headDir, k)
          val fileSchema = GraftShardCodec.footer(parts.head)._1
          val keyIdx = fileSchema.getFieldIndex(keyCol)
          val eqIdxs: Array[Int] =
            if (eq.isEmpty) null
            else keyCols.map(fileSchema.getFieldIndex).toArray
          def eqDead(g: org.apache.parquet.example.data.Group,
              ord: Long): Boolean =
            eqIdxs != null && {
              val ps = eqIdxs.map(i =>
                GraftLakeIO.eqKeyPart(GraftShardCodec.rawValue(g, i)))
              !ps.contains(null) &&
                eq.get(GraftLakeIO.encodeEqKey(ps.toSeq))
                  .exists(ord < _)
            }
          val live = Seq.newBuilder[
            (Long, org.apache.parquet.example.data.Group)]
          var ordBase = 0L
          parts.foreach { src =>
            val rows = GraftShardCodec.footer(src)._2
            val reader = GraftShardCodec.openReader(src, fileSchema)
            try {
              var ord = ordBase
              var g = reader.read()
              while (g != null) {
                if ((ord > Int.MaxValue || !mask.contains(ord.toInt)) &&
                  !eqDead(g, ord)) {
                  val key = GraftShardCodec.rawValue(g, keyIdx) match {
                    case l: java.lang.Long => l.longValue
                    case i: java.lang.Integer => i.longValue
                    case _ => Long.MinValue // null keys sort first
                  }
                  live += key -> g
                }
                ord += 1
                g = reader.read()
              }
            } finally reader.close()
            ordBase += rows
          }
          val sorted = live.result().sortBy(_._1) // stable within key
          if (sorted.nonEmpty) {
            val writer = GraftShardCodec.openWriter(
              new java.io.File(build,
                GraftLakeIO.shardFile(build, k).getName), fileSchema)
            try sorted.foreach { case (_, g) => writer.write(g) }
            finally writer.close()
          }
        }
        if (rewrites.lengthCompare(2) < 0) rewrites.foreach(_())
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(rewrites.length,
              Runtime.getRuntime.availableProcessors()))
          try {
            val futures = rewrites.map(r =>
              pool.submit(new java.util.concurrent.Callable[Unit] {
                override def call(): Unit = r()
              }))
            futures.foreach(_.get())
          } finally pool.shutdown()
        }
        GraftLakeIO.writeDv(build, dv -- targets)
        GraftLakeIO.writeEqDel(build, eqDel -- targets)
        GraftLakeIO.writeSorted(build, sortedBase ++ targets)
        GraftLakeIO.writeCommitMeta(build,
          GraftLakeIO.nextCommitStamp(dataDir, headV), "optimize")
        GraftLakeIO.commitVersion(dataDir, headV, build): Unit
        return targets
      } catch {
        case _: GraftLakeCommitConflict if attempts < 5 =>
          attempts += 1 // lost the CAS race: re-plan on the new head
        case e: Throwable =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          if (build.exists()) rm(build)
          throw e
      }
    }
    Nil // unreachable
  }

  /** PART-COUNT compaction — the file-compaction half of `OPTIMIZE`
    * (Iceberg `rewrite_data_files` bin-packing): shards that
    * accumulated more than `maxParts` part files from append commits
    * merge ADJACENT runs of identical-schema parts into one file by
    * raw row-group concatenation (`ParquetFileWriter.appendFile` —
    * byte movement, zero decode); schema boundaries stay part
    * boundaries (evolution state preserved, still no re-encode
    * anywhere). Raw append preserves row order, so the shard's
    * CONCATENATION sequence — and with it `_pos` row ids and every
    * deletion-vector position — is untouched: the `_dv.json` sidecar
    * carries verbatim. A merged run takes its FIRST part's seq (the
    * numeric order, and thus the read order, is preserved; seq
    * numbers go sparse). Commits as `optimize` with CAS retry;
    * returns the compacted shard ids. */
  def compactParts(dataDir: String, maxParts: Int = 4): Seq[Int] = {
    require(maxParts >= 1, s"maxParts must be >= 1, got $maxParts")
    var attempts = 0
    while (true) {
      val headV = GraftLakeIO.latestVersion(dataDir)
      val headDir = GraftLakeIO.versionDir(dataDir, headV)
      val partsAll = GraftLakeIO.allShardParts(headDir)
      // equality-delete shards need NO exemption here: raw row-group
      // append preserves every row's concatenation ordinal, so the
      // key->bound masks keep binding exactly (unlike a live-rows
      // rewrite, which compactDeletionVectors handles by RESOLVING
      // the masks)
      val targets = partsAll.collect {
        case (k, parts) if parts.lengthCompare(maxParts) > 0 => k
      }.toSeq.sorted
      if (targets.isEmpty) return Nil
      val build = GraftLakeIO.newBuildDir(dataDir)
      try {
        val targetFiles = targets
          .flatMap(k => partsAll.getOrElse(k, Nil))
          .map(_.getName).toSet
        Option(headDir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName != "_commit" &&
            !targetFiles.contains(f.getName))
          .foreach { f =>
            val dst = new java.io.File(build, f.getName)
            try java.nio.file.Files.createLink(dst.toPath, f.toPath): Unit
            catch {
              case _: UnsupportedOperationException |
                  _: java.io.IOException =>
                java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
            }
          }
        val merges = targets.map { k => () =>
          val parts = partsAll(k)
          // adjacent identical-schema runs (footer schema equality)
          val runs = parts.foldLeft(
            List.empty[List[(java.io.File,
              org.apache.parquet.schema.MessageType)]]) { (acc, f) =>
            val s = GraftShardCodec.footer(f)._1
            acc match {
              case run :: rest if run.head._2 == s =>
                (run :+ (f -> s)) :: rest
              case _ => List(f -> s) :: acc
            }
          }.reverse
          runs.foreach { run =>
            val dst = new java.io.File(build, run.head._1.getName)
            if (run.lengthCompare(1) == 0)
              try java.nio.file.Files.createLink(dst.toPath,
                run.head._1.toPath): Unit
              catch {
                case _: UnsupportedOperationException |
                    _: java.io.IOException =>
                  java.nio.file.Files.copy(run.head._1.toPath,
                    dst.toPath): Unit
              }
            else GraftShardCodec.mergeShardFiles(dst, run.head._2,
              run.map(_._1))
          }
        }
        if (merges.lengthCompare(2) < 0) merges.foreach(_())
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(merges.length,
              Runtime.getRuntime.availableProcessors()))
          try {
            val futures = merges.map(m =>
              pool.submit(new java.util.concurrent.Callable[Unit] {
                override def call(): Unit = m()
              }))
            futures.foreach(_.get())
          } finally pool.shutdown()
        }
        GraftLakeIO.writeCommitMeta(build,
          GraftLakeIO.nextCommitStamp(dataDir, headV), "optimize")
        GraftLakeIO.commitVersion(dataDir, headV, build): Unit
        return targets
      } catch {
        case _: GraftLakeCommitConflict if attempts < 5 =>
          attempts += 1 // lost the CAS race: re-plan on the new head
        case e: Throwable =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          if (build.exists()) rm(build)
          throw e
      }
    }
    Nil // unreachable
  }
}
