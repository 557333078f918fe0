package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DateType, IntegerType, StructType}
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
  * ([[GraftLakeColumnarPartitionReader]]), so queries, time travel, CDC
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
  * The validated head is the commit's CAS base, closing the
  * validate→publish window — a racing commit in between fails the
  * CAS and this commit revalidates against the new head. Concurrent delta commits on DISJOINT shards
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
      // position validity, checked against each attempt's head: a
      // DV-touched shard's snapshot parts must still be an identity
      // PREFIX of the head's parts — positions are concatenation
      // ordinals, so a concurrent APPEND (new parts after the prefix)
      // leaves every recorded ordinal binding the same row and
      // COMMUTES with this commit, while a rewrite/compaction (prefix
      // broken) means the ordinals may name the wrong rows and must
      // conflict. The shared commit core does the rest: hardlink-carry
      // of untouched shards, raw row-group append of staged parts,
      // zone-map/routing/txn carry, DV carry ∪ newDeletes, and the CAS
      // at the just-validated head.
      GraftLakeCommitter.commitStaged(table, dataDir, table.schema(),
        truncateFirst = false, op = None, staged,
        operationOverride = Some(operation), txnUpdate = None,
        pinned = None, extraDeletes = newDeletes.toMap,
        admit = { headV =>
          val headDir = GraftLakeIO.versionDir(dataDir, headV)
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
          true
        })
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
    * threshold hardlink-carry WITH their vectors. Each part's live
    * rows are read by the lake reader and rewritten under the FILE's
    * own schema — schema-evolution state preserved verbatim — across a
    * bounded pool. Sidecars carry verbatim: base zone-map
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
    // the key columns for the equality masks (transforms cannot carry
    // equality deletes, so the raw parse suffices)
    lazy val keyCols = tableKeys(dataDir)._2
    GraftLakeIO.commitSnapshot(dataDir, None, "optimize") {
        (headV, build) =>
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
      Option.when(targets.nonEmpty) {
        GraftLakeIO.linkSnapshot(headDir, build,
          targets.flatMap(k => headParts.getOrElse(k, Nil))
            .map(_.getName).toSet + GraftLakeIO.dvFile(headDir).getName +
            GraftLakeIO.eqDelFile(headDir).getName)
        // each PART rewrites under its OWN schema (evolution state
        // preserved), read alone at its running ordinal base so the
        // shard's vector positions and equality bounds (concatenation
        // ordinals) mask it exactly as a scan does — applied here once
        // and for all; a part left with zero live rows is dropped
        // entirely (seq numbers legitimately go sparse)
        GraftLakeIO.runBounded(targets.map { k => () =>
          val dvB = GraftLakeIO.dvBytes(dv, k)
          val eq = eqDel.getOrElse(k, Map.empty[String, Long])
          var ordBase = 0L
          GraftLakeIO.shardParts(headDir, k).foreach { src =>
            val (fileSchema, rows) = GraftShardCodec.footer(src)
            val schema = GraftShardCodec.sparkSchema(fileSchema)
            val live = liveRows(Seq(src), k, schema, dvB, Seq(ordBase),
              eq, keyCols)
            var writer: org.apache.parquet.hadoop.ParquetWriter[
              InternalRow] = null
            try live.foreach { r =>
              if (writer == null) // open lazily: all-dead parts drop
                writer = GraftShardCodec.openWriter(
                  new java.io.File(build, src.getName), schema)
              writer.write(r)
            } finally {
              live.close()
              if (writer != null) writer.close()
            }
            ordBase += rows
          }
        })
        GraftLakeIO.writeDv(build, dv -- targets)
        GraftLakeIO.writeEqDel(build, eqDel -- targets)
        targets
      }
    }.getOrElse(Nil)
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
    val (rawKey, keyCols) = tableKeys(dataDir)
    val (transform, keyCol) = GraftLakeTransform.parse(rawKey)
    require(transform.isEmpty,
      s"rewrite_sorted: hidden-transform tables have no column sort " +
        s"order to restore (shard_key=$rawKey)")
    GraftLakeIO.commitSnapshot(dataDir, None, "optimize") {
        (headV, build) =>
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
      Option.when(targets.nonEmpty) {
        GraftLakeIO.linkSnapshot(headDir, build,
          targets.flatMap(k => headParts.getOrElse(k, Nil))
            .map(_.getName).toSet ++ Set(GraftLakeIO.dvFile(headDir),
              GraftLakeIO.eqDelFile(headDir),
              GraftLakeIO.sortedFile(headDir)).map(_.getName))
        GraftLakeIO.runBounded(targets.map { k => () =>
          val parts = GraftLakeIO.shardParts(headDir, k)
          val fileSchema = GraftShardCodec.footer(parts.head)._1
          val schema = GraftShardCodec.sparkSchema(fileSchema)
          val keyIdx = schema.fieldIndex(keyCol)
          val live = liveRows(parts, k, schema, GraftLakeIO.dvBytes(dv, k),
            Nil, eqDel.getOrElse(k, Map.empty[String, Long]), keyCols)
          val sorted = // stable within key
            try live.map { r =>
              val key =
                if (r.isNullAt(keyIdx)) Long.MinValue // nulls sort first
                else schema(keyIdx).dataType match {
                  case IntegerType | DateType => r.getInt(keyIdx).toLong
                  case _ => r.getLong(keyIdx)
                }
              key -> r.copy()
            }.toVector.sortBy(_._1)
            finally live.close()
          if (sorted.nonEmpty) {
            val writer = GraftShardCodec.openWriter(
              GraftLakeIO.shardFile(build, k), schema)
            try sorted.foreach { case (_, r) => writer.write(r) }
            finally writer.close()
          }
        })
        GraftLakeIO.writeDv(build, dv -- targets)
        GraftLakeIO.writeEqDel(build, eqDel -- targets)
        GraftLakeIO.writeSorted(build, sortedBase ++ targets)
        targets
      }
    }.getOrElse(Nil)
  }

  /** PART-COUNT compaction — the file-compaction half of `OPTIMIZE`
    * (Iceberg `rewrite_data_files` bin-packing): shards that
    * accumulated more than `maxParts` part files from append commits
    * merge ADJACENT runs of identical-schema parts into one file by
    * raw row-group concatenation (`GraftShardCodec.mergeShardFiles` —
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
    GraftLakeIO.commitSnapshot(dataDir, None, "optimize") {
        (headV, build) =>
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
      Option.when(targets.nonEmpty) {
        GraftLakeIO.linkSnapshot(headDir, build,
          targets.flatMap(k => partsAll.getOrElse(k, Nil))
            .map(_.getName).toSet)
        GraftLakeIO.runBounded(targets.map { k => () =>
          // adjacent identical-schema runs (footer schema equality)
          val runs = partsAll(k).foldLeft(
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
              GraftLakeIO.linkOrCopy(run.head._1, dst)
            else GraftShardCodec.mergeShardFiles(dst, run.head._2,
              run.map(_._1))
          }
        })
        targets
      }
    }.getOrElse(Nil)
  }

  /** The live rows of one shard's `parts` (both masks applied by the
    * lake reader, ordinals from `ordBases` when given), laid out as
    * `schema`. */
  private def liveRows(parts: Seq[java.io.File], shard: Int,
      schema: StructType, dvB: Array[Byte], ordBases: Seq[Long],
      eq: Map[String, Long], keyCols: => Seq[String])
      : Iterator[InternalRow] with AutoCloseable =
    GraftLakeColumnarPartitionReader.rows(
      new GraftLakeColumnarPartitionReader(parts.map(_.getPath), shard,
        schema, dvB, ordBases, eq, if (eq.isEmpty) Nil else keyCols))

  /** The table's raw `shardKey` and its equality-delete key columns
    * (`upsertKeys` when declared — composite — the shard key's column
    * otherwise), from the descriptor beside the data dir. */
  private def tableKeys(dataDir: String): (String, Seq[String]) = {
    val d = new java.io.File(dataDir)
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(new java.io.File(d.getParentFile,
        s"${d.getName}.lake.json").toPath))
    val rawKey = doc.get("shardKey").asText()
    (rawKey, Option(doc.get("upsertKeys")).map(_.asText())
      .filter(_.nonEmpty)
      .fold(Seq(GraftLakeTransform.parse(rawKey)._2))(_.split(",").toSeq))
  }
}
