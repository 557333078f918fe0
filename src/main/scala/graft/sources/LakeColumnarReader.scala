package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector,
  OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** VECTORIZED (columnar-batch) lake scan path — the same shard part
  * list, projection, deletion-vector and equality-delete semantics as
  * [[GraftLakePartitionReader]], decoded through Spark's OWN
  * vectorized parquet reader instead of row-by-row parquet-mr Groups.
  *
  * Why this is the round-14 scan lever (verdict #2): the Group API
  * materializes every value as a boxed JVM object and every row as a
  * heap record BEFORE Spark sees it, so a wide lake scan spends its
  * time in allocation and virtual dispatch. The vectorized reader
  * decodes whole column pages into [[ColumnarBatch]] vectors (the
  * engine Spark's native parquet source uses), and the plan consumes
  * them through `ColumnarToRow` inside whole-stage codegen — per-batch
  * amortized decode, no per-row boxing. At 100 TB the scan IS the
  * query for most of the registry; this is the difference between a
  * connector that demos and one that competes with the built-in
  * source.
  *
  * Semantics preserved exactly (LakeDeleteVectorSpec/LakeEqUpsertSpec
  * re-stamp them over this path):
  *
  *  - PER-PART PROJECTION: each part decodes only the requested
  *    columns present in its own footer schema; columns ADDed after
  *    the part was written are served as constant-NULL vectors —
  *    schema evolution without rewrites, now without per-row work
  *    either.
  *  - `_shard` is synthesized as a [[ConstantColumnVector]] (it is
  *    routing metadata, never stored).
  *  - MASKING AS A SELECTION VECTOR: deletion-vector positions
  *    (concatenation ordinals) and equality-deleted key versions
  *    (`key at ord < bound(key)`) select the LIVE rows of each decoded
  *    batch; a fully-live batch passes through zero-copy, a masked
  *    batch compacts the survivors into reused on-heap vectors. The
  *    equality key is forced into the decode set even when projected
  *    out, exactly like the row path.
  *
  * LIMIT-pushed scans (round 15) take the columnar path too, with
  * BATCH-grained early stop: the reader quits after the batch that
  * crosses `limit` live rows (the pushdown is declared partial —
  * `isPartiallyPushed` — so Spark's own Local/GlobalLimit trims the
  * overshoot inside that final 4k-row batch). A `LIMIT k` over a wide
  * 100 TB table thus keeps the vectorized decode win AND stops after
  * ~k rows per shard.
  *
  * Row-path fallbacks (chosen PER SCAN, never per partition — Spark
  * requires every partition of one scan to agree on row vs columnar):
  * `_pos`-bearing reads (row-level DML needs the stable row id) and
  * projection-empty reads (`count(*)` — the row path serves those
  * from footer counts without opening data pages at all, which beats
  * any decode). */
class GraftLakeColumnarPartitionReader(paths: Seq[String], shard: Int,
    required: StructType, dvBytes: Array[Byte] = null,
    ordBases: Seq[Long] = Nil,
    eqDel: Map[String, Long] = Map.empty, eqKeys: Seq[String] = Nil,
    limit: Int = -1)
    extends PartitionReader[ColumnarBatch] {

  require(!required.fieldNames.contains("_pos"),
    "columnar lake reads never serve _pos — the scan must have " +
      "planned the row path for row-level operations")
  require(eqDel.isEmpty || eqKeys.nonEmpty,
    s"shard $shard carries equality deletes but the scan has no key " +
      "columns to mask by — refusing rather than serving dead rows")
  paths.foreach { p =>
    if (!new java.io.File(p).exists())
      throw new java.io.FileNotFoundException(
        s"lake shard part $p vanished after planning — the snapshot " +
          "was expired or deleted while being read")
  }

  private val Capacity = 4096
  private val dv = GraftLakeIO.dvOf(dvBytes)

  // requested data columns in a stable order: `required` minus the
  // synthesized `_shard`, plus the equality key when masking needs it
  private val dataNames: Seq[String] = {
    val req = required.fields.iterator.map(_.name)
      .filter(_ != "_shard").toSeq
    if (eqDel.isEmpty) req
    else req ++ eqKeys.filterNot(req.contains)
  }

  // constant vectors live for the whole partition read
  private val shardConst: ConstantColumnVector = {
    val v = new ConstantColumnVector(Capacity, IntegerType)
    v.setInt(shard)
    v
  }
  private val nullConsts: Array[ConstantColumnVector] =
    required.fields.map { f =>
      val v = new ConstantColumnVector(Capacity, f.dataType)
      v.setNull()
      v
    }
  // compaction targets, allocated lazily on the first masked batch
  // and reused (reset) per batch thereafter
  private var compacted: Array[OnHeapColumnVector] = null

  // ---- per-part state ----
  private var partIdx = -1
  private var vr: VectorizedParquetRecordReader = null
  private var present: Seq[String] = Nil   // decode set of this part
  private var presentIdx: Array[Int] = null // required -> batch column
  private var eqKeyBatchIdxs: Array[Int] = null // per key col; null = off
  private var partRows = 0L
  private var consumed = 0L                // rows read of current part
  private var ordBase = 0L                 // concat ordinal of row 0
  private var nullPartRemaining = 0L       // projection-empty part rows

  private def advancePart(): Boolean = {
    if (vr != null) { vr.close(); vr = null }
    ordBase += partRows
    partIdx += 1
    if (partIdx >= paths.length) return false
    if (ordBases.nonEmpty) ordBase = ordBases(partIdx)
    val f = new java.io.File(paths(partIdx))
    val (fileSchema, rows) = GraftShardCodec.footer(f)
    partRows = rows
    consumed = 0L
    present = dataNames.filter(fileSchema.containsField)
    GraftLakeScanMetrics.decodedColumns
      .addAndGet(present.length.toLong): Unit
    presentIdx = required.fields.map { fd =>
      if (fd.name == "_shard") -1 else present.indexOf(fd.name)
    }
    eqKeyBatchIdxs =
      if (eqDel.nonEmpty && eqKeys.forall(present.contains))
        eqKeys.map(present.indexOf).toArray
      else null
    if (present.isEmpty) {
      // a part predating every requested column: all-NULL content,
      // only the live-row COUNT matters (ordinal-masked below)
      GraftLakeScanMetrics.metadataOnlyReads.incrementAndGet(): Unit
      nullPartRemaining = rows
    } else {
      nullPartRemaining = 0L
      vr = GraftShardCodec.openVectorized(f, fileSchema, present, Capacity)
      // allocate the batch vectors (nextBatch requires it; no
      // partition columns — _shard rides as a constant vector instead)
      vr.initBatch(new StructType(), InternalRow.empty)
    }
    true
  }

  /** Ordinal-masked liveness: DV positions (int ordinals) and
    * equality-deleted key versions. `keyOf` builds row i's ENCODED
    * upsert key from the batch's key columns, null when any part is
    * null (unaddressable — left live). */
  private def live(ord: Long, keyOf: Int => String, i: Int): Boolean = {
    if (ord <= Int.MaxValue && dv.contains(ord.toInt)) return false
    if (eqKeyBatchIdxs != null) {
      val k = keyOf(i)
      if (k != null && eqDel.get(k).exists(ord < _)) return false
    }
    true
  }

  private var out: ColumnarBatch = null
  private var emitted = 0L // live rows emitted (batch-grained limit)

  override def next(): Boolean = {
    // batch-grained early stop: once the cumulative live count crosses
    // the pushed limit, later parts/row-groups are never opened; the
    // final batch may overshoot inside its 4k rows — Spark's retained
    // limit operator (isPartiallyPushed) trims it
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (partIdx < 0 || (vr == null && nullPartRemaining <= 0L) ||
          (vr != null && consumed >= partRows)) {
        if (!advancePart()) return false
      } else if (vr == null) {
        // projection-empty part: emit live-count-only batches
        val n = math.min(nullPartRemaining, Capacity.toLong).toInt
        val start = ordBase + (partRows - nullPartRemaining)
        nullPartRemaining -= n
        var liveN = 0
        var i = 0
        while (i < n) {
          if (live(start + i, _ => null, i)) liveN += 1
          i += 1
        }
        if (liveN > 0) {
          out = new ColumnarBatch(
            nullConsts.zipWithIndex.map { case (v, j) =>
              if (required.fields(j).name == "_shard") shardConst
              else v
            }.toArray[ColumnVector], liveN)
          emitted += liveN
          return true
        }
      } else if (!vr.nextBatch()) {
        consumed = partRows // defensive: footer said more than decoded
      } else {
        GraftLakeScanMetrics.batchesDecoded.incrementAndGet(): Unit
        val batch = vr.resultBatch()
        val n = batch.numRows()
        val start = ordBase + consumed
        consumed += n
        val keyCols =
          if (eqKeyBatchIdxs != null)
            eqKeyBatchIdxs.map(batch.column)
          else null
        val keyOf: Int => String = i =>
          if (keyCols == null) null
          else {
            val parts = keyCols.map { c =>
              if (c.isNullAt(i)) null
              else c.dataType() match {
                case LongType | TimestampType => c.getLong(i).toString
                case IntegerType | DateType => c.getInt(i).toString
                case StringType => c.getUTF8String(i).toString
                case other => throw new IllegalArgumentException(
                  s"unsupported upsert key type $other")
              }
            }
            if (parts.contains(null)) null
            else GraftLakeIO.encodeEqKey(parts.toSeq)
          }
        // selection vector over this batch
        val sel = new Array[Int](n)
        var liveN = 0
        var i = 0
        while (i < n) {
          if (live(start + i, keyOf, i)) { sel(liveN) = i; liveN += 1 }
          i += 1
        }
        if (liveN == 0) () // fully-dead batch: fall through, loop
        else {
          val passthrough = liveN == n
          if (!passthrough && compacted == null)
            compacted = required.fields.map(f =>
              new OnHeapColumnVector(Capacity, f.dataType))
          val cols: Array[ColumnVector] =
            required.fields.zipWithIndex.map { case (fd, j) =>
              if (fd.name == "_shard") shardConst: ColumnVector
              else if (presentIdx(j) < 0) nullConsts(j): ColumnVector
              else if (passthrough)
                batch.column(presentIdx(j)): ColumnVector
              else {
                val src = batch.column(presentIdx(j))
                val dst = compacted(j)
                dst.reset()
                var r = 0
                while (r < liveN) {
                  val s = sel(r)
                  if (src.isNullAt(s)) dst.putNull(r)
                  else fd.dataType match {
                    case LongType | TimestampType =>
                      dst.putLong(r, src.getLong(s))
                    case IntegerType | DateType =>
                      dst.putInt(r, src.getInt(s))
                    case DoubleType => dst.putDouble(r, src.getDouble(s))
                    case BooleanType =>
                      dst.putBoolean(r, src.getBoolean(s))
                    case StringType =>
                      val b = src.getUTF8String(s).getBytes
                      dst.putByteArray(r, b, 0, b.length): Unit
                    case other => throw new IllegalArgumentException(
                      s"unsupported lake type for ${fd.name}: $other")
                  }
                  r += 1
                }
                dst: ColumnVector
              }
            }
          out = new ColumnarBatch(cols, liveN)
          emitted += liveN
          return true
        }
      }
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit = {
    if (vr != null) { vr.close(); vr = null }
    if (compacted != null) { compacted.foreach(_.close()); compacted = null }
    shardConst.close()
    nullConsts.foreach(_.close())
  }
}
