package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector,
  OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The lake scan reader: one shard's ORDERED PART LIST decoded
  * through Spark's OWN vectorized parquet reader into
  * [[ColumnarBatch]] vectors, which the plan consumes through
  * `ColumnarToRow` inside whole-stage codegen — per-batch amortized
  * decode, no per-row boxing.
  *
  * Semantics (LakeDeleteVectorSpec/LakeEqUpsertSpec/LakeColumnarSpec
  * stamp them):
  *
  *  - PER-PART PROJECTION: each part decodes only the requested
  *    columns present in its own footer schema; columns ADDed after
  *    the part was written are served as constant-NULL vectors —
  *    schema evolution without rewrites or per-row work.
  *  - `_shard` is synthesized as a [[ConstantColumnVector]] (it is
  *    routing metadata, never stored). `_pos` is the CONCATENATION
  *    ordinal across parts in seq order (stable under appends: new
  *    parts only land after all existing rows), served as one reused
  *    on-heap vector holding each live row's PRE-mask ordinal — the
  *    row id row-level DML writes back.
  *  - MASKING AS A SELECTION VECTOR: deletion-vector positions
  *    (concatenation ordinals) and equality-deleted key versions
  *    (`key at ord < bound(key)`) select the LIVE rows of each decoded
  *    batch; a fully-live batch passes through zero-copy, a masked
  *    batch compacts the survivors into reused on-heap vectors. The
  *    equality key is forced into the decode set even when projected
  *    out.
  *  - PROJECTION-EMPTY parts (`count(*)`, `SELECT 1`, `_shard`/`_pos`
  *    only, or a part predating every requested column) open no data
  *    page: they are served from the footer row count, still masked
  *    by ordinal.
  *  - A missing part file is an ERROR, never an empty shard:
  *    partitions are planned only from the immutable snapshot dir, so
  *    absence at read time means the snapshot was torn.
  *
  * LIMIT-pushed scans stop BATCH-grained: the reader quits after the
  * batch that crosses `limit` live rows (the pushdown is declared
  * partial — `isPartiallyPushed` — so Spark's own Local/GlobalLimit
  * trims the overshoot inside that final 4k-row batch).
  *
  * `metrics` is the counter set the reader adds to: the lake's, or the
  * document store's when it serves a CREATEd collection. */
class GraftLakeColumnarPartitionReader(paths: Seq[String], shard: Int,
    required: StructType, dvBytes: Array[Byte] = null,
    ordBases: Seq[Long] = Nil,
    eqDel: Map[String, Long] = Map.empty, eqKeys: Seq[String] = Nil,
    limit: Int = -1, metrics: GraftReadCounters = GraftLakeScanMetrics)
    extends PartitionReader[ColumnarBatch] {

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
  // synthesized `_shard`/`_pos`, plus the equality key when masking
  // needs it
  private val dataNames: Seq[String] = {
    val req = required.fields.iterator.map(_.name)
      .filter(n => n != "_shard" && n != "_pos").toSeq
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
  // the live rows' pre-mask ordinals, refilled per batch
  private val posVec: OnHeapColumnVector =
    if (required.fieldNames.contains("_pos"))
      new OnHeapColumnVector(Capacity, LongType)
    else null
  // compaction targets, allocated per column on its first masked
  // batch and reused (reset) per batch thereafter
  private val compacted = new Array[OnHeapColumnVector](required.length)
  private val sel = new Array[Int](Capacity)

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
    // planner-supplied concatenation bases (part pruning drops parts
    // from the middle; ordinals of the survivors must not shift)
    if (ordBases.nonEmpty) ordBase = ordBases(partIdx)
    val f = new java.io.File(paths(partIdx))
    val (fileSchema, rows) = GraftShardCodec.footer(f)
    partRows = rows
    consumed = 0L
    present = dataNames.filter(fileSchema.containsField)
    metrics.decodedColumns.addAndGet(present.length.toLong): Unit
    presentIdx = required.fields.map(fd => present.indexOf(fd.name))
    // composite masking needs EVERY key part decodable from this
    // part's own schema; a missing one can only mean rows that
    // predate the key — unaddressable, left live
    eqKeyBatchIdxs =
      if (eqDel.nonEmpty && eqKeys.forall(present.contains))
        eqKeys.map(present.indexOf).toArray
      else null
    if (present.isEmpty) {
      // no requested column stored in this part: only the live rows'
      // count and ordinals matter, served from the footer
      metrics.metadataOnlyReads.incrementAndGet(): Unit
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
    * equality-deleted key versions (`key at ord < bound(key)`; a row
    * with a null key part is unaddressable and stays live). `keyTypes`
    * is null when the part is not key-masked. */
  private def live(batch: ColumnarBatch, i: Int, ord: Long,
      keyTypes: Array[DataType]): Boolean = {
    if (ord <= Int.MaxValue && dv.contains(ord.toInt)) return false
    if (keyTypes != null) {
      val k = GraftLakeIO.eqKey(batch.getRow(i), eqKeyBatchIdxs, keyTypes)
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
        // projection-empty part: batches of constant vectors
        val n = math.min(nullPartRemaining, Capacity.toLong).toInt
        val start = ordBase + (partRows - nullPartRemaining)
        nullPartRemaining -= n
        if (emit(null, n, start)) return true
      } else if (!vr.nextBatch()) {
        consumed = partRows // defensive: footer said more than decoded
      } else {
        metrics.batchesDecoded.incrementAndGet(): Unit
        val batch = vr.resultBatch()
        val n = batch.numRows()
        val start = ordBase + consumed
        consumed += n
        if (emit(batch, n, start)) return true
      }
    }
    false // unreachable
  }

  /** Selects the live rows of `n` rows at ordinals `start ..` (from
    * `batch`, or from no data page when null) into [[out]]; false when
    * none is live. */
  private def emit(batch: ColumnarBatch, n: Int, start: Long): Boolean = {
    val keyTypes =
      if (eqKeyBatchIdxs != null)
        eqKeyBatchIdxs.map(batch.column(_).dataType())
      else null
    var liveN = 0
    var i = 0
    while (i < n) {
      if (live(batch, i, start + i, keyTypes)) {
        sel(liveN) = i
        liveN += 1
      }
      i += 1
    }
    if (liveN == 0) return false
    val passthrough = liveN == n
    if (posVec != null) {
      var r = 0
      while (r < liveN) { posVec.putLong(r, start + sel(r)); r += 1 }
    }
    val cols: Array[ColumnVector] =
      required.fields.zipWithIndex.map { case (fd, j) =>
        if (fd.name == "_shard") shardConst: ColumnVector
        else if (fd.name == "_pos") posVec: ColumnVector
        else if (presentIdx(j) < 0) nullConsts(j): ColumnVector
        else if (passthrough) batch.column(presentIdx(j)): ColumnVector
        else {
          val src = batch.column(presentIdx(j))
          if (compacted(j) == null)
            compacted(j) = new OnHeapColumnVector(Capacity, fd.dataType)
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
    true
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit = {
    if (vr != null) { vr.close(); vr = null }
    compacted.foreach(v => if (v != null) v.close())
    if (posVec != null) posVec.close()
    shardConst.close()
    nullConsts.foreach(_.close())
  }
}

/** The read-side counters a [[GraftLakeColumnarPartitionReader]] adds
  * to: columns decoded per part, parts served from the footer alone,
  * and batches decoded. */
trait GraftReadCounters {
  val decodedColumns: java.util.concurrent.atomic.AtomicLong
  val metadataOnlyReads: java.util.concurrent.atomic.AtomicLong
  val batchesDecoded: java.util.concurrent.atomic.AtomicLong
}

object GraftLakeColumnarPartitionReader {

  /** The live rows of `reader`, one at a time, for consumers that work
    * row by row (the change feed, commits, maintenance rewrites). A
    * row is a view into the current batch, valid until the iterator
    * moves on: `copy()` one to keep it. The reader is closed at
    * exhaustion or on `close()`, whichever comes first. */
  def rows(reader: PartitionReader[ColumnarBatch])
      : Iterator[InternalRow] with AutoCloseable =
    new Iterator[InternalRow] with AutoCloseable {
      private var batch: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      private var closed = false
      override def hasNext: Boolean = {
        while (!batch.hasNext && !closed)
          if (reader.next()) batch = reader.get().rowIterator()
          else close()
        batch.hasNext
      }
      override def next(): InternalRow =
        if (hasNext) batch.next()
        else throw new NoSuchElementException("no more lake rows")
      override def close(): Unit = if (!closed) {
        closed = true
        batch = java.util.Collections.emptyIterator()
        reader.close()
      }
    }
}
