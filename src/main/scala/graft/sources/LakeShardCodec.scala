package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetWriteSupport,
  VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter,
  ParquetInputFormat, ParquetWriter}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
  Types}

/** COLUMNAR shard payloads for the lake catalog: each
  * `v<N>/shard-K.parquet` is a real parquet file written and read
  * executor-side — no Spark job, no Hadoop FileSystem
  * (`LocalInputFile`/`LocalOutputFile`, so no `.crc` sidecar noise in
  * version dirs), no full-text parse.
  *
  * Why this matters at 100 TB (the reference ingests into real
  * engine storage — `fill_postgresql.sql:1-10`'s tables are heap
  * pages, not text): the previous JSON-lines payload forced a full
  * parse of every byte of every row on every read. Parquet gives
  *
  *  - COLUMN PRUNING: a pruned scan decodes only the requested
  *    columns' pages ([[projectionFor]] intersects the request with
  *    the file footer's schema, so schema-evolved old shards serve
  *    missing columns as NULL without decoding anything extra);
  *  - COUNT FROM METADATA: a projection-empty read (`count(*)`, or a
  *    `_shard`-only probe) is served from footer row counts without
  *    touching a single data page ([[rowCount]]);
  *  - ENCODED + COMPRESSED pages (dictionary + snappy) instead of
  *    decimal-rendered text;
  *  - APPEND WITHOUT RE-ENCODE: commit-time shard merging copies raw
  *    row groups ([[ParquetFileReader.appendTo]]) between parts of one
  *    schema — I/O-bound byte movement, the same cost class as the old
  *    text concatenation ([[mergeShardFiles]]).
  *
  * Spark's own Parquet code encodes and decodes every value: parts
  * are written from `InternalRow`s by Spark's `ParquetWriteSupport`
  * ([[openWriter]]), and every read of a part — scans, the change
  * feed, commits and maintenance rewrites, document-store shards —
  * decodes through Spark's vectorized reader ([[openVectorized]]).
  * This codec only maps the lake's SQL types to Parquet types
  * ([[messageType]]).
  *
  * The commit protocol above this layer (CAS publish, hardlink
  * carrying, zone-map sidecars, routing provenance) is
  * format-agnostic and unchanged; `Files.isSameFile` hardlink
  * identity keeps proving unchanged shards diff-free for `$changes`
  * without opening them.
  *
  * Types are the lake's declared SQL surface (BIGINT, INT, DATE,
  * DOUBLE, STRING, TIMESTAMP, BOOLEAN) mapped to canonical parquet
  * physical+logical types, so external tools could read the shards as
  * ordinary parquet. */
object GraftShardCodec {

  /** Canonical parquet schema of a shard file: every declared column
    * except the `_shard` metadata column (physical routing is carried
    * by the FILE NAME, never stored). All fields optional — the lake
    * surface is nullable throughout. */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.iterator.filter(_.name != "_shard").foreach { f =>
      f.dataType match {
        case LongType =>
          b.addField(Types.optional(PrimitiveTypeName.INT64)
            .named(f.name)): Unit
        case IntegerType =>
          b.addField(Types.optional(PrimitiveTypeName.INT32)
            .named(f.name)): Unit
        case DateType =>
          b.addField(Types.optional(PrimitiveTypeName.INT32)
            .as(LogicalTypeAnnotation.dateType()).named(f.name)): Unit
        case DoubleType =>
          b.addField(Types.optional(PrimitiveTypeName.DOUBLE)
            .named(f.name)): Unit
        case StringType =>
          b.addField(Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(f.name)): Unit
        case TimestampType =>
          b.addField(Types.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(true,
              LogicalTypeAnnotation.TimeUnit.MICROS))
            .named(f.name)): Unit
        case BooleanType =>
          b.addField(Types.optional(PrimitiveTypeName.BOOLEAN)
            .named(f.name)): Unit
        case other => throw new IllegalArgumentException(
          s"unsupported lake type for ${f.name}: $other")
      }
    }
    b.named("graft_lake_shard")
  }

  /** Row-group target kept small relative to parquet's 128 MB default:
    * a data writer holds one open ParquetWriter PER SHARD it routes
    * rows to, and each buffers up to a row group — 16 MB bounds task
    * memory at (shards touched × 16 MB). A production deployment
    * would additionally request a task-level clustering on the shard
    * key (DSv2 RequiresDistributionAndOrdering) so each task touches
    * few shards; at the demo scale the bound alone is plenty. */
  val RowGroupBytes: Long = 16L * 1024 * 1024

  /** The one Hadoop conf every shard and lake-part open reads: Hadoop's
    * defaults, parsed once per JVM. A fresh `Configuration` re-parses
    * `core-default.xml` out of the Hadoop jar on first use (~2.6 ms
    * warm, against ~0.08 ms to clone a loaded one), and parquet-mr's
    * convenience entry points build one per open — that parse was a
    * fifth of `ingest_mix`'s CPU samples (JFR). The properties are
    * forced here, before publication, and no open mutates the conf:
    * opens that carry per-file keys (a read schema, Spark's requested
    * row schema) set them on a clone ([[vectorizedConf]] keeps one per
    * requested schema). */
  lazy val conf: Configuration = {
    val c = new Configuration()
    c.size(): Unit
    c
  }

  /** [[conf]] plus the keys Spark's write support and its schema
    * converter require: the standard (non-legacy) layout, INT64 micros
    * timestamps, no field ids, no variant annotation. */
  private lazy val writeBase: Configuration = {
    val c = new Configuration(conf)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => c.setBoolean(e.key, false))
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c
  }

  /** A footer/row-group reader over `file` on the shared conf. The
    * options are built per open: they carry a codec factory whose
    * caches are not thread-safe, and the reader releases it on close. */
  private def openFile(file: java.io.File): ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(file.toPath),
      HadoopReadOptions.builder(conf).build())

  /** A SNAPPY part writer of rows laid out as `schema` (no `_shard`
    * column). Spark's write support encodes each row under the footer
    * schema [[messageType]]`(schema)`: Spark's own would be named
    * `spark_schema`, and parts merge only with parts of an equal
    * footer `MessageType`, name included. No extra footer metadata
    * either: the reader never consults Spark's. */
  def openWriter(file: java.io.File,
      schema: StructType): ParquetWriter[InternalRow] = {
    val footer = messageType(schema)
    // the support takes its datetime rebase mode from `SQLConf.get`
    // (the thread's existing conf first, on task and driver threads)
    // when built; parts are read CORRECTED ([[openVectorized]]), so
    // they are written CORRECTED whatever the session says
    val support = SQLConf.withExistingConf(correctedConf)(
      new ParquetWriteSupport {
        override def init(c: Configuration): WriteSupport.WriteContext = {
          super.init(c): Unit
          new WriteSupport.WriteContext(footer,
            java.util.Collections.emptyMap[String, String]())
        }
      })
    new RowWriterBuilder(file, support)
      .withConf(writeConfs.computeIfAbsent(schema, { _ =>
        val c = new Configuration(writeBase)
        ParquetWriteSupport.setSchema(schema, c)
        c
      }))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(RowGroupBytes)
      .build()
  }

  private final class RowWriterBuilder(file: java.io.File,
      support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](
        new LocalOutputFile(file.toPath)) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(c: Configuration) = support
  }

  private lazy val correctedConf: SQLConf = {
    val c = new SQLConf
    c.setConfString(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c
  }

  /** One read-only write conf per row schema (Spark's row schema key
    * on a clone of [[writeBase]]), memoized like [[vectorizedConf]]. */
  private val writeConfs = lru[StructType, Configuration](256)

  /** Everything a planner reads from one part's footer: schema, total
    * rows, per-column null counts summed across row groups
    * (`Some(nulls)` when every chunk of that column carries one, None
    * otherwise — then callers must fall back to reading pages), and
    * the per-part zone ranges with the columns that are ALL-NULL in
    * this file. */
  final case class PartSummary(schema: MessageType, rows: Long,
      nulls: Map[String, Option[Long]],
      ranges: Map[String, GraftLakeIO.ColRange], allNull: Set[String])

  /** Published shard parts are IMMUTABLE (commits only ever hardlink
    * or create files), so the footer summary is memoized on the
    * file's identity — (fileKey = device+inode, size, mtime) — across
    * paths, versions, and queries: one small tail read per part, ever.
    * Without this, every commit's live-row stamp, every scan's
    * statistics estimate and every `count(*)` pushdown would re-open
    * O(total parts) footers: measured super-linear append-commit cost
    * as parts accumulate. Bounded LRU; hardlinked copies of
    * one part share the entry (same inode). The mtime term guards the
    * rare inode-reuse-after-delete case. */
  private val summaryMemo = lru[(Object, Long, Long), PartSummary](8192)

  /** A synchronized map that drops its least recently used entry past
    * `cap` entries. */
  private def lru[K, V](cap: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V])
            : Boolean = size() > cap
      })

  private def identityKey(file: java.io.File): (Object, Long, Long) = {
    val a = java.nio.file.Files.readAttributes(file.toPath,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    (a.fileKey(), a.size(), a.lastModifiedTime().toMillis)
  }

  /** The memoized footer summary of a shard part; never touches data
    * pages. */
  def summary(file: java.io.File): PartSummary = {
    val key = identityKey(file)
    val hit = summaryMemo.get(key)
    if (hit != null) return hit
    val r = openFile(file)
    val v = try summarize(r.getFooter) finally r.close()
    summaryMemo.put(key, v): Unit
    v
  }

  /** (schema, total row count) of a shard part — [[summary]]'s two
    * most-asked fields. */
  def footer(file: java.io.File): (MessageType, Long) = {
    val s = summary(file)
    (s.schema, s.rows)
  }

  /** Per-part zone ranges come from the footer's OWN column-chunk
    * statistics (parquet-mr stamps min/max/nulls at write time). The
    * shard-level `_stats.json` merges every part's values, so an
    * append-heavy shard's ranges go wide; these per-part ranges are
    * what lets a scan skip the COLD PARTS of a planned shard (a
    * time-correlated append stream leaves each part covering a narrow
    * ts band).
    *
    * Conservatism ledger (a part skip must never lose rows):
    *  - a column is in the range map ONLY when every row group's chunk
    *    has usable stats — any statless/foreign chunk drops it (never
    *    skip);
    *  - DOUBLE/FLOAT never enter (parquet writers' NaN-in-stats
    *    behavior is not uniformly trustworthy — same refusal as the
    *    shard zone maps' NaN discipline);
    *  - string min/max past [[GraftLakeIO.ColRange.MaxStatsStringLen]]
    *    drop the column (mirror the sidecar's exactly-or-nothing
    *    rule);
    *  - all-NULL columns are reported separately: a null-rejecting
    *    conjunct on one proves the part row-free for that scan. */
  private def summarize(md: org.apache.parquet.hadoop.metadata
      .ParquetMetadata): PartSummary = {
    var rows = 0L
    val nulls = scala.collection.mutable.Map[String, Option[Long]]()
    // per column: (unusable, merged range or null, any non-null
    // chunk seen)
    val acc = scala.collection.mutable.LinkedHashMap[String,
      (Boolean, GraftLakeIO.ColRange, Boolean)]()
    md.getBlocks.forEach { b =>
      rows += b.getRowCount
      b.getColumns.forEach { c =>
        val name = c.getPath.toDotString
        val st = c.getStatistics
        val chunkNulls =
          if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
          else None
        nulls.update(name, (nulls.getOrElse(name, Some(0L)), chunkNulls)
          match {
            case (Some(a), Some(b2)) => Some(a + b2)
            case _ => None
          })
        val prev = acc.getOrElse(name, (false, null, false))
        val next =
          if (prev._1 || st == null) (true, null, false)
          else if (st.hasNonNullValue) {
            val pt = c.getPrimitiveType
            val isStr = pt.getLogicalTypeAnnotation != null &&
              pt.getLogicalTypeAnnotation.toString
                .toLowerCase(java.util.Locale.ROOT).startsWith("string")
            val chunk: GraftLakeIO.ColRange =
              pt.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT64 =>
                  val lo = st.genericGetMin
                    .asInstanceOf[java.lang.Long].longValue()
                  val hi = st.genericGetMax
                    .asInstanceOf[java.lang.Long].longValue()
                  GraftLakeIO.ColRange(isFloat = false, lo, hi,
                    lo.toDouble, hi.toDouble)
                case PrimitiveTypeName.INT32 =>
                  val lo = st.genericGetMin
                    .asInstanceOf[java.lang.Integer].longValue()
                  val hi = st.genericGetMax
                    .asInstanceOf[java.lang.Integer].longValue()
                  GraftLakeIO.ColRange(isFloat = false, lo, hi,
                    lo.toDouble, hi.toDouble)
                case PrimitiveTypeName.BINARY if isStr =>
                  GraftLakeIO.ColRange.ofString(st.genericGetMin
                      .asInstanceOf[Binary].toStringUsingUTF8)
                    .merge(GraftLakeIO.ColRange.ofString(st.genericGetMax
                      .asInstanceOf[Binary].toStringUsingUTF8))
                case _ => null // DOUBLE/FLOAT/other: never skip
              }
            if (chunk == null || GraftLakeIO.rangeUnusable(chunk))
              (true, null, false)
            else (false,
              if (prev._2 == null) chunk else prev._2.merge(chunk),
              true)
          } else if (st.isNumNullsSet && st.getNumNulls == b.getRowCount)
            prev // all-null chunk: contributes nothing, stays sound
          else (true, null, false)
        acc.update(name, next)
      }
    }
    val ranges = acc.collect {
      case (n, (false, rg, true)) if rg != null &&
        !GraftLakeIO.rangeUnusable(rg) => n -> rg
    }.toMap
    val allNull = acc.collect { case (n, (false, null, false)) => n }.toSet
    PartSummary(md.getFileMetaData.getSchema, rows, nulls.toMap, ranges,
      allNull)
  }

  /** The projection actually readable from `file`: the requested
    * column names that exist in the file's own schema, carrying the
    * FILE's field types (strict projection checking requires it).
    * Names absent from the file (columns ADDed after the shard was
    * written) are the caller's to serve as NULL. Field order follows
    * `names`. */
  def projectionFor(fileSchema: MessageType,
      names: Seq[String]): MessageType = {
    val present = names.filter(fileSchema.containsField)
    val b = Types.buildMessage()
    present.foreach(n =>
      b.addField(fileSchema.getType(fileSchema.getFieldIndex(n))): Unit)
    b.named(fileSchema.getName)
  }

  /** [[conf]] plus what the vectorized reader's `initialize(path,
    * columns)` convenience overload would set: the five
    * schema-conversion switches off and Spark's read support. */
  private lazy val vectorizedBase: Configuration = {
    val c = new Configuration(conf)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.CASE_SENSITIVE,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => c.setBoolean(e.key, false))
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c
  }

  /** One read-only conf per (file schema, requested names): a table
    * has a handful of part schemas and projections, so cloning the
    * whole conf on every part open only rebuilt the same few. The key
    * is what decides the requested row schema, so its conversion and
    * JSON rendering run only on a miss. Spark's split-based
    * `initialize` and parquet-mr's read options only read the conf.
    * Bounded LRU beside [[summaryMemo]]. */
  private val vectorizedConfs =
    lru[(MessageType, Seq[String]), Configuration](256)

  private def vectorizedConf(fileSchema: MessageType,
      names: Seq[String]): Configuration =
    vectorizedConfs.computeIfAbsent((fileSchema, names), { _ =>
      val c = new Configuration(vectorizedBase)
      c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
        sparkSchema(projectionFor(fileSchema, names)).json)
      c
    })

  /** The row schema the vectorized reader decodes `fileSchema` as. */
  def sparkSchema(fileSchema: MessageType): StructType =
    new ParquetToSparkSchemaConverter(vectorizedBase).convert(fileSchema)

  /** The confs [[vectorizedConf]] holds now (for tests). */
  private[graft] def memoizedVectorizedConfs: Seq[Configuration] =
    vectorizedConfs.synchronized(vectorizedConfs.values.asScala.toSeq)

  /** Spark's vectorized reader over `file`, decoding `names` (each
    * present in `fileSchema`; batch column i is `names(i)`). Opened the
    * way Spark's own parquet source opens a file — split plus task
    * context — because the `initialize(path, columns)` convenience
    * overload builds a fresh `Configuration` per call. The context
    * answers the memoized [[vectorizedConf]] of the requested row
    * schema. */
  def openVectorized(file: java.io.File, fileSchema: MessageType,
      names: Seq[String], capacity: Int): VectorizedParquetRecordReader = {
    val c = vectorizedConf(fileSchema, names)
    val vr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, capacity)
    try vr.initialize(
      new FileSplit(new Path(file.getPath), 0L, file.length(),
        Array.empty[String]),
      taskContext(c))
    catch { case e: Throwable => vr.close(); throw e }
    vr
  }

  /** A task context that answers only `getConfiguration`, all Spark's
    * reader asks of it. Hadoop's `TaskAttemptContextImpl` wraps its
    * conf in a `JobConf`, whose class init adds mapred- and
    * yarn-default.xml to every default-loading conf in the JVM: every
    * later `new Configuration()` (Spark still builds some per query)
    * would then parse three XML files instead of one. */
  private def taskContext(c: Configuration): TaskAttemptContext =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[TaskAttemptContext]),
      (_: AnyRef, m: java.lang.reflect.Method, _: Array[AnyRef]) =>
        if (m.getName == "getConfiguration") c
        else throw new UnsupportedOperationException(
          s"TaskAttemptContext.${m.getName}")
    ).asInstanceOf[TaskAttemptContext]

  /** Materialize `target` as the concatenation of `sources` (in
    * order), appended as raw row groups — no decode, no re-encode, pure
    * I/O (the commit-time cost class of the old text concatenation).
    * Every source must carry `targetSchema` itself: staged parts are
    * written under their commit's own schema, and part compaction
    * merges only runs of one schema. */
  def mergeShardFiles(target: java.io.File, targetSchema: MessageType,
      sources: Seq[java.io.File]): Unit = {
    sources.foreach { f =>
      require(footer(f)._1 == targetSchema,
        s"$f: cannot merge a part whose schema differs from the " +
          s"target's:\n${footer(f)._1}\nvs\n$targetSchema")
    }
    val w = new ParquetFileWriter(
      new LocalOutputFile(target.toPath), targetSchema,
      ParquetFileWriter.Mode.CREATE, RowGroupBytes,
      /* maxPaddingSize = parquet's default */ 8388608)
    w.start()
    sources.foreach { f =>
      val r = openFile(f)
      try r.appendTo(w) finally r.close()
    }
    w.end(java.util.Collections.emptyMap[String, String]())
  }
}
