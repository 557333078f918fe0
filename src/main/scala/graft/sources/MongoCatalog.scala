package graft.sources

import java.util.{Collections, Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.{Op, Q}
import graft.sources.Tables.events

/** HAND-WRITTEN DataSource V2 connector + catalog for the reference's
  * MongoDB side (`trino/catalog/mongodb.properties:1-3`, collections
  * filled by `local_demo_setup/fillMongoDB.ipynb`): the `weather`
  * database's `weatherny` collection, its schema DECLARED by the
  * schemadef descriptor ([[MongoSchemas.schemadefToStruct]]) and its
  * documents stored as MongoDB canonical extended JSON (the wire/dump
  * format — datetimes as `{"$date": ...}`), which is exactly what a
  * broker-less environment can serve.
  *
  * Unlike [[GraftJdbcCatalog]] (which rightly reuses Spark's stock JDBC
  * catalog), there is no stock catalog to reuse here, so this is the
  * full custom-connector stack the DSv2 API is designed for, every
  * layer implemented in this file:
  *
  *   CatalogPlugin → TableCatalog/SupportsNamespaces
  *     ([[GraftMongoCatalog]]: namespace + table resolution)
  *   → Table + SupportsRead ([[GraftMongoTable]])
  *   → ScanBuilder + SupportsPushDownRequiredColumns
  *     ([[GraftMongoScanBuilder]]: COLUMN PRUNING — a
  *     `SELECT tavg FROM …` never decodes the other eight measures)
  *   → Scan/Batch ([[GraftMongoScan]]: one InputPartition per store
  *     shard — the parallel-read unit, the analog of reading one Mongo
  *     chunk/partition per task)
  *   → PartitionReader ([[GraftMongoPartitionReader]]: streams one
  *     shard, Jackson-decodes each document to an InternalRow of ONLY
  *     the required columns). A CREATEd collection is stored as the
  *     lake's versioned Parquet snapshots instead, and reads through
  *     the lake's columnar reader.
  *
  * Scale posture: reads parallelize per shard; per-task state is one
  * buffered line; pruned columns are never parsed into rows. The
  * production swap to a live cluster replaces the shard list with the
  * Mongo Spark connector's partitioner and the line decoder with BSON —
  * catalog, schema declaration, and pruning contract stay identical.
  */
class GraftMongoCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("path")
    require(root != null,
      s"catalog $name needs spark.sql.catalog.$name.path (doc-store root)")
  }

  override def name(): String = catalogName

  private val ns = Array("weather")
  private def isWeather(s: Array[String]) = s.sameElements(ns)

  override def listNamespaces(): Array[Array[String]] = Array(ns)

  override def listNamespaces(parent: Array[String]): Array[Array[String]] =
    if (parent.isEmpty) Array(ns)
    else if (isWeather(parent)) Array.empty
    else throw new NoSuchNamespaceException(parent)

  override def namespaceExists(namespace: Array[String]): Boolean =
    isWeather(namespace)

  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] =
    if (isWeather(namespace)) Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  // the DEMO collection stays read-only, like the reference's connector
  // as the query side uses it; the INGEST direction (`fillMongoDB.ipynb`
  // creates and fills collections) maps to createTable + SupportsWrite
  // on NEW collections below. Unsupported mutations are refused, not
  // silently ignored.
  private def readOnly =
    new UnsupportedOperationException(
      s"catalog $catalogName: operation unsupported on the document store")

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = throw readOnly

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = throw readOnly

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = throw readOnly

  // a CREATEd collection is its persisted schemadef descriptor + a
  // shard directory; the descriptor makes loadTable re-derive the
  // declared schema exactly (the reference's schemadef discipline,
  // ingest direction)
  private def descriptorFile(name: String) =
    new java.io.File(root, s"$name.schemadef.json")
  private def tableDir(name: String) = new java.io.File(root, name)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (isWeather(namespace)) {
      val created = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".schemadef.json"))
        .map(_.getName.stripSuffix(".schemadef.json"))
      (Array("weatherny") ++ created).distinct.sorted
        .map(n => Identifier.of(ns, n))
    } else throw new NoSuchNamespaceException(namespace)

  override def loadTable(ident: Identifier): Table =
    if (isWeather(ident.namespace()) && ident.name() == "weatherny")
      new GraftMongoTable("weatherny",
        MongoSchemas.schemadefToStruct(MongoSchemas.weatherNyDescriptor),
        s"$root/weatherny", writable = false, created = false)
    else if (isWeather(ident.namespace()) &&
        descriptorFile(ident.name()).exists())
      new GraftMongoTable(ident.name(),
        MongoSchemas.schemadefToStruct(java.nio.file.Files.readString(
          descriptorFile(ident.name()).toPath)),
        tableDir(ident.name()).getPath, writable = true, created = true)
    else throw new NoSuchTableException(ident)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    if (!isWeather(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    require(partitions.isEmpty,
      "document collections take no partition transforms")
    // the lake reader serves these two names as routing metadata
    require(!schema.fieldNames.exists(Set("_shard", "_pos")),
      "document collections cannot declare _shard or _pos")
    if (ident.name() == "weatherny" || descriptorFile(ident.name()).exists())
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
    // descriptor LAST, after the shard dir: the descriptor's existence
    // is what makes the table visible, so a half-created table cannot
    // be observed
    tableDir(ident.name()).mkdirs()
    java.nio.file.Files.writeString(descriptorFile(ident.name()).toPath,
      MongoSchemas.structToSchemadef(ident.name(), schema))
    loadTable(ident)
  }

  /** Collection TIME TRAVEL (`VERSION AS OF n`): versioned commits
    * ([[GraftMongoBatchWrite.commit]]) leave every snapshot dir
    * intact, so a pinned load is simply a READ-ONLY table whose data
    * dir IS the immutable version dir (its flat part- layout is
    * exactly what the scan reads). v0 = the empty pre-insert
    * collection; the demo fixture has no versions to travel to. */
  override def loadTable(ident: Identifier, version: String): Table = {
    loadTable(ident) match {
      case t: GraftMongoTable if t.name() != "weatherny" =>
        val dir = tableDir(ident.name()).getPath
        val v = version.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"collection version must be an integer, got '$version'"))
        val latest = GraftLakeIO.latestVersion(dir)
        require(v >= 0 && v <= latest,
          s"${ident.name()}: version $v out of range 0..$latest")
        new GraftMongoTable(s"${ident.name()}@v$v", t.schema(),
          GraftLakeIO.versionDir(dir, v).getPath, writable = false,
          created = true)
      case _ => throw readOnly // demo fixture: no snapshot history
    }
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = throw readOnly

  override def dropTable(ident: Identifier): Boolean =
    if (isWeather(ident.namespace()) && ident.name() != "weatherny" &&
        descriptorFile(ident.name()).exists()) {
      Memo.rmTree(tableDir(ident.name()))
      descriptorFile(ident.name()).delete()
    } else if (isWeather(ident.namespace()) && ident.name() == "weatherny")
      throw readOnly // the demo collection is not droppable
    else false

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = throw readOnly
}

/** One declared-schema collection. The demo collection `weatherny`
  * (`created` false) is a read-only extended-JSON wire dump in a flat
  * directory. A CREATEd collection is a versioned Parquet snapshot
  * table on the lake's storage protocol. A write adds one Parquet part
  * per write task (the analog of inserting through one mongos router
  * connection per partition) and commits TABLE-ATOMICALLY through
  * [[GraftLakeIO.commitSnapshot]] (see [[GraftMongoBatchWrite.commit]]),
  * so a concurrent reader never observes an emptied or half-populated
  * collection. Reads go through the lake's columnar reader. A pinned
  * `VERSION AS OF` load is a read-only CREATEd collection whose data
  * dir is the version dir. */
class GraftMongoTable(tableName: String, declared: StructType,
    dataDir: String, writable: Boolean, created: Boolean)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = tableName
  override def schema(): StructType = declared
  override def capabilities(): java.util.Set[TableCapability] =
    if (writable)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMongoScanBuilder(tableName, declared, dataDir, created)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(writable, s"collection $tableName is read-only")
    new GraftMongoWriteBuilder(dataDir, declared, info.queryId())
  }
}

/** Append (INSERT) or overwrite (INSERT OVERWRITE, truncate) into a
  * CREATEd collection. Every task writes one Parquet part
  * ([[GraftMongoDataWriter]]) into a query-scoped stage directory and
  * reports it in its commit message; job commit makes the reported
  * parts the collection's next snapshot ([[GraftMongoBatchWrite]]),
  * and job abort removes the stage, so readers never observe a
  * half-written part. */
class GraftMongoWriteBuilder(dataDir: String, declared: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var truncateFirst = false
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite =
        new GraftMongoBatchWrite(dataDir, declared, truncateFirst, queryId)
    }
}

case class GraftMongoCommit(path: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Collection part-file resolution: a collection that has taken a
  * versioned commit reads through its `_latest` pointer (immutable
  * snapshot dirs, [[GraftLakeIO]]'s protocol); the pre-seeded demo
  * fixture (`weatherny`, flat `part-*` files, never written) and a
  * pinned version dir read the flat layout. */
object GraftMongoIO {
  def currentDir(dataDir: String): java.io.File =
    if (new java.io.File(dataDir, "_latest").exists())
      GraftLakeIO.versionDir(dataDir, GraftLakeIO.latestVersion(dataDir))
    else new java.io.File(dataDir)
  def shardFiles(dataDir: String): Array[java.io.File] =
    Option(currentDir(dataDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
}

class GraftMongoBatchWrite(dataDir: String, declared: StructType,
    truncateFirst: Boolean, queryId: String)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private def stageDir = new java.io.File(dataDir, s"_stage_$queryId")
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    stageDir.mkdirs()
    new GraftMongoWriterFactory(stageDir.getPath, declared)
  }
  /** TABLE-LEVEL-ATOMIC commit: one fill passed to the lake's commit
    * routine, [[GraftLakeIO.commitSnapshot]], with the base pinned to
    * the head, as the lake's batch write pins it. The fill links the
    * base's parts into the build (none under truncate) and moves the
    * staged parts in under commit-unique names; the routine stamps,
    * renames and publishes, and removes the build on any failure. A
    * writer whose base moved before the publish fails at once with
    * [[GraftLakeCommitConflict]]. */
  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit =
    try GraftLakeIO.commitSnapshot(dataDir,
        Some(GraftLakeIO.latestVersion(dataDir)),
        if (truncateFirst) "overwrite" else "append") { (baseV, build) =>
      if (!truncateFirst)
        GraftLakeIO.linkSnapshot(GraftLakeIO.versionDir(dataDir, baseV),
          build)
      messages.foreach { case GraftMongoCommit(path) =>
        val f = new java.io.File(path)
        // commit-unique names: carried parts from earlier commits may
        // share partition/task ids with this query's staged parts
        java.nio.file.Files.move(f.toPath,
          new java.io.File(build,
            s"part-v${baseV + 1}-${f.getName.stripPrefix("part-")}").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
      Some(())
    }: Unit
    finally Memo.rmTree(stageDir)
  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = Memo.rmTree(stageDir)
}

class GraftMongoWriterFactory(stagePath: String, declared: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftMongoDataWriter(stagePath, declared, partitionId, taskId)
}

/** COLUMNAR persistence for CREATEd collections: extended JSON is the
  * connector's WIRE format (that is the fidelity point — ingest and
  * the demo fixture speak `{"$date": ...}` documents), but documents
  * written THROUGH the connector land as parquet internally
  * ([[GraftShardCodec]]) — the same split a real document store makes
  * between its wire protocol and its on-disk pages (WiredTiger under
  * MongoDB). Timestamps persist as INT64 micros (UTC-adjusted), i.e.
  * the decoded form of the wire `$date`. */
class GraftMongoDataWriter(stagePath: String, declared: StructType,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  // taskId in the name keeps speculative/retried attempts of the same
  // partition from colliding in the stage; only the committed attempt's
  // file is reported and moved
  private val file = new java.io.File(stagePath,
    f"part-$partitionId%05d-$taskId.parquet")
  private val out = GraftShardCodec.openWriter(file, declared)

  override def write(row: InternalRow): Unit = out.write(row)

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    GraftMongoCommit(file.getPath)
  }

  override def abort(): Unit = { out.close(); file.delete(): Unit }

  override def close(): Unit = ()
}

/** Column pruning + filter pushdown: Catalyst hands the required
  * column subset and the WHERE predicates here. On the demo
  * collection's wire dump, range/equality predicates on the `_id`
  * datetime are ABSORBED into the scan (the document-store analog of
  * sending `find({_id: {$gte, $lt}})` to the server): the reader
  * checks the `$date` field first and skips the whole document —
  * never decoding the measure fields — when it falls outside the
  * bounds. Unsupported predicates, and every predicate on a CREATEd
  * collection, are returned as residual for Spark to evaluate
  * post-scan, so pushdown is always exact. */
class GraftMongoScanBuilder(tableName: String, declared: StructType,
    dataDir: String, created: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = declared
  private var accepted: Array[Filter] = Array.empty
  private var lo: Long = Long.MinValue
  private var hi: Long = Long.MaxValue

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep declared field order; Catalyst may request any subset
    required = StructType(
      declared.filter(f => requiredSchema.fieldNames.contains(f.name)))

  // external-type timestamp literal → epoch micros (the store's own
  // representation); either Java API may arrive depending on session conf
  private def micros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition {
      case _ if created => false
      case EqualTo("_id", v) => micros(v).isDefined
      case GreaterThan("_id", v) => micros(v).isDefined
      case GreaterThanOrEqual("_id", v) => micros(v).isDefined
      case LessThan("_id", v) => micros(v).isDefined
      case LessThanOrEqual("_id", v) => micros(v).isDefined
      case IsNotNull("_id") => true
      case _ => false
    }
    ok.foreach {
      case EqualTo(_, v) =>
        val m = micros(v).get; lo = lo max m; hi = hi min m
      case GreaterThan(_, v) => lo = lo max (micros(v).get + 1L)
      case GreaterThanOrEqual(_, v) => lo = lo max micros(v).get
      case LessThan(_, v) => hi = hi min (micros(v).get - 1L)
      case LessThanOrEqual(_, v) => hi = hi min micros(v).get
      case _ => () // IsNotNull: any bounds check already excludes null
    }
    accepted = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = new GraftMongoScan(tableName, required,
    dataDir, accepted, if (accepted.isEmpty) None else Some((lo, hi)),
    created)
}

/** A collection scan. The demo's wire dump reads row by row through
  * [[GraftMongoPartitionReader]]; a CREATEd collection's Parquet parts
  * read as columnar batches through the lake's reader. Spark needs one
  * answer per scan, so the table kind decides, not the files. */
class GraftMongoScan(tableName: String, required: StructType,
    dataDir: String, pushed: Array[Filter], bounds: Option[(Long, Long)],
    created: Boolean)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMongoScan($tableName, cols=[${required.fieldNames.mkString(",")}]" +
      (if (created) "" else s", pushed=[${pushed.mkString(",")}]") + ")"

  // resolve the snapshot pointer ONCE per scan (versioned collections);
  // the read then touches only immutable shard files
  private lazy val shards: Array[java.io.File] = {
    val fs = GraftMongoIO.shardFiles(dataDir).sortBy(_.getAbsolutePath)
    // a CREATEd collection (or a pinned version of one) may be empty;
    // an empty path for the demo collection means a misconfigured root
    require(created || fs.nonEmpty, s"empty document store at $dataDir")
    fs
  }
  private lazy val totalBytes = shards.map(_.length).sum

  /** The shard files' total bytes: what a full read opens. */
  override def estimateStatistics(): Statistics =
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(totalBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  /** One partition per shard file, unless the whole collection costs
    * no more than opening one file (`spark.sql.files.openCostInBytes`,
    * the file sources' own packing unit): then one partition reads
    * every shard, and the planner can treat the scan as a single
    * partition. */
  override def planInputPartitions(): Array[InputPartition] = {
    val paths = shards.map(_.getAbsolutePath).toSeq
    if (paths.length > 1 && totalBytes <= SQLConf.get.filesOpenCostInBytes)
      Array(GraftMongoInputPartition(paths))
    else paths.map(p => GraftMongoInputPartition(Seq(p))).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMongoReaderFactory(required, bounds, created)
}

case class GraftMongoInputPartition(paths: Seq[String]) extends InputPartition

class GraftMongoReaderFactory(required: StructType,
    bounds: Option[(Long, Long)], columnar: Boolean)
    extends PartitionReaderFactory {
  private def paths(partition: InputPartition) =
    partition.asInstanceOf[GraftMongoInputPartition].paths
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new GraftMongoShardsReader(paths(partition), required, bounds)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftLakeColumnarPartitionReader(paths(partition), 0, required,
      metrics = GraftMongoScanMetrics)
}

/** Reads a partition's wire-dump shard files one after another,
  * opening each only when the previous one is exhausted. */
class GraftMongoShardsReader(paths: Seq[String], required: StructType,
    bounds: Option[(Long, Long)])
    extends PartitionReader[InternalRow] {
  private val rest = paths.iterator
  private var cur: PartitionReader[InternalRow] = _

  override def next(): Boolean = {
    while (cur == null || !cur.next()) {
      close()
      cur = null
      if (!rest.hasNext) return false
      cur = new GraftMongoPartitionReader(rest.next(), required, bounds)
    }
    true
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Spec observability for the columnar collection reads (same role as
  * [[GraftLakeScanMetrics]] on the lake side): the lake reader adds to
  * these when it serves a CREATEd collection. */
object GraftMongoScanMetrics extends GraftReadCounters {
  val decodedColumns = new java.util.concurrent.atomic.AtomicLong()
  val metadataOnlyReads = new java.util.concurrent.atomic.AtomicLong()
  val batchesDecoded = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = {
    decodedColumns.set(0); metadataOnlyReads.set(0); batchesDecoded.set(0)
  }
}

/** Streams one shard of JSON-lines documents; decodes canonical
  * extended JSON per line with Jackson (executor-side, no Spark JSON
  * machinery — this IS the connector's wire decoder): `{"$date":
  * iso-instant}` → TimestampType micros, scalars by declared type,
  * absent/null fields → null. With pushed `_id` bounds, the `$date` is
  * checked FIRST and out-of-range documents are skipped whole — their
  * measure fields are never decoded. */
class GraftMongoPartitionReader(path: String, required: StructType,
    bounds: Option[(Long, Long)]) extends PartitionReader[InternalRow] {

  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(
      new java.io.FileInputStream(path),
      java.nio.charset.StandardCharsets.UTF_8))
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()
  private var row: InternalRow = _

  override def next(): Boolean = {
    row = null
    var line = reader.readLine()
    while (line != null && row == null) {
      if (line.trim.nonEmpty) {
        val doc = om.readTree(line)
        if (inBounds(doc)) row = decode(doc)
      }
      if (row == null) line = reader.readLine()
    }
    row != null
  }

  private def dateMicros(
      node: com.fasterxml.jackson.databind.JsonNode): Option[Long] = {
    val d = if (node == null || node.isNull) null else node.get("$date")
    if (d == null || d.isNull) None
    else {
      val inst = java.time.Instant.parse(d.asText)
      Some(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
    }
  }

  private def inBounds(
      doc: com.fasterxml.jackson.databind.JsonNode): Boolean =
    bounds.forall { case (lo, hi) =>
      dateMicros(doc.get("_id")).exists(m => m >= lo && m <= hi)
    }

  private def decode(
      doc: com.fasterxml.jackson.databind.JsonNode): InternalRow = {
    val values = required.fields.map { f =>
      val node = doc.get(f.name)
      if (node == null || node.isNull) null
      else f.dataType match {
        case TimestampType => dateMicros(node)
          .map(java.lang.Long.valueOf).orNull
        case DoubleType => java.lang.Double.valueOf(node.asDouble())
        case LongType => java.lang.Long.valueOf(node.asLong())
        case IntegerType => java.lang.Integer.valueOf(node.asInt())
        case BooleanType => java.lang.Boolean.valueOf(node.asBoolean())
        case StringType => UTF8String.fromString(node.asText)
        case other => throw new IllegalArgumentException(
          s"unsupported declared type for field ${f.name}: $other")
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def get(): InternalRow = row

  override def close(): Unit = reader.close()
}

/** The document-store mirror + catalog registration + the queries that
  * exercise the connector end-to-end. */
object Mongo {

  /** Build the weatherny document store from the harness `events`
    * table (the `fillMongoDB.ipynb` analog: the reference fills Mongo
    * from demo CSVs; here the daily "weather" measures are
    * DETERMINISTIC decimal-exact aggregates of events so the DuckDB
    * oracle can recompute them bit-for-bit). The synthetic events
    * calendar (Jan 2024) is shifted onto the orders calendar (Jan
    * 1995) so the federated demo joins land — the same trick as the
    * reference's weather and stock datasets sharing 2022 dates.
    * Cached under a content fingerprint ([[Memo.publish]]), like the
    * compaction fixture. */
  private def ensureStore(s: SparkSession, dir: String): String = {
    val src = new java.io.File(dir, "events.parquet")
    val key = s"graft-mongo-v1:$dir:${src.length}:${src.lastModified}"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_))
      .mkString
    Memo.publish(s"graft_mongo_$digest/weatherny") { d =>
      events(s, dir)
        .groupBy(to_date(col("ts")).as("d0"))
        .agg(
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("awnd"),
          count(lit(1)).cast(DoubleType).as("pgtm"),
          countDistinct(col("user_id")).cast(DoubleType).as("prcp"),
          min(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("snow"),
          max(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("snwd"),
          sum(pmod(col("user_id"), lit(7))).cast(DoubleType).as("tavg"),
          max(col("user_id")).cast(DoubleType).as("tmax"),
          min(col("user_id")).cast(DoubleType).as("tmin"))
        .selectExpr(
          """date_add(DATE '1995-01-02',
             CAST(datediff(d0, DATE '2024-01-01') AS INT)) AS day""",
          "awnd", "pgtm", "prcp", "snow", "snwd", "tavg", "tmax", "tmin")
        .select(to_json(struct(
          struct(concat(date_format(col("day"), "yyyy-MM-dd"),
            lit("T00:00:00Z")).as("$date")).as("_id"),
          col("awnd"), col("pgtm"), col("prcp"), col("snow"),
          col("snwd"), col("tavg"), col("tmax"), col("tmin")))
          .as("value"))
        .repartition(4)
        .write.mode("overwrite").text(d.getPath)
    }.getParent
  }

  /** Bind the document store as the named catalog `graft_mongo` —
    * conf-driven like [[Jdbc.registerCatalog]], force-loaded so SHOW
    * CATALOGS lists it. */
  def registerCatalog(s: SparkSession, dir: String): Unit = {
    val root = ensureStore(s, dir)
    s.conf.set("spark.sql.catalog.graft_mongo",
      classOf[GraftMongoCatalog].getName)
    if (s.conf.getOption("spark.sql.catalog.graft_mongo.path").isEmpty)
      s.conf.set("spark.sql.catalog.graft_mongo.path", root)
    s.sql("SHOW NAMESPACES IN graft_mongo").collect(): Unit
  }

  /** Declared-schema scan through the full custom connector stack
    * (catalog → table → pruned scan → partition readers). */
  val mongoCatalogScan: Q = (s, dir) => {
    registerCatalog(s, dir)
    s.sql(
      """SELECT CAST(_id AS DATE) AS day, awnd, pgtm, prcp, snow, snwd,
                tavg, tmax, tmin
         FROM graft_mongo.weather.weatherny ORDER BY day""")
  }

  private val weatherDuck: String =
    """SELECT DATE '1995-01-02'
           + CAST(d0 - DATE '2024-01-01' AS INTEGER) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS awnd,
         CAST(count(*) AS DOUBLE) AS pgtm,
         CAST(count(DISTINCT user_id) AS DOUBLE) AS prcp,
         CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS snow,
         CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS snwd,
         CAST(sum(user_id % 7) AS DOUBLE) AS tavg,
         CAST(max(user_id) AS DOUBLE) AS tmax,
         CAST(min(user_id) AS DOUBLE) AS tmin
       FROM (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS d0, user_id, value FROM events)
       GROUP BY 1"""

  val mongoCatalogScanOracle: String =
    s"""SELECT * FROM ($weatherDuck) ORDER BY day"""

  /** Datetime-range predicate ABSORBED by the connector
    * (SupportsPushDownFilters): the readers bounds-check the `$date`
    * field first and skip out-of-range documents without decoding
    * their measures — the `find({_id: {$gte,$lt}})` server-side-filter
    * analog. MongoCatalogSpec asserts the plan carries the pushed
    * predicates and leaves no residual Filter. */
  val mongoPushdownScan: Q = (s, dir) => {
    registerCatalog(s, dir)
    s.sql(
      """SELECT CAST(_id AS DATE) AS day, tavg, prcp
         FROM graft_mongo.weather.weatherny
         WHERE _id >= TIMESTAMP '1995-01-10 00:00:00'
           AND _id <  TIMESTAMP '1995-01-20 00:00:00'
         ORDER BY day""")
  }

  val mongoPushdownScanOracle: String =
    s"""SELECT day, tavg, prcp FROM ($weatherDuck)
       WHERE day >= DATE '1995-01-10' AND day < DATE '1995-01-20'
       ORDER BY day"""

  /** THE reference flagship, now at full fidelity: THREE catalogs in
    * one statement — the Mongo-analog document catalog, the live JDBC
    * catalog, and the parquet session catalog — joined on the
    * reference's own CROSS-TYPE key (`w._id = a.Date`,
    * `localTrinoTest.ipynb:119-121`: BSON datetime vs SQL DATE; Spark
    * coerces the date to a timestamp at the pinned-UTC session zone,
    * which matches the store's midnight-UTC `$date` values exactly). */
  val q1TriCatalog: Q = (s, dir) => {
    registerCatalog(s, dir)
    Jdbc.registerCatalog(s, dir)
    s.sql(
      s"""CREATE TABLE IF NOT EXISTS spark_catalog.default.graft_lineitem_cc
          USING parquet LOCATION '$dir/lineitem.parquet'""")
    s.sql(
      """SELECT CAST(w._id AS DATE) AS day, w.tavg,
                count(*) AS n_lines,
                count(DISTINCT o.O_ORDERKEY) AS n_orders,
                CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty
         FROM graft_mongo.weather.weatherny w
         JOIN graft_jdbc.APP.GRAFT_ORDERS o ON w._id = o.O_ORDERDATE
         JOIN spark_catalog.default.graft_lineitem_cc l
           ON l.l_orderkey = o.O_ORDERKEY
         GROUP BY 1, 2
         ORDER BY day""")
  }

  val q1TriCatalogOracle: String =
    s"""WITH w AS ($weatherDuck),
       o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
             FROM orders WHERE o_orderkey < 5000)
       SELECT w.day, w.tavg, count(*) AS n_lines,
         count(DISTINCT o.o_orderkey) AS n_orders,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_qty
       FROM w JOIN o ON w.day = o.od
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       GROUP BY 1, 2 ORDER BY day"""

  /** The INGEST direction at full TableCatalog fidelity — the
    * `fillMongoDB.ipynb` analog (reference loads CSVs INTO the document
    * store; queries then read them back): CREATE a collection through
    * the catalog (persisting its schemadef descriptor), INSERT
    * OVERWRITE a deterministic daily aggregate of orders through the
    * DSv2 write path (one Parquet part per write task, committed as
    * the collection's next snapshot), then read it back through the
    * same connector's pruned columnar scan. INSERT OVERWRITE (not
    * append) keeps the store idempotent across runs; the DuckDB oracle
    * recomputes the aggregate from orders directly, so a pass proves
    * the Parquet write and read round-trip is value-exact. */
  val mongoIngestRoundtrip: Q = (s, dir) => {
    registerCatalog(s, dir)
    s.sql(
      """CREATE TABLE IF NOT EXISTS graft_mongo.weather.orderdaily
         (_id TIMESTAMP, n_orders DOUBLE, total DOUBLE)""")
    s.sql(
      s"""INSERT OVERWRITE graft_mongo.weather.orderdaily
          SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS _id,
            CAST(count(*) AS DOUBLE) AS n_orders,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              AS total
          FROM parquet.`$dir/orders.parquet`
          WHERE o_orderkey < 5000
          GROUP BY 1""")
    s.sql(
      """SELECT CAST(_id AS DATE) AS day, n_orders, total
         FROM graft_mongo.weather.orderdaily ORDER BY day""")
  }

  val mongoIngestRoundtripOracle: String =
    """SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders WHERE o_orderkey < 5000
       GROUP BY 1 ORDER BY day"""

  val ops: Seq[Op] = Seq(
    Op("mongo_catalog_scan", mongoCatalogScan, mongoCatalogScanOracle),
    Op("mongo_pushdown_scan", mongoPushdownScan, mongoPushdownScanOracle),
    Op("mongo_ingest_roundtrip", mongoIngestRoundtrip,
      mongoIngestRoundtripOracle),
    Op("q1_tri_catalog", q1TriCatalog, q1TriCatalogOracle))
}
