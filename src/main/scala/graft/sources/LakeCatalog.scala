package graft.sources

import java.util.{Collections, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.Q
import graft.sources.Memo.rmTree

/** SQL `MERGE INTO` / `UPDATE` / `DELETE` as a FIRST-CLASS connector
  * capability — the DSv2 row-level-operation stack
  * (`SupportsRowLevelOperations`), implemented the way Iceberg/Delta
  * implement copy-on-write MERGE and exercised through Spark's own
  * planner: `RewriteMergeIntoTable` rewrites the statement into a
  * group-based `ReplaceData` plan, runtime group filtering
  * (`RowLevelOperationRuntimeGroupFiltering`) prunes the target scan
  * to the shards that can possibly match via a dynamic IN-subquery on
  * the `_shard` metadata column, and the connector's commit swaps
  * exactly the groups that were read (reference scope: stock Trino
  * ships MERGE; the demo's Postgres ingest `fill_postgresql.sql:12` is
  * the load-then-upsert direction).
  *
  * This complements [[graft.operators.Merge]] (the library-level
  * partition-pruned upsert): same copy-on-write semantics, but HERE
  * the user writes literal SQL and Spark's analyzer/optimizer drive
  * the rewrite — matched rows update, unmatched target rows in
  * affected groups carry over, inserts append, untouched groups keep
  * their files (LakeMergeSpec proves both the runtime pruning and the
  * byte-identical untouched files).
  *
  * Storage: IMMUTABLE VERSIONED snapshots ([[GraftLakeIO]]): one
  * COLUMNAR parquet file per shard (`v<N>/shard-K.parquet`,
  * K = floorMod(shard-key, nShards)) — the shard is the GROUP of the
  * group-based operation, the version dir the snapshot. Every commit
  * builds version N+1 completely (unchanged shards hardlinked),
  * stamps its commit time, and publishes with one atomic pointer
  * move, so table-level commits are atomic for concurrent readers and
  * the full history answers `VERSION AS OF` / `TIMESTAMP AS OF`
  * time travel through the catalog's loadTable overloads — the Delta/
  * Iceberg snapshot model on the [[GraftMongoTable]] wire format (the
  * rewrite/commit protocol, not the byte format, is what this file
  * demonstrates); concurrent writers resolve by optimistic
  * concurrency ([[GraftLakeIO.publishCas]]) — a commit built on a
  * stale snapshot fails cleanly instead of clobbering. Scale posture:
  * one task per shard on read, the replacement shuffle is bounded by
  * the affected groups' rows + the source batch, and commit
  * links/moves O(shards) files.
  */
class GraftLakeCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog with FunctionCatalog {

  // ---- catalog functions (storage-partitioned-join handshake) ----
  // Publishing the routing function under the catalog is what lets
  // V2ScanPartitioningAndOrdering resolve a lake scan's reported
  // `bucket(n, key)` transform: it loads `bucket` from THIS catalog
  // and compares the bound canonicalName across join sides.
  override def listFunctions(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || isLake(namespace))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var root: String = _

  // ---- catalog-persisted SQL views ([[GraftLakeViews]]) ----
  override def listViews(namespace: String*): Array[Identifier] =
    if (isLake(namespace.toArray))
      GraftLakeViews.list(root).map(n => Identifier.of(ns, n)).toArray
    else throw new NoSuchNamespaceException(namespace.toArray)

  override def loadView(ident: Identifier): View = {
    if (!isLake(ident.namespace()))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    GraftLakeViews.read(root, ident)
  }

  override def viewExists(ident: Identifier): Boolean =
    isLake(ident.namespace()) &&
      GraftLakeViews.viewFile(root, ident.name()).exists()

  override def createView(info: ViewInfo): View = {
    require(isLake(info.ident().namespace()),
      s"views live in the lake namespace, got " +
        info.ident().namespace().mkString("."))
    if (viewExists(info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident())
    require(!descriptorFile(info.ident().name()).exists(),
      s"${info.ident().name()} already exists as a table")
    GraftLakeViews.write(root, info)
    GraftLakeViews.read(root, info.ident())
  }

  override def alterView(ident: Identifier,
      changes: ViewChange*): View = {
    GraftLakeViews.applyChanges(root, ident, changes)
    GraftLakeViews.read(root, ident)
  }

  override def dropView(ident: Identifier): Boolean =
    isLake(ident.namespace()) &&
      GraftLakeViews.viewFile(root, ident.name()).delete()

  override def renameView(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    java.nio.file.Files.move(
      GraftLakeViews.viewFile(root, oldIdent.name()).toPath,
      GraftLakeViews.viewFile(root, newIdent.name()).toPath): Unit
  }

  /** Maintenance stored procedures (`CALL graft_lake.system.…`) —
    * see [[GraftLakeProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"no such procedure namespace: " +
        ident.namespace().mkString("."))
    GraftLakeProcedures.load(root, ident.name())
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftLakeProcedures.Names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("path")
    require(root != null,
      s"catalog $name needs spark.sql.catalog.$name.path (lake root)")
    new java.io.File(root).mkdirs(): Unit
  }

  override def name(): String = catalogName

  private val ns = Array("lake")
  private def isLake(s: Array[String]) = s.sameElements(ns)

  override def listNamespaces(): Array[Array[String]] = Array(ns)
  override def listNamespaces(parent: Array[String]): Array[Array[String]] =
    if (parent.isEmpty) Array(ns)
    else if (isLake(parent)) Array.empty
    else throw new NoSuchNamespaceException(parent)
  override def namespaceExists(namespace: Array[String]): Boolean =
    isLake(namespace)
  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] =
    if (isLake(namespace)) Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  private def unsupported = new UnsupportedOperationException(
    s"catalog $catalogName: unsupported catalog mutation")
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = throw unsupported
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = throw unsupported
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = throw unsupported

  private def descriptorFile(name: String) =
    new java.io.File(root, s"$name.lake.json")
  private def tableDir(name: String) = new java.io.File(root, name)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (isLake(namespace))
      Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".lake.json"))
        .map(_.getName.stripSuffix(".lake.json")).sorted
        .map(n => Identifier.of(ns, n))
    else throw new NoSuchNamespaceException(namespace)

  override def loadTable(ident: Identifier): Table = {
    // `<name>$changes` resolves the CHANGE-FEED metadata table of the
    // base table (Iceberg's `db.tbl.changes` idiom): same descriptor,
    // derived schema, batch + micro-batch streaming reads
    if (isLake(ident.namespace()) && ident.name().endsWith("$changes")) {
      val base = loadTable(Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$changes")))
        .asInstanceOf[GraftLakeTable]
      return new GraftLakeChangesTable(base)
    }
    // `<name>$files` / `<name>$refs` — the storage/observability
    // metadata tables (Trino-on-Iceberg's `table$files` / `table$refs`
    // idiom): the head snapshot's part-file inventory (footer metadata
    // only, no data pages) and the named-tag registry. Driver-built
    // rows through a LocalScan — O(parts)/O(tags) metadata, never a
    // data path.
    if (isLake(ident.namespace()) && ident.name().endsWith("$files")) {
      val base = loadTable(Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$files")))
        .asInstanceOf[GraftLakeTable]
      val out = StructType(Seq(
        StructField("shard", IntegerType, nullable = false),
        StructField("seq", IntegerType, nullable = false),
        StructField("file", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("n_deleted", LongType, nullable = false)))
      return new GraftLakeLocalTable(s"${base.tableName}$$files", out,
        () => {
          val vdir = GraftLakeIO.versionDir(base.dataDir,
            GraftLakeIO.latestVersion(base.dataDir))
          val dv = GraftLakeIO.readDv(vdir)
          GraftLakeIO.allShardParts(vdir).toSeq.sortBy(_._1)
            .flatMap { case (k, parts) =>
              parts.zipWithIndex.map { case (f, i) =>
                val seq = "\\.p(\\d+)\\.parquet$".r
                  .findFirstMatchIn(f.getName)
                  .map(_.group(1).toInt).getOrElse(0)
                // the shard-level deletion count rides on the first
                // part row (vector positions span the concatenation)
                val del = if (i == 0)
                  dv.get(k).map(_.getCardinality.toLong).getOrElse(0L)
                else 0L
                new GenericInternalRow(Array[Any](k, seq,
                  UTF8String.fromString(f.getName),
                  GraftShardCodec.footer(f)._2, f.length(), del))
                  : InternalRow
              }
            }.toArray
        })
    }
    if (isLake(ident.namespace()) && ident.name().endsWith("$refs")) {
      val name = ident.name().stripSuffix("$refs")
      if (!descriptorFile(name).exists())
        throw new NoSuchTableException(ident)
      val out = StructType(Seq(
        StructField("tag", StringType, nullable = false),
        StructField("version", IntegerType, nullable = false)))
      return new GraftLakeLocalTable(s"$name$$refs", out,
        () => GraftLakeIO.readRefs(tableDir(name).getPath)
          .toSeq.sortBy(_._1).map { case (tag, v) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(tag), v)): InternalRow
          }.toArray)
    }
    if (!isLake(ident.namespace()) || !descriptorFile(ident.name()).exists())
      throw new NoSuchTableException(ident)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val d = om.readTree(java.nio.file.Files.readString(
      descriptorFile(ident.name()).toPath))
    // WRITE-AUDIT-PUBLISH: when the session pins a branch (the Iceberg
    // `spark.wap.branch` idiom), tables that HAVE that branch resolve
    // reads AND writes against the branch's sub-store — main readers
    // in other sessions keep seeing the published head. Tables without
    // the branch are untouched, so an unrelated query under the same
    // session conf never silently redirects.
    val mainDir = tableDir(ident.name()).getPath
    val branch = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.lake.branch", "")
    val resolvedDir =
      if (branch.nonEmpty &&
          GraftLakeIO.readBranches(mainDir).contains(branch))
        GraftLakeIO.branchDir(mainDir, branch).getPath
      else mainDir
    new GraftLakeTable(ident.name(),
      DataType.fromJson(d.get("schema").asText()).asInstanceOf[StructType],
      resolvedDir,
      d.get("shardKey").asText(), d.get("nShards").asInt(),
      Option(d.get("shardWidth")).map(_.asLong()).getOrElse(0L),
      pinnedVersion = None,
      deleteMode = Option(d.get("deleteMode")).map(_.asText())
        .getOrElse("copy-on-write"),
      updateMode = Option(d.get("updateMode")).map(_.asText())
        .getOrElse("copy-on-write"),
      mergeMode = Option(d.get("mergeMode")).map(_.asText())
        .getOrElse("copy-on-write"),
      bloomCols = Option(d.get("bloomColumns")).map(_.asText())
        .filter(_.nonEmpty).fold(Seq.empty[String])(_.split(",").toSeq),
      writeDistribution = Option(d.get("writeDistribution"))
        .map(_.asText()).getOrElse("none"),
      upsertMode = Option(d.get("upsertMode"))
        .map(_.asText()).getOrElse("none"),
      upsertKeysDecl = Option(d.get("upsertKeys")).map(_.asText())
        .filter(_.nonEmpty)
        .fold(Seq.empty[String])(_.split(",").toSeq))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String])
      : Table = {
    if (!isLake(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    if (descriptorFile(ident.name()).exists())
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
    val shardKey = Option(properties.get("shard_key")).getOrElse(
      schema.fields.head.name)
    val nShards = Option(properties.get("n_shards")).map(_.toInt)
      .getOrElse(8)
    // shard_width > 0 switches routing from hash (floorMod) to RANGE
    // clustering (floorDiv(key, width), clamped): shard files then hold
    // contiguous key ranges, which is what makes the per-shard min/max
    // zone maps ([[GraftLakeIO.readStats]]) actually skip files on
    // range predicates — the lakehouse CLUSTER BY layout.
    val shardWidth0 = Option(properties.get("shard_width")).map(_.toLong)
      .getOrElse(0L)
    // hidden partitioning: `shard_key = 'days(col)'` / `'months(col)'`
    // routes by the DERIVED value of a TIMESTAMP column
    // ([[GraftLakeTransform]]); width defaults to one derived unit
    val (shardTransform, shardKeyCol) = GraftLakeTransform.parse(shardKey)
    val shardWidth =
      if (shardTransform.nonEmpty && shardWidth0 == 0L) 1L
      else shardWidth0
    require(schema.fieldNames.contains(shardKeyCol),
      s"shard_key $shardKeyCol not in schema")
    if (shardTransform.nonEmpty)
      require(schema(shardKeyCol).dataType == TimestampType,
        s"shard_key $shardTransform($shardKeyCol) requires a " +
          s"TIMESTAMP column, got ${schema(shardKeyCol).dataType.sql}")
    else
      require(schema(shardKeyCol).dataType == LongType ||
        schema(shardKeyCol).dataType == IntegerType,
        s"shard_key $shardKeyCol must be integral")
    // Per-command row-level strategy (the Iceberg `write.delete.mode`
    // / `write.update.mode` / `write.merge.mode` table properties):
    // copy-on-write rewrites affected shards; merge-on-read records
    // deletion vectors (+ appends the replacement rows) and never
    // rewrites unmatched data
    def modeProp(p: String): String = {
      val m = Option(properties.get(p)).getOrElse("copy-on-write")
      require(m == "copy-on-write" || m == "merge-on-read",
        s"$p must be copy-on-write or merge-on-read, got $m")
      m
    }
    val deleteMode = modeProp("delete_mode")
    val updateMode = modeProp("update_mode")
    val mergeMode = modeProp("merge_mode")
    // `bloom_columns`: per-shard bloom sidecars for equality/IN file
    // skipping ([[GraftLakeBloom]]); integral/date/string columns only
    // (float equality would trip over NaN/-0.0 — same refusal as the
    // zone maps' NaN discipline)
    val bloomCols = Option(properties.get("bloom_columns"))
      .filter(_.nonEmpty).fold(Seq.empty[String])(_.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty))
    // `write_distribution = clustered`: batch writes DECLARE
    // `Distributions.clustered(bucket(n, key))` so Spark shuffles the
    // input with the catalog's own routing function before the write
    // — every shard's rows arrive at one task (Iceberg's
    // write.distribution-mode=hash). Hash-routed tables only: range
    // clustering has no catalog-function equivalent.
    val writeDistribution =
      Option(properties.get("write_distribution")).getOrElse("none")
    require(writeDistribution == "none" ||
      writeDistribution == "clustered",
      s"write_distribution must be none or clustered, " +
        s"got $writeDistribution")
    require(writeDistribution == "none" || shardWidth == 0L,
      "write_distribution=clustered requires hash routing " +
        "(no shard_width)")
    bloomCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"bloom_columns: no such column $c")
      require(Seq(LongType, IntegerType, ShortType, DateType,
        StringType).contains(schema(c).dataType),
        s"bloom_columns: $c must be integral/date/string, got " +
          schema(c).dataType.sql)
    }
    // `write_upsert = equality-delete`: every append is an UPSERT on
    // the upsert key (last writer wins) via Iceberg-style equality
    // deletes ([[GraftLakeIO.readEqDel]]); batches must be key-unique.
    // The key defaults to the shard key; `upsert_keys` declares a
    // COMPOSITE key (round 14 — real CDC keys are composite and
    // string-typed). It must INCLUDE the shard key: routing is by
    // shard key, and a key that didn't determine its shard could land
    // a new version where the mask can't see the old one.
    val upsertMode =
      Option(properties.get("write_upsert")).getOrElse("none")
    require(upsertMode == "none" || upsertMode == "equality-delete",
      s"write_upsert must be none or equality-delete, got $upsertMode")
    require(upsertMode == "none" || (shardTransform.isEmpty &&
      schema(shardKeyCol).dataType == LongType),
      "write_upsert=equality-delete requires a plain BIGINT shard key")
    val upsertKeys = Option(properties.get("upsert_keys"))
      .filter(_.nonEmpty)
      .fold(Seq.empty[String])(_.split(",").toSeq.map(_.trim))
    if (upsertKeys.nonEmpty) {
      require(upsertMode == "equality-delete",
        "upsert_keys requires write_upsert=equality-delete")
      require(upsertKeys.contains(shardKeyCol),
        s"upsert_keys must include the shard key $shardKeyCol — the " +
          "key must determine the shard a version routes to")
      require(upsertKeys.distinct == upsertKeys,
        s"upsert_keys has duplicates: ${upsertKeys.mkString(",")}")
      upsertKeys.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"upsert_keys: no such column $c")
        require(Seq(LongType, IntegerType, DateType, StringType)
          .contains(schema(c).dataType),
          s"upsert_keys: $c must be integral/date/string, got " +
            schema(c).dataType.sql)
      }
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val d = om.createObjectNode()
    d.put("schema", schema.json): Unit
    d.put("shardKey", shardKey): Unit
    d.put("nShards", nShards): Unit
    d.put("shardWidth", shardWidth): Unit
    d.put("deleteMode", deleteMode): Unit
    d.put("updateMode", updateMode): Unit
    d.put("mergeMode", mergeMode): Unit
    if (bloomCols.nonEmpty)
      d.put("bloomColumns", bloomCols.mkString(",")): Unit
    if (writeDistribution != "none")
      d.put("writeDistribution", writeDistribution): Unit
    if (upsertMode != "none")
      d.put("upsertMode", upsertMode): Unit
    if (upsertKeys.nonEmpty)
      d.put("upsertKeys", upsertKeys.mkString(",")): Unit
    tableDir(ident.name()).mkdirs()
    java.nio.file.Files.writeString(descriptorFile(ident.name()).toPath,
      om.writeValueAsString(d))
    loadTable(ident)
  }

  /** Time travel: `VERSION AS OF n` resolves a pinned read-only
    * snapshot (0 = the empty pre-insert table). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident).asInstanceOf[GraftLakeTable]
    val mainDir = tableDir(ident.name()).getPath
    // `VERSION AS OF` accepts a version id, a NAMED TAG (Iceberg
    // tags / Trino `FOR VERSION AS OF 'name'`), or a BRANCH name —
    // a branch resolves to the branch's CURRENT head (the audit
    // read of unpublished work); tags/ids resolve through
    // `_refs.json` / the version dirs as before
    if (version.toIntOption.isEmpty &&
        GraftLakeIO.readBranches(mainDir).contains(version))
      return t.withDataDir(
        GraftLakeIO.branchDir(mainDir, version).getPath)
    val v = version.toIntOption.getOrElse {
      GraftLakeIO.readRefs(mainDir)
        .getOrElse(version, throw new IllegalArgumentException(
          s"${ident.name()}: '$version' is neither a version id " +
            "nor a known tag/branch"))
    }
    // tags and explicit version ids are MAIN-HISTORY coordinates
    // (tag ids come from main's _refs.json; Iceberg snapshot ids are
    // branch-agnostic) — under a `spark.graft.lake.branch` session
    // pin, loadTable(ident) resolved t.dataDir to the BRANCH
    // sub-store, and validating/pinning a main version number against
    // branch history would read the wrong snapshot or throw a
    // spurious out-of-range error. Re-anchor to main.
    val tm = if (t.dataDir == mainDir) t else t.withDataDir(mainDir)
    val latest = GraftLakeIO.latestVersion(mainDir)
    require(v >= 0 && v <= latest,
      s"${ident.name()}: version $v out of range 0..$latest")
    require(v == 0 || GraftLakeIO.versionDir(mainDir, v).exists(),
      s"${ident.name()}: version $v has been expired")
    tm.withPinned(v)
  }

  /** `TIMESTAMP AS OF t` (micros since epoch, Spark's contract): the
    * newest SURVIVING version committed at or before t. Candidates are
    * restricted to versions whose dir still exists — an expired
    * version's commitMicros reads Long.MinValue, which would otherwise
    * pass the <= filter and resolve to a dir-less snapshot served as
    * zero rows. If t falls before the oldest surviving commit AND
    * history has been expired, the state at t is unknowable — fail
    * LOUDLY, matching the VERSION AS OF overload's contract. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = loadTable(ident).asInstanceOf[GraftLakeTable]
    val dir = tableDir(ident.name()).getPath
    val latest = GraftLakeIO.latestVersion(dir)
    val surviving = (1 to latest)
      .filter(GraftLakeIO.versionDir(dir, _).exists())
    val v = surviving
      .filter(GraftLakeIO.commitMicros(dir, _) <= timestamp)
      .maxOption.getOrElse {
        // no surviving snapshot at or before t: only the empty v0
        // pre-insert state qualifies, and only if v1 itself survives
        // (nothing expired below t)
        if (latest >= 1 && !GraftLakeIO.versionDir(dir, 1).exists())
          throw new IllegalArgumentException(
            s"${ident.name()}: no snapshot at or before timestamp " +
              s"$timestamp survives — history up to that point has " +
              "been expired (oldest surviving commit: " +
              surviving.headOption.map(sv =>
                s"v$sv at ${GraftLakeIO.commitMicros(dir, sv)}")
                .getOrElse("none") + ")")
        0
      }
    t.withPinned(v)
  }

  /** SCHEMA EVOLUTION — `ALTER TABLE … ADD/DROP COLUMN`, the
    * metadata-only way (Trino/Iceberg semantics): only the descriptor
    * changes, NO data file rewrites. The JSON-lines reader projects
    * through the CURRENT declared schema — a field absent in old
    * files reads as NULL (add), a field no longer declared is never
    * parsed (drop) — so history remains readable through every schema
    * the table has had. The shard key cannot be dropped. Other change
    * kinds (renames, type changes) are refused, not mangled. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val t = loadTable(ident).asInstanceOf[GraftLakeTable]
    var schema = t.schema()
    var shardKey = t.shardKey
    var nShards = t.nShards
    var shardWidth = t.shardWidth
    var bloomCols = t.bloomCols
    var writeDistribution = t.writeDistribution
    changes.foreach {
      case p: TableChange.SetProperty
          if p.property() == "write_distribution" =>
        require(p.value() == "none" || p.value() == "clustered",
          s"write_distribution must be none or clustered, " +
            s"got ${p.value()}")
        writeDistribution = p.value()
      // enabling bloom filters LATER is safe by the commit-side
      // intersection rule: shards written before the change stay
      // entry-less (never skipped) until fully rewritten
      case p: TableChange.SetProperty
          if p.property() == "bloom_columns" =>
        bloomCols = Option(p.value()).filter(_.nonEmpty)
          .fold(Seq.empty[String])(_.split(",").toSeq
            .map(_.trim).filter(_.nonEmpty))
      // `ALTER TABLE … SET TBLPROPERTIES ('shard_width'='…')` switches
      // the ROUTING of future writes (hash ↔ range clustering) without
      // touching data: existing shard files keep their layout, and the
      // zone maps stay sound either way because they record OBSERVED
      // ranges, never routing-derived ones. A follow-up self
      // `INSERT OVERWRITE` rewrites the table under the new clustering
      // (the OPTIMIZE/CLUSTER BY migration — lake_recluster_skip).
      case p: TableChange.SetProperty if p.property() == "shard_width" =>
        shardWidth = p.value().toLong
      // PARTITION-SPEC EVOLUTION (Iceberg `REPLACE PARTITION FIELD`,
      // the hidden-transform half): `SET TBLPROPERTIES
      // ('shard_key'='months(ts)')` on a `days(ts)` table re-routes
      // FUTURE writes by the new transform without touching data.
      // Soundness falls out of the existing provenance discipline:
      // old shards keep their `days:<w>:<n>` tags — which every
      // pruning path already treats as never-prunable-by-probe
      // (transform tags parse to None in routeUnder, SPJ demands
      // `hash:<n>`, sorted claims refuse transforms) — so they degrade
      // to effectively-mixed, while ts zone maps record OBSERVED
      // ranges and keep skipping on BOTH generations. Append-merging
      // new rows into an old shard degrades its tag to literal
      // "mixed" (tag != currentTag at commit). Restricted to
      // transform→transform over the SAME raw column: plain-key
      // changes are refused because plain routing tags (`hash:<n>`)
      // do not record WHICH column routed the shard, so a carried
      // tag could string-match the new routing and mis-prune.
      case p: TableChange.SetProperty if p.property() == "shard_key" =>
        shardKey = p.value()
      // n_shards evolution: sound for non-upsert tables because every
      // pruning decision routes under the SHARD'S OWN recorded tag
      // (which embeds the n it was written with), never the current
      // one; scans enumerate shards from the directory, not 0..n-1.
      case p: TableChange.SetProperty if p.property() == "n_shards" =>
        nShards = p.value().toInt
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "lake schema evolution: nested column adds unsupported")
        require(a.isNullable,
          "lake schema evolution: added columns must be nullable " +
            "(existing rows have no value for them)")
        schema = schema.add(a.fieldNames()(0), a.dataType(),
          nullable = true)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "lake schema evolution: nested column drops unsupported")
        val name = d.fieldNames()(0)
        // parse-aware: the routing column of `days(ts)` is `ts`
        require(name != GraftLakeTransform.parse(shardKey)._2,
          s"lake schema evolution: cannot drop the shard key $name")
        require(schema.fieldNames.contains(name),
          s"no such column $name")
        schema = StructType(schema.filterNot(_.name == name))
      case other => throw new UnsupportedOperationException(
        s"lake schema evolution: unsupported change $other")
    }
    // partition-spec evolution validation, against the FINAL state so
    // it composes with other changes in the same ALTER
    if (shardKey != t.shardKey) {
      require(t.upsertMode == "none",
        "partition-spec evolution: shard_key is frozen on " +
          "write_upsert=equality-delete tables (upsert masking " +
          "requires every key version to route to the same shard)")
      val (oldT, oldC) = GraftLakeTransform.parse(t.shardKey)
      val (newT, newC) = GraftLakeTransform.parse(shardKey)
      require(oldT.nonEmpty && newT.nonEmpty,
        s"partition-spec evolution: only hidden-transform changes " +
          s"(days(col) <-> months(col)) are supported; " +
          s"'${t.shardKey}' -> '$shardKey' would re-route by a key " +
          "the recorded per-shard provenance tags cannot distinguish" +
          " — rewrite into a new table (INSERT OVERWRITE) instead")
      require(oldC == newC,
        s"partition-spec evolution: the raw routing column must stay " +
          s"the same (got $oldC -> $newC) — tags do not record the " +
          "column, so old shards could mis-prune under the new one")
      require(schema.fieldNames.contains(newC) &&
        schema(newC).dataType == TimestampType,
        s"shard_key $newT($newC) requires a TIMESTAMP column")
      if (shardWidth <= 0L) shardWidth = 1L
    }
    if (nShards != t.nShards) {
      require(t.upsertMode == "none",
        "partition-spec evolution: n_shards is frozen on " +
          "write_upsert=equality-delete tables (a re-routed key " +
          "version could no longer mask its older copy)")
      require(nShards > 0, s"n_shards must be positive, got $nShards")
    }
    // same loud DDL refusal as createTable: a typo'd or float column
    // set via ALTER must fail here, not silently never build filters.
    // Validated against the FINAL schema so ADD COLUMN + SET property
    // in one ALTER composes.
    bloomCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"bloom_columns: no such column $c")
      require(Seq(LongType, IntegerType, ShortType, DateType,
        StringType).contains(schema(c).dataType),
        s"bloom_columns: $c must be integral/date/string, got " +
          schema(c).dataType.sql)
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = om.createObjectNode()
    doc.put("schema", schema.json): Unit
    doc.put("shardKey", shardKey): Unit
    doc.put("nShards", nShards): Unit
    doc.put("shardWidth", shardWidth): Unit
    doc.put("deleteMode", t.deleteMode): Unit
    doc.put("updateMode", t.updateMode): Unit
    doc.put("mergeMode", t.mergeMode): Unit
    if (bloomCols.nonEmpty)
      doc.put("bloomColumns", bloomCols.mkString(",")): Unit
    if (writeDistribution != "none")
      doc.put("writeDistribution", writeDistribution): Unit
    // carry the upsert mode THROUGH the rewrite: alterTable
    // re-serializes the whole descriptor, and dropping this field
    // would silently turn an equality-delete table back into plain
    // appends — duplicate/stale rows with no error anywhere
    if (t.upsertMode != "none")
      doc.put("upsertMode", t.upsertMode): Unit
    if (t.upsertMode != "none" && t.upsertKeys != Seq(t.shardKey))
      doc.put("upsertKeys", t.upsertKeys.mkString(",")): Unit
    // a dropped column may not be an upsert key part
    if (t.upsertMode != "none")
      t.upsertKeys.foreach(c =>
        require(schema.fieldNames.contains(c),
          s"lake schema evolution: cannot drop upsert key column $c"))
    // atomic descriptor swap: readers see old or new schema, no torn doc
    val tmp = new java.io.File(root,
      s"${ident.name()}.lake.json.tmp${ProcessHandle.current().pid()}")
    java.nio.file.Files.writeString(tmp.toPath, om.writeValueAsString(doc))
    java.nio.file.Files.move(tmp.toPath,
      descriptorFile(ident.name()).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (isLake(ident.namespace()) && descriptorFile(ident.name()).exists()) {
      rmTree(tableDir(ident.name()))
      descriptorFile(ident.name()).delete()
    } else false

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = throw unsupported
}

/** One shard-filed lake table; the row-level-operation entry point.
  * `pinnedVersion` is Some(v) for a time-travel load — read-only,
  * resolving that snapshot instead of the pointer. */
class GraftLakeTable(private[sources] val tableName: String,
    private[sources] val declared: StructType,
    private[sources] val dataDir: String,
    val shardKey: String, val nShards: Int,
    val shardWidth: Long = 0L,
    val pinnedVersion: Option[Int] = None,
    val deleteMode: String = "copy-on-write",
    val updateMode: String = "copy-on-write",
    val mergeMode: String = "copy-on-write",
    val bloomCols: Seq[String] = Nil,
    val writeDistribution: String = "none",
    val upsertMode: String = "none",
    private val upsertKeysDecl: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with SupportsDeleteV2 {

  /** The equality-delete upsert key columns, in declared order:
    * `upsert_keys` when set, else the shard key alone. */
  val upsertKeys: Seq[String] =
    if (upsertKeysDecl.nonEmpty) upsertKeysDecl else Seq(shardKey)

  override def name(): String =
    pinnedVersion.fold(tableName)(v => s"$tableName@v$v")
  override def schema(): StructType = declared

  /** The DDL-visible table properties (`SHOW TBLPROPERTIES`,
    * `DESCRIBE TABLE EXTENDED`) — the same keys CREATE TABLE accepts,
    * round-tripped, so a user can inspect a table's layout and write
    * semantics without reading descriptor files. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("shard_key", shardKey): Unit
    m.put("n_shards", nShards.toString): Unit
    if (shardWidth > 0L) m.put("shard_width", shardWidth.toString): Unit
    if (deleteMode != "copy-on-write")
      m.put("delete_mode", deleteMode): Unit
    if (updateMode != "copy-on-write")
      m.put("update_mode", updateMode): Unit
    if (mergeMode != "copy-on-write")
      m.put("merge_mode", mergeMode): Unit
    if (bloomCols.nonEmpty)
      m.put("bloom_columns", bloomCols.mkString(",")): Unit
    if (writeDistribution != "none")
      m.put("write_distribution", writeDistribution): Unit
    if (upsertMode != "none") {
      m.put("write_upsert", upsertMode): Unit
      if (upsertKeys != Seq(shardKey))
        m.put("upsert_keys", upsertKeys.mkString(",")): Unit
    }
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (pinnedVersion.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.STREAMING_WRITE)

  private[sources] def withPinned(v: Int): GraftLakeTable =
    new GraftLakeTable(tableName, declared, dataDir, shardKey, nShards,
      shardWidth, Some(v), deleteMode, updateMode, mergeMode,
      bloomCols, writeDistribution, upsertMode, upsertKeysDecl)

  /** The same table resolved against another dataDir — a branch's
    * `_branch_<name>/` sub-store (write-audit-publish). */
  private[sources] def withDataDir(dir: String): GraftLakeTable =
    new GraftLakeTable(tableName, declared, dir, shardKey, nShards,
      shardWidth, pinnedVersion, deleteMode, updateMode, mergeMode,
      bloomCols, writeDistribution, upsertMode, upsertKeysDecl)

  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = "_shard"
      override def dataType(): DataType = IntegerType
      override def isNullable: Boolean = false
      override def comment(): String =
        "group id: floorMod(shard-key, nShards) = the rewrite unit"
    }, new MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row ordinal within the shard's parquet file — stable across " +
          "appends and deletion-vector commits; the merge-on-read " +
          "DELETE row id"
    })

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // TABLESAMPLE SYSTEM: the optimizer rule precomputed the
    // surviving shard ids from metadata and delivers them as a read
    // option — unsampled shards are never planned
    val sample = Option(options.get("graft.sample_shards"))
      .map(_.split(",").iterator.filter(_.nonEmpty)
        .map(_.trim.toInt).toSet)
    new GraftLakeScanBuilder(declared, dataDir, pinnedVersion, None,
      shardKey, nShards, upsertKeys, sample)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"$tableName: a time-travel snapshot is read-only")
    new GraftLakeWriteBuilder(this, dataDir, info, None)
  }

  // ---- METADATA-ONLY DELETE (SupportsDeleteV2) ----
  // Trino's partition-drop semantics: when a DELETE's predicates
  // provably split every shard into FULLY-MATCHING or ZERO-MATCHING
  // (shard-key zone maps + parquet-footer null counts — metadata
  // only), Spark's OptimizeMetadataOnlyDeleteFromTable skips the
  // rewrite job entirely and the commit just DROPS the matching
  // shards' files. No scan, no write tasks, no data I/O — deleting an
  // aligned key range from a range-clustered 100 TB table is one
  // snapshot commit of hardlinks. Any shard the metadata can't prove
  // whole makes canDeleteWhere return false and the statement falls
  // back to the row-level path (group rewrite or deletion vectors).

  /** Conjuncts usable for whole-shard classification: `(op, lit)` on
    * the SHARD KEY, literal-first forms normalized. None = a shape we
    * can't prove, so no metadata delete. */
  private def keyConjuncts(
      predicates: Array[V2Predicate]): Option[Seq[(String, Long)]] = {
    val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
      "=" -> "=")
    def lit(x: Any): Option[Long] = x match {
      case l: V2Literal[_] => l.value() match {
        case i: java.lang.Integer => Some(i.longValue())
        case l2: java.lang.Long => Some(l2.longValue())
        case s: java.lang.Short => Some(s.longValue())
        case _ => None
      }
      case _ => None
    }
    def isKey(x: Any): Boolean = x match {
      case r: NamedReference =>
        r.fieldNames().sameElements(Array(shardKey))
      case _ => false
    }
    val out = predicates.toSeq.map { p =>
      if (!flip.contains(p.name()) || p.children().length != 2)
        return None
      (p.children()(0), p.children()(1)) match {
        case (k, v) if isKey(k) =>
          lit(v).map(l => (p.name(), l)).getOrElse(return None)
        case (v, k) if isKey(k) =>
          lit(v).map(l => (flip(p.name()), l)).getOrElse(return None)
        case _ => return None
      }
    }
    Some(out)
  }

  /** Per shard: Some(true) = every row provably matches the whole
    * conjunction, Some(false) = provably none does, None = unknowable
    * from metadata. Sound under deletion vectors (zone maps bound a
    * superset of the live rows) and under NULL keys (a footer-counted
    * NULL key row satisfies no conjunct, so a shard carrying one can
    * never be "all match"). */
  private def classifyShards(conjuncts: Seq[(String, Long)],
      vdir: java.io.File): Option[Map[Int, Boolean]] = {
    val stats = GraftLakeIO.readStats(vdir)
    val partsAll = GraftLakeIO.allShardParts(vdir)
    val out = Map.newBuilder[Int, Boolean]
    partsAll.foreach { case (k, parts) =>
      val r = stats.get(k).flatMap(_.get(shardKey))
        .getOrElse(return None) // pre-stats shard: unknowable
      if (GraftLakeIO.rangeUnusable(r)) return None
      val keyNulls = parts.iterator.map { f =>
        val (schema, rows, nulls) = GraftShardCodec.footerWithNulls(f)
        if (!schema.containsField(shardKey)) rows
        else nulls.getOrElse(shardKey, None).getOrElse(return None)
      }.sum
      val verdicts = conjuncts.map { case (op, b) =>
        val (lo, hi) = (r.minL, r.maxL)
        op match {
          case "<" =>
            if (hi < b && keyNulls == 0L) Some(true)
            else if (lo >= b) Some(false) else None
          case "<=" =>
            if (hi <= b && keyNulls == 0L) Some(true)
            else if (lo > b) Some(false) else None
          case ">" =>
            if (lo > b && keyNulls == 0L) Some(true)
            else if (hi <= b) Some(false) else None
          case ">=" =>
            if (lo >= b && keyNulls == 0L) Some(true)
            else if (hi < b) Some(false) else None
          case "=" =>
            if (lo == b && hi == b && keyNulls == 0L) Some(true)
            else if (b < lo || b > hi) Some(false) else None
          case _ => None
        }
      }
      if (verdicts.contains(Some(false))) out += k -> false
      else if (verdicts.forall(_ == Some(true))) out += k -> true
      else return None
    }
    Some(out.result())
  }

  override def canDeleteWhere(
      predicates: Array[V2Predicate]): Boolean =
    pinnedVersion.isEmpty && predicates.nonEmpty &&
      keyConjuncts(predicates).exists { cs =>
        val vdir = GraftLakeIO.versionDir(dataDir,
          GraftLakeIO.latestVersion(dataDir))
        classifyShards(cs, vdir).isDefined
      }

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    val cs = keyConjuncts(predicates).getOrElse(
      throw new IllegalStateException(
        "deleteWhere called with unprovable predicates"))
    var attempts = 0
    while (true) {
      val headV = GraftLakeIO.latestVersion(dataDir)
      val headDir = GraftLakeIO.versionDir(dataDir, headV)
      // re-classify against THIS head: a concurrent commit may have
      // added rows that break the whole-shard alignment
      val cls = classifyShards(cs, headDir).getOrElse(
        throw new GraftLakeCommitConflict(
          s"$dataDir: a concurrent write made the metadata delete " +
            "unprovable — re-run the DELETE"))
      val dropped = cls.collect { case (k, true) => k }.toSet
      if (dropped.isEmpty) return // nothing matches: no commit
      val droppedFiles = dropped
        .flatMap(k => GraftLakeIO.shardParts(headDir, k))
        .map(_.getName)
      val build = GraftLakeIO.newBuildDir(dataDir)
      try {
        Option(headDir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName != "_commit" &&
            f.getName != GraftLakeIO.dvFile(headDir).getName &&
            !droppedFiles.contains(f.getName))
          .foreach { f =>
            val dst = new java.io.File(build, f.getName)
            try java.nio.file.Files.createLink(dst.toPath, f.toPath): Unit
            catch {
              case _: UnsupportedOperationException |
                  _: java.io.IOException =>
                java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
            }
          }
        GraftLakeIO.writeDv(build,
          GraftLakeIO.readDv(headDir) -- dropped)
        GraftLakeIO.writeCommitMeta(build,
          GraftLakeIO.nextCommitStamp(dataDir, headV), "delete")
        GraftLakeIO.commitVersion(dataDir, headV, build): Unit
        return
      } catch {
        case _: GraftLakeCommitConflict if attempts < 5 =>
          attempts += 1 // lost the CAS race: re-classify on new head
        case e: Throwable =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          if (build.exists()) rm(build)
          throw e
      }
    }
  }

  /** `TRUNCATE TABLE` — trivially metadata-only: a fresh empty
    * snapshot carrying just the streaming txn watermarks (sink
    * idempotence state survives truncation, Delta's SetTransaction
    * rule). The default SupportsDeleteV2 implementation would route
    * an always-true predicate through the shard prover, which
    * rightly refuses shapes it can't attribute to the shard key. */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      s"$tableName: a time-travel snapshot is read-only")
    var attempts = 0
    while (true) {
      val headV = GraftLakeIO.latestVersion(dataDir)
      val build = GraftLakeIO.newBuildDir(dataDir)
      try {
        val txns = GraftLakeIO.readTxns(
          GraftLakeIO.versionDir(dataDir, headV))
        if (txns.nonEmpty) GraftLakeIO.writeTxns(build, txns)
        GraftLakeIO.writeCommitMeta(build,
          GraftLakeIO.nextCommitStamp(dataDir, headV), "truncate")
        GraftLakeIO.commitVersion(dataDir, headV, build): Unit
        return true
      } catch {
        case _: GraftLakeCommitConflict if attempts < 5 =>
          attempts += 1
        case e: Throwable =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          if (build.exists()) rm(build)
          throw e
      }
    }
    false // unreachable
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"$tableName: a time-travel snapshot is read-only")
    // a command whose configured mode is merge-on-read takes the
    // DELTA path (position deletes into a deletion-vector sidecar +
    // replacement-row appends — unmatched data never rewrites);
    // copy-on-write commands keep the group-based rewrite
    val mode = info.command() match {
      case RowLevelOperation.Command.DELETE => deleteMode
      case RowLevelOperation.Command.UPDATE => updateMode
      case RowLevelOperation.Command.MERGE => mergeMode
      case _ => "copy-on-write"
    }
    if (mode == "merge-on-read")
      () => new GraftLakeDeltaOperation(this, dataDir, info)
    else
      () => new GraftLakeRowLevelOperation(this, dataDir, info)
  }
}

/** The shared coordination object of one MERGE/UPDATE/DELETE: Spark
  * asks it for the target SCAN (possibly twice — once for the
  * candidate-group subquery that feeds runtime filtering, once for the
  * main group read) and for the replacement WRITE. The commit must
  * replace exactly the groups the main read planned AFTER runtime
  * filtering, so each scan records its retained shard set and whether
  * `filter()` was invoked on it; the write resolves "groups to drop"
  * as the union of runtime-FILTERED scans' shards when any exist
  * (pruned read), else every existing shard (unpruned full rewrite —
  * also the correct fallback when group filtering is disabled). */
class GraftLakeRowLevelOperation(table: GraftLakeTable, dataDir: String,
    info: RowLevelOperationInfo) extends RowLevelOperation {

  /** SNAPSHOT ISOLATION for the whole operation: pinned once at
    * operation creation, so the candidate-group scan, the main group
    * read, and the commit's carry-forward all see ONE version. */
  private[sources] val snapshotV = GraftLakeIO.latestVersion(dataDir)

  private[sources] val scans =
    new java.util.concurrent.CopyOnWriteArrayList[GraftLakeScan]()

  override def command(): RowLevelOperation.Command = info.command()

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(table.schema(), dataDir, Some(snapshotV),
      Some(this), table.shardKey, table.nShards, table.upsertKeys)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLakeWriteBuilder(table, dataDir, info, Some(this))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_shard"))

  /** Shards the replacement must drop before appending written rows. */
  private[sources] def replacedShards: Set[Int] = {
    val filtered = scans.asScala.filter(_.runtimeFiltered)
    if (filtered.nonEmpty) filtered.flatMap(_.plannedShards).toSet
    else if (!scans.isEmpty)
      // No runtime group filter arrived (disabled by conf, or the
      // dynamic predicate didn't convert). The command's condition IS
      // still pushed statically into every op scan, and static
      // pruning is predicate-faithful, so: every shard that may hold
      // a matching row is in EVERY scan's planned set (required ⊆
      // intersection), and the intersection is a subset of the main
      // read's planned set (carry rows of every replaced shard were
      // actually read). The old fallback — ALL existing shards —
      // silently dropped statically-pruned shards' rows whenever the
      // runtime filter failed to fire.
      scans.asScala.map(_.plannedShards).reduce(_ intersect _)
    else GraftLakeIO.existingShards(
      GraftLakeIO.versionDir(dataDir, snapshotV))
  }

  override def description(): String =
    s"GraftLakeRowLevelOperation(${info.command()}, ${table.name()}, " +
      s"snapshot=v$snapshotV)"
}

/** Versioned, immutable storage layout (the lakehouse snapshot model):
  * `v<N>/shard-K.parquet` version directories plus a `_latest` pointer
  * file. Commits never mutate a published version — a new version dir
  * is built completely (unchanged shards HARDLINKED from the base
  * snapshot, changed ones copied/written), its `_commit` timestamp
  * recorded, and only then does an atomic pointer move publish it. So
  * table-level commits are ATOMIC for readers (a scan resolves the
  * pointer once and reads only immutable files — no torn state; the
  * document store adopted the same protocol), and every
  * historical version stays queryable: `VERSION AS OF n` /
  * `TIMESTAMP AS OF t` resolve through the catalog's time-travel
  * loadTable overloads. Writer-writer races are OPTIMISTICALLY
  * detected ([[publishCas]]): the pointer only moves if the table is
  * still at the base snapshot the commit was built against, else the
  * commit fails with [[GraftLakeCommitConflict]] and the loser
  * rebuilds from the new head — Iceberg's commit protocol. */
final class GraftLakeCommitConflict(msg: String)
    extends RuntimeException(msg)

/** HIDDEN PARTITIONING transforms (Iceberg `days(ts)` / `months(ts)`):
  * a `shard_key` of the form `days(col)` routes rows by a DERIVED
  * value — epoch days (or months) of a TIMESTAMP column — without any
  * user-visible partition column. Layout: `shard_width` derived units
  * per bucket, buckets placed round-robin over the shards
  * (`floorMod(floorDiv(derived, width), nShards)`), so a bucket's rows
  * are CONTIGUOUS IN TIME and the ordinary ts zone maps become
  * selective — date predicates prune by layout, which is the whole
  * point of hidden partitioning. The cyclic placement bounds capacity
  * at n·width units per cycle before ranges start overlapping (the
  * time-series bucket-recycle shape); zone maps record OBSERVED values,
  * so overlap only costs selectivity, never correctness. Transform
  * tables route by a value predicates can't see, so point-lookup /
  * DPP / SPJ claims all self-refuse (their provenance tag parses to
  * None) — skipping comes from the stats, as designed. */
object GraftLakeTransform {
  /** `shard_key` string → (transform, raw column): `days(ts)` →
    * ("days", "ts"); a plain column parses as ("", col). */
  def parse(shardKey: String): (String, String) = shardKey match {
    case s if s.startsWith("days(") && s.endsWith(")") =>
      ("days", s.substring(5, s.length - 1))
    case s if s.startsWith("months(") && s.endsWith(")") =>
      ("months", s.substring(7, s.length - 1))
    case s => ("", s)
  }

  /** Derived routing value from the raw (micros for timestamps). */
  def derive(transform: String, raw: Long): Long = transform match {
    case "days" => java.lang.Math.floorDiv(raw, 86400000000L)
    case "months" =>
      val d = java.time.LocalDate.ofEpochDay(
        java.lang.Math.floorDiv(raw, 86400000000L))
      d.getYear * 12L + d.getMonthValue - 1
    case _ => raw
  }
}

object GraftLakeIO {
  def latestVersion(dataDir: String): Int = {
    val p = new java.io.File(dataDir, "_latest")
    if (p.exists())
      java.nio.file.Files.readString(p.toPath).trim.toInt
    else 0
  }
  def versionDir(dataDir: String, v: Int): java.io.File =
    new java.io.File(dataDir, s"v$v")
  // ---- MULTI-PART SHARDS ----
  // A shard is an ORDERED LIST of immutable parquet part files:
  // `shard-K.parquet` (part 0) then `shard-K.p<seq>.parquet` for
  // seq >= 1, read as one concatenated row sequence in ascending seq
  // order. An APPEND commit hardlinks the existing parts and adds the
  // staged rows as ONE NEW PART — O(new data), never O(shard): at
  // 100 TB, trickling rows into a multi-GB shard must not byte-copy
  // the shard per commit (the Iceberg/Delta accumulate-files model).
  // Row ordinals (`_pos`, deletion vectors, CDC diffs) are
  // concatenation ordinals, which appends by construction never
  // disturb — new parts only ever land AFTER all existing rows. Each
  // part keeps the schema it was written under; the reader projects
  // per part, so schema evolution needs no re-encode anywhere.
  // Seq numbers may go SPARSE (compaction drops emptied parts) —
  // order is numeric, not positional.
  def shardFile(vdir: java.io.File, k: Int): java.io.File =
    new java.io.File(vdir, s"shard-$k.parquet")
  def shardPartFile(vdir: java.io.File, k: Int,
      seq: Int): java.io.File =
    if (seq == 0) shardFile(vdir, k)
    else new java.io.File(vdir, s"shard-$k.p$seq.parquet")
  private val partRe = "^shard-(\\d+)(?:\\.p(\\d+))?\\.parquet$".r
  /** The shard's parts in read order (empty = shard absent). */
  def shardParts(vdir: java.io.File, k: Int): Seq[java.io.File] =
    Option(vdir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap(f => partRe.findFirstMatchIn(f.getName).collect {
        case m if m.group(1).toInt == k =>
          (Option(m.group(2)).fold(0)(_.toInt), f)
      })
      .sortBy(_._1).map(_._2).toSeq
  /** All shards' parts in one directory listing (planning-time bulk
    * form of [[shardParts]] — one listFiles, not one per shard). */
  def allShardParts(vdir: java.io.File)
      : Map[Int, Seq[java.io.File]] =
    Option(vdir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap(f => partRe.findFirstMatchIn(f.getName).map(m =>
        (m.group(1).toInt, Option(m.group(2)).fold(0)(_.toInt), f)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
  def existingShards(vdir: java.io.File): Set[Int] =
    Option(vdir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap(f => partRe.findFirstMatchIn(f.getName)
        .map(_.group(1).toInt))
      .toSet
  /** Seq number the NEXT appended part of shard `k` takes. */
  def nextPartSeq(vdir: java.io.File, k: Int): Int =
    Option(vdir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap(f => partRe.findFirstMatchIn(f.getName).collect {
        case m if m.group(1).toInt == k =>
          Option(m.group(2)).fold(0)(_.toInt)
      })
      .foldLeft(-1)(math.max) + 1
  // `_commit` file format: "<micros>" (pre-round-11) or
  // "<micros> <operation>" — the operation label feeds the DESCRIBE
  // HISTORY surface; parsing takes the first token so old snapshots
  // stay readable.
  def commitMicros(dataDir: String, v: Int): Long = {
    val f = new java.io.File(versionDir(dataDir, v), "_commit")
    if (f.exists())
      java.nio.file.Files.readString(f.toPath).trim
        .split("\\s+")(0).toLong
    else Long.MinValue
  }

  /** Operation label of one commit ("append", "overwrite", "merge",
    * "update", "delete", "rollback"); "unknown" for pre-label
    * history. */
  def commitOperation(dataDir: String, v: Int): String = {
    val f = new java.io.File(versionDir(dataDir, v), "_commit")
    if (!f.exists()) return "expired"
    val toks = java.nio.file.Files.readString(f.toPath).trim
      .split("\\s+")
    if (toks.length > 1) toks(1) else "unknown"
  }

  /** Stamp a fully-materialized build dir's `_commit` file:
    * `<micros> <operation> <n_rows> <n_shards>`. The snapshot-level
    * row/shard counts are taken HERE, once, from the build's parquet
    * footers (O(shards) footer tail-reads, no data pages) — DESCRIBE
    * HISTORY then serves every version from this one line instead of
    * recounting the table per version (which is O(versions x
    * table-scan) at a 1000-commit history). */
  def writeCommitMeta(build: java.io.File, micros: Long,
      operation: String): Unit = {
    val shards = existingShards(build)
    // LIVE rows: footer totals minus the snapshot's deletion-vector
    // cardinalities (the build's `_dv.json` must be in place before
    // the commit stamp — every committer writes sidecars first)
    val dv = readDv(build)
    val nRows = shards.iterator.map(k =>
      shardParts(build, k).iterator
        .map(f => GraftShardCodec.footer(f)._2).sum -
        dv.get(k).map(_.getCardinality.toLong).getOrElse(0L)).sum
    java.nio.file.Files.writeString(
      new java.io.File(build, "_commit").toPath,
      s"$micros $operation $nRows ${shards.size}"): Unit
  }

  /** (n_rows, n_shards) recorded at commit time; None for pre-count
    * history (old snapshots keep working — callers recount). */
  def commitCounts(dataDir: String, v: Int): Option[(Long, Long)] = {
    val f = new java.io.File(versionDir(dataDir, v), "_commit")
    if (!f.exists()) return None
    val toks = java.nio.file.Files.readString(f.toPath).trim
      .split("\\s+")
    if (toks.length >= 4) Some((toks(2).toLong, toks(3).toLong))
    else None
  }

  // ---- per-shard zone-map statistics (`_stats.json` per version) ----
  // Min/max of every integral (LONG/INT/DATE) and DOUBLE column per
  // shard file, collected by the writers as rows stream through and
  // merged at commit; the scan skips shards whose range provably
  // misses a pushed predicate (Iceberg/Delta file-skipping). Nulls are
  // ignored — the skippable predicate shapes (=, <, <=, >, >=) are
  // null-rejecting, so a shard of only-null values can never
  // contribute a matching row. A shard with no stats entry is simply
  // never skipped (old tables, evolved columns) — always sound.

  /** One column's range; `isFloat` keys the JSON round-trip. Long
    * ranges stay in Long (a BIGINT key above 2^53 would corrupt in a
    * double). STRING columns ride the same entry via `minS`/`maxS`
    * (UTF-8 BINARY order — the order Spark's UTF8String comparisons
    * and parquet string min/max use): `minS != null` marks a string
    * range, and a string range with `maxS == null` is the STICKY
    * INVALID marker — a writer observed a string above the stats
    * length bound, so the shard can never be skipped on this column.
    * Stickiness matters at commit: task-stats absence means "only
    * NULLs here" (safe to keep the other half's range), so
    * invalidation must travel as a value, not as absence. */
  case class ColRange(isFloat: Boolean, minL: Long, maxL: Long,
      minD: Double, maxD: Double,
      minS: String = null, maxS: String = null) {
    def isString: Boolean = minS != null
    def merge(o: ColRange): ColRange =
      if (isString || o.isString) {
        if (maxS == null || o.maxS == null)
          ColRange.stringInvalid // sticky
        else {
          def lt(a: String, b: String) =
            org.apache.spark.unsafe.types.UTF8String.fromString(a)
              .compareTo(org.apache.spark.unsafe.types.UTF8String
                .fromString(b)) < 0
          ColRange(isFloat = false, 0L, 0L, 0.0, 0.0,
            if (lt(minS, o.minS)) minS else o.minS,
            if (lt(maxS, o.maxS)) o.maxS else maxS)
        }
      } else
        ColRange(isFloat, math.min(minL, o.minL),
          math.max(maxL, o.maxL),
          math.min(minD, o.minD), math.max(maxD, o.maxD))
  }

  object ColRange {
    /** Stats length bound for strings (Iceberg truncates at 16; we
      * record exactly-or-nothing at 64 — no successor-increment
      * subtleties, and over-long outliers poison only their shard's
      * entry). */
    val MaxStatsStringLen = 64
    val stringInvalid: ColRange =
      ColRange(isFloat = false, 0L, 0L, 0.0, 0.0, minS = "",
        maxS = null)
    def ofString(s: String): ColRange =
      if (s.length > MaxStatsStringLen) stringInvalid
      else ColRange(isFloat = false, 0L, 0L, 0.0, 0.0, s, s)
  }

  /** True when a stats range is unusable for skipping. A NaN bound
    * would make every ordered comparison in [[rangeMayMatch]] false
    * and silently prune a shard that holds real rows — writers must
    * never observe NaN (Parquet/Iceberg likewise drop NaN from
    * min/max), and readers treat a NaN-poisoned entry from an old
    * table as "no stats" (never skip). A string range invalidated by
    * an over-length value is likewise never a skip license. */
  def rangeUnusable(r: ColRange): Boolean =
    (r.isFloat && (r.minD.isNaN || r.maxD.isNaN)) ||
      (r.isString && r.maxS == null)

  def statsFile(vdir: java.io.File): java.io.File =
    new java.io.File(vdir, "_stats.json")

  def writeStats(vdir: java.io.File,
      stats: Map[Int, Map[String, ColRange]]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    stats.toSeq.sortBy(_._1).foreach { case (shard, cols) =>
      val s = root.putObject(shard.toString)
      cols.toSeq.sortBy(_._1).foreach { case (name, r) =>
        val c = s.putObject(name)
        if (r.isString) {
          c.put("smin", r.minS): Unit
          if (r.maxS != null) c.put("smax", r.maxS): Unit
          // smax absent = the sticky invalid marker
        } else {
          c.put("f", r.isFloat): Unit
          if (r.isFloat) { c.put("min", r.minD): Unit; c.put("max", r.maxD): Unit }
          else { c.put("min", r.minL): Unit; c.put("max", r.maxL): Unit }
        }
      }
    }
    java.nio.file.Files.writeString(statsFile(vdir).toPath,
      om.writeValueAsString(root)): Unit
  }

  def readStats(vdir: java.io.File): Map[Int, Map[String, ColRange]] = {
    val f = statsFile(vdir)
    if (!f.exists()) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(f.toPath))
    val out = Map.newBuilder[Int, Map[String, ColRange]]
    root.properties().forEach { e =>
      val cols = Map.newBuilder[String, ColRange]
      e.getValue.properties().forEach { c =>
        val n = c.getValue
        cols += c.getKey -> (
          if (n.has("smin")) {
            if (n.has("smax"))
              ColRange(isFloat = false, 0L, 0L, 0.0, 0.0,
                n.get("smin").asText(), n.get("smax").asText())
            else ColRange.stringInvalid
          } else if (n.get("f").asBoolean())
            ColRange(isFloat = true, 0L, 0L,
              n.get("min").asDouble(), n.get("max").asDouble())
          else {
            val lo = n.get("min").asLong(); val hi = n.get("max").asLong()
            ColRange(isFloat = false, lo, hi, lo.toDouble, hi.toDouble)
          })
      }
      out += e.getKey.toInt -> cols.result()
    }
    out.result()
  }

  // ---- DELETION VECTORS (`_dv.json` per version) ----
  // Merge-on-read DELETE (Iceberg v3 / Delta deletion-vector design):
  // instead of rewriting a whole shard to drop a few rows, a delete
  // commit records the deleted ROW POSITIONS (ordinals within the
  // shard's parquet file) in a per-shard roaring bitmap sidecar and
  // HARDLINK-carries every data file untouched. Readers mask the
  // positions at scan time. Position stability is guaranteed by the
  // layout: published files are never mutated, appends place new rows
  // AFTER the base file's rows (raw row-group append and the Group
  // re-encode both preserve base order), and any rewrite of a shard
  // (UPDATE/MERGE/OVERWRITE) clears its entry. A shard file is bounded
  // well under 2^31 rows (16 MB row groups), so 32-bit bitmaps carry
  // the positions; serialized as base64 in `_dv.json`.

  def dvFile(vdir: java.io.File): java.io.File =
    new java.io.File(vdir, "_dv.json")

  def writeDv(vdir: java.io.File,
      m: Map[Int, org.roaringbitmap.RoaringBitmap]): Unit = {
    val live = m.filter(_._2.getCardinality > 0)
    if (live.isEmpty) { dvFile(vdir).delete(): Unit; return }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    live.toSeq.sortBy(_._1).foreach { case (shard, bm) =>
      bm.runOptimize()
      val buf = new Array[Byte](bm.serializedSizeInBytes())
      bm.serialize(java.nio.ByteBuffer.wrap(buf))
      root.put(shard.toString,
        java.util.Base64.getEncoder.encodeToString(buf)): Unit
    }
    java.nio.file.Files.writeString(dvFile(vdir).toPath,
      om.writeValueAsString(root)): Unit
  }

  def readDv(vdir: java.io.File)
      : Map[Int, org.roaringbitmap.RoaringBitmap] = {
    val f = dvFile(vdir)
    if (!f.exists()) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(f.toPath))
    val out = Map.newBuilder[Int, org.roaringbitmap.RoaringBitmap]
    root.properties().forEach { e =>
      val bytes = java.util.Base64.getDecoder.decode(e.getValue.asText())
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
      out += e.getKey.toInt -> bm
    }
    out.result()
  }

  /** Serialized DV of one shard (for shipping inside an
    * InputPartition), null when the shard has none. */
  def dvBytes(m: Map[Int, org.roaringbitmap.RoaringBitmap],
      shard: Int): Array[Byte] =
    m.get(shard).map { bm =>
      val buf = new Array[Byte](bm.serializedSizeInBytes())
      bm.serialize(java.nio.ByteBuffer.wrap(buf))
      buf
    }.orNull

  def dvOf(bytes: Array[Byte]): org.roaringbitmap.RoaringBitmap =
    if (bytes == null) new org.roaringbitmap.RoaringBitmap()
    else {
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
      bm
    }

  // ---- per-shard ROUTING PROVENANCE (`_routing.json` per version) ----
  // Zone maps prune RANGE predicates on clustered layouts; EQUALITY /
  // IN probes on the shard key of a HASH-sharded table need the
  // routing function instead (shard = floorMod(key, n) pins the one
  // file a key can live in). But routing is only a WRITE-TIME intent —
  // after `ALTER … shard_width` old files keep their old placement —
  // so pruning by the CURRENT routing would be unsound. Each commit
  // therefore records, per shard file, the routing its rows were
  // written under: a carried shard keeps its recorded tag, an
  // append-merged shard keeps it only if it matches the current
  // routing (else degrades to "mixed" = never pruned), a fresh shard
  // takes the current tag. Tags: "hash:<n>" | "range:<w>:<n>" |
  // "mixed".

  // ---- streaming transaction watermarks (`_txns.json` per version) --
  // Delta's SetTransaction idiom: each snapshot CARRIES the map of
  // streaming-query id -> highest committed epoch as snapshot state,
  // so the exactly-once dedup check is one tiny read of the LATEST
  // version (always present — expiry can never drop it) and is atomic
  // with the commit that recorded it (same rename+publish).

  def txnsFile(vdir: java.io.File): java.io.File =
    new java.io.File(vdir, "_txns.json")

  def writeTxns(vdir: java.io.File, m: Map[String, Long]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (q, e) =>
      root.put(q, e): Unit
    }
    java.nio.file.Files.writeString(txnsFile(vdir).toPath,
      om.writeValueAsString(root)): Unit
  }

  def readTxns(vdir: java.io.File): Map[String, Long] = {
    val f = txnsFile(vdir)
    if (!f.exists()) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(f.toPath))
    val out = Map.newBuilder[String, Long]
    root.properties().forEach(e =>
      out += e.getKey -> e.getValue.asLong())
    out.result()
  }

  /** Highest epoch the given streaming query has committed into this
    * table, from the latest snapshot's carried txn map; -1 if none. */
  def committedEpoch(dataDir: String, queryId: String): Long = {
    val latest = latestVersion(dataDir)
    if (latest == 0) -1L
    else readTxns(versionDir(dataDir, latest)).getOrElse(queryId, -1L)
  }

  def routingFile(vdir: java.io.File): java.io.File =
    new java.io.File(vdir, "_routing.json")

  def writeRouting(vdir: java.io.File, m: Map[Int, String]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, tag) =>
      root.put(k.toString, tag): Unit
    }
    java.nio.file.Files.writeString(routingFile(vdir).toPath,
      om.writeValueAsString(root)): Unit
  }

  def readRouting(vdir: java.io.File): Map[Int, String] = {
    val f = routingFile(vdir)
    if (!f.exists()) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(f.toPath))
    val out = Map.newBuilder[Int, String]
    root.properties().forEach(e =>
      out += e.getKey.toInt -> e.getValue.asText())
    out.result()
  }

  // ---- SORTED-SHARD PROVENANCE (`_sorted.json` per version dir) ----
  // Which shards' single part is key-sorted: set at commit when a
  // clustered write's REQUIRED ORDERING produced the file (one task,
  // one adopted part, rows ascending in the shard key), dropped the
  // moment an append merges behind it or a rewrite reorders rows.
  // Scans report it through DSv2 SupportsReportOrdering so
  // sort-merge joins over co-sharded clustered tables plan with ZERO
  // sorts on the lake sides (composing with SPJ's zero exchanges).

  def sortedFile(vdir: java.io.File): java.io.File =
    new java.io.File(vdir, "_sorted.json")

  def writeSorted(vdir: java.io.File, shards: Set[Int]): Unit =
    if (shards.nonEmpty) {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = om.createArrayNode()
      shards.toSeq.sorted.foreach(k => arr.add(k): Unit)
      java.nio.file.Files.writeString(sortedFile(vdir).toPath,
        om.writeValueAsString(arr)): Unit
    }

  def readSorted(vdir: java.io.File): Set[Int] = {
    val f = sortedFile(vdir)
    if (!f.exists()) return Set.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(f.toPath))
    val out = Set.newBuilder[Int]
    root.forEach(n => out += n.asInt())
    out.result()
  }

  /** Which shard does `key` route to under `tag`? None for "mixed" /
    * unparseable tags (caller must not prune). */
  def routeUnder(tag: String, key: Long): Option[Int] =
    tag.split(':') match {
      case Array("hash", n) =>
        Some(java.lang.Math.floorMod(key, n.toLong).toInt)
      case Array("range", w, n) =>
        Some(math.min(
          math.max(java.lang.Math.floorDiv(key, w.toLong), 0L),
          (n.toInt - 1).toLong).toInt)
      case _ => None
    }

  /** Can `col op literal` possibly hold for a value inside [min,max]?
    * Comparisons happen in Long for integral ranges vs integral
    * literals (exactness above 2^53) and in Double otherwise. */
  def rangeMayMatch(r: ColRange, op: String, lit: Any): Boolean = {
    if (rangeUnusable(r)) return true // poisoned stats: never skip
    if (r.isString) {
      val s = lit match {
        case u: org.apache.spark.unsafe.types.UTF8String => u
        case str: String =>
          org.apache.spark.unsafe.types.UTF8String.fromString(str)
        case _ => return true // non-string literal on a string range
      }
      val lo = org.apache.spark.unsafe.types.UTF8String
        .fromString(r.minS)
      val hi = org.apache.spark.unsafe.types.UTF8String
        .fromString(r.maxS)
      return op match {
        case "=" => s.compareTo(lo) >= 0 && s.compareTo(hi) <= 0
        case "<" => lo.compareTo(s) < 0
        case "<=" => lo.compareTo(s) <= 0
        case ">" => hi.compareTo(s) > 0
        case ">=" => hi.compareTo(s) >= 0
        case _ => true
      }
    }
    val litD = lit match {
      case i: java.lang.Integer => i.toDouble
      case l: java.lang.Long => l.toDouble
      case d: java.lang.Double => d.doubleValue()
      case f: java.lang.Float => f.toDouble
      case s: java.lang.Short => s.toDouble
      case _ => return true // unknown literal type: never skip
    }
    // a NaN literal is invisible to min/max ranges (writers skip NaN);
    // every ordered comparison with it is false, so never skip on it
    if (litD.isNaN) return true
    val (lo, hi) = lit match {
      case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short
          if !r.isFloat =>
        val v = lit match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case s: java.lang.Short => s.longValue()
        }
        return op match {
          case "=" => v >= r.minL && v <= r.maxL
          case "<" => r.minL < v
          case "<=" => r.minL <= v
          case ">" => r.maxL > v
          case ">=" => r.maxL >= v
          case _ => true
        }
      case _ => (if (r.isFloat) r.minD else r.minL.toDouble,
        if (r.isFloat) r.maxD else r.maxL.toDouble)
    }
    op match {
      case "=" => litD >= lo && litD <= hi
      case "<" => lo < litD
      case "<=" => lo <= litD
      case ">" => hi > litD
      case ">=" => hi >= litD
      case _ => true
    }
  }

  /** STRICTLY MONOTONIC commit stamp (micros): max(now, base+1).
    * Two commits landing in the same clock millisecond would otherwise
    * make `TIMESTAMP AS OF t(v_n)` resolve v_n+1 — time travel demands
    * commit time order == version order. */
  def nextCommitStamp(dataDir: String, baseV: Int): Long = {
    val now = System.currentTimeMillis() * 1000L
    val base =
      if (baseV >= 1) commitMicros(dataDir, baseV) else Long.MinValue
    math.max(now, base + 1)
  }

  // ---- NAMED SNAPSHOT TAGS (`_refs.json` at the table root) ----
  // Iceberg tags / Trino `FOR VERSION AS OF 'name'`: a tag is a named
  // pointer to a committed version. Tagged snapshots are RETAINED by
  // expire_snapshots (the whole point of tagging — pin an audited
  // state while history around it ages out). Mutations run under the
  // table commit lock; the file swaps atomically.

  def refsFile(dataDir: String): java.io.File =
    new java.io.File(dataDir, "_refs.json")

  def readRefs(dataDir: String): Map[String, Int] = {
    val f = refsFile(dataDir)
    if (!f.exists()) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(f.toPath))
    val out = Map.newBuilder[String, Int]
    root.properties().forEach(e => out += e.getKey -> e.getValue.asInt())
    out.result()
  }

  private def writeRefs(dataDir: String, m: Map[String, Int]): Unit = {
    val f = refsFile(dataDir)
    if (m.isEmpty) { f.delete(): Unit; return }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (tag, v) =>
      root.put(tag, v): Unit
    }
    val tmp = new java.io.File(dataDir,
      s"_refs.json.tmp${ProcessHandle.current().pid()}")
    java.nio.file.Files.writeString(tmp.toPath,
      om.writeValueAsString(root))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  def createTag(dataDir: String, tag: String, version: Int): Unit =
    withCommitLock(dataDir) {
      require(tag.nonEmpty && tag.toIntOption.isEmpty,
        s"tag name '$tag' must be non-empty and non-numeric " +
          "(numeric strings resolve as version ids)")
      val refs = readRefs(dataDir)
      require(!refs.contains(tag),
        s"$dataDir: tag '$tag' already exists (at v${refs(tag)})")
      // mirror createBranch's reverse check: branch names resolve
      // BEFORE tags in loadTable, so a tag shadowed by a live branch
      // would be silently unreachable (and resurface with different
      // semantics when the branch drops) — keep the namespace unique
      require(!refs.contains(s"branch:$tag"),
        s"$dataDir: '$tag' already names a branch")
      require(version >= 1 && version <= latestVersion(dataDir) &&
        versionDir(dataDir, version).exists(),
        s"$dataDir: cannot tag v$version — not a surviving snapshot")
      writeRefs(dataDir, refs.updated(tag, version))
    }

  def dropTag(dataDir: String, tag: String): Boolean =
    withCommitLock(dataDir) {
      val refs = readRefs(dataDir)
      if (!refs.contains(tag)) false
      else { writeRefs(dataDir, refs - tag); true }
    }

  // ---- BRANCHES (write-audit-publish) ----
  // An Iceberg-style branch is a named line of commits main readers
  // never see until published. Here a branch IS a dataDir: a
  // subdirectory `_branch_<name>/` with its own `_latest` pointer and
  // version dirs, seeded by hardlinking main's head snapshot — so
  // branch commits ride the UNCHANGED commit protocol (same CAS, same
  // build-dir discipline, same sidecar handling) and two branch
  // writers race each other exactly like two main writers.
  // `fast_forward` publishes the branch head back into main as ONE
  // squashed commit through the same CAS — a main commit that landed
  // since the branch was created makes the publish CONFLICT, never
  // clobber. The registry entry `branch:<name> -> base` lives in
  // `_refs.json` beside the tags (the prefixed key cannot collide:
  // tag names resolve verbatim, branch resolution strips the prefix).

  def branchDir(dataDir: String, name: String): java.io.File =
    new java.io.File(dataDir, s"_branch_$name")

  def readBranches(dataDir: String): Map[String, Int] =
    readRefs(dataDir).collect {
      case (k, v) if k.startsWith("branch:") =>
        k.stripPrefix("branch:") -> v
    }

  /** Hardlink every file of a published snapshot into a build dir
    * (falling back to copy on filesystems without links) — the
    * rollback idiom, shared by branch seed and fast-forward. The
    * `_commit` stamp is NOT carried: each commit writes its own. */
  private def linkSnapshot(srcV: java.io.File,
      build: java.io.File): Unit =
    Option(srcV.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName != "_commit")
      .foreach { f =>
        val dst = new java.io.File(build, f.getName)
        try java.nio.file.Files.createLink(dst.toPath, f.toPath): Unit
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
        }
      }

  /** Create branch `name` at main's current head. Returns the base
    * version the branch forked from. */
  def createBranch(dataDir: String, name: String): Int =
    withCommitLock(dataDir) {
      require(name.matches("[A-Za-z0-9_-]+") && name.toIntOption.isEmpty,
        s"branch name '$name' must be alphanumeric/_/- and non-numeric")
      val refs = readRefs(dataDir)
      require(!refs.contains(s"branch:$name") && !refs.contains(name),
        s"$dataDir: ref '$name' already exists")
      val base = latestVersion(dataDir)
      val bdir = branchDir(dataDir, name)
      rmTree(bdir)
      bdir.mkdirs(): Unit
      if (base > 0) {
        // seed = branch v1, a pure-link copy of main's head; the
        // branch's own commit lock is distinct (different dataDir),
        // so nesting under main's lock cannot self-deadlock
        val build = newBuildDir(bdir.getPath)
        linkSnapshot(versionDir(dataDir, base), build)
        writeCommitMeta(build, nextCommitStamp(bdir.getPath, 0),
          "branch")
        commitVersion(bdir.getPath, 0, build): Unit
      }
      writeRefs(dataDir, refs.updated(s"branch:$name", base))
      base
    }

  def dropBranch(dataDir: String, name: String): Boolean =
    withCommitLock(dataDir) {
      val refs = readRefs(dataDir)
      if (!refs.contains(s"branch:$name")) false
      else {
        rmTree(branchDir(dataDir, name))
        writeRefs(dataDir, refs - s"branch:$name")
        true
      }
    }

  /** Publish: fast-forward main to the branch head as ONE new main
    * commit (squashed — readers atomically flip from the audited base
    * to the audited result, never an intermediate), then drop the
    * branch. Refuses with [[GraftLakeCommitConflict]] if main moved
    * since the branch forked. Returns the new main head (= main's
    * current head when the branch carries no commits beyond its
    * seed). */
  def fastForward(dataDir: String, name: String): Int = {
    // check-build OUTSIDE main's lock (commitVersion takes it, and
    // the OS FileLock is not reentrant); a main commit landing in
    // the window just turns into the same CAS conflict
    val refs = readRefs(dataDir)
    val base = refs.getOrElse(s"branch:$name",
      throw new IllegalArgumentException(
        s"$dataDir: no such branch '$name'"))
    val cur = latestVersion(dataDir)
    if (cur != base)
      throw new GraftLakeCommitConflict(
        s"$dataDir: cannot fast-forward branch '$name' — main moved " +
          s"v$base -> v$cur since the branch forked; re-create the " +
          "branch from the new head (or drop it)")
    val bdir = branchDir(dataDir, name)
    val bHead = latestVersion(bdir.getPath)
    val seed = if (base > 0) 1 else 0
    if (bHead <= seed) { dropBranch(dataDir, name): Unit; return cur }
    val build = newBuildDir(dataDir)
    linkSnapshot(versionDir(bdir.getPath, bHead), build)
    writeCommitMeta(build, nextCommitStamp(dataDir, cur),
      "fast_forward")
    val v = commitVersion(dataDir, cur, build)
    dropBranch(dataDir, name): Unit
    v
  }

  // ---- EQUALITY DELETES (`_eqdel.json` per version dir) ----
  // Iceberg equality-delete semantics for last-writer-wins upserts:
  // per shard, a map `key -> bound` meaning "every row of this key at
  // concatenation ordinal < bound is dead". One entry per key
  // suffices (a later upsert's bound covers everything an earlier one
  // did, because parts only ever append), so the map never grows past
  // the live key count. Readers mask by key+ordinal; writers record
  // the appended part's base ordinal for each staged key — O(batch),
  // no target data file is ever read. Keys are ENCODED STRINGS
  // ([[encodeEqKey]]) so composite and string-typed CDC keys carry the
  // same way single BIGINT keys always did.

  def eqDelFile(vdir: java.io.File): java.io.File =
    new java.io.File(vdir, "_eqdel.json")

  /** Canonical string of one upsert-key part (the typed column value
    * as decoded by the shard codec); null parts are the caller's to
    * refuse — a null can never address an equality delete. */
  def eqKeyPart(v: Any): String = v match {
    case null => null
    case l: java.lang.Long => l.toString
    case i: java.lang.Integer => i.toString
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"unsupported upsert key part $other (${other.getClass})")
  }

  /** Encode an upsert key: a SINGLE part is its canonical string
    * verbatim (byte-identical to the original BIGINT-keyed layout, so
    * existing sidecars and fixtures keep reading); a COMPOSITE key is
    * the length-prefixed join of its parts — unambiguous for
    * arbitrary string content, no escaping needed. */
  def encodeEqKey(parts: Seq[String]): String =
    if (parts.lengthCompare(1) == 0) parts.head
    else parts.map(p => s"${p.length}:$p").mkString("|")

  def readEqDel(vdir: java.io.File): Map[Int, Map[String, Long]] = {
    val f = eqDelFile(vdir)
    if (!f.exists()) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(f.toPath))
    val out = Map.newBuilder[Int, Map[String, Long]]
    root.properties().forEach { e =>
      val inner = Map.newBuilder[String, Long]
      e.getValue.properties().forEach(kv =>
        inner += kv.getKey -> kv.getValue.asLong())
      out += e.getKey.toInt -> inner.result()
    }
    out.result()
  }

  def writeEqDel(build: java.io.File,
      m: Map[Int, Map[String, Long]]): Unit = {
    val pruned = m.filter(_._2.nonEmpty)
    if (pruned.isEmpty) return
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    pruned.toSeq.sortBy(_._1).foreach { case (k, keys) =>
      val inner = root.putObject(k.toString)
      keys.toSeq.sortBy(_._1).foreach { case (key, bound) =>
        inner.put(key, bound): Unit
      }
    }
    java.nio.file.Files.writeString(eqDelFile(build).toPath,
      om.writeValueAsString(root)): Unit
  }

  /** Expire history: drop every snapshot older than the newest `keep`
    * (the Iceberg `expire_snapshots` maintenance op) — EXCEPT tagged
    * snapshots, which a tag pins until dropped. Safe against the
    * hardlink sharing — deleting a version dir unlinks names, never
    * bytes still reachable from retained versions. Returns the
    * surviving version ids; expired versions then fail time travel
    * LOUDLY (loadTable refuses, rather than serving an empty scan). */
  def expireSnapshots(dataDir: String, keep: Int): Seq[Int] = {
    require(keep >= 1, "must keep at least the latest snapshot")
    val latest = latestVersion(dataDir)
    val pinned = readRefs(dataDir).values.toSet
    (1 to latest - keep).filterNot(pinned)
      .foreach(v => rmTree(versionDir(dataDir, v)))
    (1 to latest).filter(versionDir(dataDir, _).exists())
  }

  // ---- table commit lock ----
  // Two layers: a per-table JVM monitor (threads of one process — an
  // OS FileLock would throw OverlappingFileLockException between them)
  // plus an OS FileLock on `_commit.lock` for cross-process exclusion.
  // The OS releases a FileLock when its holder dies, so a crashed
  // committer can never wedge the table the way the old
  // create-new-file lock could (advisor round 10: a kill between
  // createFile and the finally made every later commit spin 10s and
  // fail forever). The lock file itself persists — deleting it after
  // release would let a new locker create a FRESH inode while a slow
  // third process still holds a lock on the old one, silently breaking
  // mutual exclusion.
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def withCommitLock[T](dataDir: String)(body: => T): T = {
    val key = new java.io.File(dataDir).getCanonicalPath
    val mon = jvmLocks.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        new java.io.File(dataDir, "_commit.lock").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val deadline = System.nanoTime() + 10000000000L
        var lock: java.nio.channels.FileLock = null
        while (lock == null) {
          lock = ch.tryLock()
          if (lock == null) {
            if (System.nanoTime() > deadline)
              throw new GraftLakeCommitConflict(
                s"$dataDir: commit lock held by another process for " +
                  ">10s — livelocked or hung committer")
            Thread.sleep(5)
          }
        }
        try body finally lock.release()
      } finally ch.close()
    }
  }

  private val buildSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Writer-unique staging dir for one commit's version build. Lives
    * inside the table dir so the final rename and the shard hardlinks
    * stay on one filesystem. */
  def newBuildDir(dataDir: String): java.io.File = {
    val d = new java.io.File(dataDir,
      s"_build_${ProcessHandle.current().pid()}_" +
        s"${buildSeq.incrementAndGet()}")
    rmTree(d)
    d.mkdirs()
    d
  }

  /** The commit point: under the table lock, verify the pointer is
    * still at `expectedBase`, atomically RENAME the writer-unique
    * build dir to v(base+1), and move the pointer. Because every
    * writer builds in its own dir (advisor round 10: two writers
    * deriving the SAME v(N+1) path from a shared base could rmTree
    * each other's just-published files), a losing committer can only
    * ever delete its OWN build — the winner's published snapshot is
    * untouchable. Returns the published version. */
  def commitVersion(dataDir: String, expectedBase: Int,
      buildDir: java.io.File): Int = withCommitLock(dataDir) {
    val cur = latestVersion(dataDir)
    if (cur != expectedBase) {
      rmTree(buildDir)
      throw new GraftLakeCommitConflict(
        s"$dataDir: optimistic commit failed — built against base " +
          s"v$expectedBase but the table is at v$cur (a concurrent " +
          "writer committed first); rebuild from the new snapshot " +
          "and retry")
    }
    val newV = expectedBase + 1
    val dst = versionDir(dataDir, newV)
    // pointer at expectedBase yet dst exists ⇒ a previous commit
    // crashed between rename and publish. Unpublished ⇒ unreachable
    // (readers resolve versions <= pointer) and, under this lock, no
    // live writer owns it (live builds are in _build_* dirs) — safe to
    // clear, never a published snapshot.
    if (dst.exists()) rmTree(dst)
    java.nio.file.Files.move(buildDir.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    publish(dataDir, newV)
    newV
  }

  /** Optimistic compare-and-swap publish of an ALREADY-MATERIALIZED
    * version dir (spec-level primitive; the write paths go through
    * [[commitVersion]], which also owns the build-dir rename). */
  def publishCas(dataDir: String, expectedBase: Int, v: Int): Unit =
    withCommitLock(dataDir) {
      val cur = latestVersion(dataDir)
      if (cur != expectedBase)
        throw new GraftLakeCommitConflict(
          s"$dataDir: optimistic commit failed — built against base " +
            s"v$expectedBase but the table is at v$cur (a concurrent " +
            "writer committed first); rebuild from the new snapshot " +
            "and retry")
      publish(dataDir, v)
    }

  /** VACUUM — clear the three artifact classes a crashed writer can
    * leave: stale `_build_*` build dirs (crash mid-build), stale
    * `_stage_*` task-output dirs (crash mid-write or mid-epoch,
    * before the commit's cleanup ran), and unpublished version dirs
    * above the pointer (crash between rename and publish —
    * [[commitVersion]] also self-heals these lazily).
    * Runs under the table lock, so no live committer's build is ever
    * touched if `olderThanMs` exceeds any plausible build time; both
    * classes are unreachable by readers by construction (scans resolve
    * only published versions), so vacuum never affects query results.
    * Returns the removed names. */
  def vacuumOrphans(dataDir: String,
      olderThanMs: Long = 600000L): Seq[String] =
    withCommitLock(dataDir) {
      val cutoff = System.currentTimeMillis() - olderThanMs
      val latest = latestVersion(dataDir)
      val victims = Option(new java.io.File(dataDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter { f =>
          ((f.getName.startsWith("_build_") ||
            f.getName.startsWith("_stage_")) &&
            f.lastModified() < cutoff) ||
            // anchored: only real version dirs (`v<digits>` exactly)
            // are candidates — a future artifact merely CONTAINING
            // v<digits> (e.g. "schema_v9.json") must never be removed
            "^v(\\d+)$".r.findFirstMatchIn(f.getName)
              .exists(_.group(1).toInt > latest)
        }
      victims.foreach(rmTree)
      victims.map(_.getName).toSeq.sorted
    }

  /** ROLLBACK — recover from a mis-merge by restoring an earlier
    * snapshot, Delta-RESTORE style: the rollback is itself a NEW
    * commit (v_latest+1) whose content is a hardlink copy of the
    * target snapshot, published through the same CAS protocol. History
    * stays append-only — the abandoned versions remain time-travelable
    * — and any concurrent commit built on the pre-rollback head fails
    * with [[GraftLakeCommitConflict]] exactly like any other lost
    * race. Returns the new head version. */
  def rollbackToVersion(dataDir: String, target: Int): Int = {
    val base = latestVersion(dataDir)
    require(target >= 0 && target <= base,
      s"$dataDir: rollback target v$target out of range 0..$base")
    require(target == 0 || versionDir(dataDir, target).exists(),
      s"$dataDir: rollback target v$target has been expired")
    val build = newBuildDir(dataDir)
    if (target > 0) {
      val tdir = versionDir(dataDir, target)
      Option(tdir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName != "_commit")
        .foreach { f =>
          val dst = new java.io.File(build, f.getName)
          try java.nio.file.Files.createLink(dst.toPath, f.toPath): Unit
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
          }
        }
    }
    writeCommitMeta(build, nextCommitStamp(dataDir, base), "rollback")
    commitVersion(dataDir, base, build)
  }

  /** Atomic publish: the pointer move is the commit point. */
  def publish(dataDir: String, v: Int): Unit = {
    val tmp = new java.io.File(dataDir, s"_latest.tmp$v")
    java.nio.file.Files.writeString(tmp.toPath, v.toString)
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(dataDir, "_latest").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }
}

/** Driver-side observability for the zone-map skipping (spec hook +
  * plan-lint evidence): counts shards planned vs skipped-by-stats
  * since the last reset. */
object GraftLakeScanMetrics {
  val planned = new java.util.concurrent.atomic.AtomicLong()
  val skippedByStats = new java.util.concurrent.atomic.AtomicLong()
  // read-side columnar honesty (local-mode observable): how many
  // parquet columns each shard reader actually decoded, and how many
  // reads were served purely from footer metadata (zero data pages)
  val decodedColumns = new java.util.concurrent.atomic.AtomicLong()
  val metadataOnlyReads = new java.util.concurrent.atomic.AtomicLong()
  // write-side: LRU writer evictions (staged-part rotations)
  val writerRotations = new java.util.concurrent.atomic.AtomicLong()
  // whole-aggregate answers served purely from footers + zone maps
  val aggPushdowns = new java.util.concurrent.atomic.AtomicLong()
  // shards skipped by the bloom sidecar (equality/IN probes zone
  // maps could not refuse)
  val skippedByBloom = new java.util.concurrent.atomic.AtomicLong()
  // parts skipped INSIDE planned shards via parquet footer statistics
  val skippedParts = new java.util.concurrent.atomic.AtomicLong()
  // commit-time shard assembly: staged files ADOPTED by hardlink
  // (single writer task per shard — the clustered-write fast path)
  // vs MERGED from multiple task fragments
  val adoptedParts = new java.util.concurrent.atomic.AtomicLong()
  val mergedParts = new java.util.concurrent.atomic.AtomicLong()
  // columnar batches actually decoded — the LIMIT early-stop
  // observable: a pushed LIMIT k over a multi-batch shard decodes
  // exactly the batches up to the one crossing k
  val batchesDecoded = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = {
    planned.set(0); skippedByStats.set(0)
    decodedColumns.set(0); metadataOnlyReads.set(0)
    writerRotations.set(0); aggPushdowns.set(0)
    skippedByBloom.set(0); skippedParts.set(0)
    adoptedParts.set(0); mergedParts.set(0)
    batchesDecoded.set(0)
  }
}

class GraftLakeScanBuilder(declared: StructType, dataDir: String,
    pinned: Option[Int], op: Option[GraftLakeRowLevelOperation],
    shardKey: String, nShards: Int = 0,
    upsertKeys: Seq[String] = Nil,
    sampleShards: Option[Set[Int]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownV2Filters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  private var required: StructType = declared
  private var zonePreds: Array[V2Predicate] = Array.empty
  private var limit: Int = -1

  /** PARTIAL limit pushdown: each partition reader stops after
    * emitting `limit` live rows — a `LIMIT k` over a 100 TB table
    * decodes at most k rows per shard instead of the shard
    * (parquet row groups beyond the cutoff are never read). Partial
    * because partitions are independent: Spark keeps its own
    * Local/GlobalLimit for the final cut. Never claimed for
    * row-level operation scans (their consumers need every matched
    * row). */
  override def pushLimit(n: Int): Boolean =
    if (op.isEmpty && n >= 0) { limit = n; true } else false
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // may include the _shard/_pos metadata columns; normalize to
    // (declared-order data columns ++ metadata) for stable row layout
    required = StructType(
      (declared.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)) ++
        requiredSchema.fields.filter(f =>
          f.name == "_shard" || f.name == "_pos")).toSeq)

  /** ALL predicates are reported back as unhandled — Spark keeps the
    * Filter and re-evaluates row-exactly — but the simple comparison
    * shapes are retained for ZONE-MAP shard skipping: a shard whose
    * recorded [min,max] provably misses a conjunct is not even
    * planned. That split (prune by stats, never claim row filtering)
    * is exactly how parquet row-group stats are used. */
  override def pushPredicates(
      predicates: Array[V2Predicate]): Array[V2Predicate] = {
    zonePreds = predicates
    predicates // all unhandled: row-exact filtering stays with Spark
  }
  override def pushedPredicates(): Array[V2Predicate] = Array.empty

  /** WHOLE-AGGREGATE pushdown served purely from snapshot METADATA —
    * parquet footers (row + null counts) and the commit's zone-map
    * sidecar (min/max) — the Trino-connector idiom where
    * `count(*)`/`min`/`max` never touch table data. Only claimed when
    * every term is provably answerable from the pinned snapshot:
    *
    *  - `COUNT(*)`  = Σ footer row counts (always answerable);
    *  - `COUNT(c)`  = Σ (rows − footer null count) over files whose
    *    own schema carries `c` (post-ADD files; older files serve the
    *    column as NULL and contribute 0) — refused if any chunk lacks
    *    a recorded null count;
    *  - `MIN/MAX(c)` from merged zone-map ranges — refused unless
    *    EVERY shard has a stats entry (entry-less = pre-stats history,
    *    unknowable), every recorded range is usable (no sticky-invalid
    *    strings), and the column is integral/date/string. DOUBLE is
    *    refused outright: writers drop NaN from zone maps (they must,
    *    for skipping soundness) while Spark orders NaN above every
    *    double, so a NaN-holding table would answer MAX wrong.
    *
    * Spark only attempts aggregate pushdown when no filter remains
    * between the aggregate and this scan; since this builder reports
    * every predicate as unhandled (zone maps prune, never filter),
    * pushdown arrives only for filterless aggregates — exactly the
    * shapes metadata can answer. The snapshot version is resolved ONCE
    * here and pinned into the scan, so the answered values and the
    * scanned version can never diverge. GROUP BY and DISTINCT refuse.
    */
  private var aggAnswer: Option[(Int, StructType, Array[Any])] = None
  private var aggProbe: (org.apache.spark.sql.connector.expressions
    .aggregate.Aggregation, Option[(Int, StructType, Array[Any])]) = null

  private def tryAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(Int, StructType, Array[Any])] = {
    if (aggProbe != null && (aggProbe._1 eq agg)) return aggProbe._2
    val r = computeAnswer(agg)
    aggProbe = (agg, r)
    r
  }

  private def computeAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(Int, StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.groupByExpressions().nonEmpty || zonePreds.nonEmpty ||
      op.nonEmpty) return None
    val v = pinned.getOrElse(GraftLakeIO.latestVersion(dataDir))
    val vdir = GraftLakeIO.versionDir(dataDir, v)
    val shards = GraftLakeIO.existingShards(vdir).toSeq.sorted
    lazy val stats = GraftLakeIO.readStats(vdir)
    // deletion vectors make footer/zone-map metadata an OVER-statement
    // of the live rows: counts subtract the DV cardinality; MIN/MAX
    // and null-aware counts refuse on DV-carrying shards (a deleted
    // row may have held the extreme / the nulls are unattributed).
    // EQUALITY deletes are worse — the dead-row count is unknowable
    // from metadata at all — so their presence refuses every pushdown
    if (GraftLakeIO.readEqDel(vdir).nonEmpty) return None
    lazy val dv = GraftLakeIO.readDv(vdir)
    // one footer read per shard PART, shared by every COUNT term
    lazy val footers: Seq[(org.apache.parquet.schema.MessageType, Long,
      Map[String, Option[Long]])] =
      shards.flatMap(k => GraftLakeIO.shardParts(vdir, k))
        .map(GraftShardCodec.footerWithNulls)
    def singleCol(e: org.apache.spark.sql.connector.expressions
        .Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def minMax(name: String, wantMin: Boolean)
        : Option[(DataType, Any)] = {
      if (dv.nonEmpty) return None
      val dt = declared.fields.find(_.name == name).map(_.dataType)
        .getOrElse(return None)
      if (dt != LongType && dt != IntegerType && dt != DateType &&
        dt != StringType) return None
      val ranges = shards.map { k =>
        stats.get(k) match {
          case None => return None // pre-stats shard: unknowable
          case Some(cols) => cols.get(name) // absent = all-NULL there
        }
      }.flatten
      if (ranges.exists(GraftLakeIO.rangeUnusable)) return None
      if (ranges.isEmpty) return Some((dt, null)) // column all NULL
      val merged = ranges.reduce(_.merge(_))
      if (GraftLakeIO.rangeUnusable(merged)) return None
      Some((dt, dt match {
        case LongType =>
          java.lang.Long.valueOf(if (wantMin) merged.minL else merged.maxL)
        case IntegerType | DateType => java.lang.Integer.valueOf(
          (if (wantMin) merged.minL else merged.maxL).toInt)
        case StringType => if (wantMin) merged.minS else merged.maxS
        case _ => return None
      }))
    }
    val terms: Seq[(DataType, Any)] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          (LongType, java.lang.Long.valueOf(footers.map(_._2).sum -
            dv.valuesIterator.map(_.getCardinality.toLong).sum))
        case c: Count if !c.isDistinct =>
          if (dv.nonEmpty) return None
          val name = singleCol(c.column()).getOrElse(return None)
          val n = footers.map { case (schema, rows, nulls) =>
            if (!schema.containsField(name)) 0L // pre-ADD file: NULLs
            else rows - nulls.getOrElse(name, None)
              .getOrElse(return None)
          }.sum
          (LongType, java.lang.Long.valueOf(n))
        case m: Min =>
          minMax(singleCol(m.column()).getOrElse(return None),
            wantMin = true).getOrElse(return None)
        case m: Max =>
          minMax(singleCol(m.column()).getOrElse(return None),
            wantMin = false).getOrElse(return None)
        case _ => return None
      }
    val schema = StructType(terms.zipWithIndex.map { case ((dt, _), i) =>
      StructField(s"agg_$i", dt, nullable = true)
    })
    Some((v, schema, terms.map(_._2).toArray))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = tryAnswer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    val r = tryAnswer(agg)
    if (r.isDefined) aggAnswer = r
    r.isDefined
  }

  override def build(): Scan = {
    aggAnswer match {
      case Some((v, schema, values)) =>
        new GraftLakeAggScan(GraftLakeIO.versionDir(dataDir, v),
          schema, values)
      case None =>
        // resolve the pointer ONCE here: the scan then touches only the
        // immutable version dir, so a commit racing this read is
        // invisible
        val v = pinned.getOrElse(GraftLakeIO.latestVersion(dataDir))
        val scan = new GraftLakeScan(required,
          GraftLakeIO.versionDir(dataDir, v), zonePreds, shardKey,
          nShards, limit, upsertKeys, sampleShards)
        op.foreach(_.scans.add(scan))
        scan
    }
  }
}

/** The scan a completely-pushed aggregate compiles to: ONE partition
  * emitting ONE pre-computed row. The values were resolved from the
  * pinned snapshot's footers + zone maps at pushdown time — no data
  * page is ever read, no per-shard task is ever launched, and the plan
  * carries no aggregate node at all (strings travel to the executor as
  * JVM Strings; the reader re-wraps them as UTF8String). */
class GraftLakeAggScan(vdir: java.io.File, out: StructType,
    values: Array[Any]) extends Scan with Batch {
  // Spark plans partitions more than once per query (planning estimate
  // + RDD creation); the metrics hook must count each pushed scan once
  private val counted = new java.util.concurrent.atomic.AtomicBoolean()
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    if (counted.compareAndSet(false, true))
      GraftLakeScanMetrics.aggPushdowns.incrementAndGet(): Unit
    Array(GraftLakeAggPartition(values))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLakeAggReaderFactory(out)
  override def description(): String =
    s"GraftLakeAggScan(${vdir.getName}, " +
      s"terms=[${out.fieldNames.mkString(",")}], metadata-only)"
}

case class GraftLakeAggPartition(values: Array[Any])
    extends InputPartition

class GraftLakeAggReaderFactory(out: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val vals = partition.asInstanceOf[GraftLakeAggPartition].values
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(
        vals.map {
          case s: String => UTF8String.fromString(s)
          case x => x
        })
      override def close(): Unit = ()
    }
  }
}

class GraftLakeScan(required: StructType, vdir: java.io.File,
    zonePreds: Array[V2Predicate] = Array.empty,
    shardKey: String = "", nShards: Int = 0, limit: Int = -1,
    upsertKeys: Seq[String] = Nil,
    sampleShards: Option[Set[Int]] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  @volatile private[sources] var runtimeFiltered = false
  @volatile private var retained: Option[Set[Int]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** DSv2 statistics for the optimizer (the connector-feeds-the-CBO
    * contract the reference relies on — `trinodemo.properties`' store
    * reports table stats to Trino's join planner). Derived from the
    * SAME pruned partition set the scan will execute — zone maps,
    * bloom sidecars, point-lookup provenance, and part-level footer
    * pruning all applied (shared via the memoized
    * [[planInputPartitions]]) — file byte lengths plus parquet-footer
    * row counts, no data pages — so a pruned scan reports the small
    * post-pruning size and a lake dimension under the broadcast
    * threshold flips SMJ -> BHJ exactly like a stats-bearing
    * session-catalog table (PlanSpec pins the flip). */
  // memoized per runtime-filter state (the planner asks repeatedly;
  // footer tail-reads are cheap but O(shards) per call)
  private var statsCache: (Option[Set[Int]], (Long, Long)) = null

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val key = retained
    if (statsCache == null || statsCache._1 != key) {
      val parts = planInputPartitions()
        .map(_.asInstanceOf[GraftLakeInputPartition])
      // LIVE rows, corrected PER SHARD: a shard's DV can count rows in
      // parts this scan pruned, so its subtraction clamps to that
      // shard's own planned rows — never cancelling real rows from
      // OTHER shards (a global max(0,...) would). Equality-delete
      // entries approximate dead rows: each key kills AT MOST one
      // older copy, but the committer records an entry for EVERY
      // staged key on a non-empty shard — a brand-new key kills
      // nothing, so insert-heavy upsert tables UNDERSTATE live rows
      // here (and a key upserted across N commits kills N-1 copies
      // while appearing once, understating dead). Estimate-only and
      // clamped per shard; the alternative (reading base keys at
      // commit to record only real kills) costs a target scan per
      // commit, which the O(batch) write path deliberately avoids.
      val (bytes, liveRows) = parts.toSeq.foldLeft((0L, 0L)) {
        case ((b, r), p) =>
          val fs = p.paths.map(new java.io.File(_))
          val shardRows = fs.map(f => GraftShardCodec.footer(f)._2).sum
          val dead = dvMap.get(p.shard)
            .map(_.getCardinality.toLong).getOrElse(0L) +
            p.eqDel.size.toLong
          (b + fs.map(_.length()).sum,
            r + math.max(0L, shardRows - math.min(dead, shardRows)))
      }
      statsCache = (key, (bytes, liveRows))
    }
    val (bytes, rows) = statsCache._2
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Advertise `_shard` for runtime filtering ONLY when the read
    * schema actually carries it (row-level operations force it in via
    * requiredMetadataAttributes). A plain read prunes `_shard` out,
    * and Spark's PartitionPruning resolves filterAttributes against
    * the scan OUTPUT — advertising an absent column there throws
    * `Unable to resolve _shard` the moment DPP inspects a lake-side
    * join (surfaced by lake_incremental_mv's aggregate-join shape).
    *
    * The SHARD KEY is additionally advertised (when in the output):
    * Spark's dynamic partition pruning then delivers the build side's
    * key set as a runtime `IN` and the scan keeps only the shards
    * some key ROUTES to under that shard's recorded provenance tag —
    * a lake fact ⋈ filtered dim reads the dim-matching shards only
    * (Trino-on-Iceberg dynamic filtering). */
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("_shard"))
      // row-level reads advertise ONLY `_shard`: the group-filter
      // rule projects ALL advertised attributes into one dynamic
      // IN-subquery, and a multi-key IN does not convert to a V2
      // predicate — filter() would never fire and the op would lose
      // its runtime narrowing (observed as a replaced-set blowup)
      Array(Expressions.column("_shard"))
    else if (shardKey.nonEmpty &&
      required.fieldNames.contains(shardKey))
      // plain reads advertise the shard key for DPP: a selective dim
      // join delivers its key set and the scan keeps only the shards
      // those keys route to
      Array(Expressions.column(shardKey))
    else Array.empty

  /** Runtime filtering, two producers: the row-level rewrite's group
    * filter delivers `_shard IN (...)` (or `=`), and dynamic
    * partition pruning delivers `<shardKey> IN (...)` from the join's
    * build side — each understood predicate contributes a surviving
    * shard set and the sets INTERSECT. Key probes survive per shard
    * iff the shard's recorded routing tag is "mixed"/absent (never
    * prune blind) or some probed key routes to it under THAT tag —
    * the same provenance discipline as the static point-lookup path.
    * Unknown shapes are ignored (scan stays unpruned — always
    * sound). */
  override def filter(predicates: Array[V2Predicate]): Unit = {
    runtimeFiltered = true
    lazy val routing = GraftLakeIO.readRouting(vdir)
    lazy val existing = GraftLakeIO.existingShards(vdir)
    def keyLits(xs: Seq[Any]): Option[Seq[Long]] = {
      val ls = xs.flatMap {
        case l: V2Literal[_] => l.value() match {
          case i: java.lang.Integer => Some(i.longValue())
          case l2: java.lang.Long => Some(l2.longValue())
          case s: java.lang.Short => Some(s.longValue())
          case _ => None
        }
        case _ => None
      }
      if (ls.length == xs.length) Some(ls) else None
    }
    val sets = predicates.toSeq.flatMap { p =>
      val ref = p.children().headOption.collect {
        case r: NamedReference if r.fieldNames().length == 1 =>
          r.fieldNames()(0)
      }
      if (p.name() != "IN" && p.name() != "=") None
      else ref match {
        case Some("_shard") =>
          val lits = p.children().tail.collect {
            case l: V2Literal[_] if l.dataType() == IntegerType =>
              l.value().asInstanceOf[Int]
          }
          if (lits.length == p.children().length - 1)
            Some(lits.toSet)
          else None
        case Some(c) if shardKey.nonEmpty && c == shardKey =>
          keyLits(p.children().toSeq.tail.toSeq).map { ks =>
            existing.filter { k =>
              routing.get(k) match {
                case Some(tag) if tag != "mixed" =>
                  ks.exists(l =>
                    GraftLakeIO.routeUnder(tag, l).forall(_ == k))
                case _ => true // unknown provenance: never prune
              }
            }
          }
        case _ => None
      }
    }
    if (sets.nonEmpty) retained = Some(sets.reduce(_ intersect _))
  }

  private[sources] def plannedShards: Set[Int] = {
    val existing = GraftLakeIO.existingShards(vdir)
    val base = retained.fold(existing)(_.intersect(existing))
    // TABLESAMPLE SYSTEM: metadata-decided shard sample — unsampled
    // shards drop out before any footer or data page is touched
    sampleShards.fold(base)(_.intersect(base))
  }

  /** This snapshot's deletion vectors (merge-on-read DELETE): readers
    * mask the recorded positions, so every consumer of this scan sees
    * live rows only. */
  private lazy val dvMap = GraftLakeIO.readDv(vdir)

  /** `(column, op, literal)` conjuncts usable against the zone maps;
    * reversed literal-first children are normalized (`5 < x` → `x > 5`). */
  private lazy val zoneConjuncts: Seq[(String, String, Any)] = {
    val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
      "=" -> "=")
    zonePreds.toSeq.flatMap { p =>
      if (!flip.contains(p.name()) || p.children().length != 2) None
      else (p.children()(0), p.children()(1)) match {
        case (r: NamedReference, l: V2Literal[_])
            if r.fieldNames().length == 1 =>
          Some((r.fieldNames()(0), p.name(), l.value()))
        case (l: V2Literal[_], r: NamedReference)
            if r.fieldNames().length == 1 =>
          Some((r.fieldNames()(0), flip(p.name()), l.value()))
        case _ => None
      }
    }
  }

  // memoized per runtime-filter state (Spark calls planInputPartitions
  // more than once per query — planning estimate + RDD creation, plus
  // outputPartitioning/estimateStatistics both delegate here — and
  // the metrics hook must count each scan once; but a runtime
  // `filter()` arriving between calls legitimately changes the answer,
  // so the cache keys on the retained set, not call order)
  private var cached: (Option[Set[Int]], Array[InputPartition]) = null

  // spec-pinned observability counters already recorded by THIS scan
  // (planned, skippedByStats, skippedByBloom, skippedParts): a
  // recompute after a runtime filter() adjusts the globals by the
  // DIFFERENCE, so every scan contributes its FINAL state exactly once
  // however many times Spark re-plans it
  private var recorded = (0L, 0L, 0L, 0L)

  private def record(planned: Long, skipStats: Long, skipBloom: Long,
      skipParts: Long): Unit = {
    GraftLakeScanMetrics.planned.addAndGet(planned - recorded._1): Unit
    GraftLakeScanMetrics.skippedByStats
      .addAndGet(skipStats - recorded._2): Unit
    GraftLakeScanMetrics.skippedByBloom
      .addAndGet(skipBloom - recorded._3): Unit
    GraftLakeScanMetrics.skippedParts
      .addAndGet(skipParts - recorded._4): Unit
    recorded = (planned, skipStats, skipBloom, skipParts)
  }

  private def computePartitions(): Array[InputPartition] = {
    val candidates = plannedShards.toArray.sorted
    val stats = GraftLakeIO.readStats(vdir)
    val routing = GraftLakeIO.readRouting(vdir)
    val zoneKept = candidates.filter { k =>
      stats.get(k).forall { cols =>
        zoneConjuncts.forall { case (name, op, lit) =>
          cols.get(name)
            .forall(r => GraftLakeIO.rangeMayMatch(r, op, lit))
        }
      } && probeSurvives(k, routing)
    }
    val kept = zoneKept.filter(bloomSurvives)
    val parts = GraftLakeIO.allShardParts(vdir)
    // PART pruning is forbidden for row-level-operation reads (their
    // output carries the `_shard`/`_pos` row-id metadata): the group
    // rewrite replaces WHOLE shards and Spark pushes the command's
    // condition into the main group read, so dropping a
    // condition-missing part inside a replaced shard would lose its
    // carry-over rows. Shard-level pruning stays consistent there
    // because the candidate and main scans prune shards identically —
    // a pruned shard is never in the replaced set. Plain reads have
    // no cross-scan recombination contract, so they prune freely.
    val rowLevelRead = required.fieldNames.contains("_shard") ||
      required.fieldNames.contains("_pos")
    val eqDel = GraftLakeIO.readEqDel(vdir)
    var skippedParts = 0L
    val result: Array[InputPartition] = kept.map { k =>
      val all = parts.getOrElse(k, Nil)
      val (keep, bases) =
        if (rowLevelRead) (all, Nil)
        else prunedParts(all)
      skippedParts += (all.length - keep.length).toLong
      GraftLakeInputPartition(keep.map(_.getPath), k,
        GraftLakeIO.dvBytes(dvMap, k), bases,
        eqDel.getOrElse(k, Map.empty),
        if (eqDel.contains(k))
          (if (upsertKeys.nonEmpty) upsertKeys else Seq(shardKey))
        else Nil)
    }
    record(kept.length.toLong,
      (candidates.length - zoneKept.length).toLong,
      (zoneKept.length - kept.length).toLong, skippedParts)
    result
  }

  /** PART-LEVEL pruning inside a planned shard: the shard-level zone
    * map is the MERGE of every part's values, so an append-heavy
    * shard goes range-wide even when each individual part is narrow
    * (the time-correlated ingest shape — each appended part covers a
    * recent ts band). Here each part's own parquet-footer column
    * statistics ([[GraftShardCodec.footerRanges]]) are checked
    * against the same conjuncts: a part that provably holds no
    * matching row — range-missed, the column ALL-NULL, or the column
    * absent from the part's schema entirely (pre-ADD history, reads
    * as NULL) — is not read at all. Null-rejecting shapes only, so no
    * NULL row can be lost; predicate-faithfulness makes this sound
    * for EVERY consumer of the scan (plain reads, group rewrites,
    * delta row-id scans): a pruned part contributes no rows to THIS
    * scan's result under its pushed predicates by construction.
    *
    * Survivors keep their CONCATENATION ordinal bases (computed from
    * every part's footer row count, skipped or not), so `_pos` row
    * ids and deletion-vector masking stay exact. */
  private def prunedParts(all: Seq[java.io.File])
      : (Seq[java.io.File], Seq[Long]) = {
    var base = 0L
    val keep = Seq.newBuilder[java.io.File]
    val bases = Seq.newBuilder[Long]
    val metaCols = Set("_shard", "_pos")
    all.foreach { f =>
      val (schema, rows) = GraftShardCodec.footer(f)
      val conjuncts = zoneConjuncts.filterNot(c => metaCols(c._1))
      val mayMatch = conjuncts.isEmpty || {
        lazy val (ranges, allNull) = GraftShardCodec.footerRanges(f)
        conjuncts.forall { case (name, op, lit) =>
          if (!schema.containsField(name)) false // reads as NULL
          else ranges.get(name) match {
            case Some(rg) => GraftLakeIO.rangeMayMatch(rg, op, lit)
            case None => !allNull.contains(name) // no stats: never skip
          }
        }
      }
      if (mayMatch) { keep += f; bases += base }
      base += rows
    }
    (keep.result(), bases.result())
  }

  /** Equality/IN probe conjuncts on the SHARD KEY — per conjunct, the
    * probed literal values. Used with each shard's recorded routing
    * provenance: shard k survives a conjunct iff its tag is
    * "mixed"/absent/unparseable (never prune blind) or some probed
    * value routes to k under THAT SHARD'S tag. */
  private lazy val keyProbeConjuncts: Seq[Seq[Long]] = {
    def longLit(x: Any): Option[Long] = x match {
      case l: V2Literal[_] => l.value() match {
        case i: java.lang.Integer => Some(i.longValue())
        case l2: java.lang.Long => Some(l2.longValue())
        case s: java.lang.Short => Some(s.longValue())
        case _ => None
      }
      case _ => None
    }
    def isKey(x: Any): Boolean = x match {
      case r: NamedReference =>
        r.fieldNames().sameElements(Array(shardKey))
      case _ => false
    }
    if (shardKey.isEmpty) Nil
    else zonePreds.toSeq.flatMap { p =>
      val ch = p.children().toSeq
      p.name() match {
        case "=" if ch.length == 2 && isKey(ch(0)) =>
          longLit(ch(1)).map(Seq(_))
        case "=" if ch.length == 2 && isKey(ch(1)) =>
          longLit(ch(0)).map(Seq(_))
        case "IN" if ch.length >= 2 && isKey(ch.head) =>
          val lits = ch.tail.flatMap(longLit)
          if (lits.length == ch.length - 1) Some(lits) else None
        case _ => None
      }
    }
  }

  /** Equality/IN conjuncts probe the `_bloom.json` sidecar
    * ([[GraftLakeBloom]]): shard k is skipped when, for some
    * conjunct, EVERY probed value is provably absent from k's
    * recorded filter. Entry-less shards/columns never skip; values
    * of an unprobeable type (float, etc.) disable the conjunct. */
  private lazy val bloomMap = GraftLakeBloom.read(vdir)

  /** `(column, probed values)` — values normalized to Long (integral/
    * date literals, matching the writer's widened hashing) or
    * UTF8String. */
  private lazy val bloomConjuncts: Seq[(String, Seq[Any])] = {
    def norm(x: Any): Option[Any] = x match {
      case l: V2Literal[_] => l.value() match {
        case i: java.lang.Integer => Some(i.longValue())
        case l2: java.lang.Long => Some(l2.longValue())
        case s: java.lang.Short => Some(s.longValue())
        case u: UTF8String => Some(u)
        case s: String => Some(UTF8String.fromString(s))
        case _ => None
      }
      case _ => None
    }
    def colOf(x: Any): Option[String] = x match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    zonePreds.toSeq.flatMap { p =>
      val ch = p.children().toSeq
      p.name() match {
        case "=" if ch.length == 2 =>
          (colOf(ch(0)), norm(ch(1)), colOf(ch(1)), norm(ch(0))) match {
            case (Some(c), Some(v), _, _) => Some((c, Seq(v)))
            case (_, _, Some(c), Some(v)) => Some((c, Seq(v)))
            case _ => None
          }
        case "IN" if ch.length >= 2 =>
          colOf(ch.head).flatMap { c =>
            val vs = ch.tail.flatMap(norm)
            if (vs.length == ch.length - 1) Some((c, vs)) else None
          }
        case _ => None
      }
    }
  }

  private def bloomSurvives(k: Int): Boolean =
    bloomConjuncts.isEmpty || {
      val entry = bloomMap.getOrElse(k, Map.empty)
      bloomConjuncts.forall { case (c, vs) =>
        entry.get(c).forall(bits => vs.exists {
          case l: java.lang.Long =>
            GraftLakeBloom.mightContainLong(bits, l.longValue())
          case u: UTF8String =>
            GraftLakeBloom.mightContainUtf8(bits, u)
          case _ => true
        })
      }
    }

  private def probeSurvives(k: Int,
      routing: Map[Int, String]): Boolean =
    keyProbeConjuncts.forall { lits =>
      routing.get(k) match {
        case Some(tag) if tag != "mixed" =>
          lits.exists(l =>
            GraftLakeIO.routeUnder(tag, l).forall(_ == k))
        case _ => true
      }
    }

  override def planInputPartitions(): Array[InputPartition] =
    synchronized {
      if (cached == null || cached._1 != retained)
        cached = (retained, computePartitions())
      cached._2
    }

  /** STORAGE-PARTITIONED JOIN (SPARK-37375): a hash-sharded snapshot
    * reports its physical layout as `KeyGroupedPartitioning(
    * bucket(nShards, shardKey))`, so a join of two lake tables
    * sharded the same way is planned with NO exchange on EITHER side
    * — Spark matches the two scans' transforms (via
    * [[GraftBucketFunction]] loaded from this catalog), aligns
    * partitions by the reported [[HasPartitionKey]] shard ids, and
    * elides both shuffles. At 100 TB a key-key join of co-sharded
    * fact tables goes from 2×full-shuffle to zero network.
    *
    * Soundness gate — report the layout only when it is PROVEN, not
    * intended: every planned shard's recorded routing provenance
    * (`_routing.json`, written per commit) must be exactly
    * `hash:<nShards>`. Range-clustered layouts (`shard_width`),
    * shards written under an older routing after `ALTER`, and
    * "mixed" merge results all fail the check and degrade to
    * `UnknownPartitioning` — a plain shuffled join, never a wrong
    * co-partitioning claim. Zone-map/runtime pruning only SHRINKS
    * the reported partition set; missing shards on one join side are
    * Spark's to align (`v2.bucketing.pushPartValues`). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = planInputPartitions()
    val provenGroupLayout = shardKey.nonEmpty && nShards > 0 &&
      parts.nonEmpty && required.fieldNames.contains(shardKey) && {
        val routing = GraftLakeIO.readRouting(vdir)
        parts.forall(p => routing
          .get(p.asInstanceOf[GraftLakeInputPartition].shard)
          .contains(s"hash:$nShards"))
      }
    if (provenGroupLayout)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(Expressions.bucket(nShards, shardKey)), parts.length)
    else
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(parts.length)
  }

  /** DSv2 `SupportsReportOrdering`: the scan reports an ascending
    * shard-key ordering iff EVERY planned shard carries sorted
    * provenance (`_sorted.json` — written fresh by a clustered
    * write's required ordering, dropped on append/rewrite) and still
    * has its single sorted part. DV and equality-delete masking only
    * REMOVE rows, never reorder, so the claim survives them. With
    * [[outputPartitioning]]'s key-grouped claim this makes a
    * co-sharded clustered join plan with zero exchanges AND zero
    * sorts (SPARK-38647 + SPARK-37375 composed — the
    * Iceberg/Trino sorted-bucket join). Derived/hidden transforms
    * never claim (the key column's order is not the derived order
    * rows were routed by). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val claim = shardKey.nonEmpty &&
      GraftLakeTransform.parse(shardKey)._1.isEmpty &&
      required.fieldNames.contains(shardKey) && {
        val sorted = GraftLakeIO.readSorted(vdir)
        val parts = planInputPartitions()
          .map(_.asInstanceOf[GraftLakeInputPartition])
        parts.nonEmpty && parts.forall(p =>
          sorted.contains(p.shard) && p.paths.lengthCompare(1) == 0)
      }
    if (claim)
      Array(Expressions.sort(Expressions.identity(shardKey),
        org.apache.spark.sql.connector.expressions.SortDirection
          .ASCENDING))
    else Array.empty
  }

  /** Row vs columnar, decided once for the whole scan: VECTORIZED
    * batches for plain data reads (the overwhelmingly common shape —
    * see [[GraftLakeColumnarPartitionReader]]), INCLUDING LIMIT-pushed
    * scans (round 15: batch-grained early stop — the decode win holds
    * and reading still halts right after the batch crossing the
    * limit); the row path keeps the cases it is structurally better
    * at — `_pos`-bearing row-level-operation reads (stable row ids
    * are per-row by nature) and projection-empty reads (served from
    * footer counts, zero data pages — faster than any decode). */
  private def columnarEligible: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.lake.columnar", "true").toBoolean &&
      !required.fieldNames.contains("_pos") &&
      required.fields.exists(f =>
        f.name != "_shard" && f.name != "_pos")

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLakeReaderFactory(required, limit, columnarEligible)

  override def description(): String =
    s"GraftLakeScan(${vdir.getName}, " +
      s"cols=[${required.fieldNames.mkString(",")}], " +
      s"runtimeFiltered=$runtimeFiltered, " +
      s"zonePreds=${zoneConjuncts.size}" +
      (if (limit >= 0) s", pushedLimit=$limit" else "") + ")"
}

case class GraftLakeInputPartition(paths: Seq[String], shard: Int,
    dv: Array[Byte] = null,
    // concatenation ordinal of each path's row 0 — explicit because
    // part pruning can drop parts from the MIDDLE of the list and
    // `_pos`/deletion-vector ordinals must not shift (empty = dense,
    // reader accumulates)
    ordBases: Seq[Long] = Nil,
    // equality deletes for this shard (encoded key -> bound) + the
    // key columns; rows whose encoded key k sits at ordinal < bound(k)
    // are dead
    eqDel: Map[String, Long] = Map.empty,
    eqKeys: Seq[String] = Nil)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** The value of `bucket(nShards, shardKey)` for every row in this
    * partition — the shard id itself. Spark groups and aligns SPJ
    * partitions by this row; it is only consulted when the scan
    * reported a [[org.apache.spark.sql.connector.read.partitioning
    * .KeyGroupedPartitioning]], i.e. when the routing provenance
    * proved the claim. */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](shard))
}

class GraftLakeReaderFactory(required: StructType, limit: Int = -1,
    columnar: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftLakeInputPartition]
    new GraftLakePartitionReader(p.paths, p.shard, required, p.dv,
      p.ordBases, limit, p.eqDel, p.eqKeys)
  }
  // the row/columnar choice is SCAN-GLOBAL (Spark refuses mixed
  // partitions in one scan), decided where the scan knows its whole
  // shape: see GraftLakeScan.createReaderFactory
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftLakeInputPartition]
    new GraftLakeColumnarPartitionReader(p.paths, p.shard, required,
      p.dv, p.ordBases, p.eqDel, p.eqKeys, limit)
  }
}

/** Streams one shard's ORDERED PART LIST as a single columnar row
  * sequence ([[GraftShardCodec]], executor-side). Only the requested
  * columns' parquet pages are decoded — the projection is intersected
  * with EACH part footer's own schema (parts written before an
  * `ALTER TABLE ADD COLUMN` serve the new column as NULL without any
  * rewrite — per-part projection IS the schema-evolution mechanism),
  * and a projection-empty read (`count(*)`, or a `_shard`-only probe)
  * is served ENTIRELY from footer row counts — zero data pages. The
  * `_shard` metadata column is synthesized, not stored; `_pos` is the
  * CONCATENATION ordinal across parts in seq order — stable under
  * appends because new parts only land after all existing rows.
  * A missing part file is an ERROR, never an empty shard: partitions
  * are planned only from the immutable snapshot dir, so absence at
  * read time means the snapshot was torn (expired mid-read, dropped,
  * or corrupted) — surfacing it beats silently serving zero rows
  * (advisor round 10). */
class GraftLakePartitionReader(paths: Seq[String], shard: Int,
    required: StructType, dvBytes: Array[Byte] = null,
    ordBases: Seq[Long] = Nil, limit: Int = -1,
    eqDel: Map[String, Long] = Map.empty, eqKeys: Seq[String] = Nil)
    extends PartitionReader[InternalRow] {
  // pushed partial LIMIT: live rows emitted by THIS partition
  private var emitted = 0L
  require(eqDel.isEmpty || eqKeys.nonEmpty,
    s"shard $shard carries equality deletes but the scan has no key " +
      "columns to mask by — refusing rather than serving dead rows")
  paths.foreach { p =>
    if (!new java.io.File(p).exists())
      throw new java.io.FileNotFoundException(
        s"lake shard part $p vanished after planning — the snapshot " +
          "was expired or deleted while being read")
  }

  // equality deletes force the key columns into the decode set even
  // when the projection pruned them (a `count(*)` over an upsert table
  // must still resolve dead rows — the metadata-only fast path is
  // refused upstream for exactly this reason)
  private val dataNames = {
    val req = required.fields.iterator.map(_.name)
      .filter(n => n != "_shard" && n != "_pos").toSeq
    if (eqDel.isEmpty) req
    else req ++ eqKeys.filterNot(req.contains)
  }
  // this snapshot's deletion vector for the shard: positions are
  // concatenation ordinals, masked here so every consumer sees live
  // rows only; `_pos` reports the PRE-mask ordinal (the stable row id)
  private val dv = GraftLakeIO.dvOf(dvBytes)

  // per-part decode state, advanced lazily part by part
  private var partIdx = -1
  private var partRows = 0L        // rows of the current part
  private var partOrd = 0L         // next ordinal within current part
  private var projIdx: Array[Int] = null
  private var eqKeyIdxs: Array[Int] = null // per key col; null = no mask
  private var metadataOnly = true
  private var reader: org.apache.parquet.hadoop
    .ParquetReader[org.apache.parquet.example.data.Group] = null
  private var ordBase = 0L         // concat ordinal of current part's row 0

  /** Open the next part; false when all parts are exhausted. */
  private def advancePart(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    ordBase += partRows
    partIdx += 1
    if (partIdx >= paths.length) return false
    // planner-supplied concatenation bases (part pruning drops parts
    // from the middle; ordinals of the survivors must not shift)
    if (ordBases.nonEmpty) ordBase = ordBases(partIdx)
    val f = new java.io.File(paths(partIdx))
    val (fileSchema, rows) = GraftShardCodec.footer(f)
    val projection = GraftShardCodec.projectionFor(fileSchema, dataNames)
    partRows = rows
    partOrd = 0L
    // composite masking needs EVERY key part decodable from this
    // part's own schema; key columns exist from table creation
    // (DDL-validated, never droppable), so a missing one can only
    // mean rows that predate the key — unaddressable, left live
    eqKeyIdxs =
      if (eqDel.nonEmpty && eqKeys.forall(projection.containsField))
        eqKeys.map(projection.getFieldIndex).toArray
      else null
    projIdx = required.fields.map { fd =>
      if (fd.name != "_shard" && fd.name != "_pos" &&
        projection.containsField(fd.name))
        projection.getFieldIndex(fd.name)
      else -1
    }
    metadataOnly = projection.getFieldCount == 0
    GraftLakeScanMetrics.decodedColumns
      .addAndGet(projection.getFieldCount.toLong): Unit
    if (metadataOnly)
      GraftLakeScanMetrics.metadataOnlyReads.incrementAndGet(): Unit
    else reader = GraftShardCodec.openReader(f, projection)
    true
  }

  private var row: InternalRow = _

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (partIdx < 0 || partOrd >= partRows) {
        if (!advancePart()) return false
      } else {
        val ord = ordBase + partOrd
        partOrd += 1L
        val g: org.apache.parquet.example.data.Group =
          if (metadataOnly) null
          else {
            val r = reader.read()
            if (r == null) return false
            r
          }
        // equality deletes: a row whose ENCODED key k sits at
        // ordinal < bound(k) is dead — an upserted key's older
        // versions never become rows. A null key part makes the row
        // unaddressable (commits refuse null keys, so only
        // pre-contract rows can carry one) — left live.
        val eqDead = eqKeyIdxs != null && g != null && {
          val parts = eqKeyIdxs.map(i =>
            GraftLakeIO.eqKeyPart(GraftShardCodec.rawValue(g, i)))
          !parts.contains(null) &&
            eqDel.get(GraftLakeIO.encodeEqKey(parts.toSeq))
              .exists(ord < _)
        }
        // a deleted position still advances the file reader (the bytes
        // are there; the row is dead) — it just never becomes a row
        if (!eqDead &&
          (ord > Int.MaxValue || !dv.contains(ord.toInt))) {
          val vals = new Array[Any](required.length)
          var i = 0
          while (i < required.length) {
            val f = required(i)
            vals(i) =
              if (f.name == "_shard") shard
              else if (f.name == "_pos") ord
              else if (projIdx(i) < 0) null
              else GraftShardCodec.value(g, projIdx(i), f.dataType)
            i += 1
          }
          row = new GenericInternalRow(vals)
          emitted += 1L
          return true
        }
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (reader != null) reader.close()
}

/** Driver-computed metadata table: rows are (re)built at scan time
  * and served through Spark's [[org.apache.spark.sql.connector.read
  * .LocalScan]] fast path (LocalTableScanExec — no tasks, no
  * partitions). Powers `$files` and `$refs`. */
class GraftLakeLocalTable(tname: String, out: StructType,
    build: () => Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = tname
  override def schema(): StructType = out
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      private val built = build()
      override def rows(): Array[InternalRow] = built
      override def readSchema(): StructType = out
      override def description(): String = tname
    }
}

/** The `<table>$changes` CHANGE-FEED metadata table — the connector
  * form of [[Lake.tableChanges]] (Iceberg's `db.tbl.changes` /
  * Delta's `readChangeFeed` idiom), schema
  * `(_change_type, _commit_version, <data columns>)`:
  *
  *  - BATCH read: the full history — every commit v emits its diff
  *    against v−1 (insert / delete / update_preimage /
  *    update_postimage), stamped with `_commit_version = v`.
  *  - MICRO-BATCH STREAMING read (`spark.readStream.table`): offsets
  *    are VERSION NUMBERS; admission control advances ONE COMMIT per
  *    micro-batch, so a drained AvailableNow run replays the history
  *    as chronological per-commit batches and a live stream follows
  *    new commits — the engine-native replacement for the staged-file
  *    replay in `stream_lake_changes`.
  *
  * Scale posture: one input partition per (version, CHANGED shard) —
  * unchanged shards are carried by HARDLINK at commit, so
  * `Files.isSameFile(pre, post)` proves them diff-free WITHOUT opening
  * them and they are never planned. Each reader diffs one shard pair
  * with a key-indexed map of the pre side (bounded by shard size — the
  * build side of a shard-local hash join); the table's shard key must
  * be unique per shard for image pairing, asserted loudly. */
class GraftLakeChangesTable(base: GraftLakeTable)
    extends Table with SupportsRead {

  private[sources] def changeSchema: StructType = StructType(
    StructField("_change_type", StringType, nullable = false) +:
      StructField("_commit_version", LongType, nullable = false) +:
      base.declared.fields.toSeq)

  override def name(): String = s"${base.tableName}$$changes"
  override def schema(): StructType = changeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // head pinned at scan-build time: Spark may call
    // planInputPartitions more than once per query, and a commit
    // racing planning must not yield inconsistent partition sets
    // (the main GraftLakeScanBuilder pins in build() for the same
    // reason). `startingVersion`/`endingVersion` read options bound
    // the replay (Delta's CDF option names): the batch emits diffs
    // for commits in (startingVersion, endingVersion] — an
    // incremental consumer resumes from its last-seen version
    // without replaying history.
    val head = GraftLakeIO.latestVersion(base.dataDir)
    val from = Option(options.get("startingVersion"))
      .map(_.trim.toInt).getOrElse(0)
    val to = Option(options.get("endingVersion"))
      .map(_.trim.toInt).getOrElse(head)
    require(from >= 0 && to <= head && from <= to,
      s"${base.tableName}$$changes: version bounds ($from, $to] out " +
        s"of committed range [0, $head]")
    () => new GraftLakeChangesScan(base, changeSchema, to, from)
  }
}

class GraftLakeChangesScan(base: GraftLakeTable,
    out: StructType, pinnedHead: Int, val startVersion: Int = 0)
    extends Scan with Batch {

  override def readSchema(): StructType = out
  override def toBatch: Batch = this

  /** (version, shard) partitions for versions in (vFrom, vTo] whose
    * shard pair actually differs — hardlink-carried shards are proven
    * identical by file identity and never planned. Every version in
    * the range — and the diff base vFrom when > 0 — must still EXIST:
    * a missing (expired) dir would silently read as an empty shard
    * set, fabricating inserts for every surviving row and losing
    * deletes/updates, so the replay fails loudly instead (mirrors the
    * TIMESTAMP/VERSION AS OF expiry discipline). */
  private[sources] def diffPartitions(vFrom: Int,
      vTo: Int): Array[InputPartition] = {
    val need = (if (vFrom > 0) Seq(vFrom) else Nil) ++ (vFrom + 1 to vTo)
    need.foreach { v =>
      if (!GraftLakeIO.versionDir(base.dataDir, v).exists())
        throw new IllegalStateException(
          s"${base.tableName}$$changes: cannot replay versions " +
            s"($vFrom, $vTo] — version $v has been expired; a diff " +
            "over expired history would fabricate inserts and lose " +
            "deletes/updates")
    }
    (vFrom + 1 to vTo).flatMap { v =>
      val preDir = GraftLakeIO.versionDir(base.dataDir, v - 1)
      val postDir = GraftLakeIO.versionDir(base.dataDir, v)
      // deletion vectors change the LIVE row set without touching any
      // file: an identical part list only proves the shard diff-free
      // when both sides also carry the same DV entry, and the differ
      // masks each side's positions before comparing
      val preDv = GraftLakeIO.readDv(preDir)
      val postDv = GraftLakeIO.readDv(postDir)
      // equality deletes are mask state exactly like the vectors:
      // identical files only prove a shard diff-free when the eqdel
      // entry is ALSO unchanged (an upsert commit changes the map of
      // every shard it touched, so those fall to the general differ)
      val preEq = GraftLakeIO.readEqDel(preDir)
      val postEq = GraftLakeIO.readEqDel(postDir)
      val preParts = GraftLakeIO.allShardParts(preDir)
      val postParts = GraftLakeIO.allShardParts(postDir)
      def sameFile(a: java.io.File, b: java.io.File): Boolean =
        java.nio.file.Files.isSameFile(a.toPath, b.toPath)
      (preParts.keySet ++ postParts.keySet).toSeq.sorted.flatMap { k =>
        val pre = preParts.getOrElse(k, Nil)
        val post = postParts.getOrElse(k, Nil)
        val sameDv = preDv.get(k) == postDv.get(k) &&
          preEq.get(k) == postEq.get(k)
        val prefixLen = pre.zip(post).takeWhile((sameFile _).tupled)
          .length
        if (prefixLen == pre.length && pre.length == post.length &&
          sameDv)
          None // identical part list + identical vector: diff-free
        else if (prefixLen == pre.length && sameDv)
          // APPEND-ONLY commit: the pre parts are an identity prefix
          // of the post parts and the vector is unchanged — the diff
          // is exactly the appended parts' rows as inserts, and the
          // existing rows are never read (no DV applies: the carried
          // vector's positions all fall inside the identical prefix)
          Some(GraftLakeChangesPartition(Nil,
            post.drop(pre.length).map(_.getPath), k, v, null,
            null): InputPartition)
        else Some(GraftLakeChangesPartition(
          pre.map(_.getPath), post.map(_.getPath),
          k, v, GraftLakeIO.dvBytes(preDv, k),
          GraftLakeIO.dvBytes(postDv, k),
          preEq.getOrElse(k, Map.empty),
          postEq.getOrElse(k, Map.empty)): InputPartition)
      }
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    diffPartitions(startVersion, pinnedHead)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLakeChangesReaderFactory(out, base.declared,
      if (base.upsertMode == "equality-delete") base.upsertKeys
      else Seq(GraftLakeTransform.parse(base.shardKey)._2))

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read
      .streaming.MicroBatchStream =
    new GraftLakeChangesStream(base, out, this)

  override def description(): String =
    s"GraftLakeChangesScan(${base.tableName})"
}

/** Micro-batch CDF stream: offsets are committed VERSION numbers;
  * admission control ([[latestOffset(Offset, ReadLimit)]]) advances
  * exactly one commit per micro-batch. */
class GraftLakeChangesStream(base: GraftLakeTable, out: StructType,
    scan: GraftLakeChangesScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset,
    ReadLimit}

  private case class VOffset(v: Int) extends Offset {
    override def json(): String = v.toString
  }

  // AvailableNow contract: the head is PINNED when the trigger starts,
  // so the run drains to a fixed target even while new commits land
  @volatile private var availableNowTarget: Int = -1

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = GraftLakeIO.latestVersion(base.dataDir)

  private def head: Int =
    if (availableNowTarget >= 0) availableNowTarget
    else GraftLakeIO.latestVersion(base.dataDir)

  override def initialOffset(): Offset = VOffset(scan.startVersion)
  override def deserializeOffset(json: String): Offset =
    VOffset(json.trim.toInt)

  override def latestOffset(): Offset = VOffset(head)

  /** One commit per micro-batch: the replay is chronological and each
    * batch carries exactly one version's diff. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[VOffset].v
    VOffset(math.min(cur + 1, head))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    scan.diffPartitions(start.asInstanceOf[VOffset].v,
      end.asInstanceOf[VOffset].v)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLakeChangesReaderFactory(out, base.declared,
      if (base.upsertMode == "equality-delete") base.upsertKeys
      else Seq(GraftLakeTransform.parse(base.shardKey)._2))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class GraftLakeChangesPartition(prePaths: Seq[String],
    postPaths: Seq[String], shard: Int, version: Int,
    preDv: Array[Byte] = null, postDv: Array[Byte] = null,
    preEq: Map[String, Long] = Map.empty,
    postEq: Map[String, Long] = Map.empty)
    extends InputPartition

class GraftLakeChangesReaderFactory(out: StructType,
    dataSchema: StructType, pairKeys: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftLakeChangesPartition]
    new GraftLakeChangesReader(p, out, dataSchema, pairKeys)
  }
}

/** Diffs ONE shard pair: the pre side is indexed by the shard key (a
  * shard-local hash-join build side), the post side streams through —
  * matching keys with differing values emit an image pair, post-only
  * keys emit `insert`, then unmatched pre keys emit `delete`. Change
  * detection compares the DECODED typed values (not file bytes), so
  * re-encoding noise can never fake a change. */
class GraftLakeChangesReader(p: GraftLakeChangesPartition,
    out: StructType, dataSchema: StructType, pairKeys: Seq[String])
    extends PartitionReader[InternalRow] {
  // row identity for image pairing: the UPSERT key (composite for
  // equality-delete tables, the plain shard-key column otherwise)
  private val keyIdxs = pairKeys.map(dataSchema.fieldIndex).toArray

  private def encKey(r: Array[Any]): String = {
    val parts = keyIdxs.map(i => GraftLakeIO.eqKeyPart(r(i)))
    if (parts.contains(null)) null
    else GraftLakeIO.encodeEqKey(parts.toSeq)
  }

  // each side is masked by ITS OWN version's deletion vector before
  // diffing (positions are CONCATENATION ordinals across the part
  // list): a row whose position entered the post DV reads as absent
  // there and emits a `delete`, exactly like a physical removal
  private def eqDead(eq: Map[String, Long], r: Array[Any],
      ord: Long): Boolean =
    eq.nonEmpty && {
      val k = encKey(r)
      k != null && eq.get(k).exists(ord < _)
    }

  private def readAll(paths: Seq[String],
      dvB: Array[Byte], eq: Map[String, Long]): Seq[Array[Any]] =
    if (paths.isEmpty) Nil
    else {
      val dv = GraftLakeIO.dvOf(dvB)
      paths.iterator.flatMap(p =>
        GraftShardCodec.readRows(new java.io.File(p), dataSchema))
        .zipWithIndex
        .collect { case (r, i)
          if !dv.contains(i) && !eqDead(eq, r, i.toLong) => r }
        .toVector
    }

  // the POST side STREAMS (only the pre side needs indexing — the
  // asymmetry of a hash join): peak memory is one shard map + one row,
  // not two shard copies. The handles are kept so close() releases
  // every opened part even when the consumer stops early (a LIMITed
  // CDC read).
  private val postClosers =
    scala.collection.mutable.Buffer[AutoCloseable]()
  private def postLines: Iterator[Array[Any]] =
    if (p.postPaths.isEmpty) Iterator.empty
    else {
      val dv = GraftLakeIO.dvOf(p.postDv)
      p.postPaths.iterator.flatMap { path =>
        val (it, c) = GraftShardCodec.readRowsCloseable(
          new java.io.File(path), dataSchema)
        postClosers += c
        it
      }.zipWithIndex.collect { case (r, i)
        if !dv.contains(i) && !eqDead(p.postEq, r, i.toLong) => r }
    }

  private def sameVals(a: Array[Any], b: Array[Any]): Boolean = {
    var i = 0
    while (i < a.length) {
      val eq = (a(i), b(i)) match {
        case (null, null) => true
        case (null, _) | (_, null) => false
        // boxed-Double universal == has NaN != NaN, which would emit a
        // spurious update image pair for an unchanged NaN row; match
        // Spark SQL's <=> (the DataFrame-level tableChanges'
        // comparator): NaN equals NaN, and -0.0 equals 0.0
        case (x: java.lang.Double, y: java.lang.Double) =>
          x.doubleValue() == y.doubleValue() ||
            (x.doubleValue().isNaN && y.doubleValue().isNaN)
        case (x, y) => x == y
      }
      if (!eq) return false
      i += 1
    }
    true
  }

  private val rows: Iterator[InternalRow] = {
    def keyOf(vals: Array[Any]): String = {
      val k = encKey(vals)
      if (k == null) throw new IllegalStateException(
        s"shard ${p.shard}: NULL in pairing key " +
          s"(${pairKeys.mkString(", ")}) — the change feed cannot " +
          "pair images on a null key")
      k
    }
    val preByKey = scala.collection.mutable.LinkedHashMap[String,
      Array[Any]]()
    readAll(p.prePaths, p.preDv, p.preEq).foreach { v =>
      val k = keyOf(v)
      require(!preByKey.contains(k),
        s"shard ${p.shard} v${p.version - 1}: duplicate key $k — the " +
          "change feed requires a unique shard key per shard")
      preByKey.update(k, v)
    }
    def mk(tag: String, vals: Array[Any]): InternalRow =
      new GenericInternalRow(
        (UTF8String.fromString(tag): Any) +: (p.version.toLong: Any) +:
          vals)
    val matchedPre = scala.collection.mutable.Set[String]()
    val seenPost = scala.collection.mutable.Set[String]()
    val fromPost = postLines.flatMap { v =>
      val k = keyOf(v)
      require(!seenPost.contains(k),
        s"shard ${p.shard} v${p.version}: duplicate key $k — the " +
          "change feed requires a unique shard key per shard")
      seenPost.add(k): Unit
      preByKey.get(k) match {
        case Some(old) =>
          matchedPre.add(k): Unit
          if (sameVals(old, v)) Nil
          else Seq(mk("update_preimage", old), mk("update_postimage", v))
        case None => Seq(mk("insert", v))
      }
    }
    // deletes AFTER the post pass (matchedPre is complete by then)
    val deletes = () => preByKey.iterator.collect {
      case (k, old) if !matchedPre.contains(k) => mk("delete", old)
    }
    fromPost ++ new Iterator[InternalRow] {
      private lazy val it = deletes()
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = it.next()
    }
  }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { cur = rows.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = postClosers.foreach(_.close())
}

/** Writes route every row to its group (floorMod of the shard key) in
  * a query-scoped stage dir; job commit applies the group protocol:
  * drop replaced groups (row-level op) or all groups (truncate), then
  * APPEND staged rows into their shard files — the same
  * delete-read-groups-then-append contract as Spark's reference
  * group-based connector, so inserts landing in unread groups merge
  * instead of clobbering. */
class GraftLakeWriteBuilder(table: GraftLakeTable, dataDir: String,
    info: LogicalWriteInfo, op: Option[GraftLakeRowLevelOperation])
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** `write_distribution = clustered`: the write DECLARES
    * `clustered(bucket(nShards, shardKey))` and Spark shuffles the
    * input with [[GraftBucketFunction]] (resolved through the
    * catalog, codegen'd via its magic `invoke`) into exactly
    * `nShards` tasks — every shard's rows arrive at ONE task, so the
    * commit adopts each shard's single staged file by hardlink
    * instead of merging task fragments, open-writer pressure drops
    * to O(shards/tasks), and row groups reach full size. Iceberg's
    * `write.distribution-mode = hash` contract, expressed through
    * DSv2 `RequiresDistributionAndOrdering`. Declared only when the
    * shard key is actually in the write schema (row-level
    * replacement writes carry it too, so they cluster as well). */
  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    private def clustered: Boolean =
      table.writeDistribution == "clustered" &&
        table.shardWidth == 0L &&
        info.schema().fieldNames.contains(table.shardKey)
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      if (clustered)
        org.apache.spark.sql.connector.distributions.Distributions
          .clustered(Array(
            Expressions.bucket(table.nShards, table.shardKey)))
      else
        org.apache.spark.sql.connector.distributions.Distributions
          .unspecified()
    override def requiredNumPartitions(): Int =
      if (clustered) table.nShards else 0
    /** Clustered writes also require an ASCENDING key order within
      * each task: with one task per shard, every adopted shard file
      * is key-sorted — recorded as sorted provenance at commit and
      * served back through `SupportsReportOrdering`, so a downstream
      * sort-merge join needs neither exchange NOR sort on the lake
      * side (Iceberg's write.distribution-mode=hash + sort-order
      * composition). */
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      if (clustered)
        Array(Expressions.sort(
          Expressions.identity(table.shardKey),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING))
      else Array.empty
    override def toBatch: BatchWrite =
      new GraftLakeBatchWrite(table, dataDir, info.schema(),
        truncateFirst, op, info.queryId())
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftLakeStreamingWrite(table, dataDir, info.schema(),
        info.queryId())
  }
}

/** EXACTLY-ONCE micro-batch sink into the lake: every epoch is one
  * ordinary CAS commit (operation label "streaming") that ALSO
  * records `queryId -> epochId` in the snapshot's carried txn map
  * ([[GraftLakeIO.readTxns]]). A replayed epoch — Structured
  * Streaming re-runs the last epoch after a restart from checkpoint —
  * finds its id already at-or-below the recorded watermark and
  * commits NOTHING, so the table converges to the batch answer no
  * matter where the stream was killed (Delta's txn/SetTransaction
  * idempotent-sink design). A CAS loss against a concurrent writer
  * rebuilds from the new head and retries — the staged epoch files
  * stay put until the commit lands. */
class GraftLakeStreamingWrite(table: GraftLakeTable, dataDir: String,
    writeSchema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def stageDir(epochId: Long) =
    new java.io.File(dataDir, s"_stage_${queryId}_e$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write
      .streaming.StreamingDataWriterFactory =
    GraftLakeStreamingWriterFactory(dataDir, queryId, writeSchema,
      table.shardKey, table.nShards, table.shardWidth,
      table.bloomCols)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    try {
      var attempts = 0
      var done = false
      while (!done) {
        if (GraftLakeIO.committedEpoch(dataDir, queryId) >= epochId)
          done = true // replayed epoch after restart: idempotent no-op
        else
          try {
            GraftLakeCommitter.commitStaged(table, dataDir, writeSchema,
              truncateFirst = false, op = None,
              messages.flatMap {
                case GraftLakeTaskCommit(parts) => parts
              }.groupBy(_.shard).view.mapValues(_.toSeq).toMap,
              operationOverride = Some("streaming"),
              txnUpdate = Some(queryId -> epochId))
            done = true
          } catch {
            case _: GraftLakeCommitConflict if attempts < 5 =>
              attempts += 1 // lost the CAS race: rebuild on new head
          }
      }
    } finally rmTree(stageDir(epochId))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    rmTree(stageDir(epochId))
}

/** Ships to executors (the driver-side [[GraftLakeStreamingWrite]]
  * holds table state and is not serializable by design): stages each
  * epoch's rows under `_stage_<query>_e<epoch>`. */
case class GraftLakeStreamingWriterFactory(dataDir: String,
    queryId: String, writeSchema: StructType, shardKey: String,
    nShards: Int, shardWidth: Long, bloomCols: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val d = new java.io.File(dataDir, s"_stage_${queryId}_e$epochId")
    d.mkdirs()
    new GraftLakeDataWriter(d.getPath, writeSchema, shardKey, nShards,
      shardWidth, partitionId, taskId, bloomCols)
  }
}

case class GraftLakeCommit(shard: Int, path: String,
    stats: Map[String, GraftLakeIO.ColRange] = Map.empty,
    blooms: Map[String, Array[Byte]] = Map.empty)
    extends WriterCommitMessage
case class GraftLakeTaskCommit(parts: Seq[GraftLakeCommit])
    extends WriterCommitMessage

class GraftLakeBatchWrite(table: GraftLakeTable, dataDir: String,
    writeSchema: StructType, truncateFirst: Boolean,
    op: Option[GraftLakeRowLevelOperation], queryId: String)
    extends BatchWrite {
  private def stageDir = new java.io.File(dataDir, s"_stage_$queryId")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    stageDir.mkdirs()
    new GraftLakeWriterFactory(stageDir.getPath, writeSchema,
      table.shardKey, table.nShards, table.shardWidth,
      table.bloomCols)
  }

  /** Versioned commit: build version N+1 COMPLETELY in a WRITER-UNIQUE
    * build dir (unchanged shards hardlinked from the base snapshot —
    * zero copy, and safe because published files are never appended
    * to; shards receiving rows are copied-then-appended;
    * replaced/truncated shards simply don't carry over), stamp its
    * commit time, then let [[GraftLakeIO.commitVersion]] CAS-rename it
    * to v(N+1) and move the pointer under the table lock. A reader
    * that resolved the pointer before the move keeps reading its
    * snapshot's immutable files — table-level atomicity, no torn
    * states — and a racing writer's build can never touch a published
    * dir (each loser deletes only its own build). */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    try GraftLakeCommitter.commitStaged(table, dataDir, writeSchema,
      truncateFirst, op,
      messages.flatMap { case GraftLakeTaskCommit(parts) => parts }
        .groupBy(_.shard).view.mapValues(_.toSeq).toMap,
      operationOverride = None, txnUpdate = None)
    finally rmTree(stageDir)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    rmTree(stageDir)
}

/** The shared snapshot-building commit core: batch writes, row-level
  * operations, and streaming epochs all build version N+1 the same
  * way and differ only in their operation label and (for streaming)
  * the txn watermark they record. */
private[sources] object GraftLakeCommitter {
  def commitStaged(table: GraftLakeTable, dataDir: String,
      writeSchema: StructType, truncateFirst: Boolean,
      op: Option[GraftLakeRowLevelOperation],
      staged: Map[Int, Seq[GraftLakeCommit]],
      operationOverride: Option[String],
      txnUpdate: Option[(String, Long)],
      extraDeletes: Map[Int, org.roaringbitmap.RoaringBitmap] =
        Map.empty,
      baseVOverride: Option[Int] = None): Unit = {
    // baseVOverride pins the base the caller VALIDATED against (the
    // delta path's position-validity check) — any commit landing after
    // that validation then fails the CAS instead of publishing deletes
    // whose ordinals no longer bind
    val baseV = baseVOverride.getOrElse(
      op.fold(GraftLakeIO.latestVersion(dataDir))(_.snapshotV))
    val baseDir = GraftLakeIO.versionDir(dataDir, baseV)
    val build = GraftLakeIO.newBuildDir(dataDir)
    try {
      val dropped: Set[Int] =
        if (truncateFirst) GraftLakeIO.existingShards(baseDir)
        else op.fold(Set.empty[Int])(_.replacedShards)
      val carriedBase = GraftLakeIO.existingShards(baseDir).diff(dropped)
      def link(src: java.io.File, dst: java.io.File): Unit =
        try java.nio.file.Files.createLink(dst.toPath, src.toPath): Unit
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(src.toPath, dst.toPath): Unit
        }
      val baseParts = GraftLakeIO.allShardParts(baseDir)
      // every carried shard — untouched OR appended-to — hardlinks its
      // existing parts verbatim: published parts are immutable, so an
      // append is O(new data), never a byte-copy of the shard. The
      // per-part link identity is also what proves parts diff-free
      // for $changes and position-valid for stale delta commits.
      carriedBase.foreach { k =>
        baseParts.getOrElse(k, Nil).foreach(f =>
          link(f, new java.io.File(build, f.getName)))
      }
      val targetType = GraftShardCodec.messageType(writeSchema)
      // shard part-writes are independent — run them across a bounded
      // pool (a wide ingest staging hundreds of shards would otherwise
      // serialize its commit I/O on one thread)
      val merges = staged.toSeq.map { case (k, parts) => () =>
        // staged rows land as ONE NEW PART after the carried parts
        // (ordinals of existing rows never move); multiple tasks'
        // staged files concatenate by raw row-group append — staged
        // bytes only, the base parts are never read
        val nextSeq =
          if (carriedBase.contains(k))
            GraftLakeIO.nextPartSeq(baseDir, k)
          else 0
        val dst = GraftLakeIO.shardPartFile(build, k, nextSeq)
        val srcs = parts.sortBy(_.path).map(c => new java.io.File(c.path))
        if (srcs.lengthCompare(1) == 0) {
          // single staged file: adopt it directly (the stage dir is
          // unlinked after commit, the build's link keeps the bytes)
          link(srcs.head, dst)
          GraftLakeScanMetrics.adoptedParts.incrementAndGet(): Unit
        } else {
          GraftShardCodec.mergeShardFiles(dst, targetType, srcs)
          GraftLakeScanMetrics.mergedParts.incrementAndGet(): Unit
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
          futures.foreach(_.get()) // propagate the first failure
        } finally pool.shutdown()
      }
      // zone maps for the new snapshot: carried shards keep the base
      // version's ranges verbatim; appended shards merge base + staged;
      // a shard the base had NO entry for stays entry-less (never
      // skipped — sound for pre-stats history)
      val baseStats = GraftLakeIO.readStats(baseDir)
      val carried = GraftLakeIO.existingShards(baseDir).diff(dropped)
      val statsOut = GraftLakeIO.existingShards(build).flatMap { k =>
        val base =
          if (carried.contains(k)) baseStats.get(k) else None
        val fresh = staged.get(k).map(_.map(_.stats)
          .reduce((a, b) => (a.keySet ++ b.keySet).map(n =>
            n -> ((a.get(n), b.get(n)) match {
              case (Some(x), Some(y)) => x.merge(y)
              case (Some(x), None) => x
              case (None, Some(y)) => y
              case _ => sys.error("unreachable")
            })).toMap))
        (base, fresh) match {
          // an appended shard whose base half has no stats must stay
          // entry-less: fresh ranges alone don't cover the old rows
          case (None, _) if carried.contains(k) => None
          case (Some(b), Some(f)) => Some(k -> (b.keySet ++ f.keySet)
            .map(n => n -> ((b.get(n), f.get(n)) match {
              case (Some(x), Some(y)) => x.merge(y)
              // only one half observed the column: the other half held
              // only NULLs for it (stats record every non-null value,
              // and pre-ADD-COLUMN rows read as NULL), and the
              // skippable predicate shapes are null-rejecting — the
              // single half's range is sound for the whole file
              case (Some(x), None) => x
              case (None, Some(y)) => y
              case _ => sys.error("unreachable")
            })).toMap)
          case (Some(b), None) => Some(k -> b)
          case (None, Some(f)) => Some(k -> f)
          case (None, None) => None
        }
      }.toMap
      if (statsOut.nonEmpty) GraftLakeIO.writeStats(build, statsOut)
      // bloom sidecars ride the same carry/merge shape as the zone
      // maps, with ONE deliberate difference: an appended shard keeps
      // only columns present in BOTH halves (intersection). The
      // single-half rule the ranges use is sound for them because a
      // missing half always means "only NULLs there" — but a bloom
      // half can ALSO be missing because `bloom_columns` was enabled
      // after the base files were written, and those old rows hold
      // real values no filter covers. The intersection can't tell the
      // two apart, so it refuses both; coverage resumes when the
      // shard is fully rewritten.
      val baseBloom = GraftLakeBloom.read(baseDir)
      val bloomOut = GraftLakeIO.existingShards(build).flatMap { k =>
        val base = if (carried.contains(k)) baseBloom.get(k) else None
        val fresh = staged.get(k)
          .map(_.map(_.blooms.view
            .mapValues(GraftLakeBloom.fromBytes).toMap)
            .reduce((a, b) => (a.keySet ++ b.keySet).map(n =>
              n -> ((a.get(n), b.get(n)) match {
                case (Some(x), Some(y)) => GraftLakeBloom.or(x, y)
                case (Some(x), None) => x
                case (None, Some(y)) => y
                case _ => sys.error("unreachable")
              })).toMap))
          .filter(_.nonEmpty)
        val merged = (base, fresh) match {
          case (None, _) if carried.contains(k) => None
          case (Some(b), Some(f)) =>
            val cols = b.keySet.intersect(f.keySet)
            if (cols.isEmpty) None
            else Some(cols.map(n =>
              n -> GraftLakeBloom.or(b(n), f(n))).toMap)
          // carried AND staged but the staged half observed nothing
          // (bloom_columns currently disabled): the new rows are
          // uncovered, so the base entry must drop, not carry
          case (Some(b), None) =>
            if (staged.contains(k)) None else Some(b)
          case (None, Some(f)) => Some(f)
          case _ => None
        }
        merged.map(k -> _)
      }.toMap
      if (bloomOut.nonEmpty) GraftLakeBloom.write(build, bloomOut)
      // routing provenance per shard file (point-lookup pruning):
      // carried keeps its recorded tag, append-merged keeps it only
      // if it matches the CURRENT routing (else "mixed" — never
      // pruned), fresh takes the current tag; pre-provenance history
      // degrades to "mixed"
      val currentTag = {
        val (transform, _) = GraftLakeTransform.parse(table.shardKey)
        if (transform.nonEmpty)
          // routeUnder parses this to None: raw-column probes must
          // never prune a transform-routed shard
          s"$transform:${table.shardWidth}:${table.nShards}"
        else if (table.shardWidth > 0L)
          s"range:${table.shardWidth}:${table.nShards}"
        else s"hash:${table.nShards}"
      }
      val baseRouting = GraftLakeIO.readRouting(baseDir)
      val routingOut = GraftLakeIO.existingShards(build).map { k =>
        k -> ((carried.contains(k), staged.contains(k)) match {
          case (true, false) => baseRouting.getOrElse(k, "mixed")
          case (false, true) => currentTag
          case (true, true) =>
            if (baseRouting.getOrElse(k, "mixed") == currentTag)
              currentTag
            else "mixed"
          case _ => "mixed"
        })
      }.toMap
      if (routingOut.nonEmpty)
        GraftLakeIO.writeRouting(build, routingOut)
      // sorted-shard provenance: a shard is key-sorted iff this commit
      // wrote it FRESH as one adopted part under a clustered write's
      // required ordering (batch/row-level — streaming epochs declare
      // no ordering), or carried it untouched from a sorted base.
      // Appends merge unsorted behind sorted rows: flag drops.
      val orderedWrite = !operationOverride.contains("streaming") &&
        table.writeDistribution == "clustered" &&
        table.shardWidth == 0L &&
        writeSchema.fieldNames.contains(table.shardKey)
      val baseSorted = GraftLakeIO.readSorted(baseDir)
      val sortedOut = GraftLakeIO.existingShards(build).filter { k =>
        (carried.contains(k), staged.contains(k)) match {
          case (true, false) => baseSorted.contains(k)
          case (false, true) =>
            orderedWrite && staged(k).lengthCompare(1) == 0
          case _ => false
        }
      }
      GraftLakeIO.writeSorted(build, sortedOut)
      // streaming txn watermarks are SNAPSHOT STATE: carried from the
      // base and updated atomically with the commit that records them
      val txns = txnUpdate.foldLeft(GraftLakeIO.readTxns(baseDir)) {
        case (m, (q, e)) => m.updated(q, e)
      }
      if (txns.nonEmpty) GraftLakeIO.writeTxns(build, txns)
      // deletion vectors are snapshot state like stats: dropped /
      // rewritten shards lose their entry (their replacement files
      // were rebuilt from live rows), carried shards keep it, and
      // append-merged shards keep it too — both merge paths place the
      // base file's rows FIRST, so recorded ordinals stay valid. The
      // delta path's freshly-recorded position deletes (extraDeletes)
      // UNION in on top. Must land before writeCommitMeta (live-row
      // counts read it).
      val dvCarried = GraftLakeIO.readDv(baseDir)
        .filter { case (k, _) => carriedBase.contains(k) }
      val dvOut = extraDeletes.foldLeft(dvCarried) {
        case (acc, (k, bm)) => acc.get(k) match {
          case Some(prev) =>
            val u = prev.clone(); u.or(bm); acc.updated(k, u)
          case None => acc.updated(k, bm)
        }
      }
      GraftLakeIO.writeDv(build, dvOut)
      // EQUALITY DELETES are snapshot state like the vectors:
      // dropped/rewritten shards lose their entry (their replacement
      // files were built from RESOLVED live rows — the reader masks
      // eq-deletes on every consumer, row-level operations included),
      // carried shards keep it. Under `write_upsert=equality-delete`
      // a plain append ADDITIONALLY records, per staged key, the
      // appended part's base ordinal — every older row of that key is
      // dead at read. O(batch): the bound comes from carried-part
      // FOOTERS, the keys from decoding ONE column of the part this
      // commit just wrote; no target data file is ever read.
      val eqCarried = GraftLakeIO.readEqDel(baseDir)
        .filter { case (k, _) => carriedBase.contains(k) }
      val eqOut =
        if (table.upsertMode != "equality-delete" || op.nonEmpty ||
            truncateFirst) eqCarried
        else staged.keySet.foldLeft(eqCarried) { (acc, k) =>
          val bound =
            if (carriedBase.contains(k))
              baseParts.getOrElse(k, Nil).iterator
                .map(f => GraftShardCodec.footer(f)._2).sum
            else 0L
          val nextSeq = GraftLakeIO.nextPartSeq(baseDir, k)
          val part = GraftLakeIO.shardPartFile(build, k, nextSeq)
          // decode ALL upsert key columns of the staged part (the
          // composite-key generalization: parts encode to one string
          // via the canonical single/length-prefixed layout)
          val keyFields = StructType(table.upsertKeys.map(n =>
            table.declared(table.declared.fieldIndex(n))))
          val keys = GraftShardCodec.readRows(part, keyFields)
            .map { row =>
              val parts = row.map(GraftLakeIO.eqKeyPart)
              require(!parts.contains(null),
                s"${table.tableName}: write_upsert=equality-delete " +
                  "refuses NULL upsert key parts — a null can never " +
                  "address the older version it should replace")
              GraftLakeIO.encodeEqKey(parts.toSeq)
            }.toSeq
          // enforce the documented batch contract AT WRITE TIME:
          // duplicate keys within one appended batch all sit at
          // ord >= bound, so every copy would stay live — silently
          // breaking last-writer-wins now and failing the $changes
          // differ loudly later. O(batch), checked for fresh shards
          // too (in-batch dups are a contract violation either way).
          if (keys.size != keys.distinct.size) {
            val dups = keys.groupBy(identity).collect {
              case (kk, vs) if vs.size > 1 => kk
            }.toSeq.sorted.take(5)
            throw new IllegalArgumentException(
              s"${table.tableName}: write_upsert=equality-delete " +
                s"batches must be key-unique; duplicate " +
                s"(${table.upsertKeys.mkString(", ")}) values in " +
                s"this append: ${dups.mkString(", ")}")
          }
          if (bound == 0L) acc // fresh shard: nothing older to kill
          else {
            val prev = acc.getOrElse(k, Map.empty[String, Long])
            acc.updated(k, keys.foldLeft(prev)(_.updated(_, bound)))
          }
        }
      GraftLakeIO.writeEqDel(build, eqOut)
      val operation = operationOverride
        .orElse(op.map(_.command().name().toLowerCase(
          java.util.Locale.ROOT)))
        .getOrElse(if (truncateFirst) "overwrite" else "append")
      GraftLakeIO.writeCommitMeta(build,
        GraftLakeIO.nextCommitStamp(dataDir, baseV), operation)
      GraftLakeIO.commitVersion(dataDir, baseV, build): Unit
    } catch {
      case e: Throwable =>
        // commitVersion cleans the build on CAS conflict; every other
        // failure path must not leave the half-built dir behind
        if (build.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          rm(build)
        }
        throw e
    }
  }
}

class GraftLakeWriterFactory(stagePath: String, writeSchema: StructType,
    shardKey: String, nShards: Int, shardWidth: Long,
    bloomCols: Seq[String] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftLakeDataWriter(stagePath, writeSchema, shardKey, nShards,
      shardWidth, partitionId, taskId, bloomCols)
}

class GraftLakeDataWriter(stagePath: String, writeSchema: StructType,
    shardKey: String, nShards: Int, shardWidth: Long,
    partitionId: Int, taskId: Long, bloomCols: Seq[String] = Nil)
    extends DataWriter[InternalRow] {
  private val bloomSet = bloomCols.toSet
  // per-(shard, bloom column) filter bits this task observed
  private val blooms = scala.collection.mutable.Map[Int,
    scala.collection.mutable.Map[String, Array[Long]]]()
  private def bloomBuf(k: Int, name: String): Array[Long] =
    blooms.getOrElseUpdate(k,
        scala.collection.mutable.Map[String, Array[Long]]())
      .getOrElseUpdate(name, GraftLakeBloom.empty())
  // hidden-partitioning transforms travel inside the shard-key string
  // ("days(ts)") so every writer construction site stays unchanged
  private val (keyTransform, keyCol) = GraftLakeTransform.parse(shardKey)
  private val keyIdx = writeSchema.fieldIndex(keyCol)
  private val keyIsLong = writeSchema(keyIdx).dataType == LongType ||
    writeSchema(keyIdx).dataType == TimestampType
  // parquet payload: one columnar staged file per shard this task
  // routes rows to ([[GraftShardCodec]] bounds each writer's row-group
  // buffer)
  private val msgType = GraftShardCodec.messageType(writeSchema)
  private val groupFac = GraftShardCodec.groupFactory(msgType)
  // LRU-bounded open writers: each ParquetWriter buffers up to a row
  // group, so a task spraying rows across many shards (hash routing
  // under an unclustered input) would otherwise hold
  // shards x RowGroupBytes of heap. Past the cap the least-recently-
  // written shard's writer is CLOSED and the shard ROTATES to a fresh
  // staged part on its next row — the commit core already merges
  // multi-part shards, so rotation is invisible downstream. Task
  // memory is thereby bounded at MaxOpenWriters x 16 MB regardless of
  // shard count.
  private val open = new java.util.LinkedHashMap[Int,
    (java.io.File,
      org.apache.parquet.hadoop.ParquetWriter[
        org.apache.parquet.example.data.Group])](16, 0.75f,
    /* accessOrder = */ true)
  // rotated-out staged files, still part of this task's commit
  private val closed =
    scala.collection.mutable.Buffer[(Int, java.io.File)]()
  private var rotation = 0
  // zone-map accumulation: per shard, per stat-able column, the
  // running min/max over the NON-NULL values this writer routed there
  private val ranges = scala.collection.mutable.Map[Int,
    scala.collection.mutable.Map[String, GraftLakeIO.ColRange]]()

  private def writerFor(k: Int): org.apache.parquet.hadoop
      .ParquetWriter[org.apache.parquet.example.data.Group] = {
    val cur = open.get(k)
    if (cur != null) return cur._2
    if (open.size() >= GraftLakeDataWriter.MaxOpenWriters) {
      val lru = open.entrySet().iterator().next()
      lru.getValue._2.close()
      closed += lru.getKey -> lru.getValue._1
      GraftLakeScanMetrics.writerRotations.incrementAndGet(): Unit
      open.remove(lru.getKey): Unit
    }
    // taskId in the name keeps speculative/retried attempts disjoint;
    // the rotation counter keeps a re-opened shard's parts disjoint
    val f = new java.io.File(stagePath,
      s"shard-${k}_p${partitionId}_t${taskId}_r$rotation.parquet")
    rotation += 1
    val w = GraftShardCodec.openWriter(f, msgType)
    open.put(k, (f, w)): Unit
    w
  }

  private def observe(k: Int, name: String, r: GraftLakeIO.ColRange)
      : Unit = {
    val m = ranges.getOrElseUpdate(k,
      scala.collection.mutable.Map[String, GraftLakeIO.ColRange]())
    m.update(name, m.get(name).fold(r)(_.merge(r)))
  }

  override def write(row: InternalRow): Unit = {
    val raw =
      if (keyIsLong) row.getLong(keyIdx) else row.getInt(keyIdx).toLong
    val key = GraftLakeTransform.derive(keyTransform, raw)
    // hash routing by default; RANGE clustering when shard_width is
    // set (contiguous key ranges per shard — the layout zone maps
    // need); hidden-partitioning transforms place width-sized DERIVED
    // buckets round-robin (contiguous in time per bucket, unbounded
    // domain — epoch days never start near 0, so the clamped range
    // form would pile everything into the last shard)
    val k =
      if (keyTransform.nonEmpty)
        java.lang.Math.floorMod(
          java.lang.Math.floorDiv(key, math.max(shardWidth, 1L)),
          nShards.toLong).toInt
      else if (shardWidth > 0L)
        math.min(math.max(java.lang.Math.floorDiv(key, shardWidth), 0L),
          (nShards - 1).toLong).toInt
      else java.lang.Math.floorMod(key, nShards.toLong).toInt
    val g = groupFac.newGroup()
    var i = 0
    while (i < writeSchema.length) {
      val f = writeSchema(i)
      if (f.name != "_shard" && !row.isNullAt(i)) {
        // physical routing (`_shard`) is never stored; nulls are
        // simply absent from the group
        f.dataType match {
          case LongType | TimestampType =>
            // timestamps ride as INT64 micros (the codec's logical
            // annotation restores the type at read); the zone map
            // observes the micros — date predicates push as micros
            // literals and prune on the integral range
            val v = row.getLong(i)
            g.add(f.name, v)
            observe(k, f.name,
              GraftLakeIO.ColRange(isFloat = false, v, v, v.toDouble,
                v.toDouble))
            if (bloomSet.contains(f.name))
              GraftLakeBloom.addLong(bloomBuf(k, f.name), v)
          case IntegerType | DateType =>
            val v = row.getInt(i)
            g.add(f.name, v)
            observe(k, f.name,
              GraftLakeIO.ColRange(isFloat = false, v.toLong, v.toLong,
                v.toDouble, v.toDouble))
            if (bloomSet.contains(f.name))
              GraftLakeBloom.addLong(bloomBuf(k, f.name), v.toLong)
          case DoubleType =>
            val v = row.getDouble(i)
            g.add(f.name, v)
            // NaN never enters the zone map: math.min/max propagate
            // NaN, and one poisoned bound would make every range
            // comparison false — pruning shards that hold real rows.
            // Skipping is sound like skipping null: the skippable
            // predicate shapes are ordered comparisons, which no NaN
            // row can satisfy anyway (Parquet/Iceberg do the same).
            if (!v.isNaN)
              observe(k, f.name,
                GraftLakeIO.ColRange(isFloat = true, 0L, 0L, v, v))
          case StringType =>
            val u = row.getUTF8String(i)
            g.add(f.name, org.apache.parquet.io.api.Binary
              .fromConstantByteArray(u.getBytes))
            // string zone map: exact value at-or-under the length
            // bound, sticky-invalid past it (never a wrong skip)
            observe(k, f.name, GraftLakeIO.ColRange.ofString(
              u.toString))
            if (bloomSet.contains(f.name))
              GraftLakeBloom.addUtf8(bloomBuf(k, f.name), u)
          case other => throw new IllegalArgumentException(
            s"unsupported lake type for ${f.name}: $other")
        }
      }
      i += 1
    }
    writerFor(k).write(g)
  }

  override def commit(): WriterCommitMessage = {
    open.values().forEach(_._2.close())
    val parts = closed.toSeq ++ {
      val b = scala.collection.mutable.Buffer[(Int, java.io.File)]()
      open.forEach((k, v) => b += k -> v._1)
      b.toSeq
    }
    // a rotated shard reports several parts; the shard's FULL range
    // map rides on each (min/max merge is idempotent, so the
    // commit-side reduce lands the same sound ranges either way)
    GraftLakeTaskCommit(parts.sortBy(p => (p._1, p._2.getName)).map {
      case (k, f) =>
        GraftLakeCommit(k, f.getPath,
          ranges.get(k).fold(Map.empty[String, GraftLakeIO.ColRange])(
            _.toMap),
          // like the ranges: the shard's FULL bloom rides each part
          // (OR-merge is idempotent)
          blooms.get(k).fold(Map.empty[String, Array[Byte]])(
            _.view.mapValues(GraftLakeBloom.toBytes).toMap))
    })
  }

  override def abort(): Unit = {
    open.values().forEach { case (f, w) => w.close(); f.delete(): Unit }
    closed.foreach { case (_, f) => f.delete(): Unit }
  }

  override def close(): Unit = ()
}

object GraftLakeDataWriter {
  /** Cap on concurrently open per-shard parquet writers per task —
    * bounds task heap at MaxOpenWriters x RowGroupBytes (16 MB). */
  val MaxOpenWriters = 16
}

/** Query-facing surface: the first-seen upsert driven by LITERAL SQL
  * MERGE through the lake catalog. */
object Lake {

  /** Bind (once per session) and return the catalog name. */
  def registerCatalog(s: org.apache.spark.sql.SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft_lake",
      classOf[GraftLakeCatalog].getName)
    // storage-partitioned joins: honor the KeyGroupedPartitioning the
    // lake scan reports (off by default in Spark); pushPartValues
    // aligns sides whose surviving shard sets differ after pruning
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    // one-sided SPJ: a non-lake join side may be shuffled WITH the
    // lake's own bucket function (GraftBucketFunction.produceResult
    // is the real floorMod routing), so the lake side still moves
    // zero bytes — only the small side shuffles
    s.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled",
      "true")
    if (s.conf.getOption("spark.sql.catalog.graft_lake.path").isEmpty)
      s.conf.set("spark.sql.catalog.graft_lake.path",
        s"${System.getProperty("java.io.tmpdir")}/graft_lake_" +
          s"${ProcessHandle.current().pid()}")
  }

  /** [[graft.operators.Merge.mergeUpsertFirstSeen]] expressed as the
    * SQL the reference's users would actually type: batch 1 INSERTs
    * the initial first-seen table, batch 2 arrives as `MERGE INTO …
    * WHEN MATCHED THEN UPDATE SET cohort_d = least(…) WHEN NOT MATCHED
    * THEN INSERT …`, planned by Spark's group-based row-level rewrite
    * against [[GraftLakeTable]]. Same oracle as the library operator:
    * the maintained table must equal the flat min-over-all-events
    * recompute. */
  /** DDL + batch-1 INSERT (→ version 1) + batch-2 MERGE (→ version 2)
    * of the first-seen table; shared by the MERGE and time-travel
    * queries. Caller holds the Lake lock. */
  private def setupFirstSeen(s: org.apache.spark.sql.SparkSession,
      dir: String, tbl: String): Unit = {
    val ev = Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d",
        "dayofmonth(ts) AS dom")
    ev.filter(col("dom") <= 15).groupBy("user_id")
      .agg(min("d").as("cohort_d"))
      .createOrReplaceTempView("graft_lake_b1")
    ev.filter(col("dom") > 15).groupBy("user_id")
      .agg(min("d").as("cohort_d"))
      .createOrReplaceTempView("graft_lake_b2")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, cohort_d DATE)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_b1")
    s.sql(s"""MERGE INTO $tbl t
              USING graft_lake_b2 s
              ON t.user_id = s.user_id
              WHEN MATCHED THEN
                UPDATE SET cohort_d = least(t.cohort_d, s.cohort_d)
              WHEN NOT MATCHED THEN
                INSERT (user_id, cohort_d) VALUES (s.user_id, s.cohort_d)""")
    (): Unit
  }

  val mergeSqlFirstSeen: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val name = s"first_seen_${Tables.fingerprint(dir, "events")}"
    val tbl = s"graft_lake.lake.$name"
    // the MERGE here IS the operator under test, so it always runs
    // live — but once per JVM, not once per call (the statement is
    // deterministic, and re-merging the merged head is wasted work)
    if (!builtHistories.contains(name)) {
      setupFirstSeen(s, dir, tbl)
      builtHistories.add(name): Unit
    }
    s.sql(s"SELECT user_id, cohort_d FROM $tbl ORDER BY user_id")
  }

  /** Memoized v1-INSERT + v2-MERGE history shared by the time-travel
    * and persisted-view reads: for THOSE keys the merge history is
    * pure fixture (the operator under test is `VERSION AS OF` /
    * catalog-view resolution), so the scripted state restores from
    * the cross-JVM hardlink memo instead of re-running two event
    * aggregations + DDL + INSERT + MERGE per query per JVM (the
    * driver-tail cost the round-17 bench sample paid three times
    * over). [[mergeSqlFirstSeen]] deliberately does NOT use this —
    * its MERGE is the op. */
  private def firstSeenBase(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val fp = Tables.fingerprint(dir, "events")
    val name = s"fsb_$fp"
    if (!builtHistories.contains(name)) {
      memoizedLakeState(s, "fsb", fp, Seq(name)) {
        setupFirstSeen(s, dir, s"graft_lake.lake.$name")
      }
      builtHistories.add(name): Unit
    }
    s"graft_lake.lake.$name"
  }

  /** Snapshot TIME TRAVEL over the versioned lake table: batch 1's
    * INSERT commits version 1, the MERGE commits version 2, and ONE
    * query reads BOTH — `VERSION AS OF 1` must show the pre-merge
    * state unchanged (published versions are immutable; the merge
    * hardlinks untouched shards and never appends to a published
    * file), `VERSION AS OF 2` the merged table. The oracle recomputes
    * both states from the raw events, so a pass proves the history is
    * real, not a re-read of the head. */
  val lakeTimeTravel: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val tbl = firstSeenBase(s, dir)
    s.sql(s"""SELECT CAST(1 AS BIGINT) AS version, user_id, cohort_d
              FROM $tbl VERSION AS OF 1
              UNION ALL
              SELECT CAST(2 AS BIGINT), user_id, cohort_d
              FROM $tbl VERSION AS OF 2
              ORDER BY version, user_id""")
  }

  val lakeTimeTravelOracle: String =
    """WITH ev AS (
         SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           day(CAST(ts AS TIMESTAMP)) AS dom
         FROM events)
       SELECT CAST(1 AS BIGINT) AS version, user_id,
         min(d) AS cohort_d
       FROM ev WHERE dom <= 15 GROUP BY user_id
       UNION ALL
       SELECT CAST(2 AS BIGINT), user_id, min(d)
       FROM ev GROUP BY user_id
       ORDER BY version, user_id"""

  /** CATALOG-PERSISTED SQL VIEWS over lake tables ([[LakeViewSql]] +
    * [[GraftLakeViews]], the Trino connector-view model): the view is
    * CREATEd through literal SQL against the lake catalog, its
    * definition persists as a catalog descriptor (not session state),
    * and the SELECT re-resolves the stored text against the table's
    * CURRENT snapshot — which by construction includes the MERGE that
    * committed after batch 1. The oracle recomputes the view's
    * content flat from raw events. */
  val lakeViewSql: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = firstSeenBase(s, dir) // v1 INSERT, v2 MERGE (memoized)
    s.sql(s"DROP VIEW IF EXISTS graft_lake.lake.vw_$fp")
    s.sql(s"""CREATE VIEW graft_lake.lake.vw_$fp AS
              SELECT user_id, cohort_d FROM $tbl
              WHERE user_id % 2 = 0""")
    s.sql(s"""SELECT user_id, cohort_d FROM graft_lake.lake.vw_$fp
              ORDER BY user_id""")
  }

  val lakeViewSqlOracle: String =
    """SELECT user_id,
         min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
           AS cohort_d
       FROM events GROUP BY user_id
       HAVING user_id % 2 = 0
       ORDER BY user_id"""

  /** METADATA-ONLY DELETE (SupportsDeleteV2 — Trino's partition-drop
    * semantics): on a range-clustered table, `DELETE WHERE user_id <
    * 32` aligns with shard 0's key range exactly, so Spark's
    * OptimizeMetadataOnlyDeleteFromTable skips the rewrite job and
    * the commit just drops the shard's files — the query asserts NO
    * scan was planned for the delete (zero data I/O), and the oracle
    * proves the surviving table is exactly the flat recompute. */
  val lakeMetadataDelete: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.mdel_$fp"
    Tables.events(s, dir)
      .selectExpr("user_id").groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_mdel_b")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'shard_width'='32')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_mdel_b") // v1
    GraftLakeScanMetrics.reset()
    s.sql(s"DELETE FROM $tbl WHERE user_id < 32") // v2: drops shard 0
    require(GraftLakeScanMetrics.planned.get() == 0L,
      "a shard-aligned DELETE must be metadata-only (no scan planned)")
    s.sql(s"""SELECT user_id, n_events FROM $tbl ORDER BY user_id""")
  }

  val lakeMetadataDeleteOracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
       FROM events GROUP BY user_id
       HAVING user_id >= 32
       ORDER BY user_id"""

  /** The `$files` STORAGE-INVENTORY metadata table (Trino-on-Iceberg
    * `table$files`): per part file — shard, seq, row count (footer
    * metadata), bytes, deletion count. The query aggregates the
    * PHYSICAL inventory per shard and the oracle recomputes the
    * LOGICAL partition of the same data from raw events — rows per
    * hash shard AND files per shard (= how many of the two
    * key-parity insert batches actually route users into that
    * shard) — so a pass proves the reported storage layout is exactly
    * the layout the routing implies, not bookkeeping fiction. */
  val lakeFilesTable: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val name = s"files_$fp"
    val tbl = s"graft_lake.lake.$name"
    Tables.events(s, dir)
      .selectExpr("user_id").groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_files_b")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    s.sql(s"""INSERT INTO $tbl SELECT * FROM graft_lake_files_b
              WHERE user_id % 16 < 8""") // v1: part 0 per shard
    s.sql(s"""INSERT INTO $tbl SELECT * FROM graft_lake_files_b
              WHERE user_id % 16 >= 8""") // v2: part 1 per shard
    s.sql(s"""SELECT shard, CAST(sum(n_rows) AS BIGINT) AS n_rows,
                CAST(count(*) AS BIGINT) AS n_files
              FROM `graft_lake`.`lake`.`$name$$files`
              GROUP BY shard ORDER BY shard""")
  }

  val lakeFilesTableOracle: String =
    """SELECT CAST(user_id % 8 AS INT) AS shard,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT CASE WHEN user_id % 16 < 8 THEN 0
                                  ELSE 1 END) AS BIGINT) AS n_files
       FROM (SELECT DISTINCT user_id FROM events)
       GROUP BY 1 ORDER BY 1"""

  /** NAMED SNAPSHOT TAGS surviving retention (Iceberg tags / Trino
    * `FOR VERSION AS OF 'name'`): the pre-merge state is tagged, an
    * `expire_snapshots(keep => 1)` then ages out everything untagged
    * below the head — and the tagged snapshot must STILL read back
    * exactly, resolved by name through `VERSION AS OF 'pre_merge'`.
    * The oracle recomputes both the pinned pre-merge state and the
    * head from raw events, so a pass proves the tag pins real
    * immutable history, not a name for whatever survives. */
  val lakeTagTravel: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val name = s"tag_$fp"
    val tbl = s"graft_lake.lake.$name"
    setupFirstSeen(s, dir, tbl) // v1 INSERT, v2 MERGE
    s.sql(s"""CALL graft_lake.system.create_tag('$name', 'pre_merge',
        version => 1)""").collect()
    // keep=1 would drop v1 — the tag must retain it
    val surviving = s.sql(s"""CALL graft_lake.system.expire_snapshots(
        '$name', keep => 1)""").collect().map(_.getInt(0)).toSeq
    require(surviving == Seq(1, 2),
      s"tagged v1 must survive expiry, got $surviving")
    s.sql(s"""SELECT 'head' AS ref, user_id, cohort_d FROM $tbl
              UNION ALL
              SELECT 'pre_merge', user_id, cohort_d
              FROM $tbl VERSION AS OF 'pre_merge'
              ORDER BY ref, user_id""")
  }

  val lakeTagTravelOracle: String =
    """WITH ev AS (
         SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           day(CAST(ts AS TIMESTAMP)) AS dom
         FROM events)
       SELECT 'head' AS ref, user_id, min(d) AS cohort_d
       FROM ev GROUP BY user_id
       UNION ALL
       SELECT 'pre_merge', user_id, min(d)
       FROM ev WHERE dom <= 15 GROUP BY user_id
       ORDER BY ref, user_id"""

  /** SQL `DELETE FROM` + `UPDATE` through the same group-based
    * row-level machinery — the rest of Trino's DML surface, oracled:
    * a per-user summary table is loaded, a DELETE removes every 7th
    * user, an UPDATE doubles the event count of users ≡ 1 (mod 5),
    * and the read-back must equal the oracle's CASE/WHERE emulation.
    * Both statements rewrite only the shards holding matching rows
    * (runtime group filtering; LakeMergeSpec pins the mechanism). */
  /** End-to-end SCHEMA EVOLUTION under load: the first-seen table is
    * created without a count column, batch 1 INSERTs through the
    * original schema, `ALTER TABLE ADD COLUMN n_events` evolves it
    * (metadata-only — batch 1's files are never rewritten), batch 2
    * INSERTs through the evolved schema, and the read-back projects
    * batch-1 rows as NULL counts — the oracle recomputes exactly that
    * split from raw events, so a pass proves old files remain readable
    * through the new schema with correct NULL semantics. */
  /** Memoized schema-EVOLVED first-seen table (v1 INSERT → ALTER ADD
    * COLUMN → v2 anti-join INSERT): ONE scripted fixture shared by the
    * evolution read and the metadata-aggregate probe — the operators
    * under test are the READS (pre-ADD shards genuinely serving the
    * new column as NULL; footer/zone-map aggregate answering), not the
    * deterministic DDL script, so the state restores from the
    * cross-JVM hardlink memo like [[firstSeenBase]]. */
  private def evolvedBase(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val fp = Tables.fingerprint(dir, "events")
    val name = s"evo_$fp"
    val tbl = s"graft_lake.lake.$name"
    if (!builtHistories.contains(name)) {
      memoizedLakeState(s, "evo", fp, Seq(name)) {
        val ev = Tables.events(s, dir)
          .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d",
            "dayofmonth(ts) AS dom")
        ev.filter(col("dom") <= 15).groupBy("user_id")
          .agg(min("d").as("cohort_d"))
          .createOrReplaceTempView("graft_lake_evo_b1")
        ev.filter(col("dom") > 15).groupBy("user_id")
          .agg(min("d").as("cohort_d"), count(lit(1)).as("n_events"))
          .createOrReplaceTempView("graft_lake_evo_b2")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, cohort_d DATE)
                  TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
        s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_evo_b1")
        s.sql(s"ALTER TABLE $tbl ADD COLUMN (n_events BIGINT)")
        // batch 2: only users NOT already present (append-only evolution
        // demo; upserts are the MERGE queries' business)
        s.sql(s"""INSERT INTO $tbl
                  SELECT b2.user_id, b2.cohort_d, b2.n_events
                  FROM graft_lake_evo_b2 b2
                  LEFT ANTI JOIN graft_lake_evo_b1 b1
                    ON b1.user_id = b2.user_id""")
        (): Unit
      }
      builtHistories.add(name): Unit
    }
    tbl
  }

  val lakeSchemaEvolution: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val tbl = evolvedBase(s, dir)
    s.sql(s"""SELECT user_id, cohort_d, n_events FROM $tbl
              ORDER BY user_id""")
  }

  val lakeSchemaEvolutionOracle: String =
    """WITH ev AS (
         SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           day(CAST(ts AS TIMESTAMP)) AS dom
         FROM events),
       b1 AS (SELECT user_id, min(d) AS cohort_d FROM ev
              WHERE dom <= 15 GROUP BY user_id),
       b2 AS (SELECT user_id, min(d) AS cohort_d,
                CAST(count(*) AS BIGINT) AS n_events
              FROM ev WHERE dom > 15 GROUP BY user_id)
       SELECT user_id, cohort_d, CAST(NULL AS BIGINT) AS n_events
       FROM b1
       UNION ALL
       SELECT b2.user_id, b2.cohort_d, b2.n_events FROM b2
       ANTI JOIN b1 ON b1.user_id = b2.user_id
       ORDER BY user_id"""

  /** WHOLE-AGGREGATE PUSHDOWN answered from snapshot metadata only —
    * the Trino-connector `count/min/max` idiom
    * ([[GraftLakeScanBuilder]] `SupportsPushDownAggregates`): over the
    * schema-EVOLVED first-seen table (so pre-ADD shards genuinely
    * serve `n_events` as NULL), one filterless aggregate asks for row
    * counts, a null-aware column count, and integral/date min/max.
    * Every term is served from parquet footers (rows + null counts)
    * and the commit's zone-map sidecar — the physical plan carries NO
    * aggregate node and reads ZERO data pages (LakeAggPushdownSpec
    * pins both); the DuckDB oracle recomputes the same numbers from
    * the raw events, so a pass proves the metadata answers are the
    * true answers, at any table size. */
  val lakeAggPushdown: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    // shares [[evolvedBase]]: the probe needs exactly "a schema-evolved
    // table whose pre-ADD shards serve NULL", and rebuilding a private
    // clone of the identical script per call bought no extra coverage
    val tbl = evolvedBase(s, dir)
    s.sql(s"""SELECT count(*) AS n_rows, count(n_events) AS n_counted,
              min(user_id) AS min_user, max(user_id) AS max_user,
              min(cohort_d) AS min_d, max(cohort_d) AS max_d,
              min(n_events) AS min_ev, max(n_events) AS max_ev
              FROM $tbl""")
  }

  val lakeAggPushdownOracle: String =
    """WITH ev AS (
         SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           day(CAST(ts AS TIMESTAMP)) AS dom
         FROM events),
       b1 AS (SELECT user_id, min(d) AS cohort_d FROM ev
              WHERE dom <= 15 GROUP BY user_id),
       b2 AS (SELECT user_id, min(d) AS cohort_d,
                CAST(count(*) AS BIGINT) AS n_events
              FROM ev WHERE dom > 15 GROUP BY user_id),
       t AS (
         SELECT user_id, cohort_d, CAST(NULL AS BIGINT) AS n_events
         FROM b1
         UNION ALL
         SELECT b2.user_id, b2.cohort_d, b2.n_events FROM b2
         ANTI JOIN b1 ON b1.user_id = b2.user_id)
       SELECT count(*) AS n_rows, count(n_events) AS n_counted,
         min(user_id) AS min_user, max(user_id) AS max_user,
         min(cohort_d) AS min_d, max(cohort_d) AS max_d,
         min(n_events) AS min_ev, max(n_events) AS max_ev
       FROM t"""

  /** MERGE-ON-READ DELETE through DELETION VECTORS
    * ([[GraftLakeDeltaDeleteOperation]]): the per-user event summary
    * is loaded into a `delete_mode=merge-on-read` table, then TWO
    * `DELETE FROM` statements land as position-bitmap commits — no
    * shard file is rewritten (LakeDeleteVectorSpec pins the hardlink
    * identity), the second delete UNIONs into the first's vectors,
    * and the read-back masks the positions at scan time. The oracle
    * recomputes the surviving rows flat from the raw events, so a
    * pass proves the masked view is exactly the copy-on-write
    * answer. */
  val lakeDeleteVectors: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.dv_$fp"
    Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min("d").as("cohort_d"))
      .createOrReplaceTempView("graft_lake_dv_b1")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (user_id BIGINT, n_events BIGINT, cohort_d DATE)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'delete_mode'='merge-on-read')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_dv_b1") // v1
    s.sql(s"DELETE FROM $tbl WHERE user_id % 7 = 0") // v2: DV commit
    s.sql(s"DELETE FROM $tbl WHERE n_events > 60") // v3: DV union
    s.sql(s"""SELECT user_id, n_events, cohort_d FROM $tbl
              ORDER BY user_id""")
  }

  val lakeDeleteVectorsOracle: String =
    """WITH b1 AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
             AS cohort_d
         FROM events GROUP BY user_id)
       SELECT user_id, n_events, cohort_d FROM b1
       WHERE NOT (user_id % 7 = 0) AND NOT (n_events > 60)
       ORDER BY user_id"""

  /** MERGE-ON-READ UPDATE through the split delete+reinsert delta
    * path ([[GraftLakeDeltaOperation]]): `update_mode=merge-on-read`
    * makes `UPDATE` record the old positions in the deletion vector
    * and stage ONLY the replacement rows — unmatched rows never pass
    * through the engine (LakeDeleteVectorSpec pins untouched shards
    * hardlink-identical). Two UPDATEs layer: a score rescale on heavy
    * users, then a SHARD-KEY update that must migrate the affected
    * rows to their new hash shard. The oracle recomputes the final
    * state flat, so a pass proves masked-base + appended-replacement
    * reads equal the copy-on-write answer. */
  val lakeUpdateVectors: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.dvu_$fp"
    Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min("d").as("cohort_d"))
      .createOrReplaceTempView("graft_lake_dvu_b1")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (user_id BIGINT, n_events BIGINT, cohort_d DATE)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'update_mode'='merge-on-read')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_dvu_b1") // v1
    s.sql(s"UPDATE $tbl SET n_events = n_events * 100 " +
      "WHERE n_events > 60") // v2: delta commit (DV + appends)
    s.sql(s"UPDATE $tbl SET user_id = user_id + 1000000 " +
      "WHERE user_id % 97 = 0") // v3: shard-key update migrates rows
    s.sql(s"""SELECT user_id, n_events, cohort_d FROM $tbl
              ORDER BY user_id""")
  }

  val lakeUpdateVectorsOracle: String =
    """WITH b1 AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
             AS cohort_d
         FROM events GROUP BY user_id),
       u1 AS (
         SELECT user_id,
           CASE WHEN n_events > 60 THEN n_events * 100
                ELSE n_events END AS n_events, cohort_d
         FROM b1)
       SELECT CASE WHEN user_id % 97 = 0 THEN user_id + 1000000
                   ELSE user_id END AS user_id,
              n_events, cohort_d
       FROM u1
       ORDER BY user_id"""

  /** DELETION-VECTOR COMPACTION — the `OPTIMIZE` maintenance op
    * ([[GraftLakeMaintenance.compactDeletionVectors]]): a heavy
    * merge-on-read DELETE leaves every shard carrying a vector, the
    * compaction rewrites the shards past the deleted-fraction
    * threshold live-rows-only and clears their entries, and the
    * read-back must be IDENTICAL to the pre-compaction view — the
    * oracle recomputes the surviving rows flat, and the query itself
    * asserts the vectors actually cleared (so a silently-skipped
    * compaction fails loudly, not invisibly). */
  val lakeDvCompaction: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.dvo_$fp"
    Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min("d").as("cohort_d"))
      .createOrReplaceTempView("graft_lake_dvo_b1")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (user_id BIGINT, n_events BIGINT, cohort_d DATE)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'delete_mode'='merge-on-read')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_dvo_b1") // v1
    s.sql(s"DELETE FROM $tbl WHERE user_id % 3 = 0") // v2: ~33% DV'd
    val dataDir = new java.io.File(
      s.conf.get("spark.sql.catalog.graft_lake.path"),
      s"dvo_$fp").getPath
    val compacted =
      GraftLakeMaintenance.compactDeletionVectors(dataDir, 0.05) // v3
    require(compacted.nonEmpty, "compaction must rewrite DV'd shards")
    require(GraftLakeIO.readDv(GraftLakeIO.versionDir(dataDir,
      GraftLakeIO.latestVersion(dataDir))).isEmpty,
      "every vector must compact away at this threshold")
    s.sql(s"""SELECT user_id, n_events, cohort_d FROM $tbl
              ORDER BY user_id""")
  }

  val lakeDvCompactionOracle: String =
    """WITH b1 AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
             AS cohort_d
         FROM events GROUP BY user_id)
       SELECT user_id, n_events, cohort_d FROM b1
       WHERE NOT (user_id % 3 = 0)
       ORDER BY user_id"""

  /** The SQL MAINTENANCE surface end-to-end — `CALL graft_lake
    * .system.optimize(...)` ([[GraftLakeProcedures]], Spark 4 DSv2
    * stored procedures; the Trino-on-Iceberg `ALTER TABLE EXECUTE
    * optimize` verb): a merge-on-read table accumulates append parts
    * AND deletion vectors, ONE literal SQL CALL compacts both phases,
    * the query itself asserts the procedure reported real work and
    * the sidecars actually cleared, and the read-back must equal the
    * oracle's flat recompute — maintenance is value-invisible or it
    * is broken. */
  val lakeCallOptimize: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val name = s"dvc_$fp"
    val tbl = s"graft_lake.lake.$name"
    Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min("d").as("cohort_d"))
      .createOrReplaceTempView("graft_lake_dvc_b")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (user_id BIGINT, n_events BIGINT, cohort_d DATE)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'delete_mode'='merge-on-read')""")
    // two appends (key-parity split: every shard receives both
    // batches -> two parts per shard) + one MoR delete (-> DVs)
    s.sql(s"""INSERT INTO $tbl SELECT user_id, n_events, cohort_d
              FROM graft_lake_dvc_b WHERE user_id % 16 < 8""") // v1
    s.sql(s"""INSERT INTO $tbl SELECT user_id, n_events, cohort_d
              FROM graft_lake_dvc_b WHERE user_id % 16 >= 8""") // v2
    s.sql(s"DELETE FROM $tbl WHERE user_id % 5 = 0") // v3
    val res = s.sql(
      s"""CALL graft_lake.system.optimize(table => '$name',
          dv_threshold => 0.01, max_parts => 1)""").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    require(res("deletion_vectors") > 0 && res("part_files") > 0,
      s"CALL optimize must report both phases compacting, got $res")
    val dataDir = new java.io.File(
      s.conf.get("spark.sql.catalog.graft_lake.path"), name).getPath
    val headDir = GraftLakeIO.versionDir(dataDir,
      GraftLakeIO.latestVersion(dataDir))
    require(GraftLakeIO.readDv(headDir).isEmpty,
      "optimize must clear every deletion vector at this threshold")
    require(GraftLakeIO.existingShards(headDir).forall(k =>
      GraftLakeIO.shardParts(headDir, k).lengthCompare(1) == 0),
      "optimize must merge every shard to one part")
    s.sql(s"""SELECT user_id, n_events, cohort_d FROM $tbl
              ORDER BY user_id""")
  }

  val lakeCallOptimizeOracle: String =
    """WITH b AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
             AS cohort_d
         FROM events GROUP BY user_id)
       SELECT user_id, n_events, cohort_d FROM b
       WHERE NOT (user_id % 5 = 0)
       ORDER BY user_id"""

  /** MERGE-ON-READ MERGE — the full three-branch upsert through the
    * delta path: `merge_mode=merge-on-read` plans matched-delete as a
    * position-only bitmap entry, matched-update as delete+reinsert,
    * and not-matched-insert as a staged append, all in ONE snapshot
    * commit. Batch 2 carries additive counts, the MERGE deletes
    * light users, re-accumulates the rest, and inserts newcomers; the
    * oracle recomputes the surviving accumulated state flat from the
    * raw events. */
  val lakeMergeMor: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val name = s"dvm_$fp"
    val tbl = s"graft_lake.lake.$name"
    val ev = Tables.events(s, dir)
      .selectExpr("user_id", "dayofmonth(ts) AS dom")
    if (!builtHistories.contains(name)) {
      // v1 base is fixture (one aggregation + INSERT, byte-identical
      // every run) → cross-JVM memo; the MoR MERGE below is the
      // operator under test and always runs live, once per JVM
      memoizedLakeState(s, "dvm1", fp, Seq(name)) {
        ev.filter(col("dom") <= 15).groupBy("user_id")
          .agg(count(lit(1)).as("n_events"))
          .createOrReplaceTempView("graft_lake_dvm_b1")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
                  TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                    'merge_mode'='merge-on-read')""")
        s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_dvm_b1"): Unit
      }
      ev.filter(col("dom") > 15).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_dvm_b2")
      s.sql(s"""MERGE INTO $tbl t
                USING graft_lake_dvm_b2 s
                ON t.user_id = s.user_id
                WHEN MATCHED AND t.n_events + s.n_events < 5 THEN DELETE
                WHEN MATCHED THEN
                  UPDATE SET n_events = t.n_events + s.n_events
                WHEN NOT MATCHED THEN
                  INSERT (user_id, n_events)
                  VALUES (s.user_id, s.n_events)""") // v2: delta commit
      builtHistories.add(name): Unit
    }
    s.sql(s"""SELECT user_id, n_events FROM $tbl
              ORDER BY user_id""")
  }

  val lakeMergeMorOracle: String =
    """WITH ev AS (
         SELECT user_id, day(CAST(ts AS TIMESTAMP)) AS dom
         FROM events),
       b1 AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
         FROM ev WHERE dom <= 15 GROUP BY user_id),
       b2 AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
         FROM ev WHERE dom > 15 GROUP BY user_id)
       SELECT coalesce(b1.user_id, b2.user_id) AS user_id,
              coalesce(b1.n_events, 0) + coalesce(b2.n_events, 0)
                AS n_events
       FROM b1 FULL OUTER JOIN b2 ON b1.user_id = b2.user_id
       WHERE NOT (b1.user_id IS NOT NULL AND b2.user_id IS NOT NULL
                  AND b1.n_events + b2.n_events < 5)
       ORDER BY user_id"""

  /** MULTI-STATEMENT SNAPSHOT ISOLATION (the Trino-on-Iceberg
    * repeatable-read story): a reader plans against `VERSION AS OF 1`,
    * then THREE separate writes commit (INSERT a sentinel user,
    * UPDATE a date, DELETE a user — v2..v4), and only then does the
    * pinned reader execute. It must see exactly the v1 content:
    * none of the committed writes, no torn mixture. Works because a
    * pinned load resolves immutable snapshot files and published
    * versions are never mutated ([[GraftLakeIO]]); the oracle is the
    * batch-1 recompute, which can only match if isolation held (the
    * sentinel user would otherwise appear). */
  val lakeSnapshotIsolation: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.snapiso_$fp"
    val ev = Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
    ev.groupBy("user_id").agg(min("d").as("cohort_d"))
      .createOrReplaceTempView("graft_lake_snapiso_b1")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, cohort_d DATE)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_snapiso_b1") // v1
    // the reader pins BEFORE the writes land
    val pinned = s.sql(
      s"SELECT user_id, cohort_d FROM $tbl VERSION AS OF 1")
    s.sql(s"INSERT INTO $tbl VALUES (999999, DATE '2030-01-01')") // v2
    s.sql(s"UPDATE $tbl SET cohort_d = DATE '2031-01-01' " +
      "WHERE user_id = (SELECT min(user_id) FROM " +
      "graft_lake_snapiso_b1)") // v3
    s.sql(s"DELETE FROM $tbl WHERE user_id = " +
      "(SELECT max(user_id) FROM graft_lake_snapiso_b1)") // v4
    // executed only NOW, after three commits moved the head
    pinned.orderBy("user_id")
  }

  val lakeSnapshotIsolationOracle: String =
    """SELECT user_id,
         min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
           AS cohort_d
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** MERGE over an EVOLVED schema (Iceberg's write-time schema
    * evolution): batch 2 carries `n_events`, a column ADDed after the
    * table was created and after batch 1 landed. Matched users update
    * through the new column (their pre-evolution rows read NULL for
    * it and get the batch-2 value), new users insert full evolved
    * rows, and untouched shards stay physically old-schema behind
    * hardlinks — the group-based MERGE rewrite, the columnar
    * missing-column-as-NULL read, and the commit-time old+new-schema
    * shard merge (Group re-encode fallback) all compose in one
    * statement. */
  val lakeMergeEvolved: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val name = s"mergevo_$fp"
    val tbl = s"graft_lake.lake.$name"
    // the MERGE over the evolved schema IS the operator — it runs LIVE
    // (once per JVM, like lake_merge_mor / merge_sql_firstseen); only
    // the deterministic pre-merge base (v1 INSERT + ALTER ADD COLUMN)
    // restores from the cross-JVM memo
    if (!builtHistories.contains(name)) {
      memoizedLakeState(s, "mvevo", fp, Seq(name)) {
        val ev = Tables.events(s, dir)
          .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d",
            "dayofmonth(ts) AS dom")
        ev.filter(col("dom") <= 15).groupBy("user_id")
          .agg(min("d").as("cohort_d"))
          .createOrReplaceTempView("graft_lake_mergevo_b1")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, cohort_d DATE)
                  TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
        s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_mergevo_b1")
        s.sql(s"ALTER TABLE $tbl ADD COLUMN (n_events BIGINT)")
        (): Unit
      }
      Tables.events(s, dir)
        .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d",
          "dayofmonth(ts) AS dom")
        .filter(col("dom") > 15).groupBy("user_id")
        .agg(min("d").as("cohort_d"), count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_mergevo_b2")
      s.sql(s"""MERGE INTO $tbl t
                USING graft_lake_mergevo_b2 s
                ON t.user_id = s.user_id
                WHEN MATCHED THEN UPDATE SET
                  cohort_d = least(t.cohort_d, s.cohort_d),
                  n_events = s.n_events
                WHEN NOT MATCHED THEN INSERT *""")
      builtHistories.add(name): Unit
    }
    s.sql(s"""SELECT user_id, cohort_d, n_events FROM $tbl
              ORDER BY user_id""")
  }

  val lakeMergeEvolvedOracle: String =
    """WITH ev AS (
         SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           day(CAST(ts AS TIMESTAMP)) AS dom
         FROM events),
       b1 AS (SELECT user_id, min(d) AS cohort_d FROM ev
              WHERE dom <= 15 GROUP BY user_id),
       b2 AS (SELECT user_id, min(d) AS cohort_d,
                CAST(count(*) AS BIGINT) AS n_events
              FROM ev WHERE dom > 15 GROUP BY user_id)
       SELECT coalesce(b1.user_id, b2.user_id) AS user_id,
         CASE WHEN b1.user_id IS NOT NULL AND b2.user_id IS NOT NULL
                THEN least(b1.cohort_d, b2.cohort_d)
              WHEN b1.user_id IS NOT NULL THEN b1.cohort_d
              ELSE b2.cohort_d END AS cohort_d,
         b2.n_events
       FROM b1 FULL JOIN b2 ON b1.user_id = b2.user_id
       ORDER BY user_id"""

  val lakeDeleteUpdate: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.dml_$fp"
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(expr("CAST(to_date(ts) AS DATE)")).as("cohort_d"),
        count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_dml_src")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (user_id BIGINT, cohort_d DATE, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_dml_src")
    s.sql(s"DELETE FROM $tbl WHERE user_id % 7 = 0")
    s.sql(s"UPDATE $tbl SET n_events = n_events * 2 WHERE user_id % 5 = 1")
    s.sql(s"""SELECT user_id, cohort_d, n_events FROM $tbl
              ORDER BY user_id""")
  }

  val lakeDeleteUpdateOracle: String =
    """WITH base AS (
         SELECT user_id,
           CAST(min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS DATE)
             AS cohort_d,
           CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY user_id)
       SELECT user_id, cohort_d,
         CASE WHEN user_id % 5 = 1 THEN n_events * 2
              ELSE n_events END AS n_events
       FROM base WHERE user_id % 7 <> 0 ORDER BY user_id"""

  /** CHANGE DATA FEED — the `table_changes(v_from, v_to)` read
    * (Delta CDF / Iceberg changelog semantics) derived from the
    * immutable snapshot history the lake already keeps: one FULL OUTER
    * join of the two pinned snapshots on the table's key produces
    * `insert` rows (key only in v_to), `delete` rows (key only in
    * v_from) and `update_preimage`/`update_postimage` pairs (key in
    * both, any non-key column differing under null-safe equality).
    * Changes are VALUE-level: a MERGE that rewrote a row with an
    * identical value emits nothing. One keyed shuffle join, arrays of
    * at most two structs per key, exploded — no driver-side state, so
    * the diff scales with the two snapshots like any other join.
    * Columns are aligned to v_to's schema; columns added since v_from
    * read as NULL on the pre side (the metadata-only evolution
    * contract). */
  def tableChanges(s: org.apache.spark.sql.SparkSession, tbl: String,
      key: String, vFrom: Int, vTo: Int)
      : org.apache.spark.sql.DataFrame = {
    val post = s.sql(s"SELECT * FROM $tbl VERSION AS OF $vTo")
    val preRaw = s.sql(s"SELECT * FROM $tbl VERSION AS OF $vFrom")
    val cols = post.columns.toSeq
    val pre = preRaw.select(cols.map(c =>
      if (preRaw.columns.contains(c)) col(c)
      else lit(null).cast(post.schema(c).dataType).as(c)): _*)
    val a = pre.select(cols.map(c => col(c).as(s"a_$c")): _*)
    val b = post.select(cols.map(c => col(c).as(s"b_$c")): _*)
    val j = a.join(b, col(s"a_$key") <=> col(s"b_$key"), "full_outer")
    val changed = cols.filterNot(_ == key)
      .map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def img(tag: String, prefix: String) =
      struct(lit(tag).as("_change_type") +:
        cols.map(c => col(s"${prefix}_$c").as(c)): _*)
    val rows =
      when(col(s"b_$key").isNull, array(img("delete", "a")))
        .when(col(s"a_$key").isNull, array(img("insert", "b")))
        .when(changed,
          array(img("update_preimage", "a"), img("update_postimage", "b")))
        .otherwise(array())
    j.select(explode(rows).as("c"))
      .select(col("c._change_type") +: cols.map(c => col(s"c.$c")): _*)
  }

  /** DDL + three-commit history of a per-user event-count table —
    * the CDC fixture (the first-seen/min-date history is change-FREE
    * by construction: a later batch can never lower a min, so its
    * MERGE rewrites every matched row to the same value and the
    * value-level feed is empty). Here every commit changes values:
    * v1 INSERTs first-half-of-month counts, v2 MERGE-ADDs the second
    * half (updates most users, inserts second-half-only ones), v3
    * DELETEs every 7th user. Caller holds the Lake lock. */
  private def setupCountsHistory(s: org.apache.spark.sql.SparkSession,
      dir: String, tbl: String): Unit = {
    val ev = Tables.events(s, dir)
      .selectExpr("user_id", "dayofmonth(ts) AS dom")
    ev.filter(col("dom") <= 15).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_cnt_b1")
    ev.filter(col("dom") > 15).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_cnt_b2")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_cnt_b1")
    s.sql(s"""MERGE INTO $tbl t USING graft_lake_cnt_b2 s
              ON t.user_id = s.user_id
              WHEN MATCHED THEN
                UPDATE SET n_events = t.n_events + s.n_events
              WHEN NOT MATCHED THEN
                INSERT (user_id, n_events) VALUES (s.user_id, s.n_events)""")
    s.sql(s"DELETE FROM $tbl WHERE user_id % 7 = 0")
    (): Unit
  }

  // one shared three-commit fixture per (JVM, corpus): the CDC feed,
  // its streaming replay, and the history query all read the SAME
  // immutable v1..v3 — rebuilding per query would triple the
  // DDL+INSERT+MERGE+DELETE cost in a bench pass for no coverage gain
  // (the lake root is per-process, so the memo can't go stale across
  // runs; callers hold the Lake lock)
  private val builtHistories =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def countsHistoryTable(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.cdfhist_$fp"
    if (!builtHistories.contains(tbl)) {
      // the three-commit history is pure scripted fixture for every
      // consumer (the ops under test are the CDF reads / MV deltas /
      // streaming replay over it) — restore it from the cross-JVM
      // hardlink memo instead of re-running the two event aggregations
      // + DDL + INSERT + MERGE + DELETE in every fresh JVM
      memoizedLakeState(s, "cdfh", fp, Seq(s"cdfhist_$fp")) {
        setupCountsHistory(s, dir, tbl)
      }
      builtHistories.add(tbl): Unit
    }
    val dataDir = new java.io.File(
      s.conf.get("spark.sql.catalog.graft_lake.path"), s"cdfhist_$fp")
      .getPath
    (tbl, dataDir)
  }

  /** CDF over the count-table history: `table_changes(1, 3)` spans the
    * MERGE and the DELETE in one diff — users deleted by v3 surface as
    * `delete` rows with their v1 image, second-half-only users as
    * `insert`, and users whose count the MERGE actually grew as
    * pre/post image pairs. The oracle recomputes v1's and v3's states
    * from raw events and diffs them in SQL, so a pass proves the feed
    * derives from real history, not from the head. */
  val lakeTableChanges: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tbl, _) = countsHistoryTable(s, dir)
    tableChanges(s, tbl, "user_id", 1, 3)
      .orderBy("user_id", "_change_type")
  }

  val lakeTableChangesOracle: String =
    """WITH ev AS (
         SELECT user_id, day(CAST(ts AS TIMESTAMP)) AS dom FROM events),
       b1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
              FROM ev WHERE dom <= 15 GROUP BY user_id),
       tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
               FROM ev GROUP BY user_id),
       s3 AS (SELECT * FROM tot WHERE user_id % 7 <> 0)
       SELECT 'delete' AS _change_type, user_id, n_events
       FROM b1 WHERE user_id % 7 = 0
       UNION ALL
       SELECT 'insert', s3.user_id, s3.n_events
       FROM s3 ANTI JOIN b1 ON b1.user_id = s3.user_id
       UNION ALL
       SELECT 'update_preimage', b1.user_id, b1.n_events
       FROM b1 JOIN s3 ON b1.user_id = s3.user_id
       WHERE s3.n_events <> b1.n_events
       UNION ALL
       SELECT 'update_postimage', s3.user_id, s3.n_events
       FROM b1 JOIN s3 ON b1.user_id = s3.user_id
       WHERE s3.n_events <> b1.n_events
       ORDER BY user_id, _change_type"""

  /** STREAMING READ OF THE LAKE — the read direction of
    * `stream_merge_upsert`, closing the CDC loop end-to-end: every
    * commit in the table's history is rendered as its
    * [[tableChanges]] batch (v-1 → v), staged as one file per commit
    * in commit order (mtimes restamped ascending — the file source
    * admits by modification time), and REPLAYED through a file stream
    * with `maxFilesPerTrigger=1`, so each micro-batch carries exactly
    * one commit's changes. `foreachBatch` applies each batch to a
    * maintained downstream table (anti-join out the touched keys,
    * union in the inserts/postimages — deletes simply don't come
    * back). After the stream drains, the downstream copy must equal
    * the lake head — which only holds if every intermediate commit
    * was applied in order with upsert-not-append semantics, the
    * contract a warehouse-bound CDC consumer needs. The oracle is the
    * flat batch recompute (same as the MERGE that produced the
    * history). */
  val streamLakeChanges: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val (tbl, dataDir) = countsHistoryTable(s, dir) // v1..v3
    val latest = GraftLakeIO.latestVersion(dataDir)
    // the staged change-batch files are a pure function of the scripted
    // v1..v3 history — stage them ONCE per corpus fingerprint instead of
    // recomputing three tableChanges diffs + writes per call; per-run
    // foreachBatch state lands in a separate per-call dir below
    val stage = Memo.publish(s"graft_lake_cdf_replay_v${latest}_$fp") { d =>
      // one change-batch FILE per commit, admitted in commit order
      val t0 = System.currentTimeMillis() - 1000000L
      (1 to latest).foreach { v =>
        val sub = new java.io.File(d, s"b$v")
        tableChanges(s, tbl, "user_id", v - 1, v)
          .coalesce(1).write.mode("overwrite").parquet(sub.getPath)
        val part = Option(sub.listFiles()).getOrElse(Array.empty)
          .find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"no change file staged for v$v"))
        val dst = new java.io.File(d, f"batch-$v%04d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath): Unit
        dst.setLastModified(t0 + v * 1000L): Unit
        rmTree(sub)
      }
    }
    val stateRoot = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_lake_cdf_state_${fp}_" +
        s"${ProcessHandle.current().pid()}_${System.nanoTime()}")
    val changeSchema = StructType(Seq(
      StructField("_change_type", StringType),
      StructField("user_id", LongType),
      StructField("n_events", LongType)))
    // downstream copy maintained per batch: alternating parquet dirs
    // (foreachBatch runs sequentially on the driver)
    var curPath: Option[String] = None
    var nextId = 0
    val q = s.readStream.schema(changeSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.getPath)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val ss = batch.sparkSession
          val b = batch.cache()
          val upserts = b.filter(col("_change_type")
            .isin("insert", "update_postimage"))
            .select("user_id", "n_events")
          val touched = b.select("user_id").distinct()
          val next = curPath match {
            case Some(p) => ss.read.parquet(p)
              .join(touched, Seq("user_id"), "left_anti")
              .unionByName(upserts)
            case None => upserts
          }
          nextId += 1
          val p = new java.io.File(stateRoot, s"state_$nextId").getPath
          next.write.mode("overwrite").parquet(p)
          curPath = Some(p)
          b.unpersist(): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(curPath.getOrElse(
        sys.error("stream applied no change batches")))
      .orderBy("user_id")
  }

  /** The lake head after the three-commit history: total counts minus
    * the deleted users — what the downstream CDC copy must converge
    * to. */
  val streamLakeChangesOracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
       FROM events WHERE user_id % 7 <> 0
       GROUP BY user_id ORDER BY user_id"""

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — what a change feed
    * is FOR: an aggregate over the table (`SUM(n_events) GROUP BY
    * user_id % 10`) is materialized at v1, then advanced to v3 by
    * applying ONLY the change feed as signed deltas (insert → +post,
    * delete → −pre, update → post − pre; the pre/post image pairs make
    * the update delta exact), never rescanning the base table. The
    * emitted view must equal the direct v3 recompute — the oracle IS
    * that recompute from raw events, so a pass proves
    * delta-maintenance correctness end-to-end. Work scales with
    * |changes|, not |table|: the incremental-view contract that makes
    * hourly refreshes of 100 TB-fact aggregates feasible. */
  val lakeIncrementalMv: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tbl, _) = countsHistoryTable(s, dir) // v1 INSERT, v2 MERGE, v3 DELETE
    val mvV1 = s.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
      .groupBy(expr("user_id % 10").as("user_mod"))
      .agg(sum("n_events").as("total_events"),
        count(lit(1)).as("n_users"))
    val deltas = tableChanges(s, tbl, "user_id", 1, 3)
      .selectExpr("user_id % 10 AS user_mod",
        """CASE _change_type
             WHEN 'insert' THEN n_events
             WHEN 'update_postimage' THEN n_events
             WHEN 'delete' THEN -n_events
             WHEN 'update_preimage' THEN -n_events
           END AS d_events""",
        """CASE _change_type
             WHEN 'insert' THEN 1 WHEN 'delete' THEN -1 ELSE 0
           END AS d_users""")
      .groupBy("user_mod")
      .agg(sum("d_events").as("d_events"), sum("d_users").as("d_users"))
    mvV1.join(deltas, Seq("user_mod"), "full_outer")
      .selectExpr("user_mod",
        "coalesce(total_events, 0) + coalesce(d_events, 0) AS total_events",
        "coalesce(n_users, 0) + coalesce(d_users, 0) AS n_users")
      .filter(col("n_users") > 0)
      .orderBy("user_mod")
  }

  /** Fact + dim histories for the JOIN-MV: every commit is a plain
    * scripted statement so the DuckDB twin can reconstruct both head
    * states in SQL. Fact (orders): v1 INSERT okey%5≠4, v2 UPDATE
    * +1000 cents where okey%7=0, v3 INSERT okey%5=4 (late arrivals —
    * they MISS the v2 update even when okey%7=0), v4 DELETE
    * okey%11=0. Dim (customer): v1 INSERT all, v2 UPDATE nation←
    * (nation+7)%25 where cust%13=0 (the group-migration case), v3
    * DELETE cust%17=0 (orphaned facts drop out of the inner join). */
  /** Signed `$changes` feed of a lake table past `from`: +1 for
    * insert/update_postimage rows, −1 for delete/update_preimage. */
  private def mvChanges(s: org.apache.spark.sql.SparkSession,
      tbl: String, from: Int): org.apache.spark.sql.DataFrame = {
    val nm = tbl.split('.').toSeq match {
      case init :+ last => (init :+ s"`$last$$changes`").mkString(".")
      case _ => sys.error("unreachable")
    }
    s.read.option("startingVersion", from.toString).table(nm)
      .withColumn("sgn",
        expr("""CASE WHEN _change_type IN ('insert',
                'update_postimage') THEN 1L ELSE -1L END"""))
  }

  private def mvJoinTables(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val fp = Tables.fingerprint(dir, "orders")
    val fn = s"mvjf_$fp"
    val dn = s"mvjd_$fp"
    val ft = s"graft_lake.lake.$fn"
    val dt = s"graft_lake.lake.$dn"
    if (!builtHistories.contains(fn)) {
      memoizedLakeState(s, "mvj",
        s"${fp}_${Tables.fingerprint(dir, "customer")}",
        Seq(fn, dn, s"mvjb_$fp", s"mvjs_$fp")) {
        Tables.t(s, dir, "orders").selectExpr("o_orderkey AS okey",
          "o_custkey AS cust",
          """CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS price_c""")
          .createOrReplaceTempView("graft_mvj_orders")
        Tables.t(s, dir, "customer").selectExpr("c_custkey AS cust",
          "CAST(c_nationkey AS BIGINT) AS nation")
          .createOrReplaceTempView("graft_mvj_cust")
        s.sql(s"DROP TABLE IF EXISTS $ft")
        s.sql(s"""CREATE TABLE $ft (okey BIGINT, cust BIGINT,
                  price_c BIGINT)
                  TBLPROPERTIES ('shard_key'='okey', 'n_shards'='4')""")
        s.sql(s"""INSERT INTO $ft SELECT * FROM graft_mvj_orders
                  WHERE okey % 5 != 4""")
        s.sql(s"UPDATE $ft SET price_c = price_c + 1000 WHERE okey % 7 = 0")
        s.sql(s"""INSERT INTO $ft SELECT * FROM graft_mvj_orders
                  WHERE okey % 5 = 4""")
        s.sql(s"DELETE FROM $ft WHERE okey % 11 = 0")
        s.sql(s"DROP TABLE IF EXISTS $dt")
        s.sql(s"""CREATE TABLE $dt (cust BIGINT, nation BIGINT)
                  TBLPROPERTIES ('shard_key'='cust', 'n_shards'='4')""")
        s.sql(s"INSERT INTO $dt SELECT * FROM graft_mvj_cust")
        s.sql(s"UPDATE $dt SET nation = (nation + 7) % 25 WHERE cust % 13 = 0")
        s.sql(s"DELETE FROM $dt WHERE cust % 17 = 0")
        // the MV's PERSISTED base state at (F v1, D v1) — what a real
        // deployment materializes once and then only maintains:
        //  - mvjb: the MV itself (per-nation aggregate)
        //  - mvjs: the IVM SUPPORT relation (per-cust partial
        //    aggregate of the fact), sharded by the join key — a dim
        //    delta joins |ΔD| rows against point-lookups here instead
        //    of scanning the fact base. ΔF maintains mvjs by the
        //    single-table incremental-MV pattern (`lake_incremental_mv`)
        s.sql(s"""CREATE TABLE graft_lake.lake.mvjs_$fp
                  (cust BIGINT, cents BIGINT, n BIGINT)
                  TBLPROPERTIES ('shard_key'='cust', 'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.mvjs_$fp
                  SELECT cust, CAST(sum(price_c) AS BIGINT),
                    CAST(count(*) AS BIGINT)
                  FROM $ft VERSION AS OF 1 GROUP BY cust""")
        s.sql(s"""CREATE TABLE graft_lake.lake.mvjb_$fp
                  (nation BIGINT, cents BIGINT, n BIGINT)
                  TBLPROPERTIES ('shard_key'='nation', 'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.mvjb_$fp
                  SELECT d.nation, CAST(sum(f.price_c) AS BIGINT),
                    CAST(count(*) AS BIGINT)
                  FROM (SELECT * FROM $ft VERSION AS OF 1) f
                  JOIN (SELECT * FROM $dt VERSION AS OF 1) d
                    ON f.cust = d.cust
                  GROUP BY d.nation""")
      }
      builtHistories.add(fn): Unit
    }
    (ft, dt)
  }

  /** INCREMENTAL MV OVER A JOIN (the production MV shape —
    * `lake_incremental_mv` advances a single-table aggregate; real
    * MVs join): `MV(nation) = Σ price, count(*) over fact ⋈ dim`,
    * maintained from BOTH tables' `$changes` connector feeds by the
    * bilinear delta-join decomposition
    *
    *   MV_head = MV_base + ΔF ⋈ D_head + F_base ⋈ ΔD
    *
    * (exact: F_h⋈D_h = (F_b+ΔF)⋈(D_b+ΔD) = F_b⋈D_b + ΔF⋈D_h +
    * F_b⋈ΔD — the ΔF⋈ΔD cross-term folds into ΔF⋈D_head). Change
    * rows carry sign (+insert/postimage, −delete/preimage), so a
    * price update contributes (−old, +new) against the NEW dim and a
    * dim migration moves the customer's whole base contribution
    * between groups through F_base⋈ΔD. Work scales with |changes| ×
    * join fanout, never |fact|: MV_base and F_base-grouped-by-cust
    * are PERSISTED lake tables (mvjb/mvjs — a real deployment
    * materializes the MV and its IVM support relation once, then
    * only maintains them), the ΔF and ΔD reads plan only CHANGED
    * shards ((from, head] via startingVersion — hardlinked shards
    * are proven diff-free unopened), and the F_base⋈ΔD leg joins
    * the tiny dim delta against the support relation's per-cust
    * partial aggregates — point lookups on its shard key, NO fact
    * scan on a dim-side maintenance cycle (LakeIncrementalMvSpec
    * pins the plan). The DuckDB oracle recomputes the HEAD join
    * aggregate directly from raw orders × customer with the
    * scripted edits applied — hash equality IS the
    * incremental-equals-direct proof, at every scale. */
  val lakeIncrementalMvJoin: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (ft, dt) = mvJoinTables(s, dir)
    val fp = Tables.fingerprint(dir, "orders")
    val dfXdHead = mvChanges(s, ft, 1).join(s.table(dt), "cust")
      .groupBy("nation")
      .agg(sum(expr("sgn * price_c")).as("d_cents"),
        sum(col("sgn")).as("d_n"))
    // ΔD ⋈ support: each signed dim-change row picks up its
    // customer's ENTIRE base-fact contribution pre-aggregated —
    // O(|ΔD|) probe, the fact base is never opened
    val fBaseXdd = s.table(s"graft_lake.lake.mvjs_$fp").join(
        mvChanges(s, dt, 1).select("cust", "nation", "sgn"), "cust")
      .groupBy("nation")
      .agg(sum(expr("sgn * cents")).as("d_cents"),
        sum(expr("sgn * n")).as("d_n"))
    val mvBase = s.table(s"graft_lake.lake.mvjb_$fp")
      .select("nation", "cents", "n")
    val delta = dfXdHead.unionByName(fBaseXdd)
      .groupBy("nation")
      .agg(sum("d_cents").as("d_cents"), sum("d_n").as("d_n"))
    mvBase.join(delta, Seq("nation"), "full_outer")
      .selectExpr("nation",
        "coalesce(cents, 0L) + coalesce(d_cents, 0L) AS total_cents",
        "coalesce(n, 0L) + coalesce(d_n, 0L) AS n_orders")
      .filter(col("n_orders") > 0)
      .orderBy("nation")
  }

  /** Direct head-state recompute: both scripted histories replayed
    * from raw orders/customer, then the plain join aggregate. */
  val lakeIncrementalMvJoinOracle: String =
    """WITH f AS (
         SELECT o_orderkey AS okey, o_custkey AS cust,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             + CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 5 != 4
                    THEN 1000 ELSE 0 END AS price_c
         FROM orders WHERE o_orderkey % 11 != 0),
       d AS (
         SELECT c_custkey AS cust,
           CASE WHEN c_custkey % 13 = 0
                THEN (CAST(c_nationkey AS BIGINT) + 7) % 25
                ELSE CAST(c_nationkey AS BIGINT) END AS nation
         FROM customer WHERE c_custkey % 17 != 0)
       SELECT d.nation, CAST(sum(f.price_c) AS BIGINT) AS total_cents,
         CAST(count(*) AS BIGINT) AS n_orders
       FROM f JOIN d ON f.cust = d.cust
       GROUP BY d.nation ORDER BY d.nation"""

  /** Direct recompute of the v3 state's aggregate from raw events. */
  val lakeIncrementalMvOracle: String =
    """WITH base AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
         FROM events WHERE user_id % 7 <> 0 GROUP BY user_id)
       SELECT user_id % 10 AS user_mod,
         CAST(sum(n_events) AS BIGINT) AS total_events,
         CAST(count(*) AS BIGINT) AS n_users
       FROM base GROUP BY user_id % 10 ORDER BY user_mod"""

  /** The `$changes` metadata table, BATCH direction: one statement
    * reads the table's whole change history — every commit's diff
    * stamped with `_commit_version` — through the connector
    * ([[GraftLakeChangesTable]]): no joins in the user query, the
    * per-(version, changed-shard) diff readers do the work, and
    * hardlink-carried shards are proven unchanged without being
    * opened. The oracle recomputes all three commits' diffs from raw
    * events. */
  val lakeChangesTable: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tbl, _) = countsHistoryTable(s, dir)
    val changesName = tbl.split('.').toSeq match {
      case init :+ last => (init :+ s"`$last$$changes`").mkString(".")
      case _ => sys.error("unreachable")
    }
    s.sql(s"""SELECT _change_type, _commit_version, user_id, n_events
              FROM $changesName
              ORDER BY _commit_version, user_id, _change_type""")
  }

  /** VERSION-BOUNDED CDF read (Delta's `startingVersion` /
    * `endingVersion` read options on the `$changes` table): the
    * incremental-consumer resume pattern — a reader that already
    * processed through v2 asks for `(2, head]` only and must receive
    * EXACTLY commit 3's diff (the deletes), with commits 1–2 never
    * read (the option bounds the replay at PLANNING, not by
    * post-filtering). The oracle recomputes commit 3's diff alone. */
  val lakeChangesBounded: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tbl, _) = countsHistoryTable(s, dir)
    val changesName = tbl.split('.').toSeq match {
      case init :+ last => (init :+ s"`$last$$changes`").mkString(".")
      case _ => sys.error("unreachable")
    }
    s.read.option("startingVersion", "2").table(changesName)
      .selectExpr("_change_type", "_commit_version", "user_id",
        "n_events")
      .orderBy("user_id")
  }

  val lakeChangesBoundedOracle: String =
    """WITH ev AS (
         SELECT user_id, day(CAST(ts AS TIMESTAMP)) AS dom FROM events),
       tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM ev
               GROUP BY user_id)
       SELECT 'delete' AS _change_type,
         CAST(3 AS BIGINT) AS _commit_version, user_id,
         n AS n_events
       FROM tot WHERE user_id % 7 = 0
       ORDER BY user_id"""

  val lakeChangesTableOracle: String =
    """WITH ev AS (
         SELECT user_id, day(CAST(ts AS TIMESTAMP)) AS dom FROM events),
       b1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM ev
              WHERE dom <= 15 GROUP BY user_id),
       b2 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM ev
              WHERE dom > 15 GROUP BY user_id),
       tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM ev
               GROUP BY user_id)
       SELECT * FROM (
         SELECT 'insert' AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version, user_id,
           n AS n_events
         FROM b1
         UNION ALL
         SELECT 'insert', 2, b2.user_id, b2.n
         FROM b2 ANTI JOIN b1 ON b1.user_id = b2.user_id
         UNION ALL
         SELECT 'update_preimage', 2, b1.user_id, b1.n
         FROM b1 JOIN b2 ON b1.user_id = b2.user_id
         UNION ALL
         SELECT 'update_postimage', 2, t.user_id, t.n
         FROM tot t JOIN b1 ON b1.user_id = t.user_id
         JOIN b2 ON b2.user_id = t.user_id
         UNION ALL
         SELECT 'delete', 3, t.user_id, t.n
         FROM tot t WHERE t.user_id % 7 = 0)
       ORDER BY _commit_version, user_id, _change_type"""

  /** The `$changes` table, STREAMING direction — the engine-native CDF
    * source (`spark.readStream.table`): version-number offsets,
    * admission control advancing ONE COMMIT per micro-batch, the
    * AvailableNow head pinned at trigger start. The drained
    * accumulation must equal the batch read of the same metadata table
    * (same oracle) — and LakeMergeSpec asserts the per-batch shape:
    * exactly one `_commit_version` per micro-batch, in order. */
  val streamLakeCdfSource: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tbl, _) = countsHistoryTable(s, dir)
    val changesName = tbl.split('.').toSeq match {
      case init :+ last => (init :+ s"`$last$$changes`").mkString(".")
      case _ => sys.error("unreachable")
    }
    val accum = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_cdf_src_${Tables.fingerprint(dir, "events")}_" +
        s"${ProcessHandle.current().pid()}_${System.nanoTime()}")
    val q = s.readStream.table(changesName)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(accum.getPath)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(accum.getPath)
      .orderBy("_commit_version", "user_id", "_change_type")
  }

  /** POINT-LOOKUP SHARD PRUNING — what zone maps CANNOT do on a
    * hash-sharded table (every shard spans the full key range): an
    * `=` / `IN` probe on the shard key prunes by each shard's recorded
    * ROUTING PROVENANCE instead (shard = floorMod(key, n) pins the one
    * file a key can live in — IF that shard's rows were written under
    * that routing; shards appended to after an `ALTER … shard_width`
    * are recorded "mixed" and never pruned, keeping the optimization
    * sound across layout migrations). Here: two probed users on the
    * 8-shard hash table read 2 of 8 shard files (LakeMergeSpec asserts
    * the planned/skipped counts). At 100 TB this is the key-value
    * access path: one key, one file. */
  val lakePointLookup: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tbl, _) = countsHistoryTable(s, dir)
    s.sql(s"""SELECT user_id, n_events FROM $tbl
              WHERE user_id IN (43, 87)
              ORDER BY user_id""")
  }

  val lakePointLookupOracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
       FROM events
       WHERE user_id % 7 <> 0 AND user_id IN (43, 87)
       GROUP BY user_id ORDER BY user_id"""

  /** DESCRIBE HISTORY — the Delta/Iceberg table-history surface over
    * the lake's commit log: one row per version with the OPERATION
    * LABEL the commit recorded (append / merge / delete / overwrite /
    * rollback), the snapshot's shard-file count, and its row count
    * (each read through `VERSION AS OF` — counts come from the
    * immutable snapshots, so a pass proves the log describes real
    * history). Commit timestamps are intentionally NOT emitted —
    * they're wall-clock — which is what keeps this introspection
    * query oracle-checkable. */
  def history(s: org.apache.spark.sql.SparkSession, tbl: String,
      dataDir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val latest = GraftLakeIO.latestVersion(dataDir)
    (0 to latest).map { v =>
      val op =
        if (v == 0) "create" else GraftLakeIO.commitOperation(dataDir, v)
      // METADATA-ONLY: counts were stamped into `_commit` when the
      // snapshot was built — DESCRIBE HISTORY is one tiny read per
      // version, independent of table size. The per-version recount
      // (one Spark job per version, O(versions x table) at scale)
      // survives only as the fallback for pre-count history and as
      // the LakeMergeSpec cross-check that the log describes reality.
      val (nRows, nShards) =
        if (v == 0) (0L, 0L)
        else GraftLakeIO.commitCounts(dataDir, v).getOrElse {
          (s.sql(s"SELECT count(*) FROM $tbl VERSION AS OF $v")
            .head.getLong(0),
            GraftLakeIO.existingShards(
              GraftLakeIO.versionDir(dataDir, v)).size.toLong)
        }
      (v.toLong, op, nRows, nShards)
    }.toDF("version", "operation", "n_rows", "n_shards")
      .orderBy("version")
  }

  /** History of the three-commit CDC fixture: INSERT → MERGE → DELETE
    * must read back as exactly [create, append, merge, delete] with
    * the per-version row counts the oracle recomputes from raw
    * events. */
  val lakeHistory: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tbl, dataDir) = countsHistoryTable(s, dir)
    history(s, tbl, dataDir)
  }

  val lakeHistoryOracle: String =
    """WITH ev AS (
         SELECT user_id, day(CAST(ts AS TIMESTAMP)) AS dom FROM events),
       b1 AS (SELECT DISTINCT user_id FROM ev WHERE dom <= 15),
       tot AS (SELECT DISTINCT user_id FROM ev)
       SELECT * FROM (
         SELECT CAST(0 AS BIGINT) AS version, 'create' AS operation,
           CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_shards
         UNION ALL
         SELECT 1, 'append', (SELECT count(*) FROM b1), 8
         UNION ALL
         SELECT 2, 'merge', (SELECT count(*) FROM tot), 8
         UNION ALL
         SELECT 3, 'delete',
           (SELECT count(*) FROM tot WHERE user_id % 7 <> 0), 8)
       ORDER BY version"""

  /** ZONE-MAP FILE SKIPPING over a range-clustered lake table — the
    * Iceberg/Delta data-skipping pattern end-to-end: the table is
    * created with `shard_width` RANGE clustering (shard k holds keys
    * [k·20, (k+1)·20), last shard open-ended), the INSERT's writers
    * record per-shard min/max zone maps into the snapshot's
    * `_stats.json`, and the selective `BETWEEN` read plans ONLY the
    * shards whose range intersects [40,79] — 6 of 8 shard files are
    * never opened (asserted via [[GraftLakeScanMetrics]] in
    * LakeMergeSpec; row-exact filtering stays with Spark, so results
    * are identical to the unskipped plan). At 100 TB this is the
    * difference between reading 2 files and reading a table. */
  val lakeStatsSkipping: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.zmap_$fp"
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(expr("CAST(to_date(ts) AS DATE)")).as("cohort_d"),
        count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_zmap_src")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (user_id BIGINT, cohort_d DATE, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'shard_width'='20')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_zmap_src")
    s.sql(s"""SELECT user_id, cohort_d, n_events FROM $tbl
              WHERE user_id BETWEEN 40 AND 79
              ORDER BY user_id""")
  }

  val lakeStatsSkippingOracle: String =
    """SELECT user_id,
         CAST(min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS DATE)
           AS cohort_d,
         CAST(count(*) AS BIGINT) AS n_events
       FROM events
       WHERE user_id BETWEEN 40 AND 79
       GROUP BY user_id ORDER BY user_id"""

  /** OPTIMIZE/CLUSTER-BY migration — re-clustering an EXISTING
    * hash-sharded table so zone maps activate: `ALTER TABLE … SET
    * TBLPROPERTIES ('shard_width')` flips the routing metadata-only,
    * then a SELF `INSERT OVERWRITE` rewrites the data under the new
    * clustering — safe precisely because of the snapshot model (the
    * source scan pins the immutable vN files before the write commits
    * vN+1; no torn self-read). After the rewrite the same selective
    * BETWEEN read plans 2 of 8 shards (LakeMergeSpec asserts the
    * before/after skip counts); this is Iceberg's
    * `rewrite_data_files` + sort-order story as one DDL + one DML. */
  /** STRING zone-map skipping through the oracle gate: the documents
    * corpus lands in a lake table whose `lang` values correlate with
    * the `doc_id` range clustering (per-shard string min/max becomes
    * selective), then a string range predicate reads back — shards
    * whose [minS, maxS] provably miss never open (LakeMergeSpec pins
    * the skip counts; this query pins the VALUES against DuckDB). */
  val lakeStringSkipping: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "documents")
    val tbl = s"graft_lake.lake.zstr_$fp"
    Tables.t(s, dir, "documents")
      .selectExpr("doc_id", "lang", "n_chars")
      .createOrReplaceTempView("graft_lake_zstr_src")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (doc_id BIGINT, lang STRING, n_chars BIGINT)
              TBLPROPERTIES ('shard_key'='doc_id', 'n_shards'='8',
                'shard_width'='64')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_zstr_src")
    s.sql(s"""SELECT lang, count(*) AS n, sum(n_chars) AS chars
              FROM $tbl WHERE lang >= 'es'
              GROUP BY lang ORDER BY lang""")
  }

  val lakeStringSkippingOracle: String =
    """SELECT lang, count(*) AS n,
         CAST(sum(n_chars) AS BIGINT) AS chars
       FROM documents WHERE lang >= 'es'
       GROUP BY lang ORDER BY lang"""

  val lakeReclusterSkip: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.reclust_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(expr("CAST(to_date(ts) AS DATE)")).as("cohort_d"),
          count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_reclust_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl
                (user_id BIGINT, cohort_d DATE, n_events BIGINT)
                TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
      s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_reclust_src")
      s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('shard_width'='20')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT * FROM $tbl")
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT user_id, cohort_d, n_events FROM $tbl
              WHERE user_id BETWEEN 40 AND 79
              ORDER BY user_id""")
  }

  /** PARTIAL LIMIT PUSHDOWN through the oracle gate: `LIMIT k` over
    * a lake table reaches the scan (`SupportsPushDownLimit`) and
    * each partition reader stops after k live rows — row groups past
    * the cutoff are never decoded (the spec pins `pushedLimit` in
    * the plan and DML immunity). The count-of-limited shape keeps
    * the result deterministic for the oracle while the limit itself
    * is exercised for real. */
  val lakeLimitPushdown: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.lim_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_lim_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
                TBLPROPERTIES ('shard_key'='user_id',
                  'n_shards'='8')""")
      s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_lim_src")
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT CAST(count(*) AS BIGINT) AS n
              FROM (SELECT user_id FROM $tbl LIMIT 40)""")
  }

  val lakeLimitPushdownOracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n
       FROM (SELECT user_id FROM
         (SELECT DISTINCT user_id FROM events) LIMIT 40)"""

  /** Z-ORDER CLUSTERING through the oracle gate — Delta
    * `OPTIMIZE ZORDER BY` / Iceberg z-order sort as a layout the
    * engine's own machinery serves end-to-end: the events corpus is
    * bucketed to a (user-band, day) grid, routed by
    * `graft_zvalue(xb, yb)` (the codegen'd Morton interleave) under
    * RANGE clustering, and a rectangle predicate on the ORIGINAL
    * columns skips every shard whose Z-range misses it — both
    * dimensions' zone maps are selective at once, which no 1-D
    * layout can do (LakeZOrderSpec pins 1-of-8 planned vs the hash
    * twin's 0 skips; this query pins the VALUES against DuckDB). */
  val lakeZorderSkip: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.zord_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir)
        .selectExpr("user_id % 32 AS xb",
          "CAST(dayofmonth(ts) AS BIGINT) AS yb")
        .groupBy("xb", "yb")
        .agg(count(lit(1)).as("n_events"))
        .selectExpr("graft_zvalue(xb, yb) AS zkey", "xb", "yb",
          "n_events")
        .createOrReplaceTempView("graft_lake_zord_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl
                (zkey BIGINT, xb BIGINT, yb BIGINT, n_events BIGINT)
                TBLPROPERTIES ('shard_key'='zkey', 'n_shards'='8',
                  'shard_width'='128')""")
      s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_zord_src")
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT xb, yb, n_events FROM $tbl
              WHERE xb BETWEEN 4 AND 7 AND yb BETWEEN 8 AND 11
              ORDER BY xb, yb""")
  }

  val lakeZorderSkipOracle: String =
    """SELECT user_id % 32 AS xb,
         CAST(day(CAST(ts AS TIMESTAMP)) AS BIGINT) AS yb,
         CAST(count(*) AS BIGINT) AS n_events
       FROM events
       WHERE user_id % 32 BETWEEN 4 AND 7
         AND day(CAST(ts AS TIMESTAMP)) BETWEEN 8 AND 11
       GROUP BY 1, 2 ORDER BY xb, yb"""

  /** CLUSTERED WRITE through the oracle gate — Iceberg's
    * `write.distribution-mode = hash` as a DSv2
    * `RequiresDistributionAndOrdering` contract: the INSERT's input
    * (deliberately scattered over 32 partitions) is shuffled by
    * Spark WITH the catalog's own bucket function into one task per
    * shard, the commit adopts each shard's single staged file by
    * hardlink (LakeClusteredWriteSpec pins adopted=8/merged=0 and
    * the unclustered twin's merge counts), and the read back is
    * value-checked against DuckDB. At 100 TB ingest this is the
    * difference between tasks×shards small fragments and exactly
    * `shards` full-row-group files per commit. */
  val lakeClusteredWrite: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.clw_$fp"
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .repartition(32) // deliberately scattered input
      .createOrReplaceTempView("graft_lake_clw_src")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'write_distribution'='clustered')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_clw_src")
    s.sql(s"""SELECT user_id, n_events FROM $tbl
              WHERE user_id % 5 = 0
              ORDER BY user_id""")
  }

  val lakeClusteredWriteOracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
       FROM events
       WHERE user_id % 5 = 0
       GROUP BY user_id ORDER BY user_id"""

  /** DYNAMIC PARTITION PRUNING through the oracle gate — Trino's
    * dynamic filtering on the lake connector: the fact side is a
    * hash-sharded lake table, the dim side a small filtered frame,
    * and at RUNTIME the join's build-side key set arrives at the
    * lake scan (`SupportsRuntimeV2Filtering` on the shard key) which
    * keeps only the shards those keys ROUTE to under each shard's
    * recorded provenance tag (LakeSpjSpec pins the runtime filter
    * firing; this query pins the VALUES against DuckDB). At 100 TB:
    * a fact ⋈ filtered-dim reads the dim-matching shard files only,
    * decided after the dim is materialized, not at plan time. */
  val lakeDppJoin: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.dppf_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_dpp_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
                TBLPROPERTIES ('shard_key'='user_id',
                  'n_shards'='8')""")
      s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_dpp_src")
      builtHistories.add(tbl): Unit
    }
    Tables.events(s, dir).select("user_id").distinct()
      .selectExpr("user_id", "user_id % 10 AS segment")
      .createOrReplaceTempView("graft_lake_dpp_dim")
    s.sql(s"""SELECT f.user_id, f.n_events
              FROM $tbl f JOIN graft_lake_dpp_dim d
                ON f.user_id = d.user_id AND d.segment = 3
              ORDER BY f.user_id""")
  }

  val lakeDppJoinOracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
       FROM events
       WHERE user_id % 10 = 3
       GROUP BY user_id ORDER BY user_id"""

  /** PART-LEVEL PRUNING through the oracle gate — the
    * time-correlated-ingest shape: three append commits land the
    * events corpus as three ts-band PARTS per shard (dom 1–10,
    * 11–20, 21–31), the shard-level zone maps merge to the full
    * month (no shard skips), but each part's own parquet-footer
    * statistics stay narrow, so the "recent band" read
    * (`dom >= 21`) opens exactly one part per shard and the cold
    * parts never open (LakePartPruneSpec pins the skip counts and
    * the `_pos`/deletion-vector ordinal stability; this query pins
    * the VALUES against DuckDB). At 100 TB of streaming appends this
    * is the recency query reading only the recent files. */
  val lakePartPrune: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.ppart_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir)
        .selectExpr("user_id",
          "CAST(dayofmonth(ts) AS BIGINT) AS dom")
        .groupBy("user_id", "dom")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_ppart_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl
                (user_id BIGINT, dom BIGINT, n_events BIGINT)
                TBLPROPERTIES ('shard_key'='user_id',
                  'n_shards'='8')""")
      Seq("dom <= 10", "dom BETWEEN 11 AND 20", "dom >= 21")
        .foreach { band =>
          s.sql(s"""INSERT INTO $tbl
                    SELECT * FROM graft_lake_ppart_src
                    WHERE $band""")
        }
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT user_id, dom, n_events FROM $tbl
              WHERE dom >= 21
              ORDER BY user_id, dom""")
  }

  val lakePartPruneOracle: String =
    """SELECT user_id,
         CAST(day(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dom,
         CAST(count(*) AS BIGINT) AS n_events
       FROM events
       WHERE day(CAST(ts AS TIMESTAMP)) >= 21
       GROUP BY 1, 2 ORDER BY user_id, dom"""

  /** BLOOM-SIDECAR FILE SKIPPING through the oracle gate: a
    * hash-sharded per-user table declares `bloom_columns` on a
    * NON-key string column whose values spread over the whole domain
    * in every shard — zone maps provably cannot prune (each shard's
    * [minS, maxS] spans), but the per-shard 8 KB bloom filters
    * ([[GraftLakeBloom]]) prove absence for the probed IN values and
    * the scan plans only the 2 shards that can hold them
    * (LakeBloomSpec pins the skip counts and the no-false-negative
    * sweep; this query pins the VALUES against DuckDB). Parquet
    * column bloom filters / Iceberg puffin at the lake's pruning
    * granularity — at 100 TB an equality probe on a secondary column
    * reads 2 files, not a table. */
  val lakeBloomSkip: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.bloom_$fp"
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .selectExpr("user_id",
        "concat('u', CAST(user_id AS STRING)) AS tag", "n_events")
      .createOrReplaceTempView("graft_lake_bloom_src")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl
              (user_id BIGINT, tag STRING, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                'bloom_columns'='tag')""")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_bloom_src")
    s.sql(s"""SELECT user_id, tag, n_events FROM $tbl
              WHERE tag IN ('u43', 'u87')
              ORDER BY user_id""")
  }

  val lakeBloomSkipOracle: String =
    """SELECT user_id,
         'u' || CAST(user_id AS VARCHAR) AS tag,
         CAST(count(*) AS BIGINT) AS n_events
       FROM events
       WHERE 'u' || CAST(user_id AS VARCHAR) IN ('u43', 'u87')
       GROUP BY user_id ORDER BY user_id"""

  /** STORAGE-PARTITIONED JOIN through the oracle gate: two lake
    * tables hash-sharded identically on `user_id` (per-user event
    * counts ⋈ per-user first-seen dates) join WITHOUT shuffling
    * either side — both scans report `KeyGroupedPartitioning(
    * bucket(8, user_id))`, proven by their routing provenance, and
    * Spark aligns them shard-by-shard (LakeSpjSpec pins the
    * exchange-free plan; this query pins the VALUES against DuckDB).
    * The Trino-on-Iceberg co-located join story: at 100 TB the
    * network cost of a fact-fact key join drops to zero. */
  val lakeSpjJoin: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val ta = s"graft_lake.lake.spjn_$fp"
    val tb = s"graft_lake.lake.spjd_$fp"
    val ev = Tables.events(s, dir)
    ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_spj_n")
    ev.groupBy("user_id")
      .agg(min(expr("CAST(to_date(ts) AS DATE)")).as("cohort_d"))
      .createOrReplaceTempView("graft_lake_spj_d")
    s.sql(s"DROP TABLE IF EXISTS $ta")
    s.sql(s"""CREATE TABLE $ta (user_id BIGINT, n_events BIGINT)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    s.sql(s"INSERT INTO $ta SELECT * FROM graft_lake_spj_n")
    s.sql(s"DROP TABLE IF EXISTS $tb")
    s.sql(s"""CREATE TABLE $tb (user_id BIGINT, cohort_d DATE)
              TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
    s.sql(s"INSERT INTO $tb SELECT * FROM graft_lake_spj_d")
    s.sql(s"""SELECT a.user_id, b.cohort_d, a.n_events
              FROM $ta a JOIN $tb b ON a.user_id = b.user_id
              WHERE a.n_events >= 3
              ORDER BY a.user_id""")
  }

  val lakeSpjJoinOracle: String =
    """WITH n AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY user_id),
       d AS (
         SELECT user_id,
           CAST(min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS DATE)
             AS cohort_d
         FROM events GROUP BY user_id)
       SELECT n.user_id, d.cohort_d, n.n_events
       FROM n JOIN d ON n.user_id = d.user_id
       WHERE n.n_events >= 3
       ORDER BY n.user_id"""

  /** SORTED-BUCKET JOIN through the oracle gate: the SPJ pair's
    * clustered twin — both tables written under
    * `write_distribution = clustered`, whose required ordering leaves
    * every shard file KEY-SORTED and recorded as sorted provenance,
    * so the join plans with zero exchanges (SPJ) AND zero sort nodes
    * (`SupportsReportOrdering`). LakeSortOrderSpec pins the plan
    * shape; this query pins the VALUES against DuckDB. At 100 TB a
    * fact-fact key join costs neither network nor sort CPU. */
  val lakeSortedJoin: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val ta = s"graft_lake.lake.srtn_$fp"
    val tb = s"graft_lake.lake.srtd_$fp"
    val ev = Tables.events(s, dir)
    ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .createOrReplaceTempView("graft_lake_srt_n")
    ev.groupBy("user_id")
      .agg(min(expr("CAST(to_date(ts) AS DATE)")).as("cohort_d"))
      .createOrReplaceTempView("graft_lake_srt_d")
    for ((t, src, cols) <- Seq(
        (ta, "graft_lake_srt_n", "user_id BIGINT, n_events BIGINT"),
        (tb, "graft_lake_srt_d", "user_id BIGINT, cohort_d DATE"))) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"""CREATE TABLE $t ($cols)
                TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                  'write_distribution'='clustered')""")
      s.sql(s"INSERT INTO $t SELECT * FROM $src")
    }
    s.sql(s"""SELECT a.user_id, b.cohort_d, a.n_events
              FROM $ta a JOIN $tb b ON a.user_id = b.user_id
              WHERE a.n_events >= 3
              ORDER BY a.user_id""")
  }

  val lakeSortedJoinOracle: String =
    """WITH n AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY user_id),
       d AS (
         SELECT user_id,
           CAST(min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS DATE)
             AS cohort_d
         FROM events GROUP BY user_id)
       SELECT n.user_id, d.cohort_d, n.n_events
       FROM n JOIN d ON n.user_id = d.user_id
       WHERE n.n_events >= 3
       ORDER BY n.user_id"""

  /** SORT-REWRITE through the oracle gate (round 15 — Iceberg
    * `rewrite_data_files(strategy => 'sort')`): the clustered pair's
    * second table lands in TWO commits (evens, then odds — the append
    * fragments every shard and drops its sorted provenance), then
    * `CALL rewrite_sorted` rewrites each shard's live rows into one
    * key-ordered part and restores the provenance — so the join plans
    * zero-exchange zero-sort again (LakeSortOrderSpec pins the plan
    * arc) and the VALUES still match DuckDB exactly. At 100 TB this
    * is the maintenance job that keeps a continuously-appended
    * clustered fact joinable without sort CPU. */
  val lakeSortedRewrite: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val ta = s"graft_lake.lake.srwn_$fp"
    val tb = s"graft_lake.lake.srwd_$fp"
    if (!builtHistories.contains(ta)) {
      val ev = Tables.events(s, dir)
      ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_srw_n")
      ev.groupBy("user_id")
        .agg(min(expr("CAST(to_date(ts) AS DATE)")).as("cohort_d"))
        .createOrReplaceTempView("graft_lake_srw_d")
      for ((t, cols) <- Seq(
          (ta, "user_id BIGINT, n_events BIGINT"),
          (tb, "user_id BIGINT, cohort_d DATE"))) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        s.sql(s"""CREATE TABLE $t ($cols)
                  TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                    'write_distribution'='clustered')""")
      }
      s.sql(s"INSERT INTO $ta SELECT * FROM graft_lake_srw_n")
      s.sql(s"""INSERT INTO $tb SELECT * FROM graft_lake_srw_d
                WHERE user_id % 2 = 0""")
      s.sql(s"""INSERT INTO $tb SELECT * FROM graft_lake_srw_d
                WHERE user_id % 2 = 1""")
      s.sql(s"CALL graft_lake.system.rewrite_sorted(table => 'srwd_$fp')")
      builtHistories.add(ta): Unit
    }
    s.sql(s"""SELECT a.user_id, b.cohort_d, a.n_events
              FROM $ta a JOIN $tb b ON a.user_id = b.user_id
              WHERE a.n_events >= 3
              ORDER BY a.user_id""")
  }

  val lakeSortedRewriteOracle: String = lakeSortedJoinOracle

  /** RIGHT-TO-BE-FORGOTTEN pipeline through the oracle gate — the
    * governance flow every 100 TB corpus eventually runs: the event
    * log lands in a merge-on-read lake table keyed by the user, ONE
    * `DELETE … WHERE user_id = X` masks every trace O(matched) via a
    * deletion vector (no shard rewrite on the hot path), and
    * `CALL optimize(dv_threshold => tiny)` then PHYSICALLY rewrites
    * the masked shards — after which the forgotten user is gone from
    * every read, count, and footer statistic (LakeDeleteVectorSpec
    * pins the physical-drop mechanics; this query pins the
    * post-forget VALUES against a DuckDB oracle that never saw the
    * user). The two-phase shape is the point: erasure LATENCY is the
    * DV write, erasure PHYSICS is the next maintenance window. */
  val pipelineForgetUser: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.forget_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir).selectExpr("event_id", "user_id")
        .createOrReplaceTempView("graft_lake_forget_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT)
                TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
                  'delete_mode'='merge-on-read')""")
      s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_forget_src")
      s.sql(s"DELETE FROM $tbl WHERE user_id = 7")
      s.sql(s"""CALL graft_lake.system.optimize(
                table => 'forget_$fp', dv_threshold => 0.000001D)""")
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT user_id, count(*) AS n_events,
                max(event_id) AS max_event_id
              FROM $tbl WHERE user_id <= 30
              GROUP BY user_id ORDER BY user_id""")
  }

  val pipelineForgetUserOracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         max(event_id) AS max_event_id
       FROM events
       WHERE user_id <= 30 AND user_id <> 7
       GROUP BY user_id ORDER BY user_id"""

  /** AQE SKEW-JOIN over a LAKE fact scan, through the oracle gate:
    * the fact table concentrates ~70% of the event log on one hot
    * join key (the canonical power-law entity), the dim side is too
    * big-by-config to broadcast, and Spark's own runtime skew split
    * (`spark.sql.adaptive.skewJoin`) divides the hot partition —
    * composing with the vectorized columnar lake read. This is the
    * AUTOMATIC answer to the skew `join_salted` solves by hand; the
    * aggregate is materialized into a lake table UNDER the
    * skew-tuned confs (saved/restored around the one execution) so
    * the registered read stays conf-clean for the rest of the suite.
    * PlanSpec pins the `skew=true` SMJ node on a controlled lake
    * fixture; this query pins the VALUES against DuckDB. At 100 TB
    * the hot-key partition is the straggler that decides job time —
    * AQE's split is the no-code-change fix. */
  val joinSkewAqe: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val res = s"graft_lake.lake.skewr_$fp"
    if (!builtHistories.contains(res)) {
      val fact = s"graft_lake.lake.skewf_$fp"
      Tables.events(s, dir)
        .selectExpr("event_id",
          "CASE WHEN user_id % 10 < 7 THEN 0L ELSE user_id END" +
            " AS skew_key")
        .createOrReplaceTempView("graft_lake_skew_src")
      s.sql(s"DROP TABLE IF EXISTS $fact")
      s.sql(s"""CREATE TABLE $fact (event_id BIGINT, skew_key BIGINT)
                TBLPROPERTIES ('shard_key'='event_id',
                  'n_shards'='8')""")
      s.sql(s"INSERT INTO $fact SELECT * FROM graft_lake_skew_src")
      s.sql(s"DROP TABLE IF EXISTS $res")
      s.sql(s"""CREATE TABLE $res (weight BIGINT, n_rows BIGINT,
                  max_event_id BIGINT, n_keys BIGINT)
                TBLPROPERTIES ('shard_key'='weight', 'n_shards'='4')""")
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .map(k => k -> scala.util.Try(s.conf.get(k)).toOption)
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        s.conf.set("spark.sql.adaptive.skewJoin" +
          ".skewedPartitionThresholdInBytes", "16KB")
        s.conf.set(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        // dim derived from the fact's OWN key domain (includes the
        // synthetic hot key 0); the grouping key differs from the
        // join key so the post-join exchange is needed either way and
        // OptimizeSkewedJoin is free to split without
        // forceOptimizeSkewedJoin
        s.sql(s"""INSERT INTO $res
          WITH dim AS (SELECT DISTINCT skew_key,
                         skew_key % 97 AS weight FROM $fact)
          SELECT d.weight, count(*) AS n_rows,
            max(f.event_id) AS max_event_id,
            count(DISTINCT f.skew_key) AS n_keys
          FROM $fact f JOIN dim d ON f.skew_key = d.skew_key
          GROUP BY d.weight""")
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      builtHistories.add(res): Unit
    }
    s.sql(s"""SELECT weight, n_rows, max_event_id, n_keys
              FROM $res ORDER BY weight""")
  }

  val joinSkewAqeOracle: String =
    """WITH fact AS (
         SELECT event_id,
           CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END
             AS skew_key
         FROM events),
       dim AS (SELECT DISTINCT skew_key, skew_key % 97 AS weight
               FROM fact)
       SELECT d.weight, CAST(count(*) AS BIGINT) AS n_rows,
         max(f.event_id) AS max_event_id,
         CAST(count(DISTINCT f.skew_key) AS BIGINT) AS n_keys
       FROM fact f JOIN dim d ON f.skew_key = d.skew_key
       GROUP BY d.weight ORDER BY d.weight"""

  /** WRITE-AUDIT-PUBLISH through branches: v1 INSERTs first-half
    * counts to MAIN; `CALL create_branch('audit')` forks; the
    * second-half additive MERGE commits ON THE BRANCH (under the
    * `spark.graft.lake.branch` session pin — main readers still see
    * v1); the audit gate validates the branch content; `CALL
    * fast_forward` publishes it as ONE squashed main commit. The
    * output joins the published head with `VERSION AS OF 1` — the
    * pre-publish main state survives as ordinary history, so the
    * oracle checks BOTH the published totals and the audited
    * intermediate state in one hash. LakeBranchSpec pins the
    * isolation window, the conflict path (main moved ⇒ publish
    * CAS-refuses), and the branch-vs-main commit race. */
  val lakeBranchWap: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val name = s"wapf_$fp"
    val tbl = s"graft_lake.lake.$name"
    if (!builtHistories.contains(tbl)) {
      val ev = Tables.events(s, dir)
        .selectExpr("user_id", "dayofmonth(ts) AS dom")
      ev.filter(col("dom") <= 15).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_wap_b1")
      ev.filter(col("dom") > 15).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .createOrReplaceTempView("graft_lake_wap_b2")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
                TBLPROPERTIES ('shard_key'='user_id',
                  'n_shards'='8')""")
      s.sql(s"INSERT INTO $tbl SELECT * FROM graft_lake_wap_b1")
      s.sql(s"""CALL graft_lake.system.create_branch(
                table => '$name', branch => 'audit')""")
      s.conf.set("spark.graft.lake.branch", "audit")
      try {
        s.sql(s"""MERGE INTO $tbl t USING graft_lake_wap_b2 b
                  ON t.user_id = b.user_id
                  WHEN MATCHED THEN
                    UPDATE SET n_events = t.n_events + b.n_events
                  WHEN NOT MATCHED THEN
                    INSERT (user_id, n_events)
                    VALUES (b.user_id, b.n_events)""")
        // the AUDIT gate: loud validation of the unpublished state
        val bad = s.table(tbl).filter(col("n_events") <= 0).count()
        require(bad == 0, s"audit failed: $bad non-positive counts")
      } finally s.conf.unset("spark.graft.lake.branch")
      s.sql(s"""CALL graft_lake.system.fast_forward(
                table => '$name', branch => 'audit')""")
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT h.user_id, h.n_events, p.n_events AS n_prepublish
              FROM $tbl h
              LEFT JOIN (SELECT user_id, n_events
                         FROM $tbl VERSION AS OF 1) p
                ON h.user_id = p.user_id
              ORDER BY h.user_id""")
  }

  val lakeBranchWapOracle: String =
    """WITH ev AS (
         SELECT user_id, day(CAST(ts AS TIMESTAMP)) AS dom FROM events),
       tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
               FROM ev GROUP BY user_id),
       pre AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
               FROM ev WHERE dom <= 15 GROUP BY user_id)
       SELECT t.user_id, t.n_events, p.n_events AS n_prepublish
       FROM tot t LEFT JOIN pre p ON t.user_id = p.user_id
       ORDER BY t.user_id"""

  /** HIDDEN PARTITIONING pruning through the oracle gate: the event
    * log lands in a lake table routed by `days(ts)` — no user-visible
    * partition column, 4-day buckets, 8 shards covering the corpus's
    * 30 days — and the reference-shaped date-range query (§2.0 Q1–Q5
    * predicates) prunes by LAYOUT: the ts zone maps are selective
    * because the transform made each shard a contiguous time band
    * (LakeHiddenPartitionSpec pins the 1-of-4 planned / 3-skipped
    * counts on a controlled layout, plus the months(ts) variant and
    * the DDL refusals). At 100 TB this is the recency scan touching
    * only the recent shards, with the partition column hidden inside
    * the routing exactly like Iceberg's `days(ts)` transform. */
  val lakeHiddenPartitionPrune: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.hidden_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir)
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts",
          "user_id")
        .createOrReplaceTempView("graft_lake_hidden_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl
                (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)
                TBLPROPERTIES ('shard_key'='days(ts)',
                  'n_shards'='8', 'shard_width'='4')""")
      s.sql(s"""INSERT INTO $tbl
                SELECT * FROM graft_lake_hidden_src""")
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT user_id, count(*) AS n_events,
                max(event_id) AS max_event_id
              FROM $tbl
              WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'
              GROUP BY user_id ORDER BY user_id""")
  }

  val lakeHiddenPartitionPruneOracle: String =
    """SELECT user_id, count(*) AS n_events,
         max(event_id) AS max_event_id
       FROM events
       WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-21 00:00:00'
       GROUP BY user_id ORDER BY user_id"""

  /** PARTITION-SPEC EVOLUTION through the oracle gate (Iceberg
    * `REPLACE PARTITION FIELD`): the event log starts on a `days(ts)`
    * layout (4-day buckets), is ALTERed to `months(ts)` mid-history,
    * and the second half of the corpus lands routed by the NEW
    * transform — no rewrite, no user-visible partition column, and the
    * cross-generation date-range aggregate still answers exactly
    * (zone maps record OBSERVED ts ranges, so both generations keep
    * skipping; old shards' `days:` tags degrade to effectively-mixed
    * provenance and are never mis-pruned —
    * LakeHiddenPartitionSpec pins the tag bookkeeping and the
    * refusals). At 100 TB this is the no-downtime re-layout every
    * long-lived event table eventually needs: coarser buckets as the
    * corpus ages without rewriting history. */
  val lakePartitionEvolution: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "events")
    val tbl = s"graft_lake.lake.pevolve_$fp"
    if (!builtHistories.contains(tbl)) {
      Tables.events(s, dir)
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts",
          "user_id")
        .createOrReplaceTempView("graft_lake_pevolve_src")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl
                (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)
                TBLPROPERTIES ('shard_key'='days(ts)',
                  'n_shards'='8', 'shard_width'='4')""")
      s.sql(s"""INSERT INTO $tbl
                SELECT * FROM graft_lake_pevolve_src
                WHERE ts < TIMESTAMP '2024-01-16 00:00:00'""")
      s.sql(s"""ALTER TABLE $tbl SET TBLPROPERTIES
                ('shard_key'='months(ts)', 'shard_width'='1')""")
      s.sql(s"""INSERT INTO $tbl
                SELECT * FROM graft_lake_pevolve_src
                WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'""")
      builtHistories.add(tbl): Unit
    }
    s.sql(s"""SELECT user_id, count(*) AS n_events,
                max(event_id) AS max_event_id
              FROM $tbl
              WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
              GROUP BY user_id ORDER BY user_id""")
  }

  val lakePartitionEvolutionOracle: String =
    """SELECT user_id, count(*) AS n_events,
         max(event_id) AS max_event_id
       FROM events
       WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
       GROUP BY user_id ORDER BY user_id"""

  // ---- persisted ANN index (GraftLakeAnnIndex) ----

  /** µ-grid parse/serialize twins for the index's CSV embedding
    * contract (exact by construction: round(x·1e6) BIGINTs). */
  private def svParse(emb: String): String =
    // the D suffix matters: BIGINT / 1000000.0 is a DECIMAL division
    // (yields array<decimal>, which the native dot kernel cannot read)
    s"transform(split($emb, ','), t -> CAST(t AS DOUBLE) / 1000000.0D)"
  private val muQuant =
    """transform(embedding, x ->
       CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) / 1000000.0D)"""

  /** ANN top-5 served FROM THE PERSISTED INDEX — the production IVF
    * read path the per-query-retrain `ann_ivf_centroid_topk` lacks:
    * the quantizer and the cell-sharded assignment lists are lake
    * tables built once by `CALL graft_lake.system.build_ann_index`
    * (and advanced by `refresh_ann_index` — LakeAnnIndexSpec pins the
    * O(delta) advance), so a query costs ONE broadcast of k centroid
    * rows + a scan of the probed cells' shards + a 10-row top-k
    * window. Probe metric is the quantizer's own d² (assignment
    * consistency); scoring is exact cosine over the µ-grid vectors.
    * The DuckDB oracle replays the IDENTICAL deterministic pipeline —
    * quantize, Lloyd train, assign, probe, rank — from the raw
    * parquet corpus, pinning that the persisted tables hold exactly
    * the index the math defines. */
  /** Shared fixture: the µ-serialized embeddings corpus as a lake
    * table + `CALL build_ann_index` over it (IVF k=8 + PQ m=8/k=32 —
    * the procedure defaults). Returns the index table base name.
    *
    * The source is an EQUALITY-DELETE UPSERT table populated in two
    * commits — the probe vectors (vec_id < 10) land WRONG first
    * (+0.5 on every coordinate) and a second commit upserts the true
    * values under the same keys — so the corpus the index trains on
    * equals the raw parquet ONLY IF the eqdel mask hides the stale
    * versions from the build scan. Every downstream index query
    * (topk / PQ-ADC / drift) therefore re-stamps the CDC-upsert read
    * path against the clean-replay DuckDB oracle. */
  private[sources] def annIndexFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val fp = Tables.fingerprint(dir, "embeddings")
    val src = s"annsrc_$fp"
    val ix = s"annix_$fp"
    if (!builtHistories.contains(src)) {
      val raw = s.read.parquet(s"$dir/embeddings.parquet")
      raw.selectExpr("vec_id",
          """concat_ws(',', transform(embedding, x ->
             CAST(CAST(round((CAST(x AS DOUBLE) +
               CASE WHEN vec_id < 10 THEN 0.5D ELSE 0.0D END)
               * 1000000) AS BIGINT) AS STRING))) AS emb""")
        .createOrReplaceTempView("graft_annix_corpus_src")
      raw.filter(col("vec_id") < 10)
        .selectExpr("vec_id",
          """concat_ws(',', transform(embedding, x ->
             CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             AS STRING))) AS emb""")
        .createOrReplaceTempView("graft_annix_corpus_fix")
      s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
      s.sql(s"""CREATE TABLE graft_lake.lake.$src
                (vec_id BIGINT, emb STRING)
                TBLPROPERTIES ('shard_key'='vec_id', 'n_shards'='4',
                  'write_upsert'='equality-delete')""")
      s.sql(s"""INSERT INTO graft_lake.lake.$src
                SELECT * FROM graft_annix_corpus_src""")
      s.sql(s"""INSERT INTO graft_lake.lake.$src
                SELECT * FROM graft_annix_corpus_fix""")
      s.sql(s"""CALL graft_lake.system.build_ann_index(
                table => '$src', index_table => '$ix')""")
      builtHistories.add(src): Unit
    }
    ix
  }

  /** Every cell RANKED per query by the quantizer's own d² (crn = 1
    * is the nearest): the probe order filtered search walks when a
    * cell's surviving candidates can't fill k. */
  private def annIndexCellsRanked(s: org.apache.spark.sql.SparkSession,
      dir: String, ix: String): org.apache.spark.sql.DataFrame = {
    val q = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .selectExpr("vec_id AS q_id", s"$muQuant AS q_sv")
      .selectExpr("q_id", "q_sv", "graft_dot(q_sv, q_sv) AS q_xx")
    val cents = s.table(s"graft_lake.lake.${ix}_centroids")
      .selectExpr("cell", s"${svParse("centroid")} AS c_sv")
      .selectExpr("cell", "c_sv", "graft_dot(c_sv, c_sv) AS cc")
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2").asc, col("cell").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("d2",
        expr("q_xx - 2 * graft_dot(q_sv, c_sv) + cc"))
      .withColumn("crn", row_number().over(wProbe))
      .select("q_id", "q_sv", "q_xx", "cell", "crn")
  }

  /** The IVF probe side: each query (µ-quantized, vec_id < 10) routed
    * to its nearest persisted centroid by the quantizer's own d². */
  private def annIndexProbe(s: org.apache.spark.sql.SparkSession,
      dir: String, ix: String): org.apache.spark.sql.DataFrame =
    annIndexCellsRanked(s, dir, ix)
      .filter(col("crn") === 1)
      .select("q_id", "q_sv", "q_xx", "cell")

  val annIndexedTopk: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    annIndexedTopkOver(s, dir, annIndexFixture(s, dir))
  }

  /** The IVF cell-probe top-5 against an EXPLICIT persisted index —
    * shared by `ann_indexed_topk` (its own fixture) and the streamed
    * index-group key (which probes through a stream-followed index). */
  private def annIndexedTopkOver(s: org.apache.spark.sql.SparkSession,
      dir: String, ix: String): org.apache.spark.sql.DataFrame = {
    val probe = annIndexProbe(s, dir, ix)
    val cands = s.table(s"graft_lake.lake.$ix")
      .selectExpr("cell", "vec_id AS c_id", s"${svParse("emb")} AS c_sv")
      .selectExpr("cell", "c_id", "c_sv",
        "graft_dot(c_sv, c_sv) AS c_xx")
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id").asc)
    cands.join(broadcast(probe), "cell")
      .selectExpr("q_id", "c_id",
        "graft_dot(q_sv, c_sv) / (sqrt(q_xx) * sqrt(c_xx)) AS cos_sim")
      .withColumn("rank", row_number().over(wTop).cast(LongType))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "rank", "c_id", "round(cos_sim, 6) AS cos_sim")
      .orderBy("q_id", "rank")
  }

  /** FILTERED ANN over the PERSISTED index — the production RAG
    * probe shape: a metadata predicate (`label % 3 = 0`) + top-k.
    * `ann_hard_negatives` pre-filters a brute scan; this runs on the
    * INDEXED path with PER-CELL CANDIDATE EXPANSION: the predicate
    * evaluates on the metadata table (Catalyst pushes it into that
    * parquet scan) and semi-join-prunes the assignments; then, per
    * query, cells are walked in the quantizer's own d² order and the
    * probe keeps the MINIMAL cell prefix whose filtered survivors
    * reach k — a selective filter automatically widens the probe
    * instead of silently returning < k rows (the recall hole naive
    * post-filtering has). Cost stays cell-bounded: survivor COUNTS
    * come from the assignment shards (no vectors touched), and only
    * the kept cells' survivors are ever scored. The DuckDB twin
    * replays train → assign → filter → prefix walk → score. */
  val annIndexedFiltered: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val keep = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(expr("label % 3 = 0")).select("vec_id")
    annFilteredTopkOver(s, dir, annIndexFixture(s, dir), keep, 5)
  }

  /** The filtered probe against an explicit index + survivor-id
    * frame — `ann_indexed_filtered` passes the label predicate;
    * LakeAnnIndexSpec passes a filter so selective the walk must
    * cross cells to (provably) surface every survivor. */
  private[sources] def annFilteredTopkOver(
      s: org.apache.spark.sql.SparkSession, dir: String, ix: String,
      keep: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val cells = annIndexCellsRanked(s, dir, ix)
    val asgF = s.table(s"graft_lake.lake.$ix")
      .join(keep, Seq("vec_id"), "left_semi")
    val cnt = asgF.groupBy("cell").agg(count(lit(1)).as("cnt"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("crn")
    val kept = cells.join(broadcast(cnt), Seq("cell"), "left_outer")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("cum", sum("cnt").over(wc))
      .filter(col("cum") - col("cnt") < k) // expand until ≥ k found
    val cands = asgF
      .selectExpr("cell", "vec_id AS c_id", s"${svParse("emb")} AS c_sv")
      .selectExpr("cell", "c_id", "c_sv",
        "graft_dot(c_sv, c_sv) AS c_xx")
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id").asc)
    cands.join(broadcast(kept.filter(col("cnt") > 0)
        .select("q_id", "q_sv", "q_xx", "cell")), "cell")
      .selectExpr("q_id", "c_id",
        "graft_dot(q_sv, c_sv) / (sqrt(q_xx) * sqrt(c_xx)) AS cos_sim")
      .withColumn("rank", row_number().over(wTop).cast(LongType))
      .filter(col("rank") <= k)
      .selectExpr("q_id", "rank", "c_id", "round(cos_sim, 6) AS cos_sim")
      .orderBy("q_id", "rank")
  }

  /** IVF + PQ over the PERSISTED index — the full production read
    * path: the probe picks each query's cell from the persisted
    * quantizer, candidates come from the cell's assignment shard, and
    * scoring runs ASYMMETRIC-DISTANCE over the persisted m-code
    * encodings against a per-query LUT built from the persisted
    * codebooks — the float vectors are never touched at search time
    * (the ~50× compression ADC exists for). Decimal-summed partial
    * distances keep the m-term fold order-independent; the oracle
    * replays quantize → IVF train → assign → PQ train → encode →
    * probe → LUT → rank from the raw corpus. */
  val annIndexedPq: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val ix = annIndexFixture(s, dir)
    val probe = annIndexProbe(s, dir, ix)
    val m = 8
    val sub = 8 // 64-d harness embeddings, the fixture's pq_m=8
    val books = s.table(s"graft_lake.lake.${ix}_codebooks")
      .selectExpr("CAST(j AS INT) AS j", "code AS cid",
        s"${svParse("centroid")} AS c_sv")
      .selectExpr("j", "cid", "c_sv", "graft_dot(c_sv, c_sv) AS cc")
    val qStructs = (0 until m).map(j =>
      s"struct(CAST($j AS INT) AS j, " +
        s"slice(q_sv, ${j * sub + 1}, $sub) AS sv)").mkString(", ")
    val qsub = probe
      .selectExpr("q_id", s"explode(array($qStructs)) AS e")
      .selectExpr("q_id", "e.j AS j", "e.sv AS sv")
      .selectExpr("q_id", "j", "sv", "graft_dot(sv, sv) AS xx")
    val lut = qsub.join(books, Seq("j"))
      .selectExpr("q_id", "j", "cid",
        """CAST(round(xx - 2 * graft_dot(sv, c_sv) + cc, 6)
           AS DECIMAL(18,6)) AS pd""")
    val cands = s.table(s"graft_lake.lake.$ix")
      .selectExpr("cell", "vec_id AS c_id",
        "posexplode(split(codes, ',')) AS (j, code)")
      .selectExpr("cell", "c_id", "CAST(j AS INT) AS j",
        "CAST(code AS BIGINT) AS cid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc").asc, col("c_id").asc)
    cands.join(broadcast(probe.select("q_id", "cell")), "cell")
      .join(broadcast(lut), Seq("q_id", "j", "cid"))
      .groupBy("q_id", "c_id")
      .agg(sum("pd").as("adcq"))
      .selectExpr("q_id", "c_id", "CAST(adcq AS DOUBLE) AS adc")
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "rank", "c_id", "round(adc, 6) AS adc_dist")
      .orderBy("q_id", "rank")
  }

  val annIndexedPqOracle: String = {
    import graft.operators.Similarity.{kmAssignDuck, kmUpdateDuck, dotD}
    val m = 8
    val sub = 8
    val v0 =
      """SELECT vec_id, list_transform(embedding, x ->
           CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                AS DOUBLE) / 1000000.0) AS sv
         FROM embeddings"""
    val v = s"""SELECT vec_id, sv, ${dotD("sv", "sv")} AS xx
                FROM ($v0)"""
    var cents = s"""SELECT vec_id AS cid, sv AS centroid FROM ($v)
                    WHERE vec_id < 8"""
    for (_ <- 1 to 3)
      cents = kmUpdateDuck(kmAssignDuck(v, cents, byJ = false),
        Seq("cid"), 64)
    val assigned =
      s"""SELECT cid AS cell, vec_id
         FROM (${kmAssignDuck(v, cents, byJ = false)})"""
    val subBranches = (0 until m).map(j =>
      s"""SELECT vec_id, $j AS j,
            list_slice(sv, ${j * sub + 1}, ${(j + 1) * sub}) AS sv
          FROM ($v0)""").mkString(" UNION ALL ")
    val vsub = s"""SELECT vec_id, j, sv, ${dotD("sv", "sv")} AS xx
                   FROM ($subBranches) u"""
    var books = s"""SELECT j, vec_id AS cid, sv AS centroid
                    FROM ($vsub) WHERE vec_id < 32"""
    for (_ <- 1 to 2)
      books = kmUpdateDuck(kmAssignDuck(vsub, books, byJ = true),
        Seq("j", "cid"), sub)
    val codes =
      s"""SELECT vec_id AS c_id, j, cid
          FROM (${kmAssignDuck(vsub, books, byJ = true)}) enc"""
    val probe =
      s"""SELECT q_id, cell FROM (
           SELECT q.vec_id AS q_id, c.cid AS cell,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               q.xx - 2 * ${dotD("q.sv", "c.centroid")} + c.cc ASC,
               c.cid ASC) AS prn
           FROM (SELECT * FROM ($v) WHERE vec_id < 10) q
           CROSS JOIN (SELECT cid, centroid,
             ${dotD("centroid", "centroid")} AS cc FROM ($cents)) c)
         WHERE prn = 1"""
    val qsub = s"""SELECT vec_id AS q_id, j, sv, xx FROM ($vsub)
                   WHERE vec_id < 10"""
    s"""WITH lut AS (
         SELECT q.q_id, q.j, c.cid,
           CAST(round(q.xx - 2 * ${dotD("q.sv", "c.centroid")} + c.cc,
             6) AS DECIMAL(18,6)) AS pd
         FROM ($qsub) q JOIN (
           SELECT j, cid, centroid,
             ${dotD("centroid", "centroid")} AS cc
           FROM ($books)) c ON q.j = c.j),
       scored AS (
         SELECT p.q_id, k.c_id, CAST(sum(l.pd) AS DOUBLE) AS adc
         FROM ($codes) k
         JOIN ($assigned) a ON k.c_id = a.vec_id
         JOIN ($probe) p ON a.cell = p.cell
         JOIN lut l ON l.q_id = p.q_id AND k.j = l.j AND k.cid = l.cid
         GROUP BY p.q_id, k.c_id),
       ranked AS (
         SELECT q_id, c_id, adc, row_number() OVER (PARTITION BY q_id
           ORDER BY adc ASC, c_id ASC) AS rank
         FROM scored)
       SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id,
         round(adc, 6) AS adc_dist
       FROM ranked WHERE rank <= 5 ORDER BY q_id, rank"""
  }

  /** The LIFECYCLE drift metric through the oracle gate: an index
    * built over labels 0–7 only, then labels 8–9 arrive as a delta
    * and `refresh_ann_index` folds them into the STALE quantizer —
    * `CALL ann_index_drift` must report exactly the live-vs-build
    * mean-d² ratio the math defines (decimal-folded at 6 dp so both
    * engines' means are partition-order independent). The DuckDB twin
    * retrains the same Lloyd pipeline on the label<8 subset and
    * re-derives both means from the raw corpus — so a wrong cursor
    * baseline, a refresh that moved the quantizer, or a biased live
    * aggregate all hash-mismatch. */
  /** Shared drift fixture: index built over the label<8 half of the
    * embeddings, then the label>=8 half arrives via refresh — the
    * quantizer is stale by construction, so drift_ratio >> 1. Used by
    * `ann_index_drift` and by the maintenance advisor. Returns the
    * index table name. */
  private def annDriftFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val fp = Tables.fingerprint(dir, "embeddings")
    val src = s"anndrift_$fp"
    val ix = s"anndriftix_$fp"
    if (!builtHistories.contains(src)) {
      val corpus = s.read.parquet(s"$dir/embeddings.parquet")
        .selectExpr("vec_id", "label",
          """concat_ws(',', transform(embedding, x ->
             CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             AS STRING))) AS emb""")
      corpus.filter(col("label") < 8).select("vec_id", "emb")
        .createOrReplaceTempView("graft_anndrift_b1")
      corpus.filter(col("label") >= 8).select("vec_id", "emb")
        .createOrReplaceTempView("graft_anndrift_b2")
      s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
      s.sql(s"""CREATE TABLE graft_lake.lake.$src
                (vec_id BIGINT, emb STRING)
                TBLPROPERTIES ('shard_key'='vec_id', 'n_shards'='4')""")
      s.sql(s"""INSERT INTO graft_lake.lake.$src
                SELECT * FROM graft_anndrift_b1""")
      s.sql(s"""CALL graft_lake.system.build_ann_index(
                table => '$src', index_table => '$ix')""")
      s.sql(s"""INSERT INTO graft_lake.lake.$src
                SELECT * FROM graft_anndrift_b2""")
      s.sql(s"""CALL graft_lake.system.refresh_ann_index(
                index_table => '$ix')""")
      builtHistories.add(src): Unit
    }
    ix
  }

  val annIndexDrift: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val ix = annDriftFixture(s, dir)
    s.sql(s"""CALL graft_lake.system.ann_index_drift(
              index_table => '$ix')""")
      .selectExpr("round(build_mean_d2, 6) AS build_mean_d2",
        "round(live_mean_d2, 6) AS live_mean_d2",
        "round(drift_ratio, 6) AS drift_ratio")
  }

  /** The drift fixture's (build_mean_d2, live_mean_d2) as a DuckDB
    * derived table `(SELECT bm, lm FROM ...)` — the raw-embedding
    * recompute shared by the drift oracle and the maintenance
    * advisor's drift-ppm check. */
  private lazy val annDriftMeansDuck: String = {
    import graft.operators.Similarity.{kmAssignDuck, kmUpdateDuck, dotD}
    val v0 =
      """SELECT vec_id, label, list_transform(embedding, x ->
           CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                AS DOUBLE) / 1000000.0) AS sv
         FROM embeddings"""
    val v = s"""SELECT vec_id, label, sv, ${dotD("sv", "sv")} AS xx
                FROM ($v0)"""
    val bld = s"SELECT * FROM ($v) WHERE label < 8"
    var cents = s"""SELECT vec_id AS cid, sv AS centroid FROM ($bld)
                    WHERE vec_id < 8"""
    for (_ <- 1 to 3)
      cents = kmUpdateDuck(kmAssignDuck(bld, cents, byJ = false),
        Seq("cid"), 64)
    def mean(src: String): String =
      s"""SELECT CAST(sum(CAST(round(d2, 6) AS DECIMAL(18,6)))
            AS DOUBLE) / count(*) AS m
          FROM (${kmAssignDuck(src, cents, byJ = false)})"""
    s"""(SELECT b.m AS bm, l.m AS lm
        FROM (${mean(bld)}) b, (${mean(s"SELECT * FROM ($v)")}) l)"""
  }

  val annIndexDriftOracle: String =
    s"""SELECT round(bm, 6) AS build_mean_d2,
         round(lm, 6) AS live_mean_d2,
         round(lm / bm, 6) AS drift_ratio
       FROM $annDriftMeansDuck"""

  // ---- maintenance advisor (CALL maintenance_plan) ----

  /** Storage-degradation fixture for the maintenance advisor — a
    * small MoR table driven through a scripted lifecycle whose head
    * state is fully derivable from the documents table in SQL (shard
    * = doc_id % 4; every INSERT commit writes ONE part per touched
    * shard):
    *   v1 INSERT even doc_ids            → shards {0,2}, 1 part each
    *   v2 CALL rewrite_sorted            → provenance on {0,2}
    *   v3 INSERT doc_id % 4 = 1          → shard 1, unsorted
    *   v4 INSERT (doc_id+1e6) % 8 = 0 ids → 2nd part on shard 0,
    *      provenance lost there (fresh ids: no key duplicates)
    *   v5 MoR DELETE doc_id%4=2 ∧ %3=0   → DVs on shard 2; parts
    *      carried, so shard 2 KEEPS provenance
    * Head: fragmentation 4 files / 3 data shards, DV dead rows on
    * shard 2, sorted coverage 1/3 — every storage signal the advisor
    * reads, in one table. */
  private def maintenanceTableFixture(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    maintenanceStorageFixture(s, dir, "mx")

  /** The storage-degradation script above, parameterized by table
    * prefix: "mx" feeds the read-only advisor, "mrx" is the executor
    * verb's OWN copy (maintenance_run heals its objects — sharing
    * would clear the advisor fixture's signals under it). */
  private def maintenanceStorageFixture(
      s: org.apache.spark.sql.SparkSession, dir: String,
      tag: String): String = {
    val fp = Tables.fingerprint(dir, "documents")
    val tbl = s"${tag}_$fp"
    if (!builtHistories.contains(tbl)) {
      memoizedLakeState(s, tag, fp, Seq(tbl)) {
        // the static oracle assumes ALL FIVE commits materialize
        // (retention counts versions; an empty INSERT/DELETE commits
        // nothing) — refuse loudly on a corpus that can't script them
        // instead of desyncing with no diagnostic (the guardedTixCorpus
        // discipline, applied to the storage fixture)
        val pre = s.read.parquet(s"$dir/documents.parquet")
          .selectExpr(
            "count(if(doc_id % 2 = 0, 1, NULL)) AS v1even",
            "count(if(doc_id % 4 = 1, 1, NULL)) AS v3mod4",
            "count(if(doc_id % 8 = 0, 1, NULL)) AS v4mod8",
            "count(if(doc_id % 12 = 6, 1, NULL)) AS v5del").head()
        for (i <- 0 until 4)
          require(pre.getLong(i) > 0L,
            "maintenance fixture precondition failed: corpus has no " +
              s"rows for scripted commit predicate ${pre.schema(i).name}" +
              " — the advisor's static oracle (5 retained versions, " +
              "shard layout) would silently desync")
        s.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "n_chars")
          .createOrReplaceTempView("graft_mx_src")
        s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$tbl")
        s.sql(s"""CREATE TABLE graft_lake.lake.$tbl
                  (doc_id BIGINT, n_chars BIGINT)
                  TBLPROPERTIES ('shard_key'='doc_id', 'n_shards'='4',
                    'delete_mode'='merge-on-read')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$tbl
                  SELECT * FROM graft_mx_src WHERE doc_id % 2 = 0""")
        s.sql(s"""CALL graft_lake.system.rewrite_sorted(
                  table => '$tbl')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$tbl
                  SELECT * FROM graft_mx_src WHERE doc_id % 4 = 1""")
        s.sql(s"""INSERT INTO graft_lake.lake.$tbl
                  SELECT doc_id + 1000000, n_chars FROM graft_mx_src
                  WHERE doc_id % 8 = 0""")
        s.sql(s"""DELETE FROM graft_lake.lake.$tbl
                  WHERE doc_id % 4 = 2 AND doc_id % 3 = 0""")
      }
      builtHistories.add(tbl): Unit
    }
    tbl
  }

  /** THE MAINTENANCE ADVISOR (`CALL maintenance_plan`) — the verb a
    * 100 TB deployment runs nightly: every health metric the lake
    * already persists (text-index dead/live + tombstones, ANN drift,
    * `$files` fragmentation, DV dead-row fraction, sorted-provenance
    * coverage) unified into one deterministic integer-ppm report with
    * a recommendation per signal. All seven metrics are O(metadata) —
    * footer/sidecar reads and two tiny stats CALLs; only the drift
    * check runs a (cell-bounded) Spark job. The DuckDB twin recomputes
    * EVERY metric from the raw tables + the scripted fixture
    * lifecycles — including the drift means from raw embeddings — and
    * applies the same thresholds, so the recommendations themselves
    * are oracle-checked. The advisor reads three INDEPENDENTLY-
    * maintained objects (the dirty text index, the drifted ANN index,
    * the degraded storage table): a report, not a transaction — the
    * `refresh_indexes` snapshot-consistency contract is deliberately
    * not required here. */
  val lakeMaintenancePlan: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val tix = textIndexFixture(s, dir)
    val aix = annDriftFixture(s, dir)
    val tbl = maintenanceTableFixture(s, dir)
    s.sql(s"""CALL graft_lake.system.maintenance_plan(
              table => '$tbl', text_index => '$tix',
              ann_index => '$aix')""")
      .orderBy("target", "signal")
  }

  lazy val lakeMaintenancePlanOracle: String =
    s"""WITH corpus AS ($tixCorpusDuck),
       lpq AS (SELECT count(*) AS v FROM (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
         FROM corpus)),
       dpq AS (SELECT count(*) AS v FROM (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
         FROM documents WHERE doc_id IN (11, 12))),
       stor AS (SELECT
         count(*) FILTER (WHERE doc_id % 4 = 0) AS s0v1,
         count(*) FILTER (WHERE doc_id % 2 = 0) AS n1,
         count(*) FILTER (WHERE doc_id % 4 = 1) AS n2,
         count(*) FILTER (WHERE doc_id % 8 = 0) AS n3,
         count(*) FILTER (WHERE doc_id % 4 = 2) AS s2r,
         count(*) FILTER (WHERE doc_id % 4 = 2 AND doc_id % 3 = 0)
           AS ndel
         FROM documents),
       m AS (SELECT
         (SELECT CAST(dpq.v * 1000000 // (lpq.v + dpq.v) AS BIGINT)
          FROM lpq, dpq) AS dead_ppm,
         CAST(2 AS BIGINT) AS tomb_ppm,
         (SELECT CAST(round(round(lm, 6) / round(bm, 6) * 1000000)
            AS BIGINT) FROM $annDriftMeansDuck) AS drift_ppm,
         CAST(((CASE WHEN s0v1 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n3 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN s2r > 0 THEN 1 ELSE 0 END)) * 1000000
           // ((CASE WHEN s0v1 > 0 OR n3 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN s2r > 0 THEN 1 ELSE 0 END)) AS BIGINT)
           AS frag_ppm,
         CAST(ndel * 1000000 // (n1 + n2 + n3) AS BIGINT) AS dv_ppm,
         CAST(CASE WHEN NOT ((s0v1 > 0 AND n3 = 0) OR s2r > 0) THEN 0
           ELSE ((CASE WHEN (s0v1 > 0 OR n3 > 0)
                   AND NOT (s0v1 > 0 AND n3 = 0) THEN 1 ELSE 0 END)
               + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)) * 1000000
             // ((CASE WHEN s0v1 > 0 OR n3 > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN s2r > 0 THEN 1 ELSE 0 END)) END AS BIGINT)
           AS sorted_ppm
         FROM stor)
       SELECT target, signal, metric_ppm, threshold_ppm,
         CASE WHEN metric_ppm > threshold_ppm THEN reco
              ELSE 'ok' END AS action
       FROM (
         SELECT 'text_index' AS target, 'dead_postings' AS signal,
           dead_ppm AS metric_ppm, CAST(100000 AS BIGINT)
             AS threshold_ppm, 'rebuild_text_index' AS reco FROM m
         UNION ALL SELECT 'text_index', 'tombstone_fill', tomb_ppm,
           CAST(500000 AS BIGINT), 'rebuild_text_index' FROM m
         UNION ALL SELECT 'ann_index', 'quantizer_drift', drift_ppm,
           CAST(1200000 AS BIGINT), 'retrain_ann_index' FROM m
         UNION ALL SELECT 'table', 'fragmentation', frag_ppm,
           CAST(1250000 AS BIGINT), 'optimize' FROM m
         UNION ALL SELECT 'table', 'dv_deleted_rows', dv_ppm,
           CAST(50000 AS BIGINT), 'optimize' FROM m
         UNION ALL SELECT 'table', 'snapshot_retention',
           CAST(1250000 AS BIGINT), CAST(1000000 AS BIGINT),
           'expire_snapshots' FROM m
         UNION ALL SELECT 'table', 'sorted_provenance', sorted_ppm,
           CAST(0 AS BIGINT), 'rewrite_sorted' FROM m)
       ORDER BY target, signal"""

  // ---- maintenance executor (CALL maintenance_run) ----

  /** Degraded TEXT clone for the executor: corpus table + index, then
    * a third of the corpus DELETEd and the cursor advanced — dead
    * postings ≈ 333 333 ppm (fires) and, with the probe cap pinned to
    * the tombstone count by [[lakeMaintenanceRun]], tombstone fill =
    * exactly 1 000 000 ppm (fires). The executor's rebuild heals its
    * own copy; the advisor fixtures stay pristine. */
  private def maintenanceRunTextFixture(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val fp = Tables.fingerprint(dir, "documents")
    val src = s"mrtsrc_$fp"
    val ix = s"mrtix_$fp"
    if (!builtHistories.contains(src)) {
      memoizedLakeState(s, "mrt", fp,
        Seq(src, ix, s"${ix}_docs", s"${ix}_tomb", s"${ix}_meta",
          s"${ix}_bm")) {
        val corpus = s.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "text")
        require(corpus.filter(col("doc_id") % 3 === 0).limit(1)
            .count() > 0,
          "maintenance_run text fixture precondition failed: no " +
            "doc_id % 3 = 0 rows — the scripted DELETE would no-op " +
            "and the fires-by-design oracle would desync")
        corpus.createOrReplaceTempView("graft_mrt_src")
        s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
        s.sql(s"""CREATE TABLE graft_lake.lake.$src
                  (doc_id BIGINT, text STRING)
                  TBLPROPERTIES ('shard_key'='doc_id',
                    'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  SELECT * FROM graft_mrt_src""")
        s.sql(s"""CALL graft_lake.system.build_text_index(
                  table => '$src', index_table => '$ix')""")
        s.sql(s"""DELETE FROM graft_lake.lake.$src
                  WHERE doc_id % 3 = 0""")
        s.sql(s"""CALL graft_lake.system.refresh_text_index(
                  index_table => '$ix')""")
      }
      builtHistories.add(src): Unit
    }
    ix
  }

  /** Badly-drifted ANN clone for the executor: the quantizer trains
    * on the label<8 half, then the label>=8 half arrives with every
    * µ-unit TRIPLED (an exact integer scaling both engines replay
    * identically) — live mean d² is several × the build fit, so the
    * drift signal fires by construction at any SF. */
  private def maintenanceRunAnnFixture(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val fp = Tables.fingerprint(dir, "embeddings")
    val src = s"mrasrc_$fp"
    val ix = s"mraix_$fp"
    if (!builtHistories.contains(src)) {
      memoizedLakeState(s, "mra", fp,
        Seq(src, ix, s"${ix}_centroids", s"${ix}_codebooks",
          s"${ix}_meta")) {
        val corpus = s.read.parquet(s"$dir/embeddings.parquet")
          .selectExpr("vec_id", "label",
            """concat_ws(',', transform(embedding, x ->
               CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                 * (CASE WHEN label >= 8 THEN 3L ELSE 1L END)
                 AS STRING))) AS emb""")
        corpus.filter(col("label") < 8).select("vec_id", "emb")
          .createOrReplaceTempView("graft_mra_b1")
        corpus.filter(col("label") >= 8).select("vec_id", "emb")
          .createOrReplaceTempView("graft_mra_b2")
        s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
        s.sql(s"""CREATE TABLE graft_lake.lake.$src
                  (vec_id BIGINT, emb STRING)
                  TBLPROPERTIES ('shard_key'='vec_id',
                    'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  SELECT * FROM graft_mra_b1""")
        s.sql(s"""CALL graft_lake.system.build_ann_index(
                  table => '$src', index_table => '$ix')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  SELECT * FROM graft_mra_b2""")
        s.sql(s"""CALL graft_lake.system.refresh_ann_index(
                  index_table => '$ix')""")
      }
      builtHistories.add(src): Unit
    }
    ix
  }

  /** Replay memo for the executor's result: `maintenance_run` HEALS
    * its fixtures (rebuild/retrain/optimize/expire are real commits),
    * so the recorded first-run report is what later calls in the same
    * JVM must return — the tixRebuildStats discipline. */
  private val maintenanceRunReplay = new java.util.concurrent
    .ConcurrentHashMap[String,
      (org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row])]()

  /** `CALL maintenance_run` — the NIGHTLY JOB the advisor feeds: plan,
    * execute every recommended verb in dependency-safe order, then
    * re-measure. The fixture clones are scripted so that ALL SEVEN
    * signals fire deterministically at any SF (a third of the corpus
    * deleted; tombstone cap pinned to the tombstone count; the
    * post-build embedding batch exactly tripled; the 5-commit
    * fragmented/DV/sorted-degraded storage table), which makes the
    * DuckDB twin exact: before-metrics are the raw-table recomputes,
    * after-metrics are the fully-healed constants (0 dead, 0
    * tombstones, drift ratio exactly 1.0 after retrain, one part per
    * data shard, 0 DV dead rows, retained == budget, full sorted
    * coverage), and every action column names the executed verb. A
    * guard refuses any corpus where a signal would NOT fire rather
    * than desync the static after-state. */
  val lakeMaintenanceRun: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "documents")
    val (schema, rows) = maintenanceRunReplay.computeIfAbsent(fp, _ => {
      val tix = maintenanceRunTextFixture(s, dir)
      val aix = maintenanceRunAnnFixture(s, dir)
      val tbl = maintenanceStorageFixture(s, dir, "mrx")
      val nTomb = s.table(s"graft_lake.lake.${tix}_tomb").count()
      val key = "spark.graft.textIndex.maxBroadcastTombstones"
      val prev = s.conf.getOption(key)
      s.conf.set(key, nTomb.toString)
      val df = s.sql(s"CALL graft_lake.system.maintenance_run(" +
          s"table => '$tbl', text_index => '$tix', " +
          s"ann_index => '$aix')").orderBy("target", "signal")
      // CALL graft_lake.system result: O(signals) stored-procedure
      // report rows, collected once and replayed thereafter
      val out =
        try df.collect()
        finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      require(out.forall(_.getString(4) != "none"),
        "maintenance_run fixture contract broken: a signal did not " +
          s"fire — ${out.mkString("; ")}")
      (df.schema, out)
    })
    s.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
      .orderBy("target", "signal")
  }

  /** DuckDB twin: before-metrics recomputed from the raw tables with
    * the scripted degradations applied; after-metrics are the healed
    * constants the executor's re-measure must land on. */
  lazy val lakeMaintenanceRunOracle: String = {
    import graft.operators.Similarity.{kmAssignDuck, kmUpdateDuck, dotD}
    // the drift replay on the ×3-scaled second batch (µ-quantize
    // FIRST, then the exact integer scaling — both engines agree)
    val v0 =
      """SELECT vec_id, label, list_transform(embedding, x ->
           CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                * (CASE WHEN label >= 8 THEN 3 ELSE 1 END) AS DOUBLE)
           / 1000000.0) AS sv
         FROM embeddings"""
    val v = s"""SELECT vec_id, label, sv, ${dotD("sv", "sv")} AS xx
                FROM ($v0)"""
    val bld = s"SELECT * FROM ($v) WHERE label < 8"
    var cents = s"""SELECT vec_id AS cid, sv AS centroid FROM ($bld)
                    WHERE vec_id < 8"""
    for (_ <- 1 to 3)
      cents = kmUpdateDuck(kmAssignDuck(bld, cents, byJ = false),
        Seq("cid"), 64)
    def mean(src: String): String =
      s"""SELECT CAST(sum(CAST(round(d2, 6) AS DECIMAL(18,6)))
            AS DOUBLE) / count(*) AS m
          FROM (${kmAssignDuck(src, cents, byJ = false)})"""
    val drift =
      s"""(SELECT CAST(round(round(l.m, 6) / round(b.m, 6) * 1000000)
            AS BIGINT)
          FROM (${mean(bld)}) b, (${mean(s"SELECT * FROM ($v)")}) l)"""
    s"""WITH lpq AS (SELECT count(*) AS v FROM (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
         FROM documents WHERE doc_id % 3 != 0)),
       dpq AS (SELECT count(*) AS v FROM (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
         FROM documents WHERE doc_id % 3 = 0)),
       stor AS (SELECT
         count(*) FILTER (WHERE doc_id % 4 = 0) AS s0v1,
         count(*) FILTER (WHERE doc_id % 2 = 0) AS n1,
         count(*) FILTER (WHERE doc_id % 4 = 1) AS n2,
         count(*) FILTER (WHERE doc_id % 8 = 0) AS n3,
         count(*) FILTER (WHERE doc_id % 4 = 2) AS s2r,
         count(*) FILTER (WHERE doc_id % 4 = 2 AND doc_id % 3 = 0)
           AS ndel
         FROM documents),
       m AS (SELECT
         (SELECT CAST(dpq.v * 1000000 // (lpq.v + dpq.v) AS BIGINT)
          FROM lpq, dpq) AS dead_ppm,
         CAST(1000000 AS BIGINT) AS tomb_ppm,
         $drift AS drift_ppm,
         CAST(((CASE WHEN s0v1 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n3 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN s2r > 0 THEN 1 ELSE 0 END)) * 1000000
           // ((CASE WHEN s0v1 > 0 OR n3 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN s2r > 0 THEN 1 ELSE 0 END)) AS BIGINT)
           AS frag_ppm,
         CAST(ndel * 1000000 // (n1 + n2 + n3) AS BIGINT) AS dv_ppm,
         CAST(1250000 AS BIGINT) AS ret_ppm,
         CAST(CASE WHEN NOT ((s0v1 > 0 AND n3 = 0) OR s2r > 0) THEN 0
           ELSE ((CASE WHEN (s0v1 > 0 OR n3 > 0)
                   AND NOT (s0v1 > 0 AND n3 = 0) THEN 1 ELSE 0 END)
               + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)) * 1000000
             // ((CASE WHEN s0v1 > 0 OR n3 > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN s2r > 0 THEN 1 ELSE 0 END)) END AS BIGINT)
           AS sorted_ppm
         FROM stor)
       SELECT target, signal, before_ppm, after_ppm, action FROM (
         SELECT 'text_index' AS target, 'dead_postings' AS signal,
           dead_ppm AS before_ppm, CAST(0 AS BIGINT) AS after_ppm,
           'rebuild_text_index' AS action FROM m
         UNION ALL SELECT 'text_index', 'tombstone_fill', tomb_ppm,
           CAST(0 AS BIGINT), 'rebuild_text_index' FROM m
         UNION ALL SELECT 'ann_index', 'quantizer_drift', drift_ppm,
           CAST(1000000 AS BIGINT), 'retrain_ann_index' FROM m
         UNION ALL SELECT 'table', 'fragmentation', frag_ppm,
           CAST(1000000 AS BIGINT), 'optimize' FROM m
         UNION ALL SELECT 'table', 'dv_deleted_rows', dv_ppm,
           CAST(0 AS BIGINT), 'optimize' FROM m
         UNION ALL SELECT 'table', 'snapshot_retention', ret_ppm,
           CAST(1000000 AS BIGINT), 'expire_snapshots' FROM m
         UNION ALL SELECT 'table', 'sorted_provenance', sorted_ppm,
           CAST(0 AS BIGINT), 'rewrite_sorted' FROM m)
       ORDER BY target, signal"""
  }

  val annIndexedTopkOracle: String = {
    import graft.operators.Similarity.{kmAssignDuck, kmUpdateDuck, dotD}
    val v0 =
      """SELECT vec_id, list_transform(embedding, x ->
           CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                AS DOUBLE) / 1000000.0) AS sv
         FROM embeddings"""
    val v = s"""SELECT vec_id, sv, ${dotD("sv", "sv")} AS xx
                FROM ($v0)"""
    var cents = s"""SELECT vec_id AS cid, sv AS centroid FROM ($v)
                    WHERE vec_id < 8"""
    for (_ <- 1 to 3)
      cents = kmUpdateDuck(kmAssignDuck(v, cents, byJ = false),
        Seq("cid"), 64)
    val assigned =
      s"""SELECT cid AS cell, vec_id
         FROM (${kmAssignDuck(v, cents, byJ = false)})"""
    val probe =
      s"""SELECT q_id, q_sv, q_xx, cell FROM (
           SELECT q.vec_id AS q_id, q.sv AS q_sv, q.xx AS q_xx,
             c.cid AS cell,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               q.xx - 2 * ${dotD("q.sv", "c.centroid")} + c.cc ASC,
               c.cid ASC) AS prn
           FROM (SELECT * FROM ($v) WHERE vec_id < 10) q
           CROSS JOIN (SELECT cid, centroid,
             ${dotD("centroid", "centroid")} AS cc FROM ($cents)) c)
         WHERE prn = 1"""
    s"""WITH cands AS (
         SELECT a.cell, a.vec_id AS c_id, w.sv AS c_sv, w.xx AS c_xx
         FROM ($assigned) a JOIN ($v) w ON a.vec_id = w.vec_id),
       scored AS (
         SELECT p.q_id, c.c_id,
           ${dotD("p.q_sv", "c.c_sv")} / (sqrt(p.q_xx) * sqrt(c.c_xx))
             AS cos_sim
         FROM ($probe) p JOIN cands c ON p.cell = c.cell),
       ranked AS (
         SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
             ORDER BY cos_sim DESC, c_id ASC) AS rank
         FROM scored)
       SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id,
         round(cos_sim, 6) AS cos_sim
       FROM ranked WHERE rank <= 5
       ORDER BY q_id, rank"""
  }

  /** Filtered-ANN twin: the same train/assign replay, then the
    * label predicate, the per-query cell-prefix walk (keep cells in
    * d² order until the filtered survivors reach k), and the ranked
    * scoring of exactly the kept cells' survivors. */
  lazy val annIndexedFilteredOracle: String = {
    import graft.operators.Similarity.{kmAssignDuck, kmUpdateDuck, dotD}
    val v0 =
      """SELECT vec_id, list_transform(embedding, x ->
           CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                AS DOUBLE) / 1000000.0) AS sv
         FROM embeddings"""
    val v = s"""SELECT vec_id, sv, ${dotD("sv", "sv")} AS xx
                FROM ($v0)"""
    var cents = s"""SELECT vec_id AS cid, sv AS centroid FROM ($v)
                    WHERE vec_id < 8"""
    for (_ <- 1 to 3)
      cents = kmUpdateDuck(kmAssignDuck(v, cents, byJ = false),
        Seq("cid"), 64)
    val assigned =
      s"""SELECT cid AS cell, vec_id
         FROM (${kmAssignDuck(v, cents, byJ = false)})"""
    val asgF =
      s"""SELECT a.cell, a.vec_id FROM ($assigned) a
         JOIN embeddings e ON a.vec_id = e.vec_id
         WHERE e.label % 3 = 0"""
    val cellsRanked =
      s"""SELECT q.vec_id AS q_id, q.sv AS q_sv, q.xx AS q_xx,
           c.cid AS cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             q.xx - 2 * ${dotD("q.sv", "c.centroid")} + c.cc ASC,
             c.cid ASC) AS crn
         FROM (SELECT * FROM ($v) WHERE vec_id < 10) q
         CROSS JOIN (SELECT cid, centroid,
           ${dotD("centroid", "centroid")} AS cc FROM ($cents)) c"""
    s"""WITH cnt AS (
         SELECT cell, count(*) AS cnt FROM ($asgF) GROUP BY 1),
       cr AS ($cellsRanked),
       walk AS (
         SELECT cr.q_id, cr.q_sv, cr.q_xx, cr.cell, cr.crn,
           coalesce(cnt.cnt, 0) AS cnt
         FROM cr LEFT JOIN cnt USING (cell)),
       kept AS (
         SELECT q_id, q_sv, q_xx, cell, cnt,
           sum(cnt) OVER (PARTITION BY q_id ORDER BY crn) AS cum
         FROM walk),
       keptf AS (
         SELECT * FROM kept WHERE cum - cnt < 5 AND cnt > 0),
       cands AS (
         SELECT f.cell, f.vec_id AS c_id, w.sv AS c_sv, w.xx AS c_xx
         FROM ($asgF) f JOIN ($v) w ON f.vec_id = w.vec_id),
       scored AS (
         SELECT p.q_id, c.c_id,
           ${dotD("p.q_sv", "c.c_sv")} / (sqrt(p.q_xx) * sqrt(c.c_xx))
             AS cos_sim
         FROM keptf p JOIN cands c ON p.cell = c.cell),
       ranked AS (
         SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
             ORDER BY cos_sim DESC, c_id ASC) AS rank
         FROM scored)
       SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id,
         round(cos_sim, 6) AS cos_sim
       FROM ranked WHERE rank <= 5
       ORDER BY q_id, rank"""
  }

  // ---- persisted TEXT index (GraftLakeTextIndex) ----

  /** Shared fixture: the documents corpus as a lake table + `CALL
    * build_text_index` over it, then the FULL index lifecycle before
    * any probe runs — one doc DELETEd, one UPDATEd (its text replaced
    * with query-term-bearing content so rankings actually move), one
    * brand-new doc INSERTed, and `CALL refresh_text_index` advancing
    * the cursor from `$changes`. Every probe therefore exercises
    * postings from TWO generations, tombstone masking, and delta
    * visibility at once; the DuckDB oracle recomputes BM25 from the
    * raw parquet with the same three edits applied in SQL. */
  private val tixUpdatedText =
    "join hash vector stream scan filter slow join"
  private val tixInsertedText = "join join hash vector slow scan"

  /** The DuckDB replay of the fixture's edited corpus (delete 11,
    * replace 12, insert 100000) — shared by every text-index
    * oracle. */
  private val tixCorpusDuck =
    s"""SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN (11, 12)
        UNION ALL SELECT CAST(12 AS BIGINT), '$tixUpdatedText'
        UNION ALL SELECT CAST(100000 AS BIGINT), '$tixInsertedText'"""

  /** Corpus loader shared by BOTH text-index fixtures: every fixture
    * INSERTs the literal doc_id 100000 that the static DuckDB oracles
    * replay — if the corpus ever reached it, two live generations of
    * the same doc would silently diverge from the oracle's per-doc
    * merge, so refuse loudly instead (r16 guarded only
    * textIndexFixture; its rebuild twin had the same exposure). */
  private def guardedTixCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String, view: String): Unit = {
    val corpus = s.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text")
    val pre = corpus.agg(max("doc_id").as("mx"),
      count(when(col("doc_id").isin(11L, 12L), 1)).as("edited")).head()
    val maxId = pre.getLong(0)
    require(maxId < 100000L,
      s"text-index fixture id clash: corpus max doc_id $maxId >= " +
        "100000 (the fixture's inserted id); bump tixInsertedId")
    // the scripted DELETE 11 / UPDATE 12 must hit real rows: a corpus
    // lacking them changes the commit count and tombstone census the
    // static oracles (incl. the advisor's tombstone_fill=2) replay
    require(pre.getLong(1) == 2L,
      "text-index fixture precondition failed: corpus must contain " +
        s"doc_ids 11 AND 12 (found ${pre.getLong(1)} of 2) — the " +
        "scripted edits would no-op and desync every static oracle")
    corpus.createOrReplaceTempView(view)
  }

  private def textIndexFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val fp = Tables.fingerprint(dir, "documents")
    val src = s"tixsrc_$fp"
    val ix = s"tix_$fp"
    if (!builtHistories.contains(src)) {
      // deterministic scripted state → cross-JVM memo (every probe
      // query shares this fixture; r16 re-built it in every JVM)
      memoizedLakeState(s, "tix", fp,
        Seq(src, ix, s"${ix}_docs", s"${ix}_tomb", s"${ix}_meta",
          s"${ix}_bm")) {
        guardedTixCorpus(s, dir, "graft_tix_corpus_src")
        s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
        s.sql(s"""CREATE TABLE graft_lake.lake.$src
                  (doc_id BIGINT, text STRING)
                  TBLPROPERTIES ('shard_key'='doc_id',
                    'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  SELECT * FROM graft_tix_corpus_src""")
        s.sql(s"""CALL graft_lake.system.build_text_index(
                  table => '$src', index_table => '$ix')""")
        s.sql(s"DELETE FROM graft_lake.lake.$src WHERE doc_id = 11")
        s.sql(s"""UPDATE graft_lake.lake.$src
                  SET text = '$tixUpdatedText' WHERE doc_id = 12""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  VALUES (100000L, '$tixInsertedText')""")
        s.sql(s"""CALL graft_lake.system.refresh_text_index(
                  index_table => '$ix')""")
      }
      builtHistories.add(src): Unit
    }
    ix
  }

  /** BM25 top-5 served FROM THE PERSISTED INVERTED INDEX — the
    * production read path `text_bm25_topk`'s per-query tokenize
    * lacks: postings and doc lengths are lake tables built once by
    * `CALL build_text_index` and advanced by `refresh_text_index`.
    * The probe filters `term_h IN (<60-bit hashes of the query
    * terms>)` — LITERALS computed from the same md5 kernel the index
    * writes (graft_hex60), so shard routing prunes the postings scan
    * to the query terms' shards (LakeTextIndexSpec pins the planned
    * shard count); the string `term` equi-join makes hash collisions
    * harmless. Tombstone masking + the `ver >= before` liveness rule
    * hide the deleted doc and the updated doc's stale postings; the
    * refreshed delta (including a brand-new doc) ranks. Scoring is
    * the exact `text_bm25_topk` arithmetic (6dp DECIMAL partials), so
    * the DuckDB oracle — a clean recompute over the edited corpus —
    * pins index == recompute. */
  private val tixQueryTerms = Seq(
    (1L, "join"), (1L, "hash"),
    (2L, "vector"), (2L, "stream"),
    (3L, "scan"), (3L, "filter"), (3L, "slow"))

  /** The shared probe-and-score stage: live postings of the query
    * terms (shard-pruned by literal graft_hex60 hashes — no collect,
    * no corpus job) scored with the exact text_bm25_topk arithmetic,
    * aggregated to one (q_id, doc_id, s, n_terms) row per candidate.
    * [[searchIndexedBm25]] ranks this frame as-is (disjunctive,
    * standard BM25); [[searchIndexedConjunctive]] first demands
    * n_terms = |query| (AND semantics). */
  private def indexedBm25Scored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    indexedBm25ScoredOver(s, dir, textIndexFixture(s, dir))

  /** The same probe against an explicit index — shared with the
    * rebuild-lifecycle key, which scores through a REBUILT index. */
  private def indexedBm25ScoredOver(
      s: org.apache.spark.sql.SparkSession,
      dir: String, ix: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val hashes = tixQueryTerms.map(_._2).distinct.map(t =>
      graft.plans.HashUtil.hex60md5(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .asInstanceOf[Any])
    val qdf = tixQueryTerms.toDF("q_id", "term")
    val tomb = GraftLakeTextIndex.tombstones(s, ix)
    val bcast = GraftLakeTextIndex.maskBroadcastable(s, ix)
    val post = GraftLakeTextIndex.live(
      s.table(s"graft_lake.lake.$ix")
        .filter(col("term_h").isin(hashes: _*)), tomb, bcast)
    val docs = GraftLakeTextIndex.live(
      s.table(s"graft_lake.lake.${ix}_docs"), tomb, bcast)
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("bigint").as("sum_dl"))
    val dfreq = post.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    post.join(broadcast(qdf), "term")
      .join(docs.select("doc_id", "dl"), "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .selectExpr("q_id", "doc_id", GraftLakeTextIndex.bm25PartialSql)
      .groupBy("q_id", "doc_id")
      .agg(sum("ps").as("s"), count(lit(1)).as("n_terms"))
  }

  val searchIndexedBm25: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("doc_id"))
    indexedBm25Scored(s, dir)
      .withColumn("rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "rank", "doc_id", "n_terms",
        "CAST(s AS DOUBLE) AS bm25")
      .orderBy("q_id", "rank")
  }

  /** BLOCK-MAX WAND top-5 over the same persisted index + the same
    * queries as `search_indexed_bm25` — the PRUNED production read
    * path ([[GraftLakeTextIndex.wandTopk]]): per-(term, doc-block)
    * score upper bounds persisted beside the postings let the probe
    * skip whole blocks that provably cannot enter the top-k, so at
    * 100 TB postings cost follows the few highest-scoring blocks
    * instead of every document containing any query term. Shares the
    * exhaustive probe's oracle verbatim: pruning is exact or it is
    * broken (LakeTextIndexSpec additionally pins blocks_skipped > 0
    * on a skewed corpus). */
  val searchIndexedWand: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val ix = textIndexFixture(s, dir)
    GraftLakeTextIndex.wandTopk(s, ix, tixQueryTerms, 5)._1
  }

  /** STREAMING INDEX FRESHNESS — the read-side twin of
    * `stream_lake_upsert_eq`: instead of a nightly `CALL
    * refresh_text_index`, a Structured Streaming consumer of the
    * table's `$changes` MicroBatchStream (one commit per micro-batch)
    * advances the index cursor INSIDE foreachBatch, so the index
    * follows the table continuously. The batch is the notification
    * and carries the commit version; the refresh itself replays
    * `(cursor, v]` through the same `$changes` connector — O(delta),
    * changed shards only, identical to the batch verb, now driven by
    * the stream. The fixture applies the standard three edits WITHOUT
    * any batch refresh, drains the stream (AvailableNow), and probes
    * BM25 through the followed index: the oracle is the SAME clean
    * raw-corpus recompute `search_indexed_bm25` checks against —
    * hash equality proves the streamed cursor advance converges to
    * exactly the batch-refresh state. */
  private def streamIndexRefreshFixture(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val fp = Tables.fingerprint(dir, "documents")
    val src = s"sixsrc_$fp"
    val ix = s"six_$fp"
    if (!builtHistories.contains(src)) {
      // the PRE-stream base (corpus table + first index build + the
      // three edits, index cursor still at the build version) is
      // deterministic scripted state — memoized like its tix/tixrb
      // siblings, so each JVM pays only the STREAMING REPLAY under
      // test, not the corpus build + tokenize it follows
      memoizedLakeState(s, "six", fp,
        Seq(src, ix, s"${ix}_docs", s"${ix}_tomb", s"${ix}_meta",
          s"${ix}_bm")) {
        guardedTixCorpus(s, dir, "graft_six_corpus_src")
        s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
        s.sql(s"""CREATE TABLE graft_lake.lake.$src
                  (doc_id BIGINT, text STRING)
                  TBLPROPERTIES ('shard_key'='doc_id',
                    'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  SELECT * FROM graft_six_corpus_src""")
        s.sql(s"""CALL graft_lake.system.build_text_index(
                  table => '$src', index_table => '$ix')""")
        s.sql(s"DELETE FROM graft_lake.lake.$src WHERE doc_id = 11")
        s.sql(s"""UPDATE graft_lake.lake.$src
                  SET text = '$tixUpdatedText' WHERE doc_id = 12""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  VALUES (100000L, '$tixInsertedText')""")
      }
      val root = s.conf.get("spark.sql.catalog.graft_lake.path")
      val q = s.readStream
        .table(s"graft_lake.lake.`$src$$changes`")
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val v = batch.agg(max("_commit_version")).head()
            if (!v.isNullAt(0))
              GraftLakeTextIndex.refresh(root, ix, v.getLong(0)): Unit
        }
        .trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      builtHistories.add(src): Unit
    }
    ix
  }

  val streamIndexRefresh: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val ix = streamIndexRefreshFixture(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("doc_id"))
    indexedBm25ScoredOver(s, dir, ix)
      .withColumn("rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "rank", "doc_id", "n_terms",
        "CAST(s AS DOUBLE) AS bm25")
      .orderBy("q_id", "rank")
  }

  /** STREAMING INDEX-GROUP FRESHNESS — `stream_index_refresh` follows
    * one index; a production RAG table carries BOTH retrieval
    * modalities, and hybrid search over a half-followed pair serves
    * two different snapshots. This fixture is one source table
    * `(doc_id, text, vec_id, emb)` with a text index AND an ANN index
    * built at the same version; the streaming consumer advances BOTH
    * cursors inside one foreachBatch, pinned to the batch's commit
    * version and bracketed by the same write-ahead intent
    * `refresh_indexes` records — the stream IS the group verb, one
    * commit per micro-batch. After the drain, the key probes both
    * modalities through the followed indexes; the oracle is the union
    * of the two CLEAN recomputes (edited-corpus BM25; IVF trained on
    * the build snapshot, assigned over the edited corpus), so hash
    * equality proves both cursors converged to the batch-refresh
    * state. */
  private val gixInsertedVec: String = "1000000" + ",0" * 63

  private def streamIndexGroupFixture(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val fp = Tables.fingerprint(dir, "documents")
    val src = s"gixsrc_$fp"
    val tix = s"gtix_$fp"
    val aix = s"gaix_$fp"
    if (!builtHistories.contains(src)) {
      memoizedLakeState(s, "gix",
        s"${fp}_${Tables.fingerprint(dir, "embeddings")}",
        Seq(src, tix, s"${tix}_docs", s"${tix}_tomb", s"${tix}_meta",
          s"${tix}_bm", aix, s"${aix}_centroids", s"${aix}_codebooks",
          s"${aix}_meta")) {
        guardedTixCorpus(s, dir, "graft_gix_docs")
        val embs = s.read.parquet(s"$dir/embeddings.parquet")
          .selectExpr("vec_id",
            """concat_ws(',', transform(embedding, x ->
               CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               AS STRING))) AS emb""")
        // the scripted edits must hit rows of the JOINED corpus — a
        // doc with text but no embedding is not in this fixture, and
        // the static oracle replays exactly the joined membership
        require(embs.filter(col("vec_id").isin(11L, 12L)).count() == 2L,
          "index-group fixture precondition failed: embeddings must " +
            "cover vec_ids 11 AND 12 or the scripted edits desync " +
            "the joined-corpus oracle")
        embs.createOrReplaceTempView("graft_gix_embs")
        s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
        s.sql(s"""CREATE TABLE graft_lake.lake.$src
                  (doc_id BIGINT, text STRING, vec_id BIGINT,
                   emb STRING)
                  TBLPROPERTIES ('shard_key'='doc_id',
                    'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  SELECT d.doc_id, d.text, e.vec_id, e.emb
                  FROM graft_gix_docs d
                  JOIN graft_gix_embs e ON d.doc_id = e.vec_id""")
        s.sql(s"""CALL graft_lake.system.build_text_index(
                  table => '$src', index_table => '$tix')""")
        s.sql(s"""CALL graft_lake.system.build_ann_index(
                  table => '$src', index_table => '$aix')""")
        s.sql(s"DELETE FROM graft_lake.lake.$src WHERE doc_id = 11")
        s.sql(s"""UPDATE graft_lake.lake.$src
                  SET text = '$tixUpdatedText' WHERE doc_id = 12""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src VALUES
                  (100000L, '$tixInsertedText', 100000L,
                   '$gixInsertedVec')""")
      }
      // the STREAM under test: each micro-batch advances the WHOLE
      // index group to its commit version, intent-bracketed
      val root = s.conf.get("spark.sql.catalog.graft_lake.path")
      val q = s.readStream
        .table(s"graft_lake.lake.`$src$$changes`")
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val v = batch.agg(max("_commit_version")).head()
            if (!v.isNullAt(0)) {
              val pv = v.getLong(0)
              GraftLakeProcedures.writeIntent(root, tix, aix, src, pv)
              GraftLakeTextIndex.refresh(root, tix, pv): Unit
              GraftLakeAnnIndex.refresh(root, aix, pv): Unit
              GraftLakeProcedures.clearIntent(root, tix, aix)
            }
        }
        .trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      builtHistories.add(src): Unit
    }
    (tix, aix)
  }

  val streamIndexGroupRefresh: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (tix, aix) = streamIndexGroupFixture(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("doc_id"))
    val text = indexedBm25ScoredOver(s, dir, tix)
      .withColumn("rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= 5)
      .selectExpr("'text' AS modality", "q_id", "rank",
        "doc_id AS item_id", "CAST(s AS DOUBLE) AS score")
    val ann = annIndexedTopkOver(s, dir, aix)
      .selectExpr("'ann' AS modality", "q_id", "rank",
        "c_id AS item_id", "cos_sim AS score")
    text.unionByName(ann).orderBy("modality", "q_id", "rank")
  }

  /** Union of the two clean recomputes: the edited-corpus BM25 rank
    * (shared CTEs) + the IVF replay (train on the BUILD snapshot —
    * all 500 original vectors — then assign the EDITED live corpus to
    * those frozen centroids, exactly what build + streamed O(delta)
    * refreshes produce). */
  lazy val streamIndexGroupRefreshOracle: String = {
    import graft.operators.Similarity.{kmAssignDuck, kmUpdateDuck, dotD}
    val v0 =
      """SELECT vec_id, list_transform(embedding, x ->
           CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                AS DOUBLE) / 1000000.0) AS sv
         FROM embeddings"""
    val v = s"""SELECT vec_id, sv, ${dotD("sv", "sv")} AS xx
                FROM ($v0)"""
    var cents = s"""SELECT vec_id AS cid, sv AS centroid FROM ($v)
                    WHERE vec_id < 8"""
    for (_ <- 1 to 3)
      cents = kmUpdateDuck(kmAssignDuck(v, cents, byJ = false),
        Seq("cid"), 64)
    val e1 =
      """list_concat([CAST(1 AS DOUBLE)],
         list_transform(generate_series(1, 63),
           x -> CAST(0 AS DOUBLE)))"""
    val live =
      s"""SELECT vec_id, sv FROM ($v0) WHERE vec_id != 11
         UNION ALL SELECT CAST(100000 AS BIGINT), $e1"""
    val livex = s"""SELECT vec_id, sv, ${dotD("sv", "sv")} AS xx
                    FROM ($live)"""
    val assigned =
      s"""SELECT cid AS cell, vec_id
         FROM (${kmAssignDuck(livex, cents, byJ = false)})"""
    val probe =
      s"""SELECT q_id, q_sv, q_xx, cell FROM (
           SELECT q.vec_id AS q_id, q.sv AS q_sv, q.xx AS q_xx,
             c.cid AS cell,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               q.xx - 2 * ${dotD("q.sv", "c.centroid")} + c.cc ASC,
               c.cid ASC) AS prn
           FROM (SELECT * FROM ($v) WHERE vec_id < 10) q
           CROSS JOIN (SELECT cid, centroid,
             ${dotD("centroid", "centroid")} AS cc FROM ($cents)) c)
         WHERE prn = 1"""
    val annPart =
      s"""WITH cands AS (
           SELECT a.cell, a.vec_id AS c_id, w.sv AS c_sv, w.xx AS c_xx
           FROM ($assigned) a JOIN ($livex) w ON a.vec_id = w.vec_id),
         scored AS (
           SELECT p.q_id, c.c_id,
             ${dotD("p.q_sv", "c.c_sv")} /
               (sqrt(p.q_xx) * sqrt(c.c_xx)) AS cos_sim
           FROM ($probe) p JOIN cands c ON p.cell = c.cell),
         ranked AS (
           SELECT q_id, c_id, cos_sim,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos_sim DESC, c_id ASC) AS rank
           FROM scored)
         SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id,
           round(cos_sim, 6) AS cos_sim
         FROM ranked WHERE rank <= 5"""
    // the text side replays the JOINED corpus (docs ∩ embeddings):
    // at scales where documents and embeddings differ in
    // cardinality, df/dl/n_docs over the full documents table would
    // be a DIFFERENT corpus than the one this fixture indexed
    val gixCorpusDuck =
      s"""SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT vec_id FROM embeddings)
            AND doc_id NOT IN (11, 12)
          UNION ALL SELECT CAST(12 AS BIGINT), '$tixUpdatedText'
          UNION ALL SELECT CAST(100000 AS BIGINT), '$tixInsertedText'"""
    s"""${scoredCtesOver(gixCorpusDuck)},
       trk AS (
         SELECT CAST(q_id AS BIGINT) AS q_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY s DESC, doc_id) AS rank,
           doc_id, CAST(s AS DOUBLE) AS bm25
         FROM agg)
       SELECT modality, q_id, rank, item_id, score FROM (
         SELECT 'text' AS modality, q_id, CAST(rank AS BIGINT) AS rank,
           doc_id AS item_id, bm25 AS score
         FROM trk WHERE rank <= 5
         UNION ALL
         SELECT 'ann', q_id, rank, c_id, cos_sim FROM ($annPart) a)
       ORDER BY modality, q_id, rank"""
  }

  /** CONJUNCTIVE (AND) retrieval over the same index: only documents
    * containing EVERY query term qualify, then BM25 ranks the
    * survivors — how production search engines actually execute
    * (conjunctive candidate generation, then ranking): the AND filter
    * shrinks the ranked set from "any term matched" to the
    * high-precision intersection. The qualification is free here —
    * the scored frame already counts matched terms per (query, doc),
    * so AND is `n_terms = |query|` against a broadcast 3-row
    * term-count frame. */
  val searchIndexedConjunctive: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    import s.implicits._
    val need = tixQueryTerms.groupBy(_._1).view
      .mapValues(_.size.toLong).toSeq
      .map { case (q, n) => (q, n) }.toDF("q_id", "need")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("doc_id"))
    indexedBm25Scored(s, dir)
      .join(broadcast(need), "q_id")
      .filter(col("n_terms") === col("need"))
      .withColumn("rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "rank", "doc_id", "n_terms",
        "CAST(s AS DOUBLE) AS bm25")
      .orderBy("q_id", "rank")
  }

  /** Shared CTE prefix (edited corpus → per-(query,doc) scored `agg`)
    * of the indexed-search oracles — a named constant each oracle
    * extends with its own ranking tail, so a change to the scoring
    * stage cannot silently desync the variants (previously the
    * conjunctive oracle was derived by substring surgery on the BM25
    * oracle's finished string). */
  private val searchIndexedScoredCtes: String =
    scoredCtesOver(tixCorpusDuck)

  /** The scored CTEs parameterized by the replayed corpus — the
    * index-group fixture indexes only the docs that ALSO carry an
    * embedding (documents ⋈ embeddings), which at scales where the
    * two tables differ in cardinality is a STRICT subset of
    * `documents`, so its BM25 oracle must replay exactly that
    * corpus (df/dl/n_docs all shift with corpus membership). */
  private def scoredCtesOver(corpusSql: String): String =
    s"""WITH corpus AS ($corpusSql),
       q(q_id, term) AS (VALUES
         (1, 'join'), (1, 'hash'),
         (2, 'vector'), (2, 'stream'),
         (3, 'scan'), (3, 'filter'), (3, 'slow')),
       toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM corpus),
       tfc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dlc AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
              FROM dlc),
       dfc AS (SELECT term, count(*) AS df FROM tfc
               WHERE term IN (SELECT term FROM q) GROUP BY 1),
       ps AS (
         SELECT q.q_id, tfc.doc_id,
           CAST(round(
             ln(1 + (CAST(st.n_docs AS DOUBLE) - dfc.df + 0.5) / (CAST(dfc.df AS DOUBLE) + 0.5)) *
             (CAST(tfc.tf AS DOUBLE) * 2.2) /
             (CAST(tfc.tf AS DOUBLE) + 1.2 *
               (0.25 + 0.75 * CAST(dlc.dl AS DOUBLE) * CAST(st.n_docs AS DOUBLE)
                / CAST(st.sum_dl AS DOUBLE))),
           6) AS DECIMAL(18,6)) AS ps
         FROM tfc JOIN q USING (term)
         JOIN dlc USING (doc_id)
         JOIN dfc USING (term)
         CROSS JOIN st),
       agg AS (
         SELECT q_id, doc_id, sum(ps) AS s, count(*) AS n_terms
         FROM ps GROUP BY 1, 2)"""

  val searchIndexedBm25Oracle: String =
    s"""$searchIndexedScoredCtes,
       rk AS (
         SELECT CAST(q_id AS BIGINT) AS q_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY s DESC, doc_id) AS rank,
           doc_id, n_terms, CAST(s AS DOUBLE) AS bm25
         FROM agg)
       SELECT q_id, rank, doc_id, n_terms, bm25 FROM rk
       WHERE rank <= 5 ORDER BY q_id, rank"""

  /** The conjunctive oracle extends the shared scored CTEs with the
    * AND qualification applied before ranking: only (q, doc) rows
    * whose matched-term count equals the query's term count
    * survive. */
  val searchIndexedConjunctiveOracle: String =
    s"""$searchIndexedScoredCtes,
       nq AS (SELECT q_id, count(*) AS need FROM q GROUP BY 1),
       rk AS (
         SELECT CAST(a.q_id AS BIGINT) AS q_id,
           row_number() OVER (PARTITION BY a.q_id
             ORDER BY a.s DESC, a.doc_id) AS rank,
           a.doc_id, a.n_terms, CAST(a.s AS DOUBLE) AS bm25
         FROM agg a JOIN nq ON a.q_id = nq.q_id
         WHERE a.n_terms = nq.need)
       SELECT q_id, rank, doc_id, n_terms, bm25 FROM rk
       WHERE rank <= 5 ORDER BY q_id, rank"""

  /** PHRASE SEARCH over the positional postings — the query class an
    * inverted index exists for and a bag-of-words scan cannot answer:
    * "these two tokens ADJACENT, in order". Each posting row carries
    * the term's ascending 0-based position list, so a 2-term phrase is
    * (1) a shard-pruned probe of both terms' postings (literal
    * graft_hex60 hashes, same as the BM25 probe), (2) an equi-join on
    * doc_id, (3) a per-row positional intersection
    * `size(filter(ps1, p -> array_contains(ps2, p + 1)))` — no text
    * is ever rescanned. Tombstone liveness applies before the join,
    * so phrase hits in deleted/stale docs are impossible; the DuckDB
    * oracle recomputes adjacency from the edited raw corpus by
    * sliding over the token lists. Scale: postings of exactly the
    * phrase terms (shard-routed), one join keyed by (term, doc),
    * per-row position work bounded by term frequency. */
  val searchPhraseIndexed: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val ix = textIndexFixture(s, dir)
    import s.implicits._
    val phrases = Seq(
      (1L, "vector", "stream"), (2L, "table", "hash"),
      (3L, "slow", "key"))
    val hashes = phrases.flatMap(p => Seq(p._2, p._3)).distinct
      .map(t => graft.plans.HashUtil.hex60md5(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .asInstanceOf[Any])
    val tomb = GraftLakeTextIndex.tombstones(s, ix)
    val bcast = GraftLakeTextIndex.maskBroadcastable(s, ix)
    val post = GraftLakeTextIndex.live(
      s.table(s"graft_lake.lake.$ix")
        .filter(col("term_h").isin(hashes: _*)), tomb, bcast)
      .selectExpr("term", "doc_id",
        "transform(split(positions, ','), t -> CAST(t AS INT)) AS ps")
    val pdf = phrases.toDF("q_id", "w1", "w2")
    post.selectExpr("term AS w1", "doc_id", "ps AS ps1")
      .join(broadcast(pdf), "w1")
      .join(post.selectExpr("term AS w2", "doc_id", "ps AS ps2"),
        Seq("w2", "doc_id"))
      .selectExpr("q_id", "doc_id",
        """CAST(size(filter(ps1, p -> array_contains(ps2, p + 1)))
           AS BIGINT) AS n_matches""")
      .filter(col("n_matches") > 0)
      .orderBy("q_id", "doc_id")
  }

  val searchPhraseIndexedOracle: String =
    s"""WITH corpus AS ($tixCorpusDuck),
       toks AS (
         SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
       ph(q_id, w1, w2) AS (VALUES
         (1, 'vector', 'stream'), (2, 'table', 'hash'),
         (3, 'slow', 'key')),
       m AS (
         SELECT ph.q_id, t.doc_id,
           CAST(len(list_filter(range(1, len(t.ts)),
             i -> t.ts[i] = ph.w1 AND t.ts[i + 1] = ph.w2))
             AS BIGINT) AS n_matches
         FROM toks t CROSS JOIN ph)
       SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, n_matches
       FROM m WHERE n_matches > 0 ORDER BY q_id, doc_id"""

  /** PROXIMITY SEARCH — the Lucene SloppyPhraseQuery surface over the
    * same positional postings: `"w1 w2"~slop` and k-term phrases,
    * ORDERED with a per-step window (each next term within `slop + 1`
    * positions after the previous match — slop 0 degenerates to exact
    * phrase adjacency). The positional intersection generalizes by
    * ITERATION: S₁ = positions of w1; Sᵢ = positions p of wᵢ with
    * some q ∈ Sᵢ₋₁ where 0 < p − q ≤ slop + 1; a doc matches iff the
    * final chain set is non-empty. Everything stays shard-pruned
    * (literal graft_hex60 probes of exactly the phrase terms) and
    * per-row work is bounded by term frequency — no text rescan at
    * any corpus size. The DuckDB oracle recomputes the identical
    * chain from the edited raw corpus's token position lists. */
  val searchProximityIndexed: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val ix = textIndexFixture(s, dir)
    import s.implicits._
    val phrases = Seq(
      (1L, "join", "vector", None: Option[String], 2L),
      (2L, "join", "vector", Some("scan"), 2L),
      (3L, "hash", "stream", None: Option[String], 0L))
    val hashes = phrases.flatMap(p =>
      Seq(Some(p._2), Some(p._3), p._4).flatten).distinct
      .map(t => graft.plans.HashUtil.hex60md5(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .asInstanceOf[Any])
    val tomb = GraftLakeTextIndex.tombstones(s, ix)
    val bcast = GraftLakeTextIndex.maskBroadcastable(s, ix)
    val post = GraftLakeTextIndex.live(
      s.table(s"graft_lake.lake.$ix")
        .filter(col("term_h").isin(hashes: _*)), tomb, bcast)
      .selectExpr("term", "doc_id",
        "transform(split(positions, ','), t -> CAST(t AS INT)) AS ps")
    val pdf = phrases.toDF("q_id", "w1", "w2", "w3", "slop")
    post.selectExpr("term AS w1", "doc_id", "ps AS ps1")
      .join(broadcast(pdf), "w1")
      .join(post.selectExpr("term AS w2", "doc_id", "ps AS ps2"),
        Seq("w2", "doc_id"))
      .join(post.selectExpr("term AS w3", "doc_id", "ps AS ps3"),
        Seq("w3", "doc_id"), "left_outer")
      .selectExpr("q_id", "doc_id", "w3", "ps3", "slop",
        """filter(ps2, p -> exists(ps1,
           q -> p > q AND p - q <= slop + 1)) AS s2""")
      .selectExpr("q_id", "doc_id",
        """CAST(size(CASE
             WHEN w3 IS NULL THEN s2
             WHEN ps3 IS NULL THEN CAST(array() AS ARRAY<INT>)
             ELSE filter(ps3, p -> exists(s2,
               q -> p > q AND p - q <= slop + 1)) END)
           AS BIGINT) AS n_matches""")
      .filter(col("n_matches") > 0)
      .orderBy("q_id", "doc_id")
  }

  val searchProximityIndexedOracle: String =
    s"""WITH corpus AS ($tixCorpusDuck),
       toks AS (
         SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
       ph(q_id, w1, w2, w3, slop) AS (VALUES
         (1, 'join', 'vector', NULL, 2),
         (2, 'join', 'vector', 'scan', 2),
         (3, 'hash', 'stream', NULL, 0)),
       pos AS (
         SELECT ph.q_id, t.doc_id, ph.slop, ph.w3,
           list_filter(range(0, len(t.ts)),
             i -> t.ts[i + 1] = ph.w1) AS ps1,
           list_filter(range(0, len(t.ts)),
             i -> t.ts[i + 1] = ph.w2) AS ps2,
           CASE WHEN ph.w3 IS NULL THEN NULL
                ELSE list_filter(range(0, len(t.ts)),
                  i -> t.ts[i + 1] = ph.w3) END AS ps3
         FROM toks t CROSS JOIN ph),
       chain AS (
         SELECT q_id, doc_id, w3, slop, ps3,
           list_filter(ps2, p -> len(list_filter(ps1,
             q -> p > q AND p - q <= slop + 1)) > 0) AS s2
         FROM pos),
       fin AS (
         SELECT q_id, doc_id,
           CAST(len(CASE
             WHEN w3 IS NULL THEN s2
             WHEN ps3 IS NULL THEN []
             ELSE list_filter(ps3, p -> len(list_filter(s2,
               q -> p > q AND p - q <= slop + 1)) > 0) END)
           AS BIGINT) AS n_matches
         FROM chain)
       SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, n_matches
       FROM fin WHERE n_matches > 0 ORDER BY q_id, doc_id"""

  // ---- text-index rebuild lifecycle (oracled) ----

  /** Memoized lifecycle evidence per corpus: (dead_pre, tomb_pre,
    * dead_post, tomb_post) captured AT FIXTURE BUILD TIME — the
    * rebuild is destructive, so re-running the query must replay the
    * recorded before/after counts, not re-measure a folded index. */
  private val tixRebuildStats = new java.util.concurrent
    .ConcurrentHashMap[String, (Long, Long, Long, Long)]()

  /** Cross-JVM memo of a SET of lake tables' on-disk state (dirs +
    * descriptors), keyed by a content fingerprint — the lake-table
    * analog of [[Tables.persistentMemo]]: a scripted fixture whose
    * state is identical in every run publishes it once under tmpdir
    * and later JVMs HARDLINK it back into their per-process lake root
    * instead of re-running the script ([[Memo.publish]]; staleness
    * impossible — the fingerprint keys the path). Hardlink restore is
    * sound because the lake's commit protocol never mutates a
    * published file in place — new commits write NEW version dirs, and
    * deleting a link never touches the memo copy.
    *
    * [[lakeMemoFormat]] is part of the key: the fingerprint captures
    * the INPUT data but not the fixture script or the lake's on-disk
    * layout, so without it a newer binary would silently restore a
    * stale memo published by an older build (confusing mismatches
    * until tmpdir is cleared). Bump it whenever a fixture script or
    * the table format changes shape. */
  private val lakeMemoFormat = "f18b"

  private def memoizedLakeState(s: org.apache.spark.sql.SparkSession,
      what: String, fp: String, names: Seq[String])(
      build: => Unit): Unit = {
    val root = new java.io.File(
      s.conf.get("spark.sql.catalog.graft_lake.path"))
    root.mkdirs()
    def copyTree(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).foreach(_.foreach(f =>
          copyTree(f, new java.io.File(dst, f.getName))))
      } else {
        dst.delete()
        try java.nio.file.Files.createLink(dst.toPath, src.toPath): Unit
        catch {
          case _: Exception => java.nio.file.Files.copy(src.toPath,
            dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        }
      }
    def artifacts(n: String): Seq[String] = Seq(n, s"$n.lake.json")
    var built = false
    val memo = Memo.publish(
        s"graft_memo_lake_${lakeMemoFormat}_${what}_$fp") { d =>
      build
      built = true
      names.flatMap(artifacts).foreach { a =>
        copyTree(new java.io.File(root, a), new java.io.File(d, a))
      }
    }
    if (!built)
      Tables.timedMemo(s"lakeState:$what (restored)") {
        names.flatMap(artifacts).foreach { a =>
          val dst = new java.io.File(root, a)
          rmTree(dst)
          copyTree(new java.io.File(memo, a), dst)
        }
      }
  }

  private def textIndexRebuildFixture(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (String, (Long, Long, Long, Long)) = {
    val fp = Tables.fingerprint(dir, "documents")
    val src = s"tixrbsrc_$fp"
    val ix = s"tixrb_$fp"
    if (!builtHistories.contains(src)) {
      // the DIRTY pre-rebuild state (corpus table + first index build
      // + the three edits + refresh) is byte-identical in every run —
      // memoized by corpus fingerprint, so each JVM pays only the
      // REBUILD UNDER TEST, not the first full build too (r16 bench
      // paid both: 1.2–4.8 s/run of repeated fixture setup)
      memoizedLakeState(s, "tixrb", fp,
        Seq(src, ix, s"${ix}_docs", s"${ix}_tomb", s"${ix}_meta",
          s"${ix}_bm")) {
        guardedTixCorpus(s, dir, "graft_tixrb_corpus_src")
        s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$src")
        s.sql(s"""CREATE TABLE graft_lake.lake.$src
                  (doc_id BIGINT, text STRING)
                  TBLPROPERTIES ('shard_key'='doc_id',
                    'n_shards'='4')""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  SELECT * FROM graft_tixrb_corpus_src""")
        s.sql(s"""CALL graft_lake.system.build_text_index(
                  table => '$src', index_table => '$ix')""")
        s.sql(s"DELETE FROM graft_lake.lake.$src WHERE doc_id = 11")
        s.sql(s"""UPDATE graft_lake.lake.$src
                  SET text = '$tixUpdatedText' WHERE doc_id = 12""")
        s.sql(s"""INSERT INTO graft_lake.lake.$src
                  VALUES (100000L, '$tixInsertedText')""")
        s.sql(s"""CALL graft_lake.system.refresh_text_index(
                  index_table => '$ix')""")
      }
      val pre = s.sql(s"""CALL graft_lake.system.text_index_stats(
                index_table => '$ix')""").head()
      // REBUILD = build again over the current snapshot: tombstones
      // and masked stale generations fold away physically
      s.sql(s"""CALL graft_lake.system.build_text_index(
                table => '$src', index_table => '$ix')""")
      val post = s.sql(s"""CALL graft_lake.system.text_index_stats(
                index_table => '$ix')""").head()
      tixRebuildStats.put(src,
        (pre.getLong(1), pre.getLong(3),
          post.getLong(1), post.getLong(3))): Unit
      builtHistories.add(src): Unit
    }
    (ix, tixRebuildStats.get(src))
  }

  /** TEXT-INDEX REBUILD LIFECYCLE, oracled end-to-end (the text twin
    * of `ann_index_drift`'s lifecycle evidence): edits leave the index
    * carrying dead postings + tombstones (dead_pre > 0, tomb_pre = 2 —
    * the DuckDB twin derives dead_pre from the two replaced docs'
    * ORIGINAL postings), a rebuild folds them away physically
    * (dead_post = tomb_post = 0), and the post-rebuild BM25 top-5 is
    * HASH-CHECKED against the clean recompute over the edited corpus —
    * proving the rebuild changed the physical layout and nothing
    * else. */
  val lakeTextIndexRebuild: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val (ix, (deadPre, tombPre, deadPost, tombPost)) =
      textIndexRebuildFixture(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("doc_id"))
    indexedBm25ScoredOver(s, dir, ix)
      .withColumn("rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "rank", "doc_id", "n_terms",
        "CAST(s AS DOUBLE) AS bm25",
        s"CAST($deadPre AS BIGINT) AS dead_pre",
        s"CAST($tombPre AS BIGINT) AS tomb_pre",
        s"CAST($deadPost AS BIGINT) AS dead_post",
        s"CAST($tombPost AS BIGINT) AS tomb_post")
      .orderBy("q_id", "rank")
  }

  val lakeTextIndexRebuildOracle: String =
    s"""$searchIndexedScoredCtes,
       rk AS (
         SELECT CAST(q_id AS BIGINT) AS q_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY s DESC, doc_id) AS rank,
           doc_id, n_terms, CAST(s AS DOUBLE) AS bm25
         FROM agg),
       reb AS (
         SELECT CAST((SELECT count(*) FROM (
             SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
             FROM documents WHERE doc_id IN (11, 12)))
           AS BIGINT) AS dead_pre)
       SELECT q_id, rank, doc_id, n_terms, bm25,
         reb.dead_pre, CAST(2 AS BIGINT) AS tomb_pre,
         CAST(0 AS BIGINT) AS dead_post, CAST(0 AS BIGINT) AS tomb_post
       FROM rk, reb WHERE rank <= 5 ORDER BY q_id, rank"""

  /** Text-index health through `CALL text_index_stats` — dead/live
    * postings is the rebuild trigger (the ANN drift-ratio analog;
    * Lucene's deleted-docs percentage). Oracled: the DuckDB twin
    * derives every count from the raw corpus + the fixture's known
    * edits — live postings from the edited corpus, dead postings from
    * the two replaced docs' ORIGINAL postings, two tombstoned docs. */
  val lakeTextIndexStats: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val ix = textIndexFixture(s, dir)
    s.sql(s"""CALL graft_lake.system.text_index_stats(
              index_table => '$ix')""")
  }

  val lakeTextIndexStatsOracle: String =
    s"""WITH corpus AS ($tixCorpusDuck),
       lp AS (SELECT count(*) AS v FROM (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
         FROM corpus)),
       dp AS (SELECT count(*) AS v FROM (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
         FROM documents WHERE doc_id IN (11, 12))),
       ld AS (SELECT count(*) AS v FROM corpus)
       SELECT CAST(lp.v AS BIGINT) AS live_postings,
         CAST(dp.v AS BIGINT) AS dead_postings,
         CAST(ld.v AS BIGINT) AS live_docs,
         CAST(2 AS BIGINT) AS docs_tombstoned
       FROM lp, dp, ld"""

  /** The FULLY-INDEXED hybrid retrieval stack: Reciprocal Rank Fusion
    * over two PERSISTED indexes — the lexical rank list from
    * [[searchIndexedBm25]] (term-hash-sharded postings probe) and the
    * dense rank list from [[annIndexedTopk]] (IVF cell probe of the
    * persisted quantizer) — the production form of
    * `search_hybrid_rrf`, whose sides recompute per query. Fusion is
    * the same exact integer µ-unit RRF (`1000000 DIV (60 + rank)`,
    * K=60, rank 0 = not retrieved by that side); each side serves
    * k=5, the fused list keeps top-5.
    *
    * The two indexes deliberately index DIFFERENT fixture lifecycles
    * (the text index a delete/update/insert + refresh over documents,
    * the ANN index a CDC-upsert corpus over embeddings) — the fusion
    * scores whatever each index serves, which is exactly the
    * production contract (retrievers are maintained independently).
    * Scale: two index probes + a join of two 5-row-per-query rank
    * lists; nothing here rescans a corpus. */
  val searchHybridIndexed: Q = (s, dir) => Lake.synchronized {
    val lex = searchIndexedBm25(s, dir)
      .selectExpr("q_id", "doc_id", "rank AS lex_rank")
    val dense = annIndexedTopk(s, dir)
      .filter(col("q_id").isin(1L, 2L, 3L))
      .selectExpr("q_id", "c_id AS doc_id", "rank AS dense_rank")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .selectExpr("q_id", "doc_id",
        "coalesce(lex_rank, CAST(0 AS BIGINT)) AS lex_rank",
        "coalesce(dense_rank, CAST(0 AS BIGINT)) AS dense_rank",
        """(CASE WHEN lex_rank IS NULL THEN CAST(0 AS BIGINT)
                 ELSE 1000000 DIV (60 + lex_rank) END
          + CASE WHEN dense_rank IS NULL THEN CAST(0 AS BIGINT)
                 ELSE 1000000 DIV (60 + dense_rank) END) AS rrf_score""")
      .withColumn("rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "doc_id", "rrf_score", "lex_rank",
        "dense_rank")
      .orderBy("q_id", "rank")
  }

  val searchHybridIndexedOracle: String =
    s"""WITH lexr AS (
         SELECT q_id, doc_id, rank AS lex_rank
         FROM ($searchIndexedBm25Oracle)),
       denser AS (
         SELECT q_id, c_id AS doc_id, rank AS dense_rank
         FROM ($annIndexedTopkOracle)
         WHERE q_id IN (1, 2, 3)),
       fused AS (
         SELECT COALESCE(l.q_id, d.q_id) AS q_id,
           COALESCE(l.doc_id, d.doc_id) AS doc_id,
           COALESCE(l.lex_rank, 0) AS lex_rank,
           COALESCE(d.dense_rank, 0) AS dense_rank,
           (CASE WHEN l.lex_rank IS NULL THEN 0
                 ELSE 1000000 // (60 + l.lex_rank) END
          + CASE WHEN d.dense_rank IS NULL THEN 0
                 ELSE 1000000 // (60 + d.dense_rank) END) AS rrf_score
         FROM lexr l FULL OUTER JOIN denser d
           ON l.q_id = d.q_id AND l.doc_id = d.doc_id),
       rk AS (
         SELECT q_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY rrf_score DESC, doc_id ASC) AS rank,
           doc_id, rrf_score, lex_rank, dense_rank
         FROM fused)
       SELECT q_id, rank, doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
         CAST(lex_rank AS BIGINT) AS lex_rank,
         CAST(dense_rank AS BIGINT) AS dense_rank
       FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""

  // ---- TABLESAMPLE (Trino BERNOULLI/SYSTEM syntax, deterministic) ----

  /** Trino's `TABLESAMPLE BERNOULLI(p)` / `TABLESAMPLE SYSTEM(p)` SQL
    * surface over a lake table, DETERMINISTIC variant: the parser
    * extension accepts the Trino syntax and
    * [[graft.plans.RewriteTrinoTablesample]] lowers it to the
    * portable-hash forms — BERNOULLI to a per-row shard-key-hash
    * filter (row semantics, reproducible across engines/runs/cluster
    * sizes — the property rand()-seeded sampling cannot give), SYSTEM
    * to METADATA-ONLY shard sampling (the surviving shard ids are
    * decided from table metadata on the driver and pushed into the
    * scan as a read option, so unsampled shards are never planned —
    * Trino's split-granularity SYSTEM contract). The DuckDB oracle
    * replays both hash decisions in SQL: the row hash for BERNOULLI,
    * and for SYSTEM the per-shard hash + `doc_id % 8` routing replay
    * (the lake routes by floorMod on the integral shard key). */
  val sampleTablesample: Q = (s, dir) => Lake.synchronized {
    registerCatalog(s)
    val fp = Tables.fingerprint(dir, "documents")
    val tbl = s"tsdocs_$fp"
    if (!builtHistories.contains(tbl)) {
      s.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id", "lang")
        .createOrReplaceTempView("graft_tsmp_docs_src")
      s.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$tbl")
      s.sql(s"""CREATE TABLE graft_lake.lake.$tbl
                (doc_id BIGINT, lang STRING)
                TBLPROPERTIES ('shard_key'='doc_id',
                  'n_shards'='8')""")
      s.sql(s"""INSERT INTO graft_lake.lake.$tbl
                SELECT * FROM graft_tsmp_docs_src""")
      builtHistories.add(tbl): Unit
    }
    val bern = s.sql(
      s"""SELECT 'bernoulli' AS variant, doc_id, lang
          FROM graft_lake.lake.$tbl TABLESAMPLE BERNOULLI(30)""")
    val sys = s.sql(
      s"""SELECT 'system' AS variant, doc_id, lang
          FROM graft_lake.lake.$tbl TABLESAMPLE SYSTEM(50)""")
    bern.unionAll(sys).orderBy("variant", "doc_id")
  }

  val sampleTablesampleOracle: String =
    """SELECT variant, doc_id, lang FROM (
         SELECT 'bernoulli' AS variant, doc_id, lang FROM documents
         WHERE CAST(concat('0x', substr(md5(concat('tsmp_',
             CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           % 1000000 < 300000
         UNION ALL
         SELECT 'system', doc_id, lang FROM documents
         WHERE (doc_id % 8) IN (
           SELECT s FROM (SELECT unnest(range(8)) AS s)
           WHERE CAST(concat('0x', substr(md5(concat('tsys_8_',
               CAST(s AS VARCHAR))), 1, 15)) AS BIGINT)
             % 1000000 < 500000))
       ORDER BY variant, doc_id"""

  /** BERNOULLI TABLESAMPLE over a SESSION parquet temp view — no lake
    * table anywhere in the plan. The r16 rule refused non-lake
    * children, silently degrading Trino BERNOULLI to rand()-seeded
    * Sample (layout-dependent — the exact defect deterministic
    * sampling exists to fix); the rule now also keys on the
    * declared-key convention (`spark.graft.tablesample.keyColumns` —
    * an EXPLICIT opt-in, empty by default, because the declared
    * column must be row-unique: a non-unique key would silently turn
    * row sampling into correlated cluster sampling), so the same
    * portable-hash row filter lands on any relation carrying a
    * declared integral key and the sample is reproducible across
    * engines — which is precisely what lets DuckDB oracle it. SYSTEM
    * stays lake-only (split sampling needs split metadata). */
  val sampleTablesampleParquet: Q = (s, dir) => {
    s.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "lang")
      .createOrReplaceTempView("graft_tsmp_parquet_docs")
    val key = "spark.graft.tablesample.keyColumns"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "doc_id") // declaring: doc_id is row-unique here
    try s.sql("""SELECT doc_id, lang FROM graft_tsmp_parquet_docs
             TABLESAMPLE BERNOULLI(30)""").orderBy("doc_id")
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  val sampleTablesampleParquetOracle: String =
    """SELECT doc_id, lang FROM documents
       WHERE CAST(concat('0x', substr(md5(concat('tsmp_',
           CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         % 1000000 < 300000
       ORDER BY doc_id"""

  val queries: Map[String, Q] = Map(
    "sample_tablesample" -> sampleTablesample,
    "sample_tablesample_parquet" -> sampleTablesampleParquet,
    "ann_indexed_topk" -> annIndexedTopk,
    "ann_indexed_filtered" -> annIndexedFiltered,
    "ann_index_drift" -> annIndexDrift,
    "lake_maintenance_plan" -> lakeMaintenancePlan,
    "lake_maintenance_run" -> lakeMaintenanceRun,
    "ann_indexed_pq" -> annIndexedPq,
    "lake_branch_wap" -> lakeBranchWap,
    "lake_hidden_partition_prune" -> lakeHiddenPartitionPrune,
    "lake_partition_evolution" -> lakePartitionEvolution,
    "lake_limit_pushdown" -> lakeLimitPushdown,
    "lake_zorder_skip" -> lakeZorderSkip,
    "lake_clustered_write" -> lakeClusteredWrite,
    "lake_dpp_join" -> lakeDppJoin,
    "lake_part_prune" -> lakePartPrune,
    "lake_bloom_skip" -> lakeBloomSkip,
    "lake_spj_join" -> lakeSpjJoin,
    "lake_sorted_join" -> lakeSortedJoin,
    "lake_sorted_rewrite" -> lakeSortedRewrite,
    "search_indexed_bm25" -> searchIndexedBm25,
    "search_indexed_wand" -> searchIndexedWand,
    "stream_index_refresh" -> streamIndexRefresh,
    "stream_index_group_refresh" -> streamIndexGroupRefresh,
    "search_indexed_conjunctive" -> searchIndexedConjunctive,
    "search_phrase_indexed" -> searchPhraseIndexed,
    "search_proximity_indexed" -> searchProximityIndexed,
    "lake_text_index_stats" -> lakeTextIndexStats,
    "lake_text_index_rebuild" -> lakeTextIndexRebuild,
    "search_hybrid_indexed" -> searchHybridIndexed,
    "pipeline_forget_user" -> pipelineForgetUser,
    "join_skew_aqe" -> joinSkewAqe,
    "lake_recluster_skip" -> lakeReclusterSkip,
    "merge_sql_firstseen" -> mergeSqlFirstSeen,
    "lake_time_travel" -> lakeTimeTravel,
    "lake_schema_evolution" -> lakeSchemaEvolution,
    "lake_agg_pushdown" -> lakeAggPushdown,
    "lake_merge_evolved" -> lakeMergeEvolved,
    "lake_snapshot_isolation" -> lakeSnapshotIsolation,
    "lake_delete_update" -> lakeDeleteUpdate,
    "lake_delete_vectors" -> lakeDeleteVectors,
    "lake_update_vectors" -> lakeUpdateVectors,
    "lake_merge_mor" -> lakeMergeMor,
    "lake_dv_compaction" -> lakeDvCompaction,
    "lake_call_optimize" -> lakeCallOptimize,
    "lake_tag_travel" -> lakeTagTravel,
    "lake_files_table" -> lakeFilesTable,
    "lake_metadata_delete" -> lakeMetadataDelete,
    "lake_view_sql" -> lakeViewSql,
    "lake_stats_skipping" -> lakeStatsSkipping,
    "lake_string_skipping" -> lakeStringSkipping,
    "lake_table_changes" -> lakeTableChanges,
    "stream_lake_changes" -> streamLakeChanges,
    "lake_history" -> lakeHistory,
    "lake_incremental_mv" -> lakeIncrementalMv,
    "lake_incremental_mv_join" -> lakeIncrementalMvJoin,
    "lake_changes_table" -> lakeChangesTable,
    "lake_changes_bounded" -> lakeChangesBounded,
    "stream_lake_cdf_source" -> streamLakeCdfSource,
    "lake_point_lookup" -> lakePointLookup)

  val oracles: Map[String, String] = Map(
    "sample_tablesample" -> sampleTablesampleOracle,
    "sample_tablesample_parquet" -> sampleTablesampleParquetOracle,
    "ann_indexed_topk" -> annIndexedTopkOracle,
    "ann_indexed_filtered" -> annIndexedFilteredOracle,
    "ann_index_drift" -> annIndexDriftOracle,
    "lake_maintenance_plan" -> lakeMaintenancePlanOracle,
    "lake_maintenance_run" -> lakeMaintenanceRunOracle,
    "ann_indexed_pq" -> annIndexedPqOracle,
    "lake_branch_wap" -> lakeBranchWapOracle,
    "lake_hidden_partition_prune" -> lakeHiddenPartitionPruneOracle,
    "lake_partition_evolution" -> lakePartitionEvolutionOracle,
    "lake_limit_pushdown" -> lakeLimitPushdownOracle,
    "lake_zorder_skip" -> lakeZorderSkipOracle,
    "lake_clustered_write" -> lakeClusteredWriteOracle,
    "lake_dpp_join" -> lakeDppJoinOracle,
    "lake_part_prune" -> lakePartPruneOracle,
    "lake_bloom_skip" -> lakeBloomSkipOracle,
    "lake_spj_join" -> lakeSpjJoinOracle,
    "lake_sorted_join" -> lakeSortedJoinOracle,
    "lake_sorted_rewrite" -> lakeSortedRewriteOracle,
    "search_indexed_bm25" -> searchIndexedBm25Oracle,
    "search_indexed_wand" -> searchIndexedBm25Oracle,
    "stream_index_refresh" -> searchIndexedBm25Oracle,
    "stream_index_group_refresh" -> streamIndexGroupRefreshOracle,
    "search_indexed_conjunctive" -> searchIndexedConjunctiveOracle,
    "search_phrase_indexed" -> searchPhraseIndexedOracle,
    "search_proximity_indexed" -> searchProximityIndexedOracle,
    "lake_text_index_stats" -> lakeTextIndexStatsOracle,
    "lake_text_index_rebuild" -> lakeTextIndexRebuildOracle,
    "search_hybrid_indexed" -> searchHybridIndexedOracle,
    "pipeline_forget_user" -> pipelineForgetUserOracle,
    "join_skew_aqe" -> joinSkewAqeOracle,
    "lake_recluster_skip" -> lakeStatsSkippingOracle,
    "merge_sql_firstseen" ->
      graft.operators.Merge.mergeUpsertFirstSeenOracle,
    "lake_time_travel" -> lakeTimeTravelOracle,
    "lake_schema_evolution" -> lakeSchemaEvolutionOracle,
    "lake_agg_pushdown" -> lakeAggPushdownOracle,
    "lake_merge_evolved" -> lakeMergeEvolvedOracle,
    "lake_snapshot_isolation" -> lakeSnapshotIsolationOracle,
    "lake_delete_update" -> lakeDeleteUpdateOracle,
    "lake_delete_vectors" -> lakeDeleteVectorsOracle,
    "lake_update_vectors" -> lakeUpdateVectorsOracle,
    "lake_merge_mor" -> lakeMergeMorOracle,
    "lake_dv_compaction" -> lakeDvCompactionOracle,
    "lake_call_optimize" -> lakeCallOptimizeOracle,
    "lake_tag_travel" -> lakeTagTravelOracle,
    "lake_files_table" -> lakeFilesTableOracle,
    "lake_metadata_delete" -> lakeMetadataDeleteOracle,
    "lake_view_sql" -> lakeViewSqlOracle,
    "lake_stats_skipping" -> lakeStatsSkippingOracle,
    "lake_string_skipping" -> lakeStringSkippingOracle,
    "lake_table_changes" -> lakeTableChangesOracle,
    "stream_lake_changes" -> streamLakeChangesOracle,
    "lake_history" -> lakeHistoryOracle,
    "lake_incremental_mv" -> lakeIncrementalMvOracle,
    "lake_incremental_mv_join" -> lakeIncrementalMvJoinOracle,
    "lake_changes_table" -> lakeChangesTableOracle,
    "lake_changes_bounded" -> lakeChangesBoundedOracle,
    "stream_lake_cdf_source" -> lakeChangesTableOracle,
    "lake_point_lookup" -> lakePointLookupOracle)
}
