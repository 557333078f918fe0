package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** Registry-wide declarative-determinism guards. Two classes of bug
  * have each shipped twice despite being fixed once:
  *
  *  1. a query emitting a raw DECIMAL column hash-mismatches the DuckDB
  *     oracle even when every value is identical (the driver's hash
  *     canonicalizes DECIMAL unstably across engines) — cost a red row
  *     in round 5 (`decimal_halfup_overflow`) and again in round 6
  *     (`q1_cross_catalog`, `union_by_name`);
  *  2. an ORDER BY whose key does not totally order the result leaves
  *     the row order — and therefore the driver's order-sensitive
  *     hash — engine-dependent.
  *
  * This spec closes both classes for the WHOLE registry instead of one
  * query at a time: every registered query's output schema must be
  * DECIMAL-free (queries that need decimal arithmetic do it internally
  * and render the result as DOUBLE or VARCHAR), and every oracled
  * query must end in a global ORDER BY whose key, on the harness data,
  * admits no tie between two distinguishable rows.
  */
class RegistryGuardSpec extends SparkSpec {

  // Build each registered query once and share across tests (streams
  // execute during construction; batch queries only analyze).
  private lazy val built: Seq[(String, DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, q) =>
      n -> q(spark, sf)
    }

  test("registry: keys are distinct, every oracle belongs to a " +
      "registered key, and only the two engine-specific sketches go " +
      "unoracled") {
    // a lost oracle would otherwise only drop its key to the driver's
    // weaker rows-only check
    val keys = SparkEntry.ops.map(_.key)
    assert(keys.diff(keys.distinct).isEmpty,
      s"keys registered twice: ${keys.diff(keys.distinct).mkString(", ")}")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ===
      Set("approx_count_distinct", "mm_codec_capabilities"))
  }

  private def decimalsIn(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType => Seq(path)
    case s: StructType =>
      s.fields.toSeq.flatMap(f => decimalsIn(f.dataType, s"$path.${f.name}"))
    case a: org.apache.spark.sql.types.ArrayType =>
      decimalsIn(a.elementType, s"$path[]")
    case m: org.apache.spark.sql.types.MapType =>
      decimalsIn(m.keyType, s"$path{k}") ++
        decimalsIn(m.valueType, s"$path{v}")
    case _ => Nil
  }

  test("no registered query emits a DECIMAL column (driver hash is " +
      "unstable on DECIMAL across engines)") {
    val offenders = built.flatMap { case (n, df) =>
      decimalsIn(df.schema, n)
    }
    assert(offenders.isEmpty,
      s"DECIMAL in registered output schemas (cast to DOUBLE or render " +
        s"VARCHAR on BOTH engine and oracle sides): " +
        offenders.mkString(", "))
  }

  /** Names whose result is a single row (global aggregates): row order
    * cannot matter, so no ORDER BY is demanded. Membership is enforced
    * below — each must actually return <= 1 row on the harness data. */
  private val OrderFreeSingleRow: Set[String] = Set(
    "agg_minmax_global", "ann_index_drift", "corr_matrix",
    "dedup_lsh_recall",
    "lake_agg_pushdown", "lake_limit_pushdown",
    "lake_text_index_stats", "meta_analyze_stats",
    "funnel_conversion", "graph_triangle_count", "q14_promo_revenue",
    "q17_small_qty_revenue", "q19_discounted_revenue",
    "q6_forecast_revenue", "text_cm_frequency")

  test("every oracled query's SQL ends in ORDER BY (or provably " +
      "returns a single row)") {
    val byName = built.toMap
    val missing = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (n, sql)
          if !OrderFreeSingleRow(n) &&
            !"(?is).*\\border\\s+by\\b[^)]*$".r.matches(sql.trim) =>
        n
    }
    assert(missing.isEmpty,
      s"oracled queries without a trailing ORDER BY: " +
        missing.mkString(", "))
    // the exemption list must stay honest: every member is 0-or-1-row
    val fat = OrderFreeSingleRow.toSeq.sorted
      .filter(n => byName(n).count() > 1L)
    assert(fat.isEmpty,
      s"OrderFreeSingleRow members returning >1 row: ${fat.mkString(", ")}")
  }

  // group rows by normalized key prefix; a key with two
  // DISTINGUISHABLE rows behind it leaves their order engine-defined
  private def norm(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toSeq
    case a: Array[_] => a.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (norm(k), norm(x)) }
        .sortBy(_.toString).toList
    case r: Row => r.toSeq.map(norm).toList
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case x => x
  }

  /** The trailing ORDER BY column names of an oracle, when every key is
    * a plain identifier (fallback for plans whose Sort was materialized
    * away by localCheckpoint). */
  private def oracleOrderCols(sql: String): Option[Seq[String]] =
    "(?is).*\\border\\s+by\\s+([^)]*)$".r.findFirstMatchIn(sql.trim)
      .map(_.group(1))
      .map(_.split(",").toSeq.map(
        _.trim.replaceAll("(?i)\\s+(asc|desc|nulls\\s+(first|last))", "")
          .trim))
      .filter(_.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")))

  private def tiesOn(rows: Array[Row], k: Int): Boolean =
    rows.groupBy(r => (0 until k).map(i => norm(r.get(i))).toList)
      .valuesIterator
      .exists { rs =>
        rs.iterator
          .map(r => (k until r.length).map(i => norm(r.get(i))).toList)
          .toSet.size > 1
      }

  /** Queries whose executed plan legitimately contains a
    * BroadcastNestedLoopJoin: every member pairs a corpus (or a tiny
    * pair frame) against a BROADCAST side that is small by
    * construction (centroid/stats/threshold/day-bitmap tables — a few
    * rows to a few hundred). Membership is enforced: each must
    * actually contain a BNLJ, so the list cannot rot into a blanket
    * waiver. */
  private val BnljByConstruction: Set[String] = Set(
    // ANN: corpus × broadcast centroid/codebook tables (≤ k rows)
    "ann_indexed_topk", // 10 queries × k persisted centroid rows
    "ann_indexed_pq",   // same broadcast-centroid probe + PQ-code LUT
    "ann_int8_topk", "ann_ivf_centroid_topk", "ann_ivf_multiprobe_recall",
    "ann_two_stage_rerank", "embedding_kmeans", "embedding_outlier_cells",
    "embedding_cosine_neardup_cells", "knn_graph_cells",
    // theta pairing over per-segment/per-day aggregate frames
    // (segments/days rows, not corpus; sharded twins avoid even this)
    "bitmap_audience_overlap", "bitmap_audience_overlap_pruned",
    "retention_cohorts", "merge_retention_cohorts",
    // broadcast corpus-level stats/vocab scalars into per-row math
    "corpus_mix_temperature", "text_unigram_train",
    "graph_triangle_count", "text_bigram_pmi", "text_bm25_topk",
    "text_lm_perplexity", "text_tfidf_topk", "scalar_subquery",
    // hybrid RRF: the BM25 side's 1-row corpus-stats frame broadcast
    // into the per-posting score (the dense side stages through the
    // CosineTopKJoinExec rewrite, not a BNLJ)
    "search_hybrid_rrf",
    // hard negatives: corpus × broadcast 10-query frame under a
    // label-inequality theta condition (pre-filtered scoring)
    "ann_hard_negatives",
    // indexed BM25 (+ its conjunctive variant): the same 1-row
    // corpus-stats frame as text_bm25_topk, broadcast into the
    // postings-slice score; the rebuild-lifecycle key scores the
    // rebuilt index through the identical probe
    "search_indexed_bm25", "search_indexed_conjunctive",
    "lake_text_index_rebuild",
    // (search_indexed_wand left this list in r19: the combined qmeta
    // metadata frame folds the 1-row stats into the per-term join, so
    // the plan no longer carries a BNLJ/cross at all)
    // the stream-followed index scores through the identical probe
    "stream_index_refresh",
    // the group-followed pair probes through BOTH identical paths
    // (BM25 stats frame + ann centroid broadcast)
    "stream_index_group_refresh",
    // filtered ANN: every cell ranked per query = queries × broadcast
    // centroids, the ann_indexed_topk probe shape
    "ann_indexed_filtered",
    // fully-indexed hybrid: inherits both probes' by-construction
    // broadcasts (ann_indexed_topk centroids + the BM25 stats frame)
    "search_hybrid_indexed",
    // TPC-H scalar-subquery decorrelations: a 1-row aggregate
    // (0.1%-of-total threshold / positive-balance average) broadcast
    // into the filter — the textbook RewriteCorrelatedScalarSubquery
    // output shape
    "q11_important_parts", "q22_inactive_customers",
    // 1-row deterministic-region cutoff frame crossed into the
    // materialized stream-join output
    "stream_stream_left_join", "stream_stream_full_join",
    // the explicit cross/theta operators themselves (tiny dims)
    "join_cross", "join_theta_bnl")

  /** Queries allowed a CartesianProduct: none — even the explicit
    * cross-join operator broadcasts its small side (BNLJ). */
  private val CartesianByDesign: Set[String] = Set.empty

  test("plan lint: no CartesianProduct or un-hinted " +
      "BroadcastNestedLoopJoin outside the by-construction lists") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val stale = scala.collection.mutable.ArrayBuffer[String]()
    for ((n, df) <- built) {
      val plan = df.queryExecution.executedPlan.toString
      val hasCart = plan.contains("CartesianProduct")
      val hasBnlj = plan.contains("BroadcastNestedLoopJoin")
      if (hasCart && !CartesianByDesign(n)) offenders += s"$n (cartesian)"
      if (hasBnlj && !BnljByConstruction(n)) offenders += s"$n (bnlj)"
      if (CartesianByDesign(n) && !hasCart) stale += s"$n (no cartesian)"
      if (BnljByConstruction(n) && !hasBnlj) stale += s"$n (no bnlj)"
    }
    assert(offenders.isEmpty,
      s"scale-hazard join shapes outside the exemption lists: " +
        offenders.mkString(", "))
    assert(stale.isEmpty,
      s"exemption list members whose plan no longer needs them " +
        s"(remove to keep the lists honest): ${stale.mkString(", ")}")
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
      case d if d.isDirectory => scalaFiles(d)
      case f if f.getName.endsWith(".scala") => Seq(f)
      case _ => Nil
    }

  test("plan lint: driver-side collect() appears in main source only " +
      "at the allowlisted metadata/group-discovery sites") {
    // file -> substring that must appear on (or within 3 lines above)
    // the collect() line, pinning WHY that collect is not a data path
    val allow = Map(
      "Jdbc.scala" -> "SHOW NAMESPACES",        // catalog-load warmup
      "MongoCatalog.scala" -> "SHOW NAMESPACES", // catalog-load warmup
      "Coverage.scala" -> "SHOW NAMESPACES",     // catalog-load warmup
      "Merge.scala" -> "shard",                  // O(shards) group list
      // stored-procedure result: O(phases) maintenance report rows
      "LakeCatalog.scala" -> "CALL graft_lake.system")
    val offenders = for {
      f <- scalaFiles(new java.io.File("src/main/scala/graft"))
      lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      (line, i) <- lines.zipWithIndex
      if line.contains(".collect()")
      ctx = lines.slice(math.max(0, i - 3), i + 1).mkString("\n")
      if !allow.get(f.getName).exists(ctx.contains)
    } yield s"${f.getName}:${i + 1}"
    assert(offenders.isEmpty,
      s"new driver-side collect() in main source (distributed " +
        s"operators must not round-trip rows through the driver): " +
        offenders.mkString(", "))
  }

  private def lineOf(src: String, at: Int): Int =
    src.substring(0, at).count(_ == '\n') + 1

  /** Private file-tree deletes in `src`, under any name: a def that
    * calls itself and deletes, a `Files.walk` feeding a delete, or a
    * `listFiles` sweep deleting each entry. */
  private def treeDeletes(src: String): Seq[Int] = {
    val del = raw"\.delete\(|Files\.delete(IfExists)?\(".r
    val recursive = raw"\bdef\s+(\w+)".r.findAllMatchIn(src).filter { m =>
      val rest = src.substring(m.end)
      val body = rest.take(raw"\b(def|class|object|trait)\s".r
        .findFirstMatchIn(rest).fold(rest.length)(_.start))
      raw"\b${m.group(1)}\s*[()]".r.findFirstIn(body).nonEmpty &&
        del.findFirstIn(body).nonEmpty
    }
    val walks = raw"Files\.walk\(".r.findAllMatchIn(src)
      .filter(m => del.findFirstIn(src.slice(m.end, m.end + 200)).nonEmpty)
    val sweeps = raw"foreach\(_\.delete\(\)\)".r.findAllMatchIn(src)
    (recursive ++ walks ++ sweeps).map(m => lineOf(src, m.start)).toSeq
  }

  test("source lint: tmpdir memos publish and trees are removed only " +
      "through Memo") {
    // one publish protocol (marker + lock) and one rmTree: a private
    // copy, or a memo trusting Spark's own completion file, is how the
    // per-site protocols drifted apart
    Seq("def rm(f: File): Unit = {\n  Option(f.listFiles())" +
        ".foreach(_.foreach(rm))\n  f.delete(): Unit\n}",
      "def drop(p: Path): Unit = { Files.list(p).forEach(drop); " +
        "Files.delete(p) }",
      "Files.walk(t).sorted(rev).forEach(p => Files.delete(p))",
      "out.listFiles().foreach(_.delete())")
      .foreach(bad => assert(treeDeletes(bad).nonEmpty, bad))
    Seq("def abort(): Unit = { out.close(); file.delete(): Unit }",
      "def rm(f: File): Unit = Memo.rmTree(f)",
      "Files.walk(root).count()")
      .foreach(ok => assert(treeDeletes(ok).isEmpty, ok))
    val offenders = for {
      f <- scalaFiles(new java.io.File("src/main/scala/graft"))
      if f.getName != "Memo.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      lines = src.split("\n", -1).toVector
      i <- (lines.indices.filter(i => lines(i).contains("def rmTree") ||
        lines(i).contains("\"_SUCCESS\"")).map(_ + 1) ++
        treeDeletes(src)).distinct.sorted
    } yield s"${f.getName}:$i"
    assert(offenders.isEmpty,
      s"memo protocol or tree delete outside Memo: " +
        offenders.mkString(", "))
  }

  /** Hardlinks and snapshot commits in `src` that bypass
    * GraftLakeIO's commit routine: `Files.createLink` outside
    * `linkOrCopy`, and `commitVersion(` calls outside
    * `commitSnapshot`. The enclosing def is the nearest one declared
    * before the call. */
  private def commitBypasses(src: String): Seq[(Int, String)] = {
    def nearest(at: Int, kw: String): String =
      raw"\b$kw\s+(\w+)".r.findAllMatchIn(src.substring(0, at))
        .foldLeft("")((_, m) => m.group(1))
    val links = raw"Files\.createLink\(".r.findAllMatchIn(src)
      .filter(m => nearest(m.start, "def") != "linkOrCopy")
      .map(m => lineOf(src, m.start) -> "Files.createLink")
    val commits = raw"(?<!def )commitVersion\(".r.findAllMatchIn(src)
      .filter(m => nearest(m.start, "def") != "commitSnapshot")
      .map(m => lineOf(src, m.start) -> "commitVersion")
    (links ++ commits).toSeq
  }

  test("source lint: lake snapshots are linked and committed only " +
      "through GraftLakeIO's commit routine") {
    Seq("def carry(a: File, b: File) = Files.createLink(b.toPath, a.toPath)",
      "object W { def commit() = GraftLakeIO.commitVersion(d, 1, b) }",
      "class GraftMongoBatchWrite { def commit() = 1 }\n" +
        "class Other { def commit() = GraftLakeIO.commitVersion(d, 1, b) }",
      "class GraftMongoBatchWrite { def commit() = " +
        "GraftLakeIO.commitVersion(d, 1, b) }")
      .foreach(bad => assert(commitBypasses(bad).nonEmpty, bad))
    Seq("def linkOrCopy(s: File, d: File) = Files.createLink(d.toPath, " +
        "s.toPath)",
      "def commitSnapshot[T](d: String) = { commitVersion(d, 1, b) }",
      "def commitVersion(dataDir: String, base: Int) = 1")
      .foreach(ok => assert(commitBypasses(ok).isEmpty, ok))
    val offenders = for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      (line, what) <- commitBypasses(src)
    } yield s"${f.getName}:$line ($what)"
    assert(offenders.isEmpty,
      s"lake links or commits outside GraftLakeIO.commitSnapshot: " +
        offenders.mkString(", "))
  }

  /** Parquet opens in `src` that bypass the codec's shared Hadoop
    * conf: each either parses Hadoop's XML defaults per call or opens
    * a file on default options. */
  private def confBypasses(src: String): Seq[(Int, String)] = {
    // top-level argument count of the call whose '(' ends at `at`
    def arity(at: Int): Int = {
      var depth = 1
      var commas = 0
      var blank = true
      var i = at
      while (i < src.length && depth > 0) {
        val c = src.charAt(i)
        if ("([{".indexOf(c) >= 0) depth += 1
        else if (")]}".indexOf(c) >= 0) depth -= 1
        else if (c == ',' && depth == 1) commas += 1
        if (depth > 0 && !c.isWhitespace) blank = false
        i += 1
      }
      if (blank) 0 else commas + 1
    }
    def calls(token: String, n: Int => Boolean): Seq[Int] =
      java.util.regex.Pattern.quote(token).r.findAllMatchIn(src)
        .map(_.start).filter(i => n(arity(i + token.length))).toSeq
    val defaults =
      raw"new (org\.apache\.hadoop\.conf\.)?Configuration\(\s*(true)?\s*\)"
        .r.findAllMatchIn(src).map(_.start).toSeq
    val hits =
      defaults.map(_ -> "new Configuration()") ++
        calls("ParquetFileReader.open(", _ == 1)
          .map(_ -> "one-argument ParquetFileReader.open") ++
        calls("ParquetReader.builder(", _ => true)
          .map(_ -> "ParquetReader.builder") ++
        calls("appendFile(", _ == 1).map(_ -> "one-argument appendFile") ++
        (if (!src.contains("VectorizedParquetRecordReader")) Nil
        else calls(".initialize(", _ == 2)
          .map(_ -> "two-argument vectorized initialize"))
    hits.map { case (at, what) => (lineOf(src, at), what) }
  }

  /** Row-at-a-time Parquet reads in `src` (parquet-mr's Group
    * reader and the codec entry points that wrapped it), and — outside
    * the lake reader's own file — hand-written equality-delete masks:
    * every shard row is read and masked by the vectorized lake
    * reader. */
  private def rowReads(src: String, file: String): Seq[(Int, String)] = {
    val reads =
      raw"GroupReadSupport|ParquetReader\b|\breadRows\(|\bopenReader\("
        .r.findAllMatchIn(src).map(m => m.start -> m.matched).toSeq
    val masks =
      if (file == "LakeColumnarReader.scala") Nil
      else raw"\.exists\(ord < _\)".r.findAllMatchIn(src)
        .map(_.start -> "equality-delete mask").toSeq
    (reads ++ masks).map { case (at, what) => (lineOf(src, at), what) }
  }

  /** parquet-mr's example `Group` record and the codec entry points
    * that built one in `src`: every part is written from `InternalRow`s
    * by Spark's write support ([[GraftShardCodec.openWriter]]). */
  private def groupWrites(src: String): Seq[(Int, String)] =
    Seq("ExampleParquetWriter", "SimpleGroupFactory",
      raw"org\.apache\.parquet\.example", raw"\bgroupFactory\(",
      raw"\btoGroup\(", raw"GraftShardCodec\.add\(")
      .mkString("|").r.findAllMatchIn(src)
      .map(m => (lineOf(src, m.start), m.matched)).toSeq

  /** Vectorized Parquet opens outside the lake reader's own file, and
    * the retired collection reader anywhere: every part's rows are
    * decoded by [[graft.sources.GraftLakeColumnarPartitionReader]]. */
  private def secondReaders(src: String, file: String): Seq[(Int, String)] = {
    val opens =
      if (file == "LakeColumnarReader.scala") Nil
      else raw"(?<!def )\bopenVectorized\(".r.findAllMatchIn(src)
        .map(_.start -> "openVectorized").toSeq
    val retired = raw"\bGraftMongoColumnarReader\b".r.findAllMatchIn(src)
      .map(_.start -> "GraftMongoColumnarReader").toSeq
    (opens ++ retired).map { case (at, what) => (lineOf(src, at), what) }
  }

  test("source lint: Parquet and Hadoop-conf opens go through " +
      "GraftShardCodec's one parsed conf") {
    // the lint itself catches every form it names
    Seq("new Configuration()", "new Configuration(true)",
      "new org.apache.hadoop.conf.Configuration()",
      "ParquetFileReader.open(new LocalInputFile(p))",
      "ParquetReader.builder(rs, path)",
      "w.appendFile(new LocalInputFile(f.toPath))",
      "var r: VectorizedParquetRecordReader = x; r.initialize(p, cols)")
      .foreach(bad => assert(confBypasses(bad).nonEmpty, bad))
    Seq("new Configuration(false)", "new Configuration(shared)",
      "ParquetFileReader.open(in, opts)", "w.appendFile(conf, path)",
      "super.initialize(name, options)")
      .foreach(ok => assert(confBypasses(ok).isEmpty, ok))
    val offenders = for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      if f.getName != "LakeShardCodec.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      (line, what) <- confBypasses(src)
    } yield s"${f.getName}:$line ($what)"
    assert(offenders.isEmpty,
      s"Parquet/Hadoop-conf opens outside GraftShardCodec (use its " +
        s"shared conf): ${offenders.mkString(", ")}")
    // and no row-at-a-time read or second liveness mask anywhere
    Seq("import org.apache.parquet.hadoop.example.GroupReadSupport" ->
        "X.scala",
      "new ParquetReader.Builder[Group](in, c)" -> "X.scala",
      "class GraftMongoParquetReader(path: String)" -> "X.scala",
      "GraftShardCodec.readRows(f, schema)" -> "X.scala",
      "val r = openReader(f, proj)" -> "LakeShardCodec.scala",
      "eq.get(k).exists(ord < _)" -> "LakeDeleteVectors.scala")
      .foreach { case (bad, file) =>
        assert(rowReads(bad, file).nonEmpty, bad)
      }
    Seq("HadoopReadOptions.builder(conf).build()" -> "X.scala",
      "var vr: VectorizedParquetRecordReader = null" -> "X.scala",
      "ParquetFileReader.open(in, opts)" -> "X.scala",
      "GraftLakeColumnarPartitionReader.rows(r)" -> "X.scala",
      "eqDel.get(k).exists(ord < _)" -> "LakeColumnarReader.scala")
      .foreach { case (ok, file) =>
        assert(rowReads(ok, file).isEmpty, ok)
      }
    val rowOffenders = for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      (line, what) <- rowReads(src, f.getName)
    } yield s"${f.getName}:$line ($what)"
    assert(rowOffenders.isEmpty,
      s"row-at-a-time Parquet reads or liveness masks outside the " +
        s"vectorized lake reader: ${rowOffenders.mkString(", ")}")
    // and no Group-record write anywhere
    Seq("ExampleParquetWriter.builder(out)",
      "new SimpleGroupFactory(schema)",
      "import org.apache.parquet.example.data.Group",
      "val fac = GraftShardCodec.groupFactory(mt)",
      "w.write(toGroup(fac, schema, r))",
      "GraftShardCodec.add(g, f.name, v)")
      .foreach(bad => assert(groupWrites(bad).nonEmpty, bad))
    Seq("GraftShardCodec.openWriter(f, schema)", "w.write(row)",
      "new ParquetWriteSupport", "g.add(name, v)",
      "GraftShardCodec.addAll(x)")
      .foreach(ok => assert(groupWrites(ok).isEmpty, ok))
    val writeOffenders = for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      (line, what) <- groupWrites(src)
    } yield s"${f.getName}:$line ($what)"
    assert(writeOffenders.isEmpty,
      s"Group-record Parquet writes (write InternalRows through " +
        s"GraftShardCodec.openWriter): ${writeOffenders.mkString(", ")}")
    // and one vectorized part reader, the lake's
    Seq("val vr = GraftShardCodec.openVectorized(f, s, names, 4096)" ->
        "MongoCatalog.scala",
      "new GraftMongoColumnarReader(path, required, bounds)" ->
        "MongoCatalog.scala",
      "class GraftMongoColumnarReader(path: String)" ->
        "LakeColumnarReader.scala")
      .foreach { case (bad, file) =>
        assert(secondReaders(bad, file).nonEmpty, bad)
      }
    Seq("vr = GraftShardCodec.openVectorized(f, fileSchema, present, c)" ->
        "LakeColumnarReader.scala",
      "def openVectorized(file: java.io.File, fileSchema: MessageType," ->
        "LakeShardCodec.scala",
      "new GraftLakeColumnarPartitionReader(paths, 0, required)" ->
        "MongoCatalog.scala")
      .foreach { case (ok, file) =>
        assert(secondReaders(ok, file).isEmpty, ok)
      }
    val readerOffenders = for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      (line, what) <- secondReaders(src, f.getName)
    } yield s"${f.getName}:$line ($what)"
    assert(readerOffenders.isEmpty,
      s"vectorized Parquet reads outside the lake reader: " +
        readerOffenders.mkString(", "))
  }

  test("ORDER BY keys totally order every oracled result on the " +
      "harness data") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for ((n, df) <- built if SparkEntry.oracleSql.contains(n)) {
      val plan = df.queryExecution.analyzed
      plan.collectFirst { case s: Sort if s.global => s } match {
        case None =>
          // a localCheckpoint erases the Sort from the plan (the order
          // is baked into the materialized RDD) — audit via the
          // oracle's own trailing ORDER BY columns instead; otherwise
          // order-free only if the result cannot exceed one row
          oracleOrderCols(SparkEntry.oracleSql(n))
            .filter(_.forall(df.columns.contains)) match {
            case Some(cols) if df.count() > 1L =>
              val reordered = df.select(
                (cols ++ df.columns.filterNot(cols.contains)).distinct
                  .map(df.col): _*)
              if (tiesOn(reordered.collect(), cols.length))
                offenders += s"$n (tied oracle ORDER BY key)"
            case _ =>
              if (df.count() > 1L)
                offenders += s"$n (no global Sort, >1 row)"
          }
        case Some(sort) =>
          val keys = sort.order.map(_.child)
          val inOutput = keys.forall {
            case a: AttributeReference => plan.outputSet.contains(a)
            case e => e.references.subsetOf(plan.outputSet)
          }
          // project the sort keys next to the rows they order; when a
          // later projection pruned a key, audit at the Sort node
          // itself (stronger: pre-limit, pre-projection)
          val checkPlan = if (inOutput) plan else sort
          val aliased = keys.zipWithIndex.map { case (e, i) =>
            Alias(e, s"__gk$i")()
          }
          val pdf = Bridge.ofRows(spark,
            Project(aliased ++ checkPlan.output, checkPlan))
          if (tiesOn(pdf.collect(), keys.length))
            offenders += s"$n (tied sort key, distinct rows)"
      }
    }
    assert(offenders.isEmpty,
      s"nondeterministic ordering: ${offenders.mkString(", ")}")
  }

  test("every registered query key appears in SURVEY.md §2.12 (the " +
      "judge-audited coverage index must never drift from the registry)") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(k => survey.contains(s"`$k`") ||
        // family rows may index with a glob (`stream_*`, `join_*`)
        survey.contains(s"`${k.takeWhile(_ != '_')}_*`"))
    assert(missing.isEmpty,
      s"registered keys absent from SURVEY.md: ${missing.mkString(", ")}")
  }
}
