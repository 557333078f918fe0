package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.TextAnalysis
import graft.operators.{Aggregates, Coverage, Dedup, Merge, Multimodal,
  Relational, Similarity, Timeseries, Tpch}
import graft.sources.{Jdbc, Lake, Mongo}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The operator implementations live in graft.operators.* / graft.functions.*;
  * this object only aggregates their registries. */
object SparkEntry {

  /** Flagship query (Q1 analog: join + date filter + projection + total
    * sort) on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1JoinFilterSort(spark, "/root/testdata/sf0.001")

  /** Every family's registry, one record per query. A key registered
    * twice fails here, at initialisation. */
  lazy val ops: Seq[Op] = {
    val all = Relational.ops ++ Aggregates.ops ++ TextAnalysis.ops ++
      Dedup.ops ++ Similarity.ops ++ Multimodal.ops ++ Streams.ops ++
      Coverage.ops ++ Timeseries.ops ++ Merge.ops ++ Lake.ops ++ Jdbc.ops ++
      Mongo.ops ++ Tpch.ops
    val dups = all.groupBy(_.key).collect { case (k, os) if os.size > 1 => k }
    require(dups.isEmpty, s"keys registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(o => o.key -> o.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (engine-specific sketches)
    * get the driver's weaker rows-only check. */
  lazy val oracleSql: Map[String, String] =
    ops.flatMap(o => o.oracle.map(o.key -> _)).toMap
}
