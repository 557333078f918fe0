package object graft {
  /** A named operator: (session, scale-factor dir) => result.
    * The driver's contract type for SparkEntry.queries values. */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** One registered query: its driver key, the operator, and the
    * equivalent ANSI SQL that DuckDB runs on the same parquet tables to
    * check it (None: the driver's weaker rows-only check). Each family
    * lists its queries as `ops`; SparkEntry derives its maps from them. */
  final case class Op(key: String, run: Q, oracle: Option[String])

  object Op {
    def apply(key: String, run: Q, oracle: String): Op =
      Op(key, run, Some(oracle))

    /** An engine-specific sketch with no exact oracle. */
    def unchecked(key: String, run: Q): Op = Op(key, run, None)
  }
}
