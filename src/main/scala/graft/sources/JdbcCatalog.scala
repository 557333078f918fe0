package graft.sources

import java.util.{HashMap => JHashMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
import org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Named JDBC catalog (a Spark `CatalogPlugin`): binds the embedded
  * Derby engine as a SECOND catalog next to `spark_catalog`,
  * replicating the reference's multi-catalog surface — `SHOW CATALOGS`
  * listing several live catalogs
  * (`vanilla_k8s_trino_demo_installation.txt:764`) and the flagship
  * cross-catalog three-part-name join
  * (`local_demo_setup/localTrinoTest.ipynb:119-121`:
  * `mongodb.weather.weatherny ⋈ trinodemo.public.applehistory`).
  *
  * Deliberately a thin subclass of Spark's stock DSv2
  * [[JDBCTableCatalog]]: namespace/table resolution, remote predicate
  * pushdown, dialect type mapping and partitioned reads are all
  * inherited (don't hand-roll what Catalyst already federates); the
  * only specialization is baking in the embedded Derby driver so a
  * session binds the catalog with a single conf key (the url) — the
  * analog of the reference's one-file `trinodemo.properties`. Swapping
  * to a networked PostgreSQL is the same one-line url change as in
  * [[Jdbc]].
  *
  * It adds one thing the stock catalog lacks: a table size estimate
  * from the remote engine ([[estimatedBytes]]), the role `pg_class`
  * plays for Trino's Postgres connector. */
class GraftJdbcCatalog extends JDBCTableCatalog {
  private var remote: JDBCOptions = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    val merged = new JHashMap[String, String](options.asCaseSensitiveMap())
    merged.putIfAbsent("driver", Jdbc.derbyDriver)
    super.initialize(name, new CaseInsensitiveStringMap(merged))
    merged.put(JDBCOptions.JDBC_TABLE_NAME, "__size_estimate")
    remote = new JDBCOptions(merged.asScala.toMap)
  }

  /** Bytes the remote engine has allocated to the table's base
    * conglomerate (indexes excluded): Derby's `SYSCS_DIAG.SPACE_TABLE`
    * pages × page size, about a millisecond warm. None for another
    * engine, or when the table is unknown to the diagnostic. */
  def estimatedBytes(ident: Identifier): Option[Long] =
    if (!remote.url.startsWith("jdbc:derby:") ||
        ident.namespace.length != 1) None
    else {
      val conn = JdbcDialects.get(remote.url)
        .createConnectionFactory(remote)(-1)
      try {
        val st = conn.prepareStatement(
          "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE " +
            "(SYSCS_DIAG.SPACE_TABLE(?, ?)) T WHERE ISINDEX = 0")
        st.setString(1, ident.namespace.head)
        st.setString(2, ident.name)
        val rs = st.executeQuery()
        rs.next() // SUM: exactly one row, NULL when no page matched
        val bytes = rs.getLong(1)
        if (rs.wasNull) None else Some(bytes)
      } catch { case _: java.sql.SQLException => None }
      finally conn.close()
    }
}
