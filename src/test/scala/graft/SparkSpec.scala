package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session via getOrCreate;
  * suites may run in parallel threads). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.sources.Tables.session("4",
    // fixed port for ConnectServerSpec's in-process gRPC server (a
    // SparkConf-level setting, so it must ride the shared context)
    extra = Map("spark.connect.grpc.binding.port" -> "15937"))

  /** Tiny-SF harness dir: specs exercise operators on real tables where
    * literal frames would be noise. */
  val sf = "/root/testdata/sf0.001"
}
