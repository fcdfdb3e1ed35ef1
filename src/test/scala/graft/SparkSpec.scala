package graft

import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    // write modern annotated µs timestamps, not legacy INT96 — fixture
    // replicas (ScaleCurveSpec) must carry the unit in their footers
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", false)
    // managed-table home for the bucketed-join suite (in-memory catalog)
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft-warehouse")
    .getOrCreate()
    // one codegen cache for the whole suite, so later suites reuse
    // compiled code
    .tap(CodegenCache.ensure)
}
