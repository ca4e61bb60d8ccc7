package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — UTC, small shuffle fan-out,
  * AQE on (the production posture scaled down).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sfDir: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // session shared across suites; do not stop here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // The deployment's Hive-backed shape (SessionTuning.persistent, a
    // Derby metastore under target/), scaled down: spark.sql.
    // catalogImplementation is a STATIC conf, so the first session fixes
    // it JVM-wide, and PersistentCatalogSpec needs the production
    // posture. Other suites are unaffected — temp views and the
    // registered fixture tables behave identically under either catalog.
    val s = SessionTuning
      .persistent(
        warehouseDir = new java.io.File("target/test-warehouse").getAbsolutePath,
        metastoreDir = new java.io.File("target/test-metastore").getAbsolutePath,
        master = "local[4]",
        shufflePartitions = 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
