package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — UTC, small shuffle fan-out,
  * AQE on (the production posture scaled down).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sfDir: String = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh copy of the fixtures of `from`, all but
    * `except`, so no earlier registration in this JVM covers it. The
    * tables registered from the copy are dropped with it. */
  def withFixtureCopy(from: String, except: Set[String] = Set.empty)(body: String => Unit): Unit = {
    val base = graft.queries.Q.scratchDir("fixture-copy")
    val dir = s"$base/sf"
    Files.createDirectories(Paths.get(dir))
    Tables.schemas.keys.filterNot(except).foreach(t =>
      Files.copy(Paths.get(s"$from/$t.parquet"), Paths.get(s"$dir/$t.parquet")))
    try body(dir)
    finally {
      Tables.schemas.keys.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${Tables.statsTableName(dir, t)}"))
      graft.queries.Q.scratchDelete(base)
    }
  }

  /** Replace fixture `name` of a [[withFixtureCopy]] dir by the one-file
    * parquet of `rows`. */
  def rewriteFixture(dir: String, name: String, rows: DataFrame): Unit = {
    val staging = s"${dir}_$name"
    rows.coalesce(1).write.mode("overwrite").parquet(staging)
    val listing = Files.list(Paths.get(staging))
    val part =
      try listing.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      finally listing.close()
    Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

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
