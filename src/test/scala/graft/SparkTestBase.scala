package graft

import org.apache.spark.CheckpointDirTestHook
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String, table: String) =
    spark.read.parquet(s"/root/testdata/$dir/$table.parquet")

  private var checkpointDirAtStart: Option[String] = None

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    checkpointDirAtStart = spark.sparkContext.getCheckpointDir
  }

  /** Every suite shares one SparkContext, and a checkpoint dir left set
    * switches every later `Staging.stage` in the JVM onto reliable
    * checkpoints written to disk. A suite that changes the dir must put
    * it back; one that does not fails here (after the dir is restored, so
    * later suites still run as they would alone). */
  override protected def afterAll(): Unit = {
    try {
      val sc = spark.sparkContext
      val left = sc.getCheckpointDir
      if (left != checkpointDirAtStart) {
        CheckpointDirTestHook.restore(sc, checkpointDirAtStart)
        fail(s"$suiteName left the shared checkpoint dir at $left " +
          s"(found $checkpointDirAtStart)")
      }
    } finally super.afterAll()
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
