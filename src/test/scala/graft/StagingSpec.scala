package graft

import java.nio.file.Files

import org.apache.spark.CheckpointDirTestHook

/** The uniform lineage-truncation gate (Staging.stage): eager local
  * checkpoints by default, eager reliable checkpoints once a checkpoint
  * dir is configured. */
class StagingSpec extends SparkTestBase {

  private def sample = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "s")
  }

  test("default (auto, no dir) stages locally and preserves the rows") {
    val staged = Staging.stage(sample)
    assert(staged ne sample)
    assert(staged.count() === 100L)
    assert(staged.agg(org.apache.spark.sql.functions.sum("id"))
      .collect()(0).getLong(0) === 5050L)
  }

  test("auto with a checkpoint dir writes reliable checkpoint files EAGERLY") {
    val dir = Files.createTempDirectory("graft-ckpt-").toFile
    val sc = spark.sparkContext
    val had = sc.getCheckpointDir
    try {
      sc.setCheckpointDir(dir.getAbsolutePath)
      val staged = Staging.stage(sample)
      // EAGER pin (deadlock guard): the checkpoint must exist BEFORE any
      // caller action — lazy marking defers doCheckpoint into whichever
      // later query first embeds the frame, where an AQE broadcast
      // thread and the DAGScheduler can deadlock on RDDCheckpointData$
      // (see Staging scaladoc / PLANS.md r10)
      def files(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        kids ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(dir).exists(_.isFile),
        "expected reliable checkpoint files to exist before any action")
      assert(staged.count() === 100L)
      // the checkpointed frame stays readable from the reliable blocks
      assert(staged.count() === 100L)
    } finally {
      CheckpointDirTestHook.restore(sc, had)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
