package graft

import graft.util.Checkpoints
import graft.util.Checkpoints._
import org.apache.spark.sql.functions._

/** The reliable-checkpoint switch: `graft.checkpoint.reliable=true` must
  * route loop pins to durable `Dataset.checkpoint` (recompute survives
  * executor loss) with identical results, and fail FAST when no
  * checkpoint dir is configured.
  */
class CheckpointsSpec extends SparkTestBase {

  private def withReliable[A](dir: Option[String])(body: => A): A = {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    spark.conf.set(Checkpoints.ReliableConf, "true")
    dir.foreach(sc.setCheckpointDir)
    try body
    finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      // SparkContext has no public "clear checkpoint dir"; leaving a tmp
      // dir set is harmless for the remaining suites (local mode ignores
      // it unless reliable=true).
      prevDir.foreach(sc.setCheckpointDir)
    }
  }

  test("default mode is localCheckpoint (no dir needed, rows identical)") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 3 % 7)
    val pinnedRows = df.pinned().groupBy("v").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val plainRows = df.groupBy("v").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(pinnedRows === plainRows)
  }

  test("reliable=true without a checkpoint dir fails fast and actionably") {
    // Only meaningful when no dir is set yet; a prior suite may have left
    // one, so run in a conf-scoped block that does NOT set a dir. If a
    // dir is already present the guard can't trip — skip in that case.
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set(Checkpoints.ReliableConf, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        spark.range(5).toDF("id").pinned()
      }
      assert(e.getMessage.contains("setCheckpointDir"))
      assert(e.getMessage.contains(Checkpoints.ReliableConf))
    } finally spark.conf.unset(Checkpoints.ReliableConf)
  }

  test("reliable=true + dir writes durable checkpoints with identical results") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("k", col("id") % 37)
      .withColumn("v", col("id") * col("id") % 101)
    val expected = df.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val got = withReliable(Some(ckptDir)) {
      val pinnedDf = df.pinned()
      // durable: the checkpoint dir must now contain RDD checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable pin wrote nothing to the checkpoint dir")
      pinnedDf.groupBy("k").agg(sum("v").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(got === expected)
  }

  test("graft.checkpoint.storage=MEMORY_AND_DISK_SER pins with identical results") {
    import graft.util.Checkpoints._
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("k", col("id") % 17)
      .withColumn("v", col("id") * 31 % 997)
    val expected = df.pinned().groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    spark.conf.set(Checkpoints.StorageConf, "MEMORY_AND_DISK_SER")
    try {
      val got = df.pinned().groupBy("k").agg(sum("v").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got === expected)
    } finally spark.conf.unset(Checkpoints.StorageConf)
  }

  test("graft.checkpoint.storage rejects an unknown level with an actionable error") {
    import graft.util.Checkpoints._
    spark.conf.set(Checkpoints.StorageConf, "MEMORY_AND_DISK_TYPO")
    try {
      val e = intercept[IllegalArgumentException] {
        spark.range(0, 10).toDF("id").pinned()
      }
      assert(e.getMessage.contains("graft.checkpoint.storage"))
    } finally spark.conf.unset(Checkpoints.StorageConf)
  }

  test("release frees a pin's storage in both modes") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val local = spark.range(0, 100000).toDF("id").pinned()
    assert(sc.getPersistentRDDs.keySet != before, "a local pin is a persisted RDD")
    // Dataset.unpersist only drops CacheManager entries: the pin stays
    local.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.keySet != before)
    Checkpoints.release(local)
    assert(sc.getPersistentRDDs.keySet == before)

    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-release")
    def files(): Long = java.nio.file.Files.walk(ckptDir)
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    withReliable(Some(ckptDir.toString)) {
      val durable = spark.range(0, 1000).toDF("id").pinned()
      assert(files() > 0)
      Checkpoints.release(durable)
      assert(files() == 0, "released reliable pin left its checkpoint files")
      assert(sc.getPersistentRDDs.keySet == before)
    }
  }

  test("an iterative operator is mode-oblivious: pageRank equal under both") {
    val edges = spark.range(0, 300).toDF("i").select(
      col("i").as("src"), ((col("i") * 7 + 3) % 300).as("dst"),
      (col("i") % 5 + 1).cast("double").as("w"))
    val nodes = spark.range(0, 300).toDF("id")
    def run(): Seq[(Long, Double)] =
      graft.operators.Graph.pageRank(nodes, "id", edges, "src", "dst", "w",
          iterations = 7, checkpointEvery = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val local = run()
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val durable = withReliable(Some(ckptDir))(run())
    assert(local === durable) // bit-identical: same plan, same arithmetic
  }
}
