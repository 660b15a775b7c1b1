package graft.util

import org.apache.spark.sql.Dataset

/** Loop-invariant pinning with a cluster-safe escape hatch.
  *
  * Every iterative operator in this engine materializes its loop
  * invariants (node sets, transition tables, working frames) and cuts
  * lineage each round. In local mode `Dataset.localCheckpoint` is the
  * right tool: blocks live in executor storage memory, no filesystem
  * round-trip. On a REAL cluster with preemptible executors it is the
  * wrong tool — a localCheckpoint truncates lineage WITHOUT durability,
  * so losing the executor that holds a block turns into a job failure
  * instead of a recompute.
  *
  * `pinned` routes between the two:
  *   - default: `localCheckpoint(eager)` — single-JVM / reliable-executor
  *     clusters, zero I/O;
  *   - `graft.checkpoint.reliable=true` (SQL conf, settable per session):
  *     `checkpoint(eager)` against `SparkContext.setCheckpointDir`, which
  *     must point at storage that survives executor loss (HDFS/object
  *     store on a cluster). Missing checkpoint dir fails fast with an
  *     actionable message rather than Spark's late SparkException.
  *
  * Both paths return a plan with identical semantics (same rows, same
  * partitioning for an eager pin), so operators are oblivious to the
  * choice — see `CheckpointsSpec` for the equivalence pin and the
  * local-cluster note in SCALING.md.
  */
object Checkpoints {
  val ReliableConf = "graft.checkpoint.reliable"

  /** Storage level for LOCAL pins (`graft.checkpoint.storage`, e.g.
    * `MEMORY_AND_DISK_SER`). Default is Spark's localCheckpoint default
    * (deserialized MEMORY_AND_DISK) — fastest when the pins fit. On
    * executor-memory-constrained fleets a corpus-scale pin (the sf30
    * co-order edge list is ~57 GB deserialized) evicts to disk block by
    * block; serialized (+ `spark.rdd.compress=true`) shrinks narrow rows
    * several-fold and keeps the pin in memory — trade a decode per
    * consumer for not spilling. Identical semantics either way.
    */
  val StorageConf = "graft.checkpoint.storage"

  def reliable(ds: Dataset[_]): Boolean =
    ds.sparkSession.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))

  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Materialize `ds` and cut lineage; reliable or local per the conf. */
    def pinned(eager: Boolean = true): Dataset[T] =
      if (reliable(ds)) {
        val sc = ds.sparkSession.sparkContext
        require(sc.getCheckpointDir.isDefined,
          s"$ReliableConf=true requires a checkpoint directory: call " +
            "SparkContext.setCheckpointDir(<fault-tolerant path>) before " +
            "running iterative operators (HDFS/object store on a cluster)")
        ds.checkpoint(eager)
      } else ds.sparkSession.conf.getOption(StorageConf) match {
        case Some(lvl) =>
          val parsed = try org.apache.spark.storage.StorageLevel
            .fromString(lvl.trim.toUpperCase)
          catch { case _: IllegalArgumentException => throw new IllegalArgumentException(
            s"$StorageConf: unknown storage level '$lvl' (expected e.g. " +
              "MEMORY_AND_DISK, MEMORY_AND_DISK_SER, DISK_ONLY)") }
          ds.localCheckpoint(eager, parsed)
        case None => ds.localCheckpoint(eager)
      }
  }

  /** Free the storage behind a frame built from pins: `Dataset.unpersist`
    * only drops CacheManager entries, so a pin's RDD would stay in
    * `getPersistentRDDs` (and its blocks in storage) until ContextCleaner
    * happens to see it collected. Unpersists every pinned RDD under `ds`
    * (a union of pins has several); in reliable mode it also deletes the
    * checkpoint files. `ds` must not be read afterwards.
    */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
        r.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
        }
      case _ =>
    }
}
