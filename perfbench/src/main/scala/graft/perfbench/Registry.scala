package graft.perfbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `registry_mix` workload: a fixed set of `SparkEntry.queries` rows run
  * in sorted order, one at a time, each timed from building its DataFrame
  * to the full `collect()` of its result (a `count()` would let Catalyst
  * prune projections that users pay for). Pass after pass until the time is
  * up; the first pass's results are written out after it (untimed) for the
  * DuckDB oracle check in run.py.
  */
final class Registry(work: Path) extends Workload {
  private val names = Metrics.RegistryRows
  private val corpus = work.resolve("corpus").toString
  private val results = work.resolve("results")

  Files.writeString(work.resolve("oracle_sql.json"),
    Util.json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))

  private def runRow(spark: SparkSession, name: String, dir: String): (Array[Row], StructType, Double, Double) = {
    Trace.currentTrace = name
    val c0 = Util.cpuNs
    val ((rows, schema), s) = Trace.span(s"registry.$name") {
      val df = SparkEntry.queries(name)(spark, dir)
      (df.collect(), df.schema)
    }
    (rows, schema, s, (Util.cpuNs - c0) / 1e9)
  }

  /** Every row once on the tiny corpus. */
  override def warmUp(spark: SparkSession): Unit =
    names.foreach { n =>
      runRow(spark, n, work.resolve("tiny").toString)
      Util.cleanUp(spark, gc = false)
    }

  override def measure(spark: SparkSession, seconds: Double, trace: Boolean): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    val rowCount = mutable.Map.empty[String, Long]
    val rowS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passS, passCpu, tracedS = mutable.ArrayBuffer.empty[Double]
    val rowJobs = mutable.Map.empty[String, Double]
    val firstResults = mutable.ArrayBuffer.empty[(String, Array[Row], StructType)]
    var attempted, failed = 0L
    val engine = new EngineTrace
    var engineTotals = Map.empty[String, Double]
    val deadline = Trace.nowUs + (seconds * 1e6).toLong
    var pass = 0
    // The traced run starts with a traced pass: a first pass is the slowest,
    // so `trace.overhead` errs high rather than low.
    while (pass < (if (trace) 2 else 1) || Trace.nowUs < deadline) {
      val traced = trace && pass % 2 == 0
      if (traced) {
        Trace.reset(); engine.reset(); engine.attach(spark); Trace.enabled = true
      }
      var sum, cpu = 0.0
      names.foreach { name =>
        attempted += 1
        if (traced) spark.sparkContext.setJobGroup(name, name)
        val jobsBefore = if (traced) { engine.drain(spark); engine.snapshot().getOrElse("spark.jobs", 0.0) } else 0.0
        try {
          val (rows, schema, s, c) = runRow(spark, name, corpus)
          sum += s
          cpu += c
          if (!traced) rowS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
          else {
            engine.drain(spark)
            rowJobs(name) = engine.snapshot().getOrElse("spark.jobs", 0.0) - jobsBefore
          }
          rowCount.get(name) match {
            case None =>
              rowCount(name) = rows.length
              firstResults += ((name, rows, schema))
            case Some(n) if n != rows.length =>
              failed += 1
              failures += s"$name: pass $pass returned ${rows.length} rows, first pass $n"
            case _ => ()
          }
        } catch {
          case e: Exception =>
            failed += 1
            failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        } finally {
          if (traced) spark.sparkContext.clearJobGroup()
          Util.cleanUp(spark)
        }
      }
      if (traced) {
        engine.detach(spark); Trace.enabled = false
        engineTotals = engine.snapshot()
        Trace.flush()
        tracedS += sum
      } else { passS += sum; passCpu += cpu }
      // first-pass results, for the oracle check in run.py
      firstResults.foreach { case (name, rows, schema) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(results.resolve(name).toString)
      }
      firstResults.clear()
      pass += 1
    }
    val rowMedian = names.map(n => n -> Util.median(rowS.getOrElse(n, mutable.ArrayBuffer.empty).toSeq)).toMap
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        val slots = spark.sparkContext.defaultParallelism
        val tracedRun = Util.median(tracedS.toSeq)
        Metrics.perLayer ++ engineTotals ++
          names.flatMap(n => Seq(s"row.$n.s" -> rowMedian(n), s"row.$n.jobs" -> rowJobs.getOrElse(n, 0.0))) ++
          names.groupBy(Metrics.family).map { case (f, ns) => s"registry.$f.s" -> ns.map(rowMedian).sum } +
          ("spark.fixed_cost_s" -> (tracedRun - engineTotals.getOrElse("spark.executor_run_s", 0.0) / slots)) +
          ("trace.overhead" -> (tracedRun / Util.median(passS.toSeq) - 1.0))
      }
    Outcome(
      runS = passS.toSeq, cpuS = passCpu.toSeq,
      queryS = names.map(rowMedian),
      attempted = attempted, failed = failed, checkFailures = failures.toSeq,
      layers = layers,
      extra = Map("traced_run_s" -> tracedS.toSeq, "iterations" -> pass, "row_s" -> rowMedian))
  }
}
