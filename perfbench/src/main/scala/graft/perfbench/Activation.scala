package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import graft.config.PrimaryConfigSource
import graft.io.{DataSources, UploadedLog}
import graft.model.{Execution, TransactionalType}
import graft.pipeline.{Branches, Pipeline, PipelineOptions, PipelineReport}
import graft.sink.FileTransport
import graft.transform.{PiiHashing, Transforms}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The activation workloads: one closed-loop client running config load +
  * `Pipeline.run` over the generated config, through the file transport.
  * Before every run (untimed) the transport output is cleared and each
  * `_uploaded` control table is reset: removed for `activation_full`,
  * restored from its pre-seeded history for `activation_incremental`.
  */
final class Activation(work: Path, incremental: Boolean) extends Workload {
  import Activation._

  private def expectations(dir: Path): Seq[Expect] =
    Util.readJson(dir.resolve("expected.json")).fields().asScala.map { e =>
      val v = e.getValue
      Expect(e.getKey, v.get("branch").asText, v.get("attempted").asLong, v.get("requests").asLong,
        v.get("writeback").asBoolean,
        Option(v.get("log_path")).filterNot(_.isNull).map(n => Path.of(n.asText)),
        v.get("log_rows_seeded").asLong)
    }.toSeq

  private val expected = expectations(work)
  private val out = work.resolve("out")
  private val warm = work.resolve("warmup")

  private def safeKey(k: String): String = k.replaceAll("[^A-Za-z0-9._-]", "_")

  private def loadExecutions(dir: Path): Seq[Execution] =
    PrimaryConfigSource.select(None, Some(dir.resolve("config.json").toString), None).executions()

  private def reset(dir: Path, exps: Seq[Expect], restore: Boolean, clearOut: Boolean = true): Unit = {
    if (clearOut) Util.deleteRecursively(dir.resolve("out"))
    exps.flatMap(_.logPath).foreach { lp =>
      Util.deleteRecursively(lp)
      val seeded = dir.resolve("uploaded_seed").resolve(lp.getFileName.toString)
      if (restore && Files.exists(seeded)) Util.copyRecursively(seeded, lp)
    }
  }

  /** Two runs over inputs of the timed size (another seed) in a throwaway
    * directory: the first three full-size runs after a one-row warm-up took
    * 6.8, 6.3 and 5.4 s (25, 22, 18 CPU-s) before settling at 5.3 s (16
    * CPU-s), so a smaller warm-up leaves JIT compilation in the timed runs.
    */
  override def warmUp(spark: SparkSession): Unit = {
    val exps = expectations(warm)
    for (_ <- 1 to 2) {
      reset(warm, exps, restore = incremental)
      Pipeline.run(spark, loadExecutions(warm),
        PipelineOptions(transport = FileTransport(warm.resolve("out").toString)))
    }
    reset(warm, exps, restore = false)
  }

  private def runOnce(spark: SparkSession, traced: Boolean): Run = {
    reset(work, expected, restore = incremental)
    Util.cleanUp(spark)
    val transport =
      if (traced) TimingTransport(FileTransport(out.toString)) else FileTransport(out.toString)
    Trace.currentTrace = s"run-${System.nanoTime()}"
    val c0 = Util.cpuNs
    val t0 = Trace.nowUs
    val ((report, execs, configS), runS) = Trace.span("run") {
      val (execs, configS) = Trace.span("config.load")(loadExecutions(work))
      val (report, _) = Trace.span("pipeline.run") {
        Pipeline.run(spark, execs, PipelineOptions(transport = transport))
      }
      (report, execs, configS)
    }
    Run(runS, (Util.cpuNs - c0) / 1e9, t0, execs.size, report, configS)
  }

  /** Output checks of one run (untimed). */
  private def verify(spark: SparkSession, run: Run, failures: mutable.Buffer[String]): Verified = {
    val byKey = run.report.results.groupBy(_.executionKey)
    var attempted = 0L
    var failed = 0L
    var writeback = 0L
    var afRate = 0.0
    val delivery = mutable.ArrayBuffer.empty[Double]
    def fail(msg: String): Unit = if (failures.size < 50) failures += msg
    if (run.report.results.size != expected.size)
      fail(s"${run.report.results.size} execution results, expected ${expected.size}")
    expected.foreach { e =>
      byKey.get(e.key).flatMap(_.headOption) match {
        case None => fail(s"${e.key}: no result"); failed += 1; attempted += 1
        case Some(r) =>
          attempted += r.attempted + 1
          failed += (r.attempted - r.succeeded) + (if (r.error.isDefined) 1 else 0)
          r.error.foreach(m => fail(s"${e.key}: error $m"))
          if (r.attempted != e.attempted) fail(s"${e.key}: attempted ${r.attempted}, expected ${e.attempted}")
          if (r.succeeded != r.attempted) fail(s"${e.key}: succeeded ${r.succeeded} of ${r.attempted}")
          val dir = out.resolve(safeKey(e.key))
          val mtimes: Seq[Long] =
            if (!Files.isDirectory(dir)) Nil
            else {
              val s = Files.list(dir)
              try s.iterator().asScala.map(f =>
                Files.getLastModifiedTime(f).to(TimeUnit.MICROSECONDS)).toVector
              finally s.close()
            }
          if (mtimes.size != e.requests) fail(s"${e.key}: ${mtimes.size} requests, expected ${e.requests}")
          if (mtimes.nonEmpty) delivery += (mtimes.max - run.startUs) / 1e6
          e.logPath.filter(_ => e.writeback).foreach { lp =>
            val before = if (incremental) e.logRowsSeeded else 0L
            val after = if (Files.exists(lp)) spark.read.parquet(lp.toString).count() else 0L
            writeback += after - before
            if (after - before != r.succeeded)
              fail(s"${e.key}: control table grew by ${after - before}, uploaded ${r.succeeded}")
            if (e.branch == "appsflyer" && mtimes.nonEmpty && r.succeeded > 0) {
              // the writeback stamps one timestamp after the last paced batch
              val wbUs = spark.read.parquet(lp.toString)
                .selectExpr("unix_micros(min(timestamp))").head().getLong(0)
              afRate = r.succeeded / math.max(1e-6, (wbUs - mtimes.min) / 1e6)
              if (afRate > 500.0) fail(f"${e.key}: AppsFlyer sent $afRate%.1f events/s > 500")
            }
          }
      }
    }
    Verified(attempted, failed, delivery.toSeq, writeback, afRate)
  }

  override def measure(spark: SparkSession, seconds: Double, trace: Boolean): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    val engine = new EngineTrace
    val untraced = mutable.ArrayBuffer.empty[(Run, Verified)]
    val traced = mutable.ArrayBuffer.empty[(Run, Verified, Map[String, Double])]
    val deadline = Trace.nowUs + (seconds * 1e6).toLong
    var i = 0
    while (i < (if (trace) 2 else 1) || Trace.nowUs < deadline) {
      val tracedRun = trace && i % 2 == 0
      if (tracedRun) {
        Trace.reset(); engine.reset(); engine.attach(spark); Trace.enabled = true
      }
      val run = runOnce(spark, tracedRun)
      if (tracedRun) {
        engine.detach(spark); Trace.enabled = false
        val v = verify(spark, run, failures)
        traced += ((run, v, runLayers(spark, run, v, engine)))
      } else untraced += ((run, verify(spark, run, failures)))
      i += 1
    }
    val all = untraced.toSeq ++ traced.map { case (r, v, _) => (r, v) }
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        val perRun = traced.map(_._3)
        val merged = perRun.flatMap(_.keys).distinct.map(k =>
          k -> Util.median(perRun.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val overhead = Util.median(traced.map(_._1.runS).toSeq) /
          Util.median(untraced.map(_._1.runS).toSeq) - 1.0
        Metrics.perLayer ++ merged ++ probes(spark) + ("trace.overhead" -> overhead)
      }
    Outcome(
      runS = untraced.map(_._1.runS).toSeq,
      cpuS = untraced.map(_._1.cpuS).toSeq,
      queryS = untraced.flatMap(_._2.deliveryS).toSeq,
      attempted = all.map(_._2.attempted).sum,
      failed = all.map(_._2.failed).sum,
      checkFailures = failures.toSeq,
      layers = layers,
      extra = Map("traced_run_s" -> traced.map(_._1.runS).toSeq, "iterations" -> all.size))
  }

  /** Per-layer figures of one traced run. */
  private def runLayers(spark: SparkSession, run: Run, v: Verified, engine: EngineTrace): Map[String, Double] = {
    val sends = Trace.sends.asScala.toVector
    val sendMs = sends.map(s => (s.endUs - s.startUs) / 1e3)
    val delivered = sends.groupBy(_.execKey).values.map(ss => (ss.map(_.endUs).max - run.startUs) / 1e6).toSeq
    val e = engine.snapshot()
    val slots = spark.sparkContext.defaultParallelism
    Trace.flush()
    e ++ Map(
      "config.load_s" -> run.configS,
      "config.executions" -> run.executions.toDouble,
      "io.writeback_rows" -> v.writebackRows.toDouble,
      "sink.requests" -> sends.size.toDouble,
      "sink.request_bytes" -> sends.map(_.bytes).sum.toDouble,
      "sink.rows_sent" -> sends.map(_.rows.toLong).sum.toDouble,
      "sink.send_busy_s" -> sendMs.sum / 1e3,
      "sink.send_p50_ms" -> Util.percentile(sendMs, 0.5),
      "sink.send_p99_ms" -> Util.percentile(sendMs, 0.99),
      "sink.af_max_events_per_s" -> v.afRate,
      "pipeline.attempted_rows" -> run.report.results.map(_.attempted).sum.toDouble,
      "pipeline.succeeded_rows" -> run.report.results.map(_.succeeded).sum.toDouble,
      "pipeline.branch_span_p50_s" -> Util.median(delivered),
      "pipeline.branch_span_max_s" -> (if (delivered.isEmpty) 0.0 else delivered.max),
      "spark.fixed_cost_s" -> (run.runS - e.getOrElse("spark.executor_run_s", 0.0) / slots))
  }

  /** Standalone calls into the io, transform and sink layers on the same
    * inputs and the same pre-run control tables as a timed run.
    */
  private def probes(spark: SparkSession): Map[String, Double] = {
    // the last run's transport output stays for the hashed-email check
    reset(work, expected, restore = incremental, clearOut = false)
    Util.cleanUp(spark)
    Trace.currentTrace = "probes"
    Trace.enabled = true
    val opts = PipelineOptions(transport = FileTransport(out.toString))
    var hashS, hashRows, antiS, renderS = 0.0
    var removed, controlRows = 0L
    def noop(df: DataFrame): Double =
      Trace.span("transform.probe")(df.write.format("noop").mode("overwrite").save())._2
    loadExecutions(work).foreach { ex =>
      val dt = ex.destination.destinationType
      val branch = Branches.all.find(_.destinationType == dt).get
      val ds = DataSources.forSource(ex.source, opts.bqPathFor,
        p => opts.uploadedLogPathFor(p, dt), opts.bqFormat)
      val (shaped, _) = Trace.span("io.retrieve") {
        DataSources.retrieveData(spark, ds, dt, TransactionalType.NotTransactional)
      }
      shaped.cache()
      val nShaped = shaped.count()
      val tt = branch.readTransactional
      val input =
        if (tt == TransactionalType.NotTransactional) shaped
        else {
          if (Files.exists(Path.of(ds.uploadedLogPath)))
            controlRows += spark.read.parquet(ds.uploadedLogPath).count()
          val log = UploadedLog(spark, ds.uploadedLogPath, tt).read().cache()
          log.count()
          val anti = Transforms.antiJoinUploaded(shaped, log, tt)
          antiS += noop(anti)
          val a = anti.cache()
          removed += nShaped - a.count()
          a
        }
      val hashed =
        if (branch.hasher.isEmpty) input
        else {
          val flag = PiiHashing.shouldHashFields(ex.destination.metadata)
          val h = if (dt.name.startsWith("DV_")) PiiHashing.dvShape(input, flag)
            else PiiHashing.adsShape(input, flag)
          hashS += noop(h)
          val c = h.cache()
          hashRows += c.count()
          c
        }
      val rows = hashed.collect().toSeq.map(r => rowToMap(r, hashed.schema))
      val renderer = branch.renderer(opts.nowMicros())
      renderS += Trace.span("sink.render") {
        rows.grouped(branch.batchSize).zipWithIndex.foreach { case (b, i) =>
          renderer.render(ex, b, i + 1L)
        }
      }._2
      Util.cleanUp(spark)
    }
    Trace.enabled = false
    Trace.flush()
    Map(
      "io.control_rows_read" -> controlRows.toDouble,
      "io.dedup_removed_rows" -> removed.toDouble,
      "transform.hash_s" -> hashS,
      "transform.hash_rows_per_s" -> (if (hashS > 0) hashRows / hashS else 0.0),
      "transform.antijoin_s" -> antiS,
      "sink.render_s" -> renderS)
  }

  /** The ordered field map a renderer receives (as the pipeline builds it). */
  private def rowToMap(row: Row, schema: StructType): Map[String, Any] = {
    def convert(v: Any): Any = v match {
      case r: Row => ListMap(r.schema.fieldNames.toSeq.zip(r.toSeq.map(convert)): _*)
      case s: scala.collection.Seq[_] => s.toSeq.map(convert)
      case other => other
    }
    ListMap(schema.fieldNames.toSeq.zipWithIndex.map { case (n, i) => n -> convert(row.get(i)) }: _*)
  }
}

object Activation {
  private final case class Expect(key: String, branch: String, attempted: Long, requests: Long,
      writeback: Boolean, logPath: Option[Path], logRowsSeeded: Long)

  private final case class Run(runS: Double, cpuS: Double, startUs: Long, executions: Int,
      report: PipelineReport, configS: Double)

  private final case class Verified(attempted: Long, failed: Long, deliveryS: Seq[Double],
      writebackRows: Long, afRate: Double)
}
