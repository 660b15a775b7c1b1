package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.model.Execution
import graft.sink.{RenderedRequest, Transport, TransportResult}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch microseconds so that the harness's
  * own spans (nanoTime-based) and Spark listener events (epoch millis) share
  * one clock. `trace` is the run or registry row the span belongs to.
  */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long, parent: Long, trace: String) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span store of the traced run. Spans are only recorded while
  * `enabled`; nothing here is touched by an untraced run except one
  * volatile read per transport send.
  */
object Trace {
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  @volatile var enabled: Boolean = false
  @volatile var currentTrace: String = ""
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Transport sends: (execution key, request kind, body bytes, rows, start, end). */
  final case class Send(execKey: String, kind: String, bytes: Long, rows: Int, startUs: Long, endUs: Long)
  val sends = new ConcurrentLinkedQueue[Send]()

  /** Parents are linked after the run by interval containment (SelfTime.link). */
  def record(name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) spans.add(Span(ids.getAndIncrement(), name, startUs, endUs, 0L, currentTrace))

  /** Time `body` as span `name`; returns (result, seconds). */
  def span[T](name: String)(body: => T): (T, Double) = {
    val t0 = nowUs
    val r = body
    val t1 = nowUs
    record(name, t0, t1)
    (r, (t1 - t0) / 1e6)
  }

  def reset(): Unit = { spans.clear(); sends.clear() }

  /** Move the recorded sends and spans into the span file's store. */
  def flush(): Unit = {
    sends.asScala.foreach(s => record("sink.send", s.startUs, s.endUs))
    SpanFile.add(spans.asScala.toVector)
    reset()
  }
}

/** Spans of the whole traced run, kept in memory and written once at the
  * end as JSON lines, with their self time per layer.
  */
object SpanFile {
  private val all = mutable.ArrayBuffer.empty[Span]

  def add(ss: Seq[Span]): Unit = synchronized { all ++= ss }

  def write(path: java.nio.file.Path): Map[String, Double] = synchronized {
    val linked = SelfTime.link(all.toSeq)
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try linked.foreach { s =>
      w.write(Util.json(Map("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent, "trace" -> s.trace)))
      w.write("\n")
    } finally w.close()
    SelfTime.byLayer(linked)
  }
}

/** Timing wrapper around the program's transport: records one span per
  * send (executors run in this JVM under `local[n]`, so the static store
  * is shared).
  */
final case class TimingTransport(inner: Transport) extends Transport {
  override def send(execution: Execution, req: RenderedRequest): TransportResult = {
    val t0 = Trace.nowUs
    val r = inner.send(execution, req)
    if (Trace.enabled)
      Trace.sends.add(Trace.Send(execution.key, req.kind, req.body.length.toLong,
        req.rowIdx.size, t0, Trace.nowUs))
    r
  }
}

/** Engine counters for the traced run: jobs, stages and task metrics from
  * a SparkListener; planning phases and physical operators from a
  * QueryExecutionListener; micro-batch progress from a
  * StreamingQueryListener. All three are attached only while tracing.
  */
final class EngineTrace extends SparkListener with QueryExecutionListener {
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val streamState = mutable.Map.empty[String, Long]

  def reset(): Unit = synchronized { counts.clear(); jobStarts.clear(); streamState.clear() }

  private def add(k: String, v: Double): Unit = counts(k) += v

  def snapshot(): Map[String, Double] = synchronized {
    counts.toMap + ("stream.state_rows" -> streamState.values.sum.toDouble)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(t0 =>
      Trace.record(s"spark.job.${e.jobId}", t0 * 1000L, e.time * 1000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      Trace.record(s"spark.stage.${si.stageId}", s * 1000L, c * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("io.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    add("spark.plan_analysis_ms", phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
    add("spark.plan_optimization_ms", phases.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0))
    add("spark.plan_planning_ms", phases.get("planning").map(_.durationMs.toDouble).getOrElse(0.0))
    if (funcName == "localCheckpoint" || funcName == "checkpoint") add("pipeline.pin_jobs", 1)
    val nodes = EngineTrace.nodes(qe.executedPlan)
    add("spark.exchanges", nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    })
    add("spark.bhj", nodes.count(_.isInstanceOf[BroadcastHashJoinExec]))
    add("spark.smj", nodes.count(_.isInstanceOf[SortMergeJoinExec]))
    val controlWrite = nodes.exists {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.contains("_uploaded")
        case _ => false
      }
      case _ => false
    }
    if (controlWrite) add("io.write_s", durationNs / 1e9)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = EngineTrace.this.synchronized {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      if (p.numInputRows > 0 || p.stateOperators.nonEmpty) add("stream.batches", 1)
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.query_planning_ms", d("queryPlanning"))
      add("stream.wal_commit_ms", d("walCommit"))
      streamState(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
}

object EngineTrace {
  /** Every physical node, descending into adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Reduction of a span set to self time per layer: a span's self time is
  * its duration minus the part of it covered by its children. Spark job and
  * transport-send spans get the innermost harness span containing their
  * start as parent; a stage's parent is the job span containing it.
  */
object SelfTime {
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def link(spans: Seq[Span]): Seq[Span] = {
    val harness = spans.filterNot(s => s.name.startsWith("spark.") || s.name == "sink.send")
      .groupBy(_.trace)
    val jobs = spans.filter(_.name.startsWith("spark.job.")).groupBy(_.trace)
    // Listener times are whole milliseconds: allow one of slack at the start.
    def innermost(cands: Seq[Span], s: Span, whole: Boolean): Long = {
      val len = s.endUs - s.startUs
      cands.filter { c =>
        val cl = c.endUs - c.startUs
        c.id != s.id && c.startUs - 1000L <= s.startUs &&
          (if (whole) s.endUs <= c.endUs else s.startUs <= c.endUs) &&
          (cl > len || (cl == len && c.id > s.id))
      }.sortBy(c => c.endUs - c.startUs).headOption.map(_.id).getOrElse(0L)
    }
    spans.map { s =>
      val h = harness.getOrElse(s.trace, Nil)
      if (s.name.startsWith("spark.stage.")) s.copy(parent = innermost(jobs.getOrElse(s.trace, Nil), s, whole = false))
      else if (s.name.startsWith("spark.job.") || s.name == "sink.send") s.copy(parent = innermost(h, s, whole = false))
      else s.copy(parent = innermost(h, s, whole = true))
    }
  }

  /** layer -> seconds of self time. */
  def byLayer(linked: Seq[Span]): Map[String, Double] = {
    val children = linked.groupBy(_.parent)
    linked.groupBy(s => if (s.name.startsWith("spark.")) s.name.split('.').take(2).mkString(".") else s.layer)
      .map { case (layer, ss) =>
        layer -> ss.map { s =>
          val covered = children.getOrElse(s.id, Nil)
            .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
            .filter { case (a, b) => b > a }
          (s.endUs - s.startUs - (if (covered.isEmpty) 0L else union(covered))) / 1e6
        }.sum
      }
  }
}
