package graft

import graft.pipeline.{Pipeline, PipelineOptions, PipelineReport}
import graft.sink.RecordingTransport
import org.apache.spark.SparkTestAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

/** The fixed cost of an activation run, held at its measured floor.
  *
  * The 18-branch config of [[AllBranchesSpec]] runs twice, its control
  * tables deleted in between so both runs do the same work. The second run
  * must compile no class (a wall-clock literal in a per-run plan makes
  * Spark generate new Java on every run), run exactly the jobs listed below
  * (an extra per-execution action shows up here), and plan no exchange.
  */
class ActivationFixedCostSpec extends SparkTestBase {

  /** Jobs of one run, by kind:
    *  - the parquet footer read that infers each source's schema (18);
    *  - one send pin per execution, two (phase A, phase B) for each of the
    *    6 needsIteration executions (12 + 6 × 2);
    *  - the row-counting pass of each needsIteration or rate-limited
    *    execution (7);
    *  - one control-table append per transactional branch (8).
    */
  private val JobsPerRun = 18 + (12 + 6 * 2) + 7 + 8

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def deleteControlTables(dir: Path): Unit = {
    val logs = Files.list(dir)
    try logs.filter(_.getFileName.toString.contains("_uploaded_")).forEach { log =>
      val walk = Files.walk(log)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    } finally logs.close()
  }

  test("a warm 18-branch run compiles no class, runs its measured jobs, plans no exchange") {
    val dir = Files.createTempDirectory("graft_fixed_cost")
    val executions = AllBranchesSpec.executions(spark, dir.toString, rows = 3)
    def run(): PipelineReport = {
      RecordingTransport.reset()
      Pipeline.run(spark, executions, PipelineOptions(transport = RecordingTransport()))
    }
    assert(run().exitCode == 0)
    deleteControlTables(dir)

    val group = "activation-fixed-cost"
    val jobs = new AtomicInteger()
    val exchanges = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        exchanges.addAndGet(nodes(qe.executedPlan).count(_.isInstanceOf[Exchange]))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    SparkTestAccess.drainListenerBus(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // branch threads are created inside the run and inherit the job group
    sc.setJobGroup(group, "warm activation run")
    val report = try run() finally sc.clearJobGroup()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    SparkTestAccess.drainListenerBus(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)

    assert(report.exitCode == 0)
    assert(report.totalUploaded == 3L * AllBranchesSpec.branches.size)
    assert(compiled == 0, s"the warm run compiled $compiled classes")
    assert(jobs.get == JobsPerRun, s"jobs per warm run")
    assert(exchanges.get == 0, s"exchanges per warm run")
  }

  test("an activation run leaves no RDD persisted") {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val executions = AllBranchesSpec.executions(spark,
      Files.createTempDirectory("graft_release").toString, rows = 3)
    RecordingTransport.reset()
    assert(Pipeline.run(spark, executions,
      PipelineOptions(transport = RecordingTransport())).exitCode == 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
