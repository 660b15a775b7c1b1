package graft.pipeline

import graft.model._
import graft.sink.RecordingTransport
import graft.util.Checkpoints
import org.scalatest.BeforeAndAfterEach

import java.util.concurrent.atomic.AtomicInteger

/** The report of an execution (attempted, succeeded, first error) is
  * tallied by the send tasks while they send, not counted afterwards from
  * the outcome frame. It must still say exactly what that pinned frame
  * says: its row count, its successes, and its first error in frame order.
  * Failure messages are numbered in SEND order, which differs from frame
  * order whenever partitions send concurrently, so a tally that kept the
  * first error it happened to see would fail here.
  */
class SendReportSpec extends graft.SparkTestBase with BeforeAndAfterEach {
  import spark.implicits._

  override def beforeEach(): Unit = RecordingTransport.reset()
  override def afterEach(): Unit = RecordingTransport.reset()

  private def branch(dt: DestinationType, batchSize: Int): BranchSpec =
    Branches.all.find(_.destinationType == dt).get.copy(batchSize = batchSize)

  private def execution(dt: DestinationType, metadata: Seq[String]): Execution =
    Execution(AccountConfig(googleAdsAccountId = "1234567890"),
      SourceSpec("s", SourceType.File, Seq("parquet", "unused")),
      DestinationSpec("d", dt, metadata))

  /** Fails every `every`-th request of `kind` (send order), numbering the
    * messages so that different failures are told apart.
    */
  private def failEvery(kind: String, every: Int): Unit = {
    val n = new AtomicInteger()
    RecordingTransport.failWhen = (_, req) =>
      if (req.kind != kind) None
      else {
        val i = n.incrementAndGet()
        if (i % every == 1 % every) Some(s"$kind refused #$i") else None
      }
  }

  /** Send, compare the tally with the pinned frame, release the pin. */
  private def sendAndCheck(df: org.apache.spark.sql.DataFrame, ex: Execution,
      b: BranchSpec): SendPass = {
    val pass = Pipeline.uploadStage(spark, df, ex, b,
      PipelineOptions(transport = RecordingTransport()))
    try {
      val rows = pass.outcomes.select("success", "error").collect()
      assert(pass.tally.attempted == rows.length, "attempted")
      assert(pass.tally.succeeded == rows.count(_.getBoolean(0)), "succeeded")
      assert(pass.tally.error == rows.collectFirst { case r if !r.isNullAt(1) => r.getString(1) },
        "first error")
      pass
    } finally Checkpoints.release(pass.outcomes)
  }

  private val ga4Meta = Seq("secret", "true", "false", "false", "", "G-1")

  private def ga4Source(n: Int) =
    (1 to n).map(i => (s"u$i", s"c$i", "purchase")).toDF("uuid", "client_id", "name")
      .repartition(4)

  test("partial request failures: tally equals the outcome frame") {
    failEvery("ga4_mp_collect", 3)
    val pass = sendAndCheck(ga4Source(90),
      execution(DestinationType.Ga4MeasurementProtocol, ga4Meta),
      branch(DestinationType.Ga4MeasurementProtocol, 7))
    assert(pass.tally.attempted == 90 && pass.tally.succeeded == 60 && pass.tally.error.nonEmpty)
  }

  test("execution-level failures on a needsIteration branch: tally equals the outcome frame") {
    // the job run carries no row indices: its failure fails its whole batch
    failEvery("run_offline_user_data_job", 2)
    val ex = execution(DestinationType.AdsCustomerMatchContactInfoUpload, Seq("list1", "REPLACE"))
    val b = branch(DestinationType.AdsCustomerMatchContactInfoUpload, 5)
    val df = (1 to 60).map(i => (s"user$i@x.com", s"555$i")).toDF("email", "phone")
      .repartition(3)
    val pass = sendAndCheck(b.hasher.get(df, ex.destination.metadata), ex, b)
    // 12 batches, the odd-numbered runs fail; phase A sends first, alone
    assert(pass.tally.attempted == 60 && pass.tally.succeeded == 30)
    assert(pass.tally.error.contains("run_offline_user_data_job refused #1"))
  }

  test("empty source: the synthetic outcome is the tally") {
    failEvery("ensure_user_list", 1)
    val ex = execution(DestinationType.AdsCustomerMatchContactInfoUpload, Seq("list1", "REPLACE"))
    val b = branch(DestinationType.AdsCustomerMatchContactInfoUpload, 5)
    val empty = Seq.empty[(String, String)].toDF("email", "phone")
    val failed = sendAndCheck(b.hasher.get(empty, ex.destination.metadata), ex, b)
    assert(failed.tally.attempted == 1 && failed.tally.succeeded == 0 &&
      failed.tally.error.exists(_.contains("ensure_user_list refused #1")))
    RecordingTransport.reset()
    val ok = sendAndCheck(b.hasher.get(empty, ex.destination.metadata), ex, b)
    assert(ok.tally.attempted == 0 && ok.tally.error.isEmpty)
  }

  test("rate-limited branch: tally equals the outcome frame") {
    failEvery("appsflyer_s2s_event", 4)
    val df = (1 to 60).map(i => (s"u$i", s"af$i", "purchase"))
      .toDF("uuid", "appsflyer_id", "event_eventName").repartition(3)
    val pass = sendAndCheck(df, execution(DestinationType.AppsFlyerS2SEvents, Seq("com.app")),
      branch(DestinationType.AppsFlyerS2SEvents, 10))
    assert(pass.tally.attempted == 60 && pass.tally.succeeded == 45)
  }

  test("reliable checkpoints: tally equals the outcome frame") {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-report-ckpt").toString)
    spark.conf.set(Checkpoints.ReliableConf, "true")
    try {
      failEvery("ga4_mp_collect", 3)
      val pass = sendAndCheck(ga4Source(90),
        execution(DestinationType.Ga4MeasurementProtocol, ga4Meta),
        branch(DestinationType.Ga4MeasurementProtocol, 7))
      assert(pass.tally.attempted == 90 && pass.tally.succeeded == 60)
    } finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      org.apache.spark.SparkTestAccess.restoreCheckpointDir(sc, prevDir)
    }
  }
}
