package graft

import graft.config.JsonConfigSource
import graft.pipeline.{Branches, Pipeline, PipelineOptions}
import graft.sink.RecordingTransport
import graft.model.Execution
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterEach

/** Every destination branch end-to-end through the real pipeline: source
  * schema → validation → (hashing) → batching → renderer → transport. A
  * column-name mismatch anywhere in the schema table / hasher / renderer
  * chain fails the branch here.
  */
class AllBranchesSpec extends SparkTestBase with BeforeAndAfterEach {
  import AllBranchesSpec._

  override def beforeEach(): Unit = RecordingTransport.reset()

  test("all 18 destination branches run end-to-end with zero errors") {
    val rows = 3
    val executions = AllBranchesSpec.executions(spark,
      java.nio.file.Files.createTempDirectory("graft_all").toString, rows)
    assert(executions.size == branches.size)
    val report = Pipeline.run(spark, executions,
      PipelineOptions(transport = RecordingTransport()))

    val byType = report.results.map(r => r.destinationType -> r).toMap
    branches.foreach { case (dt, _, _, _) =>
      val r = byType(dt)
      assert(r.error.isEmpty, s"$dt failed: ${r.error}")
      assert(r.succeeded == rows, s"$dt uploaded ${r.succeeded}/${r.attempted}")
    }
    assert(report.exitCode == 0)
    assert(Branches.all.size == branches.size)

    // every branch rendered at least one request
    val kindsByExec = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
      .groupBy(_.executionKey)
    branches.foreach { case (dt, _, _, _) =>
      assert(kindsByExec.contains(s"src $dt -> dst $dt"), s"no requests sent for $dt")
    }
  }

  test("csv file sources run through the same pipeline path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val path = s"$dir/conversions.csv"
    val csv = "gclid,time,amount\n" +
      (1 to 4).map(i => s"g$i,$T,${i}.5").mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), csv.getBytes)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "s", "Type": "FILE", "Dataset": "csv", "Table": "$path"}],
      "Destinations": [{"Name": "d", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv"]}],
      "Connections": [{"Enabled": true, "Source": "s", "Destination": "d"}]
    }"""
    val report = Pipeline.run(spark, JsonConfigSource.fromString(config).executions(),
      PipelineOptions(transport = RecordingTransport()))
    assert(report.exitCode == 0)
    assert(report.totalUploaded == 4)
  }
}

object AllBranchesSpec {
  val T = "2024-05-01T10:00:00.000000"

  /** (destinationType, metadata, source column names, example row) */
  val branches: Seq[(String, Seq[String], Seq[String], Seq[String])] = Seq(
    ("ADS_SSD_UPLOAD", Seq("Conv", "ext"), Seq("email", "time", "amount"),
      Seq("a@x.com", T, "120")),
    ("ADS_SSI_UPLOAD", Seq("Conv", "ext", "true", "ck"),
      Seq("email", "time", "amount", "currency_code", "custom_value"),
      Seq("a@x.com", T, "120", "USD", "cv")),
    ("ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD", Seq("list", "ADD"),
      Seq("mobile_device_id"), Seq("device-1")),
    ("ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", Seq("list", "ADD"),
      Seq("email", "phone"), Seq("a@x.com", "555")),
    ("ADS_CUSTOMER_MATCH_USER_ID_UPLOAD", Seq("list", "ADD"),
      Seq("user_id"), Seq("crm-1")),
    ("ADS_OFFLINE_CONVERSION", Seq("Conv"),
      Seq("gclid", "time", "amount"), Seq("g1", T, "9.5")),
    ("ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID", Seq("Conv", "", "RESTATEMENT"),
      Seq("gclid", "time", "conversion_time", "amount"), Seq("g1", T, T, "9.5")),
    ("ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID", Seq("Conv", "", "RESTATEMENT"),
      Seq("order_id", "time", "amount"), Seq("o1", T, "9.5")),
    ("ADS_OFFLINE_CONVERSION_CALLS", Seq("Conv"),
      Seq("caller_id", "call_time", "time", "amount"), Seq("+5511", T, T, "9.5")),
    ("ADS_ENHANCED_CONVERSION_LEADS", Seq("Conv"),
      Seq("uuid", "time", "amount", "email"), Seq("u-1", T, "9.5", "a@x.com")),
    ("GA_USER_LIST_UPLOAD", Seq("wp1", "view1", "import1", "list1", "cd1", "cd2"),
      Seq("user_id"), Seq("u1")),
    ("GA_DATA_IMPORT", Seq("wp1", "import1"),
      Seq("cd1", "cd2"), Seq("v1", "v2")),
    ("GA_MEASUREMENT_PROTOCOL", Seq("UA-1", "1"),
      Seq("uuid", "client_id", "event_category", "event_action"),
      Seq("u-1", "c1", "cat", "act")),
    ("GA_4_MEASUREMENT_PROTOCOL", Seq("secret", "true", "false", "false", "", "G-1"),
      Seq("uuid", "client_id", "name"), Seq("u-1", "c1", "purchase")),
    ("CM_OFFLINE_CONVERSION", Seq("fl_act", "fl_cfg"),
      Seq("uuid", "gclid"), Seq("u-1", "g1")),
    ("DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", Seq("adv1", "list1"),
      Seq("email", "phone"), Seq("a@x.com", "555")),
    ("DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD", Seq("adv1", "list1"),
      Seq("mobile_device_id"), Seq("device-1")),
    ("APPSFLYER_S2S_EVENTS", Seq("com.app"),
      Seq("uuid", "appsflyer_id", "event_eventName"), Seq("u-1", "af1", "purchase")))

  /** One `rows`-row parquet source per branch under `dir`, and the
    * executions of a config that connects each to its destination.
    */
  def executions(spark: SparkSession, dir: String, rows: Int): Seq[Execution] = {
    val sources = branches.map { case (dt, _, cols, example) =>
      val path = s"$dir/$dt.parquet"
      val data = (1 to rows).map { i =>
        org.apache.spark.sql.Row.fromSeq(example.zipWithIndex.map { case (v, ci) =>
          // make the key-ish first column unique per row
          if (ci == 0 && !v.contains("@")) s"$v-$i" else v
        })
      }
      val schema = org.apache.spark.sql.types.StructType(
        cols.map(org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode(SaveMode.Overwrite).parquet(path)
      dt -> path
    }.toMap

    val srcJson = branches.map { case (dt, _, _, _) =>
      s"""{"Name": "src $dt", "Type": "FILE", "Dataset": "parquet", "Table": "${sources(dt)}"}"""
    }.mkString(",\n")
    val dstJson = branches.map { case (dt, meta, _, _) =>
      val m = meta.map(v => s""""$v"""").mkString(", ")
      s"""{"Name": "dst $dt", "Type": "$dt", "Metadata": [$m]}"""
    }.mkString(",\n")
    val connJson = branches.map { case (dt, _, _, _) =>
      s"""{"Enabled": true, "Source": "src $dt", "Destination": "dst $dt"}"""
    }.mkString(",\n")
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "GoogleAnalyticsAccountId": "567890",
      "CampaignManagerProfileId": "999",
      "AppId": "app.id",
      "Sources": [$srcJson],
      "Destinations": [$dstJson],
      "Connections": [$connJson]
    }"""

    JsonConfigSource.fromString(config).executions()
  }
}
