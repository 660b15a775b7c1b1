package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession


/** What one measured run of a workload reports back to `run.py`. */
final case class Outcome(
    runS: Seq[Double],            // per timed iteration (activation run / registry pass)
    cpuS: Seq[Double],
    queryS: Seq[Double],          // per-query times (query_p50_s estimates their median)
    attempted: Long,
    failed: Long,
    checkFailures: Seq[String],
    layers: Map[String, Double],  // per-layer metrics (traced run only)
    extra: Map[String, Any] = Map.empty)

trait Workload {
  /** Untimed warm-up, part of set-up. */
  def warmUp(spark: SparkSession): Unit
  /** Timed iterations until `seconds` have passed (at least one; the traced
    * run alternates untraced and traced iterations, at least one of each).
    */
  def measure(spark: SparkSession, seconds: Double, trace: Boolean): Outcome
}

/** Benchmark harness entry point. Inputs are generated beforehand by
  * run.py into `--work`; this process sets up (JVM start to warm-up done),
  * measures one workload for `--seconds` and writes its raw figures to
  * `--out` as JSON.
  */
object PerfMain {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString)
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workload: Workload = opts("workload") match {
      case "activation_full" => new Activation(work, incremental = false)
      case "activation_incremental" => new Activation(work, incremental = true)
      case "registry_mix" => new Registry(work)
      case other => sys.error(s"unknown workload $other")
    }

    val spark = session(work, cpus)
    workload.warmUp(spark)
    Util.cleanUp(spark)
    val setupS = (Trace.nowUs - ManagementFactory.getRuntimeMXBean.getStartTime * 1000L) / 1e6

    val o = workload.measure(spark, seconds, trace)
    spark.stop()
    val selfTime = opts.get("spans").filter(_ => trace)
      .map(p => SpanFile.write(Paths.get(p))).getOrElse(Map.empty)
    val json = Util.json(Map(
      "setup_s" -> setupS,
      "run_s" -> o.runS, "cpu_s" -> o.cpuS, "query_s" -> o.queryS,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "check_failures" -> o.checkFailures,
      "peak_rss_mb" -> Util.peakRssMb,
      "layers" -> o.layers, "self_time_s" -> selfTime) ++ o.extra)
    Files.writeString(Paths.get(opts("out")), json)
  }

  /** The session graft's own mains build (Bench/Verify/Main), on
    * `local[cpus]`, with every scratch location inside the work directory.
    */
  def session(work: Path, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Util {
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  /** Drop every cached/pinned block and temp view between measured calls,
    * as graft's Bench does between queries.
    */
  def cleanUp(spark: SparkSession, gc: Boolean = true): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    if (gc) System.gc()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyRecursively(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val target = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(target) else Files.copy(x, target)
    } finally s.close()
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def readJson(p: Path): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
}
