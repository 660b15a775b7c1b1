package graft.io

import graft.model.{DestinationType, TransactionalType}
import graft.schema.DestinationSchemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/** Data-plane readers (SURVEY §2.2).
  *
  * The reference reads sources row-by-row into Python lists
  * (`/root/reference/megalista_dataflow/data_sources/big_query/
  * big_query_data_source.py:67-71`); here every source is a DataFrame scan
  * with column pruning pushed to the format reader (parquet `ReadSchema` /
  * csv `usecols` equivalent), which is what survives a 100 TB scale-up.
  */
object DataReaders {

  /** Parquet scan + schema-regex pruning (reference
    * `data_sources/file/file_data_source.py:182-200`). The `.select` makes
    * Catalyst prune the scan to the matched columns only.
    */
  def readParquet(spark: SparkSession, path: String, dt: DestinationType): DataFrame =
    DestinationSchemas.prune(spark.read.parquet(path), dt)

  /** CSV scan with ALL-STRING schema (mirrors the reference's
    * `dtype='string'` pandas read, `file_data_source.py:202-219`), pruned and
    * then cast per schema. Empty strings read as nulls, matching the NaN→None
    * normalization at `file_data_source.py:62,85`.
    */
  def readCsv(spark: SparkSession, path: String, dt: DestinationType): DataFrame = {
    // without inferSchema the csv reader already yields every column as
    // StringType — one read, no second header-scan to rebuild the schema
    val df = spark.read.option("header", "true").csv(path)
    DestinationSchemas.castNonString(DestinationSchemas.prune(df, dt), dt)
  }

  /** ORC scan + schema-regex pruning. Beyond the reference's csv/parquet
    * pair (`file_data_source.py:182-219`): ORC is the other columnar
    * landing format a warehouse hands us; same pruning/pushdown contract as
    * parquet (Catalyst pushes `ReadSchema`/`PushedFilters` to the ORC
    * reader).
    */
  def readOrc(spark: SparkSession, path: String, dt: DestinationType): DataFrame =
    DestinationSchemas.prune(spark.read.orc(path), dt)

  /** JSON-lines scan with an explicit schema (schema inference reads the
    * whole input TWICE — never at 100 TB; callers pass the schema or
    * sample-derive it once). Pruned per destination schema like the other
    * formats.
    */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType,
      dt: DestinationType): DataFrame =
    DestinationSchemas.prune(spark.read.schema(schema).json(path), dt)
}

/** `_uploaded` control table on parquet (reference keeps it in BigQuery with
  * 15-day partition expiration, `big_query_data_source.py:118-148`, or as a
  * sibling `<base>_uploaded.<ext>` file, `file_data_source.py:94-154`).
  *
  * Semantics preserved:
  *  - read-missing-as-empty (`file_provider.py` can_skip_read)
  *  - 15-day retention applied at read (`file_data_source.py:140-147`)
  *  - append-only writeback of (key columns, now) for successful rows
  *  - ORDER_ID_TIME writes ALL key columns (the reference drops `time` on
  *    writeback, `file_data_source.py:109` — a documented reference bug we
  *    do not reproduce).
  */
final case class UploadedLog(spark: SparkSession, path: String, tt: TransactionalType) {

  private def schema: StructType =
    StructType(StructField("timestamp", TimestampType) +:
      tt.keyColumns.map(StructField(_, StringType)))

  def read(): DataFrame = {
    // Path.getFileSystem, not FileSystem.get(new URI(...)): a path with a
    // space or other URI-reserved character would throw URISyntaxException
    // even though Spark itself reads it fine
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      graft.transform.Transforms.retentionFilter(spark.read.schema(schema).parquet(path))
    else
      // LocalRelation-backed empty frame: carries ACCURATE zero-size stats,
      // so the downstream anti-join broadcast gate sees "tiny" (an
      // emptyRDD-backed frame reports unknown/max size and would force the
      // first run — no log yet — into a full shuffle of the source). No
      // retention filter: it has nothing to drop, and its `now - 15 days`
      // literal would make Spark generate (and compile) a fresh predicate
      // class on every run.
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** Append successfully-uploaded keys with the current timestamp, taken
    * once at append time (after every send of the run).
    * Serialized per path: two concurrently-running branches can share one
    * control table (same source, same key type), and concurrent append jobs
    * to one directory race on the output committer's staging dir.
    *
    * The timestamp is set by a row mapping whose closure captures it, never
    * as a Catalyst literal (`current_timestamp()`, `lit(now)`): Spark
    * inlines timestamp literals into the generated Java, so each run would
    * compile a new class and churn the codegen cache. This way the
    * writeback plan is the same in every run.
    */
  def append(successful: DataFrame): Unit = {
    if (tt.keyColumns.nonEmpty) {
      UploadedLog.lockFor(path).synchronized {
        val stamp = java.time.Instant.now()
        // lenient: takes the Instant whatever spark.sql.datetime.java8API is
        val stamped = ExpressionEncoder(schema, lenient = true)
        successful
          .select(tt.keyColumns.map(c => col(c).cast(StringType).as(c)): _*)
          .map(r => Row.fromSeq(stamp +: r.toSeq))(stamped)
          .write.mode("append").parquet(path)
      }
    }
  }
}

object UploadedLog {
  private val pathLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** In-JVM per-path lock shared by everything that appends to an
    * append-only parquet log (the `_uploaded` control table, the dedup
    * digest log): serializes the read→check→append window so concurrent
    * same-path writers in one driver can neither admit duplicates nor race
    * on the output committer's staging directory. Cross-driver concurrency
    * still needs an external arbiter (a lock service or a transactional
    * table format) — same single-writer assumption the reference's control
    * table has.
    */
  private[graft] def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(path, _ => new Object)
}
