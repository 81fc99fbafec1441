package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Reads are plain parquet scans so Catalyst gets full pushdown/pruning;
  * at cluster scale the same queries run over versioned tables resolved by
  * [[graft.spark.VersionedReader]] (reference read model:
  * `examples/src/main/scala/com/gu/tableversions/examples/TableLoader.scala:37-38`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    // events.parquet has carried TIMESTAMP(NANOS) (which Spark 4 rejects
    // unless nanos are read back as LONG) and, in regenerated drops,
    // plain µs timestamps; `normalizeEvents` pins either to the corpus
    // contract. One-way idempotent init (never toggled back), so
    // concurrent loads can't race a save/restore window or leak a
    // transient state.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(nanosKey).contains("true")) spark.conf.set(nanosKey, "true")
    // schema cached per path (immutable test files): every bare
    // `spark.read.parquet` pays one footer-inference Spark job, and the
    // bench re-loads these tables hundreds of times per session
    val path = s"$sfDir/$table.parquet"
    val schema = schemas.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (table == "events") normalizeEvents(df) else df
  }

  /** The corpus contract for event time: `ts` is LONG NANOS since epoch.
    * A testdata drop storing `ts` as a (µs) timestamp instead is converted
    * on load — the session zone is pinned to UTC everywhere this engine
    * builds a session, so the NTZ→LTZ cast is the identity reading DuckDB's
    * `epoch_ns(ts)` agrees with. */
  def normalizeEvents(df: DataFrame): DataFrame =
    if (df.columns.contains("ts") &&
      df.schema("ts").dataType != org.apache.spark.sql.types.LongType)
      df.withColumn(
        "ts", org.apache.spark.sql.functions.expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    else df

  /** Microsecond-precision timestamp from a nanos-as-long timestamp column.
    * Integer `div` — a double-routed division loses µs precision at
    * 1e18-scale nanosecond values. */
  def tsTimestamp(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(s"timestamp_micros($colName div 1000)")
}
