package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + test-table loaders.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), one shuffle partition per thread of a local
  * master (on a real cluster Spark's own setting applies). All loaders
  * are plain parquet scans so Catalyst pushes filters/projections into
  * the reader.
  */
object GraftSession {

  /** The one session factory: every main and the test suite build
    * their session here.
    */
  def build(appName: String = "graft", master: String = "local[*]"): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    localThreads(master).foreach(n => builder.config("spark.sql.shuffle.partitions", n))
    builder.getOrCreate()
  }

  private val LocalN = """local\[(\d+|\*)\]""".r

  /** Worker threads of a `local[N]` or `local[*]` master. */
  private def localThreads(master: String): Option[Long] = master match {
    case LocalN("*") => Some(Runtime.getRuntime.availableProcessors().toLong)
    case LocalN(n) => Some(n.toLong)
    case _ => None
  }

  /** All driver-generated test tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Parquet schema per table PATH, inferred once per JVM. Every bare
    * `spark.read.parquet(path)` runs a footer-inference JOB (tens of
    * ms of scheduler latency) before the real scan; across a bench
    * pass that is hundreds of constant-cost jobs (guide §1.2 — the
    * round-13 "191 sub-second queries ≈ 119 s of fixed overhead"
    * finding). The schema of a test table never changes within a run
    * (clone regeneration rewrites rows, not columns), so infer once
    * and pass it explicitly; the file LISTING deliberately stays
    * per-read so rewritten clone dirs are never served stale. At
    * warehouse scale this is the same discipline as reading through a
    * catalog instead of sampling footers per query.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  /** Raw file read, no column normalization (streaming sources need
    * the on-disk schema verbatim for `readStream.schema`). */
  def rawTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // Some testdata generations ship events.ts as TIMESTAMP(NANOS)
      // parquet, which Spark 4 refuses by default; read those files
      // as a bigint of epoch-nanos. (Micros-timestamp generations are
      // unaffected by this conf.)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The driver has shipped events.ts under two physical types across
    * testdata generations: TIMESTAMP(NANOS) (read as epoch-nanos LONG
    * via nanosAsLong) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    * All downstream event-time logic works on an epoch-nanos BIGINT
    * (`ts DIV 1e9` → whole seconds), so normalize whatever the file
    * carries to that one contract. Session TZ is UTC, so the NTZ→LTZ
    * cast is shift-free and `unix_micros` is the exact wall-time line.
    */
  def normalizeEvents(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.TimestampType =>
      df.withColumn("ts",
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    case _ => df // already epoch-nanos long
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = rawTable(spark, dir, name)
    if (name == "events") normalizeEvents(df) else df
  }

  /** Register every test table as a temp view for spark.sql use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
