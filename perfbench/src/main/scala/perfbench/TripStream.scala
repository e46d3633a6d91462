package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.TripModel
import graft.sinks.JdbcUpsertSink
import graft.streaming.SessionPipeline
import graft.streaming.SessionPipeline.Reading
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference topology: OBD-II JSON lines in a `MemoryStream`,
  * `TripModel.parseRaw`, GPS readings of `TripData` messages,
  * `SessionPipeline.statefulTripAggregate` with the reference's 10 ms /
  * 4 s retention, and `JdbcUpsertSink.writeBatch` into embedded Derby.
  *
  * The input log is replayed as a backlog in fixed micro-batches of
  * `--batch-lines` lines: add one batch, wait until it commits, repeat.
  * Batch contents therefore depend only on the log, not on timing.
  */
final class TripStream(opts: Opts) extends Workload {
  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val batchLines = opts.int("batch-lines")
  private val warmBatches = opts.int("warm-batches")
  private var lines: Array[String] = _
  private var next = 0 // index of the next batch to submit
  private var input: MemoryStream[String] = _
  private var query: StreamingQuery = _
  // The tracer of the current phase and the span of the batch being
  // submitted, which stream-thread spans hang under; set by `measure`.
  @volatile private var currentTracer: Tracer = _
  @volatile private var batchSpan: Option[Int] = None
  private val sinkRows = new java.util.concurrent.atomic.AtomicLong()

  private val url = "jdbc:derby:memory:trips"
  private def nBatches: Int = lines.length / batchLines
  private def batch(i: Int): Seq[String] =
    lines.slice(i * batchLines, (i + 1) * batchLines).toSeq

  def load(): Unit =
    lines = Files.readAllLines(Paths.get(opts("input")), StandardCharsets.UTF_8)
      .asScala.toArray

  /** First action on the input: a static parse of the warm-up lines. */
  def firstScan(spark: SparkSession): Unit = {
    import spark.implicits._
    TripModel.parseRaw(batch(0).toDF("raw"), "raw").count()
  }

  def warmUp(spark: SparkSession): Unit = {
    start(spark)
    while (next < warmBatches) submit()
  }

  private def start(spark: SparkSession): Unit = {
    import spark.implicits._
    Class.forName(Driver)
    val conn = DriverManager.getConnection(url + ";create=true")
    conn.createStatement().execute(
      "CREATE TABLE trips (trip_key BIGINT PRIMARY KEY, n_events BIGINT, " +
        "start_s BIGINT, end_s BIGINT, stopped_s BIGINT, distance_km DOUBLE)")
    conn.close()

    implicit val sqlCtx = spark.sqlContext
    input = MemoryStream[String]
    val parsed = TripModel.parseRaw(input.toDF().withColumnRenamed("value", "raw"), "raw")
    val readings = parsed
      .filter(col("event_type") === "TripData" && col("lat").isNotNull && col("lon").isNotNull)
      .select(
        col("trip_id").as("user_id"),
        unix_timestamp(col("ts")).as("tsec"),
        col("lat"), col("lon"),
        coalesce(col("speed_kmh"), lit(0.0)).as("speed"),
        lit(0.0).as("value"))
      .as[Reading]
    val sessions = SessionPipeline.statefulTripAggregate(readings,
      maxRetentionMs = 4000, minRetentionMs = 10)
    val sink = new JdbcUpsertSink(url = url, driver = Driver, table = "trips",
      keyCols = Seq("trip_key"),
      valCols = Seq("n_events", "start_s", "end_s", "stopped_s", "distance_km"),
      dialect = "derby")
    val write: (DataFrame, Long) => Unit = { (df, id) =>
      val tracer = currentTracer
      val parent = batchSpan
      if (tracer != null && tracer.active && parent.isDefined) {
        // Traced, inside a submitted batch: materialise the batch first,
        // so that the sink span holds the JDBC writes alone and the row
        // count is known. A no-data batch that starts between two
        // submissions runs untraced; its time falls to the next batch.
        df.persist()
        tracer.span("streaming.compute", parent)(sinkRows.addAndGet(df.count()))
        tracer.span("sinks.write", parent)(sink.writeBatch(df, id))
        df.unpersist()
      } else sink.writeBatch(df, id)
    }
    query = sessions
      .select(col("user_id").as("trip_key"), col("n_events"), col("start_s"),
        col("end_s"), col("stopped_s"), col("distance_km"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${opts.work}/checkpoint")
      .foreachBatch(write)
      .start()
  }

  private def submit(): Unit = {
    val offset = input.addData(batch(next))
    org.apache.spark.sql.PerfbenchAccess.awaitCommit(query, offset, 60000L)
    next += 1
  }

  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Phase = {
    currentTracer = tracer
    val ops = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var failed = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds && next < nBatches) {
      val b0 = System.nanoTime()
      tracer.span("streaming.batch") {
        batchSpan = tracer.currentSpan
        try submit()
        catch { case e: Exception => failed += 1; Main.note(s"batch $next failed: $e"); next += 1 }
        batchSpan = None
      }
      ops += (System.nanoTime() - b0) / 1e6
    }
    Phase(ops.toSeq, ops.length.toLong * batchLines, (System.nanoTime() - t0) / 1e9, failed)
  }

  def probe(spark: SparkSession, tracer: Tracer, out: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    val prog = tracer.progress.toSeq
    val data = prog.filter(_.inputRows > 0)
    def p50(f: BatchProgress => Double): Double = Main.median(data.map(f))
    out("streaming.data_batches") = data.length
    out("streaming.empty_batches") = prog.length - data.length
    out("streaming.add_batch_ms_p50") = p50(_.durations.getOrElse("addBatch", 0L).toDouble)
    out("streaming.planning_ms_p50") = p50(_.durations.getOrElse("queryPlanning", 0L).toDouble)
    out("streaming.wal_commit_ms_p50") = p50(_.durations.getOrElse("walCommit", 0L).toDouble)
    out("streaming.state_commit_ms_p50") = p50(_.stateCommitMs.toDouble)
    out("streaming.state_rows_max") = if (prog.isEmpty) 0L else prog.map(_.stateRows).max
    out("streaming.state_mem_mb_max") =
      if (prog.isEmpty) 0.0 else prog.map(_.stateMemBytes).max / 1e6
    val writes = tracer.spansNamed("sinks.write").map(_.seconds * 1e3)
    out("sinks.write_ms_p50") = Main.median(writes)
    out("sinks.write_ms_total") = writes.sum
    out("sinks.rows_written") = sinkRows.get()
    out("sinks.jobs") = tracer.jobsIn("sinks.write")
    // The parser alone, on the first data batches, each to the noop sink.
    val parseMs = (warmBatches until math.min(next, warmBatches + 20)).map { i =>
      val t0 = System.nanoTime()
      TripModel.parseRaw(batch(i).toDF("raw"), "raw").write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    out("model.parse_ms") = Main.median(parseMs)
  }

  /** Waits until every open trip has timed out into the sink, then
    * writes the sink rows and the parser's row counts.
    */
  def dump(spark: SparkSession, out: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    val deadline = System.nanoTime() + 60L * 1000000000L
    Thread.sleep(4500)
    def openTrips: Long = Option(query.lastProgress)
      .flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(1L)
    while (openTrips > 0 && System.nanoTime() < deadline) Thread.sleep(200)
    query.stop()
    val submitted = next * batchLines
    val rowsOut = TripModel.parseRaw(lines.take(submitted).toSeq.toDF("raw"), "raw").count()
    out("submitted_lines") = submitted
    out("batch_lines") = batchLines
    out("model.rows_out") = rowsOut
    out("model.malformed_dropped") = submitted - rowsOut
    out("open_trips_left") = openTrips
    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement().executeQuery(
      "SELECT trip_key, n_events, start_s, end_s, stopped_s, distance_km FROM trips")
    val w = Files.newBufferedWriter(Paths.get(s"${opts.work}/trip_rows.tsv"))
    while (rs.next())
      w.write(s"${rs.getLong(1)}\t${rs.getLong(2)}\t${rs.getLong(3)}\t${rs.getLong(4)}\t" +
        s"${rs.getLong(5)}\t${rs.getDouble(6)}\n")
    w.close()
    conn.close()
  }

  def teardown(): Unit = {
    if (query != null) query.stop()
    query = null
    try DriverManager.getConnection(url + ";drop=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing
  }
}
