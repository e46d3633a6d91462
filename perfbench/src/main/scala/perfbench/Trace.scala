package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: name, wall interval and parent. The layer is the
  * name's prefix before the first dot (`sinks.write` -> `sinks`).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-batch figures from `StreamingQueryProgress`. */
final case class BatchProgress(inputRows: Long, durations: Map[String, Long],
    stateRows: Long, stateMemBytes: Long, stateCommitMs: Long)

/** Span recorder plus the three Spark listeners of a traced run.
  *
  * Until [[attach]] runs, and always when `enabled` is false, every
  * method is a plain call-through and no listener is registered, so
  * untraced measurements see the program alone. Spans stay in memory
  * until [[writeSpans]] writes them out at the end of the run. Spark jobs
  * are attributed to the innermost span of the thread that submitted them
  * through the `perfbench.span` local property.
  */
final class Tracer(val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var spark: SparkSession = _

  // Listener state, written from the listener bus thread.
  private val taskTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val spanJobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private var stages = 0
  val actions = mutable.ArrayBuffer.empty[(String, Double, Double)] // (func, optimize ms, physical ms)
  val observed = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val progress = mutable.ArrayBuffer.empty[BatchProgress]

  /** True between [[attach]] and [[detach]], while listeners and spans record. */
  @volatile var active = false

  /** Registers the listeners on `s` and starts recording spans; a
    * no-op when tracing is off.
    */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    active = true
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(queryListener)
    s.streams.addListener(streamListener)
  }

  /** Stops recording: waits for the queued listener events, removes the
    * listeners and ends span recording. Figures read afterwards cover
    * only the traced phase.
    */
  def detach(): Unit = if (active) {
    drain()
    active = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has delivered every queued event. */
  private def drain(): Unit = {
    org.apache.spark.sql.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    Thread.sleep(200) // the SQL and streaming buses forward asynchronously
    org.apache.spark.sql.PerfbenchAccess.drainListenerBus(spark.sparkContext)
  }

  /** Runs `body` inside a span. `parent` overrides the calling thread's
    * innermost span (for work that runs on another thread).
    */
  def span[T](name: String, parent: Option[Int] = None)(body: => T): T =
    if (!active) body
    else {
      val stack = current.get()
      val p = parent.getOrElse(stack.headOption.getOrElse(-1))
      val s = spans.synchronized {
        val sp = Span(spans.length, name, p, System.nanoTime())
        spans += sp
        sp
      }
      current.set(s.id :: stack)
      val sc = spark.sparkContext
      val before = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(stack)
        sc.setLocalProperty(SpanProp, before)
      }
    }

  /** The innermost open span of the calling thread, if any. */
  def currentSpan: Option[Int] = if (active) current.get().headOption else None

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanJobs(spanOf(e.properties)) += 1
      taskTotals("jobs") += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        taskTotals("tasks") += 1
        taskTotals("run_ms") += m.executorRunTime
        taskTotals("cpu_ns") += m.executorCpuTime
        taskTotals("gc_ms") += m.jvmGCTime
        taskTotals("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
        taskTotals("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
        taskTotals("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val obs = qe.observedMetrics
      Tracer.this.synchronized {
        actions += ((funcName, ms("optimization"), ms("planning")))
        obs.foreach { case (name, row: Row) =>
          (0 until row.length).foreach { i =>
            row.get(i) match {
              case n: java.lang.Number => observed(name) += n.longValue()
              case _ =>
            }
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      Tracer.this.synchronized {
        progress += BatchProgress(p.numInputRows, durations,
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.commitTimeMs).getOrElse(0L))
      }
    }
  }

  /** Spans whose name is `name`, closed ones only. */
  def spansNamed(name: String): Seq[Span] =
    spans.synchronized(spans.filter(s => s.name == name && s.endNs > 0).toSeq)

  /** Jobs submitted under any span named `name` (not its children). */
  def jobsIn(name: String): Int = synchronized {
    spansNamed(name).map(s => spanJobs(s.id)).sum
  }

  def sparkTotals: Map[String, Double] = synchronized {
    taskTotals.toMap + ("stages" -> stages.toDouble)
  }

  /** Writes every closed span as `id<TAB>parent<TAB>name<TAB>start_ns<TAB>end_ns`. */
  def writeSpans(path: String): Unit = spans.synchronized {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    spans.filter(_.endNs > 0).foreach { s =>
      w.write(s"${s.id}\t${s.parent}\t${s.name}\t${s.startNs}\t${s.endNs}\n")
    }
    w.close()
  }
}

object Tracer {
  /** A tracer that never records: for untimed helper runs. */
  val Off = new Tracer(false)
}
