package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Timed operations of one measurement phase. */
final case class Phase(opsMs: Seq[Double], items: Long, wallS: Double, failedOps: Int,
    labels: Seq[String] = Nil)

/** One benchmark workload. The harness calls these in order: `load`
  * (input files into memory, untimed), `firstScan` and `warmUp` (set-up),
  * `measure` once per phase, `probe` in traced runs, `dump`, and
  * `teardown`.
  */
trait Workload {
  def load(): Unit
  def firstScan(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Phase
  /** Per-layer figures that need work outside the timed region. */
  def probe(spark: SparkSession, tracer: Tracer, out: mutable.Map[String, Any]): Unit
  /** Writes the outputs the checker compares and records facts about them in `out`. */
  def dump(spark: SparkSession, out: mutable.Map[String, Any]): Unit
  def teardown(): Unit
}

/** Options shared by every workload, parsed from `--key value` pairs. */
final case class Opts(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  def work: String = apply("work")
}

object Main {
  private def nowS: Double = System.nanoTime() / 1e9

  /** Progress line on stderr (the JVM log). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${java.time.LocalTime.now()} $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val opts = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val traced = opts("trace") == "1"
    val seconds = opts.double("seconds")
    val cores = opts.int("cores")
    val workload: Workload = opts("workload") match {
      case "trip_stream" => new TripStream(opts)
      case "query_mix" => new QueryMix(opts)
      case w => sys.error(s"unknown workload $w")
    }
    // Set-up, once per process: JVM start-up, session build, first scan
    // and workload warm-up. Reading the input files is left out.
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = mutable.LinkedHashMap.empty[String, Any]
    workload.load()
    val t0 = nowS
    val spark = graft.GraftSession.build("perfbench", s"local[$cores]")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = nowS
    workload.firstScan(spark)
    val t2 = nowS
    workload.warmUp(spark)
    val t3 = nowS
    note(f"set-up: ${bootS + t3 - t0}%.2f s")
    out("setup_s") = bootS + (t3 - t0)
    out("session.build_ms") = (t1 - t0) * 1e3
    out("session.first_scan_ms") = (t2 - t1) * 1e3

    // Measurement: one untraced phase; a traced run adds a second,
    // traced phase of the same length after registering the listeners.
    val tracer = new Tracer(traced)
    val phases = mutable.ArrayBuffer.empty[Phase]
    val untracedS = if (traced) seconds / 2 else seconds
    phases += workload.measure(spark, untracedS, tracer)
    note(s"measured ${phases.last.opsMs.length} operations")
    if (traced) {
      tracer.attach(spark)
      phases += tracer.span("run")(workload.measure(spark, seconds - untracedS, tracer))
      tracer.detach()
      tracer.writeSpans(s"${opts.work}/spans.tsv")
      val wall = tracer.spansNamed("run").head.seconds
      val totals = tracer.sparkTotals.withDefaultValue(0.0)
      out("spark.jobs") = totals("jobs")
      out("spark.stages") = totals("stages")
      out("spark.tasks") = totals("tasks")
      out("spark.busy_share") = totals("run_ms") / 1e3 / (cores * wall)
      out("spark.cpu_s") = totals("cpu_ns") / 1e9
      out("spark.gc_s") = totals("gc_ms") / 1e3
      out("spark.shuffle_write_mb") = totals("shuffle_write_b") / 1e6
      out("spark.shuffle_read_mb") = totals("shuffle_read_b") / 1e6
      out("spark.spill_mb") = totals("spill_b") / 1e6
      workload.probe(spark, tracer, out)
    }
    out("phases") = phases.map { p =>
      Map("ops_ms" -> p.opsMs, "items" -> p.items, "wall_s" -> p.wallS, "failed_ops" -> p.failedOps,
        "labels" -> p.labels)
    }.toSeq

    val check = mutable.LinkedHashMap.empty[String, Any]
    workload.dump(spark, check)
    note("outputs written")
    out("check") = check
    workload.teardown()
    out("env") = Map(
      "spark_version" -> spark.version,
      "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    spark.stop()
    out("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(opts("out")), Json(out).getBytes(StandardCharsets.UTF_8))
  }

  /** High-water resident set size of this process (Linux). */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
