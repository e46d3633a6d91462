package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch work in passes, closed loop: a fixed, domain-stratified sample
  * of `SparkEntry.queries` over the tables in `--tables`, each built and
  * run to the `noop` sink, plus one run per pass of the corpus dedup
  * pipeline over the seeded corpus. The seed orders every pass. Items run
  * until `seconds` have passed and at least one whole pass is done.
  */
final class QueryMix(opts: Opts) extends Workload {
  private val DedupOp = "corpus_dedup"
  private val dir = opts("tables")
  private val rng = new scala.util.Random(opts("seed").toLong)
  private val dedup = new CorpusDedup(opts)
  private var sample: Seq[String] = Nil
  private val buildS = mutable.ArrayBuffer.empty[Double]

  /** Reads the sample file: one `domain<TAB>query` line per query. */
  def load(): Unit = {
    sample = Files.readAllLines(Paths.get(opts("queries")), StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")(1)).toSeq
    val unknown = sample.filterNot(graft.SparkEntry.oracleSql.contains)
    require(unknown.isEmpty, s"queries without an oracle: ${unknown.mkString(", ")}")
  }

  def firstScan(spark: SparkSession): Unit = {
    graft.GraftSession.table(spark, dir, "lineitem").count()
    dedup.scan(spark)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Warms the JVM with two untimed passes over the sample, each with a
    * dedup run: after one pass, the first timed run of an item was still
    * about a quarter slower than its later runs.
    */
  def warmUp(spark: SparkSession): Unit = (1 to 2).foreach { _ =>
    sample.foreach(q => noop(graft.SparkEntry.queries(q)(spark, dir)))
    dedup.warm()
  }

  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Phase = {
    val ops = mutable.ArrayBuffer.empty[Double]
    val labels = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var items = 0L
    val pass = mutable.Queue.empty[String]
    val t0 = System.nanoTime()
    // At least one whole pass, then items until the time is up.
    while (ops.length <= sample.length || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (pass.isEmpty) pass ++= rng.shuffle(sample :+ DedupOp)
      val name = pass.dequeue()
      val q0 = System.nanoTime()
      try {
        if (name == DedupOp) dedup.runOnce(tracer)
        else {
          val df = tracer.span("queries.build")(graft.SparkEntry.queries(name)(spark, dir))
          val q1 = System.nanoTime()
          tracer.span("spark.action")(noop(df))
          if (tracer.active) buildS += (q1 - q0) / 1e9
        }
        items += 1
      } catch {
        case e: Exception => failed += 1; Main.note(s"$name failed: $e")
      }
      ops += (System.nanoTime() - q0) / 1e6
      labels += name
    }
    Phase(ops.toSeq, items, (System.nanoTime() - t0) / 1e9, failed, labels.toSeq)
  }

  def probe(spark: SparkSession, tracer: Tracer, out: mutable.Map[String, Any]): Unit = {
    val builds = tracer.spansNamed("queries.build")
    out("queries.build_s") = Main.median(buildS.toSeq)
    out("queries.build_jobs") =
      if (builds.isEmpty) 0.0 else tracer.jobsIn("queries.build").toDouble / builds.length
    // The timed action of each sampled query is its noop write, which the
    // listener reports as "overwrite".
    val timed = tracer.actions.filter(_._1 == "overwrite").toSeq
    out("plans.optimize_ms") = Main.median(timed.map(_._2))
    out("plans.physical_ms") = Main.median(timed.map(_._3))
    dedup.probe(tracer, out)
  }

  /** Writes each sampled query's result as parquet next to its oracle
    * SQL, and the dedup outputs of both paths. */
  def dump(spark: SparkSession, out: mutable.Map[String, Any]): Unit = {
    val qdir = s"${opts.work}/query_out"
    val failed = mutable.ArrayBuffer.empty[String]
    sample.distinct.foreach { name =>
      try graft.SparkEntry.queries(name)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"$qdir/$name")
      catch { case e: Exception => failed += name; Main.note(s"$name failed: $e") }
    }
    val oracle = sample.distinct.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    Files.write(Paths.get(s"$qdir/oracle_sql.json"), Json(oracle).getBytes(StandardCharsets.UTF_8))
    out("query_dir") = qdir
    out("failed_queries") = failed.toSeq
    dedup.dump(out)
  }

  def teardown(): Unit = ()
}
