package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.operators.{ConnectedComponents, MinHashLSH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate removal over a seeded corpus: `MinHashLSH.nearDupGraph`,
  * `ConnectedComponents.clustersFromQuotient`, then the keep set (every
  * document that is not a non-minimal cluster member). Runs alternate
  * between the corpus with its exact clones (the clone-collapse path)
  * and the corpus without them (the organic path).
  */
final class CorpusDedup(opts: Opts) {
  private val threshold = opts.double("threshold")
  private var cloned: DataFrame = _
  private var organic: DataFrame = _
  private var nClone = 0L
  private var nOrganic = 0L

  private var runs = 0
  // The outputs of the latest run of each path, already checkpointed.
  private val latest = mutable.Map.empty[String, (DataFrame, DataFrame, DataFrame, Long)]

  /** Reads the corpus of `--corpus` and counts both paths. */
  def scan(spark: SparkSession): Unit = {
    val all = spark.read.parquet(opts("corpus")).select("doc_id", "text", "is_clone")
    cloned = all.select("doc_id", "text")
    organic = all.filter(!col("is_clone")).select("doc_id", "text")
    nClone = cloned.count()
    nOrganic = organic.count()
  }

  /** (rep-level pairs, clone groups, cluster labels, keep count). */
  private def run(docs: DataFrame, tracer: Tracer): (DataFrame, DataFrame, DataFrame, Long) = {
    val (pairs, groups) = tracer.span("operators.lsh") {
      val (p, g) = MinHashLSH.nearDupGraph(docs, "doc_id", "text", threshold)
      (p.localCheckpoint(true), g.localCheckpoint(true))
    }
    val clusters = tracer.span("operators.cc") {
      ConnectedComponents.clustersFromQuotient(pairs.select("id_a", "id_b"), groups)
        .localCheckpoint(true)
    }
    val keep = tracer.span("operators.keep") {
      docs.select("doc_id")
        .join(clusters.filter(col("id") =!= col("cluster_id")),
          col("doc_id") === col("id"), "left_anti")
        .count()
    }
    (pairs, groups, clusters, keep)
  }

  /** One untimed run of the clone path. */
  def warm(): Unit = run(cloned, Tracer.Off)

  /** One pipeline run on the next path. */
  def runOnce(tracer: Tracer): Unit = {
    val (path, docs) = if (runs % 2 == 0) ("clone", cloned) else ("organic", organic)
    runs += 1
    latest(path) = tracer.span(s"operators.dedup_$path")(run(docs, tracer))
  }

  /** Per-layer figures of the traced runs, plus the kernels and pair
    * counts measured alone. */
  def probe(tracer: Tracer, out: mutable.Map[String, Any]): Unit = {
    def perOp(name: String): Double = Main.median(tracer.spansNamed(name).map(_.seconds))
    val runs = tracer.spansNamed("operators.lsh").length.max(1)
    out("operators.lsh_s") = perOp("operators.lsh")
    out("operators.cc_s") = perOp("operators.cc")
    out("operators.cc_jobs") = tracer.jobsIn("operators.cc").toDouble / runs
    out("operators.lsh_bucket_cap_rows") = tracer.observed("graft_lsh_bucket_cap")
    // The shingle and MinHash kernels alone, over the organic corpus.
    val sig = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      MinHashLSH.withMinHashes(MinHashLSH.withShingles(organic, "text"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    out("functions.signature_s") = Main.median(sig)
    // Candidate and verified pair counts on the organic corpus, where
    // every document is its own clone-group representative.
    val grams = MinHashLSH.withMinHashes(MinHashLSH.withShingles(organic, "text")
      .filter(size(col("grams")) > 0))
    val candidates = MinHashLSH.candidatePairs(grams, "doc_id", Some(100000)).count()
    val verified = MinHashLSH.nearDupGraph(organic, "doc_id", "text", threshold)._1.count()
    out("operators.lsh_candidates") = candidates
    out("operators.lsh_verified") = verified
    out("operators.lsh_yield") = if (candidates == 0) 0.0 else verified.toDouble / candidates
    val groups = MinHashLSH.nearDupGraph(cloned, "doc_id", "text", threshold)._2
    out("operators.clone_rep_share") =
      groups.select("rep_id").distinct().count().toDouble / nClone
  }

  /** Writes pairs, groups and labels of the latest run of each path,
    * running a path first if the timed runs never reached it. */
  def dump(out: mutable.Map[String, Any]): Unit =
    Seq("clone" -> cloned, "organic" -> organic).foreach { case (path, docs) =>
      val (pairs, groups, clusters, keep) = latest.getOrElseUpdate(path, run(docs, Tracer.Off))
      val dir = s"${opts.work}/dedup_$path"
      Files.createDirectories(Paths.get(dir))
      def tsv(df: DataFrame, name: String): Unit = {
        val w = Files.newBufferedWriter(Paths.get(s"$dir/$name.tsv"))
        df.collect().foreach(r => w.write(r.toSeq.mkString("\t") + "\n"))
        w.close()
      }
      tsv(pairs.select("id_a", "id_b", "jaccard"), "pairs")
      tsv(groups.select("rep_id", "member_id"), "groups")
      tsv(clusters.select("id", "cluster_id"), "clusters")
      out(s"dedup_${path}_keep") = keep
      out(s"dedup_${path}_docs") = if (path == "clone") nClone else nOrganic
    }
}
