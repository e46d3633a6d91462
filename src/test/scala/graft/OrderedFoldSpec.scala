package graft

import graft.streaming.SessionPipeline
import graft.streaming.SessionPipeline.{FoldEvent, OrderedFold}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The ordered-fold engine's emission contract, as a property over all
  * six folds: whatever the micro-batch split and however arrivals are
  * permuted within the watermark delay, the final row per key equals a
  * plain Scala fold over that key's rows strictly below the final
  * watermark. The generated keys are active in different stretches of
  * event time, so a key often sits out batches while the others move
  * the watermark past its timer.
  */
class OrderedFoldSpec extends SparkTestBase {
  import spark.implicits._

  private val DelayS = 50L

  /** A multi-key event log in arrival order, cut into micro-batches. */
  private val genBatches: Gen[Seq[Seq[FoldEvent[Long]]]] = for {
    nKeys <- Gen.choose(2, 4)
    perKey <- Gen.listOfN(nKeys, for {
      start <- Gen.choose(0L, 1500L)
      span <- Gen.choose(50L, 800L)
      n <- Gen.choose(3, 45)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(start, start + span),
        Gen.frequency(9 -> Gen.choose(-20000L, 20000L),
          1 -> Gen.choose(60000L, 100000L))))
    } yield rows)
    log = perKey.zipWithIndex.flatMap { case (rows, k) =>
      rows.map { case (t, v) => (k.toLong + 1, t, v) } }
      .zipWithIndex.map { case ((k, t, v), id) => FoldEvent(k, id.toLong, t, v) }
    jitter <- Gen.listOfN(log.size, Gen.choose(0L, DelayS - 1))
    // arriving by tsec + jitter, no row comes after one more than the
    // delay ahead of it, so the watermark never drops a row as late
    arrival = log.zip(jitter).sortBy { case (e, j) => e.tsec + j }.map(_._1)
    nCuts <- Gen.choose(0, 5)
    cuts <- Gen.listOfN(nCuts, Gen.choose(1, arrival.size - 1))
  } yield {
    val bounds = (0 +: cuts.distinct.sorted :+ arrival.size)
    bounds.zip(bounds.tail).map { case (a, b) => arrival.slice(a, b) }
  }

  /** The plain fold: each key's rows in (tsec, event_id) order. */
  private def batchFold[K, O <: Product](fold: OrderedFold[K, O],
      key: Long => K, v: Long => Long)(rows: Seq[FoldEvent[Long]]): Set[Row] =
    rows.groupBy(_.key).map { case (k, rs) =>
      val acc = fold.zero.clone()
      rs.sortBy(r => (r.tsec, r.event_id))
        .foreach(r => fold.step(acc, r.tsec, r.event_id, v(r.v)))
      Row.fromSeq(fold.emit(key(k), acc).productIterator.toSeq)
    }.toSet

  /** Streams the batches through all six folds at once and returns,
    * per fold, the mismatch between its latest row per key (every
    * output row is (key, count, ...), the count growing with each
    * emission) and the plain fold below the final watermark.
    */
  private def mismatches(batches: Seq[Seq[FoldEvent[Long]]]): Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[FoldEvent[Long]]
    val ds = ms.toDS()
    val byType = ds.map(e => FoldEvent(e.key.toString, e.event_id, e.tsec, e.v))
    val outcome = ds.map(e => e.copy(v = math.floorMod(e.v, 2L)))
    val bit = (v: Long) => math.floorMod(v, 2L)
    val str = (k: Long) => k.toString
    import SessionPipeline._
    val lanes: Seq[(String, Dataset[_], Seq[FoldEvent[Long]] => Set[Row])] = Seq(
      ("balance", statefulBalanceFold(ds, DelayS),
        batchFold(statefulBalanceFold, identity, identity)),
      ("debounce", statefulDebounceFold(ds, DelayS),
        batchFold(statefulDebounceFold, identity, identity)),
      ("zscore", statefulAnomalyFold(byType, DelayS),
        batchFold(statefulAnomalyFold, str, identity)),
      ("conformal", statefulConformalFold(byType, DelayS),
        batchFold(statefulConformalFold, str, identity)),
      ("page_hinkley", statefulPageHinkley(byType, DelayS),
        batchFold(statefulPageHinkley, str, identity)),
      ("sprt", statefulSprt(outcome, DelayS),
        batchFold(statefulSprt, identity, bit)))
    // one state partition per fold: the logs are tiny, and each extra
    // partition costs every micro-batch another state-store task
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val queries =
      try lanes.map { case (name, out, _) =>
        out.writeStream.format("memory").outputMode("update")
          .queryName(s"ordered_fold_${name}_${System.nanoTime()}").start()
      }
      finally spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
    try {
      batches.foreach { b =>
        ms.addData(b)
        queries.foreach(_.processAllAvailable())
      }
      val all = batches.flatten
      val finalWm = all.map(_.tsec).max - DelayS
      val below = all.filter(_.tsec < finalWm)
      lanes.zip(queries).flatMap { case ((name, _, expect), q) =>
        val latest = spark.table(q.name).collect().toSeq
          .groupBy(_.get(0)).values.map(_.maxBy(_.getLong(1))).toSet
        val want = expect(below)
        if (latest == want) None
        else Some(s"$name: streamed ${latest.toSeq.sortBy(_.toString)}" +
          s" vs batch ${want.toSeq.sortBy(_.toString)}")
      }
    } finally queries.foreach { q =>
      q.stop()
      spark.catalog.dropTempView(q.name)
    }
  }

  test("each fold's final row per key equals the batch fold below the " +
      "final watermark, under any batch split and in-delay reordering") {
    val prop = Prop.forAllNoShrink(genBatches) { batches =>
      val bad = mismatches(batches)
      Prop(bad.isEmpty) :| (s"batches ${batches.map(_.size).mkString("+")}:\n" +
        bad.mkString("\n"))
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
      .withWorkers(1).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
