package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import WindowTestKit.Total

/** Top-level fixtures: everything shipped to executors must not capture the
  * ScalaTest spec (not serializable). */
object MicroBatchSplitFixtures {
  final class Count extends Serializable { var n: Long = 0 }

  /** Keyed running count: one (key, count so far) per event. */
  object RunningCount extends StateComputation[Ev, (String, Long), Count] {
    def initialState(): Count = new Count
    def apply(e: Ev, c: Count): ComputationResult[(String, Long)] = {
      c.n += 1
      ComputationResult.One((e.k, c.n))
    }
  }

  /** Keyed running sum, run as a global window: one (key, sum so far)
    * per event. */
  object KeyedSum extends Aggregation[Ev, (String, Long), Total] {
    def initialAccumulator(): Total = new Total
    def update(e: Ev, acc: Total): Unit = acc.v += e.v
    def combine(a: Total, b: Total): Total = { val t = new Total; t.v = a.v + b.v; t }
    def output(key: String, windowEndTs: Long, acc: Total): Option[(String, Long)] =
      Some((key, acc.v))
  }

  /** One input, cut into the micro-batches the streaming host sees. */
  final case class Split(batches: Seq[Seq[Ev]])

  /** Events on up to four keys whose timestamps are unique and increasing
    * per key (keys interleave freely, so event time is out of order
    * across keys), cut into up to five micro-batches at random points,
    * each batch shuffled. */
  val splits: Gen[Split] = for {
    n <- Gen.choose(1, 40)
    keys <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    values <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    gapsMs <- Gen.listOfN(n, Gen.choose(1L, 3000L))
    startsMs <- Gen.listOfN(4, Gen.choose(0L, 60000L))
    nCuts <- Gen.choose(0, 4)
    cuts <- Gen.listOfN(nCuts, Gen.choose(1, n))
    shuffleSeed <- Gen.long
  } yield {
    val lastMs = scala.collection.mutable.Map(Seq("a", "b", "c", "d").zip(startsMs): _*)
    val evs = keys.indices.map { i =>
      lastMs(keys(i)) += gapsMs(i)
      Ev(keys(i), values(i), lastMs(keys(i)) * 1000000L)
    }
    val bounds = (0 +: cuts.distinct.sorted :+ n).distinct
    val rnd = new scala.util.Random(shuffleSeed)
    Split(bounds.sliding(2).collect { case Seq(a, b) => rnd.shuffle(evs.slice(a, b)) }.toSeq)
  }
}

/** The property the reference promises for keyed state: the result does
  * not depend on how the input was split into micro-batches, or on the
  * arrival order within a batch. For a keyed [[StateComputation]] and a
  * [[GlobalWindow]], the streaming host's output multiset (MemoryStream,
  * one micro-batch per cut) equals the batch replay's. Fixed seed, 12
  * trials. */
class MicroBatchSplitSpec extends AnyFunSuite {
  import MicroBatchSplitFixtures._
  private lazy val spark = TestSpark.spark
  private implicit def ss: SparkSession = spark
  private var queries = 0

  private type Stage = Pipeline[Ev] => Pipeline[(String, Long)]

  private def batchOut(evs: Seq[Ev], stage: Stage): Seq[((String, Long), Long)] = {
    import spark.implicits._
    stage(Graft.source("split-batch", DatasetSource(spark.createDataset(evs), (e: Ev) => e.ts))
      .keyBy(_.k)).dataset.collect().toSeq
  }

  private def streamOut(split: Split, stage: Stage): Seq[((String, Long), Long)] = {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    queries += 1
    val view = s"split_stream_$queries"
    val mem = MemoryStream[Ev]
    val handle = stage(Graft.source(view, DatasetSource(mem.toDS(), (e: Ev) => e.ts)).keyBy(_.k))
      .toSink(MemorySink(view))
    try split.batches.foreach { b => mem.addData(b); handle.processAllAvailable() }
    finally handle.stop()
    spark.table(view).as[((String, Long), Long)].collect().toSeq
  }

  test("keyed state and global window: streaming output equals batch replay for any micro-batch split") {
    import spark.implicits._
    val stages: Seq[(String, Stage)] = Seq(
      "running count" -> (_.to(RunningCount)),
      "global window" -> (_.toGlobalWindow(KeyedSum)))
    val prop = Prop.forAllNoShrink(splits) { split =>
      val evs = split.batches.flatten
      Prop.all(stages.map { case (label, stage) =>
        val batch = batchOut(evs, stage).sorted
        val stream = streamOut(split, stage).sorted
        Prop(batch.size == evs.size && stream == batch) :|
          s"$label: batches ${split.batches} -> stream $stream, batch $batch"
      }: _*)
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1).withInitialSeed(Seed(20261019L))
    val result = Test.check(params, prop)
    assert(result.passed, result.status)
  }
}
