package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import WindowTestKit.{seconds, Total}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.Sessions.tune(
      SparkSession.builder().appName("graft-test").master("local[4]"), "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Top-level fixtures: everything shipped to executors must not capture the
  * ScalaTest spec (not serializable). */
object StreamingFixtures {
  val punctuation: Set[Char] = " !\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".toSet

  /** word_count.py:41-54 split computation. */
  def splitWords(line: String): Seq[String] =
    line.split("\n").toSeq.flatMap { l =>
      l.toLowerCase.split(" ").toSeq.map(_.filterNot(punctuation)).filter(_.nonEmpty)
    }

  final class WordTotal extends Serializable { var count: Long = 0 }

  /** word_count.py:57-63 count_word state computation. */
  object CountWord extends StateComputation[String, (String, Long), WordTotal] {
    override val name = "count word"
    def initialState(): WordTotal = new WordTotal
    def apply(word: String, total: WordTotal): ComputationResult[(String, Long)] = {
      total.count += 1
      ComputationResult.One((word, total.count))
    }
  }

  /** alphabet.py:44-60 add_votes as a running Aggregation (key injected at
    * output — the Aggregation contract's key parameter in action). */
  object AddVotes extends Aggregation[(String, Long), (String, Long), Total] {
    override val name = "add votes"
    def initialAccumulator(): Total = new Total
    def update(input: (String, Long), acc: Total): Unit = acc.v += input._2
    def combine(a: Total, b: Total): Total = { val t = new Total; t.v = a.v + b.v; t }
    def output(key: String, windowEndTs: Long, acc: Total): Option[(String, Long)] =
      Some((key, acc.v))
  }

  object SumEv extends Aggregation[Ev, Long, Total] {
    override val name = "sumEv"
    def initialAccumulator(): Total = new Total
    def update(input: Ev, acc: Total): Unit = acc.v += input.v
    def combine(a: Total, b: Total): Total = { val t = new Total; t.v = a.v + b.v; t }
    def output(key: String, windowEndTs: Long, acc: Total): Option[Long] = Some(acc.v)
  }
}

final case class Ev(k: String, v: Long, ts: Long)

/** End-to-end pipeline tests on MemoryStream — the acceptance-app ports the
  * survey commits to (SURVEY §5): word_count
  * (/root/reference/examples/python/word_count/word_count.py) and alphabet
  * (/root/reference/examples/python/alphabet/alphabet.py), plus a
  * batch-vs-streaming differential for sliding windows. Assertions are on
  * the final output set, not inter-batch timing (SURVEY §7.4.1). */
class PipelineStreamingSpec extends AnyFunSuite {
  import StreamingFixtures._
  private lazy val spark = TestSpark.spark
  private implicit def ss: SparkSession = spark

  test("word count app: streaming running totals per key") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lines = MemoryStream[String]
    val handle = Graft
      .source("wc", DatasetSource(lines.toDS(), (_: String) => 0L))
      .flatMapSeq(splitWords)
      .keyBy(identity)
      .to(CountWord)
      .toSink(MemorySink("wc_out"))
    lines.addData("It was the best of times,", "it was the worst of times.")
    handle.processAllAvailable()
    lines.addData("it was the age of wisdom")
    handle.processAllAvailable()
    handle.stop()

    val finalCounts = spark.sql(
      "SELECT _1._1 AS word, max(_1._2) AS cnt FROM wc_out GROUP BY 1")
      .as[(String, Long)].collect().toMap
    assert(finalCounts == Map(
      "it" -> 3, "was" -> 3, "the" -> 3, "of" -> 3, "times" -> 2,
      "best" -> 1, "worst" -> 1, "age" -> 1, "wisdom" -> 1))
    // Running totals: one output per input word occurrence.
    assert(spark.table("wc_out").count() == 18)
  }

  test("alphabet app: global window emits running totals per message") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val votes = MemoryStream[(String, Long)]
    val handle = Graft
      .source("alphabet", DatasetSource(votes.toDS(), (_: (String, Long)) => 0L))
      .keyBy(_._1)
      .toGlobalWindow(AddVotes)
      .toSink(MemorySink("alpha_out"))
    votes.addData(("a", 5L), ("b", 2L), ("a", 3L))
    handle.processAllAvailable()
    votes.addData(("b", 10L), ("a", 1L))
    handle.processAllAvailable()
    handle.stop()

    val out = spark.sql("SELECT _1._1, _1._2 FROM alpha_out")
      .as[(String, Long)].collect()
    assert(out.length == 5) // one output per vote message
    val finals = out.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(finals == Map("a" -> 9, "b" -> 12))
  }

  private val evChunks: Seq[Seq[Ev]] = Seq(
    Seq(Ev("k", 2, seconds(92)), Ev("k", 3, seconds(93)), Ev("k", 4, seconds(94)), Ev("k", 5, seconds(95))),
    Seq(Ev("k", 1, seconds(102)), Ev("k", 2, seconds(103)), Ev("k", 3, seconds(104)), Ev("k", 4, seconds(105))),
    Seq(Ev("k", 10, seconds(108)), Ev("k", 20, seconds(109)), Ev("k", 30, seconds(110)), Ev("k", 40, seconds(111))),
    Seq(Ev("k", 0, seconds(500)))) // flush sentinel far past every window

  private def slidingWindows = Graft.rangeWindows(seconds(10))
    .withSlide(seconds(2)).over(SumEv)

  /** k falls silent in the third chunk while j's traffic advances the
    * watermark: k's open windows must be re-triggered by its per-key
    * timer, not wait for k's next event. */
  private val silentKeyChunks: Seq[Seq[Ev]] = Seq(
    Seq(Ev("k", 2, seconds(92)), Ev("k", 3, seconds(94)), Ev("j", 7, seconds(95))),
    Seq(Ev("k", 1, seconds(102)), Ev("j", 2, seconds(104))),
    Seq(Ev("j", 5, seconds(115)), Ev("j", 6, seconds(118))),
    Seq(Ev("k", 0, seconds(500)), Ev("j", 0, seconds(500))))

  private def collectWindows(view: String): Set[(Long, Long)] = {
    import spark.implicits._
    spark.sql(s"SELECT _1, _2 FROM $view WHERE _2 < ${seconds(490)}")
      .as[(Long, Long)].collect().toSet
  }

  /** Streams `chunks` through the sliding windows, one micro-batch per
    * chunk so the watermark advances across micro-batches, and returns the
    * sink rows after each chunk (flush-sentinel windows excluded). */
  private def slidingStream(name: String, chunks: Seq[Seq[Ev]]): Seq[Set[(Long, Long)]] = {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = MemoryStream[Ev]
    val handle = Graft.source(name, DatasetSource(evs.toDS(), (e: Ev) => e.ts))
      .keyBy(_.k)
      .to(slidingWindows)
      .toSink(MemorySink(s"${name}_out"))
    try chunks.map { chunk =>
      evs.addData(chunk); handle.processAllAvailable(); collectWindows(s"${name}_out")
    }
    finally handle.stop()
  }

  test("sliding windows: streaming output equals batch replay") {
    import spark.implicits._
    Graft.source("slide-batch", DatasetSource(
        spark.createDataset(evChunks.flatten), (e: Ev) => e.ts))
      .keyBy(_.k)
      .to(slidingWindows)
      .toSink(MemorySink("slide_batch_out"))
    val batch = collectWindows("slide_batch_out")
    assert(batch.nonEmpty)
    assert(batch == slidingStream("slide_stream", evChunks).last)
    // Spot-check: the pane grid anchors at the first event's watermark
    // (92 s) like the reference, so [92,102) holds 2+3+4+5 and [102,112)
    // holds everything from 102 to 111.
    assert(batch.contains((14L, seconds(102) - 1)))
    assert(batch.contains((110L, seconds(112) - 1)))

    // A silent key: k's grid ends on even seconds, j's on odd ones.
    def w(sum: Long, endSec: Long) = (sum, seconds(endSec) - 1)
    val silent = slidingStream("slide_silent", silentKeyChunks)
    val kTimerFired = Set(w(1, 106), w(1, 108), w(1, 110), w(1, 112), w(0, 114))
    assert((kTimerFired & silent(1)).isEmpty)
    assert(kTimerFired.subsetOf(silent(2)),
      s"k's windows were not re-triggered while k was silent: ${silent(2)}")
    assert(silent.last == kTimerFired ++ Set(
      w(5, 102), w(4, 104), w(0, 120), w(0, 122), w(0, 124), w(0, 126), w(0, 128),
      w(9, 105), w(2, 107), w(2, 109), w(2, 111), w(2, 113), w(5, 117),
      w(11, 119), w(11, 121), w(11, 123), w(11, 125), w(6, 127)))
  }

  test("count windows: trigger every N per key across micro-batches") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = MemoryStream[(String, Long)]
    val handle = Graft
      .source("cw", DatasetSource(evs.toDS(), (e: (String, Long)) => e._2))
      .keyBy(_._1)
      .to(Graft.countWindows(2).over(AddVotes))
      .toSink(MemorySink("cw_out"))
    evs.addData(("a", 1L), ("a", 2L), ("b", 5L))
    handle.processAllAvailable()
    evs.addData(("b", 7L), ("a", 10L), ("a", 20L))
    handle.processAllAvailable()
    handle.stop()
    val out = spark.sql("SELECT _1._1, _1._2 FROM cw_out").as[(String, Long)]
      .collect().toSeq.sorted
    // a: (1+2), (10+20); b: (5+7) — count-2 windows, accumulator resets.
    assert(out == Seq(("a", 3L), ("a", 30L), ("b", 12L)))

    // A partial window is flushed by its key's timer at the first
    // watermark advance (the no-data micro-batch after its chunk), not held
    // until the key's next events: every window here but k's first is partial.
    val timed = MemoryStream[Ev]
    val timedHandle = Graft
      .source("cw-timer", DatasetSource(timed.toDS(), (e: Ev) => e.ts))
      .keyBy(_.k)
      .to(Graft.countWindows(3).over(SumEv))
      .toSink(MemorySink("cw_timer_out"))
    val sums =
      try Seq(
        Seq(Ev("k", 1, seconds(10)), Ev("k", 2, seconds(11)), Ev("k", 3, seconds(12)),
          Ev("k", 4, seconds(13))),
        Seq(Ev("j", 10, seconds(30))),
        Seq(Ev("j", 20, seconds(40)))).map { chunk =>
        timed.addData(chunk); timedHandle.processAllAvailable()
        spark.sql("SELECT _1 FROM cw_timer_out").as[Long].collect().toSeq.sorted
      }
      finally timedHandle.stop()
    assert(sums == Seq(Seq(4L, 6L), Seq(4L, 6L, 10L), Seq(4L, 6L, 10L, 20L)))
  }
}
