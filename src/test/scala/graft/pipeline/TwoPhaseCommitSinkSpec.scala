package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The manifest-commit protocol of [[TwoPhaseCommitSink]], exercised the
  * way the reference tortures its connector sink
  * (testing/correctness/tests/aloc_sink): normal flow, replayed batch,
  * died-in-phase-1 transaction, died-between-phases transaction. */
class TwoPhaseCommitSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit def ss: SparkSession = spark
  private implicit val e2: Encoder[(Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  test("streamed batches are exactly-once visible through manifests") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("twopc").toString
    val mem = MemoryStream[(Long, Long)]
    val handle = Graft.source("twopc-src", DatasetSource(mem.toDS(), (t: (Long, Long)) => t._2))
      .toSink(TwoPhaseCommitSink(dir))
    (0 until 3).foreach { b =>
      mem.addData((0 until 100).map(i => (b * 100L + i, i.toLong)))
      handle.processAllAvailable()
    }
    handle.stop()
    val got = TwoPhaseCommitSink.readCommitted(spark, dir)
      .select("_1._1").as[Long].collect().sorted
    assert(got.toSeq == (0L until 300L)) // every row once, none lost
    assert(TwoPhaseCommitSink.recover(spark, dir).isEmpty) // nothing in flight
  }

  test("toSinks fan-out delivers every micro-batch to batchId-keyed sinks") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // regression: toSinks used to call writeBatch (batchId discarded), so
    // a 2PC sink saw every micro-batch as a replay of batch 0 and
    // silently dropped all rows after the first trigger
    val dir2pc = Files.createTempDirectory("twopc-fanout").toString
    val dirIdem = Files.createTempDirectory("idem-fanout").toString
    val mem = MemoryStream[(Long, Long)]
    val handle = Graft.source("fanout-src", DatasetSource(mem.toDS(), (t: (Long, Long)) => t._2))
      .toSinks(Seq(TwoPhaseCommitSink(dir2pc), IdempotentParquetSink(dirIdem)))
    (0 until 3).foreach { b =>
      mem.addData((0 until 50).map(i => (b * 50L + i, i.toLong)))
      handle.processAllAvailable()
    }
    handle.stop()
    val got2pc = TwoPhaseCommitSink.readCommitted(spark, dir2pc)
      .select("_1._1").as[Long].collect().sorted
    assert(got2pc.toSeq == (0L until 150L))
    val gotIdem = spark.read.parquet(dirIdem)
      .select("_1._1").as[Long].collect().sorted
    assert(gotIdem.toSeq == (0L until 150L))
  }

  test("a stopped foreachBatch sink query leaves no listener behind") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def listeners = spark.streams.listListeners().toSet
    val before = listeners
    val mem = MemoryStream[(Long, Long)]
    val handle = Graft.source("idem-listener", DatasetSource(mem.toDS(), (t: (Long, Long)) => t._2))
      .toSink(IdempotentParquetSink(Files.createTempDirectory("idem-listener").toString))
    val added = listeners -- before
    assert(added.size == 1, s"expected one settle listener, got $added")
    mem.addData((1L, 1L))
    handle.processAllAvailable()
    handle.stop()
    val deadline = System.currentTimeMillis() + 10000
    while (listeners.exists(added) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(!listeners.exists(added), "settle listener outlived its query")
    assert(spark.streams.listListeners().length <= before.size)
  }

  test("a replayed batchId is skipped whole (phase-2 manifest is the truth)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("twopc-replay").toString
    val sink = TwoPhaseCommitSink[(Long, Long)](dir)
    def ds(rows: Seq[(Long, Long)]) =
      spark.createDataset(rows).map(r => (r, r._2)) // stamped shape (T, ts)
    // foreachBatch path: same batchId re-delivered after a restart
    sink.writeMicroBatch(ds(Seq((1L, 1L), (2L, 2L))), 7L)
    sink.writeMicroBatch(ds(Seq((99L, 99L))), 7L) // replay: must not double-write
    val got = TwoPhaseCommitSink.readCommitted(spark, dir)
      .select("_1._1").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("recover() rolls back transactions that died before phase 2") {
    import spark.implicits._
    val dir = Files.createTempDirectory("twopc-abort").toString
    val sink = TwoPhaseCommitSink[(Long, Long)](dir)
    sink.writeMicroBatch(spark.createDataset(Seq((1L, 1L))).map(r => (r, r._2)), 0L)
    // died in phase 1: staged parquet, no manifest
    spark.createDataset(Seq((666L, 0L))).map(r => (r, r._2))
      .write.parquet(s"$dir/staging/batch-5")
    // died between phases: tmp manifest never renamed
    Files.write(java.nio.file.Paths.get(s"$dir/commits/.tmp-6"), "ghost".getBytes)
    assert(TwoPhaseCommitSink.recover(spark, dir) == Seq(5L))
    val got = TwoPhaseCommitSink.readCommitted(spark, dir)
      .select("_1._1").as[Long].collect().toSeq
    assert(got == Seq(1L)) // aborted rows never became visible
    assert(!new java.io.File(s"$dir/staging/batch-5").exists())
    assert(!new java.io.File(s"$dir/commits/.tmp-6").exists())
  }
}
