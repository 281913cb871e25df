package graft.pipeline

import java.io.DataInputStream
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row}
import org.scalatest.funsuite.AnyFunSuite

import ConnectorProtocol._

/** The connector sink's 2PC wire conversation end-to-end (VERDICT r4 #2):
  * a reference-shaped receiving peer (stage → in-doubt at PHASE1 →
  * apply/discard at PHASE2, LIST_UNCOMMITTED across reconnects), a query
  * crashed in the in-doubt window between phase 1 and phase 2, and a
  * restart that must make the peer see abort-then-exactly-once. */
class TwoPhaseCommitSocketSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def awaitCond(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  private def addFile(dir: String, vals: Range): Unit = {
    spark.createDataset(vals.map(_.toLong))(Encoders.scalaLong)
      .toDF("v").coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(60) // distinct mod-times keep file→batch order deterministic
  }

  test("crash between phase 1 and phase 2: peer sees abort then exactly-once on restart") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val receiver = new ProtocolPeers.TwoPcReceiver()
    val inDir = Files.createTempDirectory("twopc_in").toString
    val ckpt = Files.createTempDirectory("twopc_ckpt").toString
    (0 until 4).foreach(k => addFile(inDir, k * 50 until (k + 1) * 50))

    @volatile var armed = true
    // commitOnStop off: this test exercises the reconnect-recovery COMMIT
    // path, which needs the tail txn left in doubt across a graceful stop
    def sink(hook: (String, Long) => Unit = (_, _) => ()) =
      ConnectorSocketSink[Long]("127.0.0.1", receiver.server.getLocalPort,
        (v: Long) => s"v-$v".getBytes(UTF_8), commitOnStop = false,
        afterPhase1 = hook)
    def startQuery(s: ConnectorSocketSink[Long]) =
      Graft.source("twopc-src", ParquetReplaySource[Long](inDir,
          (r: Row) => r.getLong(0), (r: Row) => r.getLong(0),
          maxFilesPerTrigger = 1)(Encoders.scalaLong))
        .toSink(s, checkpointLocation = Some(ckpt))

    // --- incarnation 1: crash in the in-doubt window of epoch 1 (phase 1
    // voted commit, Spark's checkpoint entry for the batch never written)
    val h1 = startQuery(sink { (txn, epoch) =>
      if (epoch == 1L && armed) {
        armed = false
        throw new RuntimeException(s"injected crash in in-doubt window of $txn")
      }
    })
    assert(awaitCond(30000)(h1.query.exists(_.exception.isDefined)),
      "query kept running past the injected crash")
    h1.stop()
    // epoch 0 committed (its phase 2 rode the head of batch 1); epoch 1
    // is exactly in doubt — staged at the peer, neither applied nor dropped
    assert(receiver.committed.size == 50,
      s"expected exactly batch 0 committed, got ${receiver.committed.size}")
    assert(receiver.inDoubt.containsKey("graft:c_id=1"),
      s"epoch 1 must be in doubt, have ${receiver.inDoubt.keySet()}")

    // --- incarnation 2: Spark replays epoch 1; the recovery conversation
    // must ABORT the in-doubt txn (its checkpoint never committed), then
    // rewrite it — no duplicate despite the replay
    val h2 = startQuery(sink())
    assert(awaitCond(30000)(receiver.committed.size == 150),
      s"expected batches 0-2 committed after restart, got ${receiver.committed.size}")
    h2.processAllAvailable()
    h2.stop()
    assert(receiver.aborts == 1, s"expected exactly one abort, got ${receiver.aborts}")
    val after2 = receiver.committed.asScala.toVector
    assert(after2.distinct.size == after2.size, "duplicate payloads committed")
    assert(after2.toSet == (0 until 150).map(v => s"v-$v").toSet,
      "committed set != batches 0-2 exactly-once")
    // the tail batch is always the open transaction: phase 2 rides the
    // next trigger, exactly like the reference waiting on the next
    // checkpoint; a graceful stop leaves it in doubt for recovery
    assert(receiver.inDoubt.keySet().asScala == Set("graft:c_id=3"))

    // --- incarnation 3: new data; reconnect recovery must resolve the
    // in-doubt tail as COMMIT (its checkpoint entry is durable)
    addFile(inDir, 200 until 250)
    val h3 = startQuery(sink())
    assert(awaitCond(30000)(receiver.committed.size == 200),
      s"expected batches 0-3 after recovery commit, got ${receiver.committed.size}")
    h3.processAllAvailable()
    h3.stop()
    val finalGot = receiver.committed.asScala.toVector
    assert(finalGot.distinct.size == finalGot.size, "duplicate payloads committed")
    assert(finalGot.toSet == (0 until 200).map(v => s"v-$v").toSet,
      "committed set != batches 0-3 exactly-once")
    assert(receiver.aborts == 1, "recovery must not abort a committed-checkpoint txn")
    receiver.close()
  }

  test("graceful stop commits the tail transaction (commitOnStop default)") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val receiver = new ProtocolPeers.TwoPcReceiver()
    val inDir = Files.createTempDirectory("twopc_stop_in").toString
    (0 until 2).foreach(k => addFile(inDir, k * 20 until (k + 1) * 20))
    val h = Graft.source("twopc-stop-src", ParquetReplaySource[Long](inDir,
        (r: Row) => r.getLong(0), (r: Row) => r.getLong(0),
        maxFilesPerTrigger = 1)(Encoders.scalaLong))
      .toSink(ConnectorSocketSink[Long]("127.0.0.1", receiver.server.getLocalPort,
        (v: Long) => s"v-$v".getBytes(UTF_8)))
    h.processAllAvailable()
    h.stop()
    // the termination listener phase-2-commits the open tail, so the peer
    // holds everything with no transaction left in doubt
    assert(awaitCond(10000)(receiver.committed.size == 40 && receiver.inDoubt.isEmpty),
      s"tail not committed at graceful stop: ${receiver.committed.size} committed, " +
        s"in doubt ${receiver.inDoubt.keySet()}")
    assert(receiver.committed.asScala.toSet == (0 until 40).map(v => s"v-$v").toSet)
    receiver.close()
  }

  test("graceful stop commits the tail transaction inside a toSinks fan-out") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val receiver = new ProtocolPeers.TwoPcReceiver()
    val inDir = Files.createTempDirectory("twopc_fan_stop_in").toString
    val idemDir = Files.createTempDirectory("twopc_fan_stop_idem").toString
    (0 until 2).foreach(k => addFile(inDir, k * 20 until (k + 1) * 20))
    val h = Graft.source("twopc-fan-stop-src", ParquetReplaySource[Long](inDir,
        (r: Row) => r.getLong(0), (r: Row) => r.getLong(0),
        maxFilesPerTrigger = 1)(Encoders.scalaLong))
      .toSinks(Seq(
        ConnectorSocketSink[Long]("127.0.0.1", receiver.server.getLocalPort,
          (v: Long) => s"v-$v".getBytes(UTF_8)),
        IdempotentParquetSink[Long](idemDir)))
    h.processAllAvailable()
    h.stop()
    // the fan-out forwards termination to the connector sink, whose hook
    // phase-2-commits the open tail
    assert(awaitCond(10000)(receiver.committed.size == 40 && receiver.inDoubt.isEmpty),
      s"tail not committed at graceful stop: ${receiver.committed.size} committed, " +
        s"in doubt ${receiver.inDoubt.keySet()}")
    assert(receiver.committed.asScala.toSet == (0 until 40).map(v => s"v-$v").toSet)
    assert(spark.read.parquet(idemDir).count() == 40L)
    receiver.close()
  }

  test("recovery resolves ONLY its own stream's in-doubt transactions") {
    // Two sinks on disjoint streams against ONE peer — the deployment
    // shape the class doc endorses. The peer's in-doubt ledger is global
    // across connections, so a recovery pass that phase-2s every listed
    // txn with ITS OWN epoch counter would resolve the neighbor's: here
    // stream-b leaves its tail b:c_id=1 in doubt, and a FRESH stream-a
    // sink (about to run epoch 0) would abort it — silently destroying
    // data whose checkpoint b durably committed. The streamName filter
    // makes a leave it alone; b's own restart then commits it.
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val receiver = new ProtocolPeers.TwoPcReceiver()
    val bIn = Files.createTempDirectory("twopc_iso_b_in").toString
    val bCkpt = Files.createTempDirectory("twopc_iso_b_ckpt").toString
    val aIn = Files.createTempDirectory("twopc_iso_a_in").toString
    def bSink = ConnectorSocketSink[Long]("127.0.0.1", receiver.server.getLocalPort,
      (v: Long) => s"b-$v".getBytes(UTF_8), streamName = "b", commitOnStop = false)
    def bQuery() = Graft.source("twopc-iso-b", ParquetReplaySource[Long](bIn,
        (r: Row) => r.getLong(0), (r: Row) => r.getLong(0),
        maxFilesPerTrigger = 1)(Encoders.scalaLong))
      .toSink(bSink, checkpointLocation = Some(bCkpt))

    (0 until 2).foreach(k => addFile(bIn, k * 20 until (k + 1) * 20))
    val hb = bQuery()
    hb.processAllAvailable()
    hb.stop()
    assert(receiver.inDoubt.containsKey("b:c_id=1"),
      s"b's tail must be in doubt, have ${receiver.inDoubt.keySet()}")

    // stream-a runs its whole (fresh, epoch-0) life against the same peer
    addFile(aIn, 1000 until 1020)
    val ha = Graft.source("twopc-iso-a", ParquetReplaySource[Long](aIn,
        (r: Row) => r.getLong(0), (r: Row) => r.getLong(0),
        maxFilesPerTrigger = 1)(Encoders.scalaLong))
      .toSink(ConnectorSocketSink[Long]("127.0.0.1", receiver.server.getLocalPort,
        (v: Long) => s"a-$v".getBytes(UTF_8), streamName = "a", commitOnStop = false))
    ha.processAllAvailable()
    ha.stop()
    assert(receiver.inDoubt.containsKey("b:c_id=1"),
      "a foreign sink's recovery must not resolve b's in-doubt transaction")
    assert(receiver.aborts == 0,
      s"no abort may be issued for the neighbor's txn, got ${receiver.aborts}")

    // b's own restart commits its tail (epoch 1 < the epoch about to rerun)
    addFile(bIn, 200 until 220)
    val hb2 = bQuery()
    assert(awaitCond(30000)(!receiver.inDoubt.containsKey("b:c_id=1")),
      "b's restart recovery must resolve its own tail")
    hb2.processAllAvailable()
    hb2.stop()
    val bPayloads = receiver.committed.asScala.toVector.filter(_.startsWith("b-"))
    assert(bPayloads.toSet.contains("b-20") && bPayloads.distinct.size == bPayloads.size,
      s"b's in-doubt batch must commit exactly once: $bPayloads")
    receiver.close()
  }

  test("peer abort vote fails the batch loudly") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val receiver = new ProtocolPeers.TwoPcReceiver(voteAbort = _ => true)
    val inDir = Files.createTempDirectory("twopc_abort_in").toString
    addFile(inDir, 0 until 10)
    val h = Graft.source("twopc-abort-src", ParquetReplaySource[Long](inDir,
        (r: Row) => r.getLong(0), (r: Row) => r.getLong(0))(Encoders.scalaLong))
      .toSink(ConnectorSocketSink[Long]("127.0.0.1", receiver.server.getLocalPort,
        (v: Long) => s"v-$v".getBytes(UTF_8)))
    assert(awaitCond(30000)(h.query.exists(_.exception.isDefined)),
      "query kept running after the peer voted abort")
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(h.query.get.exception.get).exists(
      c => c.getMessage != null && c.getMessage.contains("voted ABORT")))
    h.stop()
    assert(receiver.committed.isEmpty, "aborted txn must not commit")
    receiver.close()
  }

  test("batch mode: one transaction, phase 2 immediate") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    val receiver = new ProtocolPeers.TwoPcReceiver()
    val inDir = Files.createTempDirectory("twopc_batch_in").toString
    addFile(inDir, 0 until 25)
    import spark.implicits._
    val ds = spark.read.parquet(inDir).as[Long].map(v => (v, v))
    ConnectorSocketSink[Long]("127.0.0.1", receiver.server.getLocalPort,
      (v: Long) => s"v-$v".getBytes(UTF_8)).writeBatch(ds)
    // the peer applies phase 2 on its own thread — wait for it
    assert(awaitCond(10000)(receiver.committed.size == 25),
      s"phase 2 never applied: ${receiver.committed.size}")
    assert(receiver.committed.asScala.toSet == (0 until 25).map(v => s"v-$v").toSet)
    assert(receiver.inDoubt.isEmpty, "batch mode must not leave an open txn")
    receiver.close()
  }
}
