package graft.operators

import java.io.DataInputStream
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline._

/** Wire-transport round trips as oracle-checked registry entries.
  *
  * The reference treats its transports as first-class, *tested* surface —
  * `giles/sender` plus `testing/tools/external_sender` drive framed TCP
  * into a running cluster and the integration harness diffs the sink's
  * output (`testing/tools/integration/`); the connector protocol's two
  * halves are specified in `docs/proposals/connector-protocol-v3.md`.
  * These entries put the same claim under OUR strictest gate: each one
  * drives real bytes through the real socket machinery and returns an
  * aggregate the driver compares hash-exactly against DuckDB on the raw
  * tables, so a framing bug, a lost/duplicated frame, or a broken 2PC
  * conversation shows up as an oracle mismatch, not just a red unit test.
  *
  * Scale note: these are protocol-correctness rigs, deliberately bounded.
  * The 100 TB data path stays parquet/Kafka; what must be *right* rather
  * than *fast* here is the conversation. The only driver-side
  * materializations are the external peers' own buffers — the rig plays
  * the NON-Spark process on the far side of the wire (the role the
  * reference's sender/receiver tools play), so its memory is the
  * external system's, not the query plan's.
  */
object WireQueries {

  private implicit val strEnc: Encoder[String] = Encoders.STRING
  private implicit val str2LongEnc: Encoder[(String, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
  private implicit val genEnc: Encoder[(Long, String, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)

  /** UTF-8 payloads under TcpSink's 4-byte big-endian framing; event time
    * is not carried on the wire (the framed contract stamps at decode —
    * core/source/source_handler.pony:21-28), and the aggregates below
    * never read it. */
  private object Utf8Frames extends FramedDecoder[String] {
    def decode(payload: Array[Byte]): String = new String(payload, UTF_8)
    def eventTimeNs(t: String): Long = 0L
  }

  private def awaitCond(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  // --------------------------------------------------------- p_tcp_roundtrip
  /** Framed TCP egress → ingress round trip over real sockets
    * (core/sink/tcp_sink/tcp_sink.pony → core/source/tcp_source/): every
    * event row is encoded `"event_type,cents"`, written through
    * [[TcpSink]] (one connection per partition, frames interleaving
    * across connections at the relay exactly as N sink actors interleave
    * at a giles receiver), buffered by the relay, then served back to
    * [[FramedSocketSource]] as one framed stream and re-aggregated. The
    * oracle computes the same aggregate straight from the parquet — a
    * hash match proves the transport preserved the multiset bit-for-bit. */
  def pTcpRoundtrip(s: SparkSession, dir: String): DataFrame = {
    implicit val ss: SparkSession = s
    val src = Tables.events(s, dir)
      .select(concat(col("event_type"), lit(","),
        expr("cast(round(value * 100) as bigint)")).as("payload"))
      .as[String]
    val expected = src.count()

    // Relay inbox: accepts every sink partition's connection concurrently,
    // drains frames until the writers close. This thread-per-connection
    // accept loop IS the receiving half of the reference's giles receiver.
    // Arrival count rides its own AtomicLong: ConcurrentLinkedQueue.size()
    // walks the whole queue (O(n) per call), so the 50 ms await poll below
    // was O(total²) driver-side node-chasing across the egress — inside
    // the timed wall of a wall-bound bench row.
    val inbox = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]
    val inboxN = new java.util.concurrent.atomic.AtomicLong(0L)
    val ingest = new ServerSocket(0)
    val acceptor = new Thread("tcp-rt-ingest") {
      override def run(): Unit =
        try while (true) {
          val conn = ingest.accept()
          val t = new Thread(() => {
            val in = new DataInputStream(conn.getInputStream)
            try while (true) {
              inbox.add(Framing.read(in))
              inboxN.incrementAndGet()
            } catch { case _: java.io.IOException => } // writer done
            finally { try conn.close() catch { case _: java.io.IOException => } }
          })
          t.setDaemon(true); t.start()
        } catch { case _: java.io.IOException => } // server closed
    }
    acceptor.setDaemon(true); acceptor.start()

    try {
      // 1. egress: the batch pipeline writes through the framed TCP sink.
      Graft.source("tcp-rt-egress", DatasetSource(src, (_: String) => 0L))
        .toSink(TcpSink[String]("127.0.0.1", ingest.getLocalPort,
          (v: String) => v.getBytes(UTF_8)))
      require(awaitCond(180000)(inboxN.get() == expected),
        s"relay captured ${inboxN.get()} of $expected frames")

      // 2. ingress: serve the captured frames back as one framed stream.
      val serve = new ServerSocket(0)
      val server = new Thread("tcp-rt-serve") {
        override def run(): Unit =
          try {
            val conn = serve.accept()
            val out = new java.io.BufferedOutputStream(conn.getOutputStream)
            inbox.asScala.foreach(Framing.write(out, _))
            out.flush()
            conn.close()
          } catch { case _: java.io.IOException => }
      }
      server.setDaemon(true); server.start()

      val view = s"p_tcp_rt_${System.nanoTime()}"
      val h = Graft.source("tcp-rt-ingress",
          FramedSocketSource("127.0.0.1", serve.getLocalPort, Utf8Frames))
        .toSink(MemorySink(view))
      try {
        require(awaitCond(180000) {
          h.processAllAvailable(); s.table(view).count() == expected
        }, s"ingress replayed ${s.table(view).count()} of $expected frames")
      } finally { h.stop(); serve.close() }

      s.table(view)
        .select(split(col("_1"), ",").as("f"))
        .select(col("f").getItem(0).as("event_type"),
          col("f").getItem(1).cast("long").as("cents"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
    } finally { ingest.close() }
  }

  val pTcpRoundtripSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events GROUP BY event_type""".stripMargin

  // --------------------------------------------------- p_connector_roundtrip
  /** The full connector-protocol conversation under the oracle gate: an
    * external ALO sender (HELLO/NOTIFY/MESSAGE with replay-on-resume —
    * docs/proposals/connector-protocol-v3.md) feeds
    * [[ConnectorSocketSource]], a stateless parse stage relays into
    * [[ConnectorSocketSink]], and the far-side 2PC receiver stages,
    * votes, and applies each epoch. The query's RESULT is built from the
    * receiver's *committed* records — so the driver's hash compare
    * certifies end-to-end effectively-once delivery (connector_sink.pony
    * :128-135, 1293-1356), not just that some bytes moved.
    *
    * Bounded by construction: the sender's payload buffer is the external
    * producer's send log (first [[ConnRoundtripN]] events by event_id),
    * materialized driver-side because the producer is, by definition, not
    * Spark — the same reason giles/sender holds its file in memory. */
  val ConnRoundtripN = 2000L

  def pConnectorRoundtrip(s: SparkSession, dir: String): DataFrame = {
    implicit val ss: SparkSession = s
    // The external producer's send log (not a query-plan collect: this is
    // the rig materializing the NON-Spark peer's buffer).
    val payloads = Tables.events(s, dir)
      .filter(col("event_id") < ConnRoundtripN)
      .select(col("event_id"), concat(col("event_type"), lit(","),
        expr("cast(round(value * 100) as bigint)")).as("payload"))
      .orderBy("event_id")
      .select("payload").as[String]
      .collect().map(_.getBytes(UTF_8)).toIndexedSeq

    val sender = new ProtocolPeers.ReplaySender(payloads, cookie = "graft-rt")
    val receiver = new ProtocolPeers.TwoPcReceiver()
    val ckpt = java.nio.file.Files.createTempDirectory("p_conn_rt_ckpt").toString
    try {
      val h = Graft.source("conn-rt-in",
          ConnectorSocketSource("127.0.0.1", sender.server.getLocalPort,
            Utf8Frames, cookie = Some("graft-rt"),
            // several epochs (not one giant batch) so the gate exercises
            // repeated phase1/phase2 rounds, not a single commit
            maxFramesPerTrigger = 500))
        .toSink(ConnectorSocketSink[String]("127.0.0.1",
          receiver.server.getLocalPort, (v: String) => v.getBytes(UTF_8)),
          checkpointLocation = Some(ckpt))
      try {
        require(awaitCond(180000)(receiver.committed.size > 0),
          "2PC receiver never committed an epoch")
        h.processAllAvailable()
      } finally h.stop() // final epoch's phase 2 rides termination
      require(awaitCond(10000)(
        receiver.committed.size == payloads.size && receiver.inDoubt.isEmpty),
        s"expected exactly-once ${payloads.size}, far peer has " +
          s"${receiver.committed.size} (in doubt: ${receiver.inDoubt.keySet()})")

      s.createDataset(receiver.committed.asScala.toSeq)(Encoders.STRING)
        .select(split(col("value"), ",").as("f"))
        .select(col("f").getItem(0).as("event_type"),
          col("f").getItem(1).cast("long").as("cents"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
    } finally {
      // each close is a bare ServerSocket.close() that can throw
      // IOException — isolated so a throwing sender.close() can't skip
      // receiver.close() or the checkpoint delete below (ADVICE r13)
      try sender.close() catch { case _: java.io.IOException => }
      try receiver.close() catch { case _: java.io.IOException => }
      // the checkpoint dir (offset WAL + commit log + sink state) is
      // per-invocation scratch — left behind it accumulates one dir per
      // Verify/Bench trial in /tmp, the exact writeback-debt channel the
      // bench's between-trial sync discipline exists to drain
      graft.StreamBench.deleteRecursively(new java.io.File(ckpt))
    }
  }

  val pConnectorRoundtripSql: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
       |FROM events WHERE event_id < $ConnRoundtripN
       |GROUP BY event_type""".stripMargin

  // ------------------------------------------------------------ p_gen_source
  /** The deterministic generator source as a driver-checked entry
    * (core/source/gen_source/gen_source.pony:54-67). Our Spark-first form
    * is an INDEXED generator over the rate source — `gen(i)` instead of
    * the reference's sequential `apply(last)` — precisely so any
    * partition can synthesize its rows independently at scale. The rate
    * source emits every index below its high-water mark exactly once, so
    * running until the mark passes [[GenSourceN]] and keeping `i <
    * GenSourceN` yields a deterministic multiset the DuckDB oracle
    * reproduces from `range(N)` — generator semantics checked end to end
    * through a real streaming query. */
  val GenSourceN = 5000L

  def pGenSource(s: SparkSession, dir: String): DataFrame = {
    implicit val ss: SparkSession = s
    val view = s"p_gen_src_${System.nanoTime()}"
    // GenSourceN rows per second: the rate source's first full second
    // emits exactly the indices the entry keeps, so the sink holds about
    // GenSourceN rows. The wait reads the query's own progress, never the
    // sink: the rate source emits indices in order, so once the processed
    // rows reach GenSourceN every index below it is in the sink, which is
    // then read once. (processAllAvailable is no wait here: a rate source
    // always has a next second of data, so on a slow host it may never
    // return.)
    val h = Graft.source("gen-src", GenSource[(Long, String, Long)](
        i => (i, "e" + (i % 7), (i * 37) % 1000),
        rowsPerSecond = GenSourceN, numPartitions = 4))
      .toSink(MemorySink(view))
    try {
      require(awaitCond(180000) {
        h.query.foreach(_.exception.foreach(throw _))
        h.query.exists(_.recentProgress.map(_.numInputRows).sum >= GenSourceN)
      }, "rate source never reached the generation mark")
    } finally h.stop()
    s.table(view)
      .filter(col("_1._1") < GenSourceN)
      .groupBy(col("_1._2").as("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("_1._3")).as("total"))
  }

  val pGenSourceSql: String =
    s"""SELECT 'e' || CAST(i % 7 AS VARCHAR) AS event_type,
       |  COUNT(*) AS n, CAST(SUM((i * 37) % 1000) AS BIGINT) AS total
       |FROM range(0, $GenSourceN) t(i)
       |GROUP BY 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "p_tcp_roundtrip" -> ((pTcpRoundtrip _, Some(pTcpRoundtripSql))),
    "p_connector_roundtrip" -> ((pConnectorRoundtrip _, Some(pConnectorRoundtripSql))),
    "p_gen_source" -> ((pGenSource _, Some(pGenSourceSql))))
}
