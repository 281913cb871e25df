package graft.pipeline

import java.io.DataInputStream
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** TcpSink delivers the same frames however it is started: a solo stream
  * (Spark's `foreach` sink), a [[Pipeline.toSinks]] fan-out (the default
  * `foreachBatch` query over [[SinkConfig.writeMicroBatch]]) and a batch
  * pipeline. */
class TcpSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit def ss: SparkSession = spark

  private def awaitCond(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  test("solo stream, fan-out and batch deliver the same frames and leave no listener") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (0 until 40).map(i => s"row-$i")

    // A receiver draining every sink connection into one inbox.
    val inbox = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val server = new ServerSocket(0)
    val acceptor = new Thread("tcp-sink-spec-receiver") {
      override def run(): Unit =
        try while (true) {
          val conn = server.accept()
          val t = new Thread(() => {
            val in = new DataInputStream(conn.getInputStream)
            try while (true) inbox.add(new String(Framing.read(in), UTF_8))
            catch { case _: java.io.IOException => } // writer done
            finally { try conn.close() catch { case _: java.io.IOException => } }
          })
          t.setDaemon(true); t.start()
        } catch { case _: java.io.IOException => } // server closed
    }
    acceptor.setDaemon(true); acceptor.start()
    def sink = TcpSink[String]("127.0.0.1", server.getLocalPort,
      (v: String) => v.getBytes(UTF_8))

    /** The frames one run delivers, once `expected` have arrived. */
    def received(run: => Unit): Seq[String] = {
      inbox.clear()
      run
      assert(awaitCond(30000)(inbox.size() >= rows.size),
        s"receiver got ${inbox.size()} of ${rows.size} frames")
      inbox.asScala.toVector.sorted
    }

    /** A stream over `rows`, in two micro-batches. Once it stops, the
      * session holds as many listeners as before it started: a settle
      * listener removes itself. */
    def streamed(start: Pipeline[String] => SinkHandle): Unit = {
      val before = spark.streams.listListeners().length
      val mem = MemoryStream[String]
      val h = start(Graft.source(s"tcp-sink-${System.nanoTime()}",
        DatasetSource(mem.toDS(), (_: String) => 0L)))
      try {
        val (first, second) = rows.splitAt(rows.size / 2)
        mem.addData(first: _*)
        h.processAllAvailable()
        mem.addData(second: _*)
        h.processAllAvailable()
      } finally h.stop()
      assert(awaitCond(10000)(spark.streams.listListeners().length == before),
        "the settle listener outlived its query")
    }

    try {
      val solo = received(streamed(_.toSink(sink)))
      val fanOut = received(streamed(
        _.toSinks(Seq(sink, MemorySink[String](s"tcp_fan_${System.nanoTime()}")))))
      val batch: Dataset[String] = rows.toDS().repartition(3)
      val batched = received(Graft.source("tcp-sink-batch",
        DatasetSource(batch, (_: String) => 0L)).toSink(sink))
      assert(solo === rows.sorted)
      assert(fanOut === rows.sorted)
      assert(batched === rows.sorted)
    } finally server.close()
  }
}
