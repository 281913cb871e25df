package graft.pipeline

import java.io.DataOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of the inline-decode handoff registry (VERDICT r16 next #6 /
  * ADVICE r16: the map must not grow one entry per
  * [[FramedSocketSource.load]] for the driver's lifetime). The contract:
  * `load()` registers, the SAME `load()`'s table resolution consumes —
  * the decoder then lives in the resolved table the streaming plan
  * retains, so restart-after-stop of the loaded DataFrame never touches
  * the registry again.
  */
class InlineRegistrySpec extends AnyFunSuite {
  import FramedFixtures._
  private lazy val spark = TestSpark.spark

  test("N load() calls leave the registry at its prior size (no per-load growth)") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val before = FramedSocketInlineRegistry.size
    // port never connected: load() resolves the table (registry
    // register + consume) but opens no socket until query start
    (1 to 8).foreach { _ =>
      FramedSocketSource("127.0.0.1", 1, StringFrames).load(spark)
      ()
    }
    assert(FramedSocketInlineRegistry.size === before,
      "each load() must consume its own registration")
  }

  test("stop → restart of one loaded DataFrame works after its entry was consumed") {
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val server = new java.net.ServerSocket(0)
    // one accept per query start: the MicroBatchStream opens a fresh
    // connection each run, and each run gets its own burst
    val sender = new Thread("inline-registry-sender") {
      override def run(): Unit =
        try {
          for (burst <- Seq(Seq("a1", "a2"), Seq("b1", "b2", "b3"))) {
            val conn = server.accept()
            val out = new DataOutputStream(conn.getOutputStream)
            burst.foreach { m =>
              val p = m.getBytes(UTF_8); out.writeInt(p.length); out.write(p)
            }
            out.flush(); conn.close()
          }
        } catch { case _: java.io.IOException => }
    }
    sender.setDaemon(true); sender.start()
    val before = FramedSocketInlineRegistry.size
    val pipe = Graft.source("inline-reg",
      FramedSocketSource("127.0.0.1", server.getLocalPort, StringFrames))
    assert(FramedSocketInlineRegistry.size === before)
    def runOnce(view: String, expect: Int): Seq[String] = {
      val h = pipe.toSink(MemorySink(view))
      val deadline = System.nanoTime() + 60L * 1000000000L
      var got = Seq.empty[String]
      while (got.length < expect && System.nanoTime() < deadline) {
        Thread.sleep(50)
        h.processAllAvailable()
        got = spark.table(view).collect().map(_.getString(0)).toSeq
      }
      h.stop()
      got
    }
    val v1 = s"inline_reg_a_${System.nanoTime()}"
    val v2 = s"inline_reg_b_${System.nanoTime()}"
    assert(runOnce(v1, 2).sorted === Seq("a1", "a2"))
    // restart against the SAME DataFrame: the resolved table carries the
    // decoder; the registry (already back at prior size) is not consulted
    assert(runOnce(v2, 3).sorted === Seq("b1", "b2", "b3"))
    assert(FramedSocketInlineRegistry.size === before)
    sender.join(5000)
    server.close()
  }

  test("consume is single-shot: a second resolution of the same key fails loudly") {
    val key = FramedSocketInlineRegistry.register(StringFrames,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
    FramedSocketInlineRegistry.consume(key)
    val e = intercept[IllegalArgumentException](FramedSocketInlineRegistry.consume(key))
    assert(e.getMessage.contains("no inline decoder registered"))
  }

  test("an unsupported Encoder implementation fails at registration, driver-side") {
    val bogus = new org.apache.spark.sql.Encoder[String] {
      def schema: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType().add("value", "string")
      def clsTag: scala.reflect.ClassTag[String] = scala.reflect.classTag[String]
    }
    val e = intercept[IllegalArgumentException](
      FramedSocketInlineRegistry.register(StringFrames, bogus))
    assert(e.getMessage.contains("unsupported Encoder implementation"))
  }
}
