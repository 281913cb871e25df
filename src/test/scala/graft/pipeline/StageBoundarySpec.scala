package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

object StageBoundaryFixtures {
  final class MaxSeen extends Serializable { var v: Long = Long.MinValue }

  /** Second stateful stage: per-key running max, emitting on increase. */
  object MaxCount extends StateComputation[(String, Long), (String, Long), MaxSeen] {
    override val name = "max count"
    def initialState(): MaxSeen = new MaxSeen
    def apply(in: (String, Long), st: MaxSeen): ComputationResult[(String, Long)] =
      if (in._2 > st.v) { st.v = in._2; ComputationResult.One((in._1, in._2)) }
      else ComputationResult.Discard
  }
}

/** Two stateful stages in ONE streaming topology via the durable stage
  * boundary ([[Pipeline.through]]): Spark allows a single
  * flatMapGroupsWithState per query, so the reference's chained-step
  * topologies (every step an actor) become two queries bridged by a
  * parquet handoff — each with its own checkpoint, like the reference's
  * per-step recovery unit. */
class StageBoundarySpec extends AnyFunSuite {
  import StreamingFixtures.{splitWords, CountWord}
  import StageBoundaryFixtures._

  test("word count then per-letter max: two chained stateful stages") {
    val spark = TestSpark.spark
    implicit val ss: SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val handoff = Files.createTempDirectory("graft_handoff").toString
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def tmpEntries = tmp.list().toSet
    val tmpBefore = tmpEntries
    val lines = MemoryStream[String]

    // Stage 1 (stateful): per-word running counts → handoff.
    val (h1, counts) = Graft
      .source("chain-wc", DatasetSource(lines.toDS(), (_: String) => 0L))
      .flatMapSeq(splitWords)
      .keyBy(identity)
      .to(CountWord)
      .through(handoff)

    // Stage 2 (stateful): per-first-letter max word count.
    val h2 = counts
      .keyBy(_._1.substring(0, 1))
      .to(MaxCount)(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toSink(MemorySink("chain_out"))

    def drain(): Unit = { h1.processAllAvailable(); h2.processAllAvailable() }

    lines.addData("to be or not to be")
    drain()
    lines.addData("the thing to be is to be true")
    drain()
    h1.stop(); h2.stop()

    // Independent simulation of the two-stage topology.
    val words = Seq("to be or not to be", "the thing to be is to be true")
      .flatMap(splitWords)
    val wc = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val mx = collection.mutable.Map.empty[String, Long].withDefaultValue(Long.MinValue)
    val expected = words.flatMap { w =>
      wc(w) += 1
      val letter = w.substring(0, 1)
      if (wc(w) > mx(letter)) { mx(letter) = wc(w); Some((letter, wc(w))) } else None
    }
    // Per-letter final max must agree (inter-key interleaving may differ;
    // the emitted payload is (word, count) — the key is the first letter).
    val got = spark.sql(
      "SELECT substring(_1._1, 1, 1) AS letter, max(_1._2) AS m FROM chain_out GROUP BY 1")
      .as[(String, Long)].collect().toMap
    val want = expected.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(got == want)
    assert(got("t") == 4L) // "to" ends at 4
    // without a checkpointLocation the handoff query checkpoints inside
    // the handoff dir, not in a fresh tmpdir entry nothing deletes
    assert(new java.io.File(s"$handoff/_ckpt/commits").isDirectory)
    assert((tmpEntries -- tmpBefore).filter(_.startsWith("graft_handoff_ckpt")).isEmpty)
  }
}
