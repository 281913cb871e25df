package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Per-stage parallelism in the DSL (VERDICT r14 #4): the reference makes
  * parallelism a first-class stage argument (application.pony:149-150
  * `to(comp, parallelism)`); here the hint rides `keyBy(extractor, n)` /
  * `withParallelism` / `withExpectedKeys` (the latter defaulting through
  * the measured rule [[Graft.statePartitionsFor]]) and is applied as the
  * query's `spark.sql.shuffle.partitions` — the state-store partition
  * count, fixed per checkpoint at first start — scoped to the start call.
  * The done-bar test: the hint CHANGES the physical state-store partition
  * count (counted as state/0/<n> checkpoint directories), and the shared
  * session conf is untouched afterward. */
class ParallelismHintSpec extends AnyFunSuite {
  import StreamingFixtures._

  private val ShuffleKey = "spark.sql.shuffle.partitions"

  /** Run a keyed stateful word-count to a checkpoint, return the state
    * partition directories Spark actually created. */
  private def statePartitionDirs(hint: Pipeline[String] => Pipeline[String]): Seq[String] = {
    val spark = TestSpark.spark
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_hint_ckpt").toString
    val words = MemoryStream[String]
    val h = hint(
      Graft.source("hint-wc", DatasetSource(words.toDS(), (_: String) => 0L)))
      .to(CountWord)
      .toSink(EmptySink[(String, Long)](), checkpointLocation = Some(ckpt))
    try {
      words.addData("a", "b", "c", "a")
      h.processAllAvailable()
    } finally h.stop()
    val dirs = new java.io.File(s"$ckpt/state/0").listFiles()
    assert(dirs != null, s"no state dir under $ckpt")
    dirs.filter(_.isDirectory).map(_.getName).filter(_.forall(_.isDigit)).toSeq.sorted
  }

  test("keyBy(extractor, parallelism) changes the state-store partition count") {
    val spark = TestSpark.spark
    val prev = spark.conf.get(ShuffleKey)
    val dirs = statePartitionDirs(_.keyBy(identity, parallelism = 2))
    assert(dirs.size === 2, s"state partitions: $dirs")
    // the hint is scoped to the start call: the shared session conf is
    // already restored when toSink returns (race-free because Spark
    // snapshots session confs synchronously at .start())
    assert(spark.conf.get(ShuffleKey) === prev)
  }

  test("no hint: the stage inherits the session conf width") {
    val spark = TestSpark.spark
    val expected = spark.conf.get(ShuffleKey).toInt
    val dirs = statePartitionDirs(_.keyBy(identity))
    assert(dirs.size === expected, s"state partitions: $dirs")
  }

  test("withExpectedKeys sizes through the measured rule") {
    val spark = TestSpark.spark
    val expected = Graft.statePartitionsFor(
      1500L, spark.sparkContext.defaultParallelism)
    val dirs = statePartitionDirs(_.keyBy(identity).withExpectedKeys(1500L))
    assert(dirs.size === expected,
      s"state partitions: ${dirs.size}, rule says $expected")
  }

  test("withExpectedState sizes through the volume regime (VERDICT r16 #2)") {
    val spark = TestSpark.spark
    // the measured shallow cell: 50K keys, 49.5K state rows — the
    // keys-only rule widens to the cores floor here, the volume rule
    // holds the box's narrow anchor
    val expected = Graft.statePartitionsFor(
      50000L, spark.sparkContext.defaultParallelism, 49500L)
    assert(expected === Graft.NarrowStateWidth)
    val dirs = statePartitionDirs(
      _.keyBy(identity).withExpectedState(50000L, 49500L))
    assert(dirs.size === expected,
      s"state partitions: ${dirs.size}, volume rule says $expected")
  }

  test("the hint survives stateless stages and merge prefers the defined side") {
    val spark = TestSpark.spark
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_hint_ckpt2").toString
    val a = MemoryStream[String]
    val b = MemoryStream[String]
    val left = Graft.source("hint-a", DatasetSource(a.toDS(), (_: String) => 0L))
      .withParallelism(2)
      .map(_.toUpperCase) // stateless stage must not drop the hint
    val right = Graft.source("hint-b", DatasetSource(b.toDS(), (_: String) => 0L))
    val h = left.merge(right)
      .keyBy(identity)
      .to(CountWord)
      .toSink(EmptySink[(String, Long)](), checkpointLocation = Some(ckpt))
    try {
      a.addData("x"); b.addData("y")
      h.processAllAvailable()
    } finally h.stop()
    val dirs = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.forall(_.isDigit))
    assert(dirs.length === 2, s"state partitions: ${dirs.toSeq.sorted}")
  }

  test("the hint never touches the shared session conf — not even during start " +
      "(VERDICT r15 #4)") {
    // The r15 implementation mutated the shared session's
    // spark.sql.shuffle.partitions for a set→start→restore window; a
    // concurrent BATCH action on another thread during that window read
    // the hinted width. The r16 fix starts hinted queries on a cloned
    // session (SessionBridge), so there is no window at all. This vector
    // probes the exact former race point deterministically: a sink whose
    // writeStream reads the ORIGINAL session's conf at the moment of
    // start — inside the old window — must see the default, while the
    // query still gets the hinted physical state width.
    val spark = TestSpark.spark
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.get(ShuffleKey)
    val ckpt = Files.createTempDirectory("graft_hint_ckpt3").toString
    val seenAtStart = new java.util.concurrent.atomic.AtomicReference[String]()
    final case class ProbeSink(orig: org.apache.spark.sql.SparkSession,
        inner: SinkConfig[(String, Long)]) extends SinkConfig[(String, Long)] {
      def writeMicroBatch(ds: org.apache.spark.sql.Dataset[((String, Long), Long)],
          batchId: Long): Unit = inner.writeMicroBatch(ds, batchId)
      override def writeStream(ds: org.apache.spark.sql.Dataset[((String, Long), Long)],
          name: String, checkpointLocation: Option[String],
          trigger: org.apache.spark.sql.streaming.Trigger)
          : org.apache.spark.sql.streaming.StreamingQuery = {
        seenAtStart.set(orig.conf.get(ShuffleKey)) // the old race window
        inner.writeStream(ds, name, checkpointLocation, trigger)
      }
    }
    val words = MemoryStream[String]
    val h = Graft.source("hint-iso", DatasetSource(words.toDS(), (_: String) => 0L))
      .keyBy(identity, parallelism = 2)
      .to(CountWord)
      .toSink(ProbeSink(spark, EmptySink[(String, Long)]()),
        checkpointLocation = Some(ckpt))
    try {
      // while the hinted query is ACTIVE, a batch action on the shared
      // session plans with the session's own width, not the hint's
      assert(spark.conf.get(ShuffleKey) === prev)
      words.addData("a", "b", "a")
      h.processAllAvailable()
    } finally h.stop()
    assert(seenAtStart.get() === prev,
      "the original session's conf must read the default at start time")
    assert(spark.conf.get(ShuffleKey) === prev)
    // the hinted query still got its width, on its own cloned session
    val dirs = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.forall(_.isDigit))
    assert(dirs.length === 2, s"state partitions: ${dirs.toSeq.sorted}")
    // and the query handle reaches the clone (where session-scoped
    // surfaces — spark.streams, memory-sink views — live for hinted
    // queries, per the startDataset scaladoc)
    assert(h.query.exists(_.sparkSession ne spark))
  }

  test("invalid parallelism fails fast") {
    val spark = TestSpark.spark
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val s = MemoryStream[String]
    val p = Graft.source("hint-bad", DatasetSource(s.toDS(), (_: String) => 0L))
    intercept[IllegalArgumentException](p.keyBy(identity, parallelism = 0))
    intercept[IllegalArgumentException](p.withParallelism(-4))
  }
}
