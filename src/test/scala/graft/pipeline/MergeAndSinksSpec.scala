package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** merge (application.pony:118-147 — the market-spread two-source shape,
  * examples/python/market_spread/market_spread.py:58-62: two typed streams
  * mapped onto one sealed ADT, unioned, keyed, shared per-key state) and
  * multi-sink fan-out (application.pony:193-219). */
object MarketFixtures {
  sealed trait Msg extends Serializable { def sym: String }
  final case class Order(sym: String, qty: Long) extends Msg
  final case class Nbbo(sym: String, bid: Long, offer: Long) extends Msg

  /** market_spread.py:85-100: NBBO updates per-symbol spread state; orders
    * are rejected (emitted) when the stored spread is too wide. */
  final class SpreadState extends Serializable {
    var shouldReject: Boolean = false
  }
  object CheckMarketData extends StateComputation[Msg, (String, Long), SpreadState] {
    override val name = "check market data"
    def initialState(): SpreadState = new SpreadState
    def apply(msg: Msg, st: SpreadState): ComputationResult[(String, Long)] = msg match {
      case Nbbo(_, bid, offer) =>
        // reject when mid-relative spread > 5% (the reference's rule)
        st.shouldReject = bid > 0 && (offer - bid) * 20L > (offer + bid) / 2 * 2L
        ComputationResult.Discard
      case Order(sym, qty) =>
        if (st.shouldReject) ComputationResult.One((sym, qty))
        else ComputationResult.Discard
    }
  }
}

class MergeAndSinksSpec extends AnyFunSuite {
  import MarketFixtures._

  test("market spread: merge two sources into shared per-key state") {
    val spark = TestSpark.spark
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val orders = MemoryStream[(String, Long)]
    val nbbos = MemoryStream[(String, Long, Long)]
    // Type-union via the sealed trait, then merge (the Scala analogue of
    // Pipeline[(A|B)]).
    // Sealed-trait streams need an explicit binary encoder (Spark cannot
    // derive ADT encoders); java serialization keeps the union typed.
    implicit val msgEnc: org.apache.spark.sql.Encoder[Msg] =
      org.apache.spark.sql.Encoders.javaSerialization(classOf[Msg])
    val orderPipe = Graft.source("orders", DatasetSource(orders.toDS(), (_: (String, Long)) => 0L))
      .map(o => Order(o._1, o._2): Msg)
    val nbboPipe = Graft.source("nbbo", DatasetSource(nbbos.toDS(), (_: (String, Long, Long)) => 0L))
      .map(n => Nbbo(n._1, n._2, n._3): Msg)
    val handle = nbboPipe.merge(orderPipe)
      .keyBy(_.sym)
      .to(CheckMarketData)
      .toSink(MemorySink("ms_out"))

    // Batch 1: set state — AAPL spread wide (reject), MSFT tight (accept).
    nbbos.addData(("AAPL", 90L, 110L), ("MSFT", 100L, 101L))
    handle.processAllAvailable()
    // Batch 2: orders route to the same keyed state.
    orders.addData(("AAPL", 500L), ("MSFT", 300L))
    handle.processAllAvailable()
    handle.stop()

    val rejected = spark.sql("SELECT _1._1, _1._2 FROM ms_out")
      .as[(String, Long)].collect().toSet
    assert(rejected == Set(("AAPL", 500L)))
  }

  test("toSinks fans one stream out to multiple sinks") {
    val spark = TestSpark.spark
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val out1 = Files.createTempDirectory("graft_sink1").toString
    val out2 = Files.createTempDirectory("graft_sink2").toString
    val nums = MemoryStream[Long]
    val handle = Graft.source("fan", DatasetSource(nums.toDS(), (_: Long) => 0L))
      .map(_ * 10)
      .toSinks(Seq(ParquetSink(out1), IdempotentParquetSink(out2)))
    nums.addData(1L, 2L, 3L)
    handle.processAllAvailable()
    handle.stop()

    val a = spark.read.parquet(out1).selectExpr("_1").as[Long].collect().sorted
    val b = spark.read.parquet(out2).selectExpr("_1").as[Long].collect().sorted
    assert(a.toSeq == Seq(10L, 20L, 30L))
    assert(b.toSeq == Seq(10L, 20L, 30L))
  }

  test("toSinks keeps every micro-batch in a ParquetSink, not only the last") {
    val spark = TestSpark.spark
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val out1 = Files.createTempDirectory("graft_fan2_parquet").toString
    val out2 = Files.createTempDirectory("graft_fan2_idem").toString
    val nums = MemoryStream[Long]
    val handle = Graft.source("fan2", DatasetSource(nums.toDS(), (_: Long) => 0L))
      .map(_ * 10)
      .toSinks(Seq(ParquetSink(out1), IdempotentParquetSink(out2)))
    nums.addData(1L, 2L)
    handle.processAllAvailable()
    nums.addData(3L)
    handle.processAllAvailable()
    handle.stop()

    val a = spark.read.parquet(out1).selectExpr("_1").as[Long].collect().sorted
    val b = spark.read.parquet(out2).selectExpr("_1").as[Long].collect().sorted
    assert(a.toSeq == Seq(10L, 20L, 30L))
    assert(b.toSeq == Seq(10L, 20L, 30L))
  }
}
