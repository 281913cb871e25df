package graft.pipeline

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** Schema-drift canary over EVERY table loader — the round-5 lesson
  * (`events.ts` silently regenerated from TIMESTAMP(NANOS) to
  * timestamp[us], killing 17 oracle entries before anything noticed)
  * generalized: the driver regenerates /root/testdata between rounds, so
  * each loader is pinned to the LOGICAL columns the registry depends on,
  * not a physical layout. A regeneration that changes what the loaders
  * present fails here first, with a message naming the table — instead of
  * as an analysis error deep inside some query's plan.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Logical contract per table: column name → accepted dataTypes.
    * Integral key/count columns accept any integral width (the generator
    * has shipped int32 and int64 for dimension keys). Raw date columns
    * accept TIMESTAMP or TIMESTAMP_NTZ (Spark 4 infers NTZ from
    * no-timezone parquet; with the session pinned to UTC both name the
    * same instant, and the oracle queries are green under either) —
    * events.ts alone is REQUIRED to be TimestampType because its loader
    * normalizes whatever the file holds. */
  private val integral: Set[DataType] = Set(IntegerType, LongType)
  private val anyTimestamp: Set[DataType] = Set(TimestampType, TimestampNTZType)
  private def contract(name: String): Map[String, Set[DataType]] = name match {
    case "region"   => Map("r_regionkey" -> integral, "r_name" -> Set(StringType))
    case "nation"   => Map("n_nationkey" -> integral, "n_name" -> Set(StringType),
      "n_regionkey" -> integral)
    case "customer" => Map("c_custkey" -> integral, "c_nationkey" -> integral,
      "c_acctbal" -> Set(DoubleType), "c_mktsegment" -> Set(StringType))
    case "supplier" => Map("s_suppkey" -> integral, "s_nationkey" -> integral,
      "s_acctbal" -> Set(DoubleType))
    case "part"     => Map("p_partkey" -> integral, "p_brand" -> Set(StringType),
      "p_type" -> Set(StringType), "p_size" -> integral)
    case "orders"   => Map("o_orderkey" -> integral, "o_custkey" -> integral,
      "o_totalprice" -> Set(DoubleType), "o_orderdate" -> anyTimestamp,
      "o_orderpriority" -> Set(StringType))
    case "lineitem" => Map("l_orderkey" -> integral, "l_partkey" -> integral,
      "l_suppkey" -> integral, "l_quantity" -> Set(DoubleType),
      "l_extendedprice" -> Set(DoubleType), "l_discount" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> anyTimestamp)
    case "events"   => Map("event_id" -> integral, "ts" -> Set[DataType](TimestampType),
      "ts_ns" -> Set[DataType](LongType), "user_id" -> integral,
      "event_type" -> Set(StringType), "value" -> Set(DoubleType),
      "props" -> Set(StringType))
    case "documents" => Map("doc_id" -> integral, "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType), "n_chars" -> integral)
    case "embeddings" => Map("vec_id" -> integral,
      "embedding" -> Set[DataType](ArrayType(FloatType), ArrayType(FloatType, false),
        ArrayType(DoubleType), ArrayType(DoubleType, false)),
      "label" -> integral)
  }

  private def load(name: String) = name match {
    case "events"    => graft.Tables.events(spark, dir)
    case "documents" => graft.Tables.documents(spark, dir)
    case other       => graft.Tables.load(spark, dir, other)
  }

  test("every table loader presents its contract columns against the current testdata") {
    val problems = graft.Tables.names.flatMap { name =>
      try {
        val schema = load(name).schema
        contract(name).flatMap { case (col, accepted) =>
          schema.fields.find(_.name == col) match {
            case None => Some(s"$name.$col missing (has ${schema.fieldNames.mkString(",")})")
            case Some(f) if !accepted.contains(f.dataType) =>
              Some(s"$name.$col is ${f.dataType.simpleString}, expected one of " +
                accepted.map(_.simpleString).mkString("/"))
            case _ => None
          }
        }
      } catch {
        case e: Throwable => Seq(s"$name failed to load: ${e.getMessage}")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("every table has rows at sf0.001") {
    for (name <- graft.Tables.names)
      assert(load(name).limit(1).count() == 1L, s"$name is empty")
  }

  test("per-user event times are strictly increasing at MICROSECOND granularity") {
    // p_market_spread's oracle equivalence rests on this (ADVICE r6):
    // the batch/stream replay orders merged legs by ts_ns while the
    // DuckDB ASOF oracle compares strictly at epoch_us — two same-user
    // events inside one microsecond would be ordered by the replay but
    // excluded by the oracle's strict o.ts_us > q.ts_us. Guard the
    // invariant at every SF the driver touches so a testdata
    // regeneration that violates it fails HERE, not as an opaque hash
    // mismatch. (Same-ns ties would also make the per-key replay sort
    // nondeterministic; µs-strict implies ns-strict.)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val w = Window.partitionBy("user_id").orderBy("ts_ns")
      val violations = graft.Tables.events(spark, s"/root/testdata/$sf")
        .select(col("user_id"), col("ts_ns"),
          // integer division — ts_ns ~1.7e18 exceeds double precision,
          // so `/ 1000` (float div) would corrupt the µs values
          expr("ts_ns div 1000").as("ts_us"))
        .withColumn("prev_us", lag("ts_us", 1).over(w))
        .filter(col("prev_us").isNotNull && col("ts_us") <= col("prev_us"))
        .count()
      assert(violations === 0L,
        s"$sf: $violations same-user event pairs within one microsecond — " +
          "p_market_spread's replay/ASOF-oracle equivalence is broken")
    }
  }

  /** A fresh directory holding one parquet table, removed after `body`. */
  private def withTempTables[T](body: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory("graft_tables").toFile
    try body(d.toString) finally FileUtils.deleteDirectory(d)
  }

  test("a second load of an unchanged table starts no Spark job") {
    val sc = spark.sparkContext
    val group = s"tables-no-job-${java.util.UUID.randomUUID()}"
    val sentinelKey = "graft.tables.sentinel"
    val jobs = new AtomicInteger
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = e.properties
        if (props != null && props.getProperty("spark.jobGroup.id") == group) {
          if (props.getProperty(sentinelKey) != null) sentinelSeen.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    // the first loads may infer (and start jobs); only the second ones count
    graft.Tables.load(spark, dir, "lineitem")
    graft.Tables.events(spark, dir)
    graft.Tables.documents(spark, dir)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "second loads")
    try {
      assert(graft.Tables.load(spark, dir, "lineitem").schema.nonEmpty)
      assert(graft.Tables.events(spark, dir).schema.nonEmpty)
      assert(graft.Tables.documents(spark, dir).schema.nonEmpty)
      // the listener bus delivers in order: once the one-task sentinel's
      // start is seen, every job the loads started has been seen too
      sc.setLocalProperty(sentinelKey, "1")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(10, TimeUnit.SECONDS), "the sentinel job was never delivered")
      assert(jobs.get == 0, s"second loads of unchanged tables started ${jobs.get} Spark job(s)")
    } finally {
      sc.setLocalProperty(sentinelKey, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a table rewritten in place is loaded with its new schema and rows") {
    import spark.implicits._
    withTempTables { d =>
      val path = s"$d/t.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
      val before = graft.Tables.load(spark, d, "t")
      assert(before.schema.fieldNames.toSeq == Seq("k", "v"))
      assert(before.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))

      Seq((1.5, 7, true), (2.5, 8, false), (3.5, 9, true)).toDF("x", "y", "z")
        .write.mode("overwrite").parquet(path)
      val after = graft.Tables.load(spark, d, "t")
      assert(after.schema == spark.read.parquet(path).schema)
      assert(after.schema.fieldNames.toSeq == Seq("x", "y", "z"))
      assert(after.as[(Double, Int, Boolean)].collect().sorted.toSeq ==
        Seq((1.5, 7, true), (2.5, 8, false), (3.5, 9, true)))
    }
  }

  test("four threads loading one table at once get the same schema") {
    import spark.implicits._
    withTempTables { d =>
      val path = s"$d/t.parquet"
      Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("k", "v", "w").write.parquet(path)
      val expected = spark.read.parquet(path).schema
      val pool = Executors.newFixedThreadPool(4)
      try {
        val go = new CountDownLatch(1)
        val loads = (1 to 4).map { _ =>
          pool.submit(new Callable[StructType] {
            def call(): StructType = { go.await(); graft.Tables.load(spark, d, "t").schema }
          })
        }
        go.countDown()
        val schemas = loads.map(_.get(60, TimeUnit.SECONDS))
        assert(schemas.forall(_ == expected), s"expected $expected, got ${schemas.distinct}")
      } finally pool.shutdownNow()
    }
  }

  test("documents repartitions one small file and leaves many files as they are") {
    import spark.implicits._
    val target = spark.sparkContext.defaultParallelism
    def repartitioned(d: String): Boolean =
      graft.Tables.documents(spark, d).queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.isDefined
    withTempTables { d =>
      (1 to 8).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      assert(repartitioned(d), "one small file must be spread over the cluster")
    }
    withTempTables { d =>
      (1 to 4 * target).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
        .repartition(2 * target).write.parquet(s"$d/documents.parquet")
      assert(!repartitioned(d), s"${2 * target} files already give the scan its parallelism")
    }
  }
}
