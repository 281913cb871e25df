package graft

/** Dev tool: `runMain graft.ExplainAll <outDir> <q1,q2,...> [sfDir] [runs]`
  * — for each named query, write its formatted physical plan to
  * `<outDir>/<name>.txt` and print `runs` noop-write timings (the Bench
  * measurement shape) as one line per query. One JVM for the whole list,
  * so JVM/codegen warmup (~30 s) is paid once; a single-query list is
  * the iterate-on-one-plan loop.
  * Used to produce the r17 `plans/r17/<query>_{before,after}.txt`
  * artifacts and the per-change timing evidence in OPTIMIZATION_r17.md. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val runs = if (args.length > 3) args(3).toInt else 3
    val spark = Sessions.local("graft-explain-all")
    new java.io.File(outDir).mkdirs()
    // same untimed warmup shape as Bench: JIT/codegen/parquet init paid once
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "region").write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        t
      }
      val med = times.sorted.apply(times.size / 2)
      println(f"[explain-all] $name%-24s median ${med}%.3f s  runs ${times.map(t => f"$t%.3f").mkString(", ")}")
    }
    spark.stop()
  }
}
