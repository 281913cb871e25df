package graft
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query names (builder-side
    // iteration only; the driver passes two args and gets the full dump).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries may cache intermediates (LSH band tables, CC edge lists);
      // scope those to the query so the session doesn't accumulate blocks
      // across the run (ADVICE r2). Caching.reuse blocks live at the RDD
      // layer (freed by GC in a user session) — a tight bench/verify loop
      // shouldn't wait for GC, so scavenge them explicitly too.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleSqlJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: query name -> DuckDB SQL. json4s escapes quotes,
    * backslashes and every control char, so a tab or CR in the SQL can
    * never break the driver's json.load. */
  private[graft] def oracleSqlJson(sql: Map[String, String]): String =
    compact(render(JObject(sql.toList.map { case (k, v) => JField(k, JString(v)) })))
}
