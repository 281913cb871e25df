package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TestSpark

/** BPE pair exhaustion: a corpus whose word types collapse to single
  * symbols before [[TextAnalysis.BpeMerges]] rounds. The pre-r12 Spark
  * side THREW (IllegalStateException at the empty best-pair collect)
  * while the DuckDB twin's cross-joined rounds silently emptied the
  * working vocab — train returned fewer rows but encode returned ZERO
  * rows for every document: a crash on one engine vs wrong-but-shaped
  * data on the other, on the same input. Both engines now stop early
  * with the k merges actually found and the final vocab after them
  * (trainBpe's exhaustion branch; the LEFT JOIN carry-forward in
  * bpeCtes). This drives the Spark half on the crafted corpus; the
  * oracle side's carry-forward is the arithmetic mirror of the same
  * early stop, exercised by the gate on the real corpus where all
  * rounds run (the CASE takes its ELSE branch on every row).
  */
class BpeExhaustionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pair exhaustion stops training early instead of throwing; encode still works") {
    import spark.implicits._
    val staged = java.nio.file.Files
      .createTempDirectory("graft_bpe_exhaustion").toString
    try {
      // one word type 'ab': round 1 merges (a,b) -> [ab]; round 2 has no
      // adjacent pairs anywhere — exhaustion at k=1 of 8
      val docs = Seq(
        (0L, "ab ab ab", "en", "syn"),
        (1L, "ab", "en", "syn"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text")).cast("long"))
      docs.write.mode("overwrite").parquet(s"$staged/documents.parquet")

      val merges = TextAnalysis.tBpeTrain(spark, staged).collect()
      assert(merges.length === 1,
        s"training must return the 1 merge found, got ${merges.length}")
      assert((merges(0).getString(1), merges(0).getString(2)) === (("a", "b")))

      // encode joins the final (post-exhaustion) vocab: every 'ab' is
      // one BPE symbol
      val enc = TextAnalysis.tBpeEncode(spark, staged)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(enc(0L) === ((3L, 3L)), s"doc 0: ${enc(0L)}")
      assert(enc(1L) === ((1L, 1L)), s"doc 1: ${enc(1L)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
    }
  }
}
