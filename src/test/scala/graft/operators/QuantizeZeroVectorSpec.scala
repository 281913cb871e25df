package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TestSpark

/** Degenerate-input contract of s_quantize: an all-zero embedding has
  * qscale = 0, and x·127/qscale would be NaN — which Spark's non-ANSI
  * int cast silently zeroes while DuckDB errors on CAST(NaN AS INTEGER),
  * an engine divergence. Both sides now emit code 0 explicitly (the
  * exact quantization of 0 at any scale) with zero error; this pins the
  * Spark half of that contract on an injected zero vector.
  */
class QuantizeZeroVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("an all-zero embedding quantizes to all-zero codes with zero error") {
    import spark.implicits._
    val staged = java.nio.file.Files
      .createTempDirectory("graft_qzero").toString
    try {
      Seq(
        (0L, Array.fill(64)(0.0f), "zero"),
        (1L, Array.tabulate(64)(i => (i + 1) * 0.01f), "ramp"))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$staged/embeddings.parquet")
      val rows = Similarity.sQuantize(spark, staged)
        .collect().sortBy(_.getLong(0))
      val zero = rows(0)
      assert(zero.getDouble(1) === 0.0, "qscale of the zero vector")
      assert(zero.getString(2) === Seq.fill(64)("0").mkString(","),
        "codes must be exactly 0, not NaN-cast garbage")
      assert(zero.getDouble(3) === 0.0, "reconstruction error of zero is zero")
      // the non-degenerate row still quantizes normally alongside it
      val ramp = rows(1)
      assert(ramp.getDouble(1) > 0.0)
      assert(ramp.getString(2).split(",").last === "127",
        "the max-|x| dimension maps to code 127")
      assert(!ramp.getString(2).contains("-"), "ramp codes are non-negative")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
    }
  }
}
