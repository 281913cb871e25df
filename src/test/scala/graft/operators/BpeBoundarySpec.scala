package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TestSpark

/** The BPE merge's symbol-boundary contract: a merge of (L, R) must
  * apply only where L is a COMPLETE symbol, never where L is the suffix
  * of a longer symbol built by an earlier round. The pre-fix 'L|R|'
  * string replace had no left anchor, so after round 1 merged
  * ('s','t') → 'st', a round-2 merge of ('t','o') matched INSIDE
  * '[st][o]' and collapsed it to a never-learned symbol '[sto]' — a
  * corruption shared by the DuckDB oracle (same replace), hence
  * invisible to the hash gate on any corpus. The wrapped '|sym||sym|'
  * representation anchors both sides; this spec drives the public
  * entries over a corpus CRAFTED to fire the old bug:
  *   round 1 merges (s,t) (count 11), round 2 merges (t,o) (count 9),
  *   and the sentinel word 'sto' must end as [st][o] — 2 BPE tokens —
  *   not the corrupted [sto] — 1. Rounds 3-8 drain on the
  *   'abcdefghi' filler chain (tie-broken alphabetically below 's'/'t'
  *   pairs), never touching the sentinel.
  */
class BpeBoundarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a suffix-colliding later merge does not corrupt an earlier symbol") {
    import spark.implicits._
    val staged = java.nio.file.Files
      .createTempDirectory("graft_bpe_boundary").toString
    try {
      val docs = Seq(
        (0L, Seq.fill(10)("st").mkString(" "), "en", "syn"),
        (1L, (Seq.fill(7)("to") :+ "tot").mkString(" "), "en", "syn"),
        (2L, "sto", "en", "syn"),
        (3L, "abcdefghi", "en", "syn"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text")).cast("long"))
      docs.write.mode("overwrite").parquet(s"$staged/documents.parquet")

      val merges = TextAnalysis.tBpeTrain(spark, staged)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2)))
      assert(merges(0) === (("s", "t")), s"round 1: ${merges.toSeq}")
      assert(merges(1) === (("t", "o")), s"round 2: ${merges.toSeq}")

      val enc = TextAnalysis.tBpeEncode(spark, staged)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // the sentinel: 'sto' = [st][o] after both merges — the pre-fix
      // replace collapsed it to [sto] (1 token) via the suffix match
      assert(enc(2L) === 2L,
        s"'sto' must encode as [st][o], got ${enc(2L)} symbols")
      // adjacency still greedy-merges in one pass: 'to to ... tot' =
      // 7x[to] + [to][t] = 9 BPE tokens over 8 words
      assert(enc(1L) === 9L, s"adjacent merges, got ${enc(1L)}")
      // 10x'st' fully merges
      assert(enc(0L) === 10L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
    }
  }
}
