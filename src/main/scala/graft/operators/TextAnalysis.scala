package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable

/** Text-analysis operators over the `documents` table — the per-document
  * scoring pass of a training-data pipeline (language ID, quality
  * scoring, token counting, fingerprinting).
  *
  * All of these are narrow, per-row transformations: no shuffle at all
  * except the final aggregate where one exists. At 100 TB they are pure
  * map-side scans and scale linearly; every expression stays inside
  * whole-stage codegen (no UDFs).
  */
object TextAnalysis {

  private val stopwords = Portable.QualityStopwords
  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")

  /** Language marker profiles for the n-gram/marker-word heuristic
    * language ID. Scores are marker-token counts; argmax with a fixed
    * tie-break order (en > es > de > fr > unknown). */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of", "with"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "est", "les"))

  // ------------------------------------------------------------ t_token_count
  /** Whitespace token count + a BPE-ish regex token count (letter runs,
    * digit runs, single punctuation — a cheap proxy for subword count). */
  def tTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      expr(s"size(${Portable.sparkTokens("text")})").cast("long").as("n_ws_tokens"),
      expr(s"size(regexp_extract_all(${Portable.sqlAsciiLower("text")}, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
        .cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_actual"))

  val tTokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len(${Portable.duckTokens("text")}) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(${Portable.sqlAsciiLower("text")}, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_actual
       |FROM documents""".stripMargin

  // ------------------------------------------------------------ t_quality
  /** The composite score lives in [[Portable]] (leaf module — breaks the
    * TextAnalysis ↔ Dedup registry-init cycle); aliased for operators. */
  private[operators] def sparkQualityScore: String = Portable.sparkQualityScore
  private[operators] def duckQualityScore: String = Portable.duckQualityScore

  /** Quality signals: char/token counts, stopword ratio, punctuation
    * ratio, mean token length, and a composite score. All ratios are
    * exact-int divisions done identically in both engines. */
  def tQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = Portable.sparkTokens("text")
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_actual"),
      expr(s"size($toks)").cast("long").as("n_tokens"),
      expr(s"cast(size(filter($toks, t -> t IN (${sqlList(stopwords)}))) as double)" +
        s" / size($toks)").as("stopword_ratio"),
      expr(Portable.sparkPunctRatio()).as("punct_ratio"),
      expr(s"cast(length(text) as double) / size($toks)").as("avg_token_len"))
      .withColumn("quality_score",
        expr(Portable.qualityCombineSpark("n_tokens", "stopword_ratio", "punct_ratio")))
  }

  val tQualitySql: String = {
    val toks = Portable.duckTokens("text")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_actual,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter($toks, t -> t IN (${sqlList(stopwords)}))) AS DOUBLE)
       |      / len($toks) AS stopword_ratio,
       |    ${Portable.duckPunctRatio()} AS punct_ratio,
       |    CAST(length(text) AS DOUBLE) / len($toks) AS avg_token_len
       |  FROM documents)
       |SELECT *, ${Portable.qualityCombineDuck("n_tokens", "stopword_ratio", "punct_ratio")} AS quality_score
       |FROM q""".stripMargin
  }

  // ------------------------------------------------------------ t_quality_model
  /** Classifier-based quality filtering — the fastText-style linear model
    * pass (GPT-3 / LLaMA-style "quality classifier") that follows the
    * heuristic [[tQuality]] score in a real pretraining pipeline: each
    * token hashes to a feature bucket whose weight is summed into a
    * per-document score, and `keep` is the sign of the mean weight.
    *
    * Weights here are DERIVED from the portable 48-bit hash
    * (w(t) = H(t) mod 2001 − 1000 ∈ [−1000, 1000]) — a deterministic,
    * oracle-reproducible stand-in for learned weights. A deployment
    * swaps in a broadcast weight array indexed by `xxhash64(t) % buckets`
    * (the true fastText layout); the topology is IDENTICAL — only the
    * weight lookup changes, and nothing about the plan does.
    *
    * Scale shape: scoring is ONE codegen'd per-row projection — the
    * token → weight → sum fold runs inside a higher-order `aggregate`
    * with ZERO shuffles, no UDF, no state; the single double division
    * happens once at the end (both engines' IEEE division agrees, so
    * the oracle is hash-exact). Classifier filtering at 100 TB should
    * be exactly this: scan-bound and embarrassingly parallel. The md5
    * in the weight derivation is the oracle-portability tax; the
    * xxhash64 production form removes it without touching the plan. */
  def tQualityModel(s: SparkSession, dir: String): DataFrame = {
    val toks = Portable.sparkTokens(Portable.sqlAsciiLower("text"))
    val w = s"${Portable.sparkHash("t", "qmw")} % 2001 - 1000"
    Tables.documents(s, dir).select(
      col("doc_id"),
      expr(s"cast(size($toks) as bigint)").as("n_toks"),
      expr(s"aggregate(transform($toks, t -> $w), cast(0 as bigint), (a, x) -> a + x)")
        .as("score_int"))
      .withColumn("score", col("score_int").cast("double") / col("n_toks"))
      .withColumn("keep", col("score") > lit(0.0))
  }

  val tQualityModelSql: String = {
    val toks = Portable.duckTokens(Portable.sqlAsciiLower("text"))
    val w = s"${Portable.duckHash("t", "qmw")} % 2001 - 1000"
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_toks,
       |    CAST(list_sum(list_transform($toks, t -> $w)) AS BIGINT) AS score_int
       |  FROM documents)
       |SELECT doc_id, n_toks, score_int,
       |  CAST(score_int AS DOUBLE) / n_toks AS score,
       |  CAST(score_int AS DOUBLE) / n_toks > 0.0 AS keep
       |FROM q""".stripMargin
  }

  // ------------------------------------------------------------ t_langid
  /** Marker-word language ID with deterministic argmax. Emits predicted
    * language + the labeled lang column for downstream agreement checks. */
  def tLangid(s: SparkSession, dir: String): DataFrame = {
    val toks = Portable.sparkTokens(Portable.sqlAsciiLower("text"))
    val scored = langMarkers.foldLeft(Tables.documents(s, dir)) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang",
          expr(s"cast(size(filter($toks, t -> t IN (${sqlList(markers)}))) as bigint)"))
    }
    val best = langMarkers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
    val pick = langMarkers.foldRight("'unknown'") { case ((l, _), els) =>
      s"if(score_$l = best AND best > 0, '$l', $els)"
    }
    scored.withColumn("best", expr(best))
      .withColumn("pred_lang", expr(pick))
      .select((Seq("doc_id", "lang", "pred_lang") ++
        langMarkers.map { case (l, _) => s"score_$l" }).map(col): _*)
  }

  val tLangidSql: String = {
    val toks = Portable.duckTokens(Portable.sqlAsciiLower("text"))
    val scoreCols = langMarkers.map { case (l, m) =>
      s"CAST(len(list_filter($toks, t -> t IN (${sqlList(m)}))) AS BIGINT) AS score_$l"
    }.mkString(",\n    ")
    val best = langMarkers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
    val pick = langMarkers.foldRight("'unknown'") { case ((l, _), els) =>
      s"CASE WHEN score_$l = best AND best > 0 THEN '$l' ELSE $els END"
    }
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM documents),
       |b AS (SELECT *, $best AS best FROM scored)
       |SELECT doc_id, lang, $pick AS pred_lang,
       |  ${langMarkers.map { case (l, _) => s"score_$l" }.mkString(", ")}
       |FROM b""".stripMargin
  }

  // ------------------------------------------------------------ t_fingerprint
  /** Document fingerprinting: md5 of whitespace-normalized lowercase text
    * plus the 48-bit portable hash of the same (the int form is what
    * dedup partitions on at scale — an 8-byte shuffle key, not a 32-byte
    * hex string). */
  def tFingerprint(s: SparkSession, dir: String): DataFrame = {
    val norm = Portable.sparkNormText()
    Tables.documents(s, dir).select(
      col("doc_id"),
      expr(s"md5($norm)").as("fp_md5"),
      expr(Portable.sparkHash(norm, "fp")).as("fp_int"))
  }

  val tFingerprintSql: String = {
    val norm = Portable.duckNormText()
    s"""SELECT doc_id, md5($norm) AS fp_md5,
       |  ${Portable.duckHash(norm, "fp")} AS fp_int
       |FROM documents""".stripMargin
  }

  // ------------------------------------------------------------ t_clean_corpus
  /** The composed cleaning pass a training-data pipeline actually runs:
    * score quality + language-ID + fingerprint in ONE scan (all narrow,
    * projection-collapsed), exact-dedup to the canonical (min doc_id) copy
    * per fingerprint, drop low-quality and unidentified-language docs,
    * and emit per-language corpus stats. Two shuffles total: the window
    * over fp (the raw text column is projected away BEFORE it — the
    * shuffle carries a hash + a handful of numerics) and the final
    * per-language aggregate. Output sums are exact integers, so the
    * result is identical at any parallelism. */
  def tCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val toks = Portable.sparkTokens("text")
    val ltoks = Portable.sparkTokens(Portable.sqlAsciiLower("text"))
    val norm = Portable.sparkNormText()
    val base = Tables.documents(s, dir).select(
      Seq(
        col("doc_id"),
        expr(s"md5($norm)").as("fp"),
        expr(s"size($toks)").cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        expr(s"cast(size(filter($toks, t -> t IN (${sqlList(stopwords)}))) as double)" +
          s" / size($toks)").as("stopword_ratio"),
        expr(Portable.sparkPunctRatio()).as("punct_ratio")) ++
      langMarkers.map { case (lang, markers) =>
        expr(s"cast(size(filter($ltoks, t -> t IN (${sqlList(markers)}))) as bigint)")
          .as(s"score_$lang")
      }: _*)
    val best = langMarkers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
    val pick = langMarkers.foldRight("'unknown'") { case ((l, _), els) =>
      s"if(score_$l = best AND best > 0, '$l', $els)"
    }
    base
      .withColumn("quality_score",
        expr(Portable.qualityCombineSpark("n_tokens", "stopword_ratio", "punct_ratio")))
      .withColumn("best", expr(best))
      .withColumn("pred_lang", expr(pick))
      .withColumn("canonical_id",
        min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("doc_id") === col("canonical_id") &&
        col("pred_lang") =!= "unknown" && col("quality_score") >= 0.5)
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens_total"),
        sum("n_chars").as("n_chars_total"))
  }

  val tCleanCorpusSql: String = {
    val toks = Portable.duckTokens("text")
    val ltoks = Portable.duckTokens(Portable.sqlAsciiLower("text"))
    val norm = Portable.duckNormText()
    val scoreCols = langMarkers.map { case (l, m) =>
      s"CAST(len(list_filter($ltoks, t -> t IN (${sqlList(m)}))) AS BIGINT) AS score_$l"
    }.mkString(",\n    ")
    val best = langMarkers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
    val pick = langMarkers.foldRight("'unknown'") { case ((l, _), els) =>
      s"CASE WHEN score_$l = best AND best > 0 THEN '$l' ELSE $els END"
    }
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    md5($norm) AS fp,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(list_filter($toks, t -> t IN (${sqlList(stopwords)}))) AS DOUBLE)
       |      / len($toks) AS stopword_ratio,
       |    ${Portable.duckPunctRatio()} AS punct_ratio,
       |    $scoreCols
       |  FROM documents),
       |q AS (
       |  SELECT *,
       |    ${Portable.qualityCombineDuck("n_tokens", "stopword_ratio", "punct_ratio")} AS quality_score,
       |    $best AS best
       |  FROM scored),
       |p AS (SELECT *, $pick AS pred_lang FROM q),
       |c AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM p)
       |SELECT pred_lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
       |FROM c
       |WHERE doc_id = canonical_id AND pred_lang <> 'unknown' AND quality_score >= 0.5
       |GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------------ t_sample_stratified
  /** Deterministic stratified sampling with a per-stratum cap — the
    * per-domain/per-language cap every large-corpus mixing recipe applies
    * before training (bound any one source's share of the corpus).
    *
    * Selection is rank-by-portable-hash: within each (lang, source)
    * stratum, docs are ordered by (H(doc_id, "sample"), doc_id) and the
    * first [[SampleCapPerStratum]] are kept — a uniform-without-
    * replacement sample that is a pure function of the doc ids, so it is
    * reproducible run-to-run, stable under corpus re-partitioning, and
    * bit-exact in the oracle (no RNG state anywhere).
    *
    * Scale shape: the per-stratum selection is the bounded heap
    * [[graft.functions.TopKAgg]] — each input partition reduces to a
    * ≤2·cap buffer map-side and the single stratum-keyed exchange moves
    * buffers plus partial counts, never rows, so a pathologically hot
    * stratum costs O(cap) memory instead of one partition's full sort
    * (the row_number() window this replaced). The stratum count rides
    * the same aggregation. */
  val SampleCapPerStratum = 6

  def tSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(SampleCapPerStratum, desc = false),
      org.apache.spark.sql.Encoders.product[graft.functions.TopKCand])
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        expr(Portable.sparkHash("cast(doc_id as string)", "sample")).as("h"))
      // the 48-bit hash is exact as a double (< 2^53), so double ordering
      // == integer ordering; tie-break rides the aggregator's id field
      .groupBy("lang", "source")
      .agg(topk(col("h").cast("double"), col("doc_id"),
        expr("cast(array() as array<double>)"), lit(0.0d)).as("top"),
        count(lit(1)).as("stratum_n"))
      .select(col("lang"), col("source"), col("stratum_n"), posexplode(col("top")))
      .select(col("col.id").as("doc_id"), col("lang"), col("source"),
        (col("pos") + 1).cast("long").as("samp_rank"), col("stratum_n"))
  }

  val tSampleStratifiedSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang, source,
       |    ${Portable.duckHash("CAST(doc_id AS VARCHAR)", "sample")} AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
       |      ORDER BY h ASC, doc_id ASC) AS BIGINT) AS samp_rank,
       |    COUNT(*) OVER (PARTITION BY lang, source) AS stratum_n
       |  FROM h)
       |SELECT doc_id, lang, source, samp_rank, stratum_n
       |FROM r WHERE samp_rank <= $SampleCapPerStratum""".stripMargin

  // ------------------------------------------------------------ t_repetition
  /** Repetition-based quality signals — the Gopher-rules family (Rae et
    * al. 2021, "Scaling Language Models", table A1): heavily repetitive
    * documents (boilerplate, SEO spam, degenerate generations) are the
    * single biggest volume of junk a web-scale corpus carries.
    *  - `top_bigram_frac`: occurrences of the most frequent word 2-gram /
    *    total 2-grams (Gopher rejects > 0.18-0.20);
    *  - `dup_trigram_frac`: fraction of 3-gram OCCURRENCES whose 3-gram
    *    appears more than once (their duplicate-n-gram fraction);
    *  - `distinct_token_ratio`: distinct / total tokens (the line-based
    *    signals don't apply — this corpus is single-line);
    *  - `keep`: the composite verdict at the documented thresholds.
    *
    * Shape at 100 TB: per-n-gram counting is explode → two-level
    * hash agg keyed by doc_id. Spark's partial aggregation combines
    * (doc_id, gram) counts map-side BEFORE the shuffle, so the exchange
    * carries ~distinct grams per doc, not token count; per-doc state is
    * O(distinct grams). This beats the per-row higher-order-function
    * formulation (no shuffle but interpreted, non-codegen, and O(len²)
    * per doc — fatal on 100k-token documents). */
  def tRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val top2 = docs
      .select(col("doc_id"), explode(expr(Portable.sparkNgrams("text", 2))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c").cast("double") / sum("c")).as("top_bigram_frac"))
    val dup3 = docs
      .select(col("doc_id"), explode(expr(Portable.sparkNgrams("text", 3))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double") / sum("c"))
        .as("dup_trigram_frac"))
    val toks = Portable.sparkTokens("text")
    docs.select(col("doc_id"),
        expr(s"cast(size(array_distinct($toks)) as double) / size($toks)")
          .as("distinct_token_ratio"))
      .join(top2, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top_bigram_frac"), col("dup_trigram_frac"),
        col("distinct_token_ratio"),
        (coalesce(col("top_bigram_frac") <= 0.2, lit(true)) &&
          coalesce(col("dup_trigram_frac") <= 0.5, lit(true))).as("keep"))
  }

  val tRepetitionSql: String =
    s"""WITH g2 AS (
       |  SELECT doc_id, unnest(${Portable.duckNgrams("text", 2)}) AS g FROM documents),
       |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
       |a2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
       |       FROM c2 GROUP BY 1),
       |g3 AS (
       |  SELECT doc_id, unnest(${Portable.duckNgrams("text", 3)}) AS g FROM documents),
       |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
       |a3 AS (SELECT doc_id,
       |         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
       |           AS dup_trigram_frac
       |       FROM c3 GROUP BY 1)
       |SELECT d.doc_id, a2.top_bigram_frac, a3.dup_trigram_frac,
       |  CAST(len(list_distinct(${Portable.duckTokens("text")})) AS DOUBLE)
       |    / len(${Portable.duckTokens("text")}) AS distinct_token_ratio,
       |  (COALESCE(a2.top_bigram_frac <= 0.2, TRUE)
       |    AND COALESCE(a3.dup_trigram_frac <= 0.5, TRUE)) AS keep
       |FROM documents d
       |LEFT JOIN a2 USING (doc_id)
       |LEFT JOIN a3 USING (doc_id)""".stripMargin

  // ------------------------------------------------------------ t_length_percentiles
  /** Exact nearest-rank token-length percentiles per source — the corpus
    * length profile every mixing/packing pipeline reads before choosing
    * sequence lengths and truncation budgets.
    *
    * Scale shape (why NOT a per-key sort): order statistics over raw rows
    * need a full sort shuffle per key with parallelism = #keys. Lengths
    * are small integers, so count by (source, len) FIRST — map-side
    * partial agg collapses the corpus to #distinct-lengths rows per
    * source — then one tiny cumulative window over distinct lengths picks
    * the nearest-rank values: p_q = min{ len : cum(len) ≥ ⌈q·n⌉ }. The
    * only full-data exchange is the partial-agg shuffle; the window runs
    * over ~thousands of rows regardless of corpus size. For true
    * continuous values (distinct ≈ rows) use `approx_percentile`'s
    * sketch instead — integer lengths keep this one exact AND cheap. */
  def tLengthPercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir).select(col("source"),
      expr(s"size(${Portable.sparkTokens("text")})").cast("long").as("len"))
    val cnt = base.groupBy("source", "len").agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy("source").orderBy(col("len").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cnt
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
    val qs = Seq("p50" -> 0.50, "p90" -> 0.90, "p99" -> 0.99)
    cum.groupBy("source").agg(
      max("n").as("n_docs"),
      qs.map { case (nm, q) =>
        min(when(col("cum") >= ceil(lit(q) * col("n")), col("len"))).as(nm)
      }: _*)
  }

  val tLengthPercentilesSql: String = {
    val picks = Seq("p50" -> "0.50", "p90" -> "0.90", "p99" -> "0.99").map {
      case (nm, q) =>
        s"MIN(CASE WHEN cum >= CEIL($q * n) THEN len END) AS $nm"
    }.mkString(",\n  ")
    s"""WITH base AS (
       |  SELECT source, CAST(len(${Portable.duckTokens("text")}) AS BIGINT) AS len
       |  FROM documents),
       |cnt AS (SELECT source, len, COUNT(*) AS c FROM base GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, len,
       |    SUM(c) OVER (PARTITION BY source ORDER BY len
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS n
       |  FROM cnt)
       |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       |  $picks
       |FROM cum GROUP BY source""".stripMargin
  }

  // ------------------------------------------------------------ t_pack
  /** Sequence packing: lay the corpus out as ONE deterministic token
    * stream (docs ordered by portable hash — a shuffle of the corpus
    * without an RNG) and cut fixed [[PackBudget]]-token training
    * sequences; each doc gets its global token offset and the sequence
    * (bin) containing its first token. This is the standard pretraining
    * packing where documents cross sequence boundaries — the op every
    * batch-assembly pipeline runs last.
    *
    * The interesting part at 100 TB is the EXACT GLOBAL running sum. A
    * window over a global ORDER BY is a single-partition sort — dead at
    * scale. This is the classic two-phase parallel prefix sum instead:
    *   1. range-partition + sort by (key, doc_id) — the one full-data
    *      shuffle, order-preserving across partitions;
    *   2. per-partition token totals to the driver — ONE LONG PER
    *      PARTITION (bounded by the partition count, not the data; the
    *      only driver-side collect in the operator);
    *   3. broadcast the exclusive prefix of those totals as per-partition
    *      base offsets; a narrow mapPartitions adds the running sum.
    * The sorted stage is computed once ([[Caching.reuse]]) and read by
    * both passes; partition ids are stable because both passes read the
    * same materialized RDD. */
  val PackBudget = 2048L

  def tPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      expr(s"size(${Portable.sparkTokens("text")})").cast("long").as("n_toks"),
      expr(Portable.sparkHash("cast(doc_id as string)", "pack")).as("key"))
    val parts = Caching.reuse(
      base.repartitionByRange(col("key"), col("doc_id"))
        .sortWithinPartitions("key", "doc_id"))
    val tup3 = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    // pass 1: per-partition totals (one long per partition)
    val partSums = parts.select("doc_id", "n_toks", "key")
      .mapPartitions { it =>
        var sum = 0L
        it.foreach(r => sum += r.getLong(1))
        Iterator.single((org.apache.spark.TaskContext.getPartitionId().toLong, sum, 0L))
      }(tup3)
      .collect().map { case (pid, sum, _) => pid.toInt -> sum }.toMap
    val nParts = (partSums.keys ++ Seq(-1)).max + 1
    val bases = (0 until nParts).scanLeft(0L)((acc, pid) => acc + partSums.getOrElse(pid, 0L))
    val bc = s.sparkContext.broadcast(bases.toArray)
    // pass 2: narrow running sum from the broadcast base offsets
    parts.select("doc_id", "n_toks", "key")
      .mapPartitions { it =>
        var off = bc.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { r =>
          val start = off
          off += r.getLong(1)
          (r.getLong(0), start, r.getLong(1))
        }
      }(tup3)
      .select(col("_1").as("doc_id"), col("_2").as("start_tok"),
        expr(s"_2 div $PackBudget").as("bin"), col("_3").as("n_toks"))
  }

  val tPackSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(${Portable.duckTokens("text")}) AS BIGINT) AS n_toks,
       |    ${Portable.duckHash("cast(doc_id as varchar)", "pack")} AS key
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, n_toks,
       |    CAST(SUM(n_toks) OVER (ORDER BY key, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
       |      AS BIGINT) AS start_tok
       |  FROM base)
       |SELECT doc_id, start_tok, start_tok // $PackBudget AS bin, n_toks
       |FROM cum""".stripMargin

  // ------------------------------------------------------------ t_seq_pack
  /** The packing INDEX a trainer actually loads: for every fixed-length
    * training sequence ([[PackBudget]] tokens), which document slices
    * compose it — (seq_id, doc_id, pos_begin in the sequence, doc_off
    * into the document, slice len). Docs crossing a boundary appear once
    * per sequence they touch; concatenating each seq_id's slices in
    * pos_begin order reproduces the exact token stream [[tPack]] laid
    * out. This is the attention-reset / sample-lookup table every packed
    * pretraining loader materializes next to the shards.
    *
    * Scale shape: [[tPack]]'s single range-partition shuffle plus a
    * narrow `sequence` + `posexplode` expansion — fan-out per doc is
    * 1 + n_toks/PackBudget (≈1), and each output row is five longs. No
    * additional exchange, no sort by seq_id (consumers range-read the
    * index by seq_id from the sharded store; a final repartitionByRange
    * on seq_id is one line where locality matters). */
  def tSeqPack(s: SparkSession, dir: String): DataFrame = {
    val L = PackBudget
    tPack(s, dir)
      .withColumn("seq_from", expr(s"start_tok div $L"))
      .withColumn("seq_to", expr(s"(start_tok + n_toks - 1) div $L"))
      .withColumn("seq_id", explode(expr("sequence(seq_from, seq_to)")))
      .select(
        col("seq_id"), col("doc_id"),
        expr(s"greatest(start_tok, seq_id * $L) - seq_id * $L").as("pos_begin"),
        expr(s"greatest(start_tok, seq_id * $L) - start_tok").as("doc_off"),
        expr(s"least(start_tok + n_toks, (seq_id + 1) * $L)" +
          s" - greatest(start_tok, seq_id * $L)").as("len"))
  }

  val tSeqPackSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(${Portable.duckTokens("text")}) AS BIGINT) AS n_toks,
       |    ${Portable.duckHash("cast(doc_id as varchar)", "pack")} AS key
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, n_toks,
       |    CAST(SUM(n_toks) OVER (ORDER BY key, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
       |      AS BIGINT) AS start_tok
       |  FROM base),
       |spans AS (
       |  SELECT doc_id, start_tok, n_toks,
       |    CAST(unnest(generate_series(start_tok // $PackBudget,
       |      (start_tok + n_toks - 1) // $PackBudget)) AS BIGINT) AS seq_id
       |  FROM cum)
       |SELECT seq_id, doc_id,
       |  greatest(start_tok, seq_id * $PackBudget) - seq_id * $PackBudget AS pos_begin,
       |  greatest(start_tok, seq_id * $PackBudget) - start_tok AS doc_off,
       |  least(start_tok + n_toks, (seq_id + 1) * $PackBudget)
       |    - greatest(start_tok, seq_id * $PackBudget) AS len
       |FROM spans""".stripMargin

  // ------------------------------------------------------------ t_line_dedup
  /** Line-level exact deduplication — the CCNet/C4 boilerplate-removal
    * pass (VERDICT r4 #5): segment every document into lines, drop each
    * line whose exact text appears in more than [[MaxLineDocFreq]]
    * DISTINCT documents (headers, footers, nav chrome — content repeated
    * across documents), and reassemble what remains in original order.
    * The corpus has no newlines, so a "line" here is a [[LineWords]]-word
    * segment — the segmentation is one `transform`+`posexplode` HOF; swap
    * the splitter for `split(text, '\\n')` on real prose.
    *
    * Scale shape (the reason this is two slim shuffles, not three fat
    * ones): shuffle 1 carries only (xxhash64(line), doc_id) — 16 bytes
    * per line, never the text — to count each line's document frequency;
    * the surviving "bad" hash set is boilerplate by definition (distinct
    * lines repeated across > N docs), orders of magnitude smaller than
    * the corpus, so it BROADCASTS back onto the un-shuffled line stream;
    * shuffle 2 regroups kept lines by doc_id to reassemble — the only
    * time text crosses the wire. A 2⁻⁶⁴ xxhash64 collision could drop a
    * line the oracle keeps; at that odds the slim shuffle wins. */
  val LineWords = 10
  val MaxLineDocFreq = 1

  def tLineDedup(s: SparkSession, dir: String): DataFrame = {
    val W = LineWords
    val lines = Tables.documents(s, dir)
      .select(col("doc_id"), expr(Portable.sparkTokens("text")).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(bigint(0), (size(w)-1) div $W)," +
          s" i -> array_join(slice(w, cast(i*$W+1 as int), $W), ' '))")))
      .select(col("doc_id"), col("pos").cast("long").as("line_idx"),
        col("col").as("line"), expr("xxhash64(col)").as("lh"))
    val bad = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("docs"))
      .filter(col("docs") > MaxLineDocFreq)
      .select(col("lh").as("bad_lh"))
    lines.join(broadcast(bad), col("lh") === col("bad_lh"), "left")
      .withColumn("kept", col("bad_lh").isNull)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("array_join(transform(array_sort(" +
          "collect_list(case when kept then struct(line_idx, line) end))," +
          " x -> x.line), ' ')").as("kept_text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("kept_text"))
  }

  val tLineDedupSql: String =
    s"""WITH ws AS (SELECT doc_id, ${Portable.duckTokens("text")} AS w FROM documents),
       |lines AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
       |         array_to_string(w[CAST(i*$LineWords+1 AS BIGINT):CAST(i*$LineWords+$LineWords AS BIGINT)], ' ') AS line
       |  FROM ws, UNNEST(range(0, ((len(w)-1)//$LineWords) + 1)) AS t(i)),
       |bad AS (
       |  SELECT line, 1 AS is_bad FROM lines GROUP BY line
       |  HAVING COUNT(DISTINCT doc_id) > $MaxLineDocFreq),
       |flagged AS (
       |  SELECT l.doc_id, l.line_idx, l.line, b.is_bad IS NULL AS kept
       |  FROM lines l LEFT JOIN bad b ON l.line = b.line)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       |  COALESCE(string_agg(line, ' ' ORDER BY line_idx) FILTER (WHERE kept), '') AS kept_text
       |FROM flagged GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------------ t_decontaminate
  /** Benchmark decontamination — the held-out-overlap pass every serious
    * training run applies (GPT-3 appendix C; Dolma; FineWeb): flag any
    * training document sharing an exact word n-gram with the benchmark
    * set, so evaluation data can't leak into training. Here the first
    * [[BenchDocs]] documents play the benchmark; real deployments feed
    * the actual eval suites and 8–13-grams ([[ContamGram]] is 4 because
    * the synthetic corpus has no longer cross-document runs).
    *
    * Scale shape: the benchmark side is SMALL by definition (eval suites,
    * not corpora) — its distinct grams broadcast; the corpus side
    * explodes to (doc_id, gram) map-side and semi-joins against the
    * broadcast without shuffling text. The only exchange is the per-doc
    * hit count, two longs per contaminated doc. At 100 TB this is one
    * corpus scan + a broadcast, the same plan FineWeb's decontamination
    * runs at web scale. */
  val ContamGram = 4
  val BenchDocs = 10

  def tDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = Portable.sparkShingles("text", ContamGram)
    val bench = docs.filter(col("doc_id") < BenchDocs)
      .select(explode(expr(sh)).as("gram")).distinct()
    val corpus = docs.filter(col("doc_id") >= BenchDocs)
      .select(col("doc_id"), explode(expr(sh)).as("gram"))
    val hits = corpus.join(broadcast(bench), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docs.filter(col("doc_id") >= BenchDocs).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  val tDecontaminateSql: String =
    s"""WITH g AS (SELECT doc_id, unnest(${Portable.duckShingles("text", ContamGram)}) AS gram FROM documents),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < $BenchDocs),
       |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
       |         FROM g JOIN bench USING (gram) WHERE doc_id >= $BenchDocs GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       COALESCE(h.n_hits, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id >= $BenchDocs""".stripMargin

  // ------------------------------------------------------------ t_pii_scrub
  /** PII redaction — the scrubbing pass C4/Dolma-style cleaning applies
    * before training: emails, URLs, IPv4 addresses and phone numbers are
    * replaced by typed placeholder tokens, with a per-document redaction
    * count. Patterns are deliberately lookaround-free so the SAME regex
    * is valid Java regex (Spark, codegen'd `regexp_replace`) and RE2
    * (DuckDB) — the portability rule every oracle here lives by.
    *
    * The synthetic corpus contains no PII, so the registered query's
    * oracle checks the pipeline wiring (identity output, zero counts);
    * the REDACTION behavior itself is pinned by PiiScrubSpec over
    * injected fixtures. Order matters: URLs first (an email inside a URL
    * belongs to the URL), then emails, phones, IPs.
    *
    * The patterns contain NO backslash escapes (character classes stand
    * in for `\.` `\+` `\(`): Spark's SQL parser unescapes backslashes in
    * string literals and DuckDB's does not, so a backslash-free pattern
    * is the only string that embeds verbatim in both engines.
    *
    * Scale shape: a pure per-row projection — no shuffle at all; four
    * regex passes inside one whole-stage-codegen'd projection. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "https?://[^ ]+"                                        -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"  -> "<EMAIL>",
    "([+]?[0-9]{1,3}[-. ])?[(]?[0-9]{3}[)]?[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "([0-9]{1,3}[.]){3}[0-9]{1,3}"                          -> "<IP>")

  /** Nested scrub expression over a text column — same string for Spark
    * `expr` and (with the 'g' flag added) DuckDB. */
  private[operators] def sparkScrub(textCol: String): String =
    PiiPatterns.foldLeft(textCol) { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, '$pat', '$rep')"
    }
  private def duckScrub(textCol: String): String =
    PiiPatterns.foldLeft(textCol) { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, '$pat', '$rep', 'g')"
    }
  private[operators] def sparkRedactionCount(textCol: String): String =
    PiiPatterns.map { case (pat, _) =>
      s"size(regexp_extract_all($textCol, '$pat', 0))"
    }.mkString("cast(", " + ", " as bigint)")
  private def duckRedactionCount(textCol: String): String =
    PiiPatterns.map { case (pat, _) =>
      s"len(regexp_extract_all($textCol, '$pat'))"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  def tPiiScrub(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      expr(sparkScrub("text")).as("scrubbed"),
      expr(sparkRedactionCount("text")).as("n_redactions"))

  val tPiiScrubSql: String =
    s"""SELECT doc_id, ${duckScrub("text")} AS scrubbed,
       |  ${duckRedactionCount("text")} AS n_redactions
       |FROM documents""".stripMargin

  // ------------------------------------------------------------ t_top_terms
  /** Per-document salient terms — the TF-IDF-style keyword pass: term
    * frequency damped by corpus document frequency, top [[TopTerms]] per
    * document. The weight is `tf / sqrt(df)` rather than the classic
    * `tf·ln(N/df)`: sqrt is correctly-rounded IEEE in both engines while
    * `ln` is not guaranteed to be, and the oracle gate is hash-exact —
    * same damping direction, bit-identical math.
    *
    * Scale shape: explode → groupBy(doc_id, term) rides map-side combine
    * (a document's tokens are partition-local, so tf collapses before
    * the exchange and the shuffle carries one row per DISTINCT term per
    * doc); document frequency is a second slim count over those rows;
    * the df table is vocabulary-sized (Zipf-bounded ≪ corpus) and
    * broadcasts back. The top-k window partitions by doc_id —
    * WindowGroupLimit prunes to k per doc before the final sort. */
  val TopTerms = 5

  def tTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds both the scored stream and the df count — cache it once
    // ([[Caching.reuse]]: blocks die with the result) instead of paying
    // the explode + (doc, term) aggregation twice
    val tf = Caching.reuse(Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(Portable.sparkTokens("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val docFreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // tf has one row per (doc, term)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(docFreq), "term")
      .withColumn("score", expr("tf / sqrt(cast(df as double))"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopTerms)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  val tTopTermsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(${Portable.duckTokens("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    tf.tf / sqrt(CAST(dfreq.df AS DOUBLE)) AS score
       |  FROM tf JOIN dfreq USING (term)),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT doc_id, term, tf, df, score, rank FROM ranked
       |WHERE rank <= $TopTerms""".stripMargin

  // ------------------------------------------------------------ t_substring_dedup
  /** Exact-substring deduplication with span REMOVAL — the Lee et al.
    * 2022 pass ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): any [[SubstrWindow]]-token run that
    * appears verbatim in more than one document is cut out of every
    * document containing it, and the remainder reassembled. Unlike
    * [[tLineDedup]]'s disjoint segments, windows OVERLAP (one per token
    * position), so removal is a token-level kill mask: a token dies if
    * ANY duplicated window covers it, and adjacent/overlapping dup spans
    * merge naturally. The paper uses a ~50-token threshold over a suffix
    * array; [[SubstrWindow]] is 15 here because the synthetic corpus has
    * no longer cross-document runs — the windowed-hash formulation keeps
    * the same O(tokens) work profile as their suffix sort, distributed.
    *
    * Scale shape — TEXT IS NEVER SHUFFLED AT ALL: the window stream
    * carries (xxhash64(window), doc_id, start) — 24 bytes per token —
    * into the document-frequency count; the duplicated-hash set
    * broadcasts back onto the un-shuffled window stream; the per-doc
    * kill list (doc_id, starts[]) — longs only — broadcasts onto the
    * original documents scan, where a nested higher-order `filter` /
    * `exists` drops covered tokens inside one codegen'd projection. The
    * broadcast() calls are count-adaptive HINTS
    * ([[substrBroadcastSide]], VERDICT r11 #5): below
    * [[SubstrBroadcastMaxDocs]] they force the broadcast (at every
    * realistic dup fraction the kill list is lexicon-sized and the
    * broadcast saves the shuffle); past the breakpoint the hint is
    * omitted and Spark plans shuffle joins on the same 8-byte keys (the
    * text STILL moves zero times) — the switch is a physical strategy
    * choice, never semantic, so the oracle is unchanged either side of
    * the breakpoint. A 2⁻⁶⁴ hash collision could remove a span the
    * oracle keeps — the same documented trade as [[tLineDedup]]. */
  val SubstrWindow = 15

  /** Broadcast ceiling for the substring-dedup side tables, in corpus
    * DOCUMENTS — the hinted sides (dup-hash set, per-doc kill lists) are
    * bounded by a few longs per document, so 2²² docs keeps the bigger
    * side well under spark.sql's 8 GB broadcast hard cap with normal
    * driver memory. Power-of-two breakpoint per the ladder contract
    * (SizingLaddersSpec): constant between consecutive powers of two. */
  val SubstrBroadcastMaxDocs = 1L << 22

  /** The count-adaptive join-side wrapper: hint broadcast below the
    * breakpoint, let the planner shuffle above it. */
  private[operators] def substrBroadcastSide(df: DataFrame, nDocs: Long): DataFrame =
    if (nDocs <= SubstrBroadcastMaxDocs) broadcast(df) else df

  def tSubstringDedup(s: SparkSession, dir: String): DataFrame = {
    val W = SubstrWindow
    val docs = Tables.documents(s, dir)
    // one-row COUNT pre-pass (parquet-metadata cheap) picks the join
    // strategy for this corpus size; both hinted sides switch together
    val nDocs = docs.count()
    // the window-hash stream feeds both the df count and the kill-list
    // join and is deliberately NOT cached: it is a pure map-side
    // projection (no shuffle above it), and recomputing two codegen'd
    // scans measured 3× faster than materializing 3M cached rows —
    // Caching.reuse pays off only when the reused subtree contains an
    // exchange (t_pack, t_top_terms), not for cheap recomputes
    val wins = docs
      .select(col("doc_id"), expr(Portable.sparkTokens("text")).as("w"))
      .filter(expr(s"size(w) >= $W"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - $W + 1)," +
          s" i -> xxhash64(array_join(slice(w, i, $W), ' ')))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"),
        col("col").as("wh"))
    val badW = wins.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("docs"))
      .filter(col("docs") > 1).select(col("wh").as("bad_wh"))
    val badStarts = wins.join(substrBroadcastSide(badW, nDocs), col("wh") === col("bad_wh"))
      .groupBy(col("doc_id")).agg(collect_list(col("s")).as("starts"))
    docs.join(substrBroadcastSide(badStarts, nDocs), Seq("doc_id"), "left")
      .select(col("doc_id"), expr(Portable.sparkTokens("text")).as("toks"),
        expr("coalesce(starts, array())").as("st"))
      .select(col("doc_id"), col("toks"), expr(
        s"filter(toks, (t, i) -> NOT exists(st, v -> v <= i + 1 AND i + 1 < v + $W))")
        .as("kept"))
      .select(col("doc_id"),
        expr("array_join(kept, ' ')").as("kept_text"),
        expr("size(kept)").cast("long").as("n_kept_tokens"),
        expr("size(toks) - size(kept)").cast("long").as("n_removed_tokens"))
  }

  val tSubstringDedupSql: String = {
    val W = SubstrWindow
    s"""WITH ws AS (SELECT doc_id, ${Portable.duckTokens("text")} AS w FROM documents),
       |wins AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS s,
       |         array_to_string(w[CAST(i AS BIGINT):CAST(i+${W - 1} AS BIGINT)], ' ') AS win
       |  FROM ws, UNNEST(range(1, len(w) - $W + 2)) t(i) WHERE len(w) >= $W),
       |bad AS (SELECT win FROM wins GROUP BY win HAVING COUNT(DISTINCT doc_id) > 1),
       |badstarts AS (SELECT doc_id, s FROM wins JOIN bad USING (win)),
       |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS i, w[CAST(i AS BIGINT)] AS tok
       |         FROM ws, UNNEST(range(1, len(w)+1)) t(i)),
       |killed AS (
       |  SELECT DISTINCT t.doc_id, t.i
       |  FROM toks t JOIN badstarts b
       |    ON t.doc_id = b.doc_id AND t.i >= b.s AND t.i < b.s + $W),
       |kept AS (
       |  SELECT t.doc_id, t.i, t.tok
       |  FROM toks t LEFT JOIN killed k ON t.doc_id = k.doc_id AND t.i = k.i
       |  WHERE k.i IS NULL)
       |SELECT d.doc_id,
       |  COALESCE(kq.kept_text, '') AS kept_text,
       |  CAST(COALESCE(kq.n_kept, 0) AS BIGINT) AS n_kept_tokens,
       |  CAST(len(${Portable.duckTokens("d.text")}) - COALESCE(kq.n_kept, 0) AS BIGINT) AS n_removed_tokens
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS kept_text, COUNT(*) AS n_kept
       |  FROM kept GROUP BY doc_id) kq ON d.doc_id = kq.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ t_perplexity
  /** CCNet-style unigram-LM quality score (Wenzek et al. 2020: documents
    * are ranked by language-model perplexity; low-surprise text is
    * boilerplate, high-surprise is noise). True perplexity needs `ln`,
    * which is not correctly-rounded IEEE in either engine — so the bits
    * are QUANTIZED: surprise(w) = floor(log2 N) - floor(log2 count(w)),
    * computed exactly as `length(bin(N)) - length(bin(count))` (both
    * engines emit unpadded binary strings). The per-document total is
    * then an INTEGER sum — order-independent, partial-aggregation-safe,
    * hash-exact vs the oracle — with ONE double division at the end
    * (`bits_per_token` ≈ log2-perplexity, same ranking direction).
    *
    * Scale shape: explode → (doc, term) tf rides map-side combine (the
    * shuffle carries distinct terms per doc); the corpus unigram table is
    * vocabulary-sized (Zipf-bounded ≪ corpus) and broadcasts back, as
    * does the 1-row total. tf is computed once and reused for both the
    * corpus counts and the per-doc join ([[Caching.reuse]]). */
  def tPerplexity(s: SparkSession, dir: String): DataFrame = {
    val tf = Caching.reuse(Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(Portable.sparkTokens("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val corpus = tf.groupBy(col("term")).agg(sum(col("tf")).cast("long").as("cnt"))
    val totals = corpus.agg(sum(col("cnt")).cast("long").as("n_total"))
    tf.join(broadcast(corpus), "term")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(
        sum(expr("tf * (length(bin(n_total)) - length(bin(cnt)))")).cast("long")
          .as("total_bits"),
        sum(col("tf")).cast("long").as("n_tokens"))
      .withColumn("bits_per_token", expr("cast(total_bits as double) / n_tokens"))
  }

  val tPerplexitySql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(${Portable.duckTokens("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |corpus AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM corpus),
       |agg AS (
       |  SELECT tf.doc_id,
       |    CAST(SUM(tf.tf * (length(bin(tot.n_total)) - length(bin(corpus.cnt)))) AS BIGINT)
       |      AS total_bits,
       |    CAST(SUM(tf.tf) AS BIGINT) AS n_tokens
       |  FROM tf JOIN corpus USING (term) CROSS JOIN tot
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, total_bits, n_tokens,
       |  CAST(total_bits AS DOUBLE) / n_tokens AS bits_per_token
       |FROM agg""".stripMargin

  // ------------------------------------------------------------ t_ngram_lm
  /** Bigram-LM quality score — the strictly stronger form of
    * [[tPerplexity]]'s unigram pass (a KenLM-style n-gram scorer is what
    * CCNet actually ships): each document is charged the quantized
    * conditional surprise of every bigram occurrence,
    * bits(w2|w1) = ⌊log2 C(w1)⌋ − ⌊log2 C(w1,w2)⌋ (computed exactly as
    * `length(bin(·))` in both engines), plus the unigram surprise of the
    * first token against the corpus total. All integer arithmetic —
    * order- and parallelism-independent — with ONE double division at
    * the end, same discipline as t_perplexity.
    *
    * Scale shape: per-doc bigram tf rides map-side combine (the shuffle
    * carries DISTINCT bigrams per doc); the corpus bigram table is NOT
    * broadcast — it is Zipf-sparse but unbounded, so the score join
    * shuffles on the (w1, w2) key where both sides are already
    * pre-aggregated. The unigram table and the 1-row total ARE broadcast
    * (vocabulary-bounded — the same bound a served KenLM relies on).
    * Single-token docs have no bigrams: left join, zero fill. */
  def tNgramLm(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), expr(Portable.sparkTokens("text")).as("t"))
    val occ = base.select(col("doc_id"), col("t"),
        explode(expr("case when size(t) < 2 then array() " +
          "else sequence(1, size(t) - 1) end")).as("i"))
      .select(col("doc_id"),
        expr("element_at(t, i)").as("w1"), expr("element_at(t, i + 1)").as("w2"))
    val tf2 = Caching.reuse(
      occ.groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf2")))
    val corpus2 = tf2.groupBy(col("w1"), col("w2"))
      .agg(sum(col("tf2")).cast("long").as("cnt2"))
    val corpus1 = base
      .select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt1"))
    val totals = corpus1.agg(sum(col("cnt1")).cast("long").as("n_total"))
    // the merge hint keeps this join a shuffle join under AQE: neither
    // side has statistics until its stage ends (the reused RDD carries
    // none), so AQE broadcast whichever side finished first, and the
    // plan, with its generated classes, changed from run to run
    val bits2 = tf2
      .join(corpus2.hint("merge"), Seq("w1", "w2"))
      .join(broadcast(corpus1.select(col("w").as("w1"), col("cnt1"))), "w1")
      .groupBy(col("doc_id"))
      .agg(
        sum(expr("tf2 * (length(bin(cnt1)) - length(bin(cnt2)))")).cast("long")
          .as("bigram_bits"),
        sum(col("tf2")).cast("long").as("n_bigrams"))
    base.select(col("doc_id"), expr("element_at(t, 1)").as("w"))
      .join(broadcast(corpus1), "w")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        expr("cast(length(bin(n_total)) - length(bin(cnt1)) as bigint)").as("first_bits"))
      .join(bits2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        expr("first_bits + coalesce(bigram_bits, 0)").as("total_bits"),
        expr("1 + coalesce(n_bigrams, 0)").as("n_scored"))
      .withColumn("bits_per_token", expr("cast(total_bits as double) / n_scored"))
  }

  val tNgramLmSql: String = {
    val toks = Portable.duckTokens("text")
    s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
       |occ AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM base)),
       |tf2 AS (
       |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf2
       |  FROM occ GROUP BY doc_id, w1, w2),
       |corpus2 AS (SELECT w1, w2, CAST(SUM(tf2) AS BIGINT) AS cnt2
       |  FROM tf2 GROUP BY w1, w2),
       |corpus1 AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt1
       |  FROM (SELECT unnest(t) AS w FROM base) GROUP BY w),
       |tot AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS n_total FROM corpus1),
       |bits2 AS (
       |  SELECT tf2.doc_id,
       |    CAST(SUM(tf2.tf2 * (length(bin(c1.cnt1)) - length(bin(corpus2.cnt2)))) AS BIGINT)
       |      AS bigram_bits,
       |    CAST(SUM(tf2.tf2) AS BIGINT) AS n_bigrams
       |  FROM tf2
       |  JOIN corpus2 USING (w1, w2)
       |  JOIN corpus1 c1 ON c1.w = tf2.w1
       |  GROUP BY tf2.doc_id),
       |first_tok AS (
       |  SELECT base.doc_id,
       |    CAST(length(bin(tot.n_total)) - length(bin(c1.cnt1)) AS BIGINT) AS first_bits
       |  FROM base JOIN corpus1 c1 ON c1.w = base.t[1] CROSS JOIN tot)
       |SELECT f.doc_id,
       |  f.first_bits + COALESCE(b.bigram_bits, 0) AS total_bits,
       |  1 + COALESCE(b.n_bigrams, 0) AS n_scored,
       |  CAST(f.first_bits + COALESCE(b.bigram_bits, 0) AS DOUBLE)
       |    / (1 + COALESCE(b.n_bigrams, 0)) AS bits_per_token
       |FROM first_tok f LEFT JOIN bits2 b USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------------------ t_dataset_card
  /** The "dataset card" summary table a corpus release ships: one
    * (metric, value) row per headline statistic — doc/token counts,
    * language/source cardinalities, exact-dup rate, mean and exact
    * nearest-rank p50/p90 document lengths. One registered query so the
    * whole card is reproducible (and oracle-checked) as a unit.
    *
    * Scale shape: one corpus scan feeds a single multi-distinct
    * aggregate (Catalyst's Expand — linear, one shuffle) plus a
    * count-by-length collapse for the percentiles (the cumulative
    * window runs over DISTINCT lengths, never rows — the
    * t_length_percentiles trick). The only "joins" are 1-row broadcast
    * denominators. At extreme scale the exact COUNT(DISTINCT fp) can be
    * swapped for the KMV sketch (q_sketch_distinct) without changing
    * the card's shape. */
  def tDatasetCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Portable.sparkTokens("text")
    val norm = Portable.sparkNormText()
    val base = Tables.documents(s, dir).select(
      col("lang"), col("source"),
      expr(s"cast(size($toks) as bigint)").as("n"),
      expr(s"md5($norm)").as("fp"))
    val agg = base.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("n")).cast("long").as("n_tokens"),
      countDistinct(col("lang")).cast("long").as("n_langs"),
      countDistinct(col("source")).cast("long").as("n_sources"),
      countDistinct(col("fp")).cast("long").as("n_distinct"))
    val metrics = agg.selectExpr(
      """stack(6,
        |  'n_docs', cast(n_docs as double),
        |  'n_tokens', cast(n_tokens as double),
        |  'n_langs', cast(n_langs as double),
        |  'n_sources', cast(n_sources as double),
        |  'dup_rate', 1.0 - cast(n_distinct as double) / n_docs,
        |  'mean_doc_tokens', cast(n_tokens as double) / n_docs
        |) as (metric, value)""".stripMargin)
    // n_docs re-derived from the tiny per-length count table (a second
    // window over ~thousands of rows — the t_length_percentiles trick),
    // NOT by re-referencing `agg`: that subtree contains the corpus-wide
    // multi-distinct Expand (md5 over every document), and a crossJoin
    // on it would execute the card's most expensive aggregate twice
    val cum = Caching.reuse(base.groupBy(col("n")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("n").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_docs", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))))
    def pct(name: String, rankExpr: String) =
      cum.filter(col("cum") >= expr(rankExpr))
        .agg(min(col("n")).cast("double").as("value"))
        .select(lit(name).as("metric"), col("value"))
    metrics
      .union(pct("p50_doc_tokens", "(n_docs + 1) div 2"))
      .union(pct("p90_doc_tokens", "(9 * n_docs + 9) div 10"))
  }

  val tDatasetCardSql: String = {
    val toks = Portable.duckTokens("text")
    val norm = Portable.duckNormText()
    s"""WITH base AS (
       |  SELECT lang, source, CAST(len($toks) AS BIGINT) AS n, md5($norm) AS fp
       |  FROM documents),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct
       |  FROM base),
       |cum AS (
       |  SELECT n, SUM(c) OVER (ORDER BY n
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM (SELECT n, COUNT(*) AS c FROM base GROUP BY n))
       |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM agg
       |UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM agg
       |UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM agg
       |UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM agg
       |UNION ALL SELECT 'dup_rate', 1.0 - CAST(n_distinct AS DOUBLE) / n_docs FROM agg
       |UNION ALL SELECT 'mean_doc_tokens', CAST(n_tokens AS DOUBLE) / n_docs FROM agg
       |UNION ALL SELECT 'p50_doc_tokens', CAST(MIN(n) AS DOUBLE)
       |  FROM cum CROSS JOIN agg WHERE cum >= (n_docs + 1) // 2
       |UNION ALL SELECT 'p90_doc_tokens', CAST(MIN(n) AS DOUBLE)
       |  FROM cum CROSS JOIN agg WHERE cum >= (9 * n_docs + 9) // 10""".stripMargin
  }

  // ------------------------------------------------------------ t_mix_domains
  /** Temperature-scaled domain mixture (the mT5/XLM-R sampling rule,
    * α = 0.5): target count per language ∝ count^α, so low-resource
    * domains are up-weighted relative to their raw share. Emits the
    * sampled docs with their within-domain rank and the domain's target.
    *
    * Cross-engine determinism is the design constraint: a float Σ√c over
    * domains would depend on summation order (Spark's partial aggs give
    * no order), so weights are fixed-point — w = floor(√c · 2²⁰) as
    * BIGINT, W = Σw exact, k = (N·w) div W in integer arithmetic. √ is
    * IEEE-exact and ·2²⁰/floor are exact, so both engines derive the
    * identical targets with no ordering anywhere.
    *
    * Scale shape: domain-count agg (tiny) broadcast back; per-domain
    * selection is the bounded heap [[graft.functions.TopKAgg]] capped at
    * [[MixSampleN]] (every domain's target is ≤ the global sample size),
    * so the lang-keyed exchange moves ≤2·N-entry buffers, never rows,
    * and a pathologically hot domain costs O(N) memory instead of one
    * partition's full sort (the row_number() window this replaced).
    * Text untouched throughout. */
  val MixSampleN = 200L
  def tMixDomains(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      expr(Portable.sparkHash("cast(doc_id as string)", "mix")).as("h"))
    val w = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      .withColumn("w", expr("cast(floor(sqrt(cast(c as double)) * 1048576) as bigint)"))
    val tot = w.agg(sum("w").as("tw"))
    val targets = w.crossJoin(broadcast(tot))
      .select(col("lang"), expr(s"($MixSampleN * w) div tw").as("lang_target"))
    val topk = udaf(new graft.functions.TopKAgg(MixSampleN.toInt, desc = false),
      org.apache.spark.sql.Encoders.product[graft.functions.TopKCand])
    val ranked = docs.groupBy("lang")
      .agg(topk(col("h").cast("double"), col("doc_id"),
        expr("cast(array() as array<double>)"), lit(0.0d)).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("mix_rank"))
    ranked.join(broadcast(targets), "lang")
      .filter(col("mix_rank") <= col("lang_target"))
      .select("doc_id", "lang", "mix_rank", "lang_target")
  }

  val tMixDomainsSql: String =
    s"""WITH c AS (
       |  SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
       |w AS (
       |  SELECT lang, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576) AS BIGINT) AS w
       |  FROM c),
       |targets AS (
       |  -- SUM(BIGINT) is HUGEINT in DuckDB and // propagates it; the
       |  -- driver's pandas conversion renders HUGEINT as float64, which
       |  -- hash-mismatches Spark's int64 (CORRECTNESS_r05). CAST back.
       |  SELECT lang,
       |    CAST(($MixSampleN * w) // (SELECT SUM(w) FROM w) AS BIGINT) AS lang_target
       |  FROM w),
       |ranked AS (
       |  SELECT doc_id, lang,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ${Portable.duckHash("CAST(doc_id AS VARCHAR)", "mix")} ASC,
       |        doc_id ASC) AS BIGINT) AS mix_rank
       |  FROM documents)
       |SELECT doc_id, ranked.lang, mix_rank, lang_target
       |FROM ranked JOIN targets ON ranked.lang = targets.lang
       |WHERE mix_rank <= lang_target""".stripMargin

  // ------------------------------------------------------------ t_pipeline_e2e
  /** The whole cleaning pipeline as ONE registered query — the
    * composition a real corpus build runs: decontaminate (drop docs
    * overlapping the held-out benchmark), near-dup canonicalization
    * (keep each cluster's quality argmax, via [[Dedup.dCanonical]]),
    * a quality floor, then per-language corpus stats. Registering the
    * composition (not just the stages) proves the operators chain: each
    * stage's output feeds the next inside a single Catalyst plan, and
    * the oracle is the same composition of the stages' SQL.
    *
    * Scale shape: the stage outputs joined here are (doc_id)-keyed id
    * lists — text stays in the final scan only; the two semi-join-shaped
    * inner joins and the final groupBy(lang) are the only additional
    * shuffles on top of the stages themselves. */
  val PipelineQualityMin = 0.45
  def tPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val toks = Portable.sparkTokens("text")
    val clean = tDecontaminate(s, dir)
      .filter(!col("contaminated")).select("doc_id")
    val kept = Dedup.dCanonical(s, dir)
      .filter(col("kept")).select("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        expr(sparkQualityScore).as("qs"),
        expr(s"size($toks)").cast("long").as("n_toks"))
      .join(clean, "doc_id").join(kept, "doc_id")
      .filter(col("qs") >= PipelineQualityMin)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
  }

  val tPipelineE2eSql: String =
    s"""WITH clean AS (
       |  SELECT doc_id FROM (${tDecontaminateSql}) c WHERE NOT contaminated),
       |kept AS (
       |  SELECT doc_id FROM (${Dedup.dCanonicalSql}) k WHERE kept),
       |scored AS (
       |  SELECT doc_id, lang, ${duckQualityScore} AS qs,
       |    CAST(len(${Portable.duckTokens("text")}) AS BIGINT) AS n_toks
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |FROM scored JOIN clean USING (doc_id) JOIN kept USING (doc_id)
       |WHERE qs >= $PipelineQualityMin
       |GROUP BY lang""".stripMargin

  // ------------------------------------------------------------ t_bpe_train
  /** BPE tokenizer training — the merge-table induction every modern LLM
    * corpus build runs. The structure production trainers (and this
    * operator) use for scale: ONE corpus-scale pass — the word-frequency
    * count, a map-side-combined (word, count) shuffle — then every merge
    * round runs over the word-TYPE table, whose size is the lexicon, not
    * the corpus. Per round: count adjacent symbol pairs weighted by word
    * frequency, take the argmax (count desc, pair asc — a total order,
    * no RNG), and greedily merge that pair in every word type.
    *
    * Words are represented as '|sym||sym|…' strings — every symbol
    * wrapped in its OWN '|' pair — and pair merge is plain
    * left-to-right non-overlapping string `replace` of '|L||R|' →
    * '|LR|'. Both anchors matter: the leading '|' of L makes a match
    * start only at a symbol BOUNDARY (the earlier 'L|R|' form matched a
    * pattern whose L equaled the SUFFIX of a longer symbol — [st][o]
    * merged as if it were [s][t][o] once ('t','o') won a round — a
    * latent corruption invisible to the oracle because the SQL twin
    * shared it), and per-symbol wrapping means adjacent occurrences
    * share no boundary char, so replace's scan-resume semantics stay
    * exactly BPE's greedy merge ([t][o][t][o] → [to][to] in one pass;
    * a single shared separator would consume the second match's
    * anchor). '|' cannot collide: the corpus is [a-z ] (asserted by
    * the oracle's charset and this file's tokenizer).
    *
    * The per-round 1-row argmax is collected to the driver (R rows total
    * — the same bounded-training-collect contract as s_ann_ivf_trained);
    * each round's vocab is cut to a cached RDD leaf and the previous
    * round dropped immediately (the d_cluster iteration discipline —
    * without the cut, round k's plan re-derives rounds 1..k-1). */
  val BpeMerges = 8

  /** The shared training loop: returns the merge table and the FINAL
    * word-type vocab (w, s, f) still cached (caller either unpersists —
    * tBpeTrain — or builds on it and leaves the blocks to die with the
    * result per the [[Caching.reuse]] contract — tBpeEncode). */
  private def trainBpe(s: SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], org.apache.spark.rdd.RDD[_], DataFrame) = {
    val toks = Portable.sparkTokens("text")
    val init = Tables.documents(s, dir)
      .select(explode(expr(toks)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"),
        expr("array_join(transform(filter(split(w, ''), x -> x != ''), " +
          "x -> concat('|', x, '|')), '')")
          .as("s"), col("f"))
    var (handle, vocab) = Caching.reuseWithHandle(init)
    // Round r−1's cache handle: kept alive until round r's best-pair
    // ACTION has materialized round r's vocab through it, then dropped.
    // The old shape paid a dedicated count() per round just to
    // materialize before unpersisting — deferring the unpersist by one
    // round lets the next round's own action do the materialization,
    // halving the sequential job count of the training loop (r17;
    // guide §1.2 — the rounds are driver-sequential, so each saved job
    // is saved wall-clock at any scale).
    var prevHandle: org.apache.spark.rdd.RDD[_] = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= BpeMerges && !exhausted) {
      // sequence(1, 0) is DESCENDING in Spark — guard single-symbol words
      val pairExpr = "case when size(sy) < 2 then array() " +
        "else transform(sequence(1, size(sy) - 1), " +
        "i -> concat(element_at(sy, i), '|', element_at(sy, i + 1))) end"
      val best = vocab
        .select(col("f"), expr("filter(split(s, '[|]'), x -> x != '')").as("sy"))
        .select(col("f"), explode(expr(pairExpr)).as("pr"))
        .groupBy("pr").agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("pr").asc)
        .limit(1).collect()
      // the action above materialized `vocab`'s cache — the round-(r−1)
      // blocks it was derived from are no longer needed
      if (prevHandle != null) { prevHandle.unpersist(blocking = false); prevHandle = null }
      if (best.isEmpty) {
        // Pair exhaustion: every word type is a single symbol. Real BPE
        // training returns the merges it found; the SQL twin's rounds
        // past this point likewise contribute no train rows and carry
        // the working vocab forward unchanged (the LEFT JOIN in
        // bpeCtes), so BOTH engines return k < BpeMerges rows and the
        // final vocab after k merges — a crash here (the pre-r12
        // behavior) would diverge from the oracle's silent shorter
        // table. BpeExhaustionSpec drives a corpus that collapses in
        // one round.
        exhausted = true
      } else {
        val pr = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val Array(l, rr) = pr.split("[|]")
        merges += ((r.toLong, l, rr, l + rr, cnt))
        val (h2, v2) = Caching.reuseWithHandle(vocab.select(col("w"),
          expr(s"replace(s, '|$l||$rr|', '|${l + rr}|')").as("s"), col("f")))
        prevHandle = handle // still feeds v2's first materialization
        handle = h2; vocab = v2
        r += 1
      }
    }
    if (prevHandle != null) {
      // normal loop exit: the final vocab is still lazy — materialize it
      // through the last round's cache once, then drop that cache (ONE
      // residual job vs the old one-per-round)
      vocab.count()
      prevHandle.unpersist(blocking = false)
    }
    (merges.toSeq, handle, vocab)
  }

  def tBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (merges, handle, _) = trainBpe(s, dir)
    handle.unpersist(blocking = false)
    merges.toDF("merge_round", "lft", "rgt", "merged", "cnt")
  }

  /** The training rounds as nested CTEs (shared by the train and encode
    * oracles): wf → w0 → (p_r, b_r, w_r)*, each w_r carrying the word. */
  private def bpeCtes: String = {
    val base = Seq(
      s"""wf AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM (SELECT unnest(${Portable.duckTokens("text")}) AS w FROM documents) t
         |  GROUP BY w)""".stripMargin,
      """w0 AS (
        |  SELECT w, array_to_string(list_transform(range(1, length(w) + 1), i -> '|' || w[i] || '|'), '') AS s, f
        |  FROM wf)""".stripMargin)
    // DuckDB range(1, n) is empty for n <= 1 — no short-word guard needed
    val rounds = (1 to BpeMerges).flatMap { r =>
      Seq(
        s"""p$r AS (
           |  SELECT pr, CAST(SUM(f) AS BIGINT) AS cnt FROM (
           |    SELECT f, unnest(list_transform(range(1, len(sy)), i -> sy[i] || '|' || sy[i + 1])) AS pr
           |    FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '') AS sy, f FROM w${r - 1}) t) u
           |  GROUP BY pr)""".stripMargin,
        s"b$r AS (SELECT pr, cnt FROM p$r ORDER BY cnt DESC, pr ASC LIMIT 1)",
        // LEFT JOIN (not cross): when pairs are exhausted b$r is empty,
        // and the working vocab must CARRY FORWARD unchanged — a cross
        // join would empty every later round and zero the encode, where
        // the Spark side stops early with the same k merges and the
        // same final vocab (trainBpe's exhaustion branch)
        s"""w$r AS (
           |  SELECT w.w,
           |    CASE WHEN b.pr IS NULL THEN w.s
           |         ELSE replace(w.s, '|' || replace(b.pr, '|', '||') || '|', '|' || replace(b.pr, '|', '') || '|') END AS s,
           |    w.f
           |  FROM w${r - 1} w LEFT JOIN b$r b ON TRUE)""".stripMargin)
    }
    (base ++ rounds).mkString(",\n")
  }

  val tBpeTrainSql: String = {
    val finals = (1 to BpeMerges).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_round, string_split(pr, '|')[1] AS lft,
         |  string_split(pr, '|')[2] AS rgt, replace(pr, '|', '') AS merged, cnt FROM b$r""".stripMargin
    }
    "WITH " + bpeCtes + "\n" + finals.mkString("\nUNION ALL\n")
  }

  // ------------------------------------------------------------ t_bpe_encode
  /** Apply the learned merge table back to the corpus — the other half
    * of the tokenizer loop, and the operator a pipeline actually runs at
    * corpus scale. Emits per-document whitespace-token and BPE-token
    * counts (the compression the merges bought).
    *
    * Scale shape: encoding is a JOIN against the word-type vocab (word →
    * post-merge symbol count), not a re-walk of the merge rules per
    * character: the corpus side explodes to (doc_id, word) — the same
    * single shuffle as a word count — and the lexicon-sized vocab side
    * broadcasts (or hash-joins past broadcast size). The training cost
    * is shared with [[tBpeTrain]]; its cached vocab blocks die with this
    * result (Caching.reuse contract). */
  def tBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, _, vocab) = trainBpe(s, dir)
    val wordLens = vocab.select(col("w"),
      expr("cast(size(filter(split(s, '[|]'), x -> x != '')) as bigint)").as("n_sym"))
    val toks = Portable.sparkTokens("text")
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(toks)).as("w"))
      .join(wordLens, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens_ws"), sum("n_sym").as("n_tokens_bpe"))
  }

  val tBpeEncodeSql: String =
    s"""WITH $bpeCtes
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_ws,
       |  CAST(SUM(len(list_filter(string_split(v.s, '|'), x -> x <> ''))) AS BIGINT) AS n_tokens_bpe
       |FROM (SELECT doc_id, unnest(${Portable.duckTokens("text")}) AS w FROM documents) d
       |JOIN w$BpeMerges v USING (w)
       |GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------ t_shuffle_shard
  /** Deterministic seeded shuffle + shard assignment — the "write N
    * shuffled training shards" step that ends every corpus build: docs
    * are ordered by a seeded portable hash (the shuffle), assigned
    * shard = hash mod [[ShuffleShards]], and positioned within their
    * shard. The output is one row per shard with counts, token totals,
    * and an ORDER-PINNING signature (bit_xor of position×doc-hash
    * products, bounded so ANSI-mode Long arithmetic can never overflow
    * at any corpus size) — so the driver's hash gate certifies not just
    * shard membership but the exact permutation a trainer would read.
    *
    * Scale shape: one shuffle keyed by shard + a within-shard sort —
    * precisely the physical plan of writing sorted shard files
    * (`repartition(shard).sortWithinPartitions(h)`); text is never
    * carried, only (doc_id, n_toks, 8-byte hash). */
  val ShuffleShards = 64

  def tShuffleShard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Portable.sparkTokens("text")
    val d = Tables.documents(s, dir).select(col("doc_id"),
      expr(s"cast(size($toks) as bigint)").as("n_toks"),
      expr(Portable.sparkHash("cast(doc_id as string)", "shuf")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(ShuffleShards.toLong)))
    d.withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc))
        .cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        expr("bit_xor((pos % 1048576) * (h % 1048573))").as("order_sig"))
  }

  val tShuffleShardSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(${Portable.duckTokens("text")}) AS BIGINT) AS n_toks,
       |         ${Portable.duckHash("CAST(doc_id AS VARCHAR)", "shuf")} AS h
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n_toks, h, h % $ShuffleShards AS shard,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShuffleShards
       |           ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pos
       |  FROM d)
       |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |       CAST(bit_xor((pos % 1048576) * (h % 1048573)) AS BIGINT) AS order_sig
       |FROM p GROUP BY shard""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "t_shuffle_shard" -> ((tShuffleShard _, Some(tShuffleShardSql))),
    "t_bpe_train" -> ((tBpeTrain _, Some(tBpeTrainSql))),
    "t_bpe_encode" -> ((tBpeEncode _, Some(tBpeEncodeSql))),
    "t_pipeline_e2e" -> ((tPipelineE2e _, Some(tPipelineE2eSql))),
    "t_mix_domains" -> ((tMixDomains _, Some(tMixDomainsSql))),
    "t_perplexity" -> ((tPerplexity _, Some(tPerplexitySql))),
    "t_ngram_lm" -> ((tNgramLm _, Some(tNgramLmSql))),
    "t_dataset_card" -> ((tDatasetCard _, Some(tDatasetCardSql))),
    "t_substring_dedup" -> ((tSubstringDedup _, Some(tSubstringDedupSql))),
    "t_top_terms" -> ((tTopTerms _, Some(tTopTermsSql))),
    "t_pii_scrub" -> ((tPiiScrub _, Some(tPiiScrubSql))),
    "t_decontaminate" -> ((tDecontaminate _, Some(tDecontaminateSql))),
    "t_line_dedup" -> ((tLineDedup _, Some(tLineDedupSql))),
    "t_pack" -> ((tPack _, Some(tPackSql))),
    "t_seq_pack" -> ((tSeqPack _, Some(tSeqPackSql))),
    "t_length_percentiles" -> ((tLengthPercentiles _, Some(tLengthPercentilesSql))),
    "t_repetition" -> ((tRepetition _, Some(tRepetitionSql))),
    "t_token_count" -> ((tTokenCount _, Some(tTokenCountSql))),
    "t_quality" -> ((tQuality _, Some(tQualitySql))),
    "t_quality_model" -> ((tQualityModel _, Some(tQualityModelSql))),
    "t_langid" -> ((tLangid _, Some(tLangidSql))),
    "t_fingerprint" -> ((tFingerprint _, Some(tFingerprintSql))),
    "t_clean_corpus" -> ((tCleanCorpus _, Some(tCleanCorpusSql))),
    "t_sample_stratified" -> ((tSampleStratified _, Some(tSampleStratifiedSql))))
}
