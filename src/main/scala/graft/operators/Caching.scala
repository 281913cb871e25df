package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache discipline for library operators.
  *
  * `Dataset.persist` registers the plan in the session-wide CacheManager,
  * which holds a STRONG reference until someone calls `unpersist()` /
  * `spark.catalog.clearCache()`. Inside a library that is a leak: a user
  * composing operators in a long-lived session accumulates pinned blocks
  * they never asked for and cannot see (VERDICT r3: dNgramJaccard /
  * dMinhashLsh / dSimhashPairs / dSemanticWith all relied on the CALLER
  * running clearCache).
  *
  * [[reuse]] persists the underlying RDD instead of the Dataset:
  *  - the shared CacheManager stays empty — no session-global state;
  *  - the blocks are reachable only through the returned plan, so Spark's
  *    ContextCleaner frees them automatically once the result is garbage
  *    collected — the cache's lifetime IS the result's lifetime, with no
  *    caller-side contract;
  *  - lineage is preserved (unlike `localCheckpoint`), so a lost block on
  *    executor failure recomputes instead of failing the query — safe on
  *    a 1000-executor cluster where `localCheckpoint` is not.
  *
  * Trade-off: the cached rows are stored row-wise (not the columnar
  * InMemoryRelation format) and the RDD scan node carries no statistics,
  * so Catalyst won't auto-broadcast the cached side of a join. Every use
  * site here reuses a subtree across 2–3 plan branches where the join
  * strategy is already explicit — the discipline is worth more than the
  * columnar format.
  */
object Caching {

  /** Compute-once subtree reuse for a plan referenced by several
    * downstream branches. NOT lazy under AQE (Spark's default):
    * `queryExecution.toRdd` runs the subtree's shuffle-map stages when
    * `reuse` is called, before the result's action. A grouped `range`
    * runs 1 job at `toRdd`; d_ngram_jaccard runs 8 per build. The two
    * lazy variants measured on d_ngram_jaccard (no cache; an unregistered
    * lazy InMemoryRelation) were not faster — SCALING.md, "Table loads
    * start no job".
    *
    * The cached rows are InternalRow (UnsafeRow byte arrays) via
    * [[org.apache.spark.sql.GraftSqlBridge]], NOT external `Row` objects:
    * the public `df.rdd` path deserializes every row into boxed objects
    * whose block-store heap and per-read converter cost made the round-4
    * bench's d_* family several times slower and bled GC pressure into
    * unrelated queries. UnsafeRow copies are one compact allocation per
    * row, read back with zero conversion. */
  def reuse(df: DataFrame): DataFrame = reuseWithHandle(df)._2

  /** [[reuse]] that also returns the persisted RDD for explicit lifecycle
    * control — iterative loops (d_cluster) unpersist the previous round
    * the moment the next one materializes instead of waiting for GC. The
    * handle is the typed InternalRow RDD so callers can fold a metric
    * over the SAME job that materializes it
    * ([[org.apache.spark.sql.GraftSqlBridge.xxhash64Checksum]] — the CC
    * loop's convergence checksum, r18). */
  def reuseWithHandle(df: DataFrame): (org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow], DataFrame) = {
    val spark = df.sparkSession
    val schema = df.schema
    val rdd = org.apache.spark.sql.GraftSqlBridge.toInternalRowRdd(df)
      .map(_.copy()) // the scan reuses one mutable buffer per partition
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    (rdd, org.apache.spark.sql.GraftSqlBridge.fromInternalRowRdd(spark, rdd, schema))
  }

  /** [[reuse]] + eager materialization, for iterative operators
    * (d_cluster) that must drop the PREVIOUS round's cache as soon as the
    * next round is computed: forces the blocks to exist now so upstream
    * caches can be unpersisted immediately after this call returns. */
  def reuseEager(df: DataFrame): DataFrame = {
    val out = reuse(df)
    out.count()
    out
  }
}
