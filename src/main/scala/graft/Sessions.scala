package graft

import org.apache.spark.sql.SparkSession

/** One place to build SparkSessions so Verify, Bench and the test suites
  * agree on session-wide semantics. Nothing here mutates a session after
  * construction — all confs are fixed at build time (the events table's
  * TIMESTAMP(NANOS) handling used to be set lazily at plan-build time,
  * which is racy; see ADVICE r1).
  *
  * Init order: Spark reads the codegen cache size once per JVM, in the
  * static initializer of `CodeGenerator`, from the conf of the session
  * active at the first compile. If anything in the JVM generates
  * code before a session built through [[tune]] exists, the JVM keeps
  * Spark's default of 100 entries for its whole life, without a warning.
  * Build the session first. Nothing in `graft` compiles before it: the
  * encoders held in objects (`WireQueries`, `PipelineQueries`,
  * `Pipeline`) are expression trees until a serializer is applied inside
  * a query; function registration (`VectorFunctions.register`,
  * `GraftExtensions`) and schema loading (`Tables`) take the session as
  * an argument; the framed sources build their serializer inside the scan.
  * `CodegenReuseSpec` fails if the size did not reach `CodeGenerator`.
  */
object Sessions {

  /** Confs every graft session needs, applied to a builder. */
  def tune(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder = {
    // Shuffle/spill files on tmpfs when available: this rig's /tmp sits on
    // a shared-host virtio disk whose IO stalls showed up as 5-40x swings
    // on the shuffle-heavy operators (round-4 bench forensics); RAM is
    // 128 GiB vs a few GiB of shuffle at bench scale. A real cluster
    // points spark.local.dir at executor-local NVMe instead.
    // GRAFT_DISK_LOCAL_DIR=<path> points spark.local.dir at that path
    // (e.g. executor-local NVMe); GRAFT_DISK_LOCAL_DIR= (empty) just opts
    // out of the tmpfs default and leaves Spark's /tmp default (ADVICE r4:
    // the value used to be ignored, which surprised anyone setting a path).
    val localDir = sys.env.get("GRAFT_DISK_LOCAL_DIR") match {
      case Some(dir) if dir.nonEmpty => Some(dir)
      case Some(_)                   => None
      case None =>
        val shm = new java.io.File("/dev/shm/graft-spark-local")
        if (shm.isDirectory || shm.mkdirs()) Some(shm.getAbsolutePath) else None
    }
    val tuned = b.config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet has shipped ts as TIMESTAMP(NANOS) (Spark has no
      // ns timestamp type, so read the raw int64 — reference keeps u64 ns
      // event time: lib/wallaroo/core/source/source_handler.pony:28) and
      // as TIMESTAMP(MICROS), where this conf is a no-op. Tables.events
      // branches on the loaded dataType; keep the conf for the ns layout.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The file: scheme, FileSystem and FileContext APIs, on an in-process
      // local filesystem (LocalFs.scala). Without the native libhadoop the
      // stock one spawns chmod/readlink on every checkpoint file create and
      // rename, ~35 ms per metadata-log write. CRC files, rename semantics
      // and on-disk permission bits are unchanged; other schemes untouched.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      // Compile each plan once per JVM. Spark keeps generated classes in
      // an LRU of this many entries, 100 by default. batch_pack's five
      // queries rotate through about 120 classes, so with 100 every class
      // was evicted before its next use and Janino compiled it again
      // (about 40% of that loop's wall time). One graft.Bench pass at
      // sf0.01, stream rows included, leaves 1,248 classes cached; 2,000
      // holds them with headroom for user plans. Read once per JVM.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // The cache is keyed on the generated source, and the whole-stage
      // number in each class name is assigned as AQE plans the stages: it
      // came out different between runs of the same query (d_ngram_jaccard,
      // s_ann_recall, t_pipeline_e2e), so identical code compiled again.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // The cache is also keyed on the class loader. With artifact
      // isolation every session, and so every streaming query's clone of
      // it, runs its tasks under a class loader of its own, and each new
      // streaming query compiled its whole plan again. graft adds no
      // jars, files or archives to a session, so isolation buys nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
    localDir.fold(tuned)(tuned.config("spark.local.dir", _))
  }

  /** local[n] session for Verify/Bench/tests; n from SPARK_GRAFT_CPUS,
    * defaulting to every available core (the target rig is local[32]);
    * shuffle partitions match so each core gets exactly one shuffle task. */
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = tune(SparkSession.builder().appName(appName).master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
