package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Source configurations (core/source/ in the reference). Each yields a
  * stamped `Dataset[(T, eventTsNs)]` — the engine's internal stream shape:
  * every message carries its event time in nanoseconds, assigned at the
  * source exactly as the reference's decoders do
  * (core/source/source_handler.pony:21-28: `decode` + `event_time_ns`,
  * defaulting to wall clock).
  */
trait SourceConfig[T] extends Serializable {
  def load(spark: SparkSession): Dataset[(T, Long)]
}

object SourceConfig {
  /** The internal stream shape's encoder — one definition for every
    * source instead of six hand-built copies. */
  private[pipeline] def tupleEnc[T](implicit enc: Encoder[T]): Encoder[(T, Long)] =
    Encoders.tuple(enc, Encoders.scalaLong)

  private[pipeline] def stamp[T](ds: Dataset[T], tsNs: T => Long)(
      implicit enc: Encoder[T]): Dataset[(T, Long)] =
    ds.map(t => (t, tsNs(t)))(tupleEnc)
}

/** Wrap an existing Dataset (batch table or a streaming Dataset such as a
  * MemoryStream's output — the test-rig path, like the reference's
  * integration senders in testing/tools/integration/end_points.py). */
final case class DatasetSource[T](ds: Dataset[T], eventTimeNs: T => Long)(
    implicit enc: Encoder[T]) extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] = SourceConfig.stamp(ds, eventTimeNs)
}

/** Deterministic generator source (core/source/gen_source/gen_source.pony:
  * 54-67: `initial_value()` / `apply(last)` emitted on a timer). Spark-first
  * form: an INDEXED generator `i => T` over the built-in rate source, so any
  * partition can compute its rows independently — the sequential
  * `apply(last)` contract would serialize generation on one task at scale.
  * Event time defaults to the rate source's own timestamp. */
final case class GenSource[T](
    gen: Long => T,
    rowsPerSecond: Long = 1000,
    numPartitions: Int = 1,
    eventTimeNs: Option[T => Long] = None)(implicit enc: Encoder[T])
    extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] = {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .option("numPartitions", numPartitions)
      .load() // columns: timestamp TIMESTAMP, value LONG
    rate.select(col("value"), unix_micros(col("timestamp")).as("us"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .map { case (i, us) =>
        val t = gen(i)
        (t, eventTimeNs.map(f => f(t)).getOrElse(us * 1000L))
      }(SourceConfig.tupleEnc)
  }
}

/** Replay a parquet directory as a stream (the file-based stand-in for the
  * reference's TCP/connector sources in tests and benches; Spark's file
  * source gives at-least-once with checkpointed file offsets — the ALO
  * contract of core/source/connector_source/). `maxFilesPerTrigger` caps a
  * micro-batch. */
final case class ParquetReplaySource[T](
    path: String,
    decode: Row => T,
    eventTimeNs: Row => Long,
    maxFilesPerTrigger: Int = 1,
    schema: Option[org.apache.spark.sql.types.StructType] = None)(
    implicit enc: Encoder[T])
    extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] = {
    // Explicit schema skips the eager batch-read inference — which pays
    // a plan-time footer read AND fails outright on a replay directory
    // the producer hasn't written to yet (the normal start order for a
    // live-tail stream). Inference remains the test-rig default.
    // (The former `nanosAsLong` parameter was dead — the conf is
    // session-level, set by graft.Sessions; a per-source flag could
    // never enforce it.)
    val sch = schema.getOrElse(spark.read.parquet(path).schema)
    val df = spark.readStream
      .schema(sch)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    df.map(r => (decode(r), eventTimeNs(r)))(SourceConfig.tupleEnc)
  }
}

/** Kafka source config pass-through (core/source/kafka_source/
  * kafka_source_config.pony — brokers + topic + offset reset mapped onto the
  * built-in Spark Kafka source, whose checkpointed offsets are the
  * reference's "points of reference"). Decode mirrors the framed handler:
  * bytes → T plus an event-time extractor. */
final case class KafkaSource[T](
    bootstrapServers: String,
    topic: String,
    decode: Array[Byte] => T,
    eventTimeNs: T => Long,
    startingOffsets: String = "earliest",
    options: Map[String, String] = Map.empty)(implicit enc: Encoder[T])
    extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    val df = options.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }.load()
    // tombstones (null values on compacted topics) must not become a
    // poison pill: decode(null) would NPE, fail the query, and the
    // checkpoint would replay the same offset forever
    df.select(col("value")).filter(col("value").isNotNull)
      .as[Array[Byte]](Encoders.BINARY)
      .map { bytes => val t = decode(bytes); (t, eventTimeNs(t)) }(SourceConfig.tupleEnc)
  }
}

/** The reference's framed-source decode contract
  * (core/source/source_handler.pony:21-28: `decode(payload)`,
  * `event_time_ns`; framing loop framed_source_notify.pony:91-133). The
  * framing is fixed for every framed source: a 4-byte big-endian length
  * header (the reference default, and what TcpSink writes), read and
  * written only by [[Framing]]. */
trait FramedDecoder[T] extends Serializable {
  def decode(payload: Array[Byte]): T
  /** Decode-time DROP — the reference's decoder contract is
    * `decode(payload): (T | None)` and the framing loop delivers only the
    * non-None results (framed_source_notify.pony:118-133;
    * testing/correctness/apps/decoder_filter/decoder_filter.pony's
    * OddFilterDecoder is the reference test for it): a protocol can
    * discard a frame AT THE SOURCE — heartbeats, protocol noise,
    * filter-at-decode — without threading a sentinel value through the
    * typed stream. The default wraps [[decode]], so every total decoder
    * keeps its contract unchanged; a dropping decoder overrides THIS
    * method. Frame alignment is unaffected by a drop: every framing loop
    * advances by header+payload regardless of the verdict, so the frames
    * after a dropped one decode exactly as before.
    *
    * SEMANTIC DIVERGENCE from the reference (ADVICE r13): the reference
    * computes `event_time_ns` and advances the source watermark BEFORE
    * the None check (framed_source_notify.pony:118-133), so a dropped
    * frame that carries an event time — a heartbeat — can still advance
    * the watermark. In Spark's model the watermark derives from the
    * event-time column of EMITTED rows only, so a frame dropped here
    * never advances it: heartbeat-driven watermark advancement is
    * unrepresentable. A protocol that needs heartbeats to advance event
    * time must DECODE them (into a row the pipeline filters after the
    * watermark is assigned) rather than drop them at the source. */
  def decodeOpt(payload: Array[Byte]): Option[T] = Some(decode(payload))
  /** [[decodeOpt]] over a slice of a larger buffer — the framed DSv2
    * sources' in-scan decode ([[FramedReaderFactory]]) calls THIS per
    * frame, so a decoder that reads its fields straight from
    * `(bytes, off, len)` (e.g. through `ByteBuffer.wrap(bytes, off, len)`)
    * skips the per-frame payload copy entirely. The default
    * copies and delegates, preserving every existing decoder's
    * contract unchanged. */
  def decodeSliceOpt(bytes: Array[Byte], off: Int, len: Int): Option[T] =
    decodeOpt(java.util.Arrays.copyOfRange(bytes, off, off + len))
  def eventTimeNs(t: T): Long
}

/** Length-framed binary files as a source — the file form of the
  * reference's framed TCP protocol (its giles sender/receiver tooling
  * persists exactly such logs). Built on Spark's `binaryFile` source, so
  * the same decoder runs batch or streaming (checkpointed file offsets =
  * at-least-once restart points); parallelism = files. One file must fit
  * an executor (binaryFile's own contract) — shard big logs. */
final case class FramedFileSource[T](
    path: String,
    decoder: FramedDecoder[T],
    streaming: Boolean = true,
    maxFilesPerTrigger: Int = 1)(implicit enc: Encoder[T])
    extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] = {
    val df =
      if (streaming)
        spark.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", maxFilesPerTrigger).load(path)
      else spark.read.format("binaryFile").load(path)
    val dec = decoder
    // each frame decodes from a view into the file's bytes, as in the
    // DSv2 sources' scan; a dropped frame is still walked past
    df.select(col("content")).as[Array[Byte]](Encoders.BINARY)
      .flatMap { bytes =>
        val w = Framing.walk(bytes, 0, bytes.length)
        Iterator.continually(w).takeWhile(_.advance())
          .flatMap(_ => dec.decodeSliceOpt(w.bytes, w.off, w.len))
          .map(t => (t, dec.eventTimeNs(t)))
      }(SourceConfig.tupleEnc)
  }
}

/** Line-oriented TCP source over Spark's `socket` format: the decoder
  * takes each line as a String. The reference frames binary messages with
  * a length header (core/source/tcp_source/); for that transport use
  * [[FramedSocketSource]] (raw framed TCP), [[ConnectorSocketSource]]
  * (the resumable connector protocol) or [[FramedLogSource]] (a tailed
  * framed log). Not for production use — the socket source is
  * single-connection and unreplayable, exactly like the reference's
  * caveat on its TCP source. */
final case class SocketSource[T](
    host: String,
    port: Int,
    decode: String => T,
    eventTimeNs: T => Long)(implicit enc: Encoder[T]) extends SourceConfig[T] {
  def load(spark: SparkSession): Dataset[(T, Long)] = {
    val df = spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
    df.select(col("value")).as[String](Encoders.STRING)
      .map { line => val t = decode(line); (t, eventTimeNs(t)) }(SourceConfig.tupleEnc)
  }
}
