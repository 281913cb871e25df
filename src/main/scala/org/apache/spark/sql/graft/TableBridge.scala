package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.catalog.{CatalogV2Util, Table}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Wraps a DSv2 [[Table]] instance as a streaming DataFrame.
  *
  * Why: `spark.readStream.format(...)` instantiates a `TableProvider` by
  * reflection and hands it string options only, so a table that must hold
  * live objects (the framed sources' decoder and row encoder) cannot be
  * reached that way. Spark's own streaming read resolves to the same
  * `StreamingRelationV2` node built here; `Dataset.ofRows` is
  * `private[sql]`, hence this namespace (the [[SessionBridge]] pattern).
  */
object TableBridge {

  /** A streaming DataFrame reading `table` (which must support
    * `MICRO_BATCH_READ`). Each query start builds a fresh scan and stream
    * from the same table instance, so stop → restart of one DataFrame
    * works like a `format(...)` load. */
  def readStream(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      StreamingRelationV2(None, table.name, table, CaseInsensitiveStringMap.empty,
        DataTypeUtils.toAttributes(CatalogV2Util.v2ColumnsToStructType(table.columns)),
        None, None, None))
}
