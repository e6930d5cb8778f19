package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, PartitionedFileUtil}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusWithMetadata, HadoopFsRelation}
import org.apache.spark.sql.types.StructType

/** The `private[sql]` plan constructors the driver-resident serving
  * snapshot ([[graft.store.ServingSnapshot]]) and its readers need,
  * behind the same namespace bridge as [[ColumnBridge]]. */
object PlanBridge {

  private def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (-1 = off), as
    * the planner reads it. */
  def autoBroadcastJoinThreshold(spark: SparkSession): Long =
    classicSession(spark).sessionState.conf.autoBroadcastJoinThreshold

  /** A frame over driver-held rows that plans as ONE single-partition
    * scan: operators above it that need all rows in one place (a
    * global aggregate, a top-k) add no exchange, so an action over it
    * is one job of one task. */
  def singlePartitionFrame(spark: SparkSession, schema: StructType,
                           rows: Seq[InternalRow]): DataFrame =
    rowsFrame(spark, schema, Seq(rows), Nil)

  /** A frame over driver-held rows: partition `i` holds `parts(i)` in
    * order, and the plan trusts that every partition is sorted by the
    * `orderedBy` columns, ascending. A write partitioned by those
    * columns then plans no sort, and one part plans as a
    * single-partition scan ([[singlePartitionFrame]]). The rows travel
    * inside the tasks. */
  def rowsFrame(spark: SparkSession, schema: StructType, parts: Seq[Seq[InternalRow]],
                orderedBy: Seq[String]): DataFrame = {
    val s = classicSession(spark)
    val attrs = DataTypeUtils.toAttributes(schema)
    // one slice per part: parallelize cuts a sequence of n into n slices of one
    val rdd = s.sparkContext.parallelize(parts, math.max(1, parts.size)).flatMap(_.iterator)
    val partitioning = if (parts.size <= 1) SinglePartition else UnknownPartitioning(parts.size)
    val ordering = orderedBy.map(n => SortOrder(attrs.find(_.name == n).get, Ascending))
    classic.Dataset.ofRows(s, LogicalRDD(attrs, rdd, partitioning, ordering)(s))
  }

  /** The relation's own file reader, run on the driver: one file's
    * rows of `required` (then the partition values), no Spark job. */
  def fileReader(spark: SparkSession, rel: HadoopFsRelation,
                 required: StructType): (FileStatusWithMetadata, InternalRow) => Iterator[InternalRow] = {
    val s = classicSession(spark)
    val read = rel.fileFormat.buildReaderWithPartitionValues(s, rel.dataSchema,
      rel.partitionSchema, required, Nil,
      rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      s.sessionState.newHadoopConfWithOptions(rel.options))
    (f, parts) => read(PartitionedFileUtil.getPartitionedFile(f, f.getPath, parts, 0, f.getLen))
  }
}
