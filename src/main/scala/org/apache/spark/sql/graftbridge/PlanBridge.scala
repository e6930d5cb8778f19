package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, PartitionedFileUtil}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusWithMetadata, HadoopFsRelation}
import org.apache.spark.sql.types.StructType

/** The `private[sql]` plan constructors the driver-resident serving
  * snapshot ([[graft.store.ServingSnapshot]]) needs, behind the same
  * namespace bridge as [[ColumnBridge]]. */
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
                           rows: Seq[InternalRow]): DataFrame = {
    val s = classicSession(spark)
    val rdd = s.sparkContext.parallelize(rows, 1)
    classic.Dataset.ofRows(s,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rdd, SinglePartition)(s))
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
