package org.apache.spark.sql.graft

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's [[ParquetScan]] with one change: its partitions are the part
  * files in path order, one partition per file, so partition order is file
  * order. A file larger than `spark.sql.files.maxPartitionBytes` splits
  * into contiguous slices in offset order (each row group is read by the
  * slice holding its midpoint, so the order holds). Column pruning, filter
  * pushdown and the vectorized reader are the native ones.
  *
  * The partitions and the reader factory are planned once per scan: the
  * planner copies the scan's exec node, and each copy would otherwise list
  * the partitions and broadcast the Hadoop conf again.
  */
class FileOrderedScan private (s: ParquetScan) extends ParquetScan(s.sparkSession,
    s.hadoopConf, s.fileIndex, s.dataSchema, s.readDataSchema, s.readPartitionSchema,
    s.pushedFilters, s.options, s.pushedAggregate, s.partitionFilters, s.dataFilters,
    s.pushedVariantExtractions) {

  override lazy val partitions: Seq[FilePartition] = {
    val maxBytes = sparkSession.sessionState.conf.filesMaxPartitionBytes
    fileIndex.listFiles(partitionFilters, dataFilters).flatMap(_.files)
      .sortBy(_.getPath.toString)
      .flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath, isSplitable(f.getPath),
        maxBytes, InternalRow.empty))
      .zipWithIndex.map { case (slice, i) => FilePartition(i, Array(slice)) }
  }

  private lazy val readerFactory = super.createReaderFactory()
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  // ParquetScan's case-class equality would let plan reuse swap this scan
  // for a plain one of the same files, which does not keep file order
  override def equals(o: Any): Boolean = o match {
    case f: FileOrderedScan => super.equals(f)
    case _ => false
  }
  override def canEqual(o: Any): Boolean = o.isInstanceOf[FileOrderedScan]
}

object FileOrderedScan {

  /** The Parquet files of `relation`, an unpartitioned store, read through
    * one [[FileOrderedScan]] over the relation's own file index, so the
    * files are not listed again. */
  def read(relation: HadoopFsRelation): DataFrame = {
    val index = relation.location.asInstanceOf[PartitioningAwareFileIndex]
    require(relation.partitionSchema.isEmpty, s"file order needs an unpartitioned " +
      s"store, not one partitioned by ${relation.partitionSchema.fieldNames.mkString(", ")}")
    val spark = relation.sparkSession
    val options = new CaseInsensitiveStringMap(relation.options.asJava)
    val table = new Table with SupportsRead {
      override def name(): String = s"file-ordered ${index.rootPaths.mkString(", ")}"
      override def schema() = relation.dataSchema
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(o: CaseInsensitiveStringMap): ParquetScanBuilder =
        new ParquetScanBuilder(spark, index, relation.dataSchema, relation.dataSchema,
            options) {
          override def build(): ParquetScan = new FileOrderedScan(super.build())
        }
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None, options))
  }
}
