package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/**
 * Parquet reads over files the caller already listed. `spark.read` lists
 * its paths itself, and above `parallelPartitionDiscovery.threshold` (32)
 * paths or subdirectories it does so in a Spark job of its own. A
 * partitioned layout the caller knows (`batch=N/ib=K`) needs no
 * discovery: the file index here is handed the leaf directories, their
 * partition values and their files, so reading it starts no job, however
 * many directories it spans. Same-namespace bridge as [[ColumnBridge]]:
 * the file-index classes are Spark internals.
 */
object FileIndexBridge {

  /** One leaf directory: its partition values (in `partitionSchema`
    * order) and its data files. */
  final case class Leaf(dir: Path, values: Seq[Any], files: Seq[FileStatus])

  /** A parquet frame of `dataSchema ++ partitionSchema` over `leaves`.
    * Partition filters on the frame prune leaves; no file is listed. */
  def parquet(spark: SparkSession, dataSchema: StructType,
              partitionSchema: StructType, leaves: Seq[Leaf]): DataFrame = {
    val listed = leaves.map(l => l.dir -> l.files.toArray).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        listed.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val spec = PartitionSpec(partitionSchema,
      leaves.map(l => PartitionPath(InternalRow.fromSeq(l.values), l.dir)))
    val index = new InMemoryFileIndex(spark, leaves.map(_.dir), Map.empty,
      Some(StructType(dataSchema ++ partitionSchema)), cache, Some(spec))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }
}
