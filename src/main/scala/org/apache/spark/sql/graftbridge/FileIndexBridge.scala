package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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

  /** The leaf of one directory's `listing`: its parquet parts, not the
    * writer's `_`/`.` bookkeeping (`_SUCCESS`, checksums, an uncommitted
    * `_temporary`), keyed by their own (qualified) parent path; None when
    * it holds none — an empty dir (a crash before a write landed)
    * contributes nothing. */
  def leafOf(values: Seq[Any], listing: Seq[FileStatus]): Option[Leaf] = {
    val files = listing.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    files.headOption.map(f => Leaf(f.getPath.getParent, values, files))
  }

  /** [[leafOf]] the listing of `dir`; None when `dir` is absent. */
  def leaf(fs: FileSystem, dir: Path, values: Seq[Any]): Option[Leaf] =
    if (!fs.exists(dir)) None else leafOf(values, fs.listStatus(dir).toSeq)

  /** A parquet frame of `schema ++ partitionSchema` over `leaves`.
    * Partition filters on the frame prune leaves; no file is listed.
    * The data columns read as nullable, as Spark writes them. */
  def parquet(spark: SparkSession, schema: StructType,
              partitionSchema: StructType, leaves: Seq[Leaf]): DataFrame = {
    val dataSchema = schema.asNullable
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
