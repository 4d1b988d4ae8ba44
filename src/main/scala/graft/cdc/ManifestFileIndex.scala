package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/**
 * File listing of a snapshot-table scan, planned from the manifest: one
 * partition per wanted `(bucket, bucket directory)` pair, with the bucket id
 * as its `bucket` partition value. The manifest already names the directory
 * of every bucket, so the only filesystem work is one serial `listStatus` per
 * named directory, done here on the driver when the scan is built (Spark's
 * own InMemoryFileIndex also lists when it is built).
 *
 * `spark.read.parquet(paths)` would discover the same files itself, and
 * above `spark.sql.sources.parallelPartitionDiscovery.threshold` paths (32)
 * it runs a separate Spark job to do it — on every read and on every
 * copy-on-write epoch's survivor read. FileIndex, PartitionDirectory and
 * HadoopFsRelation are internal Spark API (pinned to Spark 4.1.2, like
 * org.apache.spark.sql.ColumnSqlBridge); no public reader takes a file list.
 */
private[cdc] class ManifestFileIndex(hconf: Configuration, bucketDirs: Seq[(Int, Path)])
    extends FileIndex {

  override val partitionSchema: StructType =
    StructType(Seq(StructField("bucket", IntegerType, nullable = true)))

  private val partitions: Seq[PartitionDirectory] = bucketDirs.map { case (bucket, dir) =>
    PartitionDirectory(InternalRow(bucket), dataFiles(dir))
  }

  private def dataFiles(dir: Path): Array[FileStatus] =
    try dir.getFileSystem(hconf).listStatus(dir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    catch {
      // a bucket whose rows were all deleted keeps its ledger entry but has
      // no directory (partitionBy writes nothing for an empty partition)
      case _: java.io.FileNotFoundException => Array.empty
    }

  override def rootPaths: Seq[Path] = bucketDirs.map(_._2)

  /** Spark drops partition-only filters from the post-scan filter, so the
    * pruning here is what keeps other buckets' rows out — not an optimization. */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference => BoundReference(0, a.dataType, a.nullable)
      })
      partitions.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] =
    partitions.flatMap(_.files.map(_.getPath.toString)).toArray

  // a scan reads the files of the manifest it was planned from; a newer
  // commit is seen by planning a new scan, never by re-listing this one
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = partitions.flatMap(_.files).map(_.getLen).sum
}
