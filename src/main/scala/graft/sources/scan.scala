package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In, InSet,
  Literal, XxHash64}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] over a fixed set of manifest files whose statuses the
  * caller already resolved (one listing per parent directory, see
  * `LakeTable.statuses`): planning a scan lists nothing and starts no job,
  * where `spark.read.parquet(paths)` re-lists every path (in a separate Spark
  * job above `parallelPartitionDiscovery.threshold` paths).
  *
  * `numBuckets` is the bucket count every file was written under; with it,
  * `listFiles` keeps only the buckets a pushed `conv_id` equality or IN filter
  * can match. `None` (files written under different bucket counts) reads all. */
private[sources] final class ManifestFileIndex(files: Seq[(FileEntry, FileStatus)],
                                               numBuckets: Option[Int]) extends FileIndex {
  def rootPaths: Seq[Path] = files.map(_._2.getPath.getParent).distinct
  def listFiles(partitionFilters: Seq[Expression],
                dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = numBuckets.flatMap(ManifestFileIndex.buckets(dataFilters, _)) match {
      case Some(bs) => files.filter { case (f, _) => bs.contains(f.bucket) }
      case None => files
    }
    Seq(PartitionDirectory(InternalRow.empty, keep.map(_._2).toArray))
  }
  def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
  def refresh(): Unit = ()
  def sizeInBytes: Long = files.map(_._2.getLen).sum
  def partitionSchema: StructType = new StructType()
}

private[graft] object ManifestFileIndex {
  /** The column `LakeTable.bucketCol` hashes on every write path (merge,
    * compact, rebucket, deleteWhere). */
  val BucketKey = "conv_id"

  /** The buckets a scan under `filters` (a conjunction) can match, or None
    * when no conjunct pins [[BucketKey]] to non-null default-collation string
    * literals. Under any other collation equal keys may hash apart, and a
    * non-string literal compares through a cast, so neither prunes. */
  def buckets(filters: Seq[Expression], numBuckets: Int): Option[Set[Int]] =
    filters.flatMap(keyValues).map(_.map(bucketOf(_, numBuckets)).toSet)
      .reduceOption(_ intersect _)

  /** `pmod(xxhash64(v), numBuckets)` evaluated on the driver — the same
    * expression as `LakeTable.bucketCol`. */
  def bucketOf(v: UTF8String, numBuckets: Int): Int =
    Math.floorMod(new XxHash64(Seq(Literal(v, StringType))).eval().asInstanceOf[Long],
      numBuckets.toLong).toInt

  private def isKey(e: Expression): Boolean = e match {
    case a: Attribute => a.name == BucketKey && a.dataType == StringType
    case _ => false
  }

  private def str(e: Expression): Option[UTF8String] = e match {
    case Literal(v: UTF8String, t) if t == StringType => Some(v)
    case _ => None
  }

  private def keyValues(filter: Expression): Option[Seq[UTF8String]] = filter match {
    case EqualTo(k, v) if isKey(k) => str(v).map(Seq(_))
    case EqualTo(v, k) if isKey(k) => str(v).map(Seq(_))
    case In(k, vs) if isKey(k) =>
      val lits = vs.map(str)
      if (lits.forall(_.isDefined)) Some(lits.flatten) else None
    case InSet(k, vs) if isKey(k) && vs.forall(_.isInstanceOf[UTF8String]) =>
      Some(vs.toSeq.map(_.asInstanceOf[UTF8String]))
    case _ => None
  }
}
