package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** A scan's file list taken from graft metadata — a table snapshot's
  * stat segments (`#file=<rel>\t<rows>\t<bytes>`) or an index manifest
  * (`cell\tfile\tbytes`) — so a read plans as Spark's native Parquet
  * scan (`HadoopFsRelation` → FileSourceScanExec: vectorized batches,
  * pushed filters, split packing) without listing a directory or
  * statting a file. The snapshot's file list IS the scan: Delta's
  * `TahoeFileIndex` pattern.
  *
  * `listFiles` prunes from metadata alone: partition filters (an
  * index layout's `cluster_id`) against each file's partition value,
  * and the pushed data filters through `keep`, which a table builds
  * from [[GraftTable.fileKeepPredicate]] (full-key bucket, stats and
  * bloom may-match rules).
  * Pruning only ever drops files no matching row can live in — Spark
  * still applies every filter to the rows it reads.
  */
final class GraftFileIndex(root: String, files: Seq[GraftFileIndex.Entry],
                           override val partitionSchema: StructType,
                           keep: Seq[Expression] => GraftFileIndex.Entry => Boolean)
    extends FileIndex {
  import GraftFileIndex.Entry

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val inPartition: Entry => Boolean = partitionFilters.reduceOption(And) match {
      case None => _ => true
      case Some(cond) =>
        val bound = Predicate.createInterpreted(cond.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        e => bound.eval(values(e))
    }
    val kept = keep(dataFilters)
    files.filter(e => inPartition(e) && kept(e)).groupBy(_.part).toSeq.sortBy(_._1)
      .map { case (_, es) =>
        PartitionDirectory(values(es.head), es.map(e => FileStatusWithMetadata(
          new FileStatus(e.bytes, false, 0, 0L, 0L, new Path(e.path)))))
      }
  }

  private def values(e: Entry): InternalRow =
    if (partitionSchema.isEmpty) InternalRow.empty else InternalRow(e.part)

  override def inputFiles: Array[String] = files.map(_.path).toArray
  override def refresh(): Unit = () // an immutable snapshot: nothing to re-list
  override def sizeInBytes: Long = files.map(_.bytes).sum
  override def toString: String = s"GraftFileIndex($root, ${files.size} files)"
}

object GraftFileIndex {
  /** One data file: absolute `path`, on-disk `bytes`, metadata-relative
    * `rel` (what table stats are keyed by) and `part`, an index layout
    * file's cell (its `cluster_id` partition value; 0 for table files).
    */
  final case class Entry(path: String, bytes: Long, rel: String, part: Int)

  /** Table files (relative to `root`, bytes); `keep` turns the pushed
    * data filters into a relative-path keep test.
    */
  def files(root: String, files: Seq[(String, Long)],
            keep: Seq[Expression] => String => Boolean): GraftFileIndex = {
    val qualified = GraftTable.MetaIO.qualify(root)
    new GraftFileIndex(qualified,
      files.map { case (rel, len) => Entry(s"$qualified/$rel", len, rel, 0) },
      StructType(Nil), filters => { val k = keep(filters); e => k(e.rel) })
  }

  /** An index layout: cell → (absolute file, bytes), `cluster_id` the
    * partition column, no data-filter pruning (probes pick cells).
    */
  def layout(root: String, cells: Map[Int, Seq[(String, Long)]]): GraftFileIndex =
    new GraftFileIndex(root,
      cells.toSeq.sortBy(_._1).flatMap { case (c, fs) =>
        fs.map { case (f, len) => Entry(f, len, f, c) } },
      StructType(Seq(StructField("cluster_id", IntegerType))), _ => _ => true)
}
