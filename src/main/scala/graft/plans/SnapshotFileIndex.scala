package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.operators.Snapshot

/** The file index of every snapshot-governed read
  * ([[graft.operators.Snapshot.readBatches]]): Spark's own listing of
  * the batch dirs (`delegate`), narrowed to the carried manifest's
  * `batches` — the Delta Lake layout, where per-file stats live in the
  * log and one file index consults them.
  *
  *  - `sizeInBytes` is Σ`__rows` × `rowWidth` when every batch has a
  *    row count (compressed parquet bytes understate a dictionary-
  *    encoded table 10-100×, and a 2M-row dim must not broadcast),
  *    else file bytes.
  *  - `rootPaths` stay the delegate's batch dirs, unnarrowed, so
  *    [[MatAggRewrite]]'s freshness gate sees the read's batch set.
  *  - `prunable = false`: the reader already decided the batch set
  *    with more than zone maps know (bloom lookups), so
  *    [[SnapshotPruning]] leaves it. */
final class SnapshotFileIndex(val delegate: FileIndex,
                              val manifest: Snapshot.Manifest,
                              rowWidth: Long,
                              val prunable: Boolean) extends FileIndex {

  def narrow(keep: Seq[Long]): SnapshotFileIndex =
    new SnapshotFileIndex(delegate, manifest.copy(batches = keep), rowWidth, prunable)

  private lazy val batchOrdinal = partitionSchema.fieldNames.indexOf("batch_id")

  override def rootPaths: Seq[Path] = delegate.rootPaths
  override def partitionSchema: StructType = delegate.partitionSchema
  override def refresh(): Unit = delegate.refresh()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val live = manifest.batches.toSet
    delegate.listFiles(partitionFilters, dataFilters).filter(d => batchOrdinal < 0 ||
      live(d.values.get(batchOrdinal, partitionSchema(batchOrdinal).dataType).toString.toLong))
  }

  private def files = listFiles(Nil, Nil).flatMap(_.files)

  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray

  override def sizeInBytes: Long = {
    val rows = manifest.batches.map(b => manifest.stats.getOrElse(b, Map.empty)
      .get(Snapshot.RowsStatKey).flatMap(_._1.toLongOption))
    if (rows.forall(_.isDefined)) rows.flatten.sum * rowWidth
    else files.map(_.getLen).sum
  }

  // same listing, same batches → same files: plans over two such reads
  // compare equal, as InMemoryFileIndex's do, so the CacheManager and
  // exchange reuse still match them
  override def equals(o: Any): Boolean = o match {
    case s: SnapshotFileIndex => s.delegate == delegate && s.manifest.batches == manifest.batches
    case _ => false
  }
  override def hashCode: Int = (delegate, manifest.batches).hashCode
}

/** Zone-map pruning of governed scans at plan time, the shape of
  * Spark's `PruneFileSourcePartitions`: a `Filter` directly over a
  * prunable [[SnapshotFileIndex]] scan swaps in the index narrowed to
  * the batches [[Snapshot.screen]] keeps. Plan-time, not in
  * `listFiles`, so `Dataset.inputFiles` and the statistics see only the
  * survivors. Idempotent: a narrowed index screens to itself, and an
  * unchanged batch set leaves the plan as it is. */
object SnapshotPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, lr: LogicalRelation) => lr.relation match {
      case rel @ HadoopFsRelation(idx: SnapshotFileIndex, _, _, _, _, _) if idx.prunable =>
        val keep = Snapshot.screen(idx.manifest, cond)
        if (keep.size == idx.manifest.batches.size) f
        else f.copy(child = lr.copy(
          relation = rel.copy(location = idx.narrow(keep))(rel.sparkSession)))
      case _ => f
    }
  }
}
