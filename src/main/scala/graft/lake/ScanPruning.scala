package graft.lake

import java.util.OptionalLong

import org.apache.spark.sql.connector.read.Statistics
import org.apache.spark.sql.sources.Filter

/** The one pruning chain every read of a graft table plans from — both
  * DSv2 scans, the builder's LIMIT and metadata-aggregate pushdowns, and
  * runtime (dynamic) filtering:
  *
  *  1. rename: filters on logical names → the physical names files carry;
  *  2. manifest-chunk pruning (`filesForScan`): only the chunks whose
  *     merged bounds overlap the filters are ever loaded;
  *  3. per-file stats pruning (`StatsPruner`);
  *  4. EXACT selection for the identity-partition filters the builder
  *     reports as pushed (`IdentityFilters`) — no residual Filter
  *     re-applies those, so correctness depends on this step.
  *
  * Deterministic in (snapshot, filters): the builder's pushed-claim split
  * and every scan it builds from the same inputs agree, or rows would
  * leak past a dropped Filter node. */
private[lake] final class ScanPruning(
    snapshot: Snapshot, store: SnapshotStore, filters: Seq[Filter]) {

  private val rename = SchemaNames.renameMap(snapshot.schema)
  private def physical(fs: Seq[Filter]): IndexedSeq[Filter] =
    fs.toIndexedSeq.map(SchemaNames.renameFilter(_, rename))
  private val phys = physical(filters)

  /** Indices of `filters` decided exactly per file by step 4. */
  val exactIdx: Set[Int] = IdentityFilters.exactIndices(phys, snapshot)

  /** True when file selection alone enforces every filter. */
  def exactOnly: Boolean = exactIdx.size == phys.size

  /** Physical filters a parquet reader may re-apply. The exact ones must
    * not reach it: their column may be pruned out of the read schema, and
    * parquet record-level filtering evaluates a missing column as NULL —
    * dropping every row. */
  def residual: Array[Filter] =
    phys.indices.filterNot(exactIdx).map(phys).toArray

  /** Steps 1-4: the files a scan under `filters` must read. */
  lazy val files: Seq[DataFile] = {
    val exact = exactIdx.toSeq.map(phys)
    StatsPruner.prune(store.filesForScan(snapshot, phys), phys,
      snapshot.partitionSpec)
      .filter(IdentityFilters.matchesAll(_, exact, snapshot))
  }

  /** Runtime narrowing of an already-planned file list by predicates
    * Spark derives at execution (dynamic pruning, runtime group
    * filtering): step 1, then step 3 over `current`. */
  def narrow(current: Seq[DataFile], runtime: Seq[Filter]): Seq[DataFile] =
    StatsPruner.prune(current, physical(runtime), snapshot.partitionSpec)
}

private[lake] object ScanPruning {

  /** Snapshot-resident planner statistics for a scan of `files`: the
    * optimizer's broadcast decisions see real sizes without touching the
    * FS, and per-column NDV from the merged HLL sketches feeds CBO.
    * Position deletes remove rows the file counts still include; clamp at
    * 0 because the tuples may reference files outside `files`.
    * Equality-delete tuples are NOT subtracted: each key kills 0..N rows,
    * so a tuple count is not a row count (an overestimate is the safe
    * direction for broadcast decisions). */
  def statistics(snapshot: Snapshot, files: Seq[DataFile]): Statistics =
    new Statistics {
      private val rows = math.max(0L, files.map(_.rowCount).sum -
        snapshot.deleteFiles.filter(_.positional).map(_.rowCount).sum)
      private val bytes = files.map(_.sizeBytes).sum
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats() = NdvStats.columnStats(snapshot)
    }
}
