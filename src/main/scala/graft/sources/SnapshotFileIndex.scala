package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.core.SnapshotTable

/** Manifest-backed [[FileIndex]] for a [[graft.core.SnapshotTable]]
  * snapshot — the integration that makes stats pruning TRANSPARENT:
  * Spark's planner hands every file-source scan's pushed-down data
  * filters to `listFiles`, and this index answers from the manifest's
  * recorded sections (`col=min:max` ranges, `col#...` categories,
  * `col~...` Blooms) instead of listing a filesystem — the same
  * data-skipping hook Delta's TahoeFileIndex and Iceberg's planning
  * use. A plain `.filter(col("k") === 42)` on
  * [[graft.core.SnapshotTable.table]] then opens only the files whose
  * sections admit 42, with no explicit `scanPruned*` call, and the
  * scan itself stays Spark's native vectorized parquet reader (the
  * pruning composes with parquet's own row-group stats and Bloom
  * filters inside each kept file — three layers, one declarative
  * filter).
  *
  * The file list and sizes come from the MANIFEST (entries pin the
  * snapshot; `!bytes` sections carry lengths), so constructing and
  * scanning this index performs no per-file filesystem calls — at
  * 400k files that is the difference between a plan and a
  * 400k-HEAD-call listing. Entries from pre-size manifests fall back
  * to one `getFileStatus` each, once, at construction. Every snapshot
  * read is a relation over this index whose schema comes from one
  * footer read on the driver, so a read is planned from the manifest
  * plus one footer, with no Spark job.
  *
  * Strictly a SUPERSET index: untranslatable filters and section-less
  * columns keep their files ([[SnapshotTable.entryMayMatch]]), and
  * Spark re-applies every filter row-level — pruning can only skip
  * files that cannot match, never change a result. */
final class SnapshotFileIndex(spark: SparkSession, private val rootP: Path,
                              private val entries: Seq[String],
                              statuses: Map[String, FileStatus])
    extends FileIndex {

  // equal over the pinned snapshot (root + manifest entries), as
  // InMemoryFileIndex is over its root paths: two reads of one
  // snapshot then canonicalize to the same plan, so CacheManager and
  // exchange/subquery reuse match them
  override def equals(other: Any): Boolean = other match {
    case o: SnapshotFileIndex => o.rootP == rootP && o.entries == entries
    case _ => false
  }

  override def hashCode: Int = (rootP, entries).hashCode

  override def rootPaths: Seq[Path] = Seq(rootP)

  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val kept = dataFilters.foldLeft(entries)((es, f) =>
      es.filter(e => SnapshotTable.entryMayMatch(e, f)))
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(e => statuses(SnapshotTable.entryPath(e))).toArray))
  }

  override def inputFiles: Array[String] =
    entries.map(e => statuses(SnapshotTable.entryPath(e))
      .getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum
}

object SnapshotFileIndex {

  /** Build the index for `entries` of the snapshot at `rootP` —
    * statuses synthesized from the manifest's recorded sizes (one
    * `getFileStatus` fallback per pre-size entry, nothing else touches
    * the filesystem). */
  def apply(spark: SparkSession, rootP: Path, entries: Seq[String])
      : SnapshotFileIndex = {
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = entries.map { e =>
      val rel = SnapshotTable.entryPath(e)
      val p = fs.makeQualified(new Path(rootP, rel))
      val len = SnapshotTable.entryBytes(e)
        .getOrElse(fs.getFileStatus(p).getLen)
      rel -> new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
    }.toMap
    new SnapshotFileIndex(spark, rootP, entries, statuses)
  }
}
