package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-backed [[FileIndex]] — the Delta architecture (TahoeFileIndex)
  * re-expressed for the graft table format: a graft snapshot rendered as a
  * native Spark file-source relation, so the WHOLE file-scan machinery
  * applies unchanged — the vectorized parquet reader, whole-stage codegen,
  * parquet footer/row-group pushdown, and above all the two runtime
  * filters the DSv2 V1-fallback scan could never receive:
  *
  *  - '''dynamic partition pruning''': `FileSourceScanExec` evaluates the
  *    dim-side subquery against the partition values THIS index reports,
  *    so a date-sliced star join over a 100-TB graft fact reads only the
  *    joined days' files (the reference's flagship query shape,
  *    `dag/wiki_pipeline_dag.py:36-38`);
  *  - '''runtime bloom/IN filters''' (`InjectRuntimeFilter`): land as data
  *    filters over the relation and reach the parquet row-group stats.
  *
  * Listing never touches the filesystem: files, sizes, partition values
  * and per-column stats all come from ONE manifest resolution
  * ([[GraftTable.commitAt]]) — at 100 TB the planning cost is a manifest
  * JSON, not an object-store LIST. `listFiles` applies the full manifest
  * pruning stack ([[GraftTable.pruneFiles]]: partition values, footer
  * min/max, null counts, then the advisory bloom file index) to the
  * pushed data filters, and static partition predicates to the reported
  * partition rows — pruning is an OPTIMIZATION, never a filter: Spark
  * re-applies every predicate row-level, so a conservatively kept file
  * cannot leak wrong rows.
  *
  * Eligibility is decided by [[GraftNativeScanRule]]: snapshots with
  * deletion vectors or non-identity column mapping stay on the DSv2
  * V1-scan path, which handles both.
  */
final class GraftFileIndex(spark: SparkSession, t: GraftTable, version: Long)
    extends FileIndex {

  private val commit: TableCommit = t.commitAt(version)
  private val transforms: Seq[GraftTable.PartTransform] =
    GraftTable.PartTransform.parseAll(commit.partitionCols)

  /** Identity columns come from the table schema; HIDDEN transform
    * columns (days/bucket) get their derived types — they exist in the
    * relation only so partition values flow, and the conversion rule's
    * Project drops them from the visible output. */
  override val partitionSchema: StructType =
    StructType(transforms.map {
      case t: GraftTable.IdentityTransform =>
        commit.schema(commit.schema.fieldIndex(t.source))
      case d: GraftTable.DaysTransform =>
        org.apache.spark.sql.types.StructField(d.name,
          org.apache.spark.sql.types.DateType)
      case b: GraftTable.BucketTransform =>
        org.apache.spark.sql.types.StructField(b.name,
          org.apache.spark.sql.types.IntegerType)
    })

  /** Table schema MINUS identity partition columns — identity values
    * live in the manifest (and directory names), never in the data
    * pages; a TRANSFORM's source column stays in the pages. */
  val dataSchema: StructType = {
    val identity = transforms.collect {
      case t: GraftTable.IdentityTransform => t.source
    }.toSet
    StructType(commit.schema.filterNot(f => identity.contains(f.name)))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(t.root))

  private def absPath(p: String): String =
    if (new java.io.File(p).isAbsolute) p else s"${t.root}/$p"

  /** Cast one manifest partition STRING to the column's type via the
    * engine's own Cast (non-ANSI: unparseable → null). The Hive
    * null-partition marker is a true NULL. */
  private def castPart(v: String, dt: DataType): Any =
    if (v == GraftTable.HiveNullPartition) null
    else Cast(Literal(UTF8String.fromString(v), StringType), dt,
      Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(InternalRow.empty)

  private def partRow(f: ManifestFile): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map(c =>
      f.partition.get(c.name).map(castPart(_, c.dataType)).orNull))

  /** Whether the snapshot can be served through ONE partition schema:
    *
    *  - every file's partition-value keys must equal the DECLARED
    *    partition columns (a partition-EVOLVED table holds mixed eras —
    *    an old-era file stores the column in its data pages or not at
    *    all, which a uniform partitionSchema cannot express), and
    *  - every non-null partition value must cast cleanly to its declared
    *    type — otherwise a value the V1 path keeps conservatively would
    *    become a silent NULL here.
    *
    * The rule checks this BEFORE converting; failure keeps the scan on
    * the DSv2 path, which handles both per file. */
  private[table] def nativeReadable: Boolean = {
    val declared = transforms.map(_.name).toSet
    commit.files.forall(f =>
      f.partition.keySet == declared &&
        partitionSchema.fields.forall { c =>
          f.partition.get(c.name).forall(v =>
            v == GraftTable.HiveNullPartition || castPart(v, c.dataType) != null)
        })
  }

  private def statusOf(f: ManifestFile): FileStatus = {
    val abs = absPath(f.path)
    // bytes are manifest-recorded at write time; a pre-upgrade entry
    // (-1) pays one driver stat — rare, and only for its own file
    val len = if (f.bytes >= 0) f.bytes else new java.io.File(abs).length()
    new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, new Path(abs))
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // 1. data filters → manifest pruning (partition values, min/max
    //    stats, null counts, bloom index) — the filter the DSv2 scan uses
    val files = t.pruneFiles(version, GraftFilterRanges.of(dataFilters))
    if (partitionSchema.isEmpty)
      return Seq(PartitionDirectory(InternalRow.empty, files.map(statusOf).toArray))
    // 2. group by partition values; static partition predicates evaluate
    //    against the typed rows (dynamic ones are FileSourceScanExec's
    //    job — it filters the directories this returns)
    val dirs = files.groupBy(_.partition).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
      .map { case (_, fs) =>
        PartitionDirectory(partRow(fs.head), fs.map(statusOf).toArray)
      }
    if (partitionFilters.isEmpty) return dirs
    val resolver = spark.sessionState.conf.resolver
    val bound = Predicate.createInterpreted(
      partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fields.indexWhere(f => resolver(f.name, a.name))
          require(i >= 0, s"partition filter on non-partition column ${a.name}")
          BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
      })
    bound.initialize(0)
    dirs.filter(d => bound.eval(d.values))
  }

  override def inputFiles: Array[String] =
    commit.files.map(f => absPath(f.path)).toArray

  override def refresh(): Unit = () // a committed version is immutable

  /** Raw on-disk bytes of the snapshot (HadoopFsRelation scales by the
    * session's compression factor itself) — manifest-recorded, zero
    * filesystem calls; pre-upgrade entries overestimate via row width,
    * which can only miss a broadcast, never OOM one. */
  override def sizeInBytes: Long = {
    val fullWidth = math.max(1, commit.schema.defaultSize)
    commit.files.map(f => if (f.bytes >= 0) f.bytes else f.rows * fullWidth).sum
  }

  /** Exact live rows of the snapshot, straight off the manifest — the
    * value a full scan would count ([[GraftMetadataCountRule]]). */
  private[table] def snapshotLiveRows: Long = commit.files.map(_.liveRows).sum

  /** The snapshot itself, for metadata-only aggregate folding. */
  private[table] def snapshotCommit: TableCommit = commit

  override def toString: String =
    s"GraftFileIndex(${t.root} v$version files=${commit.files.size})"
}
