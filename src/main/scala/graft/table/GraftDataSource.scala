package graft.table

import java.time.ZoneOffset
import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 surface for [[GraftTable]] (round-11 verdict task 2):
  *
  * {{{
  *   spark.read.format("graft").load(root)                         // latest
  *   spark.read.format("graft").option("versionAsOf", 3).load(root) // time travel
  *   df.filter($"user_id" BETWEEN lo AND hi)   // ← pushes into manifest skipping
  * }}}
  *
  * The SQL-facing half of the table format: `versionAsOf` resolves the
  * snapshot from one manifest (Delta's `VERSION AS OF`), and scan
  * predicates arrive through [[SupportsPushDownFilters]] where they are
  * folded into one [[FileFilter]] and applied to the manifests' per-file
  * partition values, min/max and null counts ([[GraftTable.pruneFiles]])
  * BEFORE any data IO.
  * Manifest skipping is an optimization, never a filter: every pushed
  * predicate is also returned as a residual, so Spark re-applies it
  * row-level and a file that survives pruning conservatively cannot leak
  * wrong rows. Column pruning ([[SupportsPushDownRequiredColumns]])
  * reaches the parquet scan through the V1 relation's projected plan.
  *
  * Execution rides [[V1Scan]] — the DSv2 scan hands Spark a classic
  * `BaseRelation with TableScan` whose RDD is the codegen'd parquet read
  * of exactly the pruned files (`needConversion=false`: internal rows
  * pass through untouched, the same fallback Spark's own JDBC source
  * uses). This keeps the read path identical to the programmatic one —
  * same vectorized parquet scan, same whole-stage codegen — while the
  * optimizer sees a first-class v2 table with pushdown.
  *
  * Scale note (100 TB): the pruning decision runs driver-side on ONE
  * manifest JSON — no object-store LIST, no footer reads; a selective
  * predicate on a zordered dimension plans a 32-file scan out of a
  * 100k-file table before a single byte of data moves.
  */

object GraftDataSource {
  /** Timestamp-option parsing shared by every reader spelling
    * (`timestampAsOf`, `changesFrom/ToTimestamp`, `startingTimestamp`):
    * epoch millis, `yyyy-MM-dd[ HH:mm:ss[.f]]`, or an ISO-8601 instant —
    * the spellings Delta's reader options take. */
  private[table] def parseTsMs(s: String): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else scala.util.Try(java.sql.Timestamp.valueOf(s).getTime)
      .orElse(scala.util.Try(java.sql.Date.valueOf(s).getTime))
      .orElse(scala.util.Try(java.time.Instant.parse(s).toEpochMilli))
      .getOrElse(throw new IllegalArgumentException(
        s"timestamp option: cannot parse '$s' (epoch millis, " +
          "'yyyy-MM-dd[ HH:mm:ss]', or ISO instant)"))
}

final class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** True so WRITES to a not-yet-existing table skip schema inference:
    * Spark hands the incoming frame's schema to [[getTable]] directly
    * (create-on-first-write, like any path-based source). */
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft format requires .load(<table root>) / .save(<table root>)"))

  private def resolve(options: CaseInsensitiveStringMap): (GraftTable, Long) = {
    val path = pathOf(options)
    val t = GraftTable.forPath(SparkSession.active, path)
    val vOpt = Option(options.get("versionAsOf"))
    val tsOpt = Option(options.get("timestampAsOf"))
    require(vOpt.isEmpty || tsOpt.isEmpty,
      "specify either versionAsOf or timestampAsOf, not both")
    val v = vOpt.map(_.toLong)
      .orElse(tsOpt.map(s => t.versionAtTimestamp(parseTsMs(s))))
      .getOrElse(t.latestVersion)
    require(t.versions.contains(v), s"no committed version $v at $path")
    (t, v)
  }

  private def parseTsMs(s: String): Long = GraftDataSource.parseTsMs(s)

  /** Change-feed bounds, when this read is a CDF read: version-keyed
    * (`option("changesFrom", v1)[.option("changesTo", v2)]`) or
    * timestamp-keyed (`changesFromTimestamp`/`changesToTimestamp`, each
    * resolved by the TIMESTAMP AS OF rule — the "what changed since
    * yesterday's run" spelling). Mixing the two keyings on one bound is
    * an error, not a precedence guess. */
  private def changeRange(t: GraftTable,
      options: CaseInsensitiveStringMap): Option[(Long, Long)] = {
    val fromV = Option(options.get("changesFrom"))
    val fromTs = Option(options.get("changesFromTimestamp"))
    require(fromV.isEmpty || fromTs.isEmpty,
      "specify either changesFrom or changesFromTimestamp, not both")
    val toV = Option(options.get("changesTo"))
    val toTs = Option(options.get("changesToTimestamp"))
    require(toV.isEmpty || toTs.isEmpty,
      "specify either changesTo or changesToTimestamp, not both")
    fromV.map(_.toLong)
      .orElse(fromTs.map(s => t.versionAtTimestamp(parseTsMs(s))))
      .map { from =>
        (from, toV.map(_.toLong)
          .orElse(toTs.map(s => t.versionAtTimestamp(parseTsMs(s))))
          .getOrElse(t.latestVersion))
      }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (t, v) = resolve(options)
    val base = t.commitAt(v).schema
    if (changeRange(t, options).isDefined) base.add("_change_type", "string")
    else base
  }

  /** The partition SPECS named by `partitioning` transforms and/or the
    * `partitionBy` write option (comma-separated) — the two spellings a
    * DSv2 writer's partitioning arrives through. Identity columns pass
    * as names; `days(col)` / `bucket(n, col)` pass as transform specs
    * (hidden partitioning — [[GraftTable.PartTransform]]); anything else
    * is refused loudly. */
  private def partitionColsOf(partitioning: Array[Transform],
                              opts: CaseInsensitiveStringMap): Seq[String] = {
    val fromTransforms = partitioning.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t if t.name == "days" && t.references.length == 1 =>
        s"days(${t.references.head.fieldNames.mkString(".")})"
      case t if t.name == "bucket" && t.references.length == 1 =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs a literal bucket count: $t"))
        s"bucket($n,${t.references.head.fieldNames.mkString(".")})"
      case other => throw new IllegalArgumentException(
        s"graft tables support identity, days(col) and bucket(n, col) " +
          s"partitioning, got $other")
    }
    val fromOption = Option(opts.get("partitionBy")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    (fromTransforms ++ fromOption).distinct
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = pathOf(opts)
    val reqParts = partitionColsOf(partitioning, opts)
    if (GraftTable.isTable(path)) {
      val (t, v) = resolve(opts)
      changeRange(t, opts).foreach { case (from, to) =>
        // CDF read: the "table" is the change frame between the versions
        // (insert/delete-tagged rows) — Delta's `readChangeFeed` surface.
        // Served through the same V1 relation; no file pruning applies
        // (the fast path already reads only the appended files).
        val s = t.commitAt(to).schema.add("_change_type", "string")
        return new GraftCdfTable(t, from, to, s)
      }
      val cdfStream = Option(opts.get("readChangeFeed")).exists(_.toBoolean)
      require(!cdfStream || !Option(opts.get("skipChangeCommits")).exists(_.toBoolean),
        "readChangeFeed and skipChangeCommits are contradictory: the change " +
          "feed EXISTS to deliver rewrites; skipChangeCommits exists to skip them")
      val base = if (schema == null || schema.isEmpty) t.commitAt(v).schema else schema
      // streaming change feed: the relation carries the tag column; the
      // stream materializes it per-partition (never read from files)
      val s = if (cdfStream) base.add("_change_type", "string") else base
      val declared = t.commitAt(v).partitionCols
      require(reqParts.isEmpty || reqParts == declared,
        s"table at $path is partitioned by $declared, write requested $reqParts")
      new GraftSparkTable(path, Some((t, v)), s, declared)
    } else {
      // write target for a table that does not exist yet — the first
      // insert creates it (partitioned, when the writer asked); a read
      // will fail in newScanBuilder
      require(schema != null && schema.nonEmpty,
        s"no graft table log at $path (and no schema to create one from)")
      new GraftSparkTable(path, None, schema, reqParts)
    }
  }
}

private[table] final class GraftSparkTable(
    root: String, existing: Option[(GraftTable, Long)], tableSchema: StructType,
    partCols: Seq[String] = Seq.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  /** The table root — exposed so [[GraftMergeRule]] can lower a SQL
    * `MERGE INTO` on this relation back to the table-format API. */
  private[table] def rootPath: String = root

  /** The resolved (table, version) behind this relation — exposed so
    * [[GraftNativeScanRule]] can rebuild the snapshot as a native
    * file-source relation. */
  private[table] def resolved: Option[(GraftTable, Long)] = existing

  /** SQL `DELETE FROM graft.db.t WHERE cond` — Spark's SupportsDelete
    * path: accept iff every conjunct rebuilds faithfully as a Column
    * (refusal surfaces Spark's loud unsupported-DELETE error), then run
    * [[GraftTable.deleteWhere]] on the rebuilt condition, which derives
    * its own file filter from it. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    existing.isDefined && filters.forall(f => GraftFilterRanges.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (t, _) = existing.getOrElse(
      throw new IllegalArgumentException(s"no graft table log at $root"))
    val cond = filters.flatMap(GraftFilterRanges.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    t.deleteWhere(cond): Unit
  }
  override def name(): String = existing match {
    case Some((_, v)) => s"graft.`$root` v$v"
    case None => s"graft.`$root` (new)"
  }
  /** Report the table's CHECK constraints through DSv2 (DESCRIBE and the
    * analyzer see them); enforcement itself lives in the write paths
    * ([[GraftTable]]), which every spelling — V1 fallback included —
    * routes through. */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    existing.map { case (t, v) =>
      t.commitAt(v).constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(sql).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray
    }.getOrElse(Array.empty)
  override def schema(): StructType = tableSchema
  /** Declared partition specs, reported as DSv2 transforms (identity /
    * days / bucket) — `DESCRIBE`/catalog surfaces see them, and a
    * catalog `INSERT INTO` routes through the partitioned writer. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    GraftTable.PartTransform.parseAll(partCols).map {
      case t: GraftTable.IdentityTransform => Expressions.identity(t.source)
      case d: GraftTable.DaysTransform => Expressions.days(d.source)
      case b: GraftTable.BucketTransform => Expressions.bucket(b.n, b.source)
    }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val (t, v) = existing.getOrElse(
      throw new IllegalArgumentException(s"no graft table log at $root"))
    // streaming start: a VERSION, or an INSTANT resolved by the
    // TIMESTAMP AS OF rule (Delta's startingTimestamp) — never both
    val sv = Option(options.get("startingVersion"))
    val st = Option(options.get("startingTimestamp"))
    require(sv.isEmpty || st.isEmpty,
      "specify either startingVersion or startingTimestamp, not both")
    val effStart = sv
      .orElse(st.map(s => t.versionAtTimestamp(GraftDataSource.parseTsMs(s)).toString))
      .getOrElse("0")
    new GraftScanBuilder(t, v, tableSchema,
      effStart,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      Option(options.get("readChangeFeed")).exists(_.toBoolean))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(root, partCols)
}

/** Incremental-read (CDF) rendering of a graft table through the DSv2
  * surface: `spark.read.format("graft").option("changesFrom", v1)
  * [.option("changesTo", v2)].load(root)` returns
  * [[GraftTable.changesBetween]]'s insert/delete-tagged frame — the
  * SQL-facing form of Delta's `table_changes` / `readChangeFeed`. */
private[table] final class GraftCdfTable(
    t: GraftTable, vFrom: Long, vTo: Long, cdfSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft.`${t.root}` changes $vFrom..$vTo"
  override def schema(): StructType = cdfSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = cdfSchema
        override def description(): String =
          s"GraftCdfScan ${t.root} $vFrom..$vTo"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new GraftV1Relation(context, t.changesBetween(vFrom, vTo), cdfSchema)
            .asInstanceOf[T]
      }
    }
}

/** DSv2 write surface: append (`df.write.format("graft").mode("append")`)
  * lands as a transactional [[GraftTable.append]] commit; overwrite
  * (`mode("overwrite")`, arriving as DSv2 TRUNCATE) as a full-snapshot
  * [[GraftTable.overwrite]] — both visible atomically, both time-travel.
  * (DSv2 path-based sources accept only Append/Overwrite save modes, so
  * table creation rides the first append — same as Delta's path API.)
  * With partition columns (from `CREATE TABLE ... PARTITIONED BY`, the
  * table's own manifest metadata, or the `partitionBy` write option),
  * every write routes through the Hive-layout writer — partition values
  * land IN the manifest, so the pruned-read path works on SQL-created
  * tables exactly as on `createPartitioned` ones. Execution rides the V1
  * fallback ([[InsertableRelation]]), mirroring the read path's
  * [[V1Scan]]. First write creates the table. */
private[table] final class GraftWriteBuilder(root: String,
                                             partCols: Seq[String] = Seq.empty)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var truncateFirst = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(df: org.apache.spark.sql.DataFrame,
                              overwrite: Boolean): Unit = {
            val spark = df.sparkSession
            if (!GraftTable.isTable(root)) {
              if (partCols.nonEmpty)
                GraftTable.createPartitioned(spark, root, df, partCols): Unit
              else
                GraftTable.create(spark, root, df): Unit
            } else {
              val t = GraftTable.forPath(spark, root)
              val cols =
                if (partCols.nonEmpty) partCols
                else t.commitAt(t.latestVersion).partitionCols
              if (truncateFirst || overwrite)
                t.overwrite(df, t.latestVersion, "overwrite", cols): Unit
              else if (cols.nonEmpty)
                t.appendPartitioned(df, cols): Unit
              else
                t.append(df): Unit
            }
          }
        }
    }
}

private[table] final class GraftScanBuilder(t: GraftTable, version: Long,
                                            tableSchema: StructType,
                                            startingVersion: String = "0",
                                            maxVersionsPerTrigger: Option[Long] = None,
                                            skipChangeCommits: Boolean = false,
                                            readChangeFeed: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var accepted: Array[Filter] = Array.empty

  /** Keep the filters that fold into the [[FileFilter]]; return ALL
    * filters as residuals — pruning can only SKIP files, so the row-level
    * predicate must still run (exactly how parquet footer pruning
    * composes with FilterExec). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => !GraftFilterRanges.fold(Seq(f)).isEmpty)
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftV1Scan(t, version, required,
      GraftFilterRanges.fold(accepted.toSeq), startingVersion,
      maxVersionsPerTrigger, skipChangeCommits, readChangeFeed)
}

/** Public (not `private[table]`) so plan-gating tests can collect the
  * planned scan from `optimizedPlan` and assert on [[prunedFiles]]. */
final class GraftV1Scan(
    t: GraftTable, version: Long, required: StructType,
    val filter: FileFilter,
    startingVersion: String = "0",
    maxVersionsPerTrigger: Option[Long] = None,
    skipChangeCommits: Boolean = false,
    readChangeFeed: Boolean = false)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** The manifest-pruned file subset this scan will read — public so
    * PlanSpec can gate "strict subset" on the DSv2 path directly. */
  val prunedFiles: Seq[ManifestFile] = t.pruneFiles(version, filter)
  private val tableSchema: StructType = t.commitAt(version).schema
  private val totalFiles: Int = t.commitAt(version).files.size

  /** Manifest-derived statistics of the POST-PRUNING file set, reported
    * through DSv2 so the optimizer plans from truth instead of the
    * unknown-size default: a small graft dim table joins as a
    * BroadcastHashJoin with NO hint, and AQE's initial shuffle sizing
    * starts from real bytes. Size = sum of the pruned files' on-disk
    * bytes (recorded in the manifest at write time — zero filesystem
    * calls here), scaled exactly like Spark's own `FileScan` estimate:
    * by the session's `fileCompressionFactor` and by the projected
    * column-width ratio, so a 2-column projection of a wide table
    * reports 2 columns' worth of bytes. Pre-upgrade entries with no
    * recorded size estimate as rows × in-memory row width — an
    * OVERestimate, which can only miss a broadcast, never OOM one.
    * Row count is exact from the manifests. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val rowCount = prunedFiles.map(_.liveRows).sum
    val fullWidth = math.max(1, tableSchema.defaultSize)
    val diskBytes = prunedFiles.map { f =>
      if (f.bytes >= 0) f.bytes else f.rows * fullWidth
    }.sum
    val compressionFactor =
      SparkSession.active.sessionState.conf.fileCompressionFactor
    val projectedWidth = math.max(1, required.defaultSize)
    val size = math.max(1L,
      (diskBytes * compressionFactor * projectedWidth / fullWidth).toLong)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(size)
      override def numRows(): util.OptionalLong = util.OptionalLong.of(rowCount)
    }
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftScan ${t.root} v$version files=${prunedFiles.size}/$totalFiles " +
      s"ranges=${filter.ranges} strRanges=${filter.strRanges}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    require(!readChangeFeed,
      "readChangeFeed is a STREAMING option (spark.readStream) — for a " +
        "batch change feed use option(\"changesFrom\", v) / " +
        "option(\"changesFromTimestamp\", t)")
    val c = t.commitAt(version)
    val df = t.readFiles(c.schema, prunedFiles, c.columnMapping)
      .select(required.fieldNames.map(col).toSeq: _*)
    new GraftV1Relation(context, df, required).asInstanceOf[T]
  }

  /** Streaming form of the same scan: version-offset micro-batches over
    * the commit log (see [[GraftMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(t, required, startingVersion,
      maxVersionsPerTrigger, skipChangeCommits, readChangeFeed)
}

/** The V1 execution shim: Spark plans a RowDataSourceScanExec over this
  * relation; `buildScan` hands back the pruned parquet read's INTERNAL
  * row RDD (needConversion=false), so no per-row conversion happens and
  * the underlying vectorized scan + codegen are unchanged. */
private[table] final class GraftV1Relation(
    override val sqlContext: SQLContext,
    df: org.apache.spark.sql.DataFrame,
    override val schema: StructType) extends BaseRelation with TableScan {
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** The one file-skipping predicate, over three channels: NUMERIC ranges
  * `(column, lo, hi)` in the manifests' stat domain (timestamps as epoch
  * micros, dates as epoch days), STRING ranges `(column, lower, upper)`
  * in UTF-8 order (`None` = unbounded on that side), and NULL-ness tests
  * `(column, wantNull)`. Columns are LOGICAL names. A file survives
  * unless some entry provably excludes it ([[GraftTable.pruneFiles]]);
  * the empty filter keeps every file. Built by [[GraftFilterRanges]]. */
final case class FileFilter(
    ranges: Seq[(String, BigDecimal, BigDecimal)] = Seq.empty,
    strRanges: Seq[(String, Option[String], Option[String])] = Seq.empty,
    nulls: Seq[(String, Boolean)] = Seq.empty) {
  def isEmpty: Boolean = ranges.isEmpty && strRanges.isEmpty && nulls.isEmpty
}

/** Source filters → the [[FileFilter]], folded once. Only shapes whose
  * satisfying set is bounded by a single interval per column fold;
  * everything else simply doesn't prune (sound: pruning is an
  * optimization). A strict bound on an integral literal steps past its
  * endpoint (`id < 100` folds as `id ≤ 99`, so a file whose min is 100
  * skips); on every other domain it folds to its inclusive superset. */
private[table] object GraftFilterRanges {
  import org.apache.spark.sql.catalyst.{expressions => ce}

  def fold(filters: Seq[Filter]): FileFilter =
    FileFilter(filters.flatMap(foldNum), filters.flatMap(foldStr),
      filters.flatMap(foldNull))

  /** The filter catalyst conditions imply: constants folded first (the
    * analyzer leaves `id >= cast(200 as bigint)` for the optimizer, and
    * an unfolded cast translates to nothing), conjuncts split so an
    * untranslatable conjunct drops only itself, and each conjunct
    * translated by Spark's own `translateFilter` — the translation every
    * connector's pushdown uses. */
  def of(conds: Seq[ce.Expression]): FileFilter =
    fold(conds.flatMap(c => conjuncts(foldConstants(c)))
      .flatMap(org.apache.spark.sql.GraftInternalAccess.translateFilter))

  /** The filter of a DML condition: `cond` is analyzed against `schema`
    * over an empty local relation (no data read), so its columns bind
    * and its literals coerce exactly as the row-level evaluation will
    * see them, then [[of]]. */
  def of(spark: SparkSession, schema: StructType,
         cond: org.apache.spark.sql.Column): FileFilter =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .filter(cond).queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => of(Seq(c))
        case _ => FileFilter()
      }

  private def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
    case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** A subtree that fails to evaluate (an ANSI cast error behind a
    * branch the rows never take) stays unfolded and just doesn't prune. */
  private def foldConstants(e: ce.Expression): ce.Expression = e.transformUp {
    case x if x.foldable && x.deterministic && !x.isInstanceOf[ce.Literal] =>
      scala.util.Try(ce.Literal(x.eval(), x.dataType): ce.Expression).getOrElse(x)
  }

  /** NULL-ness predicates, the third pruning channel: `IsNull(c)` can
    * skip files whose manifests record ZERO nulls in `c`; `IsNotNull(c)`
    * (which Spark pushes for nearly every referenced column) can skip
    * files that are ALL null in `c`. Both decisions come straight from
    * the per-file null counts the manifests already carry. */
  private def foldNull(f: Filter): Seq[(String, Boolean)] = f match {
    case IsNull(c)    => Seq((c, true))
    case IsNotNull(c) => Seq((c, false))
    case _            => Seq.empty
  }

  private val NegInf = BigDecimal("-1e40")
  private val PosInf = BigDecimal("1e40")

  /** Numeric rendering of a literal in the MANIFEST's stat domain:
    * numbers as themselves, timestamps as epoch micros (the INT64
    * physical value footerStats records, unit-normalized at prune time by
    * [[ColStat.overlaps]]), dates as epoch days. Pre-1970 instants floor
    * their millis to whole seconds before the sub-second nanos add back.
    * Non-finite floats (NaN/Infinity) have no BigDecimal rendering — they
    * decline to fold (no prune) instead of failing the whole query at
    * plan time. */
  private def num(v: Any): Option[BigDecimal] = v match {
    case null => None
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float if f.isNaN || f.isInfinite => None
    case b: java.math.BigDecimal => Some(BigDecimal(b))
    case n: java.lang.Number =>
      scala.util.Try(BigDecimal(n.toString)).toOption
    case ts: java.sql.Timestamp =>
      Some(BigDecimal(Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L))
    case i: java.time.Instant =>
      Some(BigDecimal(i.getEpochSecond * 1000000L + i.getNano / 1000L))
    case ldt: java.time.LocalDateTime =>
      Some(BigDecimal(ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L))
    case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case ld: java.time.LocalDate => Some(BigDecimal(ld.toEpochDay))
    case _ => None
  }

  /** The gap to the next value of an integral literal's domain; 0 where
    * values are not integral (the bound stays inclusive). */
  private def step(v: Any): BigDecimal = v match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => 1
    case _ => 0
  }

  private def foldNum(f: Filter): Seq[(String, BigDecimal, BigDecimal)] = f match {
    case EqualTo(c, v)            => num(v).map(b => (c, b, b)).toSeq
    case EqualNullSafe(c, v)      => num(v).map(b => (c, b, b)).toSeq
    case GreaterThan(c, v)        => num(v).map(b => (c, b + step(v), PosInf)).toSeq
    case GreaterThanOrEqual(c, v) => num(v).map(b => (c, b, PosInf)).toSeq
    case LessThan(c, v)           => num(v).map(b => (c, NegInf, b - step(v))).toSeq
    case LessThanOrEqual(c, v)    => num(v).map(b => (c, NegInf, b)).toSeq
    case In(c, vs) if vs.nonEmpty =>
      val bs = vs.toSeq.flatMap(num)
      if (bs.length == vs.length) Seq((c, bs.min, bs.max)) else Seq.empty
    case And(l, r) => foldNum(l) ++ foldNum(r)
    case _ => Seq.empty
  }

  private def str(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case _ => None
  }

  /** Rebuild the ROW-LEVEL predicate a set of source filters expresses —
    * the execution half of SupportsDelete (pruning decides which files to
    * rewrite; this decides which rows to drop). `None` = a shape with no
    * faithful Column rendering, which makes `canDeleteWhere` refuse and
    * Spark surface the unsupported DELETE loudly. */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, p)   => Some(col(a).startsWith(p))
    case StringEndsWith(a, p)     => Some(col(a).endsWith(p))
    case StringContains(a, p)     => Some(col(a).contains(p))
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r)  => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(c0)   => toColumn(c0).map(!_)
    case _: AlwaysTrue  => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** STRING-range folding — the text sibling of [[foldNum]], pruning on
    * the manifests' truncated string min/max (UTF-8 order). Same
    * single-interval-per-column shapes as the numeric fold. StartsWith
    * is a genuine range: `[prefix, prefix∞)` — its upper side is served
    * by the truncated max's own increment property. */
  private def foldStr(f: Filter): Seq[(String, Option[String], Option[String])] = f match {
    case EqualTo(c, v)            => str(v).map(s => (c, Some(s), Some(s))).toSeq
    case EqualNullSafe(c, v)      => str(v).map(s => (c, Some(s), Some(s))).toSeq
    case GreaterThan(c, v)        => str(v).map(s => (c, Some(s), None)).toSeq
    case GreaterThanOrEqual(c, v) => str(v).map(s => (c, Some(s), None)).toSeq
    case LessThan(c, v)           => str(v).map(s => (c, None, Some(s))).toSeq
    case LessThanOrEqual(c, v)    => str(v).map(s => (c, None, Some(s))).toSeq
    case StringStartsWith(c, p) if p.nonEmpty =>
      // every string with prefix p is ≥ p; the upper side compares the
      // FILE MIN against the prefix itself extended to +∞ — expressible
      // as min ≤ p-with-last-cp-bumped, but overlapsStr only sees
      // closed bounds, so fold just the sound lower bound.
      Seq((c, Some(p), None))
    case In(c, vs) if vs.nonEmpty =>
      val ss = vs.toSeq.flatMap(str)
      if (ss.length == vs.length)
        Seq((c, Some(ss.min(Ordering.comparatorToOrdering(
              (a: String, b: String) => graft.table.ColStat.utf8Compare(a, b)))),
             Some(ss.max(Ordering.comparatorToOrdering(
              (a: String, b: String) => graft.table.ColStat.utf8Compare(a, b))))))
      else Seq.empty
    case And(l, r) => foldStr(l) ++ foldStr(r)
    case _ => Seq.empty
  }
}
