package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Streaming OFFSET for a graft table: simply the committed version — the
  * commit log is already a totally-ordered, replayable sequence, so the
  * table IS its own write-ahead log (Delta's streaming source uses the
  * same identity: offset = (reservoir version, index)). */
final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object GraftOffset {
  private val Re = """\{"version":(\d+)\}""".r
  def fromJson(s: String): GraftOffset = s match {
    case Re(v) => GraftOffset(v.toLong)
    case other => throw new IllegalArgumentException(s"bad graft offset: $other")
  }
}

/** One data file of a micro-batch. Carries everything an executor needs:
  * the absolute path, the REQUIRED projection (as schema JSON — compact,
  * version-stable), and the file's Hive partition values (absent from the
  * data pages; re-injected as constants, exactly what a batch scan's
  * partition-value columns are), plus the planner's reader choice for the
  * whole micro-batch (`columnarEligible`). */
final case class GraftFilePartition(absPath: String, requiredJson: String,
                                    partition: Map[String, String],
                                    dvAbsPath: Option[String] = None,
                                    changeType: Option[String] = None,
                                    emitNewDvAbsPath: Option[String] = None,
                                    columnarEligible: Boolean = false)
    extends InputPartition {
  /** Is column `name` decoded from the file? Partition values and the
    * change-feed tag are constants instead. */
  def fromFile(name: String): Boolean =
    !partition.contains(name) && !(changeType.isDefined && name == "_change_type")
}

/** STREAMING SOURCE over the versioned table (round-12 extension — the
  * consumer half of the table/streaming integration, whose producer half
  * is [[graft.streaming.StreamOps.tableSink]]):
  *
  * {{{
  *   spark.readStream.format("graft").load(root)                   // full backlog, then increments
  *   spark.readStream.format("graft")
  *     .option("startingVersion", "latest").load(root)             // only new commits
  * }}}
  *
  * Offsets are table VERSIONS: a micro-batch is the half-open version
  * range (start, end], and its input files are resolved from the two
  * manifests alone — the append-only fast path of `changesBetween`, so a
  * batch costs O(its own files), never a table scan, and a restart
  * replays exactly the unprocessed versions from the checkpointed offset
  * (versions are immutable, so replays are byte-identical). Combined
  * with [[graft.streaming.StreamOps.tableSink]] downstream, a
  * table→transform→table pipeline is exactly-once END TO END: the source
  * replays deterministically by version, the sink deduplicates by
  * (appId, batchId).
  *
  * A REWRITE inside the range (merge/compact/zorder drops a file, a
  * DELETE swaps a deletion vector) makes file identity meaningless for
  * increments, so the stream fails with an explicit error rather than
  * re-emit rewritten rows — the Delta streaming source draws the same
  * line. `option("skipChangeCommits", true)` overrides (Delta's option
  * of the same name): the stream survives mid-stream maintenance and
  * delivers ONLY genuinely appended files, never rewritten base rows.
  *
  * Executors read each micro-batch through ONE of two readers, chosen by
  * the planner ([[GraftMicroBatchStream.columnarEligible]]) and stamped
  * uniformly on the batch's partitions, because Spark refuses a scan that
  * mixes row and columnar partitions:
  *
  *  - [[GraftColumnarFileReader]] hands Spark's own vectorized parquet
  *    batches straight to ColumnarToRow, with no per-row work on the
  *    source side. A batch is eligible when every file carries no
  *    deletion vector and no delta-emit vector, stores at least one
  *    requested data column, and stores each requested column in a type
  *    [[GraftColumnarFileReader.servable]] accepts — all read from the
  *    footers [[GraftFooterFields]] caches;
  *  - [[GraftGroupFileReader]] (parquet-hadoop Group records) serves
  *    every other batch: deletion-vector masking, CDF delta-emit, and
  *    schema-evolution shapes the columnar reader cannot serve.
  *
  * Neither reader falls back to the other at run time: the choice is the
  * planner's, made before any task starts.
  */
final class GraftMicroBatchStream(t: GraftTable, required: StructType,
                                  startingVersion: String,
                                  maxVersionsPerTrigger: Option[Long] = None,
                                  skipChangeCommits: Boolean = false,
                                  readChangeFeed: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def filesAt(version: Long): Seq[ManifestFile] =
    if (version <= 0) Seq.empty else t.commitAt(version).files

  override def initialOffset(): Offset = {
    val v = startingVersion match {
      case "latest" => t.latestVersion
      case s => s.toLong
    }
    GraftOffset(v)
  }

  override def latestOffset(): Offset = GraftOffset(t.latestVersion)

  // ---- admission control: bounded micro-batches ---------------------------
  // `maxVersionsPerTrigger` caps how many COMMITS one micro-batch absorbs —
  // the backlog-catchup knob (Delta's maxFilesPerTrigger role): a stream
  // restarted against a month of commits drains in bounded, checkpointed
  // steps instead of one giant batch. AvailableNow pins the drain target
  // at start, so the query still terminates while respecting the cap.

  private var availableNowCap: Option[Long] = None

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  /** Honors the ReadLimit SPARK passes (the SupportsAdmissionControl
    * contract) rather than re-deriving from the constructor option — the
    * engine may compose its own limits (Trigger.AvailableNow wraps the
    * default, future triggers may substitute): maxFiles counts VERSIONS
    * here (the unit [[getDefaultReadLimit]] advertises), composite limits
    * take their tightest member, ReadAllAvailable and unknown kinds mean
    * "no cap beyond the drain target". */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxFiles}
    val s = start.asInstanceOf[GraftOffset].version
    val target = availableNowCap.getOrElse(t.latestVersion)
    def capOf(l: ReadLimit): Long = l match {
      case m: ReadMaxFiles => s + m.maxFiles()
      case _: ReadAllAvailable => Long.MaxValue
      case c: CompositeReadLimit => c.getReadLimits.map(capOf).min
      case _ => Long.MaxValue
    }
    GraftOffset(math.max(s, math.min(target, capOf(limit))))
  }

  override def reportLatestOffset(): Offset = GraftOffset(t.latestVersion)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(t.latestVersion)

  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)

  /** Resolve a manifest path against the table root (ABSOLUTE entries —
    * shallow-cloned references — pass through). */
  private def abs(p: String): String =
    if (new java.io.File(p).isAbsolute) p else s"${t.root}/$p"

  /** STREAMING CHANGE FEED (`option("readChangeFeed", true)` — Delta's
    * streaming CDF): a micro-batch (s, e] delivers the per-commit row
    * changes, `_change_type`-tagged, instead of appended files only —
    * processed VERSION BY VERSION off the manifests alone:
    *
    *  - an ADDED file's live rows (through its vector) are inserts;
    *  - a REMOVED file's then-live rows (through its OLD vector) are
    *    deletes — a COW merge/update therefore renders touched rows as
    *    delete(pre-image) + insert(post-image) pairs, Delta's CDF shape;
    *  - a DELETION-VECTOR SWAP (same path, entry changed) emits exactly
    *    the NEWLY masked positions as deletes (new vector minus old);
    *  - `compact`/`zorder` are content-preserving BY CONSTRUCTION in
    *    this engine, so those commits emit NOTHING (the role Delta's
    *    dataChange=false flag plays) — maintenance never floods the
    *    feed; metadata-only commits have zero churn and emit nothing
    *    naturally.
    *
    * Rewrites are the feed's PURPOSE here, so the rewrite guard and
    * `skipChangeCommits` do not apply (combining them is refused at
    * option parsing). */
  private def planChangeFeed(s: Long, e: Long): Array[InputPartition] = {
    // `_change_type` rides in the required schema (the readers
    // materialize it from the partition's tag, never from the file)
    val physRequired = physicalRequired(e)
    val json = physRequired.json
    val parts = scala.collection.mutable.ArrayBuffer.empty[GraftFilePartition]
    var prevMap = filesAt(s).map(f => f.path -> f).toMap
    ((s + 1) to e).foreach { v =>
      val cur = t.commitAt(v)
      val curMap = cur.files.map(f => f.path -> f).toMap
      if (cur.operation != "compact" && cur.operation != "zorder") {
        cur.files.filterNot(f => prevMap.contains(f.path)).foreach { f =>
          parts += GraftFilePartition(abs(f.path), json, f.partition,
            f.dv.map(abs), changeType = Some("insert"))
        }
        prevMap.values.filterNot(f => curMap.contains(f.path)).foreach { f =>
          parts += GraftFilePartition(abs(f.path), json, f.partition,
            f.dv.map(abs), changeType = Some("delete"))
        }
        prevMap.values.foreach { pf =>
          curMap.get(pf.path).foreach { cf =>
            // a deletion-vector CHANGE on a kept path. The vectors need
            // NOT nest (a restore can shrink or drop one): rows masked by
            // the new vector but not the old are this commit's deletes;
            // rows masked by the old but not the new are RESURRECTED —
            // they re-enter the table and must flow as inserts. Each
            // direction is a delta-emit partition (reader emits rows in
            // `emitNewDvAbsPath`'s vector and absent from `dvAbsPath`'s);
            // a side whose source vector is absent has an empty delta and
            // plans nothing — the reader never falls into the emit-all-
            // live-rows mode for a swap (round-14 advice).
            if (cf.dv != pf.dv) {
              if (cf.dv.isDefined) // deletes: new minus old
                parts += GraftFilePartition(abs(pf.path), json, pf.partition,
                  pf.dv.map(abs), changeType = Some("delete"),
                  emitNewDvAbsPath = cf.dv.map(abs))
              if (pf.dv.isDefined) // resurrections: old minus new
                parts += GraftFilePartition(abs(pf.path), json, pf.partition,
                  cf.dv.map(abs), changeType = Some("insert"),
                  emitNewDvAbsPath = pf.dv.map(abs))
            }
          }
        }
      }
      prevMap = curMap
    }
    stamp(parts.toSeq, physRequired)
  }

  /** The required projection under PHYSICAL names for column-mapped
    * tables: the executor readers match parquet fields (and partition
    * directory keys) by physical name. Field ORDER stays the logical
    * order, which is what the produced rows follow. */
  private def physicalRequired(version: Long): StructType = {
    val mapping = t.commitAt(version).columnMapping
    if (mapping.isEmpty) required
    else StructType(required.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))
  }

  /** Stamps the batch's one reader choice on every partition. */
  private def stamp(parts: Seq[GraftFilePartition], physRequired: StructType)
      : Array[InputPartition] = {
    val eligible = GraftMicroBatchStream.columnarEligible(parts, physRequired)
    parts.map(p => p.copy(columnarEligible = eligible): InputPartition).toArray
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].version
    val e = end.asInstanceOf[GraftOffset].version
    if (readChangeFeed) return planChangeFeed(s, e)
    val fromFiles = filesAt(s)
    val toFiles = filesAt(e)
    val fromPaths = fromFiles.map(_.path).toSet
    val toByPath = toFiles.map(f => f.path -> f).toMap
    // Data changes inside the range: a base file REMOVED (rewrite) or a
    // base ENTRY changed in place (a deletion-vector swap — same path,
    // fewer rows). Either way file identity no longer equals row
    // identity for increments.
    val removed = fromPaths -- toByPath.keySet
    val changed = fromFiles.filter(f =>
      toByPath.get(f.path).exists(_ != f)).map(_.path)
    if ((removed.nonEmpty || changed.nonEmpty) && !skipChangeCommits)
      throw new IllegalStateException(
        s"graft stream over ${t.root}: versions ($s, $e] rewrite " +
          s"${removed.size} and modify ${changed.size} base file(s) " +
          "(merge/compact/zorder/DELETE) — file identity no longer " +
          "equals row identity, so incremental consumption would " +
          "re-emit or miss rewritten rows. Run maintenance before the " +
          "stream's startingVersion, restart from a version after the " +
          "rewrite, or set option(\"skipChangeCommits\", true) to " +
          "consume only appended files (Delta's skipChangeCommits).")
    // With skipChangeCommits: only genuinely NEW paths flow — rewritten
    // or DV-modified base rows are intentionally skipped, matching the
    // documented Delta option of the same name. New files may still
    // carry a vector (a restore can re-add a DV'd entry): the reader
    // subtracts it position-by-position.
    val physRequired = physicalRequired(e)
    val json = physRequired.json
    stamp(toFiles.filter(f => !fromPaths.contains(f.path)).map(f =>
      GraftFilePartition(abs(f.path), json, f.partition, f.dv.map(abs))),
      physRequired)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStreamReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object GraftMicroBatchStream {
  /** May this micro-batch be read as columnar batches? True when every
    * file
    *
    *  - carries no deletion vector and no delta-emit vector (masking is
    *    row-at-a-time, so only the Group reader does it);
    *  - stores at least one requested data column (the columnar reader
    *    needs a decoded column to drive it; partition values and the CDF
    *    tag are constants);
    *  - stores every requested column it has in a type the columnar reader
    *    can serve ([[GraftColumnarFileReader.servable]]).
    *
    * Footers come from [[GraftFooterFields]], so a file's footer is parsed
    * once per JVM and the executor-side reader reuses it. `required` is
    * the PHYSICAL projection the partitions carry. */
  def columnarEligible(parts: Seq[GraftFilePartition],
                       required: StructType): Boolean =
    parts.forall(p => p.dvAbsPath.isEmpty && p.emitNewDvAbsPath.isEmpty) &&
      parts.forall { p =>
        val stored = GraftFooterFields.footer(p.absPath).schema
        val wanted = required.fields.filter(f =>
          p.fromFile(f.name) && stored.fieldNames.contains(f.name))
        wanted.nonEmpty && wanted.forall(f =>
          GraftColumnarFileReader.servable(f.dataType, stored(f.name).dataType))
      }
}

/** Executor-side reader factory: columnar batches for partitions the
  * planner stamped eligible ([[GraftMicroBatchStream.columnarEligible]]),
  * Group-API rows for every other partition. The stamp is uniform per
  * micro-batch, so one scan never mixes the two. */
final class GraftStreamReaderFactory extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean =
    p.asInstanceOf[GraftFilePartition].columnarEligible

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarFileReader(p.asInstanceOf[GraftFilePartition])

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftGroupFileReader(p.asInstanceOf[GraftFilePartition])
}

/** Per-JVM cache of parquet footer metadata (the file schema as Spark
  * types, and the file length) by absolute path — table data files are
  * immutable once committed (new content = new path), so entries never
  * go stale; the planner's eligibility check and the columnar reader share
  * one footer open+parse per file (guide §6 metadata-read cost). Crude
  * size bound against unbounded long-service growth. */
private[table] object GraftFooterFields {
  final case class Footer(schema: StructType, length: Long)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Footer]()
  def footer(absPath: String): Footer = {
    if (cache.size > 65536) cache.clear()
    cache.computeIfAbsent(absPath, p => {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(p), new Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Footer(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(readConf())
          .convert(r.getFooter.getFileMetaData.getSchema), in.getLength)
      finally r.close()
    })
  }

  /** The parquet read configuration behind both the footer's Spark schema
    * and the columnar reader: INT96 reads as timestamp, binary stays
    * binary, timestamps without UTC adjustment read as TIMESTAMP_NTZ. */
  def readConf(): Configuration = {
    val conf = new Configuration()
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf
  }
}

/** Delegating ColumnVector that serves an ALTER-COLUMN-TYPE widened view
  * of an un-widened file vector (int→long, int/float→double) — the
  * columnar twin of the Group reader's widening. Only the
  * target-type getter and the null accessors are reachable. */
private[table] final class GraftWideningVector(
    child: org.apache.spark.sql.vectorized.ColumnVector,
    from: DataType, to: DataType)
    extends org.apache.spark.sql.vectorized.ColumnVector(to) {
  override def close(): Unit = ()
  override def hasNull: Boolean = child.hasNull
  override def numNulls(): Int = child.numNulls()
  override def isNullAt(i: Int): Boolean = child.isNullAt(i)
  override def getLong(i: Int): Long = (to, from) match {
    case (LongType, IntegerType) => child.getInt(i).toLong
    case _ => throw new UnsupportedOperationException(s"$from as $to")
  }
  override def getDouble(i: Int): Double = (to, from) match {
    case (DoubleType, IntegerType) => child.getInt(i).toDouble
    case (DoubleType, FloatType) => child.getFloat(i).toDouble
    case _ => throw new UnsupportedOperationException(s"$from as $to")
  }
  private def nope = throw new UnsupportedOperationException(s"$from as $to")
  override def getBoolean(i: Int): Boolean = nope
  override def getByte(i: Int): Byte = nope
  override def getShort(i: Int): Short = nope
  override def getInt(i: Int): Int = nope
  override def getFloat(i: Int): Float = nope
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = nope
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = nope
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal = nope
  override def getUTF8String(i: Int): UTF8String = nope
  override def getBinary(i: Int): Array[Byte] = nope
  override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector = nope
}

/** One file surfaced as COLUMNAR BATCHES (the planner-stamped eligible
  * case, see [[GraftMicroBatchStream.columnarEligible]]): Spark's
  * vectorized parquet decoder in batch-return mode over the file-stored
  * requested columns, with the output batch assembled from the decoded
  * vectors REORDERED to the required projection — partition values and
  * the CDF tag as constant vectors, schema-evolution-missing columns as
  * null constants, ALTER'd types through [[GraftWideningVector]]. No
  * per-row work at all on the source side; ColumnarToRow downstream is
  * whole-stage codegen.
  *
  * The decoder goes through the production `InputSplit`/
  * `TaskAttemptContext` route with the requested schema taken from the
  * FILE's own footer, so ALTER-COLUMN-TYPE files surface their native
  * narrow vectors. Rebase modes are CORRECTED: every graft data file is
  * written by this engine on Spark 4, proleptic calendar. */
private[table] final class GraftColumnarFileReader(fp: GraftFilePartition)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.{
    ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val required = DataType.fromJson(fp.requiredJson).asInstanceOf[StructType]
  private val footer = GraftFooterFields.footer(fp.absPath)
  // the file-stored requested columns, in FILE order (the decoded order)
  private val requested = {
    val fromFile = required.fieldNames.filter(fp.fromFile).toSet
    StructType(footer.schema.fields.filter(f => fromFile(f.name)))
  }
  require(requested.nonEmpty,
    s"graft columnar stream reader: no file-stored columns of ${fp.absPath}" +
      " requested — planner must not mark such partitions eligible")

  private val reader = {
    val conf = GraftFooterFields.readConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.set("parquet.read.support.class",
      classOf[ParquetReadSupport].getName)
    // the base reader casts to the old-API split class internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(fp.absPath), 0, footer.length, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new VectorizedParquetRecordReader(
      java.time.ZoneId.of("UTC"), "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    try {
      r.initialize(split, ctx)
      r.initBatch(new StructType(), InternalRow.empty)
      r.enableReturningBatches()
    } catch {
      case t: Throwable => r.close(); throw t
    }
    r
  }
  private val src = reader.resultBatch()

  private def const(f: StructField, set: ConstantColumnVector => Unit)
      : ColumnVector = {
    val v = new ConstantColumnVector(4096, f.dataType)
    set(v)
    v
  }

  private val outVectors: Array[ColumnVector] = required.fields.map { f =>
    if (fp.changeType.isDefined && f.name == "_change_type")
      const(f, _.setUtf8String(UTF8String.fromString(fp.changeType.get)))
    else fp.partition.get(f.name) match {
      case Some(raw) =>
        GraftGroupFileReader.partitionValue(f, raw) match {
          case null => const(f, _.setNull())
          case s: UTF8String => const(f, _.setUtf8String(s))
          case l: java.lang.Long => const(f, _.setLong(l))
          case i: java.lang.Integer => const(f, _.setInt(i))
          case d: java.lang.Double => const(f, _.setDouble(d))
          case fl: java.lang.Float => const(f, _.setFloat(fl))
          case b: java.lang.Boolean => const(f, _.setBoolean(b))
          case other => throw new UnsupportedOperationException(
            s"graft columnar stream reader: partition constant $other")
        }
      case None =>
        val i = requested.fieldNames.indexOf(f.name)
        if (i < 0) const(f, _.setNull()) // schema evolution: missing column
        else {
          val cv = src.column(i)
          val got = cv.dataType()
          require(GraftColumnarFileReader.servable(f.dataType, got),
            s"graft columnar stream reader: cannot serve ${f.name}: $got as " +
              s"${f.dataType} — planner must not mark such partitions eligible")
          if (GraftColumnarFileReader.widens(f.dataType, got))
            new GraftWideningVector(cv, got, f.dataType)
          else cv
        }
    }
  }
  private val out = new ColumnarBatch(outVectors)

  override def next(): Boolean = {
    if (!reader.nextKeyValue()) return false
    out.setNumRows(src.numRows())
    true
  }

  override def get(): ColumnarBatch = out
  override def close(): Unit = reader.close()
}

object GraftColumnarFileReader {
  /** Can the columnar reader serve a file column stored as `got` under the
    * required type `want`? The same type, either TIMESTAMP flavor (both
    * INT64 micros), or one of the [[widens]] pairs. The planner's
    * eligibility check and the reader's vector choice both ask this, so
    * they cannot disagree. */
  def servable(want: DataType, got: DataType): Boolean = (want, got) match {
    case (a, b) if a == b => true
    case (TimestampType | TimestampNTZType, TimestampType | TimestampNTZType) => true
    case _ => widens(want, got)
  }

  /** The ALTER COLUMN TYPE widenings [[GraftWideningVector]] serves. */
  private[table] def widens(want: DataType, got: DataType): Boolean =
    (want, got) match {
      case (LongType, IntegerType) | (DoubleType, IntegerType) |
           (DoubleType, FloatType) => true
      case _ => false
    }
}

/** Executor-side ROW-BASED reader for every batch the planner did not
  * stamp columnar: parquet Group records → InternalRow of the required
  * projection, with deletion-vector masking and CDF delta-emit. Primitive
  * columns (long, int, double, float, boolean, string, timestamp[_ntz] as
  * INT64 micros or INT96, date) plus ARRAYS of those primitives (Spark's
  * 3-level parquet list layout — the embeddings table's `array<float>`
  * streams), with ALTER COLUMN TYPE widening of old narrow values, array
  * elements included — the shapes the table format writes; anything else
  * fails loudly. A required column missing from the file (schema
  * evolution) or from a row (null) is null; a required column present in
  * the file's PARTITION values materializes as a constant. */
private[table] final class GraftGroupFileReader(fp: GraftFilePartition)
    extends PartitionReader[InternalRow] {
  import GraftGroupFileReader.{fieldValue, partitionValue}

  private val required = DataType.fromJson(fp.requiredJson).asInstanceOf[StructType]
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(fp.absPath))
      .withConf(new Configuration()).build()
  private var current: Group = _
  // deletion vector: sorted deleted positions, consumed in lockstep
  // with the sequential read (positions ascend, so one cursor)
  private val dv: Array[Long] =
    fp.dvAbsPath.map(GraftTable.readDv).getOrElse(Array.emptyLongArray)
  private var dvCursor = 0
  private var rowIdx = -1L
  // change-feed DV-swap partitions: emit ONLY the positions the NEW
  // vector masks beyond the old one (the rows this commit deleted)
  private val emitNew: Array[Long] =
    fp.emitNewDvAbsPath.map(GraftTable.readDv).orNull
  private var emitCursor = 0

  override def next(): Boolean = {
    while (true) {
      current = reader.read()
      if (current == null) return false
      rowIdx += 1
      val inOld =
        if (dvCursor < dv.length && dv(dvCursor) == rowIdx) {
          dvCursor += 1; true
        } else false
      if (emitNew == null) {
        if (!inOld) return true // normal mode: vector masks
      } else {
        // delta-emit mode: row qualifies iff newly masked
        while (emitCursor < emitNew.length && emitNew(emitCursor) < rowIdx)
          emitCursor += 1
        val inNew = emitCursor < emitNew.length && emitNew(emitCursor) == rowIdx
        if (inNew && !inOld) return true
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = {
    val g = current
    val schema = g.getType
    val vals = required.fields.map { f =>
      if (fp.changeType.isDefined && f.name == "_change_type")
        UTF8String.fromString(fp.changeType.get)
      else fp.partition.get(f.name) match {
        case Some(v) => partitionValue(f, v)
        case None =>
          if (!schema.containsField(f.name)) null
          else {
            val i = schema.getFieldIndex(f.name)
            if (g.getFieldRepetitionCount(i) == 0) null
            else fieldValue(f, g, i)
          }
      }
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def close(): Unit = reader.close()
}

object GraftGroupFileReader {
  private def fieldValue(f: StructField, g: Group, i: Int): Any = f.dataType match {
    case ArrayType(et, _) =>
      // Spark's 3-level list layout: optional group f (LIST) {
      //   repeated group list { optional ELEMENT element } } — the outer
      // group's field 0 repeats once per element, each repetition a
      // single-field group holding the (possibly null) element
      val outer = g.getGroup(i, 0)
      val n = outer.getFieldRepetitionCount(0)
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        val el = outer.getGroup(0, j)
        out(j) = if (el.getFieldRepetitionCount(0) == 0) null
                 else primValue(et, el, 0, 0, f.name)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    case dt => primValue(dt, g, i, 0, f.name)
  }

  private def primValue(dt: DataType, g: Group, i: Int, j: Int, name: String): Any =
    dt match {
      case LongType =>
        // TYPE WIDENING: a file written before an ALTER COLUMN TYPE
        // stores the narrow physical type — upcast exactly like the
        // batch reader does
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        g.getType.getType(i).asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 => g.getInteger(i, j).toLong
          case _ => g.getLong(i, j)
        }
      case IntegerType => g.getInteger(i, j)
      case DoubleType =>
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        g.getType.getType(i).asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 => g.getInteger(i, j).toDouble
          case PrimitiveTypeName.FLOAT => g.getFloat(i, j).toDouble
          case _ => g.getDouble(i, j)
        }
      case FloatType => g.getFloat(i, j)
      case BooleanType => g.getBoolean(i, j)
      case StringType => UTF8String.fromBytes(g.getBinary(i, j).getBytes)
      case TimestampType | TimestampNTZType =>
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        g.getType.getType(i).asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 => g.getLong(i, j) // micros
          case PrimitiveTypeName.INT96 =>
            // legacy layout: 8B nanos-of-day (LE) + 4B julian day (LE) —
            // Spark's default physical type for TIMESTAMP (LTZ) output
            val b = java.nio.ByteBuffer
              .wrap(g.getInt96(i, j).getBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = b.getLong
            val julianDay = b.getInt
            (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
          case other => throw new UnsupportedOperationException(
            s"graft stream reader: timestamp physical type $other for $name")
        }
      case DateType => g.getInteger(i, j) // epoch days
      case other => throw new UnsupportedOperationException(
        s"graft stream reader: unsupported column type $other for $name")
    }

  /** Hive partition value string → catalyst value of the field's type.
    * The null-partition directory marker reconstructs as NULL, matching
    * the batch path. Shared by the columnar and Group readers. */
  private[table] def partitionValue(f: StructField, v: String): Any =
    if (v == GraftTable.HiveNullPartition) null
    else f.dataType match {
      case LongType => v.toLong
      case IntegerType => v.toInt
      case DoubleType => v.toDouble
      case FloatType => v.toFloat
      case BooleanType => v.toBoolean
      case StringType => UTF8String.fromString(v)
      case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
      case TimestampType | TimestampNTZType =>
        // Hive renders timestamp partition values as 'yyyy-MM-dd HH:mm:ss[.f]'
        val ts = java.sql.Timestamp.valueOf(v)
        ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L
      case other => throw new UnsupportedOperationException(
        s"graft stream reader: unsupported partition type $other for ${f.name}")
    }
}
