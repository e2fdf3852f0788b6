package graft.table

import java.io.File
import java.nio.file.{Files, FileAlreadyExistsException, Paths, StandardCopyOption}
import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.upsert.KeepLatest

/** A writer lost the optimistic-concurrency race: another commit landed on
  * the same parent version first. The loser's data files are orphans (never
  * referenced by any manifest — invisible to readers, reclaimed by
  * [[GraftTable.vacuum]]); the caller may re-read the new latest snapshot
  * and retry the merge.
  */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** Per-column min/max (+ null count) of one data file, lifted from the
  * parquet footer at write time. `kind` names the STAT DOMAIN the bounds
  * live in — "long" (plain signed ints), "double", "ts-micros" /
  * "ts-millis" (epoch timestamps, unit per the column's parquet logical
  * annotation), "date" (epoch days), or "string" (UTF-8 text, truncated
  * Delta-style: min = ≤32-code-point prefix, max = exact or an
  * incremented prefix — see `footerStats`). Recording the unit is what
  * lets pruning normalize correctly: a millis-domain stat compared raw
  * against a micros-domain predicate would wrongly skip files (silent
  * missing rows). Bounds are serialized as strings so 64-bit integers
  * survive JSON round-trips exactly. A column appears only when EVERY row
  * group of the file carries non-null statistics for it — absent stats
  * mean "cannot skip", never "empty". `nulls` is the file's total null
  * count for the column (−1 = unknown, e.g. a pre-upgrade manifest):
  * min/max say nothing about NULL rows, so null-aware pruning (a NULL
  * merge key, IS NULL predicates) needs the count — `nulls == 0` proves a
  * file cannot hold a null-keyed row (Delta's nullCount plays the same
  * role). */
final case class ColStat(kind: String, min: String, max: String,
                         nulls: Long = -1L) {
  // bounds parse ONCE per entry, not once per pruning probe: a 300k-file
  // manifest sees every stat's min/max compared on every planned query,
  // and BigDecimal(String) per probe was the dominant pruning cost
  // (ProfManifest, a removed probe: `git show
  // b3a4326:src/main/scala/graft/tools/ProfManifest.scala`).
  // @transient: recomputed after deserialization.
  @transient private lazy val minBig: BigDecimal =
    if (kind == "string" || kind == "null-only") null else BigDecimal(min)
  @transient private lazy val maxBig: BigDecimal =
    if (kind == "string" || kind == "null-only") null else BigDecimal(max)
  private def asBig(s: String): BigDecimal = BigDecimal(s)
  /** Could any row of this file fall in the NUMERIC range [lo, hi]?
    * `lo`/`hi` arrive in the PREDICATE domain ([[GraftFilterRanges]]:
    * timestamps as epoch micros, dates as epoch days) — millis-domain
    * stats normalize by ×1000 before comparing; string stats can say
    * nothing sound about a numeric range, so they never prune. */
  def overlaps(lo: BigDecimal, hi: BigDecimal): Boolean = kind match {
    case "null-only" => false // every row NULL: no value range matches
    case "string" => true
    case "ts-millis" => !(maxBig * 1000 < lo || minBig * 1000 > hi)
    case _ => !(maxBig < lo || minBig > hi)
  }
  /** Could any row of this file fall in the STRING range? `None` bound =
    * unbounded. Comparison is UTF-8 byte order — the order parquet's
    * binary stats AND Spark's `UTF8String` both use (= code-point order),
    * so a driver-side decision agrees with the executor-side residual
    * filter. Non-string stats never prune a string range. */
  def overlapsStr(lo: Option[String], hi: Option[String]): Boolean =
    if (kind == "null-only") false // every row NULL: no string range matches
    else if (kind != "string") true
    else lo.forall(l => ColStat.utf8Compare(max, l) >= 0) &&
      hi.forall(h => ColStat.utf8Compare(min, h) <= 0)
  /** Could any row of this file hold NULL in this column? */
  def mayHaveNulls: Boolean = nulls != 0L
}

object ColStat {
  /** Unsigned lexicographic compare of the UTF-8 encodings — equal to
    * code-point order, which both parquet binary stats and Spark's
    * `UTF8String.compareTo` use. `java.lang.String.compareTo` is UTF-16
    * code-UNIT order, which disagrees above the BMP — using it here
    * would let a supplementary-plane key slip past pruning soundness. */
  def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
}

/** One data file entry in a version manifest. `path` is RELATIVE to the
  * table root (manifests survive a table move/copy); `rows` is the exact
  * row count from the parquet footer — enough metadata for bin-packed
  * compaction planning without listing or opening data files; `stats`
  * carries per-column min/max for manifest-level file skipping
  * (Delta/Iceberg-style data skipping without changing the log
  * protocol — exactly the extension the class doc promises); `partition`
  * carries the file's Hive-style partition values (column → rendered
  * value, parsed from the `k=v` path segments at write time) — partition
  * pruning then runs on the MANIFEST, before stats, before any listing;
  * `bytes` is the file's on-disk size (−1 = pre-upgrade manifest), which
  * lets the DSv2 scan report post-pruning size statistics to the
  * optimizer (broadcast decisions, AQE initial plan) without any
  * filesystem metadata call.
  *
  * `dv` is the entry's DELETION VECTOR — a sidecar file of deleted row
  * positions (relative to the table root, `data/dv-*.dv`) that readers
  * subtract at scan time, Delta's merge-on-read DELETE: a small DELETE
  * marks O(deleted rows) bytes instead of rewriting the file
  * copy-on-write. `dvRows` is the vector's cardinality, so snapshot row
  * counts and scan statistics stay exact without opening the sidecar;
  * `rows` remains the PHYSICAL footer count (what compaction planning
  * bins on) — live rows are `rows - dvRows`. Entries without a vector
  * leave `dv` empty; compaction/rewrites materialize vectors away. */
final case class ManifestFile(path: String, rows: Long,
                              stats: Map[String, ColStat] = Map.empty,
                              partition: Map[String, String] = Map.empty,
                              bytes: Long = -1L,
                              dv: Option[String] = None,
                              dvRows: Long = 0L) {
  /** Rows a reader actually serves from this entry. */
  def liveRows: Long = rows - dvRows
}

/** One committed table version: the FULL file list as of this version (no
  * log replay needed — a reader resolves any snapshot from exactly one
  * manifest file), the schema it was written with, and the parent version
  * the writer based its work on. `txn` is the writer's idempotency token
  * (application id, monotone batch id) — Delta's `txn` action — set by
  * [[GraftTable.idempotentAppend]] so a replayed streaming micro-batch can
  * be recognized and dropped. `txns` is the CUMULATIVE app→latest-batch
  * map carried forward by every commit (Delta's checkpoint-carried
  * `setTransactions`): the idempotency lookup reads ONE manifest instead
  * of scanning the history; `None` marks a pre-upgrade manifest, which
  * falls back to the scan. `partitionCols` records the table's Hive
  * partition columns (empty = unpartitioned) so the SQL/DSv2 surface can
  * report and route partitioned writes without side metadata. */
final case class TableCommit(
    version: Long,
    parent: Long,
    operation: String,
    schema: StructType,
    files: Seq[ManifestFile],
    txn: Option[(String, Long)] = None,
    txns: Option[Map[String, Long]] = None,
    partitionCols: Seq[String] = Seq.empty,
    timestampMs: Long = -1L,
    columnMapping: Map[String, String] = Map.empty,
    constraints: Map[String, String] = Map.empty,
    minWriterVersion: Int = 1) {
  /** PHYSICAL column name for a logical field — the name data files
    * store (Delta's column mapping): stable from the moment a column is
    * added, so RENAME is a metadata-only commit and files never rewrite.
    * Identity for unmapped columns (and for every pre-evolution table). */
  def phys(logical: String): String = columnMapping.getOrElse(logical, logical)
}

/** One manifest as PERSISTED: commit metadata plus EITHER the full
  * post-state file list (version 1, whole-table rewrites, legacy
  * manifests) OR the add/remove churn against `parent`. */
private[table] final case class RawManifest(
    version: Long, parent: Long, operation: String, schema: StructType,
    txn: Option[(String, Long)], txns: Option[Map[String, Long]],
    partitionCols: Seq[String],
    full: Option[Seq[ManifestFile]],
    add: Seq[ManifestFile], remove: Set[String],
    timestampMs: Long = -1L,
    columnMapping: Map[String, String] = Map.empty,
    constraints: Map[String, String] = Map.empty,
    minWriterVersion: Int = 1)

/** Minimal engine-native versioned table format — snapshot isolation,
  * time travel, and optimistic concurrency over plain parquet, in the
  * spirit of Delta Lake's commit log (Armbrust et al., VLDB 2020) but cut
  * to the three mechanisms a lakehouse upsert actually requires:
  *
  *  1. '''Immutable data files + delta-encoded manifest.''' Every
  *     mutation writes NEW parquet files under `data/` and records its
  *     CHURN — the entries it added and the paths it removed relative to
  *     its parent — in a JSON manifest `_graft_log/v%020d.json` (Delta's
  *     add/remove actions). Commit cost is therefore O(churn), never
  *     O(files): a single-file append to a million-file table logs one
  *     entry, not a million. Readers reconstruct a snapshot by replaying
  *     the delta chain forward from the nearest self-contained state:
  *     version 1 and whole-table rewrites inline their full file list,
  *     every [[GraftTable.CheckpointInterval]]-th commit also publishes a
  *     sidecar checkpoint `v%020d.ckpt.json` (Delta's 10-commit
  *     checkpoint cadence), and [[vacuum]] materializes one at the
  *     retention boundary — so resolution reads a BOUNDED number of
  *     small log files regardless of history depth. No mutation ever
  *     overwrites or deletes a live file, so a merge can READ the
  *     current snapshot while WRITING its successor — this removes the
  *     read-merge-overwrite hazard that previously forced
  *     [[graft.upsert.KeepLatest.upsertPartitions]] to stage the merge
  *     through a durable checkpoint ([[graft.rel.Materialize.snapshot]]):
  *     here the input files still exist after the commit, so lineage
  *     recompute is always safe and no staging copy is needed.
  *
  *  2. '''Atomic version pointer.''' The commit log IS the pointer: a
  *     version exists iff its manifest file does, and the manifest is
  *     published with an atomic create-if-absent (write to a temp file,
  *     then hard-link it to its final name — `link(2)` fails with `EEXIST`
  *     if the version was already taken). Readers therefore see either the
  *     old snapshot or the new one, never a torn state; a crashed writer
  *     leaves only unreferenced data files, which [[vacuum]] reclaims.
  *
  *  3. '''Optimistic concurrency.''' A writer snapshots `latestVersion` as
  *     its parent, does all its work, and publishes `parent+1`. If another
  *     writer got there first the create-if-absent fails and the loser gets
  *     a [[ConcurrentCommitException]] — the reference's
  *     `INSERT ... ON CONFLICT DO UPDATE` upsert
  *     (`upsert_athena_aggregates.py:87-110`) relies on Postgres for
  *     exactly this serialization; here the table format itself provides
  *     it. Commutative ops ([[append]]) retry by rebasing on the new
  *     snapshot; merges surface the conflict to the caller, who re-runs
  *     the merge against the new snapshot (tested in TableFormatSpec).
  *
  * Scale notes (100 TB, 1000 executors):
  *  - Readers resolve a snapshot from a BOUNDED handful of small JSON
  *    files (one checkpoint + at most [[GraftTable.CheckpointInterval]]
  *    deltas) — no recursive object-store LIST over millions of data
  *    files (the S3 listing wall every large parquet-directory table
  *    hits), and no eventual-consistency exposure: the replayed chain
  *    names exactly the live files. Writers pay O(churn) per commit —
  *    the property that keeps a high-frequency streaming sink viable on
  *    a table whose file count grows without bound.
  *  - Manifests carry per-file row counts, so maintenance planning
  *    ([[compact]] bin-packing) runs driver-side on metadata; extending
  *    the entries with per-column min/max would give manifest-level file
  *    skipping (Delta/Iceberg-style) without changing the log protocol.
  *  - The atomic-create primitive is `link(2)` on a POSIX filesystem and
  *    `create(path, overwrite=false)` on HDFS. S3 has no atomic
  *    create-if-absent, so there — exactly as Delta does — the log would
  *    delegate the final rename to a small coordination service (DynamoDB
  *    LogStore pattern); the protocol above is unchanged.
  *  - Time travel = reproducibility: a training-data pipeline can pin the
  *    exact table version a corpus was derived from and re-read it
  *    byte-identically after later upserts/compactions (`scan_time_travel`
  *    reads version N and N−1 of the same table in one query).
  */
final class GraftTable private (val spark: SparkSession, val root: String) {

  private val mapper = new ObjectMapper()
  private def logDir = new File(root, GraftTable.LogDirName)
  private val VersionRe = "v(\\d{20})\\.json".r

  /** All committed versions, ascending. */
  def versions: Seq[Long] = {
    val fs = Option(logDir.listFiles()).getOrElse(Array.empty)
    fs.toSeq.flatMap(f => f.getName match {
      case VersionRe(d) => Some(d.toLong)
      case _ => None
    }).sorted
  }

  /** Latest committed version; 0 means "no commit yet".
    *
    * Hint-accelerated: every commit advances an ADVISORY `_latest_hint`
    * file (Delta's `_last_checkpoint` role), and resolution probes
    * FORWARD from it — O(commits since the hint) existence checks
    * instead of an O(versions) directory LIST. Correctness never
    * depends on the hint: it can only lag (written after the atomic
    * commit, racing writers keep the max), a lagging hint costs extra
    * forward probes, and a missing/corrupt/implausible hint falls back
    * to the full listing. At a year-old streaming table (~100k
    * versions) this turns the per-micro-batch and per-commit "what is
    * latest?" from a paginated object-store LIST into one GET + a
    * couple of HEADs. */
  def latestVersion: Long = {
    val hinted = readHint
    if (hinted > 0 && manifestPath(hinted).exists()) {
      var v = hinted
      while (manifestPath(v + 1).exists()) v += 1
      v
    } else versions.lastOption.getOrElse(0L)
  }

  private def hintPath = new File(logDir, "_latest_hint")

  private def readHint: Long =
    try {
      if (!hintPath.exists()) 0L
      else new String(Files.readAllBytes(hintPath.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    } catch { case _: Exception => 0L }

  /** Advance the advisory latest-version hint (monotone, best-effort:
    * any failure or lost race just leaves a lagging hint, which
    * [[latestVersion]] recovers from by probing forward). */
  private def writeHint(version: Long): Unit =
    try if (readHint < version) {
      val tmp = new File(logDir, s".hint-${UUID.randomUUID()}")
      try {
        Files.write(tmp.toPath,
          version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Files.move(tmp.toPath, hintPath.toPath,
          StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp.toPath): Unit // never leak .hint-* temps
    } catch { case _: Exception => () }

  private def manifestPath(v: Long) = new File(logDir, f"v$v%020d.json")
  private def ckptPath(v: Long) = new File(logDir, f"v$v%020d.ckpt.json")

  private def parseFileEntries(arr: com.fasterxml.jackson.databind.JsonNode): Seq[ManifestFile] = {
    val files = scala.collection.mutable.ArrayBuffer.empty[ManifestFile]
    arr.forEach { f =>
      val stats = Option(f.get("stats")).map { s =>
        val m = scala.collection.mutable.Map.empty[String, ColStat]
        s.fields().forEachRemaining { e =>
          m(e.getKey) = ColStat(e.getValue.get("kind").asText(),
            e.getValue.get("min").asText(), e.getValue.get("max").asText(),
            Option(e.getValue.get("nulls")).map(_.asLong()).getOrElse(-1L))
        }
        m.toMap
      }.getOrElse(Map.empty[String, ColStat])
      val partition = Option(f.get("partition")).map { p =>
        val m = scala.collection.mutable.Map.empty[String, String]
        p.fields().forEachRemaining(e => m(e.getKey) = e.getValue.asText())
        m.toMap
      }.getOrElse(Map.empty[String, String])
      files += ManifestFile(f.get("path").asText(), f.get("rows").asLong(),
        stats, partition,
        bytes = Option(f.get("bytes")).map(_.asLong()).getOrElse(-1L),
        dv = Option(f.get("dv")).map(_.asText()),
        dvRows = Option(f.get("dvRows")).map(_.asLong()).getOrElse(0L))
    }
    files.toSeq
  }

  private def readRaw(version: Long): RawManifest = {
    val n = mapper.readTree(Files.readAllBytes(manifestPath(version).toPath))
    // Protocol gate (the role Delta's protocol action plays): a manifest
    // written by a NEWER format revision must be rejected loudly, never
    // misparsed — a pre-delta reader walking into a delta manifest's
    // missing 'files' node would NPE (or worse, a future revision could
    // parse cleanly but mean something else). Absent field = revision 1.
    val fv = Option(n.get("formatVersion")).map(_.asInt()).getOrElse(1)
    if (fv > GraftTable.MaxFormatVersion)
      throw new IllegalStateException(
        s"unsupported manifest format version $fv at ${manifestPath(version)} " +
          s"(this reader understands <= ${GraftTable.MaxFormatVersion}); " +
          "upgrade the reader before opening this table")
    val txns = Option(n.get("txns")).map { tn =>
      val m = scala.collection.mutable.Map.empty[String, Long]
      tn.fields().forEachRemaining(e => m(e.getKey) = e.getValue.asLong())
      m.toMap
    }
    val partitionCols = Option(n.get("partitionCols")).map { pc =>
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      pc.forEach(v => b += v.asText())
      b.toSeq
    }.getOrElse(Seq.empty)
    val remove = Option(n.get("remove")).map { r =>
      val b = scala.collection.mutable.Set.empty[String]
      r.forEach(v => b += v.asText())
      b.toSet
    }.getOrElse(Set.empty[String])
    RawManifest(
      version = n.get("version").asLong(),
      parent = n.get("parent").asLong(),
      operation = n.get("operation").asText(),
      schema = DataType.fromJson(n.get("schemaJson").asText()).asInstanceOf[StructType],
      txn = Option(n.get("txnApp")).map(a => (a.asText(), n.get("txnBatch").asLong())),
      txns = txns,
      partitionCols = partitionCols,
      full = Option(n.get("files")).map(parseFileEntries),
      add = Option(n.get("add")).map(parseFileEntries).getOrElse(Seq.empty),
      remove = remove,
      // pre-upgrade manifests carry no commit timestamp — the file's own
      // mtime is the honest fallback (what Delta also reads pre-ICT)
      timestampMs = Option(n.get("timestampMs")).map(_.asLong())
        .getOrElse(manifestPath(version).lastModified()),
      columnMapping = Option(n.get("columnMapping")).map { cm =>
        val m = scala.collection.mutable.Map.empty[String, String]
        cm.fields().forEachRemaining(e => m(e.getKey) = e.getValue.asText())
        m.toMap
      }.getOrElse(Map.empty),
      constraints = Option(n.get("constraints")).map { cn =>
        val m = scala.collection.mutable.Map.empty[String, String]
        cn.fields().forEachRemaining(e => m(e.getKey) = e.getValue.asText())
        m.toMap
      }.getOrElse(Map.empty),
      minWriterVersion =
        Option(n.get("minWriterVersion")).map(_.asInt()).getOrElse(1))
  }

  /** Bounded LRU of reconstructed file lists — manifests are immutable,
    * so a cached state can never go stale. Sequential consumers (the
    * streaming source, [[telescopedDiff]], [[vacuum]]) resolve each
    * version from its cached parent in O(1) amortized log reads. */
  private val filesCache =
    new java.util.LinkedHashMap[Long, Seq[ManifestFile]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Seq[ManifestFile]]): Boolean = size() > 48
    }
  private def cacheGet(v: Long): Option[Seq[ManifestFile]] =
    filesCache.synchronized(Option(filesCache.get(v)))
  private def cachePut(v: Long, fs: Seq[ManifestFile]): Unit =
    filesCache.synchronized { filesCache.put(v, fs); () }

  /** Full post-state file list of `version`: the inlined list when the
    * manifest is self-contained, else the sidecar checkpoint, else the
    * delta chain replayed forward from the nearest resolvable base.
    * Replay preserves entry ORDER exactly as the writer committed it
    * (carried files keep their positions, adds append), so a
    * reconstructed snapshot is indistinguishable from an inlined one. */
  private def readCkpt(v: Long): Option[Seq[ManifestFile]] =
    if (!ckptPath(v).exists()) None
    else Some(parseFileEntries(
      mapper.readTree(Files.readAllBytes(ckptPath(v).toPath)).get("files")))

  private def filesAt(version: Long, raw: RawManifest): Seq[ManifestFile] =
    raw.full.getOrElse(cacheGet(version).getOrElse(
      readCkpt(version).map { fs => cachePut(version, fs); fs }.getOrElse {
        // walk back to a base: cached state, sidecar checkpoint, or a
        // self-contained manifest — bounded by the checkpoint cadence
        var chain = List(raw)
        var base: Seq[ManifestFile] = null
        var v = raw.parent
        while (base == null) {
          cacheGet(v).orElse(readCkpt(v)) match {
            case Some(fs) => base = fs
            case None =>
              val r = readRaw(v)
              r.full match {
                case Some(fs) => base = fs
                case None => chain = r :: chain; v = r.parent
              }
          }
        }
        var state = base
        for (r <- chain) {
          val rm = r.remove
          state = (if (rm.isEmpty) state else state.filterNot(f => rm.contains(f.path))) ++ r.add
          cachePut(r.version, state)
        }
        state
      }))

  /** Parse the manifest of `version`, reconstructing the full file list
    * from the delta chain when the manifest records only churn.
    *
    * Resolved snapshots cache JVM-WIDE keyed (root, version): committed
    * manifests are immutable, and the optimizer resolves the same
    * snapshot many times per query (rule batches iterate to fixed
    * point), so re-parsing a multi-MB manifest per resolution made the
    * DRIVER the bottleneck at a 100-TB file count (ProfManifest: ~1 s
    * per parse at 300k entries, ×19 for one COUNT(*); a removed probe,
    * `git show b3a4326:src/main/scala/graft/tools/ProfManifest.scala`).
    * The cache entry is guarded by the manifest file's identity (size, mtime, inode):
    * a root that is deleted and re-created — same path, same version —
    * can never serve the old table's snapshot. */
  def commitAt(version: Long): TableCommit = {
    val mp = manifestPath(version)
    val guard = GraftTable.manifestIdentity(mp)
    val key = (root, version)
    GraftTable.commitCache.synchronized {
      Option(GraftTable.commitCache.get(key))
    } match {
      case Some((g, c)) if g == guard && guard != null => return c
      case _ =>
    }
    val raw = readRaw(version)
    val c = TableCommit(raw.version, raw.parent, raw.operation, raw.schema,
      filesAt(version, raw), raw.txn, raw.txns, raw.partitionCols,
      raw.timestampMs, raw.columnMapping, raw.constraints,
      raw.minWriterVersion)
    if (guard != null) GraftTable.commitCache.synchronized {
      GraftTable.commitCache.put(key, (guard, c)); ()
    }
    c
  }

  /** Wall-clock commit time of `version` (epoch millis) — monotone along
    * the chain by construction (see [[commit]]'s adjustment), which is
    * what makes timestamp→version resolution well-defined. */
  def commitTimestamp(version: Long): Long = readRaw(version).timestampMs

  /** `TIMESTAMP AS OF` resolution, Delta's rule: the LATEST version whose
    * commit timestamp is ≤ `tsMs`. Timestamps are monotone along the
    * chain (each commit records max(now, parent+1 ms)), so this is a
    * binary search over the version list — O(log versions) manifest
    * header reads, no snapshot reconstruction. A timestamp before the
    * first retained commit is an error (that history is gone or never
    * existed); a timestamp after the last commit resolves to latest. */
  def versionAtTimestamp(tsMs: Long): Long = {
    val vs = versions
    require(vs.nonEmpty, s"no graft table log at $root")
    var lo = 0
    var hi = vs.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (commitTimestamp(vs(mid)) <= tsMs) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    require(ans >= 0,
      s"timestamp $tsMs (${java.time.Instant.ofEpochMilli(tsMs)}) is before " +
        s"the first retained commit of $root " +
        s"(${java.time.Instant.ofEpochMilli(commitTimestamp(vs.head))})")
    vs(ans)
  }

  /** Timestamp-bounded change feed: the diff between the snapshot active
    * at `fromMs` and the snapshot active at `toMs`, each instant resolved
    * by the TIMESTAMP AS OF rule ([[versionAtTimestamp]] — latest commit
    * ≤ t). The natural spelling for the reference's date-driven cadence
    * ("what changed since yesterday's run") — two binary searches over
    * manifest headers, then the same telescoped O(churn) fold as the
    * version-keyed form. */
  def changesBetweenTimestamps(fromMs: Long, toMs: Long): DataFrame = {
    require(fromMs <= toMs,
      s"changesBetweenTimestamps($fromMs, $toMs): timestamps must ascend")
    changesBetween(versionAtTimestamp(fromMs), versionAtTimestamp(toMs))
  }

  /** Retention-duration VACUUM (Delta's `VACUUM t RETAIN n HOURS`): keep
    * every snapshot still reachable by time travel within the retention
    * window — the boundary is the version active at (now − retention),
    * resolved by the TIMESTAMP AS OF rule, so `timestampAsOf` reads stay
    * serveable for the whole window — and reclaim everything below. A
    * window reaching past the first retained commit clamps there (vacuum
    * of a young table is a no-op, never an error). Returns the boundary
    * version actually retained from. */
  def vacuumRetain(retentionMs: Long,
                   minAgeMs: Long = GraftTable.DefaultVacuumMinAgeMs): Long = {
    require(retentionMs >= 0, s"vacuumRetain: negative retention $retentionMs")
    val boundary = vacuumRetainBoundary(retentionMs)
    vacuum(boundary, minAgeMs)
    boundary
  }

  /** The boundary version [[vacuumRetain]] would keep — exposed so the
    * dry-run procedure can plan the same cut it would make. */
  def vacuumRetainBoundary(retentionMs: Long): Long = {
    val vs = versions
    require(vs.nonEmpty, s"no graft table log at $root")
    val cutoff = System.currentTimeMillis() - retentionMs
    versionAtTimestamp(math.max(cutoff, commitTimestamp(vs.head)))
  }

  /** Snapshot read of the latest version. */
  def read(): DataFrame = read(latestVersion)

  /** Read an explicit file subset under the given schema (empty subset →
    * empty frame with the right schema — a zero-candidate merge or a
    * fully-pruned scan must still plan).
    *
    * Hive-partitioned files (manifest `partition` non-empty) don't store
    * their partition columns in the data, so they read with `basePath` =
    * their write batch's root — Spark reconstructs the columns from the
    * `k=v` path segments and casts them to the manifest schema's types.
    * `basePath` is single-valued per read, so files group by write batch
    * (the `data/d-<uuid>` prefix); the per-batch frames union — one plan
    * branch per CONTRIBUTING COMMIT, not per file or per partition. */
  private[table] def readFiles(schema: StructType, files: Seq[ManifestFile],
                               mapping: Map[String, String] = Map.empty): DataFrame = {
    val (dvd, plain) = files.partition(_.dv.isDefined)
    if (dvd.isEmpty) return readFilesRaw(schema, plain, withMeta = false, mapping)
    val masked = applyDv(readFilesRaw(schema, dvd, withMeta = true, mapping), dvd)
      .select(schema.fieldNames.map(n => col(n)).toSeq: _*)
    if (plain.isEmpty) masked
    else readFilesRaw(schema, plain, withMeta = false, mapping).unionByName(masked)
  }

  /** The physical read behind [[readFiles]], WITHOUT deletion-vector
    * masking. `withMeta` appends the parquet metadata columns
    * (`__gdv_fp` = file path, `__gdv_ri` = row position within the file)
    * that DV masking and DV construction both key on. `mapping` is the
    * commit's logical→physical column mapping: data files (and Hive
    * partition directories) store PHYSICAL names, so the scan projects
    * each physical column back under its logical name — this single
    * rename is the entire read-side cost of metadata-only RENAME COLUMN. */
  private def readFilesRaw(schema: StructType, files: Seq[ManifestFile],
                           withMeta: Boolean,
                           mapping: Map[String, String] = Map.empty): DataFrame = {
    val metaCols =
      if (!withMeta) Seq.empty
      else Seq(col("_metadata.file_path").as(GraftTable.DvFileCol),
        col("_metadata.row_index").as(GraftTable.DvRowCol))
    if (files.isEmpty) {
      val s = if (!withMeta) schema
        else schema.add(GraftTable.DvFileCol, "string").add(GraftTable.DvRowCol, "long")
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    }
    def phys(n: String): String = mapping.getOrElse(n, n)
    val physSchema =
      if (mapping.isEmpty) schema
      else StructType(schema.fields.map(f => f.copy(name = phys(f.name))))
    val dataCols = schema.fields.map(f => col(phys(f.name)).as(f.name)).toSeq
    val (parted, flat) = files.partition(_.partition.nonEmpty)
    val flatDf =
      if (flat.isEmpty) Seq.empty
      else Seq(spark.read.schema(physSchema).parquet(flat.map(f => absPath(f.path)): _*)
        .select(dataCols ++ metaCols: _*))
    // batch prefix = the path above the Hive partition dirs (for the
    // native "data/d-<uuid>/k=v/..." layout this is the write batch dir;
    // a shallow-cloned ABSOLUTE path keeps its own source-side prefix)
    def batchPrefix(f: ManifestFile): String =
      f.path.split('/').dropRight(f.partition.size + 1).mkString("/")
    val partDfs = parted.groupBy(batchPrefix).toSeq
      .sortBy(_._1).map { case (batch, fs) =>
        spark.read.option("basePath", absPath(batch)).schema(physSchema)
          .parquet(fs.map(f => absPath(f.path)): _*)
          .select(dataCols ++ metaCols: _*)
      }
    (flatDf ++ partDfs).reduce(_.unionByName(_))
  }

  /** Resolve a manifest-recorded path: table-relative for native files,
    * ABSOLUTE for entries referenced across tables by a shallow clone. */
  private def absPath(p: String): String =
    if (new File(p).isAbsolute) p else s"$root/$p"

  /** Subtract each entry's deletion vector from a metadata-bearing read:
    * the vectors load once on the DRIVER (O(deleted rows) total — the
    * same budget that bounded writing them), broadcast, and each row
    * survives iff its (file, position) is absent from its file's vector.
    * Position lookup is a binary search in the file's sorted positions;
    * file lookup resolves the absolute scan path to the table-relative
    * entry once per task via suffix match, then caches. The scan itself
    * stays the vectorized parquet read — masking is one codegen'd-input
    * filter on top, touching only DV'd files' branches of the plan. */
  private def applyDv(df: DataFrame, dvd: Seq[ManifestFile]): DataFrame = {
    val dvMap: Map[String, Array[Long]] =
      dvd.map(f => f.path -> GraftTable.readDv(absPath(f.dv.get))).toMap
    val bc = spark.sparkContext.broadcast(dvMap)
    val resolver = new DvPathResolver[Array[Long]](bc, Array.emptyLongArray)
    import org.apache.spark.sql.GraftSqlBridge
    df.filter(GraftSqlBridge.column(DvKeepExpr(
      GraftSqlBridge.expression(col(GraftTable.DvFileCol)),
      GraftSqlBridge.expression(col(GraftTable.DvRowCol)), resolver)))
  }

  /** Time-travel read: the table exactly as of `version`. Data files are
    * immutable, so this is byte-identical to what a reader saw then (until
    * [[vacuum]] drops versions below its retention). Explicit schema from
    * the manifest: an empty snapshot stays readable, and schema evolution
    * between versions resolves per-version, not by directory inference. */
  def read(version: Long): DataFrame = {
    val c = commitAt(version)
    readFiles(c.schema, c.files, c.columnMapping)
  }

  /** Incremental read — the rows that changed between two committed
    * versions, tagged `_change_type` ('insert' | 'delete'); an update
    * surfaces as delete(pre-image) + insert(post-image), the classic
    * change-data-feed rendering (Delta CDF / Iceberg incremental scan).
    *
    * Two physical strategies, picked from the MANIFESTS alone:
    *  - '''Append-only fast path.''' If every file of `vFrom` is still
    *    listed by `vTo`, the delta IS the added files: read exactly those,
    *    tag 'insert', touch zero base bytes and shuffle nothing. This is
    *    what makes incremental consumption of an append table O(delta) at
    *    100 TB — the downstream pipeline re-reads a day's files, never the
    *    table (Iceberg's incremental scan works the same way, from
    *    snapshot metadata).
    *  - '''Telescoped per-step diff.''' A rewrite inside the range
    *    (merge/compaction/zorder) breaks file identity — but as long as
    *    every INTERMEDIATE manifest is still retained, each step's row
    *    delta is exactly (its added files) − (its removed files): carried
    *    files cancel. Summing the per-step deltas telescopes to the net
    *    vFrom→vTo change, so the diff reads ONLY the files some step
    *    added or removed — for COW merges that is O(touched), never
    *    O(2×table). One signed-count hash shuffle over the churned rows.
    *  - '''Snapshot multiset diff.''' The version-agnostic fallback when
    *    the chain is broken (vacuumed intermediate versions) or the
    *    schema changed inside the range: `vTo EXCEPT ALL vFrom` as
    *    inserts, `vFrom EXCEPT ALL vTo` as deletes — one hash shuffle
    *    over all columns per direction, the honest cost of diffing
    *    arbitrary rewrites with no per-step information.
    */
  def changesBetween(vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"changesBetween($vFrom, $vTo): versions must ascend")
    val from = commitAt(vFrom)
    val to = commitAt(vTo)
    // FULL-ENTRY subset, not path subset: a deletion-vector swap keeps
    // the path but changes the rows the entry serves — treating it as
    // "still present" would silently drop the deletes from the feed.
    val fromEntries = from.files.toSet
    val appendOnly = fromEntries.subsetOf(to.files.toSet)
    if (appendOnly) {
      val added = to.files.filterNot(fromEntries.contains)
      readFiles(to.schema, added, to.columnMapping)
        .withColumn("_change_type", lit("insert"))
    } else {
      val retained = versions.toSet
      val chain = (vFrom to vTo).forall(retained.contains)
      lazy val raws = ((vFrom + 1) to vTo).map(readRaw)
      def groupable(dt: DataType): Boolean = dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case s: StructType => s.fields.forall(f => groupable(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => groupable(a.elementType)
        case _ => true
      }
      // The diff is RENDERED IN vTo's SCHEMA (Delta CDF's convention for
      // evolved ranges): a step's files are readable under (to.schema,
      // to.columnMapping) iff every to-column that exists physically in
      // the step carries the same type — added columns read as null from
      // older files (parquet missing-column semantics), renamed columns
      // resolve through their STABLE physical names, dropped columns
      // simply aren't projected. This is what lets the O(churn)
      // telescoped path cross an ADD COLUMNS / RENAME / DROP commit
      // instead of bailing to the two-snapshot fallback (and the
      // evolution commit itself, zero churn, is change-free).
      def projectable(s: StructType, m: Map[String, String]): Boolean = {
        val physTypes = s.fields.map(f =>
          (m.getOrElse(f.name, f.name), f.dataType)).toMap
        to.schema.fields.forall { tf =>
          // equal or WIDENING (a range crossing an ALTER COLUMN TYPE
          // commit telescopes — older files upcast under the final type)
          physTypes.get(to.phys(tf.name))
            .forall(pt => GraftTable.widensTo(pt, tf.dataType))
        }
      }
      val schemaOk = projectable(from.schema, from.columnMapping) &&
        (!chain || raws.forall(r => projectable(r.schema, r.columnMapping)))
      if (chain && schemaOk &&
          to.schema.fields.forall(f => groupable(f.dataType)))
        telescopedDiff(from, raws, to.schema, to.columnMapping)
      else {
        require(projectable(from.schema, from.columnMapping),
          s"changesBetween($vFrom, $vTo): version $vFrom's schema cannot " +
            s"be projected into $vTo's (a column changed type); no sound " +
            "row-level diff exists")
        val fromDf = readFiles(to.schema, from.files, to.columnMapping)
        val toDf = readFiles(to.schema, to.files, to.columnMapping)
        toDf.exceptAll(fromDf).withColumn("_change_type", lit("insert"))
          .unionByName(
            fromDf.exceptAll(toDf).withColumn("_change_type", lit("delete")))
      }
    }
  }

  /** Row-level diff of a CONTIGUOUS version chain: per step, added-files
    * rows count +1 and removed-files rows −1 (carried files never load);
    * the signed counts telescope, so rows with net > 0 surface as that
    * many inserts and net < 0 as deletes — exactly the multiset
    * `EXCEPT ALL` pair computes, at O(churned files) IO instead of two
    * full snapshots. A file added AND removed inside the window cancels
    * at the FILE level (immutable files: same rows both times), costing
    * zero IO. */
  private def telescopedDiff(from: TableCommit, raws: Seq[RawManifest],
                             schema: StructType,
                             mapping: Map[String, String]): DataFrame = {
    // Per-(path, dv) SIGNED counts, not set intersection: a file can
    // churn MORE THAN ONCE inside the window (removed by a merge,
    // re-added by a restore, removed again), and set-based cancellation
    // would net such a path to zero when its true telescoped weight is
    // ±1 — silently dropping its rows from the change feed (found by
    // the FuzzTable DML-program fuzzer, seed 1300: restore inside the
    // window). The key includes the DELETION VECTOR: a DV swap keeps
    // the path but changes the served rows, so (path, dvOld) at −1 and
    // (path, dvNew) at +1 must NOT cancel — their row-level difference
    // IS the deleted rows. Since data files and sidecars are immutable,
    // the net per key is `[in vTo] − [in vFrom]` ∈ {−1, 0, +1}.
    //
    // Each step's churn comes STRAIGHT from its delta manifest — never
    // from reconstructing per-version snapshots, so driver cost is
    // O(churn in the window), not O(window × files) (at a million-file
    // table, resolving every version to diff its neighbor is itself the
    // bottleneck). A self-contained manifest inside the window (a
    // whole-table rewrite) is diffed against the running path set — an
    // O(files) step for an O(files) event. Entries for removed paths
    // resolve from the accumulated entry map: a removed file was, by
    // construction, present in `from` or added by an earlier step.
    val net = scala.collection.mutable.LinkedHashMap.empty[(String, Option[String]), (Int, ManifestFile)]
    val entries = scala.collection.mutable.HashMap.empty[String, ManifestFile]
    val curPaths = scala.collection.mutable.LinkedHashSet.empty[String]
    from.files.foreach { f => entries(f.path) = f; curPaths += f.path }
    def bump(f: ManifestFile, d: Int): Unit = {
      val k = (f.path, f.dv)
      val (n, _) = net.getOrElse(k, (0, f)); net(k) = (n + d, f)
    }
    raws.foreach { r =>
      val (adds, removes): (Seq[ManifestFile], Seq[ManifestFile]) = r.full match {
        case None =>
          (r.add, r.remove.toSeq.map(p => entries.getOrElse(p,
            throw new IllegalStateException(
              s"delta manifest v${r.version} removes unknown path $p"))))
        case Some(full) =>
          // chain reset inside the window: diff against the running set —
          // ENTRY equality, so a DV swap surfaces as remove(old)+add(new)
          val fullByPath = full.map(f => f.path -> f).toMap
          val adds = full.filterNot(f =>
            curPaths.contains(f.path) && entries(f.path) == f)
          val addPaths = adds.map(_.path).toSet
          (adds, curPaths.toSeq
            .filter(p => !fullByPath.contains(p) || addPaths.contains(p))
            .map(entries))
      }
      // removes FIRST (they were resolved against the pre-step entries):
      // a DV swap lists its path in both remove and add, and processing
      // adds first would leave curPaths without the still-live path
      removes.foreach { f => bump(f, -1); curPaths -= f.path }
      adds.foreach { f =>
        bump(f, 1); entries(f.path) = f; curPaths += f.path
      }
    }
    val plus = net.valuesIterator.collect { case (1, f) => f }.toSeq
    val minus = net.valuesIterator.collect { case (-1, f) => f }.toSeq
    val cols = schema.fieldNames.toSeq
    // DV-SWAP FAST PATH: a path netting −1 under one vector and +1 under
    // another is the SAME immutable data file serving different position
    // sets — its row-level contribution to the feed is exactly the rows
    // at the POSITION DIFFERENCE (+1 where oldDv∖newDv resurrects, −1
    // where newDv∖oldDv masks; positions in neither or both cancel
    // identically). Reading those positions directly replaces the naive
    // plan — the file read TWICE in full with the whole-row shuffle
    // cancelling the unchanged rows — with ONE vectorized scan filtered
    // to O(changed positions): a scattered 0.1% DV delete on a 100-TB
    // table feeds megabytes through the exchange instead of the table.
    // The diff rows still join the same net fold below, so cross-file
    // content cancellation (and therefore the feed's output) is
    // UNCHANGED — this is a plan rewrite, not a semantics change.
    val plusByPath = plus.map(f => f.path -> f).toMap
    val minusByPath = minus.map(f => f.path -> f).toMap
    val swapPaths = plusByPath.keySet intersect minusByPath.keySet
    val addKeep = plus.filterNot(f => swapPaths.contains(f.path))
    val remKeep = minus.filterNot(f => swapPaths.contains(f.path))
    val swapDiff: Option[DataFrame] = if (swapPaths.isEmpty) None else {
      // (insert positions, delete positions) per path — sorted, for the
      // per-row binary search
      val posMap: Map[String, (Array[Long], Array[Long])] = swapPaths.toSeq.map { p =>
        val oldPos = minusByPath(p).dv
          .map(d => GraftTable.readDv(absPath(d))).getOrElse(Array.emptyLongArray)
        val newPos = plusByPath(p).dv
          .map(d => GraftTable.readDv(absPath(d))).getOrElse(Array.emptyLongArray)
        val oldSet = oldPos.toSet
        val newSet = newPos.toSet
        p -> (oldPos.filterNot(newSet.contains), newPos.filterNot(oldSet.contains))
      }.toMap.filter { case (_, (i, d)) => i.nonEmpty || d.nonEmpty }
      if (posMap.isEmpty) None else {
        val entries = posMap.keysIterator.map(p => plusByPath(p).copy(dv = None)).toSeq
        val bc = spark.sparkContext.broadcast(posMap)
        val resolver = new DvPathResolver[(Array[Long], Array[Long])](
          bc, (Array.emptyLongArray, Array.emptyLongArray))
        import org.apache.spark.sql.GraftSqlBridge
        def weight(fp: Column, ri: Column): Column =
          GraftSqlBridge.column(DvSwapWeightExpr(
            GraftSqlBridge.expression(fp), GraftSqlBridge.expression(ri),
            resolver))
        // coarse NATIVE pre-filter: no changed position lies outside the
        // global [lo, hi] span, so the (boxed) per-row weight UDF only
        // sees the span's rows — for the common clustered churn this cuts
        // the UDF from O(file rows) to O(span); exactness is the UDF's
        val lo = posMap.values.iterator
          .flatMap { case (i, d) => i.headOption ++ d.headOption }.min
        val hi = posMap.values.iterator
          .flatMap { case (i, d) => i.lastOption ++ d.lastOption }.max
        Some(readFilesRaw(schema, entries, withMeta = true, mapping)
          .filter(col(GraftTable.DvRowCol).between(lo, hi))
          .withColumn("__w",
            weight(col(GraftTable.DvFileCol), col(GraftTable.DvRowCol)))
          .filter(col("__w") =!= 0L)
          .select((cols.map(col) :+ col("__w")): _*))
      }
    }
    val weighted = readFiles(schema, addKeep, mapping).withColumn("__w", lit(1L))
      .unionByName(readFiles(schema, remKeep, mapping).withColumn("__w", lit(-1L)))
    swapDiff.fold(weighted)(weighted.unionByName(_))
      .groupBy(cols.map(col): _*).agg(sum(col("__w")).as("__net"))
      .filter(col("__net") =!= 0)
      .withColumn("_change_type",
        when(col("__net") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("__dup",
        explode(array_repeat(lit(1), abs(col("__net")).cast("int"))))
      .select(cols.map(col) :+ col("_change_type"): _*)
  }

  /** Write `df` as new immutable data files under `data/<uuid>/`; return
    * their manifest entries (relative paths + footer row counts). Not yet
    * visible to readers — files only become live when a manifest commits.
    *
    * With `partitionBy` non-empty the batch lands Hive-layout
    * (`.../k=v/part-*.parquet`), and each file's partition values — parsed
    * once here from its path segments — are recorded IN THE MANIFEST, so
    * partition pruning never re-derives them from a directory listing
    * (the S3-LIST wall MSCK-style discovery pays on every query). */
  private def writeData(df: DataFrame,
                        partitionBy: Seq[String] = Seq.empty,
                        mapping: Map[String, String] = Map.empty): Seq[ManifestFile] = {
    val sub = s"data/d-${UUID.randomUUID()}"
    val dir = s"$root/$sub"
    // column-mapped tables write under PHYSICAL names (stable across
    // renames), so every data file of the table agrees regardless of
    // which logical schema was current when it landed
    val out0 =
      if (mapping.isEmpty) df
      else df.select(df.columns.map(n => col(n).as(mapping.getOrElse(n, n))).toSeq: _*)
    // Partition TRANSFORMS (hidden partitioning): derive each non-identity
    // spec's value as a transient column — `partitionBy` strips it from
    // the data pages, so it exists only as the `k=v` directory (and the
    // manifest partition entry parsed from it below); the SOURCE column
    // stays in the pages. Identity columns keep the classic Hive behavior.
    val transforms = GraftTable.PartTransform.parseAll(partitionBy)
    val hidden = transforms.filterNot(_.isInstanceOf[GraftTable.IdentityTransform])
    hidden.foreach(t => require(!df.columns.contains(t.name),
      s"hidden partition name ${t.name} collides with a data column"))
    val out = hidden.foldLeft(out0)((d, t) =>
      d.withColumn(t.name, t.derive(col(mapping.getOrElse(t.source, t.source)))))
    val physPartitionBy = transforms.map {
      case GraftTable.IdentityTransform(s) => mapping.getOrElse(s, s)
      case t => t.name
    }
    try {
      if (physPartitionBy.isEmpty) out.write.parquet(dir)
      else out.write.partitionBy(physPartitionBy: _*).parquet(dir)
    } catch {
      // the write-pass CHECK guard raised from a task: surface it as the
      // format's own exception (the aborted batch dir is an unreferenced
      // orphan, swept by vacuum like any lost-race write)
      case e: Throwable =>
        GraftTable.findConstraintViolation(e).foreach { msg =>
          throw new GraftTable.ConstraintViolationException(
            s"write to $root rejected — $msg")
        }
        throw e
    }
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new File(dir))
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getAbsolutePath)
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val (rows, stats) =
          try (r.getRecordCount, footerStats(r.getFooter)) finally r.close()
        val rel = new File(dir).toPath.relativize(f.toPath).toString
        val partition = rel.split('/').toSeq.dropRight(1)
          .flatMap { seg =>
            seg.split("=", 2) match {
              case Array(k, v) => Some(k ->
                java.net.URLDecoder.decode(v, java.nio.charset.StandardCharsets.UTF_8))
              case _ => None
            }
          }.toMap
        ManifestFile(s"$sub/$rel", rows, stats, partition, bytes = f.length())
      }
  }

  /** Truncate a string MIN bound to ≤[[GraftTable.StatStringMaxLen]] code
    * points: any prefix of `s` is ≤ `s` in code-point order, so a prefix
    * is always a sound lower bound (Delta truncates string stats the same
    * way — 32 chars). */
  private def truncMin(s: String): String =
    if (s.codePointCount(0, s.length) <= GraftTable.StatStringMaxLen) s
    else s.substring(0, s.offsetByCodePoints(0, GraftTable.StatStringMaxLen))

  /** Truncate a string MAX bound: exact when short enough; otherwise the
    * ≤32-cp prefix with its LAST INCREMENTABLE code point bumped (and the
    * tail dropped) — strictly greater than every string sharing the
    * prefix, so still a sound upper bound (Delta's max-side increment).
    * The bump skips the surrogate range so the result stays a valid
    * Unicode string. `None` = no finite bound exists (all 32 prefix cps
    * are U+10FFFF) — the caller drops the column's stats for this file. */
  private def truncMax(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= GraftTable.StatStringMaxLen) return Some(s)
    val p = s.substring(0, s.offsetByCodePoints(0, GraftTable.StatStringMaxLen))
    var i = p.length
    while (i > 0) {
      val cpStart = p.offsetByCodePoints(i, -1)
      val cp = p.codePointAt(cpStart)
      if (cp < 0x10FFFF) {
        val bumped = if (cp + 1 >= 0xD800 && cp + 1 <= 0xDFFF) 0xE000 else cp + 1
        return Some(p.substring(0, cpStart) + new String(Character.toChars(bumped)))
      }
      i = cpStart
    }
    None
  }

  /** Aggregate per-column min/max across a file's row groups from the
    * parquet footer (already open for the row count — stats collection
    * costs zero extra IO). A column is kept iff EVERY row group has
    * non-null statistics for it, so a pruning decision can never be
    * optimistic. The recorded [[ColStat.kind]] carries the stat DOMAIN:
    * timestamp columns record their parquet unit ("ts-micros" /
    * "ts-millis" — NANOS refused, Spark never writes it), dates record
    * "date" (epoch days), and UTF8-annotated binary records "string" with
    * Delta-style truncation (prefix min, incremented-prefix max) so a
    * manifest entry stays bounded no matter how long the text. */
  private def footerStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Map[String, ColStat] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    val acc = scala.collection.mutable.Map.empty[String, ColStat]
    val bad = scala.collection.mutable.Set.empty[String]
    footer.getBlocks.forEach { b =>
      b.getColumns.forEach { c =>
        val name = c.getPath.toDotString
        val st = c.getStatistics
        val ann = c.getPrimitiveType.getLogicalTypeAnnotation
        // INT32/INT64 raw values equal the logical domain only for plain
        // (signed) ints, epoch-based timestamps, and epoch-day dates — all
        // order-AND-value-preserving. DECIMAL-annotated ints store the
        // UNSCALED value, so recording it as the logical min/max would let
        // a future pruning call skip files that DO contain qualifying rows
        // (silent wrong answers). Unsigned annotations reorder across the
        // sign bit. Both are refused here: no stat beats a wrong stat.
        // Timestamps record their UNIT in the kind — a millis file raw-
        // compared against micros predicates would wrongly skip files.
        val intKind: Option[String] = ann match {
          case null => Some("long")
          case i: IntLogicalTypeAnnotation if i.isSigned => Some("long")
          case t: TimestampLogicalTypeAnnotation => t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some("ts-micros")
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some("ts-millis")
            case _ => None // NANOS: no Spark writer emits it; refuse
          }
          case _: DateLogicalTypeAnnotation => Some("date")
          case _ => None
        }
        val rgNulls = if (st != null && st.isNumNullsSet) st.getNumNulls else -1L
        /** Guard against parquet's OWN byte-level binary-stat truncation:
          * a byte-incremented bound can be invalid UTF-8, and decoding it
          * would substitute U+FFFD — silently MOVING the bound. Keep a
          * binary stat only if its bytes round-trip through UTF-8. */
        def utf8Exact(bin: org.apache.parquet.io.api.Binary): Option[String] = {
          val bytes = bin.getBytes
          val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          if (java.util.Arrays.equals(
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8), bytes)) Some(s)
          else None
        }
        val parsed: Option[ColStat] =
          if (st == null || st.isEmpty) None
          else if (!st.hasNonNullValue)
            // an ALL-NULL row group has no min/max but a perfectly good
            // null count — record the dedicated kind so IS NOT NULL (and
            // every value predicate, which NULL never satisfies) can skip
            // files that are entirely null in the column
            (if (st.isNumNullsSet) Some(ColStat("null-only", "", "", st.getNumNulls))
             else None)
          else c.getPrimitiveType.getPrimitiveTypeName match {
            case INT64 | INT32 if intKind.isEmpty => None
            case INT64 => Some(ColStat(intKind.get,
              st.genericGetMin.asInstanceOf[java.lang.Long].toString,
              st.genericGetMax.asInstanceOf[java.lang.Long].toString, rgNulls))
            case INT32 => Some(ColStat(intKind.get,
              st.genericGetMin.asInstanceOf[java.lang.Integer].toString,
              st.genericGetMax.asInstanceOf[java.lang.Integer].toString, rgNulls))
            case DOUBLE => Some(ColStat("double",
              st.genericGetMin.asInstanceOf[java.lang.Double].toString,
              st.genericGetMax.asInstanceOf[java.lang.Double].toString, rgNulls))
            case FLOAT => Some(ColStat("double",
              st.genericGetMin.asInstanceOf[java.lang.Float].toString,
              st.genericGetMax.asInstanceOf[java.lang.Float].toString, rgNulls))
            case BINARY if ann.isInstanceOf[StringLogicalTypeAnnotation] =>
              for {
                mn <- utf8Exact(st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary])
                mx <- utf8Exact(st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary])
                mxT <- truncMax(mx)
              } yield ColStat("string", truncMin(mn), mxT, rgNulls)
            case _ => None
          }
        parsed match {
          case Some(s) if !bad.contains(name) =>
            acc.get(name) match {
              case None => acc(name) = s
              case Some(prev) =>
                val nn = if (prev.nulls < 0 || s.nulls < 0) -1L
                         else prev.nulls + s.nulls
                if (s.kind == "null-only" || prev.kind == "null-only") {
                  // an all-null group contributes only its null count;
                  // the other side's bounds (if any) stay authoritative
                  val keep = if (s.kind == "null-only") prev else s
                  acc(name) =
                    if (keep.kind == "null-only") ColStat("null-only", "", "", nn)
                    else keep.copy(nulls = nn)
                } else {
                  def lt(a: String, bb: String) =
                    if (s.kind == "string") ColStat.utf8Compare(a, bb) < 0
                    else BigDecimal(a) < BigDecimal(bb)
                  acc(name) = ColStat(s.kind,
                    if (lt(s.min, prev.min)) s.min else prev.min,
                    if (lt(prev.max, s.max)) s.max else prev.max, nn)
                }
            }
          case _ =>
            bad += name
            acc.remove(name): Unit
        }
      }
    }
    acc.toMap
  }

  /** Manifest-level file skipping: read `version` touching ONLY the files
    * [[pruneFiles]] keeps for `filter`. The decision runs driver-side on
    * the manifest — zero data IO for skipped files, the same metadata
    * pruning Delta/Iceberg data skipping performs. Files missing stats
    * for a named column always survive (skipping is an optimization,
    * never a filter), so callers still apply the real predicate on the
    * result — exactly like partition pruning composes with row filters.
    * Pays off after [[zorderBy]]: each z-range file bounds a small
    * hyper-rectangle in BOTH clustering dimensions, so a selective range
    * on EITHER column prunes most files. */
  def readPruned(version: Long, filter: FileFilter): DataFrame = {
    val c = commitAt(version)
    readFiles(c.schema, pruneFiles(version, filter), c.columnMapping)
  }

  /** The file-skipping decision — the one the DataSourceV2 scan, the
    * native [[GraftFileIndex]], [[readPruned]] and DELETE/UPDATE all use,
    * so DML skips exactly the files a pushed scan predicate would.
    * Pessimistic: a file survives unless some entry of `filter` provably
    * excludes it. Per file, in order:
    *  - numeric and string ranges resolve against the file's PARTITION
    *    VALUE first (exact, one value per file — Hive partition pruning
    *    off the manifest instead of a directory listing), then against
    *    footer min/max ([[ColStat.overlaps]], [[ColStat.overlapsStr]]);
    *  - NULL tests read the recorded null counts ([[fileMayMatchNulls]]);
    *  - hidden-partition transforms invert against the recorded value
    *    ([[transformMayMatch]]);
    *  - point predicates consult the advisory bloom index
    *    ([[bloomPruneFiles]]).
    * Unparseable partition renderings, the Hive null-partition marker and
    * missing stats all keep the file. */
  def pruneFiles(version: Long, filter: FileFilter): Seq[ManifestFile] = {
    val c = commitAt(version)
    val transforms = GraftTable.PartTransform.parseAll(c.partitionCols)
      .filterNot(_.isInstanceOf[GraftTable.IdentityTransform])
    bloomPruneFiles(
      c.files.filter(f =>
        fileMayMatch(f, filter, c.columnMapping) &&
          fileMayMatchNulls(f, filter.nulls, c.columnMapping) &&
          transformMayMatch(f, filter, transforms, c.schema)),
      filter, c.columnMapping)
  }

  /** HIDDEN-PARTITION pruning: invert each transform against the file's
    * recorded partition value and test the RAW-source predicate against
    * it — `days`: the day's [start, end) window in the predicate's own
    * stat domain (epoch days for DATE sources, epoch micros for
    * TIMESTAMP_NTZ); `bucket`: a POINT predicate's value hashes to
    * exactly one bucket, so every other bucket's files skip — the
    * sidecar-free form of the bloom index's job. Unknown shapes,
    * unparseable values, the Hive null marker, and LTZ timestamps (whose
    * day boundary is session-zone-dependent) all conservatively keep the
    * file; the row-level predicate always still runs. */
  private def transformMayMatch(f: ManifestFile, filter: FileFilter,
      transforms: Seq[GraftTable.PartTransform],
      schema: StructType): Boolean =
    transforms.forall {
      case d: GraftTable.DaysTransform =>
        val dt = schema.find(_.name == d.source).map(_.dataType)
        filter.ranges.filter(_._1 == d.source).forall { case (_, lo, hi) =>
          f.partition.get(d.name) match {
            case Some(GraftTable.HiveNullPartition) => true
            case Some(v) =>
              scala.util.Try(java.time.LocalDate.parse(v)).toOption.forall { ld =>
                dt match {
                  case Some(org.apache.spark.sql.types.DateType) =>
                    val day = BigDecimal(ld.toEpochDay)
                    hi >= day && lo <= day
                  case Some(org.apache.spark.sql.types.TimestampNTZType) =>
                    val start = BigDecimal(ld.toEpochDay) * 86400000000L
                    hi >= start && lo < start + 86400000000L
                  case _ => true // LTZ or unknown: zone-dependent, keep
                }
              }
            case None => true // pre-evolution file: stats already decided
          }
        }
      case b: GraftTable.BucketTransform =>
        val dt = schema.find(_.name == b.source).map(_.dataType)
        // point shapes only: a numeric range folded to lo==hi, or an
        // exact string equality
        val points: Seq[Option[Int]] =
          filter.ranges.collect { case (c0, lo, hi) if c0 == b.source && lo == hi =>
            dt.flatMap {
              case org.apache.spark.sql.types.LongType =>
                scala.util.Try(lo.toLongExact).toOption
                  .flatMap(x => GraftTable.PartTransform.bucketOf(x,
                    org.apache.spark.sql.types.LongType, b.n))
              case org.apache.spark.sql.types.IntegerType =>
                scala.util.Try(lo.toIntExact).toOption
                  .flatMap(x => GraftTable.PartTransform.bucketOf(x,
                    org.apache.spark.sql.types.IntegerType, b.n))
              case _ => None
            }
          } ++
          filter.strRanges.collect {
            case (c0, Some(l), Some(h)) if c0 == b.source && l == h &&
                dt.contains(org.apache.spark.sql.types.StringType) =>
              GraftTable.PartTransform.bucketOf(
                org.apache.spark.unsafe.types.UTF8String.fromString(l),
                org.apache.spark.sql.types.StringType, b.n)
          }
        points.forall {
          case Some(expected) =>
            f.partition.get(b.name) match {
              case Some(GraftTable.HiveNullPartition) => true
              case Some(v) =>
                scala.util.Try(v.toInt).toOption.forall(_ == expected)
              case None => true
            }
          case None => true // unhashable rendering: keep
        }
      case _ => true
    }

  /** The per-file NULL-ness decision: a Hive null-partition directory is
    * all-null in its partition column, any other partition value all
    * non-null; data columns answer from the recorded null count. Missing
    * information keeps the file, as everywhere in pruning. */
  private def fileMayMatchNulls(f: ManifestFile,
      nullPreds: Seq[(String, Boolean)],
      mapping: Map[String, String]): Boolean =
    nullPreds.forall { case (col0, wantNull) =>
      val col = mapping.getOrElse(col0, col0)
      f.partition.get(col) match {
        case Some(GraftTable.HiveNullPartition) => wantNull
        case Some(_) => !wantNull
        case None => f.stats.get(col) match {
          case Some(st) =>
            if (wantNull) st.mayHaveNulls
            else st.nulls < 0L || st.nulls < f.rows
          case None => true
        }
      }
    }

  // ==== bloom-filter file index (advisory point-lookup skipping) ==========
  //
  // A hash-distributed key column defeats min/max skipping: every file's
  // range spans the whole domain, so a point lookup reads the table. The
  // index records one bloom filter PER FILE as a sidecar under
  // `_graft_index/` with a per-column registry JSON mapping file path →
  // sidecar (the role Delta's bloom filter index files play). The layer
  // is ADVISORY and sound by IMMUTABILITY: a file's bytes never change
  // under its path, so a filter for a path can never go stale — a
  // deletion-vector swap only REMOVES rows (the filter stays a sound
  // superset), a rewrite creates NEW paths that simply have no filter
  // until the next index run, and any file absent from the registry is
  // kept. Only definite-absence skips; the row-level predicate always
  // still runs.

  private def indexDir = new File(root, "_graft_index")
  private def bloomRegistryPath(physCol: String) =
    new File(indexDir, s"bloom-$physCol.json")
  @transient private lazy val bloomRegistryCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Map[String, String])]()
  @transient private lazy val bloomFilterCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.util.sketch.BloomFilter]()

  /** The path→sidecar registry for a column's bloom index (empty = no
    * index). Cached by the registry file's (mtime, length) stamp. */
  private def bloomRegistry(physCol: String): Map[String, String] = {
    val f = bloomRegistryPath(physCol)
    if (!f.exists()) return Map.empty
    val stamp = s"${f.lastModified()}:${f.length()}"
    val cached = bloomRegistryCache.get(physCol)
    if (cached != null && cached._1 == stamp) return cached._2
    val n = mapper.readTree(Files.readAllBytes(f.toPath))
    val m = scala.collection.mutable.Map.empty[String, String]
    Option(n.get("files")).foreach(_.fields().forEachRemaining(e =>
      m(e.getKey) = e.getValue.asText()))
    val parsed = m.toMap
    bloomRegistryCache.put(physCol, (stamp, parsed))
    parsed
  }

  private def writeBloomRegistry(physCol: String,
      entries: Map[String, String]): Unit = {
    indexDir.mkdirs()
    val node = mapper.createObjectNode()
    node.put("col", physCol)
    val files = node.putObject("files")
    entries.toSeq.sortBy(_._1).foreach { case (p, s) => files.put(p, s): Unit }
    val tmp = new File(indexDir, s".bloom-${UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp.toPath, mapper.writeValueAsBytes(node))
      Files.move(tmp.toPath, bloomRegistryPath(physCol).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp.toPath): Unit
  }

  /** Build (or extend) the bloom file index for `colName`: one
    * distributed scan of the UNINDEXED files — the shuffle carries
    * per-file partial filters, never raw values ([[BloomLongAgg]]) — then
    * sidecars land under `_graft_index/` and the registry updates
    * atomically. Idempotent and incremental: re-running after appends
    * indexes only the new files. Supports string and integral columns
    * (the point-lookup shapes). Values are hashed through the sketch's
    * own putLong/putString, deleted rows included (a sound superset —
    * vectors only remove rows). Returns how many files were indexed.
    *
    * At 100 TB the build is one column scan of the unindexed tail; for
    * tables with very many files, run per partition-scope batch — the
    * registry merge is associative. */
  def indexBloom(colName: String, fpp: Double = 0.01): Long = {
    val session = spark
    import session.implicits._
    val c = commitAt(latestVersion)
    val physCol = c.phys(colName)
    val field = c.schema.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no such column $colName"))
    val isString = field.dataType == org.apache.spark.sql.types.StringType
    val isIntegral = Set[DataType](org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)(field.dataType)
    require(isString || isIntegral,
      s"bloom index supports string/integral columns, got ${field.dataType.simpleString}")
    val registry = bloomRegistry(physCol)
    val todo = c.files.filterNot(f => registry.contains(f.path))
    if (todo.isEmpty) return 0L
    val expected = math.max(64L, todo.map(_.rows).max)
    val src = readFilesRaw(StructType(Seq(field)), todo,
        withMeta = true, c.columnMapping)
      .select(col(GraftTable.DvFileCol).as("_f"), col(colName).as("_v"))
      .filter(col("_v").isNotNull)
    val perFile: Array[(String, Array[Byte])] =
      if (isString)
        src.as[(String, String)].groupByKey(_._1)
          .agg(new BloomStringAgg(expected, fpp).toColumn).collect()
      else
        src.select(col("_f"), col("_v").cast("long")).as[(String, Long)]
          .groupByKey(_._1)
          .agg(new BloomLongAgg(expected, fpp).toColumn).collect()
    indexDir.mkdirs()
    val added = perFile.map { case (scanPath, bytes) =>
      val entry = todo.find(f => scanPath.endsWith(f.path)).getOrElse(
        throw new IllegalStateException(s"indexed file $scanPath not in todo set"))
      val rel = s"_graft_index/bf-${UUID.randomUUID()}.bf"
      Files.write(new File(root, rel).toPath, bytes)
      entry.path -> rel
    }.toMap
    // files whose every row is NULL in the column produce no group — an
    // EMPTY filter is exactly right (equality never matches NULL)
    val nullOnly = todo.map(_.path).toSet -- added.keySet
    val empties = nullOnly.map { p =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(64, fpp)
      val o = new java.io.ByteArrayOutputStream()
      bf.writeTo(o)
      val rel = s"_graft_index/bf-${UUID.randomUUID()}.bf"
      Files.write(new File(root, rel).toPath, o.toByteArray)
      p -> rel
    }.toMap
    writeBloomRegistry(physCol, registry ++ added ++ empties)
    (added.size + empties.size).toLong
  }

  private def loadBloom(rel: String): org.apache.spark.util.sketch.BloomFilter =
    bloomFilterCache.computeIfAbsent(rel, { r =>
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(new File(root, r)))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    })

  /** Consult the bloom index for EQUALITY predicates (a range folded to
    * lo == hi): drop files whose filter says the value is definitely
    * absent. Missing registry, missing entry, unreadable sidecar, or a
    * non-equality predicate all KEEP the file — advisory, never load-
    * bearing. */
  private def bloomPruneFiles(files: Seq[ManifestFile], filter: FileFilter,
      mapping: Map[String, String]): Seq[ManifestFile] = {
    if (files.isEmpty) return files
    def phys(n: String) = mapping.getOrElse(n, n)
    val eqLong = filter.ranges.collect {
      case (c0, lo, hi) if lo == hi && lo.isWhole &&
        lo.isValidLong => (phys(c0), lo.toLongExact)
    }
    val eqStr = filter.strRanges.collect {
      case (c0, Some(l), Some(h)) if l == h => (phys(c0), l)
    }
    if (eqLong.isEmpty && eqStr.isEmpty) return files
    val regs: Map[String, Map[String, String]] =
      (eqLong.map(_._1) ++ eqStr.map(_._1)).distinct
        .map(pc => pc -> bloomRegistry(pc)).toMap
    if (regs.values.forall(_.isEmpty)) return files
    def keep(f: ManifestFile, pc: String, test: org.apache.spark.util.sketch.BloomFilter => Boolean): Boolean =
      regs(pc).get(f.path) match {
        case None => true
        case Some(rel) =>
          try test(loadBloom(rel))
          catch { case _: Exception => true } // unreadable sidecar: keep
      }
    files.filter { f =>
      eqLong.forall { case (pc, v) => keep(f, pc, _.mightContainLong(v)) } &&
        eqStr.forall { case (pc, v) => keep(f, pc, _.mightContainString(v)) }
    }
  }

  /** The per-file range decision behind [[pruneFiles]] (and the scope
    * test of [[compactWhere]]/[[zorderWhere]]). Pessimistic everywhere:
    * missing stats, unparseable partition renderings, and the Hive null
    * marker all keep the file. */
  private def fileMayMatch(f: ManifestFile, filter: FileFilter,
      mapping: Map[String, String]): Boolean = {
    // predicates name LOGICAL columns; footer stats and partition values
    // are keyed by the PHYSICAL names files store — translate first
    def phys(n: String): String = mapping.getOrElse(n, n)
    filter.ranges.forall { case (col0, lo, hi) =>
      val col = phys(col0)
      f.partition.get(col) match {
        case Some(v) =>
          scala.util.Try(BigDecimal(v)).toOption.forall(b => b >= lo && b <= hi)
        case None => f.stats.get(col).forall(_.overlaps(lo, hi))
      }
    } && filter.strRanges.forall { case (col0, lo, hi) =>
      val col = phys(col0)
      f.partition.get(col) match {
        case Some(GraftTable.HiveNullPartition) => true
        case Some(v) =>
          lo.forall(l => ColStat.utf8Compare(v, l) >= 0) &&
            hi.forall(h => ColStat.utf8Compare(v, h) <= 0)
        case None => f.stats.get(col).forall(_.overlapsStr(lo, hi))
      }
    }
  }

  /** Copy-on-write file selection for the merge family: split `c`'s files
    * into (touched, carried) against the merge batch's key values.
    * `touched` = every file that COULD hold a row whose key appears in the
    * batch (these are read and rewritten); `carried` = files whose footer
    * key-range provably excludes all batch keys — they pass into the next
    * manifest BY REFERENCE, zero bytes read or written. This is what makes
    * a merge cost O(batch), not O(table): at 100 TB a daily upsert touching
    * 0.1% of the key space rewrites ~0.1% of the files (post-clustering),
    * not a daily 100-TB rewrite — Delta MERGE's file-pruning step, driven
    * here by the per-file min/max the manifests already carry.
    *
    * Candidate selection is DISTRIBUTED: the manifest's (file, lo, hi)
    * ranges — driver metadata, thousands of entries — broadcast against
    * the batch's distinct keys in an interval-membership join, and only
    * the touched FILE IDS (bounded by the file count) return to the
    * driver. No batch key ever lands driver-side, so a 10^9-row batch
    * plans the same way a 10-row batch does. (With millions of files the
    * interval set itself would be bucketed by range before the join; at
    * manifest scale the flat broadcast is the right plan.)
    *
    * Soundness over completeness, always erring toward "touched":
    *  - a file with no stats for the pruning key is always touched
    *    (absent stats mean "cannot skip", per [[ColStat]]);
    *  - min/max say nothing about NULLs, so NULL batch keys resolve
    *    through the manifests' per-file null counts: only files that MAY
    *    hold a null (count > 0 or unknown) join the candidate set;
    *  - batch keys convert into each file's recorded STAT DOMAIN
    *    ([[statDomainExpr]]): string keys compare in UTF-8 order against
    *    the truncated manifest bounds, timestamp keys in the file's
    *    recorded unit (micros vs millis), date keys in epoch days — and a
    *    (kind, type) pair with no sound bridge (legacy unit-less stats on
    *    a timestamp column) simply doesn't prune;
    *  - no key column with stats at all → full rewrite, exactly the
    *    pre-COW behavior.
    * Candidates INTERSECT across every stat-bearing key column — sound
    * (per-column tests are each a superset of the true tuple
    * containment), and a composite key whose column ranges never
    * co-occur proves zero files touched. */
  /** The column [[cowSplit]] prunes on for these keys (first key any file
    * carries stats for) — also the column merge OUTPUT is clustered on. */
  private def cowPruneColumn(c: TableCommit, keys: Seq[String]): Option[String] =
    keys.find(k => c.files.exists(_.stats.contains(c.phys(k))))

  /** Range-cluster a merge's rewrite output on the pruning key before it
    * lands. Without this, the rewritten files inherit the merge window's
    * HASH partitioning — every output file spans the whole touched key
    * range, so the NEXT narrow merge that hits any key in the region must
    * rewrite all of this merge's files: COW effectiveness decays one
    * generation after it's paid for. A range repartition of the MERGED
    * frame (touched files + batch — O(batch)-sized, not the table) keeps
    * rewritten files key-disjoint with tight footer min/max, so pruning
    * holds across merge generations without waiting for a zorder/compact
    * maintenance pass. One extra O(batch) shuffle per merge — the same
    * trade Delta users buy with optimized writes. */
  private def clusterForWrite(merged: DataFrame, kcol: Option[String]): DataFrame =
    kcol match {
      case Some(k) => merged.repartitionByRange(col(k))
      case None => merged
    }

  /** The batch-side expression that converts key column `dt` into the
    * STAT DOMAIN `kind` records — the unit bridge that makes pruning on
    * timestamp/date/string keys sound. `None` = no sound conversion
    * exists (legacy "long" stats on a timestamp/date column whose unit
    * was never recorded; TIMESTAMP_NTZ, whose epoch-of-wall-time stats
    * shift under a non-UTC session cast) — the caller must NOT prune on
    * that (kind, type) pair. */
  private def statDomainExpr(kind: String, dt: DataType, c: Column): Option[Column] = {
    import org.apache.spark.sql.types._
    kind match {
      case "long" => dt match {
        case LongType | IntegerType | ShortType | ByteType => Some(c.cast("bigint"))
        case _ => None
      }
      case "double" => dt match {
        case DoubleType | FloatType => Some(c.cast("double"))
        case _ => None
      }
      case "ts-micros" => dt match {
        case TimestampType => Some(unix_micros(c))
        case _ => None
      }
      case "ts-millis" => dt match {
        case TimestampType => Some(unix_millis(c))
        case _ => None
      }
      case "date" => dt match {
        case DateType => Some(datediff(c, lit("1970-01-01").cast("date")).cast("bigint"))
        case _ => None
      }
      case "string" => dt match {
        case StringType => Some(c)
        case _ => None
      }
      case _ => None
    }
  }

  private def cowSplit(c: TableCommit, batch: DataFrame, keys: Seq[String])
      : (Seq[ManifestFile], Seq[ManifestFile]) = {
    if (c.files.isEmpty) return (Seq.empty, Seq.empty)
    // keys are LOGICAL; manifest stats are keyed PHYSICAL
    val statCols = keys.filter(k => c.files.exists(_.stats.contains(c.phys(k))))
    if (statCols.isEmpty) return (c.files, Seq.empty)
    val session = spark
    import session.implicits._
    // Per-column candidate sets, INTERSECTED: a file holding a batch
    // tuple holds each of the tuple's column values, so the true touched
    // set is inside every column's candidate set — each extra stat-bearing
    // key column can only prune MORE files, never lose one. A file
    // without stats on a column is a candidate under that column. NULL
    // batch keys: min/max are null-blind, but the manifests carry per-file
    // NULL COUNTS, so a null-keyed batch row only forces files that MAY
    // hold nulls (nulls > 0, or unknown) into the column's candidate set —
    // range pruning for the non-null keys still applies on top.
    //
    // Files GROUP BY STAT KIND within a column (a table whose history
    // straddles the unit-recording upgrade holds both legacy "long" and
    // "ts-micros" entries for the same timestamp column); each kind group
    // prunes with its own domain conversion, and a group with no sound
    // conversion stays candidate wholesale — soundness never depends on a
    // uniform manifest history.
    var candidates: Set[Int] = c.files.indices.toSet
    val batchType: Map[String, DataType] =
      batch.schema.map(f => f.name -> f.dataType).toMap
    for (k <- statCols if candidates.nonEmpty) {
      val pk = c.phys(k) // stats are keyed by the files' physical name
      val keyExpr = batchType.get(k).map(dt => (dt, col(k)))
      val statted = c.files.zipWithIndex.filter(_._1.stats.contains(pk))
      val unstatted = c.files.indices.filterNot(i => c.files(i).stats.contains(pk))
      val byKind = statted.groupBy(_._1.stats(pk).kind)
      val colCandidates = scala.collection.mutable.Set.empty[Int]
      colCandidates ++= unstatted
      var batchNulls: Option[Boolean] = None // lazily computed, shared per column
      for ((kind, group) <- byKind) {
        val converted = keyExpr.flatMap { case (dt, c0) => statDomainExpr(kind, dt, c0) }
        converted match {
          case None =>
            // no sound batch→stat-domain bridge: every file of this kind
            // group could hold batch keys
            colCandidates ++= group.map(_._2)
          case Some(e) =>
            val keyed = batch.select(e.as("__k"))
            val hasNulls = batchNulls.getOrElse {
              // null-ness is conversion-independent (every bridge above is
              // null-preserving), so one probe serves all kind groups
              val h = !batch.filter(col(k).isNull).isEmpty
              batchNulls = Some(h); h
            }
            if (hasNulls)
              colCandidates ++= group.collect {
                case (f, i) if f.stats(pk).mayHaveNulls => i
              }
            val rangesDf =
              if (kind == "string")
                group.map { case (f, i) =>
                  val s = f.stats(pk); (i, s.min, s.max)
                }.toDF("__fid", "__lo", "__hi")
              else if (kind == "double")
                group.map { case (f, i) =>
                  val s = f.stats(pk); (i, s.min.toDouble, s.max.toDouble)
                }.toDF("__fid", "__lo", "__hi")
              else
                group.map { case (f, i) =>
                  val s = f.stats(pk); (i, s.min.toLong, s.max.toLong)
                }.toDF("__fid", "__lo", "__hi")
            val touchedIds = keyed.filter(col("__k").isNotNull).distinct()
              .join(broadcast(rangesDf),
                col("__k") >= col("__lo") && col("__k") <= col("__hi"))
              .select(col("__fid")).distinct()
              .collect().map(_.getInt(0)).toSet
            colCandidates ++= touchedIds
        }
      }
      candidates = candidates intersect colCandidates.toSet
    }
    val (touched, carried) =
      c.files.zipWithIndex.partition { case (_, i) => candidates(i) }
    (touched.map(_._1), carried.map(_._1))
  }

  /** Test hook: invoked after a merge has written its data files but
    * before its first commit attempt — the window where a concurrent
    * writer can land. Deterministic races in TableFormatSpec inject the
    * rival commit here; production leaves it a no-op. */
  private[graft] var onBeforeMergeCommit: () => Unit = () => ()

  /** Shared COW-merge driver with OPTIMISTIC CONFLICT RESOLUTION. One
    * attempt = snapshot parent → pick (touched, carried) via [[cowSplit]]
    * → run `merge` over the touched subset → write → commit. If another
    * writer committed first, the loser resolves instead of failing:
    *
    *  - '''Rebase (no recompute).''' If every file this merge READ or
    *    carried still exists in the winner's snapshot (the winner only
    *    ADDED files) and none of the added files can hold any batch key
    *    (the same stats test as candidate selection — [[cowSplit]] over
    *    just the added files returns zero candidates), then the winner's
    *    rows are untouched by this merge BY KEY DISJOINTNESS: splice our
    *    rewrite into the winner's file list and commit on top. Zero
    *    bytes re-read or re-written — the common append-while-merging
    *    race costs one manifest retry (Delta's logical conflict check on
    *    concurrently-added files, driven here by manifest stats).
    *  - '''Recompute.''' If the winner removed/rewrote any file we read,
    *    changed the schema, or added files whose key range intersects
    *    the batch, the merge re-runs against the new snapshot — the
    *    correctness fallback. The abandoned files are unreferenced
    *    orphans, reclaimed by [[vacuum]].
    */
  private def mergeWithRetry(op: String, batch: DataFrame, keys: Seq[String])(
      merge: (TableCommit, Seq[ManifestFile]) => DataFrame): Long = {
    var recomputes = 0
    while (true) {
      val parent = latestVersion
      val c = commitAt(parent)
      val (touched, carried) = cowSplit(c, batch, keys)
      val merged = merge(c, touched)
      val out = clusterForWrite(merged, cowPruneColumn(c, keys))
      // a partitioned table keeps its Hive layout (and manifest
      // partition values) through the rewrite, like compact does
      val newFiles = writeData(enforceConstraints(out, c.constraints),
        c.partitionCols, c.columnMapping)
      val touchedPaths = touched.map(_.path).toSet
      onBeforeMergeCommit()
      var base = parent
      var rebasing = true
      while (rebasing) {
        try return commit(base, op,
          (if (base == parent) carried
           else commitAt(base).files.filterNot(f => touchedPaths.contains(f.path)))
            ++ newFiles,
          c.schema)
        catch {
          case e: ConcurrentCommitException =>
            val np = latestVersion
            val nc = commitAt(np)
            // FULL-ENTRY survival: a winner that swapped a deletion
            // vector onto a file we read kept the path but changed its
            // rows — rebasing our rewrite over it would resurrect the
            // winner's deletes. Entry inequality forces the recompute.
            val survived = c.files.toSet.subsetOf(nc.files.toSet)
            val addedFiles = nc.files.filterNot(f =>
              c.files.map(_.path).toSet.contains(f.path))
            val addedConflict =
              cowSplit(TableCommit(np, 0, "", nc.schema, addedFiles),
                batch, keys)._1.nonEmpty
            if (survived && !addedConflict && nc.schema == c.schema) {
              base = np // rebase: splice our rewrite onto the winner
            } else {
              rebasing = false // recompute against the new snapshot
              recomputes += 1
              if (recomputes > GraftTable.MaxConflictRetries) throw e
            }
        }
      }
    }
    0L // unreachable
  }

  /** Publish version `parent+1` with the given FULL file list. Atomic
    * create-if-absent via hard-link (see class doc); throws
    * [[ConcurrentCommitException]] if another writer took that version.
    *
    * Every commit CARRIES FORWARD the parent's cumulative app→batch txn
    * map (plus this commit's own `txn` marker), so the streaming sink's
    * idempotency lookup is one manifest read regardless of history depth;
    * a parent from before the map existed pays a one-time O(versions)
    * fold to seed it. `partitionCols` likewise inherits from the parent
    * unless the caller overrides (table creation). */
  def commit(parent: Long, operation: String, files: Seq[ManifestFile],
             schema: StructType, txn: Option[(String, Long)] = None,
             partitionCols: Option[Seq[String]] = None,
             columnMapping: Option[Map[String, String]] = None,
             constraints: Option[Map[String, String]] = None,
             narrowNullability: Boolean = false): Long = {
    logDir.mkdirs()
    val version = parent + 1
    val parentCommit = if (parent == 0) None else Some(commitAt(parent))
    // WRITER protocol gate (the second half of Delta's reader/writer
    // version split): a table whose features demand a newer WRITER than
    // this code — e.g. CHECK constraints a pre-constraint writer would
    // silently stop enforcing — refuses the commit loudly while reads
    // keep working (reads are gated separately by formatVersion).
    parentCommit.foreach { pc =>
      require(pc.minWriterVersion <= GraftTable.MaxWriterVersion,
        s"table $root requires writer version ${pc.minWriterVersion}; " +
          s"this writer supports <= ${GraftTable.MaxWriterVersion} — " +
          "upgrade the writer before mutating this table")
    }
    val parentTxns: Map[String, Long] = parentCommit match {
      case None => Map.empty
      case Some(pc) => pc.txns.getOrElse {
        // pre-upgrade parent: rebuild the map from retained history once
        versions.filter(_ <= parent).sorted.foldLeft(Map.empty[String, Long]) {
          (m, v) => commitAt(v).txn.fold(m) { case (a, b) => m.updated(a, b) }
        }
      }
    }
    val newTxns = txn.foldLeft(parentTxns) { case (m, (a, b)) =>
      m.updated(a, math.max(b, m.getOrElse(a, Long.MinValue)))
    }
    val effPartitionCols =
      partitionCols.getOrElse(parentCommit.map(_.partitionCols).getOrElse(Seq.empty))
    // the logical→physical column mapping inherits like partitionCols:
    // only an ALTER (rename/drop/add) ever overrides it
    val effMapping =
      columnMapping.getOrElse(parentCommit.map(_.columnMapping).getOrElse(Map.empty))
    // CHECK constraints inherit the same way: only add/dropConstraint
    // ever overrides the carried map
    val effConstraints =
      constraints.getOrElse(parentCommit.map(_.constraints).getOrElse(Map.empty))
    // NULLABILITY WIDENS, never narrows: the committed file list usually
    // carries files written under the PARENT schema, so a batch whose own
    // schema is narrower (e.g. a literal-valued column, nullable=false)
    // must not narrow the table — a non-nullable declaration over files
    // that DO hold nulls makes downstream unsafe projections skip the
    // null check and read garbage (observed: a null Hive partition value
    // surfacing as 0 through the streaming source). nullable=true is
    // always a sound claim; the widening is a no-op for rewrites that
    // pass the parent schema through.
    // fields under a DECLARED NOT NULL (paired nn_<col> constraint):
    // every committed row was validated or guard-checked, so the flag
    // survives any batch frame's own nullability — the one exception to
    // the widening rule below
    val declaredNotNull: Set[String] = effConstraints.keySet
      .filter(_.startsWith("nn_")).map(_.stripPrefix("nn_"))
    val effSchema = parentCommit match {
      // a VALIDATED nullability tightening (setNotNull / the catalog's
      // UpdateColumnNullability, both of which scan for nulls first) is
      // the one legitimate narrowing — it opts out of the widening guard
      case Some(_) if narrowNullability => schema
      case Some(pc) => StructType(schema.fields.map { f =>
        pc.schema.find(_.name == f.name) match {
          case Some(pf) =>
            // a batch narrower than the table's WIDENED type never
            // narrows the declaration back — its files read under the
            // wide type by the same upcast as every pre-widening file
            val typed =
              if (pf.dataType == f.dataType) f
              else if (GraftTable.widensTo(f.dataType, pf.dataType)) pf
              else f
            typed.copy(nullable =
              if (declaredNotNull.contains(f.name)) false
              else f.nullable || pf.nullable)
          case _ => f
        }
      })
      case None => schema
    }
    val node = mapper.createObjectNode()
    // Writers stamp the MINIMUM protocol revision the manifest's features
    // need (Delta's protocol action): 3 only when an entry carries a
    // deletion vector or the schema is column-mapped — otherwise the
    // table stays readable by rev-2 readers.
    node.put("formatVersion",
      if (files.exists(_.dv.isDefined) || effMapping.nonEmpty) 3 else 2)
    node.put("version", version)
    node.put("parent", parent)
    node.put("operation", operation)
    // Commit timestamp, ADJUSTED MONOTONE (Delta's in-commit-timestamp
    // rule: max(now, parent + 1 ms)): clock skew between writers can
    // never make a later version carry an earlier timestamp, so
    // TIMESTAMP AS OF resolution is a well-defined binary search and
    // "the version at v1's own timestamp" is v1, never its successor.
    node.put("timestampMs", parentCommit
      .map(pc => math.max(System.currentTimeMillis(), pc.timestampMs + 1))
      .getOrElse(System.currentTimeMillis()))
    node.put("schemaJson", effSchema.json)
    txn.foreach { case (app, batch) =>
      node.put("txnApp", app); node.put("txnBatch", batch): Unit
    }
    locally {
      val to = node.putObject("txns")
      newTxns.toSeq.sortBy(_._1).foreach { case (a, b) => to.put(a, b): Unit }
    }
    if (effPartitionCols.nonEmpty) {
      val pa = node.putArray("partitionCols")
      effPartitionCols.foreach(c => pa.add(c): Unit)
    }
    if (effMapping.nonEmpty) {
      val cm = node.putObject("columnMapping")
      effMapping.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p): Unit }
    }
    if (effConstraints.nonEmpty) {
      val cn = node.putObject("constraints")
      effConstraints.toSeq.sortBy(_._1).foreach { case (n0, e) => cn.put(n0, e): Unit }
      // enforcing writers required from here on (dropping the LAST
      // constraint drops the requirement again — the field is derived
      // from the features actually present, like formatVersion)
      node.put("minWriterVersion", 2): Unit
    }
    // Delta-encode when it is both SMALLER than the full list and
    // replayable to the EXACT committed state (order included) — a
    // whole-table rewrite (overwrite/compact/zorder) or a reordering
    // caller inlines the full list instead, which also resets the delta
    // chain. Commit IO is thereby O(churn) on the hot mutation paths
    // (append, streaming sink, COW merge) and never worse than today's
    // O(files) elsewhere.
    val delta: Option[(Seq[ManifestFile], Seq[String])] = parentCommit.flatMap { pc =>
      val parentByPath = pc.files.map(f => f.path -> f).toMap
      val filePaths = files.map(_.path).toSet
      // Carried = IDENTICAL to the parent's entry, full-entry equality —
      // a same-path entry with changed metadata (refreshed stats, a new
      // deletion vector) is churn, encoded remove(path) + add(entry), so
      // replay reproduces the exact committed entries, never a silently
      // reverted parent copy.
      val add = files.filterNot(f => parentByPath.get(f.path).contains(f))
      val addPaths = add.map(_.path).toSet
      val remove = pc.files.map(_.path)
        .filter(p => !filePaths.contains(p) || addPaths.contains(p))
      val removeSet = remove.toSet
      val replayed = pc.files.filterNot(f => removeSet.contains(f.path)) ++ add
      if (add.size + remove.size < files.size && replayed == files)
        Some((add, remove))
      else None
    }
    delta match {
      case Some((add, remove)) =>
        writeEntries(node.putArray("add"), add)
        val ra = node.putArray("remove")
        remove.foreach(p => ra.add(p): Unit)
      case None =>
        writeEntries(node.putArray("files"), files)
    }
    val tmp = new File(logDir, s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp.toPath, mapper.writeValueAsBytes(node))
    val target = manifestPath(version)
    try {
      // link(2): atomically binds the fully-written content to the version
      // name, failing iff the name exists — the whole concurrency story.
      Files.createLink(target.toPath, tmp.toPath)
      cachePut(version, files)
      writeHint(version)
      // Periodic sidecar checkpoint (Delta's 10-commit cadence): bounds
      // every reader's delta-chain walk. Written AFTER the atomic commit
      // point — a crash here just leaves a longer (still bounded) chain
      // until the next cadence hit or vacuum materializes one.
      if (version % GraftTable.CheckpointInterval == 0 && delta.isDefined)
        writeCheckpoint(version, files)
      version
    } catch {
      case _: FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"version $version of $root was committed by another writer " +
            s"(parent snapshot $parent is stale); re-read and retry")
    } finally {
      Files.deleteIfExists(tmp.toPath): Unit
    }
  }

  /** Serialize manifest file entries into a JSON array — shared by the
    * commit writer (`files`/`add`) and checkpoint writer. */
  private def writeEntries(arr: com.fasterxml.jackson.databind.node.ArrayNode,
                           fs: Seq[ManifestFile]): Unit = fs.foreach { f =>
    val o = arr.addObject(); o.put("path", f.path); o.put("rows", f.rows)
    if (f.bytes >= 0) o.put("bytes", f.bytes): Unit
    f.dv.foreach { d => o.put("dv", d); o.put("dvRows", f.dvRows): Unit }
    if (f.stats.nonEmpty) {
      val so = o.putObject("stats")
      f.stats.toSeq.sortBy(_._1).foreach { case (col, s) =>
        val co = so.putObject(col)
        co.put("kind", s.kind); co.put("min", s.min); co.put("max", s.max)
        if (s.nulls >= 0) co.put("nulls", s.nulls): Unit
      }
    }
    if (f.partition.nonEmpty) {
      val po = o.putObject("partition")
      f.partition.toSeq.sortBy(_._1).foreach { case (k, v) => po.put(k, v): Unit }
    }
  }

  /** Publish the full file list of `version` as a sidecar checkpoint —
    * an idempotent, purely derived artifact (same atomic create-if-absent
    * as manifests; losing the race to an identical twin is a no-op). */
  private def writeCheckpoint(version: Long, files: Seq[ManifestFile]): Unit = {
    val node = mapper.createObjectNode()
    node.put("version", version)
    writeEntries(node.putArray("files"), files)
    val tmp = new File(logDir, s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp.toPath, mapper.writeValueAsBytes(node))
    try Files.createLink(ckptPath(version).toPath, tmp.toPath)
    catch { case _: FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp.toPath): Unit
  }

  /** The latest commit's column mapping (empty before the first commit
    * or on unmapped tables). Writers fetch it once before writing data —
    * a mapping that changes mid-race is still safe: physical names are
    * stable under RENAME, ADD introduces fresh names, and DROP leaves
    * extra physical columns that readers project out. */
  private def currentMapping: Map[String, String] = {
    val v = latestVersion
    if (v == 0) Map.empty else commitAt(v).columnMapping
  }

  /** The constraint map writers must enforce (the latest commit's — a
    * constraint added mid-race is picked up by the loser's retry; one
    * added between our fetch and our commit is enforced from the NEXT
    * write, Delta's own weak spot for racing ALTERs). */
  private def currentConstraints: Map[String, String] = {
    val v = latestVersion
    if (v == 0) Map.empty else commitAt(v).constraints
  }


  /** Enforce the table's CHECK constraints INSIDE the write pass (Delta's
    * `CheckDeltaInvariant` shape, round-14 advice): the returned frame
    * carries a row-level guard — TRUE or NULL passes (ANSI CHECK, the
    * mirror of WHERE), FALSE raises from the task that would have written
    * the row. One evaluation, on the exact rows being written: a
    * nondeterministic input (rand(), current_timestamp, an unstable
    * LIMIT) can no longer pass a separate validation job and then commit
    * different rows, and constrained writes stop paying a second pass
    * over the batch. The raise surfaces through [[writeData]] as
    * [[GraftTable.ConstraintViolationException]] with the violating row
    * rendered as JSON. */
  private def enforceConstraints(df: DataFrame,
      cs: Map[String, String]): DataFrame = {
    if (cs.isEmpty) return df
    val guard = cs.toSeq.sortBy(_._1).map { case (n, s) =>
      when(coalesce(expr(s), lit(true)), lit(true))
        .otherwise(raise_error(concat(
          lit(s"${GraftTable.ConstraintSentinel}: $n CHECK ($s) on row "),
          to_json(struct(df.columns.map(col).toSeq: _*)))).cast("boolean"))
    }.reduce(_ && _)
    df.filter(guard)
  }

  /** Post-hoc validation of ALREADY-WRITTEN files against constraints
    * that appeared AFTER the files were validated (a lost commit race to
    * a concurrent ADD CONSTRAINT, round-14 advice): the retry loops call
    * this before rebasing so `addConstraint`'s "all existing data
    * validated" invariant survives the race. Rare path — one scan of the
    * just-written batch, never the table. */
  private def revalidateFiles(files: Seq[ManifestFile], schema: StructType,
      added: Map[String, String], mapping: Map[String, String]): Unit = {
    if (added.isEmpty || files.isEmpty) return
    val df = readFiles(schema, files, mapping)
    added.toSeq.sortBy(_._1).foreach { case (n, s) =>
      val bad = df.filter(coalesce(expr(s), lit(true)) === false).limit(3).collect()
      if (bad.nonEmpty)
        throw new GraftTable.ConstraintViolationException(
          s"write to $root rejected — CHECK constraint $n ($s) was added " +
            s"concurrently and the batch violates it, e.g. ${bad.mkString(", ")}")
    }
  }

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` (Delta table
    * constraints): validates the EXISTING table once — a constraint that
    * doesn't hold today must be fixed, not recorded — then commits the
    * name→expression pair as table metadata, zero data IO beyond that
    * one scan. Every subsequent write on every path (append, streaming
    * sink, merge, update post-images, SQL DML) enforces it; the manifest
    * raises `minWriterVersion` so a pre-constraint writer refuses to
    * mutate the table instead of silently eroding the invariant. */
  def addConstraint(name: String, exprSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    withConflictRetry { (parent, c) =>
      require(!c.constraints.contains(name),
        s"constraint $name already exists on $root (${c.constraints(name)})")
      val e = expr(exprSql)
      val probe = read(parent).select(e.as("__c"))
      require(probe.schema.head.dataType ==
        org.apache.spark.sql.types.BooleanType,
        s"CHECK expression must be BOOLEAN, got " +
          s"${probe.schema.head.dataType.simpleString}: $exprSql")
      val bad = read(parent).filter(coalesce(e, lit(true)) === false)
        .limit(3).collect()
      if (bad.nonEmpty)
        throw new GraftTable.ConstraintViolationException(
          s"cannot add CHECK constraint $name ($exprSql) to $root — " +
            s"existing rows violate it, e.g. ${bad.mkString(", ")}")
      commit(parent, "add_constraint", c.files, c.schema,
        constraints = Some(c.constraints + (name -> exprSql)))
    }
  }

  /** Drop a CHECK constraint — metadata-only commit; dropping the last
    * one lowers `minWriterVersion` back (derived, not sticky). */
  def dropConstraint(name: String): Long = {
    require(!name.startsWith("nn_") ||
        !commitAt(latestVersion).schema.fieldNames.contains(name.stripPrefix("nn_")) ||
        commitAt(latestVersion).schema.find(_.name == name.stripPrefix("nn_")).forall(_.nullable),
      s"$name pairs with a declared NOT NULL — use setNotNull('" +
        name.stripPrefix("nn_") + "', notNull = false) / CALL set_not_null")
    withConflictRetry { (parent, c) =>
      require(c.constraints.contains(name),
        s"no constraint $name on $root (have: ${c.constraints.keys.toSeq.sorted.mkString(", ")})")
      commit(parent, "drop_constraint", c.files, c.schema,
        constraints = Some(c.constraints - name))
    }
  }

  /** Append-only commit. Appends commute, so a lost race is resolved by
    * rebasing the same new files onto the new latest manifest and retrying
    * — no user data is re-read or re-written. */
  def append(df: DataFrame, operation: String = "append"): Long = {
    var csUsed = currentConstraints
    val mapUsed = currentMapping
    val newFiles = writeData(enforceConstraints(df, csUsed), mapping = mapUsed)
    var attempt = 0
    while (true) {
      val parent = latestVersion
      val base = if (parent == 0) Seq.empty else commitAt(parent).files
      // a constraint added since the files were validated (lost race to a
      // concurrent ADD CONSTRAINT, or the fetch/commit window itself):
      // re-validate the written files against the NEW constraints before
      // committing them — addConstraint's "all data validated" invariant
      // must survive the rebase (round-14 advice)
      val nowCs = if (parent == 0) Map.empty[String, String]
                  else commitAt(parent).constraints
      if (nowCs != csUsed) {
        revalidateFiles(newFiles, df.schema,
          nowCs.filterNot { case (k, v) => csUsed.get(k).contains(v) }, mapUsed)
        csUsed = nowCs
      }
      try return commit(parent, operation, base ++ newFiles, df.schema)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > 32) throw e
      }
    }
    0L // unreachable
  }

  /** Hive-partitioned append: the batch lands in `k=v` calendar layout
    * (the reference's curated-table shape, yyyy/mm/dd), each file's
    * partition values are recorded in the manifest, and a day-slice read
    * prunes to that day's files from ONE manifest JSON — no MSCK, no
    * directory listing, no S3 LIST (the metadata path the reference
    * needs Glue's `MSCK REPAIR TABLE` + catalog for). Same append-commute
    * retry as [[append]]. `df` must carry the partition columns; they are
    * reconstructed from the path segments at read time
    * ([[readFiles]] basePath groups) and pruned on in [[pruneFiles]] and
    * the DSv2 scan. */
  def appendPartitioned(df: DataFrame, partitionBy: Seq[String],
                        operation: String = "append_partitioned"): Long = {
    require(partitionBy.nonEmpty, "appendPartitioned requires partition columns")
    // each spec's SOURCE column must exist (a transform derives its own value)
    val srcs = GraftTable.PartTransform.parseAll(partitionBy).map(_.source)
    require(srcs.forall(df.columns.contains),
      s"missing partition source columns: ${srcs.filterNot(df.columns.contains)}")
    var csUsed = currentConstraints
    val mapUsed = currentMapping
    val newFiles = writeData(enforceConstraints(df, csUsed), partitionBy, mapUsed)
    var attempt = 0
    while (true) {
      val parent = latestVersion
      val base = if (parent == 0) Seq.empty else commitAt(parent).files
      val nowCs = if (parent == 0) Map.empty[String, String]
                  else commitAt(parent).constraints
      if (nowCs != csUsed) { // see append: constraint added since validation
        revalidateFiles(newFiles, df.schema,
          nowCs.filterNot { case (k, v) => csUsed.get(k).contains(v) }, mapUsed)
        csUsed = nowCs
      }
      try return commit(parent, operation, base ++ newFiles, df.schema,
        partitionCols = Some(partitionBy))
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > 32) throw e
      }
    }
    0L // unreachable
  }

  /** Latest batch id this application has committed, if any. Resolved
    * from the LATEST manifest's cumulative txn map — one manifest read
    * per micro-batch regardless of how deep the version history runs
    * (Delta's checkpoint-carried `setTransactions` lookup). Pre-upgrade
    * tables (no map yet) fall back to the newest-first manifest scan;
    * their next commit seeds the map and retires the scan. */
  def lastCommittedBatch(appId: String): Option[Long] = {
    val v = latestVersion
    if (v == 0) return None
    commitAt(v).txns match {
      case Some(m) => m.get(appId)
      case None =>
        versions.sorted.reverse.iterator
          .map(pv => commitAt(pv).txn)
          .collectFirst { case Some((app, batch)) if app == appId => batch }
    }
  }

  /** EXACTLY-ONCE streaming append: commit the micro-batch as a table
    * version carrying `(appId, batchId)` in the manifest; replaying a
    * batch id the app has already committed is a NO-OP (returns the
    * current version, writes nothing). This is the table-format half of
    * streaming exactly-once: Structured Streaming's checkpoint replays a
    * crashed batch with the SAME batch id, and the txn marker makes the
    * replay idempotent — the same protocol Delta's streaming sink uses
    * (txn action + idempotent writes), replacing the file-sink
    * `_spark_metadata` log and unifying the stream's transaction log with
    * the table's (streaming commits time-travel like any other version).
    *
    * Batch ids must arrive monotonically per app (Structured Streaming
    * guarantees this from one checkpoint); the guard is `>=`, so any
    * replayed prefix no-ops. The replay check runs BEFORE data is written
    * — a recognized replay costs one manifest read, zero IO; the racing
    * re-check inside the commit loop closes the window where a zombie
    * twin of the same query commits between our check and our commit
    * (the loser's files are unreferenced orphans, swept by [[vacuum]]). */
  def idempotentAppend(df: DataFrame, appId: String, batchId: Long,
                       operation: String = "stream_append"): Long = {
    if (lastCommittedBatch(appId).exists(_ >= batchId)) return latestVersion
    var csUsed = currentConstraints
    val mapUsed = currentMapping
    val newFiles = writeData(enforceConstraints(df, csUsed), mapping = mapUsed)
    var attempt = 0
    while (true) {
      val parent = latestVersion
      if (lastCommittedBatch(appId).exists(_ >= batchId)) return parent
      val base = if (parent == 0) Seq.empty else commitAt(parent).files
      val nowCs = if (parent == 0) Map.empty[String, String]
                  else commitAt(parent).constraints
      if (nowCs != csUsed) { // see append: constraint added since validation
        revalidateFiles(newFiles, df.schema,
          nowCs.filterNot { case (k, v) => csUsed.get(k).contains(v) }, mapUsed)
        csUsed = nowCs
      }
      try return commit(parent, operation, base ++ newFiles, df.schema,
        txn = Some((appId, batchId)))
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > 32) throw e
      }
    }
    0L // unreachable
  }

  /** Schema-evolving append (Delta `mergeSchema`): commit the UNION of the
    * table's current schema and the batch's — existing data files are
    * untouched (columns they lack read as null under the wider manifest
    * schema, standard parquet missing-column semantics), the batch is
    * aligned to the union column order before writing, and earlier
    * versions keep their own narrower schema (time travel reads each
    * version with the schema it committed). Columns added to a table
    * that already has files are committed nullable, as catalog ADD
    * COLUMNS does: those files have no value for them, and a reader that
    * trusts NOT NULL reads 0 where the batch read gives null. Only
    * ADDITIVE evolution is accepted — a batch column whose name exists
    * with a different type is refused, because silently coercing types is
    * how production lakehouse tables rot. */
  def appendEvolve(df: DataFrame, operation: String = "append_evolve"): Long = {
    var attempt = 0
    var written: Option[(Seq[ManifestFile], StructType)] = None
    var csUsed: Map[String, String] = Map.empty
    var mapUsed: Map[String, String] = Map.empty
    while (true) {
      val parent = latestVersion
      val base = if (parent == 0) Seq.empty else commitAt(parent).files
      val baseSchema =
        if (parent == 0) new StructType() else commitAt(parent).schema
      val conflicts = df.schema.filter(f =>
        baseSchema.find(_.name == f.name).exists(_.dataType != f.dataType))
      require(conflicts.isEmpty,
        s"appendEvolve refuses type changes on ${conflicts.map(_.name).mkString(", ")}")
      val added = df.schema.fields
        .filterNot(f => baseSchema.fieldNames.contains(f.name))
        .map(f => if (base.isEmpty) f else f.copy(nullable = true))
      val merged = StructType(baseSchema.fields ++ added)
      // align the batch to the union: missing table columns become nulls
      val aligned = df.select(merged.fields.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
      // On a COLUMN-MAPPED table, newly-added logical columns get FRESH
      // physical names: a re-added name that was ever dropped must not
      // resurrect the dropped column's bytes from old files (Delta's
      // column-mapping re-add rule). Unmapped tables keep identity.
      val baseMapping =
        if (parent == 0) Map.empty[String, String]
        else commitAt(parent).columnMapping
      val addedMapping =
        if (baseMapping.isEmpty) Map.empty[String, String]
        else added.map(f => f.name -> s"${f.name}-${UUID.randomUUID().toString.take(8)}")
          .toMap
      val newMapping = baseMapping ++ addedMapping
      // write once; a lost race rebases the same files (schema re-merged
      // against the new parent — unions are associative, so this is safe)
      val nowCs = if (parent == 0) Map.empty[String, String]
                  else commitAt(parent).constraints
      val files = written match {
        case Some((fs, s)) if s == merged =>
          if (nowCs != csUsed) { // see append: constraint added since validation
            revalidateFiles(fs, merged,
              nowCs.filterNot { case (k, v) => csUsed.get(k).contains(v) }, mapUsed)
            csUsed = nowCs
          }
          fs
        case _ =>
          csUsed = nowCs
          mapUsed = newMapping
          val fs = writeData(enforceConstraints(aligned, csUsed),
            mapping = newMapping)
          written = Some((fs, merged)); fs
      }
      try return commit(parent, operation, base ++ files, merged,
        columnMapping = if (newMapping.isEmpty) None else Some(newMapping))
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > 32) throw e
      }
    }
    0L // unreachable
  }

  /** Full-snapshot replace (CTAS-into-version / merge result commit).
    * Single attempt from the caller's `parent` snapshot: replacing content
    * does NOT commute with concurrent writes, so a lost race must surface
    * — the caller re-runs its transformation against the new snapshot.
    * `partitionBy` keeps a partitioned table's Hive layout through the
    * replace (empty = flat files; the table's declared partitionCols
    * metadata carries forward either way). */
  def overwrite(df: DataFrame, parent: Long, operation: String,
                partitionBy: Seq[String] = Seq.empty,
                txn: Option[(String, Long)] = None): Long = {
    val (m, cs) = if (parent == 0)
        (Map.empty[String, String], Map.empty[String, String])
      else { val c = commitAt(parent); (c.columnMapping, c.constraints) }
    commit(parent, operation,
      writeData(enforceConstraints(df, cs), partitionBy, m), df.schema,
      txn = txn)
  }

  /** Transactional keep-latest upsert (MERGE last-writer-wins): union the
    * parent snapshot with `batch`, keep one row per key (first under
    * `ordering` — pass desc columns for "latest"), commit as `parent+1`.
    *
    * Because the snapshot's files are immutable, the merge plan reads them
    * while the new files are written — no checkpoint staging, and a block
    * lost mid-write recomputes from files that still exist (the
    * non-transactional dynamic-overwrite path had to stage a durable copy
    * first; see [[graft.upsert.KeepLatest.upsertPartitions]]). One shuffle
    * on the key columns, exactly like the pure-query form.
    *
    * COPY-ON-WRITE: only files whose footer key-range intersects the
    * batch's keys are read and rewritten ([[cowSplit]]); every other file
    * is carried into the new manifest by reference — bytes merged scale
    * with the BATCH, not the table. Requires (and preserves) the MERGE
    * invariant that the parent snapshot holds at most one row per key —
    * true for any table maintained through this method (the merge itself
    * keeps one row per key) or built from a keep-latest base. A parent
    * with duplicate keys OUTSIDE the batch would keep those duplicates
    * (the old full-union form incidentally deduped them; Delta MERGE
    * likewise treats a multi-match target as an error, not a cleanup). */
  def upsertKeepLatest(batch: DataFrame, keys: Seq[String],
                       ordering: Seq[Column]): Long =
    mergeWithRetry("upsert_keep_latest", batch, keys) { (c, touched) =>
      KeepLatest.keepLatest(
        readFiles(c.schema, touched, c.columnMapping).unionByName(batch),
        keys, ordering)
    }

  /** Replace-by-key merge — ANSI `MERGE INTO ... WHEN MATCHED THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *` semantics (the shape
    * [[GraftMergeRule]] lowers): target rows whose key appears in the
    * batch are replaced by the batch row, all other target rows survive,
    * unmatched batch rows insert. Unlike [[upsertKeepLatest]] no ordering
    * arbitrates — the batch wins unconditionally (the caller guarantees a
    * key-unique batch, MERGE's cardinality precondition; NULL keys never
    * match, so a null-keyed batch row inserts — exactly ANSI equality).
    *
    * MERGE-ON-READ by default (Delta's DV-based MERGE): when the matched
    * target rows are a small fraction of the candidate files' rows, their
    * positions become deletion-vector swaps and the batch appends as new
    * files ([[mergeViaDv]]) — the commit writes O(batch) + O(matched
    * positions), rewriting ZERO grazed files. A dense merge falls back to
    * the copy-on-write plan: same COW candidate pruning, conflict rebase,
    * and one keyed shuffle (a broadcastable anti-join of touched rows
    * against the batch keys + union) — either way a SQL merge on a
    * 100-TB table costs O(batch), never O(table). */
  def mergeUpsert(batch: DataFrame, keys: Seq[String],
                  dvMode: String = "auto"): Long =
    (if (!mayUseDv(dvMode)) None
     else withConflictRetry { (parent, c) =>
       mergeViaDv(parent, c, batch, keys, cowSplit(c, batch, keys)._1, dvMode)
     }).getOrElse( // dense merge (or dvMode off): copy-on-write
      mergeWithRetry("merge_upsert", batch, keys) { (c, touched) =>
        val b = batch.select(c.schema.fieldNames.map(col).toSeq: _*)
        readFiles(c.schema, touched, c.columnMapping)
          .join(b.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(b)
      })

  /** The conflict-retry driver behind DELETE, UPDATE, merge-on-read
    * MERGE and the metadata commits: resolve the latest snapshot, run
    * `attempt` on it, and after a lost commit race run it again on the
    * winner's snapshot — deletes, vector swaps and metadata changes don't
    * commute with arbitrary concurrent writes — at most
    * [[GraftTable.MaxConflictRetries]] times. */
  private def withConflictRetry[T](attempt: (Long, TableCommit) => T): T = {
    var conflicts = 0
    while (true) {
      val parent = latestVersion
      try return attempt(parent, commitAt(parent))
      catch {
        case e: ConcurrentCommitException =>
          conflicts += 1
          if (conflicts > GraftTable.MaxConflictRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Validate a DML `dvMode` — "auto" (merge-on-read when the matched set
    * is sparse), "force" (merge-on-read up to the driver bound) or "off"
    * (copy-on-write) — and answer whether merge-on-read may run. */
  private def mayUseDv(dvMode: String): Boolean = {
    require(Set("auto", "off", "force")(dvMode),
      s"dvMode must be auto|off|force, got $dvMode")
    dvMode != "off"
  }

  /** DELETE/UPDATE candidates in `c`: the files [[pruneFiles]] keeps for
    * the filter `cond` implies, and the rest, which carry by reference. */
  private def dmlCandidates(c: TableCommit, cond: Option[Column])
      : (Seq[ManifestFile], Seq[ManifestFile]) = {
    val filter = cond.fold(FileFilter())(GraftFilterRanges.of(spark, c.schema, _))
    val keep = pruneFiles(c.version, filter).map(_.path).toSet
    c.files.partition(f => keep(f.path))
  }

  /** Merge-on-read MERGE: one distributed semi-join of the candidate
    * files' rows (existing vectors applied) against the batch's distinct
    * keys harvests the positions of every SUPERSEDED target row; those
    * become deletion-vector swaps and the whole batch — replacements and
    * inserts alike — appends as new files. NULL-keyed target rows never
    * match the semi-join (they survive) and NULL-keyed batch rows append
    * (they insert): ANSI equality falls out of the join semantics, not a
    * special case. An empty matched set is still a valid merge — a pure
    * insert, appended at zero swap cost. Returns None when
    * [[dvSwapEntries]]' bounds pick copy-on-write (a batch replacing most
    * of its candidates' rows should rewrite them, not vector them). */
  private def mergeViaDv(parent: Long, c: TableCommit, batch: DataFrame,
      keys: Seq[String], touched: Seq[ManifestFile],
      dvMode: String): Option[Long] = {
    val fp = col(GraftTable.DvFileCol)
    val ri = col(GraftTable.DvRowCol)
    val b = batch.select(c.schema.fieldNames.map(col).toSeq: _*)
    val matched = applyDvIfAny(
      readFilesRaw(c.schema, touched, withMeta = true, c.columnMapping), touched)
      .join(b.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .select(fp, ri)
    val nMatched = matched.count()
    val swapped =
      if (nMatched == 0) Map.empty[String, ManifestFile]
      else dvSwapEntries(matched, touched, dvMode, nMatched)
        .getOrElse(return None)
    val newFiles = writeData(enforceConstraints(b, c.constraints),
      c.partitionCols, c.columnMapping)
    Some(commit(parent, "merge_dv",
      swapDvFiles(c.files, swapped) ++ newFiles, c.schema))
  }

  /** Row-level DELETE (SQL `DELETE FROM t WHERE cond`, via
    * [[GraftSparkTable]]'s SupportsDelete): candidate files are the ones
    * [[pruneFiles]] keeps for the filter `cond` itself implies — the
    * filter a pushed scan predicate would get — and ONLY those are read
    * back; every provably-unmatched file rides into the new manifest by
    * reference. A scattered delete records deletion vectors
    * ([[deleteViaDv]]), a dense one rewrites the kept rows
    * ([[deleteViaCow]]). A row deletes iff `cond` is TRUE (NULL keeps
    * it — ANSI WHERE semantics via the negated coalesce). */
  def deleteWhere(cond: Column, dvMode: String = "auto"): Long = {
    val dv = mayUseDv(dvMode)
    withConflictRetry { (parent, c) =>
      val (touched, carried) = dmlCandidates(c, Some(cond))
      (if (dv && touched.nonEmpty) deleteViaDv(parent, c, cond, touched, dvMode)
       else None).getOrElse(deleteViaCow(parent, c, cond, touched, carried))
    }
  }

  /** Copy-on-write DELETE: candidate files are read (through their
    * existing deletion vectors) and their KEPT rows rewritten; unmatched
    * files carry by reference. The pre-DV behavior, and the fallback when
    * the matched set is too large for a vector to pay off. */
  private def deleteViaCow(parent: Long, c: TableCommit, cond: Column,
      touched: Seq[ManifestFile], carried: Seq[ManifestFile]): Long = {
    val kept = readFiles(c.schema, touched, c.columnMapping)
      .filter(!coalesce(cond, lit(false)))
    commit(parent, "delete",
      carried ++ writeData(kept, c.partitionCols, c.columnMapping), c.schema)
  }

  /** Merge-on-read DELETE (Delta's deletion vectors): instead of
    * rewriting candidate files, record the MATCHED ROW POSITIONS in
    * per-file sidecar vectors and swap the manifest entries — commit IO
    * is O(deleted rows), not O(touched files' bytes), which is the whole
    * point when a daily retention DELETE touches a sliver of every file.
    *
    * One distributed pass over the candidate files (their existing
    * vectors applied first, so a re-delete of an already-deleted row is
    * impossible by construction) evaluates the predicate and aggregates
    * matched positions per file; the per-file position lists return to
    * the driver — bounded by [[GraftTable.DvMaxDeleteRows]], checked
    * with a COUNT before any collect — merge with any existing vector
    * (positions are physical-file offsets, so the union is a sorted
    * merge of disjoint sets), and publish as new immutable sidecars.
    * Untouched candidates and carried files ride unchanged; the
    * delta-encoded log records each swapped entry as remove+add churn.
    *
    * Returns None when auto mode decides copy-on-write wins: matched
    * rows exceed the absolute driver bound, or exceed
    * [[GraftTable.DvMaxDeleteFraction]] of the candidates' physical
    * rows (mostly-dead files should be rewritten, not deferred).
    * `force` skips the fraction test but never the driver bound. */
  private def deleteViaDv(parent: Long, c: TableCommit, cond: Column,
      touched: Seq[ManifestFile], dvMode: String): Option[Long] = {
    val fp = col(GraftTable.DvFileCol)
    val ri = col(GraftTable.DvRowCol)
    val matched = applyDvIfAny(
      readFilesRaw(c.schema, touched, withMeta = true, c.columnMapping), touched)
      .filter(coalesce(cond, lit(false)))
      .select(fp, ri)
    val nMatched = matched.count()
    if (nMatched == 0)
      return Some(commit(parent, "delete_noop", c.files, c.schema))
    dvSwapEntries(matched, touched, dvMode, nMatched).map { updated =>
      commit(parent, "delete_dv", swapDvFiles(c.files, updated), c.schema)
    }
  }

  /** Shared merge-on-read position harvest behind DELETE/UPDATE/MERGE:
    * aggregate the matched `(file, row-position)` pairs into per-file
    * MERGED deletion-vector manifest entries. `matched` must carry only
    * the DV metadata columns and must already have the candidates'
    * existing vectors applied (so positions are fresh by construction and
    * the per-file union is a sorted merge of disjoint sets).
    *
    * Returns None when the bounds say copy-on-write wins: matched rows
    * exceed the absolute driver bound ([[GraftTable.DvMaxDeleteRows]] —
    * positions transit the driver), or in auto mode exceed
    * [[GraftTable.DvMaxDeleteFraction]] of the candidates' physical rows
    * (mostly-dead files should rewrite, not defer the rewrite to every
    * future scan). `force` skips the fraction test, never the bound. */
  private def dvSwapEntries(matched: DataFrame, touched: Seq[ManifestFile],
      dvMode: String, nMatched: Long): Option[Map[String, ManifestFile]] = {
    val session = spark
    import session.implicits._
    val fp = col(GraftTable.DvFileCol)
    val ri = col(GraftTable.DvRowCol)
    val physRows = touched.map(_.rows).sum.toDouble
    if (nMatched > GraftTable.DvMaxDeleteRows ||
        (dvMode == "auto" && nMatched > GraftTable.DvMaxDeleteFraction * physRows))
      return None
    val perFile: Map[String, Array[Long]] = matched
      .groupBy(fp).agg(sort_array(collect_list(ri)).as("ris"))
      .as[(String, Seq[Long])].collect()
      .map { case (p, rs) => p -> rs.toArray }.toMap
    // resolve absolute scan paths back to manifest entries (suffix match,
    // driver-side, O(matched files × candidates) over small lists)
    Some(perFile.map { case (scanPath, fresh) =>
      val entry = touched.find(f => scanPath.endsWith(f.path)).getOrElse(
        throw new IllegalStateException(s"matched file $scanPath not in candidate set"))
      val mergedIdx = entry.dv match {
        case None => fresh
        case Some(old) =>
          // disjoint by construction (existing vector was applied before
          // the predicate ran) — a two-pointer merge keeps them sorted
          val a = GraftTable.readDv(absPath(old))
          val out = new Array[Long](a.length + fresh.length)
          var i = 0; var j = 0; var k = 0
          while (i < a.length && j < fresh.length) {
            if (a(i) < fresh(j)) { out(k) = a(i); i += 1 }
            else { out(k) = fresh(j); j += 1 }
            k += 1
          }
          while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
          while (j < fresh.length) { out(k) = fresh(j); j += 1; k += 1 }
          out
      }
      entry.path -> entry.copy(
        dv = Some(GraftTable.writeDv(root, mergedIdx)),
        dvRows = mergedIdx.length.toLong)
    })
  }

  /** Splice DV-swapped entries into a commit's file list. Swapped entries
    * move to the tail so the delta-encoded replay (carry-forward ++ add)
    * reproduces the committed order exactly. */
  private def swapDvFiles(files: Seq[ManifestFile],
      updated: Map[String, ManifestFile]): Seq[ManifestFile] =
    files.filterNot(f => updated.contains(f.path)) ++
      files.flatMap(f => updated.get(f.path))

  /** [[applyDv]] when only SOME of the files carry vectors — the mixed
    * candidate set a second DELETE sees. */
  private def applyDvIfAny(df: DataFrame, files: Seq[ManifestFile]): DataFrame = {
    val dvd = files.filter(_.dv.isDefined)
    if (dvd.isEmpty) df else applyDv(df, dvd)
  }

  /** Row-level UPDATE (SQL `UPDATE t SET c = e WHERE cond`, lowered by
    * [[GraftMergeRule]]): same COW candidate selection as [[deleteWhere]],
    * and the same auto merge-on-read decision — a SMALL scattered update
    * (a backfill touching a sliver of every file) records deletion
    * vectors over the superseded rows and appends ONLY the post-image
    * rows ([[updateViaDv]] — Delta's DV-based UPDATE, commit IO
    * O(updated rows)); a dense update falls back to copy-on-write:
    * touched files rewrite with each assigned column wrapped in
    * `CASE WHEN cond THEN new ELSE old` (NULL condition keeps the old
    * value — ANSI), cast back to the column's declared type so the table
    * schema never drifts. */
  def updateWhere(assignments: Seq[(String, Column)], cond: Option[Column],
                  dvMode: String = "auto"): Long = {
    val dv = mayUseDv(dvMode)
    withConflictRetry { (parent, c) =>
      val (touched, carried) = dmlCandidates(c, cond)
      (if (dv && touched.nonEmpty)
         updateViaDv(parent, c, assignments, cond, touched, dvMode)
       else None).getOrElse(
        updateViaCow(parent, c, assignments, cond, touched, carried))
    }
  }

  /** Copy-on-write UPDATE: candidate files rewrite wholesale with the
    * conditional assignments applied in place. The pre-DV behavior, and
    * the fallback when the matched set is dense. */
  private def updateViaCow(parent: Long, c: TableCommit,
      assignments: Seq[(String, Column)], cond: Option[Column],
      touched: Seq[ManifestFile], carried: Seq[ManifestFile]): Long = {
    val assignMap = assignments.toMap
    val updated = readFiles(c.schema, touched, c.columnMapping)
      .select(c.schema.fields.map { fld =>
        assignMap.get(fld.name) match {
          case Some(e) =>
            val applied = cond match {
              case Some(p) => when(coalesce(p, lit(false)), e).otherwise(col(fld.name))
              case None => e
            }
            applied.cast(fld.dataType).as(fld.name)
          case None => col(fld.name)
        }
      }.toSeq: _*)
    val newFiles = writeData(enforceConstraints(updated, c.constraints),
      c.partitionCols, c.columnMapping)
    commit(parent, "update", carried ++ newFiles, c.schema)
  }

  /** Merge-on-read UPDATE: one distributed pass over the candidate files
    * (existing vectors applied first) finds the rows where `cond` is TRUE;
    * their positions become deletion-vector swaps ([[dvSwapEntries]]) and
    * their POST-IMAGE rows — the assignments applied unconditionally,
    * every surviving row here matched — append as new files. Untouched
    * candidates and carried files ride by reference, so a scattered
    * backfill commits O(updated rows) bytes instead of rewriting every
    * grazed file. Returns None when the bounds pick copy-on-write. */
  private def updateViaDv(parent: Long, c: TableCommit,
      assignments: Seq[(String, Column)], cond: Option[Column],
      touched: Seq[ManifestFile], dvMode: String): Option[Long] = {
    val fp = col(GraftTable.DvFileCol)
    val ri = col(GraftTable.DvRowCol)
    val raw = applyDvIfAny(
      readFilesRaw(c.schema, touched, withMeta = true, c.columnMapping), touched)
    val matched = cond match {
      case Some(p) => raw.filter(coalesce(p, lit(false)))
      case None => raw
    }
    // persisted: the matched slice feeds BOTH the position harvest and the
    // post-image write — O(matched rows), the same budget as the vectors
    matched.persist()
    try {
      val nMatched = matched.count()
      if (nMatched == 0)
        return Some(commit(parent, "update_noop", c.files, c.schema))
      val updated = dvSwapEntries(matched.select(fp, ri), touched, dvMode, nMatched)
        .getOrElse(return None)
      val assignMap = assignments.toMap
      val post = matched.select(c.schema.fields.map { fld =>
        assignMap.get(fld.name) match {
          case Some(e) => e.cast(fld.dataType).as(fld.name)
          case None => col(fld.name)
        }
      }.toSeq: _*)
      val newFiles = writeData(enforceConstraints(post, c.constraints),
        c.partitionCols, c.columnMapping)
      Some(commit(parent, "update_dv",
        swapDvFiles(c.files, updated) ++ newFiles, c.schema))
    } finally matched.unpersist()
  }

  /** Transactional CDC apply: merge an insert/update/delete change batch
    * (op column: 'D' deletes the key, anything else upserts the row) into
    * the table state. Per key only the last change under `ordering`
    * decides; a surviving upsert keeps its payload, a trailing delete
    * removes the key. Existing state rows count as older upserts. Batches
    * ordered by time compose: applying two half-streams in order equals
    * applying the whole stream (TableFormatSpec asserts this). Same single
    * keyed shuffle as [[upsertKeepLatest]] — the delete filter is
    * row-local after the window.
    *
    * COPY-ON-WRITE like [[upsertKeepLatest]]: candidate files come from
    * ALL change keys — deletes included, since removing a key means
    * rewriting the file that holds it — and state files outside the
    * batch's key-range ride into the new manifest untouched. */
  def cdcApply(changes: DataFrame, keys: Seq[String], ordering: Seq[Column],
               opCol: String = "op"): Long =
    mergeWithRetry("cdc_apply", changes, keys) { (c, touched) =>
      val state = readFiles(c.schema, touched, c.columnMapping)
        .withColumn(opCol, lit("U"))
      KeepLatest
        .keepLatest(state.unionByName(changes), keys, ordering)
        .filter(col(opCol) =!= "D")
        .drop(opCol)
    }

  /** Transactional SCD Type-2 merge: fold a batch of attribute-change rows
    * into a versioned-history table with [valid_from, valid_to) ranges and
    * an `is_current` flag. The batch must be strictly later (under
    * (`tsCol`, `tieCols`) order) than all history — the normal time-ordered
    * merge cadence. Incremental by construction: closed history rows pass
    * through untouched; each touched key's CURRENT row is closed at the
    * key's first batch timestamp; batch rows window among themselves. Cost
    * is one window shuffle over the BATCH plus a broadcastable join of
    * current rows against the touched-key list — never a re-window of the
    * full history (at 100 TB the history dwarfs any day's batch). Produces
    * exactly the rows a full-history lead() window would (TableFormatSpec
    * asserts equality), which is why `upsert_scd2`'s oracle is unchanged
    * by routing through this path. */
  def scd2Apply(batch: DataFrame, keys: Seq[String], tsCol: String,
                tieCols: Seq[String]): Long = {
    import org.apache.spark.sql.expressions.Window
    // COW: only files that can hold a touched key's rows are rewritten.
    // Closed rows pass through the merge logic unchanged anyway, so the
    // only rows that MUST be visible to it are touched keys' current rows
    // — and those live in `touched` by the stats-soundness guarantee.
    // Untouched-key rows inside touched files flow through the
    // !is_current / untouchedCurrent branches byte-equal.
    mergeWithRetry("scd2_apply", batch, keys) { (c, touched) =>
      val history = readFiles(c.schema, touched, c.columnMapping)
      val orderCols = (tsCol +: tieCols).map(col)
      val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
      val newRows = batch
        .withColumn("valid_to", lead(col(tsCol), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .withColumnRenamed(tsCol, "valid_from")
      // First batch timestamp per touched key = the valid_to that closes
      // the key's current row. min(ts) suffices: valid_to stores only ts.
      val firstTs = batch.groupBy(keys.map(col): _*)
        .agg(min(col(tsCol)).as("__batch_from"))
      val current = history.filter(col("is_current"))
      val closed = current.join(broadcast(firstTs), keys)
        .withColumn("valid_to", col("__batch_from"))
        .withColumn("is_current", lit(false))
        .drop("__batch_from")
      val untouchedCurrent = current.join(broadcast(firstTs), keys, "left_anti")
      history.filter(!col("is_current"))
        .unionByName(closed)
        .unionByName(untouchedCurrent)
        .unionByName(newRows.select(history.columns.map(col): _*))
    }
  }

  /** Bin-packed small-file compaction — the physical rewrite behind the
    * `layout_compaction` assignment plan, run on the MANIFEST's per-file
    * row counts (no data file is opened to plan). Streaming first-fit in
    * manifest order: a file lands in output bin floor(rows-before-it /
    * targetRows) — the same assignment law `layout_compaction` materializes
    * at micro-batch grain. Each bin's files are read once and rewritten as
    * one file; the commit replaces the file list, and every PRIOR version
    * still reads its original small files (immutability makes compaction a
    * background op that never blocks or corrupts readers). Bins are
    * independent and run CONCURRENTLY — each bin is one read+write job
    * submitted from a bounded driver pool, which is exactly how Delta's
    * OPTIMIZE schedules its bins (a thread pool of per-bin jobs: Spark's
    * scheduler interleaves their tasks across the cluster, so the wall
    * clock is total-bytes/cluster-throughput, not sum-of-bins). Results
    * commit in deterministic bin order regardless of completion order. */
  def compact(targetRows: Long, maxConcurrentBins: Int = 8): Long =
    compactWhere(targetRows, Seq.empty, Seq.empty, maxConcurrentBins)

  /** SCOPED compaction — `OPTIMIZE t WHERE <scope>` (Delta/Iceberg's
    * partition-scoped rewrite): only files whose partition values or
    * footer stats CAN satisfy every range are rewritten; everything else
    * carries into the new manifest by reference, zero bytes moved. This
    * is what keeps maintenance O(touched partition) on a 100-TB
    * date-partitioned table — the nightly OPTIMIZE hits yesterday's
    * partition, not the table. The scope test is [[fileMayMatch]] —
    * pessimistic, so an over-matched file is rewritten (harmless:
    * compaction is content-preserving), never skipped when in scope. */
  def compactWhere(targetRows: Long,
                   ranges: Seq[(String, BigDecimal, BigDecimal)],
                   strRanges: Seq[(String, Option[String], Option[String])] = Seq.empty,
                   maxConcurrentBins: Int = 8,
                   targetBytes: Long = 0L): Long = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val parent = latestVersion
    val c = commitAt(parent)
    val (scoped, carried) = c.files.partition(f =>
      fileMayMatch(f, FileFilter(ranges, strRanges), c.columnMapping))
    // Bin by BYTES when asked (targetBytes > 0) — the production OPTIMIZE
    // target is a file SIZE (~1 GB), not a row count, and the manifests
    // carry each file's on-disk bytes since round 14 (entries without one
    // estimate from rows × in-memory width, an overestimate that can only
    // split bins early, never overfill them). Row binning remains for
    // callers that reason in rows (the layout_compaction assignment law).
    val width = math.max(1, c.schema.defaultSize)
    def weight(f: ManifestFile): Long =
      if (targetBytes <= 0) f.rows
      else if (f.bytes >= 0) f.bytes else f.rows * width
    val target = if (targetBytes > 0) targetBytes else targetRows
    val cumBefore = scoped.scanLeft(0L)(_ + weight(_))
    val bins = scoped.zip(cumBefore).groupBy { case (_, before) => before / target }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrentBins, bins.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = bins.toSeq.sortBy(_._1).map { case (_, group) =>
        Future {
          // read through readFiles so deletion vectors apply — compaction
          // is what MATERIALIZES vectors away (the rewritten file holds
          // only live rows, and its fresh entry carries no dv); a
          // partitioned table keeps its Hive layout (and manifest
          // partition values) through the rewrite
          writeData(readFiles(c.schema, group.map(_._1), c.columnMapping)
            .coalesce(1), c.partitionCols, c.columnMapping)
        }
      }
      val newFiles = futures.flatMap(Await.result(_, Duration.Inf))
      commit(parent, "compact", carried ++ newFiles, c.schema)
    } finally pool.shutdown()
  }

  /** Z-order clustering rewrite — the physical rewrite behind the
    * `layout_zorder` bucket-bounds plan (Delta/Iceberg `OPTIMIZE ZORDER
    * BY`): order the table by the Morton interleave of two scan dimensions
    * and split it into `nFiles` contiguous z-ranges
    * (`repartitionByRange` + `sortWithinPartitions`), so every output
    * file's footer min/max bounds a small hyper-rectangle in (x, y) space
    * and scans on EITHER dimension prune files (TableFormatSpec asserts
    * the z-ranges are disjoint). One range shuffle; prior versions keep
    * the old layout. */
  def zorderBy(x: Column, y: Column, nFiles: Int): Long =
    zorderWhere(x, y, nFiles, Seq.empty)

  /** SCOPED z-order — `OPTIMIZE t WHERE <scope> ZORDER BY (x, y)`: only
    * in-scope files (partition values / footer stats vs the ranges) are
    * re-clustered into `nFiles` z-range files; out-of-scope files carry
    * by reference. The nightly pattern at 100 TB: z-order yesterday's
    * partition as it closes, O(partition) not O(table). */
  def zorderWhere(x: Column, y: Column, nFiles: Int,
                  ranges: Seq[(String, BigDecimal, BigDecimal)],
                  strRanges: Seq[(String, Option[String], Option[String])] = Seq.empty): Long = {
    val parent = latestVersion
    val c = commitAt(parent)
    val (scoped, carried) = c.files.partition(f =>
      fileMayMatch(f, FileFilter(ranges, strRanges), c.columnMapping))
    val df = readFiles(c.schema, scoped, c.columnMapping)
      .withColumn("__z", graft.rel.Layout.morton(x, y).cast("long"))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commit(parent, "zorder",
      carried ++ writeData(df, mapping = c.columnMapping), c.schema)
  }

  /** Roll the table back (or forward) to the CONTENT of `version` by
    * committing a new version whose file list is that snapshot's — Delta
    * `RESTORE TABLE ... TO VERSION AS OF`. History is preserved: the
    * restore is itself a commit (time travel into the undone range still
    * works until vacuum), data files are shared by reference (zero bytes
    * copied — restored files are usually still live, so the delta log
    * encodes the restore as churn), and a concurrent writer surfaces as
    * the usual [[ConcurrentCommitException]]. */
  def restoreTo(version: Long): Long = {
    val target = commitAt(version)
    commit(latestVersion, s"restore_v$version", target.files, target.schema,
      partitionCols = Some(target.partitionCols),
      columnMapping = Some(target.columnMapping))
  }

  /** PARTITION EVOLUTION (Iceberg's `ALTER TABLE ... WRITE ORDERED/
    * PARTITIONED BY` role, which Hive-layout Delta lacks): change the
    * DECLARED partition columns for FUTURE writes with one zero-IO
    * metadata commit — no rewrite of history. Each manifest entry
    * already carries its OWN partition values, so a mixed-era table
    * prunes per file: old-era files fall back to their footer stats for
    * the new key (sound — [[fileMayMatch]] treats a missing partition
    * value as "consult stats"), new-era files prune on their directory
    * values, and rewrites land under whatever layout is declared at
    * rewrite time. Empty `cols` = back to unpartitioned. */
  def setPartitioning(cols: Seq[String]): Long = {
    withConflictRetry { (parent, c) =>
      GraftTable.PartTransform.parseAll(cols).foreach { t =>
        val f = c.schema.find(_.name == t.source).getOrElse(throw
          new IllegalArgumentException(s"cannot partition by unknown column ${t.source}"))
        t match {
          case _: GraftTable.DaysTransform =>
            require(f.dataType == org.apache.spark.sql.types.DateType ||
              f.dataType == org.apache.spark.sql.types.TimestampNTZType ||
              f.dataType == org.apache.spark.sql.types.TimestampType,
              s"days(${t.source}) needs a date/timestamp column, " +
                s"got ${f.dataType.simpleString}")
          case _: GraftTable.BucketTransform =>
            require(Seq("bigint", "int", "string")
              .contains(f.dataType.simpleString),
              s"bucket(n, ${t.source}) needs an integral or string column, " +
                s"got ${f.dataType.simpleString}")
          case _ => ()
        }
      }
      commit(parent, "set_partitioning", c.files, c.schema,
        partitionCols = Some(cols))
    }
  }

  /** NOT NULL column constraint (round-15 verdict task 4, Delta's column
    * invariants): `notNull=true` validates the EXISTING table once — a
    * column that is null today must be fixed, not declared — then flips
    * the schema's nullable flag in one zero-IO metadata commit; every
    * write path enforces it from then on (the flag rides the CHECK
    * machinery: write-pass guard, racing-ALTER revalidation).
    * `notNull=false` relaxes, metadata-only. Spark's SQL analyzer
    * refuses `ALTER COLUMN ... SET NOT NULL` on v2 tables outright
    * (it cannot validate data), so the SQL spelling is
    * `CALL <cat>.system.set_not_null(tbl, col[, value])`; `DROP NOT
    * NULL` works through plain ALTER TABLE. */
  def setNotNull(colName: String, notNull: Boolean = true): Long = {
    withConflictRetry { (parent, c) =>
      require(c.schema.fieldNames.contains(colName),
        s"no such column $colName on $root")
      if (notNull) {
        val bad = read(parent).filter(col(colName).isNull).limit(3).collect()
        if (bad.isEmpty) () // clean — declare
        else throw new GraftTable.ConstraintViolationException(
          s"cannot SET NOT NULL on $root.$colName — existing rows are " +
            s"null, e.g. ${bad.mkString(", ")}")
      }
      // the DECLARED flag flips in the schema AND materializes as a
      // stored paired constraint — enforcement (write-pass guard,
      // racing-ALTER revalidation, writer-version protocol) rides the
      // CHECK machinery; an INCIDENTAL nullable=false from a creating
      // batch's frame is NOT enforced (NULL-key merges against such
      // tables are long-standing ANSI semantics here)
      val schema2 = StructType(c.schema.fields.map(x =>
        if (x.name == colName) x.copy(nullable = !notNull) else x))
      val cs2 =
        if (notNull) c.constraints +
          (GraftTable.notNullConstraintName(colName) -> s"`$colName` IS NOT NULL")
        else c.constraints - GraftTable.notNullConstraintName(colName)
      commit(parent, "set_nullability", c.files, schema2,
        constraints = Some(cs2), narrowNullability = true)
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): create a
    * new table at `destRoot` whose first commit REFERENCES this table's
    * data files (and deletion-vector sidecars) by ABSOLUTE path — zero
    * bytes copied, one metadata commit, whatever the source size. The
    * clone then evolves independently: its own commit log, its own
    * mutations (COW rewrites and DV swaps land under the clone's `data/`,
    * source bytes are never touched), its own retention — the standard
    * zero-cost way to pin a 100-TB training corpus for an experiment and
    * mutate the copy. Schema, partition columns, column mapping, and
    * CHECK constraints all carry. `compact()` on the clone materializes
    * it into a self-contained table (every reference rewritten local).
    *
    * Caveat (exactly Delta's): vacuuming the SOURCE can reclaim files a
    * shallow clone still references — the clone's own vacuum only ever
    * sweeps files under its own root, so it can never damage the source,
    * but source retention must outlive the clone or the clone must
    * compact first. */
  def cloneTo(destRoot: String, version: Long = -1L): GraftTable = {
    val v = if (version < 0) latestVersion else version
    require(v > 0, s"no graft table log at $root")
    val c = commitAt(v)
    val srcRoot = new File(root).getAbsolutePath
    def abs(p: String) = if (new File(p).isAbsolute) p else s"$srcRoot/$p"
    val dest = new GraftTable(spark, destRoot)
    require(dest.latestVersion == 0,
      s"cloneTo: a graft table already exists at $destRoot")
    val entries = c.files.map(f => f.copy(path = abs(f.path), dv = f.dv.map(abs)))
    dest.commit(0, s"clone_v$v", entries, c.schema,
      partitionCols = Some(c.partitionCols),
      columnMapping = Some(c.columnMapping),
      constraints = Some(c.constraints))
    dest
  }

  /** Force-publish the latest version's sidecar checkpoint (idempotent) —
    * the ops hook for bounding reader chains without waiting for the
    * cadence, e.g. right before handing a table to many cold readers. */
  def checkpoint(): Long = {
    val v = latestVersion
    require(v > 0, s"no graft table log at $root")
    writeCheckpoint(v, commitAt(v).files)
    v
  }

  /** What [[vacuum]] WOULD delete, without deleting anything — the ops
    * dry run every destructive retention command needs (Delta's
    * `VACUUM ... DRY RUN`). Returns table-relative paths: the manifests
    * and checkpoints below the retention boundary, every unreferenced,
    * age-eligible data/sidecar file, every bloom registry that would lose
    * its last live entry, and every unreferenced, age-eligible bloom
    * sidecar. Pure read — no boundary checkpoint is materialized, no temp
    * files land. [[vacuum]] applies exactly this sweep. */
  def vacuumPlan(retainFrom: Long,
                 minAgeMs: Long = GraftTable.DefaultVacuumMinAgeMs): Seq[String] = {
    val s = sweep("vacuumPlan", retainFrom, minAgeMs)
    val base = new File(root).toPath
    (s.log ++ s.data ++ s.registries.collect { case (reg, _, kept) if kept.isEmpty => reg } ++
      s.sidecars).map(f => base.relativize(f.toPath).toString)
  }

  /** Reclaim data files referenced by NO retained version: drop manifests
    * below `retainFrom`, then delete any file under `data/` absent from
    * every surviving manifest (this also sweeps orphans from crashed or
    * conflict-losing writers). Time travel below `retainFrom` is gone
    * afterwards — the usual lakehouse retention trade. The sweep is
    * [[vacuumPlan]]'s, computed once and then applied.
    *
    * `minAgeMs` is the in-flight-writer guard (Delta's vacuum retention
    * window): an UNCOMMITTED writer's freshly-written files are, by
    * construction, referenced by no manifest — indistinguishable from
    * crash orphans by the log alone. Age disambiguates: an unreferenced
    * file younger than the horizon may belong to a merge that is about to
    * commit, so it survives; older than any plausible write duration, it
    * is garbage. Without the guard, vacuum racing a live writer deletes
    * files the writer's imminent commit will reference — a manifest
    * pointing at deleted data, i.e. silent data loss. Pass `0` only when
    * the caller can assert exclusive access (tests, offline maintenance). */
  def vacuum(retainFrom: Long, minAgeMs: Long = GraftTable.DefaultVacuumMinAgeMs): Unit = {
    val s = sweep("vacuum", retainFrom, minAgeMs)
    // The oldest retained version must stay RESOLVABLE after the chain
    // below it is dropped: if it is a delta manifest with no sidecar,
    // materialize its checkpoint first (from the still-intact chain).
    versions.find(_ >= retainFrom).foreach { oldest =>
      val raw = readRaw(oldest)
      if (raw.full.isEmpty && !ckptPath(oldest).exists())
        writeCheckpoint(oldest, filesAt(oldest, raw))
    }
    s.log.foreach(f => Files.deleteIfExists(f.toPath): Unit)
    s.data.foreach(_.delete(): Unit)
    s.registries.foreach { case (reg, physCol, kept) =>
      if (kept.isEmpty) Files.deleteIfExists(reg.toPath): Unit
      else writeBloomRegistry(physCol, kept)
    }
    s.sidecars.foreach(_.delete(): Unit)
    bloomFilterCache.clear()
  }

  /** Compute the [[GraftTable.VacuumSweep]] read-only. Live set = union
    * of every retained snapshot; since snapshots are (oldest retained) +
    * (files some retained step ADDED), the union folds straight over the
    * raw manifests — O(oldest + churn), never O(versions × files)
    * snapshot reconstructions. Unreferenced files younger than the
    * `minAgeMs` horizon survive (see [[vacuum]]). */
  private def sweep(op: String, retainFrom: Long,
                    minAgeMs: Long): GraftTable.VacuumSweep = {
    // Typo guard: a retainFrom above the latest version would find no
    // boundary, drop EVERY manifest, compute an empty live set, and
    // delete all data — total silent table destruction from one bad
    // argument to the SQL-exposed vacuum procedure. Refuse loudly.
    val latest = latestVersion
    require(retainFrom <= latest,
      s"$op(retainFrom=$retainFrom) exceeds the latest version $latest " +
        s"of $root — retaining nothing would destroy the table")
    val (dropped, retained) = versions.partition(_ < retainFrom)
    val log = dropped.flatMap(v => Seq(manifestPath(v), ckptPath(v))).filter(_.exists())
    val live = scala.collection.mutable.HashSet.empty[String]
    def mark(f: ManifestFile): Unit = { live += f.path; f.dv.foreach(live += _) }
    retained.headOption.foreach(v => commitAt(v).files.foreach(mark))
    retained.drop(1).foreach { v =>
      val r = readRaw(v)
      r.full.getOrElse(r.add).foreach(mark)
    }
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val horizon = System.currentTimeMillis() - minAgeMs
    val base = new File(root).toPath
    val data = walk(new File(root, "data")).filter { f =>
      (f.getName.endsWith(".parquet") || f.getName.endsWith(".dv")) &&
        !live.contains(base.relativize(f.toPath).toString) && f.lastModified() <= horizon
    }
    // Bloom-index hygiene: registry entries for files no retained version
    // references go (their data is swept), then every sidecar no kept
    // entry references — both the dropped ones and any .bf a crashed
    // index run leaked before its registry move (age-gated like data).
    val idx = Option(indexDir.listFiles()).getOrElse(Array.empty).toSeq
    val referenced = scala.collection.mutable.HashSet.empty[String]
    val registries = idx
      .filter(f => f.getName.startsWith("bloom-") && f.getName.endsWith(".json"))
      .flatMap { reg =>
        val physCol = reg.getName.stripPrefix("bloom-").stripSuffix(".json")
        val (kept, lost) = bloomRegistry(physCol).partition { case (p, _) => live.contains(p) }
        referenced ++= kept.values.map(r => new File(root, r).getName)
        if (lost.nonEmpty) Some((reg, physCol, kept)) else None
      }
    val sidecars = idx.filter(f => f.getName.endsWith(".bf") &&
      !referenced.contains(f.getName) && f.lastModified() <= horizon)
    GraftTable.VacuumSweep(log, data, registries, sidecars)
  }
}

object GraftTable {

  /** The commit-log directory under a table root; its presence is what
    * makes a directory a graft table ([[isTable]]). */
  private val LogDirName = "_graft_log"

  /** Whether a graft table lives at `root` (its commit log exists). */
  def isTable(root: String): Boolean = new File(root, LogDirName).isDirectory

  /** How many lost commit races a DML, merge or metadata commit re-runs
    * before it rethrows the [[ConcurrentCommitException]]. */
  private[table] val MaxConflictRetries = 8

  /** One vacuum sweep: the log files below the boundary, unreferenced
    * data and deletion-vector files, the bloom registries that lose
    * entries as `(registry, column, kept entries)` (no kept entries =
    * delete the registry), and bloom sidecars no kept entry references. */
  private final case class VacuumSweep(log: Seq[File], data: Seq[File],
      registries: Seq[(File, String, Map[String, String])], sidecars: Seq[File])

  /** Default vacuum in-flight-writer horizon: no single write job should
    * take a day; anything unreferenced AND older is safe to sweep. */
  val DefaultVacuumMinAgeMs: Long = 24L * 3600 * 1000

  /** JVM-wide LRU of RESOLVED snapshots (see [[GraftTable.commitAt]]).
    * Small on purpose: one entry can hold a whole manifest's file list;
    * 16 live tables × their hot version is what a driver process needs. */
  private val commitCache =
    new java.util.LinkedHashMap[(String, Long), (String, TableCommit)](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (String, TableCommit)]): Boolean =
        size() > 16
    }

  /** Identity triple of a manifest file rendered as a string — size,
    * mtime, and the filesystem's file key (inode): equal iff it is the
    * SAME written file. Null when unreadable (missing file: no caching,
    * the parse path raises its own error). */
  private def manifestIdentity(f: java.io.File): String =
    try {
      val a = java.nio.file.Files.readAttributes(
        f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes])
      s"${a.size}|${a.lastModifiedTime.toMillis}|${a.fileKey}"
    } catch { case _: java.io.IOException => null }

  /** Hive's rendered partition value for NULL — a file under this
    * directory holds NULL in the partition column, which no range bound
    * can reason about. */
  val HiveNullPartition: String = "__HIVE_DEFAULT_PARTITION__"

  /** Name of the paired CHECK constraint a declared NOT NULL stores. */
  private[table] def notNullConstraintName(col: String): String = s"nn_$col"

  /** Iceberg-style PARTITION TRANSFORM (hidden partitioning, round-15
    * verdict task 3): the manifest's `partitionCols` may carry
    * `days(col)` / `bucket(n, col)` specs alongside plain identity
    * column names. The WRITER derives the partition value from the
    * source column (the user never materializes a `yyyy/mm/dd` — what
    * the reference hand-derives at `glue/job_wiki_curate.py:38-40`);
    * data files keep the SOURCE column in their pages, the derived
    * value exists only as the `k=v` directory / manifest partition
    * entry; the READER prunes raw-source predicates by inverting the
    * transform against the recorded value ([[GraftTable.pruneFiles]]).
    */
  sealed trait PartTransform {
    /** The spec string as stored in the manifest. */
    def spec: String
    /** Source (logical) column the value derives from. */
    def source: String
    /** Partition-directory key the derived value lands under. */
    def name: String
    /** Writer-side derivation. */
    def derive(c: Column): Column
  }
  final case class IdentityTransform(source: String) extends PartTransform {
    def spec: String = source
    def name: String = source
    def derive(c: Column): Column = c
  }
  /** Day granularity: `to_date(col)` — UTC-faithful for DATE and
    * TIMESTAMP_NTZ sources (the engine's timestamp domain). */
  final case class DaysTransform(source: String) extends PartTransform {
    def spec: String = s"days($source)"
    def name: String = s"${source}_day"
    def derive(c: Column): Column = org.apache.spark.sql.functions.to_date(c)
  }
  /** Hash bucketing: `pmod(hash(col), n)` (Spark's Murmur3, seed 42) —
    * the layout that makes POINT lookups on a hash-distributed key prune
    * to 1/n of the files with zero sidecars. */
  final case class BucketTransform(n: Int, source: String) extends PartTransform {
    def spec: String = s"bucket($n,$source)"
    def name: String = s"${source}_bucket"
    def derive(c: Column): Column = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(c), org.apache.spark.sql.functions.lit(n))
  }
  object PartTransform {
    private val DaysRe = """days\(\s*([\w]+)\s*\)""".r
    private val BucketRe = """bucket\(\s*(\d+)\s*,\s*([\w]+)\s*\)""".r
    def parse(spec: String): PartTransform = spec.trim match {
      case DaysRe(c) => DaysTransform(c)
      case BucketRe(n, c) =>
        require(n.toInt > 0, s"bucket count must be positive: $spec")
        BucketTransform(n.toInt, c)
      case s if s.nonEmpty && !s.contains("(") => IdentityTransform(s)
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform '$other' — " +
          "supported: <col>, days(<col>), bucket(<n>, <col>)")
    }
    def parseAll(specs: Seq[String]): Seq[PartTransform] = specs.map(parse)

    /** The bucket a point value lands in — must agree BIT-FOR-BIT with
      * the writer's `pmod(hash(col), n)`, so it evaluates the same
      * Murmur3Hash expression on a literal of the COLUMN's type.
      * None = value not renderable in the type (no pruning). */
    def bucketOf(value: Any, dt: DataType, n: Int): Option[Int] = scala.util.Try {
      val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(value, dt)
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(lit), 42)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int]
      ((h % n) + n) % n
    }.toOption
  }

  /** Highest manifest `formatVersion` this reader understands (Delta's
    * protocol-action role): 1 = full-list manifests, 2 = delta-encoded
    * add/remove churn, 3 = entries may carry deletion vectors. Writers
    * stamp the MINIMUM version their manifest's features require, so old
    * readers keep working until a table actually uses a newer feature —
    * and then fail loudly in [[GraftTable#readRaw]] instead of misparsing. */
  val MaxFormatVersion: Int = 3

  /** May a parquet file written under `from` be read under `to` without
    * rewriting? The Spark 4 vectorized reader's widening set
    * (SPARK-40876) — the same ladder Delta type widening rides. Every
    * conversion here is exact: integral widenings are embeddings, int32
    * and float embed losslessly in double. */
  def widensTo(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DoubleType) => true
    case (org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.DoubleType) => true
    case (org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DoubleType) => true
    case (org.apache.spark.sql.types.FloatType,
          org.apache.spark.sql.types.DoubleType) => true
    case _ => false
  }

  /** Highest `minWriterVersion` this WRITER satisfies (the other half of
    * Delta's protocol split): 1 = base format, 2 = CHECK constraints
    * (a non-enforcing writer mutating a constrained table would silently
    * erode the invariant — it must refuse instead). Readers ignore this
    * field entirely; reads are gated by `formatVersion` alone. */
  val MaxWriterVersion: Int = 2

  /** A write (or ADD CONSTRAINT validation) found rows that violate a
    * table CHECK constraint. */
  final class ConstraintViolationException(msg: String)
    extends IllegalStateException(msg)

  /** Marker the write-pass constraint guard embeds in its raised message
    * so [[findConstraintViolation]] can recognize a constraint failure
    * inside an aborted write job's cause chain. */
  private[table] val ConstraintSentinel: String =
    "CHECK constraint violation"

  /** Walk an aborted write's cause chain for the constraint guard's
    * raise; returns the per-row message when the failure IS a constraint
    * violation (vs any other task failure). */
  private[table] def findConstraintViolation(e: Throwable): Option[String] = {
    var cur: Throwable = e
    var depth = 0
    while (cur != null && depth < 32) {
      val m = cur.getMessage
      if (m != null && m.contains(ConstraintSentinel)) {
        val i = m.indexOf(ConstraintSentinel)
        return Some(m.substring(i))
      }
      cur = cur.getCause
      depth += 1
    }
    None
  }

  /** Sidecar-checkpoint cadence: every Nth commit publishes its full
    * file list as `v%020d.ckpt.json`, bounding every snapshot
    * resolution to ≤ N small delta reads + one checkpoint read (Delta
    * checkpoints every 10 commits for the same reason). Commits
    * themselves stay O(churn); the checkpoint's O(files) write is
    * amortized 1/N and sits OFF the atomic commit path. */
  val CheckpointInterval: Long = 16L

  /** String-stat truncation width in code points (Delta uses 32): long
    * text columns (the `documents` corpus) still get bounded, sound
    * min/max entries — enough to key-prune merges — without bloating the
    * manifest with document bodies. */
  val StatStringMaxLen: Int = 32

  /** Largest DELETE the merge-on-read path accepts (total matched rows
    * across all candidate files): the positions transit the driver to be
    * written as sidecar vectors, so the bound is a driver-memory guard
    * (~32 MB of longs). Bigger deletes rewrite copy-on-write. */
  val DvMaxDeleteRows: Long = 4L * 1024 * 1024

  /** Auto-mode crossover: if a DELETE matches more than this fraction of
    * its candidate files' physical rows, copy-on-write rewrite wins (the
    * files are mostly dead anyway and a vector would just defer the
    * rewrite to every future scan); below it, a deletion vector costs
    * O(deleted rows) instead of O(touched files) bytes. */
  val DvMaxDeleteFraction: Double = 0.20

  private val DvMagic: Int = 0x47445631 // "GDV1"

  /** Internal metadata column names for DV masking/construction. */
  private[table] val DvFileCol = "__gdv_fp"
  private[table] val DvRowCol = "__gdv_ri"

  /** Write a deletion-vector sidecar: sorted row positions, delta-varint
    * encoded (positions cluster, so gaps are small — a few bytes per
    * deleted row regardless of file size). Returns the table-relative
    * path. Sidecars are immutable like data files: a re-delete writes a
    * NEW merged vector and the manifest entry swaps — old snapshots keep
    * reading the old vector until vacuum. */
  private[table] def writeDv(tableRoot: String, indices: Array[Long]): String = {
    require(indices.nonEmpty, "empty deletion vector")
    val rel = s"data/dv-${UUID.randomUUID()}.dv"
    val f = new File(tableRoot, rel)
    f.getParentFile.mkdirs()
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)))
    try {
      out.writeInt(DvMagic)
      out.writeLong(indices.length.toLong)
      var prev = 0L
      indices.foreach { i =>
        require(i >= prev, "deletion vector must be sorted")
        var d = i - prev
        prev = i
        while ((d & ~0x7fL) != 0L) { out.writeByte(((d & 0x7f) | 0x80).toInt); d >>>= 7 }
        out.writeByte(d.toInt)
      }
    } finally out.close()
    rel
  }

  /** Read a deletion-vector sidecar back to its sorted position array. */
  private[table] def readDv(absPath: String): Array[Long] = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(absPath)))
    try {
      require(in.readInt() == DvMagic, s"not a graft deletion vector: $absPath")
      val n = in.readLong().toInt
      val out = new Array[Long](n)
      var prev = 0L
      var i = 0
      while (i < n) {
        var d = 0L; var shift = 0; var b = 0
        do { b = in.readUnsignedByte(); d |= (b & 0x7fL) << shift; shift += 7 }
        while ((b & 0x80) != 0)
        prev += d
        out(i) = prev
        i += 1
      }
      out
    } finally in.close()
  }

  /** Create a new table at `root` (must not already hold a log) with `df`
    * as version 1. */
  def create(spark: SparkSession, root: String, df: DataFrame,
             operation: String = "create"): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.latestVersion == 0, s"table already exists at $root")
    t.append(df, operation)
    t
  }

  /** Create a new Hive-partitioned table at `root` with `df` as version 1
    * (see [[GraftTable.appendPartitioned]]). */
  def createPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partitionBy: Seq[String],
                        operation: String = "create_partitioned"): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.latestVersion == 0, s"table already exists at $root")
    t.appendPartitioned(df, partitionBy, operation)
    t
  }

  /** Create version 1 as an EMPTY table with the given schema (the start
    * state for a CDC-materialized table, or a SQL `CREATE TABLE`).
    * `partitionCols` declares Hive partition columns for the table's
    * writes (SQL `PARTITIONED BY`); they must exist in the schema. */
  def createEmpty(spark: SparkSession, root: String, schema: StructType,
                  operation: String = "create_empty",
                  partitionCols: Seq[String] = Seq.empty): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.latestVersion == 0, s"table already exists at $root")
    val pSrcs = GraftTable.PartTransform.parseAll(partitionCols).map(_.source)
    require(pSrcs.forall(schema.fieldNames.contains),
      s"partition source columns missing from schema: " +
        s"${pSrcs.filterNot(schema.fieldNames.contains)}")
    t.commit(0L, operation, Seq.empty, schema,
      partitionCols = Some(partitionCols))
    t
  }

  /** Open an existing table. */
  def forPath(spark: SparkSession, root: String): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.latestVersion > 0, s"no graft table log at $root")
    t
  }

  /** Handle for a root that may not exist yet (create-or-open writers —
    * e.g. [[MaterializedAgg]]'s first refresh creates the target). */
  private[table] def handleFor(spark: SparkSession, root: String): GraftTable =
    new GraftTable(spark, root)
}
