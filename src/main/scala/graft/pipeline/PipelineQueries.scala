package graft.pipeline

import graft.{QueryModule, Tables}
import graft.curate.Curate
import graft.upsert.KeepLatest
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline-shaped operators as declared queries (SURVEY.md §2.1):
  * CTAS materialization (S10), keep-latest upsert (S11), and the
  * partition-pruned scan over a curated layout (P8 + S6).
  */
object PipelineQueries extends QueryModule {

  /** S10 — CTAS (`dag/wiki_pipeline_dag.py:29-39`): materialize the daily
    * top-titles aggregate into the session catalog, then query it. DROP +
    * CREATE (rather than IF NOT EXISTS) so re-runs at a different scale
    * factor can't serve stale data; per-run idempotency is the driver's
    * re-run-safety property the reference gets from `IF NOT EXISTS`. */
  private def ctasDailyTopTitles(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir).createOrReplaceTempView("graft_events_src")
    val loc = s"${sys.props("java.io.tmpdir")}/graft_ctas_${ProcessHandle.current.pid}_${sfDir.hashCode.toHexString}"
    deleteRecursively(new java.io.File(loc))
    spark.sql("DROP TABLE IF EXISTS graft_daily_top_titles")
    spark.sql(
      s"""CREATE TABLE graft_daily_top_titles USING PARQUET LOCATION '$loc' AS
         |SELECT CAST(ts AS DATE) AS ds, event_type AS title,
         |       user_id AS editor, count(*) AS edits
         |FROM graft_events_src GROUP BY 1, 2, 3""".stripMargin)
    spark.table("graft_daily_top_titles")
      .orderBy(col("ds"), col("title"), col("editor"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Timestamp splitting the fixture into "already-committed base" and
    * "incoming merge batch" for the table-format-routed upsert family —
    * mid-month, so both halves are substantial at every scale factor. */
  private val MergeCutoff = "2024-01-16"

  private val builtTables = scala.collection.concurrent.TrieMap.empty[(String, String), graft.table.GraftTable]

  /** Build (once per JVM, sfDir) a [[graft.table.GraftTable]] at a fresh
    * tmp location via `build`, so the upsert family's declared queries
    * exercise the REAL transactional write path (immutable data files,
    * manifest commit, snapshot isolation) and the oracle verifies the
    * whole write→read round trip, not just the merge plan. */
  private def builtTable(spark: SparkSession, sfDir: String, tag: String)(
      build: String => graft.table.GraftTable): graft.table.GraftTable =
    builtTables.getOrElseUpdate((sfDir, tag), {
      // collision-free dir per sfDir: hashCode could alias two distinct
      // sfDirs to one path (and the second build would delete the first
      // table's live files) — use a cryptographic digest of the full path
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(sfDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      val dir = s"${sys.props("java.io.tmpdir")}/graft_tbl_${tag}_${ProcessHandle.current.pid}_$digest"
      deleteRecursively(new java.io.File(dir))
      build(dir)
    })

  /** The two-version keep-latest table behind `upsert_keep_latest` and
    * `scan_time_travel`: v1 = keep-latest state of events before
    * [[MergeCutoff]], v2 = transactional upsert of the rest. Equivalent to
    * keep-latest over ALL events (last-writer-wins is associative), which
    * is what the oracle recomputes. */
  private def mergedEventsTable(spark: SparkSession, sfDir: String): graft.table.GraftTable =
    builtTable(spark, sfDir, "kl") { dir =>
      import spark.implicits._
      val keys = Seq("user_id", "event_type")
      val ordering = Seq($"ts".desc, $"event_id".desc)
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      val cut = lit(MergeCutoff).cast("timestamp")
      val base = KeepLatest.keepLatest(ev.filter($"ts" < cut), keys, ordering)
      val t = graft.table.GraftTable.create(spark, dir, base, "create_base")
      t.upsertKeepLatest(ev.filter($"ts" >= cut), keys, ordering)
      t
    }

  /** S11 — keep-latest upsert, routed through the engine-native versioned
    * table format: the declared result is the table's LATEST SNAPSHOT after
    * a real two-commit history (base create + transactional merge commit),
    * so the oracle's keep-latest-over-all-events hash verifies manifest
    * resolution, immutable-file snapshot isolation, and the merge itself
    * end-to-end. */
  private def upsertKeepLatest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mergedEventsTable(spark, sfDir).read()
      .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      .orderBy($"user_id", $"event_type")
  }

  /** S17 — SQL `MERGE INTO` (round-12 verdict task 3): the reference's
    * core mutation is a SQL upsert (`upsert_athena_aggregates.py:87-110`,
    * `INSERT ... ON CONFLICT DO UPDATE` into Postgres); here the SAME
    * statement shape runs against the engine-native table through the
    * catalog — `MERGE INTO <cat>.t USING batch ON keys WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — lowered by
    * [[graft.table.GraftMergeRule]] onto the transactional COPY-ON-WRITE
    * merge (only key-intersecting files rewrite; PlanSpec's COW gates
    * cover the path). Batch rows are all later than the base snapshot, so
    * batch-wins MERGE semantics equal keep-latest over all events — the
    * same oracle as `upsert_keep_latest`, now verifying parser → analyzer
    * rule → command → manifest commit end-to-end. */
  private def upsertMergeSql(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = builtTable(spark, sfDir, "ms") { dir =>
      val keys = Seq("user_id", "event_type")
      val ordering = Seq($"ts".desc, $"event_id".desc)
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      val cut = lit(MergeCutoff).cast("timestamp")
      val base = KeepLatest.keepLatest(ev.filter($"ts" < cut), keys, ordering)
        .repartitionByRange(8, $"user_id")
      val tbl = graft.table.GraftTable.create(spark, dir, base, "create_base")
      val d = new java.io.File(dir)
      spark.conf.set("spark.sql.catalog.graft_ms", classOf[graft.table.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_ms.root", d.getParentFile.getAbsolutePath)
      // MERGE requires a key-unique source (ANSI cardinality) — the
      // batch is the keep-latest of the post-cutoff half
      KeepLatest.keepLatest(ev.filter($"ts" >= cut), keys, ordering)
        .createOrReplaceTempView("graft_merge_batch")
      spark.sql(
        s"""MERGE INTO graft_ms.`${d.getName}` AS t USING graft_merge_batch AS s
           |ON t.user_id = s.user_id AND t.event_type = s.event_type
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      tbl
    }
    t.read()
      .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      .orderBy($"user_id", $"event_type")
  }

  /** S19 — SQL DELETE + UPDATE (row-level DML): the two-commit DML table
    * behind `delete_where_sql` and `update_where_sql`. `DELETE FROM`
    * rides Spark's SupportsDelete into [[graft.table.GraftTable.deleteWhere]];
    * `UPDATE ... SET ... WHERE` lowers through [[graft.table.GraftMergeRule]]
    * to [[graft.table.GraftTable.updateWhere]] — both COPY-ON-WRITE
    * (candidate files from the filter each derives from its WHERE; DataSourceSpec
    * gates carried-path identity), both committing ordinary versions so
    * every pre-DML snapshot stays time-travelable. */
  private def sqlDmlTable(spark: SparkSession, sfDir: String): graft.table.GraftTable =
    builtTable(spark, sfDir, "dml") { dir =>
      import spark.implicits._
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      val tbl = graft.table.GraftTable.create(spark, dir,
        ev.repartitionByRange(8, $"user_id"), "create_base")
      val d = new java.io.File(dir)
      spark.conf.set("spark.sql.catalog.graft_dml", classOf[graft.table.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_dml.root", d.getParentFile.getAbsolutePath)
      spark.sql(s"DELETE FROM graft_dml.`${d.getName}` WHERE event_type = 'error'")
      spark.sql(s"UPDATE graft_dml.`${d.getName}` SET value = value + 1 WHERE user_id < 50")
      // Version 4: a SMALL delete (≈1% of events, spread across every
      // user-clustered file) — the shape where the auto DV decision
      // picks MERGE-ON-READ: the commit writes O(deleted rows) sidecar
      // vectors and swaps manifest entries, rewriting zero data files
      // (ProfDml measured ~5500× fewer bytes than the COW control; the
      // probe was removed: `git show
      // b3a4326:src/main/scala/graft/tools/ProfDml.scala`).
      val maxId = Option(Tables.events(spark, sfDir)
        .agg(max($"event_id")).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val cut = math.floor(maxId / 100.0).toLong
      spark.sql(s"DELETE FROM graft_dml.`${d.getName}` WHERE event_id <= $cut")
      val v4 = tbl.commitAt(4L)
      // zero-row fixtures have no candidates (the empty-events edge):
      // then any delete spelling is fine — with data, the DV path must win
      require(maxId == 0L ||
        Set("delete_dv", "delete_noop")(v4.operation),
        s"expected the deletion-vector path for the 1% delete, got ${v4.operation}")
      // Version 5: a SMALL SCATTERED UPDATE (every 97th event, ≈1% of
      // rows grazing every file — the classic backfill shape) — the auto
      // decision picks MERGE-ON-READ UPDATE: superseded rows become
      // deletion-vector swaps ON TOP of v4's existing vectors (position
      // disjointness under composition) and only the post-image rows
      // append; zero candidate files rewrite.
      spark.sql(s"UPDATE graft_dml.`${d.getName}` SET value = value + 10 " +
        "WHERE event_id % 97 = 0")
      val v5 = tbl.commitAt(5L)
      require(maxId == 0L ||
        Set("update_dv", "update_noop")(v5.operation),
        s"expected the merge-on-read path for the 1% update, got ${v5.operation}")
      tbl
    }

  /** S19a — the snapshot right after the SQL DELETE (version 2): every
    * 'error' event removed, everything else byte-identical. */
  private def deleteWhereSql(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sqlDmlTable(spark, sfDir).read(2L).orderBy($"event_id")
  }

  /** S19b — the snapshot after the SQL UPDATE (version 3): the low-user
    * slice's values bumped, both engines computing the same IEEE double
    * addition. */
  private def updateWhereSql(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sqlDmlTable(spark, sfDir).read(3L).orderBy($"event_id")
  }

  /** S21 — DELETION-VECTOR DELETE (merge-on-read): the snapshot after the
    * small SQL DELETE (version 4), served THROUGH the sidecar vectors —
    * the reader subtracts per-file deleted positions at scan time, so
    * correctness here proves the whole vector round trip (distributed
    * position harvest → varint sidecar → manifest entry swap →
    * metadata-column masking on read) against an oracle that knows
    * nothing but the predicates. */
  private def deleteWhereDv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sqlDmlTable(spark, sfDir).read(4L).orderBy($"event_id")
  }

  /** S21b — MERGE-ON-READ UPDATE (round-14 extension): the snapshot after
    * the scattered 1% SQL UPDATE (version 5), served through BOTH layers
    * of vectors (v4's delete + v5's update swaps) plus the appended
    * post-image files. Correctness proves the whole DV-update round trip
    * — matched-position harvest over already-vectored files, disjoint
    * vector merge, post-image append — against an oracle that recomputes
    * the three DML statements from raw events. */
  private def updateWhereDv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sqlDmlTable(spark, sfDir).read(5L).orderBy($"event_id")
  }

  /** S21c — MERGE-ON-READ MERGE (Delta's DV-based MERGE): a key-unique
    * batch touching ≈2.7% of a keep-latest table's keys — half updates
    * (value bump on every 37th user), half inserts (the same rows under
    * shifted fresh keys) — goes through SQL `MERGE INTO`. The auto
    * decision vectors the superseded target rows and appends ONLY the
    * batch: zero grazed files rewrite, commit IO O(batch), where the
    * copy-on-write plan would rewrite every candidate file the scattered
    * keys graze. The fixture asserts the `merge_dv` operation actually
    * ran; the oracle recomputes keep-latest + CASE bump + shifted clones
    * from raw events. */
  private def upsertMergeDv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = builtTable(spark, sfDir, "md") { dir =>
      val keys = Seq("user_id", "event_type")
      val ordering = Seq($"ts".desc, $"event_id".desc)
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      // HASH layout, not range: the batch's keys graze EVERY file thinly
      // (a handful of superseded rows each) — the scattered shape where
      // vectoring beats rewriting at any scale factor; a range layout
      // would concentrate a tiny fixture's one matching user into one
      // file and trip the mostly-dead fallback
      val base = KeepLatest.keepLatest(ev, keys, ordering).repartition(8)
      val tbl = graft.table.GraftTable.create(spark, dir, base, "create_base")
      val d = new java.io.File(dir)
      spark.conf.set("spark.sql.catalog.graft_md", classOf[graft.table.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_md.root", d.getParentFile.getAbsolutePath)
      val slice = KeepLatest.keepLatest(ev, keys, ordering)
        .filter($"user_id" % 37 === 5)
      slice.withColumn("value", $"value" + 1000d)
        .unionByName(slice.select(($"user_id" + 10000000L).as("user_id"),
          $"event_type", $"event_id", $"ts", ($"value" + 1000d).as("value")))
        .createOrReplaceTempView("graft_merge_dv_batch")
      spark.sql(
        s"""MERGE INTO graft_md.`${d.getName}` AS t USING graft_merge_dv_batch AS s
           |ON t.user_id = s.user_id AND t.event_type = s.event_type
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val v2 = tbl.commitAt(2L)
      require(slice.isEmpty || v2.operation == "merge_dv",
        s"expected the merge-on-read MERGE path, got ${v2.operation}")
      tbl
    }
    t.read().orderBy($"user_id", $"event_type", $"event_id")
  }

  /** S18 — STRING-KEYED merge over the documents corpus (round-12 verdict
    * task 1's query-level witness): a doc-id-keyed table merges a batch
    * through [[graft.table.GraftTable.mergeUpsert]]; the manifests'
    * TRUNCATED STRING min/max (32-code-point prefix min, incremented-
    * prefix max — Delta's truncation) let copy-on-write prune to the
    * batch's files, where round 12 rewrote the whole table for any
    * string key. TableFormatSpec proves path identity; this key proves
    * the merged CONTENT cell-exact against DuckDB. Batch = every 7th doc
    * with an updated char count; merge semantics are replace-by-key, so
    * the oracle is a CASE over the raw corpus. */
  private def upsertStringKey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = builtTable(spark, sfDir, "sk") { dir =>
      val docs = Tables.table(spark, sfDir, "documents")
        .select(format_string("doc-%08d", $"doc_id").as("sid"),
          $"doc_id", $"text", $"lang", $"source", $"n_chars")
      val base = docs.drop("doc_id").repartitionByRange(8, $"sid")
      val tbl = graft.table.GraftTable.create(spark, dir, base, "create_docs")
      val batch = docs.filter($"doc_id" % 7 === 3).drop("doc_id")
        .withColumn("n_chars", $"n_chars" + 1000000L)
      // dvMode off: this key WITNESSES the string-stat copy-on-write
      // rewrite (S18) — the merge-on-read spelling has its own key,
      // `upsert_merge_dv`
      tbl.mergeUpsert(batch, Seq("sid"), dvMode = "off")
      tbl
    }
    t.read().orderBy($"sid")
  }

  /** S25 — BLOOM-INDEXED POINT LOOKUP (round-14 continuation): a
    * hash-distributed string key defeats min/max skipping (every file's
    * sid range spans the whole domain), so a point lookup would read the
    * table; the per-file bloom sidecars built by `indexBloom` prune to
    * the files that MIGHT hold the key — the fixture asserts a strict
    * file subset survives, and the oracle proves the surviving read is
    * still exactly right. The DSv2 scan folds the equality predicate
    * into the same (lo == hi) range the stats path uses, so the bloom
    * consult is one registry lookup per candidate. */
  private def scanBloomSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = builtTable(spark, sfDir, "bl") { dir =>
      val docs = Tables.table(spark, sfDir, "documents")
        .select(format_string("doc-%08d", $"doc_id").as("sid"),
          $"lang", $"source", $"n_chars")
      val tbl = graft.table.GraftTable.create(spark, dir,
        docs.repartition(8), "create_docs")
      tbl.indexBloom("sid")
      tbl
    }
    // the MINIMUM id exists at every corpus (replicated/Zipf corpora
    // leave gaps mid-range), so the point lookup always returns its row
    val minId = Option(Tables.table(spark, sfDir, "documents")
      .agg(min($"doc_id")).first().get(0))
      .map(_.asInstanceOf[Long])
    val key = f"doc-${minId.getOrElse(0L)}%08d"
    val pruned = t.pruneFiles(t.latestVersion,
      graft.table.FileFilter(strRanges = Seq(("sid", Some(key), Some(key)))))
    val total = t.commitAt(t.latestVersion).files.size
    require(minId.isEmpty || pruned.size < total,
      s"bloom index must skip files for a point lookup ($pruned of $total survive)")
    spark.read.format("graft").load(t.root)
      .filter($"sid" === key).orderBy($"sid")
  }

  /** S13 — TIME TRAVEL over the versioned table: read version 1 (the
    * pre-merge base snapshot) and version 2 (post-merge) of the SAME table
    * in one query and report per-version aggregates. Version 1 must still
    * be byte-identical AFTER the merge commit — immutable data files +
    * per-version manifests are exactly what makes a training-data corpus
    * pinned "as of version N" reproducible at 100 TB. The oracle
    * recomputes both snapshots from the raw events (base = keep-latest of
    * rows before the cutoff; latest = keep-latest of all rows). */
  private def scanTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = mergedEventsTable(spark, sfDir)
    Seq(1L, 2L).map { v =>
      t.read(v).agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"user_id").as("n_users"),
          sum(floor($"value" * 1e6 + 0.5).cast("long")).as("value_micro_sum"),
          max($"event_id").as("max_event_id"))
        .select(lit(v).as("version"), $"n_rows", $"n_users",
          $"value_micro_sum", $"max_event_id")
    }.reduce(_.unionByName(_)).orderBy($"version")
  }

  /** S13b — TIMESTAMP AS OF time travel: read the SAME two-version table
    * at version 1's own COMMIT TIMESTAMP, through the DSv2
    * `timestampAsOf` reader option. The manifests record monotone commit
    * timestamps (max(now, parent+1 ms), Delta's in-commit-timestamp
    * adjustment), so "latest commit ≤ t" at t = ts(v1) resolves to v1
    * deterministically — never to the merge commit that followed — and
    * the snapshot served is the pre-merge base. This is the reference's
    * date-driven rerun shape (`upsert_athena_aggregates.py:24-26`: rerun
    * "as of date D") made exact: pin the instant, get the bytes. The
    * oracle recomputes the v1 snapshot (keep-latest before the cutoff)
    * from raw events. */
  private def scanTimeTravelTs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = mergedEventsTable(spark, sfDir)
    val ts1 = t.commitTimestamp(1L)
    spark.read.format("graft").option("timestampAsOf", ts1.toString).load(t.root)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"user_id").as("n_users"),
        sum(floor($"value" * 1e6 + 0.5).cast("long")).as("value_micro_sum"),
        max($"event_id").as("max_event_id"))
  }

  /** The two-version APPEND-ONLY table behind `scan_table_changes`: v1 =
    * raw events before [[MergeCutoff]], v2 = plain append of the rest —
    * no rewrite between the versions, so the incremental read's manifest
    * test proves v1's files are all still live in v2. */
  private def appendedEventsTable(spark: SparkSession, sfDir: String): graft.table.GraftTable =
    builtTable(spark, sfDir, "ap") { dir =>
      import spark.implicits._
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      val cut = lit(MergeCutoff).cast("timestamp")
      val t = graft.table.GraftTable.create(spark, dir, ev.filter($"ts" < cut), "create_base")
      t.append(ev.filter($"ts" >= cut), "append_increment")
      t
    }

  /** S14 — INCREMENTAL READ, append-only fast path
    * ([[graft.table.GraftTable.changesBetween]]): the rows version 2 added
    * over version 1, resolved from the MANIFESTS alone — the plan scans
    * exactly the appended files, touches zero base bytes, and shuffles
    * nothing (PlanSpec gates no-hash-exchange). This is how a downstream
    * pipeline consumes a 100-TB append table: O(delta) per increment,
    * never a rescan. The oracle replays the append predicate on the raw
    * fixture. */
  private def scanTableChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    appendedEventsTable(spark, sfDir).changesBetween(1L, 2L)
      .orderBy($"user_id", $"event_type", $"event_id", $"ts", $"value",
        $"_change_type")
  }

  /** S14b — INCREMENTAL READ, snapshot-diff fallback: the keep-latest
    * merge commit REWRITES the file set, so file identity says nothing and
    * [[graft.table.GraftTable.changesBetween]] falls back to the full-row
    * multiset diff — updates surface as delete(pre-image) + insert
    * (post-image), new keys as inserts: the change-data-feed rendering
    * (Delta CDF's `table_changes`). Cost is one all-column hash shuffle
    * per direction — the honest price of diffing arbitrary rewrites
    * without a row-level change log; at 100 TB a merge-heavy table
    * records changes at write time instead, and this is the
    * version-agnostic fallback. The oracle diffs the two recomputed
    * keep-latest snapshots with EXCEPT ALL. */
  private def scanTableChangesDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mergedEventsTable(spark, sfDir).changesBetween(1L, 2L)
      .orderBy($"user_id", $"event_type", $"event_id", $"ts", $"value",
        $"_change_type")
  }

  /** The v1→v2 keep-latest diff both CDF keys recompute: inserts = rows
    * only in v2, deletes = rows only in v1 (Delta-CDF rendering). */
  private val KeepLatestDiffOracle: String =
    """WITH v1 AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, ts, value FROM (
      |    SELECT user_id, event_type, event_id, ts, value,
      |           row_number() OVER (PARTITION BY user_id, event_type
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE ts < TIMESTAMP '2024-01-16')
      |  WHERE rn = 1),
      |v2 AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, ts, value FROM (
      |    SELECT user_id, event_type, event_id, ts, value,
      |           row_number() OVER (PARTITION BY user_id, event_type
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1)
      |SELECT *, 'insert' AS _change_type FROM
      |  (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
      |UNION ALL
      |SELECT *, 'delete' AS _change_type FROM
      |  (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
      |ORDER BY user_id, event_type, event_id, ts, value, _change_type""".stripMargin

  /** S14b — TIMESTAMP-KEYED change feed (round-14 continuation): the same
    * v1→v2 diff as `scan_table_changes_diff`, but the window is given as
    * INSTANTS through the DSv2 `changesFromTimestamp`/`changesToTimestamp`
    * reader options — each bound resolved by the TIMESTAMP AS OF rule
    * against the manifests' monotone commit timestamps. This is the
    * reference's daily-rerun spelling ("what changed since yesterday's
    * run", `upsert_athena_aggregates.py:24-26`) with exact snapshot
    * semantics; the identical oracle proves the timestamp resolution
    * lands on the identical version window. */
  private def scanTableChangesTs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = mergedEventsTable(spark, sfDir)
    spark.read.format("graft")
      .option("changesFromTimestamp", t.commitTimestamp(1L).toString)
      .option("changesToTimestamp", t.commitTimestamp(2L).toString)
      .load(t.root)
      .orderBy($"user_id", $"event_type", $"event_id", $"ts", $"value",
        $"_change_type")
  }

  /** The zordered table behind `scan_file_skipping`: v1 = raw events,
    * v2 = Z-order rewrite on (user-scaled-to-8-bit, day) into 32
    * z-range files. Scaling user_id by its max keeps the Morton x
    * monotone in the RAW column, so each file's footer min/max on
    * user_id bounds a tight range at ANY scale factor — the rank-bucket
    * trick production ZORDER BY applies to every dimension. */
  private def zorderedEventsTable(spark: SparkSession, sfDir: String): graft.table.GraftTable =
    builtTable(spark, sfDir, "zo") { dir =>
      import spark.implicits._
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      val t = graft.table.GraftTable.create(spark, dir, ev, "create_raw")
      // max of a zero-event fixture is NULL — rank-scale degenerates to 0
      val maxU = Option(ev.agg(max($"user_id")).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      t.zorderBy(($"user_id" * 256L / (maxU + 1L)).cast("int"),
        dayofmonth($"ts"), nFiles = 32)
      t
    }

  /** S15 — MANIFEST-LEVEL FILE SKIPPING over the zordered table, now
    * through the DataSourceV2 surface ([[graft.table.GraftDataSource]]):
    * the query is a plain `spark.read.format("graft")` + `.filter` —
    * the user_id range predicate pushes into the scan builder
    * (`SupportsPushDownFilters`), folds to a min/max range, and resolves
    * which of the 32 z-range files can contain qualifying rows from the
    * MANIFEST's per-file stats alone, AUTOMATICALLY (round 11 hand-passed
    * the ranges to `readPruned`; round 12 retires that). Skipped files
    * cost zero IO — the Delta/Iceberg data-skipping read path behind
    * `VERSION AS OF`-style reads. Skipping is an optimization, never a
    * filter: the pushed predicate is also a residual, so the oracle is
    * simply the predicate on raw events; what the key proves cross-engine
    * is that pruning loses no rows. Bounds derive from max(user_id) with
    * floor() on both sides, so the query is self-scaling across fixtures.
    * PlanSpec gates that the planned GraftV1Scan reads a strict subset
    * of the version's files. */
  private def scanFileSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = zorderedEventsTable(spark, sfDir)
    val maxU = Option(t.read(2).agg(max($"user_id")).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val lo = math.floor(0.10 * maxU).toLong
    val hi = math.floor(0.20 * maxU).toLong
    spark.read.format("graft").option("versionAsOf", 2).load(t.root)
      .filter($"user_id" >= lo && $"user_id" <= hi)
      .orderBy($"user_id", $"event_type", $"event_id", $"ts", $"value")
  }

  /** S11c — CDC apply, routed through the versioned table format: an
    * insert/update/delete change stream ('error' events are deletes of the
    * key, everything else upserts — the lakehouse MERGE-from-CDC pattern,
    * Debezium → Delta/Iceberg) is applied as TWO time-ordered transactional
    * commits (changes before/after [[MergeCutoff]]) onto an empty table,
    * and the declared result is the final snapshot. Time-ordered CDC
    * batches compose (the last op per key overall decides), so the oracle
    * is the single-pass form: keep-latest over all changes, drop keys whose
    * last op is a delete. Each commit is one keyed keep-latest shuffle —
    * the delete filter is row-local after the window. */
  private def upsertCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = builtTable(spark, sfDir, "cdc") { dir =>
      val cdc = Tables.events(spark, sfDir)
        .withColumn("op",
          when($"event_type" === "error", lit("D")).otherwise(lit("U")))
        .select($"user_id", $"event_id", $"ts", $"value", $"op")
      val cut = lit(MergeCutoff).cast("timestamp")
      val ordering = Seq($"ts".desc, $"event_id".desc)
      val tb = graft.table.GraftTable.createEmpty(
        spark, dir, cdc.drop("op").schema)
      tb.cdcApply(cdc.filter($"ts" < cut), Seq("user_id"), ordering)
      tb.cdcApply(cdc.filter($"ts" >= cut), Seq("user_id"), ordering)
      tb
    }
    t.read()
      .select($"user_id", $"event_id", $"ts", $"value")
      .orderBy($"user_id")
  }

  /** S11d — CDC DERIVE: the inverse of [[upsertCdcApply]] — diff two
    * table snapshots into the I/U/D changelog that produced one from the
    * other (the Delta CDF / `table_changes` role: downstream incremental
    * consumers subscribe to the diff instead of rescanning the table).
    * Snapshots derive deterministically from the fixture: base = per-user
    * latest state before Jan 2, next = current per-user latest with
    * 'error'-final users dropped (the same delete semantics
    * [[upsertCdcApply]] applies). Change detection compares the latest
    * row IDENTITY (event_id) — same latest row ⇒ no change row emitted.
    *
    * Scale shape (100 TB): each snapshot is one keyed keep-latest shuffle
    * (partial row_number state per user), then ONE full-outer sort-merge
    * join on the snapshot key — the irreducible diff cost; payload
    * comparison is row-local. No broadcast assumption: both sides are
    * table-sized. At 1000 executors both shuffles and the join hash on
    * user_id, so AQE coalesces/splits the same key space end-to-end. */
  private def cdcDeriveChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"ts", $"value", $"event_type")
    def latest(df: DataFrame): DataFrame =
      KeepLatest.keepLatest(df, keys = Seq("user_id"),
        ordering = Seq($"ts".desc, $"event_id".desc))
    val base = latest(ev.filter($"ts" < lit("2024-01-02").cast("timestamp")))
      .select($"user_id", $"event_id".as("b_eid"))
    val nxt = latest(ev).filter($"event_type" =!= "error")
      .select($"user_id", $"event_id".as("n_eid"),
        $"ts".as("n_ts"), $"value".as("n_value"))
    base.join(nxt, Seq("user_id"), "full_outer")
      .filter($"b_eid".isNull || $"n_eid".isNull || $"b_eid" =!= $"n_eid")
      .select($"user_id",
        when($"b_eid".isNull, lit("I"))
          .when($"n_eid".isNull, lit("D")).otherwise(lit("U")).as("op"),
        $"n_eid".as("event_id"), $"n_ts".as("ts"), $"n_value".as("value"))
      .orderBy($"user_id")
  }

  /** S11b — SCD Type-2 history build, routed through the versioned table
    * format: the keep-HISTORY twin of [[upsertKeepLatest]]'s
    * last-writer-wins. Version 1 is the windowed history of the pre-cutoff
    * events; version 2 is [[graft.table.GraftTable.scd2Apply]]'s
    * INCREMENTAL merge of the rest — closed rows pass through, touched
    * keys' current rows are closed at the key's first batch timestamp, and
    * only the BATCH is windowed (at 100 TB the history dwarfs any day's
    * batch, so this is the form that scales; TableFormatSpec asserts it
    * equals the full-history window, which is why the oracle below is the
    * simple one-window form). */
  private def upsertScd2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = builtTable(spark, sfDir, "scd2") { dir =>
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"event_type", $"ts", $"event_id")
      val cut = lit(MergeCutoff).cast("timestamp")
      // Version 1: full-history window over the pre-cutoff half.
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val hist1 = ev.filter($"ts" < cut)
        .withColumn("valid_to", lead($"ts", 1).over(w))
        .withColumn("is_current", $"valid_to".isNull)
        .withColumnRenamed("ts", "valid_from")
      val tb = graft.table.GraftTable.create(spark, dir, hist1, "scd2_init")
      // Version 2: INCREMENTAL transactional merge of the later half —
      // closes only touched keys' current rows, windows only the batch.
      tb.scd2Apply(ev.filter($"ts" >= cut), keys = Seq("user_id"),
        tsCol = "ts", tieCols = Seq("event_id"))
      tb
    }
    t.read()
      .select($"user_id", $"event_type", $"event_id",
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** The Hive-partitioned curated table behind `scan_partition_manifest`:
    * `events` curated to the reference's yyyy/mm/dd calendar layout
    * (`glue/job_wiki_curate.py:44-51`), committed as ONE transactional
    * partitioned append whose manifest records every file's partition
    * values. `repartition(partCols)` gives the writer one shuffle block
    * per calendar day — day-exclusive files, the layout a 100-TB curate
    * job wants (and what keeps the manifest at one entry per day-file,
    * not tasks × days). */
  private def partitionedEventsTable(spark: SparkSession, sfDir: String): graft.table.GraftTable =
    builtTable(spark, sfDir, "pt") { dir =>
      import spark.implicits._
      val cur = Curate.curateTs(Tables.events(spark, sfDir))
        .select($"event_id", $"user_id", $"event_type", $"value",
          $"yyyy", $"mm", $"dd")
        .repartition($"yyyy", $"mm", $"dd")
      graft.table.GraftTable.createPartitioned(
        spark, dir, cur, Seq("yyyy", "mm", "dd"), operation = "curate")
    }

  /** S6b/P8c — PARTITION PRUNING OFF THE MANIFEST: a one-day slice of the
    * table-format curated layout, read through the DSv2 surface. The
    * `yyyy/mm/dd` equality predicates push into the scan builder and
    * resolve against the per-file partition values RECORDED IN THE
    * MANIFEST — no `MSCK REPAIR`, no catalog, no directory listing (the
    * reference needs Glue's MSCK + catalog for exactly this; here the
    * manifest is the partition index). PlanSpec gates that the planned
    * scan holds only dd=3 files and that partition values, not footer
    * stats, did the pruning. The oracle replays the calendar predicate
    * on raw events. */
  private def scanPartitionManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = partitionedEventsTable(spark, sfDir)
    spark.read.format("graft").load(t.root)
      .filter($"yyyy" === 2024 && $"mm" === 1 && $"dd" === 3)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** S27 — RUNTIME partition pruning ON THE TABLE FORMAT (round-15
    * verdict task 1): the reference's flagship star shape — a dim-driven
    * day slice (`dag/wiki_pipeline_dag.py:36-38`) — against the
    * partitioned GRAFT fact. The hot-days dim (self-scaling selective
    * filter, same as `filter_dynamic_prune`) joins the fact on its
    * partition column; [[graft.table.GraftNativeScanRule]] plans the
    * graft read as a native file scan, so Spark's dynamic partition
    * pruning inserts its subquery into the scan and only the hot days'
    * FILES are read — at 100 TB, the difference between scanning the
    * table and scanning the joined days. PlanSpec gates the
    * dynamicpruning subquery and the strict file subset; the oracle
    * replays the join on raw events. */
  private def scanRuntimePrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = partitionedEventsTable(spark, sfDir)
    val fact = spark.read.format("graft").load(t.root)
    val daily = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy(dayofmonth($"ts").as("hd"))
      .agg(count(lit(1)).as("n"))
    val hotDays = daily
      .crossJoin(broadcast(daily.agg(avg($"n").as("a"))))
      .filter($"n" > $"a" * 1.05)
      .select($"hd")
    // broadcast the dim EXPLICITLY: it is ≤31 rows by construction (one
    // per calendar day) but sits behind an aggregate, whose unknown-size
    // estimate would otherwise plan a shuffle join — and DPP's
    // reuse-broadcast mode needs the dim's broadcast exchange to serve
    // the pruning subquery for free
    fact.join(broadcast(hotDays), fact("dd") === hotDays("hd"))
      .groupBy(fact("dd").cast("long").as("dd"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"dd")
  }

  /** S28 — METADATA-ONLY COUNT (round-15 verdict task 2): `count(*)`
    * over the partitioned graft table answers from the manifest's exact
    * per-file (live) row counts — the optimized plan is a LocalRelation,
    * ZERO files read (PlanSpec gates it). The most-typed query in
    * existence costs one manifest resolution at any table size; the
    * oracle counts the same rows from raw events. */
  private def scanMetadataCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = partitionedEventsTable(spark, sfDir)
    spark.read.format("graft").load(t.root)
      .agg(count(lit(1)).as("n_rows"))
  }

  /** S28b — metadata-only MIN/MAX: the bounds fold from the manifest's
    * per-file exact stats (integral column) and identity partition
    * values (the dd calendar column) — LocalRelation plan, zero files
    * read, alongside the count. */
  private def scanMetadataMinmax(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = partitionedEventsTable(spark, sfDir)
    spark.read.format("graft").load(t.root)
      .agg(min($"event_id").as("min_eid"), max($"event_id").as("max_eid"),
        min($"dd").as("min_dd"), max($"dd").as("max_dd"),
        count(lit(1)).as("n_rows"))
  }

  /** S28c — metadata-only GROUP BY partition columns: per-day counts and
    * event-id bounds fold from the manifest's file list grouped by its
    * recorded partition values — Spark's OptimizeMetadataOnlyQuery shape
    * served off the manifest, zero files read. */
  private def scanMetadataGroupby(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = partitionedEventsTable(spark, sfDir)
    spark.read.format("graft").load(t.root)
      .groupBy($"yyyy", $"mm", $"dd")
      .agg(count(lit(1)).as("n_rows"),
        min($"event_id").as("min_eid"), max($"event_id").as("max_eid"))
      .orderBy($"yyyy", $"mm", $"dd")
  }

  /** S31 — the materialized-aggregate fixture: a per-type rollup over a
    * graft copy of events, INCREMENTALLY maintained across a slice delete
    * and a cross-group merge by consuming the change feed
    * ([[graft.table.MaterializedAgg]]) — refresh cost O(rows changed) +
    * O(groups), never O(table). The builder runs the whole lifecycle
    * once: init refresh at v1, DELETE dd=3, MERGE the dd=5 slice into a
    * 'promoted' type (CDF delete+insert pairs move counts across
    * groups), incremental refresh. */
  private def mvRollupTable(spark: SparkSession, sfDir: String): graft.table.GraftTable =
    builtTable(spark, sfDir, "mv") { dir =>
      import spark.implicits._
      val cur = Curate.curateTs(Tables.events(spark, sfDir))
        .select($"event_id", $"user_id", $"event_type", $"value", $"dd")
      val src = graft.table.GraftTable.create(spark, s"$dir/src", cur)
      graft.table.MaterializedAgg.refresh(spark, src, s"$dir/mv",
        Seq("event_type"), Seq("event_id"))
      src.deleteWhere($"dd" === 3)
      // pin the batch to the pre-merge snapshot: a self-referential merge
      // must read immutable files, not "latest"
      val promo = spark.read.format("graft")
        .option("versionAsOf", src.latestVersion).load(src.root)
        .filter($"dd" === 5)
        .withColumn("event_type", lit("promoted"))
      src.mergeUpsert(promo, Seq("event_id"))
      graft.table.MaterializedAgg.refresh(spark, src, s"$dir/mv",
        Seq("event_type"), Seq("event_id"))
      graft.table.GraftTable.forPath(spark, s"$dir/mv")
    }

  /** S31 — read the incrementally-maintained rollup; the oracle
    * RECOMPUTES the same aggregate from raw events with the DML replayed
    * as predicates, so any drift in the delta math fails the hash. */
  private def mvIncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val mv = mvRollupTable(spark, sfDir)
    graft.table.MaterializedAgg.readView(spark, mv.root,
      Seq("event_type"), Seq("event_id"))
      .select($"event_type", $"cnt", $"sum_event_id")
      .orderBy($"event_type")
  }

  private val curatedDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Curate `events` into a yyyy/mm/dd-partitioned parquet layout once per
    * (JVM, sfDir); reused by the pruning query below. */
  def curatedEventsDir(spark: SparkSession, sfDir: String): String =
    curatedDirs.getOrElseUpdate(sfDir, {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_curated_${sfDir.hashCode.toHexString}"
      // The fixture data is deterministic and read-only, so a layout written
      // by an earlier JVM (Verify, then Bench) is reusable — _SUCCESS marks
      // a completed write.
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        Curate.writeCurated(
          Curate.curateTs(Tables.events(spark, sfDir)), dir, SaveMode.Overwrite)
      dir
    })

  /** P8/S6 — partition-pruning predicate over the curated layout
    * (`README.md:103`: `WHERE yyyy=.. AND mm=.. AND dd=..`). The filter
    * lands in PartitionFilters (pruned directory listing), not row-level
    * filtering — asserted in PipelineSpec via the physical plan. */
  private def filterPartitionPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Explicit schema (the curate projection's own): a zero-event curate
    // writes NO partition directories, and schema inference over that
    // empty layout fails — the empty-day case at scale. The schema comes
    // from the same lazy curate plan, so it can never drift from the
    // written layout; partition-column values still come from directory
    // names and the predicate still prunes the listing (PlanSpec).
    val curatedSchema = Curate.curateTs(Tables.events(spark, sfDir)).schema
    spark.read.schema(curatedSchema).parquet(curatedEventsDir(spark, sfDir))
      .filter($"yyyy" === 2024 && $"mm" === 1 && $"dd" === 3)
      .select($"event_id", $"user_id")
      .orderBy($"event_id")
  }

  /** P8b — DYNAMIC partition pruning: the partition predicate is not a
    * literal but the result of a selective dim-side subquery (high-purchase
    * days), so pruning happens at RUNTIME — Catalyst injects a
    * `dynamicpruning` subquery into the fact scan's PartitionFilters and
    * only the qualifying day directories are listed/read. At 100 TB this
    * is THE mechanism that keeps star joins on a date-partitioned fact
    * from scanning the whole history (PlanSpec asserts the dynamic filter
    * lands in the scan). */
  private def filterDynamicPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fact = spark.read
      .schema(Curate.curateTs(Tables.events(spark, sfDir)).schema)
      .parquet(curatedEventsDir(spark, sfDir))
    // "hot day" = purchases above 1.05x the daily average — SELF-SCALING
    // selectivity (a fixed count can't discriminate across scale factors).
    // The average of integer counts is exact in double (integer sums are
    // order-independent below 2^53), so both engines agree bit-for-bit.
    val daily = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy(dayofmonth($"ts").as("hd"))
      .agg(count(lit(1)).as("n"))
    val hotDays = daily
      .crossJoin(broadcast(daily.agg(avg($"n").as("a"))))
      .filter($"n" > $"a" * 1.05)
      .select($"hd")
    fact.join(hotDays, fact("dd") === hotDays("hd"))
      .groupBy(fact("dd").cast("long").as("dd"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"dd")
  }

  override def queries: Map[String, QueryFn] = Map(
    "ctas_daily_top_titles"  -> ctasDailyTopTitles,
    "scan_time_travel"       -> scanTimeTravel,
    "scan_time_travel_ts"    -> scanTimeTravelTs,
    "scan_table_changes"     -> scanTableChanges,
    "scan_table_changes_diff" -> scanTableChangesDiff,
    "scan_table_changes_ts"  -> scanTableChangesTs,
    "scan_file_skipping"     -> scanFileSkipping,
    "scan_bloom_skipping"    -> scanBloomSkipping,
    "scan_partition_manifest" -> scanPartitionManifest,
    "scan_runtime_prune"     -> scanRuntimePrune,
    "scan_metadata_count"    -> scanMetadataCount,
    "scan_metadata_minmax"   -> scanMetadataMinmax,
    "scan_metadata_groupby"  -> scanMetadataGroupby,
    "mv_incremental_agg"     -> mvIncrementalAgg,
    "upsert_keep_latest"     -> upsertKeepLatest,
    "upsert_merge_sql"       -> upsertMergeSql,
    "upsert_string_key"      -> upsertStringKey,
    "delete_where_sql"       -> deleteWhereSql,
    "delete_where_dv"        -> deleteWhereDv,
    "update_where_sql"       -> updateWhereSql,
    "update_where_dv"        -> updateWhereDv,
    "upsert_merge_dv"        -> upsertMergeDv,
    "upsert_scd2"            -> upsertScd2,
    "upsert_cdc_apply"       -> upsertCdcApply,
    "cdc_derive_changes"     -> cdcDeriveChanges,
    "filter_partition_prune" -> filterPartitionPrune,
    "filter_dynamic_prune"   -> filterDynamicPrune
  )

  override def oracles: Map[String, String] = Map(
    "ctas_daily_top_titles" ->
      """SELECT CAST(ts AS DATE) AS ds, event_type AS title,
        |       user_id AS editor, count(*) AS edits
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY ds, title, editor""".stripMargin,
    "upsert_scd2" ->
      """SELECT user_id, event_type, event_id, ts AS valid_from,
        |       lead(ts) OVER w AS valid_to,
        |       lead(ts) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "cdc_derive_changes" ->
      """WITH base AS (
        |  SELECT user_id, event_id AS b_eid FROM (
        |    SELECT user_id, event_id,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-02')
        |  WHERE rn = 1),
        |nx AS (
        |  SELECT user_id, event_id AS n_eid, ts AS n_ts, value AS n_value,
        |         event_type FROM (
        |    SELECT user_id, event_id, ts, value, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1),
        |nxt AS (SELECT * FROM nx WHERE event_type <> 'error')
        |SELECT coalesce(b.user_id, n.user_id) AS user_id,
        |       CASE WHEN b.user_id IS NULL THEN 'I'
        |            WHEN n.user_id IS NULL THEN 'D' ELSE 'U' END AS op,
        |       n.n_eid AS event_id, n.n_ts AS ts, n.n_value AS value
        |FROM base b FULL OUTER JOIN nxt n ON b.user_id = n.user_id
        |WHERE b.user_id IS NULL OR n.user_id IS NULL OR b.b_eid <> n.n_eid
        |ORDER BY user_id""".stripMargin,
    "upsert_cdc_apply" ->
      """SELECT user_id, event_id, ts, value FROM (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin,
    "scan_time_travel" ->
      """WITH v1 AS (
        |  SELECT user_id, value, event_id FROM (
        |    SELECT user_id, value, event_id,
        |           row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16')
        |  WHERE rn = 1),
        |v2 AS (
        |  SELECT user_id, value, event_id FROM (
        |    SELECT user_id, value, event_id,
        |           row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_micro_sum,
        |       max(event_id) AS max_event_id
        |FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |       CAST(count(DISTINCT user_id) AS BIGINT),
        |       CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT),
        |       max(event_id)
        |FROM v2
        |ORDER BY version""".stripMargin,
    "scan_time_travel_ts" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_micro_sum,
        |       max(event_id) AS max_event_id
        |FROM (
        |  SELECT user_id, value, event_id FROM (
        |    SELECT user_id, value, event_id,
        |           row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16')
        |  WHERE rn = 1)""".stripMargin,
    "scan_file_skipping" ->
      """SELECT user_id, event_type, event_id, ts, value FROM events
        |WHERE user_id >= (SELECT CAST(floor(0.10 * max(user_id)) AS BIGINT) FROM events)
        |  AND user_id <= (SELECT CAST(floor(0.20 * max(user_id)) AS BIGINT) FROM events)
        |ORDER BY user_id, event_type, event_id, ts, value""".stripMargin,
    "scan_table_changes" ->
      """SELECT user_id, event_type, event_id, ts, value,
        |       'insert' AS _change_type
        |FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        |ORDER BY user_id, event_type, event_id, ts, value, _change_type""".stripMargin,
    "scan_table_changes_diff" -> KeepLatestDiffOracle,
    // the SAME recomputation: the timestamp spelling must resolve to the
    // identical version window, so the identical oracle verifies it
    "scan_table_changes_ts" -> KeepLatestDiffOracle,
    "upsert_keep_latest" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // batch-wins MERGE of the post-cutoff keep-latest half onto the
    // pre-cutoff base == keep-latest over ALL events (batch rows strictly
    // later per key) — intentionally the same recomputation as
    // upsert_keep_latest, reached through the SQL MERGE INTO path
    "upsert_merge_sql" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "scan_bloom_skipping" ->
      """SELECT printf('doc-%08d', doc_id) AS sid, lang, source, n_chars
        |FROM documents
        |WHERE doc_id = (SELECT min(doc_id) FROM documents)
        |ORDER BY sid""".stripMargin,
    "upsert_string_key" ->
      """SELECT printf('doc-%08d', doc_id) AS sid, text, lang, source,
        |       CASE WHEN doc_id % 7 = 3 THEN n_chars + 1000000
        |            ELSE n_chars END AS n_chars
        |FROM documents ORDER BY sid""".stripMargin,
    "delete_where_sql" ->
      """SELECT user_id, event_type, event_id, ts, value FROM events
        |WHERE event_type <> 'error' ORDER BY event_id""".stripMargin,
    "update_where_sql" ->
      """SELECT user_id, event_type, event_id, ts,
        |       CASE WHEN user_id < 50 THEN value + 1 ELSE value END AS value
        |FROM events WHERE event_type <> 'error' ORDER BY event_id""".stripMargin,
    "delete_where_dv" ->
      """SELECT user_id, event_type, event_id, ts,
        |       CASE WHEN user_id < 50 THEN value + 1 ELSE value END AS value
        |FROM events WHERE event_type <> 'error'
        |  AND event_id > (SELECT CAST(floor(max(event_id) / 100.0) AS BIGINT)
        |                  FROM events)
        |ORDER BY event_id""".stripMargin,
    "update_where_dv" ->
      """SELECT user_id, event_type, event_id, ts,
        |       CASE WHEN event_id % 97 = 0 THEN v1 + 10 ELSE v1 END AS value
        |FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |         CASE WHEN user_id < 50 THEN value + 1 ELSE value END AS v1
        |  FROM events WHERE event_type <> 'error'
        |    AND event_id > (SELECT CAST(floor(max(event_id) / 100.0) AS BIGINT)
        |                    FROM events))
        |ORDER BY event_id""".stripMargin,
    "upsert_merge_dv" ->
      """WITH kl AS (
        |  SELECT user_id, event_type, event_id, ts, value FROM (
        |    SELECT user_id, event_type, event_id, ts, value,
        |           row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |SELECT user_id, event_type, event_id, ts,
        |       CASE WHEN user_id % 37 = 5 THEN value + 1000 ELSE value END AS value
        |FROM kl
        |UNION ALL
        |SELECT user_id + 10000000 AS user_id, event_type, event_id, ts,
        |       value + 1000 AS value
        |FROM kl WHERE user_id % 37 = 5
        |ORDER BY user_id, event_type, event_id""".stripMargin,
    "filter_partition_prune" ->
      """SELECT event_id, user_id FROM events
        |WHERE year(ts) = 2024 AND month(ts) = 1 AND day(ts) = 3
        |ORDER BY event_id""".stripMargin,
    "scan_partition_manifest" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE year(ts) = 2024 AND month(ts) = 1 AND day(ts) = 3
        |ORDER BY event_id""".stripMargin,
    "scan_metadata_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events",
    "scan_metadata_minmax" ->
      """SELECT CAST(min(event_id) AS BIGINT) AS min_eid,
        |       CAST(max(event_id) AS BIGINT) AS max_eid,
        |       CAST(min(day(ts)) AS INT) AS min_dd,
        |       CAST(max(day(ts)) AS INT) AS max_dd,
        |       CAST(count(*) AS BIGINT) AS n_rows FROM events""".stripMargin,
    "scan_metadata_groupby" ->
      """SELECT CAST(year(ts) AS INT) AS yyyy, CAST(month(ts) AS INT) AS mm,
        |       CAST(day(ts) AS INT) AS dd, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(event_id) AS BIGINT) AS min_eid,
        |       CAST(max(event_id) AS BIGINT) AS max_eid
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "mv_incremental_agg" ->
      """SELECT CASE WHEN day(ts) = 5 THEN 'promoted' ELSE event_type END AS event_type,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(event_id) AS BIGINT) AS sum_event_id
        |FROM events
        |WHERE day(ts) <> 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "scan_runtime_prune" ->
      """WITH daily AS (
        |  SELECT day(ts) AS hd, count(*) AS n FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |hot AS (
        |  SELECT hd FROM daily
        |  WHERE n > 1.05 * (SELECT avg(n) FROM daily))
        |SELECT day(ts) AS dd, count(*) AS n_events
        |FROM events JOIN hot ON day(ts) = hot.hd
        |GROUP BY 1 ORDER BY dd""".stripMargin,
    "filter_dynamic_prune" ->
      """WITH daily AS (
        |  SELECT day(ts) AS hd, count(*) AS n FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |hot AS (
        |  SELECT hd FROM daily
        |  WHERE n > 1.05 * (SELECT avg(n) FROM daily))
        |SELECT day(ts) AS dd, count(*) AS n_events
        |FROM events JOIN hot ON day(ts) = hot.hd
        |GROUP BY 1 ORDER BY dd""".stripMargin
  )
}
