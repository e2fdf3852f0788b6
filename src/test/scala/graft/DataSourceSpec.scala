package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.table.{FileFilter, GraftTable, GraftV1Scan}

/** The DataSourceV2 surface of the versioned table format (round-11
  * verdict task 2): `spark.read.format("graft")` with `versionAsOf` time
  * travel, and scan predicates pushing into manifest-level file skipping
  * automatically — the SQL-facing replacement for hand-passed
  * `readPruned` ranges.
  */
class DataSourceSpec extends SparkSpec {

  private def tmpRoot(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_dsv2_$tag").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** The GraftV1Scan the optimizer plans for `df` on the DSv2 FALLBACK
    * path — the path deletion-vectored / column-mapped snapshots always
    * take, so its pushdown machinery stays gated here even though
    * eligible reads now rewrite to the native file scan
    * ([[graft.table.GraftNativeScanRule]], gated separately). The scan
    * collects from a FRESH optimization with the rewrite disabled. */
  private def plannedScan(df: DataFrame): GraftV1Scan = {
    df.sparkSession.conf.set("spark.graft.nativeFileScan", "false")
    try {
      val scans = df.filter(org.apache.spark.sql.functions.lit(true))
        .queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan match {
          // after pushdown Spark wraps the V1 fallback scan
          case w: org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper => w.v1Scan
          case s => s
        }
      }
      assert(scans.size == 1, s"expected one graft scan, got $scans")
      scans.head.asInstanceOf[GraftV1Scan]
    } finally df.sparkSession.conf.unset("spark.graft.nativeFileScan")
  }

  test("format(graft): latest read and versionAsOf time travel") {
    import spark.implicits._
    val root = tmpRoot("tt")
    val t = GraftTable.create(spark, root, spark.range(10).toDF("id"))
    t.append(spark.range(10, 15).toDF("id"))
    val latest = spark.read.format("graft").load(root)
    assert(latest.as[Long].collect().sorted.toSeq == (0L until 15L))
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(root)
    assert(v1.as[Long].collect().sorted.toSeq == (0L until 10L))
    intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", 9).load(root).count()
    }
  }

  test("predicate pushdown prunes files from the manifest before any IO") {
    import spark.implicits._
    val root = tmpRoot("prune")
    // 8 range-clustered files: per-file id min/max are tight and disjoint
    val df = spark.range(1000).toDF("id")
      .withColumn("v", ($"id" * 3).cast("double"))
      .repartitionByRange(8, $"id")
    GraftTable.create(spark, root, df)
    val q = spark.read.format("graft").load(root)
      .filter($"id" >= 100 && $"id" <= 220)
    val scan = plannedScan(q)
    assert(scan.prunedFiles.size < 8 && scan.prunedFiles.nonEmpty,
      s"expected a strict file subset, got ${scan.prunedFiles.size}")
    // skipping loses no rows and the residual filter still applies
    assert(q.count() == 121)
    assert(q.agg(min($"id"), max($"id")).as[(Long, Long)].head() == ((100L, 220L)))
    // BETWEEN on the double column prunes too (kind=double stats)
    val qd = spark.read.format("graft").load(root).filter($"v" === 300.0)
    assert(plannedScan(qd).prunedFiles.size < 8)
    assert(qd.select($"id").as[Long].head() == 100L)
  }

  test("column pruning reaches the scan; unprunable filters stay sound") {
    import spark.implicits._
    val root = tmpRoot("cols")
    val df = spark.range(100).toDF("id")
      .withColumn("s", concat(lit("u"), $"id"))
      .repartitionByRange(4, $"id")
    GraftTable.create(spark, root, df)
    val q = spark.read.format("graft").load(root)
      .filter($"s" === "u7").select($"s")
    val scan = plannedScan(q)
    // round-13: string stats prune too — only files whose [min,max]
    // straddles "u7" in UTF-8 order survive, and the residual stays sound
    assert(scan.prunedFiles.size < 4 && scan.prunedFiles.nonEmpty)
    assert(scan.readSchema().fieldNames.toSeq == Seq("s"))
    assert(q.as[String].collect().toSeq == Seq("u7"))
    // zero-column scan (count(*)) plans and counts correctly
    assert(spark.read.format("graft").load(root).count() == 100)
  }

  test("partitioned table: manifest records partition values; equality prunes") {
    import spark.implicits._
    val root = tmpRoot("part")
    val df = spark.range(300).toDF("id")
      .withColumn("dd", ($"id" % 3 + 1).cast("int"))
      .withColumn("payload", concat(lit("p"), $"id"))
    val t = GraftTable.createPartitioned(spark, root, df, Seq("dd"))
    val c = t.commitAt(1)
    // every file carries its partition value in the manifest
    assert(c.files.nonEmpty && c.files.forall(_.partition.contains("dd")))
    assert(c.files.map(_.partition("dd")).toSet == Set("1", "2", "3"))
    // full read reconstructs the partition column from the path segments
    val all = spark.read.format("graft").load(root)
    assert(all.count() == 300)
    assert(all.schema.fieldNames.toSeq == Seq("id", "dd", "payload"))
    assert(all.filter($"dd" === 2).count() == 100)
    // dd = 2 pushes down and prunes to EXACTLY the dd=2 files
    val q = all.filter($"dd" === 2)
    val scan = plannedScan(q)
    assert(scan.prunedFiles.nonEmpty &&
      scan.prunedFiles.forall(_.partition("dd") == "2"),
      s"partition pruning must keep only dd=2 files: ${scan.prunedFiles}")
    val dd2Files = c.files.count(_.partition("dd") == "2")
    assert(scan.prunedFiles.size == dd2Files)
    assert(q.select(sum($"id")).as[Long].head() ==
      (0L until 300L).filter(_ % 3 == 1).sum)
    // a second partitioned append (new batch dir) still reads coherently
    t.appendPartitioned(spark.range(300, 310).toDF("id")
      .withColumn("dd", lit(9).cast("int"))
      .withColumn("payload", concat(lit("p"), $"id")), Seq("dd"))
    val v2 = spark.read.format("graft").load(root)
    assert(v2.count() == 310)
    val q9 = v2.filter($"dd" === 9)
    assert(plannedScan(q9).prunedFiles.forall(_.partition("dd") == "9"))
    assert(q9.count() == 10)
  }

  test("write path: save creates, append commits, overwrite replaces — all versioned") {
    import spark.implicits._
    val root = tmpRoot("write")
    // first write creates the table (version 1); DSv2 path sources accept
    // only Append/Overwrite modes, so create rides an append
    spark.range(5).toDF("id").write.format("graft").mode("append").save(root)
    val t = GraftTable.forPath(spark, root)
    assert(t.latestVersion == 1)
    // append commits version 2
    spark.range(5, 8).toDF("id").write.format("graft").mode("append").save(root)
    assert(t.latestVersion == 2)
    assert(spark.read.format("graft").load(root).as[Long].collect().sorted.toSeq
      == (0L until 8L))
    // overwrite replaces the snapshot as version 3; v2 still time-travels
    spark.range(100, 102).toDF("id").write.format("graft").mode("overwrite").save(root)
    assert(t.latestVersion == 3)
    assert(spark.read.format("graft").load(root).count() == 2)
    assert(spark.read.format("graft").option("versionAsOf", 2).load(root).count() == 8)
    // round trip through both DSv2 halves: read v3, append it back
    spark.read.format("graft").load(root)
      .write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() == 4)
  }

  test("changesFrom/changesTo: the CDF reads through the DSv2 surface") {
    import spark.implicits._
    val root = tmpRoot("cdf")
    val t = GraftTable.create(spark, root, spark.range(10).toDF("id"))
    t.append(spark.range(10, 14).toDF("id"))
    val chg = spark.read.format("graft")
      .option("changesFrom", 1).option("changesTo", 2).load(root)
    assert(chg.schema.fieldNames.toSeq == Seq("id", "_change_type"))
    assert(chg.filter($"_change_type" === "insert").count() == 4)
    assert(chg.select($"id").as[Long].collect().sorted.toSeq == (10L until 14L))
    // changesTo defaults to latest
    val chg2 = spark.read.format("graft").option("changesFrom", 1).load(root)
    assert(chg2.count() == 4)
    // rewrite between versions → diff rendering with deletes
    t.overwrite(spark.range(12, 15).toDF("id"), parent = 2, operation = "rw")
    val diff = spark.read.format("graft")
      .option("changesFrom", 2).option("changesTo", 3).load(root)
    assert(diff.filter($"_change_type" === "delete").count() == 12)
    assert(diff.filter($"_change_type" === "insert").count() == 1)
    // timestamp-keyed bounds resolve through the TIMESTAMP AS OF rule to
    // the IDENTICAL window (the "since yesterday's run" spelling)
    val ts1 = t.commitTimestamp(2)
    val ts2 = t.commitTimestamp(3)
    val diffTs = spark.read.format("graft")
      .option("changesFromTimestamp", ts1.toString)
      .option("changesToTimestamp", ts2.toString).load(root)
    assert(diffTs.filter($"_change_type" === "delete").count() == 12)
    assert(diffTs.filter($"_change_type" === "insert").count() == 1)
    assert(t.changesBetweenTimestamps(ts1, ts2).count() == 13)
    // mixing version and timestamp keyings on one bound is an error
    intercept[Exception] {
      spark.read.format("graft").option("changesFrom", 1)
        .option("changesFromTimestamp", ts1.toString).load(root).collect()
    }
  }

  test("null-count skipping: IS NULL skips zero-null files, IS NOT NULL " +
      "skips all-null files; results unchanged") {
    import spark.implicits._
    val root = tmpRoot("nullskip")
    val sch = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "long")
    def df(rows: (java.lang.Long, java.lang.Long)*) =
      spark.createDataFrame(java.util.Arrays.asList(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*), sch).coalesce(1)
    val t = GraftTable.create(spark, root, df((1L, null), (2L, null)))
    t.append(df((3L, 7L), (4L, 8L)))
    t.append(df((5L, null), (6L, 9L)))
    val v = t.latestVersion
    assert(t.commitAt(v).files.size == 3)
    // IS NULL consults the null counts: the no-null file drops
    assert(t.pruneFiles(v, FileFilter(nulls = Seq(("v", true)))).size == 2)
    // IS NOT NULL drops the all-null file
    assert(t.pruneFiles(v, FileFilter(nulls = Seq(("v", false)))).size == 2)
    // end-to-end through the DSv2 pushdown, results exact
    val ds = spark.read.format("graft").load(root)
    assert(ds.filter($"v".isNull).count() == 3)
    assert(ds.filter($"v".isNotNull).count() == 3)
    assert(ds.filter($"v".isNotNull && $"id" >= 5L).count() == 1)
  }

  test("partition evolution: set_partitioning changes the layout for " +
      "future writes only; mixed eras prune per file") {
    import spark.implicits._
    val lake = tmpRoot("pelake")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_pe", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pe.root", lake)
    try {
      spark.sql("CREATE NAMESPACE graft_pe.db")
      spark.sql("CREATE TABLE graft_pe.db.e (id BIGINT, g INT)")
      spark.sql("INSERT INTO graft_pe.db.e " +
        "SELECT id, CAST(id % 4 AS INT) FROM range(100)")
      val t = GraftTable.forPath(spark, s"$lake/db/e")
      assert(t.commitAt(t.latestVersion).files.forall(_.partition.isEmpty))
      // evolve: one zero-IO metadata commit; future writes adopt it
      spark.sql("CALL graft_pe.system.set_partitioning(tbl => 'db.e', cols => 'g')")
      spark.sql("INSERT INTO graft_pe.db.e " +
        "SELECT id, CAST(id % 4 AS INT) FROM range(100, 200)")
      val latest = t.commitAt(t.latestVersion)
      assert(latest.partitionCols == Seq("g"))
      val (newEra, oldEra) = latest.files.partition(_.partition.contains("g"))
      assert(newEra.nonEmpty && oldEra.nonEmpty,
        "old-era files must survive the evolution untouched")
      // mixed-era pruning: every g=1 NEW-era file prunes by its directory
      // value; old-era files consult their footer stats
      val pruned = t.pruneFiles(t.latestVersion,
        FileFilter(Seq(("g", BigDecimal(1), BigDecimal(1)))))
      assert(pruned.filter(_.partition.contains("g"))
        .forall(_.partition.get("g").contains("1")))
      assert(spark.sql("SELECT count(*) FROM graft_pe.db.e WHERE g = 1")
        .as[Long].head() == 50L)
      assert(spark.sql("SELECT count(*) FROM graft_pe.db.e").as[Long].head() == 200L)
      // and back to unpartitioned — three eras coexist
      spark.sql("CALL graft_pe.system.set_partitioning(tbl => 'db.e', cols => '')")
      spark.sql("INSERT INTO graft_pe.db.e VALUES (500, 1)")
      assert(t.commitAt(t.latestVersion).partitionCols.isEmpty)
      assert(spark.sql("SELECT count(*) FROM graft_pe.db.e WHERE g = 1")
        .as[Long].head() == 51L)
      // unknown column refused
      intercept[Exception] {
        spark.sql("CALL graft_pe.system.set_partitioning(tbl => 'db.e', cols => 'nope')")
          .collect()
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pe.db.e")
      spark.conf.unset("spark.sql.catalog.graft_pe")
    }
  }

  test("type widening: ALTER COLUMN TYPE is metadata-only; old files " +
      "upcast, narrow appends never narrow back, non-widenings refused") {
    import spark.implicits._
    val lake = tmpRoot("twlake")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_tw", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tw.root", lake)
    try {
      spark.sql("CREATE NAMESPACE graft_tw.db")
      spark.sql("CREATE TABLE graft_tw.db.w (id INT, v FLOAT)")
      spark.sql("INSERT INTO graft_tw.db.w VALUES (1, CAST(1.5 AS FLOAT)), " +
        "(2, CAST(2.5 AS FLOAT))")
      val t = GraftTable.forPath(spark, s"$lake/db/w")
      val filesBefore = t.commitAt(t.latestVersion).files.map(_.path)
      spark.sql("ALTER TABLE graft_tw.db.w ALTER COLUMN id TYPE BIGINT")
      spark.sql("ALTER TABLE graft_tw.db.w ALTER COLUMN v TYPE DOUBLE")
      // zero data IO: both widenings carried every file by identity
      assert(t.commitAt(t.latestVersion).files.map(_.path) == filesBefore)
      // a value only the wide type can hold lands fine
      spark.sql("INSERT INTO graft_tw.db.w VALUES (8000000000, 3.5)")
      val got = spark.read.format("graft").load(s"$lake/db/w")
      assert(got.schema("id").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(got.schema("v").dataType ==
        org.apache.spark.sql.types.DoubleType)
      assert(got.count() == 3)
      assert(got.filter($"id" === 8000000000L).count() == 1)
      assert(got.filter($"id" === 1L).select($"v").as[Double].head() == 1.5)
      // time travel below the widening serves that version's own NARROW schema
      val old = spark.read.format("graft").option("versionAsOf", 2)
        .load(s"$lake/db/w")
      assert(old.schema("id").dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(old.count() == 2)
      // narrowing and cross-family changes are refused
      intercept[Exception] {
        spark.sql("ALTER TABLE graft_tw.db.w ALTER COLUMN id TYPE INT")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE graft_tw.db.w ALTER COLUMN v TYPE STRING")
      }
      // CDF across the widening commits: zero churn, zero changes, and
      // the feed renders in the final wide schema
      val chg = spark.read.format("graft").option("changesFrom", 2)
        .option("changesTo", 4).load(s"$lake/db/w")
      assert(chg.isEmpty)
      val chgAll = spark.read.format("graft").option("changesFrom", 2)
        .load(s"$lake/db/w")
      assert(chgAll.schema("id").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(chgAll.count() == 1) // just the post-widening insert
      // a keyed merge on the widened column still prunes via the files'
      // original int32 stats (kind "long" either width)
      t.mergeUpsert(Seq((1L, 99.0)).toDF("id", "v"), Seq("id"), dvMode = "off")
      assert(t.read().filter($"id" === 1L).select($"v").as[Double].head() == 99.0)
      assert(t.read().count() == 3)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_tw.db.w")
      spark.conf.unset("spark.sql.catalog.graft_tw")
    }
  }

  test("hidden partitioning: days(ts)/bucket(n,id) derive at write, prune " +
      "raw-source predicates per file, and expose no partition columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, _}
    // --- days(ts): 10 days of NTZ events, written via the transform ----
    val root = tmpRoot("hpdays")
    val df = spark.range(1000).toDF("id")
      .withColumn("ts", expr(
        "timestamp_ntz '2024-03-01 00:00:00' + make_interval(0,0,0,CAST(id % 10 AS INT),0,0,0)"))
      .withColumn("v", $"id" * 2)
    val t = GraftTable.createPartitioned(spark, root, df, Seq("days(ts)"))
    val c = t.commitAt(t.latestVersion)
    assert(c.partitionCols == Seq("days(ts)"))
    // manifest entries carry the DERIVED day; schema stays the user's
    assert(c.files.forall(_.partition.keySet == Set("ts_day")))
    assert(c.schema.fieldNames.toSeq == Seq("id", "ts", "v"))
    // reads expose NO partition column, and values round-trip exactly
    val q = spark.read.format("graft").load(root)
    assert(q.columns.toSeq == Seq("id", "ts", "v"))
    assert(q.count() == 1000)
    // a RAW ts predicate prunes to the single day's file(s) — manifest-level
    val dayLo = java.time.LocalDate.parse("2024-03-04").toEpochDay * 86400000000L
    val pruned = t.pruneFiles(t.latestVersion,
      FileFilter(Seq(("ts", BigDecimal(dayLo), BigDecimal(dayLo + 86400000000L - 1)))))
    assert(pruned.nonEmpty && pruned.forall(_.partition("ts_day") == "2024-03-04"),
      s"day-window predicate must prune to one hidden day: ${pruned.map(_.partition)}")
    assert(pruned.size < c.files.size)
    // end-to-end results match the unpartitioned computation
    val got = q.filter($"ts" >= lit("2024-03-04").cast("timestamp_ntz") &&
        $"ts" < lit("2024-03-05").cast("timestamp_ntz"))
      .agg(fcount(lit(1))).as[Long].head()
    assert(got == 100L)

    // --- bucket(8, id): point lookups prune to one bucket --------------
    val root2 = tmpRoot("hpbucket")
    val df2 = spark.range(2000).toDF("id").withColumn("v", $"id" * 3)
    val t2 = GraftTable.createPartitioned(spark, root2, df2, Seq("bucket(8,id)"))
    val c2 = t2.commitAt(t2.latestVersion)
    assert(c2.files.map(_.partition("id_bucket")).distinct.size == 8)
    val hit = t2.pruneFiles(t2.latestVersion,
      FileFilter(Seq(("id", BigDecimal(777), BigDecimal(777)))))
    val allBuckets = c2.files.map(_.partition("id_bucket")).distinct
    assert(hit.map(_.partition("id_bucket")).distinct.size == 1,
      s"a point lookup must resolve to ONE bucket of $allBuckets")
    // ... and the bucket actually CONTAINS the row
    val q2 = spark.read.format("graft").load(root2)
    assert(q2.filter($"id" === 777L).select($"v").as[Long].head() == 2331L)
    // a non-point (range) predicate never collapses to one bucket — the
    // transform inversion only fires on point shapes (footer stats may
    // still prune independently, which is why several buckets survive)
    assert(t2.pruneFiles(t2.latestVersion,
      FileFilter(Seq(("id", BigDecimal(0), BigDecimal(10))))).map(_.partition("id_bucket"))
      .distinct.size > 1)
    // DML candidate selection rides the same inversion: a point DELETE
    // (its file filter derived from its own condition) rewrites only the
    // key's bucket
    val before = c2.files.map(_.path).toSet
    t2.deleteWhere($"id" === 777L, dvMode = "off")
    val after = t2.commitAt(t2.latestVersion).files.map(_.path).toSet
    assert((before -- after).size <= (before.size / 8) + 1,
      s"point DELETE must touch ~one bucket, rewrote ${(before -- after).size}")
    assert(q2.count() == 2000 - 1 ||
      spark.read.format("graft").load(root2).count() == 1999)

    // misdeclared transforms are refused at declaration time
    intercept[IllegalArgumentException] { t2.setPartitioning(Seq("bucket(0,id)")) }
    intercept[IllegalArgumentException] { t2.setPartitioning(Seq("days(v)")) }
    intercept[IllegalArgumentException] { t2.setPartitioning(Seq("truncate(4,id)")) }
  }

  test("ALTER TABLE refuses RENAME/DROP of a column a CHECK constraint " +
      "references (the constraint would dangle); unrelated alters pass") {
    val lake = tmpRoot("cgrd")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_cg", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cg.root", lake)
    try {
      spark.sql("CREATE NAMESPACE graft_cg.db")
      spark.sql("CREATE TABLE graft_cg.db.g (id BIGINT, v BIGINT, note STRING)")
      spark.sql("INSERT INTO graft_cg.db.g VALUES (1, 10, 'x')")
      val t = GraftTable.forPath(spark, s"$lake/db/g")
      t.addConstraint("v_nonneg", "v >= 0")
      // rename/drop of the referenced column: refused, table unchanged
      val e1 = intercept[Exception] {
        spark.sql("ALTER TABLE graft_cg.db.g RENAME COLUMN v TO w")
      }
      assert(e1.getMessage.contains("v_nonneg"), e1.getMessage)
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE graft_cg.db.g DROP COLUMN v")
      }
      assert(e2.getMessage.contains("v_nonneg"), e2.getMessage)
      assert(t.commitAt(t.latestVersion).schema.fieldNames.toSeq ==
        Seq("id", "v", "note"))
      // an UNRELATED column still renames/drops freely, and every
      // subsequent write still analyzes + enforces
      spark.sql("ALTER TABLE graft_cg.db.g RENAME COLUMN note TO remark")
      spark.sql("ALTER TABLE graft_cg.db.g DROP COLUMN remark")
      spark.sql("INSERT INTO graft_cg.db.g VALUES (2, 20)")
      // (the reported DSv2 constraints let Spark itself enforce on SQL
      // inserts — CHECK_CONSTRAINT_VIOLATION; the table-format guard
      // backs every non-SQL path)
      val e3 = intercept[Exception] {
        spark.sql("INSERT INTO graft_cg.db.g VALUES (3, -1)")
      }
      assert(e3.getMessage.contains("v_nonneg"), e3.getMessage)
      // after DROP CONSTRAINT the rename is legal
      t.dropConstraint("v_nonneg")
      spark.sql("ALTER TABLE graft_cg.db.g RENAME COLUMN v TO w")
      assert(spark.sql("SELECT sum(w) FROM graft_cg.db.g")
        .collect().head.getLong(0) == 30L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cg.db.g")
      spark.conf.unset("spark.sql.catalog.graft_cg")
      spark.conf.unset("spark.sql.catalog.graft_cg.root")
    }
  }

  test("SQL catalog: CREATE / INSERT / SELECT / VERSION AS OF / DROP") {
    import spark.implicits._
    val lake = tmpRoot("lake")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.root", lake)
    try {
      spark.sql("CREATE NAMESPACE graft_cat.db")
      spark.sql("CREATE TABLE graft_cat.db.t (id BIGINT, v DOUBLE)")
      // INSERT INTO = one transactional append version each
      spark.sql("INSERT INTO graft_cat.db.t VALUES (1, 10.0), (2, 20.0)")
      spark.sql("INSERT INTO graft_cat.db.t VALUES (3, 30.0)")
      assert(spark.sql("SELECT * FROM graft_cat.db.t").count() == 3)
      assert(spark.sql("SELECT sum(id) FROM graft_cat.db.t").as[Long].head() == 6L)
      // SQL time travel: version 2 = after the first insert
      assert(spark.sql("SELECT * FROM graft_cat.db.t VERSION AS OF 2").count() == 2)
      // the log agrees: 3 versions (create_empty + two inserts)
      val t = GraftTable.forPath(spark, s"$lake/db/t")
      assert(t.versions == Seq(1L, 2L, 3L))
      // predicate pushdown reaches manifest pruning through SQL too
      assert(spark.sql("SELECT v FROM graft_cat.db.t WHERE id = 3").as[Double].head() == 30.0)
      // INSERT OVERWRITE replaces the snapshot transactionally
      spark.sql("INSERT OVERWRITE graft_cat.db.t VALUES (9, 90.0)")
      assert(spark.sql("SELECT * FROM graft_cat.db.t").count() == 1)
      assert(spark.sql("SELECT * FROM graft_cat.db.t VERSION AS OF 3").count() == 3)
      assert(spark.sql("SHOW TABLES IN graft_cat.db").count() == 1)
      spark.sql("DROP TABLE graft_cat.db.t")
      assert(spark.sql("SHOW TABLES IN graft_cat.db").count() == 0)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_cat")
      spark.conf.unset("spark.sql.catalog.graft_cat.root")
    }
  }

  test("string predicates prune on truncated manifest min/max (round-13)") {
    import spark.implicits._
    val root = tmpRoot("str")
    val df = spark.range(1000)
      .select(format_string("doc-%05d", $"id").as("doc_id"),
        ($"id" % 7).cast("long").as("v"))
      .repartitionByRange(8, $"doc_id")
    GraftTable.create(spark, root, df)
    // equality: one range file survives
    val q = spark.read.format("graft").load(root).filter($"doc_id" === "doc-00500")
    val scan = plannedScan(q)
    assert(scan.prunedFiles.size < 8 && scan.prunedFiles.nonEmpty,
      s"string equality should prune, got ${scan.prunedFiles.size}/8")
    assert(q.count() == 1)
    // range: BETWEEN folds to a [lo, hi] string interval
    val q2 = spark.read.format("graft").load(root)
      .filter($"doc_id" >= "doc-00100" && $"doc_id" <= "doc-00220")
    assert(plannedScan(q2).prunedFiles.size < 8)
    assert(q2.count() == 121)
    // prefix: startsWith folds to a sound lower bound
    val q3 = spark.read.format("graft").load(root)
      .filter($"doc_id".startsWith("doc-009"))
    assert(plannedScan(q3).prunedFiles.size < 8)
    assert(q3.count() == 100)
  }

  test("partitioned DSv2 write: partitionBy lands partition values in the manifest") {
    import spark.implicits._
    val root = tmpRoot("pwrite")
    val df = spark.range(300).toDF("id")
      .withColumn("dd", ($"id" % 3).cast("int"))
    df.write.format("graft").partitionBy("dd").mode("append").save(root)
    val t = GraftTable.forPath(spark, root)
    val c = t.commitAt(t.latestVersion)
    assert(c.partitionCols == Seq("dd"))
    assert(c.files.nonEmpty && c.files.forall(_.partition.contains("dd")),
      s"expected manifest partition values: ${c.files.map(_.partition)}")
    // a later append INHERITS the layout (no partitionBy respelled)
    spark.range(300, 330).toDF("id").withColumn("dd", lit(7))
      .write.format("graft").mode("append").save(root)
    val c2 = t.commitAt(t.latestVersion)
    assert(c2.files.forall(_.partition.contains("dd")))
    // and the scan prunes on the manifest values
    val q = spark.read.format("graft").load(root).filter($"dd" === 7)
    val scan = plannedScan(q)
    assert(scan.prunedFiles.nonEmpty && scan.prunedFiles.forall(_.partition("dd") == "7"))
    assert(q.count() == 30)
    assert(spark.read.format("graft").load(root).count() == 330)
  }

  test("SQL: CREATE TABLE ... PARTITIONED BY + INSERT prunes off the manifest") {
    import spark.implicits._
    val lake = tmpRoot("sqlpart")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_p", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_p.root", lake)
    try {
      spark.sql("CREATE NAMESPACE graft_p.db")
      spark.sql(
        "CREATE TABLE graft_p.db.part_t (id BIGINT, dd INT) PARTITIONED BY (dd)")
      spark.range(200).toDF("id").withColumn("dd", ($"id" % 4).cast("int"))
        .createOrReplaceTempView("part_src")
      spark.sql("INSERT INTO graft_p.db.part_t SELECT id, dd FROM part_src")
      val t = GraftTable.forPath(spark, s"$lake/db/part_t")
      val c = t.commitAt(t.latestVersion)
      assert(c.partitionCols == Seq("dd"))
      assert(c.files.nonEmpty && c.files.forall(_.partition.contains("dd")))
      val q = spark.sql("SELECT id FROM graft_p.db.part_t WHERE dd = 2")
      val scan = plannedScan(q)
      assert(scan.prunedFiles.forall(_.partition("dd") == "2"),
        s"SQL partition pruning must gate dd=2: ${scan.prunedFiles.map(_.partition)}")
      assert(q.count() == 50)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_p.db.part_t")
      spark.conf.unset("spark.sql.catalog.graft_p")
      spark.conf.unset("spark.sql.catalog.graft_p.root")
    }
  }

  test("SQL MERGE INTO lowers to the transactional COW merge") {
    import spark.implicits._
    val lake = tmpRoot("mergesql")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_m", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_m.root", lake)
    try {
      val base = spark.range(1000).toDF("id")
        .withColumn("v", ($"id" * 10).cast("long"))
        .repartitionByRange(8, $"id")
      GraftTable.create(spark, s"$lake/db/m_t", base)
      spark.range(10, 41).toDF("id").withColumn("v", lit(999999L))
        .unionByName(spark.range(2000, 2010).toDF("id").withColumn("v", lit(-1L)))
        .createOrReplaceTempView("merge_src")
      spark.sql(
        """MERGE INTO graft_m.db.m_t AS t USING merge_src AS s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val t = GraftTable.forPath(spark, s"$lake/db/m_t")
      assert(t.latestVersion == 2 && t.commitAt(2).operation == "merge_upsert")
      val got = t.read()
      assert(got.count() == 1010)
      assert(got.filter($"id".between(10, 40) && $"v" =!= 999999L).isEmpty)
      assert(got.filter($"v" === -1L).count() == 10)
      assert(got.filter($"id" === 5L).select($"v").as[Long].head() == 50L)
      // COW: the merge carried untouched range files by path identity
      val carried = t.commitAt(1).files.map(_.path).toSet intersect
        t.commitAt(2).files.map(_.path).toSet
      assert(carried.size >= 5, s"SQL merge should prune files, carried=$carried")
      // cardinality violation fails loudly
      spark.range(5, 6).toDF("id").withColumn("v", lit(1L))
        .unionByName(spark.range(5, 6).toDF("id").withColumn("v", lit(2L)))
        .createOrReplaceTempView("merge_dup")
      val e = intercept[Exception] {
        spark.sql(
          """MERGE INTO graft_m.db.m_t AS t USING merge_dup AS s
            |ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      assert(e.getMessage.contains("multiple source rows"), e.getMessage)
      // unsupported shapes fail with the explicit graft error
      val e2 = intercept[Exception] {
        spark.sql(
          """MERGE INTO graft_m.db.m_t AS t USING merge_src AS s
            |ON t.id = s.id
            |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      assert(e2.getMessage.contains("graft MERGE INTO supports"), e2.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_m.db.m_t")
      spark.conf.unset("spark.sql.catalog.graft_m")
      spark.conf.unset("spark.sql.catalog.graft_m.root")
    }
  }

  test("SQL DELETE FROM and UPDATE ride the COW rewrite path") {
    import spark.implicits._
    val lake = tmpRoot("dml")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_d", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_d.root", lake)
    try {
      val base = spark.range(1000).toDF("id")
        .withColumn("v", ($"id" * 10).cast("long"))
        .withColumn("s", concat(lit("row-"), format_string("%04d", $"id")))
        .repartitionByRange(8, $"id")
      GraftTable.create(spark, s"$lake/db/dml_t", base)
      val t = GraftTable.forPath(spark, s"$lake/db/dml_t")

      // DELETE: narrow id range, 5% of rows — since round 14 the auto
      // decision picks MERGE-ON-READ: zero data files rewrite (ALL paths
      // carry), the matched rows land in deletion-vector sidecars
      spark.sql("DELETE FROM graft_d.db.dml_t WHERE id >= 100 AND id < 150")
      assert(t.latestVersion == 2 && t.commitAt(2).operation == "delete_dv")
      assert(t.read().count() == 950)
      assert(t.read().filter($"id".between(100, 149)).isEmpty)
      assert(t.commitAt(2).files.map(_.path).toSet ==
        t.commitAt(1).files.map(_.path).toSet,
        "a DV delete must rewrite zero data files")
      assert(t.commitAt(2).files.map(_.dvRows).sum == 50L)

      // UPDATE: assigned value references the row; WHERE folds to a range
      spark.sql(
        "UPDATE graft_d.db.dml_t SET v = v + 1000000 WHERE id >= 200 AND id < 230")
      assert(t.latestVersion == 3 && t.commitAt(3).operation == "update")
      assert(t.read().count() == 950)
      assert(t.read().filter($"id".between(200, 229) && $"v" =!= $"id" * 10 + 1000000)
        .isEmpty)
      assert(t.read().filter($"id" === 500L).select($"v").as[Long].head() == 5000L)
      val carriedUpd = t.commitAt(2).files.map(_.path).toSet intersect
        t.commitAt(3).files.map(_.path).toSet
      assert(carriedUpd.size >= 5, s"UPDATE should prune files, carried=$carriedUpd")

      // string-predicate DELETE prunes on string stats and stays exact
      spark.sql("DELETE FROM graft_d.db.dml_t WHERE s = 'row-0777'")
      assert(t.read().filter($"s" === "row-0777").isEmpty)
      assert(t.read().count() == 949)

      // time travel still serves every pre-DML snapshot
      assert(t.read(1).count() == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_d.db.dml_t")
      spark.conf.unset("spark.sql.catalog.graft_d")
      spark.conf.unset("spark.sql.catalog.graft_d.root")
    }
  }

  test("SQL UPDATE prunes on each translatable conjunct of its WHERE") {
    import spark.implicits._
    val lake = tmpRoot("updconj")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_u", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_u.root", lake)
    try {
      // ids 0–399 as 4 range-clustered files of 100, v = id ≥ 0
      val t = GraftTable.create(spark, s"$lake/db/u",
        spark.range(0, 400, 1, 4).toDF("id").withColumn("v", $"id"))
      val v1 = t.commitAt(1).files
      assert(v1.size == 4 && v1.forall(_.rows == 100))
      val low = v1.filter(f => BigDecimal(f.stats("id").max) < 100).map(_.path).toSet
      assert(low.size == 1)
      // the modulo conjunct has no source-filter form; `id < 100` alone
      // must still narrow the candidates to the one low file
      spark.sql("UPDATE graft_u.db.u SET v = v + 1 WHERE id < 100 AND v % 7 >= 0")
      val v2 = t.commitAt(2)
      val replaced = v1.map(_.path).toSet -- v2.files.map(_.path).toSet
      assert(replaced == low, s"only the id < 100 file may be replaced, got $replaced")
      assert(t.read().filter($"id" < 100 && $"v" =!= $"id" + 1).isEmpty)
      assert(t.read().filter($"id" >= 100 && $"v" =!= $"id").isEmpty)
      assert(t.read().count() == 400)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_u")
      spark.conf.unset("spark.sql.catalog.graft_u.root")
    }
  }

  test("SQL DELETE matches a pre-1970 fractional-second timestamp") {
    import spark.implicits._
    val lake = tmpRoot("ts1969")
    new java.io.File(lake).mkdirs()
    val prevUnit = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.catalog.graft_t", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_t.root", lake)
    try {
      // one file per timestamp; the other files hold LATER instants
      val t = GraftTable.create(spark, s"$lake/db/ts",
        spark.sql("SELECT 1L AS id, TIMESTAMP '1969-12-31 23:59:58.5' AS ts"))
      t.append(spark.sql("SELECT 2L AS id, TIMESTAMP '1969-12-31 23:59:59.5' AS ts"))
      t.append(spark.sql("SELECT 3L AS id, TIMESTAMP '2024-01-01 00:00:00' AS ts"))
      assert(t.commitAt(3).files.map(_.stats("ts").kind).toSet == Set("ts-micros"))
      spark.sql("DELETE FROM graft_t.db.ts WHERE ts = TIMESTAMP '1969-12-31 23:59:58.5'")
      assert(t.read().as[(Long, java.sql.Timestamp)].collect().map(_._1).sorted.toSeq ==
        Seq(2L, 3L), "the matching pre-1970 row must be deleted")
    } finally {
      spark.conf.set("spark.sql.parquet.outputTimestampType", prevUnit)
      spark.conf.unset("spark.sql.catalog.graft_t")
      spark.conf.unset("spark.sql.catalog.graft_t.root")
    }
  }

  test("SQL ALTER TABLE ADD COLUMNS: additive evolution, zero data IO") {
    import spark.implicits._
    val lake = tmpRoot("alter")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_a", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_a.root", lake)
    try {
      GraftTable.create(spark, s"$lake/db/alt_t", spark.range(10).toDF("id"))
      val t = GraftTable.forPath(spark, s"$lake/db/alt_t")
      val filesBefore = t.commitAt(1).files.map(_.path).toSet
      spark.sql("ALTER TABLE graft_a.db.alt_t ADD COLUMNS (tag STRING, score DOUBLE)")
      // zero data IO: the evolved version lists the SAME files
      assert(t.latestVersion == 2 && t.commitAt(2).operation == "alter_table")
      assert(t.commitAt(2).files.map(_.path).toSet == filesBefore)
      // old rows read nulls in the new columns; new inserts fill them
      assert(spark.sql("SELECT count(*) FROM graft_a.db.alt_t WHERE tag IS NULL")
        .as[Long].head() == 10)
      spark.sql("INSERT INTO graft_a.db.alt_t VALUES (99, 'x', 1.5)")
      assert(spark.sql("SELECT score FROM graft_a.db.alt_t WHERE id = 99")
        .as[Double].head() == 1.5)
      // time travel below the evolution serves the narrow schema
      assert(spark.sql("SELECT * FROM graft_a.db.alt_t VERSION AS OF 1")
        .columns.toSeq == Seq("id"))
      // round 14: DROP COLUMN is now metadata-only (column mapping) —
      // zero data IO, and the dropped column vanishes from the schema
      val filesBeforeDrop = t.commitAt(t.latestVersion).files.map(_.path).toSet
      spark.sql("ALTER TABLE graft_a.db.alt_t DROP COLUMN tag")
      val afterDrop = t.commitAt(t.latestVersion)
      assert(afterDrop.files.map(_.path).toSet == filesBeforeDrop)
      assert(!afterDrop.schema.fieldNames.contains("tag"))
      // type changes remain refused
      intercept[Exception] {
        spark.sql("ALTER TABLE graft_a.db.alt_t ALTER COLUMN score TYPE STRING")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_a.db.alt_t")
      spark.conf.unset("spark.sql.catalog.graft_a")
      spark.conf.unset("spark.sql.catalog.graft_a.root")
    }
  }

  test("CALL mv_refresh: creates and incrementally maintains an aggregate " +
      "table from pure SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val lake = tmpRoot("mvproc")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_mvp", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mvp.root", lake)
    try {
      val t = GraftTable.create(spark, s"$lake/db/src",
        spark.range(100).toDF("id")
          .withColumn("g", ($"id" % 4).cast("long"))
          .withColumn("v", ($"id" * 2).cast("long")))
      val r1 = spark.sql("CALL graft_mvp.system.mv_refresh(tbl => 'db.src', " +
        "dest => 'db.rollup', group_cols => 'g', sum_cols => 'v')").collect()
      assert(r1.head.getString(0) == "mv_refresh" && r1.head.getLong(1) == 1L)
      t.deleteWhere(col("g") === 2L)
      val r2 = spark.sql("CALL graft_mvp.system.mv_refresh(tbl => 'db.src', " +
        "dest => 'db.rollup', group_cols => 'g', sum_cols => 'v')").collect()
      assert(r2.head.getLong(1) == 2L)
      val got = graft.table.MaterializedAgg.readView(spark, s"$lake/db/rollup",
        Seq("g"), Seq("v")).select($"g", $"cnt", $"sum_v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = t.read().groupBy($"g")
        .agg(org.apache.spark.sql.functions.count($"id").as("cnt"),
          org.apache.spark.sql.functions.sum($"v").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"SQL-maintained rollup diverged: $got vs $want")
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_mvp")
      spark.conf.unset("spark.sql.catalog.graft_mvp.root")
    }
  }

  test("CALL procedures: compact / zorder / vacuum run as pure SQL") {
    import spark.implicits._
    val lake = tmpRoot("proc")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_pr", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pr.root", lake)
    try {
      val t = GraftTable.create(spark, s"$lake/db/m_t",
        spark.range(100).toDF("id").withColumn("dd", ($"id" % 4).cast("int")))
      (1 to 4).foreach(i => t.append(spark.range(i * 100L, i * 100L + 100).toDF("id")
        .withColumn("dd", lit(i % 4))))
      val nFilesBefore = t.commitAt(t.latestVersion).files.size

      // compact: bin-packs the small files, returns the committed version
      val c = spark.sql("CALL graft_pr.system.compact(tbl => 'db.m_t', target_rows => 1000)")
        .collect()
      assert(c.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("compact", 6L)))
      assert(t.commitAt(6).files.size < nFilesBefore)
      assert(t.read().count() == 500)

      // zorder: clusters on (id, dd) into 4 z-range files
      val z = spark.sql(
        "CALL graft_pr.system.zorder(tbl => 'db.m_t', x => 'id', y => 'dd', n_files => 4)")
        .collect()
      assert(z.head.getString(0) == "zorder" && z.head.getLong(1) == 7L)
      assert(t.read().count() == 500)

      // vacuum DRY RUN first: reports the reclaimable count, deletes nothing
      val dr = spark.sql(
        "CALL graft_pr.system.vacuum(tbl => 'db.m_t', retain_from => 7, " +
          "min_age_ms => 0, dry_run => true)").collect()
      assert(dr.head.getString(0) == "vacuum_dry_run_would_delete" &&
        dr.head.getLong(1) > 0)
      assert(t.versions.size > 1, "dry run must not drop manifests")
      // vacuum: drops pre-retention manifests + their exclusive files
      // (min_age_ms passed explicitly — test files are seconds old)
      spark.sql(
        "CALL graft_pr.system.vacuum(tbl => 'db.m_t', retain_from => 7, min_age_ms => 0)")
        .collect()
      assert(t.versions == Seq(7L))
      assert(t.read().count() == 500)

      // retention-DURATION spelling (VACUUM ... RETAIN): a window past
      // the first retained commit clamps there (no-op); zero retention
      // keeps only the snapshot active now (= latest)
      t.append(spark.range(900, 910).toDF("id").withColumn("dd", lit(0)))
      spark.sql("CALL graft_pr.system.vacuum(tbl => 'db.m_t', " +
        "retain_ms => 864000000000, min_age_ms => 0)").collect()
      assert(t.versions == Seq(7L, 8L),
        "a retention window past the first retained commit must no-op")
      spark.sql("CALL graft_pr.system.vacuum(tbl => 'db.m_t', " +
        "retain_ms => 0, min_age_ms => 0)").collect()
      assert(t.versions == Seq(8L))
      assert(t.read().count() == 510)
      // exactly one of retain_from / retain_ms
      intercept[Exception] {
        spark.sql("CALL graft_pr.system.vacuum(tbl => 'db.m_t', " +
          "retain_from => 8, retain_ms => 0)").collect()
      }

      // the ANSI spelling: ALTER TABLE ... ADD CONSTRAINT ... CHECK —
      // Spark 4's DSv2 constraint API lowers onto the same machinery
      spark.sql("ALTER TABLE graft_pr.db.m_t ADD CONSTRAINT dd_nonneg " +
        "CHECK (dd >= 0)")
      intercept[Exception] {
        spark.sql("INSERT INTO graft_pr.db.m_t VALUES (900000, -3)")
      }
      // a constraint existing rows violate is refused at ADD
      intercept[Exception] {
        spark.sql("ALTER TABLE graft_pr.db.m_t ADD CONSTRAINT impossible " +
          "CHECK (id < 0)")
      }
      spark.sql("ALTER TABLE graft_pr.db.m_t DROP CONSTRAINT dd_nonneg")
      intercept[Exception] {
        spark.sql("ALTER TABLE graft_pr.db.m_t DROP CONSTRAINT dd_nonneg")
      }

      // CHECK constraints through CALL, enforced on the SQL INSERT path
      spark.sql("CALL graft_pr.system.add_constraint(tbl => 'db.m_t', " +
        "name => 'id_nonneg', expr => 'id >= 0')").collect()
      intercept[Exception] {
        spark.sql("INSERT INTO graft_pr.db.m_t VALUES (-5, 0)")
      }
      assert(t.read().count() == 510, "a rejected INSERT must commit nothing")
      spark.sql("INSERT INTO graft_pr.db.m_t VALUES (5000, 0)")
      assert(t.read().count() == 511)
      spark.sql("CALL graft_pr.system.drop_constraint(tbl => 'db.m_t', " +
        "name => 'id_nonneg')").collect()
      spark.sql("INSERT INTO graft_pr.db.m_t VALUES (-5, 0)")
      assert(t.read().count() == 512)

      // bloom index through CALL: counts the files indexed; the DSv2
      // point lookup then prunes through the registry
      val bi = spark.sql(
        "CALL graft_pr.system.index_bloom(tbl => 'db.m_t', col => 'id')")
        .collect()
      assert(bi.head.getString(0) == "index_bloom_files_indexed" &&
        bi.head.getLong(1) > 0)
      assert(spark.read.format("graft").load(s"$lake/db/m_t")
        .filter(col("id") === 250L).count() == 1)

      // shallow clone through CALL: dest v1 references src files, zero
      // bytes copied, reads agree
      val cln = spark.sql(
        "CALL graft_pr.system.clone(tbl => 'db.m_t', dest => 'db.m_t_clone')")
        .collect()
      assert(cln.head.getString(0) == "clone")
      val tc = GraftTable.forPath(spark, s"$lake/db/m_t_clone")
      assert(tc.read().count() == t.read().count())
      assert(tc.commitAt(1).files.forall(f => new java.io.File(f.path).isAbsolute))

      intercept[Exception] {
        spark.sql("CALL graft_pr.system.nonsense(tbl => 'db.m_t')").collect()
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pr.db.m_t")
      spark.conf.unset("spark.sql.catalog.graft_pr")
      spark.conf.unset("spark.sql.catalog.graft_pr.root")
    }
  }

  test("CALL procedures: history / restore / checkpoint audit the log as pure SQL") {
    import spark.implicits._
    val lake = tmpRoot("hist")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_h", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_h.root", lake)
    try {
      val t = GraftTable.create(spark, s"$lake/db/h_t", spark.range(10).toDF("id"))
      t.append(spark.range(10, 30).toDF("id"))
      t.upsertKeepLatest(spark.range(5, 8).toDF("id"), Seq("id"), Seq($"id".asc))

      // history: one audit row per version, straight off the manifests
      val h = spark.sql("CALL graft_h.system.history(tbl => 'db.h_t')").collect()
      assert(h.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
        Seq((1L, 0L, "create"), (2L, 1L, "append"), (3L, 2L, "upsert_keep_latest")))
      assert(h.map(_.getLong(5)).toSeq == Seq(10L, 30L, 30L)) // live row counts
      // commit timestamps surface in history, strictly ascending
      val hts = h.map(_.getTimestamp(3).getTime)
      assert(hts.toSeq == hts.sorted.toSeq && hts.distinct.length == hts.length)

      // restore: new commit whose content IS version 1's, files shared
      val r = spark.sql("CALL graft_h.system.restore(tbl => 'db.h_t', version => 1)")
        .collect()
      assert(r.head.getString(0) == "restore_v1" && r.head.getLong(1) == 4L)
      assert(t.read().as[Long].collect().sorted.toSeq == (0L until 10L))
      assert(t.commitAt(4).files.map(_.path) == t.commitAt(1).files.map(_.path),
        "restore must share version 1's files by reference")
      // the undone range still time-travels (history preserved)
      assert(t.read(2).count() == 30)

      // checkpoint: force-publish the latest sidecar
      val c = spark.sql("CALL graft_h.system.checkpoint(tbl => 'db.h_t')").collect()
      assert(c.head.getString(0) == "checkpoint" && c.head.getLong(1) == 4L)
      assert(new java.io.File(s"$lake/db/h_t/_graft_log", f"v${4L}%020d.ckpt.json").exists())
      // streaming/restore txn metadata survives: history now shows v4
      val h2 = spark.sql("CALL graft_h.system.history(tbl => 'db.h_t')").collect()
      assert(h2.length == 4 && h2.last.getString(2) == "restore_v1")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_h.db.h_t")
      spark.conf.unset("spark.sql.catalog.graft_h")
      spark.conf.unset("spark.sql.catalog.graft_h.root")
    }
  }

  test("column mapping: RENAME/DROP COLUMN are metadata-only commits; " +
      "time travel, CDF, pruning, and merges all resolve through the " +
      "stable physical names") {
    import spark.implicits._
    val root = tmpRoot("colmap")
    val lake = new java.io.File(root).getParentFile.getAbsolutePath
    val name = new java.io.File(root).getName
    val df = spark.range(1000).toDF("uid")
      .withColumn("score", ($"uid" * 3).cast("long"))
      .withColumn("note", concat(lit("n"), $"uid"))
      .repartitionByRange(8, $"uid")
    val t = GraftTable.create(spark, root, df)
    val v1Files = t.commitAt(1).files.map(_.path).toSet
    spark.conf.set("spark.sql.catalog.graft_cm", classOf[graft.table.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cm.root", lake)
    try {
      // RENAME: zero data IO — version 2 carries the SAME files
      spark.sql(s"ALTER TABLE graft_cm.`$name` RENAME COLUMN uid TO user_id")
      val c2 = t.commitAt(2)
      assert(c2.files.map(_.path).toSet == v1Files, "rename must not rewrite data")
      assert(c2.schema.fieldNames.toSeq == Seq("user_id", "score", "note"))
      assert(c2.columnMapping == Map("user_id" -> "uid"))
      // reads serve the new logical name; values are the old bytes
      val post = spark.read.format("graft").load(root)
      assert(post.schema.fieldNames.head == "user_id")
      assert(post.agg(sum($"user_id")).as[Long].head() == (0L until 1000L).sum)
      // time travel BELOW the rename serves the old name
      assert(spark.read.format("graft").option("versionAsOf", 1).load(root)
        .schema.fieldNames.head == "uid")
      // pushdown pruning on the RENAMED column still hits the physical stats
      val q = post.filter($"user_id" >= 100 && $"user_id" <= 220)
      val scan = plannedScan(q)
      assert(scan.prunedFiles.size < 8 && scan.prunedFiles.nonEmpty,
        s"renamed-column predicate must still prune: ${scan.prunedFiles.size}/8")
      assert(q.count() == 121)
      // CDF ACROSS the rename commit: the evolution itself is change-free,
      // and the O(churn) telescoped path survives the schema change
      assert(t.changesBetween(1, 2).isEmpty,
        "a rename commit must be change-free under CDF")
      // appends + COW merge on the renamed key: stats translate, so the
      // narrow merge still carries most files by identity
      t.append(Seq((5000L, 1L, "x")).toDF("user_id", "score", "note"))
      t.mergeUpsert(Seq((10L, 999L, "upd"), (5000L, 2L, "y"))
        .toDF("user_id", "score", "note"), Seq("user_id"))
      val v4 = t.commitAt(t.latestVersion)
      val carried = v1Files.intersect(v4.files.map(_.path).toSet)
      assert(carried.size >= 6,
        s"COW on a renamed key must still prune; carried ${carried.size}/8")
      assert(t.read().filter($"user_id" === 10L).select($"score")
        .as[Long].head() == 999L)
      // CDF across rename + append + merge in ONE evolved range
      val chg = t.changesBetween(1, t.latestVersion)
      assert(chg.filter($"_change_type" === "insert" && $"user_id" === 5000L)
        .count() == 1)

      // DROP: metadata-only; re-ADD of the same name must NOT resurrect
      spark.sql(s"ALTER TABLE graft_cm.`$name` DROP COLUMN note")
      val cDrop = t.commitAt(t.latestVersion)
      assert(cDrop.files.map(_.path).toSet == v4.files.map(_.path).toSet)
      assert(!cDrop.schema.fieldNames.contains("note"))
      spark.sql(s"ALTER TABLE graft_cm.`$name` ADD COLUMNS (note STRING)")
      val readd = spark.read.format("graft").load(root)
      assert(readd.schema.fieldNames.contains("note"))
      assert(readd.filter($"note".isNotNull).count() == 0,
        "a re-added column must read as null, never the dropped bytes")
      // and the fresh physical name proves it structurally
      val cAdd = t.commitAt(t.latestVersion)
      assert(cAdd.columnMapping("note") != "note")
      // SQL writes against the evolved table land under physical names
      spark.sql(s"INSERT INTO graft_cm.`$name` VALUES (7777, 1, 'fresh')")
      val after = spark.read.format("graft").load(root)
      assert(after.filter($"user_id" === 7777L).select($"note")
        .as[String].head() == "fresh")
      assert(after.filter($"note".isNotNull).count() == 1)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_cm")
      spark.conf.unset("spark.sql.catalog.graft_cm.root")
    }
  }

  test("manifest statistics reach the optimizer: small graft dim " +
      "auto-broadcasts with NO hint; pruning shrinks the estimate") {
    import spark.implicits._
    val root = tmpRoot("stats")
    val dim = spark.range(100).toDF("id")
      .withColumn("name", concat(lit("n"), $"id"))
      .repartitionByRange(4, $"id")
    GraftTable.create(spark, root, dim)

    // exact manifest-derived estimate on the planned scan itself
    val d = spark.read.format("graft").load(root)
    val full = plannedScan(d).estimateStatistics()
    assert(full.numRows.getAsLong == 100L, "row count comes exact from the manifest")
    assert(full.sizeInBytes.getAsLong > 0 && full.sizeInBytes.getAsLong < (1 << 20),
      s"size should be the files' real bytes, got ${full.sizeInBytes}")

    // post-pruning stats shrink with the predicate (the AQE-truth property)
    val pruned = plannedScan(d.filter($"id" < 5)).estimateStatistics()
    assert(pruned.sizeInBytes.getAsLong < full.sizeInBytes.getAsLong,
      s"pruned ${pruned.sizeInBytes} !< full ${full.sizeInBytes}")
    assert(pruned.numRows.getAsLong < 100L)

    // the logical plan sees the estimate through the stats-forwarding
    // wrapper (not the 8-EiB unknown default) ...
    val planStats = d.queryExecution.optimizedPlan.stats
    assert(planStats.sizeInBytes < (BigInt(1) << 30),
      s"logical stats still unknown-size default: $planStats")
    // ... so a fact join broadcasts the dim WITHOUT any hint. The fact
    // side is big enough (16 MB of range > 10 MB threshold) that no
    // broadcast could come from the other side.
    val fact = spark.range(2000000).toDF("fid").withColumn("id", $"fid" % 100)
    val phys = fact.join(d, "id").queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"expected unhinted BroadcastHashJoin over the graft dim, got:\n$phys")
  }

  test("TIMESTAMP AS OF: commit timestamps are monotone and resolve " +
      "Delta-style (latest commit at or before t)") {
    import spark.implicits._
    val root = tmpRoot("tsasof")
    val t = GraftTable.create(spark, root, spark.range(10).toDF("id"))
    t.append(spark.range(10, 15).toDF("id"))
    t.append(spark.range(15, 18).toDF("id"))
    val ts = (1L to 3L).map(t.commitTimestamp)
    assert(ts == ts.sorted && ts.distinct == ts,
      s"commit timestamps must be strictly monotone, got $ts")
    // resolution: each version's own timestamp resolves to that version;
    // a mid-gap instant resolves DOWN; far future resolves to latest
    assert(t.versionAtTimestamp(ts(0)) == 1L)
    assert(t.versionAtTimestamp(ts(1)) == 2L)
    assert(t.versionAtTimestamp(ts(2) + 1000000L) == 3L)
    intercept[IllegalArgumentException](t.versionAtTimestamp(ts(0) - 1))

    // reader option: epoch millis and a rendered timestamp string
    val v1 = spark.read.format("graft")
      .option("timestampAsOf", ts(0).toString).load(root)
    assert(v1.count() == 10)
    val rendered = new java.sql.Timestamp(ts(1)).toString
    val v2 = spark.read.format("graft")
      .option("timestampAsOf", rendered).load(root)
    assert(v2.count() == 15)
    intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", 1)
        .option("timestampAsOf", ts(0).toString).load(root).count()
    }

    // SQL surface: TIMESTAMP AS OF through the catalog (micros → version)
    val lake = new java.io.File(root).getParentFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_ts", classOf[graft.table.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ts.root", lake)
    try {
      val name = new java.io.File(root).getName
      // session tz is UTC, so render the instant in UTC for the literal
      val lit1 = java.time.Instant.ofEpochMilli(ts(0)).toString
        .replace("T", " ").replace("Z", "")
      val n1 = spark.sql(
        s"SELECT count(*) FROM graft_ts.`$name` TIMESTAMP AS OF '$lit1'")
        .as[Long].head()
      assert(n1 == 10, s"SQL TIMESTAMP AS OF v1 instant returned $n1 rows")
      val nLatest = spark.sql(
        s"SELECT count(*) FROM graft_ts.`$name` TIMESTAMP AS OF '2099-01-01'")
        .as[Long].head()
      assert(nLatest == 18)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_ts")
      spark.conf.unset("spark.sql.catalog.graft_ts.root")
    }
  }

  test("timestamp predicates fold to epoch-micro ranges and prune") {
    import spark.implicits._
    val root = tmpRoot("ts")
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts")
      .repartitionByRange(8, $"ts")
    GraftTable.create(spark, root, ev)
    val cut = "2024-01-20"
    val q = spark.read.format("graft").load(root)
      .filter($"ts" >= lit(cut).cast("timestamp_ntz"))
    val scan = plannedScan(q)
    assert(scan.prunedFiles.size < 8,
      s"timestamp range should prune, got ${scan.prunedFiles.size}/8")
    val expected = ev.filter($"ts" >= lit(cut).cast("timestamp_ntz")).count()
    assert(q.count() == expected)
  }
}
