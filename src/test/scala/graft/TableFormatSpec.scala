package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.table.{ConcurrentCommitException, FileFilter, GraftTable}

/** The versioned table format's transactional contract (round-10 verdict
  * task 1): snapshot isolation via immutable files + manifests, atomic
  * create-if-absent commits, optimistic concurrency (exactly one of two
  * racing writers on the same parent wins), time travel, incremental
  * SCD2/CDC merge equivalence, compaction/z-order rewrites, and vacuum.
  */
class TableFormatSpec extends SparkSpec {

  private def tmpRoot(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_tfs_$tag").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def events = Tables.events(spark, sf)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("create + append: versions accumulate, snapshots are stable") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("app"), spark.range(10).toDF("id"))
    assert(t.latestVersion == 1)
    t.append(spark.range(10, 15).toDF("id"))
    assert(t.latestVersion == 2)
    assert(t.read(1).count() == 10)
    assert(t.read(2).count() == 15)
    assert(t.read().as[Long].collect().sorted.toSeq == (0L until 15L))
    val c2 = t.commitAt(2)
    assert(c2.parent == 1 && c2.operation == "append")
    assert(c2.files.map(_.rows).sum == 15)
  }

  test("time travel: version N-1 is byte-identical after the merge commit") {
    import spark.implicits._
    val root = tmpRoot("tt")
    val ev = events.select($"user_id", $"event_type", $"event_id", $"ts", $"value")
    val cut = lit("2024-01-03").cast("timestamp")
    val keys = Seq("user_id", "event_type")
    val ord = Seq($"ts".desc, $"event_id".desc)
    val base = graft.upsert.KeepLatest.keepLatest(ev.filter($"ts" < cut), keys, ord)
    val t = GraftTable.create(spark, root, base)
    val v1Before = sortedRows(t.read(1))
    t.upsertKeepLatest(ev.filter($"ts" >= cut), keys, ord)
    assert(t.latestVersion == 2)
    // the merge never touched version 1's files
    assert(sortedRows(t.read(1)) == v1Before)
    // and the merged snapshot equals keep-latest over ALL events
    val expect = sortedRows(graft.upsert.KeepLatest.keepLatest(ev, keys, ord))
    assert(sortedRows(t.read(2)) == expect)
  }

  test("changesBetween append-only fast path: exactly the added files, no shuffle") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("chg"), spark.range(10).toDF("id"))
    t.append(spark.range(10, 14).toDF("id"))
    val chg = t.changesBetween(1, 2)
    // plan proof of the O(delta) claim: the incremental read is a bare
    // scan of the appended files — no Exchange of any kind, and none of
    // version 1's data files appear as inputs.
    val plan = chg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fast path must not shuffle: $plan")
    val v1Files = t.commitAt(1).files.map(_.path.split('/').last).toSet
    assert(!v1Files.exists(plan.contains),
      s"fast path must not read base files: $plan")
    assert(chg.filter($"_change_type" === "insert").count() == 4)
    assert(chg.select($"id").as[Long].collect().sorted.toSeq == (10L until 14L))
    // self-diff of any version is empty
    assert(t.changesBetween(2, 2).isEmpty)
  }

  test("changesBetween diff path: update = delete(pre) + insert(post); compaction is change-free") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("cdf"),
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    // merge commit rewrites the file set -> manifest test fails the
    // append-only check -> multiset-diff fallback
    t.upsertKeepLatest(Seq((2L, 21L), (3L, 30L)).toDF("k", "v"),
      keys = Seq("k"), ordering = Seq($"v".desc))
    val chg = t.changesBetween(1, 2)
      .select($"k", $"v", $"_change_type").as[(Long, Long, String)]
      .collect().toSet
    assert(chg == Set((2L, 20L, "delete"),   // pre-image of the update
                      (2L, 21L, "insert"),   // post-image
                      (3L, 30L, "insert")))  // new key
    // a compaction rewrites files but changes no rows: its CDF is empty
    t.compact(targetRows = 100)
    assert(t.changesBetween(2, 3).isEmpty)
    // and spanning the compaction still reports only the logical changes
    assert(t.changesBetween(1, 3)
      .select($"k", $"v", $"_change_type").as[(Long, Long, String)]
      .collect().toSet == chg)
  }

  test("changesBetween DV-swap fast path: position-diff rows only, restore " +
      "shrink resurrects as inserts, spanning a cancelled swap is change-free") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = GraftTable.create(spark, tmpRoot("cdfswap"),
      (1L to 6L).map(i => (i, i * 10L)).toDF("k", "v"))
    t.deleteWhere(col("k").isin(2L, 3L), dvMode = "force") // v2: DV on the kept path
    t.restoreTo(1L)                                        // v3: DV dropped → resurrect
    def chg(a: Long, b: Long) = t.changesBetween(a, b)
      .select($"k", $"v", $"_change_type").as[(Long, Long, String)]
      .collect().toSet
    // the swap's row-level contribution is exactly the position diff
    assert(chg(1, 2) == Set((2L, 20L, "delete"), (3L, 30L, "delete")))
    // restore = the inverse swap: the masked positions come BACK as inserts
    assert(chg(2, 3) == Set((2L, 20L, "insert"), (3L, 30L, "insert")))
    // spanning delete+restore telescopes the two vectors away: no changes
    assert(chg(1, 3).isEmpty)
    // and a second DV stacked on the restored path diffs against None
    t.deleteWhere(col("k") === 5L, dvMode = "force")       // v4
    assert(chg(3, 4) == Set((5L, 50L, "delete")))
    assert(chg(1, 4) == Set((5L, 50L, "delete")))
  }

  test("appendEvolve: additive schema evolution, old files read as null, versions keep their schema") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("evo"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // batch adds a column and omits an existing one
    t.appendEvolve(Seq((3L, 0.5)).toDF("id", "score"))
    assert(t.latestVersion == 2)
    val v2 = t.read(2)
    assert(v2.columns.toSeq == Seq("id", "name", "score"))
    // the old file has no score: the batch's NOT NULL double commits nullable
    assert(!Seq((3L, 0.5)).toDF("id", "score").schema("score").nullable)
    assert(t.commitAt(2).schema("score").nullable)
    val rows = v2.select($"id", $"name", $"score")
      .as[(Long, Option[String], Option[Double])].collect().toSet
    assert(rows == Set((1L, Some("a"), None), (2L, Some("b"), None),
      (3L, None, Some(0.5))))
    // time travel keeps version 1's narrower schema
    assert(t.read(1).columns.toSeq == Seq("id", "name"))
    // type changes are refused, not coerced
    intercept[IllegalArgumentException] {
      t.appendEvolve(Seq(1).toDF("name"), "bad"): Unit // int vs string
    }
    assert(t.latestVersion == 2) // the refused commit left no version
  }

  test("readPruned: manifest min/max skips files, loses no rows, stays pessimistic") {
    import spark.implicits._
    // 1000 ids written as 10 range-ordered files -> tight per-file id stats
    val t = GraftTable.create(spark, tmpRoot("skip"),
      spark.range(1000).toDF("id").repartitionByRange(10, $"id"))
    val c = t.commitAt(1)
    assert(c.files.size == 10)
    // stats landed in the manifest (and survive the JSON round trip)
    assert(c.files.forall(_.stats.contains("id")))
    val pruned = t.readPruned(1, FileFilter(Seq(("id", BigDecimal(150), BigDecimal(250)))))
    // skipping: a 10% range touches ~2 of 10 files, never all of them
    assert(pruned.inputFiles.length < 10 && pruned.inputFiles.nonEmpty)
    // no row loss: pruned + real predicate == full scan + real predicate
    val want = t.read(1).filter($"id".between(150, 250))
      .as[Long].collect().sorted.toSeq
    assert(pruned.filter($"id".between(150, 250))
      .as[Long].collect().sorted.toSeq == want)
    // a column with no stats never prunes (pessimistic default)
    assert(t.readPruned(1, FileFilter(Seq(("no_such_col", BigDecimal(0), BigDecimal(1)))))
      .inputFiles.length == 10)
    // a fully-disjoint range prunes everything and stays readable
    assert(t.readPruned(1, FileFilter(Seq(("id", BigDecimal(5000), BigDecimal(6000))))).isEmpty)
  }

  test("deleteWhere derives its file filter from its own condition") {
    import spark.implicits._
    // ids 0–399 as 4 range-clustered files of 100
    val t = GraftTable.create(spark, tmpRoot("dmlfilter"),
      spark.range(0, 400, 1, 4).toDF("id").withColumn("v", $"id"))
    val v1 = t.commitAt(1).files
    assert(v1.size == 4 && v1.forall(_.rows == 100))
    val low = v1.filter(f => BigDecimal(f.stats("id").max) < 100).map(_.path).toSet
    assert(low.size == 1)
    t.deleteWhere($"id" < 100, dvMode = "off")
    val v2 = t.commitAt(2)
    assert(v2.operation == "delete")
    val replaced = v1.map(_.path).toSet -- v2.files.map(_.path).toSet
    assert(replaced == low, s"only the id < 100 file may be replaced, got $replaced")
    assert(t.read().count() == 300 && t.read().filter($"id" < 100).isEmpty)
  }

  test("zorderBy + readPruned: either clustering dimension prunes z-range files") {
    import spark.implicits._
    val df = spark.range(4096).select(
      ($"id" % 64).cast("long").as("x"), ($"id" / 64).cast("long").as("y"))
    val t = GraftTable.create(spark, tmpRoot("zskip"), df)
    t.zorderBy(col("x").cast("int"), col("y").cast("int"), nFiles = 16)
    val full = t.commitAt(2).files.size
    val byX = t.readPruned(2, FileFilter(Seq(("x", BigDecimal(0), BigDecimal(7)))))
    val byY = t.readPruned(2, FileFilter(Seq(("y", BigDecimal(0), BigDecimal(7)))))
    assert(byX.inputFiles.length < full, s"x-range read all $full files")
    assert(byY.inputFiles.length < full, s"y-range read all $full files")
    assert(byX.filter($"x" <= 7).count() == 64 * 8)
    assert(byY.filter($"y" <= 7).count() == 64 * 8)
  }

  test("optimistic concurrency: exactly one of two racing writers wins") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("occ"), spark.range(5).toDF("id"))
    val parent = t.latestVersion
    val schema = t.commitAt(parent).schema
    val files = t.commitAt(parent).files
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val results = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          latch.await(5, TimeUnit.SECONDS)
          try Right(t.commit(parent, s"writer_$i", files, schema))
          catch { case e: Throwable => Left(e) }
        }
      })
    }
    latch.countDown()
    val outcomes = results.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(outcomes.count(_.isRight) == 1, s"expected exactly one winner, got $outcomes")
    assert(outcomes.collect { case Left(e) => e }
      .forall(_.isInstanceOf[ConcurrentCommitException]))
    assert(t.latestVersion == parent + 1)
  }

  test("append retries through a conflict; both writers' rows survive") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("ret"), spark.range(1).toDF("id"))
    val pool = Executors.newFixedThreadPool(2)
    val latch = new CountDownLatch(1)
    val futures = Seq(100L, 200L).map { start =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val df = spark.range(start, start + 3).toDF("id")
          latch.await(5, TimeUnit.SECONDS)
          t.append(df)
        }
      })
    }
    latch.countDown()
    val versions = futures.map(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.toSet == Set(2L, 3L))
    val ids = t.read().as[Long].collect().toSet
    assert(Set(0L, 100L, 101L, 102L, 200L, 201L, 202L).subsetOf(ids))
    assert(ids.size == 7)
  }

  test("uncommitted data files are invisible (crashed-writer safety)") {
    import spark.implicits._
    val root = tmpRoot("crash")
    val t = GraftTable.create(spark, root, spark.range(4).toDF("id"))
    // simulate a writer that died after writing data but before committing
    spark.range(100, 110).toDF("id").write.parquet(s"$root/data/d-orphan")
    assert(t.read().count() == 4)
    // vacuum reclaims the orphans without touching live files (minAgeMs=0:
    // this test IS the exclusive-access maintenance case)
    t.vacuum(retainFrom = 1, minAgeMs = 0)
    assert(!new File(s"$root/data/d-orphan").listFiles().exists(_.getName.endsWith(".parquet")))
    assert(t.read().count() == 4)
  }

  test("cdcApply: two time-ordered half-batches equal the single-pass apply") {
    import spark.implicits._
    val cdc = events
      .withColumn("op", when($"event_type" === "error", lit("D")).otherwise(lit("U")))
      .select($"user_id", $"event_id", $"ts", $"value", $"op")
    val cut = lit("2024-01-03").cast("timestamp")
    val ord = Seq($"ts".desc, $"event_id".desc)
    val t = GraftTable.createEmpty(spark, tmpRoot("cdc"), cdc.drop("op").schema)
    t.cdcApply(cdc.filter($"ts" < cut), Seq("user_id"), ord)
    t.cdcApply(cdc.filter($"ts" >= cut), Seq("user_id"), ord)
    val expect = sortedRows(
      graft.upsert.KeepLatest.keepLatest(cdc, Seq("user_id"), ord)
        .filter($"op" =!= "D").drop("op"))
    assert(sortedRows(t.read()) == expect)
    assert(t.latestVersion == 3)
  }

  test("scd2Apply: incremental merge equals the full-history window") {
    import spark.implicits._
    val ev = events.select($"user_id", $"event_type", $"ts", $"event_id")
    val cut = lit("2024-01-03").cast("timestamp")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    def windowed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("valid_to", lead($"ts", 1).over(w))
      .withColumn("is_current", $"valid_to".isNull)
      .withColumnRenamed("ts", "valid_from")
    val t = GraftTable.create(spark, tmpRoot("scd2"), windowed(ev.filter($"ts" < cut)))
    t.scd2Apply(ev.filter($"ts" >= cut), Seq("user_id"), "ts", Seq("event_id"))
    val expect = sortedRows(windowed(ev))
    assert(sortedRows(t.read()) == expect)
  }

  test("compact: bin-packs small files; prior version keeps the old layout") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("cpt"),
      spark.range(1000).toDF("id").repartition(8))
    assert(t.commitAt(1).files.size == 8)
    t.compact(targetRows = 600)
    val c2 = t.commitAt(2)
    assert(c2.operation == "compact")
    // 8 × 125 rows first-fit at 600 → ceil(1000/600)-ish bins, far fewer files
    assert(c2.files.size < 8)
    assert(c2.files.map(_.rows).sum == 1000)
    assert(t.read(2).as[Long].collect().sorted.toSeq == (0L until 1000L))
    // old version still resolves to the original 8 files
    assert(t.commitAt(1).files.size == 8)
    assert(t.read(1).count() == 1000)
  }

  test("zorderBy: output files hold disjoint z-ranges (either-dim pruning)") {
    import spark.implicits._
    val df = events.select($"user_id", $"ts", $"event_id")
    val t = GraftTable.create(spark, tmpRoot("zo"), df)
    t.zorderBy(($"user_id" % 256).cast("int"), dayofmonth($"ts"), nFiles = 4)
    val c = t.commitAt(2)
    assert(c.operation == "zorder")
    assert(c.files.map(_.rows).sum == df.count())
    // per-file z-ranges must not overlap: that is the range-partition
    // property parquet footer stats need to prune on either dimension
    val ranges = c.files.map { f =>
      val one = spark.read.parquet(s"${t.root}/${f.path}")
        .withColumn("z", graft.rel.Layout
          .morton(($"user_id" % 256).cast("int"), dayofmonth($"ts")).cast("long"))
        .agg(min($"z"), max($"z")).head()
      (one.getLong(0), one.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping z-ranges: $ranges")
      case _ =>
    }
  }

  // ---- round-12: file-pruned copy-on-write merges -------------------------

  /** A key-range-clustered base table: 8 files with disjoint id ranges
    * (range repartition → per-file footer min/max are tight), so a
    * narrow-key batch must leave most files untouched BY PATH IDENTITY. */
  private def rangedBase(tag: String, n: Long = 1000): GraftTable = {
    import spark.implicits._
    val df = spark.range(n).toDF("id")
      .withColumn("v", ($"id" * 10).cast("long"))
      .repartitionByRange(8, col("id"))
    GraftTable.create(spark, tmpRoot(tag), df)
  }

  test("upsertKeepLatest COW: untouched files carried by path identity") {
    import spark.implicits._
    val t = rangedBase("cow")
    val v1 = t.commitAt(1).files
    assert(v1.size == 8 && v1.forall(_.stats.contains("id")))
    // batch touches only ids 10..40 — one or two of the eight range files
    val batch = spark.range(10, 41).toDF("id")
      .withColumn("v", lit(999999L))
    t.upsertKeepLatest(batch, Seq("id"), Seq($"v".desc))
    val v2 = t.commitAt(2).files
    val carried = v1.map(_.path).toSet intersect v2.map(_.path).toSet
    // >= 6 of 8 original files must survive AS THE SAME FILES (no rewrite)
    assert(carried.size >= 6, s"expected >=6 carried files, got $carried")
    // and files whose id-range excludes [10,40] are carried EXACTLY
    val untouchable = v1.filter { f =>
      val s = f.stats("id"); s.max.toLong < 10 || s.min.toLong > 40
    }.map(_.path).toSet
    assert(untouchable.subsetOf(carried))
    // semantics unchanged: equals keep-latest over the full union
    assert(t.read().filter($"id".between(10, 40) && $"v" =!= 999999L).isEmpty)
    assert(t.read().count() == 1000)
    assert(t.read().filter($"v" === 999999L).count() == 31)
  }

  test("cdcApply COW: deletes prune to their files; carried set untouched") {
    import spark.implicits._
    val t = rangedBase("cowcdc")
    val v1 = t.commitAt(1).files
    // delete ids 0..9, upsert id 500 — touches at most two range files.
    // ordering = v desc, so change rows carry v above any state row's.
    val changes = Seq.tabulate(10)(i => (i.toLong, 900000L, "D")) :+ ((500L, 999999L, "U"))
    val cdf = changes.toDF("id", "v", "op")
    t.cdcApply(cdf, Seq("id"), Seq($"v".desc), opCol = "op")
    val v2 = t.commitAt(2).files
    val carried = v1.map(_.path).toSet intersect v2.map(_.path).toSet
    assert(carried.size >= 6, s"expected >=6 carried files, got $carried")
    assert(t.read().count() == 990)
    assert(t.read().filter($"id" < 10).isEmpty)
    assert(t.read().filter($"id" === 500).select($"v").as[Long].head() == 999999L)
  }

  test("scd2Apply COW: closed history files carried by path identity") {
    import spark.implicits._
    val w = Window.partitionBy($"id").orderBy($"valid_from", $"tie")
    // history of 1000 keys at ts=1, all current, range-clustered on id
    val hist = spark.range(1000).toDF("id")
      .withColumn("valid_from", lit(1L)).withColumn("tie", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .repartitionByRange(8, col("id"))
    val t = GraftTable.create(spark, tmpRoot("cowscd"), hist)
    val v1 = t.commitAt(1).files
    val batch = Seq((42L, 5L, 1L), (43L, 6L, 1L)).toDF("id", "ts", "tie")
    t.scd2Apply(batch, Seq("id"), "ts", Seq("tie"))
    val v2 = t.commitAt(2).files
    val carried = v1.map(_.path).toSet intersect v2.map(_.path).toSet
    assert(carried.size >= 6, s"expected >=6 carried files, got $carried")
    // equality with the full-history window on the union
    val expect = sortedRows(
      spark.range(1000).toDF("id").withColumn("ts", lit(1L)).withColumn("tie", lit(0L))
        .unionByName(batch.withColumn("tie", lit(1L)))
        .withColumn("valid_from", $"ts")
        .withColumn("valid_to", lead($"ts", 1).over(
          Window.partitionBy($"id").orderBy($"ts", $"tie")))
        .withColumn("is_current", $"valid_to".isNull)
        .select($"id", $"valid_from", $"tie", $"valid_to", $"is_current"))
    val got = sortedRows(t.read().select($"id", $"valid_from", $"tie", $"valid_to", $"is_current"))
    assert(got == expect)
    assert(t.read().filter($"id" === 42L).count() == 2)
    assert(t.read().filter($"id" === 42L && !$"is_current").count() == 1)
  }

  test("COW holds across merge generations: rewrites stay range-clustered") {
    import spark.implicits._
    val t = rangedBase("cowgen")
    // merge #1 touches ids 10..40
    t.upsertKeepLatest(spark.range(10, 41).toDF("id").withColumn("v", lit(111111L)),
      Seq("id"), Seq($"v".desc))
    val v2 = t.commitAt(2).files
    // merge #2 touches a DISJOINT narrow slice 700..720: it must carry
    // merge #1's rewritten files by path identity — possible only because
    // clusterForWrite kept merge #1's output files key-disjoint with
    // tight footer ranges (hash-partitioned output would span the whole
    // touched region and be re-rewritten every following merge)
    t.upsertKeepLatest(spark.range(700, 721).toDF("id").withColumn("v", lit(222222L)),
      Seq("id"), Seq($"v".desc))
    val v3 = t.commitAt(3).files
    val gen1Rewrites = v2.filterNot(f => t.commitAt(1).files.map(_.path).contains(f.path))
    assert(gen1Rewrites.nonEmpty && gen1Rewrites.forall(_.stats.contains("id")))
    val carried2 = gen1Rewrites.map(_.path).toSet intersect v3.map(_.path).toSet
    assert(carried2 == gen1Rewrites.map(_.path).toSet,
      s"merge #2 must not rewrite merge #1's disjoint-range output: " +
        s"rewrote ${gen1Rewrites.map(_.path).toSet -- carried2}")
    // and the data is still right
    assert(t.read().count() == 1000)
    assert(t.read().filter($"v" === 111111L).count() == 31)
    assert(t.read().filter($"v" === 222222L).count() == 21)
  }

  test("merge conflict: disjoint concurrent append REBASES (no recompute)") {
    import spark.implicits._
    val t = rangedBase("rebase")
    // rival: while the merge (keys 10..40) is between write and commit,
    // a concurrent writer appends rows with keys FAR outside the batch
    var fired = false
    t.onBeforeMergeCommit = () => {
      if (!fired) {
        fired = true
        t.append(spark.range(5000, 5010).toDF("id").withColumn("v", lit(7L)))
      }
    }
    t.upsertKeepLatest(
      spark.range(10, 41).toDF("id").withColumn("v", lit(999999L)),
      Seq("id"), Seq($"v".desc))
    t.onBeforeMergeCommit = () => ()
    // versions: 1 create, 2 rival append, 3 merge (rebased on top)
    assert(t.latestVersion == 3)
    val v3 = t.commitAt(3)
    assert(v3.operation == "upsert_keep_latest" && v3.parent == 2)
    // REBASE PROOF: the rival's appended file is in the merge's manifest
    // BY PATH — the merge spliced its rewrite onto the winner instead of
    // re-reading anything
    val rivalFiles = t.commitAt(2).files.map(_.path).toSet --
      t.commitAt(1).files.map(_.path).toSet
    assert(rivalFiles.nonEmpty &&
      rivalFiles.subsetOf(v3.files.map(_.path).toSet))
    // and both writers' rows are all present
    assert(t.read().count() == 1010)
    assert(t.read().filter($"v" === 999999L).count() == 31)
    assert(t.read().filter($"id" >= 5000L).count() == 10)
  }

  test("merge conflict: overlapping concurrent append forces RECOMPUTE") {
    import spark.implicits._
    val t = rangedBase("recompute")
    // rival appends a row INSIDE the batch's key range with the highest
    // v: last-writer-wins must surface the rival's row, which is only
    // possible if the loser re-ran the merge against the new snapshot
    var fired = false
    t.onBeforeMergeCommit = () => {
      if (!fired) {
        fired = true
        t.append(Seq((20L, 7777777L)).toDF("id", "v"))
      }
    }
    t.upsertKeepLatest(
      spark.range(10, 41).toDF("id").withColumn("v", lit(999999L)),
      Seq("id"), Seq($"v".desc))
    t.onBeforeMergeCommit = () => ()
    assert(t.latestVersion == 3)
    // the recomputed merge saw the rival's row and kept it (7777777 > 999999)
    assert(t.read().filter($"id" === 20L).select($"v").as[Long].head() == 7777777L)
    assert(t.read().filter($"v" === 999999L).count() == 30) // 31 minus id=20
    assert(t.read().count() == 1000)
  }

  test("COW multi-column intersection: a second key column prunes further") {
    import spark.implicits._
    // id ascends, y descends: each range file holds id [a,b] AND y
    // [999-b, 999-a]. Batch key (id=5, y=5) passes the id-range of file 0
    // but NO file's y-range also contains 5 for that id slice — the
    // per-column candidate INTERSECTION proves no state row can match, so
    // the merge rewrites NOTHING and carries all 8 files by identity.
    // (Single-column pruning would have rewritten the id∈[0,~125] file.)
    val df = spark.range(1000).toDF("id")
      .withColumn("y", lit(999L) - $"id").withColumn("v", lit(0L))
      .repartitionByRange(8, $"id")
    val t = GraftTable.create(spark, tmpRoot("cowmc"), df)
    val v1Paths = t.commitAt(1).files.map(_.path).toSet
    assert(v1Paths.size == 8)
    t.upsertKeepLatest(Seq((5L, 5L, 99L)).toDF("id", "y", "v"),
      Seq("id", "y"), Seq($"v".desc))
    val v2 = t.commitAt(2).files
    assert(v1Paths.subsetOf(v2.map(_.path).toSet),
      "no original file may be rewritten when the key-tuple intersection is empty")
    assert(t.read().count() == 1001)
    assert(t.read().filter($"id" === 5L && $"y" === 5L).count() == 1)
    // the organic (id=5, y=994) row is untouched
    assert(t.read().filter($"id" === 5L && $"y" === 994L && $"v" === 0L).count() == 1)
  }

  test("COW degrades soundly: NULL batch keys and stat-less key columns") {
    import spark.implicits._
    // NULL key in the batch: the manifests' null counts prove the base
    // files hold NO null ids, so only the id=5 range file rewrites —
    // null-keyed rows no longer force a full rewrite
    val t1 = rangedBase("cownull")
    assert(t1.commitAt(1).files.forall(_.stats("id").nulls == 0L))
    val bschema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "long")
    val batch = spark.createDataFrame(java.util.Arrays.asList(
      Row(5L, 111L), Row(null, 222L)), bschema)
    t1.upsertKeepLatest(batch, Seq("id"), Seq($"v".desc))
    val carriedNull = t1.commitAt(1).files.map(_.path).toSet intersect
      t1.commitAt(2).files.map(_.path).toSet
    assert(carriedNull.size >= 6,
      s"null-count stats should keep null-free files carried: $carriedNull")
    assert(t1.read().count() == 1001) // null key is its own group
    assert(t1.read().filter($"id".isNull).count() == 1)
    assert(t1.read().filter($"id" === 5L).select($"v").as[Long].head() == 111L)
    // positive case: a state file that DOES hold a null key (nulls=1 in
    // its manifest stats) must be touched by a null-keyed batch, and the
    // null group merges last-writer-wins
    val bschema2 = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "long")
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList((Row(null, 0L) +:
        (0L until 100L).map(i => Row(java.lang.Long.valueOf(i), i))): _*),
      bschema2).repartitionByRange(4, col("id"))
    val t3 = GraftTable.create(spark, tmpRoot("cownull2"), withNull)
    val nullFiles = t3.commitAt(1).files.filter(_.stats.get("id").exists(_.nulls > 0))
    assert(nullFiles.size == 1, s"expected one null-carrying file: ${t3.commitAt(1).files.map(_.stats.get("id"))}")
    t3.upsertKeepLatest(
      spark.createDataFrame(java.util.Arrays.asList(Row(null, 999L)), bschema2),
      Seq("id"), Seq($"v".desc))
    assert(t3.read().count() == 101)
    assert(t3.read().filter($"id".isNull).select($"v").as[Long].head() == 999L)
    // files that provably hold no nulls and no batch range match are carried
    val carried3 = t3.commitAt(1).files.map(_.path).toSet intersect
      t3.commitAt(2).files.map(_.path).toSet
    assert(!carried3.contains(nullFiles.head.path),
      "the null-carrying file must be rewritten")
    assert(carried3.size >= 2)

    // string keys now CARRY truncated footer stats (round-13) — the merge
    // still lands the right rows
    val t2 = GraftTable.create(spark, tmpRoot("cowstr"),
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    assert(t2.commitAt(1).files.forall(_.stats.contains("k")))
    t2.upsertKeepLatest(Seq(("b", 9L)).toDF("k", "v"), Seq("k"), Seq($"v".desc))
    assert(sortedRows(t2.read()) == sortedRows(Seq(("a", 1L), ("b", 9L)).toDF("k", "v")))
  }

  // ---- round-13: stat domains — string / timestamp / date merge keys ------

  test("string-keyed COW: doc-id merges carry untouched files by path identity") {
    import spark.implicits._
    // 8 range-clustered files keyed by a zero-padded string id (the
    // documents-corpus shape): the manifests' truncated string min/max
    // must let a narrow batch rewrite only its own files
    val base = spark.range(1000)
      .select(format_string("doc-%05d", $"id").as("doc_id"),
        ($"id" * 10).cast("long").as("v"))
      .repartitionByRange(8, col("doc_id"))
    val t = GraftTable.create(spark, tmpRoot("cowstrkey"), base)
    val v1 = t.commitAt(1).files
    assert(v1.size == 8 && v1.forall(_.stats.contains("doc_id")),
      s"string key must carry manifest stats: ${v1.map(_.stats.keySet)}")
    val batch = spark.range(10, 41)
      .select(format_string("doc-%05d", $"id").as("doc_id"), lit(999999L).as("v"))
    t.upsertKeepLatest(batch, Seq("doc_id"), Seq($"v".desc))
    val v2 = t.commitAt(2).files
    val carried = v1.map(_.path).toSet intersect v2.map(_.path).toSet
    assert(carried.size >= 6, s"expected >=6 carried files, got ${carried.size}")
    // files whose string range provably excludes the batch are carried EXACTLY
    val untouchable = v1.filter { f =>
      val s = f.stats("doc_id")
      graft.table.ColStat.utf8Compare(s.max, "doc-00010") < 0 ||
        graft.table.ColStat.utf8Compare(s.min, "doc-00040") > 0
    }.map(_.path).toSet
    assert(untouchable.subsetOf(carried))
    assert(t.read().count() == 1000)
    assert(t.read().filter($"v" === 999999L).count() == 31)
    assert(t.read().filter($"doc_id".between("doc-00010", "doc-00040")
      && $"v" =!= 999999L).isEmpty)
  }

  test("string stats truncate soundly: long shared-prefix keys never lose rows") {
    import spark.implicits._
    // 60-char keys sharing a 50-char prefix: min/max must truncate to 32
    // code points (max incremented) and the merge must still classify the
    // holder file as touched — a wrongly-exact truncation would corrupt
    // the upper bound and silently carry the file (stale rows)
    val pfx = "x" * 50
    val base = spark.range(100)
      .select(concat(lit(pfx), format_string("%05d", $"id")).as("k"),
        $"id".cast("long").as("v"))
      .repartitionByRange(4, col("k"))
    val t = GraftTable.create(spark, tmpRoot("cowtrunc"), base)
    for (f <- t.commitAt(1).files; s <- f.stats.get("k")) {
      assert(s.min.codePointCount(0, s.min.length) <= 32, s"min too long: ${s.min}")
      assert(s.max.codePointCount(0, s.max.length) <= 32, s"max too long: ${s.max}")
      assert(graft.table.ColStat.utf8Compare(s.min, s.max) <= 0)
    }
    t.upsertKeepLatest(
      Seq((pfx + "00042", 999999L)).toDF("k", "v"), Seq("k"), Seq($"v".desc))
    assert(t.read().count() == 100)
    assert(t.read().filter($"k" === pfx + "00042").select($"v").as[Long].head() == 999999L)
  }

  test("timestamp-keyed merges convert to the recorded stat unit (micros AND millis)") {
    import spark.implicits._
    // the round-12 bug: batch keys cast to BIGINT yield epoch SECONDS while
    // the stats are epoch micros/millis — files holding batch keys were
    // silently classified 'carried', so the merge kept stale rows. Verify
    // both parquet units end-to-end: the updated key's old row must be GONE.
    for (unit <- Seq("TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", unit)
      try {
        val base = spark.range(200)
          .select(timestamp_seconds(
            unix_timestamp(lit("2024-01-01 00:00:00")) + $"id" * 3600L).as("ts_key"),
            $"id".cast("long").as("v"))
          .repartitionByRange(4, col("ts_key"))
        val t = GraftTable.create(spark, tmpRoot(s"cowts_$unit"), base)
        val kinds = t.commitAt(1).files.flatMap(_.stats.get("ts_key")).map(_.kind).toSet
        val expected = if (unit == "TIMESTAMP_MICROS") "ts-micros" else "ts-millis"
        assert(kinds == Set(expected), s"$unit recorded kinds $kinds")
        // update the key at hour 42
        val batch = Seq(("2024-01-02 18:00:00", 999999L)).toDF("s", "v")
          .select($"s".cast("timestamp").as("ts_key"), $"v")
        t.upsertKeepLatest(batch, Seq("ts_key"), Seq($"v".desc))
        assert(t.read().count() == 200, s"$unit: row count drifted")
        val vs = t.read().filter($"ts_key" === lit("2024-01-02 18:00:00").cast("timestamp"))
          .select($"v").as[Long].collect().toSeq
        assert(vs == Seq(999999L), s"$unit: stale/duplicate rows for the merged key: $vs")
        // and COW still prunes: disjoint files carried by path identity
        val carried = t.commitAt(1).files.map(_.path).toSet intersect
          t.commitAt(2).files.map(_.path).toSet
        assert(carried.size >= 2, s"$unit: expected pruning, carried=$carried")
      } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    }
  }

  test("date-keyed merge: prunes on epoch-day stats instead of crashing") {
    import spark.implicits._
    // pre-round-13, cast(date AS BIGINT) threw at plan time
    val base = spark.range(400)
      .select(date_add(lit("2024-01-01").cast("date"), $"id".cast("int")).as("d"),
        $"id".cast("long").as("v"))
      .repartitionByRange(4, col("d"))
    val t = GraftTable.create(spark, tmpRoot("cowdate"), base)
    assert(t.commitAt(1).files.flatMap(_.stats.get("d")).map(_.kind).toSet == Set("date"))
    val batch = Seq(("2024-02-11", 999999L)).toDF("s", "v")
      .select($"s".cast("date").as("d"), $"v")
    t.upsertKeepLatest(batch, Seq("d"), Seq($"v".desc))
    assert(t.read().count() == 400)
    assert(t.read().filter($"d" === lit("2024-02-11").cast("date"))
      .select($"v").as[Long].collect().toSeq == Seq(999999L))
    val carried = t.commitAt(1).files.map(_.path).toSet intersect
      t.commitAt(2).files.map(_.path).toSet
    assert(carried.size >= 2, s"date pruning failed: carried=$carried")
  }

  test("mergeUpsert: batch wins by key; NULL keys insert (ANSI MERGE)") {
    import spark.implicits._
    val t = rangedBase("mups")
    t.mergeUpsert(spark.range(10, 41).toDF("id").withColumn("v", lit(7L)),
      Seq("id"))
    assert(t.read().count() == 1000)
    assert(t.read().filter($"id".between(10, 40) && $"v" =!= 7L).isEmpty)
    // untouched range files carried by path identity (COW)
    val carried = t.commitAt(1).files.map(_.path).toSet intersect
      t.commitAt(2).files.map(_.path).toSet
    assert(carried.size >= 6)
    // NULL batch key never matches — it inserts (equality semantics)
    val s = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "long")
    t.mergeUpsert(spark.createDataFrame(
      java.util.Arrays.asList(Row(null, 1L)), s), Seq("id"))
    assert(t.read().count() == 1001)
    assert(t.read().filter($"id".isNull).count() == 1)
  }

  test("commit schema nullability widens, never narrows (a literal batch can't poison old nulls)") {
    import spark.implicits._
    val s = new org.apache.spark.sql.types.StructType()
      .add("id", "long", nullable = false).add("x", "long", nullable = true)
    val withNull = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, null), Row(2L, 20L)), s)
    val t = GraftTable.create(spark, tmpRoot("nullw"), withNull)
    // a batch whose x is a non-nullable literal must not narrow the table
    t.append(spark.range(3, 5).toDF("id").withColumn("x", lit(9L)))
    val f = t.commitAt(2).schema.find(_.name == "x").get
    assert(f.nullable, "append narrowed x to non-nullable over files holding nulls")
    assert(t.read().filter($"x".isNull).count() == 1)
  }

  test("cumulative txn map: idempotency lookup reads ONE manifest") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("txns"), spark.range(5).toDF("id"))
    t.idempotentAppend(spark.range(5, 10).toDF("id"), "appA", 0L)
    t.idempotentAppend(spark.range(10, 15).toDF("id"), "appB", 3L)
    // interleave non-txn commits — the map must still carry forward
    t.append(spark.range(15, 20).toDF("id"))
    t.idempotentAppend(spark.range(20, 25).toDF("id"), "appA", 1L)
    t.compact(targetRows = 100)
    val latest = t.commitAt(t.latestVersion)
    assert(latest.txns.contains(Map("appA" -> 1L, "appB" -> 3L)),
      s"latest manifest must carry the cumulative map: ${latest.txns}")
    assert(t.lastCommittedBatch("appA").contains(1L))
    assert(t.lastCommittedBatch("appB").contains(3L))
    assert(t.lastCommittedBatch("appC").isEmpty)
    // replays still no-op off the map
    val v = t.latestVersion
    assert(t.idempotentAppend(spark.range(99).toDF("id"), "appA", 1L) == v)
    assert(t.latestVersion == v)
    // and the map survives vacuuming the history that held the markers
    t.vacuum(retainFrom = v, minAgeMs = 0L)
    assert(t.lastCommittedBatch("appB").contains(3L))
  }

  test("telescoped CDF: merge-crossing diff equals the snapshot diff, reads only churn") {
    import spark.implicits._
    val t = rangedBase("telecdf")
    // v2: COW merge touching a narrow range; v3: plain append
    t.upsertKeepLatest(spark.range(10, 41).toDF("id").withColumn("v", lit(999999L)),
      Seq("id"), Seq($"v".desc))
    t.append(spark.range(5000, 5010).toDF("id").withColumn("v", lit(1L)))
    val got = sortedRows(t.changesBetween(1L, 3L))
    // ground truth: the multiset EXCEPT-ALL pair over the snapshots
    val expect = sortedRows(
      t.read(3).exceptAll(t.read(1)).withColumn("_change_type", lit("insert"))
        .unionByName(
          t.read(3).limit(0).withColumn("_change_type", lit("delete"))
            .unionByName(t.read(1).exceptAll(t.read(3))
              .withColumn("_change_type", lit("delete")))))
    assert(got == expect, s"telescoped diff diverged: got ${got.size} rows, expected ${expect.size}")
    // inserts = 31 updated post-images + 10 appended; deletes = 31 pre-images
    assert(got.count(_.getString(2) == "insert") == 41)
    assert(got.count(_.getString(2) == "delete") == 31)
    // duplicate rows keep multiset counts: same row appended twice = two inserts
    val t2 = GraftTable.create(spark, tmpRoot("teledup"),
      Seq((1L, 1L)).toDF("id", "v"))
    t2.upsertKeepLatest(Seq((1L, 2L)).toDF("id", "v"), Seq("id"), Seq($"v".desc))
    t2.append(Seq((9L, 9L), (9L, 9L)).toDF("id", "v"))
    val d2 = t2.changesBetween(1L, 3L)
    assert(d2.filter($"id" === 9L && $"_change_type" === "insert").count() == 2)
    assert(d2.filter($"id" === 1L && $"_change_type" === "delete")
      .select($"v").as[Long].collect().toSeq == Seq(1L))
  }

  test("vacuum minAge guard: an in-flight writer's files survive the sweep") {
    import spark.implicits._
    val root = tmpRoot("vacage")
    val t = GraftTable.create(spark, root, spark.range(4).toDF("id"))
    // an in-flight writer: data written (fresh mtime), commit NOT yet published
    val pending = spark.range(100, 104).toDF("id")
    val m = classOf[GraftTable].getDeclaredMethod("writeData",
      classOf[org.apache.spark.sql.Dataset[_]], classOf[Seq[_]],
      classOf[Map[_, _]])
    m.setAccessible(true)
    val files = m.invoke(t, pending, Seq.empty[String], Map.empty[String, String])
      .asInstanceOf[Seq[graft.table.ManifestFile]]
    // concurrent vacuum with the default horizon: must NOT delete the
    // writer's fresh (yet unreferenced) files
    t.vacuum(retainFrom = 1)
    files.foreach(f => assert(new File(s"$root/${f.path}").exists(),
      s"vacuum swept an in-flight writer's file ${f.path}"))
    // the writer's commit then lands and the snapshot reads completely
    t.commit(t.latestVersion, "late_append", t.commitAt(1).files ++ files,
      pending.schema)
    assert(t.read().as[Long].collect().sorted.toSeq ==
      (0L until 4L) ++ (100L until 104L))
    // aged-out orphans DO go: minAgeMs=0 sweeps nothing extra now (all live)
    t.vacuum(retainFrom = t.latestVersion, minAgeMs = 0)
    assert(t.read().count() == 8)
  }

  test("vacuum drops pre-retention versions and their exclusive files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("vac"), spark.range(10).toDF("id"))
    t.overwrite(spark.range(20).toDF("id"), parent = 1, operation = "rewrite")
    val v1Files = t.commitAt(1).files
    t.vacuum(retainFrom = 2, minAgeMs = 0)
    assert(t.versions == Seq(2L))
    v1Files.foreach(f => assert(!new File(s"${t.root}/${f.path}").exists()))
    assert(t.read().count() == 20)
  }

  // ---- delta-encoded commit log (O(churn) manifests + checkpoints) ----

  private def manifestText(root: String, v: Long): String =
    new String(Files.readAllBytes(
      new File(new File(root, "_graft_log"), f"v$v%020d.json").toPath))

  private def ckptFile(root: String, v: Long): File =
    new File(new File(root, "_graft_log"), f"v$v%020d.ckpt.json")

  test("delta log: mid-chain commits record only churn; snapshots reconstruct exactly") {
    import spark.implicits._
    val root = tmpRoot("dlog")
    val t = GraftTable.create(spark, root, spark.range(0, 10).toDF("id"))
    (1 to 8).foreach(k => t.append(spark.range(k * 10L, k * 10L + 10).toDF("id")))
    // version 1 is self-contained; every append after it logs only its adds
    assert(manifestText(root, 1).contains("\"files\""))
    (2L to 9L).foreach { v =>
      val txt = manifestText(root, v)
      assert(txt.contains("\"add\"") && !txt.contains("\"files\""),
        s"append v$v should be delta-encoded")
    }
    // a mid-chain append's manifest names ONLY that batch's files
    val v5 = t.commitAt(5)
    val v4Paths = t.commitAt(4).files.map(_.path).toSet
    val v5new = v5.files.filterNot(f => v4Paths.contains(f.path))
    v5new.foreach(f => assert(manifestText(root, 5).contains(f.path)))
    assert(t.commitAt(4).files.count(f => manifestText(root, 5).contains(f.path)) == 0,
      "a delta manifest must not re-list carried files")
    // every snapshot reconstructs exactly — warm cache AND a cold instance
    (1L to 9L).foreach(v => assert(t.read(v).count() == v * 10))
    val cold = GraftTable.forPath(spark, root)
    assert(cold.read(9).as[Long].collect().sorted.toSeq == (0L until 90L))
    assert(cold.read(3).as[Long].collect().sorted.toSeq == (0L until 30L))
  }

  test("delta log: COW merge logs O(batch churn), not the file list") {
    import spark.implicits._
    val root = tmpRoot("dlogm")
    // range-clustered base: 8 files of disjoint id ranges
    val base = spark.range(0, 8000).toDF("id")
      .withColumn("v", lit("old")).withColumn("gen", lit(1L))
      .repartitionByRange(8, $"id")
    val t = GraftTable.create(spark, root, base)
    val nFiles = t.commitAt(1).files.size
    assert(nFiles >= 8)
    // a batch confined to one range bucket
    t.upsertKeepLatest(
      spark.range(100, 120).toDF("id")
        .withColumn("v", lit("new")).withColumn("gen", lit(2L)),
      Seq("id"), Seq($"gen".desc))
    val txt = manifestText(root, 2)
    assert(txt.contains("\"add\"") && txt.contains("\"remove\"") &&
      !txt.contains("\"files\""), "a COW merge should be delta-encoded")
    val mf = t.commitAt(2)
    val v1Paths = t.commitAt(1).files.map(_.path).toSet
    val added = mf.files.filterNot(f => v1Paths.contains(f.path))
    val removed = v1Paths -- mf.files.map(_.path).toSet
    assert(added.size + removed.size < nFiles,
      s"merge churn ${added.size}+${removed.size} should be < $nFiles files")
    assert(t.read().filter($"v" === "new").count() == 20)
  }

  test("checkpoint cadence: the sidecar bounds resolution to K log reads") {
    import spark.implicits._
    val root = tmpRoot("ckpt")
    val t = GraftTable.create(spark, root, spark.range(0, 5).toDF("id"))
    (1 to 19).foreach(k => t.append(spark.range(k * 5L, k * 5L + 5).toDF("id")))
    assert(t.latestVersion == 20)
    assert(ckptFile(root, GraftTable.CheckpointInterval).exists(),
      "the cadence commit must publish a sidecar checkpoint")
    // white-box boundedness proof: versions 2..15 vanish; any version at
    // or after the v16 checkpoint still resolves from ckpt16 + deltas
    (2L to 15L).foreach { v =>
      Files.delete(new File(new File(root, "_graft_log"), f"v$v%020d.json").toPath)
    }
    val cold = GraftTable.forPath(spark, root)
    assert(cold.read(20).as[Long].collect().sorted.toSeq == (0L until 100L))
    assert(cold.read(17).count() == 85)
    // while a version whose chain is genuinely gone fails loudly
    intercept[Exception] { GraftTable.forPath(spark, root).read(10).count() }
  }

  test("whole-table rewrites inline the full list and reset the delta chain") {
    import spark.implicits._
    val root = tmpRoot("dfull")
    val t = GraftTable.create(spark, root, spark.range(10).toDF("id"))
    t.append(spark.range(10, 20).toDF("id"))
    t.overwrite(spark.range(100, 105).toDF("id"), parent = 2, operation = "rewrite")
    assert(manifestText(root, 3).contains("\"files\""),
      "an overwrite replaces every file — inlining is smaller than churn")
    // pre-rewrite time travel still works, and later appends delta again
    assert(t.read(2).count() == 20)
    t.append(spark.range(105, 110).toDF("id"))
    assert(manifestText(root, 4).contains("\"add\""))
    assert(GraftTable.forPath(spark, root).read(4).count() == 10)
  }

  test("telescoped CDF nets multi-churned files by count, not by set") {
    import spark.implicits._
    // a file can churn MORE THAN ONCE inside the diff window: removed by
    // a delete, re-added by restore, removed again — its telescoped
    // weight is −1, but set-based cancellation netted it to 0, silently
    // dropping its rows from the change feed (FuzzTable seed 1300)
    val t = GraftTable.create(spark, tmpRoot("cdfnet"), spark.range(10).toDF("id"))
    t.append(spark.range(10, 20).toDF("id")) // v2: +file B
    t.deleteWhere($"id" >= 10) // v3: −B
    t.restoreTo(2) // v4: +B again
    t.deleteWhere($"id" >= 10) // v5: −B again
    val changes = t.changesBetween(2, 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(changes == (10L until 20L).map(id => (id, "delete")),
      s"v2→v5 must surface B's rows as deletes, got $changes")
    // and a path that nets to zero (removed then restored) costs nothing
    assert(t.changesBetween(2, 4).count() == 0)
  }

  test("delta log linearizes an 8-writer append storm") {
    import spark.implicits._
    val root = tmpRoot("storm")
    val t = GraftTable.create(spark, root, spark.range(0, 10).toDF("id"))
    val writers = 8; val commitsEach = 4; val rowsEach = 5
    val pool = Executors.newFixedThreadPool(writers)
    val latch = new CountDownLatch(1)
    val futures = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          latch.await(10, TimeUnit.SECONDS)
          (0 until commitsEach).foreach { c =>
            val base = 1000L + (w * commitsEach + c) * rowsEach
            t.append(spark.range(base, base + rowsEach).toDF("id"))
          }
        }
      })
    }
    latch.countDown()
    futures.foreach(_.get(180, TimeUnit.SECONDS))
    pool.shutdown()
    // every commit serialized onto the chain: no lost versions, no lost
    // rows, and every intermediate snapshot still resolves (the delta
    // chain stays intact under maximal rebase-retry contention)
    assert(t.latestVersion == 1L + writers * commitsEach)
    val ids = t.read().as[Long].collect().sorted.toSeq
    assert(ids == (0L until 10L) ++
      (1000L until (1000L + writers * commitsEach * rowsEach)))
    (1L to t.latestVersion).foreach(v =>
      assert(t.read(v).count() == 10 + (v - 1) * rowsEach))
    val cold = GraftTable.forPath(spark, root)
    assert(cold.read().count() == ids.size)
  }

  test("latest-version hint is advisory: lagging, corrupt, or absent never misleads") {
    import spark.implicits._
    val root = tmpRoot("hint")
    val t = GraftTable.create(spark, root, spark.range(5).toDF("id"))
    (1 to 8).foreach(k => t.append(spark.range(k * 5L, k * 5L + 5).toDF("id")))
    val hint = new File(new File(root, "_graft_log"), "_latest_hint")
    assert(hint.exists() &&
      new String(Files.readAllBytes(hint.toPath)).trim.toLong == 9L)
    // lagging hint (a racing writer's overwrite): forward probe recovers
    Files.write(hint.toPath, "3".getBytes)
    assert(t.latestVersion == 9L)
    // corrupt hint: falls back to the listing
    Files.write(hint.toPath, "not-a-version".getBytes)
    assert(t.latestVersion == 9L)
    // implausible hint (names a version that doesn't exist): fallback
    Files.write(hint.toPath, "99".getBytes)
    assert(t.latestVersion == 9L)
    // absent hint (pre-upgrade table): fallback, and the next commit heals it
    Files.delete(hint.toPath)
    assert(t.latestVersion == 9L)
    t.append(spark.range(100, 105).toDF("id"))
    assert(new String(Files.readAllBytes(hint.toPath)).trim.toLong == 10L)
    assert(t.read().count() == 50)
  }

  test("vacuum materializes a checkpoint at the retention boundary") {
    import spark.implicits._
    val root = tmpRoot("dvac")
    val t = GraftTable.create(spark, root, spark.range(0, 10).toDF("id"))
    (1 to 9).foreach(k => t.append(spark.range(k * 10L, k * 10L + 10).toDF("id")))
    // v7 is a delta manifest with no sidecar; dropping v1..6 would strand it
    t.vacuum(retainFrom = 7, minAgeMs = 0)
    assert(t.versions == (7L to 10L))
    assert(ckptFile(root, 7).exists(),
      "vacuum must publish the boundary checkpoint before dropping the chain")
    val cold = GraftTable.forPath(spark, root)
    assert(cold.read(7).as[Long].collect().sorted.toSeq == (0L until 70L))
    assert(cold.read(10).count() == 100)
  }

  // ---- round-14: CDF across schema evolution ------------------------------

  test("changesBetween telescopes across an ADD COLUMNS commit: rendered " +
      "in the final schema, O(churn), evolution itself change-free") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpRoot("cdfevo"),
      spark.range(100).toDF("id").repartitionByRange(4, col("id")))
    // v2: PURE metadata evolution (ADD COLUMNS, unchanged file list)
    val c1 = t.commitAt(1)
    t.commit(1, "alter_table", c1.files, c1.schema.add("tag", "string"))
    t.append(Seq((201L, "y")).toDF("id", "tag"))                // v3
    t.upsertKeepLatest(Seq((5L, "upd")).toDF("id", "tag"),      // v4: COW merge
      Seq("id"), Seq($"tag".desc))
    // the evolution commit alone: zero churn, so the telescoped diff is
    // EMPTY without reading a byte — schema change is not data change
    assert(t.changesBetween(1, 2).isEmpty,
      "an ADD COLUMNS commit must be change-free under CDF")
    // range crossing the evolution: rendered in v4's WIDE schema — the
    // merged key's pre-image surfaces with tag null (it predates the
    // column); the appends carry their written values
    val chg = t.changesBetween(1, 4)
      .select($"id", $"tag", $"_change_type").as[(Long, Option[String], String)]
      .collect().toSet
    assert(chg.contains((201L, Some("y"), "insert")))
    assert(chg.contains((5L, Some("upd"), "insert")))
    assert(chg.contains((5L, None, "delete")), s"pre-image missing: $chg")
    assert(chg.size == 3, s"unexpected extra changes: $chg")
  }

  // ---- round-14: scoped maintenance (OPTIMIZE ... WHERE) ------------------

  test("compactWhere/zorderWhere: only in-scope files rewrite; untouched " +
      "partitions carry by reference and the rewrite is change-free under CDF") {
    import spark.implicits._
    val root = tmpRoot("scoped")
    // 3 partitions × 4 small files each
    val df = spark.range(600).toDF("id")
      .withColumn("dd", ($"id" % 3 + 1).cast("int"))
      .withColumn("v", ($"id" * 2).cast("long"))
      .repartition(4)
    val t = GraftTable.createPartitioned(spark, root, df, Seq("dd"))
    val v1 = t.commitAt(1).files
    val dd2Before = v1.filter(_.partition("dd") == "2")
    val otherBefore = v1.filterNot(_.partition("dd") == "2")
    assert(dd2Before.size >= 2, "fixture should have several dd=2 files")

    // scoped compact: dd = 2 only
    t.compactWhere(1000000L, ranges = Seq(("dd", BigDecimal(2), BigDecimal(2))))
    val v2 = t.commitAt(2)
    assert(v2.operation == "compact")
    // untouched partitions: SAME entries, by reference
    assert(otherBefore.toSet.subsetOf(v2.files.toSet),
      "out-of-scope files must carry by identity")
    // in-scope files rewritten (fewer, fresh paths), layout preserved
    val dd2After = v2.files.filter(_.partition.get("dd").contains("2"))
    assert(dd2After.nonEmpty && dd2After.size < dd2Before.size)
    assert(dd2After.map(_.path).toSet.intersect(dd2Before.map(_.path).toSet).isEmpty)
    // content preserved: snapshot equal, CDF across the rewrite is empty
    assert(t.read().count() == 600)
    assert(t.changesBetween(1, 2).isEmpty,
      "a scoped compaction must be change-free under the incremental read")

    // scoped zorder on the dd=1 partition only
    t.zorderWhere($"id", $"v", nFiles = 2,
      ranges = Seq(("dd", BigDecimal(1), BigDecimal(1))))
    val v3 = t.commitAt(3)
    assert(v3.operation == "zorder")
    val nonDd1 = v2.files.filterNot(_.partition.get("dd").contains("1"))
    assert(nonDd1.toSet.subsetOf(v3.files.toSet))
    assert(t.read().count() == 600)
    assert(t.changesBetween(2, 3).isEmpty)

    // SQL surface: CALL ... compact with a scope
    spark.conf.set("spark.sql.catalog.graft_sc", classOf[graft.table.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sc.root",
      new java.io.File(root).getParentFile.getAbsolutePath)
    try {
      val name = new java.io.File(root).getName
      val r = spark.sql(
        s"""CALL graft_sc.system.compact(tbl => '$name', target_rows => 1000000,
           |  where_col => 'dd', where_lo => '3', where_hi => '3')""".stripMargin)
        .collect()
      assert(r.head.getString(0) == "compact" && r.head.getLong(1) == 4L)
      val v4 = t.commitAt(4)
      val nonDd3 = v3.files.filterNot(_.partition.get("dd").contains("3"))
      assert(nonDd3.toSet.subsetOf(v4.files.toSet))
      assert(t.read().count() == 600)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_sc")
      spark.conf.unset("spark.sql.catalog.graft_sc.root")
    }
  }

  test("vacuumPlan: dry run lists exactly what vacuum then deletes, " +
      "touching nothing itself") {
    import spark.implicits._
    val root = tmpRoot("vplan")
    val t = GraftTable.create(spark, root,
      spark.range(100).toDF("id").repartitionByRange(4, col("id")))
    t.indexBloom("id") // the index layer must honor the dry-run contract too
    t.deleteWhere($"id" < 50L) // COW: v1's files orphan below retention
    t.compact(1000000L)
    val plan = t.vacuumPlan(3, minAgeMs = 0)
    assert(plan.nonEmpty, "pre-retention manifests + orphaned files expected")
    assert(plan.exists(_.endsWith(".bf")),
      "the dead base files' bloom sidecars must be in the plan")
    // dry run is pure: every planned path still exists, snapshots intact
    plan.foreach(p => assert(new java.io.File(root, p).exists(), s"dry run deleted $p"))
    assert(t.read(1).count() == 100 && t.read().count() == 50)
    // the real vacuum then deletes EXACTLY the planned set — both ways
    def allFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root))
        .map(f => new java.io.File(root).toPath.relativize(f.toPath).toString).toSet
    }
    val before = allFiles()
    t.vacuum(3, minAgeMs = 0)
    val deleted = before -- allFiles()
    assert(deleted == plan.toSet,
      s"vacuum deleted ${deleted -- plan.toSet} beyond / ${plan.toSet -- deleted} short of the plan")
    assert(t.read().count() == 50)
  }

  test("detail procedure: one-row snapshot summary off the latest manifest") {
    import spark.implicits._
    val root = tmpRoot("detail")
    val t = GraftTable.create(spark, root,
      spark.range(100).toDF("id").repartitionByRange(4, col("id")))
    t.deleteWhere($"id" === 7L, dvMode = "force")
    spark.conf.set("spark.sql.catalog.graft_dt", classOf[graft.table.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dt.root",
      new java.io.File(root).getParentFile.getAbsolutePath)
    try {
      val name = new java.io.File(root).getName
      val d = spark.sql(s"CALL graft_dt.system.detail(tbl => '$name')").collect()
      assert(d.length == 1)
      val r = d.head
      assert(r.getLong(1) == 2L)                       // latest_version
      assert(r.getTimestamp(2) != null)                // committed_at
      assert(r.getInt(3) == 4 && r.getLong(4) > 0)     // files, bytes
      assert(r.getLong(5) == 99L)                      // live_rows
      assert(r.getInt(6) == 1 && r.getLong(7) == 1L)   // dv_files, dv_rows
      assert(r.getInt(10) == 2)                        // retained_versions
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_dt")
      spark.conf.unset("spark.sql.catalog.graft_dt.root")
    }
  }

  test("compact by bytes: target_bytes bins on the manifests' recorded sizes") {
    import spark.implicits._
    val t = rangedBase("cptb")
    val v1 = t.commitAt(1).files
    assert(v1.forall(_.bytes > 0), "round-14 manifests must record file bytes")
    val total = v1.map(_.bytes).sum
    // target = just over half the table → two byte-balanced output files
    t.compactWhere(0L, Seq.empty, targetBytes = total / 2 + 1)
    val v2 = t.commitAt(2)
    assert(v2.files.size == 2, s"expected 2 byte-bins, got ${v2.files.size}")
    assert(t.read().count() == 1000)
    assert(t.read().as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 1000L).map(i => (i, i * 10)).sorted)
  }

  // ---- round-14: deletion vectors (merge-on-read DELETE) ------------------

  test("deletion vectors: a small DELETE swaps vectors instead of rewriting; " +
      "snapshots, time travel, and a second merged delete all hold") {
    import spark.implicits._
    val t = rangedBase("dv")
    val v1 = t.commitAt(1).files
    assert(v1.size == 8)
    // delete 5 scattered rows — merge-on-read must win in auto mode
    t.deleteWhere($"id".isin(3L, 7L, 250L, 251L, 900L))
    val v2 = t.commitAt(2)
    assert(v2.operation == "delete_dv", s"expected DV path, got ${v2.operation}")
    // ZERO data files rewritten: every parquet path carried identically
    assert(v2.files.map(_.path).toSet == v1.map(_.path).toSet)
    val dvd = v2.files.filter(_.dv.isDefined)
    assert(dvd.nonEmpty && dvd.map(_.dvRows).sum == 5L,
      s"expected 5 vectored rows, got $dvd")
    // the snapshot serves live rows only; liveRows bookkeeping is exact
    assert(t.read().count() == 995)
    assert(!t.read().filter($"id".isin(3L, 7L, 250L, 251L, 900L)).isEmpty == false)
    assert(v2.files.map(_.liveRows).sum == 995L)
    // v1 still serves all 1000 (old snapshot never sees the vector)
    assert(t.read(1).count() == 1000)

    // second delete on overlapping files MERGES vectors (sorted union)
    t.deleteWhere($"id" >= 5L && $"id" <= 9L)
    val v3 = t.commitAt(3)
    assert(v3.operation == "delete_dv")
    assert(t.read().count() == 991) // 5..9 is 5 rows, but 7 was already gone
    assert(v3.files.map(_.liveRows).sum == 991L)
    // CDF across the DV commits: exactly the deleted rows, tagged delete
    val chg = t.changesBetween(1, 3)
      .select($"id", $"_change_type").as[(Long, String)].collect()
    assert(chg.forall(_._2 == "delete"))
    assert(chg.map(_._1).sorted.toSeq ==
      Seq(3L, 5L, 6L, 7L, 8L, 9L, 250L, 251L, 900L))

    // DV'd snapshot read through the DSv2 surface agrees
    assert(spark.read.format("graft").load(t.root).count() == 991)

    // compact MATERIALIZES vectors away: fresh entries, no dv, same rows
    t.compact(targetRows = 2000)
    val v4 = t.commitAt(4)
    assert(v4.files.forall(_.dv.isEmpty))
    assert(t.read().count() == 991)
    assert(t.read().filter($"id" === 3L).isEmpty)

    // vacuum to the compacted version sweeps the orphaned .dv sidecars
    t.vacuum(4, minAgeMs = 0)
    val dvFiles = Option(new java.io.File(t.root, "data").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".dv"))
    assert(dvFiles.isEmpty, s"vacuum left DV sidecars: ${dvFiles.toSeq}")
  }

  test("deletion vectors: auto mode falls back to copy-on-write for a " +
      "mostly-dead candidate set; force honors the driver bound") {
    import spark.implicits._
    val t = rangedBase("dvauto")
    // delete 60% of all rows — far past DvMaxDeleteFraction: COW must win
    t.deleteWhere($"id" < 600L)
    val v2 = t.commitAt(2)
    assert(v2.operation == "delete", s"expected COW fallback, got ${v2.operation}")
    assert(v2.files.forall(_.dv.isEmpty))
    assert(t.read().count() == 400)
    // force mode on a small delete takes the DV path even off-fraction
    t.deleteWhere($"id" >= 600L && $"id" < 900L, dvMode = "force")
    assert(t.commitAt(3).operation == "delete_dv")
    assert(t.read().count() == 100)
    // merges after a DV delete read THROUGH the vector (no resurrection)
    t.upsertKeepLatest(
      Seq((950L, 1L), (601L, 2L)).toDF("id", "v"), Seq("id"), Seq($"v".desc))
    val got = t.read().select($"id").as[Long].collect().sorted
    assert(got.count(_ == 601L) == 1 && !got.contains(602L),
      "deleted rows must not resurrect through a merge rewrite")
    assert(t.read().count() == 101) // 100 live + inserted 601 (950 replaced)
  }

  test("deletion vectors: delta-encoded log records a DV swap as churn " +
      "and replay reproduces it; newer-format manifests are rejected by " +
      "old readers") {
    import spark.implicits._
    val t = rangedBase("dvlog")
    t.deleteWhere($"id" === 42L, dvMode = "force")
    // the manifest is delta-encoded (one swapped entry, not 8) AND
    // replays to the exact committed entry list after a cold re-open
    val manifest = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"${t.root}/_graft_log", f"v${2L}%020d.json").toPath))
    assert(manifest.contains("\"add\"") && manifest.contains("\"remove\""),
      "a DV swap should delta-encode as remove+add churn")
    assert(manifest.contains("\"formatVersion\":3"))
    val cold = GraftTable.forPath(spark, t.root)
    assert(cold.commitAt(2).files.count(_.dv.isDefined) == 1)
    assert(cold.read().count() == 999)
    // protocol gate: a future-format manifest fails loudly, not an NPE
    val future = new java.io.File(s"${t.root}/_graft_log", f"v${3L}%020d.json")
    java.nio.file.Files.write(future.toPath,
      """{"formatVersion":99,"version":3,"parent":2,"operation":"x",
        |"schemaJson":"{}"}""".stripMargin.getBytes)
    val e = intercept[IllegalStateException](
      GraftTable.forPath(spark, t.root).commitAt(3))
    assert(e.getMessage.contains("unsupported manifest format"))
  }

  // ---- round-14 continuation: partition layout through DML ----------------

  test("merge/DELETE/UPDATE on a partitioned table keep the Hive layout " +
      "and manifest partition values") {
    import spark.implicits._
    val root = tmpRoot("pdml")
    val df = spark.range(400).toDF("id")
      .withColumn("g", ($"id" % 4).cast("int"))
      .withColumn("v", ($"id" * 10).cast("long"))
    val t = GraftTable.createPartitioned(spark, root, df, Seq("g"))
    def allPartitioned(): Boolean =
      t.commitAt(t.latestVersion).files.forall(_.partition.contains("g"))
    assert(allPartitioned())
    t.upsertKeepLatest(Seq((7L, 3, 999L), (500L, 1, 1L)).toDF("id", "g", "v"),
      Seq("id"), Seq($"v".desc))
    assert(allPartitioned(), "a COW merge must keep the Hive layout")
    t.deleteWhere($"id" === 8L, dvMode = "off")
    assert(allPartitioned(), "a COW delete must keep the Hive layout")
    t.updateWhere(Seq("v" -> ($"v" + 1L)), Some($"id" === 9L), dvMode = "off")
    assert(allPartitioned(), "a COW update must keep the Hive layout")
    // partition pruning still works end-to-end after the rewrites
    val g2 = t.pruneFiles(t.latestVersion,
      FileFilter(Seq(("g", BigDecimal(2), BigDecimal(2)))))
    assert(g2.nonEmpty && g2.forall(_.partition.get("g").contains("2")))
    assert(t.read().filter($"g" === 2).count() == 100)
    assert(t.read().count() == 400) // 400 - deleted 8 + inserted 500
    assert(t.read().filter($"id" === 7L).select($"v").as[Long].head() == 999L)
    assert(t.read().filter($"id" === 9L).select($"v").as[Long].head() == 91L)
  }

  // ---- round-14 continuation: bloom file index ----------------------------

  test("bloom file index: point lookups skip hash-distributed files; " +
      "advisory everywhere — DVs, rewrites, and vacuum stay sound") {
    import spark.implicits._
    val root = tmpRoot("bloom")
    // hash layout: every file's id range spans the domain — min/max
    // skipping prunes NOTHING for a point lookup
    val t = GraftTable.create(spark, root,
      spark.range(4000).toDF("id")
        .withColumn("s", concat(lit("k-"), $"id"))
        .repartition(8))
    val eq = FileFilter(Seq(("id", BigDecimal(1234), BigDecimal(1234))))
    assert(t.pruneFiles(1, eq).size == 8, "stats alone cannot discriminate")
    assert(t.indexBloom("id") == 8)
    assert(t.indexBloom("id") == 0, "re-index must be incremental (no-op)")
    // the lookup now touches only files that might hold the key — with
    // fpp 1% over 8 files, almost always exactly 1
    val pruned = t.pruneFiles(1, eq)
    assert(pruned.size < 8, s"bloom must skip files, got ${pruned.size}")
    assert(t.read().filter($"id" === 1234L).count() == 1)
    // an ABSENT key usually prunes everything; correctness regardless
    assert(t.read().filter($"id" === 999999L).isEmpty)
    // string index too
    assert(t.indexBloom("s") == 8)
    val sPruned = t.pruneFiles(1,
      FileFilter(strRanges = Seq(("s", Some("k-77"), Some("k-77")))))
    assert(sPruned.size < 8)
    // a DV delete keeps the filter a sound SUPERSET: the file is still
    // consulted, the row-level read returns nothing
    t.deleteWhere($"id" === 1234L, dvMode = "force")
    assert(t.read().filter($"id" === 1234L).isEmpty)
    assert(spark.read.format("graft").load(root)
      .filter($"id" === 1234L).isEmpty)
    // DML candidate selection rides the index: a point DELETE by key
    // touches only the bloom-surviving files (delete_noop or a 1-file op)
    val vBefore = t.latestVersion
    t.deleteWhere($"id" === 2345L)
    val op = t.commitAt(vBefore + 1).operation
    assert(op == "delete_dv" || op == "delete" || op == "delete_noop")
    // a rewrite creates NEW paths with no filter — kept, never skipped
    t.compact(targetRows = 10000)
    assert(t.read().filter($"id" === 77L).count() == 1)
    assert(t.pruneFiles(t.latestVersion, eq).nonEmpty)
    // vacuum sweeps the dead paths' registry entries and sidecars
    t.vacuum(t.latestVersion, minAgeMs = 0)
    val bfs = Option(new java.io.File(root, "_graft_index").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".bf"))
    assert(bfs.isEmpty, s"vacuum left orphaned bloom sidecars: ${bfs.toSeq}")
    assert(t.read().count() == 3998) // 4000 - the two point deletes
  }

  // ---- round-14 continuation: shallow clone -------------------------------

  test("shallow clone: zero-copy reference, metadata carries, independent " +
      "evolution, clone vacuum cannot touch the source, compact materializes") {
    import spark.implicits._
    val t = rangedBase("clsrc")
    t.deleteWhere($"id" === 7L, dvMode = "force") // a DV'd source entry
    t.addConstraint("nonneg", "v >= 0")
    val dest = tmpRoot("cldst")
    val cl = t.cloneTo(dest)
    // ZERO data bytes under the clone — the commit is pure metadata
    def localData(root: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root, "data")).filter(_.isFile)
    }
    assert(localData(dest).isEmpty)
    assert(cl.read().count() == 999)
    assert(cl.read().filter($"id" === 7L).isEmpty,
      "the source's deletion vector must carry into the clone")
    // constraints carry — the clone enforces the source's invariant
    intercept[GraftTable.ConstraintViolationException] {
      cl.append(Seq((5000L, -1L)).toDF("id", "v"))
    }
    // the clone evolves independently: a DV merge swaps a CLONED entry
    // (vector lands locally, source bytes untouched)
    cl.mergeUpsert(Seq((3L, 999L)).toDF("id", "v"), Seq("id"))
    assert(cl.read().filter($"id" === 3L).select($"v").as[Long].head() == 999L)
    assert(t.read().filter($"id" === 3L).select($"v").as[Long].head() == 30L,
      "mutating the clone must never change the source")
    assert(cl.read().count() == 999)
    // the clone's vacuum sweeps only its own root — source stays whole
    cl.vacuum(cl.latestVersion, minAgeMs = 0)
    assert(t.read().count() == 999)
    assert(cl.read().count() == 999)
    // compact materializes the clone into a self-contained table
    cl.compact(targetRows = 2000)
    val mat = cl.commitAt(cl.latestVersion)
    assert(mat.files.forall(f => !new java.io.File(f.path).isAbsolute),
      "a compacted clone must hold only its own local files")
    assert(mat.files.forall(_.dv.isEmpty))
    assert(cl.read().count() == 999)
    assert(cl.read().filter($"id" === 3L).select($"v").as[Long].head() == 999L)
    // a second clone at an explicit earlier version pins that snapshot
    val cl2 = t.cloneTo(tmpRoot("cldst2"), version = 1L)
    assert(cl2.read().count() == 1000) // pre-delete snapshot
  }

  test("shallow clone of a partitioned table: layout and partition pruning survive") {
    import spark.implicits._
    val src = tmpRoot("clpsrc")
    val df = spark.range(100).toDF("id")
      .withColumn("g", ($"id" % 4).cast("int"))
    val t = GraftTable.createPartitioned(spark, src, df, Seq("g"))
    val cl = t.cloneTo(tmpRoot("clpdst"))
    assert(cl.read().count() == 100)
    assert(cl.read().filter($"g" === 2).count() == 25)
    assert(cl.read().filter($"g" === 2 && $"id" % 4 =!= 2).isEmpty,
      "partition values must reconstruct from the cloned absolute layout")
  }

  // ---- round-14 continuation: CHECK constraints ---------------------------

  test("NOT NULL column constraints: SET NOT NULL validates existing data, " +
      "every write path enforces, batch nullability never erodes the flag") {
    import spark.implicits._
    val lake = tmpRoot("nnlake")
    new java.io.File(lake).mkdirs()
    spark.conf.set("spark.sql.catalog.graft_nn", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_nn.root", lake)
    try {
      spark.sql("CREATE TABLE graft_nn.db.n (id BIGINT, v BIGINT, w STRING)")
      spark.sql("INSERT INTO graft_nn.db.n VALUES (1, 10, 'a'), (2, NULL, 'b')")
      val t = GraftTable.forPath(spark, s"$lake/db/n")
      // SET NOT NULL on a column with existing nulls: refused with
      // samples (via the procedure — Spark's analyzer refuses the v2
      // ALTER COLUMN SET NOT NULL spelling outright)
      intercept[GraftTable.ConstraintViolationException] {
        spark.sql("CALL graft_nn.system.set_not_null(tbl => 'db.n', col => 'v')")
      }
      // clean column: accepted, metadata-only, reported through the schema
      val filesBefore = t.commitAt(t.latestVersion).files.map(_.path)
      spark.sql("CALL graft_nn.system.set_not_null(tbl => 'db.n', col => 'id')")
      assert(t.commitAt(t.latestVersion).files.map(_.path) == filesBefore)
      assert(!t.commitAt(t.latestVersion).schema("id").nullable)
      assert(!spark.read.format("graft").load(s"$lake/db/n").schema("id").nullable)
      // programmatic append of a null id: rejected whole, snapshot untouched
      val s = new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("v", "long").add("w", "string")
      intercept[GraftTable.ConstraintViolationException] {
        t.append(spark.createDataFrame(
          java.util.Arrays.asList(Row(null, 5L, "x")), s))
      }
      assert(t.read().count() == 2)
      // merge/update post-images are checked too
      intercept[GraftTable.ConstraintViolationException] {
        t.updateWhere(Seq("id" -> org.apache.spark.sql.functions.lit(null)
          .cast("long")), Some($"id" === 1L), dvMode = "off")
      }
      // a clean batch read back from parquet (all-nullable flags) commits
      // fine AND the table keeps its declared NOT NULL
      val tmp = tmpRoot("nnbatch")
      Seq((7L, 70L, "g")).toDF("id", "v", "w").write.parquet(tmp)
      t.append(spark.read.parquet(tmp)) // parquet schema: everything nullable
      assert(!t.commitAt(t.latestVersion).schema("id").nullable,
        "one nullable batch must not erase the declared NOT NULL")
      assert(t.read().count() == 3)
      // DROP NOT NULL re-allows nulls
      spark.sql("ALTER TABLE graft_nn.db.n ALTER COLUMN id DROP NOT NULL")
      t.append(spark.createDataFrame(
        java.util.Arrays.asList(Row(null, 5L, "x")), s))
      assert(t.read().filter($"id".isNull).count() == 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_nn.db.n")
      spark.conf.unset("spark.sql.catalog.graft_nn")
      spark.conf.unset("spark.sql.catalog.graft_nn.root")
    }
  }

  test("metadata-only COUNT(*) stays exact across DV deletes, appends and " +
      "time travel; count(col) folds off null counts; filtered shapes scan") {
    import spark.implicits._
    val t = rangedBase("mdc") // 1000 rows / 8 files
    def countOf(df: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      val c = df.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      val metaOnly = c.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      (c.as[Long].head(), metaOnly)
    }
    val q = spark.read.format("graft").load(t.root)
    assert(countOf(q) == (1000L, true))
    // DV delete: liveRows subtracts the vector's cardinality exactly
    t.deleteWhere($"id" < 100L, dvMode = "force")
    val q2 = spark.read.format("graft").load(t.root)
    assert(countOf(q2) == (900L, true), "DV'd snapshot must stay metadata-only")
    t.append(Seq((5000L, 1L)).toDF("id", "v"))
    assert(countOf(spark.read.format("graft").load(t.root)) == (901L, true))
    // time travel counts ITS OWN version's manifest
    assert(countOf(spark.read.format("graft").option("versionAsOf", 1)
      .load(t.root)) == (1000L, true))
    // shapes that must SCAN: filtered, grouped, and count(col)
    val filtered = spark.read.format("graft").load(t.root).filter($"v" > 0L)
    assert(countOf(filtered) == (901L, false), "a filtered count must scan")
    val grouped = spark.read.format("graft").load(t.root)
      .groupBy($"v" % 2).count()
    assert(!grouped.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    // count(col) on a NON-NULLABLE column: Catalyst itself rewrites it to
    // count(*), so the metadata answer is legitimate — just check the value
    val countCol = spark.read.format("graft").load(t.root)
      .agg(org.apache.spark.sql.functions.count($"v").as("n"))
    assert(countCol.as[Long].head() == 901L)
    // count(col) on a NULLABLE column is null-sensitive — and STILL
    // metadata-only: every manifest entry records the file's exact
    // per-column null count, so Σ (rows − nulls) is the scan's answer
    val s = new org.apache.spark.sql.types.StructType()
      .add("id", "long", nullable = false).add("w", "long", nullable = true)
    val tn = GraftTable.create(spark, tmpRoot("mdcn"), spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 10L), Row(2L, null), Row(3L, 30L)), s))
    val qn = spark.read.format("graft").load(tn.root)
    def countW(df: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      val c = df.agg(org.apache.spark.sql.functions.count($"w").as("n"))
      (c.as[Long].head(),
        c.queryExecution.optimizedPlan.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    }
    assert(countW(qn) == (2L, true),
      "count(nullable col) folds from the manifest's null counts")
    tn.append(spark.createDataFrame(
      java.util.Arrays.asList(Row(4L, null), Row(5L, 50L)), s))
    assert(countW(spark.read.format("graft").load(tn.root)) == (3L, true))
    // a DV leaves the masked rows' nullity unrecorded: count(col) must
    // scan (and stay right); count(*) keeps folding off dvRows
    tn.deleteWhere($"id" === 5L, dvMode = "force")
    val qdv = spark.read.format("graft").load(tn.root)
    assert(countW(qdv) == (2L, false),
      "count(col) over a DV'd snapshot must scan")
    assert(countOf(qdv) == (4L, true))
  }

  test("CHECK constraints enforce INSIDE the write pass: a nondeterministic " +
      "batch can never commit rows the validation did not see") {
    import spark.implicits._
    val t = rangedBase("chknd", n = 10)
    t.addConstraint("v_nonneg", "v >= 0")
    // rand()-derived batch whose rows flip validity per EVALUATION: the
    // old validate-then-rewrite shape could pass the validation job and
    // then write a recomputed batch containing violations. Write-pass
    // enforcement evaluates the guard on the exact rows being written,
    // so across many trials the invariant must hold unconditionally:
    // either the append throws, or every committed row satisfies the
    // constraint — never a committed violation.
    (1 to 8).foreach { trial =>
      val nd = spark.range(200).toDF("id")
        .select($"id" + 10000L * trial as "id",
          (org.apache.spark.sql.functions.rand() * 4000 - 2000)
            .cast("long").as("v"))
      try { t.append(nd); () }
      catch { case _: GraftTable.ConstraintViolationException => () }
      assert(t.read().filter($"v" < 0).isEmpty,
        s"trial $trial committed rows that violate the CHECK constraint")
    }
    // deterministic control: a clean nondeterministic-shaped batch commits
    t.append(spark.range(5).toDF("id").select($"id" + 90000L as "id",
      (org.apache.spark.sql.functions.rand() * 100).cast("long").as("v")))
    assert(t.read().filter($"id" >= 90000L).count() == 5)
  }

  test("CHECK constraints: validated at ADD, enforced on every write path, " +
      "ANSI NULL semantics, writer-version protocol") {
    import spark.implicits._
    val t = rangedBase("chk") // ids 0..999, v = id*10
    // ADD validates EXISTING data — a constraint today's rows violate is
    // refused with samples, and commits nothing
    intercept[GraftTable.ConstraintViolationException] {
      t.addConstraint("v_small", "v < 100")
    }
    assert(t.latestVersion == 1)
    // non-boolean expressions are refused at ADD, not at first write
    intercept[IllegalArgumentException] { t.addConstraint("bad", "v + 1") }
    t.addConstraint("v_nonneg", "v >= 0")
    t.addConstraint("id_notnull", "id IS NOT NULL")
    val c = t.commitAt(t.latestVersion)
    assert(c.constraints.keySet == Set("v_nonneg", "id_notnull"))
    assert(c.minWriterVersion == 2, "constraints must demand enforcing writers")
    // append: clean rows pass; a violating batch is rejected whole
    t.append(Seq((2000L, 5L)).toDF("id", "v"))
    intercept[GraftTable.ConstraintViolationException] {
      t.append(Seq((2001L, 7L), (2002L, -1L)).toDF("id", "v"))
    }
    // ANSI CHECK: NULL v PASSES v >= 0 (only FALSE fails); NULL id fails
    // its explicit IS NOT NULL spelling
    val s = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "long")
    t.append(spark.createDataFrame(
      java.util.Arrays.asList(Row(3000L, null)), s))
    intercept[GraftTable.ConstraintViolationException] {
      t.append(spark.createDataFrame(
        java.util.Arrays.asList(Row(null, 1L)), s))
    }
    // UPDATE post-images are checked on BOTH spellings
    intercept[GraftTable.ConstraintViolationException] {
      t.updateWhere(Seq("v" -> ($"v" - 100000L)), Some($"id" === 5L)) // DV path
    }
    intercept[GraftTable.ConstraintViolationException] {
      t.updateWhere(Seq("v" -> ($"v" - 100000L)), Some($"id" === 5L),
        dvMode = "off") // COW path
    }
    // MERGE batches are checked on both spellings
    intercept[GraftTable.ConstraintViolationException] {
      t.mergeUpsert(Seq((3L, -5L)).toDF("id", "v"), Seq("id"))
    }
    intercept[GraftTable.ConstraintViolationException] {
      t.mergeUpsert(Seq((3L, -5L)).toDF("id", "v"), Seq("id"), dvMode = "off")
    }
    // rejected writes leave the snapshot untouched
    assert(t.read().count() == 1002)
    assert(t.read().filter($"v" < 0).isEmpty)
    // clean mutations still flow
    t.updateWhere(Seq("v" -> ($"v" + 1L)), Some($"id" === 5L))
    t.mergeUpsert(Seq((4L, 0L)).toDF("id", "v"), Seq("id"))
    assert(t.read().filter($"id" === 5L).select($"v").as[Long].head() == 51L)
    // DROP is metadata-only; the writer requirement is derived, so
    // dropping the last constraint lowers it back
    t.dropConstraint("v_nonneg")
    assert(t.commitAt(t.latestVersion).minWriterVersion == 2)
    t.dropConstraint("id_notnull")
    assert(t.commitAt(t.latestVersion).minWriterVersion == 1)
    t.append(Seq((2002L, -1L)).toDF("id", "v")) // enforcement ended
    assert(t.read().filter($"v" < 0).count() == 1)
    // constraints survive the delta-encoded log on a COLD re-open
    t.addConstraint("back", "v >= -1")
    val cold = GraftTable.forPath(spark, t.root)
    assert(cold.commitAt(cold.latestVersion).constraints == Map("back" -> "v >= -1"))
    intercept[GraftTable.ConstraintViolationException] {
      cold.append(Seq((2003L, -2L)).toDF("id", "v"))
    }
  }

  test("writer-version protocol: a table demanding a newer writer refuses " +
      "mutation but keeps serving reads") {
    import spark.implicits._
    val t = rangedBase("wv", n = 10)
    // forge version 2 as a future-writer commit: identical content, but
    // minWriterVersion above what this code satisfies
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v1 = new java.io.File(s"${t.root}/_graft_log", f"v${1L}%020d.json")
    val n = mapper.readTree(java.nio.file.Files.readAllBytes(v1.toPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.put("version", 2L)
    n.put("parent", 1L)
    n.put("minWriterVersion", 99)
    java.nio.file.Files.write(
      new java.io.File(s"${t.root}/_graft_log", f"v${2L}%020d.json").toPath,
      mapper.writeValueAsBytes(n))
    val t2 = GraftTable.forPath(spark, t.root)
    // reads are gated by formatVersion alone — still fine
    assert(t2.read().count() == 10)
    // writes refuse loudly instead of silently ignoring the feature
    val e = intercept[IllegalArgumentException] {
      t2.append(Seq((100L, 1L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("writer version"))
  }

  // ---- round-14 continuation: merge-on-read UPDATE / MERGE ----------------

  test("merge-on-read UPDATE: superseded rows vector out, post-images " +
      "append; time travel, CDF, a second stacked update, and compaction hold") {
    import spark.implicits._
    val t = rangedBase("morup")
    val v1 = t.commitAt(1).files
    // scattered ~1% update: auto must pick the DV path (9 of 1000 rows)
    t.updateWhere(Seq("v" -> ($"v" + 1L)), Some($"id" % 111 === 7))
    val v2 = t.commitAt(2)
    assert(v2.operation == "update_dv", s"expected DV update, got ${v2.operation}")
    // every base path carried (swaps keep their path); post-images append
    assert(v1.map(_.path).toSet.subsetOf(v2.files.map(_.path).toSet))
    val matchedIds = (0L until 1000L).filter(_ % 111 == 7)
    assert(v2.files.map(_.dvRows).sum == matchedIds.size.toLong)
    assert(v2.files.map(_.liveRows).sum == 1000L)
    val got = t.read().filter($"id" % 111 === 7)
      .select($"id", $"v").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == matchedIds)
    assert(got.forall { case (id, v) => v == id * 10 + 1 },
      "post-image rows must carry the assignment exactly once")
    assert(t.read().count() == 1000)
    // time travel: the pre-update snapshot never sees the vector
    assert(t.read(1).filter($"v" =!= $"id" * 10).isEmpty)
    // CDF: exactly a delete(pre-image) + insert(post-image) pair per row
    val chg = t.changesBetween(1, 2)
      .select($"id", $"v", $"_change_type").as[(Long, Long, String)].collect()
    assert(chg.length == 2 * matchedIds.size)
    assert(chg.collect { case (id, v, "delete") => (id, v) }.sortBy(_._1).toSeq
      == matchedIds.map(id => (id, id * 10)))
    assert(chg.collect { case (id, v, "insert") => (id, v) }.sortBy(_._1).toSeq
      == matchedIds.map(id => (id, id * 10 + 1)))
    // a SECOND update hitting rows whose live copies sit in the APPENDED
    // post-image file: positions harvest there, vectors stack correctly
    t.updateWhere(Seq("v" -> ($"v" + 1L)), Some($"id" % 222 === 7),
      dvMode = "force")
    assert(t.commitAt(3).operation == "update_dv")
    assert(t.read().filter($"id" === 7L).select($"v").as[Long].head() == 72L)
    assert(t.read().filter($"id" === 118L).select($"v").as[Long].head() == 1181L)
    assert(t.read().count() == 1000)
    // compaction materializes every vector away; values survive
    t.compact(targetRows = 2000)
    assert(t.commitAt(4).files.forall(_.dv.isEmpty))
    assert(t.read().filter($"id" === 7L).select($"v").as[Long].head() == 72L)
    assert(t.read().count() == 1000)
  }

  test("merge-on-read MERGE: batch wins via vector swaps + appended batch; " +
      "NULL keys insert; a dense merge falls back to copy-on-write") {
    import spark.implicits._
    val t = rangedBase("mordv")
    val v1 = t.commitAt(1).files
    // small scattered batch: 5 replacements grazing 4 files + 2 inserts
    t.mergeUpsert(Seq((3L, -1L), (250L, -2L), (900L, -3L), (77L, -4L),
      (500L, -5L), (5000L, 1L), (6000L, 2L)).toDF("id", "v"), Seq("id"))
    val v2 = t.commitAt(2)
    assert(v2.operation == "merge_dv", s"expected DV merge, got ${v2.operation}")
    assert(v1.map(_.path).toSet.subsetOf(v2.files.map(_.path).toSet),
      "a merge-on-read MERGE must rewrite zero grazed files")
    assert(v2.files.map(_.dvRows).sum == 5L)
    assert(t.read().count() == 1002)
    assert(t.read().filter($"id" === 3L).select($"v").as[Long].head() == -1L)
    assert(t.read().filter($"id" === 5000L).count() == 1)
    // NULL batch key inserts, NULL target rows survive (ANSI equality
    // falls out of the semi-join — no special case to get wrong)
    val s = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "long")
    t.mergeUpsert(spark.createDataFrame(
      java.util.Arrays.asList(Row(null, 9L)), s), Seq("id"), dvMode = "force")
    assert(t.commitAt(3).operation == "merge_dv")
    assert(t.read().count() == 1003)
    assert(t.read().filter($"id".isNull).count() == 1)
    // dense merge (60% of keys): auto must fall back to the COW rewrite,
    // which reads THROUGH the stacked vectors (no resurrection)
    t.mergeUpsert(spark.range(0, 600).toDF("id").withColumn("v", lit(1L)),
      Seq("id"))
    assert(t.commitAt(4).operation == "merge_upsert",
      s"expected COW fallback, got ${t.commitAt(4).operation}")
    assert(t.read().count() == 1003)
    assert(t.read().filter($"id" < 600 && $"v" =!= 1L).isEmpty)
    assert(t.read().filter($"id" === 900L).select($"v").as[Long].head() == -3L)
  }
}
