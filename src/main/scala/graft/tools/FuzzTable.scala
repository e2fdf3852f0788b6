package graft.tools

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.{GraftTable, MaterializedAgg}

/** Transactional DML-program fuzzer for the versioned table format
  * (round-13): the SQL fuzzer (`tools/Fuzz`) differentials QUERY
  * semantics against DuckDB, but the table format's correctness surface
  * is a different axis — arbitrary INTERLEAVINGS of mutations,
  * maintenance, retention, and recovery, where the failure mode is a
  * wrong SNAPSHOT (lost rows, resurrected rows, torn time travel), not
  * a wrong query result.
  *
  * Each seeded program runs a random sequence of operations against a
  * real `GraftTable` while a driver-side SHADOW STATE (a plain Scala
  * multiset of rows — an independent, trivially-correct model) tracks
  * what every commit must contain:
  *
  *  - `append` of fresh ids / `idempotentAppend` with a new batch id
  *    (shadow adds the batch) and REPLAYED batch ids carrying DIFFERENT
  *    data (shadow unchanged — the exactly-once guard must no-op);
  *  - `upsertKeepLatest` over a mix of existing and fresh ids with a
  *    strictly-monotone ordering column (shadow replaces-or-inserts);
  *  - `deleteWhere` / `updateWhere` on range and modulus predicates,
  *    each with a fuzzed `dvMode` (the file filter each derives from its
  *    own condition prunes the range shapes and keeps every file for the
  *    modulus ones);
  *  - `compact` / `zorderBy` (content-preserving rewrites);
  *  - `restoreTo` a random retained version (shadow rolls back to its
  *    recorded snapshot);
  *  - `checkpoint` and `vacuum` (content-preserving; vacuum drops
  *    pre-retention versions from the comparable set).
  *
  * After EVERY commit the live snapshot is compared to the shadow as a
  * sorted multiset; at program end, every retained version is compared
  * to its recorded shadow (time travel across the whole delta-encoded
  * log), a COLD re-open replays the chain from disk alone, and random
  * retained version pairs must satisfy the CDF identity
  * `read(v2) == read(v1) ⊎ inserts ∖ deletes`.
  *
  * Usage: runMain graft.tools.FuzzTable [seed] [nPrograms] [nOps]
  */
object FuzzTable {

  type RowT = (Long, Long, String)

  final case class Outcome(commits: Int, checks: Int)

  /** Run one seeded program; throws on any divergence. */
  def runProgram(spark: SparkSession, seed: Long, nOps: Int,
                 root: String): Outcome = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    var shadow = Vector.empty[RowT]
    var nextId = 0L
    var seq = 0L // strictly-monotone ordering value: upsert batches always win
    var nextBatch = 0L
    val committedBatches = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[RowT])]
    // version → shadow at that commit (only retained versions are checked)
    val snapshots = scala.collection.mutable.Map.empty[Long, Vector[RowT]]
    var vacuumFloor = 1L
    var checks = 0

    def df(rows: Seq[RowT]): DataFrame =
      rows.toDF("id", "v", "s").repartition(1 + rng.nextInt(3))

    def freshBatch(n: Int): Vector[RowT] = {
      val b = (0 until n).map { _ =>
        seq += 1; val id = nextId; nextId += 1
        (id, seq, s"s$id-g0")
      }.toVector
      b
    }

    val b0 = freshBatch(20 + rng.nextInt(80))
    val t = GraftTable.create(spark, root, df(b0), operation = "create")
    shadow = b0
    snapshots(1L) = shadow

    def verifyLive(tag: String): Unit = {
      val got = t.read().as[RowT].collect().sorted.toVector
      val want = shadow.sorted
      require(got == want,
        s"[seed=$seed op=$tag] live snapshot diverged: got ${got.size} rows, " +
          s"want ${want.size}; first diff=${got.zipAll(want, null, null).find(p => p._1 != p._2)}")
      // metadata-only aggregate cross-check: COUNT(*) and count(col)
      // through the DSv2 read fold off the manifest (GraftExtensions is
      // registered) — the shadow is the oracle, across every DV/COW/
      // restore/vacuum history the program generates
      val metaCnt = spark.read.format("graft").load(root)
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.count($"v").as("nv"))
        .as[(Long, Long)].head()
      require(metaCnt == ((want.size.toLong, want.size.toLong)),
        s"[seed=$seed op=$tag] metadata count diverged: $metaCnt vs ${want.size}")
      checks += 1
    }

    // a materialized per-`s` rollup maintained ALONGSIDE the program from
    // the change feed — every 5th commit (and at the end) it refreshes
    // incrementally and must equal the shadow's own aggregate. Vacuum can
    // reclaim manifests the pending CDF range needs (the documented
    // retention caveat): the recovery path — drop the MV, full re-init —
    // is exercised whenever the program's vacuum outruns the refresh.
    val mvRoot = s"${root}_mv"
    var mvOps = 0
    def verifyMv(tag: String): Unit = {
      def rmMv(): Unit = {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(mvRoot))
      }
      try MaterializedAgg.refresh(spark, t, mvRoot, Seq("s"), Seq("v"))
      catch { case _: Exception => rmMv()
        MaterializedAgg.refresh(spark, t, mvRoot, Seq("s"), Seq("v")): Unit
      }
      val got = MaterializedAgg.readView(spark, mvRoot, Seq("s"), Seq("v"))
        .select($"s", $"cnt", $"sum_v").as[(String, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val want = shadow.groupBy(_._3).map { case (s, rows) =>
        s -> ((rows.size.toLong, rows.map(_._2).sum))
      }
      require(got == want,
        s"[seed=$seed op=$tag] MV diverged from shadow aggregate: " +
          s"${got.size} vs ${want.size} groups; " +
          s"first diff=${(got.toSet diff want.toSet).take(2)}")
      checks += 1
    }

    (1 to nOps).foreach { _ =>
      val op = rng.nextInt(100)
      val tag: String =
        if (op < 22) { // append fresh rows
          val b = freshBatch(1 + rng.nextInt(120))
          t.append(df(b)); shadow ++= b; "append"
        } else if (op < 40) { // upsert: mix of existing + fresh ids
          val existing = shadow.map(_._1)
          val overlap =
            if (existing.isEmpty) Vector.empty
            else rng.shuffle(existing).take(1 + rng.nextInt(math.min(60, existing.size)))
          val fresh = (0 until rng.nextInt(20)).map { _ => val id = nextId; nextId += 1; id }
          val ids = (overlap ++ fresh).distinct
          val b = ids.map { id => seq += 1; (id, seq, s"s$id-g${seq % 7}") }.toVector
          t.upsertKeepLatest(df(b), Seq("id"), Seq($"v".desc))
          val bm = b.map(r => r._1 -> r).toMap
          shadow = shadow.filterNot(r => bm.contains(r._1)) ++ b
          "upsert"
        } else if (op < 50) { // delete: range or modulus
          // DV mode is fuzzed too: auto (threshold decides), off (always
          // copy-on-write), force (always a vector when under the driver
          // bound) — every interleaving of vector swaps with merges,
          // restores, compaction, and vacuum goes through the shadow check
          val dvMode = Seq("auto", "off", "force")(rng.nextInt(3))
          if (rng.nextBoolean() && nextId > 0) {
            val lo = rng.nextLong(nextId); val hi = math.min(nextId - 1, lo + rng.nextInt(200))
            t.deleteWhere($"id" >= lo && $"id" <= hi, dvMode = dvMode)
            shadow = shadow.filterNot(r => r._1 >= lo && r._1 <= hi)
            s"delete_range_$dvMode"
          } else {
            val m = 2 + rng.nextInt(9); val r0 = rng.nextInt(m)
            t.deleteWhere($"id" % m === r0, dvMode = dvMode)
            shadow = shadow.filterNot(r => r._1 % m == r0)
            s"delete_mod_$dvMode"
          }
        } else if (op < 57) { // update: suffix-stamp s on an id range
          // dvMode fuzzed like delete: auto/off/force interleave vector
          // swaps + post-image appends with every other mutation
          val dvMode = Seq("auto", "off", "force")(rng.nextInt(3))
          val lo = if (nextId == 0) 0L else rng.nextLong(nextId)
          val hi = math.min(math.max(nextId, 1L) - 1, lo + rng.nextInt(300))
          t.updateWhere(Seq("s" -> concat($"s", lit("+u"))),
            Some($"id" >= lo && $"id" <= hi), dvMode = dvMode)
          shadow = shadow.map(r =>
            if (r._1 >= lo && r._1 <= hi) (r._1, r._2, r._3 + "+u") else r)
          s"update_$dvMode"
        } else if (op < 60) { // merge: batch-wins replace-by-key (SQL MERGE shape)
          val dvMode = Seq("auto", "off", "force")(rng.nextInt(3))
          val existing = shadow.map(_._1)
          val overlap =
            if (existing.isEmpty) Vector.empty
            else rng.shuffle(existing).take(rng.nextInt(math.min(50, existing.size) + 1))
          val fresh = (0 until rng.nextInt(15)).map { _ => val id = nextId; nextId += 1; id }
          val ids = (overlap ++ fresh).distinct // MERGE cardinality: key-unique batch
          val b = ids.map { id => seq += 1; (id, seq, s"s$id-m${seq % 5}") }.toVector
          if (b.nonEmpty) {
            t.mergeUpsert(df(b), Seq("id"), dvMode = dvMode)
            val bm = b.map(r => r._1 -> r).toMap
            shadow = shadow.filterNot(r => bm.contains(r._1)) ++ b
          }
          s"merge_$dvMode"
        } else if (op < 72) { // exactly-once: new batch, or a replay with forged data
          if (committedBatches.nonEmpty && rng.nextInt(10) < 3) {
            val (oldId, _) = committedBatches(rng.nextInt(committedBatches.size))
            val forged = freshBatch(5)
            // a replayed batch id must NO-OP even with different data
            // (the forged ids are burned, never landing in the table)
            t.idempotentAppend(df(forged), "fuzz_app", oldId)
            "replay_noop"
          } else {
            val b = freshBatch(1 + rng.nextInt(60))
            val bid = nextBatch; nextBatch += 1
            t.idempotentAppend(df(b), "fuzz_app", bid)
            committedBatches += ((bid, b)); shadow ++= b
            "stream_append"
          }
        } else if (op < 80) { // compact: whole-table or id-range SCOPED
          if (rng.nextBoolean() || nextId == 0) {
            t.compact(500 + rng.nextInt(4000)); "compact"
          } else {
            // scoped OPTIMIZE: only files overlapping the id range rewrite
            // (content-preserving either way — the shadow is unchanged);
            // interleaves with DV'd files, whose vectors must materialize
            // away for exactly the in-scope files
            val lo = rng.nextLong(nextId)
            val hi = math.min(nextId - 1, lo + rng.nextInt(400))
            t.compactWhere(500 + rng.nextInt(4000),
              Seq(("id", BigDecimal(lo), BigDecimal(hi))))
            "compact_scoped"
          }
        } else if (op < 84) { // zorder (content-preserving)
          t.zorderBy($"id", $"v", 2 + rng.nextInt(4)); "zorder"
        } else if (op < 92) { // restore to a retained recorded version
          val candidates = t.versions.filter(v => v >= vacuumFloor && snapshots.contains(v))
          if (candidates.nonEmpty) {
            val target = candidates(rng.nextInt(candidates.size))
            t.restoreTo(target)
            shadow = snapshots(target)
            s"restore_v$target"
          } else "restore_skipped"
        } else if (op < 94) { // checkpoint (pure metadata)
          t.checkpoint(); "checkpoint"
        } else if (op < 96) { // CHECK-constraint toggle: an always-true
          // invariant (v is the strictly-positive sequence) — exercises
          // metadata carry-forward through the delta log, ADD-time table
          // validation, and the enforcement pass on every later write,
          // with the shadow unchanged by construction
          if (t.commitAt(t.latestVersion).constraints.contains("fuzz_inv")) {
            t.dropConstraint("fuzz_inv"); "drop_constraint"
          } else {
            t.addConstraint("fuzz_inv", "v >= 1"); "add_constraint"
          }
        } else { // vacuum a short prefix (minAge 0: single-writer program)
          val latest = t.latestVersion
          val floor = math.max(vacuumFloor, latest - (1 + rng.nextInt(6)))
          t.vacuum(floor, minAgeMs = 0)
          vacuumFloor = floor
          snapshots.keys.filter(_ < floor).toSeq.foreach(snapshots.remove)
          "vacuum"
        }
      snapshots(t.latestVersion) = shadow
      verifyLive(tag)
      mvOps += 1
      if (mvOps % 5 == 0) verifyMv(tag)
    }
    verifyMv("final")

    // time travel across the whole retained, delta-encoded history
    t.versions.foreach { v =>
      snapshots.get(v).foreach { want =>
        val got = t.read(v).as[RowT].collect().sorted.toVector
        require(got == want.sorted,
          s"[seed=$seed] time travel diverged at v$v: ${got.size} vs ${want.size} rows")
        checks += 1
      }
    }
    // cold re-open: resolution from disk alone (fresh snapshot cache)
    val cold = GraftTable.forPath(spark, root)
    require(cold.read().as[RowT].collect().sorted.toVector == shadow.sorted,
      s"[seed=$seed] cold re-open diverged")
    checks += 1
    // CDF identity on random retained pairs: read(v2) == read(v1) ⊎ ins ∖ del
    val vs = t.versions.filter(snapshots.contains)
    (1 to math.min(5, vs.size / 2)).foreach { _ =>
      val a = vs(rng.nextInt(vs.size)); val b = vs(rng.nextInt(vs.size))
      val (v1, v2) = (math.min(a, b), math.max(a, b))
      if (v1 < v2) {
        val changes = t.changesBetween(v1, v2)
          .select($"id", $"v", $"s", $"_change_type".as("ct"))
          .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getString(3)))
        val ins = changes.collect { case (row, "insert") => row }
        val del = changes.collect { case (row, "delete") => row }
        val m = scala.collection.mutable.Map.empty[RowT, Int].withDefaultValue(0)
        snapshots(v1).foreach(r => m(r) += 1)
        ins.foreach(r => m(r) += 1)
        del.foreach { r =>
          m(r) -= 1
          require(m(r) >= 0, s"[seed=$seed] CDF deleted a row absent from v$v1: $r")
        }
        val rebuilt = m.toSeq.flatMap { case (r, n) => Seq.fill(n)(r) }.sorted.toVector
        require(rebuilt == snapshots(v2).sorted,
          s"[seed=$seed] CDF identity failed for v$v1→v$v2")
        checks += 1
      }
    }
    Outcome(t.versions.size, checks)
  }

  def main(args: Array[String]): Unit = {
    val seed = args.headOption.map(_.toLong).getOrElse(1300L)
    val nPrograms = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val nOps = args.drop(2).headOption.map(_.toInt).getOrElse(40)
    val spark = Harness.session()

    var commits = 0; var checks = 0
    (0 until nPrograms).foreach { i =>
      val root = s"${sys.props("java.io.tmpdir")}/graft_fuzztable_${ProcessHandle.current.pid}_$i"
      delete(new File(root))
      val o = runProgram(spark, seed + i, nOps, root)
      commits += o.commits; checks += o.checks
      println(s"[fuzz_table] program ${i + 1}/$nPrograms (seed=${seed + i}): " +
        s"${o.commits} commits, ${o.checks} checks OK")
      delete(new File(root))
    }
    println(s"""{"probe":"fuzz_table","programs":$nPrograms,"ops_per_program":$nOps,""" +
      s""""commits":$commits,"checks":$checks,"failures":0}""")
    spark.stop()
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
