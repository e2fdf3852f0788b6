package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming semantics tests (SURVEY.md §5): T1 micro-batch
  * trigger batching, T4 watermark late-drop, T5 at-least-once dedup, T6
  * stateful sessionization. MemoryStream + processAllAvailable — fully
  * deterministic, no sleeps.
  */
class StreamingSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("T5: duplicate ids within the watermark are dropped (at-least-once -> effectively-once)") {
    val in = MemoryStream[(Long, Timestamp, String)](spark)
    val deduped = StreamOps.dedupStream(
      in.toDF.toDF("id", "ts", "title"), "id", "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), "A"))
      in.addData((1L, ts("2024-01-01 10:00:00"), "A"))  // redelivery
      in.addData((2L, ts("2024-01-01 10:05:00"), "B"))
      in.addData((1L, ts("2024-01-01 10:06:00"), "A"))  // late redelivery, same id
      q.processAllAvailable()
      val got = spark.table("dedup_out").orderBy("id").collect()
      assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("T2/T4: event-time daily aggregation; a row later than the watermark is dropped") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val agg = StreamOps.dailyCounts(in.toDF.toDF("ts", "title"), "ts", "title", "1 hour")
    val q = agg.writeStream.format("memory").queryName("daily_out")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 09:00:00"), "A"))
      in.addData((ts("2024-01-01 10:00:00"), "A"))
      q.processAllAvailable()
      // advance watermark far past 2024-01-01: day-1 window closes + emits
      in.addData((ts("2024-01-03 12:00:00"), "B"))
      q.processAllAvailable()
      // this arrives > 1h behind the 2024-01-03 watermark: dropped
      in.addData((ts("2024-01-01 11:00:00"), "A"))
      in.addData((ts("2024-01-05 00:00:00"), "C"))
      q.processAllAvailable()
      val day1 = spark.table("daily_out")
        .filter($"day" === ts("2024-01-01 00:00:00") && $"title" === "A").collect()
      assert(day1.length === 1 && day1.head.getLong(2) === 2L,
        "late row must not re-open the closed day-1 window")
    } finally q.stop()
  }

  test("streaming resample produces the same 6h buckets as the batch operator") {
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = StreamOps.resample(
      in.toDF.toDF("ts", "event_type", "value"), "ts", "event_type", "value", "6 hours")
    val q = agg.writeStream.format("memory").queryName("resample_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 01:00:00"), "click", 2.0),
        (ts("2024-01-01 05:59:59"), "click", 4.0), // same 00:00 bucket
        (ts("2024-01-01 06:00:00"), "click", 8.0)) // next bucket
      q.processAllAvailable()
      in.addData((ts("2024-01-03 00:00:00"), "click", 1.0)) // advance watermark
      q.processAllAvailable()
      val out = spark.table("resample_out")
        .filter($"bucket" < ts("2024-01-02 00:00:00")).collect()
        .map(r => (r.getTimestamp(0), r.getLong(2), r.getDouble(3))).sortBy(_._1)
      assert(out.toSeq === Seq(
        (ts("2024-01-01 00:00:00"), 2L, 3.0),
        (ts("2024-01-01 06:00:00"), 1L, 8.0)),
        "6h bucket boundaries and aggregates must match the batch window()")
    } finally q.stop()
  }

  test("T1: the raw sink writes date-partitioned gzip NDJSON via micro-batches") {
    val in = MemoryStream[(Long, String)](spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_raw").toString
    val q = StreamOps.rawSink(
        in.toDF.toDF("id", "title"), s"$dir/data", s"$dir/chk",
        triggerInterval = "0 seconds")
      .start()
    try {
      in.addData((1L, "A"), (2L, "B"))
      q.processAllAvailable()
      val files = new java.io.File(s"$dir/data").listFiles()
      val dsDirs = files.filter(f => f.isDirectory && f.getName.startsWith("ds="))
      assert(dsDirs.nonEmpty, "expected ds=YYYY-MM-DD partition dirs")
      val gz = dsDirs.head.listFiles().filter(_.getName.endsWith(".json.gz"))
      assert(gz.nonEmpty, "expected gzip NDJSON part files")
      val back = spark.read.json(s"$dir/data")
      assert(back.count() === 2)
    } finally q.stop()
  }

  test("S3 analog: file-source streaming reads a JSON drop-dir incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val schema = "id LONG, title STRING"
    Seq("""{"id":1,"title":"A"}""", """{"id":2,"title":"B"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in")
    val stream = spark.readStream.schema(schema).json(s"$dir/in")
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("file_src_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_src_out").count() === 2)
      // a new file landing in the dir is picked up as a new micro-batch
      Seq("""{"id":3,"title":"C"}""").toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/in")
      q.processAllAvailable()
      assert(spark.table("file_src_out").count() === 3)
    } finally q.stop()
  }

  test("T1 size bound: maxFilesPerTrigger caps each micro-batch (the consumer's BATCH_SIZE analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mft").toString
    (1 to 4).foreach { i =>
      Seq(s"""{"id":${i * 10},"title":"T$i"}""", s"""{"id":${i * 10 + 1},"title":"T$i"}""")
        .toDF("value").coalesce(1).write.mode("append").text(s"$dir/in")
    }
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .schema("id LONG, title STRING")
      .option("maxFilesPerTrigger", 1) // BATCH_SIZE=200 analog: bound per-batch input
      .json(s"$dir/in")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.synchronized { sizes += batch.count() }; ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(sizes.sum === 8L, "every row processed exactly once")
      assert(sizes.count(_ > 0) >= 4, "backlog split into one micro-batch per file")
      assert(sizes.forall(_ <= 2L), "no micro-batch exceeded one file's rows")
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound, drops outside it") {
    val imps = MemoryStream[(Long, Timestamp)](spark)
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val joined = StreamOps.streamStreamJoin(
      imps.toDF.toDF("imp_id", "imp_ts"),
      clicks.toDF.toDF("click_imp_id", "click_ts"),
      "imp_id = click_imp_id AND " +
        "click_ts BETWEEN imp_ts AND imp_ts + INTERVAL 30 MINUTES",
      "imp_ts", "click_ts")
    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clicks.addData((1L, ts("2024-01-01 10:10:00")))  // inside the window
      clicks.addData((2L, ts("2024-01-01 11:30:00")))  // outside: 90 min later
      q.processAllAvailable()
      val got = spark.table("ss_join_out").collect()
      assert(got.map(_.getLong(0)).toSeq === Seq(1L),
        "only the in-window click joins its impression")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits the unmatched row once the watermark closes it") {
    val imps = MemoryStream[(Long, Timestamp)](spark)
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val joined = StreamOps.streamStreamJoin(
      imps.toDF.toDF("imp_id", "imp_ts"),
      clicks.toDF.toDF("click_imp_id", "click_ts"),
      "imp_id = click_imp_id AND " +
        "click_ts BETWEEN imp_ts AND imp_ts + INTERVAL 30 MINUTES",
      "imp_ts", "click_ts", watermark = "10 minutes", joinType = "left_outer")
    val q = joined.toDF("imp_id", "imp_ts", "click_imp_id", "click_ts")
      .writeStream.format("memory").queryName("ss_left_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")))  // will never be clicked
      clicks.addData((99L, ts("2024-01-01 10:00:00")))  // advance click watermark
      q.processAllAvailable()
      assert(spark.table("ss_left_out").isEmpty,
        "unmatched row must NOT emit while its window can still match")
      // advance BOTH watermarks far past imp 1's attribution window
      imps.addData((2L, ts("2024-01-01 13:00:00")))
      clicks.addData((98L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      imps.addData((3L, ts("2024-01-01 14:00:00")))
      clicks.addData((97L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      val got = spark.table("ss_left_out").collect()
      assert(got.exists(r => r.getLong(0) == 1L && r.isNullAt(2)),
        s"imp 1 must emit with a NULL click side after state eviction: ${got.toSeq}")
    } finally q.stop()
  }

  test("T7: restart from checkpoint resumes offsets exactly-once (no re-emission)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    Seq("""{"id":1,"title":"A"}""").toDF("value").coalesce(1).write.text(s"$dir/in")
    def startQuery() = spark.readStream
      .schema("id LONG, title STRING").json(s"$dir/in")
      .writeStream.format("json")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.json(s"$dir/out").count()
    assert(afterFirst === 1)
    // new file lands while the query is DOWN; restart must pick up ONLY it
    Seq("""{"id":2,"title":"B"}""").toDF("value").coalesce(1)
      .write.mode("append").text(s"$dir/in")
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.json(s"$dir/out")
    assert(out.count() === 2, "restart must neither drop nor re-emit")
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("T7b: raw-sink pipeline survives a crash-and-restart exactly-once (injected failed commit)") {
    // The end-to-end exactly-once CLAIM of the raw pipeline (SURVEY §3.3),
    // failure-tested: kill the query, then forge the classic crash state —
    // offsets log AHEAD of commits log (Spark writes offsets/N before a
    // batch and commits/N after; a crash in between leaves exactly this).
    // On restart Spark MUST re-run the uncommitted batch from its logged
    // offsets, and the file sink's _spark_metadata transaction log must
    // swallow the re-run's output — no duplicates, no losses.
    val dir = java.nio.file.Files.createTempDirectory("graft_eo").toString
    def addFile(i: Int): Unit =
      Seq(s"""{"id":$i,"title":"T$i"}""").toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/in")
    def start() = StreamOps.rawSink(
      spark.readStream.schema("id LONG, title STRING")
        .option("maxFilesPerTrigger", 1).json(s"$dir/in"),
      s"$dir/data", s"$dir/chk", triggerInterval = "0 seconds").start()
    addFile(1); addFile(2)
    val q1 = start()
    q1.processAllAvailable(); q1.stop() // kill #1
    val commits = new java.io.File(s"$dir/chk/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2, "maxFilesPerTrigger=1 must give one batch per file")
    // drop the local-FS checksum sibling too, or the re-written commit's
    // rename collides with the stale .crc and Spark misreads the conflict
    // as a concurrent query on the same checkpoint
    val crc = new java.io.File(s"$dir/chk/commits/.${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete(), "failed to inject the crashed-commit state")
    addFile(3) // lands while the pipeline is down
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    // spark.read on a streaming-sink dir resolves through _spark_metadata:
    // only committed files count — exactly the reader-facing guarantee.
    val ids = spark.read.json(s"$dir/data")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L),
      "crash-restart must re-run the uncommitted batch without duplicating it")
  }

  test("transformWithState keeps per-key running totals across micro-batches (RocksDB)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Double)](spark)
      val q = StreamOps.runningTotals(in.toDS).writeStream
        .format("memory").queryName("tws_out").outputMode("update").start()
      try {
        in.addData((1L, 2.0), (1L, 3.0), (2L, 5.0))
        q.processAllAvailable()
        in.addData((1L, 5.0))  // state must carry n=2, total=5.0 into batch 2
        q.processAllAvailable()
        val rows = spark.table("tws_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(rows.contains((1L, 2L, 5.0)) && rows.contains((2L, 1L, 5.0)),
          s"batch-1 updates missing: ${rows.toSeq}")
        assert(rows.contains((1L, 3L, 10.0)),
          s"batch-2 must accumulate onto batch-1 state: ${rows.toSeq}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("T6: stateful sessionization groups events by inactivity gap") {
    val in = MemoryStream[(Long, Long)](spark)
    val sessions = StreamOps.sessionize(in.toDS(), gapUs = 1800000000L)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("update").start()
    try {
      // user 7: two events 10 min apart (one session), then a 2h gap (new session)
      in.addData((7L, 0L), (7L, 600000000L))
      q.processAllAvailable()
      in.addData((7L, 7800000000L))
      q.processAllAvailable()
      val out = spark.table("sess_out").collect()
      val last = out.last
      assert(last.getLong(1) === 1L, "post-gap event starts a fresh session")
      assert(out.head.getLong(1) === 2L, "first two events share a session")
    } finally q.stop()
  }

  test("T5b: dropDuplicatesWithinWatermark drops a redelivery with a SHIFTED event time") {
    val in = MemoryStream[(Long, Timestamp, String)](spark)
    val deduped = StreamOps.dedupStreamWithinWatermark(
      in.toDF.toDF("id", "ts", "title"), "id", "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_wm_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), "A"))
      q.processAllAvailable()
      // same id redelivered with a DIFFERENT event time (plain
      // dropDuplicates on (id) state evicted at watermark would also drop
      // it, but dropDuplicatesWithinWatermark guarantees it inside the delay)
      in.addData((1L, ts("2024-01-01 10:20:00"), "A"))
      in.addData((2L, ts("2024-01-01 10:30:00"), "B"))
      q.processAllAvailable()
      val got = spark.table("dedup_wm_out").select("id").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 2L), "shifted-time redelivery must be dropped")
    } finally q.stop()
  }

  test("stream-static enrich joins each micro-batch against a broadcast dimension") {
    val in = MemoryStream[(Long, String)](spark)
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    val enriched = StreamOps.enrichWithDim(
      in.toDF.toDF("id", "title"), dim, "id")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "A"), (3L, "C"))
      q.processAllAvailable()
      val got = spark.table("enrich_out").orderBy("id")
        .select("id", "name").collect()
      assert(got.map(r => (r.getLong(0), r.isNullAt(1))).toSeq ===
        Seq((1L, false), (3L, true)), "known key enriched, unknown key kept (left)")
    } finally q.stop()
  }

  test("T7c: table-format sink is exactly-once through a crash-and-restart (idempotent txn commit)") {
    // The round-5 forged-offsets pattern, pointed at the TABLE path: kill
    // the query, delete the last Spark commits/N entry (offsets ahead of
    // commits = the classic crash window), restart. Spark replays the
    // uncommitted batch WITH THE SAME batchId; the manifest's (appId,
    // batchId) txn marker must make the replay a no-op — no duplicates
    // through the table, and the stream's exactly-once now lives in the
    // table's OWN log (every micro-batch is a time-travelable version),
    // not the file-sink _spark_metadata sidecar.
    val dir = java.nio.file.Files.createTempDirectory("graft_eot").toString
    def addFile(i: Int): Unit =
      Seq(s"""{"id":$i,"title":"T$i"}""").toDF("value").coalesce(1)
        .write.mode("append").text(s"$dir/in")
    def start() = graft.streaming.StreamOps.tableSink(
      spark.readStream.schema("id LONG, title STRING")
        .option("maxFilesPerTrigger", 1).json(s"$dir/in"),
      s"$dir/tbl", s"$dir/chk").start()
    addFile(1); addFile(2)
    val q1 = start()
    q1.processAllAvailable(); q1.stop() // kill #1
    val t = graft.table.GraftTable.forPath(spark, s"$dir/tbl")
    val vAfterFirst = t.latestVersion
    assert(t.read().count() === 2)
    // forge the crash state: table committed batch 1, Spark's commit log lost it
    val commits = new java.io.File(s"$dir/chk/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2)
    val crc = new java.io.File(s"$dir/chk/commits/.${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete(), "failed to inject the crashed-commit state")
    addFile(3) // lands while the pipeline is down
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    // replayed batch no-opped; only the new batch committed one version
    val ids = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L),
      "replayed micro-batch must not duplicate rows through the table")
    assert(t.latestVersion === vAfterFirst + 1,
      "the replayed batch must not create a version")
    // the txn markers record the batch history: one version per batch id
    val txns = t.versions.flatMap(v => t.commitAt(v).txn)
    assert(txns.map(_._2) === Seq(0L, 1L, 2L))
    assert(txns.map(_._1).distinct.size === 1)
    // streaming commits time-travel like any other version
    assert(t.read(vAfterFirst).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
    assert(t.lastCommittedBatch(s"$dir/chk") === Some(2L))
  }

  test("graft streaming source: version-offset micro-batches, checkpoint restart, rewrite guard") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    def start() = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    // backlog: version 1 arrives as the first micro-batch
    val q1 = start()
    q1.processAllAvailable()
    assert(spark.read.parquet(s"$dir/out").count() === 2)
    // appends while running: each commit is one more micro-batch
    t.append(Seq((3L, "c")).toDF("id", "s"))
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$dir/out").count() === 3)
    // restart from the checkpoint: only versions after the offset flow
    t.append(Seq((4L, "d")).toDF("id", "s"))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 4, "restart must neither drop nor re-emit")
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // a rewrite inside the unread range fails loudly (no silent re-emit)
    t.upsertKeepLatest(Seq((1L, "z")).toDF("id", "s"), Seq("id"),
      Seq(col("s").desc))
    val q3 = start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    q3.stop()
    assert(err.getMessage.contains("rewrite") ||
      Option(err.getCause).exists(_.getMessage.contains("rewrite")),
      s"expected the rewrite guard, got: ${err.getMessage}")
  }

  test("graft streaming source: columnar hand-off serves every column shape " +
      "bit-identically to the batch read, and only DV-free batches are eligible") {
    // round-16: clean append batches flow as ColumnarBatches (zero per-row
    // materialization); the INT96 timestamp and the float array are the
    // shapes that silently knocked the old reader back to the Group path.
    val dir = java.nio.file.Files.createTempDirectory("graft_colsrc").toString
    val root = s"$dir/tbl"
    val rows = (1L to 5000L).map(i =>
      (i, s"s$i", i * 1.5, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${i % 60}"),
        Seq(i.toFloat, (i + 1).toFloat)))
    val df = rows.toDF("id", "s", "d", "ts", "vec")
    val t = graft.table.GraftTable.create(spark, root, df.limit(2500))
    t.append(df.filter($"id" > 2500))
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .orderBy("id").collect().toSeq
    val batch = spark.read.format("graft").load(root)
      .select("id", "s", "d", "ts", "vec")
      .orderBy("id").collect().toSeq
    assert(streamed.size === 5000)
    assert(streamed === batch,
      "columnar-streamed rows must equal the batch read exactly")
    // the planner's per-batch choice, from the cached file footers
    import org.apache.spark.sql.types._
    import graft.table.{GraftFilePartition, GraftMicroBatchStream}
    val required = df.schema
    val parts = t.commitAt(t.latestVersion).files.map(f =>
      GraftFilePartition(s"$root/${f.path}", required.json, Map.empty))
    assert(parts.size >= 2, "both appends' files")
    assert(GraftMicroBatchStream.columnarEligible(parts, required),
      "a clean append batch must read columnar")
    assert(!GraftMicroBatchStream.columnarEligible(
      parts.head.copy(dvAbsPath = Some("/dv")) +: parts.tail, required),
      "a batch with a deletion-vector file must read rows")
    assert(!GraftMicroBatchStream.columnarEligible(parts,
      new StructType().add("added_later", LongType)),
      "a batch with a file storing no requested column must read rows")
    assert(!GraftMicroBatchStream.columnarEligible(parts, StructType(
      required.fields.map(f =>
        if (f.name == "vec") f.copy(dataType = ArrayType(DoubleType)) else f))),
      "a batch with a column the columnar reader cannot widen must read rows")
  }

  test("graft streaming source: skipChangeCommits survives a mid-stream " +
      "rewrite and a DV delete, delivering exactly the appended rows") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_skip").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    def start() = spark.readStream.format("graft")
      .option("skipChangeCommits", "true").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$dir/out").count() === 2)
    // mid-stream: a merge REWRITE, a DV DELETE, and a genuine append
    t.upsertKeepLatest(Seq((1L, "z")).toDF("id", "s"), Seq("id"),
      Seq(col("s").desc))
    t.deleteWhere(col("id") === 2L, dvMode = "force")
    t.append(Seq((5L, "e"), (6L, "f")).toDF("id", "s"))
    val q2 = start()
    q2.processAllAvailable(); q2.stop() // would throw without the option
    val got = spark.read.parquet(s"$dir/out").select("id").as[Long]
      .collect().sorted.toSeq
    // the merge's rewritten files and the DV'd base rows are skipped;
    // the appended rows arrive exactly once. The merge rewrite re-adds
    // its touched rows under NEW paths — those count as appends under
    // skipChangeCommits (same as Delta: only REMOVED identity is skipped)
    assert(got.count(_ == 5L) == 1 && got.count(_ == 6L) == 1,
      s"appended rows must arrive exactly once, got $got")
    assert(got.count(_ == 1L) <= 2, s"no unbounded re-emission: $got")
  }

  test("graft streaming source: array columns stream (embeddings batch parity)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_arr").toString
    val root = s"$dir/tbl"
    // the embeddings shape: id + array<float> (+ a null vector row)
    val emb = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label")).limit(50)
    val withNull = emb.unionByName(
      emb.limit(1).select(col("vec_id") + 1000000L as "vec_id",
        org.apache.spark.sql.functions.lit(null)
          .cast("array<float>").as("embedding"), col("label")))
    val t = graft.table.GraftTable.create(spark, root, withNull)
    t.append(withNull.withColumn("vec_id", col("vec_id") + 5000000L))
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$dir/out")
    val expect = t.read()
    assert(got.count() === expect.count())
    // cell-exact parity, floats included: anti-joins empty both ways
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streamed array rows must equal the batch read bit-for-bit")
    assert(got.filter(col("embedding").isNull).count() === 2)
  }

  test("graft streaming source: partitioned table streams, null partition reads as NULL") {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_psrc").toString
    val root = s"$dir/tbl"
    // Hive-partitioned table with a NULL partition value: the batch path
    // reconstructs __HIVE_DEFAULT_PARTITION__ as NULL; the stream must too
    // (it previously threw at read time)
    val df = spark.range(40).toDF("id")
      .withColumn("dd", expr("CASE WHEN id % 4 = 3 THEN NULL ELSE CAST(id % 4 AS INT) END"))
      .withColumn("v", (col("id") * 2).cast("long"))
    val t = graft.table.GraftTable.createPartitioned(spark, root, df, Seq("dd"))
    t.appendPartitioned(
      spark.range(40, 50).toDF("id").withColumn("dd", lit(1))
        .withColumn("v", lit(0L)), Seq("dd"))
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$dir/out")
    val expect = t.read()
    assert(got.count() === 50)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streamed partitioned rows must equal the batch read (nulls included)")
    assert(got.filter(col("dd").isNull).count() === 10)
  }

  test("graft streaming source: maxVersionsPerTrigger bounds each micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_adm").toString
    val t = graft.table.GraftTable.create(spark, s"$dir/tbl",
      spark.range(0, 10).toDF("id"))
    (1 to 5).foreach(i => t.append(spark.range(i * 10L, i * 10L + 10).toDF("id")))
    assert(t.latestVersion === 6)
    // 6 versions of backlog, cap 2 per trigger: AvailableNow must drain in
    // ceil(6/2)=3 bounded micro-batches (not one giant catch-up batch)
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", 2).load(s"$dir/tbl")
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination(60000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 3, s"expected 3 capped batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows === 20))
    assert(spark.read.parquet(s"$dir/out").count() === 60)
  }

  test("graft streaming CDF: readChangeFeed delivers per-commit row changes; " +
      "maintenance emits nothing; rewrites become pre/post-image pairs") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))     // v1: insert 1,2
    t.append(Seq((3L, "c")).toDF("id", "s"))          // v2: insert 3
    t.deleteWhere(col("id") === 2L, dvMode = "force") // v3: DV swap → delete (2,b)
    t.mergeUpsert(Seq((1L, "z"), (7L, "g")).toDF("id", "s"),
      Seq("id"), dvMode = "force")                    // v4: swap-delta delete (1,a) + insert (1,z),(7,g)
    t.compact(1000)                                   // v5: content-preserving → NOTHING
    t.append(Seq((9L, "i")).toDF("id", "s"))          // v6: insert 9
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$dir/out")
      .select("id", "s", "_change_type").as[(Long, String, String)]
      .collect().sorted.toSeq
    val want = Seq(
      (1L, "a", "delete"), (1L, "a", "insert"), (1L, "z", "insert"),
      (2L, "b", "delete"), (2L, "b", "insert"), (3L, "c", "insert"),
      (7L, "g", "insert"), (9L, "i", "insert")).sorted
    assert(got == want, s"change feed diverged: $got")
    // folding the feed by key reproduces the live snapshot (CDF identity)
    val m = scala.collection.mutable.Map.empty[(Long, String), Int].withDefaultValue(0)
    got.foreach { case (id, s, ct) =>
      m((id, s)) += (if (ct == "insert") 1 else -1)
    }
    val folded = m.collect { case (row, n) if n > 0 => row }.toSeq.sorted
    assert(folded == t.read().as[(Long, String)].collect().sorted.toSeq)
    // contradictory options refused
    intercept[Exception] {
      spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", "true").load(root)
    }
    // batch spelling refused with a pointer to changesFrom
    intercept[Exception] {
      spark.read.format("graft")
        .option("readChangeFeed", "true").load(root).collect()
    }
  }

  test("graft streaming CDF: a change feed without deletion vectors reads " +
      "columnar and delivers the copy-on-write pre/post images") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf_col").toString
    val root = s"$dir/tbl"
    // one file holding ids 1 and 2, so the merge rewrites both
    val t = graft.table.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    t.mergeUpsert(Seq((1L, "z"), (7L, "g")).toDF("id", "s"),
      Seq("id"), dvMode = "off")                      // copy-on-write rewrite
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val plan = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    assert(plan.collect {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
    }.nonEmpty, s"DV-free change feed must read columnar:\n$plan")
    val got = spark.read.parquet(s"$dir/out")
      .select("id", "s", "_change_type").as[(Long, String, String)]
      .collect().sorted.toSeq
    val want = Seq(
      (1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert"),
      (1L, "a", "delete"), (2L, "b", "delete"),
      (1L, "z", "insert"), (2L, "b", "insert"), (7L, "g", "insert")).sorted
    assert(got == want, s"change feed diverged: $got")
  }

  test("graft streaming CDF: a restore that shrinks or drops a deletion " +
      "vector emits RESURRECTED rows as inserts, never a spurious flood") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf_rsr").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")) // v1: 3 inserts
    t.deleteWhere(col("id").isin(2L, 3L), dvMode = "force") // v2: deletes (2),(3)
    t.restoreTo(1L)              // v3: DV DROPPED on a kept path → resurrect (2),(3)
    t.deleteWhere(col("id") === 2L, dvMode = "force")       // v4: delete (2)
    t.deleteWhere(col("id") === 3L, dvMode = "force")       // v5: delete (3)
    t.restoreTo(4L)              // v6: DV SHRINKS {2,3}→{2} → resurrect (3) only
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$dir/out")
      .select("id", "s", "_change_type").as[(Long, String, String)]
      .collect().sorted.toSeq
    val want = Seq(
      (1L, "a", "insert"),
      (2L, "b", "insert"), (2L, "b", "delete"), (2L, "b", "insert"),
      (2L, "b", "delete"),
      (3L, "c", "insert"), (3L, "c", "delete"), (3L, "c", "insert"),
      (3L, "c", "delete"), (3L, "c", "insert")).sorted
    assert(got == want, s"change feed diverged: $got")
    // CDF identity: folding the feed reproduces the live snapshot
    val m = scala.collection.mutable.Map.empty[(Long, String), Int].withDefaultValue(0)
    got.foreach { case (id, s, ct) =>
      m((id, s)) += (if (ct == "insert") 1 else -1)
    }
    val folded = m.collect { case (row, n) if n > 0 => row }.toSeq.sorted
    assert(folded == t.read().as[(Long, String)].collect().sorted.toSeq,
      s"fold diverged: $folded")
  }

  test("graft streaming source: startingTimestamp resolves the start " +
      "offset by the TIMESTAMP AS OF rule") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sts").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    t.append(Seq((4L, "d")).toDF("id", "s"))
    // start AT v2's instant: the stream owes only what came after v2
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", t.commitTimestamp(2L).toString).load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$dir/out").select("id").as[Long]
      .collect().sorted.toSeq == Seq(4L))
    // mixing the two start keyings surfaces at stream planning
    intercept[Exception] {
      val bad = spark.readStream.format("graft")
        .option("startingVersion", 1)
        .option("startingTimestamp", "0").load(root)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$dir/chk2").start()
      try bad.processAllAvailable() finally bad.stop()
    }
  }

  test("graft streaming source: widened columns upcast in the Group reader") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root,
      spark.range(3).selectExpr("cast(id as int) as id", "cast(id as float) as v"))
    val c = t.commitAt(1)
    // metadata-only widening commit (what ALTER COLUMN TYPE lowers to)
    t.commit(1, "widen", c.files, new StructType()
      .add("id", LongType).add("v", DoubleType))
    t.append(Seq((8000000000L, 4.5)).toDF("id", "v"))
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$dir/out").orderBy("id").collect().toSeq
    val want = t.read().orderBy("id").collect().toSeq
    assert(got == want,
      s"widened stream must equal the batch read: $got vs $want")
    assert(got.map(_.getLong(0)).contains(8000000000L))
  }

  /** Drains `stream` into a parquet dir; a failed task surfaces here as a
    * StreamingQueryException. */
  private def drainToParquet(stream: org.apache.spark.sql.DataFrame,
                             dir: String): Seq[org.apache.spark.sql.Row] = {
    val q = stream.writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$dir/out").collect().toSeq
  }

  test("graft streaming source: a stream of only a column added after the " +
      "first file reads the pre-ALTER file's rows as nulls") {
    val lake = java.nio.file.Files.createTempDirectory("graft_addcol").toString
    spark.conf.set("spark.sql.catalog.graft_ac", "graft.table.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ac.root", lake)
    try {
      spark.sql("CREATE NAMESPACE graft_ac.db")
      spark.sql("CREATE TABLE graft_ac.db.g (id BIGINT)")
      spark.sql("INSERT INTO graft_ac.db.g VALUES (1), (2)")
      spark.sql("ALTER TABLE graft_ac.db.g ADD COLUMNS (n BIGINT)")
      spark.sql("INSERT INTO graft_ac.db.g VALUES (3, 30)")
      // the stream now requests only `n`, which the first file never stored
      spark.sql("ALTER TABLE graft_ac.db.g DROP COLUMN id")
      val root = s"$lake/db/g"
      val got = drainToParquet(spark.readStream.format("graft").load(root),
        lake)
      val want = graft.table.GraftTable.forPath(spark, root).read().collect()
      assert(want.length === 3 && want.count(_.isNullAt(0)) === 2)
      assert(got.sortBy(_.toString) === want.toSeq.sortBy(_.toString))
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_ac")
      spark.conf.unset("spark.sql.catalog.graft_ac.root")
    }
  }

  test("graft streaming source: a NOT NULL column appendEvolve adds over " +
      "older files streams as null, like the batch read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve_nn").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root, Seq(1L, 2L).toDF("id"))
    // a Scala Long column is NOT NULL in the batch schema
    t.appendEvolve(Seq((3L, 30L)).toDF("id", "n"))
    // the stream requests only `n`, which the first file never stored
    val got = drainToParquet(
      spark.readStream.format("graft").load(root).select("n"), dir)
    val want = t.read().select("n").collect()
    assert(want.count(_.isNullAt(0)) === 2)
    assert(got.sortBy(_.toString) === want.toSeq.sortBy(_.toString))
  }

  test("graft streaming source: array<float> widened to array<double> " +
      "streams old and new files exactly as the batch read") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_widen_arr").toString
    val root = s"$dir/tbl"
    val t = graft.table.GraftTable.create(spark, root,
      Seq((1L, Seq(1.5f, 0.1f)), (2L, Seq(-2.25f))).toDF("id", "vec"))
    val c = t.commitAt(1)
    // metadata-only element widening: the old file keeps its float vectors
    t.commit(1, "widen", c.files, new StructType()
      .add("id", LongType, nullable = false)
      .add("vec", ArrayType(DoubleType, containsNull = false)))
    t.append(Seq((3L, Seq(0.1, 4.5))).toDF("id", "vec"))
    val got = drainToParquet(spark.readStream.format("graft").load(root), dir)
      .sortBy(_.getLong(0))
    val want = t.read().collect().toSeq.sortBy(_.getLong(0))
    assert(got === want, s"widened array stream diverged: $got vs $want")
    assert(got.head.getSeq[Double](1) === Seq(1.5, 0.1f.toDouble))
  }

  test("graft streaming source: INT96 timestamps and doubles round-trip exactly") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_src96").toString
    // LTZ timestamps write as INT96 by default — the reader must decode
    // the legacy (nanos-of-day, julian-day) layout to identical micros
    val df = Tables.events(spark, sf).limit(500)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"value")
    val t = graft.table.GraftTable.create(spark, s"$dir/tbl", df)
    val q = spark.readStream.format("graft").load(s"$dir/tbl")
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$dir/out")
      .orderBy($"event_id").collect().toSeq
    val want = t.read().orderBy($"event_id").collect().toSeq
    assert(got == want, "stream read must be byte-identical to the batch read")
  }

  test("table->table streaming pipeline is exactly-once end to end") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val src = graft.table.GraftTable.create(spark, s"$dir/src",
      spark.range(10).toDF("id"))
    src.append(spark.range(10, 20).toDF("id"))
    // source replays by version; sink dedups by (appId, batchId): the
    // composition is the exactly-once table→transform→table pipeline
    val q = graft.streaming.StreamOps.tableSink(
      spark.readStream.format("graft").load(s"$dir/src")
        .withColumn("doubled", $"id" * 2),
      s"$dir/dst", s"$dir/chk").start()
    q.processAllAvailable(); q.stop()
    val dst = graft.table.GraftTable.forPath(spark, s"$dir/dst")
    assert(dst.read().count() === 20)
    assert(dst.read().agg(sum($"doubled")).as[Long].head() === (0L until 20L).map(_ * 2).sum)
    // more source commits; a NEW query instance from the same checkpoint
    // picks up exactly the increment
    src.append(spark.range(20, 25).toDF("id"))
    val q2 = graft.streaming.StreamOps.tableSink(
      spark.readStream.format("graft").load(s"$dir/src")
        .withColumn("doubled", $"id" * 2),
      s"$dir/dst", s"$dir/chk").start()
    q2.processAllAvailable(); q2.stop()
    assert(dst.read().count() === 25)
    assert(dst.read().select($"id").as[Long].collect().sorted.toSeq ===
      (0L until 25L))
  }

  test("S11 streaming: foreachBatch upsert keeps the latest version per key across batches") {
    val in = MemoryStream[(Long, Long, String)](spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val q = StreamOps.upsertSink(
        in.toDF.toDF("k", "v", "payload"), Seq("k"), "v",
        s"$dir/tbl", s"$dir/chk")
      .start()
    try {
      in.addData((1L, 1L, "old"), (2L, 1L, "two"))
      q.processAllAvailable()
      in.addData((1L, 2L, "new")) // higher version for key 1
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/tbl").orderBy("k")
        .select("k", "payload").collect()
      assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "new"), (2L, "two")), "later version wins, untouched key survives")
    } finally q.stop()
  }

  test("T2 modern: AvailableNow drains the backlog exactly once and stops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_avail").toString
    Seq("""{"id":1}""", """{"id":2}""").toDF("value").coalesce(1)
      .write.text(s"$dir/in")
    def drain() = {
      val w = spark.readStream.schema("id LONG").json(s"$dir/in")
        .writeStream.format("json")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/chk")
        .outputMode("append")
      val q = StreamOps.drainAvailable(w).start()
      q.awaitTermination() // AvailableNow self-terminates when drained
    }
    drain()
    assert(spark.read.json(s"$dir/out").count() === 2)
    // second scheduled run: nothing new -> drains zero, re-emits nothing
    drain()
    assert(spark.read.json(s"$dir/out").count() === 2)
    // third run picks up only the newly landed file
    Seq("""{"id":3}""").toDF("value").coalesce(1)
      .write.mode("append").text(s"$dir/in")
    drain()
    assert(spark.read.json(s"$dir/out").count() === 3)
  }

  test("stream/batch parity: curate-on-ingest keeps exactly the batch quality set") {
    // The same column expression (Curation.qualityKeep) runs unchanged
    // under readStream — the reference curates AFTER landing raw data
    // (glue/job_wiki_curate.py); stream/batch unification lets the same
    // filter run ON ingest with provably identical results.
    val dir = java.nio.file.Files.createTempDirectory("graft_curate").toString
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    docs.repartition(4).write.json(s"$dir/in")
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1) // several micro-batches, not one
      .json(s"$dir/in")
      .filter(graft.llm.Curation.qualityKeep($"text"))
      .select($"doc_id")
      .writeStream.format("memory").queryName("curated_stream")
      .outputMode("append").start()
    val got =
      try { q.processAllAvailable()
        spark.table("curated_stream").collect().map(_.getLong(0)).sorted.toSeq }
      finally q.stop()
    val want = docs.filter(graft.llm.Curation.qualityKeep($"text"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want, "streamed curation diverged from the batch filter")
    assert(want.nonEmpty, "fixture must exercise the keep path")
  }

  test("stream/batch parity: hopping-window aggregation matches the batch query") {
    // The same window(ts, 6h, 3h) generator runs under readStream with a
    // watermark (hopping state evicts like tumbling) — the declared
    // `win_hopping` semantics hold on an unbounded source.
    val dir = java.nio.file.Files.createTempDirectory("graft_hop").toString
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"event_type", $"value")
    ev.repartition(4).write.parquet(s"$dir/in")
    val q = spark.readStream.schema(
        spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "6 hours", "3 hours").getField("start").as("w_start"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("hop_stream")
      .outputMode("complete").start()
    val got =
      try { q.processAllAvailable()
        spark.table("hop_stream").collect()
          .map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).sorted.toSeq }
      finally q.stop()
    val want = ev
      .groupBy(window($"ts", "6 hours", "3 hours").getField("start").as("w_start"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got === want, "streamed hopping windows diverged from batch")
    assert(want.nonEmpty)
  }
}
