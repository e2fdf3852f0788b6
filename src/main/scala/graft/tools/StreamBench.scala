package graft.tools

import graft.Tables
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming THROUGHPUT probe (SCALE.md streaming row): drives the two
  * stateful streaming paths over a replica-scale events set as a
  * file-source stream — micro-batches of real parquet files, the same
  * source shape the library's ingest uses — and reports rows/sec plus
  * state-store size from the engine's own progress metrics.
  *
  *  - `running_totals`: `transformWithState` (RocksDB state store) per-user
  *    (count, sum) — unbounded keyed state, the hardest state shape.
  *  - `session_window`: watermarked `session_window` aggregation — the
  *    streaming twin of `win_session`, with state bounded by the watermark.
  *
  * Usage: runMain graft.tools.StreamBench [srcDir] [filesPerTrigger] [probes]
  *   (default /tmp/scale10x — the 10× replica set, 1M events; `probes` is
  *   a comma list filtering which probes run — needed because the
  *   stream-stream join is QUADRATIC in the hot key at a Zipf corpus:
  *   the 30-minute window pairs the 13%-hot user's rows against its own
  *   10% click slice, so that probe only makes sense on uniform sets)
  *
  * Methodology: the events table is staged once into 32 parquet files;
  * `Trigger.AvailableNow` + `maxFilesPerTrigger` processes them as a
  * bounded sequence of micro-batches (8 batches at the default 4), so the
  * measured wall includes per-batch planning/commit overhead — streaming
  * throughput, not batch throughput. Sink is `noop`: no write cost in the
  * measurement.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/scale10x")
    val perTrigger = if (args.length > 1) args(1).toInt else 4
    val probes: Set[String] =
      if (args.length > 2) args(2).split(',').toSet
      else Set("running_totals", "session_window", "stream_stream_join", "table_sink")
    val spark = Harness.session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("streambench").toString
    val stageDir = s"$work/in"
    // watermarks require TIMESTAMP (with zone); the fixture's NTZ maps 1:1
    // under the session's UTC zone
    val ev = Tables.events(spark, src)
      .select($"user_id", $"value", $"ts".cast("timestamp").as("ts"))
    ev.repartition(32).write.parquet(stageDir)
    val nRows = spark.read.parquet(stageDir).count()
    val schema = spark.read.parquet(stageDir).schema

    def run(name: String)(start: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      if (!probes.contains(name)) return
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger).parquet(stageDir)
      val t0 = System.nanoTime()
      val q = start(stream)
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress
      val state = progress.reverseIterator
        .flatMap(_.stateOperators.headOption).find(_ => true)
      val stateRows = state.map(_.numRowsTotal).getOrElse(-1L)
      val stateBytes = state.map(_.memoryUsedBytes).getOrElse(-1L)
      val outRows = progress.map(_.sink.numOutputRows).filter(_ > 0).sum
      println(f"""{"probe":"$name","rows":$nRows,"sec":$sec%.2f,""" +
        f""""rows_per_sec":${(nRows / sec).toLong},"batches":${progress.length},""" +
        f""""out_rows":$outRows,""" +
        f""""state_rows":$stateRows,"state_bytes":$stateBytes}""")
    }

    run("running_totals") { stream =>
      StreamOps.runningTotals(
          stream.select($"user_id".as[Long], $"value".as[Double]))
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", s"$work/ckpt_rt")
        .trigger(Trigger.AvailableNow()).start()
    }
    run("session_window") { stream =>
      stream.withWatermark("ts", "1 hour")
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$work/ckpt_sw")
        .trigger(Trigger.AvailableNow()).start()
    }
    // Watermark-bounded stream-stream INNER join (StreamOps.streamStreamJoin
    // — the ad-impression⋈click attribution shape): left = the full event
    // stream, right = a deterministic 10% key slice standing in for the
    // sparse "click" stream, joined on user within a 30-minute event-time
    // window. The time bound + 1 h watermark is what lets the symmetric
    // hash join EVICT matched/expired rows, so reported state is the
    // in-flight window, not the corpus (both sides share one state
    // operator; rows/bytes below are the two sides combined).
    run("stream_stream_join") { stream =>
      val clicks = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger).parquet(stageDir)
        .filter($"user_id" % 10 === 0)
        .select($"user_id".as("r_user"), $"ts".as("r_ts"))
      StreamOps.streamStreamJoin(
          stream.select($"user_id", $"ts"), clicks,
          "user_id = r_user AND r_ts >= ts AND r_ts <= ts + interval 30 minutes",
          "ts", "r_ts")
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$work/ckpt_ssj")
        .trigger(Trigger.AvailableNow()).start()
    }
    // Exactly-once TABLE-FORMAT sink (StreamOps.tableSink): every
    // micro-batch is one idempotent GraftTable commit — this probe
    // measures the transactional write path end-to-end (data write +
    // footer stats + manifest commit per batch), the cost a stream pays
    // for replay-idempotence + time travel over the file sink's
    // _spark_metadata. Out rows come from the table itself afterwards.
    run("table_sink") { stream =>
      StreamOps.tableSink(stream, s"$work/tbl", s"$work/ckpt_tbl")
        .trigger(Trigger.AvailableNow()).start()
    }
    if (probes.contains("table_sink")) {
      val t = graft.table.GraftTable.forPath(spark, s"$work/tbl")
      println(f"""{"probe":"table_sink_result","versions":${t.versions.length},""" +
        f""""rows_committed":${t.read().count()},""" +
        f""""last_batch":${t.lastCommittedBatch(s"$work/ckpt_tbl").getOrElse(-1L)}}""")
    }
    // graft streaming SOURCE throughput: stream a versioned table out by
    // version-offsets (8 appended versions = 8 micro-batches) through the
    // columnar per-file reader (every batch is append-only, so the planner
    // stamps each one columnar). The `batch_scan` probe below reads the
    // SAME table through the batch path — backlog-replay parity is the
    // ratio.
    if (probes.contains("table_source")) {
      val root = s"$work/srctbl"
      val parts = spark.read.parquet(stageDir)
      val t = graft.table.GraftTable.create(spark, root,
        parts.where("spark_partition_id() % 8 = 0"))
      (1 until 8).foreach(i =>
        t.append(parts.where(s"spark_partition_id() % 8 = $i")))
      def drain(tag: String): Unit = {
        val t0 = System.nanoTime()
        val q = spark.readStream.format("graft").load(root)
          .writeStream.format("noop")
          .option("checkpointLocation", s"$work/ckpt_src_$tag")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"probe":"table_source_$tag","rows":$nRows,"sec":$sec%.2f,""" +
          f""""rows_per_sec":${(nRows / sec).toLong},""" +
          f""""batches":${q.recentProgress.length},"versions":${t.versions.length}}""")
      }
      // untimed warm drain: the FIRST streaming query in a session absorbs
      // one-time planner/codegen/offset-log init, which biased whichever
      // tagged drain ran first (Bench.scala's warmup lesson applied here)
      drain("warmup_untimed")
      drain("columnar")
      // batch-path control over the SAME table: the parity denominator —
      // decodes every column (sum/min force the reads) without per-row
      // string building, min-of-3 against co-tenant noise
      val bSec = (1 to 3).map { _ =>
        val b0 = System.nanoTime()
        spark.read.format("graft").load(root)
          .agg(sum(col("user_id")), sum(col("value")), min(col("ts")))
          .collect()
        (System.nanoTime() - b0) / 1e9
      }.min
      println(f"""{"probe":"batch_scan_control","rows":$nRows,"sec":$bSec%.2f,""" +
        f""""rows_per_sec":${(nRows / bSec).toLong}}""")
    }
    spark.stop()
  }
}
