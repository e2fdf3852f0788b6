package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming ingestion + stateful ops (SURVEY.md §2.9).
  *
  * The reference's ingest path (SSE → Kafka → micro-batched gzip NDJSON to
  * S3, `kafka/wiki-producer.py` + `kafka/wiki-s3-consumer.py`, ~150 lines of
  * hand-rolled loop) collapses into ONE declarative streaming query here —
  * and checkpointing upgrades its at-least-once delivery to exactly-once
  * (SURVEY.md §3.3). No Kafka connector jar ships in this environment, so
  * sources are file/MemoryStream-based; swapping `format("kafka")` in is a
  * config change, not a redesign (S1-S3 mapping in SURVEY.md §2.1).
  *
  * Scale notes (100 TB/day ingest): the raw sink partitions by arrival date
  * (`ds`) exactly like the consumer's `raw/ds=YYYY-MM-DD/` layout
  * (`kafka/wiki-s3-consumer.py:48-50`); trigger interval plays the
  * consumer's FLUSH_SECS role and `maxFilesPerTrigger` its BATCH_SIZE role
  * (T1). Watermark + dropDuplicates keeps dedup state bounded: state is
  * evicted once the watermark passes (T4/T5).
  */
/** A user session aggregate produced by [[StreamOps.sessionize]]. */
case class SessionOut(userId: Long, nEvents: Long, startUs: Long, endUs: Long)

/** Output row of [[StreamOps.runningTotals]]. */
case class RunningTotal(userId: Long, n: Long, total: Double)

/** Per-key running aggregate via the Spark 4 `transformWithState` API — the
  * modern replacement for mapGroupsWithState: typed composite state
  * (ValueState/ListState/MapState), TTL, timers, and a RocksDB-backed
  * store with changelog checkpointing. State here is one (count, sum) pair
  * per key, updated incrementally per micro-batch — O(keys) state, O(batch)
  * work, the shape that holds at any ingest rate. */
class RunningTotalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), RunningTotal] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var st: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Double)](
      "agg", Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[RunningTotal] = {
    var (n, s) = Option(st.get()).getOrElse((0L, 0.0))
    rows.foreach { r => n += 1; s += r._2 }
    st.update((n, s))
    Iterator.single(RunningTotal(key, n, s))
  }
}

/** Internal per-user state for [[StreamOps.sessionize]]. Top level: Spark's
  * state encoder codegen requires a static constructor path. */
case class SessionState(n: Long, startUs: Long, lastUs: Long)

object StreamOps {

  /** S4/T1 — the raw zone sink: micro-batched gzip NDJSON, date-partitioned
    * by ARRIVAL date (processing time), 10 s trigger — the consumer's
    * semantics (`kafka/wiki-s3-consumer.py:22-23,43-53`) with exactly-once
    * checkpointing instead of at-least-once. */
  def rawSink(events: DataFrame, path: String, checkpoint: String,
              triggerInterval: String = "10 seconds"): DataStreamWriter[Row] =
    events
      .withColumn("ds", date_format(current_timestamp(), "yyyy-MM-dd"))
      .writeStream
      .format("json")
      .option("compression", "gzip")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("ds")
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .outputMode(OutputMode.Append)

  /** T1/S13 — EXACTLY-ONCE sink into the versioned table format: each
    * micro-batch commits as one [[graft.table.GraftTable]] version via
    * [[graft.table.GraftTable.idempotentAppend]], carrying (appId,
    * batchId) in the manifest. A crash between Spark's offsets and
    * commits logs replays the batch WITH THE SAME ID on restart, and the
    * txn marker makes the replay a no-op — exactly-once lands in the
    * table's own transaction log instead of the file sink's
    * `_spark_metadata` sidecar, so streaming output time-travels,
    * merges, and CDF-reads like any batch commit (one log, not two —
    * the Delta streaming-sink protocol). `appId` defaults to the
    * checkpoint path: stable across restarts of the same pipeline,
    * distinct across pipelines sharing a table. First batch creates the
    * table. Per-batch cost is O(batch): one append commit, no
    * read-merge. */
  def tableSink(events: DataFrame, tableRoot: String, checkpoint: String,
                appId: Option[String] = None): DataStreamWriter[Row] = {
    val app = appId.getOrElse(checkpoint)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val t =
          if (graft.table.GraftTable.isTable(tableRoot))
            graft.table.GraftTable.forPath(spark, tableRoot)
          else
            graft.table.GraftTable.createEmpty(spark, tableRoot, batch.schema)
        t.idempotentAppend(batch, app, batchId): Unit
      }
  }

  /** T5 — at-least-once dedup: duplicates within the watermark horizon are
    * dropped, state beyond it evicted. */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicates(Seq(idCol))

  /** T2/T4 — event-time tumbling daily aggregate with late-data handling:
    * the streaming twin of the reference's daily 01:00 batch re-aggregation
    * (`dag/wiki_pipeline_dag.py:63`); rows later than the watermark are
    * dropped instead of recomputed. */
  def dailyCounts(events: DataFrame, tsCol: String, keyCol: String,
                  watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day"), col(keyCol))
      .agg(count(lit(1)).as("edits"))
      .select(col("window.start").as("day"), col(keyCol), col("edits"))

  /** Streaming twin of the batch `ts_resample` operator: fixed-interval
    * downsampling (count + mean of a value column per bucket×key) as a
    * watermarked windowed aggregate. The batch and streaming forms share
    * the same `window()` bucket assignment, so a backfill computed in
    * batch and a live stream produce identical buckets — the
    * lambda-architecture unification the lakehouse design promises. */
  def resample(events: DataFrame, tsCol: String, keyCol: String,
               valueCol: String, width: String,
               watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col(keyCol))
      .agg(count(lit(1)).as("n"), avg(col(valueCol)).as("avg_value"))
      .select(col("window.start").as("bucket"), col(keyCol),
        col("n"), col("avg_value"))

  /** T5b — late-duplicate dedup: unlike [[dedupStream]] (which keeps first-
    * seen state only until the watermark passes the EVENT's time),
    * `dropDuplicatesWithinWatermark` drops a redelivery whose event time
    * differs from the original's, as long as it arrives within the
    * watermark delay — the semantics matching Kafka redelivery where the
    * broker re-stamps nothing but arrival order shifts. State stays
    * bounded by the same watermark eviction. */
  def dedupStreamWithinWatermark(events: DataFrame, idCol: String,
      tsCol: String, watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Curate-path enrichment — stream⋈static broadcast join: each micro-
    * batch of events joins a (small) static dimension read once at plan
    * time. The static side broadcasts, so the stream side never shuffles —
    * per-batch cost is O(batch), independent of history. This is how the
    * reference's curated zone would gain dimension attributes without a
    * second pipeline. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left_outer")

  /** S11 streaming form — idempotent keep-latest upsert via foreachBatch:
    * every micro-batch merges into the target parquet dir with
    * last-writer-wins semantics on the key (the Postgres
    * `ON CONFLICT DO UPDATE` of `upsert_athena_aggregates.py:95-109`,
    * without a Delta/JDBC dependency). The read-merge-overwrite runs per
    * batch over the AGGREGATE table — small by construction — not the fact
    * stream; `graft.upsert.KeepLatest` supplies the merge. */
  def upsertSink(events: DataFrame, keyCols: Seq[String], versionCol: String,
      targetDir: String, checkpoint: String): DataStreamWriter[Row] =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // Only a target with NO COMMITTED DATA means "first batch" — that
        // covers both a missing dir and a dir left behind by a crashed
        // first write (only _temporary/_SUCCESS markers, no part files),
        // which would otherwise wedge every restart on a schema-inference
        // error. Any OTHER read failure must fail the batch (so the
        // checkpoint retries it) — swallowing it would fall through to
        // mode("overwrite") and replace the whole table with just this
        // micro-batch, destroying merged state.
        val tPath = new org.apache.hadoop.fs.Path(targetDir)
        val fs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasData = fs.exists(tPath) && fs.listStatus(tPath).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        val existing =
          if (hasData) Some(spark.read.parquet(targetDir)) else None
        val merged = existing match {
          case Some(old) => graft.upsert.KeepLatest.keepLatest(
            old.unionByName(batch), keyCols, Seq(col(versionCol).desc))
          case None => batch
        }
        // stage BEFORE the overwrite: the merge reads the same files the
        // overwrite deletes (same pattern as KeepLatest.upsertPartitions)
        graft.rel.Materialize.snapshot(merged)
          .write.mode("overwrite").parquet(targetDir)
      }

  /** Stream-STREAM inner join with event-time bounds: both sides watermark,
    * and the join predicate must bound each side's event time relative to
    * the other (`joinExpr` carries the key equality AND the time window) —
    * that bound is what lets Spark evict matched/expired state, keeping the
    * join's state store finite at any ingest rate. Without it both sides'
    * state grows without limit (Spark will still run it, unbounded). This
    * is the ad-impression⋈click shape: each click joins impressions within
    * the attribution window. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, joinExpr: String,
      leftTs: String, rightTs: String,
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark), expr(joinExpr), joinType)

  /** T2 modern form — drain-the-backlog trigger: process everything
    * available (in rate-limited micro-batches) then STOP. This is the
    * reference's daily-at-01:00 Airflow batch (`dag/wiki_pipeline_dag.py:63`)
    * expressed as a restartable streaming query: each scheduled run resumes
    * from the checkpoint, drains new files, exits — incremental processing
    * with exactly-once accounting and no always-on cluster. */
  def drainAvailable(writer: DataStreamWriter[Row]): DataStreamWriter[Row] =
    writer.trigger(Trigger.AvailableNow())

  /** T6 modern form — per-user running totals via `transformWithState`
    * ([[RunningTotalProcessor]]); requires the RocksDB state store
    * provider. Emits the updated (count, sum) per key per micro-batch. */
  def runningTotals(events: Dataset[(Long, Double)])
      : Dataset[RunningTotal] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_._1)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update)
  }

  /** T6 — stateful gap-based sessionization via mapGroupsWithState: emits a
    * user's CURRENT session aggregate per batch; state times out (and would
    * close the session) after the gap. The batch-expressible twin is
    * `win_session` (lag + cumulative sum). */
  def sessionize(events: Dataset[(Long, Long)], gapUs: Long = 1800000000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(0L, sorted.head, sorted.head - gapUs - 1))
          sorted.foreach { us =>
            st = if (us - st.lastUs > gapUs) SessionState(1L, us, us)
                 else SessionState(st.n + 1, st.startUs, us)
          }
          state.update(st)
          SessionOut(userId, st.n, st.startUs, st.lastUs)
      }
  }
}
