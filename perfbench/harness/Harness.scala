package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. Runs one workload against the compiled
  * library in this process, as one closed-loop client, and writes every
  * raw measurement as JSON lines to `out=`; `run.py` turns them into
  * metrics and checks the outputs it left under `run=`.
  *
  * Args (k=v): workload, data, run, out, seed, trace, nproc, and per
  * workload `keys`/`passes` (dashboard) or `warm`/`batches`/`cycle`
  * (ingest).
  *
  * Timing is always on: one record per operation (a query execution or a
  * pipeline batch) and per cycle (a pass over the keys, or `cycle`
  * batches). With trace=1 the harness also records a span around every
  * call it makes into a layer, and registers Spark's public listeners
  * (SparkListener, QueryExecutionListener, StreamingQueryListener) plus
  * the CodegenMetrics counters; `run.py` attributes their events to spans
  * by time.
  */
object Harness {

  // ------------------------------------------------------------ output

  private var out: PrintWriter = _

  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case o => js(o.toString)
  }

  private def emit(kind: String, fields: (String, Any)*): Unit = out.synchronized {
    out.println(js(mutable.LinkedHashMap(("kind" -> kind) +: fields: _*)))
  }

  // ------------------------------------------------------------ tracing

  /** Spans stay in memory and are written when the run ends. */
  private final case class Span(id: Int, parent: Int, op: Int, name: String,
                                start: Long, var end: Long = -1L)
  private val spans = ArrayBuffer.empty[Span]
  private var tracing = false
  private var curSpan = 0
  private var curOp = 0

  /** Run `f` inside a span when tracing; a plain call otherwise. */
  private def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val s = Span(spans.size + 1, curSpan, curOp, name, System.nanoTime())
      spans += s
      val saved = curSpan
      curSpan = s.id
      try f finally { s.end = System.nanoTime(); curSpan = saved }
    }

  /** Wall-clock (ms) to nanoTime domain, for listener timestamps. */
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNano(ms: Long): Long = ms * 1000000L - nanoOffset

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      emit("job", "job" -> e.jobId, "start" -> msToNano(e.time),
        "stages" -> e.stageIds)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("job_end", "job" -> e.jobId, "end" -> msToNano(e.time))
    private val acc = mutable.HashMap.empty[Int, Array[Long]]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) acc.synchronized {
        val a = acc.getOrElseUpdate(e.stageId, new Array[Long](8))
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
        a(3) += m.jvmGCTime
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) += m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = acc.synchronized(acc.remove(e.stageInfo.stageId))
        .getOrElse(new Array[Long](8))
      emit("stage", "stage" -> e.stageInfo.stageId, "tasks" -> a(0),
        "run_ms" -> a(1), "cpu_ns" -> a(2), "gc_ms" -> a(3),
        "shuffle_write" -> a(4), "shuffle_read" -> a(5), "spill" -> a(6),
        "scan" -> a(7))
    }
  }

  private final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        emit("phase", "phase" -> phase, "start" -> msToNano(p.startTimeMs),
          "end" -> msToNano(p.endTimeMs))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      emit("progress", "batch" -> p.batchId, "rows" -> p.numInputRows,
        "get_batch_ms" -> d("getBatch"), "add_batch_ms" -> d("addBatch"),
        "trigger_ms" -> d("triggerExecution"), "at" -> System.nanoTime())
    }
  }

  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Codegen compiles (count, approximate ms) between two snapshots. */
  private def emitCodegen(scope: String, before: (Long, Double)): Unit = {
    val after = codegen()
    val n = after._1 - before._1
    emit("codegen", "scope" -> scope, "op" -> curOp, "compiles" -> n,
      "ms" -> n * after._2)
  }

  // ------------------------------------------------------------ helpers

  private def cleanup(spark: SparkSession): Int = {
    val keep = graft.rel.PinnedInputs.pinnedRddIds(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.values.filterNot(r => keep(r.id))
    leaked.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
    leaked.size
  }

  /** A full collection between cycles (outside every timed interval), so
    * garbage left by one cycle's operations is not collected in a random
    * operation of the next. Records the live heap it leaves. */
  private def settleHeap(): Unit = {
    System.gc()
    emit("heap", "live_bytes" ->
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def errText(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val runDir = a("run")
    out = new PrintWriter(Files.newBufferedWriter(Paths.get(a("out"))), true)
    tracing = a("trace") == "1"
    val nproc = a("nproc").toInt
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints/default")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Quiet.storageShutdownRace()
    if (tracing) {
      spark.sparkContext.addSparkListener(new Listener)
      spark.listenerManager.register(new PlanListener)
      spark.streams.addListener(new StreamListener)
    }
    emit("meta", "spark" -> spark.version)
    // the inputs are generated while the session starts
    val ready = new File(a("ready"))
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!ready.exists()) {
      require(System.nanoTime() < deadline, s"inputs not ready after 120 s: $ready")
      Thread.sleep(10)
    }
    val cg0 = codegen()
    try {
      // a workload that throws is reported as a failure, not a crash
      try a("workload") match {
        case "dashboard" => dashboard(spark, a, cg0)
        case "ingest" => ingest(spark, a, cg0)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } catch { case e: Throwable => emit("error", "err" -> errText(e)) }
      emitTables(spark, new File(a("run")))
    } finally {
      spans.foreach { s =>
        emit("span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start" -> s.start, "end" -> s.end)
      }
      if (tracing) drainListenerBus(spark)
      emit("done", "at" -> System.nanoTime())
      out.flush()
      spark.stop()
    }
  }

  /** State of every graft table the run created, read through the
    * table's public API. */
  private def emitTables(spark: SparkSession, dir: File): Unit = {
    def walk(f: File): Seq[File] =
      if (new File(f, "_graft_log").isDirectory) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(walk)
    for (t <- walk(dir)) {
      val g = graft.table.GraftTable.forPath(spark, t.getPath)
      val v = g.latestVersion
      val files = g.commitAt(v).files
      emit("table", "root" -> t.getPath, "version" -> v, "live_files" -> files.size,
        "live_rows" -> files.map(_.liveRows).sum)
    }
  }

  /** The listener bus delivers asynchronously; wait until every started
    * job has ended and the event stream has gone quiet. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(500)
  }

  private def timedStart(cg0: (Long, Double)): Unit = {
    emitCodegen("setup", cg0)
    emit("timed_start", "at" -> System.nanoTime(),
      "at_ms" -> System.currentTimeMillis())
  }

  private def timedEnd(): Unit = emit("rss_timed", "vm_hwm_kb" -> vmHwmKb())

  // ------------------------------------------------------------ dashboard

  /** Keys of the pipeline module: they build graft tables on first use. */
  private def pipelineKeys(k: String): Boolean =
    graft.pipeline.PipelineQueries.queries.contains(k)

  def dashboard(spark: SparkSession, a: Map[String, String], cg0: (Long, Double)): Unit = {
    val data = a("data")
    val keys = a("keys").split(",").toSeq
    val passes = a("passes").toInt
    val rnd = new Random(a("seed").toLong)
    val fns = keys.map(k => k -> graft.SparkEntry.queries(k)).toMap
    val verifyDir = s"${a("run")}/verify"

    // Untimed warm/verify pass. Each key writes its result for the oracle
    // comparison, then runs the timed action once. Three client threads
    // share the keys (the pipeline module's keys, which build tables, stay
    // on one thread); cleanup waits until all are done, so no thread drops
    // another's pinned blocks.
    val warmCount = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val order = rnd.shuffle(keys)
    val (tableKeys, pureKeys) = order.partition(pipelineKeys)
    val lanes = Seq(tableKeys) ++ pureKeys.zipWithIndex.groupBy(_._2 % 2).values
      .map(_.map(_._1)).toSeq
    val threads = lanes.map { lane =>
      new Thread(() => lane.foreach { k =>
        try {
          val t0 = System.nanoTime()
          fns(k)(spark, data).write.parquet(s"$verifyDir/$k")
          val t1 = System.nanoTime()
          warmCount.put(k, fns(k)(spark, data).count())
          emit("warm", "key" -> k, "ok" -> true, "rows" -> warmCount.get(k).longValue,
            "verify_ms" -> (t1 - t0) / 1e6, "count_ms" -> (System.nanoTime() - t1) / 1e6)
        } catch { case e: Throwable =>
          warmCount.remove(k)
          emit("warm", "key" -> k, "ok" -> false, "err" -> errText(e))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    cleanup(spark)
    timedStart(cg0)
    var op = 0
    for (p <- 0 until passes) {
      settleHeap()
      val c0 = System.nanoTime()
      for (k <- rnd.shuffle(keys)) {
        op += 1
        curOp = op
        val cg = if (tracing) codegen() else null
        val t0 = System.nanoTime()
        var t1 = t0
        var ok = false
        var rows = -1L
        var err: String = null
        span("query") {
          try {
            val df = span("construct")(fns(k)(spark, data))
            t1 = System.nanoTime()
            rows = span("action")(df.count())
            ok = warmCount.containsKey(k) && warmCount.get(k).longValue == rows
            if (!ok) err = s"count $rows differs from warm pass ${warmCount.get(k)}"
          } catch { case e: Throwable => err = errText(e) }
        }
        val t2 = System.nanoTime()
        val leaked = span("cleanup")(cleanup(spark))
        if (tracing) emitCodegen("op", cg)
        emit("op", "op" -> op, "key" -> k, "start" -> t0,
          "construct_end" -> t1, "end" -> t2, "ok" -> ok, "rows" -> rows,
          "leaked" -> leaked, "err" -> err)
      }
      curOp = 0
      emit("cycle", "cycle" -> p, "start" -> c0, "end" -> System.nanoTime())
    }
    timedEnd()
  }

  // ------------------------------------------------------------ ingest

  def ingest(spark: SparkSession, a: Map[String, String], cg0: (Long, Double)): Unit = {
    import graft.table.{GraftTable, MaterializedAgg}
    val run = a("run")
    val pending = new File(a("data"), "pending").listFiles()
      .filter(_.getName.endsWith(".json.gz")).sortBy(_.getName).toSeq
    val warm = a("warm").toInt
    val cycleLen = a("cycle").toInt
    require(pending.size == a("batches").toInt,
      s"expected ${a("batches")} pending batches, found ${pending.size}")
    val curated = s"$run/tables/curated"
    val mvRoot = s"$run/tables/mv"
    val serving = s"$run/tables/serving"
    val groupCols = Seq("yyyy", "mm", "dd", "title", "user")

    /** One scheduled run of the downstream consumer: resume from its
      * checkpoint, process every commit not yet seen, stop. */
    def drainStream(): Unit =
      graft.streaming.StreamOps.drainAvailable(
        graft.streaming.StreamOps.dedupStreamWithinWatermark(
            spark.readStream.format("graft").load(curated), "id", "ts", "1 hour")
          .select("id", "ts", "title", "user")
          .writeStream.format("parquet")
          .option("path", s"$run/stream_out")
          .option("checkpointLocation", s"$run/checkpoints/stream")
          .outputMode("append"))
        .start().awaitTermination()

    /** Files a commit removed, and the partitions of the files it added. */
    def commitDiff(t: GraftTable, v: Long): (Int, Set[Map[String, String]]) = {
      val now = t.commitAt(v).files
      val before = if (v <= 1) Seq.empty else t.commitAt(v - 1).files
      val nowPaths = now.map(_.path).toSet
      val beforePaths = before.map(_.path).toSet
      (beforePaths.count(p => !nowPaths(p)),
        now.filterNot(f => beforePaths(f.path)).map(_.partition).toSet)
    }

    def batch(k: Int, f: File, timed: Boolean): Unit = {
      val dir = new File(run, f"raw/b$k%05d")
      dir.mkdirs()
      val cg = if (tracing) codegen() else null
      // landing: an atomic rename makes the whole batch visible at once
      Files.move(f.toPath, new File(dir, "part.json.gz").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      val t0 = System.nanoTime()
      var ok = false
      var err: String = null
      var version = -1L
      var removed = -1
      span("batch") {
        try {
          version = span("curate")(
            graft.pipeline.WikiPipeline.runCurateTable(spark, dir.getPath, curated))
          val src = span("snapshot") {
            val t = GraftTable.forPath(spark, curated)
            t.latestVersion
            t.read()
            t
          }
          val (_, touched) = commitDiff(src, version)
          span("mv_refresh")(MaterializedAgg.refresh(spark, src, mvRoot, groupCols, Seq.empty))
          val top = span("top_editors") {
            val days = touched.toSeq.map(p => (p("yyyy").toInt, p("mm").toInt, p("dd").toInt))
            val dayCond = days.map { case (y, m, d) =>
              col("yyyy") === y && col("mm") === m && col("dd") === d
            }.reduce(_ || _)
            val q = MaterializedAgg.readView(spark, mvRoot, groupCols, Seq.empty)
              .filter(dayCond)
              .groupBy("yyyy", "mm", "dd", "user").agg(sum("cnt").as("edits"))
              .withColumn("rn", row_number().over(Window.partitionBy("yyyy", "mm", "dd")
                .orderBy(col("edits").desc, col("user").asc)))
              .filter(col("rn") <= 10)
              .select(make_date(col("yyyy"), col("mm"), col("dd")).as("dt"),
                col("user").as("username"), col("edits"), lit(k.toLong).as("seq"))
            // the serving store receives the few top rows, not the plan
            // that computed them
            val rows = q.collect()
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
          }
          span("upsert") {
            if (!new File(serving, "_graft_log").exists())
              GraftTable.create(spark, serving, top, operation = "serve")
            else {
              val t = GraftTable.forPath(spark, serving)
              val v = t.upsertKeepLatest(top, Seq("dt", "username"), Seq(col("seq").desc))
              removed = commitDiff(t, v)._1
            }
          }
          span("drain")(drainStream())
          ok = true
        } catch { case e: Throwable => err = errText(e) }
      }
      val t1 = System.nanoTime()
      val leaked = span("cleanup")(cleanup(spark))
      if (tracing) emitCodegen("op", cg)
      emit(if (timed) "op" else "warm", "op" -> curOp, "key" -> "batch", "batch" -> k,
        "start" -> t0, "end" -> t1, "ok" -> ok, "files_rewritten" -> removed,
        "leaked" -> leaked, "err" -> err)
      if (!ok) throw new IllegalStateException(s"batch $k failed: $err")
    }

    for ((f, k) <- pending.zipWithIndex.take(warm)) batch(k, f, timed = false)
    timedStart(cg0)
    var c0 = 0L
    for ((f, k) <- pending.zipWithIndex.drop(warm)) {
      if ((k - warm) % cycleLen == 0) { settleHeap(); c0 = System.nanoTime() }
      curOp = k - warm + 1
      batch(k, f, timed = true)
      if ((k - warm + 1) % cycleLen == 0)
        emit("cycle", "cycle" -> (k - warm) / cycleLen, "start" -> c0,
          "end" -> System.nanoTime())
    }
    curOp = 0
    timedEnd()

    // Outputs for the ground-truth comparison (untimed).
    MaterializedAgg.readView(spark, mvRoot, groupCols, Seq.empty)
      .coalesce(1).write.parquet(s"$run/verify/mv")
    GraftTable.forPath(spark, serving).read()
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"), col("username"), col("edits"))
      .coalesce(1).write.parquet(s"$run/verify/serving")
  }
}
