package graft.tools

import graft.Quiet
import org.apache.spark.sql.SparkSession

/** The one measurement harness behind every main (Bench, Verify, IsoBench,
  * PlanDump, StreamBench, ScaleGen, Fuzz, FuzzTable, PipelineDemo): the
  * session they run on, the per-query cleanup between queries, min-of-N
  * timing and the JSON string escaping of `oracle_sql.json`.
  */
object Harness {

  /** Local master width and shuffle partition count: `SPARK_GRAFT_CPUS`,
    * 4 when unset (Bench's default). */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `SPARK_GRAFT_EXTRA_CONF`: semicolon-separated `k=v` confs applied at
    * session build (the invariance/cluster-layout hook; unset in normal
    * runs). A malformed entry fails loudly: silently dropping e.g.
    * `spark.sql.adaptive.enabled:false` would make an invariance audit
    * compare the baseline against itself and pass vacuously. */
  def extraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      require(kv.contains("="), s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v")
      val Array(k, v) = kv.split("=", 2)
      (k, v)
    }

  /** The shared session: `local[cpus]`, shuffle partitions = cpus, UTC,
    * the graft extensions (analyzer rules can't register post-hoc — MERGE
    * INTO needs them at build time), no UI, plus `SPARK_GRAFT_EXTRA_CONF`.
    * ERROR is the default log level: round 4's output capture lost the
    * metric line in a flood of storage-layer WARNs, and the metric line
    * must be the one thing a bench process reliably emits. */
  def session(logLevel: String = "ERROR"): SparkSession = {
    val extra = extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
    extra.foreach { case (k, v) => System.err.println(s"[harness] conf $k=$v") }
    val spark = extra.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Quiet.storageShutdownRace()
    spark
  }

  private var sinceGc = 0

  /** Free what the query just run left persisted: several queries
    * materialize intermediates (`Materialize.once` persists lazily,
    * `Materialize.pin` persists a raw RDD the cache manager does not track)
    * and never unpersist, so without this every prior query's blocks stay
    * pinned and later queries pay the eviction/GC bill. The cross-query
    * shared-input pins (`rel.PinnedInputs`) are exempt: they play
    * "materialized table" for whole query families. Safe between queries:
    * results are already counted or written.
    *
    * Every 24th call also runs one GC: broadcasts (bloom filters, hash
    * relations, plane literals) are reclaimed through weak references, so
    * their executor-side blocks linger until a GC notices the owning
    * object died. Across ~550 query executions that backlog starved the
    * heap and random queries absorbed multi-second GC storms (measured:
    * dedup_minhash 1.3 s → 13 s); one GC per ~24 queries costs ~2 s per
    * full bench and removes the failure mode. */
  def release(spark: SparkSession): Unit = {
    val keep = graft.rel.PinnedInputs.pinnedRddIds(spark)
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
    sinceGc += 1
    if (sinceGc >= 24) gc()
  }

  /** Drain the cleaner backlog now and restart the [[release]] GC cadence. */
  def gc(): Unit = { sinceGc = 0; System.gc() }

  /** Wall seconds of one run of `body`; [[release]] runs after the clock
    * stops. */
  def time(spark: SparkSession)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val t = (System.nanoTime() - t0) / 1e9
    release(spark)
    t
  }

  /** IsoBench's fixed N: `n` timed shots of `body`. */
  def shots(spark: SparkSession, n: Int)(body: => Unit): Seq[Double] =
    Seq.fill(n)(time(spark)(body))

  private val NoiseThresholdSec = 0.3

  /** Bench's noise rule. Timing noise on a fixed plan is ADDITIVE (GC
    * pauses, multi-second co-tenant bursts), so the minimum of repeated
    * shots is the consistent estimator of plan cost (timeit's rationale).
    * A first shot over [[NoiseThresholdSec]] gets two more and the min is
    * reported; faster queries stay single-shot to bound bench time. */
  def minOf3(spark: SparkSession)(body: => Unit): Double = {
    val t1 = time(spark)(body)
    if (t1 > NoiseThresholdSec) (t1 +: shots(spark, 2)(body)).min else t1
  }

  /** A JSON object of string keys and values. Escapes backslash, quote
    * and ALL control chars (< 0x20): a tab or CR in hand-written SQL
    * would otherwise make the reader's `json.load` fail. */
  def jsonObject(entries: Iterable[(String, String)]): String =
    entries.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
