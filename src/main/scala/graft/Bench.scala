package graft
import graft.tools.Harness

/** Driver-run benchmark: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints ONE compact JSON line. Round-1 lesson: the driver captures only the
  * tail of the sbt output, so the JSON line must stay SHORT — per-query times
  * for a fixed headline subset only (3-decimal seconds), with the full
  * per-query map written to BENCH_FULL.json instead.
  */
object Bench {

  /** Representative subset printed on the one-line JSON (keep ≲ 20 entries so
    * the line survives the driver's output-tail capture). */
  private val headline = Seq(
    "agg_daily_top_titles", "agg_daily_top_editors", "agg_multi",
    "scan_parquet", "filter_partition_prune", "join_inner", "join_star",
    "join_range", "join_asof", "win_rank_topn", "win_session",
    "topk_orderby_limit", "dedup_minhash", "dedup_text_hash",
    "sim_topk_cosine", "sim_threshold_join", "text_top_terms",
    "upsert_keep_latest")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Warm the session once so the first timed queries don't absorb one-time
    // JVM/session init (measured 1.5-3.5 s on whichever queries happen to run
    // first): executor threads, codegen compiler, hadoop FS, parquet footers
    // of EVERY fixture table, and the heavyweight operator machinery
    // (WindowExec, broadcast exchange, HLL sketch buffers, JSON parser,
    // digest expressions). The timed queries still pay their own plan-
    // specific codegen — this only removes shared-infrastructure init.
    locally {
      import org.apache.spark.sql.functions._
      spark.range(1000000).selectExpr("sum(id)").collect()
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"))
        Tables.table(spark, sfDir, t).count()
      val e = Tables.events(spark, sfDir).limit(1000)
      e.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type")).orderBy(col("ts")))).count()
      e.join(broadcast(Tables.region(spark, sfDir)), lit(true), "cross").count()
      e.agg(approx_count_distinct(col("user_id"))).collect()
      e.select(md5(lower(trim(col("props")))), xxhash64(col("props")),
        from_json(col("props"), lit("k INT")).getField("k")).count()
    }
    // STEADY-STATE methodology (standard JVM benchmarking): run every query
    // once UNTIMED at the TARGET scale factor, so the timed pass measures
    // query execution, not compiler time. Earlier rounds warmed at sf0.001
    // instead, but plans are NOT identical across scale factors (AQE and
    // broadcast decisions change with input stats, so some target-SF plans
    // still compile fresh) — whichever queries the map iteration put first
    // then absorbed the residual one-time cost: exactly the round-3
    // driver-vs-local outlier pattern. ProfBench-measured one-time compile
    // cost: 4.7 s on dedup_minhash, 0.5-1 s on typical plans (the probe was
    // removed; `git show b3a4326:src/main/scala/graft/tools/ProfBench.scala`).
    // The warmup's own duration is reported as warmup_sec for transparency.
    val tw = System.nanoTime()
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      Harness.release(spark)
    }
    val warmupSec = (System.nanoTime() - tw) / 1e9
    // Drain the warmup's residual cleaner backlog (up to 23 queries since
    // the last periodic GC) BEFORE timing starts — otherwise the first
    // timed queries (alphabetically agg_*) absorb it even under min-of-3
    // (measured: agg_approx_distinct 1.58 s in-bench vs 0.5 s isolated).
    Harness.gc()
    // A query that THROWS must not be silently reported as a (near-zero)
    // timing: record it in `failed` and surface the count on the headline
    // line, so a regression is visible in the bench artifact itself.
    val failed = scala.collection.mutable.SortedSet[String]()
    val results = SparkEntry.queries.map { case (name, fn) =>
      name -> Harness.minOf3(spark) {
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
    }
    def r3(v: Double): String = f"$v%.3f"
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", s",\"failed\":$failedJson}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), full)
    val qs = headline.flatMap(k => results.get(k).map(v => s"\"" + k + "\":" + r3(v)))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"warmup_sec":${r3(warmupSec)},"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
    // Re-print AFTER stop: shutdown logging must not be the tail the
    // driver's output capture sees (round-4 lesson — parsed=null).
    println(line)
  }
}
