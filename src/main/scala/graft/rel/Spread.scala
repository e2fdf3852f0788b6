package graft.rel

import org.apache.spark.sql.{Column, DataFrame}

/** Input-skew guard (guide §2.5 "one huge unsplittable file"): spread a
  * scan whose parallelism is DEGENERATE relative to the session's cores
  * before heavy per-row map work.
  *
  * Why it exists: parquet row groups are atomic scan splits, so a table
  * written as one row group (the fixture layout; in production a single
  * gzip/row-group landing file) scans as ONE task no matter the core
  * count — every downstream map expression fused into the scan stage
  * (tokenize + md5 per token, JSON parsing, 120-way aggregate updates)
  * serializes on one core while the rest idle. Measured on the simhash
  * signature pass at sf0.1/local[32]: 2.40 s → 0.78 s
  * (tools/ProfSpread, a removed probe: `git show
  * b3a4326:src/main/scala/graft/tools/ProfSpread.scala`).
  *
  * Scale honesty: the gate compares the scan's actual split count to the
  * session's parallelism and only fires when the scan is NARROW
  * (splits·4 ≤ cores). A production 100-TB table scans as thousands of
  * splits, so this is a structural NO-OP there — it never injects a
  * corpus-wide shuffle into a healthy layout; it repairs exactly the
  * degenerate-input case the optimization guide calls out. The shuffle it
  * does inject is hash partitioning on the caller's row key —
  * deterministic under task retry (never round-robin, which would need a
  * defensive sort) and uniform when the key is (near-)unique.
  */
object Spread {

  /** `df` hash-spread across the session's cores when its scan is
    * degenerate-narrow; `df` unchanged otherwise. `key` must be a
    * high-cardinality (ideally unique) column of `df`. Row-preserving in
    * all cases — results of any deterministic query are unchanged. */
  def narrow(df: DataFrame, key: Column*): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // Dataset memoizes its RDD, and graft.Tables caches table handles per
    // (session, dir), so the split-count probe compiles once per table
    // per session, not once per query.
    if (df.rdd.getNumPartitions * 4 <= cores) df.repartition(cores, key: _*)
    else df
  }
}
