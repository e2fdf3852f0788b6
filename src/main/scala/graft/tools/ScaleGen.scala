package graft.tools

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-probe fixture generator: replicates a driver sf directory k× with
  * shifted keys, so operators can be measured one decade above the largest
  * provided fixture (sf0.1 → "sf1": 6M lineitem / 50k documents / 1M
  * events). Replicated text/embeddings create exact-duplicate groups of
  * size k — a deliberately duplicate-heavy corpus that stresses the dedup
  * candidate-pair paths quadratically per group, the worst realistic shape.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> <k> [zipf|uniqtext]
  *
  * `zipf` mode: same k× replication, but the SKEW-BEARING attribute keys
  * are re-drawn from a bounded-Pareto(s=1.1) distribution instead of
  * uniformly shifted — real event data is Zipfian (the reference's own
  * dashboard: top title 22,724 edits vs an "Other" bucket of 941,690;
  * BASELINE.md skew row), while plain replication keeps every key's
  * frequency uniform. Remapped keys:
  *   - `events.user_id`    — over a k×-grown universe ⇒ the hot user owns
  *     ~10% of ALL events (the `win_session`/`agg_daily_top_editors`
  *     straggler shape: one session/group partition with millions of rows)
  *   - `orders.o_custkey`  — within the customer dim range (FKs stay
  *     valid) ⇒ one customer on ~11% of orders
  *   - `lineitem.l_suppkey` — within the supplier dim range ⇒ one hub
  *     supplier on ~13% of lineitems (the graph trio's hub-node shape and
  *     the star join's skewed shuffle key)
  * Draws are deterministic (xxhash64 of the row's replicated PK), so the
  * fixture is reproducible run-to-run.
  *
  * `uniqtext` mode: same k× replication, but replica i > 0 gets MUTATED
  * text (a per-replica suffix) and a rotated embedding vector — a 100×
  * corpus with REALISTIC duplicate density (only the base copies remain
  * near-dups) instead of exact-duplicate groups of k. The pairwise
  * similarity/dedup family's candidate count is input-shaped (×k² per
  * duplicate group BY DESIGN — the plain replica set makes those
  * operators output-bound at k=100, measured: sim_threshold_lsh spills
  * out of disk); this fixture proves the same operators at 100× VOLUME
  * under the density real corpora have.
  */
object ScaleGen {

  /** Bounded-Pareto(s) rank in [lo, lo+n-1] from a per-row hash draw:
    * u ∈ (0,1) via xxhash64; inverse CDF x = (1 − u·(1 − n^(1−s)))^(1/(1−s))
    * gives pmf(rank r) ∝ r^(−s) — Zipf-like with exponent s. s = 1.1
    * matches measured web/wiki popularity tails (the verdict's α≈1.1). */
  private def zipfKey(hash: Column, n: Long, lo: Long, s: Double = 1.1): Column = {
    val om = 1.0 - s
    val u = (pmod(hash, lit(1000000000L)).cast("double") + 0.5) / 1e9
    val x = pow(lit(1.0) - u * lit(1.0 - math.pow(n.toDouble, om)), lit(1.0 / om))
    least(lit(n), greatest(lit(1L), floor(x).cast("long"))) + lit(lo - 1L)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val k = args(2).toInt
    val mode = if (args.length > 3) args(3) else ""
    val zipf = mode == "zipf"
    val uniq = mode == "uniqtext"
    val spark = Harness.session()
    import spark.implicits._

    // Dim key ranges (min, count) for FK-valid Pareto remaps, read once.
    def range(t: String, c: String): (Long, Long) = {
      val r = Tables.table(spark, src, t)
        .agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
      (r.getLong(0), r.getLong(1) - r.getLong(0) + 1)
    }

    def replicate(t: String, keyShifts: Map[String, Long],
                  perCopy: (DataFrame, Int) => DataFrame = (df, _) => df,
                  remap: DataFrame => DataFrame = identity): Unit = {
      val base = Tables.table(spark, src, t)
      val copies = (0 until k).map { i =>
        perCopy(keyShifts.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }, i)
      }
      remap(copies.reduce(_ unionByName _))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t x$k" + (if (mode.nonEmpty) s" ($mode)" else ""))
    }

    // uniqtext per-copy mutators: replica 0 stays pristine; replica i>0
    // gets a text suffix (breaks exact/near-dup groups) and a rotated
    // embedding (rotation is a permutation — norms preserved, cosines
    // between rotated copies decorrelate)
    def mutText(df: DataFrame, i: Int): DataFrame =
      if (!uniq || i == 0) df
      else df.withColumn("text", concat($"text", lit(s" u$i")))
    def mutVec(df: DataFrame, i: Int): DataFrame = {
      val r = i % 64
      if (!uniq || r == 0) df
      else df.withColumn("embedding",
        concat(slice($"embedding", r + 1, 64 - r), slice($"embedding", 1, r)))
    }

    if (zipf) {
      val (sLo, sN) = range("supplier", "s_suppkey")
      val (cLo, cN) = range("customer", "c_custkey")
      val (uLo, uN) = range("events", "user_id")
      // facts replicate with shifted PKs; the skew-bearing FK/attribute
      // keys are re-drawn Pareto(1.1) from the replicated PK's hash
      replicate("lineitem", Map("l_orderkey" -> 1000000000L),
        remap = _.withColumn("l_suppkey",
          zipfKey(xxhash64($"l_orderkey", $"l_linenumber"), sN, sLo)))
      replicate("orders", Map("o_orderkey" -> 1000000000L),
        remap = _.withColumn("o_custkey",
          zipfKey(xxhash64($"o_orderkey"), cN, cLo)))
      replicate("events", Map("event_id" -> 1000000000L),
        remap = _.withColumn("user_id",
          zipfKey(xxhash64($"event_id"), uN * k, uLo)))
    } else {
      // facts replicate with shifted keys; dims copy as-is (their
      // cardinality is fixed by the schema's FK ranges)
      replicate("lineitem", Map("l_orderkey" -> 1000000000L))
      replicate("orders", Map("o_orderkey" -> 1000000000L))
      replicate("events", Map("event_id" -> 1000000000L, "user_id" -> 1000000L))
    }
    replicate("documents", Map("doc_id" -> 1000000L), mutText)
    replicate("embeddings", Map("vec_id" -> 1000000L), mutVec)
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      Tables.table(spark, src, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    spark.stop()
  }
}
