package graft.tools

/** Dev utility: ISOLATED min-of-N re-measurement of named queries — the
  * arbiter for "was that in-bench regression real or co-tenant noise?"
  * (BASELINE.md noise methodology: this VM shows minute-scale co-tenant
  * bursts that stall 5-8 random queries 4-15× per full-bench run, so any
  * in-bench delta on an UNCHANGED plan needs an isolated min-of-3 before
  * it's accepted as real).
  *
  * Matches Bench's steady-state methodology (same [[Harness.session]], so
  * the same `local[SPARK_GRAFT_CPUS]` master; untimed warm pass at the
  * target SF, then timed shots, min reported) but runs ONLY the named
  * queries in a fresh JVM with nothing else on the session, so there is
  * no cross-query cache/GC interference.
  *
  * Run:
  *   sbt "runMain graft.tools.IsoBench /root/testdata/sf0.1 q1 q2 ..."
  */
object IsoBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keys = if (args.length > 1) args.drop(1).toSeq
               else sys.error("usage: IsoBench <sfDir> <queryKey>...")
    val shots = sys.env.getOrElse("ISO_SHOTS", "3").toInt
    val spark = Harness.session()
    val results = keys.map { k =>
      val fn = graft.SparkEntry.queries.getOrElse(k,
        sys.error(s"unknown query key: $k"))
      fn(spark, sfDir).count() // steady-state: plan compile outside timing
      Harness.release(spark)
      val times = Harness.shots(spark, shots)(fn(spark, sfDir).count())
      println(f"$k%-28s min=${times.min}%.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      k -> times.min
    }
    println(results.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
