package graft

import graft.rel.{Materialize, PinnedInputs}
import graft.tools.Harness

/** The per-query cleanup and the `SPARK_GRAFT_EXTRA_CONF` parser every
  * main shares through [[graft.tools.Harness]]. */
class HarnessSpec extends SparkSpec {

  private def persistent = spark.sparkContext.getPersistentRDDs

  test("release unpersists an ad-hoc Materialize.pin handle") {
    val (df, handle) = Materialize.pin(spark.range(100).toDF("id"))
    assert(df.count() === 100)
    assert(persistent.contains(handle.id))
    Harness.release(spark)
    assert(!persistent.contains(handle.id))
  }

  test("release keeps PinnedInputs entries and clears the cache manager") {
    val shared = PinnedInputs.pinned(spark, "harness-spec", "ids")(
      spark.range(10).toDF("id"))
    assert(shared.count() === 10)
    val once = Materialize.once(spark.range(20).toDF("x"))
    assert(once.count() === 20)
    assert(!spark.sharedState.cacheManager.isEmpty)
    val keep = PinnedInputs.pinnedRddIds(spark)
    assert(keep.nonEmpty)
    Harness.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(keep.forall(persistent.contains))
  }

  test("the extra-conf parser rejects a non-k=v entry and splits on the first '='") {
    val e = intercept[IllegalArgumentException] {
      Harness.extraConf("spark.sql.adaptive.enabled:false")
    }
    assert(e.getMessage.contains(
      "SPARK_GRAFT_EXTRA_CONF entry 'spark.sql.adaptive.enabled:false' is not k=v"))
    assert(Harness.extraConf("a=b;c=d=e") === Seq("a" -> "b", "c" -> "d=e"))
    assert(Harness.extraConf("") === Seq.empty)
  }
}
