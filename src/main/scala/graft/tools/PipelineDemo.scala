package graft.tools

import graft.pipeline.WikiPipeline

/** Dev utility / sample: drive the full daily wiki pipeline end-to-end
  * through the public API on synthesized raw data.
  * Run: `sbt "runMain graft.tools.PipelineDemo"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("demo_wiki").toString
    Seq(
      """{"id":1,"type":"edit","title":"A","user":"u1","bot":false,"timestamp":1704100000,"comment":"c","minor":false}""",
      """{"id":2,"type":"edit","title":"A","user":"u1","bot":false,"timestamp":1704101000,"comment":"c","minor":false}""",
      """{"id":3,"type":"edit","title":"B","user":"u2","bot":null,"timestamp":1704102000,"comment":"c"}""",
      """broken json""")
      .toDF("value").coalesce(1)
      .write.option("compression", "gzip").text(s"$base/raw")

    val serving = WikiPipeline.runDaily(spark, s"$base/raw", s"$base/cur",
      s"$base/serve", java.time.LocalDate.of(2024, 1, 1))
    println("SERVING_ROWS=" + serving.select("dt", "username", "edits")
      .orderBy("username").collect().mkString("; "))

    val emptyDay = WikiPipeline.runDailyAggregate(spark, s"$base/cur",
      java.time.LocalDate.of(2030, 1, 1))
    println("EMPTY_DAY_COUNT=" + emptyDay.count())
    spark.stop()
  }
}
