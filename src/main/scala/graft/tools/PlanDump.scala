package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import scala.sys.process.{Process, ProcessLogger}

/** Dev utility: the plan evidence trail (plans/r16/<key>_<tag>.txt, the
  * PLANS.md fingerprints).
  *
  * Run:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [key...]"
  *
  * Writes, under `outDir`:
  *  - `<key>_<tag>.txt`: `explain("formatted")` of each named key;
  *  - `join_runtime_bloom_inner_<tag>.txt` when `join_runtime_bloom` is
  *    named: that query materializes eagerly inside its conf scope (the
  *    returned frame is an InMemoryRelation), so the interesting plan is
  *    the inner one, explained under the same confs;
  *  - `FPRINT_<tag>.txt`: one compact fingerprint line per named key, or
  *    per declared key when none is named.
  *
  * Every file starts with `# sha=<HEAD> dirty=<bool> sf=<sfDir> tag=<tag>`,
  * so a committed dump says which tree produced it.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <tag> [key...]")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val tag = args(2)
    val named = args.drop(3).toSeq
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    Files.createDirectories(outDir)
    val head = header(sfDir, tag)
    def write(file: String, body: String): Unit = {
      val p = outDir.resolve(file)
      Files.writeString(p, head + "\n" + body)
      println(s"wrote $p")
    }
    val spark = Harness.session()
    // Counts are over the executedPlan STRING: cached-plan renderings
    // inflate scan counts (occurrences ≠ executions), so `cached>0`
    // contextualizes `scans`. Both cache layers are released before each
    // key, so no earlier key's materialization leaks into its plan.
    val selected = if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    val fprints = selected.map { name =>
      Harness.release(spark)
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        if (named.contains(name))
          write(s"${name}_$tag.txt", qe.explainString(FormattedMode))
        val p = qe.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(p).size
        s"FPRINT $name exchanges=${n("Exchange hashpartitioning")}" +
          s" range=${n("Exchange rangepartitioning")}" +
          s" single=${n("Exchange SinglePartition")}" +
          s" scans=${n("Scan parquet")} cached=${n("InMemoryTableScan")}" +
          s" bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")}" +
          s" bnlj=${n("BroadcastNestedLoopJoin")} win=${n("Window \\[")}" +
          s" wgl=${n("WindowGroupLimit")} topk=${n("TakeOrderedAndProject")}"
      } catch { case e: Throwable =>
        s"FPRINT $name ERROR ${e.toString.take(120)}"
      }
    }
    write(s"FPRINT_$tag.txt", fprints.mkString("", "\n", "\n"))
    if (named.contains("join_runtime_bloom")) {
      val confs = graft.rel.Joins.RuntimeBloomConfs
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try write(s"join_runtime_bloom_inner_$tag.txt",
        graft.rel.Joins.runtimeBloomPlan(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    spark.stop()
  }

  /** `# sha=<HEAD> dirty=<tracked changes?> sf=<sfDir> tag=<tag>`, read from
    * the local git checkout; `unknown` when it cannot be read. */
  private def header(sfDir: String, tag: String): String = {
    def git(args: String*): Option[String] =
      try {
        val out = new StringBuilder
        val code = Process("git" +: args)
          .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
        if (code == 0) Some(out.toString.trim) else None
      } catch { case _: java.io.IOException => None }
    val sha = git("rev-parse", "HEAD")
    val dirty = sha.flatMap(_ => git("status", "--porcelain", "--untracked-files=no"))
      .map(_.nonEmpty)
    s"# sha=${sha.getOrElse("unknown")} dirty=${dirty.fold("unknown")(_.toString)}" +
      s" sf=$sfDir tag=$tag"
  }
}
