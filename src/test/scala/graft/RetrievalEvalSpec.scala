package graft

/** Semantic invariants of the round-7 retrieval/eval/selection batch on
  * the sf0.001 fixture — independent recomputations and bounds the DuckDB
  * hash compare can't express (it proves cross-engine equality, not that
  * the math means what it claims).
  */
class RetrievalEvalSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf).collect()

  test("eval_quality_auc equals the direct pairwise Mann-Whitney AUC") {
    // Recompute P(s+ > s-) + 0.5 P(s+ = s-) by brute force from the same
    // scored frame (500 docs — quadratic is fine in a test) and compare
    // to the cell/midrank form the operator uses.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("n_chars"), col("lang"),
        size(filter(split(trim(col("text")), " "), t => t =!= ""))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .select((floor(col("n_chars").cast("double") / col("n_tok") * 1e4 + 0.5) / 1e4).as("s"),
        (col("lang") === "en").as("y"))
      .collect()
    val pos = docs.filter(_.getAs[Boolean]("y")).map(_.getAs[Double]("s"))
    val neg = docs.filterNot(_.getAs[Boolean]("y")).map(_.getAs[Double]("s"))
    val wins = (for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val expected = wins / (pos.length.toLong * neg.length)
    val row = run("eval_quality_auc").head
    assert(row.getAs[Long]("n_pos") === pos.length.toLong)
    assert(row.getAs[Long]("n_neg") === neg.length.toLong)
    assert(math.abs(row.getAs[Double]("auc") - expected) < 1e-6,
      s"cell-form AUC ${row.getAs[Double]("auc")} vs pairwise $expected")
  }

  test("eval_calibration_bins: bins partition the corpus, rates and means are in range") {
    val rows = run("eval_calibration_bins")
    val bins = rows.map(_.getAs[Long]("bin"))
    assert(bins.forall(b => b >= 0 && b <= 9))
    assert(bins.distinct.length === bins.length)
    val total = rows.map(_.getAs[Long]("n")).sum
    val corpus = run("eval_quality_auc").head
    assert(total === corpus.getAs[Long]("n_pos") + corpus.getAs[Long]("n_neg"),
      "every scored doc must land in exactly one bin")
    rows.foreach { r =>
      val fp = r.getAs[Double]("frac_pos")
      assert(fp >= 0.0 && fp <= 1.0)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n"))
    }
  }

  test("sample_coreset_kcenter: distinct selections, covering radius weakly shrinks") {
    val rows = run("sample_coreset_kcenter").sortBy(_.getAs[Long]("sel_round"))
    assert(rows.map(_.getAs[Long]("sel_round")).toSeq === (1L to 5L))
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === 5)
    assert(rows.head.getAs[Double]("mind") === 0.0)
    // Greedy guarantee: adding a center can only lower every point's
    // min-distance, so the selected farthest distance is non-increasing.
    val radii = rows.drop(1).map(_.getAs[Double]("mind")).toSeq
    radii.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"covering radius grew: $a -> $b")
    }
  }

  test("graph_modularity: degrees sum to 2m, within-edges bounded, Q in (-1, 1)") {
    import org.apache.spark.sql.functions._
    val rows = run("graph_modularity")
    val sumD = rows.map(_.getAs[Long]("d_c")).sum
    val sumE = rows.map(_.getAs[Long]("e_c")).sum
    val m = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    assert(sumD === 2 * m, "every edge contributes exactly two degree endpoints")
    assert(sumE <= m)
    val q = rows.map(_.getAs[Double]("q_contrib")).sum
    assert(q > -1.0 && q < 1.0)
  }

  test("ts_forecast_snaive: forecast is exactly the count 7 days earlier") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("d")).count().collect()
      .map(r => r.getAs[java.sql.Date]("d").toLocalDate -> r.getAs[Long]("count"))
      .toMap
    val rows = run("ts_forecast_snaive")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[java.sql.Date]("d").toLocalDate
      assert(r.getAs[Long]("n") === daily(d))
      assert(r.getAs[Long]("fc") === daily(d.minusDays(7)),
        s"$d: snaive forecast must be the d-7 count")
      assert(r.getAs[Long]("abs_err") ===
        math.abs(daily(d) - daily(d.minusDays(7))))
    }
  }

  test("search_hybrid_rrf: fused score recomputes from the ranks, ranks are valid") {
    val rows = run("search_hybrid_rrf")
    assert(rows.length === 10)
    rows.foreach { r =>
      val sr = Option(r.getAs[java.lang.Long]("srank")).map(_.toLong)
      val dr = Option(r.getAs[java.lang.Long]("drank")).map(_.toLong)
      assert(sr.nonEmpty || dr.nonEmpty, "a fused doc must appear in some list")
      assert(sr.forall(v => v >= 1 && v <= 20) && dr.forall(v => v >= 1 && v <= 20))
      val expect = sr.map(v => 1.0 / (60 + v)).getOrElse(0.0) +
        dr.map(v => 1.0 / (60 + v)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-6)
    }
  }

  test("embed_truncate_recall: hits bounded by k, recall is hits/k") {
    val r = run("embed_truncate_recall").head
    val hits = r.getAs[Long]("hits")
    assert(hits >= 0 && hits <= 10)
    assert(math.abs(r.getAs[Double]("recall") - hits / 10.0) < 1e-9)
    // the query vector itself survives any prefix truncation (cos = 1 in
    // both spaces), so recall can never be zero
    assert(hits >= 1)
  }

  test("sample_hard_negatives: 3 queries x top-5, labels differ, similarity ranks") {
    import org.apache.spark.sql.functions._
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val rows = run("sample_hard_negatives")
    assert(rows.length === 15)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq === (1L to 5L))
      val sims = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cos_sim")).toSeq
      sims.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9) }
      rs.foreach(r => assert(labels(r.getAs[Long]("vec_id")) !== labels(q),
        s"query $q mined a same-label negative"))
    }
  }

  test("sim_mmr_rerank: distinct picks from the top-20 pool, round 1 is the top hit") {
    val rows = run("sim_mmr_rerank").sortBy(_.getAs[Long]("sel_round"))
    assert(rows.map(_.getAs[Long]("sel_round")).toSeq === (1L to 5L))
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === 5)
    // round 1 maximizes pure relevance — the query vector itself (cos=1)
    val pool = run("sim_topk_cosine").map(_.getAs[Long]("vec_id")).toSet
    assert(pool.contains(rows.head.getAs[Long]("vec_id")))
    // MMR scores after round 1 are penalized, so none can exceed round 1's
    val m1 = rows.head.getAs[Double]("mmr")
    rows.drop(1).foreach(r => assert(r.getAs[Double]("mmr") <= m1 + 1e-9))
  }

  test("sim_mmr_rerank: all generated code compiles, so a run with no " +
      "interpreted fallback returns the default run's rows") {
    val default = run("sim_mmr_rerank").toSeq
    // codegen.fallback covers whole-stage code; factoryMode=CODEGEN_ONLY
    // covers the expression projections (the UDF result's encoder)
    val strict = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    strict.foreach { case (k, v) => spark.conf.set(k, v) }
    val got =
      try run("sim_mmr_rerank").toSeq
      finally strict.foreach { case (k, _) => spark.conf.unset(k) }
    assert(got.nonEmpty && got === default)
  }

  test("mine_seq_pattern: journey lengths sum to the event count, counts bounded") {
    val rows = run("mine_seq_pattern")
    val total = rows.map(_.getAs[Long]("seq_len")).sum
    assert(total === Tables.events(spark, sf).count())
    rows.foreach { r =>
      val len = r.getAs[Long]("seq_len")
      assert(r.getAs[Long]("n_click_purchase") <= len / 2)
      assert(r.getAs[Long]("n_signup_purchase") <= len / 2)
    }
  }

  test("dedup_bloom_screen output equals the unscreened fingerprint join (bloom is cost-only)") {
    import org.apache.spark.sql.functions._
    val fp = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(array_join(
        slice(filter(split(trim(col("text")), " "), t => t =!= ""), 1, 8), " ")).as("h"))
    val expect = fp.filter(col("doc_id") >= 300)
      .join(fp.filter(col("doc_id") < 300).select(col("doc_id").as("hist_id"), col("h")), "h")
      .select(col("doc_id"), col("hist_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run("dedup_bloom_screen")
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hist_id"))).toSet
    assert(got === expect, "the bloom layer must never change results")
  }

  test("embed_centroid_drift: cosine in [-1,1], halves cover all vectors, self-drift is zero") {
    val rows = run("embed_centroid_drift")
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum
    assert(total === Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val c = r.getAs[Double]("centroid_cos")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(math.abs(r.getAs[Double]("drift") - (1.0 - c)) < 2e-6)
    }
  }

  test("text_bigram_pmi: counts consistent and PMI recomputes from them") {
    import org.apache.spark.sql.functions._
    val rows = run("text_bigram_pmi")
    assert(rows.length === 20)
    // recompute token totals and one bigram's PMI independently
    val toks = Tables.documents(spark, sf)
      .select(explode(filter(split(trim(col("text")), " "), t => t =!= "")).as("w"))
    val nT = toks.count()
    val uni = toks.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
      val expect = math.log(r.getAs[Long]("n_ab") * 1.0 * nT / (uni(a) * 1.0 * uni(b)))
      assert(math.abs(r.getAs[Double]("pmi") - expect) < 1e-6)
      assert(r.getAs[Long]("n_ab") >= 5)
    }
  }

  test("eval_langid_confusion: cells partition the corpus, rates sum to 1 per language") {
    val rows = run("eval_langid_confusion")
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === Tables.documents(spark, sf).count())
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val fs = rs.map(_.getAs[Double]("frac")).sum
      assert(math.abs(fs - 1.0) < 1e-4, s"per-language rates must sum to 1, got $fs")
    }
  }

  test("agg_rate_ci: interval brackets the rate, proper at boundaries, x <= n") {
    val rows = run("agg_rate_ci")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, x) = (r.getAs[Long]("n"), r.getAs[Long]("x"))
      assert(x >= 0 && x <= n)
      val (rate, lo, hi) = (r.getAs[Long]("rate_micro"),
        r.getAs[Long]("lo_micro"), r.getAs[Long]("hi_micro"))
      assert(lo <= rate && rate <= hi)
      // Wilson never collapses or escapes [0,1] (micro-units: [0, 1e6])
      assert(lo >= 0L && hi <= 1000000L && hi > lo)
    }
  }

  test("sample_neyman_alloc: allocations track n_h*sd and sum to ~budget") {
    val rows = run("sample_neyman_alloc")
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("alloc")).sum
    // per-stratum half-up rounding drifts at most strata/2 from the budget
    assert(math.abs(total - 1000L) <= rows.length,
      s"allocation total $total strays from the 1000 budget")
    val byWeight = rows.sortBy(r => -r.getAs[Long]("n_h") * r.getAs[Double]("sd"))
    val byAlloc = rows.sortBy(r => -r.getAs[Long]("alloc"))
    assert(byWeight.map(_.getAs[String]("event_type")).toSeq ===
      byAlloc.map(_.getAs[String]("event_type")).toSeq,
      "allocation order must follow the N_h*S_h weight order")
  }

  test("graph_assortativity: r in [-1,1], m counts both edge orientations") {
    import org.apache.spark.sql.functions._
    val row = run("graph_assortativity").head
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9)
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    assert(row.getAs[Long]("m") === 2 * pairs)
  }

  test("text_zipf_fit: head slope is negative, r2 in [0,1], head bounded by 1000") {
    val row = run("text_zipf_fit").head
    assert(row.getAs[Long]("n_terms") <= 1000)
    assert(row.getAs[Double]("slope") < 0.0, "rank-frequency must decay")
    val r2 = row.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9)
  }

  test("curation_token_budget matches a driver-side greedy replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        size(filter(split(trim(col("text")), " "), t => t =!= ""))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"),
        (floor(col("n_chars").cast("double") / col("n_tok") * 1e4 + 0.5) / 1e4).as("s"),
        col("n_tok"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("s"), r.getAs[Long]("n_tok")))
      .sortBy { case (id, s, _) => (-s, id) }
    var cum = 0L
    val expect = docs.takeWhile { case (_, _, t) => val keep = cum < 10000; cum += t; keep }
      .map(_._1).toSet
    val got = run("curation_token_budget").map(_.getAs[Long]("doc_id")).toSet
    assert(got === expect, "selection must equal the greedy best-first fill")
  }
}
