package graft.llm

import graft.{QueryModule, Tables}
import graft.functions.PortableRound.pround
import graft.functions.VectorFunctions._
import graft.functions.VecDotNative.{vec_cosine_native, vec_dot_native, vec_norm_native}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One MMR selection round: the row type of `sim_mmr_rerank`'s greedy
  * UDF. Public and top-level because Spark's generated encoder code calls
  * its accessors, which a class private to an object does not expose. */
final case class MmrPick(sel_round: Long, vec_id: Long, mmr: Option[Double])

/** Similarity search over embeddings (SURVEY.md §2.11 L3-L4 + north-star
  * ANN extension).
  *
  * Three tiers, in scale order:
  *  1. `sim_topk_cosine` — brute-force top-K against one query vector:
  *     a single broadcast + scan + TakeOrderedAndProject. At 100 TB this is
  *     the exact baseline (linear scan, embarrassingly parallel).
  *  2. `sim_threshold_join` — pairwise join above a cosine threshold,
  *     equi-blocked on `label` so the quadratic term is bounded per block.
  *     This is the exact scorer; at 100 TB you only run it on candidate
  *     pairs produced by tier 3 (or MinHash — see [[Dedup]]).
  *  3. `sim_ann_lsh` — random-hyperplane LSH (sign-bit signatures →
  *     equality join on bucket → exact re-rank inside the bucket). The
  *     bucket join prunes the candidate set to ~n/2^bits per bucket;
  *     signatures are computed in one codegen stage. This is the 100-TB
  *     scale path (IVF-style: coarse quantize, then exact re-rank).
  */
object Similarity extends QueryModule {

  // Hot paths use the native codegen'd VecDotExpr (7x faster than the
  // higher-order formulation on the sf0.1 pair join, bit-identical results —
  // measured by graft.tools.MicroBench, a removed probe: `git show
  // b3a4326:src/main/scala/graft/tools/MicroBench.scala`); the HOF
  // variants in VectorFunctions remain the portable reference
  // implementation (and handle double arrays).

  /** The query vector: the embedding with the lowest vec_id (deterministic). */
  private def queryVec(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .orderBy($"vec_id").limit(1)
      .select($"embedding".as("qv"))
  }

  /** L3 — exact top-k cosine against the query vector (k parameterized:
    * 10 for the declared query, 5 as [[simAnnRecallEval]]'s ground
    * truth). */
  private[llm] def topkCosine(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(queryVec(spark, sfDir)))
      .withColumn("cos_sim", pround(vec_cosine_native($"embedding", $"qv"), 6))
      .select($"vec_id", $"cos_sim")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(k)
  }

  private def simTopkCosine(spark: SparkSession, sfDir: String): DataFrame =
    topkCosine(spark, sfDir, 10)

  /** Recall@5 of each ANN method against the exact brute-force top-5 —
    * THE acceptance metric an ANN deployment is tuned by (you pick
    * LSH bits / IVF probe counts by exactly this curve; FAISS ships the
    * same evaluation). One row per method: hits = |ANN∩exact|, recall =
    * hits/k. Fully deterministic (both methods and the ground truth are
    * seeded/deterministic pipelines), so the oracle replays all three
    * and must land the identical counts. The query vector itself is a
    * member of both sets by construction (cos = 1 top hit) — the
    * convention FAISS recall benchmarks use.
    *
    * Scale shape (100 TB): each branch is the respective ANN/brute
    * pipeline unchanged (their own scale stories apply); the evaluation
    * itself joins three ≤k-row frames — free. */
  private def simAnnRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gt = topkCosine(spark, sfDir, 5).select($"vec_id")
    def row(method: String, ann: DataFrame): DataFrame =
      ann.select($"vec_id").join(broadcast(gt), Seq("vec_id"), "semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(method).as("method"), lit(5L).as("k"), $"hits",
          pround($"hits".cast("double") / 5, 6).as("recall"))
    row("ivf", simAnnIvf(spark, sfDir))
      .unionByName(row("lsh", simAnnLsh(spark, sfDir)))
      .orderBy($"method")
  }

  /** Matryoshka-style truncation evaluation: recall@10 of the exact
    * cosine top-10 computed on only the LEADING 32 of 64 dimensions
    * against the full-dimension top-10 — the acceptance curve behind
    * MRL/truncated-embedding serving (Kusupati et al. 2022: store the
    * full vector once, serve a prefix; you pick the serving dimension
    * by exactly this recall-vs-dims trade-off, the storage twin of
    * [[simAnnRecallEval]]'s probe-count curve).
    *
    * Scale shape (100 TB): two brute-force branches, each a broadcast
    * query + one linear corpus scan + TakeOrderedAndProject (top-10
    * per partition, 10×partitions rows to the driver-side heap) — the
    * truncated branch reads the SAME column and slices map-side, so
    * there is no second copy of the corpus; the evaluation joins two
    * 10-row frames. */
  private def embedTruncateRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gt = topkCosine(spark, sfDir, 10).select($"vec_id")
    val tr = Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(queryVec(spark, sfDir)))
      .withColumn("cos_sim", pround(
        vec_cosine_native(slice($"embedding", 1, 32), slice($"qv", 1, 32)), 6))
      .select($"vec_id", $"cos_sim")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(10)
      .select($"vec_id")
    tr.join(broadcast(gt), Seq("vec_id"), "semi")
      .agg(count(lit(1)).as("hits"))
      .select(lit(64L).as("dims_full"), lit(32L).as("dims_trunc"),
        lit(10L).as("k"), $"hits",
        pround($"hits".cast("double") / 10, 6).as("recall"))
  }

  /** Hard-negative mining for contrastive training: for each of the 3
    * lowest-id query vectors, the 5 most-cosine-similar vectors whose
    * label DIFFERS from the query's — the "looks alike, isn't" pairs
    * that contrastive/embedding fine-tuning batches are built from
    * (SimCSE/DPR-style in-batch negatives are upgraded with exactly
    * this mined set).
    *
    * Scale shape (100 TB): the query set is tiny and broadcast; the
    * corpus expands ×|queries| map-side (no corpus shuffle to build
    * pairs), and the per-query top-5 goes through a rank window whose
    * `rn <= 5` filter Spark rewrites into a WindowGroupLimit — each
    * map partition forwards at most 5 rows per query, so the one
    * q_id-keyed exchange carries ≤ 5·|queries|·partitions rows, never
    * the scored corpus. */
  private def sampleHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val q = e.orderBy($"vec_id").limit(3)
      .select($"vec_id".as("q_id"), $"label".as("q_label"), $"embedding".as("qv"))
    val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id".asc)
    e.crossJoin(broadcast(q))
      .filter($"label" =!= $"q_label" && $"vec_id" =!= $"q_id")
      .withColumn("cos_sim", pround(vec_cosine_native($"embedding", $"qv"), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"q_id", $"rn", $"vec_id", $"cos_sim")
      .orderBy($"q_id", $"rn")
  }

  /** Greedy k-center coreset selection (Gonzalez 1985), k = 5, cosine
    * distance, seeded at the lowest vec_id: each round picks the vector
    * FARTHEST from the already-selected set — the classic 2-approximation
    * whose selections are the maximally-diverse core subset ("what 5
    * examples best cover this embedding space?"), the diversity-first
    * counterpart of [[sampleHardNegatives]]'s similarity-first mining.
    * Output: (sel_round, vec_id, mind) — mind is the selected point's
    * distance to the prior set, i.e. the shrinking covering radius.
    *
    * Scale shape (100 TB): per round ONE linear pass over the pinned slim
    * (vec_id, embedding, d) frame updates the running min-distance against
    * the single broadcast newest center (no |corpus|×k re-scoring), and
    * the argmax is a 1-row TakeOrderedAndProject; each round's frame pins
    * so round r never recomputes rounds 1..r−1 (k bounded, small — the
    * standard iterative trade; a cluster run checkpoints the same
    * frames). Nothing is collected to the driver. */
  private def coresetKcenter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 5
    val e = graft.rel.Materialize.once(
      Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding"))
    val seed = e.orderBy($"vec_id").limit(1)
    var mind = graft.rel.Materialize.once(
      e.crossJoin(broadcast(seed.select($"embedding".as("sv"))))
        .select($"vec_id", $"embedding",
          (lit(1.0) - vec_cosine_native($"embedding", $"sv")).as("d")))
    var out = seed.select(lit(1L).as("sel_round"), $"vec_id",
      lit(0.0).as("mind"))
    for (r <- 2 to k) {
      val nxt = mind.orderBy($"d".desc, $"vec_id".asc).limit(1)
      out = out.unionByName(nxt.select(lit(r.toLong).as("sel_round"),
        $"vec_id", pround($"d", 6).as("mind")))
      if (r < k) mind = graft.rel.Materialize.once(
        mind.crossJoin(broadcast(nxt.select($"embedding".as("sv"))))
          .select($"vec_id", $"embedding",
            least($"d", lit(1.0) - vec_cosine_native($"embedding", $"sv"))
              .as("d")))
    }
    out.orderBy($"sel_round")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein SIGIR'98)
    * of the dense top-20: select 5 results maximizing
    * 0.7·relevance − 0.3·max-similarity-to-already-selected — the
    * diversity-aware final stage of a retrieval stack (every RAG reranker
    * exposes exactly this λ knob), applying [[coresetKcenter]]'s
    * farthest-point idea WITHIN a relevance-bounded candidate pool
    * instead of over the whole corpus.
    *
    * Scale shape (100 TB): the corpus appears only in the candidate
    * top-20 (broadcast query + linear scan + TakeOrderedAndProject —
    * [[topkCosine]]'s story); the greedy k-round selection then FOLDS
    * into one pass over the pool's precomputed pairwise cosines (≤190
    * pairs — bounded by the pool, independent of corpus size): the
    * unrolled per-round variant ran k driver-sequenced broadcast+limit(1)
    * jobs over a ≤20-row frame, pure job-scheduling cost (guide §1.2;
    * round-15 verdict item #1). Relevance enters the MMR objective
    * pre-rounded (1e-6) and every pairwise cosine comes from the same
    * [[vec_cosine_native]] expression the round loop evaluated, so the
    * folded argmax compares bit-identical doubles and replays the
    * identical trajectory (ties by vec_id, Spark's NaN/−0.0 total order).
    */
  private def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 5
    val cand = graft.rel.Materialize.once(
      Tables.embeddings(spark, sfDir)
        .crossJoin(broadcast(queryVec(spark, sfDir)))
        .withColumn("rel", pround(vec_cosine_native($"embedding", $"qv"), 6))
        .select($"vec_id", $"embedding", $"rel")
        .orderBy($"rel".desc, $"vec_id".asc)
        .limit(20))
    // Unordered pairwise cosines over the pinned pool (cos is bitwise
    // symmetric: per-element products commute and the accumulation order
    // is the dimension index either way), one row per a_id < b_id pair.
    val pairs = cand.as("x").join(cand.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        vec_cosine_native(col("x.embedding"), col("y.embedding")).as("sim"))
    // (id, tag, value) tuples packed as double arrays (a typed UDF cannot
    // take Row args; vec_ids are < 2^53 so the double round-trip is
    // exact). tag 0 marks a NULL value (all-null embeddings yield null
    // cosines — EmptyInputSpec's null-propagation surface): the UDF's
    // array elements must be non-null, so null rides out-of-band.
    val packed = cand.select($"vec_id", $"rel")
      .agg(collect_list(array($"vec_id".cast("double"),
        when($"rel".isNull, 0.0).otherwise(1.0),
        coalesce($"rel", lit(0.0)))).as("cs"))
      .crossJoin(pairs.agg(collect_list(array($"a_id".cast("double"),
        $"b_id".cast("double"),
        when($"sim".isNull, 0.0).otherwise(1.0),
        coalesce($"sim", lit(0.0)))).as("ps")))
    packed
      .select(explode(mmrGreedyUdf($"cs", $"ps", lit(k))).as("s"))
      .select($"s.sel_round".as("sel_round"), $"s.vec_id".as("vec_id"),
        $"s.mmr".as("mmr"))
      .orderBy($"sel_round")
  }

  /** One greedy MMR selection over a single aggregated row of the bounded
    * candidate pool (≤20 rows, ≤190 pairs) — NOT corpus data; the corpus
    * path stays the codegen'd top-20 heap above. Replays the exact
    * trajectory of the unrolled round loop: round 1 = max rel, rounds
    * 2..k = max(0.7·rel − 0.3·max-sim-to-selected), all ties to the
    * smallest vec_id, argmax comparisons in Spark's double total order
    * (NaN greatest, −0.0 = 0.0), outputs rounded by the portable
    * floor(x·1e6 + 0.5)/1e6 — term-for-term the expressions the loop
    * evaluated, so results are bit-identical. */
  private lazy val mmrGreedyUdf =
    udf((cs: Seq[Seq[Double]], ps: Seq[Seq[Double]], k: Int) => {
      // portable round, the Column pround's scalar twin (floor → BIGINT)
      def r6(x: Double): Double =
        if (math.abs(x) < Double.PositiveInfinity)
          math.floor(x * 1e6 + 0.5).toLong / 1e6
        else x
      // Spark sort semantics: NaN greatest, −0.0 normalized to 0.0;
      // values are Option[Double] (None = SQL NULL, sorted LAST in the
      // loop's `orderBy(x.desc)` — desc is NULLS LAST by default).
      def norm(x: Double): Double = if (x == 0.0) 0.0 else x
      def pick(cands: Iterator[(Long, Option[Double])]): (Long, Option[Double]) =
        cands.reduceLeft { (p, q) =>
          (p._2, q._2) match {
            case (Some(pv), Some(qv)) =>
              val c = java.lang.Double.compare(norm(pv), norm(qv))
              if (c > 0) p else if (c < 0) q
              else if (p._1 <= q._1) p else q
            case (Some(_), None) => p
            case (None, Some(_)) => q
            case (None, None) => if (p._1 <= q._1) p else q
          }
        }
      def unpack(tag: Double, v: Double): Option[Double] =
        if (tag == 0.0) None else Some(v)
      val rel = cs.map(a => a(0).toLong -> unpack(a(1), a(2))).toMap
      val sim = new scala.collection.mutable.HashMap[(Long, Long), Option[Double]]
      ps.foreach { a =>
        val x = a(0).toLong; val y = a(1).toLong; val s = unpack(a(2), a(3))
        sim((x, y)) = s; sim((y, x)) = s
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      var remaining = rel.keySet
      if (remaining.nonEmpty) {
        val (first, frel) = pick(remaining.iterator.map(id => (id, rel(id))))
        out += MmrPick(1L, first, frel.map(r6))
        remaining -= first
        val ms = scala.collection.mutable.HashMap.empty[Long, Option[Double]]
        remaining.foreach(id => ms(id) = sim((id, first)))
        var r = 2
        while (r <= k && remaining.nonEmpty) {
          // 0.7·rel − 0.3·ms with SQL null propagation (null if either null)
          def raw(id: Long): Option[Double] = for {
            rv <- rel(id); mv <- ms(id)
          } yield 0.7 * rv - 0.3 * mv
          val (bid, braw) = pick(remaining.iterator.map(id => (id, raw(id))))
          out += MmrPick(r.toLong, bid, braw.map(r6))
          remaining -= bid
          if (r < k) remaining.foreach { id =>
            // greatest(ms, cos) — SQL greatest SKIPS nulls (null only if
            // both are null), comparisons in the same total order
            val s2 = sim((id, bid))
            ms(id) = (ms(id), s2) match {
              case (Some(a), Some(b)) =>
                if (java.lang.Double.compare(b, a) > 0) Some(b) else Some(a)
              case (a, None) => a
              case (None, b) => b
            }
          }
          r += 1
        }
      }
      out.toSeq
    })

  /** L4 — pairwise similarity join above a threshold, label-blocked:
    * quadratic WITHIN a block, so it's the exact scorer for bounded blocks.
    * The unbounded 100-TB path is [[simThresholdLsh]] (`sim_threshold_lsh`),
    * which feeds this same exact verify from LSH candidates instead. */
  private def simThresholdJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Norms are per-ROW, so compute them once before the pair join — inside
    // the join each pair would otherwise redo dot(a,a) and dot(b,b), tripling
    // the O(pairs·dim) work (measured 3x on sf0.1).
    val e = Tables.embeddingsSpread(spark, sfDir)
      .withColumn("nrm", vec_norm_native($"embedding"))
    val a = e.select($"vec_id".as("a_id"), $"label".as("a_label"),
      $"embedding".as("va"), $"nrm".as("na"))
    val b = e.select($"vec_id".as("b_id"), $"label".as("b_label"),
      $"embedding".as("vb"), $"nrm".as("nb"))
    a.join(b, $"a_label" === $"b_label" && $"a_id" < $"b_id")
      .withColumn("cos_sim",
        graft.functions.VecDotNative.vec_cosine_prenorm($"va", $"vb", $"na", $"nb"))
      .filter($"cos_sim" >= 0.35)
      .select($"a_id", $"b_id", pround($"cos_sim", 6).as("cos_sim"))
      .orderBy($"a_id", $"b_id")
  }

  /** Deterministic random hyperplanes (seeded) for sign-bit LSH. FLOAT
    * components so the fused [[graft.functions.VecSignBandsExpr]] applies
    * (float→double widening is exact; the oracle inlines the widened
    * doubles). */
  private lazy val planes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(8)(Seq.fill(64)(rnd.nextGaussian().toFloat))
  }

  /** 8-bit sign signature of an embedding against the fixed hyperplanes —
    * one band of 8 rows through the fused native expression (the previous
    * higher-order `aggregate` fold was CodegenFallback: Catalyst
    * interprets HOF lambdas per element — see the memory in SURVEY §4;
    * same left-to-right double dots, bit 7-j weighting, identical
    * signatures). */
  private def signature(v: Column): Column =
    element_at(
      graft.functions.VecDotNative.vec_sign_bands(
        v, typedLit(planes.flatten), 1, 8), 1)

  /** North-star ANN — LSH-bucketed approximate top-5: compare only vectors
    * whose 8-bit signature equals the query's, exact cosine re-rank inside
    * the bucket. Oracle-checked (seeded planes + double arithmetic are
    * deterministic; the oracle inlines the plane constants); LlmSpec asserts recall
    * against the brute-force baseline. */
  private def simAnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("sig", signature($"embedding"))
    val q = e.orderBy($"vec_id").limit(1)
      .select($"embedding".as("qv"), $"sig".as("qsig"))
    e.join(broadcast(q), $"sig" === $"qsig")
      .withColumn("cos_sim", pround(vec_cosine_native($"embedding", $"qv"), 6))
      .select($"vec_id", $"cos_sim")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(5)
  }

  /** Hyperplanes for the THRESHOLD-join candidate generator: 64 seeded
    * planes banded 8×8. Components are FLOATs so both sides of every dot
    * are array<float> and the codegen'd [[VecDotExpr]] fast path applies
    * (the per-row signature is 64 fused primitive loops, no HOF fallback);
    * the oracle inlines the exact widened doubles (`Float→Double` is exact
    * and `Double.toString` round-trips), so DuckDB recomputes identical
    * signatures. */
  private lazy val threshPlanes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(64)(Seq.fill(64)(rnd.nextGaussian().toFloat))
  }
  private val ThreshBands = 8
  private val ThreshRows = 8

  /** The SCALE geometry's hyperplanes: 8 bands × 24 rows (r ≈ log₂ n for
    * corpora in the 10⁵-10⁷ range — the ladder measured in SCALE.md
    * round-10, `tools/ProfLshScale`, a removed probe: `git show
    * b3a4326:src/main/scala/graft/tools/ProfLshScale.scala`). Same seed
    * stream, so the first 64 planes coincide with [[threshPlanes]]. */
  private lazy val threshPlanesWide: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(WideBands * WideRows)(Seq.fill(64)(rnd.nextGaussian().toFloat))
  }
  private val WideBands = 8
  private val WideRows = 24

  // (All sign-bands of an embedding come from a single
  // [[graft.functions.VecSignBandsExpr]] pass inside thresholdLshPairs —
  // the per-band formulation, 64 separate `vec_dot_native` columns,
  // generated one huge Janino method past HotSpot's JIT bytecode
  // threshold and ran INTERPRETED, ~10 µs per dot; one compact
  // nested-loop expression JIT-compiles and computes the identical
  // doubles — measured 5x on the full query, tools/ProfLsh, a removed
  // probe: `git show b3a4326:src/main/scala/graft/tools/ProfLsh.scala`.)

  /** The UNBOUNDED threshold join: LSH candidates → exact verify — the
    * scale path that replaces [[simThresholdJoin]]'s label blocking (and
    * [[Dedup]]'s `dedup_embed_cosine` blocking) at 100 TB. Sign-bit
    * banding theory at τ = 0.35: a pair at the threshold agrees per bit
    * with p = 1 - arccos(0.35)/π ≈ 0.614, so per 8-bit band p⁸ ≈ 0.020 and
    * recall ≈ 1-(1-0.020)⁸ ≈ 0.15 at the threshold boundary, rising fast
    * with similarity (recall → 1 for near-duplicates, the regime LSH
    * serves; approximate BY DESIGN — more bands buy recall linearly in
    * cost). A random pair of this near-orthogonal corpus (median cos ≈ 0)
    * passes a band with 2⁻⁸, so the expected random-collision candidate
    * count is n²·b·2⁻ʳ⁻¹ — the term that dictates geometry: ROWS PER BAND
    * must grow ~log₂(n) to keep buckets from saturating as the corpus
    * grows (measured in SCALE.md's 10× probe). τ = 0.35 sits near
    * sign-LSH's discrimination limit (p_τ/p_rand = 1.23); genuinely
    * moderate-threshold joins at 100 TB pair better with data-dependent
    * blocking (the [[simAnnIvf]] centroid route), while LSH owns the
    * high-similarity dedup regime.
    * Candidate generation is a near-linear shuffle on (band, bucket)
    * carrying IDS ONLY; full vectors re-attach to the (small) candidate
    * set for the exact verify. The whole pipeline is deterministic, so the
    * oracle replays it end-to-end exactly like `dedup_minhash`. */
  private def simThresholdLsh(spark: SparkSession, sfDir: String): DataFrame =
    thresholdLshPairs(spark, sfDir, threshPlanes, ThreshBands, ThreshRows)

  /** [[simThresholdLsh]] at its SCALE geometry: same pipeline, r = 24
    * rows per band. The fixture geometry's random-collision term
    * n²·b·2⁻ʳ⁻¹ is right at the gate corpora but quadratic-by-law at a
    * 100× corpus (measured as the executor-killing spill the SCALE.md
    * round-10 ladder replaces); r ≈ log₂(n) restores the near-linear
    * candidate budget, and the recall cost at fixed τ is the documented
    * b-for-recall trade (a production deployment grows b alongside —
    * linear cost, exponential candidate suppression). Oracle-checked at
    * sf0.01 AND the 100× uniqtext corpus, where the r=8 geometry cannot
    * complete. */
  private def simThresholdLshWide(spark: SparkSession, sfDir: String): DataFrame =
    thresholdLshPairs(spark, sfDir, threshPlanesWide, WideBands, WideRows,
      input = Some(plantedEmbeddings(spark, sfDir)))

  /** Planted near-duplicates for the WIDE geometry's gate fixture: the
    * r = 24 bands are calibrated for 10⁵-10⁷-row corpora, where true
    * near-duplicates exist; at gate scale (5k near-orthogonal vectors)
    * they correctly suppress every pair, which made the r10 oracle row
    * pass on 0 = 0 — vacuous (round-10 verdict task 2). Derive a
    * deterministic handful of EXACT duplicate vectors from the fixture
    * itself (lowest `PlantN` non-zero-norm vec_ids, re-keyed past the id
    * space): identical vectors collide in every band, so the gate row now
    * proves the candidate-join + exact-verify path emits real pairs. The
    * oracle replants the identical rows in SQL, so the hash contract
    * covers the planting too. */
  // Far above any plausible corpus id space (the wide geometry is run on
  // 10^5–10^7-row corpora; at 10^7 the old 10^7 offset would collide
  // planted ids with organic ones and break pair attribution even though
  // the hash contract still passed — round-11 advice). 2^53-scale keeps
  // exact in doubles AND DuckDB's BIGINT arithmetic.
  private val PlantOffset = 1000000000000000L
  private val PlantN = 4
  private def plantedEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding", $"label")
    val dup = e.filter(vec_norm_native($"embedding") > 0)
      .orderBy($"vec_id").limit(PlantN)
      .select(($"vec_id" + PlantOffset).as("vec_id"), $"embedding", $"label")
    e.unionByName(dup)
  }

  private def thresholdLshPairs(spark: SparkSession, sfDir: String,
      planes: Seq[Seq[Float]], bands: Int, rows: Int,
      input: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val e = input.getOrElse(Tables.embeddings(spark, sfDir))
      .withColumn("nrm", vec_norm_native($"embedding"))
    // Materialize the banded signatures ONCE before the self-join: both
    // join inputs (and the SMJ sort on each) otherwise re-derive the
    // 64-hyperplane signature subtree per side — measured 5x the whole
    // query at sf0.1 (2.0 s -> 0.42 s, tools/ProfLsh, a removed probe:
    // `git show b3a4326:src/main/scala/graft/tools/ProfLsh.scala`). The
    // relation is (vec_id, band, bv) — b·n tiny rows; at cluster scale this is the
    // standard persist-signatures-then-join shape (lineage kept: a lost
    // block recomputes instead of killing the job).
    val banded = graft.rel.Materialize.pin(e
      .select($"vec_id", graft.functions.VecDotNative.vec_sign_bands(
        $"embedding", typedLit(planes.flatten), bands, rows).as("sb"))
      .select($"vec_id", posexplode($"sb").as(Seq("band", "bv"))))._1
    val cand = banded.select($"band", $"bv", $"vec_id".as("a_id"))
      .join(banded.select($"band", $"bv", $"vec_id".as("b_id")), Seq("band", "bv"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
    cand
      .join(e.select($"vec_id".as("a_id"), $"embedding".as("va"), $"nrm".as("na")), Seq("a_id"))
      .join(e.select($"vec_id".as("b_id"), $"embedding".as("vb"), $"nrm".as("nb")), Seq("b_id"))
      .withColumn("cos_sim",
        graft.functions.VecDotNative.vec_cosine_prenorm($"va", $"vb", $"na", $"nb"))
      .filter($"cos_sim" >= 0.35)
      .select($"a_id", $"b_id", pround($"cos_sim", 6).as("cos_sim"))
      .orderBy($"a_id", $"b_id")
  }

  /** North-star ANN, IVF flavor: a fixed set of coarse centroids (the
    * first `nCentroids` vectors — deterministic, training-free seeding, the
    * degenerate case of k-means|| init), every vector assigned to its
    * nearest centroid (inverted lists), then exact re-rank only inside the
    * query's list. One N×k assignment pass (k tiny, broadcast) + a
    * bucket-local scan — the other standard coarse-quantization scale path
    * next to [[simAnnLsh]]. Oracle-checked (deterministic end-to-end:
    * leading-16 centroids, bit-exact double cosine); LlmSpec checks the
    * query's own list contains it and results ⊆ brute force. */
  /** Nearest-centroid assignment over the leading-16 IVF centroids: N×16
    * dots, then a min_by AGGREGATE (not a row_number window — the window
    * sorts every vector's candidate list; the aggregate is one
    * partial+final hash agg with no sort). The ordering struct (dist,
    * cid) is a total order per vector, so the argmin is deterministic
    * and identical to the oracle's rank-1 row. Shared by [[simAnnIvf]]
    * (the search) and [[simAnnIvfCellStats]] (the diagnostic). */
  private def ivfAssigned(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // norms precompute per ROW before the N×16 cross join (the prenorm
    // pattern): inside the join the guarded cosine would redo both
    // dot(v,v) dots per pair — 16× redundant on the vector side.
    // NOT materialized (round-16 adjudication of the round-15 pin: the
    // r15 driver had the pinned form 0.232→0.306 s and a fresh 3×
    // interleaved A/B measured the pin at best a wash — the full-width
    // cache round-trip costs what the 16-row seed consumer's recompute
    // saves; same verdict as simAnnIvfPq's rejected pin).
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("nrm", vec_norm_native($"embedding"))
    val centroids = e.orderBy($"vec_id").limit(16)
      .select($"vec_id".as("cid"), $"embedding".as("cv"), $"nrm".as("cnrm"))
    e.crossJoin(broadcast(centroids))
      .withColumn("dist", lit(1.0) - graft.functions.VecDotNative
        .vec_cosine_prenorm($"embedding", $"cv", $"nrm", $"cnrm"))
      .groupBy($"vec_id")
      .agg(min_by(struct($"cid", $"embedding"), struct($"dist", $"cid")).as("m"))
      .select($"vec_id", $"m.embedding".as("embedding"), $"m.cid".as("cid"))
  }

  private def simAnnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assigned = ivfAssigned(spark, sfDir)
    val qAssigned = assigned.orderBy($"vec_id").limit(1)
      .select($"embedding".as("qv"), $"cid".as("qcid"))
    assigned.join(broadcast(qAssigned), $"cid" === $"qcid")
      .withColumn("cos_sim", pround(vec_cosine_native($"embedding", $"qv"), 6))
      .select($"vec_id", $"cos_sim")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(5)
  }

  /** IVF cell-occupancy stats — the skew diagnostic for the inverted-file
    * family (the ANN analogue of `graph_degree_hist`): a hot cell is THE
    * IVF failure mode (probing it scans a corpus-sized list; at serving
    * scale that one cell IS the latency tail), an empty neighborhood
    * wastes probes. Run before choosing nCells/nProbes, exactly as the
    * degree histogram runs before committing to an iterative graph
    * algorithm. One row per cell: occupancy and corpus share.
    *
    * Scale shape (100 TB): the assignment is the same N×k broadcast pass
    * the search uses; the stats are one partial-aggregated groupBy to k
    * rows. Output bounded by the (tiny) cell count. */
  private def simAnnIvfCellStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assigned = ivfAssigned(spark, sfDir)
    // ≤16 rows, but two consumers (itself + its total) — materialize so
    // the corpus assignment pass runs once, not twice
    val cells = graft.rel.Materialize.once(
      assigned.groupBy($"cid").agg(count(lit(1)).as("n_vectors")))
    cells
      .crossJoin(broadcast(cells.agg(sum($"n_vectors").as("n_total"))))
      .select($"cid", $"n_vectors",
        pround($"n_vectors".cast("double") / $"n_total", 6).as("share"))
      .orderBy($"cid")
  }

  /** Per-dimension min–max scalar quantization of the embedding column to
    * uint8 codes — the standard storage/serving compression for a corpus-
    * scale vector store (4x smaller than float32 before any codec). Two
    * passes, both linear: (1) per-dimension min/max via posexplode + one
    * partial+final aggregation into a SINGLE 64-entry scales row (dims are
    * a constant, so the collect_list aggregate is bounded by dimension,
    * never by corpus size); (2) the scales row broadcasts back and every
    * vector quantizes map-side in one codegen'd `transform`. All arithmetic
    * is float→double IEEE ops in identical order in both engines, so codes
    * are bit-exact, not approximately equal.
    *
    * Output is the EXPLODED (vec_id, pos, code) form, not the code array:
    * the verify gate canonicalizes results by sorting rows, which needs
    * every output column scalar — an `array<int>` column is unsortable in
    * the driver's compare (round-5 finding). The array form is a
    * `group_by(vec_id).agg(sort_array(collect_list(...)))` away and loses
    * nothing. */
  private def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val scales = e
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"pos")
      .agg(min($"x".cast("double")).as("mn"), max($"x".cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct($"pos", $"mn", $"mx"))).as("s"))
      .select(transform($"s", s => s.getField("mn")).as("mn"),
        transform($"s", s => s.getField("mx")).as("mx"))
    e.crossJoin(broadcast(scales))
      .select($"vec_id",
        posexplode(transform($"embedding", (x, i) => {
          val mn = element_at($"mn", i + 1)
          val mx = element_at($"mx", i + 1)
          when(mx === mn, lit(0))
            .otherwise(floor((x.cast("double") - mn) / (mx - mn) * 255 +
              lit(0.5)).cast("int"))
        })).as(Seq("pos", "code")))
      .select($"vec_id", $"pos".cast("long").as("pos"), $"code")
      .orderBy($"vec_id", $"pos")
  }

  /** Output dimensionality of the random projection. */
  private val RpOutDims = 16

  /** Johnson–Lindenstrauss random projection 64 → 16 dims with a ±1
    * (Achlioptas) sign matrix — the storage/compute reduction applied
    * BEFORE indexing a corpus-scale vector store (4× fewer floats per
    * vector, pairwise distances preserved within the JL distortion
    * bound). Complements [[embedQuantize]] (which narrows the value
    * type; this narrows the dimension).
    *
    * Scale shape (100 TB): the sign matrix is NEVER stored — each ±1
    * entry regenerates from md5(i_j) parity, so both engines (and every
    * executor) derive the identical matrix from nothing. The projection
    * is posexplode (map-side, 64 rows/vec) ⋈ broadcast(1024-row plane
    * dim) → one partial+final agg on (vec, out-dim): the only shuffle
    * carries 16 partial sums per vector. No driver-side matrix, no
    * collect. */
  private def embedRandomProjection(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val planes = spark.range(64).select($"id".cast("int").as("i"))
      .crossJoin(spark.range(RpOutDims).select($"id".cast("int").as("j")))
      .withColumn("s", when(
        conv(substring(md5(concat($"i".cast("string"), lit("_"),
          $"j".cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 0,
        lit(1.0)).otherwise(lit(-1.0)))
    Tables.embeddingsSpread(spark, sfDir)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "x")))
      .select($"vec_id", $"pos".cast("int").as("i"), $"x")
      .join(broadcast(planes), "i")
      .groupBy($"vec_id", $"j")
      .agg(sum($"x".cast("double") * $"s").as("dot"))
      // 0.25 = 1/sqrt(16): the JL scaling, exact in binary
      .select($"vec_id", $"j".cast("long").as("j"),
        pround($"dot" * 0.25, 4).as("z"))
      .orderBy($"vec_id", $"j")
  }

  private val PqM = 4        // subspaces
  private val PqSubDim = 16  // dims per subspace (fixture dim 64 = 4×16)
  private val PqK = 4        // centroids per subspace codebook

  /** Portable squared L2 over double arrays: left-to-right fold, matching
    * DuckDB's `list_sum(list_transform(...))` accumulation order. Runs as
    * the fused native loop ([[graft.functions.VecL2SqExpr]]) — the
    * previous `aggregate(zip_with(...))` higher-order form was
    * CodegenFallback (interpreted per element, one squared-diff array
    * allocated per pair) on the N×k assignment joins; identical
    * left-to-right double arithmetic, bit-identical results. */
  private def pqDist2(a: Column, c: Column): Column =
    graft.functions.VecDotNative.vec_l2sq_native(a, c)

  /** North-star ANN, PRODUCT-QUANTIZATION flavor (Jégou et al. 2011) —
    * the fourth rung of the ANN ladder after brute force
    * ([[simTopkCosine]]), sign-LSH ([[simAnnLsh]]) and coarse IVF
    * ([[simAnnIvf]]): split each vector into M=4 subvectors, train a
    * tiny k=4 Lloyd codebook PER SUBSPACE (2 iterations, deterministic
    * lowest-id seeding — the [[Clustering]] trajectory generalized by a
    * `sub` group key, so ALL subspaces train in the same relational
    * pass), encode every vector as its 4 nearest-centroid ids, and
    * answer the query with an Asymmetric Distance Computation: one
    * M×k = 16-entry lookup table of exact query-to-centroid distances,
    * each candidate scored by summing its 4 table cells.
    *
    * Cross-engine determinism: per-cell distances round once to integer
    * NANO units in the 16-row table; per-vector ADC is then a BIGINT sum
    * — order-independent, so the oracle replays the full two-iteration
    * codebook + encode + ADC trajectory hash-exact.
    *
    * Scale shape (100 TB): codebooks are k·M subvector centroids (KBs,
    * broadcast); encoding is one broadcast-join + partial-agg argmin per
    * subspace — the corpus never hash-shuffles; the ADC table is 16 rows
    * and the scan scores candidates map-side, so query cost is a single
    * sum per vector over PRE-QUANTIZED codes (the point of PQ: at serving
    * scale the float embeddings aren't touched at all — codes are 4 bytes
    * a vector vs 256). Top-10 via TakeOrderedAndProject. */
  /** Subvector decomposition: one row per (vec, subspace), the shared
    * input of PQ training, encoding, and the ADC table. */
  private def pqSubs(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select($"vec_id", explode(expr(
        s"""transform(sequence(0, ${PqM - 1}),
           |  s -> struct(s AS sub,
           |    transform(slice(embedding, s * $PqSubDim + 1, $PqSubDim),
           |              x -> CAST(x AS DOUBLE)) AS v))""".stripMargin)).as("sv"))
      .select($"vec_id", $"sv.sub".as("sub"), $"sv.v".as("v"))
  }

  /** Nearest-codebook-centroid assignment per (vec, subspace) — broadcast
    * join + partial-agg argmin, deterministic (d2, cid) tiebreak. */
  private def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    import subs.sparkSession.implicits._
    subs.join(broadcast(cents), Seq("sub"))
      .withColumn("d2", pround(pqDist2($"v", $"cvec"), 9))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"d2", $"cid")).as("r"), first($"v").as("v"))
      .select($"vec_id", $"sub", $"r.cid".as("cid"), $"r.d2".as("d2"), $"v")
  }

  /** Lloyd recenter step: per-(sub, cid, dim) mean, reassembled in dim
    * order at portable 6-decimal rounding. */
  private def pqRecenter(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned
      .select($"sub", $"cid", posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"sub", $"cid", $"pos")
      .agg(avg($"x").as("m"))
      .groupBy($"sub", $"cid")
      .agg(transform(
        array_sort(collect_list(struct($"pos", $"m"))),
        s => pround(s.getField("m"), 6)).as("cvec"))
  }

  /** The trained codebook (2-iteration Lloyd from lowest-id seeds), the
    * per-vector PQ codes, and the query ADC table — shared by
    * [[simAnnPq]] (flat PQ) and [[simAnnIvfPq]] (IVF-pruned PQ). */
  private def pqArtifacts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val (subs, c1, dtab) = pqCore(spark, sfDir)
    (pqAssign(subs, c1).select(col("vec_id"), col("sub"), col("cid")), dtab)
  }

  /** The shared PQ trajectory WITHOUT the corpus encode: the decomposed
    * subvectors, the trained codebook and the query ADC table — so
    * [[simAnnIvfPq]] can encode only its IVF-pruned candidates (guide
    * §2.3: don't compute codes the semi-join immediately drops) while
    * [[simAnnPq]] encodes everything. */
  private def pqCore(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    // subs feeds FOUR subplans (seeding, both assignment passes, the query
    // row) and c1 feeds two (encoding, the ADC table) — materialize each
    // once so the slice-decompose scan and the whole train pass don't
    // re-execute per consumer (guide §2.4: multi-consumer subtrees compute
    // once; same contract as the LSH banded-signature pin).
    val subs = graft.rel.Materialize.once(
      pqSubs(Tables.embeddings(spark, sfDir)))
    val c0 = subs.filter($"vec_id" < PqK)
      .select($"sub", $"vec_id".as("cid"), $"v".as("cvec"))
    val c1 = graft.rel.Materialize.once(pqRecenter(pqAssign(subs, c0)))
    val q = subs.filter($"vec_id" === 0).select($"sub", $"v".as("qv"))
    val dtab = c1.join(q, Seq("sub"))
      .select($"sub", $"cid",
        floor(pqDist2($"qv", $"cvec") * 1e9 + 0.5).cast("long").as("nano"))
    (subs, c1, dtab)
  }

  /** PQ quantization-DISTORTION evaluation: per subspace, the mean
    * squared reconstruction error of the trained codebook (avg over
    * vectors of d²(subvector, its assigned centroid)) — the acceptance
    * metric that pairs with [[simAnnRecallEval]]'s recall (FAISS reports
    * exactly these two when tuning M/k: distortion bounds the ADC score
    * error, so a hot subspace with high MSE tells you where to spend
    * codebook bits). Trains the SAME 2-iteration codebook as
    * [[simAnnPq]] (same helpers, same seeds), so the reported distortion
    * is the distortion of the codebook the ANN queries actually serve.
    *
    * Scale shape (100 TB): the assignment is the same broadcast-join +
    * partial-agg argmin the encoder runs (the corpus never
    * hash-shuffles); the eval reduces to M=4 rows in one more bounded
    * aggregation. Determinism: per-(vec, sub) d² rounds once to 1e-9 (so
    * the nano cast is exact), the per-subspace sum is a BIGINT, and the
    * MSE is one double division. */
  private def embedPqDistortion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // three consumers of the decomposed corpus (seeding + two assignment
    // passes) — materialize once, as in [[pqArtifacts]]
    val subs = graft.rel.Materialize.once(
      pqSubs(Tables.embeddings(spark, sfDir)))
    val c0 = subs.filter($"vec_id" < PqK)
      .select($"sub", $"vec_id".as("cid"), $"v".as("cvec"))
    val c1 = pqRecenter(pqAssign(subs, c0))
    pqAssign(subs, c1)
      .select($"sub", floor($"d2" * 1e9 + 0.5).cast("long").as("nano"))
      .groupBy($"sub")
      .agg(count(lit(1)).as("n_vecs"), sum($"nano").as("sum_nano"))
      .select($"sub".cast("long").as("sub"), $"n_vecs",
        pround($"sum_nano" / ($"n_vecs" * 1e9), 6).as("mse"))
      .orderBy($"sub")
  }

  private def simAnnPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (codes, dtab) = pqArtifacts(spark, sfDir)
    codes.join(broadcast(dtab), Seq("sub", "cid"))
      .groupBy($"vec_id")
      .agg(sum($"nano").as("adc_d2_nano"))
      .filter($"vec_id" =!= 0)
      .orderBy($"adc_d2_nano".asc, $"vec_id".asc)
      .limit(10)
  }

  /** How many coarse cells the IVF-PQ query probes. */
  private val IvfPqProbes = 4

  /** North-star ANN, IVF-PQ composite (the Jégou et al. 2011 production
    * deployment shape — FAISS `IVFx,PQy`): the coarse quantizer
    * ([[simAnnIvf]]'s 16 leading-id centroids) partitions the corpus into
    * inverted lists; the query probes its [[IvfPqProbes]] nearest cells
    * and scores ONLY those lists' vectors, by PQ ADC lookup
    * ([[simAnnPq]]'s codes + 16-entry table) — never touching a float
    * embedding at query time.
    *
    * Scale shape (100 TB): both prunings compose multiplicatively —
    * candidates shrink to (nprobe/k)·N and each candidate costs an
    * M-entry table sum over 4-byte codes instead of a 256-byte float dot.
    * Coarse assignment and encoding are broadcast-join + partial-agg
    * argmins (the corpus never hash-shuffles); the probed-cell filter is
    * a broadcast semi-join of a 4-row frame. Deterministic end-to-end
    * ((dist, cid) tiebreaks, nano-integer ADC), so the oracle replays the
    * whole trajectory hash-exact. */
  private def simAnnIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // NOT materialized (measured: pinning this frame regressed the query
    // 1.28→1.48 iso — the cache round-trip of the full-width corpus costs
    // more than recomputing the cheap norms for the 16-row seed/qcell
    // consumers; the expensive PQ side has its own pins in pqArtifacts)
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("nrm", vec_norm_native($"embedding"))
    val centroids = e.orderBy($"vec_id").limit(16)
      .select($"vec_id".as("ccell"), $"embedding".as("cv"), $"nrm".as("cnrm"))
    def cdist = lit(1.0) - graft.functions.VecDotNative
      .vec_cosine_prenorm($"embedding", $"cv", $"nrm", $"cnrm")
    val coarse = e.crossJoin(broadcast(centroids))
      .withColumn("dist", cdist)
      .groupBy($"vec_id")
      .agg(min_by($"ccell", struct($"dist", $"ccell")).as("ccell"))
    val qcells = e.filter($"vec_id" === 0).crossJoin(broadcast(centroids))
      .withColumn("dist", cdist)
      .orderBy($"dist".asc, $"ccell".asc)
      .limit(IvfPqProbes)
      .select($"ccell")
    val cand = coarse.join(broadcast(qcells), Seq("ccell"))
      .select($"vec_id")
    // Encode ONLY the probed cells' vectors (guide §2.3 — the previous
    // form PQ-encoded the whole corpus and then semi-joined the codes
    // away: (1 − nprobe/nCells) of the encode argmin work was computed
    // and dropped). The semi-join moves BELOW the encode; per-(vec, sub)
    // codes are row-local (broadcast codebook, argmin within the row's
    // own 4 centroid candidates), so surviving vectors' codes are
    // identical and the oracle trajectory is unchanged.
    val (subs, c1, dtab) = pqCore(spark, sfDir)
    val codes = pqAssign(
        subs.join(broadcast(cand), Seq("vec_id"), "left_semi"), c1)
      .select($"vec_id", $"sub", $"cid")
    codes
      .join(broadcast(dtab), Seq("sub", "cid"))
      .groupBy($"vec_id")
      .agg(sum($"nano").as("adc_d2_nano"))
      .filter($"vec_id" =!= 0)
      .orderBy($"adc_d2_nano".asc, $"vec_id".asc)
      .limit(10)
  }

  override def queries: Map[String, QueryFn] = Map(
    "sim_ann_ivf_pq"     -> simAnnIvfPq,
    "sim_ann_pq"         -> simAnnPq,
    "embed_pq_distortion" -> embedPqDistortion,
    "embed_quantize"     -> embedQuantize,
    "embed_random_projection" -> embedRandomProjection,
    "sim_topk_cosine"    -> simTopkCosine,
    "sim_threshold_join" -> simThresholdJoin,
    "sim_threshold_lsh"  -> simThresholdLsh,
    "sim_threshold_lsh_wide" -> simThresholdLshWide,
    "sim_ann_lsh"        -> simAnnLsh,
    "sim_ann_ivf"        -> simAnnIvf,
    "sim_ann_ivf_cell_stats" -> simAnnIvfCellStats,
    "sim_ann_recall_eval" -> simAnnRecallEval,
    "embed_truncate_recall" -> embedTruncateRecall,
    "sample_hard_negatives" -> sampleHardNegatives,
    "sample_coreset_kcenter" -> coresetKcenter,
    "sim_mmr_rerank" -> mmrRerank
  )

  /** The MMR trajectory unrolled over the candidate CTE — same chained
    * ALL-MATERIALIZED discipline as [[coresetOracle]]; each round drops
    * the picked row and folds its similarity into the running max. */
  private def mmrOracle(k: Int): String = {
    def cos(a: String, b: String) = cosSql(a, b)
    val rounds = (2 to k).map { r =>
      val prev = if (r == 2) "t1" else s"t${r - 1}"
      val drop = if (r < k)
        s""",
           |t$r AS MATERIALIZED (SELECT $prev.vec_id, $prev.v, $prev.rel,
           |  greatest($prev.ms, ${cos(s"$prev.v", s"p$r.v")}) AS ms
           |  FROM $prev, p$r WHERE $prev.vec_id <> p$r.vec_id)""".stripMargin
      else ""
      s"""p$r AS MATERIALIZED (SELECT vec_id, v, 0.7 * rel - 0.3 * ms AS mmr_raw
         |  FROM $prev ORDER BY mmr_raw DESC, vec_id ASC LIMIT 1)$drop""".stripMargin
    }.mkString(",\n")
    val unions = (2 to k).map { r =>
      s"UNION ALL SELECT $r, vec_id, floor(mmr_raw * 1e6 + 0.5) / 1e6 FROM p$r"
    }.mkString("\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, e.v,
       |         floor(${cos("e.v", "q.qv")} * 1e6 + 0.5) / 1e6 AS rel
       |  FROM e, q ORDER BY rel DESC, vec_id ASC LIMIT 20),
       |p1 AS MATERIALIZED (SELECT vec_id, v, rel FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1),
       |t1 AS MATERIALIZED (SELECT c.vec_id, c.v, c.rel, ${cos("c.v", "p1.v")} AS ms
       |  FROM cand c, p1 WHERE c.vec_id <> p1.vec_id),
       |$rounds
       |SELECT CAST(1 AS BIGINT) AS sel_round, vec_id, rel AS mmr FROM p1
       |$unions
       |ORDER BY sel_round""".stripMargin
  }

  /** The greedy k-center trajectory unrolled: round CTEs chain
    * p2→d2→p3→…, each referenced by the next round AND the final union —
    * ALL MATERIALIZED (the CTE-inlining lesson: un-materialized, the
    * d-chain re-evaluates its prefix 2^k times). */
  private def coresetOracle(k: Int): String = {
    def cos(a: String, b: String) = cosSql(a, b)
    val rounds = (2 to k).map { r =>
      val prev = if (r == 2) "d1" else s"d${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT vec_id, v, d FROM $prev ORDER BY d DESC, vec_id ASC LIMIT 1),
         |d$r AS MATERIALIZED (SELECT $prev.vec_id, $prev.v,
         |  least($prev.d, 1.0 - ${cos(s"$prev.v", s"p$r.v")}) AS d FROM $prev, p$r)""".stripMargin
    }.mkString(",\n")
    val unions = (2 to k).map { r =>
      s"UNION ALL SELECT $r, vec_id, floor(d * 1e6 + 0.5) / 1e6 FROM p$r"
    }.mkString("\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS MATERIALIZED (SELECT e.vec_id, e.v, 1.0 - ${cos("e.v", "s1.v")} AS d FROM e, s1),
       |$rounds
       |SELECT CAST(1 AS BIGINT) AS sel_round, vec_id, 0.0 AS mind FROM s1
       |$unions
       |ORDER BY sel_round""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "sample_coreset_kcenter" -> coresetOracle(5),
    "sim_mmr_rerank" -> mmrOracle(5),
    // Both branches replayed: the truncated branch slices the SAME
    // widened-double lists the full branch reads ([1:32] = Spark's
    // slice(v,1,32)), so any hash drift isolates to the slice itself.
    "embed_truncate_recall" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
         |gt AS MATERIALIZED (SELECT vec_id FROM (
         |${topkOracle(10)})),
         |tr AS MATERIALIZED (SELECT vec_id FROM (
         |  SELECT e.vec_id,
         |         floor(${cosSql("(e.embedding::DOUBLE[])[1:32]", "q.qv[1:32]")} * 1e6 + 0.5) / 1e6 AS cos_sim
         |  FROM embeddings e, q
         |  ORDER BY cos_sim DESC, vec_id ASC LIMIT 10))
         |SELECT CAST(64 AS BIGINT) AS dims_full, CAST(32 AS BIGINT) AS dims_trunc,
         |       CAST(10 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS hits,
         |       floor(CAST(count(*) AS DOUBLE) / 10 * 1e6 + 0.5) / 1e6 AS recall
         |FROM tr WHERE vec_id IN (SELECT vec_id FROM gt)""".stripMargin,
    // Identical query set (3 lowest vec_ids), identical cross-label
    // scoring and (cos desc, vec_id) tie-break rank.
    "sample_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
        |      FROM e ORDER BY vec_id LIMIT 3),
        |s AS (
        |  SELECT q.q_id, e.vec_id,
        |         floor(${cosSql("e.v", "q.qv")} * 1e6 + 0.5) / 1e6 AS cos_sim
        |  FROM e, q
        |  WHERE e.label <> q.q_label AND e.vec_id <> q.q_id)
        |SELECT q_id, rn, vec_id, cos_sim FROM (
        |  SELECT q_id, vec_id, cos_sim,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos_sim DESC, vec_id ASC) AS rn
        |  FROM s)
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // The full IVF-PQ trajectory replayed: identical coarse assignment
    // (double cosine, (dist, ccell) tiebreak), identical 4-cell probe,
    // identical codebook/codes/ADC table as sim_ann_pq.
    "sim_ann_ivf_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cc AS (SELECT vec_id AS ccell, v AS cv FROM ev ORDER BY vec_id LIMIT 16),
         |casg AS (SELECT vec_id, ccell FROM (
         |    SELECT ev.vec_id, cc.ccell,
         |           row_number() OVER (PARTITION BY ev.vec_id ORDER BY
         |             1.0 - ${cosSql("ev.v", "cc.cv")} ASC, cc.ccell ASC) AS rn
         |    FROM ev, cc) WHERE rn = 1),
         |qc AS (
         |  SELECT cc.ccell
         |  FROM ev, cc WHERE ev.vec_id = 0
         |  ORDER BY 1.0 - ${cosSql("ev.v", "cc.cv")} ASC, cc.ccell ASC
         |  LIMIT $IvfPqProbes),
         |cand AS (SELECT vec_id FROM casg WHERE ccell IN (SELECT ccell FROM qc)),
         |subs AS (
         |  SELECT vec_id, s.sub AS sub,
         |         list_transform(embedding[s.sub*$PqSubDim+1 : s.sub*$PqSubDim+$PqSubDim],
         |                        x -> CAST(x AS DOUBLE)) AS v
         |  FROM e, (SELECT unnest(range(0, $PqM)) AS sub) s),
         |c0 AS (SELECT sub, vec_id AS cid, v AS cvec FROM subs WHERE vec_id < $PqK),
         |d1 AS (
         |  SELECT subs.vec_id, subs.sub, c0.cid, subs.v,
         |    floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (subs.v[i] - c0.cvec[i]) * (subs.v[i] - c0.cvec[i]))) * 1e9 + 0.5)
         |      / 1e9 AS d2
         |  FROM subs JOIN c0 USING (sub)),
         |a1 AS (SELECT vec_id, sub, cid, v FROM (
         |    SELECT vec_id, sub, cid, v,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |    FROM d1) WHERE rn = 1),
         |c1 AS (
         |  SELECT sub, cid, list(m ORDER BY pos) AS cvec FROM (
         |    SELECT sub, cid, t.i AS pos,
         |           floor(avg(v[t.i]) * 1e6 + 0.5) / 1e6 AS m
         |    FROM a1, unnest(range(1, ${PqSubDim + 1})) AS t(i)
         |    GROUP BY sub, cid, t.i)
         |  GROUP BY sub, cid),
         |d2s AS (
         |  SELECT subs.vec_id, subs.sub, c1.cid,
         |    floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (subs.v[i] - c1.cvec[i]) * (subs.v[i] - c1.cvec[i]))) * 1e9 + 0.5)
         |      / 1e9 AS d2
         |  FROM subs JOIN c1 USING (sub)),
         |codes AS (SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |    FROM d2s) WHERE rn = 1),
         |q AS (SELECT sub, v AS qv FROM subs WHERE vec_id = 0),
         |dtab AS (
         |  SELECT c1.sub, c1.cid,
         |    CAST(floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (q.qv[i] - c1.cvec[i]) * (q.qv[i] - c1.cvec[i]))) * 1e9 + 0.5)
         |      AS BIGINT) AS nano
         |  FROM c1 JOIN q USING (sub))
         |SELECT vec_id, CAST(sum(nano) AS BIGINT) AS adc_d2_nano
         |FROM codes JOIN dtab USING (sub, cid)
         |WHERE vec_id IN (SELECT vec_id FROM cand) AND vec_id <> 0
         |GROUP BY vec_id
         |ORDER BY adc_d2_nano, vec_id LIMIT 10""".stripMargin,
    // The same 2-iteration codebook trajectory as sim_ann_pq, ending in
    // the per-(vec, sub) min d2 instead of the ADC scoring.
    "embed_pq_distortion" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |subs AS (
         |  SELECT vec_id, s.sub AS sub,
         |         list_transform(embedding[s.sub*$PqSubDim+1 : s.sub*$PqSubDim+$PqSubDim],
         |                        x -> CAST(x AS DOUBLE)) AS v
         |  FROM e, (SELECT unnest(range(0, $PqM)) AS sub) s),
         |c0 AS (SELECT sub, vec_id AS cid, v AS cvec FROM subs WHERE vec_id < $PqK),
         |d1 AS (
         |  SELECT subs.vec_id, subs.sub, c0.cid, subs.v,
         |    floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (subs.v[i] - c0.cvec[i]) * (subs.v[i] - c0.cvec[i]))) * 1e9 + 0.5)
         |      / 1e9 AS d2
         |  FROM subs JOIN c0 USING (sub)),
         |a1 AS (SELECT vec_id, sub, cid, v FROM (
         |    SELECT vec_id, sub, cid, v,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |    FROM d1) WHERE rn = 1),
         |c1 AS (
         |  SELECT sub, cid, list(m ORDER BY pos) AS cvec FROM (
         |    SELECT sub, cid, t.i AS pos,
         |           floor(avg(v[t.i]) * 1e6 + 0.5) / 1e6 AS m
         |    FROM a1, unnest(range(1, ${PqSubDim + 1})) AS t(i)
         |    GROUP BY sub, cid, t.i)
         |  GROUP BY sub, cid),
         |d2s AS (
         |  SELECT subs.vec_id, subs.sub, c1.cid,
         |    floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (subs.v[i] - c1.cvec[i]) * (subs.v[i] - c1.cvec[i]))) * 1e9 + 0.5)
         |      / 1e9 AS d2
         |  FROM subs JOIN c1 USING (sub)),
         |mn AS (SELECT vec_id, sub, d2 FROM (
         |    SELECT vec_id, sub, d2,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |    FROM d2s) WHERE rn = 1)
         |SELECT CAST(sub AS BIGINT) AS sub,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       floor(sum(CAST(floor(d2 * 1e9 + 0.5) AS BIGINT))
         |             / (count(*) * 1e9) * 1e6 + 0.5) / 1e6 AS mse
         |FROM mn GROUP BY sub ORDER BY sub""".stripMargin,
    "sim_ann_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |subs AS (
         |  SELECT vec_id, s.sub AS sub,
         |         list_transform(embedding[s.sub*$PqSubDim+1 : s.sub*$PqSubDim+$PqSubDim],
         |                        x -> CAST(x AS DOUBLE)) AS v
         |  FROM e, (SELECT unnest(range(0, $PqM)) AS sub) s),
         |c0 AS (SELECT sub, vec_id AS cid, v AS cvec FROM subs WHERE vec_id < $PqK),
         |d1 AS (
         |  SELECT subs.vec_id, subs.sub, c0.cid, subs.v,
         |    floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (subs.v[i] - c0.cvec[i]) * (subs.v[i] - c0.cvec[i]))) * 1e9 + 0.5)
         |      / 1e9 AS d2
         |  FROM subs JOIN c0 USING (sub)),
         |a1 AS (SELECT vec_id, sub, cid, v FROM (
         |    SELECT vec_id, sub, cid, v,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |    FROM d1) WHERE rn = 1),
         |c1 AS (
         |  SELECT sub, cid, list(m ORDER BY pos) AS cvec FROM (
         |    SELECT sub, cid, t.i AS pos,
         |           floor(avg(v[t.i]) * 1e6 + 0.5) / 1e6 AS m
         |    FROM a1, unnest(range(1, ${PqSubDim + 1})) AS t(i)
         |    GROUP BY sub, cid, t.i)
         |  GROUP BY sub, cid),
         |d2s AS (
         |  SELECT subs.vec_id, subs.sub, c1.cid,
         |    floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (subs.v[i] - c1.cvec[i]) * (subs.v[i] - c1.cvec[i]))) * 1e9 + 0.5)
         |      / 1e9 AS d2
         |  FROM subs JOIN c1 USING (sub)),
         |codes AS (SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |    FROM d2s) WHERE rn = 1),
         |q AS (SELECT sub, v AS qv FROM subs WHERE vec_id = 0),
         |dtab AS (
         |  SELECT c1.sub, c1.cid,
         |    CAST(floor(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |        i -> (q.qv[i] - c1.cvec[i]) * (q.qv[i] - c1.cvec[i]))) * 1e9 + 0.5)
         |      AS BIGINT) AS nano
         |  FROM c1 JOIN q USING (sub))
         |SELECT vec_id, CAST(sum(nano) AS BIGINT) AS adc_d2_nano
         |FROM codes JOIN dtab USING (sub, cid)
         |WHERE vec_id <> 0
         |GROUP BY vec_id
         |ORDER BY adc_d2_nano, vec_id LIMIT 10""".stripMargin,
    "embed_random_projection" ->
      s"""WITH planes AS (
         |  SELECT i, j,
         |    CASE WHEN ('0x' || substr(md5(i || '_' || j), 1, 1))::BIGINT % 2 = 0
         |         THEN 1.0 ELSE -1.0 END AS s
         |  FROM range(64) t1(i), range($RpOutDims) t2(j)),
         |ex AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |         unnest(embedding) AS x
         |  FROM embeddings)
         |SELECT vec_id, CAST(j AS BIGINT) AS j,
         |  floor(sum(CAST(x AS DOUBLE) * s) * 0.25 * 1e4 + 0.5) / 1e4 AS z
         |FROM ex JOIN planes USING (i)
         |GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin,
    "embed_quantize" ->
      """WITH d AS (
        |  SELECT t.pos, min(CAST(embedding[t.pos] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[t.pos] AS DOUBLE)) AS mx
        |  FROM embeddings,
        |       unnest(generate_series(1, len(embedding))) AS t(pos)
        |  GROUP BY t.pos)
        |SELECT e.vec_id, CAST(d.pos - 1 AS BIGINT) AS pos,
        |  CASE WHEN d.mx = d.mn THEN 0
        |       ELSE CAST(floor((CAST(e.embedding[d.pos] AS DOUBLE) - d.mn)
        |              / (d.mx - d.mn) * 255 + 0.5) AS INTEGER)
        |  END AS code
        |FROM embeddings e CROSS JOIN d
        |ORDER BY vec_id, pos""".stripMargin,
    "sim_topk_cosine" -> topkOracle(10),
    // Recall evaluation: the three pipelines (exact top-5, LSH, IVF)
    // replay verbatim as MATERIALIZED subquery CTEs, then two 5-row
    // semi-joins count the hits.
    "sim_ann_recall_eval" ->
      s"""WITH brute AS MATERIALIZED (SELECT vec_id FROM (
         |${topkOracle(5)})),
         |lshr AS MATERIALIZED (SELECT vec_id FROM (
         |$annLshOracle)),
         |ivfr AS MATERIALIZED (SELECT vec_id FROM (
         |$annIvfOracle)),
         |m AS (
         |  SELECT 'ivf' AS method, CAST(count(*) AS BIGINT) AS hits
         |  FROM ivfr WHERE vec_id IN (SELECT vec_id FROM brute)
         |  UNION ALL
         |  SELECT 'lsh', CAST(count(*) AS BIGINT)
         |  FROM lshr WHERE vec_id IN (SELECT vec_id FROM brute))
         |SELECT method, CAST(5 AS BIGINT) AS k, hits,
         |       floor(CAST(hits AS DOUBLE) / 5 * 1e6 + 0.5) / 1e6 AS recall
         |FROM m ORDER BY method""".stripMargin,
    // Full LSH-threshold replay: identical band signatures (exact widened
    // float plane literals), identical candidate pairs, identical exact
    // verify — survivor pair sets must match row for row.
    "sim_threshold_lsh" ->
      thresholdLshOracle(threshPlanes, ThreshBands, ThreshRows),
    // The same replay at the scale geometry (8×24 plane literals), with
    // the same deterministic planted duplicates as the Spark side — the
    // gate row proves real pairs, not agreement on the empty set.
    "sim_threshold_lsh_wide" ->
      thresholdLshOracle(threshPlanesWide, WideBands, WideRows, planted = true),
    "sim_threshold_join" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       floor(${cosSql("a.v", "b.v")} * 1000000 + 0.5) / 1000000 AS cos_sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ${cosSql("a.v", "b.v")} >= 0.35
        |ORDER BY a_id, b_id""".stripMargin,
    // IVF is deterministic end-to-end (leading-16 centroids, double cosine
    // arithmetic bit-exact across engines, cid tiebreak), so the oracle
    // replays the whole assignment + bucket-scan exactly.
    "sim_ann_ivf" -> annIvfOracle,
    "sim_ann_ivf_cell_stats" -> annIvfCellStatsOracle,
    // The LSH signature is deterministic too (seeded hyperplanes, sign of a
    // left-to-right double dot) — the oracle inlines the plane constants as
    // SQL list literals (Double.toString round-trips the exact value) and
    // recomputes the identical 8-bit signature.
    "sim_ann_lsh" -> annLshOracle
  )

  /** DuckDB replay of [[thresholdLshPairs]] at any geometry: band
    * signatures from inlined plane literals (Float→Double widening is
    * exact and Double.toString round-trips, so DuckDB recomputes
    * bit-identical signatures), candidate equi-join on (band, bucket),
    * exact guarded-cosine verify. */
  private def thresholdLshOracle(
      planes: Seq[Seq[Float]], nBands: Int, nRows: Int,
      planted: Boolean = false): String = {
    def bexpr(bi: Int): String = (0 until nRows).map { j =>
      val lits = planes(bi * nRows + j)
        .map(_.toDouble.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lits) > 0 THEN ${1L << (nRows - 1 - j)} ELSE 0 END)"
    }.mkString(" + ")
    val bands = (0 until nBands)
      .map(bi => s"SELECT vec_id, $bi AS band, ${bexpr(bi)} AS bv FROM e")
      .mkString("\n  UNION ALL\n  ")
    // Replant the wide gate's duplicates identically: lowest PlantN
    // non-zero-norm vec_ids, copied past the id space (vec_norm > 0 ⇔
    // dot(v,v) > 0, the Spark side's filter).
    val eDef =
      if (planted)
        s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |e AS (SELECT * FROM e0 UNION ALL
           |  (SELECT vec_id + $PlantOffset AS vec_id, v FROM e0
           |   WHERE list_dot_product(v, v) > 0 ORDER BY vec_id LIMIT $PlantN)),"""
          .stripMargin
      else "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
    s"""WITH $eDef
       |b AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM b x JOIN b y ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id)
       |SELECT c.a_id, c.b_id,
       |       floor(${cosSql("a.v", "b.v")} * 1000000 + 0.5) / 1000000 AS cos_sim
       |FROM cand c JOIN e a ON a.vec_id = c.a_id JOIN e b ON b.vec_id = c.b_id
       |WHERE ${cosSql("a.v", "b.v")} >= 0.35
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** DuckDB cosine mirroring [[graft.functions.VecDotNative.vec_cosine_native]]'s
    * zero-vector ⇒ 0 convention (a dead embedding must not NaN-top the
    * DESC ordering in EITHER engine; NULL inputs still propagate NULL).
    * Used by EVERY oracle cosine — output columns, ordering keys, AND
    * `cos >= τ` threshold predicates: both engines compare NaN GREATER
    * than any double, so an unguarded 0/0 = NaN cosine would PASS the
    * threshold and match a dead embedding against every row in its block.
    * The guard is the NORM-product test (`sqrt(aa)·sqrt(bb) = 0`), the
    * exact form `vec_cosine_native` evaluates — a raw dot-product-product
    * test would diverge where ‖v‖² underflows (each ≲ 1e-154: product of
    * squared norms hits 0 while the norm product stays > 0). */
  private[llm] def cosSql(a: String, b: String): String =
    s"(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0" +
      s" THEN 0.0" +
      s" ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) *" +
      s" sqrt(list_dot_product($b, $b))) END)"

  /** Exact top-k oracle, limit parameterized (10 = `sim_topk_cosine`,
    * 5 = the recall evaluation's ground truth). */
  private[llm] def topkOracle(limit: Int): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
       |SELECT vec_id,
       |       floor(${cosSql("e.embedding::DOUBLE[]", "q.qv::DOUBLE[]")} * 1000000 + 0.5) / 1000000 AS cos_sim
       |FROM embeddings e, q
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT $limit""".stripMargin

  /** The IVF assignment trajectory ending in CTE `asg(vec_id, v, cid)` —
    * shared prefix of the search and cell-stats oracles, so both provably
    * read the same inverted lists. */
  private def annIvfAsgCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      |a AS (
      |  SELECT vec_id, v, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
      |  FROM (SELECT e.vec_id, e.v, c.cid,
      |               1.0 - ${cosSql("e.v", "c.cv")} AS dist
      |        FROM e, c)),
      |asg AS (SELECT vec_id, v, cid FROM a WHERE rn = 1)""".stripMargin

  private def annIvfOracle: String =
    annIvfAsgCtes +
      s""",
        |q AS (SELECT v AS qv, cid AS qcid FROM asg ORDER BY vec_id LIMIT 1)
        |SELECT asg.vec_id,
        |       floor(${cosSql("asg.v", "q.qv")} * 1000000 + 0.5) / 1000000 AS cos_sim
        |FROM asg, q
        |WHERE asg.cid = q.qcid
        |ORDER BY cos_sim DESC, vec_id ASC LIMIT 5""".stripMargin

  private def annIvfCellStatsOracle: String =
    annIvfAsgCtes +
      """,
        |cells AS MATERIALIZED (
        |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors
        |  FROM asg GROUP BY cid)
        |SELECT cid, n_vectors,
        |       floor(CAST(n_vectors AS DOUBLE)
        |             / (SELECT sum(n_vectors) FROM cells) * 1e6 + 0.5) / 1e6
        |         AS share
        |FROM cells ORDER BY cid""".stripMargin

  private def annLshOracle: String = {
    val sigExpr = planes.zipWithIndex.map { case (p, i) =>
      val lit = p.map(_.toDouble.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lit) > 0 THEN ${1L << (7 - i)} ELSE 0 END)"
    }.mkString(" +\n         ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (
       |  SELECT vec_id, v,
       |         $sigExpr AS sig
       |  FROM e),
       |q AS (SELECT v AS qv, sig AS qsig FROM s ORDER BY vec_id LIMIT 1)
       |SELECT s.vec_id,
       |       floor(${cosSql("s.v", "q.qv")} * 1000000 + 0.5) / 1000000 AS cos_sim
       |FROM s, q
       |WHERE s.sig = q.qsig
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 5""".stripMargin
  }
}
