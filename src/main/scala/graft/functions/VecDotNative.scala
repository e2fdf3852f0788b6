package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding dot product (SURVEY.md
  * §2.10 X4 / §4: "custom `Expression` for cosine IF the higher-order
  * formulation benchmarks poorly — start built-in, measure, escalate").
  *
  * The higher-order formulation (`aggregate(zip_with(a,b,*),0d,+)`)
  * materializes the element-wise product ARRAY per row before folding —
  * an O(dim) allocation per pair in pairwise joins. This expression
  * generates a single fused primitive loop (`doGenCode`), no intermediate
  * array, no boxing:
  *
  * {{{ for (i < n) s += (double) a.getFloat(i) * (double) b.getFloat(i); }}}
  *
  * Numerics: identical left-to-right double summation as the higher-order
  * fold and as DuckDB's `list_dot_product` — bit-exact interchangeable, so
  * swapping it under `sim_*` queries cannot change oracle-checked results.
  *
  * Assumes non-null float array elements (embedding columns); null arrays
  * propagate null via `BinaryExpression`'s null handling.
  */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_native expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot_native"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

/** All sign-LSH band signatures of a vector in ONE compact expression:
  * output[b] = Σ_j (dot(v, plane[b·rows+j]) > 0 ? 2^(rows-1-j) : 0), the
  * banded random-hyperplane signature.
  *
  * Why one expression instead of bands·rows `VecDotExpr` columns: a
  * 64-dot projection generates a single Janino method past HotSpot's
  * huge-method bytecode threshold, so the whole signature pass ran as
  * INTERPRETED bytecode — measured ~10 µs per 64-float dot vs the ~0.1 µs
  * the same loop costs JIT-compiled (tools/ProfLsh, a removed probe: `git
  * show b3a4326:src/main/scala/graft/tools/ProfLsh.scala`). This
  * expression is one small nested loop (JIT-friendly), reads the vector once with full
  * locality, and emits every band value in a single pass.
  *
  * Numerics: per-dot left-to-right double summation, `> 0` strict — bit
  * for bit the computation the per-column formulation did, so oracle
  * replays are unchanged.
  *
  * `planes` is the flattened bands·rows·dim literal; each plane has the
  * vector's dimensionality (`dim = planes.numElements / (bands·rows)`).
  */
case class VecSignBandsExpr(left: Expression, right: Expression,
    bands: Int, rowsPerBand: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_sign_bands expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_sign_bands"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val p = b.asInstanceOf[ArrayData]
    // Geometry mismatches FAIL LOUDLY: silently truncating the dot to
    // min(len, dim) or flooring dim would produce wrong signatures (and
    // therefore wrong candidate sets) instead of an error.
    val k = bands * rowsPerBand
    if (p.numElements() % k != 0) throw new IllegalArgumentException(
      s"vec_sign_bands: planes length ${p.numElements()} is not a multiple " +
        s"of bands*rowsPerBand = $k")
    val dim = p.numElements() / k
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"vec_sign_bands: vector length ${v.numElements()} != plane dim $dim")
    val n = dim
    val out = new Array[Long](bands)
    var bi = 0
    while (bi < bands) {
      var acc = 0L
      var j = 0
      while (j < rowsPerBand) {
        val base = (bi * rowsPerBand + j) * dim
        var s = 0.0
        var i = 0
        while (i < n) {
          s += v.getFloat(i).toDouble * p.getFloat(base + i).toDouble
          i += 1
        }
        if (s > 0) acc += 1L << (rowsPerBand - 1 - j)
        j += 1
      }
      out(bi) = acc
      bi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, p) => {
      val dim = ctx.freshName("dim")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val bi = ctx.freshName("bi")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($p.numElements() % ${bands * rowsPerBand} != 0) {
         |  throw new IllegalArgumentException("vec_sign_bands: planes length "
         |    + $p.numElements() + " is not a multiple of bands*rowsPerBand = ${bands * rowsPerBand}");
         |}
         |int $dim = $p.numElements() / ${bands * rowsPerBand};
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException("vec_sign_bands: vector length "
         |    + $v.numElements() + " != plane dim " + $dim);
         |}
         |int $n = $dim;
         |long[] $out = new long[$bands];
         |for (int $bi = 0; $bi < $bands; $bi++) {
         |  long $acc = 0L;
         |  for (int $j = 0; $j < $rowsPerBand; $j++) {
         |    int $base = ($bi * $rowsPerBand + $j) * $dim;
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += (double) $v.getFloat($i) * (double) $p.getFloat($base + $i);
         |    }
         |    if ($s > 0) $acc += 1L << ($rowsPerBand - 1 - $j);
         |  }
         |  $out[$bi] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSignBandsExpr =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance as a single fused primitive loop — the escalation
  * of the `aggregate(zip_with(a,c,(x,y)->(x-y)*(x-y)), 0d, +)` higher-order
  * form used by the k-means / PQ assignment passes. The HOF form is
  * CodegenFallback: Catalyst interprets the lambda PER ELEMENT and
  * materializes the squared-difference array per (vector, centroid) pair —
  * on the N×k assignment joins that is the dominant per-row cost (the same
  * measurement that motivated [[VecDotExpr]], SURVEY.md §4 "start built-in,
  * measure, escalate").
  *
  * Numerics: identical left-to-right double accumulation of the identical
  * per-element terms — d = (double)a[i] − (double)c[i]; s += d·d — so every
  * value is bit-for-bit the HOF form's value and oracle-checked results
  * cannot change. Float elements widen exactly (float→double is lossless),
  * matching the explicit `cast("double")` the HOF call sites did.
  *
  * Accepts array<float> or array<double> on either side (the k-means call
  * compares a float corpus column against double recentered centroids; the
  * PQ calls are double/double). Assumes non-null elements (embedding
  * columns); null arrays propagate null via `BinaryExpression`.
  */
case class VecL2SqExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_l2sq_native expects (array<float|double>, array<float|double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_l2sq_native"

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left.dataType)
    val rf = isFloat(right.dataType)
    // Dimension mismatches FAIL LOUDLY (round-15 advice; same contract as
    // [[VecSignBandsExpr]]): silently truncating to min(len) would score
    // a wrong distance instead of surfacing the geometry bug. Equal-length
    // inputs — every call site — are bit-for-bit the HOF form's value.
    if (x.numElements() != y.numElements()) throw new IllegalArgumentException(
      s"vec_l2sq_native: array lengths differ " +
        s"(${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xi - yi
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      def get(arr: String, idx: String, float: Boolean): String =
        if (float) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException("vec_l2sq_native: array lengths "
         |    + "differ (" + $a.numElements() + " vs " + $b.numElements() + ")");
         |}
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${get(a, i, isFloat(left.dataType))} -
         |    ${get(b, i, isFloat(right.dataType))};
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2SqExpr =
    copy(left = newLeft, right = newRight)
}

/** Column-world + SQL-world entry points for the native vector ops. */
object VecDotNative {

  /** Squared L2 distance of two arrays (float or double elements, see
    * [[VecL2SqExpr]]). Both arrays must have the same length: a row whose
    * lengths differ fails the query with an `IllegalArgumentException`
    * ("array lengths differ") rather than scoring a truncated distance.
    * A null array gives null. */
  def vec_l2sq_native(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      VecL2SqExpr(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def vec_dot_native(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      VecDotExpr(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** All `bands` sign-LSH band values of `v` against the flattened
    * `planes` literal in one JIT-friendly pass — see [[VecSignBandsExpr]]. */
  def vec_sign_bands(v: Column, planes: Column, bands: Int, rowsPerBand: Int): Column =
    GraftSqlBridge.column(
      VecSignBandsExpr(GraftSqlBridge.expression(v),
        GraftSqlBridge.expression(planes), bands, rowsPerBand))

  def vec_norm_native(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vec_dot_native(a, a))

  /** Cosine with a zero vector is DEFINED as 0 (no direction ⇒ no
    * similarity), never the naive 0/0 = NaN: Spark orders NaN ABOVE every
    * double in a DESC sort, so an unguarded dead/padded embedding (all
    * zeros — common in production corpora) would rank at the TOP of every
    * cosine top-k. NULL inputs still propagate NULL (a null norm-product
    * fails the `=== 0` test into the division branch, which is null). */
  def vec_cosine_native(a: Column, b: Column): Column =
    vec_cosine_prenorm(a, b, vec_norm_native(a), vec_norm_native(b))

  /** [[vec_cosine_native]]'s guarded cosine for the PAIR-JOIN pattern
    * where per-row norms were precomputed before the join (recomputing
    * dot(a,a)/dot(b,b) per pair triples the O(pairs·dim) work — measured
    * 3x on the threshold join at sf0.1). Same zero-vector ⇒ 0 convention:
    * NaN compares GREATER than any double in Spark AND DuckDB, so an
    * unguarded 0/0 cosine would PASS every `>= τ` threshold and match a
    * dead embedding against its whole block. `na`/`nb` must be the
    * [[vec_norm_native]] norms of `a`/`b`.
    *
    * This is THE Scala-side guard definition — [[vec_cosine_native]]
    * delegates here, so the zero-vector convention has exactly two
    * sources of truth: this expression and the oracle-side
    * `Similarity.cosSql` (kept form-identical, norm-product test). */
  def vec_cosine_prenorm(a: Column, b: Column, na: Column, nb: Column): Column = {
    import org.apache.spark.sql.functions.{when, lit}
    val nn = na * nb
    when(nn === 0d, lit(0d)).otherwise(vec_dot_native(a, b) / nn)
  }

  /** Register the native vector functions for SQL callers (library
    * surface): `SELECT vec_dot_native(embedding, embedding) FROM ...`,
    * `SELECT vec_sign_bands(embedding, planes, 8, 8) FROM ...` (the last
    * two arguments must be integer literals — banding geometry is
    * plan-time). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot_native", exprs => VecDotExpr(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_sign_bands", exprs => {
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"vec_sign_bands: $what must be an integer literal, got $other")
        }
        VecSignBandsExpr(exprs.head, exprs(1),
          intLit(exprs(2), "bands"), intLit(exprs(3), "rowsPerBand"))
      }, "scala_udf")
  }
}
