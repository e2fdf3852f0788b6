package graft

import graft.functions.VecDotNative
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** The custom catalyst expression: interpreted + codegen paths, type
  * checking, SQL registration, and exact agreement with the higher-order
  * reference implementation.
  */
class VecDotNativeSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  test("native dot agrees bit-exactly with the higher-order fold on real data") {
    val e = Tables.embeddings(spark, sf)
    val both = e.select(
      VectorFunctions.vec_dot($"embedding", $"embedding").as("hof"),
      VecDotNative.vec_dot_native($"embedding", $"embedding").as("nat"))
    assert(both.filter($"hof" =!= $"nat").count() === 0)
  }

  test("known value: dot([1,2,3],[4,5,6]) = 32") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    val v = df.select(VecDotNative.vec_dot_native($"a", $"b")).head.getDouble(0)
    assert(v === 32.0)
  }

  test("null array propagates null") {
    val df = Seq((Some(Seq(1f)), Option.empty[Seq[Float]])).toDF("a", "b")
    assert(df.select(VecDotNative.vec_dot_native($"a", $"b")).head.isNullAt(0))
  }

  test("type mismatch fails analysis with a named error") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0))).toDF("a", "b") // double, not float
    val e = intercept[Exception] {
      df.select(VecDotNative.vec_dot_native($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("vec_dot_native"))
  }

  test("vec_l2sq_native: unequal lengths throw on the interpreted and codegen paths") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val t = ArrayType(FloatType, containsNull = false)
    val expr = graft.functions.VecL2SqExpr(
      BoundReference(0, t, nullable = true), BoundReference(1, t, nullable = true))
    def row(a: Float*)(b: Float*): InternalRow = InternalRow(
      new GenericArrayData(a.toArray[Any]), new GenericArrayData(b.toArray[Any]))
    val codegen = GenerateUnsafeProjection.generate(Seq(expr))
    val bad = row(1f, 2f)(1f)
    val interpreted = intercept[IllegalArgumentException](expr.eval(bad))
    assert(interpreted.getMessage.contains("array lengths differ (2 vs 1)"))
    val generated = intercept[IllegalArgumentException](codegen(bad))
    assert(generated.getMessage.contains("array lengths differ (2 vs 1)"))
    // equal lengths: both paths give the same distance
    val ok = row(1f, 2f)(0f, 4f)
    assert(expr.eval(ok) === 5.0)
    assert(codegen(ok).getDouble(0) === 5.0)
  }

  test("SQL registration exposes the function to spark.sql") {
    VecDotNative.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("graft_emb")
    val v = spark.sql(
      "SELECT vec_dot_native(embedding, embedding) AS d FROM graft_emb ORDER BY vec_id LIMIT 1")
      .head.getDouble(0)
    assert(v > 0.0)
  }

  test("vec_sign_bands is SQL-registered with literal geometry") {
    VecDotNative.register(spark)
    val sig = spark.sql(
      "SELECT vec_sign_bands(array(1.0F, -1.0F), array(1.0F, 0.0F, 0.0F, 1.0F), 1, 2) AS s")
      .head.getSeq[Long](0)
    // plane0 = [1,0] -> dot 1 > 0 -> bit 1 (weight 2); plane1 = [0,1] -> dot -1 -> 0
    assert(sig === Seq(2L))
  }

  test("vec_sign_bands equals the per-column sign formulation bit for bit") {
    val rnd = new scala.util.Random(11)
    val planes = Seq.fill(4)(Seq.fill(8)(rnd.nextGaussian().toFloat))
    val bands = 2; val rows = 2
    val vecs = Seq.tabulate(50)(i =>
      i.toLong -> Seq.fill(8)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("id", "v")
    val fused = df.select($"id",
        VecDotNative.vec_sign_bands($"v", typedLit(planes.flatten), bands, rows).as("sb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val perColumn = df.select($"id" +: (0 until bands).map { bi =>
        (0 until rows).map { j =>
          when(VecDotNative.vec_dot_native($"v", typedLit(planes(bi * rows + j))) > 0,
            lit(1L << (rows - 1 - j))).otherwise(lit(0L))
        }.reduce(_ + _).as(s"b$bi")
      }: _*)
      .collect().map(r => r.getLong(0) -> (1 to bands).map(r.getLong).toSeq).toMap
    assert(fused.keySet === perColumn.keySet)
    for ((id, sb) <- fused) assert(sb === perColumn(id), s"vec $id")
  }
}
