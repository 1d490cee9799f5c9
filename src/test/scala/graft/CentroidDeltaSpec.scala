package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CentroidDelta
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Differential pin: the native residual kernel must match the
  * zip_with/element_at HOF it replaced, bit for bit, nulls included. */
class CentroidDeltaSpec extends SparkSpec {

  test("CentroidDelta == zip_with(v, cents[cid], x - c)") {
    import spark.implicits._
    val cents = Array(
      Array(0.25, -1.5, 3.0, 0.0),
      Array(1.0, 2.0, -0.125, 4.5),
      Array(-3.25, 0.5, 0.75, -2.0))
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(4)(rnd.nextDouble() * 10 - 5), rnd.nextInt(3))
    }
    val df = rows.toDF("id", "v", "cid")
      .union(Seq((999L, null.asInstanceOf[Seq[Double]], 0)).toDF("id", "v", "cid"))
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val out = df.select(col("id"),
      CentroidDelta.delta(col("v"), col("cid"), cents).as("native"),
      zip_with(col("v"), element_at(centsLit, col("cid") + 1),
        (x, c) => x - c).as("hof")).collect()
    out.foreach { r =>
      if (r.isNullAt(1) || r.isNullAt(2)) {
        assert(r.isNullAt(1) && r.isNullAt(2), s"null mismatch for id=${r.getLong(0)}")
      } else {
        assert(r.getSeq[Double](1) == r.getSeq[Double](2),
          s"delta differs for id=${r.getLong(0)}")
      }
    }
  }

  test("null cid with a non-null v yields null in eval and codegen, like zip_with") {
    import spark.implicits._
    val cents = Array(Array(0.25, -1.5), Array(1.0, 2.0))
    // the HOF it replaced: element_at(cents, null) is null, so zip_with is null
    val df = Seq((1L, Seq(3.0, 4.0), Option.empty[Int])).toDF("id", "v", "cid")
    val r = df.select(CentroidDelta.delta(col("v"), col("cid"), cents),
      zip_with(col("v"), element_at(typedLit(cents.map(_.toSeq).toSeq), col("cid") + 1),
        (x, c) => x - c)).head()
    assert(r.isNullAt(1), "reference HOF form is not null")
    assert(r.isNullAt(0), "native kernel subtracted a centroid for a null cid")
    val e = CentroidDelta(Literal.create(Seq(3.0, 4.0), ArrayType(DoubleType)),
      Literal.create(null, IntegerType), cents)
    assert(e.nullable)
    assert(e.eval(InternalRow.empty) == null, "eval path not null")
    assert(GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty).isNullAt(0),
      "codegen path not null")
  }

  test("value equality: equal centroid tables compare and hash equal") {
    def expr(cents: Array[Array[Double]]) = CentroidDelta(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, IntegerType, nullable = true), cents)
    val a = expr(Array(Array(1.0, 2.0), Array(3.0, 4.0)))
    val b = expr(Array(Array(1.0, 2.0), Array(3.0, 4.0)))
    assert(a == b && a.hashCode == b.hashCode, "same table, different identity")
    assert(a != expr(Array(Array(1.0, 2.0), Array(3.0, 4.5))), "different tables compare equal")
  }
}
