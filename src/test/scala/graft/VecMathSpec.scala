package graft

import org.apache.spark.sql.functions._
import graft.functions.VecMath

/** Direct contracts for the round-9 native expressions: the codegen'd
  * loops must be bit-identical to the interpreted HOF folds they
  * replace, under both evaluation paths.
  */
class VecMathSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
  private def hofL2 = aggregate(
    zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  private def randomPairs(n: Int, dim: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map(_ => (
      Array.fill(dim)(rng.nextDouble() * 2 - 1),
      Array.fill(dim)(rng.nextDouble() * 2 - 1)))
  }

  test("vec_dot / vec_l2sq are bit-identical to the zip_with+aggregate folds") {
    val df = randomPairs(500, 64, 7).toDF("a", "b")
    val out = df.select(
      VecMath.vec_dot(col("a"), col("b")).as("nd"), hofDot.as("hd"),
      VecMath.vec_l2sq(col("a"), col("b")).as("nl"), hofL2.as("hl")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)), "dot fold differs")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(3)), "l2sq fold differs")
    }
  }

  test("vec_dot: interpreted eval equals codegen (filter path forces both shapes)") {
    val df = randomPairs(100, 16, 13).toDF("a", "b")
    // the aggregation path evaluates inside codegen'd projections; the
    // sort key path exercises interpreted eval through SortOrder
    val viaProj = df.select(VecMath.vec_dot(col("a"), col("b")).as("d"))
      .orderBy(desc("d")).limit(5).collect().map(_.getDouble(0)).toSeq
    val viaDriver = randomPairs(100, 16, 13)
      .map { case (a, b) => a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y } }
      .sorted(Ordering[Double].reverse).take(5)
    assert(viaProj == viaDriver)
  }

  test("vec_dot edge cases: empty arrays, null inputs, unequal lengths") {
    val df = Seq(
      (1L, Array.empty[Double], Array.empty[Double]),
      (2L, Array(1.0, 2.0), Array(3.0, 4.0, 99.0)),  // shorter prefix folds
      (3L, null.asInstanceOf[Array[Double]], Array(1.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), VecMath.vec_dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L) == Some(0.0))
    assert(out(2L) == Some(1.0 * 3.0 + 2.0 * 4.0))
    assert(out(3L) == None, "null input propagates null")
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 200).map { i =>
      // overlapping domains so intersections are non-trivial; distinct + sorted
      val a = Array.fill(rng.nextInt(40))(rng.nextLong() % 50).distinct.sorted
      val b = Array.fill(rng.nextInt(40))(rng.nextLong() % 50).distinct.sorted
      (i.toLong, a, b)
    } :+ ((201L, Array.empty[Long], Array(1L, 2L)))
    val out = rows.toDF("id", "a", "b")
      .select(col("id"),
        graft.functions.SortedIntersect.sorted_intersect_count(col("a"), col("b")).as("c"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    out.foreach { case (id, (c, ref)) => assert(c == ref, s"id=$id: $c != $ref") }
    // interpreted path (nullSafeEval) agrees with codegen
    val interp = graft.functions.SortedIntersectCount(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(1L, 3L, 7L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(3L, 5L, 7L, 9L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))).eval(null)
    assert(interp == 2)
  }
}
