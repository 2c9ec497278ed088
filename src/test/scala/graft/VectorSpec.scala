package graft

import graft.functions.{FakeEmbedding, TopKBuffer, VectorDistance, VectorFunctions, VectorMetric}
import graft.operators.Knn
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  test("TopKBuffer keeps the k smallest (dist,id) pairs with tie-break") {
    val buf = new TopKBuffer(3)
    Seq((5.0, 1L), (1.0, 9L), (3.0, 2L), (1.0, 4L), (8.0, 0L), (3.0, 1L))
      .foreach { case (d, i) => buf.insert(d, i) }
    assert(buf.sorted.toSeq == Seq((1.0, 4L), (1.0, 9L), (3.0, 1L)))
  }

  test("l2 and cosine distance match hand-computed values") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val row = df.select(
      VectorFunctions.l2Distance($"a", $"b").as("l2"),
      VectorFunctions.cosineDistance($"a", $"b").as("cos"),
      VectorFunctions.dotProduct($"a", $"b").as("dot")).head()
    assert(math.abs(row.getDouble(0) - math.sqrt(2)) < 1e-12)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12) // orthogonal
    assert(row.getDouble(2) == 0.0)
  }

  test("cosine distance pins zero-norm pairs to 1.0 (base.py:212-219)") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val d = df.select(VectorFunctions.cosineDistance($"a", $"b")).head().getDouble(0)
    assert(d == 1.0)
  }

  test("knn returns exact nearest neighbors on a known grid") {
    // corpus on a line: vec i at (i, 0); query at origin → nearest are 0,1,2
    val corpus = (0 until 10).map(i => (i.toLong, Array(i.toFloat, 0.0f)))
      .toDF("neighbor_id", "vec")
    val queries = Seq((0L, Array(0.0f, 0.0f))).toDF("query_id", "qvec")
    val got = Knn.knn(queries, corpus, 3, VectorMetric.L2)
      .orderBy("rank").select("neighbor_id", "rank", "dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == Seq((0L, 1, 0.0), (1L, 2, 1.0), (2L, 3, 2.0)))
  }

  test("knn k larger than corpus clamps to corpus size (base.py:161)") {
    val corpus = Seq((0L, Array(1.0f)), (1L, Array(2.0f))).toDF("neighbor_id", "vec")
    val queries = Seq((0L, Array(0.0f))).toDF("query_id", "qvec")
    assert(Knn.knn(queries, corpus, 10, VectorMetric.L2).count() == 2)
  }

  test("fake embedding matches the reference formula (embedding.py:100-137)") {
    val e = FakeEmbedding.embed("hello world", 4)
    val expected = Array(-0.281, -0.15200000000000002, -0.02300000000000002, 0.10599999999999998)
    assert(e.zip(expected).forall { case (a, b) => a == b })
    // dim + determinism
    assert(FakeEmbedding.embed("x", 64).length == 64)
    assert(FakeEmbedding.embed("Mixed CASE  ", 8).toSeq ==
      FakeEmbedding.embed("mixed case", 8).toSeq)
  }

  // both evaluation paths of the distance kernel: the interpreted
  // nullSafeEval and the generated code a whole-stage plan runs
  private val distancePaths: Seq[(String, Expression => InternalRow => Double)] = Seq(
    "interpreted" -> (e => row => e.eval(row).asInstanceOf[Double]),
    "codegen" -> (e => row => GenerateUnsafeProjection.generate(Seq(e)).apply(row).getDouble(0)))

  for ((metricName, metric, same) <- Seq(("l2", VectorMetric.L2, 0.0),
         ("cosine", VectorMetric.Cosine, 0.0), ("dot", VectorMetric.Dot, 5.0));
       (path, eval) <- distancePaths) {
    test(s"vector_distance refuses mismatched dimensions ($metricName, $path)") {
      val t = ArrayType(FloatType, containsNull = false)
      val e = VectorDistance(BoundReference(0, t, nullable = false),
        BoundReference(1, t, nullable = false), metric)
      def row(a: Array[Float], b: Array[Float]) =
        InternalRow(ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      val ex = intercept[IllegalArgumentException](
        eval(e)(row(Array(1f, 2f, 3f), Array(1f, 2f))))
      assert(ex.getMessage == "vector_distance: vector dims 3 != 2")
      assert(math.abs(eval(e)(row(Array(1f, 2f), Array(1f, 2f))) - same) < 1e-12)
    }
  }
}
