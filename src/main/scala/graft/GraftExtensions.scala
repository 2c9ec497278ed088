package graft

import graft.functions.{MinHashAgg, TopKByDistance, VectorDistance, VectorMetric}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-facing registration of graft's native expressions, so `spark.sql`
  * users get the same codegen'd kernels as the Column API, plus the
  * planner strategy for graft's own physical operators (the fused exact
  * k-NN kernel, [[graft.operators.KnnStrategy]]):
  *
  *   spark.sql("SELECT vector_l2(a, b), vector_cosine(a, b) FROM t")
  *   spark.sql("SELECT topk_by_distance(d, id, 10) FROM t GROUP BY q")
  *   spark.sql("SELECT minhash(h, 128) FROM s GROUP BY doc")
  *
  * Install via
  *   SparkSession.builder.withExtensions(new GraftExtensions)
  * or
  *   spark.sql.extensions=graft.GraftExtensions
  * (GraftSession.builder does this for every graft session.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[VectorDistance].getName, name)

  private def register(
      ext: SparkSessionExtensions, name: String, arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      info(name, usage),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
        build(args)
      }))

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.operators.KnnStrategy)
    register(ext, "vector_l2", 2,
      "euclidean distance between two float/double arrays") {
      args => VectorDistance(args(0), args(1), VectorMetric.L2)
    }
    register(ext, "vector_cosine", 2,
      "cosine distance (1 - similarity; zero-norm => 1.0)") {
      args => VectorDistance(args(0), args(1), VectorMetric.Cosine)
    }
    register(ext, "vector_dot", 2, "dot product of two arrays") {
      args => VectorDistance(args(0), args(1), VectorMetric.Dot)
    }
    register(ext, "topk_by_distance", 3,
      "aggregate: k nearest (dist, id) pairs, ascending") { args =>
      TopKByDistance(args(0), args(1), intArg(args(2), "k"))
        .toAggregateExpression()
    }
    register(ext, "minhash", 2,
      "aggregate: n-permutation minhash signature of a hash column") { args =>
      MinHashAgg(args(0), intArg(args(1), "nPerms")).toAggregateExpression()
    }
    register(ext, "shingle_hashes", 2,
      "distinct 64-bit hashes of word n-grams over array<string>") { args =>
      graft.functions.ShingleHashes(args(0), intArg(args(1), "n"))
    }
  }
}
