package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Distance metrics over embedding arrays, as native Catalyst
  * expressions with whole-stage codegen (no UDF boxing in the k-NN hot
  * loop; at 100 TB the distance kernel dominates the scan).
  *
  * Semantics mirror stackai-vector-db app/indexes/base.py:207-219:
  * euclidean = l2 norm of the difference; cosine = 1 - a·b/(|a||b|)
  * with zero-norm pairs pinned to distance 1.0. All arithmetic promotes
  * each element to double before accumulating (bit-compatible with
  * DuckDB's list_distance on DOUBLE[] casts, which the oracles use).
  * Arrays of different lengths are refused, never truncated.
  */
object VectorMetric {
  val L2 = 0
  val Cosine = 1
  val Dot = 2
}

case class VectorDistance(left: Expression, right: Expression, metric: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_distance"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vector_distance expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: vector dims ${a.numElements()} != ${b.numElements()}")
    val n = a.numElements()
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var i = 0
    var acc = 0.0; var na = 0.0; var nb = 0.0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      metric match {
        case VectorMetric.L2 => val d = x - y; acc += d * d
        case _ => acc += x * y; na += x * x; nb += y * y
      }
      i += 1
    }
    metric match {
      case VectorMetric.L2 => math.sqrt(acc)
      case VectorMetric.Cosine =>
        val norms = math.sqrt(na) * math.sqrt(nb)
        if (norms == 0.0) 1.0 else 1.0 - acc / norms
      case VectorMetric.Dot => acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val body = metric match {
        case VectorMetric.L2 =>
          s"double d = $x - $y; $acc += d * d;"
        case _ =>
          s"$acc += $x * $y; $na += $x * $x; $nb += $y * $y;"
      }
      val finish = metric match {
        case VectorMetric.L2 => s"${ev.value} = Math.sqrt($acc);"
        case VectorMetric.Cosine =>
          s"""double norms = Math.sqrt($na) * Math.sqrt($nb);
             |${ev.value} = (norms == 0.0) ? 1.0 : 1.0 - $acc / norms;""".stripMargin
        case VectorMetric.Dot => s"${ev.value} = $acc;"
      }
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: vector dims " + $a.numElements() + " != " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $acc = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$lGet($i);
         |  double $y = (double) $b.$rGet($i);
         |  $body
         |}
         |$finish
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Bounded top-k buffer: the k smallest (dist, id) pairs in lexicographic
  * order, kept as a binary max-heap so insertion is O(log k).
  */
final class TopKBuffer(val k: Int) extends Serializable {
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  private def siftUp(pos0: Int): Unit = {
    var pos = pos0
    while (pos > 0) {
      val parent = (pos - 1) >> 1
      if (worse(dists(pos), ids(pos), dists(parent), ids(parent))) {
        val td = dists(pos); dists(pos) = dists(parent); dists(parent) = td
        val ti = ids(pos); ids(pos) = ids(parent); ids(parent) = ti
        pos = parent
      } else return
    }
  }

  private def siftDown(): Unit = {
    var pos = 0
    while (true) {
      val l = 2 * pos + 1; val r = l + 1
      var m = pos
      if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == pos) return
      val td = dists(pos); dists(pos) = dists(m); dists(m) = td
      val ti = ids(pos); ids(pos) = ids(m); ids(m) = ti
      pos = m
    }
  }

  def insert(d: Double, id: Long): Unit = {
    if (size < k) {
      dists(size) = d; ids(size) = id; size += 1; siftUp(size - 1)
    } else if (size > 0 && worse(dists(0), ids(0), d, id)) {
      dists(0) = d; ids(0) = id; siftDown()
    }
  }

  /** (dist, id) pairs sorted ascending. */
  def sorted: Array[(Double, Long)] = {
    val arr = Array.tabulate(size)(i => (dists(i), ids(i)))
    scala.util.Sorting.stableSort(arr,
      (a: (Double, Long), b: (Double, Long)) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
    arr
  }
}

/** Aggregate keeping the k nearest (dist, id) pairs. Being a
  * TypedImperativeAggregate it gets map-side partial aggregation for
  * free: each scan task shuffles at most k pairs per group instead of
  * its full distance set — the property that makes distributed k-NN
  * scale (SURVEY §5).
  *
  * Result: array<struct<dist double, id bigint>> sorted by (dist, id).
  */
case class TopKByDistance(
    dist: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def left: Expression = dist
  override def right: Expression = id
  override def prettyName: String = "topk_by_distance"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null) {
      buf.insert(d.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.dists(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows: Array[Any] = buf.sorted.map { case (d, i) =>
      InternalRow(d, i): Any
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * buf.size)
    bb.putInt(buf.k); bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.dists(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.insert(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByDistance =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByDistance =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(dist = l, id = r)
}

/** Element-wise vector combine (a ± b) in exact DOUBLE arithmetic —
  * the residual kernel of the FAISS-standard residual IVF-PQ layout
  * (subtract: x − centroid(x) before PQ encode; add: centroid +
  * decoded residual for reconstruction-based distances). Inputs widen
  * float→double exactly, so a DuckDB oracle replays the subtraction
  * verbatim over CAST(... AS DOUBLE[]) columns. Mismatched lengths
  * fail the job loudly (the RotateVector contract): silently zipping
  * a prefix would corrupt every code built downstream.
  */
case class VectorCombine(left: Expression, right: Expression, subtract: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = if (subtract) "vector_sub" else "vector_add"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: vector dims ${a.numElements()} != ${b.numElements()}")
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      out(i) = if (subtract) x - y else x + y
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    val op = if (subtract) "-" else "+"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: vector dims " + $a.numElements() + " != " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (double) $a.$lGet($i) $op (double) $b.$rGet($i);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level API over the vector expressions. */
object VectorFunctions {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def l2Distance(a: Column, b: Column): Column =
    c(VectorDistance(e(a), e(b), VectorMetric.L2))
  def cosineDistance(a: Column, b: Column): Column =
    c(VectorDistance(e(a), e(b), VectorMetric.Cosine))
  def dotProduct(a: Column, b: Column): Column =
    c(VectorDistance(e(a), e(b), VectorMetric.Dot))

  /** Bounded k-nearest aggregate: array<struct<dist,id>> ascending. */
  def topKByDistance(dist: Column, id: Column, k: Int): Column =
    c(TopKByDistance(e(dist), e(id), k).toAggregateExpression())

  /** a − b element-wise in exact double arithmetic (residual kernel). */
  def vectorSub(a: Column, b: Column): Column =
    c(VectorCombine(e(a), e(b), subtract = true))
  /** a + b element-wise in exact double arithmetic (reconstruction). */
  def vectorAdd(a: Column, b: Column): Column =
    c(VectorCombine(e(a), e(b), subtract = false))
}
