package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Collect buffer for [[MmrFold]]: the per-query shortlist (cand, simq)
  * plus the within-shortlist pair sims (a, b, simab). Rows arrive from
  * a union of the cv table (simq non-null) and the ps table (simab
  * non-null); buffers from different partitions hold disjoint row sets,
  * so merge is pure concatenation.
  */
final class MmrFoldBuffer {
  var cIds = new Array[Long](8);   var cSims = new Array[Double](8);  var cN = 0
  var pA = new Array[Long](32);    var pB = new Array[Long](32)
  var pSim = new Array[Double](32); var pN = 0

  def addCand(id: Long, simq: Double): Unit = {
    if (cN == cIds.length) {
      cIds = java.util.Arrays.copyOf(cIds, cN * 2)
      cSims = java.util.Arrays.copyOf(cSims, cN * 2)
    }
    cIds(cN) = id; cSims(cN) = simq; cN += 1
  }
  def addPair(a: Long, b: Long, simab: Double): Unit = {
    if (pN == pA.length) {
      pA = java.util.Arrays.copyOf(pA, pN * 2)
      pB = java.util.Arrays.copyOf(pB, pN * 2)
      pSim = java.util.Arrays.copyOf(pSim, pN * 2)
    }
    pA(pN) = a; pB(pN) = b; pSim(pN) = simab; pN += 1
  }
}

/** The k−1-round greedy MMR fold as ONE bounded aggregate — the
  * distributed per-round loop (join against the latest pick +
  * localCheckpoint + bounded top-1 aggregate, k−1 eager jobs per fold)
  * collapsed into a single ObjectHashAggregate pass: per query the
  * whole problem is ≤C candidates and ≤C·(C−1) pair sims, so the fold
  * is a local loop at eval time. The arithmetic and tie-breaking
  * replicate the distributed rounds EXACTLY (MmrSpec pins equality):
  *
  *   - round 1 picks argmax simq; rounds 2..k pick
  *     argmax λ·simq − (1−λ)·pen with pen = simab against the latest
  *     pick on round 2 and GREATEST(pen, simab) after — here
  *     `math.max`, identical on NaN-free doubles;
  *   - 1−λ is evaluated ONCE (the `lit(1.0 - lambda)` double), and the
  *     score is (λ·simq) − ((1−λ)·pen) in that association;
  *   - each argmax replicates TopKByDistance's k=1 comparator on
  *     (dist = −score, id): strict `worse` replacement over an
  *     ascending-id scan — min by (−score, cand) on primitive doubles;
  *   - a candidate with no ps pair against the latest pick leaves the
  *     remaining set (the distributed rounds' inner join), and picks
  *     stop early when the remaining set empties.
  *
  * Result: array<struct<cand bigint, rank int>> in rank order 1..k.
  */
case class MmrFold(
    cand: Expression,
    simq: Expression,
    pairB: Expression,
    simab: Expression,
    k: Int,
    lambda: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MmrFoldBuffer] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(cand, simq, pairB, simab)
  override def prettyName: String = "mmr_fold"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cand", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): MmrFoldBuffer = new MmrFoldBuffer

  /** NaN sims are refused here, at the one place every row enters the
    * fold: `worse` and `math.max` are a total order only on NaN-free
    * doubles, so a NaN would let the fold silently diverge from the
    * distributed rounds and the oracle. The engine's cosine never
    * yields one (a zero-norm vector is at distance 1.0, sim 0.0).
    */
  override def update(buf: MmrFoldBuffer, input: InternalRow): MmrFoldBuffer = {
    val c = cand.eval(input)
    if (c != null) {
      val sq = simq.eval(input)
      if (sq != null) buf.addCand(c.asInstanceOf[Long], finite(sq, "simq", c))
      else {
        val b = pairB.eval(input); val s = simab.eval(input)
        if (b != null && s != null)
          buf.addPair(c.asInstanceOf[Long], b.asInstanceOf[Long],
            finite(s, "simab", c))
      }
    }
    buf
  }

  private def finite(v: Any, name: String, c: Any): Double = {
    val d = v.asInstanceOf[Double]
    if (d.isNaN)
      throw new IllegalArgumentException(
        s"mmr_fold: NaN $name for candidate $c; the fold needs NaN-free similarities")
    d
  }

  override def merge(buf: MmrFoldBuffer, other: MmrFoldBuffer): MmrFoldBuffer = {
    var i = 0
    while (i < other.cN) { buf.addCand(other.cIds(i), other.cSims(i)); i += 1 }
    i = 0
    while (i < other.pN) { buf.addPair(other.pA(i), other.pB(i), other.pSim(i)); i += 1 }
    buf
  }

  /** TopKByDistance's replacement predicate verbatim. */
  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  override def eval(buf: MmrFoldBuffer): Any = {
    val n = buf.cN
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // ascending-cand candidate order: the deterministic scan order the
    // argmax comparator resolves ties under
    val order = Array.range(0, n).sortBy(buf.cIds(_))
    val ids = order.map(buf.cIds(_))
    val sims = order.map(buf.cSims(_))
    // pair lookup: a -> (b -> simab)
    val pair = new java.util.HashMap[Long, java.util.HashMap[Long, java.lang.Double]]()
    var i = 0
    while (i < buf.pN) {
      var m = pair.get(buf.pA(i))
      if (m == null) { m = new java.util.HashMap[Long, java.lang.Double](); pair.put(buf.pA(i), m) }
      m.put(buf.pB(i), buf.pSim(i))
      i += 1
    }
    val om = 1.0 - lambda
    val alive = Array.fill(n)(true)
    val pen = new Array[Double](n)
    val pickIds = new Array[Long](k)
    var picks = 0
    // round 1: argmax simq = min by (−simq, id)
    var best = -1
    i = 0
    while (i < n) {
      if (best < 0 || worse(-sims(best), ids(best), -sims(i), ids(i))) best = i
      i += 1
    }
    pickIds(0) = ids(best); picks = 1
    alive(best) = false
    var latest = ids(best)
    var r = 2
    var done = false
    while (r <= k && !done) {
      // membership + penalty update against the latest pick only; the
      // ps join key is (a = cand, b = latest pick), and a candidate
      // with no pair row leaves the fold (the inner join)
      i = 0
      while (i < n) {
        if (alive(i)) {
          if (ids(i) == latest) alive(i) = false
          else {
            val mi = pair.get(ids(i))
            val s = if (mi == null) null else mi.get(latest)
            if (s == null) alive(i) = false
            else pen(i) = if (r == 2) s.doubleValue()
                          else math.max(pen(i), s.doubleValue())
          }
        }
        i += 1
      }
      best = -1
      i = 0
      while (i < n) {
        if (alive(i)) {
          val sc = lambda * sims(i) - om * pen(i)
          if (best < 0) best = i
          else {
            val sb = lambda * sims(best) - om * pen(best)
            if (worse(-sb, ids(best), -sc, ids(i))) best = i
          }
        }
        i += 1
      }
      if (best < 0) done = true
      else {
        pickIds(picks) = ids(best); picks += 1
        alive(best) = false
        latest = ids(best)
        r += 1
      }
    }
    val rows: Array[Any] = Array.tabulate(picks)(j => InternalRow(pickIds(j), j + 1): Any)
    new GenericArrayData(rows)
  }

  override def serialize(buf: MmrFoldBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * buf.cN + 24 * buf.pN)
    bb.putInt(buf.cN); bb.putInt(buf.pN)
    var i = 0
    while (i < buf.cN) { bb.putLong(buf.cIds(i)); bb.putDouble(buf.cSims(i)); i += 1 }
    i = 0
    while (i < buf.pN) { bb.putLong(buf.pA(i)); bb.putLong(buf.pB(i)); bb.putDouble(buf.pSim(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MmrFoldBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new MmrFoldBuffer
    val cn = bb.getInt(); val pn = bb.getInt()
    var i = 0
    while (i < cn) { buf.addCand(bb.getLong(), bb.getDouble()); i += 1 }
    i = 0
    while (i < pn) { buf.addPair(bb.getLong(), bb.getLong(), bb.getDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MmrFold =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MmrFold =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(cand = newChildren(0), simq = newChildren(1), pairB = newChildren(2),
      simab = newChildren(3))
}

object MmrFoldAgg {
  /** Column face: the greedy MMR selection over unioned cv/ps rows. */
  def mmrFold(cand: Column, simq: Column, pairB: Column, simab: Column,
              k: Int, lambda: Double): Column =
    ColumnBridge.column(MmrFold(
      ColumnBridge.expression(cand), ColumnBridge.expression(simq),
      ColumnBridge.expression(pairB), ColumnBridge.expression(simab),
      k, lambda).toAggregateExpression())
}
