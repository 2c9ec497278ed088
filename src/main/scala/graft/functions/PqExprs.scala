package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Product-quantization kernels. All three carry their parameter tables
  * as CODEGEN REFERENCE OBJECTS (`ctx.addReferenceObj`), never as
  * source-embedded literals: an equivalent element_at(literal)
  * expression tree measured 429s where the reference-object expression
  * runs the same batch in seconds — nested multi-KB literals blow the
  * janino method-size limit and drop the whole stage to interpreted
  * evaluation, the same failure mode as the r1 centroid-literal bombs
  * but quadratically worse when it sits on a pair stream.
  *
  * Codes are BINARY — one byte per subspace code, exactly the
  * 1-byte-per-code budget PQ advertises (an array<int> rendering of the
  * same codes costs 4× in the cache and in every shuffle; parquet
  * bit-packing only hides that on disk).
  */

/** Encode a float/double vector to M one-byte PQ codes: per subspace,
  * the argmin over that subspace's 256 codebook centroids (squared l2,
  * ties to the lower code — the shared Lloyd trainer's tie rule).
  * A pure map inside whole-stage codegen: the encode path needs NO
  * shuffle at all (the previous formulation — codebook crossJoin +
  * two groupBys — shuffled O(n·M) rows twice).
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {

  private val m = codebooks.length
  private val subDim = codebooks(0)(0).length

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode expects array<float|double>, got $other")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != m * subDim)
      throw new IllegalArgumentException(
        s"pq_encode: vector dim ${a.numElements()} != trained dim ${m * subDim}")
    val out = new Array[Byte](m)
    var mi = 0
    while (mi < m) {
      val cb = codebooks(mi)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cc = cb(c)
        var acc = 0.0
        var p = 0
        while (p < subDim) {
          val x = if (isFloat) a.getFloat(mi * subDim + p).toDouble
                  else a.getDouble(mi * subDim + p)
          val d = x - cc(p)
          acc += d * d
          p += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "float[][][]")
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val mi = ctx.freshName("mi"); val c = ctx.freshName("c")
      val p = ctx.freshName("p"); val out = ctx.freshName("out")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      val cb = ctx.freshName("cb"); val cc = ctx.freshName("cc")
      s"""
         |if ($a.numElements() != ${m * subDim}) {
         |  throw new IllegalArgumentException(
         |    "pq_encode: vector dim " + $a.numElements() + " != trained dim ${m * subDim}");
         |}
         |byte[] $out = new byte[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  float[][] $cb = $cbRef[$mi];
         |  int $best = 0;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $cb.length; $c++) {
         |    float[] $cc = $cb[$c];
         |    double $acc = 0.0;
         |    for (int $p = 0; $p < $subDim; $p++) {
         |      double $d = (double) $a.$get($mi * $subDim + $p) - (double) $cc[$p];
         |      $acc += $d * $d;
         |    }
         |    if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |  }
         |  $out[$mi] = (byte) $best;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Asymmetric distance (ADC): the per-query M×256 exact
  * query-to-centroid distance table rides as a reference object; each
  * encoded row costs M lookups + adds. `takeSqrt` distinguishes the
  * l2-family tables (entries are squared distances, result is a
  * distance) from dot-product tables (entries are negated partial dots,
  * the sum is already the ranking score and may be negative).
  */
case class AdcDistance(child: Expression, table: Array[Array[Double]],
                       takeSqrt: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_distance"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc_distance expects a binary code column, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[Array[Byte]]
    if (a.length != table.length)
      throw new IllegalArgumentException(
        s"pq_adc_distance: code length ${a.length} != trained M ${table.length}")
    var acc = 0.0
    var mi = 0
    while (mi < table.length) {
      acc += table(mi)(a(mi) & 0xFF)
      mi += 1
    }
    if (takeSqrt) math.sqrt(acc) else acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("adcTable", table, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val acc = ctx.freshName("acc")
      val mi = ctx.freshName("mi")
      val finish = if (takeSqrt) s"Math.sqrt($acc)" else acc
      s"""
         |if ($a.length != $tbl.length) {
         |  throw new IllegalArgumentException(
         |    "pq_adc_distance: code length " + $a.length + " != trained M " + $tbl.length);
         |}
         |double $acc = 0.0;
         |for (int $mi = 0; $mi < $tbl.length; $mi++) {
         |  $acc += $tbl[$mi][$a[$mi] & 0xFF];
         |}
         |${ev.value} = $finish;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC over PER-CLUSTER tables — the residual IVF-PQ serving kernel.
  * Residual encoding (x − coarse_centroid(x), the FAISS-standard
  * IVF-PQ composition) makes the per-query lookup table cluster-
  * dependent: probing cluster c ranks by distances between
  * (q − centroid_c) and the shared residual codebooks. The probed
  * clusters' nprobe tables ride as ONE reference object indexed by the
  * probe ordinal (nprobe × M × 256 doubles — ~1 MB at nprobe 64,
  * driver-built per query); each candidate row carries its ordinal
  * (its cluster_id's position in the probe list, computed in the same
  * projection) and costs M lookups,
  * exactly [[AdcDistance]]'s budget. One scan, one codegen'd kernel —
  * the alternative (a union of nprobe single-table branches) grows the
  * physical plan linearly in nprobe.
  */
case class AdcDistanceMulti(left: Expression, right: Expression,
                            tables: Array[Array[Array[Double]]],
                            takeSqrt: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_distance_multi"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc_distance_multi expects (int ordinal, binary codes), got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(o: Any, v: Any): Any = {
    val ord = o.asInstanceOf[Int]
    val a = v.asInstanceOf[Array[Byte]]
    if (ord < 0 || ord >= tables.length)
      throw new IllegalArgumentException(
        s"pq_adc_distance_multi: probe ordinal $ord outside [0, ${tables.length})")
    val t = tables(ord)
    if (a.length != t.length)
      throw new IllegalArgumentException(
        s"pq_adc_distance_multi: code length ${a.length} != trained M ${t.length}")
    var acc = 0.0
    var mi = 0
    while (mi < t.length) {
      acc += t(mi)(a(mi) & 0xFF)
      mi += 1
    }
    if (takeSqrt) math.sqrt(acc) else acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbls = ctx.addReferenceObj("adcTables", tables, "double[][][]")
    nullSafeCodeGen(ctx, ev, (o, a) => {
      val acc = ctx.freshName("acc")
      val mi = ctx.freshName("mi")
      val t = ctx.freshName("t")
      val finish = if (takeSqrt) s"Math.sqrt($acc)" else acc
      s"""
         |if ($o < 0 || $o >= $tbls.length) {
         |  throw new IllegalArgumentException(
         |    "pq_adc_distance_multi: probe ordinal " + $o + " outside [0, " + $tbls.length + ")");
         |}
         |double[][] $t = $tbls[$o];
         |if ($a.length != $t.length) {
         |  throw new IllegalArgumentException(
         |    "pq_adc_distance_multi: code length " + $a.length + " != trained M " + $t.length);
         |}
         |double $acc = 0.0;
         |for (int $mi = 0; $mi < $t.length; $mi++) {
         |  $acc += $t[$mi][$a[$mi] & 0xFF];
         |}
         |${ev.value} = $finish;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Per-pair ADC against a RAW query-side vector — the BATCH residual
  * serving kernel. Point queries pre-build an M×256 table per (query,
  * probed cluster) on the driver ([[AdcDistanceMulti]]); a CORPUS-SIZED
  * query batch cannot (N·nprobe tables), so the fold computes the
  * query-to-sub-centroid contribution on the fly from the pair row
  * itself: Σ_mi f(q_mi, cb_mi[code_mi]) with the codebooks as the one
  * reference object. O(dim) multiply-adds per pair — the same flops as
  * a raw distance — but the CANDIDATE side of the pair shuffle carries
  * M bytes instead of 4·dim, which is the 32× I/O/shuffle win batch
  * ANN actually needs at 100 TB; the query side rides the probe frame
  * it already paid for. For the residual layout the caller passes
  * q − centroid(probed cluster) as the query-side vector (exact
  * doubles, VectorCombine), which IS the per-cluster-shifted table's
  * arithmetic, row-inlined. `dot = true` folds negated partial dots
  * (the caller adds its per-(query, cluster) −q·c shift outside).
  */
case class AdcQueryDistance(left: Expression, right: Expression,
                            codebooks: Array[Array[Array[Float]]],
                            dot: Boolean, takeSqrt: Boolean)
    extends BinaryExpression {

  private val m = codebooks.length
  private val subDim = codebooks(0)(0).length

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_query_distance"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc_query_distance expects (array<float|double>, binary), got $l / $r")
    }

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(q: Any, v: Any): Any = {
    val qa = q.asInstanceOf[ArrayData]
    val a = v.asInstanceOf[Array[Byte]]
    if (qa.numElements() != m * subDim || a.length != m)
      throw new IllegalArgumentException(
        s"pq_adc_query_distance: dim ${qa.numElements()}/codes ${a.length} " +
          s"!= trained ${m * subDim}/$m")
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      val cc = codebooks(mi)(a(mi) & 0xFF)
      var p = 0
      while (p < subDim) {
        val x = if (isFloat) qa.getFloat(mi * subDim + p).toDouble
                else qa.getDouble(mi * subDim + p)
        if (dot) acc -= x * cc(p)
        else { val d = x - cc(p); acc += d * d }
        p += 1
      }
      mi += 1
    }
    if (takeSqrt) math.sqrt(acc) else acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("adcQueryBooks", codebooks, "float[][][]")
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (q, a) => {
      val acc = ctx.freshName("acc"); val mi = ctx.freshName("mi")
      val p = ctx.freshName("p"); val cc = ctx.freshName("cc")
      val x = ctx.freshName("x"); val d = ctx.freshName("d")
      val fold =
        if (dot) s"$acc -= $x * (double) $cc[$p];"
        else s"double $d = $x - (double) $cc[$p]; $acc += $d * $d;"
      val finish = if (takeSqrt) s"Math.sqrt($acc)" else acc
      s"""
         |if ($q.numElements() != ${m * subDim} || $a.length != $m) {
         |  throw new IllegalArgumentException(
         |    "pq_adc_query_distance: dim " + $q.numElements() + "/codes " + $a.length
         |      + " != trained ${m * subDim}/$m");
         |}
         |double $acc = 0.0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  float[] $cc = $cbRef[$mi][$a[$mi] & 0xFF];
         |  for (int $p = 0; $p < $subDim; $p++) {
         |    double $x = (double) $q.$get($mi * $subDim + $p);
         |    $fold
         |  }
         |}
         |${ev.value} = $finish;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Decode M PQ codes back to the quantized vector (each subspace's
  * codebook centroid, concatenated) as exact DOUBLES — the
  * reconstruction half of residual encoding: x̂ = centroid +
  * decode(codes). Codebooks ride as a reference object; a pure
  * codegen'd map, M·subDim array writes per row.
  */
case class PqDecode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {

  private val m = codebooks.length
  private val subDim = codebooks(0)(0).length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_decode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_decode expects a binary code column, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[Array[Byte]]
    if (a.length != m)
      throw new IllegalArgumentException(
        s"pq_decode: code length ${a.length} != trained M $m")
    val out = new Array[Double](m * subDim)
    var mi = 0
    while (mi < m) {
      val cc = codebooks(mi)(a(mi) & 0xFF)
      var p = 0
      while (p < subDim) { out(mi * subDim + p) = cc(p).toDouble; p += 1 }
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqDecodeBooks", codebooks, "float[][][]")
    nullSafeCodeGen(ctx, ev, a => {
      val mi = ctx.freshName("mi"); val p = ctx.freshName("p")
      val out = ctx.freshName("out"); val cc = ctx.freshName("cc")
      s"""
         |if ($a.length != $m) {
         |  throw new IllegalArgumentException(
         |    "pq_decode: code length " + $a.length + " != trained M ${m}");
         |}
         |double[] $out = new double[${m * subDim}];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  float[] $cc = $cbRef[$mi][$a[$mi] & 0xFF];
         |  for (int $p = 0; $p < $subDim; $p++) {
         |    $out[$mi * $subDim + $p] = (double) $cc[$p];
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Symmetric PQ distance (SDC): approximate distance between two
  * PQ-encoded vectors as M table lookups —
  * dist²(a,b) ≈ Σ_m T[m][a_m][b_m], T[m] the inter-centroid table of
  * subspace m's codebook (squared l2 for the l2 family, negated partial
  * dots for dot — see `takeSqrt`). The table is M×256×256 doubles
  * (~4 MB at M=8): reference object or bust (429s vs 8.6s, above).
  */
case class SdcDistance(left: Expression, right: Expression,
                       table: Array[Array[Array[Double]]],
                       takeSqrt: Boolean = true)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_sdc_distance"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_sdc_distance expects binary code columns, got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]
    val b = r.asInstanceOf[Array[Byte]]
    if (a.length != table.length || b.length != table.length)
      throw new IllegalArgumentException(
        s"pq_sdc_distance: code lengths ${a.length}/${b.length} != trained M ${table.length}")
    var acc = 0.0
    var m = 0
    while (m < table.length) {
      acc += table(m)(a(m) & 0xFF)(b(m) & 0xFF)
      m += 1
    }
    if (takeSqrt) math.sqrt(acc) else acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("sdcTable", table, "double[][][]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val m = ctx.freshName("m")
      val finish = if (takeSqrt) s"Math.sqrt($acc)" else acc
      s"""
         |if ($a.length != $tbl.length || $b.length != $tbl.length) {
         |  throw new IllegalArgumentException(
         |    "pq_sdc_distance: code lengths " + $a.length + "/" + $b.length
         |      + " != trained M " + $tbl.length);
         |}
         |double $acc = 0.0;
         |for (int $m = 0; $m < $tbl.length; $m++) {
         |  $acc += $tbl[$m][$a[$m] & 0xFF][$b[$m] & 0xFF];
         |}
         |${ev.value} = $finish;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqFunctions {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def pqEncode(v: Column, codebooks: Array[Array[Array[Float]]]): Column =
    c(PqEncode(e(v), codebooks))

  def adcDistance(codes: Column, table: Array[Array[Double]],
                  takeSqrt: Boolean = true): Column =
    c(AdcDistance(e(codes), table, takeSqrt))

  def adcDistanceMulti(ord: Column, codes: Column,
                       tables: Array[Array[Array[Double]]],
                       takeSqrt: Boolean = true): Column =
    c(AdcDistanceMulti(e(ord), e(codes), tables, takeSqrt))

  def pqDecode(codes: Column, codebooks: Array[Array[Array[Float]]]): Column =
    c(PqDecode(e(codes), codebooks))

  def adcQueryDistance(query: Column, codes: Column,
                       codebooks: Array[Array[Array[Float]]],
                       dot: Boolean = false, takeSqrt: Boolean = true): Column =
    c(AdcQueryDistance(e(query), e(codes), codebooks, dot, takeSqrt))

  def sdcDistance(a: Column, b: Column, table: Array[Array[Array[Double]]],
                  takeSqrt: Boolean = true): Column =
    c(SdcDistance(e(a), e(b), table, takeSqrt))
}
