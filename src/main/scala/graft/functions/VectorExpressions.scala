package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom codegen Catalyst expressions for the vector-math hot path
  * (SURVEY.md §2.6 V1-V6). These replace the reference's per-row PHP loops
  * (`src/VectorTable.php:126-139` hamming, `:164-181` cosine) with
  * whole-stage-codegen'd tight loops over Spark's columnar arrays —
  * no boxing, no Scala-lambda dispatch per element, codegen-friendly so
  * they stay inside WholeStageCodegen spans at 100 TB scale.
  */

/** dot(a, b) over two float arrays, accumulated in double.
  * Mirrors `src/VectorTable.php:169-172` (PHP floats are doubles). */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The one cosine kernel behind `vec_cosine` (`src/VectorTable.php:164-181`):
  * `dot(v, q) / (|v|·|q| + CosineEps)` in a single pass over both arrays —
  * dot over `min(len v, len q)`, `|v|²` over `len v` (unless the row's
  * stored magnitude is given), `|q|²` over `len q`, each the index-ordered
  * double fold of [[DotProductFloat]] — then the denominator in the
  * composite tree's order, `sqrt(vv)·sqrt(qq) + eps` (`Sqrt`, `Multiply`,
  * `Add`, `Divide`), so every result is bit-identical to
  * `Divide(vec_dot(v, q), Add(Multiply(sqrt(vec_dot(v, v)),
  * sqrt(vec_dot(q, q))), eps))`. A zero denominator — reachable only
  * through a stored magnitude of exactly `-eps/|q|` — gives NULL.
  *
  * The query's magnitude is computed here rather than passed in: a
  * `double` literal is inlined into generated Java as text, so a
  * per-request `|q|` made every new query compile fresh classes. An array
  * literal reaches generated code by reference, so two queries of the same
  * shape share one compiled plan. */
private object CosineKernel {
  def eval(v: ArrayData, q: ArrayData, storedMag: Option[Double]): Any = {
    val nv = v.numElements()
    val nq = q.numElements()
    val n = math.min(nv, nq)
    var s = 0.0; var vv = 0.0; var qq = 0.0
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      val y = q.getFloat(i).toDouble
      s += x * y; vv += x * x; qq += y * y
      i += 1
    }
    if (storedMag.isEmpty) while (i < nv) { val x = v.getFloat(i).toDouble; vv += x * x; i += 1 }
    i = n
    while (i < nq) { val y = q.getFloat(i).toDouble; qq += y * y; i += 1 }
    val den = storedMag.getOrElse(math.sqrt(vv)) * math.sqrt(qq) + VectorFunctions.CosineEps
    if (den == 0.0) null else s / den
  }

  def code(ctx: CodegenContext, ev: ExprCode, v: String, q: String,
      storedMag: Option[String]): String = {
    val Seq(nv, nq, n, i, x, y, s, vv, qq, den) =
      Seq("nv", "nq", "n", "i", "x", "y", "s", "vv", "qq", "den").map(ctx.freshName)
    val vTail = if (storedMag.isDefined) "" else
      s"""for (; $i < $nv; $i++) {
         |  double $x = (double) $v.getFloat($i);
         |  $vv += $x * $x;
         |}""".stripMargin
    s"""
       |int $nv = $v.numElements();
       |int $nq = $q.numElements();
       |int $n = java.lang.Math.min($nv, $nq);
       |double $s = 0.0;
       |double $vv = 0.0;
       |double $qq = 0.0;
       |int $i = 0;
       |for (; $i < $n; $i++) {
       |  double $x = (double) $v.getFloat($i);
       |  double $y = (double) $q.getFloat($i);
       |  $s += $x * $y;
       |  $vv += $x * $x;
       |  $qq += $y * $y;
       |}
       |$vTail
       |for ($i = $n; $i < $nq; $i++) {
       |  double $y = (double) $q.getFloat($i);
       |  $qq += $y * $y;
       |}
       |double $den = ${storedMag.getOrElse(s"java.lang.Math.sqrt($vv)")}
       |  * java.lang.Math.sqrt($qq) + ${VectorFunctions.CosineEps}D;
       |if ($den == 0.0) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $s / $den;
       |}
     """.stripMargin
  }
}

/** `vec_cosine(v, q)`: cosine of a float vector against another (typically
  * a query literal), both magnitudes computed in the pass. */
case class CosineFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineKernel.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], None)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => CosineKernel.code(ctx, ev, a, b, None))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_cosine(v, q, v_magnitude)`: [[CosineFloat]] with the row's stored
  * magnitude standing in for `sqrt(vec_dot(v, v))` (the store's
  * `magnitude` column — the reference's stored `magnitude`,
  * `src/VectorTable.php:173`). The magnitude must be a DOUBLE; the SQL
  * and Column builders cast it. */
case class CosineFloatStored(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any, m: Any): Any =
    CosineKernel.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      Some(m.asInstanceOf[Double]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, m) => CosineKernel.code(ctx, ev, a, b, Some(m)))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `vec_normalize(v)`: `v / |v|` with the reference's zero-magnitude guard
  * (`src/VectorTable.php:584-590`) in two passes over `v` — `|v|²` as the
  * index-ordered double fold of [[DotProductFloat]], then one divide per
  * element — bit-identical to the composite it replaces,
  * `transform(v, x -> double(x) / (m == 0 ? ZeroMagEps : m))` with
  * `m = sqrt(vec_dot(v, v))`: there Catalyst re-evaluated `m` inside the
  * lambda for every element, so a row cost O(d²). A null element stays
  * null (and counts as its stored 0 in `|v|²`, as in `vec_dot`). */
case class NormalizeFloat(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_normalize"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; ss += x * x; i += 1 }
    val mag = math.sqrt(ss)
    val safe = if (mag == 0.0) VectorFunctions.ZeroMagEps else mag
    val out = new Array[Any](n)
    i = 0
    while (i < n) { if (!v.isNullAt(i)) out(i) = v.getFloat(i).toDouble / safe; i += 1 }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val Seq(n, i, x, ss, mag, safe, out, nulls, boxed) =
        Seq("n", "i", "x", "ss", "mag", "safe", "out", "nulls", "boxed").map(ctx.freshName)
      val unsafe = classOf[UnsafeArrayData].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $v.numElements();
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $v.getFloat($i);
         |  $ss += $x * $x;
         |}
         |double $mag = java.lang.Math.sqrt($ss);
         |double $safe = $mag == 0.0 ? ${VectorFunctions.ZeroMagEps}D : $mag;
         |double[] $out = new double[$n];
         |boolean $nulls = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) $nulls = true;
         |  else $out[$i] = (double) $v.getFloat($i) / $safe;
         |}
         |if ($nulls) {
         |  Object[] $boxed = new Object[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$v.isNullAt($i)) $boxed[$i] = $out[$i];
         |  }
         |  ${ev.value} = new $gad($boxed);
         |} else {
         |  ${ev.value} = $unsafe.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between two sign-bit sketches packed as long arrays.
  * Replaces the reference's char-by-char bitstring compare
  * (`src/VectorTable.php:126-139`) with XOR + popcount per 64-bit word. */
case class HammingDistPacked(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_dist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0
    var i = 0
    while (i < n) { d += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    d
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $d = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $d += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sign-binarize a float vector and pack the bits into longs
  * (bit j of word w = vector[64*w + j] > 0; strictly-positive test matches
  * `src/VectorTable.php:541` `$vector[$i] > 0`). 64 dims -> 1 long;
  * 1024 dims -> 16 longs. Ingest-time only (not a per-query hot path), so
  * interpreted eval + codegen both provided but simple. */
case class PackSignBits(child: Expression)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pack_sign_bits"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val words = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      if (v.getFloat(i) > 0f) words(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    new GenericArrayData(words)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val words = ctx.freshName("words")
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $v.numElements();
         |long[] $words = new long[($n + 63) / 64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.getFloat($i) > 0f) $words[$i >> 6] |= (1L << ($i & 63));
         |}
         |${ev.value} = new $gad($words);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash over a pre-hashed token array: for each of 64 bit positions,
  * sum +1/-1 votes weighted by the token hashes' bits; output the sign
  * vector as a single long. Standard Charikar simhash — used for near-dup
  * detection at scale (one long per document; hamming <= t => near-dup). */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val votes = ctx.freshName("votes")
      val out = ctx.freshName("out")
      s"""
         |int $n = $hs.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $hs.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) { if ($votes[$b] > 0) $out |= (1L << $b); }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dense ±1 sign projection of a float vector against a BROADCAST
  * row-major matrix: out_j = round6( Σ_i v_i·m[j·inDim+i] / scale ),
  * the codegen kernel behind [[graft.operators.Ann.jlProject]].
  *
  * The matrix rides in an `sc.broadcast` handle — NOT inlined literals:
  * a 1024×256 projection as literal expression nodes is ~262k Catalyst
  * nodes (analysis/codegen blow-up and a guaranteed codegen fall-off);
  * as a broadcast it is one 2 MB block fetched once per executor, and
  * the generated code is two tight primitive loops inside whole-stage
  * codegen. The accumulation is the index-ordered sequential double
  * fold and the rounding the BigDecimal HALF_UP grid — bit-identical to
  * the literal-tree formulation and to the SQL oracle's list_sum.
  *
  * A vector shorter than `inDim` yields NULL (the literal tree produced
  * an array of nulls; a whole-row null is the same "malformed input"
  * signal without a containsNull element type). */
case class JlProjectPacked(child: Expression,
    mat: org.apache.spark.broadcast.Broadcast[Array[Double]],
    inDim: Int, outDim: Int) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"

  private val scale: Double = math.sqrt(outDim.toDouble)
  @transient private lazy val m: Array[Double] = mat.value

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() < inDim) return null
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      val off = j * inDim
      var i = 0
      while (i < inDim) { acc += v.getFloat(i).toDouble * m(off + i); i += 1 }
      out(j) = java.math.BigDecimal.valueOf(acc / scale)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      j += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("jlMatBc", mat, bcName)
    // fetch the broadcast ONCE per task, not per row
    val matVar = ctx.addMutableState("double[]", "jlMat",
      v => s"$v = (double[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, v => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val off = ctx.freshName("off")
      val out = ctx.freshName("out")
      val gad = classOf[GenericArrayData].getName
      s"""
         |if ($v.numElements() < $inDim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[$outDim];
         |  for (int $j = 0; $j < $outDim; $j++) {
         |    double $acc = 0.0;
         |    int $off = $j * $inDim;
         |    for (int $i = 0; $i < $inDim; $i++) {
         |      $acc += (double) $v.getFloat($i) * $matVar[$off + $i];
         |    }
         |    $out[$j] = java.math.BigDecimal.valueOf($acc / $scale)
         |      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
