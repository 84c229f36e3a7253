package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.SearchEngine

/** ScalaCheck properties for the codegen vector expressions (SURVEY.md §5
  * item 1). No Spark session: most properties exercise the interpreted
  * `eval` path directly, so hundreds of generated cases run in
  * milliseconds; the Spark-side path of those is covered by the DataFrame
  * suites and the DuckDB oracle queries (q30-q37). The `vec_cosine`
  * kernel properties also run its generated code — one projection
  * compiled per form with `GenerateUnsafeProjection` (the codegen path of
  * `UnsafeProjection.create`, without its interpreted fallback) — and hold
  * both paths bit for bit to the composite trees the kernel replaced. */
object VectorExpressionProps extends Properties("VectorExpressions") {

  private def vecN(n: Int): Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](n, Gen.chooseNum(-8f, 8f))

  private val vec: Gen[Array[Float]] = Gen.choose(1, 130).flatMap(vecN)

  private val pair: Gen[(Array[Float], Array[Float])] =
    for { n <- Gen.choose(1, 130); a <- vecN(n); b <- vecN(n) } yield (a, b)

  private val triple: Gen[(Array[Float], Array[Float], Array[Float])] =
    for { n <- Gen.choose(1, 130); a <- vecN(n); b <- vecN(n); c <- vecN(n) } yield (a, b, c)

  private def litF(a: Array[Float]) =
    Literal(new GenericArrayData(a), ArrayType(FloatType, containsNull = false))
  private def litL(a: Array[Long]) =
    Literal(new GenericArrayData(a), ArrayType(LongType, containsNull = false))

  private def dot(a: Array[Float], b: Array[Float]): Double =
    DotProductFloat(litF(a), litF(b)).eval().asInstanceOf[Double]
  private def pack(a: Array[Float]): Array[Long] =
    PackSignBits(litF(a)).eval().asInstanceOf[GenericArrayData].toLongArray()
  private def ham(a: Array[Long], b: Array[Long]): Int =
    HammingDistPacked(litL(a), litL(b)).eval().asInstanceOf[Int]
  private def simhash(hs: Array[Long]): Long =
    SimHash64(litL(hs)).eval().asInstanceOf[Long]

  // ---- vec_cosine: the fused kernel vs the composite trees it replaced ---

  private val vecType = ArrayType(FloatType, containsNull = false)
  private val vRef = BoundReference(0, vecType, nullable = true)
  private val qRef = BoundReference(1, vecType, nullable = true)
  private val mRef = BoundReference(2, DoubleType, nullable = true)
  private val eps = Literal(VectorFunctions.CosineEps)
  private def mag(a: Expression): Expression = Sqrt(DotProductFloat(a, a))

  /** (kernel, composite) pairs: the 2-argument form against
    * `dot / (sqrt(dot(v,v))·sqrt(dot(q,q)) + eps)`, the stored-magnitude
    * form against the same tree with the row's magnitude for |v|. */
  private val twoArg = (CosineFloat(vRef, qRef),
    Divide(DotProductFloat(vRef, qRef), Add(Multiply(mag(vRef), mag(qRef)), eps)))
  private val stored = (CosineFloatStored(vRef, qRef, mRef),
    Divide(DotProductFloat(vRef, qRef), Add(Multiply(mRef, mag(qRef)), eps)))

  private lazy val compiled: Map[Expression, UnsafeProjection] =
    Seq(twoArg, stored).flatMap { case (k, c) => Seq(k, c) }
      .map(e => e -> GenerateUnsafeProjection.generate(Seq(e))).toMap

  /** Raw long bits, so NaN payloads and signed zeros compare too; None is NULL. */
  private def bits(d: Any): Option[Long] =
    Option(d).map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))

  /** One result per eval path: interpreted, then generated code. */
  private def results(e: Expression, row: InternalRow): Seq[Option[Long]] = {
    val out = compiled(e)(row)
    Seq(bits(e.eval(row)), if (out.isNullAt(0)) None else bits(out.getDouble(0)))
  }

  private val element: Gen[Float] = Gen.frequency(
    12 -> Gen.chooseNum(-8f, 8f), 1 -> Gen.const(Float.NaN),
    1 -> Gen.oneOf(Float.PositiveInfinity, Float.NegativeInfinity), 1 -> Gen.const(0f))
  /** Random, zero, empty and special-valued vectors of independent lengths
    * (so the pair is usually mismatched), or null. */
  private val anyVec: Gen[Option[Array[Float]]] = Gen.frequency(
    10 -> Gen.choose(0, 40).flatMap(vecN).map(Some(_)),
    3 -> Gen.choose(0, 40).flatMap(n => Gen.containerOfN[Array, Float](n, element)).map(Some(_)),
    1 -> Gen.choose(0, 40).map(n => Some(Array.fill(n)(0f))),
    1 -> Gen.const(None))
  private val anyMag: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.chooseNum(0.0, 50.0).map(Some(_)), 1 -> Gen.chooseNum(-50.0, 0.0).map(Some(_)),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, 0.0, -0.0).map(Some(_)),
    1 -> Gen.const(None))

  private def row(v: Option[Array[Float]], q: Option[Array[Float]], m: Option[Double]) =
    InternalRow(v.map(a => new GenericArrayData(a)).orNull,
      q.map(a => new GenericArrayData(a)).orNull, m.map(Double.box).orNull)

  private def agrees(pair: (Expression, Expression), r: InternalRow): Boolean = {
    val kernel = results(pair._1, r)
    kernel.distinct.size == 1 && kernel == results(pair._2, r)
  }

  property("vec_cosine(v, q) is bit-identical to the composite tree, eval and codegen") =
    forAll(anyVec, anyVec) { (v, q) => agrees(twoArg, row(v, q, None)) }

  property("vec_cosine(v, q, mag) is bit-identical to the stored-magnitude tree") =
    forAll(anyVec, anyVec, anyMag) { (v, q, m) => agrees(stored, row(v, q, m)) }

  property("vec_cosine with a null vector, query or magnitude is null on both paths") =
    forAll(anyVec, anyVec, anyMag, Gen.choose(0, 2)) { (v, q, m, hole) =>
      val r = row(if (hole == 0) None else v, if (hole == 1) None else q, if (hole == 2) None else m)
      (hole == 2 || results(twoArg._1, r).forall(_.isEmpty)) &&
        results(stored._1, r).forall(_.isEmpty)
    }

  property("in-kernel |q| is SearchEngine.magnitudeOf(q): the old stage-3 tree, bit for bit") =
    forAll(anyVec, anyVec, anyMag) { (v, q, m) =>
      val r = row(v, q, m)
      val oldStage3 = Divide(DotProductFloat(vRef, qRef),
        Add(Multiply(mRef, Literal(q.map(SearchEngine.magnitudeOf).getOrElse(0.0))), eps))
      q.isEmpty || results(stored._1, r).forall(_ == bits(oldStage3.eval(r)))
    }

  // ---- vec_normalize: the fused kernel vs the composite it replaced ------

  private val nullableVecType = ArrayType(FloatType, containsNull = true)
  private val nRef = BoundReference(0, nullableVecType, nullable = true)
  /** `transform(v, x -> double(x) / (m == 0 ? ZeroMagEps : m))`,
    * `m = sqrt(vec_dot(v, v))`: the old `vecNormalize` tree, resolved. */
  private val normalizeComposite: Expression = {
    val x = NamedLambdaVariable("x", FloatType, nullable = true)
    val m = mag(nRef)
    ArrayTransform(nRef, LambdaFunction(
      Divide(Cast(x, DoubleType, Some("UTC")),
        CaseWhen(Seq(EqualTo(m, Literal(0.0)) -> Literal(VectorFunctions.ZeroMagEps)), m)),
      Seq(x)))
  }
  private val normalizeKernel: Expression = NormalizeFloat(nRef)
  private lazy val normalizeCompiled: Map[Expression, UnsafeProjection] = Seq(normalizeKernel, normalizeComposite)
    .map(e => e -> GenerateUnsafeProjection.generate(Seq(e))).toMap

  /** Each element's raw bits (None for a null element), or None for a null
    * array, from one eval path's array result. */
  private def arrayBits(a: ArrayData): Option[Seq[Option[Long]]] =
    Option(a).map(arr => (0 until arr.numElements()).map(i =>
      if (arr.isNullAt(i)) None else bits(arr.getDouble(i))))

  private def normalizeResults(e: Expression, row: InternalRow): Seq[Option[Seq[Option[Long]]]] = {
    val out = normalizeCompiled(e)(row)
    Seq(arrayBits(e.eval(row).asInstanceOf[ArrayData]),
      if (out.isNullAt(0)) None else arrayBits(out.getArray(0)))
  }

  /** [[anyVec]] with some elements nulled. */
  private val holedVec: Gen[Option[Array[java.lang.Float]]] = for {
    v <- anyVec
    holes <- Gen.frequency(3 -> Gen.const(0.0), 1 -> Gen.choose(0.1, 0.5))
    seed <- Gen.long
  } yield v.map { a =>
    val rnd = new scala.util.Random(seed)
    a.map(x => if (rnd.nextDouble() < holes) null else java.lang.Float.valueOf(x))
  }

  property("vec_normalize has the composite's result type") =
    forAll(Gen.const(())) { _ => normalizeKernel.dataType == normalizeComposite.dataType }

  property("vec_normalize(v) is bit-identical to the composite tree, eval and codegen") =
    forAll(holedVec) { v =>
      val r = InternalRow(v.map(a => new GenericArrayData(a.map(x => x: Any))).orNull)
      val kernel = normalizeResults(normalizeKernel, r)
      kernel.distinct.size == 1 && kernel == normalizeResults(normalizeComposite, r)
    }

  property("dot matches sequential double accumulation") = forAll(pair) { case (a, b) =>
    val expected = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    dot(a, b) == expected
  }

  property("dot is symmetric") = forAll(pair) { case (a, b) => dot(a, b) == dot(b, a) }

  property("pack sets bit i iff v(i) > 0") = forAll(vec) { a =>
    val words = pack(a)
    a.indices.forall { i =>
      (((words(i >> 6) >>> (i & 63)) & 1L) == 1L) == (a(i) > 0f)
    } && words.length == (a.length + 63) / 64
  }

  property("pack agrees with SearchEngine.packQuery (stage-0 driver path)") =
    forAll(vec) { a => pack(a).sameElements(SearchEngine.packQuery(a)) }

  property("pack is invariant under positive scaling") =
    forAll(vec, Gen.chooseNum(0.01f, 100f)) { (a, s) =>
      pack(a.map(_ * s)).sameElements(pack(a))
    }

  property("hamming(a,a) == 0") = forAll(vec) { a =>
    ham(pack(a), pack(a)) == 0
  }

  property("hamming is symmetric") = forAll(pair) { case (a, b) =>
    ham(pack(a), pack(b)) == ham(pack(b), pack(a))
  }

  property("hamming satisfies the triangle inequality") = forAll(triple) { case (a, b, c) =>
    ham(pack(a), pack(c)) <= ham(pack(a), pack(b)) + ham(pack(b), pack(c))
  }

  property("hamming counts differing sign bits (reference semantics, VectorTable.php:126-139)") =
    forAll(pair) { case (a, b) =>
      val expected = a.zip(b).count { case (x, y) => (x > 0f) != (y > 0f) }
      ham(pack(a), pack(b)) == expected
    }

  property("simhash is invariant under input permutation") =
    forAll(Gen.nonEmptyListOf(Gen.long), Gen.long) { (hs, seed) =>
      val arr = hs.toArray
      val shuffled = new scala.util.Random(seed).shuffle(hs).toArray
      simhash(arr) == simhash(shuffled)
    }

  property("simhash of a single hash is (almost) the hash: 1-bits preserved") =
    forAll(Gen.long) { h =>
      // one input: bit set -> vote +1 -> bit set; bit clear -> vote -1 -> clear
      simhash(Array(h)) == h
    }
}
