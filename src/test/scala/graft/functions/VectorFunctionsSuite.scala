package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions._

/** Column-level vector math over a generated frame (codegen path of the
  * same expressions VectorExpressionProps checks interpreted). */
class VectorFunctionsSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private val dim = 16
  private val vecs: Seq[(Long, Array[Float])] =
    (1L to 50L).map(i => i -> Array.fill(dim)(rnd.nextFloat() * 8f - 4f)) :+
      (99L -> Array.fill(dim)(0f)) // zero vector exercises the 1e-10 guard

  private lazy val df = vecs.toDF("id", "v")

  test("V1: magnitude matches sqrt of sequential dot, and is >= 0") {
    val got = df.select($"id", vecMagnitude($"v").as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vecs.foreach { case (id, v) =>
      val exp = math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      assert(got(id) == exp, s"id=$id")
      assert(got(id) >= 0.0)
    }
  }

  test("V2: ||normalize(v)|| ~= 1 for nonzero v; zero vector stays zero (1e-10 guard)") {
    val norms = df
      .select($"id", vecNormalize($"v").as("nv"))
      .select($"id", sqrt(aggregate($"nv", lit(0.0), (a, x) => a + x * x)).as("norm"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vecs.foreach { case (id, v) =>
      if (id == 99L) assert(norms(id) == 0.0, "zero vector must not blow up")
      else assert(math.abs(norms(id) - 1.0) < 1e-9, s"id=$id norm=${norms(id)}")
    }
  }

  test("V6: cosine(v, v) ~= 1 (modulo the +1e-12 denominator)") {
    val cos = df.filter($"id" =!= 99L)
      .select(vecCosine($"v", $"v").as("c")).collect().map(_.getDouble(0))
    cos.foreach(c => assert(math.abs(c - 1.0) < 1e-9, s"cos=$c"))
  }

  test("V6: cosine via precomputed magnitudes equals inline-magnitude form") {
    val both = df.filter($"id" =!= 99L).as("a").crossJoin(df.filter($"id" === 1L).as("b"))
      .select(
        vecCosine($"a.v", $"b.v").as("c1"),
        vecCosine($"a.v", $"b.v", vecMagnitude($"a.v")).as("c2"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("V3: signBits agrees with packed binary_code bit-for-bit") {
    val rows = df.select($"id", signBits($"v").as("bits"), packSignBits($"v").as("packed"))
      .collect()
    rows.foreach { r =>
      val bits = r.getSeq[Int](1)
      val packed = r.getSeq[Long](2)
      bits.zipWithIndex.foreach { case (bit, i) =>
        val fromPacked = (packed(i >> 6) >>> (i & 63)) & 1L
        assert(fromPacked == bit.toLong, s"id=${r.getLong(0)} bit $i")
      }
    }
  }

  test("exact-decimal dot agrees with codegen dot to double precision") {
    val rows = df.as("a").crossJoin(df.filter($"id" <= 3L)
        .select($"v".as("w")))
      .select(vecDot($"v", $"w").as("d1"), vecDotExact($"v", $"w").as("d2"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("every custom kernel survives CODEGEN_ONLY — no silent interpreted fallback") {
    // FALLBACK (the default) quietly interprets an expression whose
    // generated Java fails to compile; forcing CODEGEN_ONLY turns a broken
    // doGenCode into a hard failure here instead of a latent perf cliff
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = df.limit(5)
        .select($"id", vecDot($"v", $"v").as("dot"),
          packSignBits($"v").as("bits"),
          simHash64(transform($"v", x => xxhash64(x))).as("sh"))
        .withColumn("ham", hammingDist($"bits", $"bits"))
        .collect()
      assert(out.length == 5 && out.forall(_.getInt(4) == 0))
      val proj = graft.operators.Ann.jlProject(df.limit(3), "v", dim, 4)
        .select("proj").collect()
      assert(proj.forall(_.getSeq[Double](0).length == 4))
    } finally {
      prev.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }
}
