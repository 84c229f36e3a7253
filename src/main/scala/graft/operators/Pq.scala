package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) with asymmetric-distance (ADC) search — the
  * classic memory-compression path for web-scale ANN (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011; same family as
  * FAISS's IVFPQ): split each d-dim vector into `m` subvectors, quantize
  * each against a per-subspace codebook of `k` centroids, store only the
  * m code bytes (d·4 bytes -> m bytes: 64-dim float -> 4 bytes at m=4 —
  * a 64x compression), and score queries against codes through a per-query
  * lookup table without ever touching the original vectors.
  *
  * Scale shape: codebooks are k·d floats — a driver-side scalar anchor
  * (same class as [[Ann.lloydTrain]]'s centroid collect); encode and ADC
  * are pure per-row Column expressions (codegen, no UDFs, no shuffle);
  * the top-k is TakeOrderedAndProject. The heavy vector column is read
  * ONCE at encode time; every later search touches only the m-byte codes.
  *
  * Determinism contract (mirrors q58/q59): seed codebooks are the first-k
  * vectors' subvectors in id order; argmin ties break on the LOWEST code;
  * all distance math is float->double, reproducible in the DuckDB oracle.
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j; every centroid has length
    * d/m. */
  type Codebooks = Array[Array[Array[Float]]]

  private def subvector(vec: Array[Float], j: Int, subDim: Int): Array[Float] =
    java.util.Arrays.copyOfRange(vec, j * subDim, (j + 1) * subDim)

  /** Seed codebooks from the first `k` vectors (id order) — the
    * deterministic, oracle-expressible initialization; refine with
    * [[lloydRefine]] when recall matters more than SQL-checkability. */
  def seedCodebooks(embs: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Codebooks = {
    val rows = embs.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
    require(rows.length == k, s"need $k seed vectors, found ${rows.length}")
    val seeds = rows.map(r => r.getSeq[Float](0).toArray)
    val d = seeds.head.length
    require(d % m == 0, s"dim $d must divide into $m subspaces")
    val subDim = d / m
    Array.tabulate(m, k)((j, c) => subvector(seeds(c), j, subDim))
  }

  /** Squared-L2 Column between a subvector slice and a centroid literal —
    * float->double then sum, index order (DuckDB-reproducible). */
  private def subDist(vec: Column, j: Int, centroid: Array[Float]): Column = {
    val subDim = centroid.length
    val slice = org.apache.spark.sql.functions.slice(vec, j * subDim + 1, subDim)
    aggregate(
      zip_with(slice, lit(centroid).cast(ArrayType(FloatType)),
        (x, c) => {
          val diff = x.cast(DoubleType) - c.cast(DoubleType)
          diff * diff
        }),
      lit(0.0), (acc, v) => acc + v)
  }

  /** Per-row PQ codes as `array<int>` of length m: code j = argmin over the
    * subspace-j codebook (ties -> lowest code). Pure Column expression —
    * the argmin is an array_min over (dist, code) structs, so whole-stage
    * codegen applies and nothing shuffles. */
  def encodeExpr(vec: Column, books: Codebooks): Column =
    array(books.indices.map { j =>
      val scored = array(books(j).indices.map { c =>
        struct(subDist(vec, j, books(j)(c)).as("d"), lit(c).as("c"))
      }: _*)
      // struct ordering compares d first, then c — exactly argmin-tie-low
      array_min(scored).getField("c")
    }: _*)

  /** embs + a `codes` column; downstream search needs ONLY (id, codes). */
  def encode(embs: DataFrame, vecCol: String, books: Codebooks,
      out: String = "codes"): DataFrame = {
    require(!embs.columns.contains(out),
      s"encode emits a '$out' column; rename the existing one first")
    embs.withColumn(out, encodeExpr(col(vecCol), books))
  }

  /** ADC top-k: build the query's m×k squared-L2 lookup table driver-side,
    * score every row as sum_j lut(j)(codes[j]) via element_at on a literal
    * array, TakeOrderedAndProject the k best. The vector column is never
    * read. */
  def adcTopK(encoded: DataFrame, idCol: String, codesCol: String,
      books: Codebooks, query: Array[Float], topK: Int): DataFrame = {
    val m = books.length
    val subDim = books.head.head.length
    require(query.length == m * subDim,
      s"query dim ${query.length} != codebook dim ${m * subDim}")
    val lut: Array[Double] = books.indices.flatMap { j =>
      val q = subvector(query, j, subDim)
      books(j).map { cent =>
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val diff = q(i).toDouble - cent(i).toDouble
          acc += diff * diff; i += 1
        }
        acc
      }
    }.toArray
    val k = books.head.length
    val lutCol = lit(lut).cast(ArrayType(DoubleType))
    val dist = (0 until m).map(j =>
      // flat j-major LUT: entry (j, code) sits at 1-based j*k + code + 1
      element_at(lutCol, element_at(col(codesCol), j + 1) + lit(j * k + 1)))
      .reduce(_ + _)
    encoded
      .withColumn("adc_dist", dist)
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** IVF×PQ composition (the FAISS-IVFPQ shape): prune to the `nprobe`
    * coarse lists nearest the query, then ADC-score only the survivors'
    * codes. Coarse assignment/probing follows [[Ann.ivfAssign]]'s
    * max-dot convention (one definition of "nearest list" across all IVF
    * ops); fine scoring is the PQ L2 LUT. Expected scan fraction
    * nprobe/|coarse| of the table, and the scored rows carry only m-byte
    * codes — the two savings multiply. Single scan, no exchange except
    * the TakeOrdered merge. */
  def ivfAdcTopK(embs: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[Array[Float]], books: Codebooks, query: Array[Float],
      nprobe: Int, topK: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe ($nprobe) must be in [1, ${coarse.length}]")
    // not Ann.probeOrder: this dot runs over the query's length, so a
    // query longer than the centroids throws here instead of probing
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val probes = coarse.indices
      .sortBy(i => (-dot(query, coarse(i)), i))
      .take(nprobe)
    val pruned = Ann.ivfAssign(embs, vecCol, coarse)
      .filter(col("ivf_list").isin(probes: _*))
    adcTopK(encode(pruned, vecCol, books), idCol, "codes", books, query, topK)
  }

  /** One deterministic Lloyd refinement pass per subspace: reassign via
    * [[encodeExpr]], recompute each (subspace, code) centroid as the
    * decimal-exact mean of its members (empty cells keep their seed).
    * k·d floats come back to the driver — the same bounded scalar anchor
    * as the seed collect. */
  def lloydRefine(embs: DataFrame, vecCol: String, books: Codebooks): Codebooks = {
    val m = books.length
    val subDim = books.head.head.length
    val coded = embs.select(col(vecCol).as("__v"),
      encodeExpr(col(vecCol), books).as("__codes"))
    // explode to (subspace, code, subvector-dim, value) and mean per cell;
    // decimal-cast sums keep the mean bit-reproducible (q58 discipline)
    val cells = coded.select(
      explode(array((0 until m).map(j => struct(
        lit(j).as("j"),
        element_at(col("__codes"), j + 1).as("c"),
        slice(col("__v"), j * subDim + 1, subDim).as("sv"))): _*)).as("cell"))
      .select(col("cell.j"), col("cell.c"), posexplode(col("cell.sv")).as(Seq("dim", "x")))
      .groupBy("j", "c", "dim")
      .agg((sum(col("x").cast(DoubleType).cast(DecimalType(28, 8)))
        .cast(DoubleType) / count(lit(1))).as("mean"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    Array.tabulate(m, books.head.length) { (j, c) =>
      val seed = books(j)(c)
      Array.tabulate(subDim)(dim => cells.get((j, c, dim)).map(_.toFloat).getOrElse(seed(dim)))
    }
  }
}
