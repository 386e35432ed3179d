package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions (LLM-pipeline similarity surface).
  *
  * Pure higher-order-function expressions — no UDFs, no linear-algebra
  * library — so Catalyst sees the whole computation and the DuckDB oracle can
  * mirror it bit-for-bit: both engines fold the products sequentially
  * (Spark `aggregate` with 0.0 init == DuckDB `list_reduce`, since
  * 0.0 + p1 == p1 exactly), giving identical IEEE754 results.
  *
  * Inputs are cast element-wise to double FIRST (the stored embeddings are
  * float32): float arithmetic would round differently between engines.
  */
object Vectors {

  /** Element-wise cast to double (mirror: `embedding::DOUBLE[]`). */
  def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Sequential-fold dot product (mirror: list_reduce(list_transform(
    * list_zip(a, b), p -> p[1]*p[2]), (x,y) -> x+y)). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, computed as dot / (norm * norm). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native-expression forms (graft.expressions.DotProduct, registered by
    * GraftExtensions): a codegen'd primitive loop instead of the HOF's
    * zipped-array allocation + per-element lambda. Same sequential
    * accumulation order, so bit-identical results — only faster. */
  def dotNative(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))

  /** Per-vector norm, meant to be PROJECTED BEFORE a candidate join so each
    * vector's norm is computed once instead of once per pair. Combine with
    * [[cosineFromNorms]]; the division tree is identical to [[cosineNative]]
    * so results are bit-equal — only the evaluation count drops. */
  def normNative(a: Column): Column = sqrt(dotNative(a, a))

  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dotNative(a, b) / (na * nb)

  /** Rademacher (+1/-1) hyperplane signs for sign-random-projection LSH,
    * derived deterministically at PLAN time from md5("plane:dim") parity —
    * no stored plane matrix (executors receive the signs as literals inside
    * the plan), no RNG, and the same numbers can be embedded verbatim in a
    * SQL mirror of the bucket assignment. */
  def planeSigns(nPlanes: Int, dim: Int, table: Int = 0): Seq[Seq[Double]] =
    (0 until nPlanes).map { i =>
      (0 until dim).map { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$table:$i:$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0) 1.0 else -1.0
      }
    }

  /** DuckDB twin of [[lshBucket]] over the list column `vec`: one exact
    * CASE term per plane of [[planeSigns]], summed into the bucket id. */
  def planeBucketSql(vec: String, nPlanes: Int, dim: Int, table: Int = 0): String =
    planeSigns(nPlanes, dim, table).zipWithIndex.map { case (s, i) =>
      val arr = s.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
      s"""(CASE WHEN list_reduce(list_transform(list_zip($vec, [$arr]),
         |        p -> p[1] * p[2]), (x, y) -> x + y) > 0
         |      THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }.mkString(" +\n      ")

  /** The int8 quantization scale, s = max|x|/127 — a full fold over the
    * vector. Hot paths must PROJECT this into a column once per row and
    * pass it to [[quantizeInt8(vec:Column,scale:Column)*]]: an expression
    * referenced inside a `transform` lambda is re-evaluated per ELEMENT
    * (lambda bodies are outside common-subexpression elimination), so
    * inlining the fold costs dim extra folds per vector — measured at ~2x
    * the whole quantization query. */
  def maxAbsScale(vec: Column): Column =
    aggregate(vec, lit(0.0), (m, x) => greatest(m, abs(x))) / 127.0

  /** Symmetric int8 quantization for embedding STORAGE: per-vector scale
    * s = max|x|/127, stored as (array<tinyint>, scale float) — 4x smaller
    * than float32, 8x smaller than double, the usual shape for a large
    * embedding store. Pure column expressions; round-trip error per element
    * is bounded by scale/2 (QuantizeSpec). An all-zero vector gets scale 0
    * and dequantizes to zeros. Convenience form — computes the scale fold
    * inline (fine for specs and one-off use); hot paths should project
    * [[maxAbsScale]] first and use the two-argument overload. */
  def quantizeInt8(vec: Column): Column = quantizeInt8(vec, maxAbsScale(vec))

  /** Quantize against an ALREADY-PROJECTED scale column (see
    * [[maxAbsScale]] for why the hoisting matters). */
  def quantizeInt8(vec: Column, scale: Column): Column =
    struct(
      transform(vec, x =>
        when(scale === 0.0, lit(0).cast("tinyint"))
          .otherwise(round(x / scale).cast("tinyint"))).as("q"),
      scale.cast("float").as("scale"))

  def dequantizeInt8(q: Column): Column =
    transform(q.getField("q"),
      x => x.cast("double") * q.getField("scale").cast("double"))

  /** Sign-random-projection LSH bucket (Charikar SimHash for vectors) over
    * [[planeSigns]] hyperplanes: each plane's projection is the sequential
    * fold of sign-flipped elements; the sign bits pack into a long bucket id
    * in [0, 2^nPlanes). Vectors with high cosine similarity share a bucket
    * with probability (1 - angle/pi)^nPlanes. The literal-sign form keeps
    * the whole assignment inside codegen (no per-row hashing) and lets a
    * DuckDB oracle reproduce it bit-for-bit. */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int, table: Int = 0): Column = {
    val signs = planeSigns(nPlanes, dim, table)
    val bits = signs.zipWithIndex.map { case (s, i) =>
      val proj = aggregate(
        zip_with(vec, array(s.map(lit): _*), (x, sg) => x * sg),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
