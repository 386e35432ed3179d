package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic sketch primitives — single source for the
  * batch q_hll_distinct oracle query and the streaming register maintainer
  * ([[graft.streaming.Streams.hllRegisters]]), so the two forms cannot
  * drift. See the query scaladoc for the determinism argument (md5-32
  * hash, integer CASE ladder for ranks, exact-dyadic 2^-m table, <53-bit
  * harmonic sums). */
object Sketch {

  /** Register count m = 2^p with p = 8. */
  val HllBuckets = 256

  /** Rank ceiling: 24 payload bits -> ranks 1..25. */
  val HllRankMax = 25

  /** alpha_256 * m^2, pre-multiplied so both engines share ONE double
    * literal (alpha_256 = 0.7213 / (1 + 1.079/256)). */
  val HllAlphaM2: Double = 0.7182725932495458 * 65536.0

  /** Exact finite-decimal strings of 2^-1 .. 2^-25 (dyadics have finite
    * decimal expansions; parsing them yields the exact double in any
    * engine). */
  val HllInvStrings: Seq[String] = (1 to HllRankMax).map(i =>
    java.math.BigDecimal.ONE.divide(new java.math.BigDecimal(2).pow(i))
      .toPlainString)

  /** The cross-engine 32-bit key hash for a string-able key column. */
  def hllHash(key: Column): Column =
    Text.md5Hash32(concat(lit("hll:"), key.cast("string")))

  def hllBucket(hv: Column): Column = hv % HllBuckets

  /** Rank = leading zeros of the 24 payload bits + 1, as a nested-when
    * ladder folded ASCENDING so the largest threshold is OUTERMOST —
    * matching a SQL CASE's top-down largest-first evaluation. */
  def hllRank(hv: Column): Column = {
    val w = hv.divide(lit(HllBuckets)).cast("long") // exact: hv >= 0
    (0 to 23).foldLeft[Column](lit(HllRankMax)) {
      (els, b) => when(w >= (1L << b), lit(24 - b)).otherwise(els)
    }
  }

  /** SQL twin of [[hllRank]] over the payload column `w`: the same
    * integer CASE ladder, largest threshold first. */
  val HllRankSql: String = (23 to 0 by -1)
    .map(b => s"WHEN w >= ${1L << b} THEN ${24 - b}")
    .mkString("CASE ", " ", s" ELSE $HllRankMax END")

  /** DuckDB list literal of [[HllInvStrings]]: each element ::DOUBLE
    * because a bare decimal list literal types as DECIMAL in DuckDB and
    * rounds the deep dyadic terms. */
  val HllInvSql: String = HllInvStrings.map(_ + "::DOUBLE").mkString("[", ", ", "]")

  /** 2^-m lookup (m in 1..25) against the exact-dyadic literal table. */
  def hllInv(m: Column): Column =
    element_at(array(HllInvStrings.map(d => lit(d.toDouble)): _*),
      m.cast("int"))

  /** Raw HLL estimate from (sum of 2^-m over occupied registers, occupied
    * register count): empty registers contribute 2^0 = 1 each. */
  def hllEstimate(s: Column, nBuckets: Column): Column =
    lit(HllAlphaM2) / (s + (lit(HllBuckets) - nBuckets))

  /** Small-range threshold 5/2 * m (Flajolet et al. 2007): below it, with
    * empty registers present, linear counting beats the raw estimator.
    * 640.0 is exactly representable, so the <= comparison is deterministic
    * given the bit-identical raw estimate. */
  val HllSmallRangeMax: Double = 2.5 * HllBuckets

  /** m * ln(m/V) for V = 1..m, each double rendered as its EXACT finite
    * decimal (every double is a dyadic rational, so the expansion is
    * finite; parsing it back yields the bit-identical double in any
    * engine). ln() itself is libm-dependent — not cross-engine
    * reproducible — but V = zero_buckets is FINITE (1..256), so the whole
    * correction domain is enumerable into a literal table computed once
    * here: the same determinism trick as [[HllInvStrings]]. Entry 256
    * (all registers empty) is exactly 0. */
  val HllLinearStrings: Seq[String] = (1 to HllBuckets).map { v =>
    new java.math.BigDecimal(
      HllBuckets * math.log(HllBuckets.toDouble / v)).toPlainString
  }

  /** DuckDB list literal of [[HllLinearStrings]], as [[HllInvSql]]. */
  val HllLinearSql: String =
    HllLinearStrings.map(_ + "::DOUBLE").mkString("[", ", ", "]")

  /** Linear-counting estimate m * ln(m/V) via the literal table
    * (V = zero-register count, 1-indexed like the SQL list mirror). */
  def hllLinear(zeroBuckets: Column): Column =
    element_at(array(HllLinearStrings.map(d => lit(d.toDouble)): _*),
      zeroBuckets.cast("int"))

  /** Small-range-corrected estimate: linear counting when empty registers
    * exist AND the raw estimate is <= 5/2*m; the raw estimate otherwise
    * (at 100-TB cardinalities zero_buckets hits 0 and this is the
    * identity). */
  def hllCorrected(raw: Column, zeroBuckets: Column): Column =
    when(zeroBuckets > 0 && raw <= lit(HllSmallRangeMax),
      hllLinear(zeroBuckets)).otherwise(raw)

  /** Histogram quantile-sketch geometry (HDR-histogram-lite) — the third
    * oracle-checked sketch after HLL and Bloom: values below
    * [[HistExactMax]] get exact identity buckets; above, each power-of-two
    * octave splits into 16 log-spaced sub-buckets, so a bucket's inclusive
    * upper bound is within 2^-4 = 6.25% of any member value. State is
    * bounded BY THE SKETCH: at most 256 + 45*16 = 976 buckets per group
    * over the whole double-exact long domain [0, 2^53), however the data
    * grows — the unbounded-domain scale path next to q_length_quantiles'
    * exact (bounded-domain) percentile.
    *
    * Cross-engine determinism, same discipline as the HLL tower: integer
    * compares (the log2 CASE ladder), integer add/multiply, and
    * multiplication by exact powers of two — which only shifts the double
    * exponent and NEVER rounds — so both engines compute identical bucket
    * ids and bounds with no libm anywhere. */
  val HistExactMax = 256L
  val HistMaxExp = 52 // v < 2^53: every long in the domain is double-exact

  /** Octave bases 2^e for e in 8..52. */
  val HistPows: Seq[Long] = (8 to HistMaxExp).map(1L << _)

  /** Exact dyadic strings of the sub-bucket scales 2^-(e-4), e in 8..52. */
  val HistInvStrings: Seq[String] = (8 to HistMaxExp).map(e =>
    java.math.BigDecimal.ONE.divide(new java.math.BigDecimal(2).pow(e - 4))
      .toPlainString)

  /** Sub-bucket widths 2^(e-4) for e in 8..52. */
  val HistWidths: Seq[Long] = (8 to HistMaxExp).map(e => 1L << (e - 4))

  /** floor(log2(v)) for v >= 256, as the same ascending-fold integer
    * ladder as [[hllRank]] (largest threshold outermost = a SQL CASE's
    * top-down largest-first order). */
  def histExp(v: Column): Column =
    (8 to HistMaxExp).foldLeft[Column](lit(8)) { (els, b) =>
      when(v >= (1L << b), lit(b)).otherwise(els)
    }

  /** Bucket id: identity below 256; else 256 + (e-8)*16 + sub with
    * sub = floor((v - 2^e) * 2^-(e-4)) — the power-of-two multiply is
    * exact, so the floor is exact integer arithmetic in both engines. */
  def histBucket(v: Column): Column = {
    val e = histExp(v)
    val base = element_at(array(HistPows.map(lit): _*), e - 7)
    val inv = element_at(array(HistInvStrings.map(s => lit(s.toDouble)): _*),
      e - 7)
    val sub = floor((v - base) * inv).cast("long")
    when(v < HistExactMax, v)
      .otherwise(lit(HistExactMax) + (e.cast("long") - 8L) * 16L + sub)
  }

  /** Inclusive upper bound of a bucket — the sketch's quantile
    * representative (at most 6.25% above any member value). */
  def histHi(bucket: Column): Column = {
    val idx = bucket - HistExactMax
    val e = floor(idx * lit(0.0625)).cast("int") // exact: 1/16 is dyadic
    val sub = idx - e.cast("long") * 16L
    val base = element_at(array(HistPows.map(lit): _*), e + 1)
    val width = element_at(array(HistWidths.map(lit): _*), e + 1)
    when(bucket < HistExactMax, bucket)
      .otherwise(base + (sub + 1L) * width - 1L)
  }

  /** Count-min sketch geometry shared by q_cms_heavy and the streaming
    * register maintainer ([[graft.streaming.Streams.cmsRegisters]]):
    * 4 hash rows x 512 cells -> 2048 counters REGARDLESS of key
    * cardinality. Pure integer arithmetic end to end (md5-32 cell hashes,
    * long counter sums, long MIN at probe time), so the sketch is
    * bit-reproducible in any engine — the frequency-estimation member of
    * the oracle-checked sketch tower (HLL = distinct, Bloom = membership,
    * histogram = quantiles, CMS = frequency). The classic one-sided
    * guarantee estimate >= true_count holds by construction: every cell a
    * key hashes to contains at least all of that key's own increments. */
  val CmsRows = 4
  val CmsWidth = 512L

  /** The d exploded (row, cell) probe positions for a key — md5-32 in
    * per-row namespaces ("cm0:".."cm3:"), mod [[CmsWidth]]. */
  def cmsCells(key: Column): Column =
    explode(array((0 until CmsRows).map(i =>
      struct(lit(i).as("r"),
        (Text.md5Hash32(concat(lit(s"cm$i:"), key.cast("string")))
          % CmsWidth).as("cell"))): _*))

  /** Bloom filter geometry shared by q_bloom_prune and the streaming word
    * maintainer: 2048 bits / 3 hashes -> 32 64-bit words. */
  val BloomBits = 2048L
  val BloomHashes = 3

  /** The k exploded (bit) positions for a key — md5-32 in per-hash
    * namespaces, mod [[BloomBits]]. */
  def bloomBits(key: Column): Column =
    explode(array((0 until BloomHashes).map(i =>
      Text.md5Hash32(concat(lit(s"b$i:"), key.cast("string"))) % BloomBits): _*))

  /** Word index of a bit position. Exact: positions < 2048 divide exactly
    * in double space before the truncating cast. */
  def bloomWordIdx(bit: Column): Column = (bit / 64).cast("long")

  /** Single-bit mask within a word: a 64-entry literal lookup (1L << i,
    * two's-complement — entry 64 is Long.MinValue), robust for any bit
    * Column without string-round-tripping an expr. */
  def bloomMask(bit: Column): Column =
    element_at(array((0 to 63).map(i => lit(1L << i)): _*),
      (bit % 64).cast("int") + 1)
}
