package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

/** Near-duplicate detection machinery for the LLM-data-pipeline surface:
  * MinHash+LSH banding, banded SimHash, and hyperplane-LSH ANN over
  * embeddings. All hash-bucketed — candidate pairs always come from an
  * equi-join on a bucket key, never a crossJoin, so the pair space is
  * bounded by bucket occupancy at any corpus size.
  *
  * Hash functions are Spark's xxhash64 seeded by column position — stable
  * across runs and executors, nothing random at runtime.
  */
object Similarity {

  /** n-token shingles (w-shingling) over an ALREADY-MATERIALIZED
    * token-array column; documents shorter than n become one whole-text
    * shingle. MinHash must run over shingles, not bag-of-words tokens: with
    * a small vocabulary token-level signatures collapse to a handful of
    * values and LSH buckets go quadratic (measured: 77s vs ~2s at sf0.1).
    * Callers must project the tokenization into a column first
    * (`.select(split(...))`): passing `split(text)` directly here makes
    * every `element_at` reference re-split the text — ~3 x shingle-count
    * array materializations per row, measured at ~4x the cost of the whole
    * signature aggregation. */
  def shinglesOfTokens(tok: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    when(size(tok) < n, array(concat_ws(" ", tok)))
      .otherwise(transform(sequence(lit(0), size(tok) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(tok, i + j + 1)): _*)))

  /** Mirrorable MinHash signatures: the k slot values are 4-char hex windows
    * of md5 digests (k/8 digests per shingle, 8 windows each), kept AS
    * STRINGS — the lexicographic min of fixed-width lowercase hex is the
    * numeric min, both engines compare bytewise, and skipping the hex->int
    * parse saves k conversions per shingle. DuckDB reproduces each slot with
    * `MIN(substr(md5(...), 4i+1, 4))`, so a MinHash+LSH query is fully
    * oracle-checkable. 16-bit slots are plenty for a min-hash: the min of
    * ~100 shingle hashes collides across distinct shingles with probability
    * ~n/2^16 per slot, noise far below the banding threshold — and 8 windows
    * per digest means HALF the md5 calls of the previous 8-char/4-window
    * layout (measured: md5 dominates the signature cost). Regime bound: an
    * r-row band key over 16-bit slots carries 16r bits, so with r = 2
    * expect ~n^2/2^33 spurious same-key doc pairs per band — negligible to
    * ~10^7-10^8 docs per LSH partition, a real verification-cost tax at
    * 10^9+, where wider (64-bit xxhash64) slots would pay; this md5 form
    * exists for oracle-checkability. */
  def minhashSignaturesMd5(docs: DataFrame, idCol: String, textCol: String,
      k: Int, shingleLen: Int = 3): DataFrame = {
    require(k % 8 == 0, "k must be a multiple of 8 (8 hex windows per md5)")
    val tok = docs
      // drop null text explicitly: with ANSI off size(null) is -1 (legacy
      // sizeOfNull), so shinglesOfTokens would emit one "" shingle for a
      // null doc instead of dropping it like the oracle's unnest(NULL)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(shinglesOfTokens(col("__toks"), shingleLen)).as("tok"))
    // project the k/8 digests as columns BEFORE aggregating so each md5 runs
    // exactly once per shingle (not once per slot expression)
    val digests = tok.select(col(idCol) +: (0 until k / 8).map(j =>
      md5(concat(lit(s"m$j:"), col("tok")).cast("binary")).as(s"hex_$j")): _*)
    val slots = (0 until k).map { s =>
      val j = s / 8
      val i = s % 8
      min(substring(col(s"hex_$j"), 4 * i + 1, 4)).as(s"mh_$s")
    }
    digests.groupBy(idCol).agg(slots.head, slots.tail: _*)
  }

  /** Per-ROW MinHash signatures — the same md5-hex-window slot values as
    * [[minhashSignaturesMd5]] computed with higher-order functions over the
    * in-row shingle array instead of explode + groupBy. No shuffle and no
    * aggregation, so the form is STREAM-SAFE (a stateless projection usable
    * before a stream-static band join); SimilaritySpec asserts
    * slot-for-slot equality with the batch aggregation path. Tokens, the
    * shingle array, and the k/4 digest arrays are each projected once per
    * row (intermediate columns, dropped) so no lambda re-derives them.
    * Adds mh_0..mh_{k-1} to `df`. */
  def withMinhashSignature(df: DataFrame, textCol: String, k: Int,
      shingleLen: Int = 3): DataFrame = {
    require(k % 8 == 0, "k must be a multiple of 8 (8 hex windows per md5)")
    // null text is DROPPED, matching the batch path (whose explode emits no
    // row for a null shingle array) — otherwise null slots would fold to
    // identical band keys downstream and bucket all null-text docs together
    val nonNull = df.filter(col(textCol).isNotNull)
    if (k == 16 && shingleLen == 3) {
      // the engine-wide configuration takes the single-pass codegen kernel
      // (expressions/MinhashKernel.scala): one md5 per (seed, shingle)
      // digesting token bytes directly, integer window minima, hex
      // formatted once at the end — replaces two concat+md5+hex-encode
      // passes plus SIXTEEN per-slot substring-array scans per row.
      // Slot-for-slot equality with the generic HOF chain below (and so
      // with the oracle-checked batch aggregation path) is pinned by
      // SimilaritySpec.
      val withMh = nonNull.withColumn("__mh",
        call_function("graft_minhash16", Text.tokens(col(textCol))))
      val slots = (0 until k).map(s =>
        element_at(col("__mh"), s + 1).as(s"mh_$s"))
      withMh.select(df.columns.map(col) ++ slots: _*)
    } else {
      val staged = nonNull
        .withColumn("__toks", Text.tokens(col(textCol)))
        .withColumn("__sh", shinglesOfTokens(col("__toks"), shingleLen))
      val withDigests = (0 until k / 8).foldLeft(staged) { (d, j) =>
        d.withColumn(s"__hex_$j", transform(col("__sh"),
          t => md5(concat(lit(s"m$j:"), t).cast("binary"))))
      }
      val slots = (0 until k).map { s =>
        val j = s / 8
        val i = s % 8
        array_min(transform(col(s"__hex_$j"), h => substring(h, 4 * i + 1, 4)))
          .as(s"mh_$s")
      }
      withDigests
        .select(df.columns.map(col) ++ slots: _*)
    }
  }

  /** LSH banding over minhash signatures: split the k signature slots into
    * `bands` bands of k/bands rows each; docs agreeing on ALL rows of any
    * band become a candidate pair — the classic sub-quadratic shape: two
    * docs with Jaccard j collide with probability 1-(1-j^r)^b. `bandKey`
    * folds a band's slot columns into the join key — xxhash64 by default,
    * or a mirrorable concat for oracle-checked variants.
    *
    * `maxBucket` guards against degenerate "hot" buckets (a band value
    * shared by more docs than that means the band carries no signal —
    * boilerplate or, as in the synthetic corpus, a tiny vocabulary); such
    * buckets are skipped rather than joined quadratically, standard LSH
    * practice. The skip is [[dropHotKeys]]. */
  def lshCandidatePairs(sig: DataFrame, idCol: String, k: Int, bands: Int,
      maxBucket: Int = 200,
      bandKey: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column =
        cols => xxhash64(cols: _*)): DataFrame = {
    require(bands > 0 && k % bands == 0, "bands must divide k")
    // One (band, band_key) row per doc per band via a single explode — then
    // ONE hot-bucket filter and ONE self-join keyed on (band, band_key),
    // instead of a join pipeline per band (8x fewer shuffles; the band id
    // rides inside the join key so bands never mix).
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), bandKey(cols).as("bk"))
    }
    val keyed = sig.select(col(idCol), explode(array(bandCols: _*)).as("e"))
      .select(col(idCol), col("e.band").as("band"), col("e.bk").as("bk"))
    val kept = dropHotKeys(keyed, Seq("band", "bk"), maxBucket)
    kept.select(col(idCol).as("d1"), col("band"), col("bk"))
      .join(kept.select(col(idCol).as("d2"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
  }

  /** SimHash: per distinct token a hash contributes +1/-1 to each of `bits`
    * bit positions; the sign of each positional sum becomes a fingerprint
    * bit. Near-dups differ in few bits.
    * One explode + one groupBy, `bits` aggregate columns. `tokenHash` must
    * supply at least `bits` hash bits. PRECONDITION: one row per document
    * (`idCol` unique) — per-doc token dedup happens in-row
    * (array_distinct), so a doc split across several input rows would
    * count tokens shared between its rows once per row. */
  def simhashSignature(docs: DataFrame, idCol: String, textCol: String,
      bits: Int, tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    // per-DOC distinct tokens (the SimHash contract) are computable in-row:
    // array_distinct before the explode replaces a full (id, token)-pair
    // shuffle with a narrow map — the exploded rows of a doc then collapse
    // map-side in the partial aggregation below, so nothing row-exploded
    // ever crosses the network
    val tok = docs
      .select(col(idCol), explode(array_distinct(Text.tokens(col(textCol)))).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    // popcount form: per position count the 1-bits and compare against half
    // the token count — branch-free per-row aggregate input (plain
    // shift/and), equivalent to sign-of-(+1/-1)-sums with ties to 0
    val bitSums = (0 until bits).map(p =>
      sum(shiftright(col("h"), p).bitwiseAND(1)).as(s"b_$p"))
    val sums = tok.groupBy(idCol)
      .agg(count(lit(1)).as("__n"), bitSums: _*)
    val packed = (0 until bits)
      .map(p => when(col(s"b_$p") * 2 > col("__n"), lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col(idCol), packed.as("simhash"))
  }

  /** Banded SimHash near-dup pairs: split the `bits`-bit fingerprint into
    * `bands` equal bit-ranges; by pigeonhole, any pair within Hamming
    * distance `bands - 1` agrees exactly on at least one band, so the
    * candidate join is an equi-join on (band index, band value) — never a
    * crossJoin — and the Hamming filter then keeps pairs at most
    * `maxHamming` (≤ bands - 1 for no false negatives). `maxBucket` skips
    * degenerate hot band-values exactly like [[lshCandidatePairs]].
    * Returns (d1, d2, hamming), d1 < d2. */
  def simhashNearDupPairs(sig: DataFrame, idCol: String, bits: Int,
      bands: Int, maxHamming: Int, maxBucket: Int = 1000): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxHamming <= bands - 1, "pigeonhole guarantee needs maxHamming < bands")
    val r = bits / bands
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("bidx"),
        shiftright(col("simhash"), b * r).bitwiseAND(lit((1L << r) - 1)).as("bval")))
    val keyed = sig
      .select(col(idCol), col("simhash"), explode(array(bandCols: _*)).as("e"))
      .select(col(idCol), col("simhash"),
        col("e.bidx").as("bidx"), col("e.bval").as("bval"))
    val kept = dropHotKeys(keyed, Seq("bidx", "bval"), maxBucket)
    val hamming = bit_count(col("s1").bitwiseXOR(col("s2")))
    kept.select(col(idCol).as("d1"), col("simhash").as("s1"), col("bidx"), col("bval"))
      .join(kept.select(col(idCol).as("d2"), col("simhash").as("s2"), col("bidx"), col("bval")),
        Seq("bidx", "bval"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2", "s1", "s2")
      .distinct()
      .filter(hamming <= maxHamming)
      .select(col("d1"), col("d2"), hamming.cast("int").as("hamming"))
  }

  /** Drop every row whose key appears more than `maxOcc` times — the
    * hot-bucket / df-cut guard, in the shape that survives extreme skew:
    * the per-key count goes through a partial (map-side combined)
    * aggregation, so a key with 10^8 rows contributes one row per map task
    * to the count shuffle, and the over-threshold key set — tiny BY
    * DEFINITION (at most total/maxOcc keys, in practice a handful of
    * stopword-grade values) — is broadcast into a left-anti join that
    * filters map-side with NO shuffle of the data. The previous
    * `count().over(Window.partitionBy(key))` form routed every row of a
    * hot key to one window partition and buffered it there — the exact
    * blow-up the guard exists to prevent. Filter semantics identical
    * (keep rows whose key occurs <= maxOcc times).
    *
    * The input is lazily localCheckpoint'ed first: the count aggregate and
    * the filtered output both consume it, and without materialization the
    * (often md5-heavy) upstream pipeline would execute once per consumer —
    * measured at 2x the whole query. Lazy, so the single downstream job
    * computes each partition once and caches it in passing. */
  private[graft] def dropHotKeys(df: DataFrame, keyCols: Seq[String],
      maxOcc: Long): DataFrame = {
    val keys = keyCols.map(col)
    val cached = df.localCheckpoint(eager = false)
    val hot = cached.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxOcc)
      .select(keyCols.map(c => col(c).as(s"__hot_$c")): _*)
    // null-SAFE anti-join condition: groupBy counts a null key as its own
    // group, and `<=>` lets the anti-join actually drop that group when it
    // is hot — a plain equi-anti-join can never match null keys, which
    // would silently exempt null-keyed rows from the cap
    val cond = keyCols.map(c => col(c) <=> col(s"__hot_$c")).reduce(_ && _)
    cached.join(broadcast(hot), cond, "left_anti")
  }

  /** Hyperplane-LSH ANN index: assigns each vector a bucket; queries search
    * only their own bucket (optionally multiple independent tables for
    * recall — pass different `table` seeds and union). The planted-twin
    * guarantee: an exact duplicate vector always lands in the same bucket. */
  def lshIndex(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int, table: Int = 0): DataFrame =
    emb.withColumn("bucket",
      Vectors.lshBucket(Vectors.asDouble(col(vecCol)), dim, nPlanes, table))

  /** Scored (corpus vector x benchmark vector) cosine rows for
    * embedding-space decontamination: corpus (`vec_id`, `v` double[])
    * against a BOUNDED benchmark set (`bid`, `qv` double[]). Single source
    * for batch q_semantic_decontaminate and the streaming twin
    * ([[graft.streaming.Streams.semanticHits]]), so stream and batch score
    * every pair with bit-identical doubles. Norms are projected per VECTOR
    * before the join (one evaluation each, not one per pair), and the
    * division tree matches [[graft.functions.Vectors.cosineFromNorms]]'s
    * SQL mirror. Cost is O(|bench| * N) over ONE corpus scan: the bench
    * side is broadcast, so nothing about the corpus shuffles here. */
  def benchCosineScores(corpus: DataFrame, bench: DataFrame): DataFrame =
    CosineTopK.withNorm(corpus)
      .crossJoin(broadcast(CosineTopK.withQueryNorm(bench)))
      .select(col("vec_id"), col("bid"),
        Vectors.cosineFromNorms(col("qv"), col("v"), col("qn"), col("vn"))
          .as("cos"))

  /** Winnowing window width (shingle positions per window). Guarantee
    * (Schleimer et al. 2003, "Winnowing: local algorithms for document
    * fingerprinting" — the MOSS scheme): every run of [[WinnowWindow]]
    * consecutive shingles contributes at least one selected fingerprint,
    * so any shared substring of >= shingleLen + WinnowWindow - 1 tokens
    * between two documents is GUARANTEED to share a selected fingerprint
    * — a recall property the global-min schemes (MinHash) only achieve in
    * expectation. Expected density of selected positions is 2/(w+1). */
  val WinnowWindow = 4

  /** Winnowing fingerprint profile per document: slide a
    * [[WinnowWindow]]-wide window over the md5-32 hashes of the doc's
    * 3-token shingles; each window selects its minimum hash (ties broken
    * to the RIGHTMOST position — the paper's robust-winnowing rule, which
    * keeps selections position-stable under local edits); the distinct
    * selected (position, hash) set is the fingerprint. Emitted profile:
    * `(idCol, n_shingles, n_selected, fp_min, fp_sum)` — set-level
    * digests that two engines can hash-compare without ordering a
    * nested column.
    *
    * Shape at 100 TB: pure in-row HOFs over the projected shingle array —
    * ZERO shuffles at any corpus size; per-row cost is O(shingles * w)
    * with w = 4 constant. The hash column is materialized ONCE before the
    * window selection (`__hp` — the fan-out-re-executes lesson: each of
    * the ~m windows references the array, so an inlined md5 would
    * recompute every digest per window).
    *
    * The (hash, position) pair is PACKED into one long —
    * `h * 2^31 + (2^31-1-p)` — so each window's rightmost-min is a plain
    * `least()` of [[WinnowWindow]] `element_at`s on a bare long array:
    * all codegen'd primitives, no per-window struct/slice allocation. The
    * encoding is injective (h < 2^32 from md5Hash32, p < 2^31) and
    * order-equivalent to the paper's rule: min packed = min h, ties
    * broken to min (2^31-1-p) = max p = rightmost. Measured 8x faster
    * than the previous per-window `aggregate(slice(...))` struct fold at
    * sf0.1 (39.7s -> <5s driver bench, VERDICT r8 item 3). The array is
    * padded with w-1 MaxValue sentinels so short docs (m < w, one window
    * holding all m shingles) index in range without relying on non-ANSI
    * element_at null semantics; a sentinel can never win a window that
    * contains any real element (real packed <= MaxValue with equality
    * only at h = 2^32-1, which decodes identically anyway). Single source
    * for batch q_winnow_fingerprint and the stateless streaming twin
    * ([[graft.streaming.Streams.winnowFingerprints]]). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, window: Int = WinnowWindow): DataFrame =
    winnowSel(df, idCol, textCol, shingleLen, window).select(col(idCol),
      col("n_shingles"),
      size(col("__sel")).cast("long").as("n_selected"),
      shiftright(array_min(col("__sel")), 31).as("fp_min"),
      aggregate(col("__sel"), lit(0L), (a, x) => a + shiftright(x, 31)).as("fp_sum"))

  /** Distinct selected winnow fingerprint HASHES per document —
    * `(idCol, fph)`, one row per (doc, selected hash). The candidate-pair
    * feed of the MOSS plagiarism detector: two docs sharing a selected
    * hash shared a >= shingleLen+w-1-token run (modulo md5-32 collision),
    * so an equi-join on `fph` is the banded-LSH shape with the winnowing
    * guarantee behind it. Positions are deliberately dropped: a window's
    * packed min decodes to the window's min hash regardless of which tied
    * position won, so the distinct-hash set needs no tie-break and the
    * relational mirror is one `DISTINCT (doc, min-per-window)`. */
  def winnowSelectedHashes(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, window: Int = WinnowWindow): DataFrame =
    winnowSel(df, idCol, textCol, shingleLen, window)
      .select(col(idCol), explode(array_distinct(
        transform(col("__sel"), x => shiftright(x, 31)))).as("fph"))

  /** Shared selection stage: `(idCol, n_shingles, __sel)` with `__sel` the
    * distinct packed (hash, position) window minima. */
  private def winnowSel(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, window: Int): DataFrame = {
    val P = 2147483648L // 2^31
    val pad = array(Seq.fill(window - 1)(lit(Long.MaxValue)): _*)
    val hp = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), shinglesOfTokens(col("__toks"), shingleLen).as("__sh"))
      .select(col(idCol), size(col("__sh")).cast("long").as("n_shingles"),
        concat(transform(col("__sh"), (g, p) =>
          Text.md5Hash32(g) * P + (lit(P - 1) - p.cast("long"))), pad).as("__hp"))
    // window starts 0..max(m-w, 0): ascending for every m >= 1 (a doc of
    // fewer shingles than w gets ONE window holding all of them + padding)
    hp.withColumn("__sel", array_distinct(
      transform(
        sequence(lit(0), greatest(size(col("__hp")) - lit(2 * window - 1), lit(0))),
        j => least((1 to window).map(k => element_at(col("__hp"), j + lit(k))): _*))))
  }
}
