package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (north-star extensions; no counterpart in the reference, which has no
  * string processing beyond one whole-value replace — main.py:350).
  *
  * Everything here is a pure Column expression (codegen-friendly, no UDFs)
  * with an exact DuckDB mirror, so every operator built on these is
  * oracle-checkable. Tokenization is single-space split — the contract for
  * the `documents` corpus; swap the delimiter for real-world whitespace.
  */
object Text {

  /** Whitespace tokens (DuckDB mirror: string_split(text, ' ')). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Tokens matching a fixed stopword list, via a higher-order filter
    * (DuckDB mirror: len(list_filter(string_split(..), x -> x IN (...)))). */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(lit): _*)))

  /** Stopword fraction of all tokens — the classic cheap language-ID /
    * quality signal. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordHits(text, stopwords).cast("double") / tokenCount(text)

  /** Content fingerprint: md5 of the lowercased text. Grouping by the
    * fingerprint instead of the raw text keeps shuffle keys 32 bytes at
    * 100 TB (DuckDB mirror: md5(lower(text))). */
  def fingerprint(text: Column): Column = md5(lower(text).cast("binary"))

  /** THE cross-engine 32-bit hash: first 8 hex chars of md5 as a long.
    * Single-sourced because every oracle-checked hash operator (SimHash,
    * rolling fingerprint, split bucketing) must derive bits the SAME way
    * DuckDB does: `CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)`. */
  def md5Hash32(c: Column): Column =
    // single-pass codegen kernel: first 4 digest bytes as an unsigned
    // long — byte-identical to
    // `conv(substring(md5(cast(c as binary)), 1, 8), 16, 10)` (every call
    // site passes a STRING, whose binary cast is its UTF8 bytes) without
    // the 32-char hex encode + substring + base-16 parse per row
    // (TextSpec pins equality against the builtin chain)
    call_function("graft_md5h32", c)

  /** The deterministic train/val/test split rule (90/5/5 by content-hash
    * bucket of the doc id) — single-sourced for q_train_split and the
    * split-leakage audit, so the assignment audited IS the assignment
    * shipped. DuckDB mirror: the md5Hash32 expression % 100 against the
    * same thresholds. */
  def splitAssign(docId: Column): Column = {
    val b = md5Hash32(concat(lit("split:"), docId.cast("string"))) % 100
    when(b < 90, "train").when(b < 95, "val").otherwise("test")
  }

  /** Mean token length, derived without a second pass:
    * (chars - (n_tokens - 1) separators) / n_tokens. */
  def avgTokenLen(text: Column): Column =
    (length(text) - tokenCount(text) + 1).cast("double") / tokenCount(text)

  /** BPE-ish token count: alphabetic runs, digit runs, and single
    * non-space symbols each count as one token — the pre-merge granularity
    * a byte-pair tokenizer starts from, and a far better length proxy for
    * LLM budgeting than whitespace words. Plain character classes only, so
    * the native single-scan kernel (graft.expressions.BpeishCount — one
    * code-point sweep, no regex NFA; property-equal to
    * `regexp_count('[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')` by TextSpec) and
    * DuckDB's RE2 regexp mirror agree. */
  def bpeishTokenCount(text: Column): Column =
    call_function("graft_bpeish_count", text)

  /** Order-sensitive, oracle-able rolling fingerprint: a left fold of
    * md5-derived 32-bit token hashes, acc * 131 + h32 in mod-(1e9+7)
    * arithmetic, so permutations of the same token multiset differ. Every
    * intermediate stays below 2^63 (acc < 1e9+7, acc*131 + h32 < 1.4e11),
    * so engines that TRAP on BIGINT overflow (DuckDB) replay it exactly
    * instead of diverging on the wrap. Mirror:
    * `list_reduce(list_prepend(0::BIGINT, list_transform(string_split(t,' '),
    * x -> ('0x'||substr(md5(x),1,8))::BIGINT)), (a,x) -> (a*131+x) % 1000000007)`. */
  def rollingFingerprintMd5(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) =>
      (acc * 131 + md5Hash32(t)) % 1000000007L)

  /** Sequence-packing layout, single-sourced so the batch query
    * (q_pack_shards) and the streaming packer (Streams.packShards) cannot
    * drift: documents hash into [[PackBuckets]] independent buckets, pack
    * greedily to a [[PackBudget]]-token budget by offset binning of the
    * per-bucket cumulative token count, and shard ids live in a
    * [[PackShardStride]]-wide namespace per bucket. */
  val PackBuckets = 32
  val PackBudget = 2048L
  val PackShardStride = 1000000000000L

  /** The packing bucket for a document id (engine-mirrorable md5 recipe,
    * same shape as the train-split bucketing). */
  def packBucket(docId: Column): Column =
    md5Hash32(concat(lit("pack:"), docId.cast("string"))) % PackBuckets

  /** Context-window chunking layout (q_chunk_docs): documents longer than
    * [[ChunkTokens]] tokens are cut into windows advancing by
    * [[ChunkStride]] tokens, so consecutive chunks share
    * ChunkTokens - ChunkStride tokens of boundary context. The complement
    * of the packing contract above — packing never splits a doc; chunking
    * is the upstream cut for docs that exceed the training context. */
  val ChunkTokens = 64
  val ChunkStride = 56

  /** Chunk-window starts for a projected token array: the stride grid
    * 1, 1+ChunkStride, ... filtered in-row to the MINIMAL cover — a start
    * survives iff it is the doc's first or the previous window stopped
    * short of the last token. Single-sourced between q_chunk_docs and the
    * streaming chunker ([[graft.streaming.Streams.chunkDocs]]). The
    * lambda references size(tk) — fine here, size() reads the array
    * header in O(1); the no-expensive-expressions-in-HOF-lambdas rule
    * (Vectors.maxAbsScale) is about recomputed folds. Mirror:
    * list_filter(generate_series(1, len(tk), 56),
    * st -> st = 1 OR st - 56 + 63 < len(tk)). */
  def chunkStarts(tk: Column): Column =
    filter(sequence(lit(1), size(tk), lit(ChunkStride)),
      st => st === 1 || st - ChunkStride + (ChunkTokens - 1) < size(tk))

  /** The per-start chunk projection (chunk_id, start_tok, n_toks,
    * chunk_text) — the other single-sourced half of the chunker. floor of
    * the double divide is exact (starts < 2^31 << 2^53). */
  def chunkColumns(tk: Column, st: Column): Seq[Column] = {
    val chunk = slice(tk, st, lit(ChunkTokens))
    Seq(
      floor((st - 1) / ChunkStride).cast("long").as("chunk_id"),
      st.cast("long").as("start_tok"),
      size(chunk).cast("long").as("n_toks"),
      concat_ws(" ", chunk).as("chunk_text"))
  }

  /** Token n-grams of a projected token-array column as md5 keys,
    * deduplicated in-row — the unit of benchmark decontamination
    * (q_decontaminate). Guarded:
    * Spark's `sequence(1, m)` runs DESCENDING for m < 1 (DuckDB's `range`
    * is empty), so short docs must hit the empty branch explicitly.
    * Mirror: `list_distinct(list_transform(range(1, len(tk)-(n-2)),
    * i -> md5(array_to_string(tk[i:i+n-1], ' '))))`. */
  def ngramMd5Keys(tk: Column, n: Int): Column =
    // single-pass codegen kernel (expressions/MinhashKernel.scala): one
    // digest per position over token bytes — replaces the builtin chain
    // `array_distinct(transform(seq, i -> md5(concat_ws(' ', slice(tk,i,n)))))`
    // (per-position slice array + concat string + full transform array)
    // byte-for-byte, including the size < n -> empty fallback and
    // first-occurrence distinct order (TextSpec pins equality)
    call_function("graft_ngram_md5", tk, lit(n))

  /** Distinct-token fraction of a projected token array — the repetition
    * signal (DuckDB mirror: len(list_distinct(tk)) / len(tk)). */
  def distinctTokenFrac(tk: Column): Column =
    size(array_distinct(tk)).cast("double") / size(tk)

  /** Fraction of tokens on a bounded blocklist, via an in-row filter
    * (DuckDB mirror: len(list_filter(tk, x -> list_contains([...], x))) /
    * len(tk)). */
  def blocklistHitFrac(tk: Column, blocklist: Seq[String]): Column =
    size(filter(tk, x => x.isin(blocklist.map(lit): _*))).cast("double") /
      size(tk)

  /** The IN-ROW curation gates in priority order (length, repetition,
    * blocklist), single-sourced so the batch report (q_curation_report,
    * which prepends the benchmark-contamination gate) and the streaming
    * gate ([[graft.streaming.Streams.curationGate]]) cannot drift. Pure
    * column math — stateless, so the streaming form needs no watermark or
    * state store. */
  def curationGate(nTokens: Column, distinctFrac: Column,
      hitFrac: Column): Column =
    when(nTokens < 20, "too_short")
      .when(nTokens > 2000, "too_long")
      .when(distinctFrac < 0.30, "repetitive")
      .when(hitFrac > 0.2, "blocklisted")
      .otherwise("keep")

  /** Composite quality score in [0,1]: length band + stopword presence +
    * plausible mean token length. Weights are engine policy (documented),
    * each term a deterministic 0/1 step so the score is oracle-exact. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val nt = tokenCount(text)
    val lenOk = when(nt.between(20, 400), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text, stopwords) >= 0.02, 1.0).otherwise(0.0)
    val tokOk = when(avgTokenLen(text).between(3.0, 8.0), 1.0).otherwise(0.0)
    lenOk * 0.5 + stopOk * 0.3 + tokOk * 0.2
  }
}
