package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{CosineTopK, Similarity}
import graft.engine.Tables.t
import graft.functions.{Text, Vectors}

/** LLM-data-pipeline batch 3: corpus curation operators — benchmark
  * decontamination, deterministic mixture sampling, repetition-based quality
  * filtering (Gopher-style), vocabulary construction, and TF-IDF keyword
  * extraction. North-star extensions (SURVEY §7.5); the reference has no
  * corpus tooling at all.
  *
  * Scale posture shared by the batch: per-document work is bounded by
  * document length (in-row higher-order functions over a PROJECTED token
  * array — never a re-split per lambda element, see the CSE lesson on
  * [[graft.functions.Vectors]]); cross-document state is either a bounded
  * broadcast side (benchmark n-gram set, vocabulary top-k) or a keyed
  * aggregation (df counts) — nothing is all-pairs, nothing globally sorts
  * the corpus.
  */
object CorpusQueries {

  /** Token 8-grams, md5-keyed and deduplicated in-row ([[Text.ngramMd5Keys]]
    * — shared with the streaming form so batch and stream agree
    * key-for-key). */
  private def ngramKeys(tk: Column, n: Int): Column = Text.ngramMd5Keys(tk, n)

  /** Benchmark DECONTAMINATION: flag corpus documents sharing token 8-grams
    * with a held-out benchmark set — the overlap check every training corpus
    * runs against eval benchmarks before pretraining. The benchmark here is
    * the deterministic ~1% slice `doc_id % 97 = 0`; contamination is planted
    * so the operator has signal to find: every benchmark doc re-enters the
    * corpus verbatim under a shifted id (ratio 1.0), and a subset of corpus
    * docs get a benchmark doc's text spliced on (partial ratios).
    *
    * Shape at 100 TB: the benchmark n-gram key set is bounded (benchmarks
    * are small by construction) → broadcast hash join against the corpus
    * n-gram stream; keys are md5 strings so the join carries 32-byte keys,
    * not n-gram text. One aggregation per side, no pairwise compare. */
  val decontaminate: Q = Q(
    "q_decontaminate",
    """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
      |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
      |b0 AS (SELECT text AS btext FROM bench ORDER BY doc_id LIMIT 1),
      |planted AS (
      |  SELECT doc_id, text FROM corpus
      |  UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM bench
      |  UNION ALL SELECT c.doc_id + 3000000 AS doc_id, c.text || ' ' || b0.btext AS text
      |  FROM corpus c CROSS JOIN b0 WHERE c.doc_id % 31 = 5),
      |ng AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 6),
      |           i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' ')))) AS ngs
      |  FROM planted),
      |bk AS (
      |  SELECT DISTINCT unnest(ngs) AS k FROM (
      |    SELECT list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 6),
      |             i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' ')))) AS ngs
      |    FROM bench)),
      |ex AS (SELECT doc_id, unnest(ngs) AS k FROM ng),
      |m AS (SELECT e.doc_id, COUNT(b.k) AS n_matched
      |      FROM ex e LEFT JOIN bk b USING(k) GROUP BY e.doc_id),
      |sizes AS (SELECT doc_id, len(ngs) AS n_ngrams FROM ng)
      |SELECT s.doc_id, CAST(s.n_ngrams AS BIGINT) AS n_ngrams,
      |       CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
      |       CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / s.n_ngrams AS contamination,
      |       CASE WHEN CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / s.n_ngrams >= 0.05
      |            THEN 'contaminated' ELSE 'clean' END AS verdict
      |FROM sizes s LEFT JOIN m ON s.doc_id = m.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    // 1-row "first benchmark doc" side for the partial-contamination plant
    // (same broadcast-scalar shape as q_scalar_lookup)
    val b0 = bench.orderBy("doc_id").limit(1).select(col("text").as("btext"))
    val planted = corpus
      .unionAll(bench.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      .unionAll(corpus.filter(col("doc_id") % 31 === 5).crossJoin(broadcast(b0))
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" "), col("btext")).as("text")))
    // spread before the md5-8-gram kernel (1-2 scan partitions otherwise)
    val ng = graft.engine.Tables.spread(planted, col("doc_id"))
      .select(col("doc_id"), ngramKeys(split(col("text"), " "), 8).as("ngs"))
    val bk = bench
      .select(explode(ngramKeys(split(col("text"), " "), 8)).as("k"))
      .distinct()
    // SINGLE pass over the n-gram pipeline: carrying size + explode_outer
    // through one left join lets one aggregation produce both n_ngrams and
    // the match count — a second consumer of `ng` would re-run the whole
    // md5-8-gram computation per consumer (fan-out re-executes; this was
    // measured at ~2x the query's cost before the fuse)
    val ex = ng.select(col("doc_id"),
      size(col("ngs")).cast("long").as("n_ngrams"),
      explode_outer(col("ngs")).as("k"))
    val agg = ex.join(broadcast(bk.withColumn("hit", lit(1L))), Seq("k"), "left")
      .groupBy("doc_id")
      .agg(max("n_ngrams").as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
    val contamination = col("n_matched").cast("double") / col("n_ngrams")
    agg
      .select(col("doc_id"), col("n_ngrams"), col("n_matched"),
        contamination.as("contamination"),
        when(contamination >= 0.05, "contaminated").otherwise("clean").as("verdict"))
  }

  /** SEMANTIC (embedding-space) DECONTAMINATION: flag corpus vectors whose
    * max cosine against a held-out benchmark embedding set crosses a
    * threshold — the complement of [[decontaminate]]'s n-gram overlap
    * check, because paraphrased benchmark leakage shares no 8-gram with its
    * source but still lands next to it in embedding space. The benchmark is
    * BOUNDED BY CONSTRUCTION (`vec_id % 97 = 0 AND vec_id < 1000` — eval
    * benchmarks are a fixed few thousand items, they do not grow with the
    * corpus), and leakage is planted so the operator has signal to find:
    * every benchmark vector re-enters the corpus verbatim (cos = 1) and
    * again scaled by 2 (cosine is scale-invariant — the "paraphrase" whose
    * surface form changed but whose direction did not). Measured natural
    * bench-vs-corpus max cosine is ~0.50 at sf0.01 and sf0.1, so the 0.9
    * threshold has wide margin on both sides.
    *
    * Shape at 100 TB: the bounded bench side is broadcast
    * ([[Similarity.benchCosineScores]] — one corpus scan, cost
    * O(|bench| * N), nothing pairwise in the corpus). The per-vector argmax
    * is `max(struct(cos, -bid))` grouped on the (unique) vec_id: all
    * |bench| scored rows of a vector are produced inside one partition, so
    * partial aggregation collapses them map-side and the exchange carries
    * ONE slim row per corpus vector — the same map-side-combined
    * max(struct) shape as q_ncm_classify. Unlike the Theta(N^2/50)
    * self-search yardsticks (q_cosine_topk), this query is linear in the
    * corpus at any scale. */
  val semanticDecontaminate: Q = Q(
    "q_semantic_decontaminate",
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS bid, v AS qv FROM ev
      |      WHERE vec_id % 97 = 0 AND vec_id < 1000),
      |e AS (
      |  SELECT vec_id, v FROM ev
      |  WHERE NOT (vec_id % 97 = 0 AND vec_id < 1000)
      |  UNION ALL SELECT bid + 5000000 AS vec_id, qv AS v FROM q
      |  UNION ALL SELECT bid + 6000000 AS vec_id,
      |    list_transform(qv, x -> x * 2.0) AS v FROM q),
      |scored AS (
      |  SELECT e.vec_id, q.bid,
      |    ${SubPlans.CosineSql} AS cos
      |  FROM q, e),
      |best AS (
      |  SELECT vec_id, bid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, bid) AS rk
      |  FROM scored)
      |SELECT vec_id, bid AS nearest_bench, cos AS max_cos,
      |       CASE WHEN cos >= 0.9 THEN 'leaked' ELSE 'clean' END AS verdict
      |FROM best WHERE rk = 1
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "embeddings")
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
    val isBench = col("vec_id") % 97 === 0 && col("vec_id") < 1000
    val bench = ev.filter(isBench)
      .select(col("vec_id").as("bid"), col("v").as("qv"))
    // plants: verbatim copy (cos = 1) and a 2x-scaled copy — doubling each
    // double component is EXACT (exponent bump), so both engines score the
    // scaled plant with the same doubles as the verbatim one
    val corpus = ev.filter(!isBench)
      .unionAll(bench.select((col("bid") + 5000000).as("vec_id"),
        col("qv").as("v")))
      .unionAll(bench.select((col("bid") + 6000000).as("vec_id"),
        transform(col("qv"), x => x * lit(2.0)).as("v")))
    Similarity.benchCosineScores(corpus, bench)
      .groupBy("vec_id")
      // argmax with the oracle's tiebreak: max cos, then SMALLEST bid
      .agg(max(struct(col("cos"), (-col("bid")).as("nb"))).as("m"))
      .select(col("vec_id"),
        (-col("m.nb")).as("nearest_bench"),
        col("m.cos").as("max_cos"),
        when(col("m.cos") >= 0.9, "leaked").otherwise("clean").as("verdict"))
      .orderBy("vec_id")
  }

  /** Deterministic MIXTURE SAMPLING: hit per-language target sampling rates
    * (the domain/language re-weighting step of every pretraining data
    * recipe) with a content-hash Bernoulli — keep a doc iff its md5 bucket
    * (0..999) falls under the language's rate-per-mille. Same md5 recipe as
    * the train split, so the kept SET (not just its size) is stable across
    * runs, engines, partitionings, and corpus growth; changing the salt
    * resamples. Pure per-row column math + one keyed aggregation — no
    * rand(), no sort, no sampling pass that must see the whole corpus. */
  val mixSample: Q = Q(
    "q_mix_sample",
    """WITH d AS (
      |  SELECT lang,
      |         CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS b,
      |         CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 400 ELSE 700 END AS rate,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN b < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(SUM(CASE WHEN b < rate THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
      |       CAST(SUM(CASE WHEN b < rate THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accept_rate
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val b = Text.md5Hash32(
      concat(lit("mix:"), col("doc_id").cast("string"))) % 1000
    val rate = when(col("lang") === "en", 1000)
      .when(col("lang") === "zh", 400).otherwise(700)
    val kept = col("b") < col("rate")
    t(s, dir, "documents")
      .select(col("lang"), b.as("b"), rate.as("rate"),
        Text.tokenCount(col("text")).cast("long").as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("toks")).otherwise(0L)).as("kept_tokens"),
        (sum(when(kept, 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("accept_rate"))
      .orderBy("lang")
  }

  /** REPETITION-based quality filter (the Gopher-rule family): per-doc
    * duplicate-token fraction, most-frequent-token fraction, and
    * most-frequent-bigram fraction, thresholded to a keep/drop verdict.
    * Everything is computed IN-ROW over projected token/bigram arrays —
    * O(distinct × len) per doc, bounded by doc length, zero shuffles before
    * the final sort: the shape that holds at any corpus size because no
    * (doc, token) row ever crosses the network. */
  val repetitionQuality: Q = Q(
    "q_repetition_quality",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |bg AS (
      |  SELECT doc_id, tk,
      |         CASE WHEN len(tk) >= 2
      |              THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
      |              ELSE CAST([] AS VARCHAR[]) END AS bg
      |  FROM tk),
      |m AS (
      |  SELECT doc_id,
      |         len(tk) AS n_tokens,
      |         len(list_distinct(tk)) AS n_distinct,
      |         list_max(list_transform(list_distinct(tk),
      |           t -> len(list_filter(tk, x -> x = t)))) AS top_tok,
      |         CASE WHEN len(bg) >= 1
      |              THEN list_max(list_transform(list_distinct(bg),
      |                     g -> len(list_filter(bg, x -> x = g))))
      |              ELSE 0 END AS top_bg,
      |         len(bg) AS n_bigrams
      |  FROM bg)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_frac,
      |       CAST(top_tok AS DOUBLE) / n_tokens AS top_token_frac,
      |       CASE WHEN n_bigrams >= 1 THEN CAST(top_bg AS DOUBLE) / n_bigrams ELSE 0.0 END AS top_bigram_frac,
      |       CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3
      |             AND CAST(top_tok AS DOUBLE) / n_tokens <= 0.2
      |             AND (CASE WHEN n_bigrams >= 1 THEN CAST(top_bg AS DOUBLE) / n_bigrams ELSE 0.0 END) <= 0.18
      |            THEN 'keep' ELSE 'drop' END AS verdict
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // project tk/bg ONCE: lambda bodies sit outside common-subexpression
    // elimination, so referencing a computed split()/transform() inside the
    // multiplicity lambdas would re-run it per ELEMENT (Vectors.scala lesson)
    val withTk = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val withBg = withTk.withColumn("bg",
      when(size(col("tk")) >= 2,
        transform(sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ", slice(col("tk"), i, lit(2)))))
        .otherwise(array().cast("array<string>")))
    // max multiplicity = longest equal run of the SORTED array: an
    // O(n log n) fold instead of the O(distinct x len) nested filter-per-
    // distinct-token scan (measured ~2.4x the query cost on 50-token docs).
    // The sort is the aggregate's ARGUMENT (outside the lambda), so it runs
    // once per row; inside, only adjacent-equality and counter math.
    def maxMult(arr: Column): Column =
      aggregate(array_sort(arr),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
          lit(0).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(1)
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
    val m = withBg.select(col("doc_id"),
      size(col("tk")).as("n_tokens"),
      size(array_distinct(col("tk"))).as("n_distinct"),
      maxMult(col("tk")).as("top_tok"),
      when(size(col("bg")) >= 1, maxMult(col("bg"))).otherwise(0).as("top_bg"),
      size(col("bg")).as("n_bigrams"))
    val distinctFrac = col("n_distinct").cast("double") / col("n_tokens")
    val topTokFrac = col("top_tok").cast("double") / col("n_tokens")
    val topBgFrac = when(col("n_bigrams") >= 1,
      col("top_bg").cast("double") / col("n_bigrams")).otherwise(0.0)
    m.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        distinctFrac.as("distinct_frac"),
        topTokFrac.as("top_token_frac"),
        topBgFrac.as("top_bigram_frac"),
        when(distinctFrac >= 0.3 && topTokFrac <= 0.2 && topBgFrac <= 0.18,
          "keep").otherwise("drop").as("verdict"))
    // no presentation orderBy: the range exchange's bounds SAMPLING
    // re-executes the whole in-row kernel (measured: two identical
    // ~0.8s single-task stages — the q_neardup_verify lesson). The
    // driver compare and tools/parity.py sort rows themselves; the
    // oracle SQL keeps its ORDER BY, which never enters the compare.
  }

  /** VOCABULARY construction: corpus-frequency (cf) and document-frequency
    * (df) per token, top-100 by cf with a deterministic token tiebreak, and
    * a contiguous token_id assigned in rank order — the token→id table a
    * tokenizer/embedding layer trains against. One keyed aggregation + a
    * TakeOrdered top-k; the global row_number runs AFTER the limit, over a
    * bounded 100-row set (never a corpus-wide single-partition window). */
  val vocabTopk: Q = Q(
    "q_vocab_topk",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v AS (SELECT tok, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
      |top AS (SELECT * FROM v ORDER BY cf DESC, tok LIMIT 100)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, tok) AS BIGINT) AS token_id,
      |       tok, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df
      |FROM top ORDER BY token_id""".stripMargin) { (s, dir) =>
    val top = t(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cf").desc, col("tok"))
      .limit(100)
    // the numbering window sits on the LIMIT-bounded table (<= 100 rows at
    // any scale — PlanFlags allows it), but it still goes through
    // TimeSeries.rowIndex so it inherits the boundedGlobal non-foldable
    // constant key (no WindowExec single-partition warning) from the one
    // place that encodes that trick
    top.withColumn("token_id",
        graft.engine.TimeSeries
          .rowIndex(Seq.empty, Seq(col("cf").desc, col("tok"))).cast("long"))
      .select(col("token_id"), col("tok"), col("cf"), col("df"))
      .orderBy("token_id")
  }

  /** TF-IDF KEYWORD extraction: top-3 tokens per document by tf/df — the
    * exact-rational surrogate of tf·idf (monotone in tf and 1/df; ln(N/df)
    * is libm-dependent and would not hash-match across engines, the ratio
    * is one IEEE division and does). df is a vocabulary-bounded table →
    * broadcast-joinable at scale; the rank window partitions BY DOCUMENT, so
    * per-partition work is bounded by doc vocabulary, never corpus size. */
  val tfidfKeywords: Q = Q(
    "q_tfidf_keywords",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
      |sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |              CAST(tf.tf AS DOUBLE) / df.df AS score
      |       FROM tf JOIN df USING (tok)),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk FROM sc)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok,
      |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
      |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
    val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(df, Seq("tok"))
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), col("df"), col("score"))
  }

  /** LENGTH-DISTRIBUTION profile: exact per-language token-count quantiles
    * (p50/p90/p99), min/max, and mean — the corpus profile a curation run
    * reads before setting length gates and packing budgets. Spark's exact
    * `percentile` and DuckDB's `quantile_cont` share the same linear
    * interpolation tree, so the doubles hash-match bit-for-bit (verified:
    * non-representable results like 87.20000000000002 agree exactly).
    *
    * Scale note: exact percentile state is a per-group value→count map, so
    * memory is bounded by the DISTINCT token counts per language — the doc
    * length domain, small by construction. For unbounded value domains the
    * approx_percentile sketch is the scale path; the mean is an exact
    * integer-sum ratio either way. */
  val lengthQuantiles: Q = Q(
    "q_length_quantiles",
    """WITH d AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |       CAST(MIN(nt) AS BIGINT) AS min_nt,
      |       CAST(MAX(nt) AS BIGINT) AS max_nt,
      |       CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS mean_nt,
      |       quantile_cont(nt, 0.5) AS p50,
      |       quantile_cont(nt, 0.9) AS p90,
      |       quantile_cont(nt, 0.99) AS p99
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val nt = Text.tokenCount(col("text")).cast("long")
    t(s, dir, "documents")
      .select(col("lang"), nt.as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("nt")).as("min_nt"), max(col("nt")).as("max_nt"),
        (sum(col("nt")).cast("double") / count(lit(1))).as("mean_nt"),
        percentile(col("nt"), lit(0.5)).as("p50"),
        percentile(col("nt"), lit(0.9)).as("p90"),
        percentile(col("nt"), lit(0.99)).as("p99"))
      .orderBy("lang")
  }

  /** APPROXIMATE-QUANTILE SKETCH, fully oracle-checked — the third
    * engine-deterministic sketch (after HLL and Bloom), completing the
    * profile q_length_quantiles computes exactly: per-language approx
    * p50/p90/p99 of document token counts off a BOUNDED histogram
    * ([[graft.functions.Sketch.histBucket]]: exact buckets below 256, 16
    * log-spaced sub-buckets per power-of-two octave above — at most 976
    * buckets per language over the whole [0, 2^53) domain, however the
    * corpus grows), GRADED in-row against the exact percentiles the way
    * q_bloom_prune grades its filter and q_hll_distinct its estimate.
    *
    * Determinism: bucket ids are integer CASE-ladder + exact
    * power-of-two-scaled floors (no libm — a power-of-two multiply only
    * shifts the exponent); quantile extraction is an INTEGER rank
    * threshold, ceil(n*p/100) by integer division, against the running
    * bucket-count sum; the reported value is the bucket's integer upper
    * bound. Every compared number is integer or an identical
    * IEEE-division result in both engines.
    *
    * Shape at 100 TB: ONE keyed aggregation (lang, bucket) with map-side
    * partials — the shuffle carries at most 976 rows per language per map
    * task; the cumulative window runs over <= 976 rows per language,
    * bounded BY THE SKETCH (never by data). The exact-percentile columns
    * exist to GRADE the sketch and are the expensive bounded-domain
    * operator the sketch replaces on unbounded domains. Streaming twin:
    * [[graft.streaming.Streams.histRegisters]]. */
  val quantileSketch: Q = {
    import graft.functions.Sketch
    val expSql = (Sketch.HistMaxExp to 8 by -1)
      .map(b => s"WHEN nt >= ${1L << b} THEN $b").mkString("CASE ", " ", " ELSE 8 END")
    val powsSql = Sketch.HistPows.mkString("[", ", ", "]")
    val invsSql = Sketch.HistInvStrings.map(_ + "::DOUBLE").mkString("[", ", ", "]")
    val widthsSql = Sketch.HistWidths.mkString("[", ", ", "]")
    Q(
      "q_quantile_sketch",
      s"""WITH d AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |b1 AS (SELECT lang, nt, $expSql AS e FROM d),
        |b2 AS (SELECT lang, nt,
        |         CASE WHEN nt < 256 THEN nt
        |              ELSE 256 + (e - 8) * 16 +
        |                   CAST(FLOOR((nt - ($powsSql)[e - 7]) * ($invsSql)[e - 7]) AS BIGINT)
        |         END AS bucket
        |       FROM b1),
        |h AS (SELECT lang, bucket, COUNT(*) AS cnt FROM b2 GROUP BY lang, bucket),
        |h2a AS (SELECT lang, bucket, cnt,
        |          CAST(FLOOR((bucket - 256) * 0.0625) AS INTEGER) AS eh FROM h),
        |h2 AS (SELECT lang, bucket, cnt,
        |         CASE WHEN bucket < 256 THEN bucket
        |              ELSE ($powsSql)[eh + 1]
        |                   + (bucket - 256 - eh * 16 + 1) * ($widthsSql)[eh + 1] - 1
        |         END AS hi
        |       FROM h2a),
        |c AS (SELECT lang, bucket, hi, cnt,
        |        SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum FROM h2),
        |n AS (SELECT lang, COUNT(*) AS n_docs FROM d GROUP BY lang),
        |x AS (SELECT lang, quantile_cont(nt, 0.5) AS p50_exact,
        |             quantile_cont(nt, 0.9) AS p90_exact,
        |             quantile_cont(nt, 0.99) AS p99_exact FROM d GROUP BY lang),
        |a AS (SELECT c.lang,
        |        CAST(MIN(CASE WHEN c.cum >= (n.n_docs * 50 + 99) // 100 THEN c.hi END) AS BIGINT) AS p50_approx,
        |        CAST(MIN(CASE WHEN c.cum >= (n.n_docs * 90 + 99) // 100 THEN c.hi END) AS BIGINT) AS p90_approx,
        |        CAST(MIN(CASE WHEN c.cum >= (n.n_docs * 99 + 99) // 100 THEN c.hi END) AS BIGINT) AS p99_approx,
        |        CAST(COUNT(*) AS BIGINT) AS sketch_buckets
        |      FROM c JOIN n USING (lang) GROUP BY c.lang)
        |SELECT a.lang, n.n_docs, a.sketch_buckets,
        |       a.p50_approx, a.p90_approx, a.p99_approx,
        |       x.p50_exact, x.p90_exact, x.p99_exact,
        |       abs(a.p50_approx - x.p50_exact) / x.p50_exact AS p50_err,
        |       abs(a.p90_approx - x.p90_exact) / x.p90_exact AS p90_err,
        |       abs(a.p99_approx - x.p99_exact) / x.p99_exact AS p99_err
        |FROM a JOIN n USING (lang) JOIN x USING (lang)
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("lang"), Text.tokenCount(col("text")).cast("long").as("nt"))
      val h = d.select(col("lang"), Sketch.histBucket(col("nt")).as("bucket"))
        .groupBy("lang", "bucket").agg(count(lit(1)).as("cnt"))
        .withColumn("hi", Sketch.histHi(col("bucket")))
      val w = Window.partitionBy("lang").orderBy("bucket")
      val c = h.withColumn("cum", sum(col("cnt")).over(w))
      val n = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val x = d.groupBy("lang").agg(
        percentile(col("nt"), lit(0.5)).as("p50_exact"),
        percentile(col("nt"), lit(0.9)).as("p90_exact"),
        percentile(col("nt"), lit(0.99)).as("p99_exact"))
      def tgt(p: Int) = expr(s"(n_docs * $p + 99) DIV 100")
      val a = c.join(broadcast(n), Seq("lang"))
        .groupBy("lang")
        .agg(min(when(col("cum") >= tgt(50), col("hi"))).as("p50_approx"),
          min(when(col("cum") >= tgt(90), col("hi"))).as("p90_approx"),
          min(when(col("cum") >= tgt(99), col("hi"))).as("p99_approx"),
          count(lit(1)).as("sketch_buckets"))
      a.join(n, Seq("lang")).join(x, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("sketch_buckets"),
          col("p50_approx"), col("p90_approx"), col("p99_approx"),
          col("p50_exact"), col("p90_exact"), col("p99_exact"),
          (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact")).as("p50_err"),
          (abs(col("p90_approx") - col("p90_exact")) / col("p90_exact")).as("p90_err"),
          (abs(col("p99_approx") - col("p99_exact")) / col("p99_exact")).as("p99_err"))
    }
  }

  /** The full (un-limited) BPE pair table for a documents DataFrame —
    * factored out so CorpusSpec can pin the conservation law
    * `sum(pair_count) == sum over vocab of freq * (len(word) - 1)` that
    * the top-50 query output can't express. Two stages: (1) the ONLY
    * corpus-sized aggregation — word → occurrence count, map-side
    * combined, keys drawn from the bounded vocabulary (Heaps' law:
    * vocabulary grows ~O(corpus^0.5), not linearly); (2) adjacent
    * character pairs enumerated over the VOCAB (freq-weighted), so the
    * per-merge-iteration cost of BPE training is O(|vocab| * word_len)
    * regardless of corpus size — the standard trick every real BPE
    * trainer uses, expressed as two keyed aggregations. */
  private[graft] def bpePairAgg(docs: DataFrame): DataFrame = {
    val vocab = docs
      .filter(col("text").isNotNull)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // sequence(1, len-1) is ascending only under the len >= 2 filter
    // (Spark's sequence DESCENDS for end < start — the ngramMd5Keys lesson)
    vocab
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(sum("freq").as("pair_count"), countDistinct("word").as("n_words"))
  }

  /** BPE TOKENIZER-TRAINING pair statistics: the first merge iteration of
    * byte-pair encoding — count adjacent character pairs across the
    * corpus, weighted by word occurrence frequency, and rank the merge
    * candidates (top-50 by count, token tiebreak). This is the step that
    * turns a curated corpus into a TOKENIZER, the one pipeline stage
    * between q_vocab_topk (word-level vocabulary) and q_token_counts
    * (applying a tokenizer) that nothing else covers. Overlapping pairs
    * count per position ("aaa" contributes "aa" twice), matching standard
    * BPE pair counting; n_words is the distinct-word support of each pair.
    *
    * Shape at 100 TB: see [[bpePairAgg]] — the corpus-sized work is ONE
    * map-side-combined word count; pair enumeration and the pair
    * aggregation run over the bounded vocabulary, and the top-50 is a
    * TakeOrderedAndProject (no global sort materializes). Every further
    * BPE merge iteration would rescan only the vocab table, never the
    * corpus. */
  val bpePairs: Q = Q(
    "q_bpe_pairs",
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
      |  WHERE text IS NOT NULL),
      |vocab AS (
      |  SELECT word, COUNT(*) AS freq FROM w WHERE word <> '' GROUP BY word),
      |p AS (
      |  SELECT word, freq,
      |         unnest(list_transform(range(1, length(word)),
      |                               i -> word[i:i+1])) AS pair
      |  FROM vocab WHERE length(word) >= 2)
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
      |       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
      |FROM p GROUP BY pair
      |ORDER BY pair_count DESC, pair
      |LIMIT 50""".stripMargin) { (s, dir) =>
    bpePairAgg(t(s, dir, "documents"))
      .orderBy(desc("pair_count"), asc("pair"))
      .limit(50)
  }

  /** BPE training/encoding round count and training-vocabulary cap shared
    * by q_bpe_train and q_bpe_encode (the two halves of the tokenizer
    * loop), so the merges the encoder applies are BY CONSTRUCTION the ones
    * the trainer learned. */
  private val BpeRounds = 3
  private val BpeVocabCap = 200

  /** One DuckDB CTE chain for training round `i`: count adjacent pairs of
    * syms(i-1) (frequency-weighted), pick the top pair top$i, and merge it
    * greedily left-to-right (gaps-and-islands; see q_bpe_train's scaladoc)
    * into syms$i. Shared by the q_bpe_train and q_bpe_encode oracles. */
  private def bpeRoundCte(i: Int): String = {
    val prev = if (i == 1) "syms0" else s"syms${i - 1}"
    s"""p$i AS (
      |  SELECT word, freq, pos, sym,
      |         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      |  FROM $prev),
      |cnt$i AS (
      |  SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS pc
      |  FROM p$i WHERE nxt IS NOT NULL GROUP BY sym, nxt),
      |top$i AS (SELECT l, r, pc FROM cnt$i ORDER BY pc DESC, l, r LIMIT 1),
      |mk$i AS (
      |  SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
      |         CASE WHEN p.sym = t.l AND p.nxt = t.r THEN 1 ELSE 0 END AS m
      |  FROM p$i p CROSS JOIN top$i t),
      |g$i AS (
      |  SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, m ORDER BY pos) AS grp
      |  FROM mk$i),
      |k$i AS (
      |  SELECT *, CASE WHEN m = 1 AND
      |           (pos - MIN(pos) OVER (PARTITION BY word, m, grp)) % 2 = 0
      |         THEN 1 ELSE 0 END AS kept
      |  FROM g$i),
      |d$i AS (
      |  SELECT *, LAG(kept) OVER (PARTITION BY word ORDER BY pos) AS pk
      |  FROM k$i),
      |syms$i AS (
      |  SELECT word, freq,
      |         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
      |         CASE WHEN kept = 1 THEN sym || nxt ELSE sym END AS sym
      |  FROM d$i WHERE COALESCE(pk, 0) = 0)""".stripMargin
  }

  /** The shared training SQL prefix: corpus -> frequency-weighted top-cap
    * vocabulary -> initial per-character symbol streams. */
  private def bpeTrainPrefixSql: String =
    s"""tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |vc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok
      |       WHERE len(word) >= 2 GROUP BY word),
      |vocab AS (SELECT word, freq FROM vc ORDER BY freq DESC, word LIMIT $BpeVocabCap),
      |chs AS (SELECT word, freq,
      |               unnest(generate_series(1, len(word))) AS pos FROM vocab),
      |syms0 AS (SELECT word, freq, pos, substring(word, pos, 1) AS sym FROM chs)""".stripMargin

  /** Applying round `i`'s learned pair top$i to the full-vocabulary symbol
    * stream esyms(i-1) — the ENCODE twin of [[bpeRoundCte]]: identical
    * gaps-and-islands merge, no freq column (encoding is per distinct
    * word), the pair comes from training rather than a re-count. */
  private def bpeEncRoundCte(i: Int): String = {
    val prev = if (i == 1) "esyms0" else s"esyms${i - 1}"
    s"""ep$i AS (
      |  SELECT word, pos, sym,
      |         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      |  FROM $prev),
      |emk$i AS (
      |  SELECT p.word, p.pos, p.sym, p.nxt,
      |         CASE WHEN p.sym = t.l AND p.nxt = t.r THEN 1 ELSE 0 END AS m
      |  FROM ep$i p CROSS JOIN top$i t),
      |eg$i AS (
      |  SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, m ORDER BY pos) AS grp
      |  FROM emk$i),
      |ek$i AS (
      |  SELECT *, CASE WHEN m = 1 AND
      |           (pos - MIN(pos) OVER (PARTITION BY word, m, grp)) % 2 = 0
      |         THEN 1 ELSE 0 END AS kept
      |  FROM eg$i),
      |ed$i AS (
      |  SELECT *, LAG(kept) OVER (PARTITION BY word ORDER BY pos) AS pk
      |  FROM ek$i),
      |esyms$i AS (
      |  SELECT word,
      |         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
      |         CASE WHEN kept = 1 THEN sym || nxt ELSE sym END AS sym
      |  FROM ed$i WHERE COALESCE(pk, 0) = 0)""".stripMargin
  }

  /** One greedy left-to-right merge of the 1-row pair frame `top`
    * (columns l, r) over a (word, syms ARRAY<STRING>, carry...) frame —
    * the Spark twin of [[bpeRoundCte]]/[[bpeEncRoundCte]]'s merge half,
    * as an IN-ROW fold: walk the word's symbol array once with a
    * skip-next flag, merging each leftmost match and consuming its right
    * half — exactly the gaps-and-islands semantics ("aaaa" under (a,a)
    * -> "aa aa"; BpeTrainSpec pins the overlap run), with ZERO window
    * functions. The word's symbol stream is bounded by word length, so
    * the per-word state is a bounded array — the same in-row altitude as
    * the gram/pair expansions (the previous 4-windows-per-round form
    * paid ~5 exchanges per merge round over a vocab-bounded frame: pure
    * stage-latency overhead at every scale). Lineage is cut per round by
    * the caller's lazy localCheckpoint (the Dedup.components posture),
    * which also keeps `syms` an attribute — a lambda-body reference to
    * an inlined expression would re-evaluate it per element. */
  private def applyBpeMerge(syms: DataFrame, top: DataFrame): DataFrame =
    syms.crossJoin(broadcast(top.select("l", "r"))) // 1-row pair
      .withColumn("syms", expr(
        """aggregate(sequence(1, size(syms)),
          |  named_struct('o', CAST(array() AS ARRAY<STRING>), 's', false),
          |  (st, i) -> CASE
          |    WHEN st.s THEN named_struct('o', st.o, 's', false)
          |    WHEN i < size(syms) AND element_at(syms, i) = l
          |         AND element_at(syms, i + 1) = r
          |      THEN named_struct('o', array_append(st.o, concat(l, r)),
          |                        's', true)
          |    ELSE named_struct('o', array_append(st.o, element_at(syms, i)),
          |                      's', false)
          |  END,
          |  st -> st.o)""".stripMargin))
      .drop("l", "r")

  /** Round winner: adjacent-pair counts over the symbol arrays (freq-
    * weighted), top-1 by (count DESC, l, r) — zip-of-shifted-slices, one
    * keyed aggregation, TakeOrdered; lazily checkpointed because the
    * NEXT round's plan and the readout both consume it. */
  private def bpePairTop(syms: DataFrame): DataFrame =
    syms.select(col("freq"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("pc"))
      .orderBy(col("pc").desc, col("l"), col("r")).limit(1)
      .localCheckpoint(eager = false)

  /** BPE MERGE TRAINING — the iterative fixed point q_bpe_pairs only
    * samples once: N rounds of (count adjacent symbol pairs, pick the top
    * pair, merge it greedily left-to-right everywhere, re-count), exactly
    * the Sennrich BPE trainer loop, producing the learned merge table.
    * Output: one row per round — (round, left_sym, right_sym, pair_count).
    *
    * The scale story is the REAL one: BPE training state is
    * VOCAB-bounded, not corpus-bounded. The corpus contributes only
    * through the word-frequency aggregation (one scan + one keyed
    * aggregation); every merge round then runs over the top-`VocabCap`
    * word/frequency table (a few thousand symbol rows at ANY corpus
    * size), with word-partitioned windows and a 1-row broadcast of the
    * round's winning pair — the same iterative posture as
    * Dedup.components (per-round lazy localCheckpoint to keep lineage
    * linear in rounds).
    *
    * Greedy left-to-right merging is resolved with the gaps-and-islands
    * idiom: among a word's matching positions, consecutive runs share an
    * island (pos - row_number), and even offsets within the island merge
    * — "aaaa" under (a,a) becomes "aa aa", never "a aa a". Everything is
    * integer counts with (count DESC, pair ASC) total-order tie-breaks,
    * so a fixed small N unrolls exactly in DuckDB (the oracle mirrors the
    * same three rounds CTE by CTE); BpeTrainSpec pins the merge sequence
    * on a crafted corpus including the overlapping-run case. */
  val bpeTrain: Q = {
    val merged = (1 to BpeRounds)
      .map(i => s"SELECT $i AS round, l AS left_sym, r AS right_sym, pc AS pair_count FROM top$i")
      .mkString("\n|UNION ALL\n|")
    Q(
      "q_bpe_train",
      s"""WITH $bpeTrainPrefixSql,
        |${(1 to BpeRounds).map(bpeRoundCte).mkString(",\n|")}
        |$merged
        |ORDER BY round""".stripMargin) { (s, dir) =>
      val (_, tops) = bpeTrainedMerges(t(s, dir, "documents"))
      tops.zipWithIndex.map { case (top, i0) =>
        top.select(lit(i0 + 1).as("round"), col("l").as("left_sym"),
          col("r").as("right_sym"), col("pc").as("pair_count"))
      }.reduce(_ unionAll _).orderBy("round")
    }
  }

  /** Run the [[BpeRounds]] training rounds over `docs`' frequency-weighted
    * top-[[BpeVocabCap]] vocabulary; returns (final symbol frame, the
    * per-round winning-pair frames in merge order — each 1 row (l, r, pc),
    * lazily checkpointed so downstream consumers re-execute only the
    * bounded vocab aggregation, not each other). Shared by q_bpe_train
    * (which emits the pairs) and q_bpe_encode (which applies them). */
  private def bpeTrainedMerges(docs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(BpeVocabCap)
    var syms = vocab
      .select(col("word"), col("freq"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
    val tops = (1 to BpeRounds).map { _ =>
      val top = bpePairTop(syms)
      syms = applyBpeMerge(syms, top).localCheckpoint(eager = false)
      top
    }
    (syms, tops)
  }

  /** BPE ENCODING — the apply half of the tokenizer loop q_bpe_train
    * trains: the [[BpeRounds]] learned merges, applied IN LEARNED ORDER to
    * the corpus's full distinct-word vocabulary, then joined back onto the
    * token stream for a per-document readout of (words, characters, BPE
    * tokens, compression in exact ppm). Train -> encode -> count is
    * exactly the loop a tokenizer ships through before a training run, and
    * the compression column is the fertility audit run on every corpus
    * snapshot.
    *
    * Shape at 100 TB: encoding state is VOCAB-bounded, never
    * corpus-bounded — the corpus is touched exactly twice (once to build
    * the distinct-word vocabulary, once for the final per-doc join-back),
    * and each merge round runs over the word/symbol table with
    * word-partitioned windows and a 1-row broadcast of that round's pair.
    * The join-back is a keyed equi-join on the word (heavy-tailed but
    * hash-partitioned; vocabulary grows ~Heaps-law sublinearly), and the
    * per-doc rollup takes map-side partials. Every count is integer;
    * saved_ppm is integer DIV — bit-identical cross-engine. */
  val bpeEncode: Q = Q(
    "q_bpe_encode",
    s"""WITH $bpeTrainPrefixSql,
      |${(1 to BpeRounds).map(bpeRoundCte).mkString(",\n|")},
      |dtk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |dtok AS (SELECT doc_id, word FROM dtk WHERE word <> ''),
      |evc AS (SELECT DISTINCT word FROM dtok),
      |echs AS (SELECT word,
      |                unnest(generate_series(1, len(word))) AS pos FROM evc),
      |esyms0 AS (SELECT word, pos, substring(word, pos, 1) AS sym FROM echs),
      |${(1 to BpeRounds).map(bpeEncRoundCte).mkString(",\n|")},
      |enc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sym
      |        FROM esyms$BpeRounds GROUP BY word),
      |d AS (
      |  SELECT t.doc_id, COUNT(*) AS n_words, SUM(len(t.word)) AS n_chars,
      |         SUM(e.n_sym) AS n_bpe
      |  FROM dtok t JOIN enc e ON e.word = t.word GROUP BY t.doc_id)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |       CAST(n_chars AS BIGINT) AS n_chars,
      |       CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
      |       CAST((n_chars - n_bpe) * 1000000 // n_chars AS BIGINT) AS saved_ppm
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val (_, tops) = bpeTrainedMerges(docs)
    val dtok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    var esyms = dtok.select("word").distinct()
      .select(col("word"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
    tops.foreach { top =>
      esyms = applyBpeMerge(esyms, top).localCheckpoint(eager = false)
    }
    // one row per word already — the symbol count is the array size (the
    // exploded form needed a per-word re-aggregation here)
    val enc = esyms.select(col("word"), size(col("syms")).cast("long").as("n_sym"))
    dtok.join(enc, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        expr("(n_chars - n_bpe_tokens) * 1000000 DIV n_chars").as("saved_ppm"))
  }

  /** Out-of-vocabulary RATE per document against the corpus top-100
    * vocabulary — the tokenizer-coverage audit run before committing to a
    * vocab: a rising OOV rate on new data means the tokenizer fragments
    * it. Same vocabulary construction as q_vocab_topk (count-desc, token
    * tiebreak), so the two queries stay mutually consistent.
    *
    * Shape at 100 TB: the vocabulary is LIMIT-bounded (100 rows at any
    * corpus size) — broadcast it; the membership probe is then a
    * broadcast LEFT join on the exploded token stream (no shuffle of the
    * tokens), and the per-doc rate is one keyed aggregation with
    * map-side partials. */
  val oovRate: Q = Q(
    "q_oov_rate",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v AS (SELECT tok, COUNT(*) AS cf FROM tok GROUP BY tok),
      |top AS (SELECT tok FROM v ORDER BY cf DESC, tok LIMIT 100),
      |j AS (SELECT t.doc_id, top.tok AS iv FROM tok t
      |      LEFT JOIN top ON top.tok = t.tok)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
      |FROM j GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("tok")).limit(100)
      .select(col("tok"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** KEYWORD SEARCH — inverted-index retrieval with tf-idf ranking, the
    * lookup side of the corpus tooling (q_tfidf_keywords extracts
    * keywords FROM docs; this finds docs FOR keywords — the query a
    * curation analyst actually types). Posting lists are the per-(term,
    * doc) tf table — built here for just the query terms, but identical in
    * shape to the standing inverted index a production corpus keeps — and
    * each posting is weighted by an INTEGER idf, 2^20 DIV df: exact in
    * both engines (no ln, no float sums — a sum of doubles would be
    * addend-order-dependent and unhashable cross-engine), monotone in the
    * true rarity ordering. Top-20 by (score DESC, doc_id) with the tie
    * explicit.
    *
    * Shape at 100 TB: tokenize-and-filter is one scan (the filter on the
    * 4-term set prunes the explode immediately); tf is a keyed
    * aggregation; df is 4 rows, broadcast back; the final top-k is
    * TakeOrdered — per-partition heaps, no global sort. */
  val keywordSearch: Q = {
    val terms = Seq("spark", "query", "join", "window")
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    Q(
      "q_keyword_search",
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN $termList GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT t.doc_id,
        |         CAST(SUM(t.tf * (1048576 // d.df)) AS BIGINT) AS score,
        |         COUNT(*) AS n_terms
        |  FROM tf t JOIN df d ON d.tok = t.tok
        |  GROUP BY t.doc_id)
        |SELECT doc_id, score, n_terms
        |FROM scored
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isin(terms: _*))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfT), Seq("tok"))
        .withColumn("idf", expr("1048576 DIV df"))
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("idf")).as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }
  }

  /** BM25 RETRIEVAL — the q_keyword_search inverted-index shape upgraded
    * with document-length normalization (k1 = 1.2, b = 0.75): long
    * documents no longer win just by repeating a term, which is what makes
    * BM25 the ranking real retrieval-quality filtering uses. Per (doc,
    * term): score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*len/avg_len)).
    *
    * Determinism (the integer-rational convention): with k1 = 6/5 and
    * b = 3/4 the per-term factor reduces to the single exact fraction
    *   tf_norm = (22 * tf * L_tot) / (10*tf*L_tot + (3*L_tot + 9*len*N))
    * whose numerator and denominator are exact BIGINTs, each well under
    * 2^53 (L_tot tokens ~3e8 at a 10x probe -> numerator ~7e12, denominator
    * ~3e12; headroom to ~2e4x corpus before the double mantissa clips), so
    * ONE IEEE division of exactly-representable operands is bit-identical
    * in both engines (the q_kmv/q_ab_lift pattern). idf stays
    * q_keyword_search's integer 2^20 DIV df; the per-doc sum of the double
    * scores goes through DECIMAL(38,6) ([[graft.engine.Det.dsum]]) so
    * addend order cannot leak in.
    *
    * Shape at 100 TB: tokenize-and-filter prunes the explode to the 4-term
    * set in one scan; tf is a keyed aggregation; df (4 rows) and the 1-row
    * corpus stats broadcast back; doc lengths come map-side from the same
    * scan; the final top-k is TakeOrdered — per-partition heaps, no global
    * sort. */
  val bm25Search: Q = {
    val terms = Seq("spark", "query", "join", "window")
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    Q(
      "q_bm25_search",
      s"""WITH dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_len
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(SUM(doc_len) AS BIGINT) AS l_tot,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |  WHERE tok IN $termList GROUP BY doc_id, tok),
        |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT t.doc_id,
        |         CAST((1048576 // d.df) AS DOUBLE) *
        |           (CAST(22 * t.tf * s.l_tot AS DOUBLE) /
        |            CAST(10 * t.tf * s.l_tot + 3 * s.l_tot + 9 * dl.doc_len * s.n_docs AS DOUBLE))
        |           AS term_score
        |  FROM tf t JOIN df d ON d.tok = t.tok
        |            JOIN dl ON dl.doc_id = t.doc_id, stats s)
        |SELECT doc_id,
        |       CAST(SUM(CAST(term_score AS DECIMAL(38,6))) AS DOUBLE) AS score,
        |       CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("doc_len"))
      val stats = dl.agg(sum(col("doc_len")).as("l_tot"),
        count(lit(1)).as("n_docs"))
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isin(terms: _*))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfT), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats)) // 1-row corpus stats
        .withColumn("term_score",
          expr("1048576 DIV df").cast("double") *
            ((lit(22L) * col("tf") * col("l_tot")).cast("double") /
              (lit(10L) * col("tf") * col("l_tot") + lit(3L) * col("l_tot") +
                lit(9L) * col("doc_len") * col("n_docs")).cast("double")))
        .groupBy("doc_id")
        .agg(graft.engine.Det.dsum(col("term_score")).as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }
  }

  /** COLLOCATION MINING — document-level co-occurrence lift over the
    * df-ranked top-100 vocabulary: which token pairs appear in the same
    * document far more often than independence predicts (lift =
    * n12 * n_docs / (n1 * n2), in exact ppm integers — the q_basket_rules
    * metric applied to text, the association signal behind phrase
    * detection and topic seeding). Support floor n12 >= 5 cuts one-off
    * noise (the df-cut idiom); top-50 pairs by co-occurrence via
    * TakeOrderedAndProject.
    *
    * Shape at 100 TB: the vocabulary is LIMIT-bounded (100 rows at any
    * scale) and BROADCAST onto the exploded token stream, so the
    * incidence table carries only vocab hits; the pair self-join fans out
    * at most C(100,2) per document — a constant factor, never quadratic in
    * corpus size — and aggregates to <= 4,950 pair keys with map-side
    * combine. Lift's BIGINT numerator n12 * n_docs * 1e6 holds to ~9e6
    * docs per n12 unit; past that promote to DECIMAL(38,0) (the
    * q_basket_rules headroom note). */
  val collocationLift: Q = Q(
    "q_collocation_lift",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
      |top AS (SELECT tok, df FROM v ORDER BY df DESC, tok LIMIT 100),
      |inc AS (SELECT DISTINCT t.doc_id, t.tok FROM tok t JOIN top ON top.tok = t.tok),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |pair AS (
      |  SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS n12
      |  FROM inc a JOIN inc b ON b.doc_id = a.doc_id AND a.tok < b.tok
      |  GROUP BY a.tok, b.tok),
      |r AS (SELECT p.t1, p.t2, p.n12, v1.df AS n1, v2.df AS n2, nd.n_docs
      |      FROM pair p JOIN top v1 ON v1.tok = p.t1
      |                  JOIN top v2 ON v2.tok = p.t2, nd
      |      WHERE p.n12 >= 5)
      |SELECT t1, t2, CAST(n12 AS BIGINT) AS n12,
      |       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(n12 * n_docs * 1000000 // (n1 * n2) AS BIGINT) AS lift_ppm
      |FROM r ORDER BY n12 DESC, t1, t2 LIMIT 50""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
    val top = tok.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(100)
    val inc = tok.join(broadcast(top.select("tok")), Seq("tok")).distinct()
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val pair = inc.as("a")
      .join(inc.as("b"),
        col("b.doc_id") === col("a.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("t1"), col("b.tok").as("t2"))
      .agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= 5)
    pair
      .join(broadcast(top.select(col("tok").as("t1"), col("df").as("n1"))), Seq("t1"))
      .join(broadcast(top.select(col("tok").as("t2"), col("df").as("n2"))), Seq("t2"))
      .crossJoin(broadcast(nd)) // 1-row aggregate side
      .select(col("t1"), col("t2"), col("n12"), col("n1"), col("n2"),
        expr("n12 * n_docs * 1000000 DIV (n1 * n2)").as("lift_ppm"))
      .orderBy(col("n12").desc, col("t1"), col("t2"))
      .limit(50)
  }

  /** SOURCE VOCABULARY OVERLAP — pairwise token-set Jaccard (and
    * containment) between corpus sources: the mixture-composition
    * diagnostic behind "how much of source A's vocabulary duplicates
    * source B's?", complementing q_source_hhi's volume balance and
    * q_corpus_diff's snapshot diff. All-integer: per-source DISTINCT
    * vocabularies, intersections through a token-keyed self-join, union by
    * inclusion-exclusion, Jaccard/containment in exact ppm.
    *
    * Shape at 100 TB: distinct (source, token) is one keyed aggregation
    * over the token stream; the self-join is keyed on token with per-token
    * fan-out bounded by the SOURCE count (a handful by construction — this
    * is a per-source rollup, not a per-doc pair space); output is at most
    * sources² rows. Zero-overlap pairs are ABSENT (the inner-join
    * contract), not zero rows. */
  val sourceOverlap: Q = Q(
    "q_source_overlap",
    """WITH st AS (SELECT DISTINCT source, tok FROM (
      |        SELECT source, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |vs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM st GROUP BY source),
      |ix AS (SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS inter
      |       FROM st a JOIN st b ON b.tok = a.tok AND a.source < b.source
      |       GROUP BY a.source, b.source)
      |SELECT ix.s1, ix.s2, ix.inter, va.v AS v1, vb.v AS v2,
      |       ix.inter * 1000000 // (va.v + vb.v - ix.inter) AS jaccard_ppm,
      |       ix.inter * 1000000 // LEAST(va.v, vb.v) AS containment_ppm
      |FROM ix JOIN vs va ON va.source = ix.s1
      |        JOIN vs vb ON vb.source = ix.s2
      |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
    val st = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val vs = st.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val ix = st.select(col("source").as("s1"), col("tok"))
      .join(st.select(col("source").as("s2"), col("tok")), Seq("tok"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("inter"))
    ix.join(vs.select(col("source").as("s1"), col("v").as("v1")), "s1")
      .join(vs.select(col("source").as("s2"), col("v").as("v2")), "s2")
      .select(col("s1"), col("s2"), col("inter"), col("v1"), col("v2"),
        expr("inter * 1000000 DIV (v1 + v2 - inter)").as("jaccard_ppm"),
        expr("inter * 1000000 DIV LEAST(v1, v2)").as("containment_ppm"))
      .orderBy("s1", "s2")
  }

  /** HYBRID RETRIEVAL FUSION — reciprocal-rank fusion (Cormack et al. 2009)
    * of a LEXICAL ranking (q_keyword_search's integer tf-idf over the 4-term
    * query) and a DENSE ranking (cosine of every embedding against the
    * query vector, vec_id 0 — doc_id and vec_id align by construction in
    * the testdata): rrf = Σ 1/(60 + rank) over the lists a doc appears in.
    * This is the standard production hybrid-search shape — BM25 and an ANN
    * index each return a top-k, and RRF merges them without score
    * calibration (ranks only), which is exactly why it fuses integer and
    * float scorers without cross-engine float risk: the fused score is the
    * all-integer Σ 1e9 DIV (60 + rank) in parts-per-billion.
    *
    * Shape at 100 TB: the lexical list is the inverted-index posting path
    * (term-pruned scan → keyed tf aggregation → broadcast df) and the dense
    * list is one corpus scan against the broadcast 1-row query vector (the
    * production form swaps in the ANN cell join, q_ann_ivf); each ranking
    * is cut to its top-50 by TakeOrderedAndProject BEFORE ranks are
    * assigned, so the rank windows and the fusion join run over ≤ 50-row
    * frames — bounded at any corpus size. */
  val rrfFusion: Q = {
    val terms = Seq("spark", "query", "join", "window")
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    Q(
      "q_rrf_fusion",
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN $termList GROUP BY doc_id, tok),
        |idf AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |lex AS (
        |  SELECT t.doc_id, CAST(SUM(t.tf * (1048576 // d.df)) AS BIGINT) AS score
        |  FROM tf t JOIN idf d ON d.tok = t.tok GROUP BY t.doc_id
        |  ORDER BY score DESC, t.doc_id LIMIT 50),
        |lrk AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rk
        |  FROM lex),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE vec_id <> 0),
        |dense AS (
        |  SELECT e.vec_id AS doc_id,
        |    ${SubPlans.CosineSql} AS cos
        |  FROM e, q ORDER BY cos DESC, e.vec_id LIMIT 50),
        |drk AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS sem_rk
        |  FROM dense),
        |fused AS (
        |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rk, d.sem_rk,
        |         COALESCE(1000000000 // (60 + l.lex_rk), 0)
        |           + COALESCE(1000000000 // (60 + d.sem_rk), 0) AS rrf_ppb
        |  FROM lrk l FULL OUTER JOIN drk d ON d.doc_id = l.doc_id)
        |SELECT doc_id, CAST(rrf_ppb AS BIGINT) AS rrf_ppb,
        |       CAST(lex_rk AS BIGINT) AS lex_rk, CAST(sem_rk AS BIGINT) AS sem_rk
        |FROM fused ORDER BY rrf_ppb DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val rankW = (o: Seq[Column]) => Window.orderBy(o: _*)
        // lexical top-50: the q_keyword_search posting path, cut by
        // TakeOrdered before any rank window exists
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok").isin(terms: _*))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val lex = tf.join(broadcast(dfT), Seq("tok"))
          .groupBy("doc_id")
          .agg(sum(col("tf") * expr("1048576 DIV df")).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(50)
        val lrk = lex.withColumn("lex_rk",
          row_number().over(rankW(Seq(desc("score"), asc("doc_id")))))
          .select(col("doc_id"), col("lex_rk").cast("long").as("lex_rk"))
        // dense top-50: one corpus scan vs the broadcast 1-row query vector
        val emb = t(s, dir, "embeddings")
        val q = CosineTopK.withQueryNorm(emb.filter(col("vec_id") === 0)
          .select(Vectors.asDouble(col("embedding")).as("qv")))
        val dense = CosineTopK.withNorm(emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("doc_id"),
            Vectors.asDouble(col("embedding")).as("v")))
          .crossJoin(broadcast(q))
          .select(col("doc_id"),
            Vectors.cosineFromNorms(col("qv"), col("v"), col("qn"), col("vn"))
              .as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(50)
        val drk = dense.withColumn("sem_rk",
          row_number().over(rankW(Seq(desc("cos"), asc("doc_id")))))
          .select(col("doc_id"), col("sem_rk").cast("long").as("sem_rk"))
        // fusion: ranks only — the all-integer ppb sum, ≤ 100 rows total
        lrk.join(drk, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000000 DIV (60 + lex_rk)"), lit(0L)) +
              coalesce(expr("1000000000 DIV (60 + sem_rk)"), lit(0L)))
              .as("rrf_ppb"),
            col("lex_rk"), col("sem_rk"))
          .orderBy(col("rrf_ppb").desc, col("doc_id")).limit(20)
    }
  }

  /** FEATURE HASHING (the hashing trick, Weinberger et al. 2009) — the
    * fixed-width featurizer a linear model over unbounded vocabulary runs:
    * every token maps to one of 1024 buckets by content hash, with an
    * independent SIGN hash so colliding tokens cancel in expectation
    * instead of biasing the weight. Emitted as the COLLISION AUDIT a
    * platform keeps about the feature space: per live bucket, the
    * occurrence count, the distinct tokens sharing it (> 1 = collision),
    * and the net signed mass (how much of the bucket survives sign
    * cancellation). Both hashes are [[graft.functions.Text.md5Hash32]]
    * under distinct salts, so the bucket geometry is bit-identical in
    * both engines and any model trained against it is reproducible.
    *
    * Shape at 100 TB: one tokenize scan into a map-side-combined
    * aggregation on a FIXED 1024-key space — the output is constant-size
    * at any corpus scale, and the featurizer itself (bucket, sgn) is a
    * per-row projection with no state at all. */
  val featureHash: Q = Q(
    "q_feature_hash",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |h AS (
      |  SELECT tok,
      |         CAST(('0x' || substr(md5('fh:' || tok), 1, 8)) AS BIGINT) % 1024
      |           AS bucket,
      |         CASE WHEN CAST(('0x' || substr(md5('fs:' || tok), 1, 8)) AS BIGINT)
      |                   % 2 = 0
      |              THEN 1 ELSE -1 END AS sgn
      |  FROM tok)
      |SELECT bucket, COUNT(*) AS n_tokens,
      |       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
      |       CAST(SUM(sgn) AS BIGINT) AS net_signed
      |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(col("tok"),
        (Text.md5Hash32(concat(lit("fh:"), col("tok"))) % 1024).as("bucket"),
        when(Text.md5Hash32(concat(lit("fs:"), col("tok"))) % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).cast("long").as("n_distinct"),
        sum(col("sgn")).cast("long").as("net_signed"))
      .orderBy("bucket")
  }

  val all: Seq[Q] =
    Seq(decontaminate, semanticDecontaminate, mixSample, repetitionQuality,
      vocabTopk, tfidfKeywords, lengthQuantiles, quantileSketch, bpePairs,
      oovRate, keywordSearch, collocationLift, bm25Search, bpeTrain,
      bpeEncode, sourceOverlap, rrfFusion, featureHash)
}
