package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables.t
import graft.functions.Text

/** LLM-data-pipeline batch 4: corpus curation operators over the document
  * CONTENT itself — cross-document exact-substring dedup, per-source caps,
  * corpus-support language-model scoring, blocklist redaction, the composed
  * curation report, curriculum ordering, and corpus snapshot diffing.
  * North-star extensions (SURVEY §7.5); the reference has no corpus tooling.
  *
  * Scale posture shared by the batch: cross-document state is always a keyed
  * aggregation or keyed equi-join (duplicate-gram keys, per-source counts,
  * bigram count tables) — never all-pairs, never a corpus-wide sort, never a
  * window over an unbounded partition (the per-source rank is two-phase over
  * 32 hash buckets). Per-document work is bounded by document length and
  * runs over a PROJECTED token array (the CSE lesson on
  * [[graft.functions.Vectors]]: never re-derive an expensive expression
  * inside a HOF lambda).
  */
object CurationQueries {

  /** Cross-document EXACT-SUBSTRING dedup (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" operator, at token-8-gram
    * granularity): any 8-token span that also occurs in another document is
    * removed from BOTH, and the cleaned text is rebuilt from the surviving
    * tokens in order. Near-dup operators (MinHash/SimHash) drop whole
    * documents; this one edits them — the complementary tool for the long
    * boilerplate tails that survive document-level dedup.
    *
    * Shape at 100 TB: gram extraction is per-row bounded fan-out (one row
    * per 8-gram, 32-byte md5 keys, positions carried); the duplicate-gram
    * set is one keyed aggregation (count distinct docs >= 2); coverage is a
    * keyed equi-join back on the gram key with a fixed x8 position fan-out;
    * the rebuild is a per-document bounded collect. No pairwise compare, no
    * global sort — the final ORDER BY is presentation only. */
  val substringDedup: Q = Q(
    "q_substring_dedup",
    """WITH tk AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(range(1, len(tk)-6)) AS p,
      |         unnest(list_transform(range(1, len(tk)-6),
      |                i -> md5(array_to_string(tk[i:i+7],' ')))) AS k
      |  FROM tk),
      |dup AS (SELECT k FROM g GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2),
      |cov AS (SELECT DISTINCT g.doc_id, g.p + off.o AS cp
      |        FROM g JOIN dup USING (k)
      |        CROSS JOIN (SELECT unnest(range(0,8)) AS o) off),
      |tokpos AS (SELECT doc_id, unnest(tk) AS tok,
      |                  unnest(range(1, len(tk)+1)) AS p FROM tk),
      |kept AS (SELECT t.doc_id, t.tok, t.p FROM tokpos t
      |         LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
      |         WHERE c.cp IS NULL),
      |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
      |               string_agg(tok, ' ' ORDER BY p) AS cleaned
      |        FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |       CAST(len(t.tk) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
      |       COALESCE(a.cleaned, '') AS cleaned_text
      |FROM tk t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    graft.engine.Curation
      .substringDedup(
        graft.engine.Tables.spread(t(s, dir, "documents"), col("doc_id")),
        "doc_id", "text", n = 8, minDocs = 2)
  }

  /** Per-source document CAP (the "domain cap" of web curation — no single
    * domain may contribute more than N documents): keep the first
    * [[SourceCap]] docs per source under a deterministic content-hash order,
    * reporting each kept doc's rank and its source's total.
    *
    * Shape at 100 TB: exact top-N per key WITHOUT a per-source window over
    * an unbounded partition — phase 1 ranks within (source, md5-bucket) and
    * keeps N per bucket (each partition 1/32 of a source, and a hot source
    * splits 32 ways); phase 2 re-ranks the <= 32*N survivors per source — a
    * bounded partition at any corpus size. Same exact result as the naive
    * single window because the order (hash, doc_id) is total. */
  val sourceCap: Q = Q(
    "q_source_cap",
    """WITH n AS (SELECT source, COUNT(*) AS n_source_docs FROM documents GROUP BY source),
      |r AS (SELECT doc_id, source,
      |  ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |             doc_id) AS rnk
      |  FROM documents)
      |SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rnk,
      |       CAST(n.n_source_docs AS BIGINT) AS n_source_docs
      |FROM r JOIN n USING (source) WHERE r.rnk <= 20
      |ORDER BY r.source, r.rnk""".stripMargin) { (s, dir) =>
    val h = Text.md5Hash32(concat(lit("cap:"), col("doc_id").cast("string")))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), h.as("h"))
    // phase 1: local top-N inside (source, hash-bucket) — bounds every
    // window partition to ~1/32 of a source
    val local = base
      .withColumn("b", pmod(col("h"), lit(32)))
      .withColumn("r1", row_number().over(
        Window.partitionBy(col("source"), col("b"))
          .orderBy(col("h"), col("doc_id"))))
      .filter(col("r1") <= SourceCap)
      .drop("r1", "b")
    // phase 2: exact rank over the <= 32*N survivors per source
    val capped = local
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))).cast("long"))
      .filter(col("rnk") <= SourceCap)
    val totals = t(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_source_docs"))
    capped.join(broadcast(totals), Seq("source"))
      .select(col("doc_id"), col("source"), col("rnk"), col("n_source_docs"))
      .orderBy("source", "rnk")
  }

  val SourceCap = 20

  /** Corpus-support LANGUAGE-MODEL score: for every document, how well the
    * corpus's own bigram statistics predict it — sum over the doc's bigram
    * instances of the corpus bigram count, over the sum of the prefix-token
    * counts (the maximum-likelihood P(w2|w1) aggregated as a ratio of two
    * exact integer sums). High support = the doc is typical of the corpus;
    * low = novel or noisy. The integer-sum form is the determinism trick:
    * both sums are BIGINTs (aggregation-order-free), and the score is ONE
    * IEEE division — so it hash-matches across engines where a float sum of
    * per-bigram probabilities would not.
    *
    * Shape at 100 TB: bigram/prefix count tables are keyed aggregations
    * (vocabulary-bounded, far smaller than the corpus); scoring is two keyed
    * equi-joins and one group-by — the exact shape of q_tfidf_keywords. */
  val lmScore: Q = Q(
    "q_lm_score",
    """WITH tk AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |bi AS (SELECT doc_id,
      |              unnest(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1],' '))) AS bg,
      |              unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1
      |       FROM tk),
      |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
      |d AS (SELECT b.doc_id, COUNT(*) AS n_bigrams, SUM(c2.c2) AS sum_c2, SUM(c1.c1) AS sum_c1
      |      FROM bi b JOIN c2 USING (bg) JOIN c1 USING (w1) GROUP BY b.doc_id)
      |SELECT t.doc_id, CAST(COALESCE(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(COALESCE(d.sum_c2, 0) AS BIGINT) AS sum_c2,
      |       CAST(COALESCE(d.sum_c1, 0) AS BIGINT) AS sum_c1,
      |       CAST(d.sum_c2 AS DOUBLE) / d.sum_c1 AS support
      |FROM tk t LEFT JOIN d USING (doc_id) ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val tk = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val bi = tk.select(col("doc_id"), explode(
        when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => struct(
              concat_ws(" ", slice(col("tk"), i, lit(2))).as("bg"),
              element_at(col("tk"), i).as("w1"))))
          .otherwise(array().cast("array<struct<bg:string,w1:string>>"))).as("x"))
      .select(col("doc_id"), col("x.bg").as("bg"), col("x.w1").as("w1"))
      // three consumers (c2 aggregation, c1 aggregation, scoring join) —
      // checkpointed so the explode pipeline executes once, not thrice
      .localCheckpoint(eager = false)
    val c2 = bi.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val d = bi.join(c2, Seq("bg")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c2")).as("sum_c2"), sum(col("c1")).as("sum_c1"))
    tk.select(col("doc_id"))
      .join(d, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_c2"), lit(0L)).as("sum_c2"),
        coalesce(col("sum_c1"), lit(0L)).as("sum_c1"),
        (col("sum_c2").cast("double") / col("sum_c1")).as("support"))
  }

  /** The scrub blocklist — engine policy, bounded by construction (real
    * blocklists are thousands of terms: still broadcast-trivial). */
  val Blocklist = Seq("spark", "join", "query", "data")

  /** [[Blocklist]] as a DuckDB array literal, interpolated into the
    * q_blocklist_scrub / q_fuzzy_blocklist oracle SQL so editing the list
    * can never silently diverge the oracle from the engine. */
  private val BlocklistSql = Blocklist.mkString("['", "', '", "']")

  /** PII patterns — alternation-free character-class regexes, so Java
    * regex (Spark, leftmost-greedy) and RE2 (DuckDB, leftmost-longest)
    * produce identical matches and the scrub is oracle-checkable. Real
    * recipes add more patterns (IPs, SSNs, IBANs) to the same shape. */
  val PiiEmail = "[a-z0-9.]+@[a-z0-9]+\\.[a-z]{2,}"
  val PiiPhone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** The scrub projection (n_emails, n_phones, scrubbed_text, verdict)
    * for a text column — single-sourced between q_pii_scrub and the
    * streaming [[graft.streaming.Streams.piiScrub]] so the patterns and
    * redaction layout cannot drift from the oracle-checked batch form. */
  def piiColumns(text: Column): Seq[Column] = {
    val ne = regexp_count(text, lit(PiiEmail))
    val np = regexp_count(text, lit(PiiPhone))
    Seq(ne.cast("long").as("n_emails"), np.cast("long").as("n_phones"),
      regexp_replace(regexp_replace(text, PiiEmail, "[EMAIL]"),
        PiiPhone, "[PHONE]").as("scrubbed_text"),
      when(ne + np > 0, "redacted").otherwise("clean").as("verdict"))
  }

  /** PII scrub: PATTERN-based detection + in-place redaction of emails and
    * phone numbers — the C4/Dolma-style pre-release privacy pass that a
    * token blocklist (q_blocklist_scrub) cannot express, because PII is an
    * open vocabulary matched by shape, not membership. PII is PLANTED
    * deterministically (the synthetic corpus contains none — asserted in
    * CurationSpec): doc_id % 17 = 2 gains an email, doc_id % 23 = 5 a
    * phone number, some docs both. Counts come from regexp_count /
    * regexp_extract_all and redaction replaces every match ([EMAIL] /
    * [PHONE]). Shape at 100 TB: pure per-row regex — zero shuffles before
    * the presentation sort, embarrassingly parallel at any corpus size;
    * regex cost is linear in text bytes (RE2-compatible patterns keep the
    * option of a linear-time engine). */
  val piiScrub: Q = Q(
    "q_pii_scrub",
    """WITH planted AS (
      |  SELECT doc_id,
      |         text ||
      |           CASE WHEN doc_id % 17 = 2
      |                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |                ELSE '' END ||
      |           CASE WHEN doc_id % 23 = 5
      |                THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
      |                ELSE '' END AS text
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9]+\.[a-z]{2,}')) AS n_emails,
      |         len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
      |         regexp_replace(regexp_replace(text,
      |           '[a-z0-9.]+@[a-z0-9]+\.[a-z]{2,}', '[EMAIL]', 'g'),
      |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS scrubbed_text
      |  FROM planted)
      |SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
      |       CAST(n_phones AS BIGINT) AS n_phones, scrubbed_text,
      |       CASE WHEN n_emails + n_phones > 0 THEN 'redacted' ELSE 'clean' END AS verdict
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val planted = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 17 === 2,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(""),
        when(col("doc_id") % 23 === 5,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-0199"))).otherwise("")).as("text"))
    planted.select(col("doc_id") +: piiColumns(col("text")): _*)
      .orderBy("doc_id")
  }

  /** BLOCKLIST content scrub: redact blocklisted tokens in place, count
    * hits, and drop documents past a hit-fraction threshold — the
    * bad-word / unsafe-content filtering stage of every web-corpus recipe.
    * Everything is in-row column math over the projected token array (the
    * blocklist is a literal array — at real scale, a broadcast variable
    * feeding the same HOF): zero shuffles before the presentation sort, so
    * the operator is embarrassingly parallel at any corpus size. */
  val blocklistScrub: Q = Q(
    "q_blocklist_scrub",
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |m AS (SELECT doc_id, len(tk) AS n_tokens,
      |             len(list_filter(tk, x -> list_contains($BlocklistSql, x))) AS n_hits,
      |             array_to_string(list_transform(tk,
      |               x -> CASE WHEN list_contains($BlocklistSql, x)
      |                         THEN '[X]' ELSE x END), ' ') AS scrubbed_text
      |      FROM d)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n_hits AS BIGINT) AS n_hits,
      |       CAST(n_hits AS DOUBLE) / n_tokens AS hit_frac,
      |       scrubbed_text,
      |       CASE WHEN CAST(n_hits AS DOUBLE) / n_tokens > 0.2
      |            THEN 'drop' ELSE 'keep' END AS verdict
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val listed: Column => Column = x => x.isin(Blocklist.map(lit): _*)
    val m = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(filter(col("tk"), listed)).cast("long").as("n_hits"),
        array_join(transform(col("tk"),
          x => when(listed(x), "[X]").otherwise(x)), " ").as("scrubbed_text"))
    val frac = col("n_hits").cast("double") / col("n_tokens")
    m.select(col("doc_id"), col("n_tokens"), col("n_hits"),
        frac.as("hit_frac"), col("scrubbed_text"),
        when(frac > 0.2, "drop").otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  /** FUZZY BLOCKLIST MATCH — tokens within edit distance 1 of a blocklist
    * term (but not equal: exact hits are q_blocklist_scrub's job): the
    * typo-and-evasion catcher ("sp4rk", "dat") every content filter needs
    * beside its exact list. Per flagged doc: occurrence count and the
    * sorted distinct offending tokens.
    *
    * Shape at 100 TB: the edit-distance work runs on the DISTINCT
    * VOCABULARY x blocklist (a broadcast nested-loop whose fan-out is
    * bounded by the blocklist size — never corpus rows x list), and the
    * resulting hit-token table (tiny) broadcast-joins back onto the token
    * stream: the corpus itself is touched by equi-join only. This is the
    * canonical fuzzy-join decomposition — block/dedupe first, verify on
    * the bounded set, equi-join the verdicts back.
    *
    * Determinism: the engine's codegen'd Levenshtein matches DuckDB's
    * `levenshtein` exactly (the q_neardup_verify precedent); counts are
    * integers and the token list is sorted before joining. The synthetic
    * corpus contains no natural typos, so every 25th doc gets a PLANTED
    * twin (+3_000_000, the q_minhash_neardup convention — the offset is
    * under the probe's replica stride) carrying three near-miss tokens;
    * matches exist at every scale and the oracle checks them. */
  val fuzzyBlocklist: Q = Q(
    "q_fuzzy_blocklist",
    s"""WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, text || ' sparkk dat queri' AS text
      |  FROM documents WHERE doc_id % 25 = 0),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM planted),
      |vocab AS (SELECT DISTINCT tok FROM tok),
      |bl AS (SELECT unnest($BlocklistSql) AS term),
      |hits AS (
      |  SELECT v.tok FROM vocab v JOIN bl b
      |    ON levenshtein(v.tok, b.term) <= 1 AND v.tok <> b.term
      |  GROUP BY v.tok),
      |d AS (
      |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_fuzzy_hits,
      |         array_to_string(list_sort(list(DISTINCT t.tok)), ',') AS hit_tokens
      |  FROM tok t JOIN hits h ON h.tok = t.tok GROUP BY t.doc_id),
      |n AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |      FROM planted)
      |SELECT n.doc_id, n.n_tokens, d.n_fuzzy_hits, d.hit_tokens
      |FROM n JOIN d ON d.doc_id = n.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val docs = base.unionAll(base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" sparkk dat queri")).as("text")))
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val bl = Blocklist.toDF("term")
    val hits = tok.select("tok").distinct()
      .crossJoin(broadcast(bl)) // vocab x bounded blocklist, then verify
      .filter(call_function("graft_levenshtein", col("tok"), col("term")) <= 1 &&
        col("tok") =!= col("term"))
      .select("tok").distinct()
    val perDoc = tok.join(broadcast(hits), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fuzzy_hits"),
        array_join(sort_array(collect_set(col("tok"))), ",").as("hit_tokens"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_fuzzy_hits"), col("hit_tokens"))
      .orderBy("doc_id")
  }

  /** END-TO-END CURATION REPORT: the composed filter pipeline a corpus
    * actually runs — every gate evaluated per document in priority order
    * (benchmark contamination > length > repetition > blocklist), one
    * verdict with the deciding reason. Composes the signals of
    * q_decontaminate / q_repetition_quality / q_blocklist_scrub into the
    * single table a curation run reads, over the non-benchmark corpus
    * (`doc_id % 97 <> 0`; the held-out slice defines the contamination
    * keys, as in q_decontaminate).
    *
    * Shape at 100 TB: one fused pass — per-doc metrics and the n-gram keys
    * ride through a single explode_outer + broadcast left join + one
    * aggregation (the q_decontaminate fuse; a second consumer of the
    * n-gram pipeline would re-execute it). The benchmark key set is
    * bounded and broadcast; nothing else crosses the network before the
    * presentation sort. */
  val curationReport: Q = Q(
    "q_curation_report",
    """WITH corpus AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents WHERE doc_id % 97 <> 0),
      |bk AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |           range(1, len(string_split(text, ' ')) - 6),
      |           i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))))) AS k
      |  FROM documents WHERE doc_id % 97 = 0),
      |met AS (
      |  SELECT doc_id, len(tk) AS n_tokens,
      |         CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_frac,
      |         CAST(len(list_filter(tk, x -> list_contains(['spark','join','query','data'], x))) AS DOUBLE)
      |           / len(tk) AS hit_frac,
      |         CASE WHEN len(tk) >= 8
      |              THEN list_distinct(list_transform(range(1, len(tk)-6),
      |                     i -> md5(array_to_string(tk[i:i+7], ' '))))
      |              ELSE CAST([] AS VARCHAR[]) END AS ngs
      |  FROM corpus),
      |cont AS (
      |  SELECT e.doc_id, COUNT(b.k) AS n_matched
      |  FROM (SELECT doc_id, unnest(ngs) AS k FROM met) e
      |  LEFT JOIN bk b USING (k) GROUP BY e.doc_id),
      |r AS (
      |  SELECT m.doc_id, m.n_tokens, m.distinct_frac, m.hit_frac,
      |         COALESCE(CAST(c.n_matched AS DOUBLE) / NULLIF(len(m.ngs), 0), 0.0) AS contamination
      |  FROM met m LEFT JOIN cont c USING (doc_id))
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, distinct_frac, hit_frac, contamination,
      |       CASE WHEN contamination >= 0.05 THEN 'contaminated'
      |            WHEN n_tokens < 20 THEN 'too_short'
      |            WHEN n_tokens > 2000 THEN 'too_long'
      |            WHEN distinct_frac < 0.30 THEN 'repetitive'
      |            WHEN hit_frac > 0.2 THEN 'blocklisted'
      |            ELSE 'keep' END AS verdict
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bk = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(Text.ngramMd5Keys(split(col("text"), " "), 8)).as("k"))
      .distinct()
      .withColumn("hit", lit(1L))
    // single fused pass (the q_decontaminate lesson): metrics and the
    // n-gram keys ride the same explode_outer so one aggregation yields
    // everything — no second consumer of the md5 pipeline, no checkpoint.
    // Spread before the per-position 7-gram md5 kernel: the documents
    // scan is 1-2 partitions and the kernel otherwise runs on that many
    // cores (measured as the 1.2-1.5s single-task stages of every
    // consumer of this gate: curation_report, pipeline_e2e,
    // shard_manifest)
    val met = graft.engine.Tables.spread(
        docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        Text.distinctTokenFrac(col("tk")).as("distinct_frac"),
        Text.blocklistHitFrac(col("tk"), Blocklist).as("hit_frac"),
        Text.ngramMd5Keys(col("tk"), 8).as("ngs"))
    val agg = met
      .select(col("doc_id"), col("n_tokens"), col("distinct_frac"),
        col("hit_frac"), size(col("ngs")).as("n_ngrams"),
        explode_outer(col("ngs")).as("k"))
      .join(broadcast(bk), Seq("k"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("distinct_frac")).as("distinct_frac"),
        max(col("hit_frac")).as("hit_frac"),
        max(col("n_ngrams")).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
    val contamination = when(col("n_ngrams") > 0,
      col("n_matched").cast("double") / col("n_ngrams")).otherwise(0.0)
    agg
      .select(col("doc_id"), col("n_tokens"), col("distinct_frac"),
        col("hit_frac"), contamination.as("contamination"))
      .withColumn("verdict",
        when(col("contamination") >= 0.05, "contaminated")
          .otherwise(Text.curationGate(col("n_tokens"),
            col("distinct_frac"), col("hit_frac"))))
  }

  /** CURRICULUM ORDERING: the deterministic global training order that
    * presents easy documents first — difficulty bands (token-count
    * buckets) ascend, and within a band documents are hash-shuffled (the
    * curriculum-learning data layout: banded difficulty, shuffled inside
    * each band). Composes the engine's distributed numbering
    * ([[graft.engine.TimeSeries.globalRowNumber]], the q_shuffle_order
    * machinery): the stitch bucket is (band, md5-sub-bucket), so the
    * global order is (band, sub, hash) — band-major and shuffled within —
    * while every window partition stays ~1/64 of a band and offsets ride a
    * bounded broadcast table. No global sort, no unbounded partition. */
  val curriculumOrder: Q = Q(
    "q_curriculum_order",
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(floor(len(string_split(text, ' ')) / 25.0) AS BIGINT) AS band,
      |         CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM documents)
      |SELECT doc_id, band,
      |       CAST(ROW_NUMBER() OVER (ORDER BY band, h % 64, h, doc_id) AS BIGINT) AS ord
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val h = Text.md5Hash32(concat(lit("cur:"), col("doc_id").cast("string")))
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        floor(Text.tokenCount(col("text")) / lit(25.0)).cast("long").as("band"),
        h.as("h"))
      .withColumn("sub", pmod(col("h"), lit(64L)))
    graft.engine.TimeSeries
      .globalRowNumber(d, col("band") * 64 + col("sub"),
        Seq(col("h"), col("doc_id")), "ord")
      .select(col("doc_id"), col("band"), col("ord"))
      .orderBy("doc_id")
  }

  /** CORPUS SNAPSHOT DIFF: the incremental-ingestion primitive — given
    * yesterday's corpus and today's, classify every document as added,
    * removed, changed, or same by comparing content fingerprints across a
    * full-outer join on the id. At 100 TB this is how a corpus updates
    * without reprocessing: only `added`/`changed` flow into the cleaning
    * pipeline. Both snapshots are derived deterministically from the
    * table so the oracle can replay them: the old snapshot drops
    * `doc_id % 11 = 3` (later "added") and the new one rewrites text for
    * `doc_id % 13 = 2` ("changed") and drops `doc_id % 17 = 5`
    * ("removed").
    *
    * Shape: two filtered scans, per-row md5 fingerprints, ONE keyed
    * full-outer join, no aggregation at all before the presentation sort. */
  val corpusDiff: Q = Q(
    "q_corpus_diff",
    """WITH old AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 11 <> 3),
      |new AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 13 = 2 THEN text || ' rev2' ELSE text END) AS fp
      |  FROM documents WHERE doc_id % 17 <> 5)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN o.doc_id IS NULL THEN 'added'
      |            WHEN n.doc_id IS NULL THEN 'removed'
      |            WHEN o.fp <> n.fp THEN 'changed'
      |            ELSE 'same' END AS verdict
      |FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id").as("o_id"), md5(col("text").cast("binary")).as("o_fp"))
    val neu = docs.filter(col("doc_id") % 17 =!= 5)
      .select(col("doc_id").as("n_id"),
        md5(when(col("doc_id") % 13 === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).cast("binary")).as("n_fp"))
    old.join(neu, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("o_id"), col("n_id")).as("doc_id"),
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "removed")
          .when(col("o_fp") =!= col("n_fp"), "changed")
          .otherwise("same").as("verdict"))
      .orderBy("doc_id")
  }

  /** TOKEN-BUDGET MIXTURE: admit documents per language, in content-hash
    * order, until the language's token budget is filled — the "sample B
    * tokens of each domain" step of a pretraining data recipe (the
    * token-weighted complement of q_mix_sample's rate-based form). The
    * budget is STRIPED across 64 hash sub-buckets (B/64 tokens each, the
    * q_pack_shards bucketing idea): each stripe admits docs while its
    * running token count is under its share, so no window partition ever
    * exceeds ~1/64 of a language — the distributed form of "take until B
    * tokens", deterministic and engine-mirrorable (same kept SET across
    * runs, partitionings, and engines). */
  val budgetMixture: Q = {
    // per-stripe budgets precomputed (integer division), embedded as
    // literals in BOTH engines' plans
    val budgets = Map("en" -> 5000L, "zh" -> 2000L).withDefaultValue(3000L)
    val (bEn, bZh, bOther) =
      (budgets("en") / 64, budgets("zh") / 64, budgets("other") / 64)
    Q(
      "q_budget_mixture",
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |         CAST(('0x' || substr(md5('bud:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |b AS (
        |  SELECT *, h % 64 AS stripe,
        |         CASE lang WHEN 'en' THEN $bEn WHEN 'zh' THEN $bZh ELSE $bOther END AS stripe_budget
        |  FROM d),
        |c AS (
        |  SELECT *, COALESCE(SUM(toks) OVER (PARTITION BY lang, stripe
        |              ORDER BY h, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_start
        |  FROM b)
        |SELECT doc_id, lang, toks, CAST(cum_start AS BIGINT) AS cum_start
        |FROM c WHERE cum_start < stripe_budget ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val h = Text.md5Hash32(concat(lit("bud:"), col("doc_id").cast("string")))
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          Text.tokenCount(col("text")).cast("long").as("toks"), h.as("h"))
        .withColumn("stripe", pmod(col("h"), lit(64L)))
        .withColumn("stripe_budget",
          when(col("lang") === "en", bEn)
            .when(col("lang") === "zh", bZh).otherwise(bOther))
      val w = Window.partitionBy(col("lang"), col("stripe"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("cum_start", coalesce(sum(col("toks")).over(w), lit(0L)))
        .filter(col("cum_start") < col("stripe_budget"))
        .select(col("doc_id"), col("lang"), col("toks"), col("cum_start"))
        .orderBy("doc_id")
    }
  }

  /** THE END-TO-END PIPELINE, one Catalyst plan: curation gates
    * (q_curation_report's composed verdict) → first-writer-wins exact
    * dedup → deterministic train split → sequence packing into
    * token-budget shards. This is the capstone composition — the full
    * corpus-to-dataloader recipe as a single declared query, every stage
    * reusing the already-verified operator logic (the Spark side literally
    * calls curationReport.build and the shared Text pack/split recipes),
    * so the composed plan inherits each stage's scale shape: broadcast
    * contamination keys, keyed dedup aggregation, per-row split math,
    * per-bucket pack windows. Nothing new shuffles; Catalyst fuses the
    * stages into one job graph. */
  val pipelineE2e: Q = Q(
    "q_pipeline_e2e",
    """WITH corpus AS (SELECT doc_id, string_split(text,' ') AS tk, text FROM documents WHERE doc_id % 97 <> 0),
      |bk AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |           range(1, len(string_split(text, ' ')) - 6),
      |           i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))))) AS k
      |  FROM documents WHERE doc_id % 97 = 0),
      |met AS (
      |  SELECT doc_id, text, len(tk) AS n_tokens,
      |         CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_frac,
      |         CAST(len(list_filter(tk, x -> list_contains(['spark','join','query','data'], x))) AS DOUBLE)
      |           / len(tk) AS hit_frac,
      |         CASE WHEN len(tk) >= 8
      |              THEN list_distinct(list_transform(range(1, len(tk)-6),
      |                     i -> md5(array_to_string(tk[i:i+7], ' '))))
      |              ELSE CAST([] AS VARCHAR[]) END AS ngs
      |  FROM corpus),
      |cont AS (
      |  SELECT e.doc_id, COUNT(b.k) AS n_matched
      |  FROM (SELECT doc_id, unnest(ngs) AS k FROM met) e
      |  LEFT JOIN bk b USING (k) GROUP BY e.doc_id),
      |gated AS (
      |  SELECT m.doc_id, m.text
      |  FROM met m LEFT JOIN cont c USING (doc_id)
      |  WHERE COALESCE(CAST(c.n_matched AS DOUBLE) / NULLIF(len(m.ngs), 0), 0.0) < 0.05
      |    AND m.n_tokens >= 20 AND m.n_tokens <= 2000
      |    AND m.distinct_frac >= 0.30 AND m.hit_frac <= 0.2),
      |fp AS (SELECT doc_id, text, md5(lower(text)) AS fp FROM gated),
      |canon AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY fp),
      |ded AS (SELECT f.doc_id, f.text FROM fp f
      |        JOIN canon c ON f.fp = c.fp AND f.doc_id = c.keep_id),
      |train AS (
      |  SELECT doc_id, text FROM ded
      |  WHERE CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90),
      |d AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS bucket,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM train),
      |c2 AS (
      |  SELECT doc_id, bucket, toks,
      |         CAST(SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS cum_tokens
      |  FROM d)
      |SELECT doc_id, bucket,
      |       CAST(bucket * 1000000000000 + (cum_tokens - toks) // 2048 AS BIGINT) AS shard,
      |       toks, cum_tokens
      |FROM c2 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // stage 1: the verified composed gate, reused verbatim
    val keep = curationReport.build(s, dir)
      .filter(col("verdict") === "keep")
      .select(col("doc_id"))
    val gated = t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(keep, Seq("doc_id"))
    // stage 2: first-writer-wins exact dedup on the content fingerprint
    val fp = gated.select(col("doc_id"), col("text"),
      Text.fingerprint(col("text")).as("fp"))
    val canon = fp.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
    val ded = fp.join(canon, Seq("fp"))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("text"))
    // stage 3: deterministic train slice (the q_train_split rule)
    val train = ded.filter(
      Text.md5Hash32(concat(lit("split:"), col("doc_id").cast("string"))) % 100 < 90)
    // stage 4: pack into token-budget shards (the q_pack_shards recipe)
    SubPlans.packShards(train)
  }

  /** SHARD MANIFEST: the dataloader's index — one row per packed shard
    * with its document count, token total, and id range, aggregated over
    * the end-to-end pipeline's output. A training job opens this table to
    * plan epoch iteration without touching the data; at 100 TB it is one
    * map-side-combined aggregation over the shard assignment (shard count
    * ~ tokens/budget, always a tiny fraction of the corpus). */
  val shardManifest: Q = Q(
    "q_shard_manifest",
    """WITH corpus AS (SELECT doc_id, string_split(text,' ') AS tk, text FROM documents WHERE doc_id % 97 <> 0),
      |bk AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |           range(1, len(string_split(text, ' ')) - 6),
      |           i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))))) AS k
      |  FROM documents WHERE doc_id % 97 = 0),
      |met AS (
      |  SELECT doc_id, text, len(tk) AS n_tokens,
      |         CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_frac,
      |         CAST(len(list_filter(tk, x -> list_contains(['spark','join','query','data'], x))) AS DOUBLE)
      |           / len(tk) AS hit_frac,
      |         CASE WHEN len(tk) >= 8
      |              THEN list_distinct(list_transform(range(1, len(tk)-6),
      |                     i -> md5(array_to_string(tk[i:i+7], ' '))))
      |              ELSE CAST([] AS VARCHAR[]) END AS ngs
      |  FROM corpus),
      |cont AS (
      |  SELECT e.doc_id, COUNT(b.k) AS n_matched
      |  FROM (SELECT doc_id, unnest(ngs) AS k FROM met) e
      |  LEFT JOIN bk b USING (k) GROUP BY e.doc_id),
      |gated AS (
      |  SELECT m.doc_id, m.text
      |  FROM met m LEFT JOIN cont c USING (doc_id)
      |  WHERE COALESCE(CAST(c.n_matched AS DOUBLE) / NULLIF(len(m.ngs), 0), 0.0) < 0.05
      |    AND m.n_tokens >= 20 AND m.n_tokens <= 2000
      |    AND m.distinct_frac >= 0.30 AND m.hit_frac <= 0.2),
      |fp AS (SELECT doc_id, text, md5(lower(text)) AS fp FROM gated),
      |canon AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY fp),
      |ded AS (SELECT f.doc_id, f.text FROM fp f
      |        JOIN canon c ON f.fp = c.fp AND f.doc_id = c.keep_id),
      |train AS (
      |  SELECT doc_id, text FROM ded
      |  WHERE CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90),
      |d AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS bucket,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM train),
      |c2 AS (
      |  SELECT doc_id, bucket, toks,
      |         CAST(SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS cum_tokens
      |  FROM d),
      |shards AS (
      |  SELECT doc_id, toks,
      |         CAST(bucket * 1000000000000 + (cum_tokens - toks) // 2048 AS BIGINT) AS shard
      |  FROM c2)
      |SELECT shard, COUNT(*) AS n_docs,
      |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM shards GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir) =>
    pipelineE2e.build(s, dir)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** Deterministic STRATIFIED sample — exactly k docs per language,
    * selected by content-hash order (md5("samp:" || doc_id), ties by id):
    * the reproducible per-stratum eval/audit sample every corpus release
    * ships with, stable across runs, engines, and partition layouts.
    *
    * Shape at 100 TB — the two-phase exact top-k: a naive per-stratum
    * rank window sorts ENTIRE strata (a billion-row language partition
    * sorts a billion rows to keep 20). Because the sample key is a
    * uniform hash, the k smallest keys are almost surely below a
    * 4x-oversampled hash cutoff (4k/n of the 2^32 key space), and the
    * hash-filter keeps a PREFIX of the per-stratum sort order — so
    * ranking only the filtered survivors is EXACT whenever a stratum
    * retains >= min(k, n) of them. Strata that miss the bound (vanishing
    * probability; empty on this corpus, but the plan must stay correct,
    * not probably-correct) fall back to ranking their full rows via an
    * anti-join union. Stratum counts and the ok-stratum list are
    * stratum-cardinality tables — broadcast both. */
  val stratifiedSample: Q = Q(
    "q_stratified_sample",
    """WITH d AS (
      |  SELECT doc_id, lang,
      |         CAST(('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      |      FROM d)
      |SELECT lang, doc_id, h, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
    stratifiedTopK(t(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("h",
        Text.md5Hash32(concat(lit("samp:"), col("doc_id").cast("string")))),
      k = 20)
      .orderBy("lang", "rk")
  }

  /** The two-phase exact per-stratum top-k over (`lang`, `doc_id`, `h`)
    * rows — see [[stratifiedSample]] for the exactness argument (the hash
    * filter keeps a PREFIX of each stratum's (h, doc_id) order, so ranking
    * survivors is exact whenever >= min(k, n) survive; misses fall back to
    * full-stratum rank). Factored so the spec can feed CRAFTED hash values
    * that force the fallback branch, which uniform md5 hashes never do. */
  private[graft] def stratifiedTopK(docs: DataFrame, k: Int): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val surv = docs.join(broadcast(counts), "lang")
      .filter(col("h") < least(lit(1L << 32), lit(4L * k << 32) / col("n")))
      .select("lang", "doc_id", "h")
    val okLangs = surv.groupBy("lang").agg(count(lit(1)).as("sn"))
      .join(broadcast(counts), "lang")
      .filter(col("sn") >= least(lit(k.toLong), col("n")))
      .select("lang")
    val pool = surv.join(broadcast(okLangs), Seq("lang"), "left_semi")
      .unionByName(docs.join(broadcast(okLangs), Seq("lang"), "left_anti"))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    pool.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("doc_id"), col("h"), col("rk"))
  }

  /** DuckDB `tk` → `f`: per-document token count and the type/token,
    * mean-token-length and stopword ppm features of the quality scorer.
    * Twin of [[qualityFeatures]]. */
  private val qualityFeatureCtes =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |f AS (
      |  SELECT doc_id,
      |         CAST(len(tk) AS BIGINT) AS n_tokens,
      |         CAST(len(list_distinct(tk)) * 1000000 // len(tk) AS BIGINT) AS distinct_ppm,
      |         CAST(list_sum(list_transform(tk, t -> len(t))) * 1000000 // len(tk) AS BIGINT) AS wlen_ppm,
      |         CAST(len(list_filter(tk, t -> t IN ('a', 'the'))) * 1000000 // len(tk) AS BIGINT) AS stop_ppm
      |  FROM tk)""".stripMargin

  /** (doc_id, n_tokens, distinct_ppm, wlen_ppm, stop_ppm) per document:
    * the quality scorer's integer features. Twin of
    * [[qualityFeatureCtes]]. */
  private def qualityFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        expr("CAST(size(array_distinct(tk)) AS BIGINT) * 1000000 DIV size(tk)")
          .as("distinct_ppm"),
        expr("aggregate(tk, 0L, (a, x) -> a + length(x)) * 1000000 DIV size(tk)")
          .as("wlen_ppm"),
        expr("CAST(size(filter(tk, x -> x IN ('a', 'the'))) AS BIGINT) * 1000000 DIV size(tk)")
          .as("stop_ppm"))

  /** LEARNED QUALITY-CLASSIFIER INFERENCE — the model-based filter stage
    * every production corpus pipeline runs between the Gopher-style rules
    * (q_repetition_quality) and dedup: a linear scorer (the fastText /
    * logistic-regression shape) applied as an in-row dot product of a
    * fixed WEIGHT VECTOR with per-document features. Here the weights are
    * a literal array (at real scale: a broadcast variable holding the
    * trained coefficients — same plan, the weights never shuffle); the
    * features are the in-row integer signals the engine already computes
    * elsewhere: type/token ratio, capped length, mean token length, and
    * stopword density, all in exact ppm fixed point.
    *
    * Determinism: features are integer ppm (`x * 1000000 DIV y`), weights
    * are integer, and the dot product is an in-row integer fold — no float
    * anywhere, so the score and verdict are bit-identical across engines.
    * Score magnitude is bounded by ~1e9 « BIGINT. Threshold 340e6 was
    * calibrated to split the corpus near the median (a trained model's
    * operating point would land the same way).
    *
    * Shape at 100 TB: zero shuffles before the presentation sort — every
    * feature and the score are computed per row over the projected token
    * array; inference is embarrassingly parallel at any corpus size. */
  val qualityScore: Q = {
    // [type/token ppm, capped length, mean-token-length ppm, stopword ppm]
    val weights = Seq(600L, 500000L, 20L, -900L)
    val wArr = weights.mkString("array(", "L, ", "L)")
    Q(
      "q_quality_score",
      s"""WITH $qualityFeatureCtes,
        |s AS (
        |  SELECT doc_id, n_tokens, distinct_ppm, wlen_ppm, stop_ppm,
        |         CAST(${weights(0)} * distinct_ppm + ${weights(1)} * LEAST(n_tokens, 80)
        |              + ${weights(2)} * wlen_ppm + (${weights(3)}) * stop_ppm AS BIGINT) AS score
        |  FROM f)
        |SELECT doc_id, n_tokens, distinct_ppm, wlen_ppm, stop_ppm, score,
        |       CASE WHEN score >= 340000000 THEN 'keep' ELSE 'drop' END AS verdict
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val f = qualityFeatures(s, dir)
      // the model: features zipped with the (broadcast-literal) weight
      // vector, folded in-row — integer dot product, no UDF, no shuffle
      val scored = f.withColumn("score",
        expr(s"""aggregate(
          zip_with(
            array(distinct_ppm, least(n_tokens, 80L), wlen_ppm, stop_ppm),
            $wArr,
            (fv, wv) -> fv * wv),
          0L, (acc, x) -> acc + x)"""))
      scored.select(col("doc_id"), col("n_tokens"), col("distinct_ppm"),
          col("wlen_ppm"), col("stop_ppm"), col("score"),
          when(col("score") >= 340000000L, "keep").otherwise("drop").as("verdict"))
        .orderBy("doc_id")
    }
  }

  /** N-GRAM NOVELTY — per-document fraction of its distinct token 8-grams
    * appearing for the FIRST time at that document (first occurrence =
    * minimum doc id over the corpus, crawl order): the new-information
    * rate a recurring-crawl pipeline tracks per snapshot — a novelty
    * collapse means the crawl is re-fetching what the corpus already
    * holds, the complement of q_corpus_diff's id-level diff and
    * q_incremental_dedup's whole-doc verdicts at SPAN granularity.
    * Redundancy is planted so the operator has signal: every 10th doc
    * re-enters verbatim under a shifted id (novelty exactly 0 — all its
    * grams first occurred at the original), and every 31st gets the
    * corpus's first text spliced on (novelty = only the ≤7 grams crossing
    * the splice boundary).
    *
    * Shape at 100 TB: one explode into the distinct-per-doc 8-gram stream
    * (md5 keys, the q_decontaminate recipe), then TWO keyed aggregations —
    * first-occurrence is min(doc_id) per gram (map-side combinable, so a
    * boilerplate gram appearing in millions of docs still ships one slim
    * row per map task — no hot-key blowup), and the per-doc rollup after
    * the gram-keyed equi-join takes map-side partials too. No windows, no
    * pairwise compares. */
  val ngramNovelty: Q = Q(
    "q_ngram_novelty",
    """WITH corpus AS (SELECT doc_id, text FROM documents),
      |b0 AS (SELECT text AS btext FROM documents ORDER BY doc_id LIMIT 1),
      |planted AS (
      |  SELECT doc_id, text FROM corpus
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM corpus
      |            WHERE doc_id % 10 = 0
      |  UNION ALL SELECT c.doc_id + 3000000 AS doc_id,
      |                   c.text || ' ' || b0.btext AS text
      |            FROM corpus c CROSS JOIN b0 WHERE c.doc_id % 31 = 5),
      |tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM planted),
      |ng AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(tk) - 6),
      |           i -> md5(array_to_string(tk[i:i+7], ' ')))) AS ngs
      |  FROM tk),
      |ex AS (SELECT doc_id, unnest(ngs) AS k FROM ng),
      |f AS (SELECT k, MIN(doc_id) AS first_doc FROM ex GROUP BY k),
      |d AS (
      |  SELECT e.doc_id, COUNT(*) AS n_ngrams,
      |         SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS n_novel
      |  FROM ex e JOIN f USING (k) GROUP BY e.doc_id)
      |SELECT t.doc_id,
      |       CAST(COALESCE(d.n_ngrams, 0) AS BIGINT) AS n_ngrams,
      |       CAST(COALESCE(d.n_novel, 0) AS BIGINT) AS n_novel,
      |       CAST(COALESCE(d.n_novel, 0) AS DOUBLE) / COALESCE(d.n_ngrams, 1)
      |         AS novelty
      |FROM tk t LEFT JOIN d USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val b0 = docs.orderBy("doc_id").limit(1).select(col("text").as("btext"))
    val planted = docs
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 31 === 5)
        .crossJoin(broadcast(b0)) // 1-row splice source
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" "), col("btext")).as("text")))
    // spread before the md5-8-gram kernel (1-2 scan partitions otherwise)
    val tk = graft.engine.Tables.spread(planted, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val ex = tk
      .select(col("doc_id"), explode(Text.ngramMd5Keys(col("tk"), 8)).as("k"))
      // feeds the first-occurrence aggregation AND the join-back — one
      // tokenize+hash pass, not two
      .localCheckpoint(eager = false)
    val f = ex.groupBy("k").agg(min(col("doc_id")).as("first_doc"))
    val d = ex.join(f, Seq("k"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    tk.select("doc_id").join(d, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          coalesce(col("n_ngrams"), lit(1L))).as("novelty"))
  }

  /** CLASSIFIER CALIBRATION AUDIT — the reliability diagram + expected
    * calibration error (ECE) for the q_quality_score linear classifier:
    * docs bucket into 10 equal-width bins of predicted probability, and
    * each bin compares its mean prediction against the observed rate of
    * the target property (here: the doc actually being long, ≥ 40
    * tokens — the signal the scorer's capped-length feature is meant to
    * carry). The audit every model-based curation stage needs before its
    * threshold is trusted: a gate calibrated at "0.7 ⇒ 70% keep-worthy"
    * that actually delivers 30% silently reshapes the corpus.
    *
    * Exactness: per-doc pred_ppm = clamp(score)·10⁶ DIV 7·10⁸ (the score
    * ladder's ceiling), bin = pred_ppm·10 DIV 10⁶ capped at 9; per-bin
    * means are positive-integer DIVs; gap is an integer |a−b|;
    * ECE_ppm = Σ n_b·gap_b DIV N exactly (weighted by bin mass). All
    * divisions have positive operands — no floor/truncate divergence.
    *
    * Shape at 100 TB: one document scan computes features, score, pred
    * and bin in-row (zero shuffles), then ONE ≤10-group aggregation; the
    * global ECE is a 1-row broadcast joined back. */
  /** Shared DuckDB CTE chain for the calibration family: quality-score
    * prediction, ppm squash, 10-bin reliability groups with exact
    * positive counts — single-sourced between q_score_calibration and
    * q_isotonic_calibration so the curve calibrated IS the curve
    * reported. */
  private[queries] val calibCtes =
    s"""$qualityFeatureCtes,
      |s AS (
      |  SELECT doc_id, n_tokens,
      |         600 * distinct_ppm + 500000 * LEAST(n_tokens, 80)
      |           + 20 * wlen_ppm + (-900) * stop_ppm AS score
      |  FROM f),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |         LEAST(GREATEST(score, 0), 699999999) * 1000000 // 700000000
      |           AS pred_ppm
      |  FROM s),
      |b AS (
      |  SELECT LEAST(pred_ppm * 10 // 1000000, 9) AS bin,
      |         pred_ppm, CASE WHEN n_tokens >= 40 THEN 1 ELSE 0 END AS pos
      |  FROM p),
      |g AS (
      |  SELECT bin, COUNT(*) AS n, SUM(pos) AS pos_n,
      |         SUM(pred_ppm) // COUNT(*) AS mean_pred_ppm,
      |         SUM(pos) * 1000000 // COUNT(*) AS obs_rate_ppm
      |  FROM b GROUP BY bin)""".stripMargin

  /** Spark twin of [[calibCtes]]: the 10-row reliability-bin frame
    * (bin, n, pos_n, mean_pred_ppm, obs_rate_ppm). */
  private[queries] def calibBinned(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val b = qualityFeatures(s, dir)
      .select(col("n_tokens"),
        expr("""600 * distinct_ppm + 500000 * LEAST(n_tokens, 80L)
               |  + 20 * wlen_ppm + (-900) * stop_ppm""".stripMargin).as("score"))
      .select(
        expr("LEAST(GREATEST(score, 0L), 699999999L) * 1000000 DIV 700000000")
          .as("pred_ppm"),
        when(col("n_tokens") >= 40, 1L).otherwise(0L).as("pos"))
      .withColumn("bin", expr("LEAST(pred_ppm * 10 DIV 1000000, 9L)"))
    b.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos_n"),
        expr("SUM(pred_ppm) DIV COUNT(*)").as("mean_pred_ppm"),
        expr("SUM(pos) * 1000000 DIV COUNT(*)").as("obs_rate_ppm"))
  }

  /** RELIABILITY DIAGRAM + ECE for the q_quality_score classifier (see
    * the family doc above [[calibCtes]]): 10 prediction bins, per-bin
    * mean prediction vs observed long-doc rate, and the mass-weighted
    * expected calibration error — all exact ppm. The isotonic query fits
    * the monotone correction on the SAME bins. */
  val scoreCalibration: Q = Q(
    "q_score_calibration",
    s"""WITH $calibCtes,
      |gg AS (
      |  SELECT bin, n, mean_pred_ppm, obs_rate_ppm,
      |         abs(mean_pred_ppm - obs_rate_ppm) AS gap_ppm
      |  FROM g)
      |SELECT bin, CAST(n AS BIGINT) AS n_docs,
      |       CAST(mean_pred_ppm AS BIGINT) AS mean_pred_ppm,
      |       CAST(obs_rate_ppm AS BIGINT) AS obs_rate_ppm,
      |       CAST(gap_ppm AS BIGINT) AS gap_ppm,
      |       CAST((SELECT SUM(n * gap_ppm) FROM gg) // (SELECT SUM(n) FROM gg)
      |            AS BIGINT) AS ece_ppm
      |FROM gg ORDER BY bin""".stripMargin) { (s, dir) =>
    val g = calibBinned(s, dir)
      .withColumn("gap_ppm", abs(col("mean_pred_ppm") - col("obs_rate_ppm")))
    val ece = g.agg(
      expr("SUM(n * gap_ppm) DIV SUM(n)").as("ece_ppm"))
    g.crossJoin(broadcast(ece)) // 1-row global ECE
      .select(col("bin"), col("n").as("n_docs"), col("mean_pred_ppm"),
        col("obs_rate_ppm"), col("gap_ppm"), col("ece_ppm"))
      .orderBy("bin")
  }

  /** ISOTONIC CALIBRATION (pool-adjacent-violators) of the quality-score
    * classifier — the monotone-regression step that turns a reliability
    * diagram into a usable calibration map: the PAV fit over the 10
    * prediction bins (weights = bin counts, targets = observed positive
    * rates), computed through the MINIMAX characterization
    * ŷᵢ = max_{j≤i} min_{k≥i} mean(j..k) rather than sequential pooling.
    * Block means are exact-rational (Σpos/Σn) floored to ppm per (j,k);
    * since floor is monotone it commutes with min/max, so the floored
    * minimax EQUALS exact PAV's block mean floored — bit-equal in both
    * engines and faithful to the textbook fit (IsotonicSpec proves it
    * against a BigRational pooling fold). The post-fit weighted residual
    * (iso_ece_ppm) rides along: how much miscalibration remains AFTER the
    * best monotone correction — the irreducible part of q_score_
    * calibration's ECE. Bin pipeline single-sourced via [[calibCtes]]/
    * [[calibBinned]].
    *
    * Shape at 100 TB: the corpus is touched once (the shared binning
    * aggregation); the minimax runs on the FIXED 10-row bin frame —
    * triangle enumeration via broadcast nested-loop joins over
    * constant-bounded sides (never a data-sized cartesian), checkpointed
    * so the scan never re-executes per self-reference. */
  val isotonicCalibration: Q = Q(
    "q_isotonic_calibration",
    s"""WITH $calibCtes,
      |pr AS (
      |  SELECT a.bin AS j, b.bin AS k FROM g a JOIN g b ON a.bin <= b.bin),
      |av AS (
      |  SELECT pr.j, pr.k, SUM(m.pos_n) * 1000000 // SUM(m.n) AS a
      |  FROM pr JOIN g m ON m.bin BETWEEN pr.j AND pr.k
      |  GROUP BY pr.j, pr.k),
      |mn AS (
      |  SELECT av.j, i.bin AS i, MIN(av.a) AS v
      |  FROM av JOIN g i ON av.j <= i.bin AND av.k >= i.bin
      |  GROUP BY av.j, i.bin),
      |fit AS (SELECT i, MAX(v) AS iso_ppm FROM mn GROUP BY i),
      |o AS (
      |  SELECT g.bin, g.n, g.mean_pred_ppm, g.obs_rate_ppm, fit.iso_ppm
      |  FROM g JOIN fit ON fit.i = g.bin)
      |SELECT bin, CAST(n AS BIGINT) AS n_docs,
      |       CAST(mean_pred_ppm AS BIGINT) AS mean_pred_ppm,
      |       CAST(obs_rate_ppm AS BIGINT) AS obs_rate_ppm,
      |       CAST(iso_ppm AS BIGINT) AS iso_ppm,
      |       CAST((SELECT SUM(n * abs(iso_ppm - obs_rate_ppm)) FROM o)
      |            // (SELECT SUM(n) FROM o) AS BIGINT) AS iso_ece_ppm
      |FROM o ORDER BY bin""".stripMargin) { (s, dir) =>
    // the 10-row bin frame feeds four self-references: checkpoint so the
    // corpus scan executes exactly once
    val g = calibBinned(s, dir).localCheckpoint(true)
    val pr = g.select(col("bin").as("j"))
      .join(broadcast(g.select(col("bin").as("k"))), col("j") <= col("k"))
    val av = pr
      .join(broadcast(g.select(col("bin").as("m"), col("pos_n"),
        col("n").as("mn"))), col("m").between(col("j"), col("k")))
      .groupBy("j", "k")
      .agg(expr("SUM(pos_n) * 1000000 DIV SUM(mn)").as("a"))
    val mn = av
      .join(broadcast(g.select(col("bin").as("i"))),
        col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("j", "i").agg(min(col("a")).as("v"))
    val fit = mn.groupBy("i").agg(max(col("v")).as("iso_ppm"))
    val o = g.join(fit, col("bin") === col("i"))
      .select(col("bin"), col("n"), col("mean_pred_ppm"),
        col("obs_rate_ppm"), col("iso_ppm"))
    val ece = o.agg(
      expr("SUM(n * abs(iso_ppm - obs_rate_ppm)) DIV SUM(n)").as("iso_ece_ppm"))
    o.crossJoin(broadcast(ece)) // 1-row residual readout
      .select(col("bin"), col("n").cast("long").as("n_docs"),
        col("mean_pred_ppm"), col("obs_rate_ppm"),
        col("iso_ppm").cast("long").as("iso_ppm"), col("iso_ece_ppm"))
  }

  val all: Seq[Q] =
    Seq(substringDedup, sourceCap, lmScore, blocklistScrub, piiScrub,
      curationReport, curriculumOrder, corpusDiff, budgetMixture,
      pipelineE2e, shardManifest, stratifiedSample, fuzzyBlocklist,
      qualityScore, ngramNovelty, scoreCalibration, isotonicCalibration)
}
