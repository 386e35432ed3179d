package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det.davg
import graft.engine.Tables.t
import graft.functions.Text

/** LLM-data-pipeline batch 1: exact deduplication and text analysis over the
  * `documents` table (north-star extensions, SURVEY §7.5). Every query is
  * hash-grouped — dedup NEVER compares pairs of documents directly; near-dup
  * candidates come from bucketed token joins (q_jaccard_neardup) so the pair
  * space is bounded by bucket size, not corpus size. */
object TextQueries {

  private val Stopwords = Seq("the", "a")

  /** Exact dedup: duplicates planted deterministically (a second copy of
    * every doc under a shifted id), then group by content fingerprint
    * keeping the smallest doc_id — the 100-TB shape (shuffle key is a
    * 32-byte hash, one aggregation, no pairwise compare). */
  val dedupExact: Q = Q(
    "q_dedup_exact",
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
      |keyed AS (SELECT doc_id, md5(lower(text)) AS fp FROM planted)
      |SELECT fp, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies
      |FROM keyed
      |GROUP BY fp
      |ORDER BY canonical_doc""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    planted
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("canonical_doc"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_doc")
  }

  /** Corpus statistics per (lang, source): counts, token totals, char
    * stats — the profiling pass a training-data pipeline runs first. */
  val textStats: Q = Q(
    "q_text_stats",
    """SELECT lang, source, COUNT(*) AS n_docs,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |       CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
      |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
        davg(col("n_chars")).as("avg_chars"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("lang", "source")
  }

  /** Cheap language-ID heuristic: stopword-ratio against an English list,
    * thresholded. (An n-gram-profile classifier is the production form; the
    * ratio is the oracle-checkable core of it.) */
  val langId: Q = Q(
    "q_lang_id",
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS en_hits,
      |       CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
      |         / len(string_split(text, ' ')) AS en_ratio,
      |       CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
      |                 / len(string_split(text, ' ')) >= 0.05
      |            THEN 'en_like' ELSE 'other' END AS guess
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val ratio = Text.stopwordRatio(col("text"), Stopwords)
    t(s, dir, "documents")
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.stopwordHits(col("text"), Stopwords).as("en_hits"),
        ratio.as("en_ratio"),
        when(ratio >= 0.05, "en_like").otherwise("other").as("guess"))
      .orderBy("doc_id")
  }

  /** Per-document profile: content fingerprint + quality score (length band,
    * stopword presence, mean token length — each a deterministic step). */
  val docProfile: Q = Q(
    "q_doc_profile",
    """SELECT doc_id, md5(lower(text)) AS fp,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |         / len(string_split(text, ' ')) AS avg_token_len,
      |       (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 400 THEN 1.0 ELSE 0.0 END) * 0.5
      |     + (CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
      |                  / len(string_split(text, ' ')) >= 0.02 THEN 1.0 ELSE 0.0 END) * 0.3
      |     + (CASE WHEN CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |                  / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.2
      |       AS quality
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        Text.fingerprint(col("text")).as("fp"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.avgTokenLen(col("text")).as("avg_token_len"),
        Text.qualityScore(col("text"), Stopwords).as("quality"))
      .orderBy("doc_id")
  }

  /** Token-set Jaccard near-dup detection, bucketed AND df-cut: candidate
    * pairs share a (lang, n_chars%7) bucket and a token, so the join is
    * keyed — never an all-pairs crossJoin — and tokens appearing in more
    * than [[JaccardMaxDf]] docs of a bucket are excluded from the similarity
    * entirely (sizes and intersections alike). The df-cut is the standard
    * stopword-grade skew guard: it bounds the worst-case per-key join
    * fan-in at C(MaxDf, 2) regardless of corpus size (the classic skewed-
    * join scale-killer otherwise — one boilerplate token inside a bucket is
    * O(n^2) rows on one key), and "Jaccard over informative tokens" is the
    * better dedup signal anyway: at sf0.1 the uncapped form emits 108k
    * common-vocabulary pairs, the capped form the 1.1k genuinely
    * near-identical ones, at ~1/3000th the intersection rows. At 100 TB the
    * same shape holds with MinHash bands as the bucket key
    * (see SimilarityQueries). */
  private val JaccardMaxDf = 20

  /** DuckDB chain documents → `kept` distinct (doc, lang, n_chars % 7
    * bucket, token) rows with the df-cut applied → `sizes` (doc_id, nt) →
    * `inter` (d1 < d2, it): shared tokens per document pair. Twin of
    * [[tokenOverlap]]. */
  private val tokenOverlapCtes =
    s"""docs2 AS (
      |  SELECT doc_id, lang, n_chars % 7 AS lb, text FROM documents),
      |tok0 AS (
      |  SELECT doc_id, lang, lb, unnest(string_split(text, ' ')) AS tok
      |  FROM docs2),
      |tok AS (
      |  SELECT DISTINCT doc_id, lang, lb, tok FROM tok0
      |  WHERE lang IS NOT NULL AND lb IS NOT NULL AND tok IS NOT NULL),
      |kept AS (
      |  SELECT doc_id, lang, lb, tok FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY lang, lb, tok) AS occ FROM tok)
      |  WHERE occ <= $JaccardMaxDf),
      |sizes AS (SELECT doc_id, COUNT(*) AS nt FROM kept GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS it
      |  FROM kept a JOIN kept b
      |    ON a.lang = b.lang AND a.lb = b.lb AND a.tok = b.tok
      |   AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** (d2, d1, it, na, nb): document pairs d1 < d2 sharing `it` kept tokens,
    * with each side's kept-token count. Tokens are distinct per document
    * and keyed by (lang, n_chars % 7, token); keys in more than
    * [[JaccardMaxDf]] documents are dropped. Twin of [[tokenOverlapCtes]]. */
  private def tokenOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs2 = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), (col("n_chars") % 7).as("lb"), col("text"))
    // the candidate join carries one 8-byte key instead of the
    // (lang, lb, token-string) triple: the intersection count only needs key
    // EQUALITY, and an xxhash64 collision between two of the corpus's
    // distinct (lang, lb, tok) triples (v of them -> p ~ v^2/2^64) is
    // negligible against the oracle's own md5-keyed operators. Null key
    // parts are dropped FIRST: SQL equality never matches NULL, but
    // xxhash64 skips null inputs and would still produce a joinable hash.
    val keyed = docs2
      .select(col("doc_id"), col("lang"), col("lb"),
        explode(Text.tokens(col("text"))).as("tok"))
      .distinct()
      .filter(col("lang").isNotNull && col("lb").isNotNull && col("tok").isNotNull)
      .select(col("doc_id"),
        xxhash64(col("lang"), col("lb"), col("tok")).as("k"))
    // df-cut via the skew-proof hot-key guard (map-side-combined counts +
    // broadcast anti-join, Similarity.dropHotKeys); sizes AND intersections
    // both come from the kept set
    val kept = graft.engine.Similarity.dropHotKeys(keyed, Seq("k"), JaccardMaxDf)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val a = kept.select(col("doc_id").as("d1"), col("k"))
    val b = kept.select(col("doc_id").as("d2"), col("k"))
    a.join(b, Seq("k"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("it"))
      .join(sizes.select(col("doc_id").as("d1"), col("nt").as("na")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("nt").as("nb")), "d2")
  }

  /** n-gram JACCARD near-dup detection: candidate pairs from a
    * df-capped shared-token bucket join (fan-in bounded C(MaxDf, 2) per
    * token — see [[JaccardMaxDf]]), then exact Jaccard over distinct
    * token sets for the survivors; never an all-pairs compare. */
  val jaccardNearDup: Q = Q(
    "q_jaccard_neardup",
    s"""WITH $tokenOverlapCtes
      |SELECT d1, d2,
      |       CAST(it AS DOUBLE) / (sa.nt + sb.nt - it) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = d1
      |JOIN sizes sb ON sb.doc_id = d2
      |WHERE CAST(it AS DOUBLE) / (sa.nt + sb.nt - it) >= 0.8
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val jaccard = col("it").cast("double") /
      (col("na") + col("nb") - col("it"))
    tokenOverlap(s, dir)
      .filter(jaccard >= 0.8)
      .select(col("d1"), col("d2"), jaccard.as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** CONTAINMENT near-dup detection — the SUPERSET complement of
    * q_jaccard_neardup: containment |A∩B| / min(|A|,|B|) fires when one
    * document's (informative-) token set sits inside another's even though
    * symmetric Jaccard stays low — the quote/excerpt/boilerplate-wrapper
    * duplication mode (a short doc embedded in a long one) that
    * Jaccard-thresholded dedup systematically misses. Same candidate
    * machinery as Jaccard: (lang, n_chars%7) bucket + shared token keys
    * the join, the df-cut bounds per-key fan-in at C(MaxDf,2), and a
    * min-size floor (>= 5 kept tokens) keeps near-empty sets from scoring
    * trivial 1.0s. `contained_doc` names the smaller side (ties -> lower
    * id); jaccard rides along so the two signals read side by side.
    *
    * Shape at 100 TB: identical to q_jaccard_neardup — the pair space is
    * bucket-bounded (keyed equi-join on the 8-byte token-bucket hash,
    * never all-pairs), sizes and intersections are keyed aggregations
    * with map-side partials, and the df-cut is the skew guard
    * ([[graft.engine.Similarity.dropHotKeys]]). */
  val containmentNearDup: Q = {
    val minKept = 5
    Q(
      "q_containment_neardup",
      s"""WITH $tokenOverlapCtes,
        |scored AS (
        |  SELECT d1, d2, sa.nt AS na, sb.nt AS nb, it,
        |         CAST(it AS DOUBLE) / least(sa.nt, sb.nt) AS containment,
        |         CAST(it AS DOUBLE) / (sa.nt + sb.nt - it) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = d1
        |  JOIN sizes sb ON sb.doc_id = d2
        |  WHERE least(sa.nt, sb.nt) >= $minKept)
        |SELECT d1, d2,
        |       CASE WHEN na < nb OR (na = nb AND d1 < d2) THEN d1 ELSE d2 END
        |         AS contained_doc,
        |       CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |       CAST(it AS BIGINT) AS it, containment, jaccard
        |FROM scored
        |WHERE containment >= 0.9
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val containment = col("it").cast("double") / least(col("na"), col("nb"))
      val jaccard = col("it").cast("double") /
        (col("na") + col("nb") - col("it"))
      tokenOverlap(s, dir)
        .filter(least(col("na"), col("nb")) >= minKept &&
          containment >= 0.9)
        .select(col("d1"), col("d2"),
          when(col("na") < col("nb") ||
            (col("na") === col("nb") && col("d1") < col("d2")), col("d1"))
            .otherwise(col("d2")).as("contained_doc"),
          col("na"), col("nb"), col("it"),
          containment.as("containment"), jaccard.as("jaccard"))
    }
  }

  /** Multimodal plumbing check (graft.engine.Multimodal): media as opaque
    * binary payloads + typed metadata — the metadata aggregates here are the
    * oracle-checkable face of the binary column. */
  val mediaMeta: Q = Q(
    "q_media_meta",
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |         encode(text) AS payload
      |  FROM documents)
      |SELECT kind, COUNT(*) AS n_items,
      |       CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
      |       CAST(MIN(octet_length(payload)) AS INTEGER) AS min_bytes,
      |       CAST(MAX(octet_length(payload)) AS INTEGER) AS max_bytes
      |FROM media
      |GROUP BY kind
      |ORDER BY kind""".stripMargin) { (s, dir) =>
    graft.engine.Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_items"),
        sum(octet_length(col("payload"))).as("total_bytes"),
        min(octet_length(col("payload"))).as("min_bytes"),
        max(octet_length(col("payload"))).as("max_bytes"))
      .orderBy("kind")
  }

  /** FRAME-SAMPLE PLAN — for every video item, the evenly-spaced frame
    * indices (up to 8) and their byte offsets a frame extractor would
    * decode: the SAMPLING HALF of video feature extraction as engine
    * data, oracle-checked. Keeping the plan queryable is the 100-TB
    * posture: the planner decides WHICH bytes to touch from metadata
    * alone (duration -> frame count at 30fps, payload length -> stride),
    * so the binary column is never scanned to plan its own decode.
    *
    * Determinism: pure integer arithmetic end to end — frame count, slot
    * count, index striding (slot * n_frames DIV slots) and byte offsets
    * (frame_idx * bytes-per-frame) are all integer DIV. */
  val frameSample: Q = Q(
    "q_frame_sample",
    """WITH media AS (
      |  SELECT doc_id AS media_id, encode(text) AS payload,
      |         n_chars * 10 AS duration_ms
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (
      |  SELECT media_id,
      |         GREATEST(duration_ms * 30 // 1000, 1) AS n_frames,
      |         octet_length(payload) AS n_bytes
      |  FROM media),
      |s AS (
      |  SELECT media_id, n_frames, n_bytes,
      |         LEAST(n_frames, 8) AS n_slots,
      |         unnest(generate_series(0, LEAST(n_frames, 8) - 1)) AS slot
      |  FROM f)
      |SELECT media_id, CAST(slot AS BIGINT) AS slot,
      |       CAST(slot * n_frames // n_slots AS BIGINT) AS frame_idx,
      |       CAST((slot * n_frames // n_slots) * (n_bytes // n_frames) AS BIGINT)
      |         AS byte_offset,
      |       CAST(n_frames AS BIGINT) AS n_frames
      |FROM s ORDER BY media_id, slot""".stripMargin) { (s, dir) =>
    val media = graft.engine.Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      .filter(col("kind") === "video")
      .select(col("media_id"),
        greatest(expr("duration_ms * 30 DIV 1000"), lit(1L)).as("n_frames"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("n_slots", least(col("n_frames"), lit(8L)))
    media
      .select(col("media_id"), col("n_frames"), col("n_bytes"), col("n_slots"),
        explode(sequence(lit(0L), col("n_slots") - 1)).as("slot"))
      .select(col("media_id"), col("slot"),
        expr("slot * n_frames DIV n_slots").as("frame_idx"),
        (expr("slot * n_frames DIV n_slots") *
          expr("n_bytes DIV n_frames")).as("byte_offset"),
        col("n_frames"))
      .orderBy("media_id", "slot")
  }

  /** PERCEPTUAL-HASH IMAGE NEAR-DUP — average-hash (aHash) deduplication
    * over the image payloads of the media table, the cheap image-dedup
    * pass every multimodal corpus pipeline runs before training: pool the
    * payload's luma sequence into 64 cells, hash each image to the 64-bit
    * "cell above the mean" signature, band the hash into 4 x 16-bit keys so
    * candidates meet through a (band, value) EQUI-JOIN (never an all-pairs
    * product), and emit candidate pairs within Hamming <= 6 — near-identical
    * images differ in a few bits, unrelated ones in ~32.
    *
    * The testdata payloads are byte-luma stand-ins (UTF-8 text bytes, per
    * Multimodal.mediaFromDocuments), so the "luma" here is the character
    * code sequence — which makes the ENTIRE pipeline (pooling, hash,
    * banding, Hamming verdicts) oracle-checkable in DuckDB. Planted twins
    * here: every 20th image doc gets an exact copy (+7500000, Hamming 0)
    * and every 10th a one-character perturbation (+7000000,
    * length-preserving so pooling windows align — a few bits flip), so
    * near-dup pairs exist at every scale.
    *
    * Determinism: integer micro-unit cell means (sum*10^6 DIV window),
    * integer mean comparison (cell*64 > total — no division), integer band
    * packing; the only text function is ascii(char), identical in both
    * engines on the synthetic ASCII corpus.
    *
    * Shape at 100 TB: one scan computes the 64-cell hash IN-ROW (HOFs over
    * a per-row codes array — no explode of the payload), the 4-band
    * fan-out is constant, hot buckets are df-cut at 200 (the
    * q_minhash_neardup convention), and the Hamming verify joins band rows
    * back only for the bounded candidate set. */
  val imageNearDup: Q = Q(
    "q_image_neardup",
    """WITH img AS (
      |  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 7000000 AS media_id, 'Z' || substr(text, 2) AS text
      |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 7500000 AS media_id, text
      |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 20 = 0),
      |c0 AS (
      |  SELECT media_id,
      |         list_transform(range(1, len(text) + 1),
      |                        p -> CAST(ascii(substr(text, p, 1)) AS BIGINT)) AS codes,
      |         CAST(len(text) AS BIGINT) AS L
      |  FROM img),
      |cells AS (
      |  SELECT media_id,
      |         list_transform(range(0, 64), i ->
      |           CASE WHEN (i + 1) * L // 64 > i * L // 64
      |                THEN list_reduce(list_slice(codes, i * L // 64 + 1,
      |                                            (i + 1) * L // 64),
      |                                 (x, y) -> x + y) * 1000000
      |                     // ((i + 1) * L // 64 - i * L // 64)
      |                ELSE CAST(0 AS BIGINT) END) AS cs
      |  FROM c0),
      |hb AS (
      |  SELECT media_id, cs, list_reduce(cs, (x, y) -> x + y) AS tot
      |  FROM cells),
      |bands AS (
      |  SELECT media_id, b.band,
      |         list_reduce(list_transform(range(0, 16), j ->
      |           CASE WHEN cs[CAST(b.band * 16 + j + 1 AS BIGINT)] * 64 > tot
      |                THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END),
      |           (x, y) -> x + y) AS bval
      |  FROM hb CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
      |kept AS (
      |  SELECT media_id, band, bval FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY band, bval) AS occ FROM bands)
      |  WHERE occ <= 200),
      |pairs AS (
      |  SELECT DISTINCT a.media_id AS d1, b.media_id AS d2
      |  FROM kept a JOIN kept b ON a.band = b.band AND a.bval = b.bval
      |                          AND a.media_id < b.media_id),
      |ham AS (
      |  SELECT p.d1, p.d2,
      |         CAST(SUM(bit_count(xor(x.bval, y.bval))) AS BIGINT) AS hamming
      |  FROM pairs p
      |  JOIN bands x ON x.media_id = p.d1
      |  JOIN bands y ON y.media_id = p.d2 AND y.band = x.band
      |  GROUP BY p.d1, p.d2)
      |SELECT d1, d2, hamming FROM ham WHERE hamming <= 6
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 3 === 0)
    val img = base.select(col("doc_id").as("media_id"), col("text"))
      .unionAll(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 7000000).as("media_id"),
          concat(lit("Z"), expr("substring(text, 2)")).as("text")))
      .unionAll(base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 7500000).as("media_id"), col("text")))
    // spread before the per-character decode (the aHash kernel is the
    // compute; the documents scan is 1-2 partitions), and EAGERLY
    // checkpoint the band table: it feeds the hot-bucket window AND both
    // hamming join sides — unpinned, the whole decode pipeline executed
    // three times side by side (profiled as three ~1.2s narrow stages)
    val bands = graft.engine.Tables.spread(img, col("media_id"))
      .withColumn("codes", expr(
        "transform(sequence(1, length(text)), p -> CAST(ascii(substring(text, p, 1)) AS BIGINT))"))
      .withColumn("L", length(col("text")).cast("long"))
      .withColumn("cs", expr(
        """transform(sequence(0, 63), i ->
          |  CASE WHEN (i + 1) * L DIV 64 > i * L DIV 64
          |       THEN aggregate(slice(codes, CAST(i * L DIV 64 + 1 AS INT),
          |                            CAST((i + 1) * L DIV 64 - i * L DIV 64 AS INT)),
          |                      CAST(0 AS BIGINT), (x, y) -> x + y) * 1000000
          |            DIV ((i + 1) * L DIV 64 - i * L DIV 64)
          |       ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .withColumn("tot", expr("aggregate(cs, CAST(0 AS BIGINT), (x, y) -> x + y)"))
      .select(col("media_id"), col("cs"), col("tot"),
        explode(expr("sequence(0, 3)")).as("band"))
      .select(col("media_id"), col("band"), expr(
        """aggregate(transform(sequence(0, 15), j ->
          |  CASE WHEN element_at(cs, band * 16 + j + 1) * 64 > tot
          |       THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END),
          |  CAST(0 AS BIGINT), (x, y) -> x + y)""".stripMargin).as("bval"))
      .localCheckpoint(eager = true)
    val wOcc = Window.partitionBy("band", "bval")
    val kept = bands.withColumn("occ", count(lit(1)).over(wOcc))
      .filter(col("occ") <= 200).drop("occ")
    val pairs = kept.select(col("media_id").as("d1"), col("band"), col("bval"))
      .join(kept.select(col("media_id").as("d2"), col("band"), col("bval")),
        Seq("band", "bval"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    pairs
      .join(bands.select(col("media_id").as("d1"), col("band").as("bx"),
        col("bval").as("v1")), "d1")
      .join(bands.select(col("media_id").as("m2"), col("band").as("by"),
        col("bval").as("v2")), col("d2") === col("m2") && col("bx") === col("by"))
      .groupBy("d1", "d2")
      .agg(sum(expr("bit_count(v1 ^ v2)")).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
  }

  /** Token counting both ways (brief: whitespace + a BPE-ish regex): the
    * regex count tallies alpha runs, digit runs, and single symbols — the
    * pre-merge granularity a BPE tokenizer starts from. */
  val tokenCounts: Q = Q(
    "q_token_counts",
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS ws_tokens,
      |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpeish_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("ws_tokens"),
        Text.bpeishTokenCount(col("text")).as("bpeish_tokens"))
      .orderBy("doc_id")
  }

  /** Order-sensitive document fingerprinting (rolling hash): the mod-prime
    * md5 fold [[Text.rollingFingerprintMd5]] per doc, oracle-checked —
    * permutations of the same token multiset get different fingerprints
    * (unlike the content md5), which is what incremental / streaming
    * fingerprint maintenance needs. The wrapping xxhash64 form stays the
    * scale default (TextSpec). */
  val fingerprintRolling: Q = Q(
    "q_fingerprint_rolling",
    """SELECT doc_id,
      |       md5(lower(text)) AS content_fp,
      |       list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(string_split(text, ' '),
      |           t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))),
      |         (acc, x) -> (acc * 131 + x) % 1000000007) AS rolling_fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        Text.fingerprint(col("text")).as("content_fp"),
        Text.rollingFingerprintMd5(col("text")).as("rolling_fp"))
      .orderBy("doc_id")
  }

  /** WINNOWING fingerprint profile ([[graft.engine.Similarity.winnowFingerprints]]
    * — Schleimer et al. 2003, the MOSS scheme): each 4-wide window over a
    * doc's 3-token-shingle hashes selects its minimum (ties → rightmost
    * position), and the distinct selected set is the fingerprint. The third
    * member of the fingerprint family with a guarantee the other two lack:
    * the content md5 (q_dedup_exact) breaks under ANY edit, the rolling
    * fold (q_fingerprint_rolling) under any PREFIX edit, while winnowing
    * selections are LOCAL — an edit only disturbs fingerprints within w
    * windows of it, and any shared run of >= 6 tokens between two docs is
    * guaranteed a shared selected fingerprint (the plagiarism-detection /
    * partial-overlap use case that global fingerprints cannot serve).
    *
    * Shape at 100 TB: pure in-row HOFs (zero shuffles before the
    * presentation sort), per-row cost O(shingles * 4); the oracle mirrors
    * the window fold relationally — per-window MIN(hash) then MAX(position)
    * among the minima is exactly the fold's rightmost-min — so the
    * selection set, not just its size, is hash-checked via the
    * (min, sum) digests. */
  val winnowFingerprint: Q = Q(
    "q_winnow_fingerprint",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(0, len(toks) - 2),
      |                i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]) END AS sl
      |  FROM tok),
      |hrow AS (
      |  SELECT doc_id, len(sl) AS m, p,
      |         CAST(('0x' || substr(md5(sl[p + 1]), 1, 8)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, sl, unnest(range(0, len(sl))) AS p FROM sh)),
      |sz AS (SELECT DISTINCT doc_id, m FROM hrow),
      |win AS (
      |  SELECT doc_id, unnest(range(0, GREATEST(m - 3, 1))) AS j FROM sz),
      |cand AS (
      |  SELECT w.doc_id, w.j, h.p, h.h
      |  FROM win w JOIN hrow h
      |    ON h.doc_id = w.doc_id AND h.p BETWEEN w.j AND w.j + 3),
      |selw AS (SELECT doc_id, j, MIN(h) AS mh FROM cand GROUP BY doc_id, j),
      |selp AS (
      |  SELECT c.doc_id, c.j, c.h, MAX(c.p) AS p
      |  FROM cand c JOIN selw s
      |    ON s.doc_id = c.doc_id AND s.j = c.j AND c.h = s.mh
      |  GROUP BY c.doc_id, c.j, c.h),
      |fp AS (SELECT DISTINCT doc_id, p, h FROM selp)
      |SELECT s.doc_id, CAST(s.m AS BIGINT) AS n_shingles,
      |       CAST(a.n_selected AS BIGINT) AS n_selected,
      |       CAST(a.fp_min AS BIGINT) AS fp_min,
      |       CAST(a.fp_sum AS BIGINT) AS fp_sum
      |FROM sz s JOIN (
      |  SELECT doc_id, COUNT(*) AS n_selected, MIN(h) AS fp_min,
      |         SUM(h) AS fp_sum
      |  FROM fp GROUP BY doc_id) a ON a.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    graft.engine.Similarity
      .winnowFingerprints(
        graft.engine.Tables.spread(t(s, dir, "documents"), col("doc_id")),
        "doc_id", "text")
  }

  /** Deterministic train/val/test corpus split (90/5/5) by CONTENT-HASH
    * bucketing: md5("split:" || doc_id) mod 100 — the assignment every
    * training pipeline needs to be stable across runs, engines, partition
    * layouts, and corpus growth (a doc keeps its split when new docs
    * arrive; rand()-based splits have none of these properties). Pure
    * column expressions; the derived hash is cross-engine (md5 recipe), so
    * the whole split — not just its sizes — is oracle-checked via the
    * per-(split, lang) profile. */
  val trainSplit: Q = Q(
    "q_train_split",
    """WITH b AS (
      |  SELECT lang,
      |         CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
      |         len(string_split(text, ' ')) AS toks
      |  FROM documents),
      |s AS (
      |  SELECT lang, toks,
      |         CASE WHEN bucket < 90 THEN 'train'
      |              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
      |  FROM b)
      |SELECT split, lang, COUNT(*) AS n_docs,
      |       CAST(SUM(toks) AS BIGINT) AS total_tokens
      |FROM s GROUP BY split, lang
      |ORDER BY split, lang""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("lang"), Text.splitAssign(col("doc_id")).as("split"),
        Text.tokenCount(col("text")).cast("long").as("toks"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"))
      .orderBy("split", "lang")
  }

  /** Deterministic global corpus shuffle (training order): rank = position
    * in the ordering by md5("shuf:" || doc_id) — reproducible across runs
    * and engines, reshuffled by changing the salt. The global numbering
    * uses the distributed bucket-stitch pattern (TimeSeries.globalRowNumber
    * keyed on the first hex nibble, a prefix of the ordering), so NO
    * operator sees a single-partition sort — the scale-safe form of
    * `ROW_NUMBER() OVER (ORDER BY hash)` that the oracle can still express
    * directly as the global window. */
  val shuffleOrder: Q = Q(
    "q_shuffle_order",
    """WITH h AS (
      |  SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS hk
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, hk,
      |         ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rank
      |  FROM h)
      |SELECT CAST(rank AS BIGINT) AS rank, doc_id, hk FROM r
      |WHERE rank <= 100
      |ORDER BY rank""".stripMargin) { (s, dir) =>
    val hd = t(s, dir, "documents")
      .select(col("doc_id"), md5(
        concat(lit("shuf:"), col("doc_id").cast("string")).cast("binary")).as("hk"))
    // 3 hex chars = 4096 buckets: per-bucket sort work stays ~N/4096 (the
    // globalRowNumber contract wants domain-bounded buckets — one nibble
    // would cap parallelism at 16 and sort 1/16 of the corpus per task)
    // while the broadcast offsets side remains tiny
    graft.engine.TimeSeries
      .globalRowNumber(hd, substring(col("hk"), 1, 3),
        Seq(col("hk"), col("doc_id")), "rank")
      .filter(col("rank") <= 100)
      .select(col("rank"), col("doc_id"), col("hk"))
      .orderBy("rank")
  }

  /** Sequence PACKING into fixed-token-budget training shards — the step
    * between a cleaned corpus and a pretraining dataloader: every doc gets
    * a shard id by OFFSET BINNING of the cumulative token stream — a doc
    * belongs to the 2048-token bin its cumulative range STARTS in.
    * Distributed shape: docs hash into 32 independent buckets (md5,
    * engine-mirrorable) and the packing cumsum is a per-BUCKET window —
    * shards never span buckets, so no global sort and no single-partition
    * window exists at any corpus size; at 100 TB each bucket packs in
    * parallel and the shard id stays deterministic across
    * runs/engines/partitionings. Contract fine print: a doc crossing a bin
    * boundary is NOT split (its shard holds up to budget + max_doc_tokens),
    * and a doc spanning multiple whole bins leaves those shard ids
    * unassigned — ids are deterministic but may be SPARSE, so consumers
    * enumerate distinct shard ids rather than 0..max (a dense renumbering
    * is one dense_rank away). The shard-id namespace reserves 10^12 slots
    * per bucket (~2 * 10^15 tokens per bucket before ids could collide —
    * two orders of magnitude past a 100-TB corpus split 32 ways). Fully
    * oracle-checked: bucket hash, window cumsum, and floor-division shard
    * id all mirror. */
  val packShards: Q = Q(
    "q_pack_shards",
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS bucket,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (
      |  SELECT doc_id, bucket, toks,
      |         CAST(SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS cum_tokens
      |  FROM d)
      |SELECT doc_id, bucket,
      |       CAST(bucket * 1000000000000 + (cum_tokens - toks) // 2048 AS BIGINT) AS shard,
      |       toks, cum_tokens
      |FROM c
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    SubPlans.packShards(t(s, dir, "documents").filter(col("text").isNotNull))
      .orderBy("doc_id")
  }

  /** Context-window CHUNKING: cut each document's token stream into fixed
    * 64-token windows advancing by a 56-token stride (Text.ChunkTokens /
    * Text.ChunkStride), so consecutive chunks overlap by 8 tokens of
    * boundary context — the
    * complement of q_pack_shards' contract fine print: packing never
    * splits a doc, chunking is the upstream cut for docs longer than the
    * training context. A window start survives iff it is the doc's first
    * or the previous window stopped short of the last token, making the
    * chunk set the MINIMAL stride-aligned cover: every token lands in at
    * least one chunk, interior overlaps are exactly ChunkTokens -
    * ChunkStride, and a doc of <= ChunkTokens tokens yields exactly its
    * one whole-doc chunk. 100-TB shape: pure in-row sequence/explode with
    * fan-out ~ tokens/stride (linear in corpus tokens), zero shuffles
    * before the presentation sort; chunk ids are per-doc positional, so
    * no global coordination exists at any corpus size. */
  val chunkDocs: Q = Q(
    "q_chunk_docs",
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (
      |  SELECT doc_id, n, tk, unnest(generate_series(1, n, 56)) AS st
      |  FROM d)
      |SELECT doc_id,
      |       CAST((st - 1) // 56 AS BIGINT) AS chunk_id,
      |       CAST(st AS BIGINT) AS start_tok,
      |       CAST(len(list_slice(tk, st, st + 63)) AS BIGINT) AS n_toks,
      |       array_to_string(list_slice(tk, st, st + 63), ' ') AS chunk_text
      |FROM s
      |WHERE st = 1 OR st - 56 + 63 < n
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    // starts and projection single-sourced with the streaming chunker
    // (Streams.chunkDocs); n >= 1 always (split of non-null text is never
    // empty), so the stride grid is ascending
    t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .withColumn("st", explode(Text.chunkStarts(col("tk"))))
      .select(col("doc_id") +: Text.chunkColumns(col("tk"), col("st")): _*)
      .orderBy("doc_id", "chunk_id")
  }

  /** NORMALIZED exact dedup: fingerprint the text after lowercasing,
    * stripping non-alphanumerics, and collapsing whitespace — the
    * "fuzzy-exact" pass that catches trivially-edited duplicates
    * (case/punctuation/spacing variants) that the raw fingerprint misses.
    * Variant copies are planted (`doc_id % 23 = 1` re-enters uppercased
    * with punctuation bolted on) so the operator has signal to find; the
    * output is the duplicate GROUPS only. Same 100-TB shape as
    * q_dedup_exact: per-row normalization, 32-byte shuffle keys, one
    * aggregation. */
  val dedupNormalized: Q = Q(
    "q_dedup_normalized",
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000000 AS doc_id, upper(text) || ' !!' AS text
      |  FROM documents WHERE doc_id % 23 = 1),
      |keyed AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |                                 ' +', ' ', 'g'))) AS nfp
      |  FROM planted)
      |SELECT nfp, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies
      |FROM keyed
      |GROUP BY nfp HAVING COUNT(*) > 1
      |ORDER BY canonical_doc""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") % 23 === 1)
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
    // one native sweep (graft.expressions.NormFingerprint) instead of the
    // builtin lower -> strip -> collapse -> trim chain: three regex NFA
    // passes and two intermediate strings per row, the scale probe's
    // CPU-saturation outlier; property-equal by TextSpec
    val norm = call_function("graft_norm_fp", col("text"))
    planted
      .select(col("doc_id"), md5(norm.cast("binary")).as("nfp"))
      .groupBy("nfp")
      .agg(min("doc_id").as("canonical_doc"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy("canonical_doc")
  }

  /** LABEL-NOISE audit: documents whose declared `lang` disagrees with the
    * stopword-heuristic language guess (the q_lang_id rule) — the
    * metadata-vs-content consistency check a curation run uses to find
    * mislabeled slices before per-language sampling trusts the labels.
    * Pure per-row column math; only the mismatches are emitted. */
  val labelMismatch: Q = Q(
    "q_label_mismatch",
    """WITH g AS (
      |  SELECT doc_id, lang,
      |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
      |           / len(string_split(text, ' ')) AS en_ratio
      |  FROM documents)
      |SELECT doc_id, lang,
      |       CASE WHEN en_ratio >= 0.05 THEN 'en_like' ELSE 'other' END AS guess,
      |       en_ratio
      |FROM g
      |WHERE (lang = 'en') <> (en_ratio >= 0.05)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val ratio = Text.stopwordRatio(col("text"), Stopwords)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), ratio.as("en_ratio"))
      .filter((col("lang") === "en") =!= (col("en_ratio") >= 0.05))
      .select(col("doc_id"), col("lang"),
        when(col("en_ratio") >= 0.05, "en_like").otherwise("other").as("guess"),
        col("en_ratio"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL DEDUP — dedup a NEW crawl batch against the fingerprint
    * index of an EXISTING corpus, the shape every recurring ingestion run
    * has (a 100-TB corpus is never re-deduped from scratch; each day's
    * batch checks in against the standing index). doc_id % 5 == 0 plays
    * the new batch, the rest the historical corpus; the index side is
    * pre-aggregated to ONE (fingerprint, canonical_doc) row per
    * fingerprint — exactly the compact index a production system stores —
    * and each batch doc resolves to a three-way verdict: `dup_of_index`
    * (normalized fingerprint already indexed), `dup_in_batch` (first
    * occurrence inside the batch wins, smaller doc_id), or `new`.
    *
    * Shape at 100 TB: two keyed equi-joins on the 32-byte fingerprint
    * (batch vs index, batch vs its own first-occurrence aggregate) — no
    * pairwise work, no window; the index join is the same partitioned
    * hash join an index lookup compiles to whatever the corpus size. */
  val incrementalDedup: Q = Q(
    "q_incremental_dedup",
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 8000000 AS doc_id, upper(text) || ' ?!' AS text
      |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 11 = 1
      |  UNION ALL
      |  SELECT doc_id + 9000000 AS doc_id, text || '  ' AS text
      |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 13 = 2),
      |keyed AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |                                 ' +', ' ', 'g'))) AS nfp
      |  FROM planted),
      |idx AS (
      |  SELECT nfp, MIN(doc_id) AS index_doc FROM keyed
      |  WHERE doc_id % 5 <> 0 AND doc_id < 8000000 GROUP BY nfp),
      |batch AS (
      |  SELECT doc_id, nfp FROM keyed
      |  WHERE doc_id % 5 = 0 OR doc_id >= 8000000),
      |firsts AS (SELECT nfp, MIN(doc_id) AS first_in_batch FROM batch GROUP BY nfp)
      |SELECT b.doc_id,
      |       CASE WHEN i.index_doc IS NOT NULL THEN 'dup_of_index'
      |            WHEN b.doc_id <> f.first_in_batch THEN 'dup_in_batch'
      |            ELSE 'new' END AS verdict,
      |       CASE WHEN i.index_doc IS NOT NULL THEN i.index_doc
      |            WHEN b.doc_id <> f.first_in_batch THEN f.first_in_batch
      |            END AS matched_doc
      |FROM batch b
      |LEFT JOIN idx i ON i.nfp = b.nfp
      |JOIN firsts f ON f.nfp = b.nfp
      |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // plant cross-epoch dups (batch copies of index docs, normalized away
    // case + punct) and in-batch dups (second copies of batch docs) so all
    // three verdicts occur on the synthetic corpus (500 unique texts)
    val planted = docs
      .unionAll(docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 11 === 1)
        .select((col("doc_id") + 8000000).as("doc_id"),
          concat(upper(col("text")), lit(" ?!")).as("text")))
      .unionAll(docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 13 === 2)
        .select((col("doc_id") + 9000000).as("doc_id"),
          concat(col("text"), lit("  ")).as("text")))
    val keyed = planted
      .select(col("doc_id"),
        md5(call_function("graft_norm_fp", col("text")).cast("binary")).as("nfp"))
    val idx = keyed.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 8000000)
      .groupBy("nfp").agg(min("doc_id").as("index_doc"))
    val batch = keyed.filter(col("doc_id") % 5 === 0 || col("doc_id") >= 8000000)
    val firsts = batch.groupBy("nfp").agg(min("doc_id").as("first_in_batch"))
    batch
      .join(idx, Seq("nfp"), "left")
      .join(firsts, Seq("nfp"))
      .select(col("doc_id"),
        when(col("index_doc").isNotNull, "dup_of_index")
          .when(col("doc_id") =!= col("first_in_batch"), "dup_in_batch")
          .otherwise("new").as("verdict"),
        when(col("index_doc").isNotNull, col("index_doc"))
          .when(col("doc_id") =!= col("first_in_batch"), col("first_in_batch"))
          .as("matched_doc"))
      .orderBy("doc_id")
  }

  /** PHRASE SEARCH over a POSITIONAL INVERTED INDEX — the exact-phrase
    * complement of q_keyword_search/q_bm25_search (bag-of-words can't tell
    * "data base" from "base data"): the corpus is exploded ONCE into
    * (doc, position, bigram) postings, the query phrase is mined from the
    * corpus itself (its most frequent token bigram, count ties broken
    * lexicographically — self-contained, no fixture constant), and
    * matching docs report occurrence counts and the FIRST hit position —
    * the snippet anchor a search UI needs. Bigrams are built in-row
    * (adjacent-token concat inside the token array — no self-join to
    * reassemble adjacency); tokens are the corpus convention
    * (lowercased, whitespace-split, q_token_counts).
    *
    * Shape at 100 TB: one scan → in-row bigram expansion →
    * map-side-combined vocabulary count; the top-1 pick is
    * TakeOrdered(1) (never a global window); the phrase probe joins the
    * postings by BROADCAST of the 1-row phrase. A multi-term query
    * phrase generalizes to the same postings equi-join on (term,
    * position offset). */
  val phraseSearch: Q = Q(
    "q_phrase_search",
    """WITH dts AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |big AS (
      |  SELECT d.doc_id, u.pos, d.ts[u.pos] || ' ' || d.ts[u.pos + 1] AS bg
      |  FROM dts d, UNNEST(range(1, len(d.ts))) AS u(pos)),
      |top1 AS (
      |  SELECT bg AS phrase FROM (
      |    SELECT bg, COUNT(*) AS c,
      |           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bg) AS rn
      |    FROM big GROUP BY bg) WHERE rn = 1)
      |SELECT b.doc_id, t.phrase,
      |       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |       CAST(MIN(b.pos) AS BIGINT) AS first_pos
      |FROM big b JOIN top1 t ON b.bg = t.phrase
      |GROUP BY b.doc_id, t.phrase
      |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    val dts = t(s, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
    val big = dts
      .select(col("doc_id"), posexplode(expr(
        "transform(slice(ts, 1, size(ts) - 1), (x, i) -> concat(x, ' ', ts[i + 1]))"))
        .as(Seq("p0", "bg")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("bg"))
    val top1 = big.groupBy("bg").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg").asc).limit(1) // TakeOrdered, no window
      .select(col("bg").as("phrase"))
    big.join(broadcast(top1), col("bg") === col("phrase"))
      .groupBy("doc_id", "phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("pos")).as("first_pos"))
  }

  val all: Seq[Q] =
    Seq(dedupExact, textStats, langId, docProfile, jaccardNearDup, mediaMeta,
      tokenCounts, fingerprintRolling, winnowFingerprint, trainSplit,
      shuffleOrder, packShards, chunkDocs, dedupNormalized, labelMismatch,
      incrementalDedup, frameSample, containmentNearDup, imageNearDup,
      phraseSearch)
}
