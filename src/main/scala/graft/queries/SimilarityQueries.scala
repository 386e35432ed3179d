package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{CosineTopK, Dedup, Ivf, Pairs, Similarity, Tables}
import graft.engine.Tables.t
import graft.queries.SubPlans.{CosineSql, closureCtes, cosineTopKSql}
import graft.functions.Vectors

/** LLM-data-pipeline batch 2: similarity search over the `embeddings` table.
  *
  * Scale shapes:
  *  - q_cosine_topk: the brute-force baseline done right — the BOUNDED query
  *    batch is broadcast, the vector corpus streams through ONE scan, and
  *    per-query top-k is a window over the scored stream. Cost is
  *    O(|queries| * N) with no shuffle of the corpus; correct for any N, and
  *    the yardstick ANN variants are measured against.
  *  - q_ann_ivf: partition-pruned search — each query searches only its own
  *    cell (the `label` column stands in for an IVF centroid assignment).
  *    The join is keyed on the cell id, so at 100 TB each query touches
  *    1/cells of the corpus.
  *  - q_ann_lsh: hyperplane-LSH bucketed search — the hyperplane signs are
  *    plan-time md5-derived literals, so the bucket assignment (and the
  *    whole query) is oracle-checked like the rest; planted-twin recall is
  *    additionally covered in SimilaritySpec.
  */
object SimilarityQueries {

  /** Brute-force cosine TOP-K — the exact ground-truth yardstick the ANN
    * paths approximate (and q_ann_recall grades against): broadcast query
    * batch (vec_id % 50), projected norms, one rank window per query.
    * Theta(N^2/50) BY DESIGN at self-search; the production form pins the
    * query batch (ScaleProbe's fixed_batch block measures it linear). */
  val cosineTopK: Q = Q(
    "q_cosine_topk",
    s"""WITH q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |${cosineTopKSql("q, e WHERE", 5)}""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    // norms are projected per VECTOR before the join (one evaluation each),
    // not per scored pair; the division tree matches the oracle's, so the
    // doubles are bit-identical
    val q = CosineTopK.withQueryNorm(emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), Vectors.asDouble(col("embedding")).as("qv")))
    val e = CosineTopK.withNorm(
      emb.select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")))
    CosineTopK(e.crossJoin(broadcast(q)), 5).orderBy("qid", "rk")
  }

  /** IVF-style ANN with LABEL cells: candidates come from an equi-join on
    * the query's cell key instead of a corpus scan — per-query work is
    * bounded by cell occupancy, the inverted-file shape a 100-TB index
    * runs (q_ann_ivf_learned replaces the labels with learned KMeans
    * cells; q_ann_recall grades both against the brute-force truth). */
  val annIvf: Q = Q(
    "q_ann_ivf",
    s"""WITH q AS (
      |  SELECT vec_id AS qid, label, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |${cosineTopKSql("q JOIN e ON q.label = e.label AND", 3)}""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val q = CosineTopK.withQueryNorm(emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label"),
        Vectors.asDouble(col("embedding")).as("qv")))
    val e = CosineTopK.withNorm(emb.select(col("vec_id"), col("label"),
      Vectors.asDouble(col("embedding")).as("v")))
    CosineTopK(e.join(broadcast(q), "label"), 3).orderBy("qid", "rk")
  }

  /** LSH-bucketed ANN: 4 hyperplanes -> 16 buckets; queries meet candidates
    * through an equi-join on the bucket key. The hyperplane signs are
    * plan-time md5-derived literals (Vectors.planeSigns), so the SAME
    * numbers are embedded in the DuckDB mirror and the bucket assignment —
    * and therefore the whole query — is fully oracle-checked. Twin and
    * recall behavior additionally covered in SimilaritySpec. */
  val annLsh: Q = {
    val bucketSql = Vectors.planeBucketSql("v", nPlanes = 4, dim = 64)
    Q(
      "q_ann_lsh",
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (
        |  SELECT vec_id, v,
        |      $bucketSql AS bucket
        |  FROM e0),
        |q AS (SELECT vec_id AS qid, bucket, v AS qv FROM b WHERE vec_id % 50 = 0),
        |${cosineTopKSql("q JOIN b e ON e.bucket = q.bucket AND", 3)}""".stripMargin) { (s, dir) =>
      val emb = Similarity.lshIndex(
        Tables.t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64, nPlanes = 4)
      val q = CosineTopK.withQueryNorm(emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("bucket"),
          Vectors.asDouble(col("embedding")).as("qv")))
      val e = CosineTopK.withNorm(emb.select(col("vec_id"), col("bucket"),
        Vectors.asDouble(col("embedding")).as("v")))
      CosineTopK(e.join(broadcast(q), "bucket"), 3).orderBy("qid", "rk")
    }
  }

  /** 32-bit SimHash near-dup over documents, fully oracle-checked: token
    * hashes come from the first 8 hex digits of md5 (identical in both
    * engines — Spark `conv(substring(md5(x),1,8),16,10)`, DuckDB
    * `CAST('0x'||substr(md5(x),1,8) AS BIGINT)`), so the fingerprints, the
    * 4x8-bit banded candidate join, and the Hamming<=3 verdicts all mirror
    * bit-for-bit. Planted twins: an exact copy (Hamming 0) of every 20th
    * doc and a one-token-appended near copy of every 10th. */
  val simhashNearDup: Q = {
    val bits = 32
    val bands = 4
    val r = bits / bands
    // popcount form (mirrors Similarity.simhashSignature): count 1-bits per
    // position, bit set iff ones exceed half the token count (ties -> 0)
    val sumsSql = (0 until bits)
      .map(p => s"SUM((v >> $p) & 1) AS b_$p")
      .mkString(",\n      |    ")
    val packSql = (0 until bits)
      .map(p => s"(CASE WHEN b_$p * 2 > n THEN CAST(1 AS BIGINT) << $p ELSE CAST(0 AS BIGINT) END)")
      .mkString(" +\n      |    ")
    Q(
      "q_simhash_neardup",
      s"""WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' simtwin' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM planted),
        |h AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS v FROM tok),
        |sums AS (
        |  SELECT doc_id, COUNT(*) AS n,
        |    $sumsSql
        |  FROM h GROUP BY doc_id),
        |fp AS (
        |  SELECT doc_id,
        |    $packSql AS simhash
        |  FROM sums),
        |keyed AS (
        |  SELECT doc_id, simhash, i.bidx, (simhash >> (i.bidx * $r)) & ${(1L << r) - 1} AS bval
        |  FROM fp, (SELECT unnest([0,1,2,3]) AS bidx) i),
        |kept AS (
        |  SELECT doc_id, simhash, bidx, bval FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bval) AS occ FROM keyed)
        |  WHERE occ <= 1000),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |         a.simhash AS s1, b.simhash AS s2
        |  FROM kept a JOIN kept b
        |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
        |FROM pairs
        |WHERE bit_count(xor(s1, s2)) <= 3
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .unionAll(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" simtwin")).as("text")))
        .unionAll(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      // spread before the md5 token-hash + 32-bitsum kernel: the scan is
      // 1-2 partitions and the signature stage otherwise runs there
      val sig = Similarity.simhashSignature(
        Tables.spread(planted, col("doc_id")), "doc_id", "text", bits,
        graft.functions.Text.md5Hash32)
      Similarity.simhashNearDupPairs(sig, "doc_id", bits, bands, maxHamming = 3)
    }
  }

  /** Embedding-cosine near-dup: pairs inside the same IVF cell (`label`)
    * with cosine >= 0.999 — at scale this is the verification pass that runs
    * over cell- or LSH-bucketed candidates (each vector only ever meets its
    * own cell, 1/cells of the corpus), never an all-pairs crossJoin.
    * Planted twins: every 25th vector duplicated verbatim (cosine exactly
    * 1.0) under vec_id + 100000, same label. Cosine is the codegen'd
    * sequential fold (graft_dot), bit-identical to DuckDB list_reduce. */
  val embedNearDup: Q = Q(
    "q_embed_neardup",
    s"""WITH planted AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, label, embedding
      |  FROM embeddings WHERE vec_id % 25 = 0),
      |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM planted),
      |scored AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2,
      |    list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))) AS cos
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT d1, d2, cos FROM scored
      |WHERE cos >= 0.999
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val planted = emb.select(col("vec_id"), col("label"), col("embedding"))
      .unionAll(emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("embedding")))
    val e = CosineTopK.withNorm(planted.select(col("vec_id"), col("label"),
      Vectors.asDouble(col("embedding")).as("v")))
    e.select(col("vec_id").as("d1"), col("label"), col("v").as("v1"), col("vn").as("n1"))
      .join(e.select(col("vec_id").as("d2"), col("label"), col("v").as("v2"), col("vn").as("n2")),
        Seq("label"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        Vectors.cosineFromNorms(col("v1"), col("v2"), col("n1"), col("n2")).as("cos"))
      .filter(col("cos") >= 0.999)
      .orderBy("d1", "d2")
  }

  // ---- MinHash parts shared by q_minhash_neardup and q_dedup_components ----
  private val MinhashK = 16
  private val MinhashBands = 8

  /** DuckDB CTE chain `planted` .. `pairs`: planted near-identical twins
    * (every 10th doc with one appended token) -> md5-hex-window MinHash
    * signatures -> banded candidate pairs with hot-bucket skip (occ <= 200).
    * Slot s -> md5 digest j = s/8, hex window i = s%8 (chars 4i+1..4i+4),
    * kept as hex STRINGS (lexicographic min == numeric min for fixed-width
    * hex); MUST match Similarity.minhashSignaturesMd5. Mirrored Spark-side
    * by [[minhashPlantedAndPairs]]. */
  /** The twin-planting CTE shared by every candidate-pair oracle: every
    * 10th doc gets a near-identical twin (one appended token) at
    * doc_id + 1000000, so candidate pairs exist at every scale. Mirrored
    * Spark-side by [[plantedDocs]]. */
  private val plantedCte: String =
    """planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' twinmarker' AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Levenshtein verify pass over a bounded candidate-pair set
    * (`d1`, `d2`, carry-through columns): joins the texts on, scores
    * edit distance / similarity, and issues the shared verdict contract
    * (`>= 0.9` similarity -> 'duplicate', else 'candidate_only').
    *
    * Three deliberate shapes, each one a measured pathology (the JVM
    * Levenshtein kernel costs ~0.7 ms per ~300-char pair — 7.6 s
    * single-core for a 10k-pair set — so every accidental serialization
    * or re-execution of the scoring pass is seconds on the clock):
    *  - the pair set is REPARTITIONED to the full shuffle width as the
    *    LAST exchange before scoring. AQE rightly coalesces every tiny
    *    pair-sized shuffle (a few hundred KB) to ONE partition by bytes —
    *    including the text-join exchanges, which is why the repartition
    *    must sit downstream of the joins: an upstream one is nullified by
    *    the joins' own coalescible exchanges. An explicit width is exempt
    *    from AQE coalescing (REPARTITION_BY_NUM): rows here are cheap to
    *    move, expensive to score.
    *  - NO presentation orderBy downstream: a range exchange's bounds
    *    SAMPLING re-executes its child plan, which doubled the whole
    *    Levenshtein pass (measured +4.5 s). The driver's compare (and
    *    tools/parity.py) sorts rows itself, and at 100 TB nobody global-
    *    sorts a verdict table — callers emit the scored rows unsorted
    *    (the oracle SQL keeps its ORDER BY; row order never enters the
    *    hash compare).
    *  - edit_dist is projected ONCE and similarity/verdict derive from
    *    the column, instead of repeating the levenshtein call in three
    *    output expressions and hoping for codegen subexpression reuse. */
  private def levenshteinVerdicts(s: SparkSession, planted: DataFrame,
      pairs: DataFrame): DataFrame = {
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    pairs
      .join(planted.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(planted.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
      .repartition(width, col("d1"), col("d2"))
      .withColumn("edit_dist",
        call_function("graft_levenshtein", col("t1"), col("t2")).cast("long"))
      .withColumn("similarity",
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("t1")), length(col("t2"))).cast("double"))
      .withColumn("verdict",
        when(col("similarity") >= 0.9, "duplicate").otherwise("candidate_only"))
      .drop("t1", "t2")
  }

  /** Spark mirror of [[plantedCte]]. */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionAll(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" twinmarker")).as("text")))
  }

  /** [[minhashPairCtes]] with the twin-planting CTE parametrized, so
    * epoch-split queries (q_incremental_neardup) reuse the identical
    * shingle → signature → band → hot-bucket-skip → pair machinery over
    * their own planted corpus. */
  private def minhashPairCtesWith(planted: String): String = {
    val slotsSql = (0 until MinhashK).map { s =>
      val j = s / 8
      val i = s % 8
      s"MIN(substr(md5('m$j:' || tok), ${4 * i + 1}, 4)) AS mh_$s"
    }.mkString(",\n    ")
    val bandsSql = (0 until MinhashBands).map { b =>
      s"""SELECT doc_id, $b AS band,
         |        mh_${2 * b} || ',' || mh_${2 * b + 1} AS bk
         |  FROM sig""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""$planted,
       |tokarr AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM planted),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(range(0, len(toks) - 2),
       |        i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]) END) AS tok
       |  FROM tokarr),
       |sig AS (
       |  SELECT doc_id,
       |    $slotsSql
       |  FROM sh GROUP BY doc_id),
       |keyed AS (
       |  $bandsSql),
       |kept AS (
       |  SELECT doc_id, band, bk FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, bk) AS occ FROM keyed)
       |  WHERE occ <= 200),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def minhashPairCtes: String = minhashPairCtesWith(plantedCte)

  /** The candidate `pairs` of [[minhashPairCtes]] symmetrized into `sym`
    * and closed into `comp` (id -> cluster) by [[SubPlans.closureCtes]]. */
  private val pairsClosureCtes: String =
    s"""sym AS (
      |  SELECT d1 AS a, d2 AS b FROM pairs
      |  UNION
      |  SELECT d2 AS a, d1 AS b FROM pairs),
      |$closureCtes""".stripMargin

  /** Spark pipeline [[minhashPairCtes]] mirrors: (planted docs, candidate
    * pairs). Per-row HOF signatures (shuffle-free; slot-equal to the
    * aggregation path by SimilaritySpec). */
  private def minhashPlantedAndPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val planted = plantedDocs(s, dir)
    // spread before the md5 signature kernel: the documents scan is 1-2
    // partitions and the per-row shingle+digest work otherwise runs on
    // that many cores (measured: the 2-task signature stage was the
    // single largest slice of every dedup-family query at sf0.1)
    val sig = Similarity.withMinhashSignature(
        Tables.spread(planted, col("doc_id")), "text", k = MinhashK)
      .drop("text")
    // LAZY checkpoint: several consumers (ROUGE's two overlap joins +
    // its readout, recall grading) reference the pair frame more than
    // once per query, and each reference otherwise re-runs the band
    // self-join + distinct; lazy, so single-consumer queries pay only
    // the in-passing cache write. (An optimization round ALSO measured
    // the eager form — one pinned execution, no concurrent-consumer
    // race — and it regressed every single-consumer family member by
    // 0.5-1.1s: the extra blocking materialization + cache round-trip
    // costs more than the occasional duplicated stage saves.)
    val pairs = Similarity.lshCandidatePairs(sig, "doc_id", k = MinhashK,
      bands = MinhashBands, bandKey = cols => concat_ws(",", cols: _*))
      .localCheckpoint(false)
    (planted, pairs)
  }

  /** MinHash+LSH near-dup candidates over documents (8 bands x 2 rows on a
    * 16-slot signature), with planted near-identical twins so candidates
    * exist at every scale. Fully oracle-checked: slot hashes are 4-char hex
    * windows of md5 digests and the band join key is a plain concat, both
    * reproducible in DuckDB, so the signatures, banding, hot-bucket skip,
    * and candidate pairs all hash-match. */
  val minhashNearDup: Q = Q(
    "q_minhash_neardup",
    "WITH " + minhashPairCtes + "\nSELECT d1, d2 FROM pairs\nORDER BY d1, d2") {
    (s, dir) =>
      val (_, pairs) = minhashPlantedAndPairs(s, dir)
      pairs
  }

  /** Near-dup RESOLUTION end-to-end: the banded MinHash candidate pairs
    * (exactly q_minhash_neardup's — shared CTEs) become undirected edges;
    * Dedup.resolve assigns every planted doc its duplicate-cluster id (min
    * reachable doc_id) and a canonical flag. The DuckDB mirror closes the
    * edge set transitively with a recursive CTE and takes the per-node min —
    * the same fixpoint Dedup.components reaches by min-label propagation, so
    * the distributed iterative loop is hash-checked against a declarative
    * closure (the q_sir_simulate technique applied to a graph operator). */
  val dedupComponents: Q = Q(
    "q_dedup_components",
    "WITH RECURSIVE " + minhashPairCtes + s""",
      |$pairsClosureCtes
      |SELECT p.doc_id,
      |       COALESCE(c.cluster, p.doc_id) AS cluster,
      |       COALESCE(c.cluster, p.doc_id) = p.doc_id AS is_canonical
      |FROM planted p LEFT JOIN comp c ON c.id = p.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val (planted, pairs) = minhashPlantedAndPairs(s, dir)
    Dedup.resolve(planted.select("doc_id"), "doc_id", pairs)
      .select(col("doc_id"), col("cluster"), col("is_canonical"))
  }

  /** QUALITY-based canonical selection per duplicate cluster — the
    * resolution POLICY step between clustering and the kept corpus: where
    * q_dedup_components names clusters by min-id, a real pipeline keeps
    * the best VARIANT (here: longest text, the keep-most-complete
    * heuristic; ties to smallest id). Emits every doc with its cluster,
    * quality, the cluster's canonical doc, and the keep verdict.
    *
    * Shape at 100 TB: the per-cluster argmax is
    * `max(struct(quality, -doc_id))` — a map-side-combined aggregation
    * carrying ONE slim row per cluster into the shuffle (the
    * q_semantic_decontaminate shape), then a keyed join of the bounded
    * canon table back onto the assignments; no window over cluster
    * partitions, no skew exposure on a mega-cluster. The DuckDB mirror
    * resolves the same fixpoint with a recursive CTE and picks the same
    * canonical via a rank window, so policy AND clustering hash-match. */
  val dedupCanonical: Q = Q(
    "q_dedup_canonical",
    "WITH RECURSIVE " + minhashPairCtes + s""",
      |$pairsClosureCtes,
      |asg AS (
      |  SELECT p.doc_id, COALESCE(c.cluster, p.doc_id) AS cluster,
      |         COALESCE(length(p.text), -1) AS quality
      |  FROM planted p LEFT JOIN comp c ON c.id = p.doc_id),
      |canon AS (
      |  SELECT cluster, doc_id AS canonical_id FROM (
      |    SELECT cluster, doc_id,
      |           ROW_NUMBER() OVER (PARTITION BY cluster
      |                              ORDER BY quality DESC, doc_id) AS rk
      |    FROM asg) WHERE rk = 1)
      |SELECT a.doc_id, a.cluster, CAST(a.quality AS BIGINT) AS quality,
      |       c.canonical_id, a.doc_id = c.canonical_id AS is_kept
      |FROM asg a JOIN canon c USING (cluster)
      |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
    val (planted, pairs) = minhashPlantedAndPairs(s, dir)
    val comp = Dedup.components(pairs)
      .withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "cluster")
    val asg = planted
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        coalesce(length(col("text")), lit(-1)).cast("long").as("quality"))
    val canon = asg.groupBy("cluster")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster"), (-col("m.nid")).as("canonical_id"))
    asg.join(canon, "cluster")
      .select(col("doc_id"), col("cluster"), col("quality"),
        col("canonical_id"), (col("doc_id") === col("canonical_id")).as("is_kept"))
  }

  /** DEDUP RUN REPORT — the cluster-size histogram every dedup pass emits
    * before anyone trusts it: one row per duplicate-cluster size with the
    * cluster count, the documents they hold, and the rows a
    * keep-one-per-cluster policy would remove. The shape of this histogram
    * is the primary health check on a 100-TB dedup run (a sudden mass in
    * large clusters means boilerplate leaked past the df-cut; a flat
    * all-singleton histogram means the candidate generation broke), and
    * summing `n_removable` gives the corpus-level dedup ratio in one scan
    * of the report.
    *
    * Shape at 100 TB: everything past the (shared) component fixpoint is
    * two keyed aggregations — docs -> per-cluster size (map-side
    * combined, one slim row per cluster), sizes -> per-size counts
    * (output bounded by DISTINCT cluster sizes, a near-constant handful at
    * any corpus scale). No windows, no joins against the corpus. */
  val dedupStats: Q = Q(
    "q_dedup_stats",
    "WITH RECURSIVE " + minhashPairCtes + s""",
      |$pairsClosureCtes,
      |asg AS (
      |  SELECT p.doc_id, COALESCE(c.cluster, p.doc_id) AS cluster
      |  FROM planted p LEFT JOIN comp c ON c.id = p.doc_id),
      |sizes AS (SELECT cluster, COUNT(*) AS sz FROM asg GROUP BY cluster)
      |SELECT CAST(sz AS BIGINT) AS cluster_size,
      |       CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |       CAST(SUM(sz) AS BIGINT) AS n_docs,
      |       CAST(SUM(sz - 1) AS BIGINT) AS n_removable
      |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin) { (s, dir) =>
    val (planted, pairs) = minhashPlantedAndPairs(s, dir)
    val comp = Dedup.components(pairs)
      .withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "cluster")
    planted.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_removable"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("n_removable"))
  }

  /** Near-dup VERIFICATION: the exact edit-distance check that turns the
    * banded MinHash CANDIDATE pairs (exactly q_minhash_neardup's — shared
    * CTEs) into verdicts — the candidate→verify contract of every LSH
    * pipeline: banding trades recall for a bounded candidate set, and a
    * precise (here exact Levenshtein) pass rescues precision. Planted
    * twins differ by the 11-char " twinmarker" suffix, so every twin pair
    * carries edit_dist exactly 11; twins over 110 chars clear the 0.9
    * similarity bar while SHORT twins legitimately fall below it (a fixed
    * edit weighs more on a short doc — the precision/recall dial the
    * threshold exposes, pinned by SimilaritySpec), and accidental banding
    * collisions (unrelated docs sharing a band key) land far below it —
    * the verdict column separates signal from LSH noise at every scale.
    *
    * Shape at 100 TB: Levenshtein is O(len_a * len_b) PER PAIR, which is
    * exactly why it must never run all-pairs — the cost is
    * |candidates| * len², and |candidates| is the banding output (bounded
    * by the hot-bucket skip, occ <= 200). Texts join onto the slim pair
    * list by doc id (two keyed shuffles carrying only matched rows);
    * both engines implement classic unit-cost Levenshtein, so the
    * distances, similarities (one double divide), and threshold verdicts
    * hash-match. */
  val nearDupVerify: Q = Q(
    "q_neardup_verify",
    "WITH " + minhashPairCtes + """,
      |scored AS (
      |  SELECT p.d1, p.d2, levenshtein(a.text, b.text) AS ed,
      |         GREATEST(length(a.text), length(b.text)) AS ml
      |  FROM pairs p
      |  JOIN planted a ON a.doc_id = p.d1
      |  JOIN planted b ON b.doc_id = p.d2)
      |SELECT d1, d2, CAST(ed AS BIGINT) AS edit_dist,
      |       CAST(1 AS DOUBLE) - CAST(ed AS DOUBLE) / ml AS similarity,
      |       CASE WHEN CAST(1 AS DOUBLE) - CAST(ed AS DOUBLE) / ml >= 0.9
      |            THEN 'duplicate' ELSE 'candidate_only' END AS verdict
      |FROM scored
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val (planted, pairs) = minhashPlantedAndPairs(s, dir)
    levenshteinVerdicts(s, planted, pairs)
      .select(col("d1"), col("d2"), col("edit_dist"), col("similarity"),
        col("verdict"))
  }

  /** Winnowing candidate pairs + verify — the MOSS plagiarism-detection
    * loop closed end-to-end: winnow fingerprint selection
    * ([[graft.engine.Similarity.winnowSelectedHashes]]) -> equi-join on
    * shared selected hashes -> exact Levenshtein verdict on the bounded
    * candidate set (the same verdict contract as q_neardup_verify). Where
    * MinHash banding finds pairs with high WHOLE-DOC similarity in
    * expectation, a shared winnow fingerprint certifies a shared run of
    * >= 6 tokens (the winnowing guarantee) — partial overlap MinHash
    * structurally misses. Planted twins (shared helpers with the minhash
    * family) guarantee signal at every scale; all land at n_shared far
    * above the >= 2 noise cut that drops single-shared-phrase accidents
    * (sf0.1: 405k raw pairs -> 10.3k cut survivors, all 500 twins kept).
    *
    * Shape at 100 TB: candidate generation is an equi-join on the
    * fingerprint hash with a doc-frequency cap (dropHotKeys, occ <= 200 —
    * a stopword-grade fingerprint shared by everything generates at most
    * occ^2/2 pairs, then none), never all-pairs; the per-pair Levenshtein
    * runs only on cut survivors. The n_shared >= 2 cut runs AFTER the
    * map-side-combined pair count, so the quadratic noise never reaches
    * the verify join. */
  val winnowPairs: Q = Q(
    "q_winnow_pairs",
    s"""WITH $plantedCte,
      |tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM planted
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
      |  SELECT w.doc_id, w.j, h.h
      |  FROM win w JOIN hrow h
      |    ON h.doc_id = w.doc_id AND h.p BETWEEN w.j AND w.j + 3),
      |selw AS (SELECT doc_id, j, MIN(h) AS mh FROM cand GROUP BY doc_id, j),
      |fp AS (SELECT DISTINCT doc_id, mh AS h FROM selw),
      |freq AS (SELECT h, COUNT(*) AS n FROM fp GROUP BY h),
      |kept AS (
      |  SELECT f.doc_id, f.h FROM fp f JOIN freq ON freq.h = f.h
      |  WHERE freq.n <= 200),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
      |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |cut AS (SELECT * FROM pairs WHERE n_shared >= 2),
      |scored AS (
      |  SELECT p.d1, p.d2, p.n_shared, levenshtein(a.text, b.text) AS ed,
      |         GREATEST(length(a.text), length(b.text)) AS ml
      |  FROM cut p
      |  JOIN planted a ON a.doc_id = p.d1
      |  JOIN planted b ON b.doc_id = p.d2)
      |SELECT d1, d2, CAST(n_shared AS BIGINT) AS n_shared,
      |       CAST(ed AS BIGINT) AS edit_dist,
      |       CAST(1 AS DOUBLE) - CAST(ed AS DOUBLE) / ml AS similarity,
      |       CASE WHEN CAST(1 AS DOUBLE) - CAST(ed AS DOUBLE) / ml >= 0.9
      |            THEN 'duplicate' ELSE 'candidate_only' END AS verdict
      |FROM scored
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val planted = plantedDocs(s, dir)
    // spread before the winnowing kernel (1-2 scan partitions otherwise)
    val fp = Similarity.winnowSelectedHashes(
      Tables.spread(planted, col("doc_id")), "doc_id", "text")
    val kept = Similarity.dropHotKeys(fp, Seq("fph"), 200)
    val pairs = kept.select(col("doc_id").as("d1"), col("fph"))
      .join(kept.select(col("doc_id").as("d2"), col("fph").as("fph2")),
        col("fph") === col("fph2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    levenshteinVerdicts(s, planted, pairs)
      .select(col("d1"), col("d2"), col("n_shared"), col("edit_dist"),
        col("similarity"), col("verdict"))
  }

  /** int8 embedding quantization ROUND-TRIP, oracle-checked per vector:
    * stored scale (after the float32 truncation the storage format applies),
    * L1 mass of the quantized codes, worst-case absolute reconstruction
    * error, and the cosine between the original and dequantized vector (the
    * retrieval-quality measure — QuantizeSpec bounds the drift; here every
    * value is hash-matched). All pure column arithmetic
    * (functions/Vectors.scala) with the identical expression tree in DuckDB:
    * max-abs fold, round-half-away quantize, float-truncated scale, and
    * sequential-fold cosine are each bit-reproducible. */
  val quantizeRoundtrip: Q = Q(
    "q_quantize_roundtrip",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sc AS (
      |  SELECT vec_id, v,
      |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS s_d
      |  FROM e),
      |qz AS (
      |  SELECT vec_id, v, s_d,
      |         CAST(CAST(s_d AS FLOAT) AS DOUBLE) AS s_f,
      |         list_transform(v, x -> CASE WHEN s_d = 0 THEN CAST(0 AS TINYINT)
      |                                     ELSE CAST(round(x / s_d) AS TINYINT) END) AS q
      |  FROM sc),
      |dq AS (
      |  SELECT vec_id, v, s_f, q,
      |         list_transform(q, x -> CAST(x AS DOUBLE) * s_f) AS dv
      |  FROM qz)
      |SELECT vec_id,
      |       CAST(len(v) AS INTEGER) AS n_dims,
      |       s_f AS scale,
      |       CAST(list_reduce(list_transform(q, x -> CAST(abs(x) AS BIGINT)), (a, b) -> a + b) AS BIGINT) AS q_l1,
      |       list_max(list_transform(list_zip(v, dv), p -> abs(p[1] - p[2]))) AS max_abs_err,
      |       CASE WHEN s_f = 0 THEN 1.0 ELSE
      |         list_reduce(list_transform(list_zip(v, dv), p -> p[1] * p[2]), (x, y) -> x + y)
      |         / (sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y))
      |          * sqrt(list_reduce(list_transform(dv, x -> x * x), (x, y) -> x + y))) END AS cos_keep
      |FROM dq
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val withQ = t(s, dir, "embeddings")
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
      // scale hoisted to its own projection: referenced inside the quantize
      // transform lambda it would re-run the max-abs fold per ELEMENT
      .withColumn("s_d", Vectors.maxAbsScale(col("v")))
      .withColumn("q", Vectors.quantizeInt8(col("v"), col("s_d")))
      .withColumn("dv", Vectors.dequantizeInt8(col("q")))
    val scaleF = col("q").getField("scale").cast("double")
    withQ.select(
      col("vec_id"),
      size(col("v")).as("n_dims"),
      scaleF.as("scale"),
      aggregate(col("q").getField("q"), lit(0L),
        (a, x) => a + abs(x).cast("long")).as("q_l1"),
      aggregate(zip_with(col("v"), col("dv"), (a, b) => abs(a - b)), lit(0.0),
        (m, x) => greatest(m, x)).as("max_abs_err"),
      when(scaleF === 0.0, lit(1.0))
        .otherwise(Vectors.cosineNative(col("v"), col("dv"))).as("cos_keep"))
      .orderBy("vec_id")
  }

  /** ANN retrieval over the int8-QUANTIZED store: the composition a
    * memory-bounded 100-TB vector index actually runs — corpus vectors are
    * kept quantized (4x smaller than float32), queries stay full-precision,
    * candidates come from the same cell-pruned equi-join as q_ann_ivf, and
    * ranking uses the dequantized corpus vector. Oracle-checked end to end:
    * the dequantized array is bit-reproducible (q_quantize_roundtrip proves
    * the store) and the cosine is the usual sequential fold. Comparing
    * results against q_ann_ivf measures the recall cost of quantization on
    * identical candidates. */
  val annInt8: Q = Q(
    "q_ann_int8",
    s"""WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v0 FROM embeddings),
      |sc AS (
      |  SELECT vec_id, label, v0,
      |         list_max(list_transform(v0, x -> abs(x))) / 127.0 AS s_d
      |  FROM e0),
      |dq AS (
      |  SELECT vec_id, label,
      |         list_transform(
      |           list_transform(v0, x -> CASE WHEN s_d = 0 THEN CAST(0 AS TINYINT)
      |                                        ELSE CAST(round(x / s_d) AS TINYINT) END),
      |           c -> CAST(c AS DOUBLE) * CAST(CAST(s_d AS FLOAT) AS DOUBLE)) AS v
      |  FROM sc),
      |q AS (SELECT vec_id AS qid, label, v0 AS qv FROM e0 WHERE vec_id % 50 = 0),
      |${cosineTopKSql("q JOIN dq e ON q.label = e.label AND", 3)}""".stripMargin) { (s, dir) =>
    val e0 = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), Vectors.asDouble(col("embedding")).as("v0"))
    val dq = CosineTopK.withNorm(e0
      // scale hoisted (see q_quantize_roundtrip): one max-abs fold per row
      .withColumn("s_d", Vectors.maxAbsScale(col("v0")))
      .withColumn("q8", Vectors.quantizeInt8(col("v0"), col("s_d")))
      .select(col("vec_id"), col("label"),
        Vectors.dequantizeInt8(col("q8")).as("v")))
    val q = CosineTopK.withQueryNorm(e0.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label"), col("v0").as("qv")))
    CosineTopK(dq.join(broadcast(q), "label"), 3).orderBy("qid", "rk")
  }

  /** LEARNED-IVF ANN search (Ivf.learnedCellRanks): hyperplane-LSH init
    * cells refined by one Lloyd step with fixed-point deterministic means,
    * every vector assigned to its nearest LEARNED centroid (rk = 1), queries
    * probing their nProbe = 2 nearest cells out of up to 8 — strictly fewer
    * than the cell count, so this exercises the recall/cost dial the
    * `label`-cell q_ann_ivf cannot. Fully oracle-checked: the centroid
    * matrix is an exact integer-ratio computation (see learnedCellRanks) the
    * SQL mirror reproduces bit-for-bit, and distances/cosines are the usual
    * sequential folds. */
  val annIvfLearned: Q = {
    val nPlanes = 3
    val dim = 64
    val cellSql = Vectors.planeBucketSql("v", nPlanes, dim, table = 1)
    Q(
      "q_ann_ivf_learned",
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (
        |  SELECT vec_id, v,
        |      $cellSql AS cell0
        |  FROM e0),
        |pos AS (
        |  SELECT cell0, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM b),
        |pp AS (
        |  SELECT cell0, pos,
        |         CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        |         COUNT(*) AS n
        |  FROM pos GROUP BY cell0, pos),
        |cent AS (
        |  SELECT cell0 AS cell,
        |         list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) ORDER BY pos) AS cv
        |  FROM pp GROUP BY cell0),
        |scored0 AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |         list_reduce(list_transform(list_zip(e.v, c.cv),
        |                                    p -> (p[1] - p[2]) * (p[1] - p[2])),
        |                     (x, y) -> x + y) AS dist
        |  FROM b e CROSS JOIN cent c),
        |rkd AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
        |  FROM scored0),
        |asg AS (SELECT vec_id, cell, v FROM rkd WHERE rk = 1),
        |q AS (SELECT vec_id AS qid, cell, v AS qv FROM rkd
        |      WHERE vec_id % 50 = 0 AND rk <= 2),
        |${cosineTopKSql("q JOIN asg e ON q.cell = e.cell AND", 3)}""".stripMargin) { (s, dir) =>
      // the learned fit (posexplode + two aggregations + centroid ranking)
      // feeds BOTH the assignment side and the probe side — checkpoint it
      // once so neither consumer re-executes the pipeline (the
      // Dedup.components lesson)
      val ranks = Ivf.learnedCellRanks(t(s, dir, "embeddings"), "vec_id",
        "embedding", dim = dim, nPlanes = nPlanes, table = 1)
        .localCheckpoint(eager = true)
      val asg = CosineTopK.withNorm(ranks.filter(col("rk") === 1)
        .select(col("vec_id"), col("cell"), col("v")))
      val q = CosineTopK.withQueryNorm(
        ranks.filter(col("vec_id") % 50 === 0 && col("rk") <= 2)
          .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv")))
      CosineTopK(asg.join(broadcast(q), "cell"), 3).orderBy("qid", "rk")
    }
  }

  /** PQ geometry constants — shared by the declared query's SQL mirror and
    * [[pqSearchTopK]] (one source, so the oracle and any probe caller run
    * the identical codebook shape). */
  private val PqM = 4
  private val PqSubDim = 16
  private val PqPlanes = 2

  /** SQL mirror of [[pqPipeline]]'s per-subspace init cell of `sv`. */
  private val pqCellCase = (0 until PqM)
    .map(m => s"WHEN $m THEN (\n      " +
      s"${Vectors.planeBucketSql("sv", PqPlanes, PqSubDim, table = 20 + m)})")
    .mkString(s"CASE m\n      ", "\n      ", "\n      END")

  /** The q_ann_pq Spark pipeline with the QUERY-BATCH predicate
    * parametrized: the declared query self-searches (`vec_id % 50 = 0`,
    * the Θ(B·N) yardstick — PQ/ADC compresses, it does not prune, so every
    * query scores every code by design), while ScaleProbe pins the batch
    * to the base replica to measure the PRODUCTION shape (constant batch,
    * cost linear in corpus codes). */
  private[graft] def pqSearchTopK(s: SparkSession, dir: String,
      qFilter: org.apache.spark.sql.Column): DataFrame =
    pqPipeline(s, dir, qFilter, coarse = false)

  /** The q_ann_ivfpq Spark pipeline: [[pqPipeline]] with the coarse IVF
    * cell restriction on — each query's ADC join touches only codes in its
    * own coarse cell, retiring the scan-every-code term that makes plain
    * PQ super-linear at self-search. */
  private[graft] def ivfPqSearchTopK(s: SparkSession, dir: String,
      qFilter: org.apache.spark.sql.Column): DataFrame =
    pqPipeline(s, dir, qFilter, coarse = true)

  /** Shared PQ/ADC pipeline. With `coarse = true` the `label` column rides
    * along as the IVF coarse cell: codes carry their vector's label, query
    * distance tables carry the query's, and the ADC join adds the coarse
    * equality — composition of the q_ann_ivf cell pruning with the q_ann_pq
    * quantized scoring (IVFADC, Jégou et al. 2011 §IV). Codebooks stay
    * corpus-global (shared across coarse cells), so the fit is unchanged
    * and the two paths' ADC scores are directly comparable. */
  private def pqPipeline(s: SparkSession, dir: String,
      qFilter: org.apache.spark.sql.Column, coarse: Boolean): DataFrame = {
    val M = PqM; val SubDim = PqSubDim; val Planes = PqPlanes
    val carry = if (coarse) Seq("vec_id", "label") else Seq("vec_id")
    val e0 = t(s, dir, "embeddings")
      .select(carry.map(col) :+ Vectors.asDouble(col("embedding")).as("v"): _*)
    val sub = e0.select(carry.map(col) :+ explode(array((0 until M).map(m =>
        struct(lit(m).as("m"),
          slice(col("v"), m * SubDim + 1, SubDim).as("sv"))): _*)).as("s"): _*)
      .select(carry.map(col) ++ Seq(col("s.m").as("m"), col("s.sv").as("sv")): _*)
    // per-subspace init cell: literal-sign LSH per m (plan-time signs,
    // distinct namespace per subspace)
    val cell0 = (0 until M).foldRight(
        lit(null).cast("long"): org.apache.spark.sql.Column) {
      (m, els) => when(col("m") === m,
        Vectors.lshBucket(col("sv"), SubDim, Planes, table = 20 + m))
        .otherwise(els)
    }
    val pos = sub.withColumn("cell0", cell0)
      .select(col("m"), col("cell0"), posexplode(col("sv")).as(Seq("pos", "x")))
    val pp = pos.groupBy("m", "cell0", "pos")
      .agg(sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
    val cent = pp
      .select(col("m"), col("cell0"),  col("pos"),
        (col("sq").cast("double") / (col("n") * lit(1000000L)).cast("double")).as("c"))
      .groupBy("m", "cell0")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
      .select(col("m"), col("cell0").as("cell"), col("cv"))
    // subspace distances feed BOTH the encode argmin and the query
    // tables — checkpoint once (the q_ann_ivf_learned lesson)
    val sc0 = sub.join(broadcast(cent), Seq("m"))
      .withColumn("dist",
        aggregate(zip_with(col("sv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      .select(carry.map(col) ++ Seq(col("m"), col("cell"), col("dist")): _*)
      .localCheckpoint(eager = true)
    val wEnc = Window.partitionBy("vec_id", "m").orderBy(col("dist"), col("cell"))
    val enc = sc0.withColumn("rk", row_number().over(wEnc))
      .filter(col("rk") === 1)
      .select(carry.map(col) ++ Seq(col("m"), col("cell").as("code")): _*)
    val qd = sc0.filter(qFilter)
      .select(Seq(col("vec_id").as("qid"), col("m").as("qm"),
        col("cell").as("qcell"), col("dist")) ++
        (if (coarse) Seq(col("label").as("qlabel")) else Nil): _*)
    val joinCond = {
      val base = col("qm") === col("m") && col("qcell") === col("code") &&
        col("vec_id") =!= col("qid")
      if (coarse) base && col("qlabel") === col("label") else base
    }
    val adc = enc.join(broadcast(qd), joinCond)
      .groupBy("qid", "vec_id")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("m"), col("dist")))),
          x => x.getField("dist")),
        lit(0.0), (acc, x) => acc + x).as("adist"))
    val wQ = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    val top = adc.withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= 3)
    // bounded (3 per query) join-back for the exact-distance grade
    top.join(broadcast(top.select("qid").distinct()
        .join(e0, col("qid") === col("vec_id"))
        .select(col("qid"), col("v").as("qv"))), Seq("qid"))
      .join(e0.select(col("vec_id"), col("v").as("bv")), Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("adist"),
        aggregate(zip_with(col("qv"), col("bv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("dist_exact"),
        col("rk"))
  }

  /** PRODUCT-QUANTIZATION ANN (PQ + ADC) — the memory-bounded index form
    * past int8: the 64-dim vector splits into M = 4 subspaces of 16 dims;
    * each subspace learns its own bounded codebook (hyperplane-LSH init
    * cells + exact integer-ratio centroids, the q_ann_ivf_learned fit run
    * per subspace) and every vector is ENCODED as its 4 nearest-centroid
    * codes — 4 small ints standing in for 64 floats, the ~64x compression
    * that lets a 100-TB index hold its entire store in executor memory.
    * Search is asymmetric distance computation (ADC, Jégou et al. 2011):
    * a query precomputes its distance to every centroid (M x cells = 16
    * rows per query — a broadcast-scale lookup table by construction) and
    * a candidate's approximate distance is the SUM of table lookups at its
    * codes; the search pass scans CODES ONLY, never the vectors. The
    * exact distance of each returned pair rides along (`dist_exact`) so
    * the readout grades the quantization error in place.
    *
    * Determinism: centroids are exact integer ratios (order-independent
    * fixed-point sums); subspace distances are sequential zip folds;
    * the ADC sum folds the M per-subspace terms IN SUBSPACE ORDER
    * (list(dist ORDER BY m) / sorted collect_list — a float sum in
    * arbitrary order would be partition-layout-dependent); ranks break
    * ties (dist, cell) and (adist, vec_id). Every column hash-matches.
    *
    * Shape at 100 TB: codebooks are bounded (M x 2^planes x subDim
    * doubles) and broadcast; encoding is one scan with a ≤ 2^planes
    * fan-out per (vector, subspace); the ADC join is code-equi-keyed
    * against the broadcast query tables with map-side partial sums —
    * per-query work is linear in CODES, zero full-vector reads until the
    * bounded top-k join-back. Implementation: [[pqSearchTopK]] with the
    * self-search batch (`vec_id % 50 = 0`). */
  val annPq: Q = {
    Q(
      "q_ann_pq",
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sub AS (
        |  SELECT vec_id, m, list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
        |  FROM e0 CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) ms),
        |b AS (
        |  SELECT vec_id, m, sv,
        |    $pqCellCase AS cell0
        |  FROM sub),
        |pos AS (
        |  SELECT m, cell0, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos FROM b),
        |pp AS (
        |  SELECT m, cell0, pos,
        |         CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        |         COUNT(*) AS n
        |  FROM pos GROUP BY m, cell0, pos),
        |cent AS (
        |  SELECT m, cell0 AS cell,
        |         list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) ORDER BY pos) AS cv
        |  FROM pp GROUP BY m, cell0),
        |sc0 AS (
        |  SELECT s.vec_id, s.m, c.cell,
        |         list_reduce(list_transform(list_zip(s.sv, c.cv),
        |                                    p -> (p[1] - p[2]) * (p[1] - p[2])),
        |                     (x, y) -> x + y) AS dist
        |  FROM sub s JOIN cent c ON c.m = s.m),
        |enc AS (
        |  SELECT vec_id, m, cell AS code FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cell) AS rk
        |    FROM sc0) WHERE rk = 1),
        |qd AS (SELECT vec_id AS qid, m, cell, dist FROM sc0 WHERE vec_id % 50 = 0),
        |adc AS (
        |  SELECT q.qid, c.vec_id,
        |         list_reduce(list(q.dist ORDER BY q.m), (x, y) -> x + y) AS adist
        |  FROM enc c JOIN qd q ON q.m = c.m AND q.cell = c.code AND c.vec_id <> q.qid
        |  GROUP BY q.qid, c.vec_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
        |  FROM adc),
        |top AS (SELECT qid, vec_id, adist, rk FROM ranked WHERE rk <= 3)
        |SELECT t.qid, t.vec_id, t.adist,
        |       list_reduce(list_transform(list_zip(a.v, b.v),
        |                                  p -> (p[1] - p[2]) * (p[1] - p[2])),
        |                   (x, y) -> x + y) AS dist_exact,
        |       t.rk
        |FROM top t JOIN e0 a ON a.vec_id = t.qid
        |           JOIN e0 b ON b.vec_id = t.vec_id
        |ORDER BY t.qid, t.rk""".stripMargin) { (s, dir) =>
      pqSearchTopK(s, dir, col("vec_id") % 50 === 0)
    }
  }

  /** COMPOSED IVF + PQ SEARCH (IVFADC, Jégou et al. 2011 §IV) — the two
    * production halves run TOGETHER the way a 100-TB vector index deploys
    * them: the coarse inverted file prunes (each query meets only codes in
    * its own coarse cell — here the `label` cell, q_ann_ivf's convention)
    * and product quantization compresses (candidates are scored from 4
    * codes through the query's broadcast ADC distance tables, never from
    * the float vectors). This retires the one super-linear shape left in
    * SCALING: plain PQ must scan EVERY code per query (compression without
    * pruning — Θ(B·N) at self-search), while here each query's ADC join
    * touches 1/cells of the code table, so even the growing self-search
    * batch probes near-linear. Codebooks stay corpus-global (shared across
    * coarse cells, the codebook-sharing IVFADC variant), so the fit is
    * q_ann_pq's bit-for-bit and the ADC scores are directly comparable
    * across the two paths. `dist_exact` rides along to grade quantization
    * error in place; SimilaritySpec grades recall against the exact-L2
    * same-cell truth and the global exact-L2 truth.
    *
    * Determinism: identical value trees to q_ann_pq (exact integer-ratio
    * centroids, sequential zip folds, subspace-ordered ADC sums); the
    * coarse restriction only FILTERS the candidate set, adding no float
    * arithmetic — every column hash-matches.
    *
    * Shape at 100 TB: codebooks broadcast (M x 2^planes x subDim doubles);
    * encoding one scan; the ADC join is (coarse cell, subspace, code)-keyed
    * against broadcast query tables with map-side partial sums; per-query
    * work is |cell|/64 bytes-equivalent of codes. Implementation:
    * [[ivfPqSearchTopK]] with the self-search batch. */
  val annIvfPq: Q = {
    Q(
      "q_ann_ivfpq",
      s"""WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |sub AS (
        |  SELECT vec_id, label, m,
        |         list_slice(v, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
        |  FROM e0 CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) ms),
        |b AS (
        |  SELECT vec_id, label, m, sv,
        |    $pqCellCase AS cell0
        |  FROM sub),
        |pos AS (
        |  SELECT m, cell0, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos FROM b),
        |pp AS (
        |  SELECT m, cell0, pos,
        |         CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        |         COUNT(*) AS n
        |  FROM pos GROUP BY m, cell0, pos),
        |cent AS (
        |  SELECT m, cell0 AS cell,
        |         list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) ORDER BY pos) AS cv
        |  FROM pp GROUP BY m, cell0),
        |sc0 AS (
        |  SELECT s.vec_id, s.label, s.m, c.cell,
        |         list_reduce(list_transform(list_zip(s.sv, c.cv),
        |                                    p -> (p[1] - p[2]) * (p[1] - p[2])),
        |                     (x, y) -> x + y) AS dist
        |  FROM sub s JOIN cent c ON c.m = s.m),
        |enc AS (
        |  SELECT vec_id, label, m, cell AS code FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cell) AS rk
        |    FROM sc0) WHERE rk = 1),
        |qd AS (SELECT vec_id AS qid, label AS qlabel, m, cell, dist
        |       FROM sc0 WHERE vec_id % 50 = 0),
        |adc AS (
        |  SELECT q.qid, c.vec_id,
        |         list_reduce(list(q.dist ORDER BY q.m), (x, y) -> x + y) AS adist
        |  FROM enc c JOIN qd q ON q.m = c.m AND q.cell = c.code
        |                       AND q.qlabel = c.label AND c.vec_id <> q.qid
        |  GROUP BY q.qid, c.vec_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
        |  FROM adc),
        |top AS (SELECT qid, vec_id, adist, rk FROM ranked WHERE rk <= 3)
        |SELECT t.qid, t.vec_id, t.adist,
        |       list_reduce(list_transform(list_zip(a.v, b.v),
        |                                  p -> (p[1] - p[2]) * (p[1] - p[2])),
        |                   (x, y) -> x + y) AS dist_exact,
        |       t.rk
        |FROM top t JOIN e0 a ON a.vec_id = t.qid
        |           JOIN e0 b ON b.vec_id = t.vec_id
        |ORDER BY t.qid, t.rk""".stripMargin) { (s, dir) =>
      ivfPqSearchTopK(s, dir, col("vec_id") % 50 === 0)
    }
  }

  /** ANN retrieval-quality EVALUATION: recall@3 of the cell-pruned IVF
    * search against exact brute-force truth, per query — the measurement
    * loop every production vector index runs on a sampled query set before
    * trusting an approximate path. Shape: truth comes from ONE corpus scan
    * against the broadcast bounded query batch (the q_cosine_topk shape),
    * the approximate side is the q_ann_ivf cell equi-join, and recall is a
    * keyed join + count of the two top-3 sets — at 100 TB the eval costs
    * one scan regardless of index size, because the query sample is
    * bounded. Both ranking pipelines hash-match the oracle independently,
    * so their intersection does too. */
  val annRecall: Q = Q(
    "q_ann_recall",
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qv
      |      FROM embeddings WHERE vec_id % 50 = 0),
      |bf AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, e.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |        $CosineSql DESC, e.vec_id) AS rk
      |    FROM q, e WHERE e.vec_id <> q.qid)
      |  WHERE rk <= 3),
      |iv AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, e.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |        $CosineSql DESC, e.vec_id) AS rk
      |    FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.qid)
      |  WHERE rk <= 3),
      |h AS (
      |  SELECT bf.qid, COUNT(*) AS hits
      |  FROM bf JOIN iv ON bf.qid = iv.qid AND bf.vec_id = iv.vec_id
      |  GROUP BY bf.qid)
      |SELECT q.qid,
      |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
      |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 3.0 AS recall
      |FROM q LEFT JOIN h ON h.qid = q.qid
      |ORDER BY q.qid""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val q = CosineTopK.withQueryNorm(emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        Vectors.asDouble(col("embedding")).as("qv")))
    val e = CosineTopK.withNorm(emb.select(col("vec_id"), col("label"),
      Vectors.asDouble(col("embedding")).as("v")))
    def top3(cands: DataFrame): DataFrame =
      CosineTopK(cands, 3).select("qid", "vec_id")
    val bf = top3(e.crossJoin(broadcast(q)))
    val iv = top3(e.join(broadcast(q), col("label") === col("qlabel")))
    val hits = bf.join(iv, Seq("qid", "vec_id")).groupBy("qid")
      .agg(count(lit(1)).as("hits"))
    q.select("qid").join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / 3.0).as("recall"))
      .orderBy("qid")
  }

  /** SPLIT-LEAKAGE audit — cross-split near-dup contamination of the
    * held-out sets, the eval-integrity check every training pipeline needs
    * BEFORE it trusts a benchmark number: a test/val document with a
    * near-duplicate in train is a leaked answer (Lee et al. 2022 measure
    * exactly this inflation). Composes three already-verified stages: the
    * banded MinHash candidate pairs (q_minhash_neardup's shared CTEs), the
    * deterministic 90/5/5 split rule (q_train_split's, single-sourced via
    * functions.Text.splitAssign so the assignment audited IS the one
    * shipped), and the exact-Levenshtein verify contract — restricted to
    * pairs that STRADDLE train and a held-out split. Planted twins land at
    * doc_id + 1000000, whose split hash is independent of the original's,
    * so ~10% of twin pairs straddle the boundary at every scale: 'leaked'
    * verdicts exist by construction.
    *
    * Shape at 100 TB: the split filter runs on the slim pair list BEFORE
    * texts join on, so the expensive verify pass scores only the
    * cross-split subset of an already-bounded candidate set. */
  val splitLeakage: Q = {
    def splitCase(idExpr: String) = {
      val b = s"CAST(('0x' || substr(md5('split:' || CAST($idExpr AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
      s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' ELSE 'test' END"
    }
    Q(
      "q_split_leakage",
      "WITH " + minhashPairCtes + s""",
        |sp AS (SELECT doc_id, ${splitCase("doc_id")} AS split FROM planted),
        |xp AS (
        |  SELECT p.d1, p.d2, s1.split AS split1, s2.split AS split2
        |  FROM pairs p
        |  JOIN sp s1 ON s1.doc_id = p.d1
        |  JOIN sp s2 ON s2.doc_id = p.d2
        |  WHERE s1.split <> s2.split AND (s1.split = 'train' OR s2.split = 'train')),
        |scored AS (
        |  SELECT x.d1, x.d2, x.split1, x.split2,
        |         levenshtein(a.text, b.text) AS ed,
        |         GREATEST(length(a.text), length(b.text)) AS ml
        |  FROM xp x
        |  JOIN planted a ON a.doc_id = x.d1
        |  JOIN planted b ON b.doc_id = x.d2)
        |SELECT d1, d2, split1, split2, CAST(ed AS BIGINT) AS edit_dist,
        |       CAST(1 AS DOUBLE) - CAST(ed AS DOUBLE) / ml AS similarity,
        |       CASE WHEN CAST(1 AS DOUBLE) - CAST(ed AS DOUBLE) / ml >= 0.9
        |            THEN 'leaked' ELSE 'candidate_only' END AS verdict
        |FROM scored
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      import graft.functions.Text
      val (planted, pairs) = minhashPlantedAndPairs(s, dir)
      val xp = pairs
        .withColumn("split1", Text.splitAssign(col("d1")))
        .withColumn("split2", Text.splitAssign(col("d2")))
        .filter(col("split1") =!= col("split2") &&
          (col("split1") === "train" || col("split2") === "train"))
      levenshteinVerdicts(s, planted, xp)
        .select(col("d1"), col("d2"), col("split1"), col("split2"),
          col("edit_dist"), col("similarity"),
          when(col("similarity") >= 0.9, "leaked")
            .otherwise("candidate_only").as("verdict"))
    }
  }

  /** SEMDEDUP (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication by embedding clusters: vectors are assigned to LEARNED
    * cells (the q_ann_ivf_learned fit — hyperplane init + one exact
    * integer-ratio Lloyd step, bit-reproducible in the mirror), pairwise
    * cosine runs ONLY within a cell, and of every duplicate pair
    * (cos >= 0.99) the larger vec_id is removed, `dup_of` naming its
    * smallest duplicate neighbor. Planted twins (every 25th vector verbatim
    * at +100000, the q_embed_neardup plant) guarantee removals at every
    * scale. This is the dedup RESOLUTION form of the embedding family:
    * q_embed_neardup emits candidate pairs, SemDeDup emits the per-vector
    * keep/remove verdict a corpus pipeline applies.
    *
    * Shape at 100 TB: the pair space is cell-bounded (each vector meets
    * only its own cell, and nCells scales with N in a production fit), the
    * fit state is bounded (2^nPlanes x dim doubles, broadcast), and the
    * verdict join-back is keyed on vec_id — never an all-pairs product. */
  val semDedup: Q = {
    val nPlanes = 3
    val dim = 64
    val cellSql = Vectors.planeBucketSql("v", nPlanes, dim, table = 1)
    Q(
      "q_semdedup",
      s"""WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM planted),
        |b AS (
        |  SELECT vec_id, v,
        |      $cellSql AS cell0
        |  FROM e0),
        |pos AS (
        |  SELECT cell0, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM b),
        |pp AS (
        |  SELECT cell0, pos,
        |         CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        |         COUNT(*) AS n
        |  FROM pos GROUP BY cell0, pos),
        |cent AS (
        |  SELECT cell0 AS cell,
        |         list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) ORDER BY pos) AS cv
        |  FROM pp GROUP BY cell0),
        |scored0 AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |         list_reduce(list_transform(list_zip(e.v, c.cv),
        |                                    p -> (p[1] - p[2]) * (p[1] - p[2])),
        |                     (x, y) -> x + y) AS dist
        |  FROM b e CROSS JOIN cent c),
        |rkd AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
        |  FROM scored0),
        |asg AS (SELECT vec_id, cell, v FROM rkd WHERE rk = 1),
        |pairs AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |    list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))) AS cos
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |rem AS (SELECT d2, MIN(d1) AS dup_of FROM pairs
        |        WHERE cos >= 0.99 GROUP BY d2)
        |SELECT a.vec_id, a.cell, r.dup_of IS NOT NULL AS removed, r.dup_of
        |FROM asg a LEFT JOIN rem r ON r.d2 = a.vec_id
        |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val planted = emb.select(col("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      // the learned fit feeds both pair sides and the verdict join-back —
      // checkpoint once (the q_ann_ivf_learned lesson)
      val ranks = graft.engine.Ivf.learnedCellRanks(planted, "vec_id",
        "embedding", dim = dim, nPlanes = nPlanes, table = 1)
        .localCheckpoint(eager = true)
      val asg = CosineTopK.withNorm(ranks.filter(col("rk") === 1)
        .select(col("vec_id"), col("cell"), col("v")))
      val a = asg.select(col("vec_id").as("d1"), col("cell"),
        col("v").as("v1"), col("vn").as("n1"))
      val b = asg.select(col("vec_id").as("d2"), col("cell"),
        col("v").as("v2"), col("vn").as("n2"))
      val rem = a.join(b, Seq("cell"))
        .filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          Vectors.cosineFromNorms(col("v1"), col("v2"), col("n1"), col("n2")).as("cos"))
        .filter(col("cos") >= 0.99)
        .groupBy(col("d2")).agg(min(col("d1")).as("dup_of"))
      asg.select(col("vec_id"), col("cell"))
        .join(rem, col("vec_id") === col("d2"), "left")
        .select(col("vec_id"), col("cell"),
          col("dup_of").isNotNull.as("removed"), col("dup_of"))
    }
  }

  /** SPARSE TF-IDF COSINE similarity through an INVERTED INDEX — the
    * sparse-vector complement of the dense ANN family: documents meet only
    * through shared tokens (a keyed postings self-join), never an all-pairs
    * product, which is how web-scale sparse similarity actually runs. All
    * state is exact integers: tf saturates at 64 (BM25-style cap, which
    * also bounds BIGINT headroom — w <= 64 * 2^19, so dots and norms stay
    * under ~2^60 at any corpus size), idf is the engine's integer
    * convention (2^20 DIV df), and the posting list is df-capped at 100
    * (tokens shared by more docs carry no similarity signal and would
    * quadratically blow the pair space — the q_jaccard_neardup df-cut).
    * The only float is the final cosine: one division over
    * exactly-computed integer dot/norms, the same IEEE tree in both
    * engines. Planted twins differ only by the ' twinmarker' token, so a
    * twin pair's dot is exactly the original's squared norm and its cosine
    * n/sqrt(n*(n+w_m^2)) — the top of the score distribution (~0.87 at
    * test scales, where the marker's df stays under the cap; exactly 1.0
    * once the corpus pushes the marker past it). SimilaritySpec pins the
    * full output against a naive in-memory recomputation. */
  val sparseCosine: Q = Q(
    "q_sparse_cosine",
    s"""WITH $plantedCte,
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM planted),
      |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |w AS (SELECT tf.doc_id, tf.tok,
      |             LEAST(tf.tf, 64) * (1048576 // df.df) AS w
      |      FROM tf JOIN df ON df.tok = tf.tok
      |      WHERE df.df BETWEEN 2 AND 100),
      |nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
      |dt AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
      |              CAST(SUM(a.w * b.w) AS BIGINT) AS dot
      |       FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |       GROUP BY a.doc_id, b.doc_id),
      |sc AS (SELECT d.d1, d.d2, d.dot,
      |              CAST(d.dot AS DOUBLE)
      |              / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
      |       FROM dt d JOIN nrm na ON na.doc_id = d.d1
      |                 JOIN nrm nb ON nb.doc_id = d.d2)
      |SELECT d1, d2, dot, cos FROM sc
      |WHERE cos >= 0.8
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val planted = plantedDocs(s, dir)
    val tf = planted
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok").as("dtok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 100)
    val w = tf.join(df, col("tok") === col("dtok"))
      .select(col("doc_id"), col("tok"),
        (least(col("tf"), lit(64L)) * expr("1048576 DIV df")).as("w"))
    val nrm = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("n2"))
    val dt = w.select(col("doc_id").as("d1"), col("tok"), col("w").as("w1"))
      .join(w.select(col("doc_id").as("d2"), col("tok"), col("w").as("w2")),
        Seq("tok"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(sum(col("w1") * col("w2")).as("dot"))
    dt.join(nrm.select(col("doc_id").as("d1"), col("n2").as("na")), "d1")
      .join(nrm.select(col("doc_id").as("d2"), col("n2").as("nb")), "d2")
      .select(col("d1"), col("d2"), col("dot"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cos"))
      .filter(col("cos") >= 0.8)
  }

  /** ROUGE-1/ROUGE-2 OVERLAP SCORING of candidate pairs — the n-gram
    * recall/precision metric (Lin 2004) a training pipeline runs to
    * QUANTIFY overlap once dedup/decontamination has flagged a pair:
    * clipped unigram and bigram matches between the pair's texts, as exact
    * parts-per-million recall (vs the smaller-id doc), precision (vs the
    * larger-id doc) and F1 (2pr DIV (p+r), integers end to end). Pairs are
    * the shared banded-MinHash candidates (q_minhash_neardup's CTEs) — the
    * pair space stays bucket-bounded; grams join back through keyed
    * (doc, gram) equi-joins, so the scoring pass is linear in the
    * candidates' text volume. Bigram-less docs (single token) score
    * rouge2 0 via the GREATEST(n,1) guard rather than dropping the pair. */
  val rougeOverlap: Q = Q(
    "q_rouge_overlap",
    "WITH " + minhashPairCtes + s""",
      |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM planted),
      |uc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |         SELECT doc_id, unnest(toks) AS g FROM tk) GROUP BY doc_id, g),
      |un AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM uc GROUP BY doc_id),
      |bc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |         SELECT doc_id,
      |                unnest(list_transform(range(0, GREATEST(len(toks) - 1, 0)),
      |                                      i -> toks[i + 1] || ' ' || toks[i + 2])) AS g
      |         FROM tk) GROUP BY doc_id, g),
      |bn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM bc GROUP BY doc_id),
      |ov1 AS (SELECT p.d1, p.d2, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
      |        FROM pairs p JOIN uc a ON a.doc_id = p.d1
      |                     JOIN uc b ON b.doc_id = p.d2 AND b.g = a.g
      |        GROUP BY p.d1, p.d2),
      |ov2 AS (SELECT p.d1, p.d2, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
      |        FROM pairs p JOIN bc a ON a.doc_id = p.d1
      |                     JOIN bc b ON b.doc_id = p.d2 AND b.g = a.g
      |        GROUP BY p.d1, p.d2),
      |scored AS (
      |  SELECT p.d1, p.d2,
      |         COALESCE(o1.ov, 0) * 1000000 // GREATEST(r1.n, 1) AS rouge1_recall_ppm,
      |         COALESCE(o1.ov, 0) * 1000000 // GREATEST(c1.n, 1) AS rouge1_precision_ppm,
      |         COALESCE(o2.ov, 0) * 1000000 // GREATEST(COALESCE(r2.n, 0), 1) AS rouge2_recall_ppm,
      |         COALESCE(o2.ov, 0) * 1000000 // GREATEST(COALESCE(c2.n, 0), 1) AS rouge2_precision_ppm
      |  FROM pairs p
      |  LEFT JOIN ov1 o1 ON o1.d1 = p.d1 AND o1.d2 = p.d2
      |  LEFT JOIN ov2 o2 ON o2.d1 = p.d1 AND o2.d2 = p.d2
      |  JOIN un r1 ON r1.doc_id = p.d1
      |  JOIN un c1 ON c1.doc_id = p.d2
      |  LEFT JOIN bn r2 ON r2.doc_id = p.d1
      |  LEFT JOIN bn c2 ON c2.doc_id = p.d2)
      |SELECT d1, d2, rouge1_recall_ppm, rouge1_precision_ppm,
      |       CAST(2 * rouge1_precision_ppm * rouge1_recall_ppm
      |            // GREATEST(rouge1_precision_ppm + rouge1_recall_ppm, 1) AS BIGINT)
      |         AS rouge1_f1_ppm,
      |       rouge2_recall_ppm, rouge2_precision_ppm,
      |       CAST(2 * rouge2_precision_ppm * rouge2_recall_ppm
      |            // GREATEST(rouge2_precision_ppm + rouge2_recall_ppm, 1) AS BIGINT)
      |         AS rouge2_f1_ppm
      |FROM scored
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val (planted, pairs) = minhashPlantedAndPairs(s, dir)
    // spread before the gram expansions (the 2-partition doc scan
    // otherwise runs them on 2 cores), and LAZILY checkpoint each count
    // table: uc/bc feed three consumers apiece (per-doc totals + both
    // sides of the overlap self-join), which re-executed the whole
    // explode + aggregate pipeline per reference (measured: two identical
    // 1.5s 2-task stages side by side in one job)
    // tk itself is pinned EAGERLY too: uc and bc are built by two separate
    // blocking checkpoint actions, and each otherwise re-runs the doc scan
    // + spread exchange from scratch (measured: three identical 940KB
    // 2-task spread-write stages in one profile — tk's, then one per gram
    // table)
    val tk = Tables.spread(planted, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .localCheckpoint(eager = true)
    val uc = tk.select(col("doc_id"), explode(col("toks")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val un = uc.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    // bigrams via the zip-of-shifted-slices form: empty for 1-token docs
    val bigrams = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val bc = tk.select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val bn = bc.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    def overlap(g: DataFrame): DataFrame =
      pairs
        .join(g.select(col("doc_id").as("d1"), col("g"), col("c").as("ca")), "d1")
        .join(g.select(col("doc_id").as("d2"), col("g"), col("c").as("cb")),
          Seq("d2", "g"))
        .groupBy(col("d1"), col("d2"))
        .agg(sum(least(col("ca"), col("cb"))).as("ov"))
    val o1 = overlap(uc)
    val o2 = overlap(bc)
    val scored = pairs
      .join(o1.select(col("d1"), col("d2"), col("ov").as("ov1")), Seq("d1", "d2"), "left")
      .join(o2.select(col("d1"), col("d2"), col("ov").as("ov2")), Seq("d1", "d2"), "left")
      .join(un.select(col("doc_id").as("d1"), col("n").as("r1n")), "d1")
      .join(un.select(col("doc_id").as("d2"), col("n").as("c1n")), "d2")
      .join(bn.select(col("doc_id").as("d1"), col("n").as("r2n")), Seq("d1"), "left")
      .join(bn.select(col("doc_id").as("d2"), col("n").as("c2n")), Seq("d2"), "left")
      .select(col("d1"), col("d2"),
        expr("coalesce(ov1, 0) * 1000000 DIV GREATEST(r1n, 1)").as("rouge1_recall_ppm"),
        expr("coalesce(ov1, 0) * 1000000 DIV GREATEST(c1n, 1)").as("rouge1_precision_ppm"),
        expr("coalesce(ov2, 0) * 1000000 DIV GREATEST(coalesce(r2n, 0), 1)").as("rouge2_recall_ppm"),
        expr("coalesce(ov2, 0) * 1000000 DIV GREATEST(coalesce(c2n, 0), 1)").as("rouge2_precision_ppm"))
    scored.select(col("d1"), col("d2"),
      col("rouge1_recall_ppm"), col("rouge1_precision_ppm"),
      expr("2 * rouge1_precision_ppm * rouge1_recall_ppm DIV " +
        "GREATEST(rouge1_precision_ppm + rouge1_recall_ppm, 1)").cast("long")
        .as("rouge1_f1_ppm"),
      col("rouge2_recall_ppm"), col("rouge2_precision_ppm"),
      expr("2 * rouge2_precision_ppm * rouge2_recall_ppm DIV " +
        "GREATEST(rouge2_precision_ppm + rouge2_recall_ppm, 1)").cast("long")
        .as("rouge2_f1_ppm"))
  }

  /** GRID-DENSITY CLUSTERING (DBSCAN-lite) — embeddings quantize onto an
    * 8x8 grid over their first two coordinates; cells holding >= 8 points
    * are CORE, core cells merge with their 8-neighborhood core neighbors
    * into clusters (the shared [[Dedup.components]] fixpoint — one more
    * domain for the one iterative engine), and points in non-core cells
    * are NOISE. This is the grid formulation of density clustering
    * (DBSCAN's cell-based variant, the one that distributes): density
    * decisions are per-CELL aggregates and merging touches only the
    * bounded cell graph, so no point ever meets another point — the
    * pairwise step the textbook algorithm can't scale past never exists.
    *
    * Determinism: the min/max normalization and the (x-mn)*8/range floor
    * are single IEEE trees over exactly-promoted floats (identical in both
    * engines); everything after is integer. Cluster ids are min cell ids.
    *
    * Shape at 100 TB: one corpus scan -> per-cell counts (map-side
    * combined, <= 64 rows out), the core-cell adjacency join is bounded
    * 64x64, components run over <= 64 nodes, and the per-cluster rollup
    * joins cells (64 rows, broadcast) back to per-cell counts — the corpus
    * is touched exactly twice (min/max, cell counts), both map-side. */
  val gridCluster: Q = Q(
    "q_grid_cluster",
    s"""WITH RECURSIVE pt AS (
      |  SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
      |  FROM embeddings),
      |mm AS (SELECT MIN(x) AS mnx, MAX(x) AS mxx,
      |              MIN(y) AS mny, MAX(y) AS mxy FROM pt),
      |cellpt AS (
      |  SELECT vec_id,
      |    GREATEST(LEAST(CAST(FLOOR(((x - mnx) * 8.0) / (mxx - mnx)) AS BIGINT), 7), 0) * 8
      |    + GREATEST(LEAST(CAST(FLOOR(((y - mny) * 8.0) / (mxy - mny)) AS BIGINT), 7), 0)
      |      AS cell
      |  FROM pt, mm),
      |cnt AS (SELECT cell, COUNT(*) AS n FROM cellpt GROUP BY cell),
      |core AS (SELECT cell, cell // 8 AS cx, cell % 8 AS cy, n
      |         FROM cnt WHERE n >= 8),
      |sym AS (
      |  SELECT a.cell AS a, b.cell AS b FROM core a JOIN core b
      |  ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1),
      |$closureCtes,
      |clustered AS (
      |  SELECT c.cluster, COUNT(*) AS n_cells, CAST(SUM(core.n) AS BIGINT) AS n_points
      |  FROM comp c JOIN core ON core.cell = c.id GROUP BY c.cluster),
      |noise AS (
      |  SELECT CAST(-1 AS BIGINT) AS cluster, COUNT(*) AS n_cells,
      |         CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_points
      |  FROM cnt WHERE n < 8)
      |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(n_cells AS BIGINT) AS n_cells,
      |       n_points
      |FROM (SELECT * FROM clustered UNION ALL SELECT * FROM noise)
      |ORDER BY cluster""".stripMargin) { (s, dir) =>
    val pt = t(s, dir, "embeddings")
      .select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
    val mm = pt.agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
      min(col("y")).as("mny"), max(col("y")).as("mxy"))
    val cellpt = pt.crossJoin(broadcast(mm)) // 1-row normalization constants
      .select(col("vec_id"),
        (greatest(least(floor(((col("x") - col("mnx")) * lit(8.0)) /
          (col("mxx") - col("mnx"))).cast("long"), lit(7L)), lit(0L)) * 8 +
          greatest(least(floor(((col("y") - col("mny")) * lit(8.0)) /
            (col("mxy") - col("mny"))).cast("long"), lit(7L)), lit(0L)))
          .as("cell"))
    val cnt = cellpt.groupBy("cell").agg(count(lit(1)).as("n"))
    val core = cnt.filter(col("n") >= 8)
      .select(col("cell"), expr("cell DIV 8").as("cx"),
        (col("cell") % 8).as("cy"), col("n"))
    // bounded 64x64 adjacency (8-neighborhood incl. self — the self edge
    // seeds isolated core cells as singleton components)
    val a = core.select(col("cell").as("ca"), col("cx").as("cxa"), col("cy").as("cya"))
    val b = core.select(col("cell").as("cb"), col("cx").as("cxb"), col("cy").as("cyb"))
    val edges = a.join(broadcast(b),
      abs(col("cxa") - col("cxb")) <= 1 && abs(col("cya") - col("cyb")) <= 1)
      .select(col("ca").as("a"), col("cb").as("b"))
    // The cell graph is STRUCTURALLY bounded (≤64 nodes of an 8×8 grid),
    // so its transitive closure runs IN-ROW over one collected row
    // instead of the iterative Dedup.components driver loop (~25 jobs of
    // keyed shuffles for a 64-node graph — pure latency): labels live in
    // rank space, eight propagate(min over neighbors)+compress(lab[lab])
    // rounds fold inside ONE aggregate expression (pointer jumping:
    // 2^8 ≥ any path in a 64-node graph, so the fold reaches the same
    // min-reachable-id fixpoint the loop converges to). The accumulator
    // and the let-bound propagated vector are lambda variables —
    // evaluated state, immune to projection-collapse re-evaluation.
    val one = edges.agg(collect_list(struct(col("a"), col("b"))).as("es"))
      .select(col("es"), expr(
        """array_sort(array_distinct(
          |  concat(transform(es, e -> e.a), transform(es, e -> e.b))))""".stripMargin)
        .as("ds"))
      .repartition(1) // es/ds as attributes for the lambda bodies below
      // empty-edge-set guard: with ds empty, sequence(0, size(ds)-1) is
      // the DESCENDING [0, -1] and the fold's element_at(_, 0) throws
      // INVALID_INDEX_OF_ZERO — filter the one-row frame so a corpus with
      // no core-cell edges degrades to an empty cluster table, as
      // Dedup.components did (r14 ADVICE)
      .filter(size(col("ds")) > 0)
      .withColumn("adj", expr(
        """transform(ds, v -> concat(
          |  transform(filter(es, e -> e.b = v),
          |    e -> CAST(array_position(ds, e.a) - 1 AS INT)),
          |  transform(filter(es, e -> e.a = v AND e.b != v),
          |    e -> CAST(array_position(ds, e.b) - 1 AS INT))))""".stripMargin))
      .repartition(1) // adj as attribute for the fold
      .withColumn("lab", expr(
        """aggregate(sequence(1, 8),
          |  transform(sequence(0, size(ds) - 1), i -> i),
          |  (lab, r) -> element_at(transform(array(
          |      transform(sequence(0, size(ds) - 1), i ->
          |        aggregate(element_at(adj, i + 1), element_at(lab, i + 1),
          |          (m, j) -> least(m, element_at(lab, j + 1))))),
          |    p -> transform(sequence(0, size(ds) - 1), i ->
          |      element_at(p, element_at(p, i + 1) + 1))), 1))""".stripMargin))
    val comp = one
      .select(explode(expr(
        """zip_with(ds, transform(lab, l -> element_at(ds, l + 1)),
          |  (c, cl) -> struct(c AS cell, cl AS cluster))""".stripMargin)).as("z"))
      .select(col("z.cell").as("cell"), col("z.cluster").as("cluster"))
    val clustered = comp.join(core.select("cell", "n"), "cell")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).cast("long").as("n_points"))
    val noise = cnt.filter(col("n") < 8)
      .agg(count(lit(1)).as("n_cells"),
        coalesce(sum(col("n")), lit(0L)).cast("long").as("n_points"))
      .select(lit(-1L).as("cluster"), col("n_cells"), col("n_points"))
    clustered.select(col("cluster").cast("long"), col("n_cells").cast("long"),
      col("n_points"))
      .unionAll(noise)
      .orderBy("cluster")
  }

  /** LEAKAGE-SAFE K-FOLD ASSIGNMENT — the repair for what q_split_leakage
    * only DETECTS: folds are assigned to duplicate CLUSTERS, not documents
    * (fold = md5-hash of the cluster id, mod 5 — the [[Text.md5Hash32]]
    * content-hash convention), so near-duplicate pairs can never straddle
    * a fold boundary and cross-validation never evaluates on a copy of its
    * own training data. Clusters come from the shared banded-MinHash
    * candidate pipeline + [[Dedup.components]] fixpoint (exactly
    * q_dedup_components'), mirrored in DuckDB by the recursive-CTE closure.
    * Emits the per-fold audit a pipeline records: docs, distinct clusters,
    * docs in multi-doc clusters (the rows that WOULD have leaked under
    * per-doc assignment).
    *
    * Shape at 100 TB: everything past the component fixpoint is one keyed
    * join (doc -> cluster), a map-side-combined per-cluster size count
    * broadcast back, and a 5-row aggregation. No windows, no corpus sort. */
  val clusterFolds: Q = Q(
    "q_cluster_folds",
    "WITH RECURSIVE " + minhashPairCtes + s""",
      |$pairsClosureCtes,
      |asg AS (
      |  SELECT p.doc_id, COALESCE(c.cluster, p.doc_id) AS cluster
      |  FROM planted p LEFT JOIN comp c ON c.id = p.doc_id),
      |sz AS (SELECT cluster, COUNT(*) AS csz FROM asg GROUP BY cluster),
      |f AS (
      |  SELECT a.doc_id, a.cluster, s.csz,
      |         CAST(('0x' || substr(md5('fold:' || CAST(a.cluster AS VARCHAR)), 1, 8))
      |              AS BIGINT) % 5 AS fold
      |  FROM asg a JOIN sz s ON s.cluster = a.cluster)
      |SELECT fold, COUNT(*) AS n_docs,
      |       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
      |       CAST(SUM(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_clustered_docs
      |FROM f GROUP BY fold ORDER BY fold""".stripMargin) { (s, dir) =>
    val (planted, pairs) = minhashPlantedAndPairs(s, dir)
    val comp = Dedup.components(pairs)
      .withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "cluster")
    val asg = planted.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val sz = asg.groupBy("cluster").agg(count(lit(1)).as("csz"))
    asg.join(broadcast(sz), "cluster")
      .withColumn("fold",
        graft.functions.Text.md5Hash32(
          concat(lit("fold:"), col("cluster").cast("string"))) % 5)
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).cast("long").as("n_clusters"),
        sum(when(col("csz") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_clustered_docs"))
  }

  /** Sequential-fold cosine between two named array expressions — the
    * [[SubPlans.CosineSql]] tree parametrized over its operands, for mirrors that
    * score pairs other than (q, e). */
  private def cosSqlOf(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_transform($a, x -> x * x), (x, y) -> x + y))
       |     * sqrt(list_reduce(list_transform($b, x -> x * x), (x, y) -> x + y)))""".stripMargin

  /** MMR DIVERSITY RE-RANK (maximal marginal relevance, Carbonell &
    * Goldstein 1998) — the post-retrieval step a production RAG/search
    * stack runs so the top results aren't five copies of the same
    * document: from the dense top-20 candidates for the query vector,
    * greedily select 3, each maximizing
    * `0.5 * relevance - 0.5 * max-similarity-to-already-selected`.
    * The greedy rounds are UNROLLED CTE-for-CTE (the q_bpe_train
    * posture for iterative fixed points), so the whole selection is
    * oracle-checked; every float is a shared-tree cosine and the argmax
    * ties break on vec_id in both engines.
    *
    * Shape at 100 TB: the candidate set is LIMIT-bounded (20 rows at any
    * corpus size — the production form feeds an ANN top-k here), so every
    * round's scoring join is a broadcast over a constant-size frame; the
    * corpus is scanned exactly once, by the candidate generator. */
  val mmrDiversify: Q = Q(
    "q_mmr_diversify",
    s"""WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |      WHERE vec_id <> 0),
      |cand AS (
      |  SELECT e.vec_id, e.v,
      |    ${CosineSql} AS rel
      |  FROM e, q ORDER BY rel DESC, e.vec_id LIMIT 20),
      |s1 AS (SELECT vec_id, v, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
      |r2 AS (
      |  SELECT c.vec_id, c.v, c.rel,
      |    ${cosSqlOf("c.v", "s1.v")} AS pen
      |  FROM cand c, s1 WHERE c.vec_id <> s1.vec_id),
      |s2 AS (SELECT vec_id, v, rel, pen FROM r2
      |       ORDER BY rel * 0.5 - pen * 0.5 DESC, vec_id LIMIT 1),
      |r3 AS (
      |  SELECT c.vec_id, c.rel,
      |    GREATEST(${cosSqlOf("c.v", "s1.v")},
      |             ${cosSqlOf("c.v", "s2.v")}) AS pen
      |  FROM cand c, s1, s2
      |  WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id),
      |s3 AS (SELECT vec_id, rel, pen FROM r3
      |       ORDER BY rel * 0.5 - pen * 0.5 DESC, vec_id LIMIT 1)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel AS relevance,
      |         0.0 AS penalty, rel * 0.5 - 0.0 * 0.5 AS mmr FROM s1
      |  UNION ALL
      |  SELECT 2, vec_id, rel, pen, rel * 0.5 - pen * 0.5 FROM s2
      |  UNION ALL
      |  SELECT 3, vec_id, rel, pen, rel * 0.5 - pen * 0.5 FROM s3)
      |ORDER BY rank""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val q = CosineTopK.withQueryNorm(emb.filter(col("vec_id") === 0)
      .select(Vectors.asDouble(col("embedding")).as("qv")))
    val cand = CosineTopK.withNorm(emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), col("vn"),
        Vectors.cosineFromNorms(col("qv"), col("v"), col("qn"), col("vn"))
          .as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(20)
    val s1 = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("s1_id"), col("v").as("s1_v"),
        col("vn").as("s1_vn"), col("rel").as("s1_rel"))
    val r2 = cand.crossJoin(broadcast(s1)) // 1-row selected seed
      .filter(col("vec_id") =!= col("s1_id"))
      .select(col("vec_id"), col("v"), col("vn"), col("rel"),
        Vectors.cosineFromNorms(col("v"), col("s1_v"), col("vn"), col("s1_vn"))
          .as("pen"))
    val s2 = r2.orderBy((col("rel") * 0.5 - col("pen") * 0.5).desc,
        col("vec_id")).limit(1)
      .select(col("vec_id").as("s2_id"), col("v").as("s2_v"),
        col("vn").as("s2_vn"), col("rel").as("s2_rel"),
        col("pen").as("s2_pen"))
    val r3 = cand.crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
      .filter(col("vec_id") =!= col("s1_id") && col("vec_id") =!= col("s2_id"))
      .select(col("vec_id"), col("rel"),
        greatest(
          Vectors.cosineFromNorms(col("v"), col("s1_v"), col("vn"), col("s1_vn")),
          Vectors.cosineFromNorms(col("v"), col("s2_v"), col("vn"), col("s2_vn")))
          .as("pen"))
    val s3 = r3.orderBy((col("rel") * 0.5 - col("pen") * 0.5).desc,
        col("vec_id")).limit(1)
    s1.select(lit(1L).as("rank"), col("s1_id").as("vec_id"),
        col("s1_rel").as("relevance"), lit(0.0).as("penalty"),
        (col("s1_rel") * 0.5 - lit(0.0) * 0.5).as("mmr"))
      .unionAll(s2.select(lit(2L).as("rank"), col("s2_id").as("vec_id"),
        col("s2_rel").as("relevance"), col("s2_pen").as("penalty"),
        (col("s2_rel") * 0.5 - col("s2_pen") * 0.5).as("mmr")))
      .unionAll(s3.select(lit(3L).as("rank"), col("vec_id"),
        col("rel").as("relevance"), col("pen").as("penalty"),
        (col("rel") * 0.5 - col("pen") * 0.5).as("mmr")))
  }

  /** EMBEDDING GRAM / COVARIANCE MATRIX — the 64×64 second-moment matrix
    * of the (milli-quantized) embedding corpus, upper triangle only:
    * G[i,j] = Σ_rows qᵢ·qⱼ plus the exact covariance numerator
    * n·G[i,j] − Sᵢ·Sⱼ. The one-pass reduction every spectral step
    * downstream of an embedding pipeline starts from — PCA, whitening,
    * low-rank compression (PQ's rotation), drift detection between
    * embedding model versions — computed as a DATASET aggregate (the
    * d² accumulator shape), not a per-pair join.
    *
    * Exactness: components quantize to round(x·1000) integers first
    * (|q| ≤ ~1000 for unit-norm vectors), products and sums stay integer;
    * the covariance numerator lives in DECIMAL(38,0)/HUGEINT (n·G at
    * 10¹² rows is ~10³⁰ — past BIGINT, inside 38 digits).
    *
    * Shape at 100 TB: ONE corpus scan; each row expands to its C(65,2) =
    * 2080 upper-triangle cells via the same in-row expansion as the graph
    * pair enumeration, [[Pairs.upperTriangle]] (constant 2080× fan-out — a
    * plan constant, not data-dependent) feeding a map-side-combined
    * 2080-group aggregation; the 64 per-dim sums aggregate in the same
    * pass from the diagonal cells and join back by BROADCAST. */
  /** Shared DuckDB CTE chain for second-moment reductions: milli-quantized
    * components (q, comp) and the in-row upper-triangle product cells —
    * single-sourced between q_gram_matrix and the spectral queries
    * ([[SpectralQueries]]), so the matrix iterated IS the matrix reported. */
  private[queries] val gramCellCtes =
    """q AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |comp AS (
      |  SELECT q.vec_id, u.i, q.qv[u.i] AS x
      |  FROM q, UNNEST(range(1, len(q.qv) + 1)) AS u(i)),
      |cells AS (
      |  SELECT a.i AS i, b.i AS j, a.x * b.x AS p
      |  FROM comp a JOIN comp b
      |    ON a.vec_id = b.vec_id AND a.i <= b.i)""".stripMargin

  /** Spark twin of the q CTE: (vec_id, qv) with milli-quantized integer
    * components. */
  private[queries] def quantizedVecs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("qv"))

  /** Spark twin of the cells CTE: the in-row upper-triangle expansion into
    * 1-based (i, j, qᵢ·qⱼ) product cells (constant C(d+1,2) fan-out). */
  private[queries] def gramTriCells(
      q: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Pairs.upperTriangle(q, "qv", diagonal = true)
      .select((col("i") + 1).as("i"), (col("j") + 1).as("j"),
        (col("x") * col("y")).as("p"))

  /** EMBEDDING GRAM / COVARIANCE MATRIX readout (see the family doc
    * above [[gramCellCtes]]): the 64×64 upper-triangle second-moment
    * matrix G[i,j] = Σ qᵢqⱼ over milli-quantized components plus the
    * exact covariance numerator n·G − Sᵢ·Sⱼ in DECIMAL(38,0)/HUGEINT —
    * one corpus pass, the constant 2080× in-row cell expansion into a
    * map-side-combined aggregation, per-dim sums joined back by
    * broadcast. The spectral queries iterate exactly this matrix. */
  val gramMatrix: Q = Q(
    "q_gram_matrix",
    s"""WITH $gramCellCtes,
      |g AS (
      |  SELECT i, j, COUNT(*) AS n, CAST(SUM(p) AS HUGEINT) AS dot
      |  FROM cells GROUP BY i, j),
      |marg AS (
      |  SELECT i, CAST(SUM(x) AS HUGEINT) AS s FROM comp GROUP BY i)
      |SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
      |       CAST(g.n AS BIGINT) AS n, CAST(g.dot AS BIGINT) AS dot,
      |       CAST(g.n * g.dot - mi.s * mj.s AS BIGINT) AS cov_num
      |FROM g JOIN marg mi ON mi.i = g.i JOIN marg mj ON mj.i = g.j
      |ORDER BY i, j""".stripMargin) { (s, dir) =>
    val q = quantizedVecs(s, dir)
    // in-row upper-triangle expansion: 1-based (i, j, q_i * q_j) cells.
    // The corpus is spread to full parallelism first — the single-row-group
    // scan otherwise runs the 2080× expansion on 1-2 cores (guide §2.5)
    val cells = gramTriCells(Tables.spread(q, col("vec_id")))
    val g = cells.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("p")).cast("decimal(38,0)").as("dot"))
    val sums = q.select(explode(expr(
      "transform(qv, (x, i) -> struct(i + 1 AS i, x AS x))")).as("c"))
      .select(col("c.i").as("i"), col("c.x").as("x"))
      .groupBy("i").agg(sum(col("x")).cast("decimal(38,0)").as("s"))
    g.join(broadcast(sums.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n").cast("long").as("n"), col("dot").cast("long").as("dot"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * dot - si * sj AS BIGINT)")
          .as("cov_num"))
  }

  /** MINHASH CANDIDATE QUALITY — precision/recall of the banded-MinHash
    * candidate pairs against EXACT 3-gram Jaccard ≥ 0.5 ground truth, the
    * q_ann_recall grading applied to the dedup side: before trusting a
    * banding config at 100 TB, measure what fraction of true near-dups
    * the bands surface (recall — band misses are silent corpus
    * contamination) and how much verify work they waste (precision).
    * Ground truth is exact Jaccard over the DF-CAPPED shingle
    * vocabulary (df ≤ 200, the identical cut the candidate pipelines
    * apply): hot shingles are boilerplate that carries no near-dup
    * signal, so scoring over the informative vocabulary is the
    * measurement a production dedup actually wants — and every pair with
    * positive capped-Jaccard shares a kept shingle, so the block space
    * contains the complete truth set by construction.
    *
    * Shape at 100 TB: both pair spaces are block-bounded (bands /
    * shared kept shingles); intersections fall out of the SAME block
    * join that enumerates the pairs (one keyed self-join + one
    * aggregation — no per-pair set join). An EVAL query — production
    * runs it on a sampled slice, like q_ann_recall. */
  val minhashRecall: Q = Q(
    "q_minhash_recall",
    "WITH " + minhashPairCtes + """,
      |dsh AS (SELECT DISTINCT doc_id, tok FROM sh),
      |keptsh AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY tok) AS df FROM dsh)
      |  WHERE df <= 200),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM keptsh GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |  FROM keptsh a JOIN keptsh b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |truth AS (
      |  SELECT shared.d1, shared.d2
      |  FROM shared JOIN sz z1 ON z1.doc_id = shared.d1
      |              JOIN sz z2 ON z2.doc_id = shared.d2
      |  WHERE inter * 1000000 // (z1.n_sh + z2.n_sh - inter) >= 500000),
      |tc AS (SELECT COUNT(*) AS n_truth FROM truth),
      |cc AS (SELECT COUNT(*) AS n_cand FROM pairs),
      |hc AS (SELECT COUNT(*) AS n_hits FROM truth JOIN pairs
      |        ON pairs.d1 = truth.d1 AND pairs.d2 = truth.d2)
      |SELECT CAST(n_truth AS BIGINT) AS n_truth,
      |       CAST(n_cand AS BIGINT) AS n_candidates,
      |       CAST(n_hits AS BIGINT) AS n_hits,
      |       CAST(CASE WHEN n_cand = 0 THEN 0
      |            ELSE n_hits * 1000000 // n_cand END AS BIGINT) AS precision_ppm,
      |       CAST(CASE WHEN n_truth = 0 THEN 0
      |            ELSE n_hits * 1000000 // n_truth END AS BIGINT) AS recall_ppm
      |FROM tc, cc, hc""".stripMargin) { (s, dir) =>
    val (planted, cand) = minhashPlantedAndPairs(s, dir)
    // spread before the shingle expansion (1-2 scan partitions otherwise)
    val toks = Tables.spread(planted, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val dsh = toks.select(col("doc_id"), explode(expr(
      """CASE WHEN size(toks) < 3 THEN array(array_join(toks, ' '))
        |ELSE transform(sequence(0, size(toks) - 3),
        |       i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])) END"""
        .stripMargin)).as("tok")).distinct()
    val hot = dsh.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 200).select("tok") // the shared df-cut
    // keptsh is checkpointed SPREAD BY TOK: the downstream per-shingle
    // grouping then needs NO exchange of its own (the checkpoint IS
    // hash(tok) at session width — the broadcast-join output otherwise
    // lands at the distinct's AQE-coalesced width, measured 4 of 32
    // tasks for the whole block-join stage)
    // EAGER: a lazy checkpoint captures the plan BEFORE AQE finalizes it,
    // so the spread's hash(tok) partitioning is not carried into the
    // LogicalRDD and the per-shingle grouping re-exchanged — AQE then
    // byte-coalesced the compute-dense pair expansion to 2 tasks
    // (measured 1.85s on 2 of 32 cores). Eager pins the executed plan's
    // partitioning, so the grouping below is exchange-free at width.
    val keptsh = Tables.spread(dsh.join(hot, "tok"), col("tok"))
      .localCheckpoint(eager = true) // read by sizes AND the pair count
    val sz = keptsh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // pair enumeration per kept shingle via the bounded in-row C(k,2)
    // expansion ([[Pairs.upperTriangle]]): group each shingle's
    // distinct docs into one sorted array — BOUNDED <= 200 by the df-cut
    // that already happened, so the collect is safe — and expand the
    // i<j pairs in-row. Replaces the keptsh self-join: one aggregation
    // reusing the checkpoint's tok partitioning instead of a join
    // exchange + probe, and each pair is emitted ONCE (d1 < d2 by the
    // sort) instead of filtered out of the full d1 x d2 product.
    // the (tok, ds) table is tiny (couple MB) but fans out into the
    // C(k,2) expansion — AQE byte-coalesced the post-aggregation
    // stage to 2 tasks (bytes do not track compute); the explicit-width
    // spread is exempt from coalescing and keeps the expansion wide.
    // Keyed on xxhash64(tok), NOT tok: a spread on the aggregation's own
    // key is statically identical to the aggregation's exchange and the
    // planner elides it (and AQE then coalesces the remaining exchange).
    val grouped = Tables.spread(keptsh.groupBy(col("tok"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds")),
        xxhash64(col("tok")))
    val shared = Pairs.upperTriangle(grouped, "ds", diagonal = false)
      .groupBy(col("x").as("d1"), col("y").as("d2")).agg(count(lit(1)).as("inter"))
    val truth = shared
      .join(sz.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
      .filter(expr("inter * 1000000 DIV (n1 + n2 - inter) >= 500000"))
      .select("d1", "d2")
      // read by the truth count AND the hit join — eagerly checkpointed
      // so the block pair count runs once (lazy let the two concurrent
      // consumer stages race and duplicate it)
      .localCheckpoint(eager = true)
    val tc = truth.agg(count(lit(1)).as("n_truth"))
    val cc = cand.agg(count(lit(1)).as("n_cand"))
    val hc = truth.join(cand, Seq("d1", "d2")).agg(count(lit(1)).as("n_hits"))
    tc.crossJoin(cc).crossJoin(hc) // three 1-row aggregates
      .select(col("n_truth"), col("n_cand").as("n_candidates"), col("n_hits"),
        expr("CASE WHEN n_cand = 0 THEN 0L ELSE n_hits * 1000000 DIV n_cand END")
          .as("precision_ppm"),
        expr("CASE WHEN n_truth = 0 THEN 0L ELSE n_hits * 1000000 DIV n_truth END")
          .as("recall_ppm"))
  }

  /** INCREMENTAL NEAR-DUP — a NEW crawl batch probed against the STANDING
    * MinHash band index of the existing corpus, the recurring-crawl shape
    * every production pipeline runs weekly (q_incremental_dedup covers the
    * exact-fingerprint case; this is its near-duplicate sibling — a standing
    * corpus is never re-near-deduped from scratch). doc_id % 5 == 0 plays
    * the new batch, the rest the historical corpus (q_incremental_dedup's
    * epoch split); planted CROSS-EPOCH near-twins (+8000000: one-token-
    * appended copies of index docs landing in the batch) and IN-BATCH
    * near-twins (+9000000: copies of batch docs) guarantee all three
    * verdicts at every scale. Candidates come from the SHARED banded-
    * MinHash machinery (identical shingle/signature/band/hot-bucket-skip
    * CTEs as q_minhash_neardup), verified by the shared Levenshtein ≥ 0.9
    * contract, and every batch doc resolves to a three-way verdict:
    * `dup_of_index` (verified match in the standing index — matched_doc
    * the smallest such), `dup_in_batch` (no index match; verified match
    * earlier in the batch), or `new`.
    *
    * Shape at 100 TB: the standing index is the materialized (band, bk,
    * doc) table a production system stores; probing is a keyed equi-join of
    * the BATCH's band keys against it (batch-sized left side), in-batch
    * candidates meet through the same keys, and the expensive verify pass
    * scores only the bounded candidate set — the corpus is never rescanned
    * pairwise. */
  val incrementalNearDup: Q = {
    val isBatch = "(%s %% 5 = 0 OR %s >= 8000000)"
    def b(c: String) = isBatch.format(c, c)
    val incPlantedCte =
      """planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 8000000 AS doc_id, text || ' nearix' AS text
        |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 11 = 1
        |  UNION ALL
        |  SELECT doc_id + 9000000 AS doc_id, text || ' nearbt' AS text
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 13 = 2)""".stripMargin
    Q(
      "q_incremental_neardup",
      "WITH " + minhashPairCtesWith(incPlantedCte) + s""",
        |ver AS (
        |  SELECT p.d1, p.d2
        |  FROM pairs p
        |  JOIN planted a ON a.doc_id = p.d1
        |  JOIN planted b ON b.doc_id = p.d2
        |  WHERE 1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |          / GREATEST(length(a.text), length(b.text)) >= 0.9),
        |crossm AS (
        |  SELECT CASE WHEN ${b("d1")} THEN d1 ELSE d2 END AS bdoc,
        |         MIN(CASE WHEN ${b("d1")} THEN d2 ELSE d1 END) AS index_doc
        |  FROM ver WHERE ${b("d1")} <> ${b("d2")}
        |  GROUP BY 1),
        |inb AS (
        |  SELECT d2 AS bdoc, MIN(d1) AS first_match FROM ver
        |  WHERE ${b("d1")} AND ${b("d2")} GROUP BY d2),
        |batch AS (SELECT doc_id FROM planted WHERE ${b("doc_id")})
        |SELECT bt.doc_id,
        |       CASE WHEN cm.index_doc IS NOT NULL THEN 'dup_of_index'
        |            WHEN inb.first_match IS NOT NULL THEN 'dup_in_batch'
        |            ELSE 'new' END AS verdict,
        |       COALESCE(cm.index_doc, inb.first_match) AS matched_doc
        |FROM batch bt
        |LEFT JOIN crossm cm ON cm.bdoc = bt.doc_id
        |LEFT JOIN inb ON inb.bdoc = bt.doc_id
        |ORDER BY bt.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .unionAll(docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 11 === 1)
          .select((col("doc_id") + 8000000).as("doc_id"),
            concat(col("text"), lit(" nearix")).as("text")))
        .unionAll(docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 13 === 2)
          .select((col("doc_id") + 9000000).as("doc_id"),
            concat(col("text"), lit(" nearbt")).as("text")))
      // spread before the md5 signature kernel (1-2 scan partitions)
      val sig = Similarity.withMinhashSignature(
          Tables.spread(planted, col("doc_id")), "text", k = MinhashK)
        .drop("text")
      val pairs = Similarity.lshCandidatePairs(sig, "doc_id", k = MinhashK,
        bands = MinhashBands, bandKey = cols => concat_ws(",", cols: _*))
      def isB(c: org.apache.spark.sql.Column) = c % 5 === 0 || c >= 8000000L
      val ver = levenshteinVerdicts(s, planted, pairs)
        .filter(col("similarity") >= 0.9)
        .select("d1", "d2")
      val crossm = ver.filter(isB(col("d1")) =!= isB(col("d2")))
        .select(when(isB(col("d1")), col("d1")).otherwise(col("d2")).as("bdoc"),
          when(isB(col("d1")), col("d2")).otherwise(col("d1")).as("idoc"))
        .groupBy("bdoc").agg(min("idoc").as("index_doc"))
      val inb = ver.filter(isB(col("d1")) && isB(col("d2")))
        .groupBy(col("d2").as("bdoc")).agg(min("d1").as("first_match"))
      planted.filter(isB(col("doc_id"))).select("doc_id")
        .join(crossm, col("doc_id") === crossm("bdoc"), "left").drop("bdoc")
        .join(inb, col("doc_id") === inb("bdoc"), "left").drop("bdoc")
        .select(col("doc_id"),
          when(col("index_doc").isNotNull, "dup_of_index")
            .when(col("first_match").isNotNull, "dup_in_batch")
            .otherwise("new").as("verdict"),
          coalesce(col("index_doc"), col("first_match")).as("matched_doc"))
        .orderBy("doc_id")
    }
  }

  /** [[mrlRecall]]'s pipeline with the query batch parametrized — the
    * declared query uses the growing %50 yardstick batch; ScaleProbe's
    * fixed_batch block pins the batch to measure the linear production
    * form. */
  def mrlRecallFor(s: SparkSession, dir: String,
      queryPred: org.apache.spark.sql.Column): DataFrame = {
    val q = quantizedVecs(s, dir).filter(queryPred)
      .select(col("vec_id").as("qid"), col("qv"))
    // spread the corpus side: the single-row-group scan otherwise runs
    // the three-prefix L2 scoring against the broadcast batch on one core
    val e = Tables.spread(quantizedVecs(s, dir), col("vec_id"))
      .select(col("vec_id"), col("qv").as("ev"))
    def d2(d: Int) = expr(
      s"""aggregate(sequence(0, ${d - 1}), 0L,
         |  (a, i) -> a + (qv[i] - ev[i]) * (qv[i] - ev[i]))""".stripMargin)
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), d2(16).as("d16"), d2(32).as("d32"),
        d2(64).as("d64"))
    val un = scored.select(col("qid"), col("vec_id"), lit(16L).as("dim"),
        col("d16").as("d2"))
      .unionAll(scored.select(col("qid"), col("vec_id"), lit(32L).as("dim"),
        col("d32").as("d2")))
      .unionAll(scored.select(col("qid"), col("vec_id"), lit(64L).as("dim"),
        col("d64").as("d2")))
    val w = Window.partitionBy("qid", "dim").orderBy(col("d2"), col("vec_id"))
    val top3 = un.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("qid", "vec_id", "dim")
    val truth = top3.filter(col("dim") === 64L)
      .select(col("qid").as("fq"), col("vec_id").as("fv"))
    val nq = q.agg(count(lit(1)).as("n"))
    top3.join(truth, col("fq") === col("qid") && col("fv") === col("vec_id"))
      .groupBy("dim").agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nq)) // 1-row query-batch size
      .select(col("dim"), col("n").cast("long").as("n_queries"),
        col("n_hits").cast("long").as("n_hits"),
        expr("CAST(n_hits * 1000000 DIV (3 * n) AS BIGINT)").as("recall_ppm"))
  }

  /** MATRYOSHKA TRUNCATION EVAL (q_mrl_recall) — retrieval quality of
    * DIMENSION-TRUNCATED embeddings: rank the corpus by exact L2 on the
    * first 16 / 32 / 64 milli-quantized components and grade each
    * truncation's top-3 against the full-dimension truth (recall@3).
    * The question every Matryoshka/MRL deployment asks before cutting
    * index cost 4×: how much of the neighborhood survives the prefix?
    * All-integer value trees (quantized diffs squared — never a float
    * norm), so the eval is bit-exact in both engines; ties break by
    * vec_id like every ANN yardstick here.
    *
    * Shape at 100 TB: the established yardstick posture (q_cosine_topk):
    * broadcast query batch, ONE corpus pass scoring all three prefixes
    * per pair (the d=16 sum is a subexpression of d=64), per-query
    * windows over batch-bounded rows; an EVAL query — production runs it
    * on a sampled slice, like q_ann_recall. */
  val mrlRecall: Q = Q(
    "q_mrl_recall",
    """WITH q AS (
      |  SELECT vec_id AS qid,
      |         list_transform(embedding,
      |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |e AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ev
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.qid, e.vec_id,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (q.qv[i] - e.ev[i]) * (q.qv[i] - e.ev[i]))) AS d16,
      |         list_sum(list_transform(range(1, 33),
      |           i -> (q.qv[i] - e.ev[i]) * (q.qv[i] - e.ev[i]))) AS d32,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (q.qv[i] - e.ev[i]) * (q.qv[i] - e.ev[i]))) AS d64
      |  FROM q, e WHERE e.vec_id <> q.qid),
      |un AS (
      |  SELECT qid, vec_id, 16 AS dim, d16 AS d2 FROM scored
      |  UNION ALL
      |  SELECT qid, vec_id, 32, d32 FROM scored
      |  UNION ALL
      |  SELECT qid, vec_id, 64, d64 FROM scored),
      |rk AS (
      |  SELECT qid, vec_id, dim,
      |         ROW_NUMBER() OVER (PARTITION BY qid, dim
      |                            ORDER BY d2, vec_id) AS rk
      |  FROM un),
      |top3 AS (SELECT qid, vec_id, dim FROM rk WHERE rk <= 3),
      |nq AS (SELECT COUNT(*) AS n FROM q),
      |hits AS (
      |  SELECT t.dim, COUNT(*) AS n_hits
      |  FROM top3 t JOIN top3 f
      |    ON f.dim = 64 AND f.qid = t.qid AND f.vec_id = t.vec_id
      |  GROUP BY t.dim)
      |SELECT CAST(hits.dim AS BIGINT) AS dim,
      |       CAST(nq.n AS BIGINT) AS n_queries,
      |       CAST(n_hits AS BIGINT) AS n_hits,
      |       CAST(n_hits * 1000000 // (3 * nq.n) AS BIGINT) AS recall_ppm
      |FROM hits CROSS JOIN nq
      |ORDER BY dim""".stripMargin) { (s, dir) =>
    mrlRecallFor(s, dir, col("vec_id") % 50 === 0)
  }

  val all: Seq[Q] =
    Seq(cosineTopK, annIvf, annIvfLearned, annInt8, annLsh, minhashNearDup,
      simhashNearDup, embedNearDup, dedupComponents, dedupCanonical,
      nearDupVerify, winnowPairs, quantizeRoundtrip, annRecall, splitLeakage,
      annPq, annIvfPq, dedupStats, semDedup, sparseCosine, rougeOverlap,
      gridCluster, clusterFolds, mmrDiversify, gramMatrix, minhashRecall,
      incrementalNearDup, mrlRecall)
}
