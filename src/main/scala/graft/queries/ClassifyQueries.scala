package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.CosineTopK
import graft.engine.Tables.t
import graft.functions.Vectors

/** LLM-data-pipeline batch 5: embedding-quality EVALUATION — the label
  * column of the `embeddings` table is ground truth, and these queries
  * measure how well the embedding space separates it. A training-data
  * pipeline runs exactly these checks before trusting an embedding model
  * for clustering, near-dup thresholds, or retrieval: if k-NN / nearest-
  * class-mean accuracy is poor, every downstream similarity decision is
  * noise. North-star extensions (SURVEY §7.5); no counterpart in the
  * reference.
  *
  * Scale shapes: the query batch and the per-label centroid table are both
  * BOUNDED and broadcast; the corpus streams through one scan per query.
  * Votes, confusion counts, and centroid sums are integers (fixed-point
  * for the means), so every output hash-matches across engines.
  */
object ClassifyQueries {

  /** k-NN CLASSIFICATION eval: predict each held-out query vector's label
    * by majority vote of its 5 nearest neighbors (cosine, brute-force
    * truth — the yardstick the ANN variants approximate), and report the
    * prediction next to the ground truth. Vote ties break by (count desc,
    * label asc), so the prediction is deterministic. The query batch
    * (vec_id % 50) is proportionally small — 1/50 of the corpus, so the
    * broadcast side and the scored-pairs cost both grow linearly with the
    * table; brute-force by design (it IS the ground truth the ANN paths
    * approximate). A fixed-size batch would cap it, but the eval reads
    * every 50th vector on purpose. The corpus is ONE scan. */
  val knnClassify: Q = Q(
    "q_knn_classify",
    s"""WITH q AS (
      |  SELECT vec_id AS qid, label AS true_label, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |e AS (SELECT vec_id, label AS nlabel, embedding::DOUBLE[] AS v FROM embeddings),
      |${SubPlans.rankedCtes("q, e WHERE", "q.qid, q.true_label, e.vec_id, e.nlabel")},
      |votes AS (
      |  SELECT qid, true_label, nlabel, COUNT(*) AS nv
      |  FROM ranked WHERE rk <= 5 GROUP BY qid, true_label, nlabel),
      |pred AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY nv DESC, nlabel) AS vr
      |  FROM votes)
      |SELECT qid, CAST(true_label AS BIGINT) AS true_label,
      |       CAST(nlabel AS BIGINT) AS pred_label, CAST(nv AS BIGINT) AS n_votes,
      |       CAST(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM pred WHERE vr = 1 ORDER BY qid""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val q = CosineTopK.withQueryNorm(emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        Vectors.asDouble(col("embedding")).as("qv")))
    val e = CosineTopK.withNorm(emb.select(col("vec_id"), col("label").as("nlabel"),
      Vectors.asDouble(col("embedding")).as("v")))
    val votes = CosineTopK(e.crossJoin(broadcast(q)), 5,
        cols = Seq("qid", "true_label", "vec_id", "nlabel"))
      .groupBy("qid", "true_label", "nlabel")
      .agg(count(lit(1)).as("nv"))
    val vrW = Window.partitionBy("qid").orderBy(desc("nv"), asc("nlabel"))
    votes.withColumn("vr", row_number().over(vrW))
      .filter(col("vr") === 1)
      .select(col("qid"), col("true_label").cast("long").as("true_label"),
        col("nlabel").cast("long").as("pred_label"), col("nv").as("n_votes"),
        when(col("nlabel") === col("true_label"), 1L).otherwise(0L).as("correct"))
      .orderBy("qid")
  }

  /** NEAREST-CLASS-MEAN classifier + CONFUSION MATRIX: per-label centroids
    * via the fixed-point integer-sum mean (the [[graft.engine.Ivf]] recipe —
    * aggregation-order-independent, so the learned means are deterministic
    * across runs, partitionings, and engines), every vector assigned to its
    * highest-cosine centroid (ties break by label asc), and the
    * (true, predicted) counts reported — the confusion matrix an embedding
    * eval reads for class separability. The centroid table is
    * label-cardinality-bounded and broadcast; classification is one corpus
    * scan; confusion counts are one keyed aggregation. */
  val ncmClassify: Q = Q(
    "q_ncm_classify",
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |pos AS (
      |  SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
      |pp AS (
      |  SELECT label, pos,
      |         CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
      |         COUNT(*) AS n
      |  FROM pos GROUP BY label, pos),
      |cent AS (
      |  SELECT label AS clabel,
      |         list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) ORDER BY pos) AS cv
      |  FROM pp GROUP BY label),
      |scored AS (
      |  SELECT e.vec_id, e.label AS true_label, c.clabel,
      |    list_reduce(list_transform(list_zip(e.v, c.cv), p -> p[1] * p[2]), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (x, y) -> x + y))) AS cos
      |  FROM e CROSS JOIN cent c),
      |rkd AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rk
      |  FROM scored)
      |SELECT CAST(true_label AS BIGINT) AS true_label,
      |       CAST(clabel AS BIGINT) AS pred_label,
      |       COUNT(*) AS n
      |FROM rkd WHERE rk = 1
      |GROUP BY true_label, clabel ORDER BY true_label, pred_label""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), Vectors.asDouble(col("embedding")).as("v"))
    val perPos = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sq").cast("double") / (col("n") * lit(1000000L)).cast("double")).as("c"))
    val cents = perPos.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
      .select(col("label").as("clabel"), col("cv"))
      .withColumn("cn", Vectors.normNative(col("cv")))
    val scored = CosineTopK.withNorm(e)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label").as("true_label"), col("clabel"),
        Vectors.cosineFromNorms(col("v"), col("cv"), col("vn"), col("cn")).as("cos"))
    // argmax as max(struct(cos, -label)): same (cos desc, label asc)
    // tie-break as a rank window, but an AGGREGATE — map-side partial
    // combine collapses each vector's centroid candidates before the
    // shuffle, where a per-vector window would shuffle every scored row
    val best = scored
      .groupBy(col("vec_id"), col("true_label"))
      .agg(max(struct(col("cos"), (-col("clabel")).as("negl"))).as("b"))
      .select(col("true_label"), (-col("b.negl")).as("pred_label"))
    best
      .groupBy(col("true_label").cast("long").as("true_label"),
        col("pred_label").cast("long").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  val all: Seq[Q] = Seq(knnClassify, ncmClassify)
}
