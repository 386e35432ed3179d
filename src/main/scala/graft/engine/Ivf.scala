package graft.engine

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** IVF (inverted-file) ANN index with LEARNED centroids — the real form of
  * the cell-pruned search that q_ann_ivf demonstrates with a precomputed
  * cell id. Centroids come from a seeded KMeans fit (deterministic given
  * data + seed) over the vector column; each vector is assigned to its
  * nearest centroid's cell, and a query scans only the `nProbe` cells whose
  * centroids are closest to it — the classic recall/cost dial.
  *
  * Scale shape: the fit runs on a SAMPLE (centroid count and sample size
  * are both bounded, independent of corpus size), assignment is one
  * broadcast-centroid pass over the corpus, and search touches
  * nProbe/nCells of the data per query through a plain (cell, query)
  * equi-join — never a crossJoin of the corpus.
  */
object Ivf {

  final case class Index(assigned: DataFrame, centroids: Array[(Int, Array[Double])])

  /** Fit centroids (seeded, on up to `fitSample` rows) and assign every
    * vector its cell. `vecCol` is an array<float|double> column; output
    * adds an integer `cell`. */
  def build(emb: DataFrame, idCol: String, vecCol: String, nCells: Int,
      seed: Long = 7L, fitSample: Int = 100000): Index = {
    val spark = emb.sparkSession
    val asVec = emb
      .withColumn("__v", array_to_vector(Vectors.asDouble(col(vecCol))))
    val n = asVec.count()
    val sample =
      if (n > fitSample) asVec.sample(withReplacement = false, fitSample.toDouble / n, seed)
      else asVec
    val model = new KMeans()
      .setK(nCells).setSeed(seed).setFeaturesCol("__v").setPredictionCol("cell")
      .fit(sample)
    val assigned = model.transform(asVec).drop("__v")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    Index(assigned, centroids)
  }

  /** Hard ceiling on the driver-side query batch [[searchTopK]] collects:
    * the utility is for BOUNDED evaluation batches (ScaleProbe, IvfSpec);
    * an unbounded `queryPred` must fail loudly instead of OOMing the
    * driver. Unbounded query sets belong on the keyed cell equi-join
    * (the q_ann_ivf shape), which never collects. */
  val MaxQueryBatch: Int = 100000

  /** Top-k cosine neighbors for each query vector, scanning only the
    * `nProbe` cells nearest the query (by centroid distance). Queries are
    * taken from the index itself via a predicate on the id (self-search,
    * the evaluation shape); the query side is broadcast. The batch is
    * guarded at `maxQueryBatch` rows ([[MaxQueryBatch]] by default): the
    * check counts AT MOST maxQueryBatch + 1 rows (a `limit` before the
    * count, so the guard itself never scans an unbounded result) and
    * throws before any collect can materialize an oversized batch. */
  def searchTopK(index: Index, queryPred: org.apache.spark.sql.Column,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      maxQueryBatch: Int = MaxQueryBatch): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    require(nProbe >= 1 && nProbe <= index.centroids.length)
    require(maxQueryBatch >= 1, s"maxQueryBatch must be positive (got $maxQueryBatch)")
    require(index.assigned.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"searchTopK requires a LongType id column, got " +
        index.assigned.schema(idCol).dataType)
    val batchProbe = index.assigned.filter(queryPred)
      .select(col(idCol)).limit(maxQueryBatch + 1).count()
    require(batchProbe <= maxQueryBatch,
      s"searchTopK query batch exceeds maxQueryBatch=$maxQueryBatch rows; " +
        "this utility collects the batch driver-side — use the keyed cell " +
        "equi-join (the q_ann_ivf shape) for unbounded query sets")
    // nProbe nearest cells per query are decided driver-side against the
    // bounded centroid table (nCells x dim doubles — a broadcast-scale
    // object by construction)
    val cents = index.centroids
    def nearestCells(v: Array[Double]): Seq[Int] =
      cents.map { case (cid, c) =>
        val d = c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
        (cid, d)
      }.sortBy { case (cid, d) => (d, cid) }.take(nProbe).map(_._1).toSeq
    val queries = index.assigned.filter(queryPred)
      .select(col(idCol).as("qid"), Vectors.asDouble(col(vecCol)).as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // query norm once per (query, cell) probe row on the broadcast side,
    // not once per candidate pair after the join
    val probe = CosineTopK.withQueryNorm(queries.flatMap { case (qid, qv) =>
      nearestCells(qv).map(c => (qid, c, qv.toSeq))
    }.toSeq.toDF("qid", "cell", "qv"))
    val e = CosineTopK.withNorm(index.assigned.select(col(idCol), col("cell"),
      Vectors.asDouble(col(vecCol)).as("v")))
    CosineTopK(e.join(broadcast(probe), "cell"), k, idCol)
  }

  /** Oracle-able learned-IVF fit + assignment: hyperplane-LSH init cells
    * (plan-time literal signs, [[graft.functions.Vectors.planeSigns]])
    * refined by ONE Lloyd step whose per-cell means use FIXED-POINT
    * accumulation — every element is quantized to the 1e-6 grid
    * (`FLOOR(x * 1e6 + 0.5)`, IEEE-exact in any engine) before the integer
    * sum, so the mean is an exact integer ratio INDEPENDENT OF AGGREGATION
    * ORDER. That makes the learned centroids deterministic across runs,
    * partitionings, and engines — the property a distributed fit needs
    * anyway, and what lets a DuckDB mirror reproduce them bit-for-bit
    * (a float groupBy-mean would differ run to run with >1 partition).
    *
    * Returns every (vector, learned-centroid) pair ranked by squared L2
    * distance: `rk = 1` is the vector's cell assignment; `rk <= nProbe`
    * rows for a query vector are its probe cells. Output columns:
    * (idCol, v, cell, dist, rk). The centroid table is bounded
    * (<= 2^nPlanes rows x dim doubles) and broadcast; the distance is the
    * sequential zip fold (bit-identical to `list_reduce` in the mirror).
    * At 100 TB the fit input would be `.sample()`-bounded exactly like
    * [[build]]; the ranking pass stays one broadcast-join scan. */
  def learnedCellRanks(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int, table: Int = 1): DataFrame = {
    val e = emb.select(col(idCol), Vectors.asDouble(col(vecCol)).as("v"))
      .withColumn("cell0", Vectors.lshBucket(col("v"), dim, nPlanes, table))
    val pos = e.select(col("cell0"), posexplode(col("v")).as(Seq("pos", "x")))
    val perPos = pos.groupBy("cell0", "pos")
      .agg(sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("cell0"), col("pos"),
        (col("sq").cast("double") / (col("n") * lit(1000000L)).cast("double")).as("c"))
    val cents = perPos.groupBy("cell0")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
      .select(col("cell0").as("cell"), col("cv"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("dist",
        aggregate(zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy(idCol).orderBy(col("dist"), col("cell"))
    scored.withColumn("rk", row_number().over(w)).drop("cv", "cell0")
  }
}
