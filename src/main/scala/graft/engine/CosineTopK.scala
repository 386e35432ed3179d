package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Exact-cosine top-k over an already-joined candidate frame: the score,
  * rank and keep steps that the brute-force search and every ANN search
  * end in. The query side carries `qid`, its vector `qv` and norm `qn`;
  * the corpus side an id, its vector `v` and norm `vn`. Norms are
  * projected once per vector, before the join ([[withQueryNorm]],
  * [[withNorm]]), never per scored pair. The DuckDB twin is
  * [[graft.queries.SubPlans.rankedCte]]. */
object CosineTopK {

  /** `df` plus `qn`, the norm of its query vector `qv`. */
  def withQueryNorm(df: DataFrame): DataFrame =
    df.withColumn("qn", Vectors.normNative(col("qv")))

  /** `df` plus `vn`, the norm of its corpus vector `v`. */
  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("vn", Vectors.normNative(col("v")))

  /** Drops self-matches (`id` = `qid`), scores each candidate by cosine,
    * ranks per `qid` by (cos desc, `id`) and keeps ranks <= `k`: columns
    * `cols` (default `qid`, `id`), `cos`, `rk`. */
  def apply(cands: DataFrame, k: Int, id: String = "vec_id",
      cols: Seq[String] = Nil): DataFrame = {
    val keep = if (cols.isEmpty) Seq("qid", id) else cols
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc(id))
    cands.filter(col(id) =!= col("qid"))
      .select(keep.map(col) :+
        Vectors.cosineFromNorms(col("qv"), col("v"), col("qn"), col("vn")).as("cos"): _*)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }
}
