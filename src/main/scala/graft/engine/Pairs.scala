package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The in-row upper-triangle pair expansion of an array column — the
  * bounded C(k,2) (or, with the diagonal, C(k+1,2)) fan-out the basket,
  * shingle and Gram queries enumerate pairs with instead of a self-join.
  *
  * Built from two built-in generators: `posexplode(arr) AS (i, x)`, then
  * `posexplode(slice(arr, i + off, size(arr)))` over the tail after x
  * (off = 2 skips x itself, off = 1 keeps it). Both are collection
  * generators, so the `Generate` nodes are whole-stage codegen'd; a
  * `transform` lambda nested in `flatten` yields the same rows but runs as
  * an interpreted `CodegenFallback`. A sorted, distinct array yields each
  * x < y pair once; NULL and empty arrays yield no rows. */
object Pairs {
  /** `df` with `i`, `x`, `j`, `y` appended: one row per pair of positions
    * i < j (i <= j with `diagonal`) of the array column `arr`, with x and
    * y the elements at those 0-based positions. `df` must not already
    * carry columns of those names, nor `k`. */
  def upperTriangle(df: DataFrame, arr: String, diagonal: Boolean): DataFrame = {
    val off = if (diagonal) 1 else 2
    df.select(col("*"), posexplode(col(arr)).as(Seq("i", "x")))
      .select(col("*"),
        posexplode(slice(col(arr), col("i") + off, size(col(arr)))).as(Seq("k", "y")))
      .select((df.columns.map(col) :+ col("i") :+ col("x") :+
        (col("i") + col("k") + (off - 1)).as("j") :+ col("y")).toIndexedSeq: _*)
  }
}
