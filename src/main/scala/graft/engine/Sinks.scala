package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Sink helpers (SURVEY.md §2.1 S6 extensions) for the file-layout concerns
  * that only matter at scale:
  *
  *  - **Partition layout**: `writePartitionedBy` lays data out hive-style so
  *    future reads with a filter on the partition column scan only matching
  *    directories (partition pruning — the `PartitionFilters` line in
  *    `.explain`, complementing the `PushedFilters` the audit tracks).
  *  - **Bucketed layout**: `writeBucketed` persists a table hash-bucketed
  *    (and optionally sorted) by its hot join key. Two tables bucketed on
  *    the same key with the same bucket count join with ZERO exchange on
  *    either side — at 100 TB this converts every downstream fact/fact
  *    join on that key from a full shuffle into a local zip of bucket
  *    pairs, and with matching `sortCols` (one file per bucket) the
  *    sort-merge join needs no Sort either (BucketJoinSpec pins both on
  *    the executed plan).
  *  - **Range-sorted layout**: `writeRangeSorted` lays data out range-
  *    partitioned and sorted within files, so every file covers a narrow
  *    value band and the parquet footer min/max statistics let a range
  *    predicate skip whole files/row-groups (SortedLayoutSpec proves the
  *    skip on scan metrics — the value-range complement of hive partition
  *    pruning).
  */
object Sinks {

  /** Persist `df` as a parquet table hash-bucketed by `keys` into
    * `nBuckets` buckets, sorted inside each bucket file by `sortCols`
    * (default: the bucket keys). The frame is pre-repartitioned by the
    * same keys into `nBuckets` partitions, which aligns write tasks with
    * bucket ids (both sides hash with Murmur3), so each bucket lands in
    * EXACTLY ONE file — the layout sorted bucket scans require, and the
    * posture that avoids the tasks×buckets small-file explosion at scale.
    *
    * `path = Some(p)` makes it an external table at `p`; `None` writes to
    * the session warehouse. Readers go through `spark.table(table)` — the
    * bucket metadata lives in the catalog, not the files. */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
      keys: Seq[String], sortCols: Seq[String] = Nil,
      path: Option[String] = None,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(keys.nonEmpty, "need at least one bucket key")
    val sorts = if (sortCols.nonEmpty) sortCols else keys
    val w0 = df.repartition(nBuckets, keys.map(col): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(sorts.head, sorts.tail: _*)
    path.fold(w0)(p => w0.option("path", p)).saveAsTable(table)
  }

  /** Range-partitioned, file-sorted parquet write: `nFiles` range splits
    * on `sortCols`, rows sorted within each split. Each output file then
    * covers one narrow `sortCols` band, so the min/max statistics in the
    * parquet footers make range predicates skip every non-overlapping
    * file/row-group at read time. */
  def writeRangeSorted(df: DataFrame, path: String, nFiles: Int,
      sortCols: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(sortCols.nonEmpty, "need at least one sort column")
    df.repartitionByRange(nFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(mode).parquet(path)
  }

  /** Z-ORDERED layout write — the 2-D generalization of [[writeRangeSorted]]
    * (Delta/Iceberg OPTIMIZE ZORDER BY): both integral dimensions are
    * range-normalized to 8 bits against their observed min/max (a 1-row
    * broadcast aggregate; raw-bit interleaving degenerates to a 1-D sort,
    * see q_zorder_layout), woven into a 16-bit Morton key with the classic
    * magic-number spread, range-partitioned and sorted on that key, and
    * the key is DROPPED before the write (a projection after the sort —
    * no exchange, per-partition order preserved). Every output file is
    * then an axis-aligned 2-D tile whose parquet footer min/max is narrow
    * in BOTH columns, so a predicate selective in EITHER dimension skips
    * most files — the layout q_zorder_layout grades analytically, written
    * and proven on scan metrics by ZOrderWriteSpec. */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int,
      colA: String, colB: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions.{broadcast, expr, greatest, lit, max, min}
    val mm = df.agg(min(col(colA)).as("__mna"),
      greatest(max(col(colA)) - min(col(colA)), lit(1L)).as("__rga"),
      min(col(colB)).as("__mnb"),
      greatest(max(col(colB)) - min(col(colB)), lit(1L)).as("__rgb"))
    df.crossJoin(broadcast(mm)) // 1-row normalization constants
      .withColumn("__an", expr(s"($colA - __mna) * 255 DIV __rga"))
      .withColumn("__bn", expr(s"($colB - __mnb) * 255 DIV __rgb"))
      .withColumn("__ax", expr("(__an | shiftleft(__an, 4)) & 3855"))
      .withColumn("__bx", expr("(__bn | shiftleft(__bn, 4)) & 3855"))
      .withColumn("__ax", expr("(__ax | shiftleft(__ax, 2)) & 13107"))
      .withColumn("__bx", expr("(__bx | shiftleft(__bx, 2)) & 13107"))
      .withColumn("__ax", expr("(__ax | shiftleft(__ax, 1)) & 21845"))
      .withColumn("__bx", expr("(__bx | shiftleft(__bx, 1)) & 21845"))
      .withColumn("__z", expr("__ax | shiftleft(__bx, 1)"))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__mna", "__rga", "__mnb", "__rgb", "__an", "__bn", "__ax", "__bx", "__z")
      .write.mode(mode).parquet(path)
  }

  /** Hive-layout parquet write partitioned by the given columns. */
  def writePartitionedBy(df: DataFrame, path: String, cols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(cols: _*).parquet(path)
}
