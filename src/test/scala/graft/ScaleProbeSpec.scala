package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** The scale probe's replication must produce Repl INDEPENDENT copies of
  * the base workload — disjoint on every key a query buckets by (tokens,
  * labels, ids), with per-replica plant patterns intact. These invariants
  * are what make SCALING.json's factors meaningful (shared keys would wire
  * near-dup/label structure ACROSS replicas and let a quadratic step hide
  * behind hot-bucket skips — or, as the 1M-doc stress showed for the one
  * token the queries themselves append, blow component depth up); guard
  * them with the real replicators at a small Repl.
  */
class ScaleProbeSpec extends SparkSpec {

  private val repl = 3
  private val stride = ScaleProbe.Stride // the probe's real constant

  private def replicaSlices(d: DataFrame, idCol: String): Seq[DataFrame] =
    (0 until repl).map(r =>
      d.filter(col(idCol) >= r * stride && col(idCol) < (r + 1) * stride))

  test("document replicas: disjoint ids + vocabularies, plant pattern intact") {
    val d = ScaleProbe.scaledDocuments(spark, sf, repl).cache()
    val base = Tables.t(spark, sf, "documents")
    val n = base.count()
    val slices = replicaSlices(d, "doc_id")
    assert(d.count() == repl * n && slices.map(_.count()).forall(_ == n))
    // every `doc_id % k` plant/batch pattern repeats identically per replica
    val plantCounts = slices.map(_.filter(col("doc_id") % 10 === 0).count())
    assert(plantCounts.distinct.size == 1, s"$plantCounts")
    // replicas share NO tokens (disjoint vocabularies)
    def toks(df: DataFrame): DataFrame =
      df.select(explode(split(col("text"), " ")).as("t")).distinct()
    assert(toks(slices(0)).join(toks(slices(1)), "t").count() == 0)
    assert(toks(slices(1)).join(toks(slices(2)), "t").count() == 0)
    d.unpersist()
  }

  test("embedding replicas: disjoint ids + label spaces, jittered vectors") {
    val e = ScaleProbe.scaledEmbeddings(spark, sf, repl).cache()
    val base = Tables.t(spark, sf, "embeddings")
    val n = base.count()
    val slices = replicaSlices(e, "vec_id")
    assert(e.count() == repl * n && slices.map(_.count()).forall(_ == n))
    // label spaces disjoint: blocks (embed_neardup) and cells (ann_ivf)
    // stay within-replica
    assert(slices(0).select("label").distinct()
      .join(slices(1).select("label").distinct(), "label").count() == 0)
    // replica 0 is the base verbatim; replica 1 is jittered, not a copy
    val r0 = slices(0).select(col("vec_id"), element_at(col("embedding"), 1).as("x0"))
    val r1 = slices(1).select((col("vec_id") - stride).as("vec_id"),
      element_at(col("embedding"), 1).as("x1"))
    val b0 = base.select(col("vec_id"), element_at(col("embedding"), 1).as("xb"))
    assert(r0.join(b0, "vec_id").filter(col("x0") =!= col("xb")).count() == 0)
    val drift = r1.join(b0, "vec_id")
      .select(abs(col("x1") - col("xb") - lit(1e-3f)).as("d"))
      .agg(max("d")).head.getFloat(0)
    assert(drift < 1e-5f, s"jitter drift $drift")
    e.unpersist()
  }

  test("embedding replicas: labels confined to their per-replica stride window") {
    val base = Tables.t(spark, sf, "embeddings")
    val maxLabel = base.agg(max(col("label")).cast("long")).head.getLong(0)
    val lstride = ScaleProbe.LabelStride
    // the invariant the stressed 500x replication relies on too: replica
    // r's labels live exactly in [r*LabelStride, r*LabelStride + maxLabel]
    val e = ScaleProbe.scaledEmbeddings(spark, sf, repl)
      .select((col("vec_id") / lit(stride)).cast("long").as("r"), col("label"))
    assert(e.filter(col("label") < col("r") * lstride ||
      col("label") > col("r") * lstride + maxLabel).count() == 0)
    // dtype must not widen: scaled label keeps the base schema's type
    assert(ScaleProbe.scaledEmbeddings(spark, sf, repl).schema("label").dataType ==
      base.schema("label").dataType)
  }

  test("drain sentinel is shuffle-free: zero bytes folded into drained counts") {
    // the stress block's and Bench's shuffle accounting is exact only
    // because the drain sentinel's own stage writes nothing — guard the
    // REAL sentinel (changing it back to e.g. range(1).count() adds a
    // shuffle). Stages are filtered to the sentinel's callsite in
    // Harness.scala so other jobs on the shared session cannot pollute the
    // assertion.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val l = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) seen.add((sc.stageInfo.name,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead))
      }
    }
    spark.sparkContext.addSparkListener(l)
    // registered after `l` on the same bus queue, which hands each event to
    // its listeners in registration order: once the drain has seen its
    // sentinel stage, `l` has seen it too
    val log = Harness.listen(spark)
    try {
      assert(log.drain(), "drain timed out")
      val stages = seen.asScala.filter(_._1.startsWith("foreach at Harness.scala")).toSeq
      assert(stages.size == 1, s"expected the one sentinel stage, saw $stages")
      assert(stages.head._2 == 0 && stages.head._3 == 0,
        s"sentinel stage shuffled: $stages")
    } finally {
      spark.sparkContext.removeSparkListener(log)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("scaledEmbeddings refuses a base label space that would overlap replicas") {
    val tmp = java.nio.file.Files.createTempDirectory("scaleprobe-labels").toString
    Tables.t(spark, sf, "embeddings")
      .withColumn("label", (col("label") + lit(ScaleProbe.LabelStride)).cast("int"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      ScaleProbe.scaledEmbeddings(spark, tmp, 2)
    }
    assert(ex.getMessage.contains("label space"))
  }

  test("event replicas: disjoint users/ids, identical time range") {
    val ev = ScaleProbe.scaledEvents(spark, sf, repl).cache()
    val base = spark.read.parquet(s"$sf/events.parquet")
    val n = base.count()
    val slices = replicaSlices(ev, "event_id")
    assert(ev.count() == repl * n && slices.map(_.count()).forall(_ == n))
    assert(slices(0).select("user_id").distinct()
      .join(slices(1).select("user_id").distinct(), "user_id").count() == 0)
    // timestamps are kept: same min/max per replica — 3x traffic in the
    // SAME window keys, the growth direction the events probe models
    val ranges = slices.map(_.agg(min("ts"), max("ts")).head)
    assert(ranges.distinct.size == 1, s"$ranges")
    ev.unpersist()
  }

  test("probe lists cover every declared query, no duplicates or strays") {
    // the completeness pin: a new registry query that is not placed into
    // a probe family fails HERE, not silently ships without a measured
    // scale factor (the scaled dir holds every table, so every
    // parquet-reading query is probeable by construction)
    val listed = ScaleProbe.DocQueries ++ ScaleProbe.EmbQueries ++
      ScaleProbe.EvQueries ++ ScaleProbe.StarQueries ++
      ScaleProbe.MultiQueries
    assert(listed.distinct.size == listed.size,
      s"duplicate probe entries: ${listed.diff(listed.distinct)}")
    val all = graft.queries.Registry.all.map(_.name).toSet
    assert(all == listed.toSet,
      s"unprobed: ${(all diff listed.toSet).toSeq.sorted}; " +
        s"unknown: ${(listed.toSet diff all).toSeq.sorted}")
  }

  test("star replicas: FK-intact per replica, every key disjoint") {
    val star = ScaleProbe.scaledStar(spark, sf, repl).toMap
    val li = star("lineitem").cache()
    val baseLi = Tables.t(spark, sf, "lineitem")
    val n = baseLi.count()
    val slices = replicaSlices(li, "l_orderkey")
    assert(li.count() == repl * n && slices.map(_.count()).forall(_ == n))
    // every key column is strided in step: a replica's lineitem only
    // references ITS replica's orders/parts — the graph and the audits
    // see repl independent copies, never a cross-replica edge
    assert(li.filter(
      (col("l_orderkey") / lit(stride)).cast("long") =!=
        (col("l_partkey") / lit(stride)).cast("long")).count() == 0)
    // FK-intactness transfers exactly: orphan rows scale by repl
    def orphans(l: DataFrame, o: DataFrame): Long =
      l.join(o.select("o_orderkey"),
        l("l_orderkey") === col("o_orderkey"), "left_anti").count()
    val baseOrphans = orphans(baseLi, Tables.t(spark, sf, "orders"))
    assert(orphans(li, star("orders")) == repl * baseOrphans,
      s"orphans must scale exactly ${repl}x the base $baseOrphans")
    // part domain is replicated too (disjoint graphs), keeping dtypes
    assert(star("part").count() ==
      repl * Tables.t(spark, sf, "part").count())
    assert(star("part").schema == Tables.t(spark, sf, "part").schema)
    li.unpersist()
  }
}
