package graft

/** Plan audit over the declared query set: per query, counts the physical
  * plan's exchanges, parquet scans, broadcast joins, and flags the two
  * 100-TB red flags (CartesianProduct, empty-partition Window). With no
  * args audits every query and writes PLANS.md; with query names, prints
  * each audit row followed by the query's formatted plan. Counts come
  * from the pre-AQE physical plan (upper bounds: AQE's runtime exchange
  * reuse can only remove work). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val names = Harness.select(args.toSeq)
    // 4 cores whatever the machine, so PLANS.md does not depend on it
    val spark = Session(4)
    // audit-only: with AQE on, the pre-execution plan is an unexpanded
    // AdaptiveSparkPlan wrapper — codegen stages and final exchanges only
    // appear per-stage at runtime. The static (AQE-off) plan is the
    // conservative upper bound the audit wants.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = "/root/testdata/sf0.01"
    def audit(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      val qe = df.queryExecution
      val plan = qe.executedPlan.toString
      val lines = plan.linesIterator.toList
      def n(s: String) = lines.count(_.contains(s))
      // red flags detected on the pre-preparation tree (the AQE wrapper
      // hides children from collect on executedPlan); the detection is
      // single-sourced with the PlanAuditSpec regression test
      val flags = PlanFlags.flags(qe.sparkPlan)
      val pushed = lines.count(l => l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
      // whole-stage-codegen spans appear as `*(id)` prefixes; count distinct ids
      val codegenSpans = "\\*\\((\\d+)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size
      val row = s"| $name | ${n("Exchange")} | ${n("Scan parquet")} | " +
        s"${n("BroadcastHashJoin")} | ${n("SortMergeJoin")} | $pushed | $codegenSpans | " +
        s"${if (flags.isEmpty) "" else flags.mkString(" ")} |"
      if (args.nonEmpty) { println(row); df.explain("formatted") }
      row
    }
    val rows = names.map(audit)
    if (args.isEmpty) {
      val header =
        """# PLANS — physical-plan audit of every declared query
          |
          |Generated by `runMain graft.ExplainAudit` (pre-AQE plans at sf0.01;
          |AQE exchange reuse at runtime only lowers these counts). Flags column
          |is empty when the plan has no CartesianProduct and no empty-partition
          |window — the two shapes that do not survive 100 TB.
          |
          |Partition pruning: the testdata parquet is unpartitioned, so no plan
          |below exercises it; the hive-partitioned path is demonstrated by
          |SinksSpec ("writePartitionedBy lays out hive partitions and prunes
          |on read"), which writes `documents` partitioned by `lang` and
          |asserts both a non-empty `PartitionFilters` on the scan node and —
          |via the scan's `numFiles` metric — that only the matching
          |partition's files were read. DYNAMIC partition pruning (the
          |dim-filter → fact-partition-skip path a 100-TB fact/dim layout
          |lives on) is demonstrated by DppSpec: a filter existing only on a
          |dim side reaches the hive-partitioned fact scan at runtime as a
          |`dynamicpruningexpression`, and the scan's `numFiles` metric
          |proves only the surviving partitions' files were read.
          |
          || query | exchanges | parquet scans | broadcast joins | sort-merge joins | scans w/ pushed filters | codegen spans | flags |
          ||---|---|---|---|---|---|---|---|""".stripMargin
      val body = rows.mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
        (header + "\n" + body + "\n").getBytes("UTF-8"))
      println(s"wrote PLANS.md (${rows.size} queries)")
    }
    spark.stop()
  }
}
