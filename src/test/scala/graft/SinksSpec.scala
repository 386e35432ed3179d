package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.engine.{Sinks, Tables}

/** File-layout sink checks: enforced-schema jsonl read-back and
  * hive-partitioned layout with partition pruning on read-back. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sinks").toString

  test("jsonl round-trip with enforced schema; corrupt rows FAILFAST") {
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    val dir = tmp()
    docs.write.mode("overwrite").json(dir)
    val back = Tables.readJsonl(spark, dir, docs.schema)
    assert(back.schema == docs.schema)
    assert(back.count() == docs.count())
    assert(back.agg(sum("n_chars")).head.getLong(0)
      == docs.agg(sum("n_chars")).head.getLong(0))
    // corrupt line -> FAILFAST surfaces it instead of nulling the row
    val badDir = tmp()
    Files.write(java.nio.file.Paths.get(badDir, "part-bad.json"),
      "{\"doc_id\": \"not-a-number\", \"lang\": 3}\n".getBytes)
    val ex = intercept[Exception] {
      Tables.readJsonl(spark, badDir, docs.schema).collect()
    }
    assert(ex.getMessage != null)
  }

  test("writePartitionedBy lays out hive partitions and prunes on read") {
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "lang")
    val dir = tmp()
    Sinks.writePartitionedBy(docs, dir, Seq("lang"))
    val langs = docs.select("lang").distinct().as[String].collect()
    for (l <- langs)
      assert(new java.io.File(s"$dir/lang=$l").isDirectory, s"missing lang=$l dir")
    // a filter on the partition column shows up as a partition filter, and
    // the pruned read returns exactly that partition's rows
    val one = spark.read.parquet(dir).filter(col("lang") === langs.head)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.contains("PartitionFilters: []"), plan.take(500))
    assert(one.collect().length ==
      docs.filter(col("lang") === langs.head).count())
    // the scan METRIC proves pruning actually skipped the other partitions'
    // files — only lang=<head>'s parquet files were selected, strictly
    // fewer than the directory holds in total
    def parquetFilesUnder(d: java.io.File): Int = {
      val here = Option(d.listFiles()).getOrElse(Array.empty)
      here.count(f => f.isFile && f.getName.endsWith(".parquet")) +
        here.filter(_.isDirectory).map(parquetFilesUnder).sum
    }
    val filesInHead = parquetFilesUnder(new java.io.File(s"$dir/lang=${langs.head}"))
    val filesTotal = parquetFilesUnder(new java.io.File(dir))
    val scan = one.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value == filesInHead,
      s"scan read ${scan.metrics("numFiles").value} files, partition holds $filesInHead")
    assert(filesInHead < filesTotal,
      s"pruning test vacuous: $filesInHead of $filesTotal files")
  }
}
