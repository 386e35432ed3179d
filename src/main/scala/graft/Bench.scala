package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(Session.cores)
    // warm the JVM paths (parquet reader, codegen compiler, shuffle) once so
    // startup cost isn't attributed to whichever query happens to run first
    try SparkEntry.queries.headOption.foreach(_._2(spark, sfDir).limit(1).count())
    catch { case _: Throwable => () }
    // noop sink materializes every row and column (count() would let
    // Catalyst prune projections and under-measure projection-heavy
    // queries). Each query runs once COLD (one-time codegen compilation +
    // JIT, amortized away in any sustained deployment) and then
    // `SteadyIters` steady-state times; the reported per-query number is
    // the MEDIAN of the steady runs (single-run deltas proved unreadable
    // round to round on a shared machine — q_minhash_neardup once swung
    // +47% with no code change) and `spread` carries max-min per query so
    // a reader can tell signal from noise. `value` is the sum of medians,
    // `cold_total` the first-run sum. Failed queries are recorded
    // (name -> error, all control characters stripped for JSON safety)
    // rather than silently timed on their failure path.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // build the query map ONCE — Registry reconstructs every Q (SQL strings,
    // md5 plane-sign tables) per access, which must not be timed per run
    val queries = SparkEntry.queries
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch {
        case t: Throwable =>
          errors.getOrElseUpdate(name, t.getClass.getSimpleName + ": " +
            String.valueOf(t.getMessage).replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200))
      }
      (System.nanoTime() - t0) / 1e9
    }
    // optional args = subset of query names to run (profiling loop); a
    // subset run does NOT overwrite the BENCH.json artifact of record
    val names =
      if (args.nonEmpty) {
        val unknown = args.filterNot(queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        args.toSeq
      } else queries.keys.toSeq
    // per-query shuffle-WRITE bytes, measured once on the cold pass (bytes
    // are plan-determined and stable across runs, unlike wall time): the
    // scale-killer ledger — a query whose walls hide a regression on
    // local[32] still shows a >2x bytes jump between rounds
    // (BenchCoverageSpec flags it against the previous round's artifact).
    // The tracker is read between shuffle-free sentinel jobs so async
    // listener delivery can't bleed one query's stages into the next.
    val tracker = new ScaleProbe.ShuffleTracker
    spark.sparkContext.addSparkListener(tracker)
    val shuffleBytes = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val coldAll = names.map { n =>
      ScaleProbe.sentinelJob(spark)
      tracker.reset()
      val t = once(n)
      ScaleProbe.sentinelJob(spark)
      shuffleBytes(n) = tracker.writeBytes
      n -> t
    }.toMap
    val SteadyIters = 3
    val runs = (1 to SteadyIters).map(_ => names.map(n => n -> once(n)).toMap)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // failed queries are EXCLUDED from every timing aggregate — a fast
    // failure path would otherwise read as a speedup in the headline total;
    // the errors map is their only trace
    val okNames = names.filterNot(errors.contains)
    val cold = okNames.map(n => n -> coldAll(n)).toMap
    val med = okNames.map(n => n -> median(runs.map(_(n))))
    val spread = okNames.map { n =>
      val xs = runs.map(_(n))
      n -> (xs.max - xs.min)
    }
    // min alongside median: with 3 iters a single GC pause can still land
    // in the median; min lets a reader spot one-sided noise
    val mins = okNames.map(n => n -> runs.map(_(n)).min)
    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val shuf = okNames.map(n => s"\"" + n + "\":" + shuffleBytes.getOrElse(n, 0L))
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = med.map(_._2).sum
    val coldTotal = cold.values.sum
    // declared/errored make partial runs self-describing (ADVICE r8): a
    // consumer of BENCH.json can see 62-timed-of-90-declared instead of
    // mistaking an error-truncated run for a complete, gate-passing bench
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(med)},"min":${jmap(mins)},"spread":${jmap(spread)},"shuffle_bytes":$shuf,"iters":$SteadyIters,"errors":$errs,"declared":${queries.size},"timed":${okNames.size},"errored":${errors.size},"cold_total":$coldTotal,"sf":"$sfDir"}"""
    println(json)
    // the driver captures only a ~2000-char stdout TAIL and tries to parse
    // a JSON line out of it — the full line above outgrew that window at
    // ~60 queries (BENCH_r11/r12 record `parsed: null`), so a COMPACT
    // headline line (aggregates + the 10 slowest medians; always < 1 KB)
    // prints LAST, inside the tail, where the driver can parse it. The
    // full object remains the artifact of record in BENCH.json below.
    val slow10 = med.sortBy(-_._2).take(10)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(slow10)},"iters":$SteadyIters,"declared":${queries.size},"timed":${okNames.size},"errored":${errors.size},"cold_total":$coldTotal,"sf":"$sfDir","note":"slowest-10 medians only; full per-query detail in BENCH.json"}""")
    // the driver captures only a stdout tail (r5 truncated 8 of 60 entries
    // and the whole spread map) — the FULL object lands in the repo as the
    // auditable artifact of record on every full run
    if (args.isEmpty) {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json"))
      java.nio.file.Files.write(out,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
