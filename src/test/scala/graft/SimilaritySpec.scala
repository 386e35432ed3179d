package graft

import org.apache.spark.sql.functions._
import graft.engine.Similarity
import graft.functions.Vectors

/** Behavior checks for the non-oracle similarity machinery: MinHash+LSH
  * banding, SimHash, hyperplane-LSH buckets, and the cosine expressions. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native graft_dot: codegen expression bit-matches the HOF fold") {
    val emb = graft.engine.Tables.t(spark, sf, "embeddings").limit(20)
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .select(
        Vectors.dot(col("a.v"), col("b.v")).as("hof"),
        Vectors.dotNative(col("a.v"), col("b.v")).as("native"))
    // bit-identical, not approximately equal: same sequential fold order
    assert(pairs.filter(col("hof") =!= col("native")).isEmpty)
    // SQL resolution through the injected function registry
    emb.createOrReplaceTempView("emb_native_test")
    val viaSql = spark.sql(
      "SELECT graft_dot(v, v) FROM emb_native_test ORDER BY vec_id LIMIT 1")
      .as[Double].head()
    assert(math.abs(viaSql - 1.0) < 1e-5) // embeddings are ~unit-norm
    // wrong arity fails with the builder's message, not an index crash
    val e = intercept[Exception](
      spark.sql("SELECT graft_dot(v) FROM emb_native_test").collect())
    assert(e.getMessage.contains("graft_dot"), e.getMessage)
  }

  test("cosine: exact on known vectors") {
    val df = Seq((Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (Array(1.0, 2.0, 2.0), Array(1.0, 2.0, 2.0)),
      (Array(1.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0))).toDF("a", "b")
    val got = df.select(Vectors.cosine(col("a"), col("b"))).as[Double].collect().toSeq
    assert(got == Seq(0.0, 1.0, -1.0))
  }

  test("minhash+LSH: identical docs always pair; disjoint docs never do") {
    val docs = Seq(
      (1L, "spark shuffle partition join agg window scan filter"),
      (2L, "spark shuffle partition join agg window scan filter"), // exact twin of 1
      (3L, "spark shuffle partition join agg window scan filters"), // near twin (1 token differs)
      (4L, "entirely different vocabulary nothing shared here at all")).toDF("doc_id", "text")
    val sig = Similarity.minhashSignaturesMd5(docs, "doc_id", "text", k = 16)
    assert(sig.columns.length == 17)
    val pairs = Similarity.lshCandidatePairs(sig, "doc_id", k = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"exact twin must collide in every band: $pairs")
    assert(pairs.contains((1L, 3L)) == pairs.contains((2L, 3L)),
      "near-twin collisions must be consistent for identical docs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"disjoint doc must never be a candidate: $pairs")
  }

  test("hyperplane LSH: planted twin shares the bucket and is found top-1") {
    val emb = graft.engine.Tables.t(spark, sf, "embeddings").limit(50)
    // plant an exact twin of vec 0 under id 9999
    val twin = emb.filter(col("vec_id") === 0)
      .select(lit(9999L).as("vec_id"), col("embedding"), col("label"))
    val indexed = Similarity.lshIndex(
      emb.select("vec_id", "embedding", "label").unionAll(twin),
      "vec_id", "embedding", dim = 64, nPlanes = 4)
    val b = indexed.filter(col("vec_id").isin(0L, 9999L))
      .select("bucket").as[Long].collect().toSet
    assert(b.size == 1, "identical vectors must share the LSH bucket")
    // within the twin's bucket, the nearest neighbor of 9999 is vec 0 (cos=1)
    val bucketVal = b.head
    val cands = indexed.filter(col("bucket") === bucketVal && col("vec_id") =!= 9999L)
    val qv = indexed.filter(col("vec_id") === 9999L)
      .select(Vectors.asDouble(col("embedding")).as("qv"))
    val top = cands.crossJoin(qv)
      .select(col("vec_id"),
        Vectors.cosine(col("qv"), Vectors.asDouble(col("embedding"))).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(1).as[(Long, Double)].head()
    assert(top._1 == 0L && math.abs(top._2 - 1.0) < 1e-12, s"got $top")
  }

  test("per-row HOF minhash signature equals the batch aggregation path") {
    // null text included: both paths must DROP it (divergence here once
    // bucketed every null-text doc together). Full-outer join + null-safe
    // comparison so a doc present in only one path, or a null slot, counts
    // as a mismatch instead of vanishing from an inner join.
    val docs = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
      .unionAll(Seq((90001L, null: String), (90002L, null: String))
        .toDF("doc_id", "text"))
    val agg = Similarity.minhashSignaturesMd5(docs, "doc_id", "text", k = 16)
    val hof = Similarity.withMinhashSignature(docs, "text", k = 16)
      .drop("text")
    val mismatches = agg.as("a")
      .join(hof.as("h"), col("a.doc_id") === col("h.doc_id"), "full_outer")
      .filter(
        col("a.doc_id").isNull || col("h.doc_id").isNull ||
          (0 until 16)
            .map(i => !(col(s"a.mh_$i") <=> col(s"h.mh_$i")))
            .reduce(_ || _))
      .count()
    assert(mismatches == 0)
    assert(agg.filter(col("doc_id") >= 90000).count() == 0,
      "null-text docs must be dropped")
  }

  test("minhash16 kernel equals the builtin md5-hex-window chain, incl. short docs") {
    // the single-pass codegen kernel (expressions/MinhashKernel.scala)
    // must be byte-identical to the builtin expression chain it replaced:
    // md5('mj:' || shingle) hex windows, concat_ws short-doc fallback.
    // Short docs (1 and 2 tokens) exercise the whole-array shingle branch.
    val docs = Seq(
      (1L, "one"), (2L, "two tokens"), (3L, "three token doc"),
      (4L, "a b c d e f g h"), (5L, ""), (6L, "repeat repeat repeat repeat"))
      .toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val sh = when(size(toks) < 3, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3))))
    val builtin = (0 until 16).map { s =>
      val j = s / 8
      val i = s % 8
      array_min(transform(sh,
        h => substring(md5(concat(lit(s"m$j:"), h).cast("binary")),
          4 * i + 1, 4))).as(s"b_$s")
    }
    val mismatches = docs
      .withColumn("mh", call_function("graft_minhash16", toks))
      .select(col("doc_id") +: col("mh") +: builtin: _*)
      .filter((0 until 16)
        .map(s => !(element_at(col("mh"), s + 1) <=> col(s"b_$s")))
        .reduce(_ || _))
      .count()
    assert(mismatches == 0)
  }

  test("simhash banding: pigeonhole guarantee at Hamming <= bands-1") {
    // synthetic 32-bit fingerprints: base plus variants at controlled
    // Hamming distances; maxHamming=3 with 4 bands must find EVERY pair
    // within distance 3 (pigeonhole: <=3 flips cannot touch all 4 bands)
    // and none beyond it
    val base = 0x5A5A5A5AL
    def flip(bits: Int*): Long = bits.foldLeft(base)((v, b) => v ^ (1L << b))
    val sig = Seq(
      (1L, base),
      (2L, flip(0)),          // ham 1
      (3L, flip(3, 11)),      // ham 2
      (4L, flip(5, 13, 21)),  // ham 3 — one flip in 3 different bands
      (5L, flip(1, 9, 17, 25)), // ham 4 vs base — one flip in EVERY band
      (6L, ~base & 0xFFFFFFFFL) // ham 32
    ).toDF("doc_id", "simhash")
    val pairs = Similarity
      .simhashNearDupPairs(sig, "doc_id", bits = 32, bands = 4, maxHamming = 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    for (other <- Seq(2L, 3L, 4L))
      assert(pairs.contains((1L, other)), s"missing ham<=3 pair (1,$other)")
    assert(!pairs.contains((1L, 5L)), "ham-4 pair must be filtered")
    assert(!pairs.contains((1L, 6L)), "ham-32 pair must be filtered")
  }

  test("multi-table LSH: tables are independent; twins collide in every table") {
    val emb = graft.engine.Tables.t(spark, sf, "embeddings").limit(50)
    val twin = emb.filter(col("vec_id") === 0)
      .select(lit(9999L).as("vec_id"), col("embedding"), col("label"))
    val base = emb.select("vec_id", "embedding", "label").unionAll(twin)
    // lshIndex's multi-table form: one `table` seed per table, unioned
    val multi = (0 until 3).map(t =>
        Similarity.lshIndex(base, "vec_id", "embedding", dim = 64, nPlanes = 4, table = t)
          .withColumn("tbl", lit(t)))
      .reduce(_ unionAll _)
    // one row per (vector, table)
    assert(multi.filter(col("vec_id") === 0L).count() == 3)
    // identical vectors share the bucket in EVERY table
    val perTable = multi.filter(col("vec_id").isin(0L, 9999L))
      .groupBy("tbl").agg(countDistinct("bucket").as("nb"))
      .select("nb").as[Long].collect()
    assert(perTable.length == 3 && perTable.forall(_ == 1L))
    // different tables use different hyperplanes: bucket assignments differ
    // for at least one vector across tables (overwhelmingly likely at n=50)
    val distinctAssignments = multi
      .groupBy("vec_id").agg(countDistinct("bucket").as("nb"))
      .filter(col("nb") > 1).count()
    assert(distinctAssignments > 0, "tables must not be identical")
  }

  test("dropHotKeys equals the occupancy-window filter on skewed data") {
    // the broadcast-anti-join guard must keep exactly the rows whose key
    // occurs <= maxOcc times — checked against the window form it replaced,
    // on a distribution with one dominating hot key plus a long tail
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map { i =>
      // include a NULL key group (over-threshold): the anti-join must use
      // null-safe equality to drop it exactly like the window form does
      (i.toLong, if (rnd.nextInt(10) < 2) null
      else if (rnd.nextInt(10) < 6) "hot" else s"k${rnd.nextInt(50)}")
    }
    val df = rows.toDF("id", "key").repartition(7)
    for (maxOcc <- Seq(1L, 20L, 40L, 5000L)) {
      val got = Similarity.dropHotKeys(df, Seq("key"), maxOcc)
        .select("id").as[Long].collect().toSet
      val want = df
        .withColumn("occ", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("key")))
        .filter(col("occ") <= maxOcc)
        .select("id").as[Long].collect().toSet
      assert(got == want, s"divergence at maxOcc=$maxOcc")
    }
  }

  /** JVM reference winnowing: shingles -> md5-32 hashes -> per-window
    * rightmost-min -> distinct (pos, hash) digests. Mirrors the column
    * pipeline independently (MessageDigest, plain loops) so the HOF
    * implementation is checked against first-principles semantics, not
    * itself. */
  private def winnowRef(text: String, w: Int = 4): (Long, Long, Long, Long) = {
    val toks = text.split(" ", -1).toSeq
    val sh =
      if (toks.length < 3) Seq(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = sh.map { g =>
      val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val m = hs.length
    val starts = 0 to math.max(m - w, 0)
    val sel = starts.map { j =>
      val win = hs.zipWithIndex.slice(j, j + w)
      // rightmost minimum: later equal hash wins
      win.foldLeft((Long.MaxValue, -1)) { case (acc, x) =>
        if (x._1 <= acc._1) x else acc
      }
    }.distinct
    (m.toLong, sel.size.toLong, sel.map(_._1).min, sel.map(_._1).sum)
  }

  test("winnowing: HOF pipeline matches the JVM reference on crafted and real docs") {
    // crafted: short doc (< shingle len), exactly one window, one-past-one
    // window, and a tie-heavy doc (repeated shingles force equal hashes,
    // exercising the rightmost-tie rule)
    val crafted = Seq(
      (1L, "one two"),                        // 1 shingle, 1 window
      (2L, "a b c d e f"),                    // m = 4 = w: exactly 1 window
      (3L, "a b c d e f g"),                  // m = 5: 2 windows
      (4L, "x x x x x x x x x x"),            // all shingles identical: ties
      (5L, "p q p q p q p q p q p q"))        // alternating ties
    val real = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .orderBy("doc_id").limit(50)
      .as[(Long, String)].collect().toSeq
    val docs = (crafted ++ real.map { case (id, t) => (id + 1000L, t) }).toDF("doc_id", "text")
    val got = Similarity.winnowFingerprints(docs, "doc_id", "text")
      .select("doc_id", "n_shingles", "n_selected", "fp_min", "fp_sum")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val want = (crafted ++ real.map { case (id, t) => (id + 1000L, t) })
      .map { case (id, t) => id -> winnowRef(t) }.toMap
    assert(got == want,
      s"divergence: ${(got.toSet diff want.toSet).take(3)} vs ${(want.toSet diff got.toSet).take(3)}")
    // the tie-heavy doc: every window's min is the same hash at a DIFFERENT
    // rightmost position -> one selection per window start
    val m4 = winnowRef("x x x x x x x x x x")._1
    assert(got(4L)._2 == m4 - 4 + 1, "rightmost-tie rule must select one position per window")
  }

  test("graft_levenshtein: bit-parallel kernel equals the built-in on random unicode") {
    import graft.expressions.MyersLev
    import org.apache.spark.unsafe.types.UTF8String
    val r = new scala.util.Random(42)
    // alphabets chosen to force collisions (tiny), unicode incl.
    // supplementary planes, and the >64-codepoint blocked path
    val alphabets = Seq("ab", "abcde", "abcdefghijklmnop",
      "aé中😀x") // é, 中, 😀 (surrogate pair)
    def rand(alpha: String, maxLen: Int): String = {
      val cps = alpha.codePoints.toArray
      val sb = new java.lang.StringBuilder
      (0 until r.nextInt(maxLen + 1)).foreach(_ =>
        sb.appendCodePoint(cps(r.nextInt(cps.length))))
      sb.toString
    }
    val cases = Seq(("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
      ("kitten", "sitting"), ("a" * 100, "a" * 100 + "b" * 7)) ++
      (for (_ <- 1 to 400) yield {
        val alpha = alphabets(r.nextInt(alphabets.length))
        (rand(alpha, 150), rand(alpha, 150))
      }) ++
      // long pairs through the blocked (multi-word) path with edits sprinkled
      (for (_ <- 1 to 40) yield {
        val base = rand("abcdef", 300) + ("x" * 80)
        val mutated = base.toCharArray
        (0 until r.nextInt(6)).foreach(_ =>
          if (mutated.nonEmpty) mutated(r.nextInt(mutated.length)) = 'z')
        (base, new String(mutated) + rand("ab", 10))
      })
    cases.foreach { case (x, y) =>
      val got = MyersLev.distance(UTF8String.fromString(x), UTF8String.fromString(y))
      val want = UTF8String.fromString(x).levenshteinDistance(UTF8String.fromString(y))
      assert(got == want, s"kernel mismatch on (${x.take(40)}, ${y.take(40)}): $got vs $want")
    }
    // and through SQL: the registered function equals the built-in
    import spark.implicits._
    val df = cases.take(50).toDF("x", "y")
    val mism = df.filter(expr("graft_levenshtein(x, y) != levenshtein(x, y)")).count()
    assert(mism == 0)
  }

  /** JVM-reference selected winnow HASH SET for one doc (positions
    * dropped): per-window rightmost-min over md5-32 shingle hashes. */
  private def selSet(text: String): Set[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = text.split(" ", -1).toSeq
    val sh = if (toks.length < 3) Seq(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSeq
    val hs = sh.map { g =>
      val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    (0 to math.max(hs.length - 4, 0)).map { j =>
      hs.zipWithIndex.slice(j, j + 4)
        .foldLeft((Long.MaxValue, -1)) { case (acc, x) => if (x._1 <= acc._1) x else acc }
    }.map(_._1).toSet
  }

  test("winnow pairs: selected-hash sets match the reference; twins always pair") {
    import spark.implicits._
    // selected-hash sets: engine vs JVM reference, incl. degenerate docs
    val texts = Seq("one two", "a b c d e f",
      "x x x x x x x x x x") ++
      (0 until 4).map(i => s"lead$i a$i common run of many tokens here t$i")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Similarity.winnowSelectedHashes(docs, "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == selSet(t), s"selected-hash set mismatch, doc $i")
    }
    // end-to-end registry query: every planted twin pair is recovered (the
    // winnowing recall guarantee surviving the df-cut and noise cut), each
    // at exactly the 11-char " twinmarker" edit distance
    val out = queries.Registry.queries("q_winnow_pairs")(spark, sf)
      .select("d1", "d2", "edit_dist").as[(Long, Long, Long)].collect()
    val nTwins = graft.engine.Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0 && col("text").isNotNull).count()
    val twinPairs = out.filter { case (d1, d2, _) => d2 == d1 + 1000000L }
    assert(twinPairs.length == nTwins,
      s"expected all $nTwins planted twins to pair, got ${twinPairs.length}")
    assert(twinPairs.forall(_._3 == 11L), "twin edit distance must be 11")
  }

  test("winnowing guarantee: shared >= 6-token run implies a shared fingerprint") {
    // two docs sharing a 6-token run (shingleLen + w - 1 = 3 + 4 - 1)
    // MUST share a selected (hash) fingerprint — the locality guarantee
    // that makes winnowing usable for partial-overlap detection. Distinct
    // surrounding text on both sides; property checked over several seeds.
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = (0 until 8).map { i =>
      (i.toLong, s"pre$i filler$i mid$i $shared post$i tail$i end$i")
    }.toDF("doc_id", "text")
    // recover the selected HASH SETS via the reference (the query exposes
    // digests; the guarantee is about the underlying sets)
    val texts = (0 until 8).map(i => s"pre$i filler$i mid$i $shared post$i tail$i end$i")
    val sets = texts.map(selSet)
    for (a <- sets.indices; b <- sets.indices if a < b)
      assert((sets(a) intersect sets(b)).nonEmpty,
        s"docs $a and $b share a 6-token run but no winnowing fingerprint")
    // and the engine agrees with the reference on these docs (digest level)
    val got = Similarity.winnowFingerprints(docs, "doc_id", "text")
      .select("doc_id", "fp_sum").as[(Long, Long)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == winnowRef(t)._4)
    }
  }

  test("neardup verify: twins confirmed duplicates, LSH noise rejected") {
    val out = graft.queries.SimilarityQueries.nearDupVerify.build(spark, sf)
      .select("d1", "d2", "edit_dist", "similarity", "verdict")
      .as[(Long, Long, Long, Double, String)].collect()
    assert(out.nonEmpty)
    // every planted twin pair that surfaced as a candidate: edit distance
    // is EXACTLY the 11-char " twinmarker" suffix and verdict 'duplicate'
    val twins = out.filter { case (d1, d2, _, _, _) => d2 == d1 + 1000000L && d1 % 10 == 0 }
    assert(twins.nonEmpty, "no twin candidate pairs at sf0.001 — plant broken?")
    twins.foreach { case (d1, _, ed, _, _) =>
      assert(ed == 11L, s"twin $d1: edit_dist $ed != 11")
    }
    // long twins clear the 0.9 bar (11/maxlen <= 0.1 for texts >= 110
    // chars); SHORT twins legitimately fall below it — normalized edit
    // distance punishes a fixed-size edit more on a short doc, which is
    // exactly the precision/recall dial the threshold exposes
    assert(twins.exists(_._5 == "duplicate"), "no long twin confirmed")
    // verdicts partition exactly at the threshold — no row crosses sides
    out.foreach { case (_, _, _, sim, v) =>
      assert((sim >= 0.9) == (v == "duplicate"))
    }
  }

  test("q_dedup_stats histogram is exactly the size distribution of q_dedup_components") {
    val comp = graft.queries.SimilarityQueries.dedupComponents.build(spark, sf)
      .select("cluster").as[Long].collect()
    val expect = comp.groupBy(identity).view.mapValues(_.length.toLong).values
      .groupBy(identity).view.mapValues(_.size.toLong).toMap // size -> n_clusters
    val got = graft.queries.SimilarityQueries.dedupStats.build(spark, sf)
      .select("cluster_size", "n_clusters", "n_docs", "n_removable")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(r => r._1 -> r._2).toMap == expect,
      s"histogram $got disagrees with components' own size distribution")
    got.foreach { case (sz, nc, nd, nr) =>
      assert(nd == sz * nc && nr == (sz - 1) * nc, s"row ($sz,$nc,$nd,$nr) inconsistent")
    }
    assert(got.map(_._3).sum == comp.length.toLong,
      "histogram must account for every planted doc")
  }

  test("q_ann_pq: top-3 per query, sane distances, deterministic") {
    val rows = graft.queries.SimilarityQueries.annPq.build(spark, sf)
      .select("qid", "vec_id", "adist", "dist_exact", "rk")
      .as[(Long, Long, Double, Double, Int)].collect().toSeq
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_._1)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_._5).sorted == Seq(1, 2, 3), s"query $qid ranks ${rs.map(_._5)}")
      // rank order follows the ADC distance (ties broken by vec_id upstream)
      val sorted = rs.sortBy(_._5)
      assert(sorted.map(_._3) == sorted.map(_._3).sorted,
        s"query $qid: adist not monotone in rank")
      rs.foreach { r =>
        assert(r._3 >= 0.0 && r._4 >= 0.0, s"negative distance on $r")
        assert(r._2 != qid, "self-match must be excluded")
      }
    }
    val again = graft.queries.SimilarityQueries.annPq.build(spark, sf)
      .select("qid", "vec_id", "adist", "dist_exact", "rk")
      .as[(Long, Long, Double, Double, Int)].collect().toSeq
    assert(again == rows, "PQ search must be deterministic across builds")
  }

  test("q_semdedup: every planted verbatim twin is removed, verdicts consistent") {
    val rows = graft.queries.SimilarityQueries.semDedup.build(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("removed"),
          if (r.isNullAt(r.fieldIndex("dup_of"))) None
          else Some(r.getAs[Long]("dup_of"))))
      .toMap
    val baseIds = graft.engine.Tables.t(spark, sf, "embeddings")
      .select("vec_id").as[Long].collect().toSet
    val twins = baseIds.filter(_ % 25 == 0).map(_ + 100000L)
    assert(twins.nonEmpty && twins.subsetOf(rows.keySet))
    // a verbatim copy shares its original's cell and scores cosine ~1.0,
    // so the larger id MUST be removed, naming a strictly smaller dup
    for (tw <- twins) {
      val (removed, dupOf) = rows(tw)
      assert(removed, s"planted twin $tw survived")
      assert(dupOf.exists(_ < tw), s"twin $tw dup_of $dupOf")
    }
    // verdict contract: removed <=> dup_of present, dup_of always smaller
    rows.foreach { case (id, (removed, dupOf)) =>
      assert(removed == dupOf.isDefined, s"$id")
      dupOf.foreach(d => assert(d < id, s"$id dup_of $d"))
    }
  }

  test("q_sparse_cosine: output equals a naive in-memory recomputation") {
    val rows = graft.queries.SimilarityQueries.sparseCosine.build(spark, sf)
      .select("d1", "d2", "dot", "cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(rows.nonEmpty)
    // naive mirror: planted corpus -> tf -> df window [2,100] -> integer
    // weights -> inverted-index dots -> one IEEE division per pair
    val base = graft.engine.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val planted = base ++ base.collect {
      case (id, txt) if id % 10 == 0 => (id + 1000000L, txt + " twinmarker")
    }
    val tf: Map[(Long, String), Long] = planted
      .flatMap { case (id, txt) => txt.split(" ", -1).map(tk => (id, tk)) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val df = tf.keys.groupBy(_._2).map { case (tk, ks) => tk -> ks.size.toLong }
    val w = tf.collect {
      case ((id, tk), f) if df(tk) >= 2 && df(tk) <= 100 =>
        (id, tk) -> math.min(f, 64L) * (1048576L / df(tk))
    }
    val norms = w.groupBy(_._1._1).map { case (id, ws) =>
      id -> ws.values.map(x => x * x).sum
    }
    val postings = w.toSeq.groupBy(_._1._2) // token -> Seq(((id, tok), w))
    val dots = postings.values.flatMap { ps =>
      for {
        ((a, _), wa) <- ps; ((b, _), wb) <- ps if a < b
      } yield (a, b) -> wa * wb
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val want = dots.collect { case ((a, b), dot) =>
      val cos = dot.toDouble / (math.sqrt(norms(a).toDouble) * math.sqrt(norms(b).toDouble))
      (a, b, dot, cos)
    }.filter(_._4 >= 0.8).toSet
    assert(rows == want,
      s"diff: extra=${rows.diff(want).take(3)} missing=${want.diff(rows).take(3)}")
    // planted twins sit at the top of the score distribution: dot is the
    // original's whole squared norm (only the marker token differs)
    val twins = rows.filter(r => r._2 == r._1 + 1000000L)
    assert(twins.nonEmpty, "planted twins must surface as sparse-cosine pairs")
    twins.foreach(r => assert(r._3 == norms(r._1), s"twin dot != norm: $r"))
  }

  test("q_rouge_overlap: twin pairs score the exact closed-form ppm values") {
    val rows = graft.queries.SimilarityQueries.rougeOverlap.build(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        (r.getAs[Long]("rouge1_recall_ppm"), r.getAs[Long]("rouge1_precision_ppm"),
          r.getAs[Long]("rouge1_f1_ppm"), r.getAs[Long]("rouge2_recall_ppm"),
          r.getAs[Long]("rouge2_precision_ppm"), r.getAs[Long]("rouge2_f1_ppm")))
      .toMap
    assert(rows.nonEmpty)
    val texts = graft.engine.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // the twin appends ONE token: unigram recall is exactly 1e6, precision
    // n/(n+1) in ppm; bigram recall 1e6, precision (n-1)/n (one new bigram)
    val twinPairs = rows.keys.filter(p => p._2 == p._1 + 1000000L).toSeq
    assert(twinPairs.nonEmpty, "planted twins must be scored")
    for (p <- twinPairs) {
      val n = texts(p._1).split(" ", -1).length.toLong
      val (r1, p1, f1, r2, p2, f2) = rows(p)
      assert(r1 == 1000000L, s"$p r1=$r1")
      assert(p1 == n * 1000000L / (n + 1), s"$p p1=$p1 n=$n")
      assert(f1 == 2 * p1 * r1 / (p1 + r1))
      assert(r2 == 1000000L, s"$p r2=$r2")
      assert(p2 == (n - 1) * 1000000L / n, s"$p p2=$p2 n=$n")
      assert(f2 == 2 * p2 * r2 / (p2 + r2))
    }
    // metric sanity on every scored pair
    rows.values.foreach { case (r1, p1, f1, r2, p2, f2) =>
      Seq(r1, p1, f1, r2, p2, f2).foreach(v => assert(v >= 0 && v <= 1000000L))
      assert(f1 <= math.max(r1, p1) && f2 <= math.max(r2, p2))
    }
  }

  test("grid cluster on an empty embeddings table yields only its empty noise row") {
    val d = java.nio.file.Files.createTempDirectory("graft-grid-empty").toString
    spark.read.parquet(s"$sf/embeddings.parquet").limit(0)
      .write.parquet(s"$d/embeddings.parquet")
    // no cluster rows, and the noise row (cluster -1) counts 0 cells and 0
    // points, as the DuckDB oracle reads on the same empty table
    val r = graft.queries.SimilarityQueries.gridCluster.build(spark, d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((-1L, 0L, 0L)), r.mkString(", "))
  }

  test("grid cluster: matches an in-memory grid-DBSCAN recomputation") {
    val got = graft.queries.SimilarityQueries.gridCluster.build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // naive recompute: same quantization, per-cell counts, core >= 8,
    // 8-neighborhood closure by literal fixpoint
    val pts = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getSeq[Float](1)(0).toDouble, r.getSeq[Float](1)(1).toDouble))
    val (mnx, mxx) = (pts.map(_._1).min, pts.map(_._1).max)
    val (mny, mxy) = (pts.map(_._2).min, pts.map(_._2).max)
    def q(v: Double, mn: Double, mx: Double): Long =
      math.max(math.min(math.floor(((v - mn) * 8.0) / (mx - mn)).toLong, 7L), 0L)
    val cells = pts.map { case (x, y) => q(x, mnx, mxx) * 8 + q(y, mny, mxy) }
    val cnt = cells.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val core = cnt.filter(_._2 >= 8).keySet
    // closure: repeatedly pull every core cell's label down to the min of
    // its 8-neighborhood core labels
    var lab = core.map(c => c -> c).toMap
    var changed = true
    while (changed) {
      changed = false
      for (c <- core; d <- core
           if math.abs(c / 8 - d / 8) <= 1 && math.abs(c % 8 - d % 8) <= 1
           if lab(d) < lab(c)) { lab += c -> lab(d); changed = true }
    }
    val clusters = core.groupBy(lab).map { case (cl, cs) =>
      (cl, cs.size.toLong, cs.toSeq.map(cnt).sum)
    }.toSeq
    val noiseCells = cnt.keySet.diff(core)
    val expect = (clusters :+
      ((-1L, noiseCells.size.toLong, noiseCells.toSeq.map(cnt).sum)))
      .sortBy(_._1)
    assert(got == expect, s"got $got expect $expect")
    // conservation: every point is clustered or noise
    assert(got.map(_._3).sum == pts.length.toLong)
  }

  test("mmr diversify: equals the in-memory greedy recomputation") {
    val got = graft.queries.SimilarityQueries.mmrDiversify.build(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    // in-memory greedy MMR over the same top-20 candidate set
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map(p => p._1 * p._2).foldLeft(0.0)(_ + _)
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val qv = emb(0L)
    val cand = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, cos(qv, v)) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(20)
    var selected = Seq.empty[(Long, Array[Double], Double, Double)]
    for (_ <- 1 to 3) {
      val pick = cand.filterNot(c => selected.exists(_._1 == c._1))
        .map { case (id, v, rel) =>
          val pen =
            if (selected.isEmpty) 0.0
            else selected.map(s => cos(v, s._2)).max
          (id, v, rel, pen)
        }
        .sortBy { case (id, _, rel, pen) => (-(rel * 0.5 - pen * 0.5), id) }
        .head
      selected :+= pick
    }
    val expect = selected.zipWithIndex.map { case ((id, _, rel, pen), i) =>
      ((i + 1).toLong, id, rel, pen, rel * 0.5 - pen * 0.5)
    }
    assert(got == expect, s"got $got expect $expect")
    // the internal consistency the formula promises
    got.foreach { case (_, _, rel, pen, mmr) =>
      assert(mmr == rel * 0.5 - pen * 0.5)
    }
    assert(got.head._4 == 0.0)
  }

  test("cluster folds: fold is a function of the dedup cluster; counts exact") {
    val got = graft.queries.SimilarityQueries.clusterFolds.build(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // recompute from the components assignment (same shared pipeline)
    val asg = graft.queries.SimilarityQueries.dedupComponents.build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def md5h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val csz = asg.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expect = asg
      .map { case (doc, cl) => (md5h32(s"fold:$cl") % 5, cl, csz(cl)) }
      .groupBy(_._1).view.mapValues { xs =>
        (xs.size.toLong, xs.map(_._2).distinct.size.toLong,
          xs.count(_._3 > 1).toLong)
      }.toMap
    assert(got == expect)
    // no cluster straddles folds: distinct clusters partition across folds
    assert(got.values.map(_._2).sum == csz.size.toLong)
    assert(got.values.map(_._1).sum == asg.length.toLong)
  }

  test("minhash recall: planted twins ground the eval, metrics are sane") {
    val r = graft.queries.SimilarityQueries.minhashRecall.build(spark, sf)
      .collect().head
    val (truth, cand, hits) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (prec, rec) = (r.getLong(3), r.getLong(4))
    assert(truth > 0, "planted twins guarantee a non-empty truth set")
    assert(hits <= math.min(truth, cand))
    assert(prec >= 0 && prec <= 1000000 && rec >= 0 && rec <= 1000000)
    assert(rec >= 500000,
      "8x2 banding must surface the majority of Jaccard>=0.5 truth " +
        s"(got $rec ppm — a recall collapse means the banding broke)")
    assert(prec == (if (cand == 0) 0L else hits * 1000000L / cand))
    assert(rec == (if (truth == 0) 0L else hits * 1000000L / truth))
  }

  test("gram matrix: hand-computed triangle, marginals and covariance") {
    val d = java.nio.file.Files.createTempDirectory("graft-gram").toString
    Seq(
      (1L, Seq(1.0f, 2.0f, -1.0f), 0),
      (2L, Seq(0.5f, 0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = graft.queries.SimilarityQueries.gramMatrix.build(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // q1 = [1000, 2000, -1000], q2 = [500, 0, 1000]; S = [1500, 2000, 0]
    assert(got((1L, 1L)) == ((2L, 1250000L, 250000L)))
    assert(got((1L, 2L)) == ((2L, 2000000L, 1000000L)))
    assert(got((1L, 3L)) == ((2L, -500000L, -1000000L)))
    assert(got((2L, 2L)) == ((2L, 4000000L, 4000000L)))
    assert(got((2L, 3L)) == ((2L, -2000000L, -4000000L)))
    assert(got((3L, 3L)) == ((2L, 2000000L, 4000000L)))
    assert(got.size == 6, "upper triangle only: C(4,2) = 6 cells for d=3")
  }

  test("q_ann_ivfpq: coarse-cell isolation, structure, recall vs exact truth") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.engine.Tables.t(spark, sf, "embeddings")
    val rows = graft.queries.SimilarityQueries.annIvfPq.build(spark, sf)
      .select("qid", "vec_id", "adist", "dist_exact", "rk")
      .as[(Long, Long, Double, Double, Int)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._5).sorted == (1 to rs.size), s"query $qid ranks ${rs.map(_._5)}")
      val sorted = rs.sortBy(_._5)
      assert(sorted.map(_._3) == sorted.map(_._3).sorted,
        s"query $qid: adist not monotone in rank")
      rs.foreach { r =>
        assert(r._3 >= 0.0 && r._4 >= 0.0, s"negative distance on $r")
        assert(r._2 != qid, "self-match must be excluded")
      }
    }
    // the composition's whole point: every candidate shares the query's
    // coarse cell — a cross-cell result means the IVF restriction is lost
    val lab = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    rows.foreach(r =>
      assert(lab(r._1) == lab(r._2), s"cross-coarse-cell candidate $r"))
    // recall@3 against the EXACT same-cell L2 truth isolates the
    // quantization loss (the IVF restriction is identical on both sides)
    val e = emb.select(col("vec_id"), col("label"),
      graft.functions.Vectors.asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    val truth = e.join(q, "label").filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        aggregate(zip_with(col("qv"), col("v"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val hits = rows.count(r => truth.getOrElse(r._1, Set.empty).contains(r._2))
    val recall = hits.toDouble / rows.size
    // collapse guard, not a quality bar: the 4-subspace × 4-cell codebook
    // is deliberately coarse (2 planes per subspace), and at sf0.001's 500
    // vectors measures ~0.2 vs the exact same-cell L2 truth — the same
    // quantization loss q_ann_pq carries (dist_exact grades it per pair).
    // A recall of 0 would mean the ADC join or coarse restriction broke.
    assert(recall >= 0.1,
      s"IVFPQ recall@3 vs exact same-cell L2 truth collapsed: $recall")
  }

  test("q_incremental_neardup: planted cross-epoch twins resolve against the index") {
    val rows = graft.queries.SimilarityQueries.incrementalNearDup.build(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.nonEmpty)
    val verdicts = rows.map(_._2).toSet
    assert(verdicts == Set("dup_of_index", "dup_in_batch", "new"),
      s"all three verdicts must occur on the planted corpus (got $verdicts)")
    // plants append a 7-char token, so the >= 0.9 Levenshtein contract
    // only HOLDS for base texts of >= 63 chars (1 - 7/(len+7) >= 0.9);
    // shorter plants legitimately verify below threshold -> 'new'. Assert
    // the contract exactly where it applies.
    val longEnough = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("L"))
      .as[(Long, Int)].collect().filter(_._2 >= 70).map(_._1).toSet
    // every +8M plant of a long-enough INDEX doc must resolve against the
    // standing index, matched to an index-epoch doc
    rows.filter(r => r._1 >= 8000000L && r._1 < 9000000L &&
        longEnough(r._1 - 8000000L)).foreach {
      case (id, v, m) =>
        assert(v == "dup_of_index", s"cross-epoch plant $id got verdict $v")
        assert(m.exists(d => d < 8000000L && d % 5 != 0),
          s"plant $id matched $m — not an index-epoch doc")
    }
    // every +9M plant of a long-enough BATCH doc: never 'new', and a
    // dup_in_batch match must point at an EARLIER batch doc
    rows.filter(r => r._1 >= 9000000L && longEnough(r._1 - 9000000L))
      .foreach { case (id, v, m) =>
        assert(v != "new", s"in-batch plant $id resolved 'new'")
        if (v == "dup_in_batch")
          assert(m.exists(d => d < id && (d % 5 == 0 || d >= 8000000L)),
            s"plant $id matched $m — not an earlier batch doc")
      }
    assert(rows.exists(r => r._1 >= 8000000L && r._1 < 9000000L &&
        longEnough(r._1 - 8000000L)),
      "fixture must contain at least one long-enough cross-epoch plant")
    // verdicts are a partition: matched_doc present iff not 'new'
    rows.foreach { case (id, v, m) =>
      assert((v == "new") == m.isEmpty, s"($id, $v, $m) inconsistent")
    }
  }

  test("mrl recall: hits equal an integer brute-force replay per truncation") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.engine.Tables.t(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val qids = vecs.keys.filter(_ % 50 == 0).toSeq.sorted
    def top3(qid: Long, d: Int): Set[Long] =
      vecs.toSeq.filter(_._1 != qid).map { case (vid, ev) =>
        val qv = vecs(qid)
        var s = 0L
        var i = 0
        while (i < d) { val t = qv(i) - ev(i); s += t * t; i += 1 }
        (s, vid)
      }.sortBy(identity).take(3).map(_._2).toSet
    val expected = Seq(16, 32, 64).map { d =>
      d.toLong -> qids.map(q => (top3(q, d) intersect top3(q, 64)).size).sum.toLong
    }.toMap
    val got = graft.queries.SimilarityQueries.mrlRecall.build(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Long]("n_queries"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("recall_ppm"))).toMap
    assert(got.keySet == Set(16L, 32L, 64L))
    for (d <- Seq(16L, 32L, 64L)) {
      assert(got(d)._1 == qids.length.toLong)
      assert(got(d)._2 == expected(d), s"dim $d hits")
      assert(got(d)._3 == expected(d) * 1000000L / (3L * qids.length))
    }
    // the full dimension is its own truth; truncations can only lose
    assert(got(64L)._3 == 1000000L)
    assert(got(16L)._3 <= got(32L)._3 || got(16L)._3 <= 1000000L)
  }
}
