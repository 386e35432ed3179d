package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

/** Pins the non-oracle text functions (the oracle queries cover the rest)
  * plus the chunking cover properties the q_chunk_docs oracle can't state. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("q_chunk_docs: minimal stride-aligned cover with fixed overlap") {
    val dir = "/root/testdata/sf0.001"
    val C = Text.ChunkTokens
    val S = Text.ChunkStride
    val chunks = graft.queries.TextQueries.chunkDocs.build(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val docs = graft.engine.Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet, "every non-null doc is chunked")
    for ((id, unsorted) <- byDoc) {
      val rows = unsorted.sortBy(_._2)
      val toks = docs(id).split(" ", -1)
      val n = toks.length
      // kept starts are a PREFIX of the stride grid: chunk k starts at kS+1
      rows.zipWithIndex.foreach { case ((_, cid, st, _, _), k) =>
        assert(cid == k && st == k.toLong * S + 1, s"doc $id grid")
      }
      // every chunk's text is exactly its token window
      rows.foreach { case (_, _, st, nt, txt) =>
        assert(txt.split(" ", -1)
          .sameElements(toks.slice(st.toInt - 1, st.toInt - 1 + nt.toInt)),
          s"doc $id window at $st")
      }
      // all full-size but the tail, and the cover ends exactly at token n
      assert(rows.init.forall(_._4 == C), s"doc $id interior chunks full")
      val (_, _, lastSt, lastN, _) = rows.last
      assert(lastSt + lastN - 1 == n, s"doc $id cover must end at $n")
      // short docs yield exactly their one whole-doc chunk
      if (n <= C) assert(rows.length == 1 && lastN == n, s"doc $id short")
      // minimality: the second-to-last window stopped short of token n
      if (rows.length > 1)
        assert((lastSt - S) + C - 1 < n, s"doc $id tail not redundant")
      // overlap reconstruction: drop C-S overlap tokens from every chunk
      // after the first and the doc reassembles exactly
      val rebuilt = rows.head._5.split(" ", -1) ++
        rows.tail.flatMap(_._5.split(" ", -1).drop(C - S))
      assert(rebuilt.sameElements(toks), s"doc $id reassembly")
    }
  }

  test("q_chunk_docs: deep grids — three windows, exact-fit, one-past-fit") {
    // the sf corpora cap at 100 tokens (max 2 windows), so the deeper
    // grid arithmetic needs crafted docs: 150 tokens -> starts 1/57/113
    // with a 38-token tail; 64 -> exactly one window (57 is redundant);
    // 65 -> a 9-token tail window
    val dir = java.nio.file.Files.createTempDirectory("chunk-spec").toString
    Seq(
      (1L, (1 to 150).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 64).map(i => s"u$i").mkString(" ")),
      (3L, (1 to 65).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.chunkDocs.build(spark, dir)
      .select("doc_id", "chunk_id", "start_tok", "n_toks")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 1L, 64L), (1L, 1L, 57L, 64L), (1L, 2L, 113L, 38L),
      (2L, 0L, 1L, 64L),
      (3L, 0L, 1L, 64L), (3L, 1L, 57L, 9L)))
  }

  test("bpeish token count: runs and symbols") {
    val df = Seq("hello world", "gpt-4 is 100x better!", "").toDF("text")
    val got = df.select(Text.bpeishTokenCount(col("text"))).as[Int].collect().toSeq
    // "hello","world" = 2; "gpt","-","4","is","100","x","better","!" = 8; "" = 0
    assert(got == Seq(2, 8, 0))
  }

  test("rolling fingerprint: deterministic, order-sensitive, content-sensitive") {
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "c b a"), (4L, "a b d")).toDF("id", "text")
    val fp = df.select(col("id"), Text.rollingFingerprintMd5(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L), "same text, same fingerprint")
    assert(fp(1L) != fp(3L), "permutation must change the fingerprint")
    assert(fp(1L) != fp(4L), "content change must change the fingerprint")
    // the mod-prime mirrorable form stays inside its modulus
    val md5Fps = df.select(Text.rollingFingerprintMd5(col("text")))
      .as[Long].collect()
    assert(md5Fps.forall(v => v >= 0 && v < 1000000007L))
  }

  test("native text kernels equal their builtin regex chains on random unicode") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    // K Kelvin sign (lowercases to ASCII 'k' — the slow-path special
    // mapping the scaladoc claims) and İ/ı Turkish-I forms
    val alphabet = "abcXYZ019 !,.é中😀\tKİı"
    def rand(maxLen: Int): String = {
      val cps = alphabet.codePoints.toArray
      val sb = new java.lang.StringBuilder
      (0 until r.nextInt(maxLen + 1)).foreach(_ =>
        sb.appendCodePoint(cps(r.nextInt(cps.length))))
      sb.toString
    }
    val cases = Seq("", " ", "   ", "a", "A!B", "  a  b  ", "ab12cd",
      "Kelvin", // plain ASCII control next to the special-mapping cases
      "Kelvin", // ACTUAL Kelvin sign: U+212A lowercases to ASCII 'k'
      "İstanbul", // Turkish capital dotted I -> "i" + combining dot
      "ıssız", // dotless i: stays non-ASCII through lowercase
      "STRAẞE", // capital sharp s U+1E9E lowercases to ß
      "😀!😀") ++ (1 to 300).map(_ => rand(80))
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val normMism = df.filter(expr(
      """graft_norm_fp(s) !=
        |trim(regexp_replace(regexp_replace(lower(s), '[^a-z0-9 ]', ''), ' +', ' '))""".stripMargin))
    assert(normMism.count() == 0, normMism.collect().take(3).mkString(","))
    val cntMism = df.filter(expr(
      "graft_bpeish_count(s) != regexp_count(s, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')"))
    assert(cntMism.count() == 0, cntMism.collect().take(3).mkString(","))
  }

  test("ngram md5 kernel equals the builtin slice/concat_ws/md5 chain") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    def doc(len: Int): String =
      (0 until len).map(_ => "tok" + r.nextInt(6)).mkString(" ")
    // short docs (< n tokens -> empty array), repeats (distinct dedup,
    // first-occurrence order), unicode tokens
    val cases = Seq("", "a", "a b c", "x x x x x x x x x x",
      "é 中 😀 a b c d e f") ++ (1 to 100).map(_ => doc(r.nextInt(30)))
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      .withColumn("tk", split(col("s"), " "))
    val mism = df.filter(expr(
      """NOT (graft_ngram_md5(tk, 8) <=>
        |  CASE WHEN size(tk) >= 8
        |       THEN array_distinct(transform(sequence(1, size(tk) - 7),
        |              i -> md5(CAST(concat_ws(' ', slice(tk, i, 8)) AS BINARY))))
        |       ELSE CAST(array() AS ARRAY<STRING>) END)""".stripMargin))
    assert(mism.count() == 0, mism.collect().take(3).mkString(","))
  }

  test("md5h32 kernel equals the builtin conv/substring/md5 chain") {
    import spark.implicits._
    val r = new scala.util.Random(13)
    val cases = Seq("", " ", "bs:0:42", "split:123", "é中😀") ++
      (1 to 200).map(_ => r.nextString(r.nextInt(40)))
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val mism = df.filter(expr(
      """graft_md5h32(s) !=
        |CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 8), 16, 10) AS BIGINT)"""
        .stripMargin))
    assert(mism.count() == 0, mism.collect().take(3).mkString(","))
  }

  test("q_containment_neardup catches a subset doc that Jaccard misses") {
    // short doc's 6 tokens all sit inside the long doc's 20 — the
    // excerpt/quote duplication mode: containment 6/6 = 1.0 fires, while
    // jaccard 6/20 = 0.3 stays far under q_jaccard_neardup's 0.8 gate.
    // Same lang and same n_chars%7 bucket (14 and 7) so they are candidates.
    val dir = java.nio.file.Files.createTempDirectory("contain-spec").toString
    Seq(
      (1L, "en", 14L, (1 to 20).map(i => f"w$i%02d").mkString(" ")),
      (2L, "en", 7L, (1 to 6).map(i => f"w$i%02d").mkString(" ")))
      .toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.containmentNearDup.build(spark, dir)
      .select("d1", "d2", "contained_doc", "na", "nb", "it", "containment", "jaccard")
      .collect()
    assert(got.length == 1, s"expected exactly one pair, got ${got.toSeq}")
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 2L, 2L)))
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) == ((20L, 6L, 6L)))
    assert(r.getDouble(6) == 1.0)
    assert(r.getDouble(7) == 0.3)
    // the complement claim: symmetric Jaccard does NOT flag this pair
    val jac = graft.queries.TextQueries.jaccardNearDup.build(spark, dir).collect()
    assert(jac.isEmpty, s"jaccard gate unexpectedly fired: ${jac.toSeq}")
  }

  test("phrase search: mines the top bigram, counts and first positions") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("phrase-spec").toString
    Seq(
      (1L, "the cat sat on the cat mat"),
      (2L, "The cat ran"), // lowercased before tokenizing
      (3L, "zz yy zz yy zz yy")) // "zz yy" also x3 -> lexicographic tie-break
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.queries.TextQueries.phraseSearch.build(spark, dir).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getAs[Long]("n_occurrences"),
        x.getAs[Long]("first_pos"))).toMap
    // "the cat" and "zz yy" both occur 3 times; "the cat" < "zz yy"
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L) == (("the cat", 2L, 1L)))
    assert(r(2L) == (("the cat", 1L, 1L)))
  }
}
