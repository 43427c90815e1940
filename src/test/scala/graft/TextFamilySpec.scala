package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions.col

class TextFamilySpec extends SparkSpec {
  import spark.implicits._

  private def withDocsDir(texts: Seq[String])(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("textfam").toString
    try {
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      f(dir)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("vocabOov: deterministic top-v cut, exact integer oov ratio") {
    // counts: a=3, b=1, c=1; v=2 -> vocab {a, b} (tie b<c by token)
    withDocsDir(Seq("a a b", "a c")) { dir =>
      val out = TextAnalysis.vocabOov(spark, dir, v = 2).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
            r.getAs[Double]("oov_rate")))).toMap
      assert(out(0L) === ((3L, 0L, 0.0)))
      assert(out(1L) === ((2L, 1L, 0.5)))
    }
  }

  test("nearDupCandidates: planted (length, prefix)-blocked pair is emitted; partial blocks are not") {
    // round-13 verdict #4: q15b's CORRECTNESS row is agreed-empty on
    // the sf fixture (no two docs share length AND 32-char prefix), so
    // this is the non-empty witness for the blocking path itself.
    // All four docs share the 32-char lowercase prefix; 0 and 1 also
    // share n_chars (=41) and differ only past the prefix — the
    // near-dup pair the blocking must surface. 2 breaks the length
    // block (42 chars), 3 shares the length of nothing else.
    val pfx = "the quick brown fox jumps over a" // 32 chars
    withDocsDir(Seq(
      pfx + " lazy dog",   // 0: 41 chars
      pfx + " lazy cat",   // 1: 41 chars — same block as 0
      pfx + " lazy dogs",  // 2: 42 chars -> length block fails
      pfx)                 // 3: prefix-only, unique length
    ) { dir =>
      val got = TextAnalysis.nearDupCandidates(spark, dir).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got === Set((0L, 1L)),
        s"blocking must emit exactly the planted survivor pair, got $got")
    }
  }

  test("skyline: pareto frontier on (tokens up, chars down), ties kept") {
    withDocsDir(Seq(
      "a b c",      // 0: (3,5)  frontier
      "a b c d",    // 1: (4,7)  frontier
      "a b",        // 2: (2,3)  frontier
      "x y",        // 3: (2,3)  same point -> kept
      "a  b",       // 4: (2,4)  dominated by 2 (equal tokens, more chars)
      "aa bb cc"    // 5: (3,8)  dominated by 0
    )) { dir =>
      val kept = graft.operators.TextAnalysis.skyline(spark, dir)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept === Set(0L, 1L, 2L, 3L))
    }
  }

  test("datasetCard: per-source docs, dup count, langs, exact mean quality") {
    val dir = java.nio.file.Files.createTempDirectory("dscard").toString
    try {
      Seq(
        (0L, "the cat sat", "en", "A"),
        (1L, "the cat sat", "en", "A"),      // exact dup of 0
        (2L, "le chat", "fr", "A"),
        (3L, "other words here", "en", "B"))
        .map { case (id, t, lg, src) => (id, t, lg, src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.TextAnalysis.datasetCard(spark, dir)
        .collect().map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
            r.getAs[Long]("total_tokens"), r.getAs[Long]("n_langs"))))
        .toMap
      assert(out("A") === ((3L, 1L, 8L, 2L)))
      assert(out("B") === ((1L, 0L, 3L, 1L)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sourceJaccard: pairwise vocab overlap, zero-overlap pairs kept") {
    val dir = java.nio.file.Files.createTempDirectory("srcjac").toString
    try {
      Seq((0L, "a b", "A"), (1L, "b c", "B"), (2L, "x", "C"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.TextAnalysis.sourceJaccard(spark, dir)
        .collect().map(r => (r.getAs[String]("src_a"),
          r.getAs[String]("src_b")) ->
          ((r.getAs[Long]("inter"), r.getAs[Double]("jaccard")))).toMap
      assert(out(("A", "B")) === ((1L, 1.0 / 3)))
      assert(out(("A", "C")) === ((0L, 0.0)))
      assert(out(("B", "C")) === ((0L, 0.0)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sourceMixture: alpha=1/2 temperature shares from quantized sqrt") {
    val dir = java.nio.file.Files.createTempDirectory("mixture").toString
    try {
      (Seq.fill(4)("A") ++ Seq("B")).zipWithIndex
        .map { case (src, i) => (i.toLong, s"doc $i", src) }
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.TextAnalysis.sourceMixture(spark, dir)
        .collect().map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Double]("share"),
            r.getAs[Long]("expected_docs")))).toMap
      // w = (2, 1) -> shares (2/3, 1/3), epoch 10000
      assert(out("A")._1 === 4L && out("B")._1 === 1L)
      assert(math.abs(out("A")._2 - 2.0 / 3) < 1e-9)
      assert(out("A")._3 === 6667L && out("B")._3 === 3333L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("tokenRarity: rarity = 40 - floor(log2 df), summed over occurrences") {
    // "common" in all 4 docs (df=4 -> log2=2 -> rarity 38);
    // "mid" in 2 (df=2 -> rarity 39); "rare" in 1 (df=1 -> rarity 40)
    withDocsDir(Seq(
      "common mid rare rare",
      "common mid",
      "common",
      "common")) { dir =>
      val out = TextAnalysis.tokenRarity(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("rarity_sum"),
            r.getAs[Double]("mean_rarity")))).toMap
      // doc 0: 38 + 39 + 40 + 40 = 157 over 4 occurrences
      assert(out(0L) === ((4L, 157L, 157.0 / 4)))
      assert(out(1L) === ((2L, 77L, 77.0 / 2)))
      assert(out(2L) === ((1L, 38L, 38.0)))
    }
  }

  test("topBigrams: counts overlapping bigrams, ranks desc with bigram tie-break, short docs skipped") {
    val dir = java.nio.file.Files.createTempDirectory("bigrams").toString
    try {
      Seq("a b a b a", "a b c", "solo").zipWithIndex
        .map { case (t, i) => (i.toLong, t, "web", t.length.toLong) }
        .toDF("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.TextAnalysis.topBigrams(spark, dir, k = 2)
        .collect().map(r => (r.getAs[String]("bigram"), r.getAs[Long]("n"),
          r.getAs[Int]("rnk")))
      // "a b": 3, "b a": 2; "b c": 1 excluded at k=2; doc "solo" has none
      assert(out.toSeq === Seq(("a b", 3L, 1), ("b a", 2L, 2)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bm25: matching docs outrank non-matching; rarer term contributes more; plan has no explode") {
    withDocsDir(Seq(
      "hash hash hash filler filler filler",  // tf(hash)=3
      "hash filler filler filler filler filler", // tf(hash)=1
      "scan filler filler filler filler filler", // rare term (df=1)
      "filler filler filler filler filler filler")) { dir =>
      val df = graft.operators.TextAnalysis.bm25(spark, dir)
      val out = df.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
      assert(out(3L) === 0.0) // no query term
      assert(out(0L) > out(1L)) // higher tf wins at equal dl
      // "scan" (df=1) is rarer than "hash" (df=2): doc 2 outranks doc 1
      assert(out(2L) > out(1L))
      // scale shape: tf comes from array filters, not an exploded shuffle
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Generate"), s"bm25 must not explode tokens:\n$plan")
    }
  }

  test("langId: marker-dominant docs classify; no markers gives 'und'; tie prefers en") {
    withDocsDir(Seq(
      "el gato de la casa es negro y bonito",
      "the cat of the house is black and nice",
      "zzz qqq www rrr",
      "the la"  // en=1, es=1, fr=1 tie -> en
    )) { dir =>
      val out = TextAnalysis.langId(spark, dir).orderBy("doc_id")
        .collect().map(_.getAs[String]("pred_lang"))
      assert(out === Array("es", "en", "und", "en"))
    }
  }

  test("qualityScore: hand-computed ratios for a tiny doc") {
    withDocsDir(Seq("the cat sat")) { dir =>
      val r = TextAnalysis.qualityScore(spark, dir).head()
      assert(r.getAs[Long]("n_tokens") === 3L)
      assert(math.abs(r.getAs[Double]("avg_token_len") - 3.0) < 1e-12)
      assert(math.abs(r.getAs[Double]("stopword_ratio") - 1.0 / 3) < 1e-12)
      assert(r.getAs[Double]("punct_ratio") === 0.0)
      val want = 0.4 * (3.0 / 100) + 0.3 * (1 - 1.0 / 3) + 0.3 * (3.0 / 8)
      assert(math.abs(r.getAs[Double]("quality_score") - want) < 1e-12)
    }
  }

  test("bpeTokenStats: letter runs, digit runs, and symbols count separately") {
    withDocsDir(Seq("ab1 c!")) { dir =>
      val r = TextAnalysis.bpeTokenStats(spark, dir).head()
      assert(r.getAs[Long]("n_ws_tokens") === 2L)
      assert(r.getAs[Long]("n_bpe_tokens") === 4L) // ab | 1 | c | !
      assert(math.abs(r.getAs[Double]("chars_per_token") - 6.0 / 4) < 1e-12)
    }
  }

  test("fingerprints: identical docs share the exact fingerprint set") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    withDocsDir(Seq(t, t, "completely different content here that shares nothing at all")) { dir =>
      val fps = TextAnalysis.fingerprints(spark, dir).collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      assert(fps(0L) === fps(1L))
      assert(fps(0L) !== fps(2L))
    }
  }

  test("tfIdfTopTerms: hand-computed tf, df, log-free score, and tie-broken ranks") {
    withDocsDir(Seq("a a b", "a c")) { dir =>
      val rows = TextAnalysis.tfIdfTopTerms(spark, dir).orderBy("doc_id", "rnk")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token"),
          r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("score"),
          r.getAs[Int]("rnk")))
      // N=2; df: a=2, b=1, c=1. doc0: a 2*(2/2)=2, b 1*(2/1)=2 (tie -> token asc)
      assert(rows === Array(
        (0L, "a", 2L, 2L, 2.0, 1), (0L, "b", 1L, 1L, 2.0, 2),
        (1L, "c", 1L, 1L, 2.0, 1), (1L, "a", 1L, 2L, 1.0, 2)))
    }
  }

  test("gopherRules: hand-computed features, repeat-bigram rejection, keep flag, empty-doc guard") {
    val good = (1 to 21).map(i => f"wd$i%03d").mkString(" ") // 21 distinct 5-char words
    withDocsDir(Seq(good, "aa bb aa bb aa", " ")) { dir =>
      val rows = TextAnalysis.gopherRules(spark, dir).orderBy("doc_id").collect()
      val g = rows(0)
      assert(g.getAs[Long]("n_words") === 21L)
      assert(math.abs(g.getAs[Double]("mean_word_len") - 5.0) < 1e-12)
      assert(g.getAs[Double]("symbol_word_ratio") === 0.0)
      assert(g.getAs[Double]("bullet_line_frac") === 0.0)
      assert(g.getAs[Double]("dup_line_frac") === 0.0)
      assert(math.abs(g.getAs[Double]("top_bigram_frac") - 1.0 / 20) < 1e-12)
      assert(g.getAs[Boolean]("keep"))
      val rep = rows(1) // bigrams (aa,bb)x2 (bb,aa)x2 -> top frac 2/4
      assert(math.abs(rep.getAs[Double]("top_bigram_frac") - 0.5) < 1e-12)
      assert(!rep.getAs[Boolean]("keep")) // n_words=5 < 20 and bigram frac > 0.3
      val empty = rows(2) // whitespace-only: token stats NULL, keep false
      assert(empty.getAs[Long]("n_words") === 0L)
      assert(empty.isNullAt(empty.fieldIndex("mean_word_len")))
      assert(!empty.getAs[Boolean]("keep"))
    }
  }

  test("dedupLines: drops repeats after first occurrence, rebuilds in original order") {
    withDocsDir(Seq("a\nb\na\nc\nb", "solo")) { dir =>
      val rows = TextAnalysis.dedupLines(spark, dir).orderBy("doc_id").collect()
      assert(rows(0).getAs[Long]("n_lines") === 5L)
      assert(rows(0).getAs[Long]("n_unique_lines") === 3L)
      assert(rows(0).getAs[Long]("n_removed") === 2L)
      assert(rows(0).getAs[String]("clean_text") === "a\nb\nc")
      assert(rows(1).getAs[String]("clean_text") === "solo")
      assert(rows(1).getAs[Long]("n_removed") === 0L)
    }
  }

  test("fingerprints: winnow keeps at most one fp per window position and is shift-stable inside") {
    // A doc shorter than k yields no rows.
    withDocsDir(Seq("short")) { dir =>
      assert(TextAnalysis.fingerprints(spark, dir).count() === 0L)
    }
  }

  test("bigramLm: integer log2-bucketed conditional bigram scores") {
    // corpus bigram counts: "a b"->3, "b a"->1, "b c"->1, "c d"->1
    // context counts:       a->3, b->2, c->1
    // lp: "a b" = fl2(3)-fl2(3) = 0; "b a" = 0-1 = -1; "b c" = -1; "c d" = 0
    withDocsDir(Seq("a b a b", "a b c", "c d", "solo")) { dir =>
      val out = TextAnalysis.bigramLm(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("logp_sum"),
            r.getAs[Double]("mean_logp")))).toMap
      assert(out(0L) === ((3L, -1L, -1.0 / 3)))  // "a b","b a","a b"
      assert(out(1L) === ((2L, -1L, -0.5)))      // "a b","b c"
      assert(out(2L) === ((1L, 0L, 0.0)))        // "c d"
      assert(!out.contains(3L))                  // <2 tokens -> no bigrams
    }
  }

  test("pmiCollocations: bound pair lifts above independent pair") {
    // "x y" always adjacent (5 times); "a b" co-occur but also apart.
    val texts = Seq.fill(5)("x y a") ++ Seq.fill(5)("a b") ++ Seq.fill(5)("b a")
    withDocsDir(texts) { dir =>
      val out = TextAnalysis.pmiCollocations(spark, dir, minCount = 5, topN = 10)
        .collect()
        .map(r => r.getAs[String]("bigram") ->
          ((r.getAs[Long]("c_ab"), r.getAs[Double]("lift")))).toMap
      // totals: tokens n1 = 35 (x:5 y:5 a:15 b:10), bigrams nb = 20
      // "x y": c_ab=5, lift = 5*35*35/(20*5*5) = 12.25
      assert(out("x y")._1 === 5L)
      assert(math.abs(out("x y")._2 - 12.25) < 1e-12)
      // "a b": c_ab=5 (from "a b" docs), lift = 5*35*35/(20*15*10) ~ 2.042
      assert(math.abs(out("a b")._2 - 6125.0 / 3000.0) < 1e-12)
      assert(out("x y")._2 > out("a b")._2)
    }
  }

  test("bpePairCandidates: frequency-weighted pair counts; 1-char tokens skipped") {
    // tokens: aaab ×2 (pairs aa,aa,ab each), ab ×1, x ×1 (no pairs)
    withDocsDir(Seq("aaab aaab", "ab x")) { dir =>
      val out = TextAnalysis.bpePairCandidates(spark, dir).collect()
        .map(r => r.getAs[String]("pair") ->
          ((r.getAs[Long]("n_pair"), r.getAs[Long]("rnk")))).toMap
      assert(out === Map("aa" -> ((4L, 1L)), "ab" -> ((3L, 2L))))
    }
  }

  test("rrfFusion: doc ranked top by both rankers wins; ranks consistent") {
    // doc 0 is dense in all three query terms; doc 1 has one term;
    // doc 2 has none (still ranked, via tie order).
    val texts = Seq(
      "hash join scan hash join scan",
      "hash filler filler filler filler filler",
      "nothing relevant here at all")
    withDocsDir(texts) { dir =>
      val rows = TextAnalysis.rrfFusion(spark, dir, topN = 3).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("rank_bm25"), r.getAs[Long]("rank_tfidf"),
            r.getAs[Double]("rrf"), r.getAs[Long]("rnk")))).toMap
      val (ra0, rb0, rrf0, rnk0) = rows(0L)
      assert(ra0 === 1L && rb0 === 1L && rnk0 === 1L)
      assert(math.abs(rrf0 - 2.0 / 61.0) < 1e-15)
      assert(rows(1L)._4 === 2L)
      assert(rows(2L)._4 === 3L)
    }
  }

  test("chunkDocs: stride windows with trailing partials; zero-shuffle plan") {
    // doc 0: tokens t0..t9 (n=10), size=4 stride=3 -> starts 0,3,6,9
    // with lengths 4,4,4,1 (trailing partial kept, windows overlap by
    // one token); doc 1: 2 tokens -> one partial chunk
    withDocsDir(Seq((0 until 10).map(i => s"t$i").mkString(" "), "a b")) { dir =>
      val out = TextAnalysis.chunkDocs(spark, dir, chunkSize = 4, stride = 3)
      val rows = out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_idx"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("first_tok"),
        r.getAs[String]("last_tok"))).sortBy(x => (x._1, x._2)).toSeq
      assert(rows === Seq(
        (0L, 0L, 0L, 4L, "t0", "t3"),
        (0L, 1L, 3L, 4L, "t3", "t6"),
        (0L, 2L, 6L, 4L, "t6", "t9"),
        (0L, 3L, 9L, 1L, "t9", "t9"),
        (1L, 0L, 0L, 2L, "a", "b")))
      // identical chunk content -> identical fingerprint, regardless
      // of source document (the dedup-join contract)
      val fps = TextAnalysis.chunkDocs(spark, dir, 4, 3)
        .filter($"n_tokens" === 1 && $"first_tok" === "t9")
        .select("fp").collect().map(_.getLong(0))
      assert(fps.length === 1)
      // chunking is a pure narrow transform: no exchange anywhere
      val p = out.queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
      intercept[IllegalArgumentException] {
        TextAnalysis.chunkDocs(spark, dir, chunkSize = 4, stride = 5)
      }
    }
  }

  test("retrievalEval: all-terms relevance, zero-relevant query audited not dropped") {
    withDocsDir(Seq("cat dog", "cat", "dog cat extra", "bird")) { dir =>
      val out = TextAnalysis.retrievalEval(spark, dir,
        queries = Seq(1 -> Seq("cat", "dog"), 2 -> Seq("unicorn", "dragon")),
        k = 2).collect()
        .map(r => r.getAs[Long]("qid") ->
          ((r.getAs[Long]("n_relevant"), r.getAs[Long]("n_hits_at_k"),
            r.getAs[Double]("precision_at_k"),
            Option(r.get(r.fieldIndex("recall_at_k"))),
            r.getAs[Double]("mrr")))).toMap
      // docs 0 and 2 contain both terms; both fill the top-2
      assert(out(1L) === ((2L, 2L, 1.0, Some(1.0), 1.0)))
      assert(out(2L) === ((0L, 0L, 0.0, None, 0.0)))
    }
  }

  test("langConfusion: diagonal, und fallback, and off-diagonal cells with shares") {
    val dir = java.nio.file.Files.createTempDirectory("langconf").toString
    try {
      Seq((1L, "the cat", "en"), (2L, "xyz qqq", "en"), (3L, "la la el", "zh"))
        .map { case (id, t, l) => (id, t, l, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextAnalysis.langConfusion(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getAs[Long]("n_docs"), r.getAs[Double]("share_of_lang")))).toMap
      assert(out === Map(
        ("en", "en") -> ((1L, 0.5)), ("en", "und") -> ((1L, 0.5)),
        ("zh", "es") -> ((1L, 1.0)))) // 'la la el': es hits 3 beat fr hits 2
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("weightedSourceJaccard: multiset minima over shared tokens; union via the totals identity") {
    val dir = java.nio.file.Files.createTempDirectory("wjac").toString
    try {
      Seq((1L, "a a b", "u"), (2L, "a b b c", "r"))
        .map { case (id, t, src) => (id, t, src, t.length.toLong) }
        .toDF("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = TextAnalysis.weightedSourceJaccard(spark, dir).collect()
      assert(r.length === 1)
      val row = r.head
      assert(row.getAs[String]("src_a") === "r" && row.getAs[String]("src_b") === "u")
      // r: a1 b2 c1 (T=4); u: a2 b1 (T=3); min a1+b1=2; union 5
      assert(row.getAs[Long]("shared_tokens") === 2L)
      assert(row.getAs[Long]("inter_weight") === 2L)
      assert(row.getAs[Long]("union_weight") === 5L)
      assert(row.getAs[Double]("weighted_jaccard") === 0.4)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("simpsonDiversity: all-distinct source scores 1, single-type source scores 0") {
    val dir = java.nio.file.Files.createTempDirectory("simpson").toString
    try {
      Seq((1L, "a b c d", "u"), (2L, "x x x x", "r"))
        .map { case (id, t, src) => (id, t, src, t.length.toLong) }
        .toDF("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextAnalysis.simpsonDiversity(spark, dir).collect()
        .map(r => r.getString(0) ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"),
            r.getAs[Double]("simpson"), r.getAs[Double]("inv_simpson")))).toMap
      assert(out("u") === ((4L, 4L, 1.0, 4.0)))
      assert(out("r") === ((4L, 1L, 0.0, 1.0)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("calibrationBins: bins partition the corpus; every column recomputes from the raw join") {
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.calibrationBins(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"),
          r.getAs[Double]("mean_score"), r.getAs[Double]("keep_rate"),
          r.getAs[Double]("gap")))).toMap
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val g = TextAnalysis.gopherRules(spark, dir).select(col("doc_id"), col("keep"))
    val raw = q.join(g, Seq("doc_id")).collect()
      .map(r => (r.getAs[Double]("quality_score"), r.getAs[Boolean]("keep")))
    assert(out.values.map(_._1).sum === raw.length.toLong)
    raw.groupBy { case (s, _) => math.min(math.floor(s * 10).toLong, 9L) }
      .foreach { case (bin, grp) =>
        val (n, k, ms, kr, gap) = out(bin)
        assert(n === grp.length.toLong)
        assert(k === grp.count(_._2).toLong)
        assert(math.abs(ms - grp.map(_._1).sum / grp.length) < 1e-9)
        assert(kr === grp.count(_._2).toDouble / grp.length)
        assert(math.abs(gap - (ms - kr)) < 1e-15)
      }
  }

  test("fleissKappa: closed form matches the textbook per-item P_i mean, brute force") {
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.fleissKappa(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("c_keep"),
          r.getAs[Double]("p_bar"), r.getAs[Double]("p_e"),
          Option(r.get(r.fieldIndex("kappa"))).map(_.asInstanceOf[Double])))).toMap
    val q = TextAnalysis.qualityScore(spark, dir).select(col("doc_id"),
      (col("quality_score") >= 0.5).as("r1"), (col("n_tokens") >= 25).as("r3"))
    val g = TextAnalysis.gopherRules(spark, dir)
      .select(col("doc_id"), col("keep").as("r2"))
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val votes = src.join(q, Seq("doc_id")).join(g, Seq("doc_id")).collect()
      .map(r => r.getAs[String]("source") ->
        (Seq("r1", "r2", "r3").count(c => r.getAs[Boolean](c)).toLong))
    votes.groupBy(_._1).foreach { case (source, grp) =>
      val xs = grp.map(_._2)
      val n = xs.length.toDouble
      val pBar = xs.map(x => (x * x + (3 - x) * (3 - x) - 3).toDouble / 6.0).sum / n
      val pk = xs.sum.toDouble / (3.0 * n)
      val pE = pk * pk + (1.0 - pk) * (1.0 - pk)
      val (on, ock, opb, ope, ok) = out(source)
      assert(on === xs.length.toLong && ock === xs.sum)
      assert(math.abs(opb - pBar) < 1e-12, s"$source p_bar")
      assert(math.abs(ope - pE) < 1e-12, s"$source p_e")
      if (pE == 1.0) // unanimous single category: κ undefined -> null
        assert(ok.isEmpty, s"$source kappa should be null")
      else
        assert(math.abs(ok.get - (pBar - pE) / (1.0 - pE)) < 1e-12,
          s"$source kappa")
    }
  }

  test("bpeTrain: hand-traced merges on the classic Sennrich vocabulary") {
    // low x5, lower x2, newest x6, widest x3 (with terminal </w>):
    //  round 1 pair counts include (e,s)=9, (s,t)=9, (t,</w>)=9,
    //  (w,e)=8, (l,o)=7, (o,w)=7 — max 9, tie-break picks (e,s);
    //  round 2: (es,t)=9 beats (t,</w>)=9 on left_sym 'es' < 't';
    //  round 3: (est,</w>)=9 alone at 9;
    //  round 4: (l,o)=7 vs (o,w)=7 — tie-break picks (l,o).
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    withDocsDir(Seq(text)) { dir =>
      val got = graft.operators.TextAnalysis.bpeTrain(spark, dir, merges = 4)
        .collect()
        .map(r => (r.getAs[Int]("merge_round"), r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"), r.getAs[String]("merged"),
          r.getAs[Long]("pair_count"))).toSeq
      assert(got === Seq(
        (1, "e", "s", "es", 9L),
        (2, "es", "t", "est", 9L),
        (3, "est", "</w>", "est</w>", 9L),
        (4, "l", "o", "lo", 7L)))
    }
  }

  test("bpeTrain: run-parity greedy non-overlap on a same-symbol run") {
    // 'aaaa' -> [a,a,a,a,</w>]: round 1 counts (a,a)=3 overlapping,
    // but the merge keeps candidates 1 and 3 only (greedy
    // left-to-right) -> [aa,aa,</w>]. Round 2 ties (aa,aa)=1 with
    // (aa,</w>)=1 and '</w>' < 'aa' binary -> (aa,</w>) merges first.
    withDocsDir(Seq("aaaa")) { dir =>
      val got = graft.operators.TextAnalysis.bpeTrain(spark, dir, merges = 3)
        .collect()
        .map(r => (r.getAs[Int]("merge_round"), r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
      assert(got === Seq(
        (1, "a", "a", 3L),
        (2, "aa", "</w>", 1L),
        (3, "aa", "aa</w>", 1L)))
    }
  }

  test("bpeTrain: exhausts gracefully when the vocabulary runs out of pairs") {
    // single 1-char word: vocab {a:3}, seg [a,</w>]; round 1 merges
    // (a,</w>) with count 3, leaving the one-symbol word [a</w>] —
    // round 2 finds no adjacent pairs, so asking for 8 merges must
    // return exactly the 1 achievable row instead of failing
    withDocsDir(Seq("a a a")) { dir =>
      val got = graft.operators.TextAnalysis.bpeTrain(spark, dir, merges = 8)
        .collect()
        .map(r => (r.getAs[Int]("merge_round"), r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
      assert(got === Seq((1, "a", "</w>", 3L)))
    }
  }

  test("bpeEncode: hand-computed fertility on the Sennrich vocabulary") {
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    withDocsDir(Seq(text)) { dir =>
      // merges=3 learns es, est, est</w>:
      //  low -> [l,o,w,</w>]=4, lower -> 6, newest -> [n,e,w,est</w>]=4,
      //  widest -> 4; subwords = 5*4 + 2*6 + 6*4 + 3*4 = 68 over 16 words
      val m3 = graft.operators.TextAnalysis.bpeEncode(spark, dir, merges = 3)
        .collect().head
      assert(m3.getAs[Long]("n_words") === 16L)
      assert(m3.getAs[Long]("n_subwords") === 68L)
      assert(m3.getAs[Double]("fertility") === 68.0 / 16.0)
      // merges=4 adds (l,o): low -> 3, lower -> 5 => 61 subwords
      val m4 = graft.operators.TextAnalysis.bpeEncode(spark, dir, merges = 4)
        .collect().head
      assert(m4.getAs[Long]("n_subwords") === 61L)
    }
  }

  test("bpeEncodeFrozen: words existing ONLY in the incoming shard still encode") {
    // Train on the classic Sennrich corpus (learns es, est, est</w>,
    // then lo at merges=4); encode an incoming doc whose words
    // 'lowest' and 'chest' never occurred in training. The frozen
    // replay must still segment them — characters + whichever frozen
    // merges fire — where q279's training-vocabulary inner join would
    // silently drop them (round-11 verdict #1).
    val trainText = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val existing = Seq((0L, trainText, trainText.length.toLong))
      .toDF("doc_id", "text", "n_chars")
    val incoming = Seq((100L, "lowest chest low", 16L))
      .toDF("doc_id", "text", "n_chars")
    // merges=3 (es, est, est</w>):
    //  lowest -> [l,o,w,est</w>] = 4, chest -> [c,h,est</w>] = 3,
    //  low -> [l,o,w,</w>] = 4 => 11 subwords over 3 words
    val m3 = graft.operators.TextAnalysis
      .encodeFrozenOn(existing, incoming, merges = 3).collect()
    assert(m3.length === 1 && m3.head.getAs[Long]("doc_id") === 100L)
    assert(m3.head.getAs[Long]("n_words") === 3L)
    assert(m3.head.getAs[Long]("n_subwords") === 11L)
    assert(m3.head.getAs[Double]("fertility") === 11.0 / 3.0)
    // merges=4 adds (l,o), which fires inside the UNSEEN 'lowest':
    //  lowest -> [lo,w,est</w>] = 3, low -> [lo,w,</w>] = 3 => 9
    val m4 = graft.operators.TextAnalysis
      .encodeFrozenOn(existing, incoming, merges = 4).collect().head
    assert(m4.getAs[Long]("n_subwords") === 9L)
  }

  test("piiRedact: hand-planted emails, phones and IPs are counted and scrubbed") {
    val rows = Seq(
      (0L, "reach jo.user@corp.example.org or +1-202-5550 via 192.168.0.1"),
      (1L, "no pii in this text at all"),
      (2L, "a@b.io c@d.io and 10.0.0.1 twice 10.0.0.2"),
      (3L, "almost an ip 1.2.3 and a bare 555-0100 are NOT matches"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.redactOn(rows).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
          r.getAs[Long]("n_ips"), r.getAs[Long]("n_pii"),
          r.getAs[String]("redacted_text")))).toMap
    assert(got(0L) === ((1L, 1L, 1L, 3L,
      "reach <EMAIL> or <PHONE> via <IP>")))
    assert(got(1L) === ((0L, 0L, 0L, 0L, "no pii in this text at all")))
    assert(got(2L) === ((2L, 0L, 2L, 4L,
      "<EMAIL> <EMAIL> and <IP> twice <IP>")))
    // a 3-group dotted number and an unprefixed phone must NOT match
    assert(got(3L) === ((0L, 0L, 0L, 0L,
      "almost an ip 1.2.3 and a bare 555-0100 are NOT matches")))
  }

  test("piiRedact: the deterministic fixture injection varies counts by doc_id") {
    // doc 0: %3==0 and %4==0 -> 2 emails + 2 phones + 1 ip = 5;
    // doc 1: 1+1+1 = 3; doc 3: %3==0 -> 4
    withDocsDir(Seq("alpha", "beta", "gamma", "delta")) { dir =>
      val got = graft.operators.TextAnalysis.piiRedact(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pii")).toMap
      assert(got === Map(0L -> 5L, 1L -> 3L, 2L -> 3L, 3L -> 4L))
      // the scrub leaves no raw pii behind
      val clean = graft.operators.TextAnalysis.piiRedact(spark, dir)
        .collect().map(_.getAs[String]("redacted_text"))
      clean.foreach { t =>
        assert(!t.contains("@mail") && !t.contains("+1-555") &&
          !t.contains("from 10."), s"residual pii in: $t")
      }
    }
  }

  test("merge table round-trip: write -> read preserves rows in training order") {
    val learned = Seq((1, "e", "s", "es", 9L), (2, "es", "t", "est", 9L),
      (3, "est", "</w>", "est</w>", 9L))
    val out = java.nio.file.Files
      .createTempDirectory("mergetable_spec").toString
    try {
      // write in a scrambled order: the READER owns training order
      TextAnalysis.writeMergeTable(spark, Seq(learned(2), learned(0),
        learned(1)), out)
      assert(TextAnalysis.readMergeTable(spark, out) === learned)
      // an empty artifact reads as empty (explicit schema, q285 lesson)
      TextAnalysis.writeMergeTable(spark, Seq.empty, out)
      assert(TextAnalysis.readMergeTable(spark, out) === Seq.empty)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
  }

  test("bpeEncodeFromArtifact == bpeEncodeFrozen (round-trip identity)") {
    // enough docs that the 'inc:' split leaves both shards non-empty
    val texts = (0 until 40).map(i =>
      (1 to 6).map(j => s"w${(i * 7 + j * 3) % 11}").mkString(" "))
    withDocsDir(texts) { dir =>
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_subwords"))).sortBy(_._1).toSeq
      val direct = rows(TextAnalysis.bpeEncodeFrozen(spark, dir, merges = 4))
      val viaArtifact =
        rows(TextAnalysis.bpeEncodeFromArtifact(spark, dir, merges = 4))
      assert(direct.nonEmpty, "split must leave incoming docs")
      assert(viaArtifact === direct)
    }
  }

  test("bpe memo: train and encode share one training; clearing it releases it") {
    graft.operators.TextAnalysis.bpeMemo.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    withDocsDir(Seq("low lower low")) { dir =>
      graft.operators.TextAnalysis.bpeTrain(spark, dir, merges = 2).collect()
      graft.operators.TextAnalysis.bpeEncode(spark, dir, merges = 2).collect()
      // the memoized final segmentation is the ONLY checkpoint that
      // may survive: every intermediate round checkpoint is released
      // progressively inside trainSeg, and the second call memo-hits
      // instead of training again
      val leaked = spark.sparkContext.getPersistentRDDs -- before
      assert(leaked.size <= 1,
        s"expected only the memoized segmentation: ${leaked.values.map(_.name)}")
    }
    graft.operators.TextAnalysis.bpeMemo.clear()
    val after = spark.sparkContext.getPersistentRDDs -- before
    assert(after.isEmpty,
      s"clearing the bpe memo must release every block: ${after.values.map(_.name)}")
  }

  test("bpe memo: an in-place corpus rewrite misses the memo (no stale merges)") {
    graft.operators.TextAnalysis.bpeMemo.clear()
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpememo").toString
    def write(texts: Seq[String]): Unit = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      write(Seq("ab ab ab"))
      val first = graft.operators.TextAnalysis
        .bpeTrain(spark, dir, merges = 1).collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      assert(first.head === (("a", "b")))
      write(Seq("cd cd cd"))
      val second = graft.operators.TextAnalysis
        .bpeTrain(spark, dir, merges = 1).collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      assert(second.head === (("c", "d")),
        "rewriting the corpus in place must retrain, not serve stale merges")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.operators.TextAnalysis.bpeMemo.clear()
    }
  }
}
