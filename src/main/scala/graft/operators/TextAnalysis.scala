package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHash

/** Q14/Q15 — text analytics and deduplication over the `documents`
  * table (extended with the LLM-pipeline operator family in
  * operators/Dedup.scala).
  *
  * Scale notes: tokenization is a narrow explode (no shuffle until the
  * aggregate); dedup blocks shuffle on the block key — the standard
  * blocking pattern for near-dup candidate generation at 100 TB.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Q14 — token statistics: per lowercase whitespace token, total
    * occurrences and document frequency.
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Q146 — positional inverted-index PHRASE SEARCH: documents
    * containing the exact consecutive token sequence `phrase`, with
    * the match count and first match position — the retrieval
    * primitive TF-IDF/BM25 (q14b/q51) cannot express because bags of
    * words lose adjacency.
    *
    * Scale shape: the (doc, pos, token) posting relation is never
    * materialized corpus-wide — each phrase term's postings are
    * FILTERED AT THE SCAN (predicate on the exploded token), so the
    * join inputs are per-term posting lists, the classic inverted-
    * index access path. Adjacency is an EQUI-join on
    * (doc_id, pos − term_offset) — each successive term joins on the
    * shifted position key, so an n-term phrase is n−1 hash joins over
    * posting-list-sized inputs, no window, no array re-scan. At
    * 100 TB the right optimization is pre-materializing the posting
    * table bucketed by token — the same plan with the explode
    * replaced by a bucketed scan.
    */
  def phraseSearch(s: SparkSession, dir: String,
                   phrase: Seq[String] = Seq("hash", "value")): DataFrame = {
    val tp = docs(s, dir)
      .select(col("doc_id"),
        posexplode(TextHash.tokens(col("text"))).as(Seq("pos", "tok")))
    val base = tp.filter(col("tok") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(base) {
      case (acc, (w, i)) =>
        acc.join(
          tp.filter(col("tok") === w)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matched.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
  }

  /** Q144 — per-source token-diversity audit via GINI IMPURITY,
    * 1 − Σᵢ pᵢ² over the source's unigram distribution — the
    * repetitiveness/diversity monitor a corpus-mixing pipeline tracks
    * per shard (low impurity = a few tokens dominate = boilerplate).
    * Chosen over Shannon entropy deliberately: impurity is RATIONAL
    * in the counts (Σcᵢ², N), so the whole statistic is exact integer
    * aggregation with one final double expression — no per-row
    * transcendental whose libm rounding could differ across engines
    * (the repo's no-ln float discipline).
    *
    * Scale shape: one corpus collapse to (source, token) counts
    * (map-side combinable), then a source-sized aggregate of c and c²
    * — the exchange carries vocabulary rows, never token occurrences;
    * Σc² stays in BIGINT (c ≤ corpus docs × doc length; the square
    * sums are per-token, bounded by N² only in the degenerate
    * one-token corpus — at real scale promote the sum to
    * DECIMAL(38,0) with the same plan).
    */
  def giniDiversity(s: SparkSession, dir: String): DataFrame = {
    val tc = docs(s, dir)
      .select(col("source"), explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("ssq"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        (lit(1.0) - col("ssq").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("gini"))
  }

  /** Q15 — exact dedup: group identical texts, keep the minimum doc_id
    * as survivor.
    *
    * Hash-first plan: the shuffle key is `xxhash64(text)` — a narrow
    * (doc_id, h) projection moves through the exchange, never the
    * document bytes. Identical texts always share a hash, so a
    * singleton hash group IS a unique document and is emitted directly.
    * Only hash groups with ≥2 members can contain duplicates (or, in
    * principle, 64-bit collisions), so full-text confirmation — an
    * exact `GROUP BY text` — runs over just those documents, selected
    * at the scan by a broadcast of the multi-member hash set. At 100 TB
    * the bytes shuffled are proportional to the *duplicate* subset, not
    * the corpus; the result is bit-identical to a naive GROUP BY text.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir)
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
    val groups = hashed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    val singles = groups.filter(col("n_copies") === 1)
      .select("doc_id", "n_copies")
    // hashes with ≥2 docs: a tiny set (actual dups + negligible
    // collisions) — broadcast it so non-dup text never leaves the scan
    val multiH = groups.filter(col("n_copies") > 1).select("h")
    val confirmed = docs(s, dir)
      .select(col("doc_id"), col("text"), xxhash64(col("text")).as("h"))
      .join(broadcast(multiH), "h")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
    singles.union(confirmed)
  }

  /** Q15b — near-dup candidate pairs via (length, 32-char lowercase
    * prefix) blocking: classic candidate generation — the self-join
    * shuffles on the block key only.
    */
  def nearDupCandidates(s: SparkSession, dir: String): DataFrame = {
    val b = docs(s, dir).select(col("doc_id"), col("n_chars"),
      substring(lower(col("text")), 1, 32).as("pfx"))
    val a = b.as("a"); val c = b.as("b")
    a.join(c,
        col("a.n_chars") === col("b.n_chars") &&
        col("a.pfx") === col("b.pfx") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  // ---- LLM-pipeline text analysis family ----

  /** Stopword marker lists for the n-gram language-ID heuristic —
    * literal in both engines (OracleSql.q17LangId emits the same
    * lists). Order fixes the tie-break precedence.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "los", "es", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des")
  )

  private def markerHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Q17 — language ID: stopword hit counts per candidate language,
    * argmax with fixed precedence (en > es > de > fr), 'und' when no
    * marker hits at all. A narrow projection — the per-language hit
    * count is one codegen'd array filter, no shuffle.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks = TextHash.tokens(col("text"))
    val hits = langMarkers.map { case (l, ws) => l -> markerHits(toks, ws) }
    val Seq(en, es, de, fr) = hits.map(_._2)
    docs(s, dir).select(
      col("doc_id"),
      when(en + es + de + fr === 0, "und")
        .when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr").as("pred_lang"),
      en.as("en_hits"), es.as("es_hits"), de.as("de_hits"), fr.as("fr_hits"))
  }

  /** Q190 — language-ID confusion matrix: the Q17 detector's
    * predictions cross-tabulated against the corpus's DECLARED lang
    * labels, with per-declared-language recall shares — the
    * classifier-vs-metadata disagreement audit run before trusting
    * either side for language filtering (systematic off-diagonal
    * cells mean mislabeled sources or a detector gap, e.g. zh has no
    * marker list here and must land in 'und'/latin cells).
    *
    * Scale shape: the prediction is the same narrow codegen'd
    * projection as Q17 computed ALONGSIDE the label (no join back),
    * collapsing into a |langs|²-bounded aggregate; shares come from a
    * broadcast per-label totals join and one pinned division.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val toks = TextHash.tokens(col("text"))
    val hits = langMarkers.map { case (l, ws) => l -> markerHits(toks, ws) }
    val Seq(en, es, de, fr) = hits.map(_._2)
    val preds = docs(s, dir).select(col("lang"),
      when(en + es + de + fr === 0, "und")
        .when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr").as("pred_lang"))
    val cells = preds.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("lt"))
    cells.join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("lt")).as("share_of_lang"))
  }

  /** Q18 — quality scoring: token/length/stopword/punctuation ratios
    * and a bounded composite score. All ratios are single divisions of
    * exact integers, so both engines produce identical doubles.
    */
  /** Q43 — token-frequency spectrum: how many distinct tokens fall in
    * each power-of-two occurrence bucket (the Zipf-shape QA check a
    * corpus build runs before training). Bucket = ⌊log2(count)⌋
    * computed as `length(bin(count)) - 1` — integer-exact in both
    * engines, no floating log. Two narrow aggregates; the token-level
    * one has map-side partials, so the shuffle carries one row per
    * distinct token, not per occurrence.
    */
  def tokenSpectrum(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy((length(bin(col("cnt"))) - 1).cast("long").as("log2_cnt"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("n_occurrences"))

  /** Q132 — vocabulary coverage curve: for the `topN` most frequent
    * corpus tokens (ties broken by token string — the Q71 cut rule),
    * the cumulative fraction of ALL token occurrences covered by a
    * vocabulary of that size. This is the "how big must the tokenizer
    * vocab be for 99% coverage" sizing curve.
    *
    * Scale shape: corpus collapses ONCE to the per-token count
    * aggregate (map-side combinable); the top-N cut is a
    * TakeOrderedAndProject (GlobalRank.topKRanked — per-partition
    * heap, k-row merge, NO global sort), the rank/cumsum window runs
    * over the ≤ topN-row bounded result, and the grand total rides
    * along as a broadcast-scalar cross join. The cumulative sum over
    * rows 1..rank only ever involves rows that survive the cut, so
    * limiting first is rank-for-rank identical to the old global
    * window. coverage divides two exact integers — bitwise-equal
    * doubles across engines.
    */
  def vocabCoverage(s: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    val counts = docs(s, dir)
      .select(explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val ord = Seq(col("cnt").desc, col("token"))
    GlobalRank.topKRanked(counts, topN, "rank", ord: _*)
      .withColumn("cum_cnt", sum(col("cnt"))
        .over(Window.orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"),
        col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("total").cast("double"))
          .as("coverage"))
  }

  /** Q71 — vocabulary construction + per-document OOV rate: the
    * tokenizer-prep pass of an LLM data pipeline. Vocab = the `v`
    * most frequent corpus tokens (ties broken by token string so the
    * cut is deterministic); each document then scores its
    * out-of-vocabulary token fraction. The top-v runs over the
    * token-COUNT aggregate (vocabulary-sized, one row per distinct
    * token — not the corpus) as an orderBy+limit (takeOrdered, no
    * global sort), and the membership join broadcasts the tiny vocab
    * to the token stream — corpus tokens never reshuffle for the
    * lookup. oov_rate divides two exact integers: bitwise-equal
    * doubles across engines.
    */
  def vocabOov(s: SparkSession, dir: String, v: Int = 256): DataFrame = {
    val tok = docs(s, dir).select(col("doc_id"),
      explode(TextHash.tokens(col("text"))).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(v)
      .select(col("token"), lit(1L).as("in_v"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Q76 — temperature-weighted source mixture: the data-mixing step
    * of a pre-training pipeline. Per-source sampling share
    * w_s = n_s^α / Σ n_t^α at α = 1/2 (upweights low-resource
    * sources; α=1 is proportional, α=0 uniform). √n is a double, so
    * the cross-source denominator is quantized to DECIMAL(30,12)
    * BEFORE summing — decimal addition is exact in any combine order,
    * where a raw double Σ would be shuffle-order-nondeterministic —
    * and the shares derive from the same quantized values in both
    * engines. The per-source aggregate is tiny → the total broadcasts
    * back.
    */
  def sourceMixture(s: SparkSession, dir: String,
                    epochDocs: Long = 10000L): DataFrame = {
    val c = docs(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w",
        sqrt(col("n_docs").cast("double")).cast("decimal(30,12)"))
    val tot = c.agg(sum(col("w")).as("tw"))
    c.crossJoin(broadcast(tot))
      .withColumn("share", col("w").cast("double") / col("tw").cast("double"))
      .withColumn("expected_docs",
        round(col("share") * epochDocs).cast("long"))
      .select("source", "n_docs", "share", "expected_docs")
  }

  /** Dominance prune for [[skyline]]: within each `part` group, drop
    * rows dominated in (maximize n_tokens, minimize n_chars). A row is
    * dominated by any row with strictly more tokens and ≤ chars
    * (RANGE frame over the strictly-greater token range), or equal
    * tokens and strictly fewer chars (tie group min).
    */
  private def skylinePrune(df: DataFrame, part: Seq[String]): DataFrame = {
    val pcols = part.map(col)
    val wGt = Window.partitionBy(pcols: _*).orderBy(col("n_tokens"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val wTie = Window.partitionBy(pcols :+ col("n_tokens"): _*)
    df.withColumn("m_gt", min(col("n_chars")).over(wGt))
      .withColumn("m_tie", min(col("n_chars")).over(wTie))
      .filter((col("m_gt").isNull || col("m_gt") > col("n_chars")) &&
        col("m_tie") === col("n_chars"))
      .drop("m_gt", "m_tie")
  }

  /** Q78 — 2-D skyline (pareto frontier): documents maximal in
    * (n_tokens ↑, n_chars ↓) — the token-density frontier no other
    * document beats on both axes. Skyline is DISTRIBUTIVE
    * (skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))), so the plan
    * is two-level: a per-bucket local prune (parallel window over
    * hash buckets) cuts the candidate set to the per-bucket
    * frontiers, then the global prune runs over the tiny survivor
    * set — the single global sort the textbook window version needs
    * would serialize 100 TB through one partition. All-integer
    * dominance: exact parity (the oracle states the declarative
    * NOT-EXISTS dominance directly).
    */
  def skyline(s: SparkSession, dir: String, buckets: Int = 32): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"),
      col("n_chars"))
    val local = skylinePrune(
      base.withColumn("bkt", pmod(col("doc_id"), lit(buckets.toLong))),
      Seq("bkt")).drop("bkt")
    skylinePrune(local, Seq.empty)
  }

  /** Q82 — pairwise source vocabulary overlap: exact token-set
    * Jaccard between every source pair — the corpus diagnostic for
    * "are these two scrapes the same site". The (source, token)
    * distinct is one shuffle over tokens; the pair intersection joins
    * the DISTINCT vocabularies (vocabulary-sized inputs, not corpus),
    * set sizes broadcast back, and a source pair with an empty
    * intersection still appears via the size cross join. Integer
    * ratio: exact parity.
    */
  def sourceJaccard(s: SparkSession, dir: String): DataFrame = {
    val st = docs(s, dir).select(col("source"),
      explode(TextHash.tokens(col("text"))).as("token")).distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val pairs = sizes.as("a").join(sizes.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
    val inter = st.as("x").join(st.as("y"),
        col("x.token") === col("y.token") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .select("src_a", "src_b", "inter", "jaccard")
  }

  /** Q175 — overlapping document chunking: each document split into
    * `chunkSize`-token windows every `stride` tokens (trailing
    * partial chunks kept) — the RAG/embedding-ingest preprocessing
    * fan-out. Each chunk row carries its index, token offset, length,
    * a polyHash fingerprint of the space-rejoined token slice (stable
    * chunk identity without shipping chunk text), and its boundary
    * tokens.
    *
    * Scale shape: a pure NARROW transform — tokenize, explode the
    * start offsets (in-task Generate), slice, hash; ZERO exchanges in
    * the whole plan (pinned by PlanQualitySpec). At 100 TB this is
    * the ideal shape: chunking parallelizes per input split with no
    * coordination, and downstream (embedding, dedup) consumes the
    * fingerprint instead of re-hashing text.
    */
  def chunkDocs(s: SparkSession, dir: String, chunkSize: Int = 64,
                stride: Int = 48): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride <= chunkSize, got stride=$stride size=$chunkSize")
    docs(s, dir)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .filter(col("n") > 0L)
      .withColumn("start",
        explode(sequence(lit(0L), col("n") - 1L, lit(stride.toLong))))
      .withColumn("sz", least(lit(chunkSize.toLong), col("n") - col("start")))
      .select(col("doc_id"),
        expr(s"start div $stride").as("chunk_idx"),
        col("start").as("start_tok"),
        col("sz").as("n_tokens"),
        TextHash.polyHash(array_join(
          slice(col("tk"), (col("start") + 1L).cast("int"),
            col("sz").cast("int")), " ")).as("fp"),
        element_at(col("tk"), (col("start") + 1L).cast("int")).as("first_tok"),
        element_at(col("tk"), (col("start") + col("sz")).cast("int")).as("last_tok"))
  }

  /** Q53 — top-k bigram collocations per source: the corpus-QA query
    * behind boilerplate/template detection (a dominant bigram is a
    * scrape artifact). Counts shuffle keyed by (source, bigram) with
    * map-side partials; the top-k window runs over the aggregate
    * (vocabulary-sized, not corpus-sized). When even the bigram
    * vocabulary is too wide, the bounded-state path is the q40
    * Misra-Gries UDAF — this exact variant is the oracle-checkable
    * form.
    */
  def topBigrams(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val bg = docs(s, dir).select(col("source"),
      explode(TextHash.wordShinglesNative(col("text"), 2)).as("bigram"))
    val counts = bg.groupBy(col("source"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("bigram"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("source", "bigram", "n", "rnk")
  }

  /** Q57 — bigram-LM fluency proxy: each document scored by the mean
    * conditional log-probability of its bigrams under the corpus's own
    * bigram model, with the log2 INTEGER-BUCKETED
    * (`floor(log2 c(w1 w2)) − floor(log2 c(w1 ·))` per occurrence —
    * `length(bin(c))−1`, no libm, engine-exact like q48). Low scores
    * mark token salad / boilerplate the way a perplexity filter does,
    * with the same shape KenLM-style quality gates use at corpus
    * scale.
    *
    * Scale shape: the exploded bigram stream collapses ONCE to
    * per-(doc, bigram) counts (map-side combinable — repeated bigrams
    * never reach a shuffle twice); bigram totals, then context counts,
    * roll up FROM that aggregate — never a second corpus pass. The
    * score join keys the deduped doc-bigram table against the
    * vocabulary-sized score table, and the per-doc rollup weights by
    * the carried count. Every shuffle moves an aggregate, not the
    * corpus.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    // bigram identity (bh) and its left-context identity (wh) travel
    // as polyHash longs from the explode on: the model aggregates and
    // the score join shuffle 8-byte keys, never bigram strings (at
    // corpus scale the string keys dominate shuffle volume). Hash
    // collisions merge bigrams identically in both engines — the
    // oracle applies the same fold — so parity is unaffected.
    val occ = docs(s, dir).select(col("doc_id"),
        explode(TextHash.bigramHashPairs(col("text"))).as("x"))
      .select(col("doc_id"), col("x.bh").as("bh"), col("x.wh").as("wh"))
    val docBg = occ.groupBy(col("doc_id"), col("bh"), col("wh"))
      .agg(count(lit(1)).as("cnt"))
    def log2c(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val c2 = docBg.groupBy(col("bh"), col("wh")).agg(sum(col("cnt")).as("c2"))
    // context counts roll up from the bigram aggregate: c(w1 ·) = Σ c2
    val c1 = c2.groupBy(col("wh")).agg(sum(col("c2")).as("c1"))
    val scored = c2.join(c1, "wh")
      .select(col("bh"), (log2c(col("c2")) - log2c(col("c1"))).as("lp"))
    docBg.join(scored, "bh")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("lp")).as("logp_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("logp_sum"),
        (col("logp_sum").cast("double") / col("n_bigrams")).as("mean_logp"))
  }

  /** Q51 — BM25 document scoring against a fixed query. The idf is the
    * log-free odds form (N − df + 0.5)/(df + 0.5) — order-preserving
    * in df with the classic formula, but pure rational arithmetic so
    * both engines produce bit-identical doubles (ln() differs in last
    * ulps across libm implementations). Per-term scores are summed in
    * FIXED query-term order (explicit left-associated +), the one
    * float-association hazard in the formula.
    *
    * Scale shape: per-document term frequencies come from a codegen'd
    * array filter over the token array — NO explode and no shuffle for
    * tf; the only aggregate is one global stats row (N, Σdl, df per
    * term) that cross-joins back as a broadcast. Scoring is then a
    * narrow projection over the corpus — the linear scan a 100 TB
    * retrieval pass needs.
    */
  def bm25(s: SparkSession, dir: String,
           terms: Seq[String] = Seq("hash", "join", "scan"),
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val wd = docs(s, dir)
      .withColumn("tk", TextHash.tokens(col("text")))
      .select(Seq(col("doc_id"), size(col("tk")).cast("long").as("dl")) ++
        terms.map(t =>
          size(filter(col("tk"), x => x === lit(t))).cast("long").as(s"tf_$t")): _*)
    val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = wd.agg(aggs.head, aggs.tail: _*)
    val scored = wd.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val termScore = terms.map { t =>
      val idf = (col("n_docs") - col(s"df_$t") + lit(0.5)) /
        (col(s"df_$t") + lit(0.5))
      val w = (col(s"tf_$t") * lit(k1 + 1)) /
        (col(s"tf_$t") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
      idf * w
    }
    scored.select(col("doc_id"), col("dl"),
      termScore.reduceLeft(_ + _).as("bm25"))
  }

  /** Q164 — multi-query BM25 retrieval through an INVERTED-INDEX join
    * (the retrieval-eval harness shape: a query set, top-k per
    * query). Where q51 scores the whole corpus for one fixed term
    * list via per-term columns, this is the plan a search engine
    * runs: posting lists (doc, term, tf) joined against a broadcast
    * query-term table, so each query only ever touches documents
    * containing at least one of its terms — the scan-side semi-join
    * is the point at 100 TB (candidate sets, not the corpus, flow
    * into scoring).
    *
    * Scale shape: postings and dl are doc-keyed aggregates off one
    * tokenize pass; df is a term-keyed aggregate whose query-relevant
    * slice is broadcast; global stats are one broadcast row. The
    * per-(query, doc) score sum crosses terms, so each term's
    * contribution is quantized to DECIMAL(28,14) (the q79 PageRank
    * discipline) making the Σ combine-order-free; ranks tie-break on
    * doc_id. Top-k per query is a window partitioned BY QUERY —
    * parallelism is bounded by query-set size here; a bounded-heap
    * per-group aggregate (the MgSketch shape) is the path when few
    * queries meet planet-scale candidate sets.
    */
  def bm25Retrieval(s: SparkSession, dir: String,
                    queries: Seq[(Int, Seq[String])] = Seq(
                      1 -> Seq("hash", "join"),
                      2 -> Seq("scan", "filter"),
                      3 -> Seq("sort", "merge"),
                      4 -> Seq("data", "stream"),
                      5 -> Seq("index", "state")),
                    k1: Double = 1.2, b: Double = 0.75,
                    k: Int = 5): DataFrame = {
    import s.implicits._
    val qt = queries
      .flatMap { case (q, ts) => ts.map(t => (q.toLong, t)) }
      .toDF("qid", "term")
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("term"))
    val post = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dft = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val sumDl = dl.agg(sum(col("dl")).as("sum_dl"))
    val stats = nDocs.crossJoin(sumDl)
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val w = (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    val contrib = post
      .join(broadcast(qt), "term")
      .join(broadcast(dft.join(qt.select("term").distinct(), "term")), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c", (idf * w).cast("decimal(28,14)"))
    val scores = contrib.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    scores.withColumn("rnk", row_number().over(rw).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Q200 — retrieval-quality evaluation of the Q164 BM25 ranker:
    * per query, precision@k, recall@k, and MRR against a
    * deterministic relevance standard (a document is relevant iff it
    * contains ALL the query's terms — boolean-AND retrieval as the
    * label) — the eval harness every retrieval stack runs per index
    * build. Metrics are deliberately RATIONAL (hit counts, single
    * divisions, 1/first-rank) — no log-discounted DCG whose libm
    * calls could diverge across engines.
    *
    * Scale shape: relevance labels come from the same posting-list ⋈
    * broadcast-query-terms semi-join shape as the ranker itself
    * (candidates, not the corpus, flow into labeling); the per-query
    * rollups are |queries|-bounded aggregates; zero-relevant and
    * zero-hit queries survive via left joins from the query list
    * (NULL recall, 0 MRR — audited, not dropped).
    */
  def retrievalEval(s: SparkSession, dir: String,
                    queries: Seq[(Int, Seq[String])] = Seq(
                      1 -> Seq("hash", "join"),
                      2 -> Seq("scan", "filter"),
                      3 -> Seq("sort", "merge"),
                      4 -> Seq("data", "stream"),
                      5 -> Seq("index", "state")),
                    k: Int = 5): DataFrame = {
    import s.implicits._
    val topk = bm25Retrieval(s, dir, queries, k = k)
    val qt = queries
      .flatMap { case (q, ts) => ts.map(t => (q.toLong, t)) }
      .toDF("qid", "term")
    val qtc = qt.groupBy(col("qid")).agg(count(lit(1)).as("ntq"))
    val toku = docs(s, dir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("term"))
      .distinct()
    val rel = toku.join(broadcast(qt), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(countDistinct(col("term")).as("nt"))
      .join(broadcast(qtc), "qid")
      .filter(col("nt") === col("ntq"))
      .select(col("qid"), col("doc_id"))
    val rt = rel.groupBy(col("qid")).agg(count(lit(1)).as("n_relevant"))
    val h = topk.join(rel, Seq("qid", "doc_id"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hits"), min(col("rnk")).as("first_rnk"))
    qt.select(col("qid")).distinct()
      .join(rt, Seq("qid"), "left").join(h, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits_at_k"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k))
          .as("precision_at_k"),
        when(coalesce(col("n_relevant"), lit(0L)) === 0L,
          lit(null).cast("double"))
          .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_relevant")).as("recall_at_k"),
        coalesce(lit(1.0) / col("first_rnk"), lit(0.0)).as("mrr"))
  }

  /** Q115 — reciprocal-rank fusion of two lexical rankers over the
    * same fixed query: the q51 BM25 scorer and a normalized-TF ×
    * inverse-df scorer (Σ_t (tf_t/dl)·(N/df_t) — a deliberately
    * different weighting family). Each ranker produces a full
    * ordering; RRF(doc) = Σ_r 1/(60 + rank_r(doc)) (Cormack et al.,
    * SIGIR 2009 — rank fusion without score calibration, the standard
    * way hybrid retrieval merges lexical and dense lists).
    *
    * Scale shape: both scores come from ONE shared corpus projection
    * (tf columns are codegen'd array filters — no explode) against one
    * broadcast global-stats row, so scoring stays a linear scan. The
    * output columns are EXACT GLOBAL ranks, so a top-k shortcut can't
    * express them — instead each ranking is the two-level
    * GlobalRank.globalRank: range-partition on the score key, local
    * row_number per partition, broadcast per-partition count offsets.
    * No partition ever sorts more than its range slice, at any corpus
    * size. The final fused top-N IS a cut, so it takes the
    * TakeOrderedAndProject path (topKRanked).
    */
  def rrfFusion(s: SparkSession, dir: String,
                terms: Seq[String] = Seq("hash", "join", "scan"),
                k1: Double = 1.2, b: Double = 0.75, rrfK: Int = 60,
                topN: Int = 20): DataFrame = {
    val wd = docs(s, dir)
      .withColumn("tk", TextHash.tokens(col("text")))
      .select(Seq(col("doc_id"), size(col("tk")).cast("long").as("dl")) ++
        terms.map(t =>
          size(filter(col("tk"), x => x === lit(t))).cast("long").as(s"tf_$t")): _*)
    val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = wd.agg(aggs.head, aggs.tail: _*)
    val scored = wd.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val bm25Score = terms.map { t =>
      val idf = (col("n_docs") - col(s"df_$t") + lit(0.5)) /
        (col(s"df_$t") + lit(0.5))
      val w = (col(s"tf_$t") * lit(k1 + 1)) /
        (col(s"tf_$t") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
      idf * w
    }.reduceLeft(_ + _)
    val tfidfScore = terms.map { t =>
      (col(s"tf_$t").cast("double") / col("dl")) *
        (col("n_docs").cast("double") / col(s"df_$t"))
    }.reduceLeft(_ + _)
    val both = scored.select(col("doc_id"),
      bm25Score.as("s_bm25"), tfidfScore.as("s_tfidf"))
    val ranked = GlobalRank.globalRank(
        GlobalRank.globalRank(both, "rank_bm25",
          col("s_bm25").desc, col("doc_id")),
        "rank_tfidf", col("s_tfidf").desc, col("doc_id"))
      .select(col("doc_id"), col("rank_bm25"), col("rank_tfidf"),
        (lit(1.0) / (lit(rrfK) + col("rank_bm25")) +
          lit(1.0) / (lit(rrfK) + col("rank_tfidf"))).as("rrf"))
    GlobalRank.topKRanked(ranked, topN, "rnk",
      col("rrf").desc, col("doc_id"))
  }

  /** Q134 — per-source vocabulary drift: tokens over-represented in
    * one source relative to the whole corpus, ranked by the lift
    * (c_src/tot_src)/(c_all/tot_all) — the corpus-diff report a
    * mixture pipeline reads before re-weighting sources. Q120's
    * rational-lift discipline: exact integer cross-products, ONE
    * pinned double division, no ln().
    *
    * Scale shape: the corpus collapses ONCE to the (source, token)
    * aggregate; the global token counts and per-source totals re-
    * aggregate THAT table (vocabulary-sized input, never the corpus),
    * the grand total rides a broadcast cross join, and the top-k
    * window runs per source over the min-count-floored aggregate.
    */
  def sourceDrift(s: SparkSession, dir: String, minCount: Int = 5,
                  topN: Int = 10): DataFrame = {
    val bySrc = docs(s, dir)
      .select(col("source"), explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_src"))
    val all = bySrc.groupBy(col("token")).agg(sum(col("c_src")).as("c_all"))
    val totSrc = bySrc.groupBy(col("source"))
      .agg(sum(col("c_src")).as("tot_src"))
    val totAll = all.agg(sum(col("c_all")).as("tot_all"))
    val lifted = bySrc
      .filter(col("c_src") >= minCount)
      .join(all, Seq("token"))
      .join(totSrc, Seq("source"))
      .crossJoin(broadcast(totAll))
      .withColumn("lift",
        (col("c_src") * col("tot_all")).cast("double") /
          (col("c_all") * col("tot_src")).cast("double"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift").desc, col("token"))
    lifted.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .select(col("source"), col("token"), col("c_src"), col("c_all"),
        col("lift"), col("rnk"))
  }

  /** Q120 — PMI collocations: bigrams whose observed frequency beats
    * the independence expectation of their unigrams. The statistic is
    * the LIFT p(w1w2)/(p(w1)·p(w2)) — the exp of PMI, same ordering —
    * kept in pure rational arithmetic (one pinned double expression;
    * no ln(), whose last-ulp libm variation the repo's float
    * discipline avoids). Min-count floor keeps rare-pair noise out,
    * the standard collocation-extraction guard.
    *
    * Scale shape: both count tables collapse the corpus ONCE each
    * (map-side combinable, keyed by token / bigram string); the join
    * keys the bigram aggregate against the vocabulary-sized unigram
    * table twice (broadcastable when the vocab is bounded — it is
    * here); the scalar totals ride a broadcast cross join. The final
    * top-k cut is a TakeOrderedAndProject over the min-count-filtered
    * aggregate (GlobalRank.topKRanked) — never a global sort, never
    * the corpus.
    */
  def pmiCollocations(s: SparkSession, dir: String, minCount: Int = 5,
                      topN: Int = 50): DataFrame = {
    val d = docs(s, dir)
    val uni = d.select(explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c1"))
    val bg = d.select(explode(TextHash.wordShinglesNative(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val n1 = uni.agg(sum(col("c1")).as("n1"))
    val nb = bg.agg(sum(col("c_ab")).as("nb"))
    val joined = bg
      .join(broadcast(uni.select(col("token").as("w1"), col("c1").as("ca"))), "w1")
      .join(broadcast(uni.select(col("token").as("w2"), col("c1").as("cb"))), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(nb))
      .filter(col("c_ab") >= minCount)
      .select(col("bigram"), col("c_ab"), col("ca"), col("cb"),
        (col("c_ab").cast("double") * col("n1") * col("n1") /
          (col("nb").cast("double") * col("ca") * col("cb"))).as("lift"))
    GlobalRank.topKRanked(joined, topN, "rnk",
      col("lift").desc, col("bigram"))
  }

  /** Q122 — BPE merge candidates: the first iteration of byte-pair-
    * encoding vocabulary learning — adjacent character-pair counts
    * over the corpus, weighted by token frequency (Sennrich et al.,
    * ACL 2016). The top pair is the first merge a BPE trainer would
    * make; the full ranked table is the merge-priority queue's seed.
    *
    * Scale shape: the corpus collapses ONCE to (token, count) — the
    * standard vocabulary aggregate, map-side combinable — and pair
    * extraction + counting run over the VOCABULARY (bounded), not
    * over corpus characters: at 100 TB the expensive pass is the one
    * linear token count every text pipeline already runs, and each
    * later BPE iteration reuses the same vocabulary table with
    * symbols re-segmented — no further corpus scans. The top-N cut is
    * a TakeOrderedAndProject (GlobalRank.topKRanked), never a global
    * sort of the pair table.
    */
  def bpePairCandidates(s: SparkSession, dir: String,
                        topN: Int = 30): DataFrame = {
    val tc = docs(s, dir)
      .select(explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    // sequence(1, len-1) would run DESCENDING for 1-char tokens
    // (Spark generates [1,0]) — filter them; they have no pairs.
    val pairs = tc.filter(length(col("tok")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("n_pair"))
    GlobalRank.topKRanked(pairs, topN, "rnk",
      col("n_pair").desc, col("pair"))
  }

  /** Q277 — the FULL BPE trainer (Sennrich et al., ACL 2016 §3.2):
    * `merges` rounds of (pair-count aggregate → argmax merge →
    * greedy re-segmentation), where Q122 computed merge-iteration 1
    * only. Output is the learned merge table — one row per round with
    * the merged pair, the new token, and its weighted pair count —
    * the artifact a tokenizer-prep pipeline ships to the tokenizer.
    *
    * Algorithm fidelity: words start as characters plus a terminal
    * '</w>' marker; pair counts are word-frequency-weighted over ALL
    * adjacent positions (overlaps count, as in get_stats); the merge
    * step is greedy LEFT-TO-RIGHT NON-OVERLAPPING, realized
    * relationally by the run-parity rule — candidate positions of the
    * winning pair can only abut in same-symbol runs (sym=A=B), and
    * greedy scanning keeps exactly the odd-ordinal candidates within
    * each consecutive run (for A≠B abutting candidates are impossible:
    * two overlapping (A,B) matches would force A=B). Tie-breaks pin
    * determinism: max count, then lexicographically smallest (left,
    * right) — both engines compare binary UTF-8.
    *
    * Scale shape: the CORPUS is scanned exactly once (the vocabulary
    * aggregate every text pipeline already runs); all `merges` rounds
    * operate on the vocabulary-sized (word, pos, symbol) table —
    * window passes and (word, pos) equi-joins, each round
    * localCheckpoint'd to keep plans shallow and the previous round's
    * blocks explicitly released. The per-round argmax is ONE scalar
    * row fetched to the driver (TakeOrderedAndProject over the pair
    * aggregate — the inherent per-merge synchronization point of BPE
    * training; the driver never receives corpus or vocabulary data).
    */
  def bpeTrain(s: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    import s.implicits._
    val (_, out) = trainedSeg(s, dir, merges)
    out.toDF("merge_round", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** Memoized segmentations, keyed by (session UUID, dir, merges,
    * shard tag, documents fingerprint): Q277 and Q279 run the
    * IDENTICAL training loop ("all"), Q283 adds the existing-shard
    * training ("existing") and the incoming replay ("incoming"), and
    * Bench's interleaved passes re-invoke each query — the memo pays
    * each loop once per session instead of per invocation. The memo
    * owns the segmentation's checkpoint blocks ([[Memo]]); training is
    * deterministic, so a hit is bitwise the table a recompute would
    * build.
    */
  private[graft] val bpeMemo =
    new Memo[(DataFrame, Seq[(Int, String, String, String, Long)])](
      // bound raised 4 → 6 in round 12: one corpus dir owns up to THREE
      // entries (shards "all"/"existing"/"incoming"), and the bound must
      // hold a full dir's working set plus one spec temp-dir without
      // thrashing the bench's hot entries
      "bpe", cap = 6, v => Some(v._1))

  private def trainedSeg(s: SparkSession, dir: String, merges: Int)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) =
    bpeMemo.get(s, Memo.table(s, s"$dir/documents.parquet"), dir, merges,
      "all")(trainSeg(docs(s, dir), merges))

  /** Frozen merge tables are PURE DRIVER DATA (≤ merges rows), so
    * they get their own memo: the existing-shard training's
    * checkpointed segmentation has NO reader (only the merge list
    * ships to the replay), and parking it in bpeMemo would pin a
    * vocabulary-sized checkpoint behind an entry nobody consumes —
    * release it at compute time instead. Keyed like the coresetMemo
    * (session UUID + params + fingerprint; modN is part of the key
    * because it changes the existing/incoming split); eviction needs
    * no release.
    */
  private[graft] val frozenMemo =
    new Memo[Seq[(Int, String, String, String, Long)]]("bpe_frozen", cap = 8)

  private def frozenMerges(s: SparkSession, docsT: MemoTable, dir: String,
                           merges: Int, modN: Int, existing: => DataFrame)
      : Seq[(Int, String, String, String, Long)] =
    frozenMemo.get(s, docsT, dir, merges, modN) {
      val (seg, rows) = trainSeg(existing, merges)
      CheckpointBlocks.release(seg) // only the merge LIST is frozen and shipped
      rows
    }

  /** Word-frequency vocabulary of a documents slice — the single
    * corpus pass every BPE variant starts from. */
  private def vocabOf(d: DataFrame): DataFrame =
    d.select(explode(TextHash.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Character-level round-0 segmentation of a vocabulary: one row
    * per (word, position, symbol), characters plus the terminal
    * '</w>' marker (Sennrich et al. 2016 §3.2). */
  private def charSeg(vocab: DataFrame): DataFrame =
    vocab.select(col("w"), col("n"),
      posexplode(concat(
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        array(lit("</w>")))).as(Seq("i", "sym")))

  /** One greedy LEFT-TO-RIGHT NON-OVERLAPPING application of merge
    * (bl, br) to a (w, n, i, sym) segmentation — the run-parity rule
    * (see bpeTrain's scaladoc) shared by the trainer (applied to each
    * round's argmax winner) and the Q283 FROZEN-merge replay (applied
    * to a shipped merge table, no argmax). Returns the re-indexed
    * segmentation, not yet checkpointed — the caller owns the
    * checkpoint/release discipline.
    */
  private def mergePass(seg: DataFrame, bl: String, br: String): DataFrame = {
    val wOrd = Window.partitionBy(col("w")).orderBy(col("i"))
    val c1 = seg.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
    // run-parity greedy selection over the winning pair's positions
    val sel = c1
      .filter(col("sym") === lit(bl) && col("nxt") === lit(br))
      .select(col("w"), col("i"))
      .withColumn("grp", col("i") - row_number().over(wOrd))
      .withColumn("rin", row_number().over(
        Window.partitionBy(col("w"), col("grp")).orderBy(col("i"))))
      .filter(col("rin") % 2 === 1)
      .select(col("w"), col("i"))
    c1.join(sel.withColumn("sel_here", lit(true)), Seq("w", "i"), "left")
      .join(sel.select(col("w"), (col("i") + 1).as("i"),
        lit(true).as("sel_prev")), Seq("w", "i"), "left")
      .filter(col("sel_prev").isNull)
      .select(col("w"), col("n"), col("i"),
        when(col("sel_here"), lit(bl + br)).otherwise(col("sym")).as("sym"))
      // re-index so positions stay consecutive for the next round's
      // adjacency windows and +1-shift join
      .withColumn("i", row_number().over(wOrd))
  }

  /** The shared training loop behind Q277/Q279/Q283: runs `merges`
    * rounds over the given documents slice and returns BOTH the final
    * localCheckpoint'd segmentation (the caller owns its blocks — see
    * CheckpointBlocks) and the learned merge rows (round, left, right,
    * merged, count).
    */
  private def trainSeg(src: DataFrame, merges: Int)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val wOrd = Window.partitionBy(col("w")).orderBy(col("i"))
    var seg = charSeg(vocabOf(src)).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val best = seg
        .withColumn("nxt", lead(col("sym"), 1).over(wOrd))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym"), col("nxt"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (bl, br) = (best(0).getString(0), best(0).getString(1))
        out += ((r, bl, br, bl + br, best(0).getLong(2)))
        val prev = seg
        seg = mergePass(seg, bl, br).localCheckpoint()
        CheckpointBlocks.release(prev)
        r += 1
      }
    }
    (seg, out.toSeq)
  }

  /** Q279 — BPE ENCODER: apply the Q277-learned merge table and
    * measure per-document tokenizer fertility (subwords per word) —
    * the number a tokenizer-prep pipeline actually gates on (a
    * fertility spike on a language/domain slice means the learned
    * vocabulary serves it badly). Words segment into their post-merge
    * symbol counts, including a standalone '</w>' when unmerged
    * (Sennrich's convention; merged markers count inside their
    * subword).
    *
    * Scale shape: training is the Q277 one-corpus-pass loop; ENCODING
    * adds one more corpus pass (the token explode) joined against the
    * VOCABULARY-sized segmentation counts — never a per-document
    * re-segmentation. The final segmentation checkpoint is owned by
    * the training memo (bpeMemo — shared with Q277, LRU-released);
    * intermediate round checkpoints are released progressively inside
    * trainSeg.
    */
  def bpeEncode(s: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    val (seg, _) = trainedSeg(s, dir, merges)
    fertilityOf(docs(s, dir), seg)
  }

  /** The shared Q279/Q283 encode tail: per-word subword counts from a
    * segmentation, joined back to the slice's token occurrences for
    * per-document fertility. The occurrence→vocabulary join is
    * complete by construction whenever `seg` was segmented from the
    * SAME slice's vocabulary (Q279: training corpus; Q283: the
    * incoming shard's replayed vocabulary — which is what makes the
    * frozen-vocab encode cover UNSEEN words).
    */
  private def fertilityOf(d: DataFrame, seg: DataFrame): DataFrame = {
    val wordSub = seg.groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    val occ = d
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("w"))
    val agg = occ.join(wordSub, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
    d.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        // int/int of identical integers: bitwise engine parity;
        // null for wordless documents
        (coalesce(col("n_subwords"), lit(0L)).cast("double") /
          nullif(coalesce(col("n_words"), lit(0L)), lit(0L)).cast("double"))
          .as("fertility"))
  }

  /** Replay a FROZEN merge table over a documents slice: character-
    * segment the slice's OWN vocabulary, then apply each learned merge
    * in training order with the same run-parity greedy rule — no pair
    * counting, no argmax, no driver sync. A word absent from the
    * training corpus still encodes: it stays at characters plus
    * whatever frozen merges fire inside it — exactly how a shipped
    * BPE tokenizer treats novel words (vs Q279's inner join on the
    * training vocabulary, which is only complete when encoding the
    * training corpus itself).
    */
  private def replaySeg(d: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    var seg = charSeg(vocabOf(d)).localCheckpoint()
    merges.foreach { case (bl, br) =>
      val prev = seg
      seg = mergePass(seg, bl, br).localCheckpoint()
      CheckpointBlocks.release(prev)
    }
    seg
  }

  /** Test hook: frozen-merge encode over hand-built existing/incoming
    * slices (no memo, no hash split) — lets a spec plant a word that
    * exists ONLY in the incoming slice. */
  private[graft] def encodeFrozenOn(existing: DataFrame, incoming: DataFrame,
                                    merges: Int): DataFrame = {
    val (trainedSegDf, learned) = trainSeg(existing, merges)
    // only the merge LIST is frozen and shipped; the training
    // segmentation is not needed downstream — release it now
    CheckpointBlocks.release(trainedSegDf)
    fertilityOf(incoming, replaySeg(incoming, learned.map(m => (m._2, m._3))))
  }

  /** Q283 — FROZEN-vocabulary BPE encoding of a daily-ingest shard:
    * train the merge table on the EXISTING corpus (the Q282 'inc:'
    * hash split — 80% existing, 20% incoming), then encode the
    * INCOMING shard by replaying that frozen table (replaySeg) and
    * report per-document fertility in the Q279 row shape. This is the
    * operator an ingest pipeline actually runs: merges are learned
    * once on the corpus snapshot and applied unchanged to every new
    * shard, and words that never occurred in training still encode
    * (round-11 verdict #1 — Q279's vocabulary inner join silently
    * dropped them).
    *
    * Scale shape: training is Q277's one-existing-corpus-pass loop —
    * the frozen merge table is memoized as PURE DRIVER ROWS
    * (frozenMemo; the training segmentation has no reader and its
    * checkpoint is released at train time); the replay is
    * `merges` window/join rounds over the INCOMING-vocabulary-sized
    * table (memoized under the "incoming:modN" shard tag — modN is
    * part of both keys because it changes the split) — no pair
    * counts, no argmax,
    * ZERO driver round-trips, so at 100 TB a daily shard pays one
    * vocabulary aggregate plus vocabulary-sized passes; the frozen
    * merge table itself is k rows. Encode never rescans the training
    * corpus (plan-pinned: a memo-warm call scans documents only for
    * the incoming occurrence pass and doc list).
    */
  def bpeEncodeFrozen(s: SparkSession, dir: String, merges: Int = 8,
                      modN: Int = 5): DataFrame = {
    val isInc = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("inc:"), col("doc_id").cast("string")))) % modN === 0L
    val d = docs(s, dir).withColumn("incoming", isInc)
    val existing = d.filter(!col("incoming")).drop("incoming")
    val incoming = d.filter(col("incoming")).drop("incoming")
    // ONE fingerprint read threaded through both memos: reading it
    // per-lookup would let an in-place corpus rewrite between the two
    // land frozen merges from the OLD corpus in an entry keyed by the
    // NEW fingerprint — a permanently stale mix (review finding)
    val docsT = Memo.table(s, s"$dir/documents.parquet")
    val frozen = frozenMerges(s, docsT, dir, merges, modN, existing)
    val (seg, _) = bpeMemo.get(s, docsT, dir, merges, s"incoming:$modN")(
      (replaySeg(incoming, frozen.map(m => (m._2, m._3))), frozen))
    fertilityOf(incoming, seg)
  }

  /** The q284 PII patterns, shared verbatim with the generated oracle
    * SQL (single definition — the two engines cannot drift). Kept to
    * the RE2 ∩ java.util.regex common subset: character classes,
    * bounded repetition, word boundaries — no backreferences, no
    * lookaround (RE2 has neither).
    */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  private[graft] val IpRe = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Deterministic PII decoration of the fixture corpus — the q284
    * test-signal stand-in. The synthetic documents table contains NO
    * digits, '@' or '+' (verified; the round-11 lesson), so a
    * redaction operator run on it is vacuously green. Until the
    * driver-generated fixture carries digit/PII-shaped text, both
    * engines append the SAME doc_id-derived decorations — an email
    * (two for doc_id % 3 == 0), a phone (two for % 4 == 0) and an
    * IPv4 — so counts vary per document and the scrub has real work.
    * Documented in FIXTURES.md; the OPERATOR (redactOn) is
    * injection-agnostic and runs on any text column.
    */
  private def piiInjected: Column = concat(
    col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".example.com"),
    when(col("doc_id") % 3 === 0, lit(" cc admin@corp.io")).otherwise(lit("")),
    lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
    when(col("doc_id") % 4 === 0,
      concat(lit(" or +44-020-"),
        lpad((col("doc_id") % 100).cast("string"), 4, "0"))).otherwise(lit("")),
    lit(" from 10."), (col("doc_id") % 256).cast("string"),
    lit("."), (col("doc_id") % 10).cast("string"), lit(".7"))

  /** Q284 — PII REDACTION: per document, count email/phone/IPv4
    * matches and emit the text with every match replaced by a typed
    * placeholder — the scrub every production curation pipeline runs
    * before training (emails, phone numbers and host addresses must
    * not reach the model). Counts are taken BEFORE replacement, per
    * category; replacement order email → phone → IP is fixed (the
    * patterns are mutually exclusive on this charset, but the pinned
    * order makes the output deterministic regardless).
    *
    * Scale shape: a pure per-row projection — scan → project, ZERO
    * exchanges (plan-pinned), and every regex is a codegen'd native
    * expression (RegExpExtractAll/RegExpReplace), no UDF
    * deserialization: at 100 TB this runs at scan throughput and the
    * text column never moves between executors.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    redactOn(docs(s, dir).select(col("doc_id"), piiInjected.as("text")))

  /** The injection-agnostic redaction core over (doc_id, text). */
  private[graft] def redactOn(d: DataFrame): DataFrame = {
    def n(re: String) =
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    d.select(col("doc_id"),
        n(EmailRe).as("n_emails"),
        n(PhoneRe).as("n_phones"),
        n(IpRe).as("n_ips"),
        (n(EmailRe) + n(PhoneRe) + n(IpRe)).as("n_pii"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          IpRe, "<IP>").as("redacted_text"))
  }

  /** Merge-table SINK: the learned BPE merge table as parquet — the
    * artifact a tokenizer-prep pipeline actually ships to the
    * tokenizer (q277's scaladoc calls it exactly that; this
    * materializes the handoff the way q285 did for the span index).
    * One file, merge_round-ordered: the table is ≤ `merges` rows, so
    * a single sorted part keeps the artifact deterministic and
    * diff-able.
    */
  def writeMergeTable(s: SparkSession,
                      merges: Seq[(Int, String, String, String, Long)],
                      outDir: String): Unit = {
    import s.implicits._
    merges.toDF("merge_round", "left_sym", "right_sym", "merged",
        "pair_count")
      .coalesce(1).sortWithinPartitions(col("merge_round"))
      .write.mode("overwrite").parquet(outDir)
  }

  /** Merge-table SOURCE: read a shipped merge table back in training
    * order. Explicit schema (the q285 lesson: an empty artifact must
    * read as empty, not fail inference); the collect is the artifact
    * itself — ≤ `merges` driver rows by construction, never corpus
    * data.
    */
  def readMergeTable(s: SparkSession, dir: String)
      : Seq[(Int, String, String, String, Long)] =
    s.read.schema("merge_round INT, left_sym STRING, right_sym STRING," +
        " merged STRING, pair_count BIGINT")
      .parquet(dir).orderBy(col("merge_round")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  /** Q287 — frozen-vocabulary encode from a PERSISTED merge table:
    * train on the existing shard, WRITE the merge table as parquet,
    * READ it back, and replay the READ artifact over the incoming
    * shard — the actual tokenizer handoff q283 simulates in-memory
    * (the same relationship q285 has to q282). Output is
    * byte-identical to q283 (round-trip identity; q287 shares q283's
    * oracle SQL), so the row's new coverage is the merge-table
    * sink/source pair: a dropped or reordered merge row, a type
    * mangled through parquet, or an ordering bug in the reader all
    * change the replayed segmentation and break the hash compare
    * (merge ORDER is semantic in BPE — replaying the same set in a
    * different order yields different subwords).
    *
    * Scale shape: identical to q283 plus one ≤ merges-row write and
    * read — the artifact cost is nil by construction; at 100 TB the
    * merge table is the bytes that cross the team boundary while the
    * corpus never moves.
    */
  def bpeEncodeFromArtifact(s: SparkSession, dir: String, merges: Int = 8,
                            modN: Int = 5): DataFrame = {
    val isInc = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("inc:"), col("doc_id").cast("string")))) % modN === 0L
    val d = docs(s, dir).withColumn("incoming", isInc)
    val existing = d.filter(!col("incoming")).drop("incoming")
    val incoming = d.filter(col("incoming")).drop("incoming")
    val docsT = Memo.table(s, s"$dir/documents.parquet")
    // ArtifactStore since round 13 (review finding): the old local
    // scratch key was the 32-bit Tuple.hashCode — collidable across
    // corpus dirs — and overwrote one directory per invocation
    val out = ArtifactStore.materialized(s, "bpe_merges", docsT,
      dir, merges.toString, modN.toString)(o => writeMergeTable(s,
        frozenMerges(s, docsT, dir, merges, modN, existing), o))
    val shipped = readMergeTable(s, out)
    // a DISTINCT memo tag from q283: sharing "incoming:modN" would
    // memo-hit q283's replay and silently bypass the shipped artifact
    // — exactly the coverage this query exists to provide
    val (seg, _) =
      bpeMemo.get(s, docsT, dir, merges, s"incoming-artifact:$modN")(
        (replaySeg(incoming, shipped.map(m => (m._2, m._3))), shipped))
    fertilityOf(incoming, seg)
  }

  /** Q48 — token-rarity document scoring, the integer-exact form of a
    * unigram-LM quality proxy: each token's document frequency is
    * bucketed to ⌊log2 df⌋ (`length(bin(df))-1`, the same integer
    * trick as q43), its rarity is `40 − ⌊log2 df⌋` (40 covers df up to
    * ~10^12 — positive at any conceivable corpus), and a document's
    * score sums rarity over its token OCCURRENCES. Rare-token-dense
    * documents score high, boilerplate scores low — the standard
    * pretraining-corpus quality signal, with bucketed-integer
    * arithmetic instead of float log-probs so the oracle compare is
    * exact (the only float is one final IEEE division for the mean).
    *
    * Scale shape: one (doc, token)-distinct aggregate for df, one
    * shuffle join keyed by token (the rarity table is vocabulary-
    * sized — broadcastable when the vocab is bounded), one doc_id
    * aggregate. No quadratic work, no driver participation.
    */
  def tokenRarity(s: SparkSession, dir: String, rmax: Int = 40): DataFrame = {
    val occ = docs(s, dir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("token"))
    val rarity = occ.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .select(col("token"),
        (lit(rmax) - (length(bin(col("df"))) - 1)).cast("long").as("rarity"))
    occ.join(rarity, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rarity")).as("rarity_sum"))
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        (col("rarity_sum").cast("double") / col("n_tokens")).as("mean_rarity"))
  }

  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("tk", TextHash.tokens(col("text")))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      // sum of token lengths == length of the concatenation: one
      // codegen'd pass instead of an interpreted aggregate(transform)
      // lambda per token (HOFs are not codegen'd; same exact integer)
      .withColumn("sum_len", length(concat_ws("", col("tk"))).cast("long"))
      .withColumn("n_punct",
        size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0))).cast("long"))
      .withColumn("en_hits",
        markerHits(col("tk"), langMarkers.head._2).cast("long"))
    d.select(
      col("doc_id"),
      col("n_tokens"),
      (col("sum_len").cast("double") / col("n_tokens")).as("avg_token_len"),
      (col("en_hits").cast("double") / col("n_tokens")).as("stopword_ratio"),
      (col("n_punct").cast("double") / col("n_chars")).as("punct_ratio"),
      (lit(0.4) * least(col("n_tokens").cast("double") / lit(100.0), lit(1.0))
        + lit(0.3) * (lit(1.0) - col("en_hits").cast("double") / col("n_tokens"))
        + lit(0.3) * least((col("sum_len").cast("double") / col("n_tokens")) / lit(8.0), lit(1.0)))
        .as("quality_score"))
  }

  /** Q100 — dataset card: the per-source summary a corpus release
    * ships with — doc count, exact-duplicate count (n −
    * distinct texts; at 100 TB the distinct runs on xxhash64(text)
    * per the Q15 hash-first plan), total tokens, language spread, and
    * mean quality score. The mean is a float, so per-doc scores
    * quantize to DECIMAL(18,12) before the Σ (combine-order-free) and
    * finish in one pinned division. One scan through the Q18 metric
    * pass + one source-keyed aggregate.
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    // hash-first distinct: the multi-distinct aggregate Expands its
    // input 3x, so what crosses the exchange must be the 8-byte
    // xxhash64, never the text (the Q15 discipline; collision odds at
    // 64 bits are birthday-negligible and the oracle's exact-text
    // distinct agrees at any test SF)
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      col("lang"), xxhash64(col("text")).as("th"))
    val q = qualityScore(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    d.join(q, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(col("th"))).as("n_dup_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("quality_score").cast("decimal(18,12)")).as("sq"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("total_tokens"), col("n_langs"),
        (col("sq").cast("double") / col("n_docs")).as("mean_quality"))
  }

  /** Q14b — TF-IDF top terms: per (doc, token) term frequency joined
    * to corpus document frequency; score = tf · (N / df) — the
    * log-free variant so both engines compute the identical double
    * (libm `ln` implementations are not bitwise-pinned across
    * engines); top-k terms per doc by (score desc, token).
    * Two shuffles (doc-token tf, token df) plus a broadcast-size join
    * of the df table per token — the standard scale shape.
    */
  def tfIdfTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val n = docs(s, dir).count()
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .withColumn("score",
        col("tf").cast("double") * (lit(n.toDouble) / col("df").cast("double")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "token", "tf", "df", "score", "rnk")
  }

  /** Q18b — Gopher-style filter rule flags: word count, mean word
    * length, symbol-to-word ratio, bullet-line fraction, duplicate-line
    * fraction, and top-bigram fraction, plus the combined keep flag.
    * Thresholds are the Gopher-inspired defaults, adapted loosely —
    * the contract is the exact arithmetic, which the oracle mirrors.
    *
    * Scale shape: the per-row features are codegen'd projections (no
    * HOFs — the bullet/symbol counts are regexp counts); the
    * repetition signals are two doc_id-keyed aggregates (lines,
    * bigrams) joined back — three narrow shuffles, no quadratic work.
    * The bigram table reuses the shingle machinery's per-token hashes:
    * one window `lead` per doc-ordered token stream.
    */
  def gopherRules(s: SparkSession, dir: String,
                  minWords: Long = 20L, maxWords: Long = 100000L,
                  minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                  maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                  maxDupLineFrac: Double = 0.5,
                  maxTopBigramFrac: Double = 0.3): DataFrame = {
    val d = docs(s, dir)
    val base = d
      .withColumn("tk", TextHash.tokens(col("text")))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        // nullif guard: a token-less doc must yield NULL in both
        // engines (Spark 0.0/0.0 is NaN; NULL is the portable contract)
        (length(concat_ws("", col("tk"))).cast("double") /
          nullif(size(col("tk")), lit(0)).cast("double")).as("mean_word_len"),
        (size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
          .cast("double") / nullif(size(col("tk")), lit(0)).cast("double"))
          .as("symbol_word_ratio"),
        (size(regexp_extract_all(col("text"), lit("(?m)^[-*] "), lit(0)))
          .cast("double") /
          (size(split(col("text"), "\n")).cast("double")))
          .as("bullet_line_frac"))
    val lines = d
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .groupBy(col("doc_id"))
      .agg((lit(1.0) - countDistinct(col("line")).cast("double") /
        count(lit(1)).cast("double")).as("dup_line_frac"))
    val bigrams = d
      .select(col("doc_id"),
        posexplode(TextHash.tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        TextHash.polyHash(col("tok")).as("h"))
      .withColumn("bg",
        pmod(col("h") * lit(31L) +
          lead(col("h"), 1).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("pos"))), lit(TextHash.P)))
      .filter(col("bg").isNotNull)
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
        .as("top_bigram_frac"))
    base
      .join(lines, Seq("doc_id"), "left")
      .join(bigrams, Seq("doc_id"), "left")
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen &&
          col("symbol_word_ratio") <= maxSymbolRatio &&
          col("bullet_line_frac") <= maxBulletFrac &&
          coalesce(col("dup_line_frac") <= maxDupLineFrac, lit(true)) &&
          coalesce(col("top_bigram_frac") <= maxTopBigramFrac, lit(true)))
  }

  /** Q31 — within-document repetition removal: drop every repeated
    * line after its first occurrence, rebuild the text, and report how
    * many lines were removed (the intra-doc analog of the corpus-level
    * dedup family — boilerplate/footer stripping).
    *
    * Scale shape: explode → (doc_id, line) first-occurrence aggregate →
    * doc_id re-assembly — two doc_id-keyed shuffles, state bounded by
    * the document's own line count. The rebuild is deterministic:
    * lines are re-joined in first-occurrence order via an array_sort
    * on (pos, line) structs, which the oracle mirrors with an
    * ORDER BY inside string_agg.
    */
  def dedupLines(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val firsts = d
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .groupBy(col("doc_id"), col("line"))
      .agg(min(col("pos")).as("fpos"))
    val rebuilt = firsts.groupBy(col("doc_id"))
      .agg(
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("fpos"), col("line")))),
            x => x.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_unique_lines"))
    d.select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, "doc_id")
      .withColumn("n_removed", col("n_lines") - col("n_unique_lines"))
  }

  /** Q19 — token counting: whitespace tokens vs a BPE-ish regex
    * segmentation (letter runs | digit runs | single symbol).
    */
  def bpeTokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_ws_tokens", size(TextHash.tokens(col("text"))).cast("long"))
      .withColumn("n_bpe_tokens",
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long"))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        (col("n_chars").cast("double") /
          nullif(col("n_bpe_tokens"), lit(0L)).cast("double")).as("chars_per_token"))

  /** Q20 — document fingerprinting by winnowing: polynomial hash of
    * every 8-char gram (unrolled base-31 sum — exact in BIGINT), then
    * the minimum per 16-gram window, distinct per document. Robust to
    * insertions/reorderings the way MOSS-style fingerprints are; the
    * gram explode is a narrow flatMap and the winnow is one bounded
    * window frame per document.
    */
  def fingerprints(s: SparkSession, dir: String, k: Int = 8, w: Int = 16): DataFrame =
    // All gram hashes of a document come from ONE native rolling pass
    // (GramHashesExpr), and the winnow selection is a SECOND native
    // pass over that array (WinnowMinsExpr: monotonic-deque sliding
    // min, O(n) per doc, per-doc distinct). Round-18 rewrite (guide
    // §2.4/§1.2): the old plan exploded every gram position, paid a
    // doc_id exchange + per-doc sort for a WindowExec whose bounded
    // [0, w-1] min frame re-aggregates its w-row buffer per row
    // (O(n·w)), then a second global exchange for the (doc_id, fp)
    // distinct. Row set is identical (doc_id unique ⇒ per-doc
    // distinct ≡ global distinct; the expression emits min over
    // [i, min(i+w-1, n-1)] for every i — exactly the truncated
    // row-frame semantics); the new plan has ZERO exchanges.
    docs(s, dir)
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(TextHash.winnowMins(
          TextHash.gramHashes(lower(col("text")), k), w)).as("fp"))

  /** Q168 — inter-rater agreement (Cohen's kappa) per source between
    * two document-quality classifiers: the Q18 score thresholded at
    * `thr` and the Q18b Gopher keep flag. Kappa corrects raw
    * agreement for chance — the standard audit when two labeling
    * passes (heuristic vs model, two annotator pools) gate the same
    * corpus: high raw agreement with kappa ≈ 0 means the cheap filter
    * adds nothing beyond base rates.
    *
    * Float discipline: the 2x2 cell counts a/b/c/d are exact BIGINTs,
    * and kappa = (n·(a+d) − Σ marginal products) / (n² − Σ marginal
    * products) is ONE IEEE division of two exactly-computed integers
    * — no po/pe float intermediates to drift. Division-by-zero
    * (degenerate marginals) yields null via nullif, both engines.
    *
    * Scale shape: both classifier passes are per-doc projections off
    * the documents scan, joined doc_id-keyed; the kappa arithmetic
    * runs on a per-source 4-counter aggregate — partial map-side
    * combine, 4 longs per source through the exchange.
    */
  def raterAgreement(s: SparkSession, dir: String,
                     thr: Double = 0.5): DataFrame = {
    val q = qualityScore(s, dir)
      .select(col("doc_id"), (col("quality_score") >= thr).as("r1"))
    val g = gopherRules(s, dir).select(col("doc_id"), col("keep").as("r2"))
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val cells = src.join(q, Seq("doc_id")).join(g, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum((col("r1") && col("r2")).cast("long")).as("a"),
        sum((col("r1") && !col("r2")).cast("long")).as("b"),
        sum((!col("r1") && col("r2")).cast("long")).as("c"),
        sum((!col("r1") && !col("r2")).cast("long")).as("d"))
    val n = col("a") + col("b") + col("c") + col("d")
    val chance = (col("a") + col("b")) * (col("a") + col("c")) +
      (col("c") + col("d")) * (col("b") + col("d"))
    cells.select(col("source"), n.as("n_docs"),
      (col("a") + col("d")).as("n_agree"),
      (col("a") + col("b")).as("r1_keep"),
      (col("a") + col("c")).as("r2_keep"),
      ((n * (col("a") + col("d")) - chance).cast("double") /
        nullif((n * n - chance), lit(0L)).cast("double")).as("kappa"))
  }

  /** Q224 — WEIGHTED (multiset) Jaccard between source pairs:
    * Σ min(c_a, c_b) / Σ max(c_a, c_b) over token FREQUENCIES, where
    * Q82's set Jaccard sees only vocabularies. A boilerplate-heavy
    * mirror site shares mass, not just types — the multiset form is
    * what catches it (and the one SimHash's weighted bit votes
    * approximate). Identity used: Σ max = T_a + T_b − Σ min, so the
    * pair join only aggregates minima; totals ride the tiny
    * per-source table.
    *
    * Exactness: all counts integer, one terminal division. Scale:
    * corpus collapses once to (source, token) counts; the pair stage
    * is token-keyed with source-bounded fanout — never corpus-sized.
    *
    * Round-18 optimization (guide §2.3/§2.4 — the q121/q15e
    * discipline): the (source, token) count table is an EAGER
    * localCheckpoint, not a lazy cache — it feeds three concurrent
    * branches of ONE plan (both totals sides + the pair stage), and
    * branches racing a lazy cache's first materialization recompute
    * the tokenize+count aggregate per branch (the round-17 q217
    * measurement). The per-pair minima come from a token-keyed
    * aggregate (sorted collect_list of (source, c), a<b pairs exploded
    * in place — per-token list bounded by the SOURCE dimension, ≤
    * n_sources entries) instead of the old token self-join: identical
    * pair multiset — per token, the sorted distinct source list's a<b
    * pairs are exactly the self-join's (x.source < y.source) matches —
    * minus the self-join's exchange pair and sort buffers.
    * CONSUME-ONCE: the checkpoint blocks are adopted and released
    * after the first successful action (the driver/bench contract —
    * see Graph.hits).
    */
  def weightedSourceJaccard(s: SparkSession, dir: String): DataFrame = {
    val counts = CheckpointOrphans.adopt(docs(s, dir)
      .select(col("source"), explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint())
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val pairs = totals.as("a").join(totals.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.tot").as("tot_a"), col("b.tot").as("tot_b"))
    val inter = counts
      .groupBy(col("token"))
      .agg(sort_array(collect_list(struct(col("source"), col("c")))).as("sc"))
      .filter(size(col("sc")) >= 2)
      .select(explode(flatten(transform(col("sc"), (a, i) =>
        transform(slice(col("sc"), i + lit(2), size(col("sc"))),
          b => struct(a.getField("source").as("sa"),
            b.getField("source").as("sb"),
            least(a.getField("c"), b.getField("c")).as("m")))))).as("pr"))
      .groupBy(col("pr.sa").as("src_a"), col("pr.sb").as("src_b"))
      .agg(count(lit(1)).as("shared_tokens"),
        sum(col("pr.m")).as("inter_w"))
    val iw = coalesce(col("inter_w"), lit(0L))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("shared_tokens"), lit(0L)).as("shared_tokens"),
        iw.as("inter_weight"),
        (col("tot_a") + col("tot_b") - iw).as("union_weight"),
        (iw.cast("double") /
          (col("tot_a") + col("tot_b") - iw).cast("double"))
          .as("weighted_jaccard"))
  }

  /** Q221 — Simpson lexical diversity per source: the probability two
    * token occurrences drawn WITHOUT replacement are different types
    * (1 − Σc(c−1)/(N(N−1))), plus the inverse-Simpson effective
    * vocabulary N²/Σc² — the "how repetitive is this source really"
    * number that token counts and vocab size both miss (a source can
    * have a huge vocab yet spend 90% of its mass on 10 types). The
    * diversity pair a mixture-weighting pass (Q29/Q158) consults
    * before trusting per-source token budgets.
    *
    * Exactness: both statistics are ratios of exact integer sums with
    * ONE terminal double division each. Scale: corpus collapses once
    * to (source, token) counts (map-side combinable), then a
    * per-source aggregate; nothing global, nothing floating until the
    * final row.
    */
  def simpsonDiversity(s: SparkSession, dir: String): DataFrame = {
    val counts = docs(s, dir)
      .select(col("source"), explode(TextHash.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val agg = counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * (col("c") - lit(1L))).as("coll"),
        sum(col("c") * col("c")).as("sq"))
    agg.select(col("source"), col("n_tokens"), col("n_distinct"),
      (lit(1.0) - col("coll").cast("double") /
        nullif(col("n_tokens") * (col("n_tokens") - lit(1L)), lit(0L))
          .cast("double")).as("simpson"),
      ((col("n_tokens") * col("n_tokens")).cast("double") /
        col("sq").cast("double")).as("inv_simpson"))
  }

  /** Q211 — calibration (reliability) bins for the quality score
    * against the Gopher keep decision: bucket docs by score decile,
    * compare the bin's mean score to its empirical keep rate. The
    * gap column is the per-bin reliability residual an eval pipeline
    * plots before trusting a scorer as a sampling weight.
    *
    * Exactness: scores quantize to DECIMAL(28,14) before summing
    * (order-independent, bitwise-reproducible across engines — the
    * Q169 discipline); counts are integers; each output double is one
    * terminal division. Scale: one equi-join on doc_id and one
    * 10-group partial-combining aggregate — nothing global.
    */
  def calibrationBins(s: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    val q = qualityScore(s, dir).select(col("doc_id"), col("quality_score"))
    val g = gopherRules(s, dir).select(col("doc_id"), col("keep"))
    val binned = q.join(g, Seq("doc_id"))
      .select(col("quality_score"), col("keep"),
        least(floor(col("quality_score") * nBins), lit(nBins - 1L)).as("bin"))
    val meanScore = col("ssum").cast("double") / col("n_docs").cast("double")
    val keepRate = col("n_keep").cast("double") / col("n_docs").cast("double")
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum(col("quality_score").cast("decimal(28,14)")).as("ssum"))
      .select(col("bin"), col("n_docs"), col("n_keep"),
        meanScore.as("mean_score"), keepRate.as("keep_rate"),
        (meanScore - keepRate).as("gap"))
  }

  /** Q212 — Fleiss' κ for THREE binary raters (quality ≥ thr, Gopher
    * keep, token count ≥ minTokens) per source: the multi-rater
    * generalization of Q168's pairwise Cohen κ. With r=3 and two
    * categories the whole statistic reduces to exact integers — per
    * doc x = #keep votes, S = Σ(x² + (3−x)²), c_keep = Σx — and
    *   κ = [3N(S−3N) − 2(c_k²+c_d²)] / (2·[9N² − (c_k²+c_d²)]),
    * evaluated with ONE double division (nullif-guarded for the
    * degenerate unanimous-single-category case). Integer products
    * stay exact while N < ~10⁹ docs per source; shard larger sources
    * before trusting the BIGINT path.
    *
    * Scale: two doc_id equi-joins and one per-source partial
    * aggregate; the raters reuse the Q18/Q18b projections unchanged.
    */
  def fleissKappa(s: SparkSession, dir: String, thr: Double = 0.5,
                  minTokens: Int = 25): DataFrame = {
    val q = qualityScore(s, dir).select(col("doc_id"),
      (col("quality_score") >= thr).as("r1"),
      (col("n_tokens") >= minTokens).as("r3"))
    val g = gopherRules(s, dir).select(col("doc_id"), col("keep").as("r2"))
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val votes = src.join(q, Seq("doc_id")).join(g, Seq("doc_id"))
      .select(col("source"),
        (col("r1").cast("long") + col("r2").cast("long") +
          col("r3").cast("long")).as("x"))
    val per = votes.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("c_keep"),
        sum(col("x") * col("x") +
          (lit(3L) - col("x")) * (lit(3L) - col("x"))).as("s2"))
    val n = col("n_docs")
    val ck = col("c_keep")
    val cd = lit(3L) * n - ck
    val pairSq = ck * ck + cd * cd
    per.select(col("source"), n, ck,
      ((col("s2") - lit(3L) * n).cast("double") /
        (lit(6L) * n).cast("double")).as("p_bar"),
      (pairSq.cast("double") /
        (lit(9L) * n * n).cast("double")).as("p_e"),
      ((lit(3L) * n * (col("s2") - lit(3L) * n) - lit(2L) * pairSq)
          .cast("double") /
        nullif(lit(2L) * (lit(9L) * n * n - pairSq), lit(0L))
          .cast("double")).as("kappa"))
  }
}
