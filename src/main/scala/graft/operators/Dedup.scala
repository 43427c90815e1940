package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHash

/** LLM-pipeline deduplication family over the `documents` table:
  * MinHash+LSH, SimHash, and exact n-gram Jaccard. These extend the
  * reference's exact-dedup surface (SURVEY §2.9 Q15) with the
  * approximate near-dup operators a 100 TB training-data pipeline
  * needs.
  *
  * Scale design, common to all three:
  *  - per-document work (tokenize → shingle → hash → signature) is a
  *    narrow projection over codegen'd higher-order array functions —
  *    no shuffle, no UDF, no driver participation;
  *  - candidate generation shuffles ONLY on the small blocking key
  *    (band hash / signature byte / shingle), never all-pairs: the
  *    classic band-join keeps the join input linear in corpus size;
  *  - the tiny permutation-parameter table is broadcast (16 rows).
  *
  * Hash arithmetic is oracle-replicable by construction — see
  * functions/TextHash.scala.
  */
object Dedup {

  import TextHash.P

  /** PRECONDITION (round-17 ADVICE, recorded): `doc_id` is unique in
    * documents.parquet — the generator writes it as a dense primary
    * key, and TESTDATA.md states the contract. [[shingleHashes]]'s
    * per-row `array_distinct` (and every per-doc-distinct rewrite
    * like it) is row-identical to a global distinct ONLY under that
    * key-uniqueness; a corpus with duplicated doc_id rows would
    * silently inflate per-shingle df counts where the old global
    * distinct was robust. Enforcing it here would cost the exact
    * corpus-wide exchange the rewrite removed, so it stays a
    * documented contract on the input, not a runtime guard.
    */
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** doc_id + distinct 3-word shingle hashes (`h` in [0, P)) — one
    * native tokenize+hash+shingle pass per document
    * (ShingleHashesExpr), deduped PER ROW with `array_distinct` before
    * the explode. doc_id is unique in `documents`, so per-array dedup
    * is exactly the old `explode(...).distinct()` row set — minus the
    * full (doc_id, h) exchange the global distinct paid (guide §2.4:
    * remove shuffles outright). Every downstream aggregate
    * (minhashSignatures' groupBy(doc_id), droppedShingles' groupBy(h))
    * now partial-aggregates straight off the scan.
    */
  def shingleHashes(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(array_distinct(TextHash.shingleHashes(col("text")))).as("h"))

  /** MinHash signatures, one row per doc with 16 columns mh1..mh16 —
    * all permuted minima computed in a single hash aggregate over the
    * shingle table (columnar: no 16× row blow-up, one shuffle on
    * doc_id; partial aggregation halves the exchange).
    */
  def minhashSignatures(s: SparkSession, d: DataFrame): DataFrame = {
    val params = TextHash.minhashParams()
    val aggs = params.map { case (i, _, a, b) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(P))).as(s"mh$i")
    }
    shingleHashes(d).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Ordered fold of one band's signature columns into a single key
    * (same arithmetic as the oracle's list_reduce).
    */
  private def bandKey(his: Seq[Int]): Column =
    his.foldLeft(lit(0L): Column)((acc, i) =>
      pmod(acc * lit(31L) + col(s"mh$i"), lit(P)))

  /** Q15c — MinHash+LSH near-dup candidate pairs with the estimated
    * Jaccard (fraction of the 16 signature slots that agree). A pair
    * is a candidate iff it collides in at least one of the 4 bands;
    * the band table is unpivoted with `stack` so the self-join
    * shuffles on (band, band-key) only.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    // Eager checkpoint, not a lazy cache (round-17 optimization): the
    // signature table feeds FOUR concurrent branches of one plan
    // (bands ×2, sa, sb), and branches racing a lazy cache's first
    // materialization recompute the signature aggregate per branch
    // (the q217 measurement). CONSUME-ONCE: blocks are adopted and
    // released after the first successful action — the driver/bench
    // contract (see Graph.hits).
    val sig = CheckpointOrphans.adopt(
      minhashSignatures(s, docs(s, dir)).localCheckpoint())
    val bands = bandTable(sig)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (sigMatches.cast("double") / lit(16.0)).as("est_jaccard"))
  }

  /** The one (doc_id, band, bh) unpivot behind every LSH path (q15c,
    * q204, q309): bands in ascending order, the ordered bandKey fold
    * per band. */
  private def bandTable(sig: DataFrame): DataFrame = {
    val byBand = TextHash.minhashParams().groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (band, ps) => band -> ps.map(_._1) }
    val stackArgs = byBand.map { case (band, his) =>
      struct(lit(band).as("band"), bandKey(his).as("bh")) }
    sig.select(col("doc_id"), explode(array(stackArgs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Scramble membership on doc_id ('inc:' selects the incoming
    * shard, 'purge:' the deleted-document set) — delegates to the one
    * shared arithmetic in [[Relational.scrambleMember]]. */
  private[graft] def memberDoc(prefix: String, modN: Int): Column =
    Relational.scrambleMember(col("doc_id"), prefix, modN)

  /** The shared refresh-audit finish (q286/q295/q297/q301/q310/q311):
    * eagerly collected pre-refresh per-key counts joined onto the
    * refreshed per-key totals; n_new = total − existing, absent keys
    * coalesce to 0. `key` is the shard/list column name and
    * `totalName` the caller's total column (already aggregated). */
  private[graft] def refreshAuditOf(s: SparkSession,
                                    pre: Seq[(Long, Long)],
                                    totals: DataFrame, key: String,
                                    totalName: String): DataFrame = {
    import s.implicits._
    totals.join(pre.toDF(key, "n_existing"), Seq(key), "left")
      .select(col(key),
        coalesce(col("n_existing"), lit(0L)).as("n_existing"),
        (col(totalName) - coalesce(col("n_existing"), lit(0L)))
          .as("n_new"),
        col(totalName))
  }

  /** Signature-agreement count between aliases `sa` and `sb` (the
    * est-Jaccard numerator shared by every gated LSH path). */
  private def sigMatches: Column =
    TextHash.minhashParams()
      .map { case (i, _, _, _) =>
        when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0): Column }
      .reduce(_ + _)

  /** The one est-Jaccard gate behind every thresholded LSH pair path
    * (q38's day-1 derivation and q309's day-2 newPairs): candidates
    * joined to their signatures, kept iff agreement/16 ≥ minJaccard —
    * a single definition so the q309 ≡ q38 shared-oracle contract is
    * structural, not a convention across copies. */
  private def gatedPairs(cand: DataFrame, sig: DataFrame,
                         minJaccard: Double): DataFrame =
    cand.join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(sigMatches.cast("double") / lit(16.0) >= lit(minJaccard))
      .select(col("doc_a"), col("doc_b"))

  /** Q182 — LSH banding TUNING CURVE over the 16-slot MinHash
    * signature: for each (bands × rows) split of the signature —
    * 8×2, 4×4, 2×8, 1×16 — the candidate-pair count, the count
    * confirmed at est-Jaccard ≥ `tau`, and the precision. This is the
    * parameter-selection audit every LSH deployment runs before
    * committing a banding (the S-curve trade: more bands → recall,
    * longer bands → precision); here it is measured on the corpus
    * itself rather than read off the 1−(1−J^r)^b formula.
    *
    * Scale shape: ONE signature aggregate (q15c's columnar pass,
    * cached) feeds all four configs; each config is the q15c
    * band-keyed self-join — never all-pairs — and collapses to a
    * single audit row before the union. Candidate volume shrinks
    * geometrically with r, so the sweep's cost is dominated by the
    * shortest band tried (r=2, collision p ≈ J²); at 100 TB the
    * audit runs on a corpus sample with the same plan. Integer
    * counts; precision is one int-ratio double; an empty candidate
    * set yields NULL precision, not 0/0.
    */
  /** Q204 — INCREMENTAL near-dup ingest: a 20% "incoming shard"
    * (deterministic hash membership — today's crawl) probed against
    * the 80% "existing corpus" through the Q15c LSH bands, with a
    * per-incoming-doc ingest/drop decision. The asymmetric join is
    * the point: candidates are incoming-band ⋈ existing-band ONLY —
    * no incoming×incoming, no existing×existing — so a daily ingest
    * pays O(|new| + collisions), never a corpus-wide self-join, and
    * the historical band index is reusable as-is at 100 TB.
    *
    * Confirmation is an INTEGER signature-agreement floor
    * (≥ ⌈τ·16⌉ of 16 slots); the best match per incoming doc is a
    * struct-max with (jaccard desc, id asc) tie order. Docs with no
    * candidates survive via left join — decision 'ingest', audited.
    */
  def incrementalDedup(s: SparkSession, dir: String, modN: Int = 5,
                       tau: Double = 0.5): DataFrame = {
    val isInc = memberDoc("inc:", modN)
    // eager checkpoint: FIVE concurrent branches (bands ×2, sa, sb,
    // the incoming left side) raced the lazy cache; consume-once
    val sig = CheckpointOrphans.adopt(
      minhashSignatures(s, docs(s, dir))
        .withColumn("incoming", isInc).localCheckpoint())
    val cand = bandTable(sig.filter(col("incoming"))).as("x")
      .join(bandTable(sig.filter(!col("incoming"))).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("inc_id"), col("y.doc_id").as("ex_id"))
      .distinct()
    val minMatch = math.ceil(tau * 16).toInt
    val scored = cand
      .join(sig.as("sa"), col("inc_id") === col("sa.doc_id"))
      .join(sig.as("sb"), col("ex_id") === col("sb.doc_id"))
      .select(col("inc_id"), col("ex_id"), sigMatches.as("n_match"))
    val agg = scored.groupBy(col("inc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("n_match") >= minMatch, 1L).otherwise(0L))
          .as("n_confirmed"),
        max(struct(col("n_match"), (-col("ex_id")).as("negid"),
          col("ex_id"))).as("best"))
    sig.filter(col("incoming")).select(col("doc_id").as("inc_id"))
      .join(agg, Seq("inc_id"), "left")
      .select(col("inc_id").as("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_confirmed"), lit(0L)).as("n_confirmed"),
        col("best.ex_id").as("best_match"),
        (col("best.n_match").cast("double") / lit(16.0)).as("best_jaccard"),
        when(coalesce(col("n_confirmed"), lit(0L)) > 0L, "drop")
          .otherwise("ingest").as("decision"))
  }

  def lshTuning(s: SparkSession, dir: String, tau: Double = 0.5): DataFrame = {
    // eager checkpoint: the four banding configs union into ONE plan
    // with EIGHT signature scans (bands ×2 + sa + sb per config) — the
    // worst cache-race fanout in the repo; consume-once contract
    val sig = CheckpointOrphans.adopt(
      minhashSignatures(s, docs(s, dir)).localCheckpoint())
    val minMatch = math.ceil(tau * 16).toInt
    val matches = (1 to 16)
      .map(i => when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0): Column)
      .reduce(_ + _)
    Seq(2, 4, 8, 16).map { r =>
      val nb = 16 / r
      val stackArgs = (0 until nb).map { j =>
        struct(lit(j).as("band"), bandKey((j * r + 1) to ((j + 1) * r)).as("bh"))
      }
      val bands = sig
        .select(col("doc_id"), explode(array(stackArgs: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(when(matches >= minMatch, 1L).otherwise(0L).as("conf"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(col("conf")), lit(0L)).as("n_confirmed"))
        .select(lit(nb.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_confirmed"),
          when(col("n_candidates") === 0L, lit(null).cast("double"))
            .otherwise(col("n_confirmed").cast("double") /
              col("n_candidates").cast("double")).as("band_precision"))
    }.reduce(_.unionAll(_))
  }

  /** Q208 — sorted-neighborhood blocking, the third classic
    * candidate-generation discipline next to LSH banding (Q15c) and
    * q-gram prefix filtering (Q83): sort the corpus once on a cheap
    * normalized blocking key (first `prefixLen` alphanumeric chars),
    * then pair every document with its `w` successors in that order,
    * and score each candidate with the MinHash signature agreement.
    * Catches near-dups whose edits fall OUTSIDE the key prefix —
    * complementary recall to shingle-based blocking.
    *
    * Scale: the global order comes from [[GlobalRank.globalRank]]
    * (range partition + broadcast offsets — no single-partition
    * sort); the windowed self-pairing is a rank-block equi-join
    * (each probe replicated to its own block and the next, exactly
    * like the Q44 interval binning) — candidate volume is n·w by
    * construction, never quadratic; signatures join back on doc_id.
    */
  def sortedNeighborhood(s: SparkSession, dir: String, w: Int = 4,
                         prefixLen: Int = 12): DataFrame = {
    val d = docs(s, dir)
    val keyed = d.select(col("doc_id"),
      substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
        1, prefixLen).as("bkey"))
    val ranked = GlobalRank.globalRank(keyed, "rnk", col("bkey"), col("doc_id"))
      .select(col("doc_id"), col("rnk"))
    val blocks = ranked.withColumn("blk", expr(s"(rnk - 1) div $w"))
    val probes = ranked.withColumn("blk",
      explode(array(expr(s"(rnk - 1) div $w"), expr(s"(rnk - 1) div $w + 1"))))
    val cand = probes.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") &&
          col("b.rnk") > col("a.rnk") && col("b.rnk") <= col("a.rnk") + w)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("b.rnk") - col("a.rnk")).as("rank_gap"))
    // eager checkpoint (round 17, the minhashLsh rationale): the
    // signature table is scanned by both sides of the scoring join —
    // uncheckpointed it was computed twice; consume-once contract
    val sig = CheckpointOrphans.adopt(
      minhashSignatures(s, d).localCheckpoint())
    val matches = (1 to 16)
      .map(i => when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0): Column)
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("rank_gap"),
        matches.cast("long").as("n_match"),
        (matches.cast("double") / lit(16.0)).as("est_jaccard"))
  }

  /** Q214 — blocking-recall audit: how much of the EXACT near-dup
    * truth (Q15e df-capped shingle Jaccard ≥ 0.5) does each
    * candidate-generation scheme recover? Schemes audited: the Q15c
    * LSH band join and the Q208 sorted-neighborhood window. The
    * output is the recall/candidate-volume trade table a pipeline
    * owner reads before picking a blocking discipline — the
    * measured counterpart to Q182's analytic tuning curve.
    *
    * Pair orientation: truth pairs are (min,max)-canonical; scheme
    * pairs are canonicalized with least/greatest before the
    * left-semi hit count (sorted-neighborhood orders by rank, which
    * need not follow doc_id order across prefix keys).
    *
    * Scale: each scheme keeps its own linear-in-corpus shape; the
    * audit adds only aggregate counts and a left-semi join on the
    * (already bounded) truth set. The exact-truth pass itself is the
    * priciest input — at real scale you'd audit on a sampled stratum,
    * same plan. The audit runs EAGERLY: the driver receives exactly
    * three scalar counts per scheme (count() actions, never row
    * data), which lets the truth/candidate caches be unpersisted
    * before returning — a library caller composing q214 into a longer
    * session no longer leaks two cached tables per call (round-10
    * verdict nit).
    */
  def blockingRecall(s: SparkSession, dir: String, w: Int = 4,
                     prefixLen: Int = 12): DataFrame = {
    // snapshot BEFORE the eager audit: the composed schemes
    // (ngramJaccard's truth spine, minhashLsh's signature table) carry
    // their own intra-query caches, which the audit materializes here
    // rather than in the caller's consumption — everything new in the
    // persistence map at the end is released before returning. The
    // map is CONTEXT-global, so a concurrent query's plain cache can
    // land in the delta — unpersisting one is safe (it recomputes);
    // localCheckpoints are excluded below because truncated lineage
    // CANNOT recompute and this call never creates any of its own.
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val truth = ngramJaccard(s, dir).select(col("doc_a"), col("doc_b")).cache()
    val nTruth = truth.count()
    def audit(scheme: String, candRaw: DataFrame): (String, Long, Long) = {
      val cand = candRaw.select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b")).cache()
      val nCand = cand.count()
      val nHits = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi").count()
      cand.unpersist(blocking = false)
      (scheme, nCand, nHits)
    }
    val rows = Seq(
      audit("lsh_bands", minhashLsh(s, dir).select(col("doc_a"), col("doc_b"))),
      audit("sorted_neighborhood",
        sortedNeighborhood(s, dir, w, prefixLen)
          .select(col("doc_a"), col("doc_b"))))
    truth.unpersist(blocking = false)
    (s.sparkContext.getPersistentRDDs -- persistedBefore)
      .values.filterNot(_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
    import s.implicits._
    rows.toDF("scheme", "n_candidates", "n_hits")
      .select(col("scheme"), lit(nTruth).as("n_truth"),
        col("n_candidates"), col("n_hits"),
        (col("n_hits").cast("double") /
          nullif(lit(nTruth), lit(0L)).cast("double")).as("recall"))
  }

  /** 64-bit SimHash per document: token-count-weighted bit votes over
    * TWO independent 32-bit polynomial token hashes (base 31 and 37).
    * The signature is carried as two 32-bit halves (`sim_lo`/`sim_hi`)
    * so every intermediate stays BIGINT-exact in both engines — a
    * single 64-bit modulus would overflow DuckDB's checked BIGINT
    * arithmetic. All 64 bit-sums are columns of one hash aggregate
    * (no 64× bit explode).
    */
  def simhashSignatures(s: SparkSession, d: DataFrame): DataFrame = {
    // affine bit-mix after the polynomial fold: a short token's poly
    // hash is ≪ 2^32 (a 5-char word fills ~22 bits), which would leave
    // the high band of each half nearly constant across the corpus and
    // collapse the 16-bit banding into one giant bucket. Multiplying
    // by an odd ~2^20 constant mod 2^32 spreads the entropy across all
    // 32 bits while every intermediate stays < 2^52 — BIGINT-exact in
    // both engines.
    def mix(h: Column, m: Long, a: Long): Column =
      (h * lit(m) + lit(a)) % lit(TextHash.M32)
    val tok = d
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("cnt"),
        mix(TextHash.polyHash(col("tok"), 31L, TextHash.M32), 1000003L, 12345L).as("ha"),
        mix(TextHash.polyHash(col("tok"), 37L, TextHash.M32), 999983L, 67891L).as("hb"))
    def bitSums(h: String, pfx: String) = (0 until 32).map { j =>
      sum(col("cnt") *
        (expr(s"shiftright($h, $j) & 1") * lit(2L) - lit(1L))).as(s"$pfx$j")
    }
    def packed(pfx: String) = (0 until 32)
      .map(j => when(col(s"$pfx$j") > 0, lit(1L << j)).otherwise(0L): Column)
      .reduce(_ + _)
    val sums = bitSums("ha", "a") ++ bitSums("hb", "b")
    tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        packed("a").as("sim_lo"), packed("b").as("sim_hi"))
  }

  /** Q15d — SimHash near-dup pairs, scale-hardened blocking: the
    * 64-bit signature is split into 4 bands of 16 bits, and a pair is
    * a candidate iff some band matches exactly. Pigeonhole: Hamming
    * distance ≤ 3 flips bits in at most 3 bands, so recall within the
    * default radius is EXACT. Random (unrelated) pairs collide in a
    * band with p ≈ 4/2^16 — candidate volume ~n²/16384, vs ~n²/64 for
    * the old 8-bit blocks — the difference between a bounded join and
    * a quadratic blowup at 100 TB corpus sizes.
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    // eager checkpoint for the same reason as minhashLsh (the blocks
    // self-join scans it twice concurrently); consume-once contract
    val sig = CheckpointOrphans.adopt(
      simhashSignatures(s, docs(s, dir)).localCheckpoint())
    val blocks = sig.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      posexplode(array(
        col("sim_lo").bitwiseAND(lit(65535L)),
        shiftright(col("sim_lo"), 16),
        col("sim_hi").bitwiseAND(lit(65535L)),
        shiftright(col("sim_hi"), 16))).as(Seq("b", "bk")))
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.b") === col("y.b") && col("x.bk") === col("y.bk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"),
        col("x.sim_lo").as("la"), col("x.sim_hi").as("ha"),
        col("y.doc_id").as("doc_b"),
        col("y.sim_lo").as("lb"), col("y.sim_hi").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("la").bitwiseXOR(col("lb"))) +
          bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Stopword-like shingles: document frequency above `maxDf`. A
    * shingle appearing in d documents contributes d·(d−1)/2 rows to
    * the candidate self-join, so one hot shingle is a quadratic blowup
    * at corpus scale. Exposed so callers can count/log what the cap
    * drops (no silent truncation): `droppedShingles(...).count()`.
    */
  def droppedShingles(s: SparkSession, dir: String, maxDf: Long = 100L): DataFrame =
    shingleHashes(docs(s, dir))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  /** Q15e — n-gram Jaccard with a document-frequency cap: shingles in
    * more than `maxDf` documents are removed from BOTH the candidate
    * join and the per-doc set sizes (the Jaccard universe is the
    * capped shingle space — mirrored exactly by the oracle). The hot
    * set is tiny, so it is excluded by a broadcast anti-join at the
    * scan — the shingle table itself never reshuffles for the cap —
    * and each surviving shingle contributes ≤ maxDf²/2 join pairs, so
    * candidate volume is linear in corpus size with a maxDf² constant,
    * not quadratic in hot-shingle document counts.
    */
  def ngramJaccard(s: SparkSession, dir: String, minJaccard: Double = 0.5,
                   maxDf: Long = 100L): DataFrame = {
    val hot = droppedShingles(s, dir, maxDf).select("h")
    val sh = shingleHashes(docs(s, dir))
      .join(broadcast(hot), Seq("h"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // Intersections via the q121 aggregate form (round-12 verdict #6,
    // ported here in the round-17 optimization pass): ONE h-keyed
    // aggregate collects each surviving shingle's (≤ maxDf) doc list,
    // drops singleton shingles, and explodes the sorted list's a<b
    // pairs in place. The old shingle-keyed SELF-JOIN over a cached
    // copy paid two SMJ sort buffers + a columnar cache and was the
    // q15e family's CPU floor (guide §2.3: aggregate before you
    // shuffle; §2.4: two ops keyed the same way share one exchange).
    // Pair multiset is identical: per shingle, the sorted doc list's
    // a<b pairs are exactly the self-join's (x.doc_id < y.doc_id)
    // matches, so `inter` per (doc_a, doc_b) is unchanged.
    val inter = sh.groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("za.sz") + col("zb.sz") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Q121 — shingle CONTAINMENT near-dups: pairs where the smaller
    * document's shingle set is mostly inside the larger's —
    * `|A∩B| / min(|A|,|B|)` ≥ threshold. Jaccard (q15e) misses
    * subset duplication outright (a doc embedded in a 10× larger one
    * has J ≤ 0.1 but containment 1.0); this is the Broder resemblance
    * / containment split, and the signal that catches quote-inflation
    * and wrapper-page duplication in a pretraining corpus.
    *
    * Scale shape: shingle explode → hot-shingle df cap via broadcast
    * anti-join (bounded candidate fanout, dropped shingles
    * auditable); intersections come from ONE h-keyed aggregate that
    * collects each surviving shingle's (≤ maxDf, df-capped) doc list,
    * drops singleton shingles — the overwhelming majority, so the
    * pair stage's input collapses — and explodes the sorted list's
    * a<b pairs in-place; pair counts then aggregate on (doc_a, doc_b).
    * Until round 12 this was a shingle-keyed SELF-JOIN over a cached
    * copy of the exploded shingle table: two SMJ sort buffers plus
    * columnar cache made q121 the canonical in-run memory spiker
    * (round-12 verdict #6 — 28–43 s CPU in-run vs 9.5 standalone).
    * The aggregate form shuffles the shingle table once, holds ≤
    * maxDf ids per group, and needs no cache; per-shingle pair volume
    * stays ≤ maxDf²/2, linear in corpus size.
    */
  def shingleContainment(s: SparkSession, dir: String,
                         minContainment: Double = 0.8,
                         maxDf: Long = 100L): DataFrame = {
    val hot = droppedShingles(s, dir, maxDf).select("h")
    val sh = shingleHashes(docs(s, dir))
      .join(broadcast(hot), Seq("h"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("za.sz").as("sz_a"), col("zb.sz").as("sz_b"),
        (col("inter").cast("double") /
          least(col("za.sz"), col("zb.sz")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Q70 — edit-distance (Levenshtein) near-dup pairs under blocking:
    * candidates are pairs sharing (lang, 16-char length band) whose
    * full lengths differ by ≤ `maxDist`; the distance itself runs on
    * the first `prefixLen` chars (full-text DP is O(len²) per pair —
    * the discriminating prefix decides dup/not for template
    * near-dups). Blocking bounds the self-join to Σ|block|² over
    * bounded lang × band blocks instead of n²; the 100 TB upgrade is
    * PassJoin-style segment pigeonholing (any pair within edit
    * distance k shares one of k+1 aligned substrings — same join
    * shape, provably complete candidates), noted here because the
    * length-band heuristic, unlike PassJoin, is a recall trade.
    * Levenshtein is the standard unit-cost DP in both engines:
    * integer-exact parity.
    */
  def editDistancePairs(s: SparkSession, dir: String, maxDist: Int = 16,
                        prefixLen: Int = 96, band: Int = 16): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars"), substring(col("text"), 1, prefixLen).as("pfx"))
      .withColumn("bkt", expr(s"n_chars div ${band}L"))
    d.as("x").join(d.as("y"),
        col("x.lang") === col("y.lang") && col("x.bkt") === col("y.bkt") &&
        col("x.doc_id") < col("y.doc_id") &&
        abs(col("x.n_chars") - col("y.n_chars")) <= maxDist)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        // threshold variant: banded DP, O(maxDist·prefixLen) per pair
        // instead of O(prefixLen²), returns -1 above the bound — the
        // kept distances are identical to the full DP the oracle runs
        levenshtein(col("x.pfx"), col("y.pfx"), maxDist).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** Q154 — Q70 written the way a USER would write it: same (lang,
    * length-band) blocking, but NO hand-written length prefilter —
    * the session's [[graft.plans.EditDistancePrefilter]] optimizer
    * rule injects the Ed-Join bound `abs(length(x.pfx) −
    * length(y.pfx)) ≤ k` in front of the DP automatically (prepended,
    * so conjunct short-circuit rejects before the O(k·n) DP runs).
    * Registering it as a query makes the extension path part of the
    * correctness gate: the row is hash-green ONLY under a session
    * with the extensions installed doing the sound rewrite (including
    * the −1 threshold case, which the `dist >= 0` conjunct proves
    * non-negative). Results are identical to Q70: same blocks, and
    * Q70's manual `|Δn_chars| ≤ 16` is implied by band equality.
    * ExtensionsSpec pins the injected bound in THIS query's optimized
    * plan.
    */
  def editDistancePairsAuto(s: SparkSession, dir: String, maxDist: Int = 16,
                            prefixLen: Int = 96, band: Int = 16): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      substring(col("text"), 1, prefixLen).as("pfx"),
      expr(s"n_chars div ${band}L").as("bkt"))
    d.as("x").join(d.as("y"),
        col("x.lang") === col("y.lang") && col("x.bkt") === col("y.bkt") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        levenshtein(col("x.pfx"), col("y.pfx"), maxDist).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** Q106 — the dedup DECISION table: every document labeled with its
    * near-dup cluster (itself when unclustered) and a keep/drop bit
    * (keep = the cluster's min-id representative) — the actionable
    * artifact a curation pipeline consumes, materialized from the Q38
    * connected components by one left join against the corpus. At
    * 100 TB the cluster table is duplicate-sized (≪ corpus), so the
    * join broadcasts or at worst shuffles doc_id-keyed once.
    */
  def dedupDecisions(s: SparkSession, dir: String,
                     minJaccard: Double = 0.5): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .join(dupClusters(s, dir, minJaccard), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("keep", col("doc_id") === col("cluster_id"))

  /** Q83 candidate generation — COMPLETE-recall Ed-Join-style q-gram
    * pigeonhole WITH prefix filtering (Xiao/Wang/Lin, VLDB'08):
    *
    * Count bound: each edit destroys at most q of a prefix's
    * (plen−q+1) positional grams, so a pair within edit distance k
    * shares ≥ max(n_x, n_y) − k·q gram occurrences (an injective
    * matching with position shift ≤ k).
    *
    * Prefix filter: order every gram occurrence by the GLOBAL key
    * (gram document-frequency asc, gram, position) and keep only each
    * string's first k·q + 1 occurrences — tie-INCLUSIVE on the
    * boundary (gdf, gram) value, so "value ≤ boundary ⇒ kept" holds
    * exactly. Completeness: take a matching M, |M| ≥ t =
    * max(n_x,n_y) − k·q ≥ 1; let v_x ≤ v_y be the two boundary
    * values. If some match has value ≤ v_x, both its endpoints are
    * kept (tie-inclusion) and the pair survives the join; otherwise
    * all matches use x-occurrences above x's boundary — at most
    * n_x − (k·q+1) ≤ t − 1 of them — contradiction.
    *
    * This is the hot-gram fix the n-gram family got in round 2, but
    * RECALL-PRESERVING: a boilerplate gram shared by d documents no
    * longer yields d² candidate pairs, because frequent grams sort
    * LAST in the global order and fall out of every prefix that has
    * k·q+1 rarer grams. Candidate volume per gram is bounded by the
    * count of documents whose rarest-gram prefix retains it.
    *
    * Strings with plen < q·(k+1)+k form a tiny brute-force class (a
    * partner of a sub-threshold string is itself sub-threshold, since
    * distance ≤ k bounds the length gap by k).
    */
  def qgramCandidates(s: SparkSession, dir: String, k: Int = 4, q: Int = 8,
                      prefixLen: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val longMin = q * (k + 1)          // gram pigeonhole valid from here
    val shortMax = longMin + k         // partners of short strings end here
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
        substring(col("text"), 1, prefixLen).as("pfx"))
      .withColumn("plen", length(col("pfx")))
    val g = d.filter(col("plen") >= longMin)
      .select(col("doc_id"), col("lang"), col("plen"),
        posexplode(expr(
          s"transform(sequence(1, length(pfx) - $q + 1), i -> substring(pfx, i, $q))"))
          .as(Seq("pos", "gram")))
    // global gram order: document-frequency ascending (rarest first).
    // The df table is vocabulary-sized; the join back is gram-keyed.
    val gdf = g.groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("gdf"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("gdf"), col("gram"), col("pos"))
    val ranked = g.join(gdf, Seq("lang", "gram"))
      .withColumn("rnk", row_number().over(byRarity))
    val prefLen = k * q + 1
    val boundary = ranked.filter(col("rnk") === prefLen)
      .select(col("doc_id"), col("gdf").as("bdf"), col("gram").as("bgram"))
    // Lazy cache, DELIBERATELY not the eager-checkpoint conversion
    // (round-18 A/B): both self-join sides scan this table, but the
    // measured eager localCheckpoint REGRESSED q83 2.6 → 4.4 s CPU
    // in-bench — the gram-level table is wide enough that the
    // checkpoint write costs more than the bounded 2× recompute the
    // lazy cache risks (and BlockManager serializes same-block
    // computes, so the per-partition race cost rarely materializes
    // for a two-branch consumer).
    val kept = ranked.join(boundary, Seq("doc_id"), "left")
      .filter(col("bdf").isNull || col("gdf") < col("bdf") ||
        (col("gdf") === col("bdf") && col("gram") <= col("bgram")))
      .select(col("doc_id"), col("lang"), col("plen"), col("pos"), col("gram"))
      .cache() // both sides of the self-join below
    val gramCands = kept.as("x").join(kept.as("y"),
        col("x.lang") === col("y.lang") && col("x.gram") === col("y.gram") &&
        col("x.doc_id") < col("y.doc_id") &&
        abs(col("x.plen") - col("y.plen")) <= k &&
        abs(col("x.pos") - col("y.pos")) <= k) // surviving grams shift ≤ k
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sh = d.filter(col("plen") < shortMax)
    val shortCands = sh.as("x").join(sh.as("y"),
        col("x.lang") === col("y.lang") &&
        col("x.doc_id") < col("y.doc_id") &&
        abs(col("x.plen") - col("y.plen")) <= k)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    gramCands.unionAll(shortCands).distinct()
  }

  /** Q83 — COMPLETE-recall edit-distance self-join: Ed-Join candidates
    * (qgramCandidates — count bound + prefix filtering, completeness
    * proven there) verified by exact threshold Levenshtein, so the
    * result EQUALS the declarative all-pairs oracle — same contract,
    * candidates cut from n² to prefix-gram collisions with hot grams
    * excluded from every prefix.
    */
  def qgramEditJoin(s: SparkSession, dir: String, k: Int = 4, q: Int = 8,
                    prefixLen: Int = 64): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
        substring(col("text"), 1, prefixLen).as("pfx"))
    qgramCandidates(s, dir, k, q, prefixLen)
      .join(d.select(col("doc_id").as("doc_a"), col("pfx").as("pa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("pfx").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), k).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= k)
  }

  /** Q38 — duplicate clusters: connected components over the MinHash
    * candidate pairs at `minJaccard`, so a dedup pass can keep ONE
    * representative per near-dup cluster instead of reasoning about
    * pairs. Iterative min-label propagation: every node adopts the
    * smallest label among itself and its neighbors until fixpoint, so
    * `cluster_id` = min doc_id of the component. Each iteration is one
    * doc_id-keyed shuffle over the EDGE table (pairs, not documents),
    * and dup components are shallow (dup sets are near-cliques from
    * band collisions), so convergence is a handful of rounds; the
    * 100 TB upgrade for adversarially long chains is the
    * large-star/small-star variant (O(log n) rounds) — same per-round
    * plan shape as here.
    */
  def dupClusters(s: SparkSession, dir: String,
                  minJaccard: Double = 0.5): DataFrame =
    connectedComponentsStar(
      minhashLsh(s, dir)
        .filter(col("est_jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b")))._1

  /** LSH signature-index SINK: the per-doc MinHash signatures of the
    * existing corpus as doc-sharded parquet — the third persisted
    * index family (spans q285, IVF postings q296). Shard membership
    * is `doc_id mod nShards`, doc_id-sorted within — deterministic
    * layout, same discipline as writeSpanIndex. */
  def writeLshSigIndex(sig: DataFrame, outDir: String,
                       nShards: Int = 8): Unit =
    layByKey(sig, "doc_id", outDir, nShards,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** The ONE explicit LSH signature-index read schema (readLshSigIndex
    * and sigShardCounts both read through it — explicit-schema parquet
    * reads null out silently on drift, so the string must not fork). */
  private val lshSigSchema: String =
    "doc_id BIGINT, " +
      (1 to 16).map(i => s"mh$i BIGINT").mkString(", ") +
      ", shard BIGINT"

  /** LSH signature-index SOURCE (explicit schema; longs round-trip
    * parquet exactly, so band keys and match counts over the
    * read-back table are bit-identical to inline derivation). */
  def readLshSigIndex(s: SparkSession, dir: String): DataFrame =
    s.read.schema(lshSigSchema).parquet(dir).drop("shard")

  /** Multi-generation signature reader: base ∪ deltas, one parquet
    * scan per immutable generation dir (the readSpanIndexDirs /
    * readIvfPostingsDirs discipline on the third index family).
    * Distinctness across generations is the writers' contract —
    * signature rows are per-doc and the strata are disjoint. */
  def readLshSigIndexDirs(s: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(d => s.read.schema(lshSigSchema).parquet(d))
      .reduce(_ unionAll _).drop("shard")

  /** Day-1 cluster-label SINK/SOURCE: (doc_id, cluster_id) sharded
    * like the signature index — the cross-run state an incremental
    * clustering pipeline carries between ingest days. */
  def writeCcLabels(labels: DataFrame, outDir: String,
                    nShards: Int = 8): Unit =
    layByKey(labels, "doc_id", outDir, nShards,
      org.apache.spark.sql.SaveMode.Overwrite)

  def readCcLabels(s: SparkSession, dir: String): DataFrame =
    s.read.schema("doc_id BIGINT, cluster_id BIGINT, shard BIGINT")
      .parquet(dir).select(col("doc_id"), col("cluster_id"))

  /** Q310 — LSH signature-index REFRESH audit (the q286/q297 shape on
    * the third index family): the incoming shard's signatures land as
    * a doc-sharded DELTA generation next to the write-once existing
    * base — no anti-join needed here, because signature rows are
    * per-doc and the strata are disjoint by construction — and the
    * audit counts per shard: docs before, docs added, docs after,
    * from the FILES. The oracle derives the same counts from the raw
    * documents table (a doc carries a signature iff it has ≥ 3
    * tokens, i.e. at least one shingle), so a dropped signature, a
    * duplicated append, or shard mis-assignment breaks the compare.
    *
    * Scale shape: one signature pass over the incoming slice (the
    * existing corpus is never re-read), one doc-keyed shard shuffle
    * of 17-column rows, an nShards-bounded audit. This is the
    * artifact-maintenance job that keeps q309's day-2 clustering
    * O(|incoming|) forever: tomorrow's "existing" index is today's
    * base ∪ delta.
    */
  def lshSigRefresh(s: SparkSession, dir: String, modN: Int = 5,
                    nShards: Int = 8): DataFrame = {
    val isInc = memberDoc("inc:", modN)
    // DELIBERATELY the same family q309 reads (identical writer,
    // identical params): q310 maintains THAT index — its delta is the
    // generation tomorrow's q309 run unions in. The artifact under
    // test here is the per-invocation DELTA, so the shared base tag
    // cannot mask it (the round-12 distinct-tag rule targets the
    // tested artifact, not shared day-1 fixture state).
    val base = ArtifactStore.materialized(s, "lsh_sig_index",
      Memo.table(s, s"$dir/documents.parquet"),
      dir, modN.toString, nShards.toString)(out =>
      writeLshSigIndex(
        minhashSignatures(s, docs(s, dir).filter(!isInc)), out, nShards))
    val pre = sigShardCounts(s, Seq(base), "n_existing")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val delta = ArtifactStore.invocationDir("lsh_sig_delta",
      dir, modN.toString, nShards.toString)
    writeLshSigIndex(
      minhashSignatures(s, docs(s, dir).filter(isInc)), delta, nShards)
    refreshAuditOf(s, pre, sigShardCounts(s, Seq(base, delta), "n_total"),
      "shard", "n_total")
  }

  /** The shared q313/q315 day-2 state (the dayTwoIndexDirs /
    * dayTwoPostings discipline on the signature index): the EXISTING
    * stratum split into two generations by a second deterministic
    * scramble ('sig2:' mod 2 — simulating a base plus one accumulated
    * q310-style delta), each written shard-aligned under the caller's
    * OWN family prefix, plus the day-1 cluster-label artifact derived
    * from the union (content-identical to q309's labels: the split is
    * layout, the signature SET is the same). All write-once memoized
    * per corpus fingerprint — day-1 work, not the measured operator.
    */
  private def dayTwoSigGens(s: SparkSession, dir: String, fam: String,
                            minJaccard: Double, modN: Int, nShards: Int)
      : (Seq[String], String) = {
    val isInc = memberDoc("inc:", modN)
    val half = memberDoc("sig2:", 2)
    val docsT = Memo.table(s, s"$dir/documents.parquet")
    val params = Seq(minJaccard.toString, modN.toString, nShards.toString)
    def gen(tag: String, slice: DataFrame): String =
      ArtifactStore.materialized(s, s"$fam$tag", docsT,
        (dir +: params): _*)(out =>
        writeLshSigIndex(minhashSignatures(s, slice), out, nShards))
    val base = gen("base", docs(s, dir).filter(!isInc && half))
    val delta = gen("delta", docs(s, dir).filter(!isInc && !half))
    val labDir = ArtifactStore.materialized(s, s"${fam}labels", docsT,
      (dir +: params): _*)(out =>
      writeCcLabels(
        day1LabelsOf(readLshSigIndexDirs(s, Seq(base, delta)), minJaccard),
        out, nShards))
    (Seq(base, delta), labDir)
  }

  /** Q313 — signature-index COMPACTION (the q289/q299 OPTIMIZE step
    * on the THIRD index family, round-13 verdict #1): every q310
    * refresh leaves one more doc-sharded delta generation, so a daily
    * dedup pipeline accumulates small files without bound. Compaction
    * rewrites the accumulated generations — content-identically —
    * into ONE doc_id-sorted file per shard, then runs the q309 day-2
    * incremental clustering with the EXISTING signatures served from
    * the compacted directory: output hash-identical to q309 (same q38
    * shared oracle), the whole contract — compaction changes LAYOUT,
    * never content, and the clustering is provably blind to the
    * switch. Spec-pinned: one file per shard after the rewrite; the
    * clustering plan reads the compacted generation and none of the
    * source generations.
    *
    * Scale shape: the rewrite is one doc-keyed shuffle of 17-column
    * signature rows (~|corpus docs|, the SMALL artifact — 136 bytes a
    * row, never the text); the clustering itself is q309's
    * O(incoming) path. At 100 TB this runs off-peak per shard group
    * and readers switch generations atomically by path (q315 makes
    * that switch a real manifest commit). CONSUME-ONCE result (the
    * q309 adopted-checkpoint contract).
    */
  def incrementalClustersCompacted(s: SparkSession, dir: String,
                                   minJaccard: Double = 0.5,
                                   modN: Int = 5,
                                   nShards: Int = 8): DataFrame =
    compactSigIndex(s, dir, minJaccard, modN, nShards)._2

  /** Test-visible q313 split: (compacted dir, clustering result) so
    * the spec can pin the one-file-per-shard layout. */
  private[graft] def compactSigIndex(s: SparkSession, dir: String,
                                     minJaccard: Double, modN: Int,
                                     nShards: Int): (String, DataFrame) = {
    val (gens, labDir) = dayTwoSigGens(s, dir, "lsh_sig_cmp",
      minJaccard, modN, nShards)
    val compacted = ArtifactStore.invocationDir("lsh_sig_compact",
      dir, minJaccard.toString, modN.toString, nShards.toString)
    writeLshSigIndex(readLshSigIndexDirs(s, gens), compacted, nShards)
    (compacted, dayTwoClustering(s, dir, readLshSigIndex(s, compacted),
      labDir, minJaccard, modN))
  }

  /** Q314 — signature-index PURGE (the q290/q300 VACUUM step on the
    * signature index): retire the signatures of deleted documents.
    * Where q290's span purge must keep hashes SHARED with surviving
    * docs, signature rows are doc-OWNED — exactly one (doc_id, mh*)
    * row per document — so the reference-count rule degenerates to a
    * doc_id anti-join with nothing shared to preserve; the interesting
    * contract is the audit: per doc-shard, signatures before, purged,
    * after, each counted INDEPENDENTLY from the files (before and
    * purged from the base generation, after from the purged rewrite),
    * while the oracle derives the same counts from the raw documents
    * table alone (a doc carries a signature iff it has ≥ 3 tokens;
    * purge membership is the deterministic 'purge:' scramble). A
    * leaked signature, an over-purged survivor, or a dropped shard
    * breaks the count compare.
    *
    * Scale shape: the purge set is an id projection (8-byte rows) and
    * the rewrite shuffles only the SMALL signature artifact,
    * doc-sharded; the corpus is scanned once to build the write-once
    * base (day-1 state) and once for the purge flags. A production
    * pipeline runs this weekly against the deletion log; the purged
    * index is a fresh generation, switched by path (q315's manifest).
    */
  def lshSigPurge(s: SparkSession, dir: String, modN: Int = 5,
                  nShards: Int = 8): DataFrame = {
    val isPurged = memberDoc("purge:", modN)
    val base = ArtifactStore.materialized(s, "lsh_sig_allbase",
      Memo.table(s, s"$dir/documents.parquet"),
      dir, modN.toString, nShards.toString)(out =>
      writeLshSigIndex(minhashSignatures(s, docs(s, dir)), out, nShards))
    val purgedIds = docs(s, dir).filter(isPurged).select(col("doc_id"))
    val after = ArtifactStore.invocationDir("lsh_sig_purged",
      dir, modN.toString, nShards.toString)
    writeLshSigIndex(
      readLshSigIndex(s, base).join(purgedIds, Seq("doc_id"), "left_anti"),
      after, nShards)
    // n_purged is counted DIRECTLY (base-file rows semi-joined to the
    // purge set — the rows the anti-join above removed), never derived
    // as n_before - n_after: the three audit columns come from three
    // independent measurements, so the per-shard identity
    // b = p + a is a genuine writer check instead of being true by
    // construction (round-14 ADVICE).
    val purgedPerShard = s.read.schema(lshSigSchema).parquet(base)
      .join(purgedIds, Seq("doc_id"), "left_semi")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_purged"))
    sigShardCounts(s, Seq(base), "n_before")
      .join(purgedPerShard, Seq("shard"), "left")
      .join(sigShardCounts(s, Seq(after), "n_after"), Seq("shard"), "left")
      .select(col("shard"), col("n_before"),
        coalesce(col("n_purged"), lit(0L)).as("n_purged"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
  }

  /** Q315 — day-2 incremental clustering through a MANIFEST-resolved
    * signature index (the q303/q304 atomic-switch discipline on the
    * third family): three commits replay the index's life — base
    * only, base ∪ delta (the q310 refresh landing), post-OPTIMIZE
    * compacted rewrite retiring both — and the clustering reads
    * whatever the LATEST manifest names. Output hash-identical to
    * q309 (shared q38 oracle) proves resolve returned the complete
    * post-compaction set; the plan pin proves none of the retired
    * generations are read (the content test alone cannot — signature
    * UNION of duplicate generations would double rows but bandTable's
    * candidate `distinct()` is duplicate-blind).
    *
    * Scale shape: the manifest is a handful of path strings; the
    * rest is q313's compaction + q309's O(incoming) clustering. At
    * 100 TB this is the Iceberg/Delta pointer-swap over immutable
    * signature generations. CONSUME-ONCE result (the q309
    * adopted-checkpoint contract).
    */
  def incrementalClustersViaManifest(s: SparkSession, dir: String,
                                     minJaccard: Double = 0.5,
                                     modN: Int = 5,
                                     nShards: Int = 8): DataFrame = {
    val (gens, labDir) = dayTwoSigGens(s, dir, "lsh_sig_mf",
      minJaccard, modN, nShards)
    val root = ArtifactStore.invocationDir("lsh_sig_manifest",
      dir, minJaccard.toString, modN.toString, nShards.toString)
    IndexManifest.commit(s, root, Seq(gens.head), IndexManifest.LshSigFormat)
    IndexManifest.commit(s, root, gens, IndexManifest.LshSigFormat)
    val compacted = ArtifactStore.invocationDir("lsh_sig_mfcompact",
      dir, minJaccard.toString, modN.toString, nShards.toString)
    writeLshSigIndex(readLshSigIndexDirs(s, gens), compacted, nShards)
    IndexManifest.commit(s, root, Seq(compacted), IndexManifest.LshSigFormat)
    dayTwoClustering(s, dir,
      readLshSigIndexDirs(s,
        IndexManifest.resolve(s, root, IndexManifest.LshSigFormat)),
      labDir, minJaccard, modN)
  }

  /** Q324 — signature-index TIME TRAVEL (q308's reproducibility
    * contract on the THIRD index family — the last q320/q321 symmetry
    * seam, round-14 verdict #2): q315's life is replayed — base
    * committed, base ∪ delta committed (the q310 refresh landing),
    * compacted rewrite committed as the OPTIMIZE switch — and the
    * day-2 incremental clustering runs under
    * [[IndexManifest.resolveAt]] pinned to the base ∪ delta snapshot.
    * Output hash-identical to q309 (the shared q38 oracle): the
    * compaction switch is LAYOUT-only, so the pre-switch snapshot
    * must still produce identical clusters — re-running yesterday's
    * clustering job after today's OPTIMIZE returns yesterday's
    * answer, and the identity is itself the proof the compaction
    * added nothing. The plan pin carries the other half (only the
    * pre-compaction generations scanned): the content test cannot,
    * because a resolveAt that leaked the compacted generation too
    * would only duplicate signature rows, which the candidate
    * `distinct()` absorbs. CONSUME-ONCE result (the q309
    * adopted-checkpoint contract).
    */
  def incrementalClustersTimeTravel(s: SparkSession, dir: String,
                                    minJaccard: Double = 0.5,
                                    modN: Int = 5,
                                    nShards: Int = 8): DataFrame = {
    val (gens, labDir) = dayTwoSigGens(s, dir, "lsh_sig_tt",
      minJaccard, modN, nShards)
    val root = ArtifactStore.invocationDir("lsh_sig_manifest_tt",
      dir, minJaccard.toString, modN.toString, nShards.toString)
    IndexManifest.commit(s, root, Seq(gens.head),
      IndexManifest.LshSigFormat)
    IndexManifest.commit(s, root, gens, IndexManifest.LshSigFormat)
    val compacted = ArtifactStore.invocationDir("lsh_sig_ttcompact",
      dir, minJaccard.toString, modN.toString, nShards.toString)
    writeLshSigIndex(readLshSigIndexDirs(s, gens), compacted, nShards)
    IndexManifest.commit(s, root, Seq(compacted),
      IndexManifest.LshSigFormat)
    // the second snapshot: base ∪ delta, the pre-OPTIMIZE state
    val snap2 = IndexManifest.committedIds(s, root)(1)
    dayTwoClustering(s, dir,
      readLshSigIndexDirs(s, IndexManifest.resolveAt(s, root, snap2,
        IndexManifest.LshSigFormat)),
      labDir, minJaccard, modN)
  }

  /** Q326 — signature-index lifecycle SOAK: the q318/q325 three-day
    * composition on the THIRD family, fully closing the round-14
    * "family asymmetry" gap (q324 closed its time-travel half). The
    * EXISTING stratum — the signature index's content; the incoming
    * shard is day-2 clustering work, never index rows — is split
    * 'soaksig:' mod 4 into a base (slice 3) plus three daily ingest
    * slices; each day lands its slice's signatures as a delta
    * generation (doc-owned rows, disjoint slices — no anti-join, the
    * q297/q322 shape), commits base ∪ delta, COMPACTS to one
    * doc-sorted generation, commits the switch, and runs
    * retire(keepLast = 2). The final day-2 incremental clustering
    * reads whatever the last manifest resolves: the three slices
    * union to exactly q309's existing-signature set, so the output is
    * hash-identical to the full q38 recompute (the shared oracle) —
    * a slice dropped by a refresh, leaked by a compaction, or deleted
    * by an over-eager GC breaks the compare. Spec-pinned: exactly 4
    * generations GC'd and gone from disk, the kept window intact, and
    * the clustering probe scanning ONLY the day-3 compacted
    * generation (executed plans — the checkpoint cut).
    *
    * Generations are PER-INVOCATION (retire deletes them — the
    * q307/q319 ownership rule); the day-1 label artifact is NOT a
    * generation (retire never touches it), so it memoizes per corpus
    * fingerprint like q309's. CONSUME-ONCE result (the q309
    * adopted-checkpoint contract).
    */
  def sigLifecycleSoak(s: SparkSession, dir: String,
                       minJaccard: Double = 0.5, modN: Int = 5,
                       nShards: Int = 8): DataFrame =
    sigSoakParts(s, dir, minJaccard, modN, nShards)._3

  /** Test-visible q326 split: (manifest root, GC-deleted dirs,
    * clustering) so the spec can pin the on-disk outcome. */
  private[graft] def sigSoakParts(s: SparkSession, dir: String,
                                  minJaccard: Double, modN: Int,
                                  nShards: Int)
      : (String, Seq[String], DataFrame) = {
    val isInc = memberDoc("inc:", modN)
    val existing = docs(s, dir).filter(!isInc)
    val slice = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("soaksig:"), col("doc_id").cast("string")))) % 4
    val params = Seq(minJaccard.toString, modN.toString, nShards.toString)
    def gen(tag: String)(sig: DataFrame): String = {
      val out = ArtifactStore.invocationDir(s"lsh_sig_soak$tag",
        (dir +: params): _*)
      writeLshSigIndex(sig, out, nShards)
      out
    }
    val labDir = ArtifactStore.materialized(s, "lsh_sig_soaklabels",
      Memo.table(s, s"$dir/documents.parquet"), (dir +: params): _*)(out =>
      writeCcLabels(
        day1LabelsOf(minhashSignatures(s, existing), minJaccard),
        out, nShards))
    val root = ArtifactStore.invocationDir("lsh_sig_manifest_soak",
      (dir +: params): _*)
    val base = gen("base")(
      minhashSignatures(s, existing.filter(slice === 3)))
    IndexManifest.commit(s, root, Seq(base), IndexManifest.LshSigFormat)
    var live = Seq(base)
    val deleted = Seq.newBuilder[String]
    for (day <- 0 until 3) {
      val delta = gen(s"d$day")(
        minhashSignatures(s, existing.filter(slice === day)))
      IndexManifest.commit(s, root, live :+ delta,
        IndexManifest.LshSigFormat)
      val compacted = gen(s"c$day")(readLshSigIndexDirs(s, live :+ delta))
      IndexManifest.commit(s, root, Seq(compacted),
        IndexManifest.LshSigFormat)
      deleted ++= IndexManifest.retire(s, root, keepLast = 2)
      live = Seq(compacted)
    }
    (root, deleted.result(),
      dayTwoClustering(s, dir,
        readLshSigIndexDirs(s, IndexManifest.resolve(s, root,
          IndexManifest.LshSigFormat)),
        labDir, minJaccard, modN))
  }

  /** Q322 support (the streaming signature refresh in
    * [[graft.streaming.StreamingOps.streamSigRefreshFixture]]): the
    * existing/incoming split and a write-once PERSISTED base
    * signature index under the streaming query's OWN family tag (the
    * round-12 distinct-tag rule), plus the incoming docs slice to
    * feed. */
  private[graft] def streamSigParts(s: SparkSession, dir: String,
                                    modN: Int, nShards: Int)
      : (DataFrame, String) = {
    val isInc = memberDoc("inc:", modN)
    val base = ArtifactStore.materialized(s, "lsh_sig_streambase",
      Memo.table(s, s"$dir/documents.parquet"),
      dir, modN.toString, nShards.toString)(out =>
      writeLshSigIndex(
        minhashSignatures(s, docs(s, dir).filter(!isInc)), out, nShards))
    (docs(s, dir).filter(isInc), base)
  }

  /** Q322 support: q310's refresh audit over explicit generation
    * dirs (pre-counts from the base generation only). */
  private[graft] def sigRefreshAudit(s: SparkSession, base: String,
                                     deltas: Seq[String]): DataFrame = {
    val pre = sigShardCounts(s, Seq(base), "n_existing")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    refreshAuditOf(s, pre, sigShardCounts(s, base +: deltas, "n_total"),
      "shard", "n_total")
  }

  /** Q327 support (the streaming signature retention in
    * [[graft.streaming.StreamingOps.streamSigRetentionFixture]]): the
    * incoming slice to feed plus a PER-INVOCATION persisted base —
    * the retention GC retires and deletes it mid-stream, so it must
    * be this run's own, never the memoized q322 state (the q307/q319
    * ownership rule; the rebuild is billed to the query). */
  private[graft] def streamSigRetentionParts(s: SparkSession, dir: String,
                                             modN: Int, nShards: Int)
      : (DataFrame, String) = {
    val isInc = memberDoc("inc:", modN)
    val base = ArtifactStore.invocationDir("lsh_sig_sretbase",
      dir, modN.toString, nShards.toString)
    writeLshSigIndex(minhashSignatures(s, docs(s, dir).filter(!isInc)),
      base, nShards)
    (docs(s, dir).filter(isInc), base)
  }

  /** Per-shard signature counts over one or more index generations
    * (q310's audit shape; private[graft] for the q327 fixture, whose
    * pre-counts must be collected BEFORE the GC deletes the base). */
  private[graft] def sigShardCounts(s: SparkSession, dirs: Seq[String],
                             as: String): DataFrame =
    dirs.map(d => s.read.schema(lshSigSchema).parquet(d)
        .select(col("shard")))
      .reduce(_ unionAll _)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as(as))

  /** Q309 — day-2 INCREMENTAL duplicate clustering: the q288/q293
    * day-2 discipline brought to the GRAPH family, against two
    * persisted day-1 artifacts — the LSH signature index of the
    * existing corpus and its cluster labels. Day 2 computes
    * signatures for the INCOMING shard only, probes the persisted
    * band index (incoming×existing + incoming×incoming — never
    * existing×existing, which day 1 already resolved), CONTRACTS each
    * new edge's endpoints to their day-1 component labels, runs the
    * large-star/small-star fixpoint on the contracted graph (day-1
    * components are supernodes, so the graph is |new edges|-sized),
    * and expands: a day-1 doc inherits its supernode's final label, a
    * fresh node keeps its own.
    *
    * Output is IDENTICAL to the full q38 recompute (shared oracle):
    * existing×existing candidate pairs are corpus-independent (band
    * membership and signature agreement are per-doc/per-pair
    * functions), contraction preserves connectivity, and min-labels
    * are canonical — the component minimum of the contracted graph
    * (day-1 minima ∪ fresh ids) IS the full component minimum. That
    * identity is the whole point: a daily pipeline pays
    * O(|incoming| + collisions + |new edges| log) instead of a
    * corpus-wide self-join and fixpoint, and provably loses nothing.
    *
    * Scale shape: one documents scan (the incoming slice — the
    * existing corpus is never re-read, plan-pinned), band probes
    * against the sharded artifact, and a fixpoint whose edge table is
    * new-pair-sized. The artifacts are the q286-style cross-run
    * state; a nightly job appends incoming signatures and rewrites
    * labels shard-aligned (the q296 refresh shape, not re-shown
    * here).
    *
    * CONSUME-ONCE: the returned DataFrame rides adopted
    * localCheckpoint blocks (CheckpointOrphans.adopt) that are
    * released after the FIRST successful action — run exactly one
    * action over it (the driver/bench contract); a caller needing
    * multiple actions must checkpoint or persist its own copy
    * (round-13 ADVICE).
    */
  def incrementalClusters(s: SparkSession, dir: String,
                          minJaccard: Double = 0.5, modN: Int = 5,
                          nShards: Int = 8): DataFrame = {
    val isInc = memberDoc("inc:", modN)
    val docsT = Memo.table(s, s"$dir/documents.parquet")
    val sigDir = ArtifactStore.materialized(s, "lsh_sig_index", docsT,
      dir, modN.toString, nShards.toString)(out =>
      writeLshSigIndex(
        minhashSignatures(s, docs(s, dir).filter(!isInc)), out, nShards))
    val labDir = ArtifactStore.materialized(s, "cc_labels_day1", docsT,
      dir, minJaccard.toString, modN.toString, nShards.toString)(out =>
      writeCcLabels(day1LabelsOf(readLshSigIndex(s, sigDir), minJaccard),
        out, nShards))
    dayTwoClustering(s, dir, readLshSigIndex(s, sigDir), labDir,
      minJaccard, modN)
  }

  /** The day-1 cluster labels of an existing-corpus signature table:
    * band-blocked self-join → est-Jaccard gate → star fixpoint — the
    * q38 derivation against an explicit signature source, shared by
    * q309 (base artifact) and q313/q315 (compacted generation). */
  private def day1LabelsOf(sigEx: DataFrame,
                           minJaccard: Double): DataFrame = {
    val bandsEx = bandTable(sigEx)
    val cand = bandsEx.as("x").join(bandsEx.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    connectedComponentsStar(gatedPairs(cand, sigEx, minJaccard))._1
  }

  /** The measured q309 day-2 path against an EXPLICIT existing-
    * signature source and day-1 label artifact — one definition so
    * the q313 (compacted) and q315 (manifest-resolved) variants are
    * structurally the same clustering, differing only in which
    * generation layout serves the signatures. CONSUME-ONCE like
    * [[incrementalClusters]] (the adopted-checkpoint contract). */
  private def dayTwoClustering(s: SparkSession, dir: String,
                               sigEx: DataFrame, labDir: String,
                               minJaccard: Double, modN: Int): DataFrame = {
    val isInc = memberDoc("inc:", modN)
    // Eager checkpoint, not a lazy cache (round-18, the q217/C7
    // discipline): the incoming-signature table feeds FOUR concurrent
    // branches of the newPairs checkpoint job (bandsIn in the cross
    // and in both within-batch candidate sides, plus the union inside
    // gatedPairs), and branches racing a lazy cache recompute the
    // shingle+minhash aggregate per branch. Adopted: released after
    // the first successful action (newPairs' own checkpoint job),
    // which replaces the old explicit unpersist.
    val sigIn = CheckpointOrphans.adopt(
      minhashSignatures(s, docs(s, dir).filter(isInc)).localCheckpoint())
    val bandsIn = bandTable(sigIn)
    val candCross = bandsIn.as("x").join(bandTable(sigEx).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val candIn = bandsIn.as("x").join(bandsIn.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val newPairs = gatedPairs(candCross.unionAll(candIn).distinct(),
        sigEx.unionByName(sigIn), minJaccard)
      .localCheckpoint() // feeds the fixpoint AND the expansion below
    // the newPairs and fixpoint checkpoints are ownerless after the
    // result materializes — adopt them (the Graph.hits discipline) so
    // the first successful action releases their blocks
    CheckpointOrphans.adopt(
      mergeIncremental(newPairs, readCcLabels(s, labDir)))
  }

  /** The q309 contract → fixpoint → expand step over an explicit
    * (doc_a, doc_b) new-pair table and a (doc_id, cluster_id) day-1
    * label table — separated so the merge propagation is unit-testable
    * with hand-built topologies (a banding-gated LSH corpus cannot
    * deterministically force a two-sided bridge). */
  private[graft] def mergeIncremental(newPairs: DataFrame,
                                      labels1: DataFrame): DataFrame = {
    val contracted = newPairs
      .join(labels1.select(col("doc_id").as("doc_a"),
        col("cluster_id").as("la")), Seq("doc_a"), "left")
      .join(labels1.select(col("doc_id").as("doc_b"),
        col("cluster_id").as("lb")), Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val cc2 = connectedComponentsStar(contracted)._1
      .select(col("doc_id").as("node"), col("cluster_id").as("final"))
    val day1Out = labels1.join(cc2,
        labels1("cluster_id") === cc2("node"), "left")
      .select(labels1("doc_id"),
        coalesce(col("final"), labels1("cluster_id")).as("cluster_id"))
    val freshOut = newPairs.select(col("doc_a").as("doc_id"))
      .unionAll(newPairs.select(col("doc_b").as("doc_id"))).distinct()
      .join(labels1.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(cc2, col("doc_id") === cc2("node"), "left")
      .select(col("doc_id"),
        coalesce(col("final"), col("doc_id")).as("cluster_id"))
    day1Out.unionByName(freshOut)
  }

  /** Min-label propagation over an undirected pair list
    * (`doc_a`, `doc_b`); returns (doc_id, cluster_id = component min).
    *
    * One shuffle join + one aggregate per round: self-loops are added
    * to the (cached) edge table so `min(label over neighbors ∪ self)`
    * is a single groupBy — no second join to merge the old label.
    * Convergence is detected by the per-node-monotone label sum
    * (labels only ever decrease, so an unchanged DECIMAL-exact sum ⇔
    * fixpoint) — a narrow aggregate on the cached result instead of a
    * three-way diff join per round.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // cache the shared prefixes: `nodes` seeds the labels AND supplies
    // the self-loops, and `sym` feeds both — without these, the first
    // round recomputes the (expensive) upstream pair generation once
    // per consumer
    val sym = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .cache()
    val nodes = sym.select(col("doc_a").as("doc_id")).distinct().cache()
    val edges = sym.union(
        nodes.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b")))
      .cache()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head() match {
        case r if r.isNullAt(0) => java.math.BigDecimal.ZERO
        case r => r.getDecimal(0)
      }
    // localCheckpoint (NOT cache) after every round: an iterative
    // fixpoint's logical plan otherwise grows by the whole round body
    // each iteration — the self-join DOUBLES it — and Catalyst
    // re-optimizes that exponentially growing tree every round even
    // though execution would hit the cache. Truncating lineage keeps
    // analysis cost constant per round (the GraphFrames
    // checkpointInterval trick).
    var labels = nodes.withColumn("label", col("doc_id")).localCheckpoint()
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // (1) adopt the min label over neighbors ∪ self
      val prop = edges.as("e")
        .join(labels.as("l"), col("e.doc_b") === col("l.doc_id"))
        .groupBy(col("e.doc_a").as("doc_id"))
        .agg(min(col("l.label")).as("label"))
        .localCheckpoint() // referenced twice by the self-join below
      // (2) pointer-jump: label ← label(label). Labels are node ids,
      // and label(x) ≤ x, so the lookup only ever improves — this is
      // the shortcutting step that turns O(diameter) rounds into
      // O(log diameter) for chain-shaped components.
      val next = prop.as("x")
        .join(prop.as("y"), col("x.label") === col("y.doc_id"), "left")
        .select(col("x.doc_id"),
          coalesce(col("y.label"), col("x.label")).as("label"))
        .localCheckpoint()
      val curSum = labelSum(next)
      labels = next
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      rounds += 1
    }
    sym.unpersist()
    nodes.unpersist()
    edges.unpersist()
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log n)-round contraction the min-label scaladoc promised for
    * adversarially long dup chains. Returns (labels, rounds): labels =
    * (doc_id, cluster_id = component min), identical to
    * [[connectedComponents]] by construction, so swapping it under
    * Q38/Q106 changes no result bytes.
    *
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node links its smaller neighbors (and
    *    itself) to that minimum.
    *
    * Both are one hash-partitioned window + projection over the edge
    * table — no joins at all inside a round (vs. one join per round
    * for label propagation), and the alternation provably contracts
    * any graph in O(log² n) rounds (O(log n) observed on paths; the
    * spec pins ≤ log₂ n + 2 on a 10k-node path). Per-round lineage is
    * truncated with localCheckpoint exactly like the label-prop loop.
    * Fixpoint detection: the canonical edge set only ever moves down
    * in (endpoint-sum) potential, so an unchanged exact DECIMAL
    * checksum of the sorted pairs ⇔ no edge changed.
    */
  def connectedComponentsStar(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(
        e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val m = least(col("doc_a"),
        min(col("doc_b")).over(Window.partitionBy(col("doc_a"))))
      sym.withColumn("m", m)
        .filter(col("doc_b") > col("doc_a")) // link larger neighbors → m
        .select(col("doc_b").as("doc_a"), col("m").as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v"))
      or.withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
        .select(explode(array(
          struct(col("v").as("x"), col("m").as("y")),
          struct(col("u").as("x"), col("m").as("y")))).as("p"))
        .select(col("p.x").as("doc_a"), col("p.y").as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .distinct()
    }
    def checksum(e: DataFrame): java.math.BigDecimal =
      e.agg(sum(xxhash64(greatest(col("doc_a"), col("doc_b")),
          least(col("doc_a"), col("doc_b"))).cast("decimal(38,0)")))
        .head() match {
          case r if r.isNullAt(0) => java.math.BigDecimal.ZERO
          case r => r.getDecimal(0)
        }
    var cur = pairs.filter(col("doc_a") =!= col("doc_b"))
      .distinct().localCheckpoint()
    var prev = checksum(cur)
    var rounds = 0
    var converged = false
    while (!converged && rounds < 60) {
      val next = smallStar(largeStar(cur)).localCheckpoint()
      val sum = checksum(next)
      converged = sum.compareTo(prev) == 0
      prev = sum
      cur = next
      rounds += 1
    }
    // at fixpoint the edges are stars (node → component min)
    val labels = cur
      .select(col("doc_a").as("doc_id"), col("doc_b").as("label"))
      .union(cur.select(col("doc_b").as("doc_id"), col("doc_b").as("label")))
      .groupBy(col("doc_id")).agg(min(col("label")).as("cluster_id"))
    (labels, rounds)
  }

  /** Q109 — cross-document duplicated-SPAN detection: the
    * substring-level dedup pass (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") approximated with
    * fixed-length token windows. Every w-token window of every
    * document is hashed (one native rolling pass, ShingleHashesExpr
    * with n = w); a window is "duplicated" when the same hash occurs
    * in at least `minDocs` distinct documents. Per document:
    * total window count, duplicated-window count, and the duplicated
    * fraction — the signal a curation pipeline uses to cut docs
    * dominated by boilerplate shared across the corpus.
    *
    * Scale shape: the text never shuffles — the span pass is a narrow
    * projection; the explode emits 8-byte longs. Two span-keyed
    * aggregations (per-doc pre-aggregate, then distinct-doc counts —
    * both map-side combinable, no countDistinct state), one long-keyed
    * join, one doc_id aggregate. At 100 TB every exchange carries
    * (long, long) pairs only; skew is bounded because a span hash hot
    * in d docs contributes d rows (linear), never d² — this is a
    * per-span COUNT, not a candidate self-join.
    */
  def dupSpans(s: SparkSession, dir: String, w: Int = 8,
               minDocs: Int = 2): DataFrame = {
    val d = docs(s, dir)
    // one row per (doc, span-hash) with its occurrence count
    val perDoc = d
      .select(col("doc_id"), explode(TextHash.spanHashes(col("text"), w)).as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
    // perDoc is distinct per (doc, sh), so count(*) == distinct docs
    val bySpan = perDoc.groupBy(col("sh"))
      .agg(count(lit(1)).as("ndocs"))
    val agg = perDoc.join(bySpan, "sh")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("ndocs") >= minDocs, col("c")).otherwise(lit(0L)))
          .as("dup_spans"))
    d.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        // int/int division of identical integers: bitwise engine parity
        (coalesce(col("dup_spans"), lit(0L)).cast("double") /
          nullif(coalesce(col("n_spans"), lit(0L)), lit(0L)).cast("double"))
          .as("dup_frac"))
  }

  /** Q278 — duplicated-span REMOVAL: where Q109 only flags documents
    * by duplicated-window fraction, this emits the CLEANED corpus —
    * per document, the text with every non-canonical occurrence of a
    * duplicated w-token span cut out (Lee et al. 2022 §4's actual
    * output), plus removed-token accounting. A span hash with ≥ 2
    * occurrences anywhere (cross- OR within-document — boilerplate
    * repeats inside one doc are cut too, unlike Q109's distinct-doc
    * gate) keeps only its global first occurrence, canonical by
    * (doc_id, pos); every other occurrence marks tokens
    * [pos, pos+w−1] for removal, and a token survives iff no removal
    * interval covers it (overlapping intervals union naturally).
    * Cleaned text is the kept tokens of the Q14 lowercase-whitespace
    * tokenization rejoined with single spaces — the tokenized-corpus
    * form, documented as such (original whitespace/case is not
    * reconstructed).
    *
    * Scale shape: the span pass is the Q109 narrow projection (text
    * never shuffles for it — the explode emits 8-byte hashes); one
    * h-keyed window pass ranks occurrences (count + row_number share
    * one shuffle; a span hot in d places contributes d rows, linear,
    * never d²); removal positions collapse to ONE small sorted array
    * per document, and the scrub itself is a per-row higher-order
    * filter after a doc_id-keyed join — the only exchange the text
    * column can ever enter (broadcast at small removal volumes,
    * plan-pinned at fixture scale), so text moves at most once. The
    * per-token removal probe is O(|removals in doc|), bounded by the
    * doc's own span count.
    */
  def spanScrub(s: SparkSession, dir: String, w: Int = 8): DataFrame = {
    val d = docs(s, dir)
    val spans = spanOccurrences(d, w)
    val wH = Window.partitionBy(col("h"))
    val removed = spans
      .withColumn("occ", count(lit(1)).over(wH))
      .withColumn("rk",
        row_number().over(wH.orderBy(col("doc_id"), col("pos"))))
      .filter(col("occ") >= 2 && col("rk") > 1)
      .select(col("doc_id"), col("pos"))
    scrubTail(d, removed, w)
  }

  /** (doc_id, 1-based pos, span hash) rows for every w-token window —
    * the narrow projection both scrub variants start from. */
  private def spanOccurrences(d: DataFrame, w: Int): DataFrame =
    d.select(col("doc_id"),
        posexplode(TextHash.spanHashes(col("text"), w)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))

  /** The shared scrub finish: collapse removal positions to one small
    * sorted array per doc, then rebuild kept-token text with the
    * indexed higher-order filter (see spanScrub's scaladoc for the
    * text-moves-at-most-once shape).
    */
  private def scrubTail(d: DataFrame, removed: DataFrame, w: Int): DataFrame = {
    val rms = removed.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("rms"))
    d.join(rms, Seq("doc_id"), "left")
      .withColumn("tk", TextHash.tokens(col("text")))
      .withColumn("rma", coalesce(col("rms"), array().cast("array<long>")))
      .withColumn("kept", filter(col("tk"), (_, i) =>
        !exists(col("rma"), r =>
          r.between(i + 1 - (w - 1), i + 1))))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("rma")).cast("long").as("n_dup_spans"),
        (size(col("tk")) - size(col("kept"))).cast("long")
          .as("n_removed_tokens"),
        concat_ws(" ", col("kept")).as("cleaned_text"))
  }

  /** Q282 — INCREMENTAL span scrub: the daily-ingest form of Q278,
    * structured like Q204's incremental near-dup ingest. A 20%
    * "incoming shard" (the same deterministic 'inc:' hash membership
    * as Q204 — today's crawl) is scrubbed against the 80% "existing
    * corpus": an incoming span occurrence is cut when its hash exists
    * in the EXISTING span index (the corpus owns every such span — no
    * first-occurrence contest), or when it repeats an earlier
    * incoming occurrence under Q278's (doc_id, pos)-first rule.
    * Output: the Q278 row shape restricted to incoming documents.
    *
    * The asymmetry is the point (same argument as Q204): existing
    * text is never re-tokenized for reassembly and never enters the
    * occurrence-ranking window — the index side collapses to DISTINCT
    * hashes (8-byte longs, precomputable and reusable as-is), so a
    * daily ingest pays O(|new| + probe collisions), never a
    * corpus-wide rescrub. At 100 TB the distinct-hash index is the
    * artifact a pipeline persists between runs; deriving it here from
    * the existing shard stands in for that read.
    */
  def spanScrubIngest(s: SparkSession, dir: String, w: Int = 8,
                      modN: Int = 5): DataFrame = {
    val (incoming, index) = ingestSplit(s, dir, w, modN)
    scrubIncomingWith(incoming, index, w)
  }

  /** The q282/q285 split: (incoming documents slice, existing-corpus
    * DISTINCT span-hash index). */
  private def ingestSplit(s: SparkSession, dir: String, w: Int, modN: Int)
      : (DataFrame, DataFrame) = {
    val isInc = memberDoc("inc:", modN)
    val d = docs(s, dir).withColumn("incoming", isInc)
    (d.filter(col("incoming")).drop("incoming"),
      spanOccurrences(d.filter(!col("incoming")), w)
        .select(col("h")).distinct())
  }

  /** The shared q282/q285 scrub: incoming occurrences cut on an index
    * hit or by Q278's within-batch first-occurrence rule, regardless
    * of whether `index` was derived inline (q282) or read back from a
    * persisted parquet sink (q285).
    */
  private def scrubIncomingWith(incoming: DataFrame, index: DataFrame,
                                w: Int): DataFrame = {
    val incSpans = spanOccurrences(incoming, w)
    val wH = Window.partitionBy(col("h"))
    // corpus-owned spans: every incoming occurrence is cut
    val inIndex = incSpans.join(index, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // fresh spans: Q278's within-batch first-occurrence-wins
    val dupWithin = incSpans.join(index, Seq("h"), "left_anti")
      .withColumn("occ", count(lit(1)).over(wH))
      .withColumn("rk",
        row_number().over(wH.orderBy(col("doc_id"), col("pos"))))
      .filter(col("occ") >= 2 && col("rk") > 1)
      .select(col("doc_id"), col("pos"))
    scrubTail(incoming, inIndex.unionAll(dupWithin), w)
  }

  /** Span-hash index SINK: the existing-corpus distinct-hash index as
    * deterministic hash-sharded parquet — the artifact a 100 TB
    * pipeline persists between ingest runs (q282's scaladoc promised
    * it; this materializes it). Shard membership is `h mod nShards` —
    * a pure function of the row (the q39 writeShards discipline), so
    * re-writing reproduces byte-identical layout regardless of
    * cluster size or input partitioning, and rows sort by h within a
    * shard so the files themselves are deterministic. A daily ingest
    * APPENDS its fresh distinct hashes shard-aligned instead of
    * rebuilding (union + distinct per shard, no corpus rescan).
    */
  def writeSpanIndex(index: DataFrame, outDir: String,
                     nShards: Int = 8): Unit =
    layShards(index, outDir, nShards, org.apache.spark.sql.SaveMode.Overwrite)

  /** The one shard-layout writer behind writeSpanIndex,
    * writeSpanDelta, and the q289 compaction rewrite: the invariant
    * that every generation lands shard-aligned with every other
    * (same h-mod membership, h-sorted within shards) holds because
    * all paths share this exact derivation. */
  private def layShards(index: DataFrame, outDir: String, nShards: Int,
                        mode: org.apache.spark.sql.SaveMode): Unit =
    layByKey(index, "h", outDir, nShards, mode)

  /** The ONE shard-layout derivation behind every sharded artifact
    * (span index on `h`, LSH signature index and day-1 labels on
    * `doc_id`): shard = key mod nShards, key-sorted within a shard —
    * a single definition so cross-artifact shard alignment can never
    * drift between writers. */
  private def layByKey(df: DataFrame, key: String, outDir: String,
                       nShards: Int,
                       mode: org.apache.spark.sql.SaveMode): Unit =
    df.withColumn("shard", pmod(col(key), lit(nShards.toLong)))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(key))
      .write.partitionBy("shard").mode(mode).parquet(outDir)

  /** Span-hash index SOURCE: read a persisted index back to the
    * (h)-column shape scrubIncomingWith probes. Shard directories
    * prune on h-derived predicates when a probe is selective. The
    * schema is EXPLICIT so an empty index (degenerate corpus: every
    * doc shorter than w tokens writes zero part files) reads as an
    * empty relation instead of failing parquet schema inference —
    * matching the oracle's empty-set degradation. */
  def readSpanIndex(s: SparkSession, dir: String): DataFrame =
    readIndexDir(s, dir).select(col("h"))

  /** The shared explicit-schema index reader (h + the shard partition
    * column). */
  private def readIndexDir(s: SparkSession, dir: String): DataFrame =
    s.read.schema("h BIGINT, shard BIGINT").parquet(dir)

  /** Multi-generation readers: an index is base ∪ delta generations
    * (each dir immutable once written), unioned scan-side — no
    * multi-root partition discovery, just one parquet scan per
    * generation. Distinctness across generations is the writers'
    * contract (deltas are anti-joined before landing).
    */
  private def readIndexDirs(s: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(readIndexDir(s, _)).reduce(_ unionAll _)

  def readSpanIndexDirs(s: SparkSession, dirs: Seq[String]): DataFrame =
    readIndexDirs(s, dirs).select(col("h"))

  /** Test hook: the derived existing-corpus index (spec round-trips
    * it through the sink/source pair). */
  private[graft] def indexForSpec(s: SparkSession, dir: String,
                                  w: Int = 8, modN: Int = 5): DataFrame =
    ingestSplit(s, dir, w, modN)._2

  /** Q291 support (the streaming ingest in
    * [[graft.streaming.StreamingOps.streamSpanScrubFixture]]): the
    * q282/q285 split plus a write-once PERSISTED base index — the
    * artifact the streaming scrub probes per micro-batch. Its own
    * family tag keeps the streaming query from silently riding
    * another query's materialization (the round-12 DISTINCT-tag
    * lesson).
    */
  private[graft] def streamScrubParts(s: SparkSession, dir: String,
                                      w: Int, modN: Int, nShards: Int,
                                      family: String = "span_index_streambase")
      : (DataFrame, String) = {
    val (incoming, index) = ingestSplit(s, dir, w, modN)
    val base = baseIndexDir(s, dir, family, w, modN, nShards)(index)
    (incoming, base)
  }

  /** Q319 support: the q311 split with a PER-INVOCATION base index —
    * the retention stream's GC deletes generations, so every dir it
    * may touch must be this run's own, never the memoized write-once
    * state other queries share (the q307 ownership discipline; a GC'd
    * memo dir would poison every later same-key invocation). The
    * rebuild is billed to the measured query by design. */
  private[graft] def streamRetentionParts(s: SparkSession, dir: String,
                                          w: Int, modN: Int, nShards: Int)
      : (DataFrame, String) = {
    val (incoming, index) = ingestSplit(s, dir, w, modN)
    val base = ArtifactStore.invocationDir("span_index_sretbase",
      dir, w.toString, modN.toString, nShards.toString)
    writeSpanIndex(index, base, nShards)
    (incoming, base)
  }

  /** Q295 support: per-shard hash counts of one or more index
    * generations — the q286 audit shape over an explicit dir list. */
  private[graft] def shardCounts(s: SparkSession, dirs: Seq[String],
                                 as: String): DataFrame =
    readIndexDirs(s, dirs)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as(as))

  /** Q291 support: positioned span occurrences of a documents slice. */
  private[graft] def spanOccurrencesOf(d: DataFrame, w: Int): DataFrame =
    spanOccurrences(d, w)

  /** Q291 support: the shared scrub finish over an explicit removal
    * set (doc_id, pos). */
  private[graft] def scrubWithRemovals(d: DataFrame, removed: DataFrame,
                                       w: Int): DataFrame =
    scrubTail(d, removed, w)

  /** Scratch plumbing for the q285–q290 index artifacts now lives in
    * [[ArtifactStore]] (digest-keyed roots, per-invocation generation
    * dirs, write-once materialization — three round-12 ADVICE items).
    * Naming note: every span-index family name starts with
    * "span_index", so artifact paths carry the "graft_span_index"
    * marker the q285 plan pin greps for.
    *
    * Write-once day-1 ("base") index materialization: the fixture
    * state a refresh/scrub consumes, built AT MOST ONCE per (session,
    * corpus fingerprint, params) so the measured operator pays only
    * its own O(novel) work on warm invocations (round-12 verdict #5 —
    * the old shape rewrote the full day-1 index inside every q286/q288
    * invocation and billed it to the query). The returned directory is
    * immutable: day-N additions land in per-invocation DELTA dirs and
    * readers take base ∪ deltas — the generation design an immutable
    * object store forces at 100 TB, and exactly what q289's compaction
    * step folds back together.
    */
  private def baseIndexDir(s: SparkSession, dir: String, family: String,
                           w: Int, modN: Int, nShards: Int)
                          (index: => DataFrame): String =
    ArtifactStore.materialized(s, family,
      Memo.table(s, s"$dir/documents.parquet"),
      dir, w.toString, modN.toString, nShards.toString)(
      out => writeSpanIndex(index, out, nShards))

  /** Q285 — span-scrub ingest against a PERSISTED index: derive the
    * existing-corpus index once, WRITE it as sharded parquet, READ it
    * back, and scrub the incoming shard with the read index — the
    * actual artifact flow q282 simulates inline (round-11 verdict #3).
    * Output is byte-identical to q282 (round-trip identity, spec- and
    * oracle-checked): what this query adds is coverage of the
    * sink/source pair — a writer bug (dropped hashes, shard
    * mis-assignment, type mangling through the partition column)
    * breaks the hash compare.
    *
    * Scale shape: the write is one distinct-hash shuffle keyed by
    * shard (8-byte rows, ~|distinct spans| — the index is the SMALL
    * artifact, never the corpus); the read-side scrub is q282's
    * asymmetric probe, with the index now costing a parquet scan
    * instead of a corpus derivation — which is the whole point at
    * 100 TB: day N pays O(|new shard| + index scan), not a corpus
    * rescan.
    */
  def spanIndexRoundTrip(s: SparkSession, dir: String, w: Int = 8,
                         modN: Int = 5): DataFrame = {
    val (incoming, index) = ingestSplit(s, dir, w, modN)
    // the WRITE is the operator under test here, so it runs per
    // invocation — but into a fresh generation dir, so previously
    // returned lazy plans stay valid (round-12 ADVICE)
    val out = ArtifactStore.invocationDir("span_index_rt",
      dir, w.toString, modN.toString)
    writeSpanIndex(index, out)
    scrubIncomingWith(incoming, readSpanIndex(s, out), w)
  }

  /** Delta-generation companion to [[writeSpanIndex]]: the FRESH
    * hashes land shard-aligned in their OWN generation directory
    * (same `h mod nShards` membership, h-sorted within shards), and
    * readers take base ∪ deltas ([[readSpanIndexDirs]]). The caller
    * guarantees the rows are index-absent (q286/q288 anti-join before
    * writing), so the union stays a DISTINCT set while the existing
    * files are never touched — the O(|new|) daily refresh of an
    * immutable-generation index, never a rebuild. The cost of the
    * design is file-count growth per generation, which is exactly
    * what [[spanScrubCompacted]] (q289) folds back to one file per
    * shard.
    */
  def writeSpanDelta(fresh: DataFrame, deltaDir: String,
                     nShards: Int = 8): Unit =
    layShards(fresh, deltaDir, nShards, org.apache.spark.sql.SaveMode.Overwrite)

  /** Q286 — span-index REFRESH audit: the day-N+1 step q285 leads to.
    * Against the write-once BASE index of the existing corpus,
    * anti-join the incoming shard's distinct span hashes and land
    * ONLY the novel ones shard-aligned in a fresh DELTA generation
    * (writeSpanDelta); audit the refreshed index (base ∪ delta) per
    * shard: hashes before, hashes added, hashes after.
    * The index tracks spans EVER SEEN (existing ∪ incoming), so every
    * future occurrence of any seen span is cut — the standard
    * cross-run contract of a dedup index.
    *
    * The oracle derives the same per-shard counts from the raw
    * documents table alone, so the row is a strong sink audit: a
    * duplicated append, a dropped hash, shard mis-assignment, or an
    * anti-join leak all break the count compare (n_refreshed in
    * Spark is a plain count(*) over the refreshed FILES — it only
    * equals the oracle's distinct-set size if the writer kept the
    * directory an exact distinct set).
    *
    * Scale shape: the refresh is O(|incoming spans| + index probe) —
    * one distinct aggregate over the new shard, one anti-join against
    * the index scan, one delta write of ~|novel| 8-byte rows; the
    * existing files are never read, modified, or rewritten, and since
    * round 13 the day-1 index itself is a write-once memoized base
    * ([[baseIndexDir]], round-12 verdict #5) so a warm invocation
    * pays ONLY the O(novel) refresh the scaladoc always claimed. The
    * pre-refresh per-shard counts are ONE nShards-row collect (a
    * bounded audit sync, not corpus data). At 100 TB the same flow
    * runs daily with the base + delta generations as the only
    * cross-run state, compacted periodically by the q289 step.
    */
  def spanIndexRefresh(s: SparkSession, dir: String, w: Int = 8,
                       modN: Int = 5, nShards: Int = 8): DataFrame = {
    val (incoming, existingIdx) = ingestSplit(s, dir, w, modN)
    val base = baseIndexDir(s, dir, "span_index_base", w, modN, nShards)(
      existingIdx)
    // pre-refresh audit: nShards rows, collected eagerly so the audit
    // pins the base generation's state independent of the delta scan
    val pre = readIndexDir(s, base)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_existing"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val delta = ArtifactStore.invocationDir("span_index_delta",
      dir, w.toString, modN.toString, nShards.toString)
    val fresh = spanOccurrences(incoming, w)
      .select(col("h")).distinct()
      .join(readSpanIndex(s, base), Seq("h"), "left_anti")
    writeSpanDelta(fresh, delta, nShards)
    refreshAuditOf(s, pre, shardCounts(s, Seq(base, delta), "n_refreshed"),
      "shard", "n_refreshed")
  }

  /** Q288 — SECOND-DAY scrub through the refreshed index: the step
    * that actually CONSUMES q286's refresh. Three deterministic
    * generations from the q282 scramble (m = scramble('inc:'||id) mod
    * 5): m=0 is day-1's shard, m=1 is day-2's, the rest is the
    * existing corpus. Day 1 runs the q286 refresh (index = existing
    * hashes, day-1 novel hashes appended shard-aligned); day 2 is
    * then scrubbed against the REFRESHED directory — so a day-2
    * occurrence of a span first seen on day 1 is cut by the INDEX
    * (cross-generation memory), not by any within-batch rule, plus
    * q278's first-occurrence rule within day 2 itself. Output is the
    * q278 row shape over day-2 documents.
    *
    * This pins the multi-generation contract the single-shot q282/
    * q285 rows cannot: the index is cumulative state, and each day's
    * cost stays O(|day's spans| + index probe) while the scrub
    * semantics remain exact across generations.
    */
  def spanScrubDayTwo(s: SparkSession, dir: String, w: Int = 8,
                      modN: Int = 5, nShards: Int = 8): DataFrame = {
    val (day2, dirs) = dayTwoIndexDirs(s, dir, w, modN, nShards)
    scrubIncomingWith(day2, readSpanIndexDirs(s, dirs), w)
  }

  /** The shared q288/q289 day-2 state: the three-generation split
    * (m=0 day 1, m=1 day 2, rest existing corpus), a write-once BASE
    * index of the existing corpus and a write-once day-1 DELTA
    * generation (both memoized per corpus fingerprint — they are day
    * 1's work, not the measured day-2 operator; round-12 verdict #5).
    * Returns the day-2 document slice and the generation dirs whose
    * union is the refreshed index.
    */
  private def dayTwoIndexDirs(s: SparkSession, dir: String, w: Int,
                              modN: Int, nShards: Int,
                              fam: String = "span_index_day2")
      : (DataFrame, Seq[String]) = {
    val m = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("inc:"), col("doc_id").cast("string")))) % modN
    val d = docs(s, dir).withColumn("gen",
      when(m === 0L, lit(1)).when(m === 1L, lit(2)).otherwise(lit(0)))
    val existing = d.filter(col("gen") === 0).drop("gen")
    val day1 = d.filter(col("gen") === 1).drop("gen")
    val day2 = d.filter(col("gen") === 2).drop("gen")
    val base = baseIndexDir(s, dir, s"${fam}base", w, modN, nShards)(
      spanOccurrences(existing, w).select(col("h")).distinct())
    val delta = ArtifactStore.materialized(s, s"${fam}delta",
      Memo.table(s, s"$dir/documents.parquet"),
      dir, w.toString, modN.toString, nShards.toString)(out =>
      writeSpanDelta(
        spanOccurrences(day1, w).select(col("h")).distinct()
          .join(readSpanIndex(s, base), Seq("h"), "left_anti"),
        out, nShards))
    (day2, Seq(base, delta))
  }

  /** Q303 — day-2 scrub through a MANIFEST-resolved index: the atomic
    * generation switch the q286/q289 scaladocs promised ("readers
    * switch by path"), made a real commit protocol
    * ([[IndexManifest]]). Three commits replay the index's life —
    * day 1 (base only), day 2 (base ∪ delta, the refresh landing),
    * post-OPTIMIZE (the compacted rewrite retiring both) — and the
    * scrub reads whatever the LATEST manifest names, so its output
    * being hash-identical to q288's (shared oracle) proves resolve
    * returned the complete post-compaction set and none of the
    * retired generations. A reader racing any of the commits would
    * have seen an older manifest's complete set, never a partial one.
    *
    * Scale shape: the manifest is a handful of path strings (the
    * resolve collect is metadata-bounded); everything else is q289's
    * compaction + q288's scrub. At 100 TB this is the Iceberg/Delta
    * pointer-swap discipline over the same immutable generations.
    */
  def spanScrubViaManifest(s: SparkSession, dir: String, w: Int = 8,
                           modN: Int = 5, nShards: Int = 8): DataFrame = {
    val (day2, dirs) = dayTwoIndexDirs(s, dir, w, modN, nShards,
      fam = "span_index_mf")
    val root = ArtifactStore.invocationDir("span_manifest",
      dir, w.toString, modN.toString, nShards.toString)
    IndexManifest.commit(s, root, Seq(dirs.head),
      IndexManifest.SpanIndexFormat)
    IndexManifest.commit(s, root, dirs, IndexManifest.SpanIndexFormat)
    val compacted = ArtifactStore.invocationDir("span_index_mfcompact",
      dir, w.toString, modN.toString, nShards.toString)
    // h-only input, exactly like the q289 compaction: every rewrite
    // path feeds layShards the same shape (one-writer-one-shape)
    layShards(readSpanIndexDirs(s, dirs), compacted, nShards,
      org.apache.spark.sql.SaveMode.Overwrite)
    IndexManifest.commit(s, root, Seq(compacted),
      IndexManifest.SpanIndexFormat)
    scrubIncomingWith(day2,
      readSpanIndexDirs(s,
        IndexManifest.resolve(s, root, IndexManifest.SpanIndexFormat)), w)
  }

  /** Q320 — TIME-TRAVEL scrub (q308's reproducibility contract on the
    * span family): today's day-2 shard scrubbed against YESTERDAY's
    * snapshot — [[IndexManifest.resolveAt]] pinned to the day-1
    * manifest, which names the BASE generation alone, so day-1's
    * novel hashes are NOT in the probed index: a day-2 repeat of a
    * span first seen on day 1 SURVIVES here (and is cut by q288's
    * latest-manifest read). The oracle states the same index
    * restriction (hashes of the existing stratum only), so a resolve
    * that leaked the delta generation breaks the compare from the
    * other side of the q308 pin. Re-running yesterday's scrub job
    * after today's refresh must return yesterday's answers — the
    * audit-reproducibility contract of a manifest-versioned dedup
    * pipeline.
    */
  def spanScrubTimeTravel(s: SparkSession, dir: String, w: Int = 8,
                          modN: Int = 5, nShards: Int = 8): DataFrame = {
    val (day2, dirs) = dayTwoIndexDirs(s, dir, w, modN, nShards,
      fam = "span_index_tt")
    val root = ArtifactStore.invocationDir("span_manifest_tt",
      dir, w.toString, modN.toString, nShards.toString)
    IndexManifest.commit(s, root, Seq(dirs.head),
      IndexManifest.SpanIndexFormat)
    IndexManifest.commit(s, root, dirs, IndexManifest.SpanIndexFormat)
    val snap1 = IndexManifest.committedIds(s, root).head
    scrubIncomingWith(day2,
      readSpanIndexDirs(s, IndexManifest.resolveAt(s, root, snap1,
        IndexManifest.SpanIndexFormat)), w)
  }

  /** Q323 — ORPHAN-generation sweep (round-14 verdict #1, the missing
    * half of VACUUM): the span index's day-1/day-2 life is replayed
    * with every generation under ONE gens directory, then two crash
    * artifacts are planted — a compaction job's generation written in
    * full but never committed (the crash-between-write-and-commit
    * window [[IndexManifest]] documents), and a half-written manifest
    * dir without its `_SUCCESS` marker — and
    * [[IndexManifest.sweepOrphans]] reclaims both. The day-2 scrub
    * then runs through the swept root's resolve: output
    * hash-identical to q288 (shared oracle) is the content half of
    * the proof (the sweep deleted NOTHING a committed manifest
    * references — a swept live generation would drop index hashes and
    * un-cut day-2 spans); the spec pins the disk half (stray and
    * crashed-manifest dirs really gone, committed generations and
    * snapshots intact) and the plan pin proves the scrub probes only
    * the committed generations, never the stray.
    *
    * Everything lives in a PER-INVOCATION root — the sweep deletes
    * dirs, so they must be this run's own (the q307/q319 GC-ownership
    * rule); the base-index rebuild that costs is billed to the query.
    *
    * Scale shape: the sweep itself is one directory listing of
    * generation names against a manifest-sized reference set plus
    * whole-directory deletes — the weekly orphan sweep of a 100 TB
    * index costs metadata, not data; the scrub is q288's asymmetric
    * probe unchanged.
    */
  def spanScrubOrphanSweep(s: SparkSession, dir: String, w: Int = 8,
                           modN: Int = 5, nShards: Int = 8): DataFrame =
    orphanSweepParts(s, dir, w, modN, nShards)._4

  /** Test-visible q323 split: (root, swept dirs, committed generation
    * dirs, scrub result) so the spec can pin the on-disk outcome. */
  private[graft] def orphanSweepParts(s: SparkSession, dir: String,
                                      w: Int, modN: Int, nShards: Int)
      : (String, Seq[String], Seq[String], DataFrame) = {
    val root = ArtifactStore.invocationDir("span_orphan_root",
      dir, w.toString, modN.toString, nShards.toString)
    val gens = s"$root/gens"
    val m = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("inc:"), col("doc_id").cast("string")))) % modN
    val d = docs(s, dir).withColumn("gen",
      when(m === 0L, lit(1)).when(m === 1L, lit(2)).otherwise(lit(0)))
    val existing = d.filter(col("gen") === 0).drop("gen")
    val day1 = d.filter(col("gen") === 1).drop("gen")
    val day2 = d.filter(col("gen") === 2).drop("gen")
    val base = s"$gens/base"
    writeSpanIndex(
      spanOccurrences(existing, w).select(col("h")).distinct(),
      base, nShards)
    IndexManifest.commit(s, root, Seq(base), IndexManifest.SpanIndexFormat)
    val delta = s"$gens/delta"
    writeSpanDelta(
      spanOccurrences(day1, w).select(col("h")).distinct()
        .join(readSpanIndex(s, base), Seq("h"), "left_anti"),
      delta, nShards)
    IndexManifest.commit(s, root, Seq(base, delta),
      IndexManifest.SpanIndexFormat)
    // crash 1: a compaction rewrite landed in full, its commit never
    // did — an intact generation no manifest (committed or not) names
    val stray = s"$gens/stray_compact"
    layShards(readSpanIndexDirs(s, Seq(base, delta)), stray, nShards,
      org.apache.spark.sql.SaveMode.Overwrite)
    // crash 2: a commit died mid-write — an m_ dir without _SUCCESS
    // (invisible to resolve; its id stays burned)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/m_99"))
    // minAgeMs = 0 is the single-threaded-fixture opt-in: every write
    // above completed before this line, so nothing can be mid-write
    val swept = IndexManifest.sweepOrphans(s, root, gens, minAgeMs = 0L)
    (root, swept, Seq(base, delta),
      scrubIncomingWith(day2,
        readSpanIndexDirs(s, IndexManifest.resolve(s, root,
          IndexManifest.SpanIndexFormat)), w))
  }

  /** Q325 — span-index lifecycle SOAK (round-14 verdict #5): q318's
    * three-ingest-day composition on the SPAN family, whose scrub
    * semantics — cross-generation memory, hashes shared between days
    * kept forever — make an over-eager GC likelier to corrupt than
    * the postings family's doc-owned rows. The day-1 stratum is split
    * into three daily slices ('soakspan:' mod 3); day 0 commits the
    * existing-corpus base, then each day anti-joins its slice's
    * hashes against the RESOLVED live index (the q286 refresh), lands
    * the novelty as a delta generation, commits base ∪ delta,
    * COMPACTS to one generation, commits the switch, and runs
    * retire(keepLast = 2). The final day-2 scrub reads whatever the
    * last manifest resolves and shares q288's oracle: each day-1 hash
    * enters the index on the FIRST day a slice carries it and never
    * leaves, so the final content is exactly q288's base ∪ delta — a
    * slice dropped by a refresh, leaked by a compaction, or deleted
    * by an over-eager GC breaks the compare. Spec-pinned: exactly 4
    * generations GC'd and gone from disk (base, day-0 delta, day-0
    * compaction, day-1 delta), the kept window intact on disk, and
    * the scrub plan scanning ONLY the day-2 compacted generation.
    *
    * Every generation is PER-INVOCATION (the q307/q319 GC-ownership
    * rule — retire deletes them), so the existing-corpus rebuild is
    * billed to the query by design. Scale shape: each day pays
    * O(|slice spans| + index rewrite) — the steady-state daily bill
    * the lifecycle queries promise individually, paid three times
    * consecutively with the artifacts as the ONLY cross-day state.
    */
  def spanLifecycleSoak(s: SparkSession, dir: String, w: Int = 8,
                        modN: Int = 5, nShards: Int = 8): DataFrame =
    spanSoakParts(s, dir, w, modN, nShards)._3

  /** Test-visible q325 split: (manifest root, GC-deleted dirs, scrub)
    * so the spec can pin the on-disk outcome. */
  private[graft] def spanSoakParts(s: SparkSession, dir: String, w: Int,
                                   modN: Int, nShards: Int)
      : (String, Seq[String], DataFrame) = {
    val m = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("inc:"), col("doc_id").cast("string")))) % modN
    val d = docs(s, dir).withColumn("gen",
      when(m === 0L, lit(1)).when(m === 1L, lit(2)).otherwise(lit(0)))
    val existing = d.filter(col("gen") === 0).drop("gen")
    val day1 = d.filter(col("gen") === 1).drop("gen")
    val day2 = d.filter(col("gen") === 2).drop("gen")
    val slice = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("soakspan:"), col("doc_id").cast("string")))) % 3
    val params = Seq(w.toString, modN.toString, nShards.toString)
    def gen(tag: String)(index: DataFrame): String = {
      val out = ArtifactStore.invocationDir(s"span_soak_$tag",
        (dir +: params): _*)
      layShards(index, out, nShards,
        org.apache.spark.sql.SaveMode.Overwrite)
      out
    }
    val root = ArtifactStore.invocationDir("span_manifest_soak",
      (dir +: params): _*)
    val base = gen("base")(
      spanOccurrences(existing, w).select(col("h")).distinct())
    IndexManifest.commit(s, root, Seq(base), IndexManifest.SpanIndexFormat)
    var live = Seq(base)
    val deleted = Seq.newBuilder[String]
    for (day <- 0 until 3) {
      // refresh: the day's slice novelty against the LIVE index
      val delta = gen(s"d$day")(
        spanOccurrences(day1.filter(slice === day), w)
          .select(col("h")).distinct()
          .join(readSpanIndexDirs(s, live), Seq("h"), "left_anti"))
      IndexManifest.commit(s, root, live :+ delta,
        IndexManifest.SpanIndexFormat)
      // OPTIMIZE: fold the accumulated generations into one
      val compacted = gen(s"c$day")(readSpanIndexDirs(s, live :+ delta))
      IndexManifest.commit(s, root, Seq(compacted),
        IndexManifest.SpanIndexFormat)
      // VACUUM: retire everything outside the kept window
      deleted ++= IndexManifest.retire(s, root, keepLast = 2)
      live = Seq(compacted)
    }
    (root, deleted.result(),
      scrubIncomingWith(day2,
        readSpanIndexDirs(s, IndexManifest.resolve(s, root,
          IndexManifest.SpanIndexFormat)), w))
  }

  /** Q331 — the q325 soak driven through the COMPACTION TRIGGER
    * (round-15 verdict #4): production does not compact every day —
    * it compacts when the live generation count exceeds a threshold
    * (SURVEY §6.0's file-count trigger; the Delta OPTIMIZE cadence).
    * Same three ingest days as q325, but each day runs
    * [[IndexManifest.compactIfNeeded]](maxGens = 2) instead of an
    * unconditional fold: day 0 ends at two generations (base + d0) —
    * a pure read, nothing rewritten or committed; day 1 would reach
    * three, so the trigger folds them to one and commits the switch;
    * day 2 ends at two again (c + d2) — no-op. The final scrub reads
    * whatever the last manifest resolves and is hash-identical to
    * q325's (q288's shared oracle): compaction cadence changes
    * LAYOUT and cost timing, never content — a trigger that skipped
    * a needed fold, folded the wrong set, or dropped a generation
    * breaks the compare. Spec-pinned: exactly ONE compaction across
    * the three days, the no-op days leave every live generation
    * byte-untouched on disk, and the final live set is the day-1
    * fold plus the day-2 delta.
    *
    * Scale shape: this is the steady-state cost story made real —
    * refreshes stay O(|slice|) every day, and the index-sized
    * rewrite is paid only when small files actually accumulate,
    * amortized by maxGens instead of billed per day.
    */
  def spanSoakTriggered(s: SparkSession, dir: String, w: Int = 8,
                        modN: Int = 5, nShards: Int = 8,
                        maxGens: Int = 2): DataFrame =
    spanTrigParts(s, dir, w, modN, nShards, maxGens)._4

  /** Test-visible q331 split: (manifest root, per-day compaction
    * flags, final live set, scrub). */
  private[graft] def spanTrigParts(s: SparkSession, dir: String, w: Int,
                                   modN: Int, nShards: Int, maxGens: Int)
      : (String, Seq[Boolean], Seq[String], DataFrame) = {
    val m = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("inc:"), col("doc_id").cast("string")))) % modN
    val d = docs(s, dir).withColumn("gen",
      when(m === 0L, lit(1)).when(m === 1L, lit(2)).otherwise(lit(0)))
    val existing = d.filter(col("gen") === 0).drop("gen")
    val day1 = d.filter(col("gen") === 1).drop("gen")
    val day2 = d.filter(col("gen") === 2).drop("gen")
    val slice = Relational.scrambleMod(TextHash.polyHash(
      concat(lit("soakspan:"), col("doc_id").cast("string")))) % 3
    val params = Seq(w.toString, modN.toString, nShards.toString)
    def gen(tag: String)(index: DataFrame): String = {
      val out = ArtifactStore.invocationDir(s"span_trig_$tag",
        (dir +: params): _*)
      layShards(index, out, nShards,
        org.apache.spark.sql.SaveMode.Overwrite)
      out
    }
    val root = ArtifactStore.invocationDir("span_manifest_trig",
      (dir +: params): _*)
    val base = gen("base")(
      spanOccurrences(existing, w).select(col("h")).distinct())
    IndexManifest.commit(s, root, Seq(base), IndexManifest.SpanIndexFormat)
    var live = Seq(base)
    val ran = Seq.newBuilder[Boolean]
    for (day <- 0 until 3) {
      // refresh: the day's slice novelty against the LIVE index
      val delta = gen(s"d$day")(
        spanOccurrences(day1.filter(slice === day), w)
          .select(col("h")).distinct()
          .join(readSpanIndexDirs(s, live), Seq("h"), "left_anti"))
      IndexManifest.commit(s, root, live :+ delta,
        IndexManifest.SpanIndexFormat)
      // OPTIMIZE only when the live set exceeds the trigger
      val (after, folded) = IndexManifest.compactIfNeeded(s, root,
        IndexManifest.SpanIndexFormat, maxGens)(resolved =>
        gen(s"c$day")(readSpanIndexDirs(s, resolved)))
      ran += folded
      // VACUUM: retire everything outside the kept window
      IndexManifest.retire(s, root, keepLast = 2): Unit
      live = after
    }
    (root, ran.result(), live,
      scrubIncomingWith(day2,
        readSpanIndexDirs(s, IndexManifest.resolve(s, root,
          IndexManifest.SpanIndexFormat)), w))
  }

  /** Q289 — span-index COMPACTION (the OPTIMIZE step, round-12
    * verdict #1): each refresh leaves one more delta generation per
    * shard, so a daily pipeline accumulates small files without
    * bound. Compaction rewrites the accumulated generations —
    * content-identically — into ONE h-sorted file per shard, then
    * runs the day-2 scrub against the compacted directory: the output
    * is hash-identical to q288's (same oracle), which is the whole
    * contract — compaction changes LAYOUT, never content.
    *
    * Scale shape: the rewrite is one shard-keyed shuffle of 8-byte
    * index rows (the index is the SMALL artifact — ~|distinct spans|,
    * never corpus-sized) and the post-compaction read plans exactly
    * one file per shard (spec-pinned); the scrub itself is q288's
    * asymmetric probe, now against a single generation. At 100 TB
    * this runs off-peak per shard group, and readers switch
    * generations atomically by path — the standard OPTIMIZE
    * discipline of immutable-file tables.
    */
  def spanScrubCompacted(s: SparkSession, dir: String, w: Int = 8,
                         modN: Int = 5, nShards: Int = 8): DataFrame =
    compactDayTwo(s, dir, w, modN, nShards)._2

  /** Test-visible q289 split: (compacted dir, scrub result) so the
    * spec can pin the one-file-per-shard layout of the compacted
    * generation. */
  private[graft] def compactDayTwo(s: SparkSession, dir: String, w: Int,
                                   modN: Int, nShards: Int)
      : (String, DataFrame) = {
    val (day2, dirs) = dayTwoIndexDirs(s, dir, w, modN, nShards)
    val compacted = ArtifactStore.invocationDir("span_index_compact",
      dir, w.toString, modN.toString, nShards.toString)
    layShards(readSpanIndexDirs(s, dirs), compacted, nShards,
      org.apache.spark.sql.SaveMode.Overwrite)
    (compacted, scrubIncomingWith(day2, readSpanIndex(s, compacted), w))
  }

  /** Q290 — span-index PURGE (the VACUUM step, round-12 verdict #2):
    * retire the hashes of deleted documents. Given a purged-document
    * set (the deterministic 'purge:' scramble — the q202 purge-audit
    * membership shape), a span hash leaves the index iff NO surviving
    * document contains it (hash-count reference semantics: a span
    * shared by a purged and a surviving doc stays — the surviving doc
    * still owns it). The purged index is rewritten as a fresh
    * generation; output is the per-shard audit (hashes before, purged,
    * after), which the oracle derives from the raw documents table
    * alone — so a dropped shard, a leaked exclusive hash, or an
    * over-purged shared hash all break the count compare.
    *
    * Scale shape: the reference sets are two distinct aggregates over
    * span hashes (8-byte rows, map-side combinable) and one anti-join
    * between them; the rewrite is one shard-keyed shuffle of the
    * SMALL index artifact. The corpus-side derivation of "surviving
    * docs' hashes" is the worst-case path — a production pipeline
    * keeps per-hash reference counts in the index rows instead and
    * decrements them from the purged docs alone (O(|purged|)); the
    * audit semantics pinned here are identical.
    */
  def spanIndexPurge(s: SparkSession, dir: String, w: Int = 8,
                     modN: Int = 5, nShards: Int = 8): DataFrame = {
    val isPurged = memberDoc("purge:", modN)
    val d = docs(s, dir).withColumn("purged", isPurged)
    // the full-corpus index is day-1 state (write-once base) — the
    // measured operator is the purge itself
    val base = baseIndexDir(s, dir, "span_index_allbase", w, modN, nShards)(
      spanOccurrences(docs(s, dir), w).select(col("h")).distinct())
    val exclusive = spanOccurrences(d.filter(col("purged"))
        .drop("purged"), w).select(col("h")).distinct()
      .join(spanOccurrences(d.filter(!col("purged")).drop("purged"), w)
        .select(col("h")).distinct(), Seq("h"), "left_anti")
    val after = ArtifactStore.invocationDir("span_index_purged",
      dir, w.toString, modN.toString, nShards.toString)
    layShards(readSpanIndex(s, base).join(exclusive, Seq("h"), "left_anti"),
      after, nShards, org.apache.spark.sql.SaveMode.Overwrite)
    readIndexDir(s, base)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_before"))
      .join(readIndexDir(s, after)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_after")), Seq("shard"), "left")
      .select(col("shard"), col("n_before"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_purged"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
  }

  /** Q118 — fuzzy record linkage over the corpus vocabulary with the
    * native [[graft.functions.JaroWinklerExpr]] scorer: every distinct
    * token pair sharing a first character and scoring ≥ `minJw` is a
    * candidate merge (typo/variant detection — the vocabulary-
    * normalization pass a training-data pipeline runs before token
    * statistics).
    *
    * Scale shape: linkage runs on the DISTINCT vocabulary (one
    * corpus collapse, map-side combinable), never on token
    * occurrences; the self-join is BLOCKED on the first character —
    * the classic Winkler blocking key, aligned with the measure
    * itself (a first-character mismatch already forfeits the prefix
    * bonus and most of the match mass). Candidate volume is
    * Σ_blocks |block|²/2 over vocabulary-sized blocks, not corpus
    * rows; an unbounded name universe refines the key (first char ×
    * length bucket × soundex) with the same plan. Scoring is one
    * codegen'd expression per candidate — no UDF deserialization on
    * the hot path.
    */
  /** Q167 — canonical-document selection per near-dup cluster: where
    * Q106 keeps the arbitrary min-id copy, a curation pipeline keeps
    * the BEST copy — per Q38 cluster, the member with the highest Q18
    * quality score (ties → smallest doc_id; both orders total, so the
    * choice is deterministic and engine-identical: the score floats
    * are already proven bit-equal by q18's hash-green row).
    *
    * Scale shape: cluster assignments join the per-doc quality
    * projection doc_id-keyed, then ONE cluster-keyed struct-max
    * aggregate — partial combine reduces each map split to one
    * candidate per cluster before the exchange (the q55 latest-wins
    * shape with quality as the ordering dimension).
    */
  def canonicalDocs(s: SparkSession, dir: String,
                    minJaccard: Double = 0.5): DataFrame = {
    val cl = dupClusters(s, dir, minJaccard)
    val qs = graft.operators.TextAnalysis.qualityScore(s, dir)
      .select(col("doc_id"), col("quality_score"))
    cl.join(qs, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("quality_score"),
          (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("n_docs"),
        (-col("best.nid")).as("canon_doc_id"),
        col("best.quality_score").as("canon_quality"))
  }

  def jwVocabLinkage(s: SparkSession, dir: String,
                     minJw: Double = 0.5): DataFrame = {
    val vocab = docs(s, dir)
      .select(explode(graft.functions.TextHash.tokens(col("text"))).as("token"))
      .distinct()
      .withColumn("blk", substring(col("token"), 1, 1))
    val jw = graft.functions.JaroWinklerExpr.jaroWinkler(
      col("tok_a"), col("tok_b"))
    vocab.as("x").join(vocab.as("y"),
        col("x.blk") === col("y.blk") && col("x.token") < col("y.token"))
      .select(col("x.token").as("tok_a"), col("y.token").as("tok_b"))
      .withColumn("jw", jw)
      .filter(col("jw") >= minJw)
  }
}
