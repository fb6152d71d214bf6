package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity join with prefix + positional filtering — the
  * AllPairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al. WWW'08,
  * both public). Finds EVERY pair of documents whose 3-word-shingle sets
  * have Jaccard ≥ 1/2 — the same contract as the MinHash-LSH pass (q29,
  * `Dedup.q29LshNearDup`) but exact by construction: LSH trades recall
  * for speed via banding probabilities; this operator's candidate set
  * provably contains all qualifying pairs, so it doubles as the recall
  * oracle for the approximate path (Round3cSpec pins LSH ⊆ exact, and on
  * the synthetic corpus both emit the same pairs).
  *
  * Scale shape — the CANDIDATE pipeline shuffles only narrow rows (a few
  * longs + one shingle string); bounded per-doc payloads appear exactly
  * once, in the verify side-table:
  *   1. one shuffle builds the shingle document-frequency relation over
  *      the exploded posting relation (doc_id, shingle);
  *   2. a per-doc window (partition bounded by a doc's shingle count)
  *      ranks each doc's shingles rarest-first — ascending (df, shingle),
  *      a global order realized without broadcasting the vocabulary or
  *      materializing sorted arrays;
  *   3. only each doc's PREFIX (n − ⌈t·n⌉ + 1 rarest shingles — the
  *      smallest set whose exclusion would already disprove the
  *      threshold) enters the inverted-index self-join;
  *   4. candidates are pruned by the length filter (t·|b| ≤ |a|) and the
  *      positional filter (remaining-overlap upper bound vs the required
  *      ⌈t/(1+t)·(|a|+|b|)⌉) BEFORE the pair-dedup shuffle;
  *   5. the exact intersection: the set family (q82/q92/q209, t = 1/2 —
  *      long prefixes, LARGE candidate sets) keeps the COUNTING join
  *      (pairs pick up doc_a's postings, semi-match against doc_b's, one
  *      per-pair count — narrow rows, no set materialization); the
  *      WEIGHTED family at t = 4/5 (q93/q139 — suffix-bounded, small
  *      candidate sets) instead attaches per-doc sorted TF arrays and
  *      computes Σ least in-row with a codegen'd merge kernel. Round 14
  *      measured both forms on both families (interleaved A/B, sf0.1):
  *      the side-table verify is 0.47-0.57× for q93/q139 (the old fan-out
  *      was 34M rows) but 1.4-1.7× for q82/q92 — candidate volume decides,
  *      so each family keeps its measured-cheaper verify.
  * All threshold tests are integer arithmetic (t = TN/TD is rational), so
  * no float decides set membership on either engine; the reported
  * `jaccard` column uses the shared DECIMAL(28,12)-then-round(6) render.
  *
  * The prefix posting list of a stop-shingle is the skew knob: df-ascending
  * order puts frequent shingles LAST, so they only enter a prefix when a
  * doc is nearly all stop-shingles; the opt-in `maxDf` cut drops postings
  * with df > maxDf from the INVERTED INDEX (before any candidate pair —
  * and so before the pair-dedup shuffle — exists), bounding every posting
  * list and with it the worst-case candidate volume at maxDf² per
  * shingle. The verify stage still sees FULL postings, so:
  *   - everything emitted is a genuinely qualifying pair (no false
  *     positives, ever);
  *   - a qualifying pair can be MISSED only if every index collision
  *     between the two prefixes is above the cut — in particular every
  *     pair of docs whose shingles ALL have df ≤ maxDf is guaranteed
  *     found (SimJoinSpec pins both properties on an adversarial
  *     stop-shingle corpus).
  * Production guidance: set maxDf ≫ the largest expected near-dup
  * cluster; then only boilerplate-dominated pairs (q78's territory) are
  * affected.
  */
object SimJoin {

  /** Jaccard threshold TN/TD = 1/2 (matches q29). */
  private val TN = 1
  private val TD = 2

  /** The q92 cut: well above any planted near-dup cluster size, low
    * enough to excise the stop-shingle candidate tail. */
  val DefaultMaxDf = 12L

  def q82JaccardJoin(spark: SparkSession, dir: String): DataFrame =
    jaccardJoinOn(docs(spark, dir), maxDf = None,
                  leafKey = Some(s"simjoin_shingles:$dir"))

  /** q92 — the skew-hatch configuration: exact verify over a max-df-cut
    * index. On the benchmark corpus the cut loses nothing (the oracle is
    * the SAME naive spec as q82's — equality IS the check); its purpose
    * is the worst case the fixture can't show: one boilerplate shingle
    * shared by 10⁶ docs creates a 10¹² candidate pair list in the exact
    * plan and zero in this one. */
  def q92JaccardJoinMaxDf(spark: SparkSession, dir: String): DataFrame =
    jaccardJoinOn(docs(spark, dir), maxDf = Some(DefaultMaxDf),
                  leafKey = Some(s"simjoin_shingles:$dir"))

  private def docs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  /** The rarest-first ranked posting relation (doc_id, s, df, pos, len)
    * the set-similarity operators share — q82/q92's PPJoin and q209's
    * containment join consume the identical leaves.
    *
    * The narrow (doc_id, shingle) posting relation materializes once: the
    * df aggregate and the rank join both consume it, and the kernel +
    * explode would otherwise run per consumer (at cluster scale this is
    * the persisted postings table every text-index pipeline keeps anyway —
    * which is exactly what the share flag turns it into). Rank ties break
    * on the shingle text so the order (and every candidate set derived
    * from it) is deterministic at any parallelism. Threshold-independent,
    * so shareable across operators and thresholds. */
  private def rankedShingles(documents: DataFrame,
                             leafKey: Option[String]): DataFrame = {
    val spark = documents.sparkSession
    def leaf(part: String)(build: => DataFrame): DataFrame =
      graft.Leaves.sharedOpt(spark, leafKey.map(_ + ":" + part),
                             fanOutKey = Some("doc_id"))(build)
    // codegen'd shingle kernel, not the interpreted HOF form — same
    // semantics (DedupSpec pins kernel ≡ declarative); the HOF tree is
    // ~20× slower as the leaf of this many-consumer pipeline
    val ex = leaf("postings") {
      documents.select(
        col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("s"))
    }
    val dfRel = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    leaf("ranked") {
      ex.join(dfRel, "s")
        .select(col("doc_id"), col("s"), col("df"),
                (row_number().over(wDoc.orderBy(col("df"), col("s"))) - 1).as("pos"),
                count(lit(1)).over(wDoc).as("len"))
    }
  }

  /** The PPJoin core over any `(doc_id, text)` relation; `maxDf` is the
    * opt-in index cut described in the scaladoc above. `leafKey` names the
    * derived posting/rank relations for session-level sharing
    * ([[graft.Leaves]]) — the q82/q92 pair consume identical leaves, and
    * under the share flag they (and repeat invocations) reuse one
    * materialization; unkeyed callers keep full per-call isolation. */
  def jaccardJoinOn(documents: DataFrame, maxDf: Option[Long],
                    leafKey: Option[String] = None): DataFrame = {
    val ranked = rankedShingles(documents, leafKey)
    // prefix length = n − ⌈t·n⌉ + 1, in integers: ⌈n·TN/TD⌉ = (n·TN+TD−1) DIV TD
    // The maxDf cut applies HERE — postings above the cut never reach the
    // inverted-index self-join, so no candidate (and no dedup-shuffle row)
    // is ever generated through a stop shingle. pos/len are computed over
    // the UNCUT ranking, so the length/positional filters stay exact.
    val pref = ranked.filter(
        col("pos") < expr(s"len - ((len*$TN + ${TD - 1}) DIV $TD) + 1"))
      .filter(maxDf.map(m => col("df") <= m).getOrElse(lit(true)))
    val a = pref.select(col("s"), col("doc_id").as("doc_a"),
                        col("len").as("la"), col("pos").as("pa"))
    val b = pref.select(col("s"), col("doc_id").as("doc_b"),
                        col("len").as("lb"), col("pos").as("pb"))
    // required overlap o = ⌈t/(1+t)·(la+lb)⌉ = ⌈TN(la+lb)/(TN+TD)⌉
    val reqOverlap = expr(s"($TN*(la+lb) + ${TN + TD - 1}) DIV ${TN + TD}")
    val cand = a.join(b, "s")
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(TD) * col("la") >= lit(TN) * col("lb") &&
              lit(TD) * col("lb") >= lit(TN) * col("la"))
      // positions are 0-based: min remaining tokens incl. the match
      .filter(least(col("la") - col("pa"), col("lb") - col("pb")) >= reqOverlap)
      .select(col("doc_a"), col("doc_b"), col("la"), col("lb"))
      .dropDuplicates("doc_a", "doc_b")
    // counting verify: |∩| = #(pair, shingle) rows where doc_a's posting
    // also appears in doc_b — an inner join + per-pair count; rows stay
    // narrow, the arrays never exist. Round 14 NOTE: the side-table
    // verify that wins for q93/q139 LOSES here (interleaved A/B at
    // sf0.1: q82 1.43×, q92 1.66×, q184 1.49×) — at t = 1/2 the prefix
    // is long and the candidate set large, so attaching two array
    // payloads per candidate costs more than the narrow fan-out it
    // replaces. Kept on the measured-cheaper form.
    val postings = ranked.select(col("doc_id"), col("s"))
    val interCnt = cand
      .join(postings.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(postings.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"), col("la"), col("lb"))
      .agg(count(lit(1)).as("i"))
    val uni = col("la") + col("lb") - col("i")
    val jac = round((col("i").cast("double") / uni.cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    interCnt
      // the DECIDING test is integral: TD·∩ ≥ TN·∪ ⇔ Jaccard ≥ TN/TD
      .filter(lit(TD) * col("i") >= lit(TN) * uni)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q93 — exact WEIGHTED (multiset) Jaccard join over bigram term
    * frequencies: J_w(A,B) = Σ_t min(tf_A,tf_B) / Σ_t max(tf_A,tf_B),
    * the repetition-robust counterpart of q82 (a doc that repeats a
    * paragraph 10× fools set Jaccard; multiset Jaccard counts the copies)
    * — the weighted AllPairs family (Chaudhuri et al. ICDE'06 SSJoin /
    * Bayardo WWW'07 generalize to weights; public). Same architecture as
    * [[jaccardJoinOn]] with weights:
    *   - prefix = rarest-first (df, term) order, kept while the cumulative
    *     weight BEFORE a posting ≤ W − ⌈t·W⌉ (dropping only postings
    *     whose entire remaining weight cannot reach the per-doc minimum
    *     overlap ⌈t·W⌉ — the weighted prefix-filter bound);
    *   - weighted length filter TD·W_b ≥ TN·W_a (both ways) and the
    *     positional filter least(rem_a, rem_b) ≥ ⌈TN(W_a+W_b)/(TN+TD)⌉
    *     run BEFORE the pair-dedup shuffle;
    *   - verify attaches per-doc (term → tf) maps to the candidate pairs
    *     and computes Σ least(tf_a, tf_b) in-row — exact, all threshold
    *     tests integral (weights are integer term counts).
    * Σmax = W_a + W_b − Σmin, so only Σmin is ever computed.
    *
    * Declared at the classic near-dup threshold t = 4/5: the weighted
    * prefix covers ≈(1−t)·W of a doc's weight, so LOW thresholds make
    * long prefixes — at t = 1/2 this corpus generates 5.8M candidate
    * rows vs 0.77M at 4/5 (measured); the threshold is the candidate-
    * volume knob, and 0.8 is both the cheap and the standard setting. */
  def q93WeightedJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    weightedJaccardJoinOn(bigramTf(spark, dir),
                          leafKey = Some(s"simjoin_wranked:$dir"))

  /** The bigram term-frequency relation (doc_id, term, tf) both weighted
    * operators (q93 exact, q97 LSH) consume. */
  def bigramTf(spark: SparkSession, dir: String): DataFrame =
    graft.Leaves.shared(spark, s"simjoin_bigram_tf:$dir",
                        fanOutKey = Some("doc_id")) {
      val t = TextOps.tokens(col("text"))
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), t.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
                explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
                  concat(element_at(col("t"), i), lit(" "),
                         element_at(col("t"), i + 1)))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    }

  /** q93's threshold: Jw ≥ 4/5. */
  private val WTN = 4
  private val WTD = 5

  /** Per-doc SORTED (terms[], tfs[], w) relation over any
    * `(doc_id, term, tf)` posting source — the verify side-table of the
    * weighted join family. One row per doc, payload bounded by doc
    * length; materialized once (the doc_a and doc_b probes both consume
    * it), shared across queries under the leaf flag like the postings it
    * derives from. Term-sorted parallel arrays (not a map): the verify
    * kernel [[graft.functions.SetOpsUtil.minMass]] is a codegen'd merge
    * over sorted inputs — `sort_array` on (term, tf) structs with unique
    * terms IS the term order the kernel requires. */
  private[graft] def docTfArrs(tf: DataFrame,
                               leafKey: Option[String]): DataFrame =
    graft.Leaves.sharedOpt(tf.sparkSession, leafKey.map(_ + ":tfarrs")) {
      tf.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("term"), col("tf")))).as("e"),
             sum(col("tf")).as("w"))
        .select(col("doc_id"),
          transform(col("e"), _.getField("term")).as("ts"),
          transform(col("e"), _.getField("tf")).as("fs"),
          col("w"))
    }

  /** q139 — the weighted skew hatch (q92's pattern applied to q93): cut
    * the weighted inverted index at df > N/[[WeightedDfFracDen]] BEFORE
    * any candidate pair exists. The cut is RELATIVE to corpus size where
    * q92's is absolute, because the two distributions differ: a qualifying
    * 3-shingle pair always shares a rare shingle (df ≈ cluster size), but
    * qualifying BIGRAM pairs in templated text share terms whose df grows
    * WITH the corpus (measured here: the rarest shared term of a
    * qualifying pair reaches 4.6% of N at sf0.01 and 5.7% at sf0.1 — any
    * fixed absolute cut transferring between those corpora would either
    * not bite or lose pairs). df > N/5 keeps every qualifying pair at both
    * SFs with a 3× margin while still excising true boilerplate (a banner
    * bigram's df ≈ N). Same contract as q92: verify sees FULL postings —
    * no false positives ever; a pair is missed only if every prefix
    * collision is above the cut, so pairs whose terms ALL have df ≤ N/5
    * are guaranteed found (SimJoinSpec pins both on an adversarial banner
    * corpus). Oracle: q93's naive spec VERBATIM — equality IS the check. */
  def q139WeightedJaccardMaxDf(spark: SparkSession, dir: String): DataFrame = {
    val tf = bigramTf(spark, dir)
    // control scalar (|docs|), the sanctioned bounded collect
    val n = tf.select(countDistinct(col("doc_id")).as("n")).head().getLong(0)
    weightedJaccardJoinOn(tf, maxDf = Some(math.max(1L, n / WeightedDfFracDen)),
                          leafKey = Some(s"simjoin_wranked:$dir"))
  }

  /** q139's relative-cut denominator: index terms with df > N/5 are cut. */
  val WeightedDfFracDen = 5L

  /** The weighted-PPJoin core over any `(doc_id, term, tf)` relation;
    * threshold TN/TD defaults to the q93 setting. `maxDf` is the opt-in
    * index cut (q139 scaladoc above): applied to the PREFIX postings only,
    * never the verify postings, so emitted pairs are always exact. */
  def weightedJaccardJoinOn(tf: DataFrame, TN: Int = WTN, TD: Int = WTD,
                            maxDf: Option[Long] = None,
                            leafKey: Option[String] = None): DataFrame = {
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ordW = wDoc.orderBy(col("df"), col("term"))
    // per-posting: doc weight W, cumulative weight before this posting in
    // rarest-first order (cum_excl), remaining weight from here (rem).
    // Threshold-INdependent (prefix filtering happens below), so q93/q139
    // share one materialization under the leaf flag.
    val ranked = graft.Leaves.sharedOpt(tf.sparkSession,
                                        leafKey.map(_ + ":wranked"),
                                        fanOutKey = Some("doc_id")) {
      tf.join(dfRel, "term")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
                sum(col("tf")).over(wDoc).as("w"),
                (sum(col("tf")).over(ordW.rowsBetween(
                   Window.unboundedPreceding, Window.currentRow)) - col("tf"))
                  .as("cum_excl"))
        .withColumn("rem", col("w") - col("cum_excl"))
    }
    // per-doc minimum overlap o_min = ⌈TN·W/TD⌉; prefix keeps postings
    // whose exclusion would not yet disprove the threshold
    val oMin = expr(s"(w*$TN + ${TD - 1}) DIV $TD")
    // The maxDf cut applies HERE (the q82/q92 discipline): cut postings
    // never enter the index self-join, so no candidate — and no
    // dedup-shuffle row — is ever generated through a stop term. cum_excl/
    // rem/w come from the UNCUT ranking, so every filter stays exact.
    val pref = ranked.filter(col("cum_excl") <= col("w") - oMin)
      .filter(maxDf.map(m => col("df") <= m).getOrElse(lit(true)))
    val a = pref.select(col("term"), col("doc_id").as("doc_a"),
                        col("w").as("wa"), col("rem").as("rema"),
                        col("tf").as("tfa"))
    val b = pref.select(col("term"), col("doc_id").as("doc_b"),
                        col("w").as("wb"), col("rem").as("remb"),
                        col("tf").as("tfb"))
    val oPair = expr(s"($TN*(wa+wb) + ${TN + TD - 1}) DIV ${TN + TD}")
    // Candidate generation + the PPJoin+-style pair-aggregated suffix
    // bound (round-9 verdict item 6). The per-collision rem filter is the
    // classic positional check; the groupBy then REPLACES the old
    // dropDuplicates pair-dedup shuffle (same shuffle key, same row
    // volume in) with an aggregation that tightens the bound across ALL
    // of a pair's prefix collisions C:
    //   overlap(a,b) = Σ_C min(tfa,tfb) + Σ_{shared∉C} min(tfa,tfb)
    //               ≤ pshared + min(wa − Σ_C tfa, wb − Σ_C tfb)
    // (non-collision shared terms are disjoint from C, so their tf mass
    // is bounded by each side's non-collision weight). A qualifying pair
    // needs overlap ≥ o_pair, so the filter is lossless — it only
    // discards pairs the Σ-least verify join would reject anyway, before
    // they fan out into |doc| posting rows each. At the exact 4/5
    // threshold this is the verify-volume governor.
    val cand = a.join(b, "term")
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(TD) * col("wa") >= lit(TN) * col("wb") &&
              lit(TD) * col("wb") >= lit(TN) * col("wa"))
      .filter(least(col("rema"), col("remb")) >= oPair)
      .groupBy(col("doc_a"), col("doc_b"), col("wa"), col("wb"))
      .agg(sum(least(col("tfa"), col("tfb"))).as("pshared"),
           sum(col("tfa")).as("ca"), sum(col("tfb")).as("cb"))
      .filter(col("pshared") +
              least(col("wa") - col("ca"), col("wb") - col("cb")) >= oPair)
      .select(col("doc_a"), col("doc_b"), col("wa"), col("wb"))
    // Verify via per-doc TF MAPS, not the posting fan-out join (round 14,
    // guide §2.3/§3): the old counting join expanded every candidate pair
    // into ALL of doc_a's postings (~|cand|·avg_dl rows — 34M at sf0.1,
    // measured round 13, the query's dominant stage) before a (doc_b,term)
    // join and a per-pair aggregate could reduce them. Attaching each
    // side's (term → tf) map instead keeps the verify relation at |cand|
    // ROWS (two bounded-width map payloads per row) and computes
    // Σ least(tf_a, tf_b) in-row — same integer arithmetic, same nulls
    // (a pair with no shared term gets i = 0 and fails the threshold
    // exactly like the old inner join dropping it). The maps move through
    // at most two joins the planner is free to broadcast (the map relation
    // is one row per doc); nothing new is collected to the driver.
    val docArrs = docTfArrs(ranked, leafKey)
    val interCnt = cand
      .join(docArrs.select(col("doc_id").as("doc_a"),
        col("ts").as("tsa"), col("fs").as("fsa")), "doc_a")
      .join(docArrs.select(col("doc_id").as("doc_b"),
        col("ts").as("tsb"), col("fs").as("fsb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("wa"), col("wb"),
        call_function("graft_min_mass", col("tsa"), col("fsa"),
          col("tsb"), col("fsb")).as("i"))
    val uni = col("wa") + col("wb") - col("i")
    val jac = round((col("i").cast("double") / uni.cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    interCnt
      .filter(lit(TD) * col("i") >= lit(TN) * uni)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard_w"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q97 — WEIGHTED MinHash-LSH near-dup pairs, the sub-quadratic
    * candidate stage for q93's contract, via the multiset-EXPANSION
    * identity: a term with tf = n contributes elements term#1..term#n,
    * and set-Jaccard of the expanded sets EQUALS weighted Jaccard of the
    * multisets (Σmin/Σmax term by term) — so the existing, portable
    * set-MinHash machinery (md5 min-hashing, 4×2 banding, the shared
    * candidate discipline) estimates J_w with zero new theory and zero
    * RNG. Candidates verify with the EXACT counting join (Σ least) at
    * the same 4/5 threshold, so emitted ⊆ q93 always (banding only
    * loses, never invents — SimJoinSpec pins the subset relation and
    * the recall on the fixture). At s = 0.8 the 4-band/2-row curve
    * passes ≥ 1 band with p ≈ 0.98.
    *
    * Scale: the expansion multiplies postings by the mean tf (~1.1 on
    * text bigrams — repetition is the exception, and a pathological
    * tf=10⁶ doc caps at its own weight); bands shuffle 3 small columns;
    * the verify join is bounded by the candidate set, not n². */
  def q97WeightedLshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val tf = bigramTf(spark, dir)
    val elems = tf.select(col("doc_id"),
        explode(transform(sequence(lit(1), col("tf").cast("int")), i =>
          concat(col("term"), lit("#"), i.cast("string")))).as("el"))
      .groupBy(col("doc_id")).agg(collect_list(col("el")).as("els"))
    val sig = elems.select(col("doc_id"),
        call_function("graft_minhash_arr", col("els"),
                      lit(Dedup.K_HASHES)).as("m"))
      .localCheckpoint()
    val cand = Dedup.lshCandidates(Dedup.lshBands(sig))
    // Verify stays the posting fan-out join here (round 14, measured):
    // the side-table attach that wins for q93/q139 LOSES for q97 (3.9 →
    // 5.3 s A/B at sf0.1) — LSH banding at 4×2 emits a much larger
    // candidate set than the suffix-bounded exact path, and shipping two
    // array payloads per candidate through the attach joins costs more
    // than the narrow fan-out + partial aggregation it replaces.
    val w = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("w"))
    val interCnt = cand
      .join(tf.select(col("doc_id").as("doc_a"), col("term"),
                      col("tf").as("tfa")), "doc_a")
      .join(tf.select(col("doc_id").as("doc_b"), col("term"),
                      col("tf").as("tfb")), Seq("doc_b", "term"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("tfa"), col("tfb"))).as("i"))
    val joined = cand
      .join(interCnt, Seq("doc_a", "doc_b"), "left")
      .join(w.select(col("doc_id").as("doc_a"), col("w").as("wa")), "doc_a")
      .join(w.select(col("doc_id").as("doc_b"), col("w").as("wb")), "doc_b")
      .withColumn("i", coalesce(col("i"), lit(0L)))
    val uni = col("wa") + col("wb") - col("i")
    val jac = round((col("i").cast("double") / uni.cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    joined
      .filter(lit(WTD) * col("i") >= lit(WTN) * uni)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard_w"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val weightedLshNearDupOracle: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS wr
       |           FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest([wr[i]||' '||wr[i+1] for i in range(1, len(wr))]) AS term
       |    FROM t WHERE len(wr) >= 2)
       |  GROUP BY doc_id, term),
       |ex AS (
       |  SELECT doc_id,
       |    unnest([term || '#' || i::VARCHAR
       |            for i in range(1, CAST(tf AS BIGINT) + 1)]) AS el
       |  FROM tf),
       |els AS (SELECT doc_id, list(el) AS els FROM ex GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id, list_transform(range(0, ${Dedup.K_HASHES}),
       |    i -> list_aggregate(list_transform(els, x -> md5(i::VARCHAR || ':' || x)), 'min')) AS m
       |  FROM els),
       |bands AS (
       |  SELECT doc_id, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${Dedup.N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |w AS (SELECT doc_id, sum(tf) AS w FROM tf GROUP BY doc_id),
       |inter AS (
       |  -- INNER joins: a candidate with zero shared terms has i = 0 and
       |  -- can never pass the threshold, so dropping it here is exact
       |  SELECT c.doc_a, c.doc_b, sum(least(a.tf, b.tf)) AS i
       |  FROM cand c
       |  JOIN tf a ON a.doc_id = c.doc_a
       |  JOIN tf b ON b.doc_id = c.doc_b AND b.term = a.term
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(round(CAST(CAST(i AS DOUBLE) / CAST(wa.w + wb.w - i AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard_w
       |FROM inter
       |JOIN w wa ON wa.doc_id = doc_a JOIN w wb ON wb.doc_id = doc_b
       |WHERE $WTD*i >= $WTN*(wa.w + wb.w - i)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q93's oracle — the naive weighted spec: full postings join,
    * Σ least per pair, integral threshold. */
  val weightedJaccardJoinOracle: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS wr
       |           FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest([wr[i]||' '||wr[i+1] for i in range(1, len(wr))]) AS term
       |    FROM t WHERE len(wr) >= 2)
       |  GROUP BY doc_id, term),
       |w AS (SELECT doc_id, sum(tf) AS w FROM tf GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(least(a.tf, b.tf)) AS i
       |  FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(round(CAST(CAST(i AS DOUBLE) / CAST(wa.w + wb.w - i AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard_w
       |FROM inter
       |JOIN w wa ON wa.doc_id = doc_a JOIN w wb ON wb.doc_id = doc_b
       |WHERE $WTD*i >= $WTN*(wa.w + wb.w - i)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The oracle is the naive SPEC, not the algorithm: every doc pair
    * (length-filtered — implied by the threshold), exact intersection,
    * integral threshold. Divergence between the prefix-filtered plan and
    * this brute force is exactly what the check exists to catch. */
  val jaccardJoinOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, ${TextOps.duckShingles} AS sh
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |          FROM documents))
       |  WHERE len(sh) > 0)
       |SELECT doc_a, doc_b,
       |  CAST(round(CAST(CAST(i AS DOUBLE) / CAST(u AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.sh, b.sh)) AS i,
       |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
       |  FROM d a JOIN d b
       |    ON a.doc_id < b.doc_id
       |   AND $TD*len(a.sh) >= $TN*len(b.sh) AND $TD*len(b.sh) >= $TN*len(a.sh))
       |WHERE $TD*i >= $TN*u
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------------
  // q209 — CONTAINMENT self-join: ordered pairs (a, b) where C(A,B) =
  // |A∩B| / |A| ≥ 4/5 — doc a's shingles mostly inside doc b. Jaccard is
  // symmetric and punishes length mismatch, so it MISSES the
  // quote/excerpt/boilerplate-wrapper case (a short doc embedded verbatim
  // in a long one has tiny Jaccard but containment ≈ 1); asymmetric
  // containment is the standard second pass of a set-similarity dedup
  // stack (the overlap/containment variants in Chaudhuri et al. ICDE'06
  // SSJoin §2; public). A containment hit marks doc a REDUNDANT given b —
  // droppable without losing tokens b doesn't already carry.
  //
  // Architecture: same skeleton as [[jaccardJoinOn]], consuming the SAME
  // ranked-posting leaves (threshold-independent, so the q82 leaf is
  // reused verbatim):
  //   - prefix filter: C ≥ t means B misses at most |A| − ⌈t·|A|⌉ of A's
  //     shingles, so A's (|A| − ⌈t·|A|⌉ + 1) RAREST shingles must hit B in
  //     at least one — the identical prefix-length formula, but probed
  //     against B's FULL posting list (no length filter exists:
  //     containment is one-sided by design, |B| may dwarf |A|);
  //   - the implied length bound lb ≥ ⌈t·la⌉ (i ≤ lb) prunes candidates
  //     before the verify join;
  //   - counting verify on narrow (pair, shingle) rows — arrays never
  //     shuffle — and the DECIDING test is integral: CD·∩ ≥ CN·|A|.
  // Oracle: the naive all-ordered-pairs spec; equality IS the check.
  // -------------------------------------------------------------------------

  /** q209's containment threshold CN/CD = 4/5. */
  private val CN = 4
  private val CD = 5

  def q209ContainmentJoin(spark: SparkSession, dir: String): DataFrame =
    containmentJoinOn(docs(spark, dir),
                      leafKey = Some(s"simjoin_shingles:$dir"))

  /** The containment core over any `(doc_id, text)` relation. */
  def containmentJoinOn(documents: DataFrame,
                        leafKey: Option[String] = None): DataFrame = {
    val ranked = rankedShingles(documents, leafKey)
    // A-side prefix: |A| − ⌈t·|A|⌉ + 1 rarest shingles (0-based pos)
    val prefA = ranked.filter(
      col("pos") < expr(s"len - ((len*$CN + ${CD - 1}) DIV $CD) + 1"))
    val postings = ranked.select(col("doc_id"), col("s"), col("len"))
    val cand = prefA.select(col("s"), col("doc_id").as("doc_a"),
                            col("len").as("la"))
      .join(postings.select(col("s"), col("doc_id").as("doc_b"),
                            col("len").as("lb")), "s")
      .filter(col("doc_a") =!= col("doc_b"))
      // implied bound: ∩ ≤ |B|, so C ≥ t needs CD·|B| ≥ CN·|A|
      .filter(lit(CD) * col("lb") >= lit(CN) * col("la"))
      .select(col("doc_a"), col("doc_b"), col("la"))
      .dropDuplicates("doc_a", "doc_b")
    // Verify stays the posting fan-out join here (round 14, measured):
    // the q82/q92 side-table verify LOSES for containment (5.9 → 6.2 s
    // A/B at sf0.1) — the one-sided prefix probe emits a larger candidate
    // set than the symmetric join (no two-way length filter exists), so
    // attaching array payloads per candidate costs more than the narrow
    // fan-out + count it replaces.
    val interCnt = cand
      .join(postings.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(postings.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"), col("la"))
      .agg(count(lit(1)).as("i"))
    val cont = round((col("i").cast("double") / col("la").cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    interCnt
      .filter(lit(CD) * col("i") >= lit(CN) * col("la"))
      .select(col("doc_a"), col("doc_b"), cont.as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q209's oracle — the naive ordered-pair spec with the same implied
    * length bound and integral deciding test. */
  val containmentJoinOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, ${TextOps.duckShingles} AS sh
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |          FROM documents))
       |  WHERE len(sh) > 0)
       |SELECT doc_a, doc_b,
       |  CAST(round(CAST(CAST(i AS DOUBLE) / CAST(la AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS containment
       |FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la
       |  FROM d a JOIN d b
       |    ON a.doc_id != b.doc_id AND $CD*len(b.sh) >= $CN*len(a.sh))
       |WHERE $CD*i >= $CN*la
       |ORDER BY doc_a, doc_b""".stripMargin
}
