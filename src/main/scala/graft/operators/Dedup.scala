package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Deduplication operators for training-data pipelines (SURVEY.md M6):
  * exact (hash-groupBy), n-gram Jaccard via inverted index, MinHash+LSH
  * banding, and SimHash with pigeonhole banding.
  *
  * Scale design: every method is one or two hash-partitioned shuffles on
  * bounded keys (fingerprint, token, band signature) — never an all-pairs
  * cross join. Candidate generation is always bucketed (inverted index /
  * LSH band / simhash chunk) so the quadratic blowup is confined to
  * within-bucket pairs, which banding keeps small on real corpora.
  */
object Dedup {

  /** Exact dedup on the normalized-text fingerprint: one hash-agg
    * shuffle; keeper = min doc_id per group.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("cnt"))

  /** All-pairs n-gram (word-level) Jaccard ≥ threshold via an inverted
    * index: explode distinct tokens, self-join on token (bucketed
    * shuffle, not a cross join), count co-occurrences, then
    * |A∩B| / (|A|+|B|−|A∩B|). `leftFilter` restricts the probe side —
    * at 100 TB you never run unrestricted all-pairs; you shard the probe
    * side or use [[minHashPairs]] first.
    *
    * `maxDf` is the hot-key lever: a near-universal token ("the") puts
    * every document in one bucket and the within-bucket self-join goes
    * quadratic on that key. Capping document frequency drops those
    * tokens from the index AND from the per-doc set sizes, so the
    * Jaccard stays self-consistent over the reduced vocabulary — the
    * standard df-cut, cf. search-engine stopword elimination.
    */
  def jaccardPairs(
      docs: DataFrame,
      threshold: Double,
      leftFilter: Column = lit(true),
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDf: Option[Long] = None
  ): DataFrame =
    tokenOverlapPairs(docs, leftFilter, idCol, textCol, maxDf)
      .withColumn("jacc", col("i") / (col("sa") + col("sb") - col("i")))
      .filter(col("jacc") >= threshold)
      .select(col("da"), col("db"), col("jacc"))

  /** The candidate machinery [[jaccardPairs]] and [[containmentPairs]]
    * share: distinct-token inverted index, optional df-cap (hot tokens
    * dropped from index AND set sizes so measures stay self-consistent
    * over the reduced vocabulary), probe restriction, within-bucket
    * self-join, co-occurrence count, and the two set-size joins. One
    * row per candidate pair: (da, db, i, sa, sb) with da < db — the
    * measure-specific select/filter is each caller's thin tail.
    */
  private def tokenOverlapPairs(
      docs: DataFrame,
      leftFilter: Column,
      idCol: String,
      textCol: String,
      maxDf: Option[Long]
  ): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), TextAnalysis.tokenSet(col(textCol)).as("ts"))
    // the token is ONLY a join/group identity from here on — hash it to
    // 8 bytes before the inverted-index exchange (guide §2.3, narrower
    // shuffle keys; same 2⁻⁶⁴-collision argument as [[TokenHashes]])
    val words0 = toks.select(col("id"), explode(col("ts")).as("w0"))
      .select(col("id"), xxhash64(col("w0")).as("word"))
    val (words, sizes) = maxDf match {
      case Some(cap) =>
        // the hot-token list is tiny by construction → broadcast anti-join
        val hot = words0.groupBy("word").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("word")
        val kept = words0.join(broadcast(hot), Seq("word"), "left_anti")
        (kept, kept.groupBy("id").agg(count(lit(1)).as("sz")))
      case None =>
        (words0, toks.select(col("id"), size(col("ts")).as("sz")))
    }
    val inter = words.filter(leftFilter).withColumnRenamed("id", "da")
      .join(words.withColumnRenamed("id", "db"), "word")
      .filter(col("da") < col("db"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("id", "da").withColumnRenamed("sz", "sa"), "da")
      .join(sizes.withColumnRenamed("id", "db").withColumnRenamed("sz", "sb"), "db")
  }

  /** Prefix-filtering set-similarity join (Chaudhuri–Ganti–Kaushik
    * 2006; Xiao et al. 2008 ppjoin's base filter) — the candidate
    * generator that makes all-pairs Jaccard tractable WITHOUT the
    * [[jaccardPairs]] df-cap's semantic change: order every token set
    * by ascending global document frequency (rarest first, ties by
    * token) and join only on each set's PREFIX of length
    * ⌈|t| − τ·|t|⌉ + 1 — any pair with Jaccard ≥ τ must share a prefix
    * token (|A∩B| ≥ τ·max(|A|,|B|) pigeonholes the overlap into both
    * prefixes), so candidates ⊇ true pairs and the full-set verify
    * makes the result EXACTLY equal to the brute-force join. The scale
    * property is the inversion of the hot-key problem: prefixes hold
    * the RAREST tokens, so posting lists in the candidate join are the
    * shortest ones in the corpus — stop-words never form a join key at
    * all (they sort last), where [[jaccardPairs]] must cap them away
    * and thereby ALTERS the measured Jaccard. Verify is per-candidate
    * `array_intersect` over the staged token sets — linear per pair,
    * no third shuffle. Completeness holds for ANY total token order
    * used consistently, so the oracle stays the plain brute-force
    * join: the prefix logic needs no cross-engine mirror.
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      leftFilter: Column = lit(true),
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ts drives sizes; th (sorted 64-bit token hashes) drives BOTH the
    // inverted index and the verify merge — tokens are only identities
    // past this projection, so the 8-byte form is the one that should
    // cross every exchange (guide §2.3). Completeness is order-agnostic
    // (any consistent total token order works — scaladoc above), and
    // the exact verify keeps the output identical to brute force.
    val toks = Funnel.stageLazy(
      docs.select(col(idCol).as("id"), size(TextAnalysis.tokenSet(col(textCol))).as("sz"),
        tokenHashes(col(textCol)).as("th")))
    val words = toks.select(col("id"), explode(col("th")).as("word"))
    val dfreq = words.groupBy("word").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("id").orderBy(col("df"), col("word"))
    val pref = words.join(dfreq, "word")
      .withColumn("rn", row_number().over(byRarity))
      .join(toks.select(col("id"), col("sz")), "id")
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id"), col("word"))
    val cand = pref.filter(leftFilter).withColumnRenamed("id", "da")
      .join(pref.withColumnRenamed("id", "db"), "word")
      .filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    cand
      .join(toks.select(col("id").as("da"), col("th").as("ta")), "da")
      .join(toks.select(col("id").as("db"), col("th").as("tb")), "db")
      .withColumn("i", ColumnBridge.column(graft.functions.SortedIntersectCount(
        ColumnBridge.expression(col("ta")), ColumnBridge.expression(col("tb")))))
      .withColumn("jacc", col("i") / (size(col("ta")) + size(col("tb")) - col("i")))
      .filter(col("jacc") >= threshold)
      .select(col("da"), col("db"), col("jacc"))
  }

  /** Containment (asymmetric Jaccard, |A∩B|/|A|) pairs — the
    * SUBSET-duplication detector symmetric Jaccard structurally
    * misses: a short document wholly quoted inside a long one has
    * containment ≈ 1 but Jaccard ≈ |A|/|B| (arbitrarily small), so a
    * boilerplate/quotation sweep must threshold containment, not
    * similarity (Broder 1997 distinguishes "resemblance" from
    * "containment" for exactly this reason). Same bounded candidate
    * machinery as [[jaccardPairs]] (token inverted index, df-capped,
    * probe-restricted); emits BOTH directions' containment plus the
    * symmetric Jaccard for contrast, keeping pairs where max
    * containment clears the threshold.
    */
  def containmentPairs(
      docs: DataFrame,
      threshold: Double,
      leftFilter: Column = lit(true),
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDf: Option[Long] = None
  ): DataFrame =
    tokenOverlapPairs(docs, leftFilter, idCol, textCol, maxDf)
      .select(col("da"), col("db"),
        (col("i") / col("sa")).as("cont_a_in_b"),
        (col("i") / col("sb")).as("cont_b_in_a"),
        (col("i") / (col("sa") + col("sb") - col("i"))).as("jacc"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)

  /** Incremental (delta) dedup — the daily-crawl-increment contract:
    * classify a batch of ARRIVING documents against an existing corpus
    * as `exact` (normalized-fingerprint match), `near` (word-set
    * Jaccard ≥ threshold against an inverted index over the corpus), or
    * `new`, with the minimum matching corpus id as keeper (arrivals
    * keep themselves when new). The corpus is INDEXED, never
    * self-joined: arrivals probe the token index DIRECTIONALLY
    * (delta → base), so an increment costs O(delta · avg-posting-list)
    * regardless of corpus size — at production scale the fingerprint
    * table and token index are persisted once (bucketed by word, see
    * the bucketed-join pattern) and each day's batch probes them.
    *
    * `maxDf` is the same hot-token lever as [[jaccardPairs]] — required
    * on real corpora where stop-word posting lists go quadratic.
    *
    * Each input crosses the scanner EXACTLY ONCE: the staged prep
    * frames below ARE the "fingerprint table + token index" the
    * contract persists — without the [[Funnel.stageLazy]] boundaries every
    * downstream reference (exact probe, df census, index probe, set
    * sizes, final classify) re-spliced the corpus scan and the physical
    * plan read the base parquet 11 times (round-7 Explain; PlanSpec now
    * locks the scan count).
    *
    * Output: (id, verdict, keeper), one row per delta document.
    */
  def deltaDedup(
      base: DataFrame,
      delta: DataFrame,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDf: Option[Long] = None
  ): DataFrame = {
    def prep(df: DataFrame, out: String): DataFrame = Funnel.stageLazy(
      df.select(col(idCol).as(out),
        TextAnalysis.fingerprint(col(textCol)).as("fp"),
        TextAnalysis.tokenSet(col(textCol)).as("ts")))
    val bPrep = prep(base, "bid")
    val dPrep = prep(delta, "id")
    val exact = dPrep.select("id", "fp").join(bPrep.select("bid", "fp"), "fp")
      .groupBy("id").agg(min("bid").as("ex_keeper"))
    val bW0 = bPrep.select(col("bid"), explode(col("ts")).as("word"))
    val dW0 = dPrep.select(col("id"), explode(col("ts")).as("word"))
    // df-cap drops hot tokens from the index AND from BOTH sides' set
    // sizes, keeping the Jaccard self-consistent over the reduced
    // vocabulary (same contract as jaccardPairs' maxDf)
    val (bW, dW) = maxDf match {
      case Some(cap) =>
        val hot = bW0.groupBy("word").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("word")
        (bW0.join(broadcast(hot), Seq("word"), "left_anti"),
          dW0.join(broadcast(hot), Seq("word"), "left_anti"))
      case None => (bW0, dW0)
    }
    val bSz = bW.groupBy("bid").agg(count(lit(1)).as("bsz"))
    val dSz = dW.groupBy("id").agg(count(lit(1)).as("dsz"))
    val near = dW.join(bW, "word")
      .groupBy("id", "bid").agg(count(lit(1)).as("i"))
      .join(dSz, "id").join(bSz, "bid")
      .filter(col("i") / (col("dsz") + col("bsz") - col("i")) >= threshold)
      .groupBy("id").agg(min("bid").as("nr_keeper"))
    dPrep.select("id")
      .join(exact, Seq("id"), "left")
      .join(near, Seq("id"), "left")
      .select(col("id"),
        when(col("ex_keeper").isNotNull, "exact")
          .when(col("nr_keeper").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("ex_keeper"), col("nr_keeper"), col("id")).as("keeper"))
  }

  /** MinHash signature: numPerms universal-hash permutations
    * h_i(x) = (a_i·x + b_i) mod p over xxhash64 token hashes, min per
    * permutation. Native expression (graft.functions.MinHashSig) — one
    * primitive loop per document inside the scan stage, no shuffle.
    */
  def minHashSignature(textCol: Column, numPerms: Int = 64, seed: Long = 42L): Column =
    ColumnBridge.column(graft.functions.MinHashSig(
      ColumnBridge.expression(TextAnalysis.tokenSet(textCol)), numPerms, seed))

  /** MinHash+LSH near-dup candidate pairs, verified with true Jaccard.
    * bands·rows = numPerms; a pair collides if any band of `rows`
    * signature slots matches exactly (P[collide] = 1−(1−j^r)^b). ONE
    * shuffle total — on (band, signature-slice-hash) for candidates;
    * multi-band hits are collapsed map-side inside the candidate join
    * (first-match-band emission, see [[bandCandidates]]), so there is no
    * dedup exchange and each pair is verified exactly once.
    *
    * `maxBucket` is the hot-bucket lever (the LSH analog of
    * [[jaccardPairs]]' `maxDf`): a band bucket holding m documents emits
    * m²/2 candidate rows, so one degenerate bucket — a boilerplate-heavy
    * corpus where thousands of docs share a band signature — turns into
    * a single quadratic task. Buckets over the cap are dropped; recall
    * degrades gracefully instead of the job going quadratic (standard
    * LSH practice; see [[bandCandidates]] for the first-match caveat).
    *
    * `broadcastVerify` broadcasts the token-set payload to the verify
    * join so the (much bigger) candidate-pair stream never shuffles and
    * each document's token set is materialized once. Set false when the
    * corpus token table exceeds executor memory — Catalyst then picks a
    * shuffled join keyed on doc id.
    */
  def minHashPairs(
      docs: DataFrame,
      bands: Int = 8,
      rows: Int = 8,
      verifyThreshold: Double = 0.85,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Option[Int] = Some(4096),
      broadcastVerify: Boolean = true
  ): DataFrame =
    // Candidates are unique by construction (first-match-band emission,
    // see bandCandidates), so the verified pairs ARE the result — no
    // dedup aggregation anywhere in the pipeline.
    verifyJaccard(
      bandCandidates(docs, bands, rows, idCol, textCol, maxBucket, verifyThreshold),
      docs, verifyThreshold, idCol, textCol, broadcastVerify)

  /** Phase 1 — LSH band candidates (da < db), each colliding pair
    * emitted EXACTLY ONCE: compute the per-band bucket-key array
    * (xxhash64 over (band, signature slice) — 8 bytes/band instead of a
    * `concat_ws` string of the slice), posexplode it, self-join on
    * (band, key), then keep a joined row only when the probing band is
    * the FIRST band whose keys agree ([[graft.functions.BandFirstMatch]]
    * over the two key arrays, map-side, early-exit). On self-similar
    * corpora a true pair collides in E ≈ 5–10 bands; the naive join
    * either re-verifies it per band or pays a global dropDuplicates
    * exchange over the raw candidate stream (tens of millions of rows
    * at sf0.1 — measured 15 s at 16×4). First-match emission does the
    * dedup inside the join stage for the cost of one early-exit key
    * scan per joined row, so NOTHING downstream ever sees a duplicate.
    *
    * Exploded rows carry only (id, sz, keys[bands], band, key) — the
    * raw signature never enters the exchange. Because the emission
    * criterion compares the SAME keys the join buckets on, a 64-bit
    * key collision merely merges two buckets: the (false) pair is
    * emitted exactly once from the first colliding band and the verify
    * stage rejects it — no pair can be lost or duplicated.
    *
    * `minSizeRatio` prunes inside the join: J(A,B) ≤ min(|A|,|B|) /
    * max(|A|,|B|), so a pair whose token-set sizes are off by more than
    * the verify threshold can never survive and is dropped before it is
    * even emitted.
    *
    * With `maxBucket` set, a pair whose first-matching band sits in a
    * dropped hot bucket is lost even if a later band's bucket survives
    * (the naive join would find it there). In practice the loss is the
    * same graceful-recall story as the cap itself: hot buckets are
    * boilerplate clusters whose pairs are near-identical, so the bands
    * are hot together — a pair first-matching in a hot band almost
    * surely has its other colliding bands hot too.
    */
  private def bandCandidates(
      docs: DataFrame,
      bands: Int,
      rows: Int,
      idCol: String,
      textCol: String,
      maxBucket: Option[Int],
      minSizeRatio: Double
  ): DataFrame = {
    val sigs = docs.select(
      col(idCol).as("id"),
      size(TextAnalysis.tokenSet(col(textCol))).as("sz"),
      minHashSignature(col(textCol), bands * rows).as("sig"))
    val keyed = sigs.select(col("id"), col("sz"),
      array((0 until bands).map { j =>
        xxhash64(lit(j), slice(col("sig"), j * rows + 1, rows))
      }: _*).as("keys"))
    // Spread the probe side BEFORE the self-join: a small corpus file
    // scans as one partition, and a broadcast self-join inherits the
    // probe side's partitioning — without this, every within-bucket
    // pair (quadratic in bucket size!) is produced and deduped on a
    // single core. Hash-repartitioning the (tiny) key rows on (id, band)
    // also spreads a hot bucket's probe rows across tasks, so one
    // degenerate bucket cannot pin one task (cap aside). Deterministic
    // (column-hash, not round-robin) → safe under task retries.
    val banded0 = keyed
      .select(col("id"), col("sz"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "key")))
      // explicit partition count: AQE would coalesce a by-size estimate
      // of the tiny key rows back to one partition, re-serializing the
      // (quadratic) join work it feeds
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"), col("band"))
    val banded = maxBucket match {
      case Some(cap) =>
        // the over-cap bucket list is tiny by construction → broadcast anti-join
        val hot = banded0.groupBy("band", "key").agg(count(lit(1)).as("n"))
          .filter(col("n") > cap).select("band", "key")
        banded0.join(broadcast(hot), Seq("band", "key"), "left_anti")
      case None => banded0
    }
    banded.as("x")
      .join(banded.as("y"), Seq("band", "key"))
      .filter(col("x.id") < col("y.id"))
      // size-ratio prune BEFORE emission (cheap int compare first) …
      .filter(
        least(col("x.sz"), col("y.sz")).cast("double") /
          greatest(col("x.sz"), col("y.sz")) >= minSizeRatio)
      // … then one early-exit key scan keeps only the first matching
      // band's copy of the pair
      .filter(ColumnBridge.column(graft.functions.BandFirstMatch(
        ColumnBridge.expression(col("x.keys")),
        ColumnBridge.expression(col("y.keys")))) === col("band"))
      .select(col("x.id").as("da"), col("y.id").as("db"))
  }

  /** Phase 2 — true-Jaccard verification of (da, db) candidates: attach
    * the two token-hash sets (sorted longs, see TokenHashes); |A∩B| is
    * one two-pointer merge per pair and |A∪B| = |A|+|B|−|A∩B| over the
    * array lengths — no string comparisons, no per-pair allocation.
    * One verify per candidate row — [[bandCandidates]] guarantees each
    * pair arrives exactly once.
    */
  private def verifyJaccard(
      cands: DataFrame,
      docs: DataFrame,
      verifyThreshold: Double,
      idCol: String,
      textCol: String,
      broadcastVerify: Boolean
  ): DataFrame = {
    val toks0 = docs.select(col(idCol).as("id"), tokenHashes(col(textCol)).as("th"))
    val toks = if (broadcastVerify) broadcast(toks0) else toks0
    cands
      .join(toks.select(col("id").as("da"), col("th").as("ta")), "da")
      .join(toks.select(col("id").as("db"), col("th").as("tb")), "db")
      // size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
      // pairs failing the ratio can never clear the threshold — prunes
      // before the O(|A|+|B|) merge.
      .filter(
        least(size(col("ta")), size(col("tb"))).cast("double") /
          greatest(size(col("ta")), size(col("tb"))) >= verifyThreshold)
      .withColumn("i", ColumnBridge.column(graft.functions.SortedIntersectCount(
        ColumnBridge.expression(col("ta")), ColumnBridge.expression(col("tb")))))
      .withColumn("jacc",
        col("i") / (size(col("ta")) + size(col("tb")) - col("i")))
      .filter(col("jacc") >= verifyThreshold)
      .select(col("da"), col("db"), col("jacc"))
  }

  /** Sorted distinct token-hash set (array<long>) for a text column —
    * the verify-phase representation used by [[minHashPairs]].
    */
  def tokenHashes(textCol: Column): Column =
    ColumnBridge.column(graft.functions.TokenHashes(
      ColumnBridge.expression(TextAnalysis.tokenSet(textCol))))

  /** Modulus for the portable (cross-engine) MinHash permutations:
    * a ~2^30 prime keeps a·x + b inside 63 bits for BIGINT arithmetic
    * that DuckDB reproduces exactly.
    */
  val PortableP = 1000000007L

  /** Deterministic (a, b) permutation constants for [[minHashPairsPortable]];
    * materialized as literals in BOTH the Spark plan and the oracle SQL.
    */
  def portablePerms(numPerms: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerms)(
      (rnd.nextInt(Int.MaxValue).toLong % (PortableP - 1) + 1,
        rnd.nextInt(Int.MaxValue).toLong % PortableP))
  }

  /** Cross-engine-REPRODUCIBLE MinHash LSH near-dup pairs: token hashes
    * from md5 (which every engine shares) instead of xxhash64, and
    * permutation constants as literals — so the ENTIRE pipeline (token
    * hash → per-perm signature minima → banded keys → candidate
    * self-join → exact-Jaccard verify) replays in DuckDB SQL and the
    * driver hash-checks it end-to-end. [[minHashPairs]] remains the
    * production path (one codegen'd primitive loop per doc); this
    * portable twin proves the LSH algebra against an independent engine.
    *
    * Everything up to the band explode is a single scan-stage
    * projection: the md5 token-hash array is computed once per doc and
    * each signature slot is an `array_min(transform(...))` over it —
    * no explode to tokens × perms rows on either engine. Band keys
    * embed the band index in the md5 preimage, so the candidate join
    * needs only the key column. `leftFilter` restricts the probe side
    * exactly like [[jaccardPairs]] — the pairs contract at scale is
    * always probe-restricted.
    */
  def minHashPairsPortable(
      docs: DataFrame,
      bands: Int = 16,
      rows: Int = 4,
      verifyThreshold: Double = 0.9,
      leftFilter: Column = lit(true),
      idCol: String = "doc_id",
      textCol: String = "text",
      seed: Long = 42L
  ): DataFrame = {
    val cand = minHashCandidates(docs, bands, rows, leftFilter, idCol, textCol, seed)
    verifyJaccard(cand, docs, verifyThreshold, idCol, textCol, broadcastVerify = true)
  }

  /** RAW LSH band candidates — [[minHashPairsPortable]] WITHOUT the
    * exact-Jaccard verify: the pre-verification pair stream whose
    * measured recall (vs brute-force truth) and candidate efficiency
    * (what fraction survives verify) are the two numbers that justify
    * an LSH parameterization; `q_doc_minhash_recall` reports both.
    * Same probe-restriction contract as the verified form.
    */
  def minHashCandidates(
      docs: DataFrame,
      bands: Int = 16,
      rows: Int = 4,
      leftFilter: Column = lit(true),
      idCol: String = "doc_id",
      textCol: String = "text",
      seed: Long = 42L
  ): DataFrame = {
    val banded = portableBandKeys(docs, bands, rows, idCol, textCol, seed)
    banded.filter(leftFilter).as("x").join(banded.as("y"), "key")
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("da"), col("y.id").as("db"))
      .distinct()
  }

  /** Portable per-doc MinHash signature as one array<long> column —
    * the same md5-hash + literal-perm arithmetic as
    * [[minHashPairsPortable]]'s band keys, exposed for consumers that
    * need the signature VALUES (the Jaccard-estimation contract
    * `q_doc_minhash_est`: E[agreeing slots / numPerms] = J(A,B), the
    * identity LSH banding is built on).
    */
  def portableSignatures(docs: DataFrame, numPerms: Int = 64,
      idCol: String = "doc_id", textCol: String = "text", seed: Long = 42L): DataFrame =
    docs.select(col(idCol).as("id"),
      portableSig(col(textCol), numPerms, seed).as("sig"))

  /** The portable signature as ONE native column (value-identical to the
    * md5 + per-perm `array_min(transform(...))` chain the oracles
    * replay; see [[graft.functions.PortableMinHashSig]]) — one digest
    * and one primitive loop per token instead of numPerms interpreted
    * lambda passes per document.
    */
  private def portableSig(textCol: Column, numPerms: Int, seed: Long): Column =
    ColumnBridge.column(graft.functions.PortableMinHashSig(
      ColumnBridge.expression(TextAnalysis.tokenSet(textCol)),
      portablePerms(numPerms, seed), PortableP))

  /** Portable (md5-based) per-doc LSH band keys, one (id, key) row per
    * band — the construction shared by [[minHashPairsPortable]] and
    * [[deltaMinHashKeepers]].
    */
  private def portableBandKeys(docs: DataFrame, bands: Int, rows: Int,
      idCol: String, textCol: String, seed: Long): DataFrame = {
    // signature as ONE native column (see portableSig). The sig column is
    // referenced bands·rows times below, which is exactly why it stays a
    // SEPARATE projection: CollapseProject refuses to inline a non-cheap
    // expression with multiple references, so the signature is computed
    // once per document, never once per slot.
    //
    // The band key is ONLY a join/store identity — it never reaches any
    // output (candidates emit (da, db); keepers emit (id, keeper, jacc);
    // the persisted index is probed, not read out) — so it is the 8-byte
    // xxhash64 of (band, slot values) rather than the old
    // md5(concat_ws(band, slots-as-strings)) 32-char string (guide §2.3,
    // r14 opt): key equality still holds exactly iff the band's slot
    // values agree (modulo the codebase's standard 2⁻⁶⁴ collision
    // argument — the md5 form carried the same argument at 2⁻¹²⁸), and
    // docs with null signatures (empty token sets) still collide with
    // each other and nothing else (hash functions skip null inputs, as
    // concat_ws skipped them). Every index exchange, the posting-list
    // self-join, and the persisted key store shrink ~4× per key and lose
    // the per-band md5 + string-building work.
    val sigs = docs.select(col(idCol).as("id"),
      portableSig(col(textCol), bands * rows, seed).as("sig"))
    val keyCols = (0 until bands).map { bnd =>
      xxhash64(lit(bnd) +: (0 until rows).map(r =>
        element_at(col("sig"), bnd * rows + r + 1)): _*)
        .as(s"k$bnd")
    }
    sigs.select(col("id") +: keyCols: _*)
      .select(col("id"), explode(array((0 until bands).map(b => col(s"k$b")): _*)).as("key"))
  }

  /** Incremental near-dup against a persisted LSH band index — the
    * daily-increment analog of [[minHashPairsPortable]], exactly as
    * [[deltaDedup]] is of [[jaccardPairs]]: the BASE corpus's band keys
    * are built once and staged (in production: the persisted band
    * index, bucketed by key), and arrivals probe DIRECTIONALLY
    * delta → base — a day's increment costs O(delta·bands + collisions)
    * regardless of corpus size, and the corpus never self-joins.
    * Verified matches (true Jaccard ≥ threshold) collapse to the
    * minimum matching base id per arrival. Ids must be globally unique
    * across base ∪ delta (caller contract, as in [[deltaDedup]]).
    *
    * Output: (id, keeper, jacc) for delta docs with ≥ 1 verified match;
    * arrivals with none are new documents (absent here).
    */
  def deltaMinHashKeepers(
      base: DataFrame,
      delta: DataFrame,
      bands: Int = 16,
      rows: Int = 4,
      verifyThreshold: Double = 0.9,
      idCol: String = "doc_id",
      textCol: String = "text",
      seed: Long = 42L,
      maxBucket: Option[Int] = None
  ): DataFrame = {
    val bBand = Funnel.stageLazy(bandIndex(base, bands, rows, idCol, textCol, seed))
    deltaMinHashKeepersWithIndex(bBand, base, delta, bands, rows,
      verifyThreshold, idCol, textCol, seed, maxBucket = maxBucket)
  }

  /** [[deltaMinHashKeepers]] against a PREBUILT base band index — the
    * form a continuously-ingesting pipeline uses: the index (one
    * (id, key) table from [[bandIndex]], persisted and appended to as
    * batches commit) is READ, never recomputed, so a batch's probe
    * cost is O(batch·bands + collisions) no matter how large the
    * store has grown. `base` supplies only the verify-phase texts of
    * candidate matches.
    *
    * `maxBucket` (default None — the registry rows replay un-capped,
    * lockstep with their oracles) prunes base-index KEYS whose posting
    * count exceeds the cap before the probe join: a bucket thousands
    * of documents share carries no discriminative signal, only
    * candidate mass. The r13 10× probe measured why a production
    * deployment wants it on: an adversarially self-similar corpus
    * (replica families sharing ~20 % of word-set bands) inflated the
    * un-capped candidate stage to 134.5M pairs — an R² term a cap
    * bounds to cap·|delta|·bands.
    */
  def deltaMinHashKeepersWithIndex(
      baseIndex: DataFrame, // (id, key) from bandIndex
      base: DataFrame,
      delta: DataFrame,
      bands: Int = 16,
      rows: Int = 4,
      verifyThreshold: Double = 0.9,
      idCol: String = "doc_id",
      textCol: String = "text",
      seed: Long = 42L,
      // a caller that will ALSO append the delta's index to the store
      // passes it prebuilt (materialized) so the batch is minhashed
      // once, not once for the probe and again for the append
      deltaIndex: Option[DataFrame] = None,
      maxBucket: Option[Int] = None
  ): DataFrame = {
    val dBand = deltaIndex.getOrElse(bandIndex(delta, bands, rows, idCol, textCol, seed))
    val probed = maxBucket match {
      case Some(cap) => baseIndex.join(
        baseIndex.groupBy("key").count().filter(col("count") > cap).select("key"),
        Seq("key"), "left_anti")
      case None => baseIndex
    }
    // staged: the candidate set feeds the id-restriction AND the verify
    // join — without the boundary the probe join would run twice
    val cand = Funnel.stageLazy(dBand.as("x").join(probed.as("y"), "key")
      .select(col("x.id").as("da"), col("y.id").as("db"))
      .distinct())
    // verify hashes ONLY candidate docs — the store may be arbitrarily
    // large, but the increment touches O(candidates) of it
    val candIds = cand.select(col("da").as(idCol))
      .union(cand.select(col("db").as(idCol))).distinct()
    val docsV = delta.unionByName(base).join(candIds, Seq(idCol), "left_semi")
    verifyJaccard(cand, docsV, verifyThreshold, idCol, textCol,
        broadcastVerify = true)
      .groupBy("da")
      .agg(min_by(struct(col("db"), col("jacc")), col("db")).as("m"))
      .select(col("da").as("id"), col("m.db").as("keeper"), col("m.jacc").as("jacc"))
  }

  /** Portable LSH band index for a document set — one (id, key) row
    * per band, the unit the persisted-index workflows store and probe
    * ([[deltaMinHashKeepersWithIndex]], `q_stream_delta_minhash`).
    */
  def bandIndex(docs: DataFrame, bands: Int = 16, rows: Int = 4,
      idCol: String = "doc_id", textCol: String = "text", seed: Long = 42L): DataFrame =
    portableBandKeys(docs, bands, rows, idCol, textCol, seed)

  /** Cross-engine-reproducible SimHash pairs — the fully-oracled twin
    * of [[simHashPairs]], like [[minHashPairsPortable]] is for MinHash:
    * 60-bit fingerprints built from md5 token hashes (15 hex chars →
    * 60 usable bits), per-bit majority votes, 4 × 15-bit pigeonhole
    * chunks (exact for hamming ≤ 3), and a `bit_count(xor)` verify —
    * every step shared arithmetic both engines reproduce bit-for-bit.
    * The fingerprint is one scan-stage projection (60 bounded array
    * folds over the per-doc hash array — no explode before banding).
    */
  def simHashPairsPortable(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole banding is exact only for maxHamming <= 3, got $maxHamming")
    val chunkBits = 15
    val chunks = 4 // pigeonhole: hamming <= 3 => some chunk identical
    // fingerprint as ONE native pass (value-identical to the md5 +
    // 60 × aggregate() vote chain the oracle replays; see
    // [[graft.functions.PortableSimHash60]]) — one digest + one
    // primitive loop per token instead of 60 interpreted folds per doc
    val fp = docs.select(col(idCol).as("id"),
      ColumnBridge.column(graft.functions.PortableSimHash60(
        ColumnBridge.expression(TextAnalysis.tokenSet(col(textCol))))).as("fp"))
    hammingBandPairs(fp, chunkBits, chunks, maxHamming)
  }

  /** Pigeonhole band join over precomputed (id, fp) bit fingerprints —
    * the pairing device the portable SimHash, the perceptual image
    * hash, and the audio delta-sign hash all share: split each
    * fingerprint into `chunks` low-to-high chunks of `chunkBits` bits,
    * bucket-join on (chunk index, chunk value) — complete for
    * Hamming ≤ chunks−1 by pigeonhole — then verify with the exact
    * popcount. `probe` (a predicate over `id`) restricts the probe
    * side, the same quadratic-output lever as [[jaccardPairs]]'s
    * leftFilter. Output: (da, db, hamming), da < db.
    */
  def hammingBandPairs(
      fp: DataFrame,
      chunkBits: Int,
      chunks: Int,
      maxHamming: Int,
      probe: Column = lit(true)
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < chunks,
      s"$chunks-chunk pigeonhole banding is exact only for maxHamming <= ${chunks - 1}, got $maxHamming")
    val chunked = fp.select(col("id"), col("fp"),
      posexplode(array((0 until chunks).map { c =>
        shiftright(col("fp"), c * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1))
      }: _*)).as(Seq("ci", "cv")))
    chunked.as("x").filter(probe)
      .join(chunked.as("y"), Seq("ci", "cv"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("da"), col("y.id").as("db"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup CLUSTER assignment: (doc_id, keeper) where keeper is the
    * minimum doc id in the document's connected component over verified
    * MinHash near-dup edges (true Jaccard ≥ `verifyThreshold`).
    * Singletons keep themselves. This is the contract real dedup
    * pipelines want — "which row do I keep" — and unlike the all-pairs
    * output of [[minHashPairs]] it is linear in corpus size, not
    * quadratic in cluster size.
    *
    * Components by min-label propagation: each round every doc takes the
    * min of its own label and its neighbors' labels; near-dup components
    * are dense (near-cliques), so the loop converges in a handful of
    * rounds. Per round: one join of the (small, verified) edge list with
    * the label table and one hash-agg — all hash-partitioned on doc id,
    * nothing driver-side but the convergence flag. For adversarially
    * long path-shaped graphs the alternating large-star/small-star
    * rounds of Kiveris et al. (2014) bound the iteration count; dedup
    * graphs do not need them.
    *
    * Exact duplicates are collapsed FIRST (fingerprint → min-id
    * representative, [[exact]]'s contract): identical normalized text
    * means identical token set, so an exact-dup group is one clique of
    * the near-dup graph and can enter LSH as a single representative —
    * real pipelines always run exact-before-fuzzy, because boilerplate
    * groups otherwise enter the band join as m-sized buckets emitting
    * m²/2 candidate rows each. Component minima are preserved: each
    * group's representative IS its minimum id, so the min over a
    * component of representatives equals the min over the full
    * component, and members inherit their representative's keeper.
    *
    * Defaults use bands=16 × rows=4 (same 64-perm signature cost as
    * [[minHashPairs]]' 8×8): P[miss | j ≥ 0.9] = (1−0.9⁴)¹⁶ ≈ 4·10⁻⁸,
    * so the candidate stage is effectively exhaustive at the 0.9
    * verify threshold and the output is deterministic — it equals
    * min-id-over-true-Jaccard-components, which a SQL oracle can check.
    * 4-row bands admit more mid-similarity candidates than 8-row
    * configs (P[collide | j=0.5]: 0.64 vs 0.12 for 32×8), but with
    * first-match emission each candidate costs ONE cheap sorted-merge
    * verify — measured, that beats 32×8's 4×-heavier signature payload
    * through the band exchange (64 vs 256 slots carried in every
    * exploded row) at equal recall.
    */
  def minHashClusters(
      docs: DataFrame,
      bands: Int = 16,
      rows: Int = 4,
      verifyThreshold: Double = 0.9,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Option[Int] = Some(4096),
      maxIter: Int = 25
  ): DataFrame = {
    // fps and repDocs each feed several consumers (signature scan,
    // verify scan, mapping init, final member re-attach) — checkpoint
    // them once instead of re-running scan+fingerprint+semi-join per
    // consumer. Both are one row per doc / per representative: tiny.
    val fps = docs.select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .localCheckpoint(eager = false)
    val reps = fps.groupBy("fp").agg(min("id").as("rep"))
    val docRep = fps.join(reps, "fp").select(col("id"), col("rep"))
    val repDocs = docs.join(reps.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint(eager = false)
    val edges0 = minHashPairs(repDocs, bands, rows, verifyThreshold, idCol, textCol, maxBucket)
      .select(col("da"), col("db"))
    // min-label contraction components over the verified edges — the
    // shared [[Components.minLabel]] engine (one checkpoint job per
    // shrinking round, mapping composed once after the loop)
    val mapping = Components.minLabel(edges0,
      repDocs.select(col(idCol).as("id")), maxIter)
    // members inherit their exact-dup representative's keeper (the
    // representative is the group minimum, so component minima are
    // unchanged — see scaladoc)
    docRep.join(mapping.select(col("id").as("rep"), col("lbl")), "rep")
      .select(col("id").as(idCol), col("lbl").as("keeper"))
  }

  /** SimHash near-dup groups via pigeonhole banding: split the 64-bit
    * simhash into 4 × 16-bit chunks; hamming ≤ 3 ⇒ at least one chunk
    * identical, so joining on (chunk-index, chunk-value) finds all such
    * pairs with one bucketed shuffle. Verification = bit_count(XOR).
    * A pair colliding in several chunks is emitted from its FIRST
    * matching chunk only ([[graft.functions.BandFirstMatch]] over the
    * two chunk arrays, map-side) — the same trick [[bandCandidates]]
    * uses, so there is no dedup exchange over the candidate stream.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // 4-chunk pigeonhole is exact only for hamming <= 3: at radius 4 a
    // pair can differ in every chunk and silently vanish — fail fast
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole banding is exact only for maxHamming <= 3, got $maxHamming")
    val sh = docs.select(col(idCol).as("id"), simHash64(col(textCol)).as("sh"))
    val keyed = sh.select(col("id"), col("sh"),
      array((0 until 4).map { j =>
        shiftright(col("sh"), j * 16).bitwiseAND(lit(0xFFFFL))
      }: _*).as("keys"))
    val chunked = keyed
      .select(col("id"), col("sh"), col("keys"),
        posexplode(col("keys")).as(Seq("ci", "cv")))
      // spread probe rows pre-join — see the matching comment in
      // minHashPairs; without it a single-file corpus runs the whole
      // within-chunk pair generation on one core
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"), col("ci"))
    chunked.as("x").join(chunked.as("y"), Seq("ci", "cv"))
      .filter(col("x.id") < col("y.id"))
      // first matching chunk keeps the pair; later chunks drop it —
      // dedup happens inside the join stage, nothing downstream ever
      // sees a duplicate
      .filter(ColumnBridge.column(graft.functions.BandFirstMatch(
        ColumnBridge.expression(col("x.keys")),
        ColumnBridge.expression(col("y.keys")))) === col("ci"))
      .select(col("x.id").as("da"), col("y.id").as("db"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash (see [[simHashPairs]]): per bit position k, sum ±1
    * over token hashes and take the sign. Native expression
    * (graft.functions.SimHash64) — one primitive loop per document.
    */
  def simHash64(textCol: Column): Column =
    ColumnBridge.column(graft.functions.SimHash64(
      ColumnBridge.expression(TextAnalysis.tokenSet(textCol))))

  /** Winnowing duplicate-detection pairs (Schleimer et al. 2003, the
    * MOSS algorithm; ref: SURVEY.md M6 "document fingerprinting"):
    * every k-token shingle is hashed, each sliding window of `w`
    * shingle hashes keeps its MINIMUM (so ~1/w of the positions are
    * selected, and any shared run of ≥ w+k−1 tokens is guaranteed to
    * share at least one selected fingerprint), and documents sharing
    * ≥ `minShared` selected fingerprints pair up with
    * containment = shared / min(|fpa|, |fpb|).
    *
    * Portable arithmetic throughout (md5-derived 60-bit shingle
    * hashes via [[TextAnalysis.winnowFingerprint]]'s pluggable hash) —
    * DuckDB replays the whole pipeline, so unlike the xxhash64
    * production fingerprint this variant is end-to-end oracled.
    *
    * Scale shape: fingerprint selection is a scan-stage projection
    * (zip-chain HOFs, no explode before selection); the posting-list
    * self-join is bucketed by fingerprint with a `maxDf` cap dropping
    * boilerplate fingerprints (df > maxDf) BEFORE pair generation —
    * the same hot-bucket lever as [[jaccardPairs]]' inverted index, so
    * no fingerprint emits more than maxDf²/2 candidate rows. Sizes for
    * the containment denominator are computed over the capped posting
    * set (both engines agree on the universe).
    */
  def winnowPairs(
      docs: DataFrame,
      k: Int = 4,
      w: Int = 4,
      minShared: Long = 2L,
      maxDf: Int = 32,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val portable: Column => Column =
      g => graft.functions.GraftFunctions.md5_prefix(g, 15)
    // each HOF level consumes the PREVIOUS level as a projected
    // attribute (toks → grams → mins): a nested single-expression form
    // re-evaluates its upstream tree at every reference — O(k·w)
    // normalize+hash passes per row — which measured 20.9 s at sf0.1
    // vs ~1 s staged (see the winnowFingerprint scaladoc)
    // native shingle + md5 kernels (r13 opt): one pass per doc instead
    // of an interpreted md5/conv lambda per gram — value-identical
    val gramsExpr = when(size(col("toks")) >= k,
        ColumnBridge.column(graft.functions.Md5Hash60Array(
          ColumnBridge.expression(TextAnalysis.shinglesOf(col("toks"), k)))))
      .otherwise(array(portable(concat_ws(" ", col("toks")))))
    val m = size(col("grams"))
    val minsChain = (1 until w).foldLeft(col("grams")) { (acc, j) =>
      zip_with(acc, slice(col("grams"), lit(j + 1), greatest(m - j, lit(0))),
        (a, b) => least(a, b))
    }
    val selected = array_distinct(
      when(m >= w, slice(minsChain, lit(1), m - (w - 1)))
        .otherwise(array(array_min(col("grams")))))
    // staged: the capped posting list feeds three consumers (both join
    // sides + the size table) — one fingerprint computation, not three
    val fps = docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), gramsExpr.as("grams"))
      .select(col("id"), explode(selected).as("fp"))
    val dfOk = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val capped = Funnel.stageLazy(fps.join(dfOk, Seq("fp"), "left_semi"))
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("n"))
    capped.as("x").join(capped.as("y"), "fp")
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("da"), col("y.id").as("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("id").as("db"), col("n").as("nb")), "db")
      .select(col("da"), col("db"), col("n_shared"),
        round(col("n_shared") / least(col("na"), col("nb")), 6).as("containment"))
  }

  /** Edit-distance pairs by DELETION-neighborhood indexing (SymSpell,
    * Garbe — public algorithm; the typo-level member of the dedup
    * family: misspelled vocabulary, typosquatted domains, OCR drift).
    * Two terms within Levenshtein distance d share a variant obtainable
    * by ≤ d deletions from each, so the candidate generator is an
    * EQUI-join on the deletion variant — O(len^d) index keys per term
    * instead of the O(V²) all-pairs scan, the same
    * candidates-then-verify discipline as every other generator here.
    * Verification is the codegen'd `levenshtein` built-in on the ≤
    * |candidates| surviving pairs.
    *
    * `maxDf` caps hot variants (short deletion remnants of 1-2-char
    * terms collide promiscuously — the inverted-index df-cap lever
    * again); a dropped variant can only lose pairs of ultra-short
    * terms, which a caller screens brute-force if it cares.
    *
    * Input: (term) — deduplicated internally. Output: (a, b, dist),
    * a < b, dist ≤ maxDist.
    */
  def editDistancePairs(terms: DataFrame, maxDist: Int, maxDf: Int = 1000): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist 1 or 2, got $maxDist")
    def dels(t: Column): Column = transform(sequence(lit(0), length(t) - 1),
      i => concat(t.substr(lit(1), i), t.substr(i + lit(2), length(t))))
    val t = terms.select(col("term")).filter(length(col("term")) > 0).distinct()
    val variants0 = concat(array(col("term")), dels(col("term")))
    val variants =
      if (maxDist == 1) variants0
      else concat(variants0, flatten(transform(dels(col("term")), v =>
        transform(sequence(lit(0), length(v) - 1),
          i => concat(v.substr(lit(1), i), v.substr(i + lit(2), length(v)))))))
    // the variant index is referenced by the df-cap aggregate AND the
    // cap join, and the capped index again by both join sides — stage
    // both so the term scan runs once, not 8× (lineage-duplication
    // class; the PlanSpec lock pins it)
    val idx = Funnel.stageLazy(t.select(col("term"), explode(array_distinct(variants)).as("v")))
    // NO SILENT CAPS (the discipline every other bounded operator here
    // follows): pairs that share ONLY a hotter-than-maxDf variant are
    // not emitted, so surface how many variants the cap dropped. The
    // count is one tiny aggregate over the already-checkpointed index —
    // the eager stage boundary above paid the scan.
    val nCapped = idx.groupBy("v").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).count()
    if (nCapped > 0)
      org.apache.logging.log4j.LogManager.getLogger("graft.Dedup").warn(
        s"editDistancePairs: $nCapped deletion variants exceeded maxDf=$maxDf and were dropped; " +
          "pairs sharing only capped variants are not emitted (raise maxDf to match a brute-force oracle)")
    val capped = Funnel.stageLazy(idx.join(
      idx.groupBy("v").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf).select("v"),
      "v"))
    capped.select(col("v"), col("term").as("a"))
      .join(capped.select(col("v"), col("term").as("b")), "v")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .filter(levenshtein(col("a"), col("b")) <= maxDist)
      .select(col("a"), col("b"), levenshtein(col("a"), col("b")).cast("long").as("dist"))
  }

  /** EXACT-substring duplication spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * method; MinHash is doc-level and approximate, this marks the exact
    * repeated REGIONS). The paper builds a corpus suffix array; a suffix
    * array does not distribute, but its output — every maximal region
    * whose length-≥-`minLen` substrings appear elsewhere in the corpus —
    * has an equivalent shuffle-native formulation:
    *
    *  1. slide a length-`minLen` character window over each doc:
    *     (doc_id, pos, md5(window)) — one explode, corpus-linear;
    *  2. a window position is DUPLICATED iff its hash occurs ≥ 2 times
    *     corpus-wide (a substring of length ≥ minLen is repeated iff
    *     each of its length-minLen windows is repeated) — one
    *     hash-partitioned groupBy + semi-join back;
    *  3. merge each doc's duplicated window positions into maximal char
    *     intervals [pos, pos+minLen) via the running-max interval merge
    *     — one user-keyed window pass, never a driver loop.
    *
    * Cost: two shuffles (window hash, doc_id), both on bounded keys;
    * the md5 can be swapped for xxhash64 off the oracle path. Hot
    * windows (a phrase repeated millions of times) add skew to the
    * count shuffle only — the count is a partial-aggregated sum, so
    * map-side combine absorbs it.
    *
    * Output: (doc_id, span_start, span_end) — 0-based char offsets,
    * end-exclusive, disjoint maximal duplicated regions per doc.
    */
  def substrDupSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 40): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val wins = docs
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"),
        explode(expr(
          s"transform(sequence(0, length($textCol) - $minLen), " +
            s"i -> struct(i AS pos, md5(substring($textCol, i + 1, $minLen)) AS h))")).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
    spansFromWindows(wins, minLen)
  }

  /** [[substrDupSpans]] with the O(n)-per-document Karp–Rabin kernel
    * ([[graft.functions.RollingWindowHashes]]) instead of an O(n·L) md5
    * per position — the production fast path. The OUTPUT is
    * hash-function-independent (spans depend only on which windows
    * collide, and both hashes are injective-in-practice at corpus
    * scale), so the md5 variant's oracle checks this one verbatim.
    */
  def substrDupSpansFast(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 40): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val hashes = ColumnBridge.column(graft.functions.RollingWindowHashes(
      ColumnBridge.expression(col(textCol)), minLen))
    val wins = docs
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"), posexplode(hashes).as(Seq("pos", "h")))
    spansFromWindows(wins, minLen)
  }

  /** Shared tail of the exact-substring family: stage the window table
    * (it fans out to the df count AND the probe), mark positions whose
    * hash occurs ≥ 2 times corpus-wide, and merge each doc's positions
    * into maximal [pos, pos+minLen) char intervals via the running-max
    * island pass.
    */
  private def spansFromWindows(wins: DataFrame, minLen: Int): DataFrame = {
    val winsS = Funnel.stageLazy(wins)
    val hot = winsS.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val dup = winsS.join(hot, "h").select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("pme", max(col("pos") + minLen)
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("ni", (col("pme").isNull || col("pos") > col("pme")).cast("int"))
      .withColumn("isl", sum("ni").over(w))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("span_start"), (max(col("pos")) + minLen).as("span_end"))
      .select(col("doc_id"), col("span_start").cast("long"), col("span_end").cast("long"))
  }

  /** Strip every duplicated region found by [[substrDupSpans]] from its
    * document (the paper's remove-all policy): spans collect per doc
    * (sorted, disjoint by construction) and the kept text is rebuilt by
    * one higher-order `aggregate` over the span array — scan-stage
    * arithmetic, no second corpus shuffle beyond the span join.
    * Output: (doc_id, text, kept) — `kept` is the stripped text.
    */
  def substrStrip(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 40): DataFrame = {
    // spans via the rolling-hash fast path — output is hash-independent
    // (the md5 oracle still checks the stripped text byte-for-byte)
    val spans = substrDupSpansFast(docs, idCol, textCol, minLen)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("spans"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("text")).otherwise(expr(
          // fold over spans: acc = (kept-so-far, cursor); each span
          // appends the gap before it and jumps the cursor past it;
          // finish appends the tail after the last span
          """aggregate(
            |  spans,
            |  struct(CAST('' AS STRING) AS acc, CAST(0 AS BIGINT) AS cur),
            |  (st, sp) -> struct(
            |    concat(st.acc, substring(text, CAST(st.cur + 1 AS INT), CAST(sp.span_start - st.cur AS INT))),
            |    sp.span_end),
            |  st -> concat(st.acc, substring(text, CAST(st.cur + 1 AS INT), length(text) - CAST(st.cur AS INT)))
            |)""".stripMargin)))
      .select(col("doc_id"), col("text"), col("kept"))
  }

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo 1995,
    * the merge/purge method) — the third blocking family next to
    * hash-bucket (LSH band / simhash chunk) and deletion-variant
    * (SymSpell): sort records by a key, compare each record only with
    * the `w−1` records after it in sort order, verify candidates with
    * an edit-distance gate. Catches near-duplicates whose hashes differ
    * everywhere but whose sort keys collide — the complementary recall
    * profile to banding.
    *
    * Scale shape: the sliding window is a PARTITIONED window — `blockFn`
    * (a sort-key prefix) both partitions the data and preserves the
    * neighborhood (records whose keys share the prefix sort adjacently
    * within one partition; pairs straddling a prefix boundary differ in
    * their leading characters and are out of edit range anyway, the
    * standard multi-pass-SNM argument). lead() materializes the window
    * pairs without a self-join; the verify is per-pair scan-stage work.
    *
    * Output: candidate pairs (a_id, b_id, dist ≤ maxDist) where b
    * follows a in (key, id) order.
    */
  def snmCandidates(
      records: DataFrame, // (id, key) — key the pre-normalized sort key
      w: Int,
      maxDist: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("blk").orderBy("key", "id")
    val leads = (1 until w).map(j => lead(struct(col("id"), col("key")), j).over(win))
    records
      .select(col("id"), col("key"), substring(col("key"), 1, 8).as("blk"))
      .select(col("id"), col("key"), array(leads: _*).as("ls"))
      .select(col("id").as("a_id"), col("key").as("a_key"), explode(col("ls")).as("b"))
      .filter(col("b").isNotNull)
      .select(col("a_id"), col("b.id").as("b_id"),
        levenshtein(col("a_key"), col("b.key")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter
    * 1969) with Winkler's EM parameter fit (Winkler 1988): given the
    * agreement-PATTERN table of a candidate-pair set — columns g1 g2 g3
    * ∈ {0,1} (the comparator outcomes) and n (pairs showing that
    * pattern) — estimate the match prevalence p and per-comparator
    * m/u probabilities under conditional independence, then score each
    * pattern with the match posterior and the log-likelihood ratio
    * ln(P(γ|M)/P(γ|U)) that classifies match / review / nonmatch.
    *
    * Determinism device (the [[graft.queries.PipelineQueries.docDoremi]]
    * integer-normalization posture): the per-pattern posterior w is
    * quantized to a BIGINT w9 = ⌊w·1e9 + ½⌋ BEFORE any cross-row sum,
    * so every EM moment (Σn·w9, Σn·w9·γ, Σn·(1e9−w9)·γ) is an exact
    * integer and each new parameter is ONE IEEE division rounded to 9
    * — no float accumulation order anywhere. Parameters clamp to
    * [1e-9, 1−1e-9] so a comparator that separates perfectly cannot
    * drive a zero likelihood into ln(0).
    *
    * Scale shape: EM runs entirely on the ≤2³-row pattern table; the
    * corpus-sized work is the upstream pattern COUNT (one aggregate
    * over the candidate pairs). Output: one row per pattern with n,
    * the fitted posterior, lnlr, and the decision.
    */
  def fellegiSunter(patterns: DataFrame, iters: Int): DataFrame = {
    val gs = Seq("g1", "g2", "g3")
    val s = patterns.sparkSession
    def clamp(c: Column): Column = greatest(lit(1e-9), least(lit(1.0 - 1e-9), c))
    var params = s.range(1).select(
      (lit(0.1).as("p") +: gs.flatMap(g =>
        Seq(lit(0.9).as(s"m_$g"), lit(0.1).as(s"u_$g")))): _*)
    def pm = gs.map(g => when(col(g) === 1, col(s"m_$g"))
      .otherwise(lit(1.0) - col(s"m_$g"))).reduce(_ * _)
    def pu = gs.map(g => when(col(g) === 1, col(s"u_$g"))
      .otherwise(lit(1.0) - col(s"u_$g"))).reduce(_ * _)
    def w9 = floor(col("p") * col("pm")
      / (col("p") * col("pm") + (lit(1.0) - col("p")) * col("pu")) * 1e9 + 0.5)
      .cast("long")
    for (_ <- 1 to iters) {
      val e = patterns.crossJoin(broadcast(params))
        .withColumn("pm", pm).withColumn("pu", pu)
        .withColumn("w9", w9)
      val aggs =
        clamp(round(sum(col("n") * col("w9")).cast("double")
          / (sum(col("n")) * lit(1e9)), 9)).as("p") +:
        gs.flatMap(g => Seq(
          clamp(round(sum(col("n") * col("w9") * col(g)).cast("double")
            / sum(col("n") * col("w9")).cast("double"), 9)).as(s"m_$g"),
          clamp(round(sum(col("n") * (lit(1000000000L) - col("w9")) * col(g)).cast("double")
            / sum(col("n") * (lit(1000000000L) - col("w9"))).cast("double"), 9)).as(s"u_$g")))
      params = e.agg(aggs.head, aggs.tail: _*).localCheckpoint(eager = false)
    }
    patterns.crossJoin(broadcast(params))
      .withColumn("pm", pm).withColumn("pu", pu)
      .select(gs.map(col) ++ Seq(col("n"),
        round(col("p") * col("pm")
          / (col("p") * col("pm") + (lit(1.0) - col("p")) * col("pu")), 6).as("w_match"),
        round(log(col("pm") / col("pu")), 6).as("lnlr")): _*)
      .withColumn("decision",
        when(col("lnlr") >= 2.3, "match")
          .when(col("lnlr") <= -2.3, "nonmatch")
          .otherwise("review"))
  }
}
