package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines (SURVEY.md
  * M6 extensions): repetition filtering, PII scrubbing, per-domain caps,
  * weighted epoch mixing, and semantic (centroid-distance) outlier
  * scoring.
  *
  * Scale design mirrors [[TextAnalysis]]: every per-document operator is
  * a pure Column expression (codegen'd higher-order functions / regex
  * built-ins) evaluated inside the scan stage — zero shuffle, no UDFs in
  * the hot path. The two whole-corpus operators are shaped so nothing
  * quadratic or driver-side exists: the domain cap is a bounded
  * two-phase aggregate (never a global per-domain window) and centroid
  * scoring broadcasts the tiny centroid table back over a second scan.
  */
object Curation {

  // ---------------------------------------------------------------- //
  // Repetition metrics (Gopher-style quality filters)                //
  // ---------------------------------------------------------------- //

  /** Gopher-style repetition statistics (Rae et al. 2021 §A1.1, public
    * literature): token distinctness, most-frequent-word mass, and
    * duplicate-2-gram mass. High values of the last two mark
    * boilerplate / degenerate repetition that a curation pipeline drops
    * before training. All pure array expressions over the token list —
    * per-row work only, embarrassingly parallel at 100 TB. The top-word
    * count is ONE fold over the sorted token array (longest equal run =
    * most frequent word, O(n log n) per doc) — never the per-distinct
    * rescan, which is O(distinct · n) and dominates on real 10³–10⁵-token
    * documents (see LongDocSpec).
    */
  def repetitionMetrics(text: Column): Seq[(String, Column)] = {
    val toks = TextAnalysis.tokens(text)
    val n = size(toks)
    val dist = array_distinct(toks)
    val grams = TextAnalysis.shingles(text, 2)
    val ng = size(grams)
    // longest run in the sorted array: carry (previous token, current
    // run length, best run length) through a single aggregate fold
    val topCnt = aggregate(
      sort_array(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    Seq(
      "n_tokens" -> n.cast("long"),
      "distinct_frac" -> round(size(dist) * lit(1.0) / n, 6),
      "top_word_frac" -> round(topCnt * lit(1.0) / n, 6),
      "dup_2gram_frac" -> round(
        when(ng > 0, (ng - size(array_distinct(grams))) * lit(1.0) / ng)
          .otherwise(lit(0.0)), 6))
  }

  // ---------------------------------------------------------------- //
  // PII scrubbing                                                    //
  // ---------------------------------------------------------------- //

  /** Email addresses (conservative RFC-ish pattern). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 literals. */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** US-style 7-digit phone fragment NNN-NNNN. */
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Redact emails, then IPv4s, then phone fragments — widest pattern
    * first so the narrower numeric patterns never match inside an
    * already-redacted span. Spark regexp_replace is global, same as the
    * oracle's 'g' flag.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-document PII hit counts + scrubbed-text digest. Phone counts
    * run on the email/IP-scrubbed text (matching [[scrubPii]]'s order)
    * so a digit run inside an email or IP is never double-counted.
    */
  def piiColumns(text: Column): Seq[(String, Column)] = {
    val noEmailIp =
      regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")
    val scrubbed = regexp_replace(noEmailIp, PhoneRe, "<PHONE>")
    Seq(
      "n_email" -> regexp_count(text, lit(EmailRe)).cast("long"),
      "n_phone" -> regexp_count(noEmailIp, lit(PhoneRe)).cast("long"),
      "n_ip" -> regexp_count(text, lit(Ipv4Re)).cast("long"),
      "scrub_fp" -> md5(scrubbed),
      "scrub_len" -> length(scrubbed).cast("long"))
  }

  // ---------------------------------------------------------------- //
  // Per-domain cap                                                   //
  // ---------------------------------------------------------------- //

  /** Bounded keep-list aggregator: retains the `cap` smallest
    * (priority, id) pairs. `merge` is associative and the buffer is
    * capped, so Catalyst runs it as partial + final aggregation — each
    * scan partition ships at most `cap` rows per domain, making the
    * shuffle O(domains · cap · partitions) regardless of corpus size.
    */
  private final class KeepKAgg(cap: Int)
      extends Aggregator[(String, Long), Seq[(String, Long)], Seq[(String, Long)]]
      with Serializable {
    override def zero: Seq[(String, Long)] = Vector.empty
    override def reduce(b: Seq[(String, Long)], a: (String, Long)): Seq[(String, Long)] =
      if (b.length >= cap && Ordering[(String, Long)].lt(b.last, a)) b
      else (b :+ a).sorted.take(cap)
    override def merge(x: Seq[(String, Long)], y: Seq[(String, Long)]): Seq[(String, Long)] =
      (x ++ y).sorted.take(cap)
    override def finish(r: Seq[(String, Long)]): Seq[(String, Long)] = r.sorted
    override def bufferEncoder: Encoder[Seq[(String, Long)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[(String, Long)]] = ExpressionEncoder()
  }

  /** Per-domain document cap (CCNet / RefinedWeb-style anti-dominance
    * dedup, public literature): keep at most `cap` documents per domain,
    * chosen by a deterministic hash priority (md5 of the id) so the kept
    * subset is a uniform sample, stable across runs and partitionings.
    *
    * Deliberately NOT the `row_number() OVER (PARTITION BY domain)`
    * rewrite: a global window funnels every row of a hot domain into one
    * task — at 100 TB a single dominant domain is the norm, not the
    * exception. The bounded two-phase aggregate ships ≤ cap rows per
    * (domain, partition) and one hot domain costs O(cap · partitions).
    *
    * Output: (domain, id, rn) with rn the 1-based priority rank.
    */
  def domainCap(docs: DataFrame, domainCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap") // cap=0 would read .last of an empty buffer
    val keep = udaf(new KeepKAgg(cap), ExpressionEncoder[(String, Long)]())
    docs
      .select(col(domainCol).as("domain"), col(idCol).cast("long").as("id"))
      .withColumn("pri", md5(col("id").cast("string")))
      .groupBy("domain")
      .agg(keep(col("pri"), col("id")).as("kept"))
      .select(col("domain"), posexplode(col("kept")))
      .select(col("domain"), col("col._2").as("id"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  // ---------------------------------------------------------------- //
  // Deterministic train/val/test split                               //
  // ---------------------------------------------------------------- //

  /** Deterministic hash split: assign each row to a named fraction
    * bucket by the md5 of its id — stable across runs, partitionings,
    * and engines (the property that matters: a doc NEVER migrates
    * between train and test when the corpus grows). `fractions` are
    * cumulative-checked to sum to 1. Pure per-row predicate in the scan
    * stage — zero shuffle.
    */
  def hashSplit(docs: DataFrame, idCol: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0), "fractions must be positive")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    // first 8 md5 hex chars as a uniform draw in [0, 1) — native
    // codegen'd digest (r14 opt), value-identical to the conv chain
    val u = graft.functions.GraftFunctions.md5_prefix(col(idCol).cast("string"), 8)
      .cast("double") / lit(4294967296.0)
    val cut = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val assign = fractions.map(_._1).zip(cut).reverse
      .foldLeft(lit(fractions.last._1)) { case (els, (name, c)) =>
        when(u < c, name).otherwise(els)
      }
    docs.withColumn("split", assign)
  }

  // ---------------------------------------------------------------- //
  // Weighted epoch mixing                                            //
  // ---------------------------------------------------------------- //

  /** Deterministic weighted epoch mixing: repeat each document
    * weight(stratum) times with a 1-based epoch index — the standard
    * "upsample high-quality strata N epochs" mixture step of a training
    * run. A pure generator (explode of a sequence) inside the scan
    * stage: zero shuffle, and the blow-up factor is exactly the mixture
    * weight applied streaming — the repeated corpus is never
    * materialized.
    */
  def epochMix(docs: DataFrame, stratumCol: String, weights: Map[String, Int],
      defaultWeight: Int = 1): DataFrame = {
    val wt = coalesce(element_at(typedLit(weights), col(stratumCol)), lit(defaultWeight))
    // weight ≤ 0 must DROP the stratum: Spark's sequence(1, 0) counts
    // DOWN ([1, 0]) instead of being empty, so guard explicitly —
    // exploding an empty array erases the row, matching range(1, w+1)
    // semantics everywhere
    docs.withColumn("epoch",
      explode(when(wt >= 1, sequence(lit(1L), wt.cast("long")))
        .otherwise(array().cast("array<bigint>"))))
  }

  // ---------------------------------------------------------------- //
  // Content-defined chunking                                         //
  // ---------------------------------------------------------------- //

  /** Content-defined chunking (rsync/FastCDC idea, public literature,
    * applied at token granularity): a chunk boundary falls AFTER any
    * token whose md5-derived hash ≡ 0 (mod `divisor`) — so boundaries
    * depend only on local content, and inserting one token near the
    * start of a document shifts ONE chunk instead of re-aligning every
    * fixed-size window (the property that makes downstream chunk-level
    * dedup robust to edits). Expected chunk length = `divisor` tokens;
    * the tail chunk may be shorter.
    *
    * Pure scan-stage column work, LINEAR in document length: per-token
    * hash, the (sparse) list of chunk-ending token positions, then one
    * `transform` over that list slices out each chunk and fingerprints
    * it in place — O(tokens) total per doc, ZERO shuffle (the old
    * explode→per-position-prefix-scan→regroup shape was O(tokens²) per
    * doc and paid a (id, chunk) exchange; see LongDocSpec for the
    * 50k-token guard).
    *
    * Returns one row per chunk: (id, chunk, n_chunk_tokens, chunk_fp).
    */
  def cdcChunks(docs: DataFrame, divisor: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // ONE native digest pass ([[Md5Hash60Array]], r14 opt) feeds a
    // trivial integer transform — value-identical to the old per-token
    // interpreted md5/conv lambda
    val hashes = transform(
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.Md5Hash60Array(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(toks))),
      h => pmod(h, lit(divisor.toLong)))
    // 0-based positions of chunk-ENDING tokens: every boundary token
    // (hash ≡ 0), plus the final token when the doc does not end on a
    // boundary (tail chunk). `get` is 0-based and null-safe; a null
    // last-boundary comparison falls through `when` to the append arm.
    val lastBnd = get(col("bnd"), size(col("bnd")) - 1)
    docs
      .select(col(idCol).cast("long").as("id"), toks.as("toks"), hashes.as("hs"))
      .select(col("id"), col("toks"),
        filter(transform(col("hs"), (h, i) => when(h === 0L, i)), x => x.isNotNull).as("bnd"))
      .select(col("id"), col("toks"),
        when(size(col("toks")) === 0, array().cast("array<int>"))
          .when(lastBnd === size(col("toks")) - 1, col("bnd"))
          .otherwise(concat(col("bnd"), array(size(col("toks")) - 1))).as("ends"))
      .select(col("id"), posexplode(
        transform(col("ends"), (e, j) => {
          // previous chunk's end (0-based), −1 before the first chunk;
          // element_at is 1-based so index j IS the (j−1)-th element
          val prevEnd = coalesce(when(j > 0, element_at(col("ends"), j)), lit(-1))
          val len = e - prevEnd
          struct(len.cast("long").as("n_chunk_tokens"),
            md5(concat_ws(" ", slice(col("toks"), prevEnd + lit(2), len))).as("chunk_fp"))
        })).as(Seq("chunk", "c")))
      .select(col("id"), col("chunk").cast("long").as("chunk"),
        col("c.n_chunk_tokens").as("n_chunk_tokens"), col("c.chunk_fp").as("chunk_fp"))
  }

  // ---------------------------------------------------------------- //
  // Chunk-level (paragraph) dedup with document reassembly           //
  // ---------------------------------------------------------------- //

  /** CCNet-style sub-document exact dedup (Wenzek et al. 2020, public
    * literature): split every document into consecutive `chunkTokens`-
    * token chunks, drop every chunk whose exact text already occurred
    * earlier in the corpus (first owner = smallest (doc, chunk-index)),
    * and reassemble what's left. This removes repeated boilerplate
    * (headers, navigation, license blocks) that document-level dedup
    * can't touch.
    *
    * Scale shape: chunking is a scan-stage generator; ownership is ONE
    * hash shuffle keyed on the chunk fingerprint with map-side partial
    * min (the exact-dedup shape); reassembly is one shuffle keyed on
    * doc id. No windows, no cartesian anything; both exchanges are on
    * high-cardinality keys, so the plan survives 100 TB unchanged.
    *
    * Output: (id, n_chunks, n_kept, clean_fp) — clean_fp the md5 of the
    * space-joined surviving chunks (md5("") when every chunk was a
    * repeat).
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = chunkTokens
    val chunks = docs
      .select(col(idCol).cast("long").as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) + lit(k - 1)) / lit(k)).cast("int") - 1)).as("ci"))
      .select(col("id"), col("ci"),
        concat_ws(" ", slice(col("toks"), col("ci") * k + 1, lit(k))).as("ctext"))
      .withColumn("fp", md5(col("ctext")))
    // first owner = lexicographic min of (id, chunk-index) — a struct
    // min is a single aggregate with no packing bounds to overflow
    val owners = chunks.groupBy("fp")
      .agg(min(struct(col("id"), col("ci"))).as("owner"))
    val kept = chunks.join(owners, "fp")
      .filter(struct(col("id"), col("ci")) === col("owner"))
    val reassembled = kept
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("ci"), col("ctext")))).as("parts"))
      .select(col("id"), col("n_kept"),
        md5(concat_ws(" ", transform(col("parts"), p => p.getField("ctext")))).as("clean_fp"))
    chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
  }

  // ---------------------------------------------------------------- //
  // Token-budget corpus snapshot                                     //
  // ---------------------------------------------------------------- //

  /** Deterministic token-budget snapshot — the "cut an N-token training
    * subset out of the corpus" step: order documents by a stable md5
    * priority (a uniform draw, so the kept subset is an unbiased sample,
    * reproducible across runs, partitionings, and engines) and keep the
    * maximal prefix whose running token total stays within `budget`.
    *
    * The defining semantics is `sum(n) OVER (ORDER BY priority)` — but a
    * GLOBAL ordered window funnels the whole corpus through ONE task
    * (the classic scale-killer, same family as the per-query window
    * [[Similarity]] refuses). Instead, a two-phase distributed prefix
    * sum: (1) bucket each doc by the leading byte of its priority —
    * buckets are priority-CONTIGUOUS, so per-bucket token totals (one
    * partial-aggregating scan, 256 rows out) give each bucket's
    * exclusive global offset via a window over just those 256 rows;
    * (2) broadcast the offsets back and run the ordered window WITHIN
    * each bucket — 256-way parallel, each task holding ~1/256 of the
    * corpus. Identical arithmetic to the global window (integer sums —
    * engine-exact), which is exactly what the oracle replays.
    *
    * Output: (id, n_tokens, cum_tokens) for kept docs — cum_tokens the
    * running total including the doc itself.
    */
  def corpusBudget(docs: DataFrame, budget: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val t = docs.select(col(idCol).cast("long").as("id"),
      TextAnalysis.tokenCount(col(textCol)).as("n"),
      md5(col(idCol).cast("string")).as("pri"))
      .withColumn("bucket", substring(col("pri"), 1, 2))
    // 256 bucket totals → exclusive offsets; the single-partition window
    // here touches 256 aggregated rows, never the corpus
    val offsets = t.groupBy("bucket").agg(sum("n").as("bn"))
      .withColumn("off",
        coalesce(sum("bn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "off")
    val wInBucket = Window.partitionBy("bucket").orderBy("pri", "id")
    t.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("off") + sum("n").over(wInBucket))
      .filter(col("cum") <= budget)
      .select(col("id"), col("n").as("n_tokens"), col("cum").as("cum_tokens"))
  }

  /** Stratified token-budget snapshot — the mixture-building step
    * ("N tokens of web, M of code, …"): [[corpusBudget]]'s semantics
    * applied independently per stratum, each with its own budget.
    * Same 256-way bucketed two-phase prefix sum, with every window and
    * aggregate additionally keyed by the stratum — a hot stratum
    * (80 %-one-language corpora are the norm) still spreads over 256
    * bucket tasks. Strata absent from `budgets` get `defaultBudget`.
    *
    * Output: (stratum, id, n_tokens, cum_tokens) for kept docs, with
    * cum_tokens the running within-stratum total.
    */
  def corpusBudgetByStratum(docs: DataFrame, budgets: Map[String, Long],
      stratumCol: String, idCol: String = "doc_id", textCol: String = "text",
      defaultBudget: Long = 0L): DataFrame = {
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0, "budgets must be >= 0")
    val budgetCol = coalesce(element_at(typedLit(budgets), col("stratum")), lit(defaultBudget))
    stratumPrefix(docs, stratumCol, idCol, textCol)
      .filter(col("cum") <= budgetCol)
      .select(col("stratum"), col("id"), col("n").as("n_tokens"), col("cum").as("cum_tokens"))
  }

  /** [[corpusBudgetByStratum]] with the budgets as DATA — a
    * (stratum, budget) DataFrame, broadcast-joined — instead of a
    * driver-side Map. This is the composable form: an upstream
    * allocator (e.g. [[waterfill]]) computes budgets distributedly and
    * they never round-trip through the driver. Strata absent from
    * `budgets` are dropped (inner join) — the allocator owns the
    * stratum universe.
    */
  def corpusBudgetByStratum(docs: DataFrame, budgets: DataFrame,
      stratumCol: String, idCol: String, textCol: String): DataFrame =
    stratumPrefix(docs, stratumCol, idCol, textCol)
      .join(broadcast(budgets.select(col("stratum"), col("budget"))), Seq("stratum"))
      .filter(col("cum") <= col("budget"))
      .select(col("stratum"), col("id"), col("n").as("n_tokens"), col("cum").as("cum_tokens"))

  /** Shared prefix-sum core of the stratified budget cuts: per-stratum
    * md5-ordered running token totals via the 256-way bucketed
    * two-phase sum (see [[corpusBudget]]).
    */
  private def stratumPrefix(docs: DataFrame, stratumCol: String,
      idCol: String, textCol: String): DataFrame = {
    val t = docs.select(col(stratumCol).as("stratum"),
      col(idCol).cast("long").as("id"),
      TextAnalysis.tokenCount(col(textCol)).as("n"),
      md5(col(idCol).cast("string")).as("pri"))
      .withColumn("bucket", substring(col("pri"), 1, 2))
    val offsets = t.groupBy("stratum", "bucket").agg(sum("n").as("bn"))
      .withColumn("off",
        coalesce(sum("bn").over(Window.partitionBy("stratum").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("stratum", "bucket", "off")
    val wInBucket = Window.partitionBy("stratum", "bucket").orderBy("pri", "id")
    t.join(broadcast(offsets), Seq("stratum", "bucket"))
      .withColumn("cum", col("off") + sum("n").over(wInBucket))
  }

  /** Model-based quality scoring — the fasttext-classifier step of
    * CCNet/RefinedWeb-style pipelines (Wenzek 2020 §4: a linear
    * classifier over hashed token features gates documents before the
    * expensive stages), with the model already trained: token →
    * hashed feature bucket → weight lookup, mean weight = logit,
    * sigmoid = score, keep at 0.5.
    *
    * Scale shape: the model is a LITERAL array riding the plan (a real
    * fasttext model broadcasts the same way); scoring is one
    * `aggregate` fold over the token array inside the scan stage —
    * zero shuffles, embarrassingly parallel, the ideal 100-TB filter.
    * Weights are integer milli-units so the fold is exact integer
    * arithmetic on both engines; only the final mean/sigmoid is
    * floating point, rounded before and after `exp`.
    *
    * Returns (logit, score, keep) columns over a token-array COLUMN —
    * pass a projected attribute (see the stacked-HOF caveat on
    * [[TextAnalysis.winnowFingerprint]]).
    */
  def qualityModelColumns(toks: Column, weightsMilli: Seq[Long],
      buckets: Int): Seq[(String, Column)] = {
    require(weightsMilli.length == buckets, s"need $buckets weights, got ${weightsMilli.length}")
    val w = typedLit(weightsMilli)
    // ONE native digest pass hashes every token ([[Md5Hash60Array]]);
    // the first 4 hex chars are the 60-bit hash's top 16 bits, so
    // shiftright(h, 44) % buckets is value-identical to the old
    // conv(substring(md5(t), 1, 4), 16, 10) % buckets — the remaining
    // fold only does integer arithmetic per element (r14 opt)
    val hs = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Md5Hash60Array(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(toks)))
    val bucket = (h: Column) => (shiftright(h, 44) % buckets).cast("int")
    val sumMilli = aggregate(hs, lit(0L), (acc, h) => acc + element_at(w, bucket(h) + 1))
    val logit = round(sumMilli / (lit(1000.0) * size(toks)), 6)
    val score = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
    Seq("logit" -> logit, "score" -> score, "keep" -> (score >= 0.5))
  }

  /** TRAIN the quality classifier [[qualityModelColumns]] only applies
    * (the fastText-style weak-supervision step of a CCNet-class
    * pipeline: label a slice heuristically, fit a linear model over
    * hashed token features, score the rest of the corpus): full-batch
    * logistic-regression gradient descent, `iters` unrolled rounds of
    *   z_d = Σ_b x_db·w_b,  p_d = σ(z_d),
    *   g_b = Σ_d x_db·(p_d − y_d)/N,  w ← w − lr·g
    * with x the per-doc hashed-bucket term frequency (same md5-prefix
    * bucketing as [[Sampling.dsirWeights]]).
    *
    * Scale shape — the SQL-native twin of MLlib's treeAggregate loop:
    * the feature table is built once and staged ([[Funnel.stageLazy]] —
    * every round reads it twice); per round the B-row model BROADCASTS
    * to a feature-table scan (z: one doc-keyed aggregate), the
    * gradient is one bucket-keyed aggregate with map-side partials,
    * and the new model is staged so round t+1's lineage doesn't replay
    * round t. Nothing driver-side; N rides along as a broadcast
    * 1-row aggregate. Intermediate z/p/g round to 9 decimals so the
    * whole trajectory replays bit-identically in the DuckDB oracle
    * (the [[Similarity.kmeansCentroids]] determinism discipline).
    *
    * Output: (bucket, weight) over the full bucket domain, weights
    * rounded to 6.
    */
  def trainQualityModel(docs: DataFrame, label: Column, buckets: Int,
      iters: Int, lr: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0 && buckets <= 65536, s"buckets must fit 4 hex digits, got $buckets")
    val s = docs.sparkSession
    val tf = Funnel.stageLazy(docs
      .select(col(idCol).cast("long").as("id"), label.cast("double").as("y"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("y"), size(col("toks")).cast("double").as("n"),
        explode(col("toks")).as("tok"))
      .groupBy(col("id"), col("y"), col("n"),
        pmod(graft.functions.GraftFunctions.md5_prefix(col("tok"), 4),
          lit(buckets.toLong)).as("b"))
      .agg((count(lit(1)) / col("n")).as("x")))
    val nD = broadcast(tf.select(countDistinct("id").as("nd")))
    var w: DataFrame = s.range(buckets).select(col("id").as("b"), lit(0.0).as("w"))
    for (_ <- 1 to iters) {
      val p = tf.join(broadcast(w), Seq("b"), "left")
        .groupBy("id", "y")
        .agg(round(sum(col("x") * coalesce(col("w"), lit(0.0))), 9).as("z"))
        .select(col("id"), col("y"),
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 9).as("p"))
      val grad = tf.join(p.select("id", "p"), "id")
        .crossJoin(nD)
        .groupBy("b")
        .agg(round(sum(col("x") * (col("p") - col("y"))) / first("nd"), 9).as("g"))
      w = Funnel.stageLazy(w.join(grad, Seq("b"), "left")
        .select(col("b"), round(col("w") - coalesce(col("g"), lit(0.0)) * lr, 9).as("w")))
    }
    w.select(col("b").as("bucket"), round(col("w"), 6).as("weight"))
  }

  /** Deterministic pretend-trained weight table for
    * [[qualityModelColumns]] demos/oracles: bucket b ↦
    * (md5(b) mod 2001) − 1000 milli-units, embedded as literals on
    * both engines (a real model's weights ship the same way).
    */
  def demoWeightsMilli(buckets: Int): Seq[Long] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until buckets).map { b =>
      val hex = digest.digest(b.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
  }

  /** Water-filling budget allocation across strata — the mixture-design
    * step that decides HOW MANY tokens each source contributes before
    * [[corpusBudgetByStratum]] cuts the per-source snapshots: allocate
    * `budget` tokens across strata as alloc_i = min(cap_i, θ) with the
    * single water level θ chosen so Σ alloc = budget (uniform fill;
    * sources too small to reach the level are taken whole — "saturated"
    * — and the remainder re-levels among the rest). The classic capped
    * fair-share allocation; closed form via the ascending-caps prefix
    * sum: with caps sorted ascending, f(i) = cap_i·(n−i+1) + P_{i−1} is
    * nondecreasing, the saturated set is exactly the prefix where
    * f(i) ≤ budget, and θ = (budget − P_k)/(n − k) for the k saturated
    * strata. If budget ≥ Σ cap every stratum saturates and θ is moot.
    *
    * Scale shape: the per-stratum cap table is the output of one hash
    * aggregate over the corpus; everything after runs windows over
    * |strata| aggregated rows (tens — a mixture has few components),
    * the same bounded-window class as [[corpusBudget]]'s 256 offsets.
    *
    * Output: (stratum, cap, saturated, alloc) with θ-allocations
    * rounded to 6 decimals; Σ alloc = budget up to that rounding.
    */
  def waterfill(caps: DataFrame, budget: Long,
      stratumCol: String = "stratum", capCol: String = "cap"): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val w = Window.orderBy(capCol, stratumCol)
    val t = caps.select(col(stratumCol).as("stratum"), col(capCol).as("cap"))
      .withColumn("i", row_number().over(w))
      .withColumn("p", sum("cap").over(w)) // inclusive prefix sum
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("saturated",
        col("cap") * (col("n") - col("i") + 1) + (col("p") - col("cap")) <= budget)
    val agg = Window.partitionBy()
    t.withColumn("k", sum(when(col("saturated"), 1L).otherwise(0L)).over(agg))
      .withColumn("pk", sum(when(col("saturated"), col("cap")).otherwise(0L)).over(agg))
      .withColumn("theta",
        when(col("k") < col("n"),
          round((lit(budget) - col("pk")) / (col("n") - col("k")), 6)))
      .select(col("stratum"), col("cap"), col("saturated"),
        when(col("saturated"), col("cap").cast("double"))
          .otherwise(col("theta")).as("alloc"))
  }

  // ---------------------------------------------------------------- //
  // Semantic outlier scoring (centroid distance)                     //
  // ---------------------------------------------------------------- //

  /** SemDeDup-style semantic scoring (Abbas et al. 2023, public
    * literature): cosine of every embedding to its class centroid — low
    * scores mark semantic outliers / mislabeled points, extreme-high
    * scores mark semantic near-duplicates of the class core.
    *
    * Scale shape: posexplode to (label, pos, component) feeds a hash
    * aggregate whose partial (map-side) phase reduces each scan
    * partition to dim · |labels| rows; the assembled centroid table is
    * tiny and is BROADCAST back over a second corpus scan. The corpus
    * itself never shuffles. Centroid components are rounded to 6
    * decimals so partial-agg summation order cannot leak into the
    * score; the cosine is the explicit sequential dot / sqrt(‖a‖²·‖b‖²)
    * fold that the oracle mirrors term-for-term.
    *
    * Output: (id, label, cos_centroid) with cos rounded to 4 decimals.
    */
  def centroidScores(emb: DataFrame, labelCol: String = "label",
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      col(embCol).cast("array<double>").as("e"))
    val centroids = e
      .select(col("lbl"), posexplode(col("e")))
      .groupBy("lbl", "pos").agg(round(avg("col"), 6).as("c"))
      .groupBy("lbl")
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("lbl"), transform(col("pc"), x => x.getField("c")).as("ce"))
    e.join(broadcast(centroids), "lbl")
      .select(col("id"), col("lbl"),
        round(graft.functions.GraftFunctions.cosine_double(col("e"), col("ce")), 4)
          .as("cos_centroid"))
  }

  // ---------------------------------------------------------------- //
  // Corpus-duplicated n-gram fraction                                //
  // ---------------------------------------------------------------- //

  /** Fraction of each document's distinct k-gram shingles that occur in
    * at least one OTHER document — the cross-document duplication
    * metric (RefinedWeb / Penedo et al. 2023 report it as a filter
    * signal; [[repetitionMetrics]] covers the WITHIN-document repeats,
    * this covers boilerplate shared ACROSS pages that document-level
    * dedup missed and chunk dedup only catches at chunk granularity).
    *
    * Scale shape: distinct shingles per doc are a scan-stage array op;
    * document frequency is ONE shingle-keyed hash aggregate with
    * map-side partials; the join back is shingle-keyed too, so both
    * exchanges ride high-cardinality keys (no hot-key funnel — a
    * shingle's df counts DOCUMENTS, and `array_distinct` bounds each
    * doc's contribution to 1). The per-doc roll-up is the usual
    * doc-keyed aggregate.
    *
    * Output: (id, n_shingles, n_dup, dup_frac) — docs shorter than k
    * tokens emit no shingles and are absent, matching the oracle.
    */
  def dupNgramFraction(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol).cast("long").as("id"),
      explode(array_distinct(TextAnalysis.shingles(col(textCol), k))).as("sh"))
    // only the DUPLICATED shingles matter downstream — filtering the df
    // table to df>1 before the join shrinks the build side to the
    // (sparse) boilerplate set instead of the whole shingle vocabulary
    val dups = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select(col("sh"), lit(1L).as("is_dup"))
    sh.join(dups, Seq("sh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(coalesce(col("is_dup"), lit(0L))).cast("long").as("n_dup"))
      .withColumn("dup_frac", round(col("n_dup").cast("double") / col("n_shingles"), 6))
  }

  /** Exact-substring duplication coverage (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", public
    * literature — the ExactSubstr criterion, with the suffix array
    * replaced by a distributed k-gram occurrence count): the fraction
    * of each document's TOKENS covered by some length-k window whose
    * exact text occurs at least twice in the corpus (cross-doc or
    * within-doc). [[dupNgramFraction]] counts duplicated windows; this
    * measures how much of the document they blanket — the number Lee et
    * al. cut on.
    *
    * Scale shape: every token position emits one k-gram (posexplode in
    * the scan stage); occurrence counting is ONE shingle-keyed hash
    * aggregate; the count joins back shingle-keyed (AQE skew-split
    * handles mega-hot boilerplate shingles); coverage is computed in
    * the ARRAY domain per doc — positions collect to one sorted array
    * and a single `transform` sums interval-union lengths, O(positions)
    * per doc with no window function.
    *
    * Output: (id, n_tokens, covered_tokens, coverage_frac) for docs
    * with ≥ k tokens.
    */
  /** Line-level boilerplate removal (CCNet / Wenzek 2020 §3.1 and
    * RefinedWeb / Penedo 2023 line-wise dedup, public literature): a
    * line whose exact text appears in at least `minDocs` DISTINCT
    * documents is boilerplate (headers, footers, nav bars, licence
    * blocks — the repeated furniture document-level dedup can't see)
    * and is struck from every document; the survivors are re-joined in
    * original order.
    *
    * Scale shape: the line explode is linear in the corpus and the
    * exploded table is a [[Funnel.stageLazy]] boundary — THREE consumers
    * (the df aggregate, the strip anti-join, the per-doc roll-up) read
    * it, and without the boundary each would replay the full corpus
    * scan+explode. The frequent-line key set is sparse by construction
    * (only lines crossing the df threshold) so the anti-join
    * broadcasts; the rebuild is one doc-keyed aggregate that restores
    * order in the array domain (`array_sort` on (pos, line) structs —
    * no per-doc window).
    *
    * Output: (id, n_lines, n_kept, kept_text) — one row per input
    * document, `kept_text` empty when every line was boilerplate.
    *
    * `prior` (hl, df) carries distinct-doc counts accumulated from
    * EARLIER data, keyed by `xxhash64(line)` — the incremental form: a
    * micro-batch strips against prior knowledge plus its own counts, so
    * the decision for a line is identical to what a batch run over
    * everything-so-far would make (see `q_stream_boilerplate`).
    *
    * The line TEXT is only a count/join IDENTITY in the df path (it
    * never reaches the output from that side — `kept_text` rebuilds
    * from the doc-keyed explode), so the df exchanges and the prior
    * store carry `xxhash64(line)` instead of the raw string (guide
    * §2.3; the [[graft.functions.TokenHashes]] 2⁻⁶⁴-collision
    * argument — r14 opt).
    */
  def stripBoilerplate(docs: DataFrame, minDocs: Int,
      idCol: String = "doc_id", textCol: String = "text",
      prior: Option[DataFrame] = None): DataFrame = {
    val lines = Funnel.stageLazy(docs.select(col(idCol).cast("long").as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line"))))
    val own = lines.select(col("id"), xxhash64(col("line")).as("hl")).distinct()
      .groupBy("hl").agg(count(lit(1)).as("df"))
    val total = prior match {
      case Some(p) => own
        .join(p.select(col("hl"), col("df").as("pdf")), Seq("hl"), "left")
        .select(col("hl"), (col("df") + coalesce(col("pdf"), lit(0L))).as("df"))
      case None => own
    }
    val boiler = total.filter(col("df") >= minDocs).select("hl")
    val rebuilt = lines
      .withColumn("hl", xxhash64(col("line")))
      .join(boiler, Seq("hl"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")), "\n").as("kept_text"))
    lines.groupBy("id").agg((max("pos") + 1).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Per-document k-gram novelty: the fraction of a document's distinct
    * k-grams whose FIRST corpus occurrence (minimum doc id) is this
    * document — the marginal-new-content curve curation teams plot to
    * decide where a crawl stops paying for itself (each doc's novel
    * mass is what it alone adds to the corpus under id order).
    * Complements [[dupNgramFraction]]: dup_frac says "how much of me
    * exists elsewhere", novelty says "how much of me arrived FIRST".
    *
    * Scale shape: identical to [[dupNgramFraction]] — distinct-shingle
    * explode in the scan stage, ONE shingle-keyed `min` aggregate for
    * the owner table, owner joins back shingle-keyed (both sides share
    * the same hash partitioning, so the exchange is reused), then the
    * doc-keyed roll-up.
    *
    * Output: (id, n_shingles, n_novel, novelty_frac) for docs with
    * ≥ k tokens.
    */
  def ngramNovelty(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the shingle is only a group identity — hash it to 8 bytes before
    // the two exchanges (guide §2.3; the [[graft.functions.TokenHashes]]
    // 2⁻⁶⁴-collision argument)
    val sh = docs.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(TextAnalysis.shingles(col(textCol), k))).as("sh0"))
      .select(col("id"), xxhash64(col("sh0")).as("sh"))
    val owners = sh.groupBy("sh").agg(min("id").as("owner"))
    sh.join(owners, Seq("sh"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("owner") === col("id"), 1L).otherwise(0L))
          .cast("long").as("n_novel"))
      .withColumn("novelty_frac",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  def dupCoverage(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
      TextAnalysis.shingles(col(textCol), k).as("shs"))
    val occ = base.select(col("id"), posexplode(col("shs")).as(Seq("pos", "sh")))
    val cnt = occ.groupBy("sh").agg(count(lit(1)).as("c"))
    val cov = occ.join(cnt, "sh")
      .filter(col("c") >= 2)
      .groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("id"), aggregate(
        // union of [p, p+k-1] intervals over sorted positions: each
        // position contributes min(k, gap to the next position)
        transform(col("ps"), (p, j) =>
          least(lit(k), coalesce(get(col("ps"), j + 1), p + k) - p)),
        lit(0L), (acc, x) => acc + x).as("covered_tokens"))
    base.filter(col("n_tokens") >= k).select("id", "n_tokens")
      .join(cov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("coverage_frac",
        round(col("covered_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** Feature hashing — the hashing trick (Weinberger et al. 2009,
    * "Feature Hashing for Large Scale Multitask Learning"): categorical
    * feature strings hash into a FIXED `dim`-dimensional signed count
    * vector (index = portable 60-bit hash mod dim, sign = an
    * independent hash bit — the signed variant that makes collisions
    * cancel in expectation), so the feature space needs no vocabulary,
    * no fit step, and no growing state: the classic way to featurize
    * unbounded categorical domains at 100 TB. One explode + one
    * (key, dim)-keyed map-side-combined aggregate; output is the
    * sparse vector as rows.
    *
    * Input: (key, feature-string) rows. Output: (key, dim, val).
    */
  def featureHash(rows: DataFrame, keyCol: String, featCol: String,
      dim: Int): DataFrame =
    rows.select(col(keyCol).as("key"),
        (Sketches.h60(col(featCol)) % dim).as("dim"),
        ((Sketches.h60(concat(lit("s|"), col(featCol))) % 2) * 2 - 1).as("sgn"))
      .groupBy("key", "dim")
      .agg(sum("sgn").cast("long").as("val"))

  /** C4-style page cleaning (Raffel et al. 2020, "Exploring the Limits
    * of Transfer Learning", §2.2 — the heuristics that built C4 from
    * Common Crawl). Line level: retain only lines that end in a
    * terminal punctuation mark, have ≥ `minLineWords` words, and
    * mention neither "javascript" nor a curly brace. Page level: drop
    * any page containing "lorem ipsum" or a curly brace outright, and
    * pages with fewer than `minLines` retained lines.
    *
    * Everything is per-row expression work over the line array — zero
    * shuffle, stays inside whole-stage codegen, so at 100 TB this is
    * scan-rate cleaning exactly like the reference pipelines it
    * mirrors. Output: (id, n_lines, n_kept, keep, clean_md5) where
    * clean_md5 fingerprints the retained lines joined by newline
    * (empty string when nothing survives).
    */
  def c4Clean(docs: DataFrame, minLineWords: Int = 3, minLines: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, ln =>
      ln.rlike("[.!?\"]$") &&
        size(filter(split(ln, " "), w => w =!= "")) >= minLineWords &&
        !ln.contains("javascript") && !ln.contains("{"))
    docs.select(col(idCol).cast("long").as("id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        (!col(textCol).contains("lorem ipsum") && !col(textCol).contains("{") &&
          size(kept) >= minLines).as("keep"),
        md5(array_join(kept, "\n")).as("clean_md5"))
  }

  /** Gopher quality-rule battery (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A1 — the document-level filters behind MassiveWeb). Per
    * document: word-count bounds, mean-word-length bounds, symbol-to-
    * word ratio ('#' or '...'), bullet-line and ellipsis-line
    * fractions, the fraction of words containing an alphabetic
    * character, and the ≥ `minStopwords` distinct-stopword requirement.
    * Emits every measured statistic, each rule's verdict, and the
    * conjunction `keep` — the paper's battery as one expression-level
    * projection (zero shuffle; symbol counts use replace-length
    * arithmetic so both engines count identically).
    */
  def gopherFlags(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val stop = Array("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")
    val text = col(textCol)
    val words = filter(split(regexp_replace(text, "\n", " "), " "), w => w =!= "")
    val lines = split(text, "\n")
    val nWords = size(words).cast("long")
    val occurrences = (hay: Column, needle: String) =>
      (length(hay) - length(regexp_replace(hay, java.util.regex.Pattern.quote(needle), ""))) / needle.length
    docs
      .select(col(idCol).cast("long").as("id"), text.as("t"),
        nWords.as("n_words"),
        (aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / nWords)
          .as("mean_len_raw"),
        ((occurrences(text, "#") + occurrences(text, "...")).cast("double") / nWords)
          .as("symbol_ratio_raw"),
        (size(filter(lines, ln => ln.startsWith("- ") || ln.startsWith("* "))).cast("double")
          / size(lines)).as("bullet_frac_raw"),
        (size(filter(lines, ln => ln.endsWith("..."))).cast("double") / size(lines))
          .as("ellipsis_frac_raw"),
        (size(filter(words, w => w.rlike("[a-z]"))).cast("double") / nWords)
          .as("alpha_frac_raw"),
        size(array_intersect(array_distinct(words), lit(stop))).cast("long").as("n_stop"))
      .select(col("id"), col("n_words"),
        round(col("mean_len_raw"), 6).as("mean_len"),
        round(col("symbol_ratio_raw"), 6).as("symbol_ratio"),
        round(col("bullet_frac_raw"), 6).as("bullet_frac"),
        round(col("ellipsis_frac_raw"), 6).as("ellipsis_frac"),
        round(col("alpha_frac_raw"), 6).as("alpha_frac"),
        col("n_stop"),
        col("n_words").between(minWords, maxWords).as("pass_words"),
        col("mean_len_raw").between(minMeanLen, maxMeanLen).as("pass_mean_len"),
        (col("symbol_ratio_raw") <= maxSymbolRatio).as("pass_symbol"),
        (col("bullet_frac_raw") <= maxBulletFrac).as("pass_bullet"),
        (col("ellipsis_frac_raw") <= maxEllipsisFrac).as("pass_ellipsis"),
        (col("alpha_frac_raw") >= minAlphaFrac).as("pass_alpha"),
        (col("n_stop") >= minStopwords).as("pass_stop"))
      .withColumn("keep",
        col("pass_words") && col("pass_mean_len") && col("pass_symbol") &&
          col("pass_bullet") && col("pass_ellipsis") && col("pass_alpha") &&
          col("pass_stop"))
      .drop("t")
  }

  // ---------------------------------------------------------------- //
  // Encoding repair (ftfy-style mojibake)                            //
  // ---------------------------------------------------------------- //

  /** The common UTF-8-decoded-as-Latin-1/cp1252 mojibake digraphs and
    * their repairs (the fixed table ftfy's detector reduces to for the
    * dominant failure mode: é stored as UTF-8 `C3 A9`, displayed as
    * `Ã©`; cp1252 smart punctuation `E2 80 99` as `â€™`). Three-byte
    * sequences first so `â€¦` repairs before its `Ã`-class suffixes
    * could.
    */
  val mojibakeTable: Seq[(String, String)] = Seq(
    "â€™" -> "'", "â€œ" -> "\"", "â€“" -> "–", "â€”" -> "—", "â€¦" -> "…",
    "Ã©" -> "é", "Ã¨" -> "è", "Ãª" -> "ê", "Ã¼" -> "ü", "Ã¶" -> "ö",
    "Ã¤" -> "ä", "Ã±" -> "ñ", "Ã§" -> "ç")

  /** Repair the fixed mojibake table — a chain of codegen'd `replace`
    * calls in the scan stage (zero shuffle; DuckDB replays the same
    * chain literally). Idempotent: repaired text contains none of the
    * mojibake digraphs.
    */
  def fixMojibake(text: Column): Column =
    mojibakeTable.foldLeft(text) { case (c, (bad, good)) => replace(c, lit(bad), lit(good)) }

  /** Occurrences of mojibake digraphs in `text` — the detection score
    * that routes a document to the repair pass (length-difference
    * counting, no regex).
    */
  def mojibakeCount(text: Column): Column =
    mojibakeTable.map { case (bad, _) =>
      (length(text) - length(replace(text, lit(bad), lit("")))) / bad.length
    }.reduce(_ + _).cast("long")

  // ---------------------------------------------------------------- //
  // SoftDeDup duplicate-count loss weights (He et al. 2024)          //
  // ---------------------------------------------------------------- //

  /** Soft deduplication (He et al. 2024, "SoftDedup" — reweight instead
    * of remove): every document keeps its place in the corpus but its
    * training/sampling weight is the inverse of its duplicate count,
    * w_d = 1 / df(fingerprint(fold(text))), so a 40×-repeated
    * boilerplate page contributes ~one document's worth of gradient
    * instead of 40. Commonness comes from the SAME fold fingerprint the
    * hard dedup family uses ([[TextAnalysis.dedupFold]]); the weight is
    * integer micro-quantized so both engines agree exactly.
    *
    * Shape: one fingerprint-keyed count aggregate (map-side partials) +
    * one join back on the fingerprint — the exact-dedup cost, no more.
    * Output: (id, df, w) with w = floor(1e6/df)/1e6.
    */
  def softDedupWeights(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fp = docs.select(col(idCol).cast("long").as("id"),
      md5(TextAnalysis.dedupFold(col(textCol))).as("ffp"))
    val dfc = fp.groupBy("ffp").agg(count(lit(1)).as("df"))
    fp.join(dfc, "ffp")
      .select(col("id"), col("df"),
        (floor(lit(1e6) / col("df")).cast("long") / 1e6).as("w"))
  }

  // ---------------------------------------------------------------- //
  // DoReMi mixture weights (Xie et al. 2023)                          //
  // ---------------------------------------------------------------- //

  /** DoReMi-style domain mixture reweighting (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining" — Group-DRO over domains): given a per-domain proxy
    * EXCESS LOSS (how much worse the proxy model does on a domain than
    * its reference), run `iters` multiplicative-weights rounds
    *   α'_i ← α_i · exp(η · excess_i),  α ← α' / Σα'
    * and return the PER-ROUND AVERAGE of α (the paper returns the
    * trajectory average, not the endpoint). Domains with persistent
    * excess loss are upweighted — the mixture the target run then
    * trains on.
    *
    * `losses` is (domain, loss); excess_i = max(loss_i − min loss, 0).
    * Everything runs on the |domains|-row table: the iteration is
    * unrolled DataFrame algebra (staged per round so lineage stays
    * flat), exp/normalize round to 9 so the whole trajectory replays
    * bit-identically in an oracle CTE chain. Output: (domain, loss,
    * weight) with weight rounded to 6.
    */
  def doremiWeights(losses: DataFrame, iters: Int, eta: Double,
      domainCol: String = "domain", lossCol: String = "loss"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = Funnel.stageLazy(losses
      .select(col(domainCol).as("domain"), col(lossCol).cast("double").as("loss"))
      .crossJoin(broadcast(losses.agg(min(col(lossCol)).cast("double").as("lmin"))))
      .select(col("domain"), col("loss"),
        round(greatest(col("loss") - col("lmin"), lit(0.0)), 9).as("excess")))
    // max(n,1): on an empty losses table the constant 1/n would be
    // folded to an ANSI divide-by-zero at planning time; with 1 the
    // result is still empty (every later step joins against base)
    val n = math.max(base.count(), 1L)
    var alpha = base.select(col("domain"), round(lit(1.0) / n, 9).as("a"))
    var acc = alpha.select(col("domain"), col("a").as("s"))
    for (t <- 1 to iters) {
      // the un-normalized update quantizes to integer NANOS so the
      // normalizing sum is an exact integer — a double sum over the
      // domain rows would be accumulation-order-sensitive
      val up = base.join(alpha, "domain")
        .select(col("domain"),
          floor(col("a") * exp(lit(eta) * col("excess")) * 1e9 + 0.5)
            .cast("long").as("un"))
      alpha = Funnel.stageLazy(up
        .crossJoin(broadcast(up.agg(sum("un").as("z"))))
        .select(col("domain"), round(col("un").cast("double") / col("z"), 9).as("a")))
      acc = Funnel.stageLazy(acc.join(alpha, "domain")
        .select(col("domain"), round(col("s") + col("a"), 9).as("s")))
    }
    base.join(acc, "domain")
      .select(col("domain"), round(col("loss"), 6).as("loss"),
        round(col("s") / (iters + 1), 6).as("weight"))
  }
}
