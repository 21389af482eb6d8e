package graft.operators

import graft.functions.GraftFunctions.cosine_sim
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Similarity search over embedding columns (SURVEY.md M6): brute-force
  * cosine top-k as the exact baseline, and a sign-LSH (random
  * hyperplane) bucketed variant as the scale path.
  *
  * Scale design: brute force is a broadcast of the (small) query set
  * against a full scan of the corpus — exact, one pass, no shuffle of
  * the corpus; right for "k-NN of a few probes in 100 TB". The LSH
  * variant buckets BOTH sides by hyperplane sign prefix so candidate
  * generation is an equi-join on bucket id (hash shuffle, no cross
  * join); recall is tuned by numPlanes/prefixBits and multi-probe.
  * The cosine kernel is a codegen'd Catalyst expression
  * (CosineSimFloat) — no per-row boxing.
  */
object Similarity {

  /** Bounded top-k list aggregator over (nid, cosine) candidates,
    * ordered like the oracle: round(c, 6) desc, then nid asc (Spark's
    * round is HALF_UP — mirrored here so ties resolve identically).
    * `merge` is associative and the buffer is capped at k, so Catalyst
    * runs it as a partial + final aggregation: each scan partition keeps
    * a k-bounded list map-side and the shuffle carries only k rows per
    * (partition, query).
    */
  private final class TopKAgg(k: Int)
      extends Aggregator[(Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]]
      with Serializable {
    private def key(s: (Long, Double)): (Double, Long) =
      (-BigDecimal(s._2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s._1)
    override def zero: Seq[(Long, Double)] = Vector.empty
    override def reduce(b: Seq[(Long, Double)], a: (Long, Double)): Seq[(Long, Double)] =
      // nids are unique per query, so key equality can't occur: a full
      // buffer whose worst entry sorts before `a` rejects `a` outright.
      if (b.length >= k && Ordering[(Double, Long)].lt(key(b.last), key(a))) b
      else (b :+ a).sortBy(key).take(k)
    override def merge(x: Seq[(Long, Double)], y: Seq[(Long, Double)]): Seq[(Long, Double)] =
      (x ++ y).sortBy(key).take(k)
    override def finish(r: Seq[(Long, Double)]): Seq[(Long, Double)] = r.sortBy(key)
    override def bufferEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
  }

  /** Final ranking shared by the exact and ANN variants: exact top-k per
    * query WITHOUT a per-query global window. `row_number() OVER
    * (PARTITION BY qid)` funnels every scored row into ≤|queries| tasks —
    * at 100 TB that is a handful of tasks sorting the whole corpus. The
    * two-phase aggregate bounds what crosses the wire to k·partitions
    * candidate rows per query and keeps the scan stage fully parallel.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k), ExpressionEncoder[(Long, Double)]())
    scored
      .groupBy("qid")
      .agg(topk(col("nid"), col("c")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col._1").as("nid"),
        round(col("col._2"), 4).as("cos"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** Public two-phase top-k per key over an already-scored
    * (qid, nid, c) table — the [[rankTopK]] contract for callers
    * outside the embedding family (e.g. BM25 retrieval): k-bounded
    * partial aggregates map-side, only k rows per (partition, key)
    * cross the wire, never a per-key global window. Ordering:
    * round(c, 6) desc, nid asc; output c rounds to 4.
    */
  def topKPerKey(scored: DataFrame, k: Int): DataFrame = rankTopK(scored, k)

  /** Exact top-k neighbors for each query vector. `queries` must be
    * small (it is broadcast); ordering ties broken by neighbor id after
    * rounding to 6 decimals so results are engine-deterministic.
    */
  def bruteForceTopK(
      queries: DataFrame, // (qid, qe: array<float>)
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      k: Int
  ): DataFrame = {
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine_sim(col("qe"), col("embedding")).as("c"))
    rankTopK(scored, k)
  }

  /** Deterministic random hyperplanes: numPlanes × dim doubles from a
    * seeded RNG (public-knowledge sign-LSH, Charikar 2002).
    */
  private[operators] def planes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Float]] =
    graft.functions.SignLshBuckets.planes(numPlanes, dim, seed).toSeq.map(_.toSeq)

  /** Johnson–Lindenstrauss random projection to `planes.length` output
    * dimensions: out[i] = v · plane_i, the dense seeded-Gaussian JL map
    * (Johnson & Lindenstrauss 1984; same plane generator as sign-LSH —
    * sign-LSH IS this projection quantized to sign bits). A 4×-or-more
    * dimensionality cut shrinks every downstream distance computation
    * and shuffle payload while approximately preserving cosine
    * geometry; the projection itself is a scan-stage zip_with/aggregate
    * chain in double precision — codegen'd HOFs, no UDF, and exactly
    * replayable as SQL literal-plane dot products.
    */
  def randomProjection(embedding: Column, projPlanes: Seq[Seq[Float]]): Column = {
    val v = embedding.cast("array<double>")
    array(projPlanes.map { p =>
      aggregate(zip_with(v, lit(p.map(_.toDouble).toArray), (x, y) => x * y),
        lit(0.0), (a, x) => a + x)
    }: _*)
  }

  /** Double-precision cosine from codegen'd HOFs — for spaces whose
    * vectors are computed columns (e.g. [[randomProjection]] outputs)
    * where the SQL oracle must replay the identical double arithmetic.
    */
  def cosineDouble(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (s, t) => s + t)
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }

  /** All `bands` sign-LSH bucket ids in one pass (array<long>, one per
    * band; band b's planes are seeded seed + 7919·b). Native expression —
    * one primitive loop per embedding inside the scan stage.
    */
  def lshBandBuckets(embedding: Column, bands: Int, rowsPerBand: Int, dim: Int,
      seed: Long = 42L): Column =
    ColumnBridge.column(graft.functions.SignLshBuckets(
      ColumnBridge.expression(embedding), bands, rowsPerBand, dim, seed))

  /** Sign-LSH bucket id: bit j = sign(embedding · plane_j), computed by
    * the single-band case of [[lshBandBuckets]].
    */
  def lshBucket(embedding: Column, numPlanes: Int, dim: Int, seed: Long = 42L): Column =
    element_at(lshBandBuckets(embedding, 1, numPlanes, dim, seed), 1)

  /** IVF (inverted-file) ANN: partition the corpus into Voronoi cells of
    * `nlist` centroids, probe only the `nprobe` cells nearest each
    * query. Centroids here are a deterministic sample of the corpus
    * (the nlist vectors first in id order, via [[seedBlock]]) — at
    * production scale you'd k-means them; the
    * dataflow (cell assignment scan → cell equi-join → in-cell rank) is
    * identical. Complements sign-LSH: IVF adapts to data geometry,
    * LSH needs no training.
    */
  def ivfTopK(
      queries: DataFrame, // (qid, qe)
      corpus: DataFrame, // (vec_id, embedding)
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4
  ): DataFrame = {
    val centroids = seedBlock(corpus, "vec_id", 0, nlist, "cid")
      .select(col("cid"), col("embedding").as("ce"))

    // cell assignment: nearest centroid per corpus vector (centroids broadcast)
    val wAssign = Window.partitionBy("vec_id").orderBy(round(col("cd"), 6).desc, col("cid"))
    val assigned = corpus.join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosine_sim(col("embedding"), col("ce")).as("cd"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select("vec_id", "embedding", "cid")

    // probe list: nprobe nearest centroids per query
    val wProbe = Window.partitionBy("qid").orderBy(round(col("qd"), 6).desc, col("cid"))
    val probes = queries.join(broadcast(centroids))
      .select(col("qid"), col("qe"), col("cid"), cosine_sim(col("qe"), col("ce")).as("qd"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select("qid", "qe", "cid")

    // each corpus vector lives in exactly ONE cell (rn === 1 above), so a
    // (qid, nid) pair meets at most once — no candidate dedup needed
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine_sim(col("qe"), col("embedding")).as("c"))
    rankTopK(scored, k)
  }

  /** The first `n` distinct ids of `idCol` in ascending order — the
    * deterministic seed-selection step every trainer here shares
    * (k-means seeds, PQ/RQ sub-codebook seeds, IVF centroid samples).
    * One id-column-pruned distinct + TakeOrdered job, collected as a
    * BOUNDED list (n is a query parameter, ≤ ~stages·k ≈ 80 — the same
    * bounded-collect class as q_emb_kmeans_par's candidate array).
    * Fails LOUD when a NON-EMPTY corpus has fewer than n vectors — the
    * r11 deficient-codebook risk (silently short stage codebooks on
    * sparse id spaces) dies here instead of returning plausible-but-
    * wrong neighbors. A fully EMPTY corpus returns no seeds (and so an
    * empty model/result downstream) — the repo's empty-input posture:
    * empty in, empty out; PARTIAL in, loud.
    */
  private def seedIds(df: DataFrame, idCol: String, n: Int): Array[Long] = {
    val ids = df.select(col(idCol).cast("long").as("__sid"))
      .distinct().orderBy(col("__sid")).limit(n)
      .collect().map(_.getLong(0))
    require(ids.isEmpty || ids.length == n,
      s"seed contract: need $n distinct training-seed vectors, corpus has only ${ids.length}")
    ids
  }

  /** Filter `df` to the rows whose `idCol` is in `ids` and attach
    * `sidCol` = the id's POSITION in `ids` (0-based, int). Together with
    * [[seedIds]] this replaces the r11 `id < k` seed filters: seeding
    * now depends only on id ORDER, so arbitrary (sparse, offset,
    * renumbered) id spaces train correctly — and on dense 0-based ids
    * (the driver tables) the seed set AND numbering are identical to
    * the old filter, so every oracle replay is unchanged. Plan shape:
    * an IN filter (pushdown-eligible) plus a literal-map lookup — no
    * join, no window, no new exchange.
    */
  private def seedFromIds(
      df: DataFrame, idCol: String, ids: Array[Long], sidCol: String): DataFrame =
    if (ids.isEmpty) df.filter(lit(false)).withColumn(sidCol, lit(0))
    else {
      val m = map_from_arrays(typedLit(ids.toSeq), typedLit(ids.indices.toList))
      df.filter(col(idCol).cast("long").isin(ids.toSeq: _*))
        .withColumn(sidCol, element_at(m, col(idCol).cast("long")))
    }

  /** [[seedIds]] + [[seedFromIds]] in one call: the seed rows at
    * id-order positions [start, start+count), renumbered 0..count−1.
    */
  private def seedBlock(
      df: DataFrame, idCol: String, start: Int, count: Int, sidCol: String): DataFrame =
    seedFromIds(df, idCol, seedIds(df, idCol, start + count).drop(start), sidCol)

  /** Corpus-aware IVF list count — the measured c·sqrt(n) sizing rule.
    * The r12 scale probe showed a FIXED nlist is the one super-linear
    * shape left in the library (alpha 1.2-1.4 over a decade of data:
    * constant cell count means cell SIZE grows linearly, so probed
    * candidate mass per query grows linearly too); nlist ~ sqrt(n)
    * balances the two n·f(nlist) legs of the self-probe cost.
    *
    * The constant is MEASURED, not assumed 1: per-row, the Lloyd
    * training leg (broadcast join + max_by argmax over n·nlist rows,
    * array-typed cosine per row) costs ~27x the scoring leg's
    * candidate rows (codegen'd cid equi-join + per-query rank over
    * n·nprobe·n/nlist rows). Balancing iters·c1·n·k = nprobe·c2·n²/k
    * gives k* = sqrt(n)·sqrt(nprobe·c2/(iters·c1)) ≈ 0.24·sqrt(n) for
    * the library defaults — rounded to the engine-exact sqrt(n)/4
    * (division by 4 is exact in IEEE, so a SQL oracle replays the
    * sizing bit-identically as `greatest(floorK,
    * CAST(floor(sqrt(n)/4 + 0.5) AS INT))`). The r13 A/B confirmed the
    * U-shape: on the 5x corpus (n=10k) the naive c=1 (nlist=100) ran
    * 51 s — training-dominated, SLOWER than fixed nlist=8's 32 s —
    * while the balanced size (r12's nlist=18 ≈ this rule's 25) ran
    * 20-24 s, and both scale ~ linear. `floorK` keeps tiny corpora
    * trainable (at least k cells for a top-k probe).
    */
  def autoNlist(n: Long, floorK: Int = 1): Int =
    math.max(floorK, math.floor(math.sqrt(n.toDouble) / 4 + 0.5).toInt)

  /** [[ivfSelfTopK]] over [[kmeansCentroids]] trained at the
    * [[autoNlist]] size — the auto-sized kNN-graph candidate route.
    * `corpus` should arrive STAGED (training, both candidate legs, and
    * the count reference it).
    */
  def ivfSelfTopKAuto(corpus: DataFrame, k: Int, iters: Int = 2,
      nprobe: Int = 3): DataFrame = {
    val nlist = autoNlist(corpus.count(), k)
    ivfSelfTopK(corpus, Funnel.stageLazy(kmeansCentroids(corpus, nlist, iters)), k, nprobe)
  }

  /** Distributed k-means (Lloyd) over an embedding column — the
    * centroid-training step the IVF index calls for at production scale
    * (public-knowledge algorithm). Deterministic: initial centroids are
    * the k vectors FIRST in vec-id order (positions, not values — any
    * id space works; on the driver tables' dense 0-based ids this is
    * exactly the classic `id < k` seed), renumbered 0..k−1 via
    * [[seedBlock]]. Assignment ranks by ROUNDED cosine
    * with centroid-id tie-break, updated components are rounded to 6 —
    * so the fixpoint trajectory is engine-exact and fully oracle-able.
    *
    * Scale shape per iteration: centroids (k · dim doubles) BROADCAST to
    * a corpus scan for assignment; the update is a posexplode +
    * (cid, pos)-keyed hash aggregate whose partial phase reduces each
    * scan partition to k · dim rows. The corpus never shuffles; the
    * driver holds nothing but the loop counter. Iterations compose as a
    * linear plan chain (fine for the handful of Lloyd rounds that
    * k-means needs; checkpoint between rounds if you run hundreds).
    *
    * Empty clusters vanish (no assigned members → no updated centroid) —
    * identically on both engines.
    *
    * Returns (cid, ce: array<double>) after `iters` rounds.
    */
  def kmeansCentroids(
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"
  ): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    // every Lloyd round re-references the cast corpus — materialize it
    // once (the MLlib-persist discipline for iterative training; without
    // the boundary the plan re-reads the parquet once per round)
    val e = Funnel.stageLazy(
      corpus.select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("e")))
    var cent = seedBlock(e, "vid", 0, k, "cid").select(col("cid"), col("e").as("ce"))
    for (_ <- 1 to iters) {
      // argmax by (rounded cosine, smaller cid) via max_by — NOT a
      // per-vector window: the k joined rows of each vector are
      // co-located in their scan partition, so the partial aggregate
      // reduces them to one row map-side and the shuffle carries the
      // corpus once, not k times
      val assigned = e.join(broadcast(cent))
        .select(col("vid"), col("e"), col("cid"),
          round(cosine_double(col("e"), col("ce")), 6).as("cd"))
        .groupBy("vid")
        .agg(max_by(col("cid"), struct(col("cd"), -col("cid"))).as("cid"),
          first(col("e")).as("e"))
      cent = assigned
        .select(col("cid"), posexplode(col("e")))
        .groupBy("cid", "pos").agg(round(avg("col"), 6).as("c"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cid"), transform(col("pc"), x => x.getField("c")).as("ce"))
    }
    cent
  }

  /** IVF ANN over a SUPPLIED centroid table — the production
    * composition [[ivfTopK]]'s scaladoc promises: train centroids with
    * [[kmeansCentroids]], then probe. Same scale shape (centroids
    * broadcast twice, corpus never shuffles); cell assignment uses the
    * `max_by` partial-aggregate argmax (corpus crosses the wire once),
    * probe selection a window over the tiny query set.
    */
  def ivfTopKWithCentroids(
      queries: DataFrame, // (qid, qe: array<float>)
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      centroids: DataFrame, // (cid: int, ce: array<double>)
      k: Int,
      nprobe: Int = 4
  ): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    val e = corpus.select(col("vec_id"), col("embedding"),
      col("embedding").cast("array<double>").as("ed"))
    val assigned = e.join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(cosine_double(col("ed"), col("ce")), 6).as("cd"))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cd"), -col("cid"))).as("cid"),
        first(col("embedding")).as("embedding"))
    val wProbe = Window.partitionBy("qid").orderBy(col("qd").desc, col("cid"))
    val probes = queries
      .select(col("qid"), col("qe"), col("qe").cast("array<double>").as("qd8"))
      .join(broadcast(centroids))
      .select(col("qid"), col("qe"), col("cid"),
        round(cosine_double(col("qd8"), col("ce")), 6).as("qd"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select("qid", "qe", "cid")
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine_sim(col("qe"), col("embedding")).as("c"))
    rankTopK(scored, k)
  }

  /** IVF candidate generation for the leave-one-out SELF-probe (every
    * corpus vector is also a query — the kNN-graph build the embedding
    * quality evals run): cell-assign the corpus against the broadcast
    * k-row centroid table, compute each vector's `nprobe` nearest
    * cells, then meet candidates through a **cid equi-join** — the
    * corpus is never the broadcast side (the r10 review's scale
    * killer: `bruteForceTopK(corpus, corpus)` broadcast the whole
    * embedding table). Both legs shuffle once on cid; at production
    * nlist the cells are fine-grained so the join is an ordinary
    * co-partitioned hash join, and the scored candidate volume is
    * O(n · nprobe · cell), not O(n²).
    *
    * Output: (qid, nid, cos, rn) for rn ≤ k — same contract as
    * [[bruteForceTopK]], approximate by cell truncation (identically
    * on both engines: assignment/probe ranks round to 6 with cid
    * tie-break, so the oracle replays the exact candidate set).
    */
  def ivfSelfTopK(
      corpus: DataFrame, // (vec_id, embedding: array<float>, …)
      centroids: DataFrame, // (cid: int, ce: array<double>)
      k: Int,
      nprobe: Int = 3
  ): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    val e = corpus.select(col("vec_id"), col("embedding"),
      col("embedding").cast("array<double>").as("ed"))
    val assigned = e.join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(cosine_double(col("ed"), col("ce")), 6).as("cd"))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cd"), -col("cid"))).as("cid"),
        first(col("embedding")).as("embedding"))
    val wProbe = Window.partitionBy("qid").orderBy(col("qd").desc, col("cid"))
    val probes = e
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("ed"))
      .join(broadcast(centroids))
      .select(col("qid"), col("qe"), col("cid"),
        round(cosine_double(col("ed"), col("ce")), 6).as("qd"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select("qid", "qe", "cid")
    // cid equi-join, NOT a broadcast: both sides are corpus-sized
    val scored = probes.join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine_sim(col("qe"), col("embedding")).as("c"))
    rankTopK(scored, k)
  }

  /** Incremental ANN index routing — the daily-increment analog of
    * [[ivfTopKWithCentroids]], completing the delta family
    * ([[Dedup.deltaDedup]] / [[Dedup.deltaMinHashKeepers]]) on the
    * embedding side: centroids are trained on the BASE corpus only and
    * the base cell assignment is built once and staged (the persisted
    * IVF index posture — an arriving batch never retrains or re-scans
    * the corpus). Arrivals route to their nearest centroid (nprobe=1,
    * the index-update step) and rank their top-k nearest EXISTING
    * vectors within that cell.
    *
    * Scale shape: a day's increment costs O(delta·k) routing +
    * within-cell candidates, independent of corpus size; the cell join
    * broadcasts the (small) arrival batch over the staged index. At
    * production scale nlist is thousands, so cells are fine-grained
    * and a plain cid-partitioned join replaces the broadcast.
    *
    * Output: (qid, nid, cos, rn) for rn ≤ topK, nid from the base.
    */
  def deltaAssign(
      base: DataFrame, // (vec_id, embedding: array<float>)
      delta: DataFrame, // (vec_id, embedding: array<float>)
      k: Int,
      iters: Int,
      topK: Int
  ): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    val cent = kmeansCentroids(base, k, iters)
    def assignCell(df: DataFrame, idOut: String, embOut: String): DataFrame =
      df.select(col("vec_id").as(idOut), col("embedding").as(embOut),
          col("embedding").cast("array<double>").as("ed"))
        .join(broadcast(cent))
        .select(col(idOut), col(embOut), col("cid"),
          round(cosine_double(col("ed"), col("ce")), 6).as("cd"))
        .groupBy(idOut)
        .agg(max_by(col("cid"), struct(col("cd"), -col("cid"))).as("cid"),
          first(col(embOut)).as(embOut))
    val index = Funnel.stageLazy(assignCell(base, "vec_id", "embedding"))
    val probes = assignCell(delta, "qid", "qe")
    val scored = index.join(broadcast(probes), Seq("cid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine_sim(col("qe"), col("embedding")).as("c"))
    rankTopK(scored, topK)
  }

  /** Embedding-cosine near-duplicate PAIRS (SURVEY M6 dedup family;
    * public-knowledge banded sign-LSH, Charikar 2002 + the MinHash
    * banding trick): a pair is a candidate iff it agrees on ALL
    * `rowsPerBand` hyperplane signs of SOME band, then candidates are
    * exact-verified with the codegen'd cosine kernel and thresholded.
    *
    * Scale shape: one explode to `bands` rows per vector, one shuffle on
    * (band, bucket), within-bucket self-join (`a < b` halves it), with a
    * pair colliding in several bands emitted from its FIRST matching
    * band only ([[graft.functions.BandFirstMatch]] over the two bucket
    * arrays, map-side) — no dedup exchange over the verified pairs. No
    * all-pairs join anywhere; the band/bucket granularity bounds each
    * task's join. Recall tuning: P(candidate) = 1 − (1 − p^r)^B with
    * p = 1 − θ/π per sign bit — r=8, B=16 gives >0.999 at cosine ≥ 0.95.
    */
  def nearDupPairs(
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      minCos: Double,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val keyed = corpus.select(col("vec_id"), col("embedding"),
      lshBandBuckets(col("embedding"), bands, rowsPerBand, dim, seed).as("keys"))
    val banded = keyed
      .select(col("vec_id"), col("embedding"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "bkt")))
    val lhs = banded.select(col("band"), col("bkt"),
      col("vec_id").as("a"), col("embedding").as("ea"), col("keys").as("ka"))
    val rhs = banded.select(col("band"), col("bkt"),
      col("vec_id").as("b"), col("embedding").as("eb"), col("keys").as("kb"))
    lhs.join(rhs, Seq("band", "bkt"))
      .filter(col("a") < col("b"))
      // first matching band keeps the pair — dedup inside the join
      // stage, exactly one cosine verification per unique pair
      .filter(ColumnBridge.column(graft.functions.BandFirstMatch(
        ColumnBridge.expression(col("ka")),
        ColumnBridge.expression(col("kb")))) === col("band"))
      .select(col("a"), col("b"), cosine_sim(col("ea"), col("eb")).as("c"))
      .filter(col("c") >= minCos)
      .select(col("a"), col("b"), round(col("c"), 4).as("cos"))
  }

  /** Benchmark decontamination in EMBEDDING space — the semantic
    * companion to the k-gram [[Decontamination]] screen: a corpus
    * vector whose maximum cosine against ANY held-out eval vector
    * reaches `minCos` is contaminated (a paraphrase of an eval item
    * that exact-n-gram matching misses). Every corpus row is returned
    * with its nearest eval neighbor and the verdict, so callers can
    * either drop flagged rows or audit the near-misses.
    *
    * Scale shape: eval suites are small (10³–10⁵ rows) while the
    * corpus is the 100-TB side — so the eval side BROADCASTS and the
    * corpus streams through one scan-stage nested-loop score + ONE
    * corpus-keyed partial-aggregate max (map-side combine collapses to
    * one row per vec_id per partition before the shuffle). The corpus
    * never self-joins and crosses the wire once, aggregated. Ties on
    * rounded cosine break to the smallest eval id for cross-engine
    * determinism.
    */
  def decontaminate(
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      evalSet: DataFrame, // (eval_id, ee: array<float>)
      minCos: Double
  ): DataFrame =
    corpus
      .crossJoin(broadcast(evalSet))
      .select(col("vec_id"),
        struct(round(cosine_sim(col("embedding"), col("ee")), 6).as("c"),
          (-col("eval_id")).as("nid")).as("s"))
      .groupBy("vec_id")
      .agg(max(col("s")).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("nearest_eval"),
        col("m.c").as("max_cos"),
        (col("m.c") >= minCos).as("contaminated"))

  /** [[decontaminate]]'s sub-linear scale path: instead of scoring every
    * corpus vector against every eval vector, both sides key by sign-LSH
    * band buckets and only BUCKET COLLISIONS are scored — per corpus row
    * the work is O(collisions), not O(|eval|), which is what survives
    * when the eval side grows past broadcast-NL comfort or the corpus
    * pays 10⁵-eval scans per row. A pair colliding in several bands
    * yields duplicate scored rows; the per-corpus-id `max` aggregate is
    * duplicate-idempotent, so no dedup exchange exists anywhere.
    * Corpus rows colliding with nothing surface as clean with a NULL
    * neighbor (left join against the corpus id set — contamination
    * screens must report every row, not just candidates).
    *
    * Verdicts are exact on candidates; recall is the LSH curve
    * (1 − (1 − p^r)^B), tuned for the HIGH-cosine region a
    * contamination threshold lives in. The demo threshold sits low to
    * exercise both verdicts on the near-orthogonal fixture; the oracle
    * replays candidate generation itself (planes as SQL literals), so
    * correctness is independent of recall.
    */
  def decontaminateAnn(
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      evalSet: DataFrame, // (eval_id, ee: array<float>)
      minCos: Double,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding"),
      posexplode(lshBandBuckets(col("embedding"), bands, rowsPerBand, dim, seed))
        .as(Seq("band", "bkt")))
    val e = evalSet.select(col("eval_id"), col("ee"),
      posexplode(lshBandBuckets(col("ee"), bands, rowsPerBand, dim, seed))
        .as(Seq("band", "bkt")))
    val best = c.join(e, Seq("band", "bkt"))
      .select(col("vec_id"),
        struct(round(cosine_sim(col("embedding"), col("ee")), 6).as("c"),
          (-col("eval_id")).as("nid")).as("s"))
      .groupBy("vec_id")
      .agg(max(col("s")).as("m"))
    corpus.select(col("vec_id")).join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), (-col("m.nid")).as("nearest_eval"),
        col("m.c").as("max_cos"),
        coalesce(col("m.c") >= minCos, lit(false)).as("contaminated"))
  }

  /** Embedding near-dup CLUSTER assignment — the linear-output keeper
    * contract for the embedding family, like [[Dedup.minHashClusters]]
    * is for text (SemDeDup-flavored: keep one representative per
    * semantic near-dup group): (vec_id, keeper) with keeper the minimum
    * vec_id in the vector's connected component over verified
    * [[nearDupPairs]] edges (exact cosine ≥ minCos). Singletons keep
    * themselves. Components via the shared [[Components.minLabel]]
    * contraction loop — one checkpoint job per shrinking round, nothing
    * driver-side but the emptiness flag.
    */
  def nearDupKeeper(
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      minCos: Double,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val edges = nearDupPairs(corpus, minCos, bands, rowsPerBand, dim, seed)
      .select(col("a").as("da"), col("b").as("db"))
    Components.minLabel(edges, corpus.select(col("vec_id").as("id")))
      .select(col("id").as("vec_id"), col("lbl").as("keeper"))
  }

  /** Approximate nearest neighbors: bucket corpus AND queries by sign-LSH,
    * equi-join on bucket, rank within query by cosine. Probes only its
    * own bucket (single-probe) — recall measured against
    * [[bruteForceTopK]] in the test suite.
    */
  def annTopK(
      queries: DataFrame, // (qid, qe)
      corpus: DataFrame, // (vec_id, embedding)
      k: Int,
      numPlanes: Int = 8,
      dim: Int = 64
  ): DataFrame = {
    val cb = corpus.withColumn("bucket", lshBucket(col("embedding"), numPlanes, dim))
    val qb = queries.withColumn("bucket", lshBucket(col("qe"), numPlanes, dim))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine_sim(col("qe"), col("embedding")).as("c"))
    rankTopK(scored, k)
  }

  /** Greedy k-center coreset selection (Gonzalez 1985's farthest-point
    * 2-approximation — the geometric data-selection method active
    * learning and coreset papers build on, e.g. Sener & Savarese 2018):
    * seed with the minimum id, then repeatedly pick the point FARTHEST
    * from the selected set under cosine distance. Each round is one
    * corpus scan updating the running min-distance column against the
    * single new center (broadcast) plus one TakeOrdered(1) argmax —
    * k−1 scans total, the honest cost of the exact greedy at any
    * scale; distances round to 6 so the argmax is engine-replayable.
    *
    * Output: (step, vec_id, d) — selection order, with d the distance
    * to the previously-selected set at selection time (null for the
    * seed).
    */
  /** Leave-one-out kNN label probe — the standard embedding-SPACE
    * quality evaluation (the "kNN probe" of representation learning,
    * cf. Papernot & McDaniel 2018's deep-kNN reading): every vector is
    * classified by the MAJORITY label of its k nearest cosine
    * neighbors (self excluded, ties to the smallest label), and the
    * per-label accuracy says how well the space separates the classes
    * — the metric a pipeline reports before trusting an embedding
    * column for dedup/retrieval. Counts are exact integers end to end;
    * accuracy emits as basis points (floor), one exact division.
    *
    * Scale: the probe itself is counts over the kNN table; neighbor
    * generation is [[ivfSelfTopK]] over [[kmeansCentroids]]-trained
    * cells (nlist=8, 2 Lloyd rounds, nprobe=3 here; thousands of
    * cells at production nlist) — the corpus meets only the broadcast
    * k-row centroid table and itself through a cid equi-join, never a
    * corpus broadcast (r10 review: the brute-force kNN-graph build
    * was the registry's one remaining scale killer). The kNN graph is
    * cell-truncated identically on both engines, so the metric stays
    * exactly oracle-able. `corpus` must arrive STAGED (it is
    * referenced by training, both candidate legs, and the label
    * joins).
    */
  def knnLabelProbe(corpus: DataFrame, k: Int, nlist: Int = 8,
      iters: Int = 2, nprobe: Int = 3): DataFrame = {
    val cent = Funnel.stageLazy(kmeansCentroids(corpus, nlist, iters))
    val knn = ivfSelfTopK(corpus, cent, k, nprobe)
    val votes = knn
      .join(corpus.select(col("vec_id").as("nid"), col("label").as("nlabel")), "nid")
      .groupBy("qid", "nlabel").agg(count(lit(1)).as("votes"))
    val pred = votes
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("votes").desc, col("nlabel"))))
      .filter(col("rk") === 1)
      .select(col("qid"), col("nlabel").as("pred"))
    corpus.select(col("vec_id").as("qid"), col("label"))
      .join(pred, "qid")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("correct"))
      .withColumn("acc_bp", floor(col("correct") * 10000 / col("n")).cast("long"))
      .select(col("label").cast("long"), col("n"), col("correct"), col("acc_bp"))
  }

  /** [[knnLabelProbe]] with the [[autoNlist]] index size — the
    * production default: the quality eval's IVF candidate route sizes
    * its cell count to the corpus (sqrt(n), floor k) instead of a
    * pinned constant, which the r12 scale probe measured as the one
    * remaining super-linear parameterization. Everything downstream of
    * the size choice is [[knnLabelProbe]] verbatim, so the metric stays
    * exactly oracle-able (the oracle computes the same count-derived
    * nlist in SQL). `corpus` must arrive STAGED.
    */
  def knnLabelProbeAuto(corpus: DataFrame, k: Int, iters: Int = 2,
      nprobe: Int = 3): DataFrame =
    knnLabelProbe(corpus, k, autoNlist(corpus.count(), k), iters, nprobe)

  /** Label-partition modularity of the symmetrized kNN graph (Newman
    * 2006) + within-label edge counts — the companion GRAPH-level
    * embedding-quality readout: Q = Σ_l (e_l/m − (d_l/2m)²) over
    * undirected kNN edges, computed from exact integer moments
    * (4·m·e_l − d_l² numerators), one rounded division per label at
    * emission. High Q ⇔ the kNN graph respects the labels. The graph
    * is built on [[ivfSelfTopK]] candidates over trained cells (the
    * [[knnLabelProbe]] route — no corpus broadcast, cell truncation
    * replayed exactly by the oracle). `corpus` must arrive STAGED.
    */
  def knnLabelModularity(corpus: DataFrame, k: Int, nlist: Int = 8,
      iters: Int = 2, nprobe: Int = 3): DataFrame = {
    val cent = Funnel.stageLazy(kmeansCentroids(corpus, nlist, iters))
    val knn = ivfSelfTopK(corpus, cent, k, nprobe)
    // undirected unique edges: symmetrize then keep a < b once
    val edges = Funnel.stageLazy(knn
      .select(least(col("qid"), col("nid")).as("a"), greatest(col("qid"), col("nid")).as("b"))
      .distinct())
    val lbl = corpus.select(col("vec_id"), col("label"))
    // staged: referenced by the count, the within rollup, and both
    // degree legs — without the stage the label joins re-execute per
    // reference (r10 review)
    val el = Funnel.stageLazy(edges
      .join(lbl.select(col("vec_id").as("a"), col("label").as("la")), "a")
      .join(lbl.select(col("vec_id").as("b"), col("label").as("lb")), "b"))
    val m = el.count() // bounded scalar: |E| of the kNN graph
    val within = el.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_within"))
    val degs = el.select(col("a").as("v"), col("la").as("label"))
      .unionAll(el.select(col("b").as("v"), col("lb").as("label")))
      .groupBy("label").agg(count(lit(1)).as("d_l"), countDistinct("v").as("n_nodes"))
    degs.join(within, Seq("label"), "left")
      .na.fill(0L, Seq("e_within"))
      .withColumn("q6", round(
        (lit(4L) * lit(m) * col("e_within") - col("d_l") * col("d_l")) /
          (lit(4.0) * m * m), 6))
      .select(col("label").cast("long"), col("n_nodes"), col("d_l"),
        col("e_within"), col("q6"))
  }

  def kCenterCoreset(corpus: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    val e = Funnel.stageLazy(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e")))
    val seed = e.agg(min("vec_id").as("vec_id"))
    var centers = Funnel.stageLazy(e.join(seed, "vec_id")
      .select(col("vec_id"), col("e"), lit(1).as("step"),
        lit(null).cast("double").as("d")))
    var md: DataFrame = null // (vec_id, e, d = min distance to selected)
    for (t <- 2 to k) {
      val newC = centers.filter(col("step") === t - 1).select(col("e").as("ce"))
      val base =
        if (md == null) e.select(col("vec_id"), col("e"), lit(2.0).as("d"))
        else md
      md = Funnel.stageLazy(base
        .crossJoin(broadcast(newC))
        .select(col("vec_id"), col("e"),
          least(col("d"), lit(1.0) - round(cosine_double(col("e"), col("ce")), 6)).as("d"))
        .join(centers.select("vec_id"), Seq("vec_id"), "left_anti"))
      centers = Funnel.stageLazy(centers.unionByName(
        md.orderBy(col("d").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("e"), lit(t).as("step"), col("d"))))
    }
    centers.select(col("step").cast("long").as("step"), col("vec_id"),
      round(col("d"), 6).as("d")).orderBy("step")
  }

  /** Maximal-marginal-relevance diversified retrieval (Carbonell &
    * Goldstein 1998, public literature — the classic redundancy-aware
    * re-rank every RAG/dedup-aware retrieval stack ships): from each
    * query's `candK` highest-cosine candidates, greedily select
    * `selectK` results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`.
    *
    * Scale shape: candidate generation is the ordinary top-k exchange;
    * everything after operates on candK rows per query — the candidate
    * pair-sim table is (candK² per query, both directions) and each of
    * the `selectK` greedy rounds is an anti-join + a bounded max + one
    * row_number pick over those candidate rows only. The corpus is
    * never touched again after candidate generation, so the greedy
    * loop's cost is independent of corpus size. Relevance and
    * pair-similarity are rounded to 6 before the linear combination,
    * keeping the argmax engine-replayable.
    *
    * Output: (qid, nid, mmr, rel, step) — selection order 1..selectK,
    * `mmr` the selection-time score rounded to 4 (step 1's score is
    * pure λ·rel: nothing is selected yet).
    */
  def mmrTopK(
      queries: DataFrame, // (qid, qe)
      corpus: DataFrame, // (vec_id, embedding)
      candK: Int,
      selectK: Int,
      lambda: Double
  ): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    val q = queries.select(col("qid"), col("qe").cast("array<double>").as("qe"))
    val e = corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
    val wCand = Window.partitionBy("qid").orderBy(col("rel").desc, col("nid"))
    val cand = Funnel.stageLazy(e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("ed"),
        round(cosine_double(col("qe"), col("ed")), 6).as("rel"))
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") <= candK)
      .drop("rn"))
    val pairSim = Funnel.stageLazy(cand.select(col("qid"), col("nid").as("c1"), col("ed").as("e1"))
      .join(cand.select(col("qid"), col("nid").as("c2"), col("ed").as("e2")), "qid")
      .filter(col("c1") =!= col("c2"))
      .select(col("qid"), col("c1"), col("c2"),
        round(cosine_double(col("e1"), col("e2")), 6).as("sim")))
    val wPick = Window.partitionBy("qid").orderBy(round(col("score"), 6).desc, col("nid"))
    var selected = cand
      .select(col("qid"), col("nid"), col("rel"),
        (col("rel") * lambda).as("score"))
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nid"), col("rel"), col("score"), lit(1).as("step"))
    for (t <- 2 to selectK) {
      val remaining = cand.select("qid", "nid", "rel")
        .join(selected.select("qid", "nid"), Seq("qid", "nid"), "left_anti")
      val redundancy = pairSim
        .join(selected.select(col("qid"), col("nid").as("c2")), Seq("qid", "c2"))
        .groupBy(col("qid"), col("c1").as("nid"))
        .agg(max("sim").as("ms"))
      val pick = remaining
        .join(redundancy, Seq("qid", "nid"), "left")
        .select(col("qid"), col("nid"), col("rel"),
          (col("rel") * lambda - coalesce(col("ms"), lit(0.0)) * (1 - lambda)).as("score"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid"), col("rel"), col("score"), lit(t).as("step"))
      selected = Funnel.stageLazy(selected.unionByName(pick))
    }
    selected.select(col("qid"), col("nid"), round(col("score"), 4).as("mmr"),
      round(col("rel"), 4).as("rel"), col("step").cast("long").as("step"))
  }

  /** Scalar (SQ8) quantization ANN — the standard memory-tier companion
    * to product quantization (faiss's ScalarQuantizer QT_8bit posture,
    * public literature): each dimension is affinely coded into one byte
    * against the corpus's per-dimension [min, max] envelope,
    * `code = round(255·(x−min)/Δ)`, and queries score against the
    * DEQUANTIZED reconstruction (asymmetric: the query side stays
    * exact, only the corpus pays the 4×-8× compression). The exact
    * cosine of each returned pair rides along as the audit column, so
    * recall/ranking degradation is measured in the result itself.
    *
    * Scale shape: the envelope is one posexplode + (dim)-keyed
    * aggregate collapsed to a single broadcast row of two arrays;
    * encode and dequantize are zip_with projections in the corpus scan
    * (zero shuffle); scoring reuses the brute-force top-k exchange at
    * 1-byte-per-dim scanned width. Constant-dimension envelopes make
    * the whole path engine-replayable (the only floats are the same
    * left-to-right dot folds every other embedding oracle relies on).
    *
    * Output: (qid, nid, cos_sq8, cos_exact, rn) — top `topK` per query
    * by ROUNDED quantized cosine, nid tie-break.
    */
  def sq8TopK(
      queries: DataFrame, // (qid, qe)
      corpus: DataFrame, // (vec_id, embedding)
      topK: Int
  ): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    val e = Funnel.stageLazy(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e")))
    val env = e.select(posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("i"), col("mn"), col("mx")))).as("ims"))
      .select(transform(col("ims"), _.getField("mn")).as("vmin"),
        transform(col("ims"), x => x.getField("mx") - x.getField("mn")).as("vdelta"))
    val coded = e.crossJoin(broadcast(env))
      .select(col("vec_id"),
        transform(col("e"), (x, i) =>
          when(element_at(col("vdelta"), i + 1) === 0.0, lit(0L))
            .otherwise(round((x - element_at(col("vmin"), i + 1)) * 255.0
              / element_at(col("vdelta"), i + 1)).cast("long"))).as("codes"),
        col("vmin"), col("vdelta"), col("e"))
      .select(col("vec_id"),
        transform(col("codes"), (c, i) =>
          element_at(col("vmin"), i + 1)
            + c * element_at(col("vdelta"), i + 1) / 255.0).as("deq"),
        col("e"))
    val q = queries.select(col("qid"), col("qe").cast("array<double>").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cq").desc, col("nid"))
    coded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(cosine_double(col("qe"), col("deq")), 6).as("cq"),
        round(cosine_double(col("qe"), col("e")), 4).as("cos_exact"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("nid"), round(col("cq"), 4).as("cos_sq8"),
        col("cos_exact"), col("rn").cast("long").as("rn"))
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search", public literature): split each
    * vector into `m` subspaces, train a tiny k-means codebook per
    * subspace, ENCODE the corpus as m one-byte codes, and answer
    * queries by asymmetric distance computation (ADC) — per-query
    * lookup tables of exact query-subvector→centroid distances, summed
    * along each corpus vector's code word. The memory story at 100 TB:
    * the scanned representation shrinks from m·subDim floats to m
    * bytes per vector.
    *
    * Spark shape: the subspace axis is DATA, not a loop — one explode
    * produces (vid, s, subvector) and every training round is a single
    * broadcast-join + `min_by` partial-agg argmin and one centroid
    * aggregate for ALL subspaces at once (contrast the per-subspace
    * scikit loop; here m=16 trains in the same 2 jobs as m=1). Codes
    * and distance tables join on (s, cid): the distance table
    * (|queries|·m·ksub rows) is broadcast, the corpus code stream
    * never shuffles until the final (qid, nid) sum, whose rows are
    * exactly m per pair. Per-subspace distances are fixed to integer
    * MICRO-units before the sum (engine-exact; a float sum is
    * order-dependent), and squared L2 is the `dot(a,a) − 2·dot(a,b) +
    * dot(b,b)` fold both engines replay identically.
    *
    * Output: (qid, nid, adist, rn) — top `topK` per query by ascending
    * approximate distance, `adist` rounded to 4.
    */
  def pqTopK(
      queries: DataFrame, // (qid, qe: array<float|double>)
      corpus: DataFrame, // (vec_id, embedding)
      dims: Int,
      m: Int,
      ksub: Int,
      iters: Int,
      topK: Int
  ): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    import graft.functions.GraftFunctions.dot_double
    def l2sq(a: Column, b: Column): Column =
      dot_double(a, a) - lit(2.0) * dot_double(a, b) + dot_double(b, b)
    def subspaces(df: DataFrame, idOut: String, idIn: String, embIn: String): DataFrame =
      df.select(col(idIn).as(idOut), col(embIn).cast("array<double>").as("e"))
        .select(col(idOut), explode(sequence(lit(0), lit(m - 1))).as("s"), col("e"))
        .select(col(idOut), col("s"), slice(col("e"), col("s") * subDim + 1, lit(subDim)).as("v"))
    // training re-references the subvector table once per round and the
    // encode + ADC passes read it again — one materialization (the
    // persist-for-iterative-training discipline, as in kmeansCentroids)
    val sub = Funnel.stageLazy(subspaces(corpus, "vid", "vec_id", "embedding"))
    var cb = seedBlock(sub, "vid", 0, ksub, "cid")
      .select(col("s"), col("cid"), col("v").as("cv"))
    def assign(df: DataFrame, idCol: String): DataFrame =
      df.join(broadcast(cb), "s")
        .select(col(idCol), col("s"), col("v"), col("cid"),
          round(l2sq(col("v"), col("cv")), 6).as("d"))
        .groupBy(idCol, "s")
        .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cid"),
          first(col("v")).as("v"))
    for (_ <- 1 to iters) {
      cb = assign(sub, "vid")
        .select(col("s"), col("cid"), posexplode(col("v")))
        .groupBy("s", "cid", "pos").agg(round(avg("col"), 6).as("c"))
        .groupBy("s", "cid")
        .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("s"), col("cid"), transform(col("pc"), _.getField("c")).as("cv"))
    }
    val codes = assign(sub, "vid").select("vid", "s", "cid")
    val qsub = subspaces(queries, "qid", "qid", "qe")
    val dt = qsub.join(broadcast(cb), "s")
      .select(col("qid"), col("s"), col("cid"),
        round(l2sq(col("v"), col("cv")) * 1e6).cast("long").as("dn"))
    val w = Window.partitionBy("qid").orderBy(col("adn").asc, col("nid"))
    codes.join(broadcast(dt), Seq("s", "cid"))
      .filter(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid").as("nid"))
      .agg(sum("dn").as("adn"))
      .select(col("qid"), col("nid"), round(col("adn") / 1e6, 4).as("adist"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= topK)
  }

  /** Residual (multi-stage) vector quantization ANN (Chen, Guan &
    * Wang 2010 "Approximate Nearest Neighbor Search by Residual Vector
    * Quantization"; the additive-quantization family of Babenko &
    * Lempitsky 2014): stage 0 k-means-quantizes the vector, each later
    * stage quantizes the RESIDUAL left by the stages before it, and
    * the reconstruction is the SUM of the selected centroids — the
    * complement of [[pqTopK]]: PQ splits the dimension axis, RQ stacks
    * whole-vector stages, so RQ captures cross-dimension structure PQ
    * cannot. Memory story: `stages`·log₂(k) bits per vector.
    * Needs at least `stages`·k corpus vectors (fails LOUD below that
    * via [[seedIds]]; any id SPACE works — seeding is by id ORDER,
    * not id value, so sparse/offset/renumbered corpora train
    * correctly).
    *
    * Spark shape: each stage's codebook (k rows) broadcasts into one
    * scan + `min_by` partial-agg argmin; the corpus never self-joins
    * and crosses the wire only in the bounded per-stage aggregates.
    * Stage s seeds from id-order positions [s·k, (s+1)·k) so no stage seeds on a
    * vector whose residual is already zero from its own stage-0 seed
    * row. Assignment ranks round to 6 with cid tie-break and centroid
    * components round to 6 per Lloyd round — the whole train/encode/
    * reconstruct trajectory replays exactly in the oracle. Queries
    * score EXACT-vs-reconstruction (asymmetric, the RQ search mode).
    *
    * Output: (qid, nid, adist, rn) — top `topK` per query by ascending
    * approximate squared L2, `adist` rounded to 4.
    */
  def rqTopK(
      queries: DataFrame, // (qid, qe: array<float|double>)
      corpus: DataFrame, // (vec_id, embedding)
      k: Int,
      stages: Int,
      iters: Int,
      topK: Int
  ): DataFrame = {
    import graft.functions.GraftFunctions.dot_double
    def l2sq(a: Column, b: Column): Column =
      dot_double(a, a) - lit(2.0) * dot_double(a, b) + dot_double(b, b)
    var resid = Funnel.stageLazy(
      corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("r")))
    var recon: DataFrame = null // (vec_id, rec)
    // one ordered-id collect covers every stage's seed block (ids never
    // change across stages — only the residual values do)
    val allSeedIds = seedIds(resid, "vec_id", stages * k)
    for (st <- 0 until stages) {
      var cb = seedFromIds(resid, "vec_id", allSeedIds.slice(st * k, (st + 1) * k), "cid")
        .select(col("cid"), col("r").as("cv"))
      for (_ <- 1 to iters) {
        val asg = resid.join(broadcast(cb))
          .select(col("vec_id"), col("r"), col("cid"),
            round(l2sq(col("r"), col("cv")), 6).as("d"))
          .groupBy("vec_id")
          .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cid"),
            first(col("r")).as("r"))
        cb = asg.select(col("cid"), posexplode(col("r")))
          .groupBy("cid", "pos").agg(round(avg("col"), 6).as("c"))
          .groupBy("cid")
          .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
          .select(col("cid"), transform(col("pc"), _.getField("c")).as("cv"))
      }
      val coded = Funnel.stageLazy(resid.join(broadcast(cb))
        .select(col("vec_id"), col("r"), col("cid"), col("cv"),
          round(l2sq(col("r"), col("cv")), 6).as("d"))
        .groupBy("vec_id")
        .agg(min_by(col("cv"), struct(col("d"), col("cid"))).as("cv"),
          first(col("r")).as("r")))
      resid = coded.select(col("vec_id"),
        zip_with(col("r"), col("cv"), (a, b) => a - b).as("r"))
      val stageRec = coded.select(col("vec_id"), col("cv"))
      recon =
        if (recon == null) stageRec.select(col("vec_id"), col("cv").as("rec"))
        else recon.join(stageRec, "vec_id")
          .select(col("vec_id"), zip_with(col("rec"), col("cv"), (a, b) => a + b).as("rec"))
    }
    val q = queries.select(col("qid"), col("qe").cast("array<double>").as("qe"))
    val w = Window.partitionBy("qid").orderBy(round(col("dd"), 6).asc, col("nid"))
    recon.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), l2sq(col("qe"), col("rec")).as("dd"))
      .select(col("qid"), col("nid"), round(col("dd"), 4).as("adist"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= topK)
  }

  /** IVF-PQ with residual encoding and per-cell ADC — the full
    * billion-scale index of Jégou, Douze & Schmid 2011 ("Product
    * Quantization for Nearest Neighbor Search", the IVFADC system),
    * composing [[ivfTopK]]'s coarse routing with [[pqTopK]]'s code
    * compression: every corpus vector is assigned to its nearest coarse
    * centroid, the RESIDUAL x − c(cell) is product-quantized (residuals
    * concentrate near the origin, which is why the classic system
    * quantizes them instead of raw vectors), and a query probes
    * `nprobe` cells, building one ADC lookup table per (query, cell)
    * from its own residual against that cell.
    *
    * Scale shape: centroids and the (m·ksub-row) codebook broadcast;
    * the corpus crosses the wire once for assignment and once as
    * m-byte-per-vector codes; the per-query work is nprobe·m·ksub
    * exact distances plus a code-stream sum over only the probed
    * cells' vectors. Per-subspace distances are fixed to integer
    * micro-units before the sum (engine-exact); sub-codebook seeds
    * start at id-order position `nlist` so no seed is a coarse
    * centroid's own zero residual.
    *
    * Output: (qid, nid, adist, rn) — top `topK` per query by ascending
    * approximate distance over the probed cells.
    */
  def ivfPqTopK(
      queries: DataFrame, // (qid, qe: array<float|double>)
      corpus: DataFrame, // (vec_id, embedding)
      dims: Int,
      nlist: Int,
      nprobe: Int,
      m: Int,
      ksub: Int,
      iters: Int,
      topK: Int
  ): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    import graft.functions.GraftFunctions.{cosine_double, dot_double}
    def l2sq(a: Column, b: Column): Column =
      dot_double(a, a) - lit(2.0) * dot_double(a, b) + dot_double(b, b)
    val e = Funnel.stageLazy(corpus.select(col("vec_id").as("vid"),
      col("embedding").cast("array<double>").as("e")))
    // one ordered-id collect seeds both the coarse centroids (first
    // nlist positions) and the sub-codebooks (the next ksub)
    val ivfpqSeedIds = seedIds(e, "vid", nlist + ksub)
    val cent = seedFromIds(e, "vid", ivfpqSeedIds.take(nlist), "cid")
      .select(col("cid"), col("e").as("ce"))
    // coarse assignment + residual, corpus crosses the wire once
    val assigned = Funnel.stageLazy(e.join(broadcast(cent))
      .select(col("vid"), col("e"), col("cid"), col("ce"),
        round(cosine_double(col("e"), col("ce")), 6).as("cd"))
      .groupBy("vid")
      .agg(max_by(struct(col("cid"), col("ce")), struct(col("cd"), -col("cid"))).as("cc"),
        first(col("e")).as("e"))
      .select(col("vid"), col("cc.cid").as("cid"),
        zip_with(col("e"), col("cc.ce"), (a, b) => a - b).as("r")))
    val sub = Funnel.stageLazy(assigned
      .select(col("vid"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("r"))
      .select(col("vid"), col("s"),
        slice(col("r"), col("s") * subDim + 1, lit(subDim)).as("v")))
    var cb = seedFromIds(sub, "vid", ivfpqSeedIds.drop(nlist), "code")
      .select(col("s"), col("code"), col("v").as("cv"))
    def assignCodes(df: DataFrame): DataFrame =
      df.join(broadcast(cb), "s")
        .select(col("vid"), col("s"), col("v"), col("code"),
          round(l2sq(col("v"), col("cv")), 6).as("d"))
        .groupBy("vid", "s")
        .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"),
          first(col("v")).as("v"))
    for (_ <- 1 to iters) {
      cb = assignCodes(sub)
        .select(col("s"), col("code"), posexplode(col("v")))
        .groupBy("s", "code", "pos").agg(round(avg("col"), 6).as("c"))
        .groupBy("s", "code")
        .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("s"), col("code"), transform(col("pc"), _.getField("c")).as("cv"))
    }
    val codes = assignCodes(sub).select(col("vid"), col("s"), col("code"))
      .join(assigned.select("vid", "cid"), "vid")
    // query probes + per-(query, cell) residual ADC tables
    val q = queries.select(col("qid"), col("qe").cast("array<double>").as("qe"))
    val wProbe = Window.partitionBy("qid").orderBy(col("qd").desc, col("cid"))
    val probes = q.join(broadcast(cent))
      .select(col("qid"), col("qe"), col("cid"), col("ce"),
        round(cosine_double(col("qe"), col("ce")), 6).as("qd"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid"),
        zip_with(col("qe"), col("ce"), (a, b) => a - b).as("qr"))
    val qsub = probes
      .select(col("qid"), col("cid"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("qr"))
      .select(col("qid"), col("cid"), col("s"),
        slice(col("qr"), col("s") * subDim + 1, lit(subDim)).as("v"))
    val dt = qsub.join(broadcast(cb), "s")
      .select(col("qid"), col("cid"), col("s"), col("code"),
        round(l2sq(col("v"), col("cv")) * 1e6).cast("long").as("dn"))
    val w = Window.partitionBy("qid").orderBy(col("adn").asc, col("nid"))
    codes.join(broadcast(dt), Seq("cid", "s", "code"))
      .filter(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid").as("nid"))
      .agg(sum("dn").as("adn"))
      .select(col("qid"), col("nid"), round(col("adn") / 1e6, 4).as("adist"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= topK)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * corpus embeddings, then WITHIN each cluster mark a vector as a
    * semantic duplicate when its cosine to an earlier-ranked cluster
    * member reaches `tau`. Rank follows the paper's keep rule — members
    * are ordered farthest-from-centroid first (ascending
    * cosine-to-centroid, vec_id tie-break), so of each near-duplicate
    * group the example LEAST typical of its cluster survives (the
    * paper's choice: keeping outliers preserves diversity).
    *
    * Scale shape: this IS the SemDeDup trick — clustering first bounds
    * the quadratic pair blast radius to Σ|cluster|² instead of |corpus|²
    * (k grows with the corpus so cluster sizes stay bounded). Centroids
    * broadcast for assignment (corpus crosses the wire once via the
    * max_by partial-aggregate argmax); the pair join is keyed on cid.
    * Cosines round to 6 before ranking and thresholding so both engines
    * agree exactly.
    *
    * Output: (vec_id, cid, ccos, dup) for every corpus vector.
    */
  def semDeDup(
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      k: Int,
      iters: Int,
      tau: Double
  ): DataFrame = {
    val cent = kmeansCentroids(corpus, k, iters)
    val assigned = Funnel.stageLazy(semDeDupAssign(corpus, cent))
    semDeDupSolve(assigned, tau)
  }

  /** [[semDeDup]]'s assignment stage: nearest-centroid (by rounded
    * cosine, cid tie-break) for every corpus vector against a given
    * centroid table. Per-row and model-deterministic, so a streaming
    * maintainer can run it batch-by-batch against a fixed model and
    * the union equals the batch assignment exactly.
    */
  def semDeDupAssign(corpus: DataFrame, cent: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .join(broadcast(cent))
      .select(col("vec_id"), col("e"), col("cid"),
        round(cosine_double(col("e"), col("ce")), 6).as("cd"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("cd")), struct(col("cd"), -col("cid"))).as("m"),
        first(col("e")).as("e"))
      .select(col("vec_id"), col("e"),
        col("m.cid").as("cid"), col("m.cd").as("ccos"))
  }

  /** k-means‖ oversampling initialization (Bahmani et al. 2012,
    * "Scalable k-means++"): instead of k-means++'s k strictly
    * sequential D²-weighted draws (k full corpus passes with a global
    * sequential dependency — the part that does NOT scale), run
    * `rounds` passes that sample EACH point INDEPENDENTLY with
    * probability min(1, l·d²(x,C)/Φ), Φ = Σ d²(x,C), then weight the
    * ~l·rounds candidates by how many points they are nearest to (the
    * weighted set a final bounded k-means++ or Lloyd pass reclusters).
    *
    * Determinism device: d² is 1e-6-quantized per row (d2q =
    * floor(d²·1e6+0.5), one IEEE chain from [[graft.functions.GraftFunctions.dot_double]]
    * mirroring list_dot_product term-for-term), Φ is an EXACT BIGINT
    * sum of d2q, and the Bernoulli draw is the integer cross-multiply
    * `u·Φ < l·d2q·16⁷` with u = first 7 md5 hex digits of
    * "vec_id:round" — no float division anywhere, so both engines make
    * bit-identical draws. Products ride DECIMAL(38,0) (HUGEINT on the
    * oracle side) so Φ can grow with the corpus without overflow.
    *
    * Scale shape: per round ONE scan computes Φ (1-row broadcast) and
    * the draws; the d² update joins the corpus against the ≤l new
    * candidates as a collected 1-row array (bounded-statistics posture:
    * the candidate set IS the model, ≤(1+l·rounds) vectors); points
    * already chosen have d²=0 so they can never be re-drawn. No
    * sequential per-point dependency — the rounds are the only barrier,
    * exactly the paper's point.
    *
    * Output: (cid, rnd, w) — candidate id, the round it entered, and
    * its nearest-point weight (0 if shadowed by an identical earlier
    * candidate).
    */
  def kmeansParSeed(
      corpus: DataFrame, // (vec_id, embedding: array<float>)
      l: Int,
      rounds: Int
  ): DataFrame = {
    import graft.functions.GraftFunctions.dot_double
    def d2q(a: Column, b: Column): Column =
      floor((dot_double(a, a) - lit(2.0) * dot_double(a, b) + dot_double(b, b)) * 1e6
        + 0.5).cast("long")
    val e = Funnel.stageLazy(
      corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("e")))
    // seed = the minimum id (the paper's "uniform random point"; a fixed
    // rule keeps both engines and re-runs deterministic, and survives
    // corpora whose ids don't start at 0)
    val c0 = e.join(broadcast(e.agg(min("vec_id").as("vec_id"))), "vec_id")
      .select(col("vec_id").as("cid"), col("e").as("ce"), lit(0).as("rnd"))
    var cands = c0.localCheckpoint(eager = false)
    var cur = e.crossJoin(broadcast(c0.select(col("ce"))))
      .select(col("vec_id"), col("e"), d2q(col("e"), col("ce")).as("d2q"))
      .localCheckpoint(eager = false)
    for (r <- 1 to rounds) {
      val phi = cur.agg(sum("d2q").cast("decimal(38,0)").as("phi"))
      val u = graft.functions.GraftFunctions.md5_prefix(
        concat(col("vec_id").cast("string"), lit(s":$r")), 7).cast("decimal(38,0)")
      val newc = cur.crossJoin(broadcast(phi))
        .filter(u * col("phi") <
          col("d2q").cast("decimal(38,0)") * lit(l * 268435456L).cast("decimal(38,0)"))
        .select(col("vec_id").as("cid"), col("e").as("ce"), lit(r).as("rnd"))
      cands = cands.unionByName(newc).localCheckpoint(eager = false)
      val arr = newc.agg(collect_list(struct(col("cid"), col("ce"))).as("cs"))
      cur = cur.crossJoin(broadcast(arr))
        .select(col("vec_id"), col("e"),
          least(col("d2q"),
            coalesce(array_min(transform(col("cs"), c => d2q(col("e"), c.getField("ce")))),
              col("d2q"))).as("d2q"))
        .localCheckpoint(eager = false)
    }
    val ca = cands.agg(collect_list(struct(col("cid"), col("ce"))).as("cs"))
    val near = cur.crossJoin(broadcast(ca))
      .select(col("vec_id"), explode(col("cs")).as("c"), col("e"))
      .select(col("vec_id"), col("c.cid").as("cid"), d2q(col("e"), col("c.ce")).as("dd"))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("dd"), col("cid"))).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("w"))
    cands.join(near, Seq("cid"), "left")
      .select(col("cid"), col("rnd").cast("long").as("rnd"),
        coalesce(col("w"), lit(0L)).as("w"))
  }

  /** [[semDeDup]]'s solve tail over an assignment table
    * (vec_id, e, cid, ccos): the within-cluster rank-ordered duplicate
    * marks. A set-level decision (a late-arriving outlier can flip an
    * existing member's mark), so maintainers re-solve over the snapshot
    * rather than patching marks incrementally.
    */
  def semDeDupSolve(assigned: DataFrame, tau: Double): DataFrame = {
    import graft.functions.GraftFunctions.cosine_double
    val rhs = assigned.select(col("cid"), col("vec_id").as("bid"),
      col("e").as("be"), col("ccos").as("bccos"))
    val dup = assigned.join(rhs, Seq("cid"))
      .filter(struct(col("bccos"), col("bid")) < struct(col("ccos"), col("vec_id")))
      .filter(round(cosine_double(col("e"), col("be")), 6) >= tau)
      .select(col("vec_id")).distinct()
    assigned.join(dup.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("ccos"),
        coalesce(col("dup"), lit(false)).as("dup"))
  }
}
