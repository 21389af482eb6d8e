package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The r12 scale probe measured FIXED nlist as the library's one
  * remaining super-linear parameterization (constant cell count ⇒
  * linearly growing cell size ⇒ linearly growing probed candidate
  * mass; alpha 1.2–1.4 over a decade) and demonstrated sqrt(n)
  * sizing (nlist=18≈8·√5 on the 5× corpus: 2.3× faster, ≈linear).
  * r13 promotes the rule into the library as [[Similarity.autoNlist]]
  * with the MEASURED balance constant sqrt(n)/4 — the naive c=1
  * promotion benched SLOWER than the fixed fixture size at 5× (51 s
  * vs 32 s, training-dominated: the Lloyd leg costs ~27× per row what
  * the codegen'd scoring leg costs, so the optimum sits at
  * sqrt(nprobe·c2/(iters·c1))·sqrt(n) ≈ sqrt(n)/4, which retrodicts
  * r12's 2.3× point) — plus the `*Auto` trainer entry points; this
  * suite pins the promotion:
  *
  *  1. the arithmetic — nlist grows as sqrt(n) with the floor-k guard;
  *  2. equivalence — when autoNlist lands on the pinned value the auto
  *     route is row-identical to the pinned route (it is the SAME
  *     plan, only the size choice moved into the library);
  *  3. quality at the grown size — on a larger corpus the auto route
  *     sizes UP and keeps classifier quality (no recall cliff from
  *     smaller cells at nprobe=3 on separated clusters);
  *  4. seed-contract inheritance — the auto path seeds by id-order
  *     position like every r12 trainer (sparse remap invariance), and
  *     the STREAMING train-once-on-base posture inherits it too: a
  *     quantizer trained on a sparse-id base drives batch-over-batch
  *     predictions identical to the dense-id run.
  */
class AutoNlistSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val nClusters = 4
  private val rnd = new scala.util.Random(17)

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  // well-separated cluster directions: one dominant axis per cluster
  private lazy val centers: Array[Array[Double]] =
    Array.tabulate(nClusters) { c =>
      Array.tabulate(dim)(i => if (i == c * (dim / nClusters)) 1.0 else 0.0)
    }

  /** n labeled vectors in nClusters tight clusters, dense ids 0..n-1. */
  private def corpus(n: Int): Seq[(Long, Long, Array[Float])] =
    (0 until n).map { i =>
      val c = i % nClusters
      val v = centers(c).map(x => x + 0.08 * rnd.nextGaussian())
      (i.toLong, c.toLong, unit(v))
    }

  private def df(rows: Seq[(Long, Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "label", "embedding")

  private def remap(id: Long): Long = 7000L + 41L * id

  test("autoNlist: the measured sqrt(n)/4 balance with the floor-k guard, monotone in n") {
    assert(Similarity.autoNlist(1024, 5) === 8) // sqrt(1024)/4 = 8
    assert(Similarity.autoNlist(500, 5) === 6) // floor(22.36/4 + .5)
    assert(Similarity.autoNlist(1600, 5) === 10)
    assert(Similarity.autoNlist(10000, 5) === 25)
    assert(Similarity.autoNlist(1000000, 5) === 250)
    assert(Similarity.autoNlist(4, 5) === 5) // floor keeps tiny corpora trainable
    assert(Similarity.autoNlist(0, 3) === 3)
    val sizes = Seq(100L, 1000L, 10000L, 100000L, 1000000L).map(Similarity.autoNlist(_, 1))
    assert(sizes === sizes.sorted && sizes.distinct === sizes, "nlist must grow with n")
  }

  test("auto route == pinned route when autoNlist lands on the pinned size") {
    val c = df(corpus(1024)) // autoNlist(1024, 5) = 8
    def rows(d: DataFrame): Seq[Row] = d.orderBy("label").collect().toSeq
    assert(rows(Similarity.knnLabelProbeAuto(c, k = 5)) ===
      rows(Similarity.knnLabelProbe(c, k = 5, nlist = 8)))
  }

  test("auto route sizes UP on a larger corpus and keeps classifier quality") {
    val c = df(corpus(1600)) // autoNlist = 10, pinned fixture default = 8
    def overallAccBp(d: DataFrame): Long = {
      val t = d.agg(sum("correct").cast("long"), sum("n").cast("long")).head()
      t.getLong(0) * 10000 / t.getLong(1)
    }
    val auto = overallAccBp(Similarity.knnLabelProbeAuto(c, k = 5))
    val pinned = overallAccBp(Similarity.knnLabelProbe(c, k = 5, nlist = 8))
    assert(auto >= 9500, s"auto route accuracy cliff: $auto bp")
    assert(auto >= pinned - 200, s"auto $auto bp lost >2% vs pinned $pinned bp")
  }

  test("auto path inherits the seed contract: sparse remap invariance") {
    val base = corpus(60)
    val dense = df(base)
    val sparse = base.map { case (i, l, v) => (remap(i), l, v) }
      .toDF("vec_id", "label", "embedding")
    def rows(d: DataFrame): Seq[Row] = d.orderBy("label").collect().toSeq
    // aggregated output is id-free, so invariance is exact equality
    assert(rows(Similarity.knnLabelProbeAuto(dense, k = 5)) ===
      rows(Similarity.knnLabelProbeAuto(sparse, k = 5)))
    // the self-kNN graph too, ids mapped back
    def knn(d: DataFrame): Seq[(Long, Long, Long)] =
      Similarity.ivfSelfTopKAuto(d, k = 3)
        .select(col("qid"), col("nid"), col("rn"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val kd = knn(dense)
    val ks = knn(sparse).map { case (q, n, r) => ((q - 7000L) / 41L, (n - 7000L) / 41L, r) }.sorted
    assert(kd === ks)
  }

  test("streaming train-once-on-base posture inherits order-position seeding (sparse-id base)") {
    import graft.functions.GraftFunctions.cosine_double
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the streamKnnProbe shape, minimally: quantizer trained ONCE on the
    // base split (no dense renumber — the point under test), then each
    // batch classifies against the prior-batch corpus via the cid route
    def run(rows: Seq[(Long, Long, Array[Float])]): Seq[(Long, Long)] = {
      val all = df(rows)
      // base split = first 20 vectors in id ORDER (order-preserved under
      // any monotone remap, unlike a vec_id % k predicate)
      val base = all.orderBy("vec_id").limit(20)
      val cent = Similarity.kmeansCentroids(base, k = 4, iters = 2).localCheckpoint()
      def withCell(d: DataFrame): DataFrame =
        d.withColumn("ed", col("embedding").cast("array<double>"))
          .join(broadcast(cent))
          .select(col("vec_id"), col("label"), col("embedding"), col("cid"),
            round(cosine_double(col("ed"), col("ce")), 6).as("cd"))
          .groupBy("vec_id")
          .agg(first("label").as("label"), first("embedding").as("embedding"),
            max_by(col("cid"), struct(col("cd"), -col("cid"))).as("cid"))
      val emptyCorpus = withCell(all.limit(0))
      val preds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var corpusState = emptyCorpus.collect().toSeq
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Array[Float])]
      val q = input.toDF().toDF("vec_id", "label", "embedding")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val prior = spark.createDataFrame(
            spark.sparkContext.parallelize(corpusState), emptyCorpus.schema)
          val wp = org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(col("qd").desc, col("cid"))
          val probes = batch
            .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("embedding").cast("array<double>").as("ed"))
            .join(broadcast(cent))
            .select(col("qid"), col("qe"), col("cid"),
              round(cosine_double(col("ed"), col("ce")), 6).as("qd"))
            .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 2)
            .select("qid", "qe", "cid")
          val scored = probes.join(prior, Seq("cid"))
            .select(col("qid"), col("vec_id").as("nid"), col("label").as("nlabel"),
              round(cosine_double(col("qe").cast("array<double>"),
                col("embedding").cast("array<double>")), 6).as("c"))
          val top = scored.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("qid").orderBy(col("c").desc, col("nid"))))
            .filter(col("rn") <= 3)
          val p = top.groupBy("qid", "nlabel").agg(count(lit(1)).as("v"))
            .withColumn("rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("qid").orderBy(col("v").desc, col("nlabel"))))
            .filter(col("rk") === 1)
            .select(col("qid"), col("nlabel"))
            .as[(Long, Long)].collect().toSeq
          preds ++= p
          corpusState = corpusState ++ withCell(batch).collect().toSeq
          ()
        }
        .start()
      try {
        rows.grouped(20).foreach { b =>
          input.addData(b: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      preds.sortBy(_._1).toSeq
    }
    val base = corpus(60)
    val dense = run(base)
    val sparse = run(base.map { case (i, l, v) => (remap(i), l, v) })
      .map { case (q2, l) => ((q2 - 7000L) / 41L, l) }.sortBy(_._1)
    assert(dense === sparse,
      "sparse-id base must train the same quantizer and yield the same streaming predictions")
  }
}
