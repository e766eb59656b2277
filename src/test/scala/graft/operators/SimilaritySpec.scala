package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.tables.Tables

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("brute-force knn returns k neighbors per query, ranked by cosine") {
    val out = Similarity.knnQuery(spark, sf)
      .select("query_id", "cand_id", "sim", "rn").as[(Long, Long, Double, Int)].collect()
    val byQuery = out.groupBy(_._1)
    assert(byQuery.keySet === (0L until 10L).toSet)
    byQuery.values.foreach { rows =>
      assert(rows.length === 5)
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-_).toSeq) // sim desc by rank
      assert(!rows.exists(r => r._2 == r._1)) // self excluded
    }
  }

  test("lsh knn recall vs brute force is substantial on sf0.001") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val brute = Similarity.bruteForceKnn(c, q, 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshKnn(emb, "vec_id", "embedding", dim = 64, k = 5)
      .filter(col("query_id") < 50)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.3, s"recall $recall too low") // 16-bit sign-LSH on random vectors
  }

  test("kmeans refinement improves the quantizer objective over the id-sample seed") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
        .join(cents, Seq("cent_id"))
        .select(avg(graft.functions.GraftFunctions.cosine(col("vec"), col("cent_vec"))))
        .as[Double].head()
    val seed = objective(Similarity.sampleCentroids(emb, "vec_id", "embedding", 16))
    val one = objective(Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, 1))
    val two = objective(Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, 2))
    assert(one >= seed, s"1 Lloyd step must not regress: $one < $seed")
    assert(two >= one, s"2nd Lloyd step must not regress: $two < $one")
  }

  test("kmeans lineage is cut per Lloyd step: snapshot plan + linear job growth") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // mechanism: the returned centroids are a collected nlist-row
    // snapshot (LocalRelation), not a plan embedding the whole Lloyd
    // chain — iteration i must never re-derive iterations 1..i-1
    val c3 = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, 3)
    val plan = c3.queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"),
      s"iters=3 centroids must be a materialized snapshot, got:\n${plan.take(600)}")
    assert(c3.count() === 16)
    // effect: job count grows ~linearly in iters (re-derivation grew
    // the work superlinearly). Counted via listener once the bus drains.
    def countJobs(iters: Int): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, iters).count()
        org.apache.spark.sql.ListenerBusTestBridge.drain(spark)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val j1 = countJobs(1)
    val j3 = countJobs(3)
    assert(j3 <= 3 * j1 + 2, s"iters=3 ran $j3 jobs vs $j1 for iters=1 — not linear")
  }

  test("refresh policy: a below-τ decision skips the Lloyd pass entirely and republishes nothing") {
    import graft.sources.bucketed.BucketStore
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val centsName = "policy_cents_spec"
    BucketStore.drop(centsName)
    BucketStore.load(spark, centsName,
      Similarity.sampleCentroids(emb, "vec_id", "embedding", 16), "cent_id", 4)
    def countJobs(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        org.apache.spark.sql.ListenerBusTestBridge.drain(spark)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    // below τ: probe only — no Lloyd refit, no quantizer republish
    val vBefore = BucketStore.currentVersion(centsName)
    var fired = true
    val jBelow = countJobs {
      fired = Similarity.policyCycle(spark, emb, centsName, baseline = 0L,
        tau = Long.MaxValue)._2
    }
    assert(!fired)
    assert(BucketStore.currentVersion(centsName) === vBefore,
      "a below-τ cycle must not republish the quantizer")
    // above τ: the decision CONSUMES — Lloyd runs and the quantizer
    // republishes as a new version; strictly more jobs than the probe
    var fired2 = false
    val jAbove = countJobs {
      fired2 = Similarity.policyCycle(spark, emb, centsName, baseline = 0L, tau = -1L)._2
    }
    assert(fired2)
    assert(BucketStore.currentVersion(centsName) > vBefore,
      "an above-τ cycle must republish the refreshed quantizer")
    assert(jAbove > jBelow,
      s"the refit must cost extra jobs (probe-only $jBelow vs refresh $jAbove)")
    // and the probe itself stays cheap: a handful of jobs, not a refit
    assert(jBelow <= jAbove / 2 || jBelow <= 4,
      s"the always-on probe should be a fraction of a refresh ($jBelow vs $jAbove)")
  }

  test("int8 scalar quantization: codes bounded, zero vectors safe, coarse recall substantial") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val q = Similarity.sqQuantize(emb, "vec_id", "embedding")
    // every code is a genuine int8, and dequantization error per
    // element is at most scale/2 by construction
    val bad = q.select(explode(col("codes")).as("c")).filter(abs(col("c")) > 127).count()
    assert(bad === 0L)
    // zero vector: scale falls back to 1, codes all zero, no NaN
    val zero = Seq((0L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.sqQuantize(zero, "vec_id", "embedding").collect().head
    assert(zq.getAs[Double]("scale") === 1.0)
    assert(zq.getAs[Seq[Byte]]("codes").forall(_ == 0))
    // end-to-end: 5 results per query, and the quantized pipeline's
    // top-k substantially agrees with the full-precision IVF (same
    // probes, so divergence can come only from int8 coarse ranking)
    val sq = Similarity.sqKnnQuery(spark, sf)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(sq.size === 20 * 5)
    // same seed centroids/probes (kmeansIters=0) so divergence can
    // come only from the int8 coarse ranking
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Similarity.ivfKnn(emb, qs, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4, kmeansIters = 0)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val overlap = (sq intersect exact).size.toDouble / exact.size
    assert(overlap > 0.6, s"sq-knn overlap with exact ivf-knn too low: $overlap")
  }

  test("product quantization: valid codes, reconstruction dims, recall vs brute force substantial") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def pqAt(rerankK: Int) = Similarity.pqKnn(emb, qs, "vec_id", "embedding",
      k = 5, m = 4, subDim = 16, ksub = 16, rerankK = rerankK)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val pq = pqAt(15)
    assert(pq.size === 20 * 5, "5 results per query")
    // exact brute-force ground truth: the PQ coarse pass sees only a
    // 4x16-entry codebook reconstruction (a 128x working-set cut), so
    // overlap measures the compression, not the machinery (which is
    // oracle-gated by q149) — and the rerank budget is the recall
    // dial: a wider coarse cut must recover what quantization blurred
    val cands = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val brute = Similarity.bruteForceKnn(cands, qs, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val overlap15 = (pq intersect brute).size.toDouble / brute.size
    val overlap60 = (pqAt(60) intersect brute).size.toDouble / brute.size
    assert(overlap15 > 0.3, s"pq-knn overlap at rerankK=15 too low: $overlap15")
    assert(overlap60 > overlap15,
      s"widening the rerank budget must raise recall: $overlap15 -> $overlap60")
    assert(overlap60 > 0.6, s"pq-knn overlap at rerankK=60 too low: $overlap60")
    // degenerate geometry stays finite: identical vectors, zero vector
    val degen = Seq(
      (0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(0.0f)), (3L, (1 to 8).map(_.toFloat).toArray))
      .toDF("vec_id", "embedding")
    val dq = degen.filter(col("vec_id") === 3L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = Similarity.pqKnn(degen, dq, "vec_id", "embedding",
      k = 3, m = 2, subDim = 4, ksub = 2, rerankK = 4)
      .select("cand_id").as[Long].collect().toSet
    assert(got === Set(0L, 1L, 2L), "all other vectors ranked, none dropped")
  }

  test("ivf-pq composition: same probes as full-precision ivf, substantial overlap") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val ivfpq = Similarity.ivfPqKnn(emb, qs, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, m = 4, subDim = 16, ksub = 16, rerankK = 15)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(ivfpq.size === 20 * 5)
    // same seed centroids and probes as q33's kmeansIters=0 IVF, so
    // divergence can come only from the coded coarse ranking
    val exact = Similarity.ivfKnn(emb, qs, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4, kmeansIters = 0)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val overlap = (ivfpq intersect exact).size.toDouble / exact.size
    assert(overlap > 0.5, s"ivf-pq overlap with full-precision ivf too low: $overlap")
    // the scale claim in the plan: candidates come from the cent_id /
    // id equi-joins — never a cartesian over the corpus (the flat PQ
    // coarse is deliberately a broadcast scan; the IVF composition
    // must not be)
    val plan = Similarity.ivfPqKnn(emb, qs, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, m = 4, subDim = 16, ksub = 16, rerankK = 15)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"ivf-pq candidate generation must stay equi-joins:\n${plan.take(900)}")
  }

  test("mmr re-rank: suppresses a planted redundant twin that plain top-k keeps") {
    // query q; a and a' are EXACT twins near q (pairwise cosine 1.0);
    // b and c are slightly less relevant but distinct directions.
    // Plain top-3 keeps both twins; MMR at λ=0.5 must trade the
    // second twin (whose redundancy penalty is the maximal 1.0) for
    // coverage: {a, b, c}. Arithmetic: score(a') = .5·0.99015 − .5·1.0
    // < score(b) = .5·0.97 − .5·0.96045.
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (100L, v(1.0, 0.0, 0.0)),            // q (query id; excluded from own results)
      (1L, v(0.99, 0.14, 0.0)),            // a
      (2L, v(0.99, 0.14, 0.0)),            // a' — exact twin of a
      (3L, v(0.97, 0.0, 0.243)),           // b
      (4L, v(0.97, 0.0, -0.243))           // c
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 100L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val topk = Similarity.bruteForceKnn(
      emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")), q, k = 3)
      .select("cand_id").as[Long].collect().toSet
    assert(topk === Set(1L, 2L, 3L), s"plain top-3 keeps the twin: $topk")
    val mmr = Similarity.mmrRerank(emb, q, "vec_id", "embedding",
      k = 3, fetchK = 4, lambda = 0.5)
      .select("cand_id", "rank").as[(Long, Int)].collect().toMap
    assert(mmr.keySet === Set(1L, 3L, 4L),
      s"MMR must trade the twin for coverage: $mmr")
    assert(mmr(1L) === 1, "the most relevant hit still leads")
  }

  test("kmeans centroids: always nlist rows, and empty clusters keep their seed") {
    // Seeds 0 and 1 are IDENTICAL vectors, so every point (including
    // vec 1 itself) ties between them and the argmax's cent_id
    // tie-break sends it to cluster 0 -> cluster 1 is empty after one
    // step and must keep its seed centroid via the COALESCE.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 2, 1)
      .orderBy("cent_id").as[(Long, Array[Double])].collect()
    assert(cents.length === 2)
    assert(cents.map(_._1).toSeq === Seq(0L, 1L))
    assert(cents(1)._2.toSeq === Seq(1.0, 0.0)) // empty cluster kept its seed
    cents.foreach { case (_, v) => assert(v.length === 2 && v.forall(x => !x.isNaN)) }
  }

  test("q155 BM25: rare shared term dominates, common terms wash out") {
    // query doc 0 has terms {zebra, the}; "zebra" appears only in docs
    // 0 and 2 (high idf), "the" in EVERY doc (idf ~ ln(1+0.5/4.5), tiny).
    // doc 2 must out-rank doc 1, which shares only "the" — even at tf=3.
    val docs = Seq(
      (0L, "zebra the"), (1L, "the the the quick fox"),
      (2L, "zebra runs far the"), (3L, "wholly unrelated the words"))
      .toDF("doc_id", "text")
    val got = Similarity.bm25(docs, "doc_id", "text", col("doc_id") === 0, k = 3)
      .select("doc_id", "rn").as[(Long, Int)].collect().toMap
    assert(got.keySet.contains(2L) && got(2L) === 1,
      s"zebra doc must rank first for the zebra query: $got")
    assert(!got.contains(0L), "a query doc never matches itself")
  }

  test("hard negatives: the query's near-dup is excluded, plain candidates survive") {
    // doc 0 is the query; doc 10 is a trigram near-dup (jaccard 0.6 —
    // a positive / label-noise doc that MUST NOT appear as a
    // negative); docs 11 and 12 merely share one query token and are
    // the legitimate hard negatives.
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (10L, "alpha beta gamma delta epsilon eta"),
      (11L, "alpha omega one two three four"),
      (12L, "alpha psi five six seven eight"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-hardneg").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Similarity.hardNegativesQuery(spark, dir)
      .select("query_id", "doc_id", "rank_neg").as[(Long, Long, Int)].collect()
    val mine = got.filter(_._1 == 0L).map(_._2).toSet
    assert(!mine.contains(10L), s"near-dup positive leaked into hard negatives: $got")
    assert(mine.contains(11L) && mine.contains(12L), s"true negatives missing: $got")
    assert(!mine.contains(0L), "a query never negatives itself")
  }

  test("BM25: longer doc with same tf scores lower (length normalization)") {
    val docs = Seq(
      (0L, "needle"),
      (1L, "needle a b"),
      (2L, "needle a b c d e f g h i j k l m n o p q r s t u v w x y z"))
      .toDF("doc_id", "text")
    val scores = Similarity.bm25(docs, "doc_id", "text", col("doc_id") === 0, k = 3)
      .select("doc_id", "score_micro").as[(Long, Long)].collect().toMap
    assert(scores(1L) > scores(2L),
      s"length normalization must penalize the long doc: $scores")
  }

  test("maxsim: slice-permuted doc scores the 4.0 maximum while plain cosine sees 0") {
    // 64-dim vectors assembled from one-hot 16-dim slices. The query is
    // concat(u0,u1,u2,u3); the "coverall" doc carries the SAME slices
    // permuted — full-vector cosine is 0 (orthogonal slice-wise), but
    // every query slice finds an exact match somewhere, so maxsim = 4.0.
    // The "partial" doc repeats u0 four times: one facet matches (1.0).
    def oneHot(k: Int): Array[Double] = Array.tabulate(16)(i => if (i == k) 1.0 else 0.0)
    def vec(slices: Int*): Array[Double] = slices.flatMap(oneHot).toArray
    val q = Seq((100L, vec(0, 1, 2, 3))).toDF("query_id", "qv")
    val cands = Seq(
      (1L, vec(1, 0, 3, 2)), // coverall: permuted slices
      (2L, vec(0, 0, 0, 0)), // partial: one facet only
      (3L, vec(4, 5, 6, 7))  // disjoint: nothing matches
    ).toDF("cand_id", "cv")
    val out = Similarity.maxSim(cands, q, m = 4, sub = 16, fetchK = 10, k = 3)
      .select("cand_id", "score", "rank").as[(Long, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === 4.0 && out(1L)._2 === 1,
      s"permuted coverall must score 4.0 at rank 1: $out")
    assert(out(2L)._1 === 1.0, s"single-facet doc must score 1.0: $out")
    assert(out(3L)._1 === 0.0, s"disjoint doc must score 0.0: $out")
    // plain single-vector cosine cannot distinguish coverall from disjoint
    val plain = cands.join(q)
      .select(col("cand_id"),
        round(graft.functions.GraftFunctions.cosine(col("qv"), col("cv")), 6).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(plain(1L) === 0.0 && plain(3L) === 0.0)
  }

  test("q228 retrieval eval: metric arithmetic is internally consistent and nontrivial") {
    val got = Similarity.retrievalEvalQuery(spark, sf)
      .select("query_id", "hits", "recall_micro", "rr_micro")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === 10)
    got.foreach { case (q, hits, recall, rr) =>
      assert(hits >= 0 && hits <= 5, s"q$q: hits $hits out of range")
      assert(recall === hits * 200000L, s"q$q: recall not derived from hits")
      assert(rr == 0L || (1 to 5).exists(r => rr == 1000000L / r),
        s"q$q: rr $rr is not 1e6 div rank for rank in 1..5")
      // rr > 0 requires at least one hit (the top-1 itself)
      assert(rr == 0L || hits >= 1, s"q$q: rr without hits")
    }
    // the 16-bit sign-LSH on random vectors finds SOMETHING — an
    // all-zero eval would mean the join keys diverged, not bad recall
    assert(got.map(_._2).sum > 0, "eval found zero hits across all queries")
  }

  test("q230 index comparison: IVF (nprobe 4/16) beats 16-bit sign-LSH on mean recall here") {
    val got = Similarity.indexCompareQuery(spark, sf)
      .select("index_name", "recall_micro").as[(String, Long)].collect()
    val mean = got.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).sum / rs.size }
    // round 13: the store-served deployment shape (frozen seed
    // quantizer) joins the surface — its recall vs 'ivf' (refreshed
    // quantizer) is the q234 drift audit
    assert(mean.keySet === Set("lsh", "ivf", "store"))
    assert(mean("ivf") > mean("lsh"),
      s"IVF should dominate at these settings on this corpus: $mean")
    assert(mean("ivf") > 500000, s"IVF recall implausibly low: $mean")
    assert(mean("store") > 500000, s"store-served recall implausibly low: $mean")
  }

  test("q235 quantizer drift: one Lloyd step strictly lowers mean quantization error (the refresh signal)") {
    val got = Similarity.quantizerDriftQuery(spark, sf)
      .select("quantizer", "n_vecs", "mean_err_micro").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet === Set("seed", "refreshed"))
    assert(got("seed")._1 === got("refreshed")._1, "both generations cover the whole corpus")
    // the monitor's reason to exist: the refreshed quantizer fits the
    // current distribution better than the frozen seed — the gap is
    // what an index-maintenance policy thresholds on
    assert(got("refreshed")._2 < got("seed")._2,
      s"Lloyd step should reduce mean quantization error: $got")
    got.values.foreach { case (_, err) => assert(err >= 0 && err <= 2000000) }
  }

  test("q237 embedding health: planted zero-norm and NaN vectors trip the exact counters they exist for") {
    // gate embeddings are unit-normalized (norm_micro ≡ 1e6, counters
    // 0) — so the detectors must be proven on planted pathology
    val planted = Seq(
      (1L, Array(3.0f, 4.0f), 7),            // norm 5.0
      (2L, Array(0.0f, 0.0f), 7),            // zero vector: poisons cosine
      (3L, Array(Float.NaN, 1.0f), 7),       // NaN propagates through dots
      (4L, Array(Float.PositiveInfinity, 0.0f), 7)) // inf likewise
      .toDF("vec_id", "embedding", "label")
    val saved = planted.sparkSession
    val dirTmp = java.nio.file.Files.createTempDirectory("emb_health").toString
    planted.write.mode("overwrite").parquet(s"$dirTmp/embeddings.parquet")
    val r = Similarity.embeddingHealthQuery(saved, dirTmp)
      .select("label", "n", "n_finite", "n_zero_norm", "n_nonfinite",
        "min_norm_micro", "max_norm_micro", "mean_norm_micro")
      .head()
    assert(r.getLong(1) === 4L)
    assert(r.getLong(2) === 2L, "bad rows must be excluded from norm stats")
    assert(r.getLong(3) === 1L, "the zero vector must be counted")
    assert(r.getLong(4) === 2L, "one NaN element + one Inf element")
    assert(r.getLong(5) === 0L, "min norm is the zero vector")
    assert(r.getLong(6) === 5000000L, "max over FINITE rows is the 3-4-5 vector")
    assert(r.getLong(7) === 2500000L, "mean over the two finite norms (0 and 5e6)")
  }

  test("maxsim on the gate data: 10 queries x 10 ranked rows, scores in [-4, 4] and descending") {
    val out = Similarity.maxSimQuery(spark, sf)
      .select("query_id", "cand_id", "score", "rank").as[(Long, Long, Double, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach { rows =>
      assert(rows.length === 10)
      assert(!rows.exists(r => r._2 == r._1), "self excluded")
      val sorted = rows.sortBy(_._4).map(_._3)
      assert(sorted.toSeq === sorted.sortBy(-_).toSeq, "score descending by rank")
      assert(rows.forall(r => r._3 >= -4.0 && r._3 <= 4.0))
    }
  }
}
