package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftMaterialize.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.tables.Tables

/** Approximate / exact nearest-neighbor search over an embedding
  * column (`array<float>`).
  *
  * Two paths, per the scale playbook:
  *   - [[bruteForceKnn]]: exact cosine top-k. The query set is
  *     broadcast; candidates stream through the codegen'd
  *     [[graft.functions.CosineSimilarity]] loop, so the big side is
  *     scanned once with no shuffle of the embeddings themselves.
  *     Per-query top-k is a windowed rank over (query, sim).
  *   - [[lshKnn]]: sign-random-projection LSH. Each vector gets a
  *     `nbits`-bit signature from sign(v·hᵢ) with deterministic
  *     pseudo-random hyperplanes, split into bands; vectors sharing
  *     any band bucket become candidates. The candidate join is an
  *     equi-join on (band, bucket) — the 100 TB path, since bucket
  *     sizes (not n²) bound the work.
  */
object Similarity {

  /** Exact top-k neighbors (cosine) of each query vector. */
  def bruteForceKnn(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val sims = candidates.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("sim"), col("rn"))
  }

  /** q153 — MMR (maximal marginal relevance) diversity re-rank: from
    * each query's top-`fetchK` cosine candidates, greedily select `k`
    * where round r maximizes `λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`
    * over the already-selected set S — the standard redundancy-
    * suppressing re-rank of a retrieval stack (near-duplicate hits
    * crowd out coverage exactly when the corpus is near-dup-heavy,
    * which is what the dedup suite here exists to measure). Greedy
    * selection is inherently sequential in r, so the loop runs k
    * ROUNDS of set-at-a-time Spark jobs — each round scores ALL
    * (query, remaining-candidate) rows at once (one join to the ≤r-row
    * selected set per query + one window), never a per-query driver
    * loop; k is a constant (5) and the frames are fetchK-bounded per
    * query, so round count and per-round cost are both independent of
    * corpus size. All similarities round to 6dp before the λ-blend,
    * ties break on id — the oracle unrolls the same k rounds as CTEs
    * and must agree bit-for-bit.
    */
  def mmrRerank(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, fetchK: Int, lambda: Double): DataFrame = {
    val data = emb.select(col(idCol).as("cand_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col("query_id"), col("qv").cast("array<double>").as("qv"))
    val top = materialize(data.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
      .filter(col("rn") <= fetchK)
      .select(col("query_id"), col("cand_id"), col("sim"), col("cv")), "mmr_top")
    var selected = materialize(top
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
      .filter(col("pick") === 1)
      .select(col("query_id"), col("cand_id"), col("sim"), col("cv"), lit(1).as("rank")),
      "mmr_first")
    var r = 1
    while (r < k) {
      r += 1
      val remaining = top.join(
        selected.select(col("query_id"), col("cand_id")), Seq("query_id", "cand_id"),
        "left_anti")
      val redundancy = remaining.join(
          selected.select(col("query_id"), col("cv").as("sv")), Seq("query_id"))
        .withColumn("ss", round(GraftFunctions.cosine(col("cv"), col("sv")), 6))
        .groupBy(col("query_id"), col("cand_id")).agg(max(col("ss")).as("max_ss"))
      val pick = remaining.join(redundancy, Seq("query_id", "cand_id"))
        .withColumn("mmr", lit(lambda) * col("sim") - lit(1.0 - lambda) * col("max_ss"))
        .withColumn("prn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("mmr").desc, col("cand_id").asc)))
        .filter(col("prn") === 1)
        .select(col("query_id"), col("cand_id"), col("sim"), col("cv"),
          lit(r).as("rank"))
      selected = materialize(selected.union(pick), "mmr_round")
    }
    selected.select(col("query_id"), col("cand_id"), col("sim"), col("rank"))
  }

  def mmrRerankQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    mmrRerank(e.select(col("vec_id"), col("embedding")), q, "vec_id", "embedding",
      k = 5, fetchK = 15, lambda = 0.7)
  }

  /** DuckDB replica: the top-fetchK CTE plus k−1 unrolled greedy
    * rounds (each: anti-join the selected set, max pairwise sim,
    * λ-blend, argmax with id tie-break) — the same arithmetic on the
    * same 6dp-rounded inputs.
    */
  val mmrRerankSql: String = {
    def selN(n: Int): String = {
      val prevSel = (1 to n - 1).map(i => s"SELECT query_id, cand_id, sim, cv, $i AS rank FROM sel$i")
        .mkString(" UNION ALL ")
      s"""sel$n AS (
         |  SELECT query_id, cand_id, sim, cv, $n AS rank FROM (
         |    SELECT t.query_id, t.cand_id, t.sim, t.cv,
         |      row_number() OVER (PARTITION BY t.query_id
         |        -- (1.0 - 0.7) NOT 0.3: the Spark side computes the
         |        -- complement in IEEE double (0.30000000000000004) and
         |        -- the blend must use bit-identical coefficients
         |        ORDER BY CAST(0.7 AS DOUBLE) * t.sim
         |                 - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * mx.max_ss
         |                 DESC, t.cand_id) AS prn
         |    FROM topk t
         |    JOIN (
         |      SELECT t2.query_id, t2.cand_id,
         |        max(round(list_cosine_similarity(t2.cv, s.cv), 6)) AS max_ss
         |      FROM topk t2 JOIN ($prevSel) s USING (query_id)
         |      GROUP BY t2.query_id, t2.cand_id) mx
         |      ON mx.query_id = t.query_id AND mx.cand_id = t.cand_id
         |    WHERE NOT EXISTS (
         |      SELECT 1 FROM ($prevSel) s2
         |      WHERE s2.query_id = t.query_id AND s2.cand_id = t.cand_id)) z
         |  WHERE prn = 1)""".stripMargin
    }
    val allSel = (1 to 5).map(i => s"SELECT query_id, cand_id, sim, rank FROM sel$i")
      .mkString("\nUNION ALL\n")
    s"""WITH topk AS (
       |  SELECT query_id, cand_id, sim, cv FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                   CAST(c.embedding AS DOUBLE[])), 6) AS sim,
       |      CAST(c.embedding AS DOUBLE[]) AS cv,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                              CAST(c.embedding AS DOUBLE[])), 6) DESC,
       |                 c.vec_id) AS rn
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < 10 AND c.vec_id <> q.vec_id) t WHERE rn <= 15),
       |sel1 AS (
       |  SELECT query_id, cand_id, sim, cv, 1 AS rank FROM (
       |    SELECT query_id, cand_id, sim, cv,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS prn
       |    FROM topk) t WHERE prn = 1),
       |${(2 to 5).map(selN).mkString(",\n")}
       |$allSel""".stripMargin
  }

  def knnQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    bruteForceKnn(c, q, k = 5)
  }

  val knnSql: String =
    """SELECT query_id, cand_id, sim, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, cand_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
      |  FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                   CAST(c.embedding AS DOUBLE[])), 6) AS sim
      |    FROM embeddings q JOIN embeddings c
      |      ON q.vec_id < 10 AND c.vec_id <> q.vec_id) s) t
      |WHERE rn <= 5""".stripMargin

  /** Hybrid retrieval: fuse a lexical score (word-set Jaccard) with a
    * semantic score (embedding cosine), 0.5/0.5, and take top-k per
    * query — the standard keyword+vector fusion ranker of a
    * training-data search stack. The lexical side is exact set
    * arithmetic (ints), the semantic side the codegen'd cosine;
    * queries broadcast, so the corpus is scanned once with no shuffle
    * before the per-query top-k.
    */
  def hybridSearchQuery(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("ws"), col("embedding"))
    val queries = corpus.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("ws").as("qws"), col("embedding").as("qv"))
    val inter = size(array_intersect(col("ws"), col("qws")))
    val lex = inter.cast("double") / (size(col("ws")) + size(col("qws")) - inter)
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("doc_id"))
      .withColumn("score",
        round(lit(0.5) * lex + lit(0.5) * GraftFunctions.cosine(col("qv"), col("embedding")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("query_id"), col("doc_id"), col("score"), col("rn"))
  }

  val hybridSearchSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws,
      |    CAST(embedding AS DOUBLE[]) AS v
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |q AS (SELECT doc_id AS query_id, ws AS qws, v AS qv FROM corpus WHERE doc_id < 5),
      |scored AS (
      |  SELECT q.query_id, c.doc_id,
      |    round(0.5 * (CAST(len(list_intersect(c.ws, q.qws)) AS DOUBLE)
      |                 / (len(c.ws) + len(q.qws) - len(list_intersect(c.ws, q.qws))))
      |        + 0.5 * list_cosine_similarity(q.qv, c.v), 6) AS score
      |  FROM corpus c CROSS JOIN q WHERE c.doc_id <> q.query_id)
      |SELECT query_id, doc_id, score, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |  FROM scored) t
      |WHERE rn <= 5""".stripMargin

  /** Deterministic pseudo-random unit-free hyperplanes (dim × nbits). */
  private[operators] def hyperplanes(dim: Int, nbits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nbits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Attach an LSH band/bucket pair per (vector, band): sign bits of
    * v·hᵢ grouped into `bands` equal slices, each hashed to a bucket.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nbits: Int, bands: Int, seed: Long): DataFrame = {
    require(nbits % bands == 0)
    val planes = hyperplanes(dim, nbits, seed)
    val bitCols = planes.zipWithIndex.map { case (h, i) =>
      val hLit = array(h.map(lit): _*)
      val d = GraftFunctions.dot(col(vecCol), hLit)
      // a NULL dot (dim mismatch, corrupt vector element) must fail
      // loudly: silently treating it as sign 0 would hash EVERY such
      // vector into one bucket per band and degenerate the candidate
      // join toward all-pairs
      when(d.isNull, raise_error(lit(
        s"graft lshBuckets: NULL dot product on '$vecCol' — vector shorter than dim=$dim " +
          "or a NULL element")))
        .otherwise(when(d >= 0, lit(1L)).otherwise(lit(0L))).as(s"bit_$i")
    }
    val rows = nbits / bands
    val withBits = df.select(col(idCol).as("id"), col(vecCol).as("vec"), array(bitCols.toIndexedSeq: _*).as("bits"))
    withBits.select(col("id"), col("vec"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> aggregate(slice(bits, b * $rows + 1, $rows), CAST(0 AS BIGINT), (acc, x) -> acc * 2 + x))"))
        .as(Seq("band", "bucket")))
  }

  /** Approximate top-k via LSH candidates, exact cosine re-rank. */
  def lshKnn(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, nbits: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    val b = lshBuckets(emb, idCol, vecCol, dim, nbits, bands, seed)
    // dedup candidate pairs on ids only (a distinct over rows carrying
    // both vectors would shuffle the full embeddings per pair), then
    // join the vectors back — AQE broadcasts the dimension-sized side.
    val cand = b.as("q").join(b.as("c"),
        col("q.band") === col("c.band") && col("q.bucket") === col("c.bucket") &&
          col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("cand_id"))
      .distinct()
    val vecs = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val sims = cand
      .join(vecs.withColumnRenamed("vid", "query_id").withColumnRenamed("v", "qv"), "query_id")
      .join(vecs.withColumnRenamed("vid", "cand_id").withColumnRenamed("v", "cv"), "cand_id")
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("sim"), col("rn"))
  }

  /** DuckDB replica of the LSH-KNN pipeline: the seed-42 hyperplanes
    * are embedded as double literals (shortest-roundtrip decimal →
    * identical binary64), sign bits via `list_inner_product` (same
    * index-order accumulation as [[graft.functions.DotProduct]]), band
    * buckets via the same fold, then candidate join + rounded re-rank.
    * A sign flip would need |v·h| within an ulp of 0 — probability
    * ~1e-10 across the gated corpus.
    */
  lazy val lshKnnSql: String = {
    val planes = hyperplanes(dim = 64, nbits = 16, seed = 42L)
    val hs = planes.map(h => "[" + h.mkString(", ") + "]").mkString("[", ", ", "]")
    s"""WITH hs AS (SELECT $hs AS planes),
       |bits AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec,
       |    list_transform(range(16), i ->
       |      CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), planes[CAST(i AS INT) + 1]) >= 0
       |           THEN 1::BIGINT ELSE 0::BIGINT END) AS bits
       |  FROM embeddings, hs),
       |banded AS (
       |  SELECT id, CAST(b.band AS INT) AS band,
       |    list_reduce(list_prepend(0::BIGINT,
       |      bits[CAST(b.band AS INT) * 4 + 1 : CAST(b.band AS INT) * 4 + 4]),
       |      (a, x) -> a * 2 + x) AS bucket
       |  FROM bits, unnest(range(4)) b(band)),
       |cand AS (
       |  SELECT DISTINCT q.id AS query_id, c.id AS cand_id
       |  FROM banded q JOIN banded c
       |    ON q.band = c.band AND q.bucket = c.bucket AND q.id <> c.id),
       |sims AS (
       |  SELECT query_id, cand_id, round(list_cosine_similarity(qb.vec, cb.vec), 6) AS sim
       |  FROM cand JOIN bits qb ON query_id = qb.id JOIN bits cb ON cand_id = cb.id)
       |SELECT query_id, cand_id, sim, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT query_id, cand_id, sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
       |      FROM sims) t
       |WHERE rn <= 5""".stripMargin
  }

  /** Oracle-gated query for the LSH path (see [[lshKnnSql]]). Indexes
    * ALL embeddings — the same candidate universe the brute-force
    * truth (q19) and the IVF index (q33) see, so the q228/q230 eval
    * harness measures ranking quality, never index coverage (the
    * round-12 advisor finding: a `vec_id < 1000` universe cut here
    * silently penalized LSH in the comparative eval at SFs where the
    * corpus outgrew the cut).
    */
  def lshKnnQuery(spark: SparkSession, dir: String): DataFrame =
    lshKnn(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", dim = 64, k = 5)

  // ——— q228: retrieval evaluation (recall@k / reciprocal rank) ———

  /** q228 — the EVAL harness as a first-class operator: score the LSH
    * index (q20) against exact brute force (q19) per query — recall@5
    * and the reciprocal rank of the true top-1 — the numbers every
    * index/tuning decision (nbits, bands, nprobe) is judged by, and
    * at 100 TB the evaluation must itself be a distributed join, not
    * a notebook loop. Costs: the two audited pipelines plus equi-joins
    * on (query, candidate) — nothing new shuffles. Fixed-point
    * micro-units (hits·200000; 10⁶ div rank) keep the metrics
    * hash-exact; absent top-1 scores rr = 0, not NULL.
    */
  /** Build-if-absent, then read, the exact-KNN TRUTH artifact — q19's
    * brute-force top-5 persisted once through the store's ordinary
    * write path (the q134 index pattern, the q231 pair-artifact twin)
    * and consumed by every eval run (q228, q230). At 100 TB the truth
    * set is the expensive thing (a full corpus scan per query batch);
    * the evals that consume it — per index, per tuning sweep — are
    * cheap equi-joins, so recompute-per-eval is the anti-pattern and
    * one stored build is the artifact shape.
    */
  private[graft] def knnTruthArtifact(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.bucketed.BucketStore
    val name = s"knn_truth@$dir"
    if (!BucketStore.exists(name))
      BucketStore.load(spark, name, knnQuery(spark, dir), "query_id", numBuckets = 4)
    spark.read.format("graft-buckets").option("table", name).load()
  }

  def retrievalEvalQuery(spark: SparkSession, dir: String): DataFrame = {
    val truth = knnTruthArtifact(spark, dir)
      .select(col("query_id"), col("cand_id"), col("rn").as("t_rn"))
    val approx = lshKnnQuery(spark, dir).filter(col("query_id") < 10)
      .select(col("query_id"), col("cand_id"), col("rn").as("a_rn"))
    val hits = materialize(truth.join(approx, Seq("query_id", "cand_id")), "retrieval_hits")
    val perQ = truth.select(col("query_id")).distinct()
      .join(hits.groupBy(col("query_id")).agg(count(lit(1)).as("hits")),
        Seq("query_id"), "left")
    val rrs = hits.filter(col("t_rn") === 1)
      .select(col("query_id"), expr("1000000L div a_rn").as("rr_micro"))
    perQ.join(rrs, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) * 200000L).as("recall_micro"),
        coalesce(col("rr_micro"), lit(0L)).as("rr_micro"))
  }

  /** Oracle: the q19 and q20 oracles verbatim as derived tables, the
    * same joins, the same micro arithmetic.
    */
  lazy val retrievalEvalSql: String =
    s"""WITH truth AS (
       |  SELECT query_id, cand_id, rn AS t_rn FROM ($knnSql) k),
       |approx AS (
       |  SELECT query_id, cand_id, rn AS a_rn FROM ($lshKnnSql) l
       |  WHERE query_id < 10),
       |hits AS (
       |  SELECT t.query_id, t.cand_id, t.t_rn, a.a_rn
       |  FROM truth t JOIN approx a USING (query_id, cand_id)),
       |perq AS (SELECT query_id, count(*) AS hits FROM hits GROUP BY 1),
       |rrs AS (SELECT query_id, 1000000 // a_rn AS rr_micro FROM hits WHERE t_rn = 1)
       |SELECT q.query_id, CAST(COALESCE(p.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(p.hits, 0) * 200000 AS BIGINT) AS recall_micro,
       |  CAST(COALESCE(r.rr_micro, 0) AS BIGINT) AS rr_micro
       |FROM (SELECT DISTINCT query_id FROM truth) q
       |LEFT JOIN perq p USING (query_id)
       |LEFT JOIN rrs r USING (query_id)""".stripMargin

  /** q230 — COMPARATIVE index evaluation: q228's harness over THREE
    * retrieval surfaces on one table — sign-LSH (q20), flat IVF with
    * a refreshed Lloyd quantizer (q33), and the STORE-SERVED IVF
    * deployment shape (q168: frozen seed quantizer, bucket-pruned
    * probes) — (index, query) rows of recall@5 and reciprocal rank.
    * This is the table an index-selection decision actually reads,
    * and the `store` vs `ivf` rows double as the DRIFT audit for the
    * q234 refresh lifecycle: same corpus, frozen vs refreshed
    * quantizer, recall measured by the same harness. Same join shapes
    * as q228; the union adds a 3-value label column, nothing else.
    */
  def indexCompareQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = knnTruthArtifact(spark, dir)
      .select(col("query_id"), col("cand_id"), col("rn").as("t_rn"))
    val approx =
      lshKnnQuery(spark, dir).filter(col("query_id") < 10)
        .select(lit("lsh").as("index_name"), col("query_id"), col("cand_id"),
          col("rn").as("a_rn"))
      .unionByName(
        ivfKnnQuery(spark, dir).filter(col("query_id") < 10)
          .select(lit("ivf").as("index_name"), col("query_id"), col("cand_id"),
            col("rn").as("a_rn")))
      .unionByName(
        graft.sources.bucketed.BucketedQueries.storeAnnQuery(spark, dir)
          .filter(col("query_id") < 10)
          .select(lit("store").as("index_name"), col("query_id"), col("cand_id"),
            col("rn").as("a_rn")))
    val hits = materialize(truth.join(approx, Seq("query_id", "cand_id")), "retrieval_hits")
    val base = truth.select(col("query_id")).distinct()
      .crossJoin(Seq("lsh", "ivf", "store").toDF("index_name"))
    val perQ = hits.groupBy(col("index_name"), col("query_id"))
      .agg(count(lit(1)).as("hits"))
    val rrs = hits.filter(col("t_rn") === 1)
      .select(col("index_name"), col("query_id"), expr("1000000L div a_rn").as("rr_micro"))
    base.join(perQ, Seq("index_name", "query_id"), "left")
      .join(rrs, Seq("index_name", "query_id"), "left")
      .select(col("index_name"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) * 200000L).as("recall_micro"),
        coalesce(col("rr_micro"), lit(0L)).as("rr_micro"))
  }

  lazy val indexCompareSql: String =
    s"""WITH truth AS (
       |  SELECT query_id, cand_id, rn AS t_rn FROM ($knnSql) k),
       |lsh_t AS (SELECT query_id, cand_id, rn AS a_rn FROM ($lshKnnSql) l WHERE query_id < 10),
       |ivf_t AS (SELECT query_id, cand_id, rn AS a_rn FROM ($ivfKnnSql) v WHERE query_id < 10),
       |store_t AS (SELECT query_id, cand_id, rn AS a_rn
       |  FROM (${graft.sources.bucketed.BucketedQueries.storeAnnSql}) st WHERE query_id < 10),
       |approx AS (
       |  SELECT 'lsh' AS index_name, * FROM lsh_t
       |  UNION ALL SELECT 'ivf' AS index_name, * FROM ivf_t
       |  UNION ALL SELECT 'store' AS index_name, * FROM store_t),
       |hits AS (
       |  SELECT a.index_name, t.query_id, t.t_rn, a.a_rn
       |  FROM truth t JOIN approx a USING (query_id, cand_id)),
       |base AS (
       |  SELECT i.index_name, q.query_id
       |  FROM (VALUES ('lsh'), ('ivf'), ('store')) i(index_name),
       |       (SELECT DISTINCT query_id FROM truth) q),
       |perq AS (SELECT index_name, query_id, count(*) AS hits FROM hits GROUP BY 1, 2),
       |rrs AS (SELECT index_name, query_id, 1000000 // a_rn AS rr_micro
       |        FROM hits WHERE t_rn = 1)
       |SELECT b.index_name, b.query_id,
       |  CAST(COALESCE(p.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(p.hits, 0) * 200000 AS BIGINT) AS recall_micro,
       |  CAST(COALESCE(r.rr_micro, 0) AS BIGINT) AS rr_micro
       |FROM base b
       |LEFT JOIN perq p USING (index_name, query_id)
       |LEFT JOIN rrs r USING (index_name, query_id)""".stripMargin

  // ——— IVF (inverted-file) index: the coarse-quantizer scale path ———

  /** Assign each vector to its nearest of `nlist` centroids (coarse
    * quantization). Centroids are a deterministic sample of the data
    * itself — a stand-in for a k-means fit, which would slot in
    * identically.
    *
    * The argmax is computed MAP-SIDE: the centroid set is folded into
    * a single array-of-structs row, broadcast, and each data row picks
    * its best centroid with an `array_max` over
    * `struct(cosine, -cent_id)` — max similarity, ties to the smallest
    * cent_id, identical to a `row_number() OVER (ORDER BY sim DESC,
    * cent_id)` rank-1 but with NO Exchange and NO Window over the
    * n·nlist scored rows (that window was a full shuffle of the data
    * keyed by id — the dominant cost of the previous formulation).
    * Bound: the centroid array rides in one broadcast row, so
    * nlist·dim must stay driver/executor-memory-sized (nlist ≲ 10⁵ at
    * dim 64 — the IVF regime by construction; a billion-centroid
    * quantizer would be a different index).
    */
  /** Per query: its `nprobe` closest centroids by (cosine desc,
    * cent_id) — ONE definition of the probe-selection contract, shared
    * by the IVF and SQ paths so a tie-break change cannot diverge
    * between them.
    */
  private[graft] def probeCentroids(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val qScored = queries.select(col("query_id"), col("qv"))
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", GraftFunctions.cosine(col("qv"), col("cent_vec")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cent_id").asc)
    qScored.withColumn("__prn", row_number().over(wq)).filter(col("__prn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cent_id"))
  }

  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cent_vec")))).as("cents"))
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(broadcast(centArr), lit(true))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(GraftFunctions.cosine(col("vec"), c("cent_vec")).as("sim"),
          (-c("cent_id")).as("nid")))))
      .select(col("id"), col("vec"), (-col("best.nid")).as("cent_id"))
  }

  /** Deterministic centroid sample: the first `nlist` vectors by id
    * (a k-means fit would slot in identically — the index structure,
    * not the quantizer quality, is what this demonstrates).
    */
  def sampleCentroids(emb: DataFrame, idCol: String, vecCol: String, nlist: Int): DataFrame =
    emb.filter(col(idCol) < nlist)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))

  /** Lloyd-refined coarse quantizer: `iters` k-means steps from the
    * deterministic [[sampleCentroids]] seed. Each step is exactly the
    * shuffle shapes the index already has:
    *   1. assign — [[ivfAssign]]'s map-side argmax over the broadcast
    *      centroid array (no Exchange over the data);
    *   2. re-center — `posexplode` the assigned vectors and take the
    *      per-(cent_id, dim) mean. Map-side partial aggregation means
    *      the shuffle carries only nlist·dim partial sums per task,
    *      NOT n·dim rows — at 100 TB the re-center step moves
    *      kilobytes per executor.
    * A cluster that loses every point keeps its previous centroid
    * (the COALESCE), so the quantizer never degenerates.
    *
    * Oracle parity: element sums are taken in DECIMAL(18,9) — exact,
    * order-independent — and the mean is a single double division, so
    * DuckDB reproduces the refined centroids bit-for-bit (the same
    * decimal-sum discipline as the oracle-parity aggregate rules).
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    var cents = sampleCentroids(emb, idCol, vecCol, nlist)
      .select(col("cent_id"), col("cent_vec").cast("array<double>").as("cent_vec"))
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(emb, idCol, vecCol, cents)
      val dims = assigned
        .select(col("cent_id"), posexplode(col("vec")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("col").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("m"))
      val refined = dims.groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"), transform(col("pm"), p => p("m")).as("nv"))
      val next = cents.join(refined, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("nv"), col("cent_vec")).as("cent_vec"))
      // LINEAGE CUT per Lloyd step: without it, iteration i's plan
      // embeds iterations 1..i-1 wholesale — ivfAssign broadcasts the
      // centroid frame, so each pass re-derived the ENTIRE previous
      // chain and cost grew quadratically in `iters`. The centroid set
      // is nlist rows by definition (the quantizer, kilobytes), so the
      // one sanctioned driver materialization here is the same
      // collect-and-rebroadcast every Lloyd implementation does; the
      // DATA-side shuffles stay distributed and per-iteration cost is
      // constant (SimilaritySpec pins linear job growth).
      val snapshot = java.util.Arrays.asList(next.collect(): _*)
      cents = spark.createDataFrame(snapshot, next.schema)
    }
    cents
  }

  /** The refined-centroid CTE chain shared by the q33/q86 oracles:
    * seed centroids (`cent0`), one Lloyd assignment (`a0`), exact
    * decimal per-dimension means (`dims`, zipped `unnest`s), and the
    * empty-cluster-preserving rebuild (`cent`). Mirrors
    * [[kmeansCentroids]] with iters = 1, nlist = 16.
    */
  val refinedCentSql: String =
    """cent0 AS (
      |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      |  FROM embeddings WHERE vec_id < 16),
      |a0 AS (
      |  SELECT id, vec, cent_id FROM (
      |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS arn
      |    FROM embeddings e CROSS JOIN cent0 c) t WHERE arn = 1),
      |dims AS (
      |  SELECT cent_id, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
      |  FROM (SELECT cent_id, unnest(vec) AS x,
      |          unnest(range(len(vec))) AS pos FROM a0) u
      |  GROUP BY cent_id, pos),
      |cent1 AS (SELECT cent_id, list(m ORDER BY pos) AS cvec FROM dims GROUP BY cent_id),
      |cent AS (
      |  SELECT c0.cent_id, COALESCE(c1.cvec, c0.cvec) AS cvec
      |  FROM cent0 c0 LEFT JOIN cent1 c1 USING (cent_id))""".stripMargin

  /** IVF KNN: probe the `nprobe` nearest centroids per query, scan
    * only their inverted lists, exact re-rank within. The candidate
    * set is |data|·nprobe/nlist per query in expectation — the n²
    * → n·nprobe/nlist reduction that makes ANN tractable at 100 TB.
    */
  def ivfKnn(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int, nprobe: Int, kmeansIters: Int = 0): DataFrame = {
    // no .cache() here: centroids is a pruned nlist-row scan (cheap to
    // recompute for its two uses; with kmeansIters > 0 it is the
    // nlist-row product of the Lloyd job, also re-derivable) and
    // assigned is consumed once — the caches this used to hold were
    // pure session-lifetime leakage
    val centroids =
      if (kmeansIters > 0) kmeansCentroids(emb, idCol, vecCol, nlist, kmeansIters)
      else sampleCentroids(emb, idCol, vecCol, nlist)
    val assigned = ivfAssign(emb, idCol, vecCol, centroids)
    // per query: its nprobe closest centroids
    val probes = probeCentroids(queries, centroids, nprobe)
    // scan only the probed inverted lists
    val cands = probes.join(assigned, Seq("cent_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("vec")), 6))
    val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id").asc)
    cands.withColumn("krn", row_number().over(wk)).filter(col("krn") <= k)
      .select(col("query_id"), col("id").as("cand_id"), col("sim"), col("krn").as("rn"))
  }

  /** Oracle-gated query for the IVF path (nlist=16, nprobe=4, k=5
    * over queries vec_id < 20, centroids refined by one Lloyd step).
    */
  def ivfKnnQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    ivfKnn(e.select(col("vec_id"), col("embedding")), q,
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4, kmeansIters = 1)
  }

  /** DuckDB replica of the whole IVF pipeline, including the one-step
    * Lloyd refinement ([[refinedCentSql]]). Assignment and probe
    * ranking use the raw cosine (both engines accumulate in index
    * order — identical IEEE sequences; the refined centroids are
    * bit-identical via exact decimal means); only the output `sim` is
    * rounded, matching [[ivfKnn]].
    */
  val ivfKnnSql: String =
    s"""WITH $refinedCentSql,
      |assigned AS (
      |  SELECT id, vec, cent_id FROM (
      |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS arn
      |    FROM embeddings e CROSS JOIN cent c) t WHERE arn = 1),
      |probes AS (
      |  SELECT query_id, qv, cent_id FROM (
      |    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cent_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS prn
      |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20) t WHERE prn <= 4),
      |cands AS (
      |  SELECT p.query_id, a.id,
      |    round(list_cosine_similarity(p.qv, a.vec), 6) AS sim
      |  FROM probes p JOIN assigned a USING (cent_id)
      |  WHERE p.query_id <> a.id)
      |SELECT query_id, id AS cand_id, sim, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rn
      |  FROM cands) t WHERE rn <= 5""".stripMargin

  // ——— q235: quantizer drift monitor (the refresh TRIGGER) ———

  /** q235 — the DRIFT METRIC that decides when to run the q234
    * refresh: mean quantization error (1 − cos(v, its centroid), in
    * exact micro units) of the corpus under the FROZEN seed quantizer
    * vs the REFRESHED one-Lloyd-step quantizer. q230's recall labels
    * audit retrieval quality after the fact; this is the monitoring
    * pair an index-maintenance policy reads: the SEED row (error
    * against the deployed, frozen quantizer) is the cheap always-on
    * number — one broadcast-argmax scan, no truth set, no query
    * workload, and at ingest time it is literally the assignment pass
    * already being paid — while the REFRESHED row answers "how much
    * would a refit buy right now" (it runs the candidate refit, so
    * schedule it like any maintenance probe, not per batch). Refresh
    * when the gap exceeds the post-refresh baseline by the policy's
    * threshold.
    *
    * Exactness: per-vector error is fixed-point
    * (10⁶ − round(cos·10⁶)), sums are BIGINT — both engines replay
    * the identical argmax (raw-cosine, id tie-break) and arithmetic.
    */
  def quantizerDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seed = sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    val refreshed = kmeansCentroids(emb, "vec_id", "embedding", nlist = 16, iters = 1)
    // the winning argmax's `sim` IS cos(v, its centroid) — so the
    // error needs NO assignment output and NO join back to the
    // centroid table: one broadcast array per generation, one
    // codegen'd map-side argmax per row, one mergeable aggregate.
    // (ivfAssign's argmax struct, minus the materialized cent_id.)
    def gen(cents: DataFrame, label: String): DataFrame = {
      val centArr = cents
        .agg(array_sort(collect_list(struct(col("cent_id"), col("cent_vec")))).as("cents"))
      emb.join(broadcast(centArr), lit(true))
        .withColumn("best", array_max(transform(col("cents"), c =>
          struct(GraftFunctions.cosine(col("embedding"), c("cent_vec")).as("sim"),
            (-c("cent_id")).as("nid")))))
        .select(lit(label).as("quantizer"),
          (lit(1000000L) - round(col("best.sim") * 1000000.0).cast("long")).as("err_micro"))
    }
    gen(seed, "seed").unionByName(gen(refreshed, "refreshed"))
      .groupBy(col("quantizer"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_micro")).as("sum_err_micro"))
      .select(col("quantizer"), col("n_vecs"), col("sum_err_micro"),
        expr("sum_err_micro div n_vecs").as("mean_err_micro"))
  }

  /** Oracle: the shared refined-centroid CTE chain (cent0 = seed,
    * a0 = seed assignment, cent = refreshed) + a refreshed-assignment
    * CTE + the same fixed-point error aggregation. Sums cast to
    * BIGINT (the HUGEINT ban).
    */
  lazy val quantizerDriftSql: String =
    s"""WITH $refinedCentSql,
       |a1 AS (
       |  SELECT id, vec, cent_id FROM (
       |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
       |                 c.cent_id) AS arn
       |    FROM embeddings e CROSS JOIN cent c) t WHERE arn = 1),
       |errs AS (
       |  SELECT 'seed' AS quantizer,
       |    1000000 - CAST(round(list_cosine_similarity(a.vec, c.cvec) * 1000000) AS BIGINT)
       |      AS err_micro
       |  FROM a0 a JOIN cent0 c USING (cent_id)
       |  UNION ALL
       |  SELECT 'refreshed',
       |    1000000 - CAST(round(list_cosine_similarity(a.vec, c.cvec) * 1000000) AS BIGINT)
       |  FROM a1 a JOIN cent c USING (cent_id))
       |SELECT quantizer, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(err_micro) AS BIGINT) AS sum_err_micro,
       |  CAST(sum(err_micro) // count(*) AS BIGINT) AS mean_err_micro
       |FROM errs GROUP BY quantizer""".stripMargin

  // ——— q245: the refresh POLICY decision (closing q235 → q234) ———

  /** Policy threshold: refresh when the deployed quantizer's mean
    * error exceeds its at-refresh baseline by more than τ micros.
    * Config, not data — the oracle replays the same constant.
    */
  val RefreshTauMicros: Long = 1000L

  /** Mean quantization error of `emb` under `cents`, exact micro
    * fixed point — q235's per-generation scan factored to a Long so
    * the POLICY can score the deployed quantizer with one broadcast-
    * argmax pass and one mergeable aggregate (the cheap always-on
    * probe; collecting the 1-row mean is the sanctioned driver
    * materialization — it IS the policy signal).
    */
  private def meanErrMicro(emb: DataFrame, cents: DataFrame): Long = {
    val centArr = cents
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cent_vec")))).as("cents"))
    emb.join(broadcast(centArr), lit(true))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(GraftFunctions.cosine(col("embedding"), c("cent_vec")).as("sim"),
          (-c("cent_id")).as("nid")))))
      .select((lit(1000000L) - round(col("best.sim") * 1000000.0).cast("long"))
        .as("err_micro"))
      .agg(expr("sum(err_micro) div count(1)").as("mean_err_micro"))
      .head().getLong(0)
  }

  /** One index-maintenance cycle, POLICY-GATED: probe the DEPLOYED
    * quantizer (cheap always-on scan), compare against the stored
    * at-refresh `baseline`, and ONLY a gap past `tau` pays the Lloyd
    * refit + quantizer republish (through the store's ordinary load
    * path, like q234). Below τ, NO Lloyd job runs and the quantizer
    * table is untouched — pinned by SimilaritySpec's job-count test.
    * Returns (current mean error, refresh fired).
    */
  def policyCycle(spark: SparkSession, emb: DataFrame, centsName: String,
      baseline: Long, tau: Long): (Long, Boolean) = {
    import graft.sources.bucketed.BucketStore
    val deployed = spark.read.format("graft-buckets").option("table", centsName).load()
    val current = meanErrMicro(emb, deployed)
    val due = current - baseline > tau
    if (due) {
      // the consumption: the decision row, not a human, triggers the
      // corpus-scale refit (q234's mechanism)
      BucketStore.load(spark, centsName,
        kmeansCentroids(emb, "vec_id", "embedding", nlist = 16, iters = 1),
        "cent_id", numBuckets = 4)
    }
    (current, due)
  }

  /** q245 — the refresh POLICY LOG: the decision table an index-
    * maintenance loop writes, closing the q235 (drift metric) → q234
    * (refresh mechanism) loop. World: generation 1 deploys the seed
    * quantizer over the initial corpus and stores its AT-REFRESH
    * error baseline beside it (the comparison point is a stored
    * artifact — the decision needs only the cheap probe, never a
    * refit). Then a late ingest lands and TWO maintenance cycles run
    * ([[policyCycle]]):
    *
    *   - decision 1: the grown corpus probed against the deployed
    *     quantizer — the gap exceeds τ (true on this corpus at every
    *     SF: ~6.7k/6.6k/2.3k micros at sf 0.001/0.01/0.1 vs τ = 1000),
    *     so the cycle CONSUMES the decision: one Lloyd refit, the
    *     generation-2 quantizer republished, a fresh baseline stored;
    *   - decision 2: the re-probe lands exactly ON the new baseline —
    *     below τ, NO refit runs (job-count pinned in spec).
    *
    * Each decision row appends to the policy log through the store.
    * The oracle replays both decisions arithmetically (exact micro
    * fixed point, BIGINT integer division) and assumes decision 1
    * fires — if the data ever stopped drifting past τ the gate goes
    * loudly red rather than silently wrong.
    */
  def refreshPolicyQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.bucketed.BucketStore
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val isLate = col("vec_id") % 5 === 2 && col("vec_id") >= 16
    val logName = s"policy_log@$dir"
    val centsName = s"policy_cents@$dir"
    if (!BucketStore.exists(logName)) {
      val tau = RefreshTauMicros
      // generation 1: deployed quantizer + its at-refresh baseline
      // (cent0 = first 16 ids; all are pre-ingest by construction)
      val q0 = sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
      BucketStore.drop(centsName)
      BucketStore.load(spark, centsName, q0, "cent_id", numBuckets = 4)
      val baseline1 = meanErrMicro(emb.filter(!isLate), q0)
      // the ingest lands; two maintenance cycles follow
      val (current1, due1) = policyCycle(spark, emb, centsName, baseline1, tau)
      val gen1After = if (due1) 2L else 1L
      val baseline2 =
        if (due1) meanErrMicro(emb,
          spark.read.format("graft-buckets").option("table", centsName).load())
        else baseline1
      val (current2, due2) = policyCycle(spark, emb, centsName, baseline2, tau)
      val log = Seq(
        (1L, 1L, baseline1, current1, current1 - baseline1, tau, due1, gen1After),
        (2L, gen1After, baseline2, current2, current2 - baseline2, tau, due2,
          if (due2) gen1After + 1L else gen1After))
        .toDF("decision", "generation", "baseline_err_micro", "current_err_micro",
          "drift_gap_micro", "tau_micros", "refresh_due", "generation_after")
      BucketStore.load(spark, logName, log, "decision", numBuckets = 1)
    }
    spark.read.format("graft-buckets").option("table", logName).load()
  }

  /** Oracle: both decisions replayed arithmetically — decision 1 from
    * the seed-quantizer errors (baseline over the pre-ingest corpus,
    * current over all), decision 2 from the one-Lloyd-step refreshed
    * quantizer (the refinedCentSql chain), whose re-probe equals its
    * own fresh baseline (gap 0, below τ).
    */
  lazy val refreshPolicySql: String =
    s"""WITH $refinedCentSql,
       |e0 AS (
       |  SELECT (a.id % 5 = 2 AND a.id >= 16) AS late,
       |    1000000 - CAST(round(list_cosine_similarity(a.vec, c.cvec) * 1000000) AS BIGINT)
       |      AS err
       |  FROM a0 a JOIN cent0 c USING (cent_id)),
       |a1 AS (
       |  SELECT id, vec, cent_id FROM (
       |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
       |                 c.cent_id) AS arn
       |    FROM embeddings e CROSS JOIN cent c) t WHERE arn = 1),
       |e1 AS (
       |  SELECT 1000000 - CAST(round(list_cosine_similarity(a.vec, c.cvec) * 1000000)
       |      AS BIGINT) AS err
       |  FROM a1 a JOIN cent c USING (cent_id)),
       |m AS (SELECT
       |  (SELECT sum(err) // count(*) FROM e0 WHERE NOT late) AS b1,
       |  (SELECT sum(err) // count(*) FROM e0) AS c1,
       |  (SELECT sum(err) // count(*) FROM e1) AS m2)
       |SELECT CAST(1 AS BIGINT) AS decision, CAST(1 AS BIGINT) AS generation,
       |  CAST(b1 AS BIGINT) AS baseline_err_micro, CAST(c1 AS BIGINT) AS current_err_micro,
       |  CAST(c1 - b1 AS BIGINT) AS drift_gap_micro, CAST(1000 AS BIGINT) AS tau_micros,
       |  (c1 - b1) > 1000 AS refresh_due,
       |  CAST(CASE WHEN (c1 - b1) > 1000 THEN 2 ELSE 1 END AS BIGINT) AS generation_after
       |FROM m
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(m2 AS BIGINT), CAST(m2 AS BIGINT),
       |  CAST(0 AS BIGINT), CAST(1000 AS BIGINT), false, CAST(2 AS BIGINT)
       |FROM m""".stripMargin

  // ——— q239: the drift monitor ON the ingest stream ———

  /** q239 — [[quantizerDriftQuery]]'s always-on half as a STREAMING
    * aggregation (the q217 streamed-equals-batch family): vectors
    * arrive as a stream, each scores its error against the DEPLOYED
    * quantizer (a broadcast literal — 16 centroids, the Lloyd-class
    * bounded materialization), and a global (count, sum) aggregate
    * under update mode keeps the corpus-level mean current as shards
    * land. State is two longs; count and sum are order-free, so the
    * streamed result is BIT-IDENTICAL to q235's seed row — the hash
    * gate compares them directly, no tolerance band. Deployment
    * meaning: the refresh policy's input is maintained BY the ingest
    * path itself; nothing ever rescans history to know the index
    * drifted.
    */
  def streamQuantizerDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val emb = spark.readStream.schema(schema).parquet(s"$dir/{embeddings.parquet}")
    val cents = sampleCentroids(Tables.embeddings(spark, dir), "vec_id", "embedding", 16)
      .collect().sortBy(_.getLong(0))
    val centLit = array(cents.map { r =>
      struct(lit(r.getLong(0)).as("cent_id"),
        array(r.getSeq[Float](1).map(f => lit(f.toDouble)): _*).as("cent_vec"))
    }.toIndexedSeq: _*)
    val errs = emb
      .withColumn("best", array_max(transform(centLit, c =>
        struct(GraftFunctions.cosine(col("embedding"), c("cent_vec")).as("sim"),
          (-c("cent_id")).as("nid")))))
      .select((lit(1000000L) - round(col("best.sim") * 1000000.0).cast("long")).as("err_micro"))
    val agg = errs.agg(count(lit(1)).as("n_vecs"), sum(col("err_micro")).as("sum_err_micro"))
    graft.streaming.StreamOps.runToMemory(agg, "update")
      .select(lit("seed").as("quantizer"), col("n_vecs"), col("sum_err_micro"),
        expr("sum_err_micro div n_vecs").as("mean_err_micro"))
  }

  /** Oracle: the shared cent0/a0 CTEs (unused CTEs in the chain cost
    * DuckDB nothing) + the same fixed-point error aggregate — exactly
    * q235's seed row.
    */
  lazy val streamQuantizerDriftSql: String =
    s"""WITH $refinedCentSql,
       |errs AS (
       |  SELECT 1000000 - CAST(round(list_cosine_similarity(a.vec, c.cvec) * 1000000) AS BIGINT)
       |    AS err_micro
       |  FROM a0 a JOIN cent0 c USING (cent_id))
       |SELECT 'seed' AS quantizer, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(err_micro) AS BIGINT) AS sum_err_micro,
       |  CAST(sum(err_micro) // count(*) AS BIGINT) AS mean_err_micro
       |FROM errs""".stripMargin

  // ——— q237: vector ingest HEALTH gate ———

  /** q237 — embedding-column data-quality gate, the vector twin of
    * q194's scalar profiler: per label — row count, zero-norm count
    * (an all-zeros vector poisons every cosine it touches: 0/0),
    * non-finite element count (one NaN silently propagates through
    * any dot product), and min/mean/max L2 norm in exact micro
    * fixed-point (norm drift across ingest batches is the standard
    * signal of an embedding-model version mix-up). This is the check
    * an ingest pipeline runs BEFORE vectors reach the q168/q170
    * index: one codegen'd projection (the sum-of-squares fold) + one
    * mergeable aggregate — health at 100 TB costs one scan.
    *
    * Exactness: the Σx² fold is sequential left-to-right over the
    * double-cast elements (same order as DuckDB's `list_reduce`), so
    * sqrt sees bit-identical input; norms then live as BIGINT micro.
    */
  def embeddingHealthQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir).select(col("label"),
      expr("aggregate(CAST(embedding AS array<double>), CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + x * x)").as("ss"),
      expr("CAST(size(filter(CAST(embedding AS array<double>), " +
        "x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))) AS BIGINT)").as("bad"))
      // a non-finite vector gets a NULL norm: casting NaN/Inf to
      // BIGINT is engine-divergent (Spark saturates, DuckDB throws),
      // and a poisoned norm would corrupt the very drift stats this
      // gate exists to keep trustworthy — bad rows are COUNTED, never
      // averaged
      .select(col("label"), col("bad"),
        when(col("bad") > 0, lit(null))
          .otherwise(expr("CAST(round(sqrt(ss) * 1000000) AS BIGINT)")).as("norm_micro"))
    rows.groupBy(col("label")).agg(
        count(lit(1)).as("n"),
        count(col("norm_micro")).as("n_finite"),
        sum(when(col("norm_micro") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(col("bad")).as("n_nonfinite"),
        min(col("norm_micro")).as("min_norm_micro"),
        max(col("norm_micro")).as("max_norm_micro"),
        sum(col("norm_micro")).as("sum_norm_micro"))
      .withColumn("mean_norm_micro",
        expr("CASE WHEN n_finite > 0 THEN sum_norm_micro div n_finite END"))
  }

  /** Oracle: identical fold order, identical fixed-point, identical
    * NULL-for-bad-rows discipline; sums cast to BIGINT (the HUGEINT
    * ban).
    */
  val embeddingHealthSql: String =
    """WITH v AS (
      |  SELECT label,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), (a, b) -> a + b) AS ss,
      |    CAST(len(list_filter(CAST(embedding AS DOUBLE[]),
      |      x -> isnan(x) OR isinf(x))) AS BIGINT) AS bad
      |  FROM embeddings),
      |r AS (SELECT label, bad, CASE WHEN bad > 0 THEN NULL
      |        ELSE CAST(round(sqrt(ss) * 1000000) AS BIGINT) END AS norm_micro FROM v),
      |g AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(norm_micro) AS BIGINT) AS n_finite,
      |    CAST(sum(CASE WHEN norm_micro = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
      |    CAST(sum(bad) AS BIGINT) AS n_nonfinite,
      |    min(norm_micro) AS min_norm_micro,
      |    max(norm_micro) AS max_norm_micro,
      |    CAST(sum(norm_micro) AS BIGINT) AS sum_norm_micro
      |  FROM r GROUP BY label)
      |SELECT label, n, n_finite, n_zero_norm, n_nonfinite,
      |  min_norm_micro, max_norm_micro, sum_norm_micro,
      |  CASE WHEN n_finite > 0 THEN sum_norm_micro // n_finite END AS mean_norm_micro
      |FROM g""".stripMargin

  /** PRODUCT QUANTIZATION (PQ) ANN — the other half of the FAISS
    * compression family next to [[sqKnn]]'s SQ8: each vector splits
    * into `m` contiguous subvectors, each subspace gets its own
    * `ksub`-entry codebook (deterministic seed centroids — the first
    * `ksub` vectors' slices, the same sampling discipline as
    * [[sampleCentroids]]), and every vector is stored as `m` codes of
    * log2(ksub) bits. The coarse pass scores queries against the
    * RECONSTRUCTION (the concatenation of each code's centroid
    * subvector) — arithmetically identical to asymmetric distance
    * computation with per-query lookup tables, which is how a real
    * executor runs it: m table lookups per candidate instead of a
    * D-dim dot product. `rerankK` coarse survivors per query are then
    * re-ranked against the full-precision vectors.
    *
    * At 100 TB: m=4 × 1-byte codes vs 64 × 8-byte doubles is a 128×
    * working-set diet on the scan everybody pays (the coarse pass),
    * with only rerankK full vectors touched per query. Composes with
    * the IVF probe exactly as [[sqKnn]] composes it — kept flat here
    * so the gate isolates the PQ arithmetic itself. Assignment is by
    * max subspace cosine (spherical PQ), tie-broken on centroid id;
    * both rank stages carry a total (score desc, id) order, so the
    * result is deterministic and the DuckDB oracle replays every step.
    */
  def pqKnn(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, subDim: Int, ksub: Int, rerankK: Int): DataFrame = {
    val data = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
    val recon = pqReconstruction(data, m, subDim, ksub)
    val q = queries.select(col("query_id"), col("qv").cast("array<double>").as("qv"))
    // coarse: brute scan over the COMPRESSED representation
    val wc = Window.partitionBy(col("query_id")).orderBy(col("qsim").desc, col("id").asc)
    val coarse = recon.join(broadcast(q), col("query_id") =!= col("id"))
      .withColumn("qsim", round(GraftFunctions.cosine(col("qv"), col("rvec")), 6))
      .withColumn("crn", row_number().over(wc)).filter(col("crn") <= rerankK)
    // exact re-rank of the survivors against full-precision vectors
    val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id").asc)
    coarse.join(data, Seq("id"))
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("vec")), 6))
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("query_id"), col("id").as("cand_id"), col("sim"), col("rn"))
  }

  /** The PQ code + reconstruction pipeline over `(id, vec)`: per-row
    * explode into (id, subspace, subvector), seed codebooks from the
    * first `ksub` rows' slices (m·ksub rows, always broadcast),
    * argmax-cosine codes, and the codes' centroid slices
    * re-concatenated in subspace order — ADC's lookup table,
    * materialized row-wise. Shared by [[pqKnn]] (flat) and
    * [[ivfPqKnn]] (list-probed).
    */
  private def pqReconstruction(data: DataFrame, m: Int, subDim: Int, ksub: Int): DataFrame = {
    def subsOf(df: DataFrame) = df.select(col("id"), col("vec"),
      expr(s"explode(transform(sequence(0, ${m - 1}), " +
        s"j -> struct(j AS j, slice(vec, j * $subDim + 1, $subDim) AS sub)))").as("e"))
      .select(col("id"), col("e.j").as("j"), col("e.sub").as("sub"))
    val subs = subsOf(data)
    val codebook = subs.filter(col("id") < ksub)
      .select(col("j"), col("id").as("cent_id"), col("sub").as("cvec"))
    val wAsg = Window.partitionBy(col("id"), col("j"))
      .orderBy(col("csim").desc, col("cent_id").asc)
    val codes = subs.join(broadcast(codebook), Seq("j"))
      .withColumn("csim", GraftFunctions.cosine(col("sub"), col("cvec")))
      .withColumn("arn", row_number().over(wAsg)).filter(col("arn") === 1)
      .select(col("id"), col("j"), col("cent_id"))
    codes.join(broadcast(codebook), Seq("j", "cent_id"))
      .groupBy(col("id"))
      .agg(flatten(transform(array_sort(collect_list(struct(col("j"), col("cvec")))),
        s => s.getField("cvec"))).as("rvec"))
  }

  /** q152 — IVF·PQ, the production FAISS composition: the IVF probe
    * bounds WHICH vectors are scored (nprobe inverted lists per
    * query, |data|·nprobe/nlist candidates in expectation) and PQ
    * bounds WHAT is read per scored vector (m codes instead of D
    * doubles). q33 gates the probe alone, q149 the codes alone, q99
    * the probe+SQ8; this composes probe+PQ with an exact re-rank of
    * `rerankK` survivors — at 100 TB the index that serves
    * interactive ANN over a corpus that fits in neither memory nor
    * budget as full-precision vectors.
    */
  def ivfPqKnn(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int, nprobe: Int, m: Int, subDim: Int, ksub: Int,
      rerankK: Int): DataFrame = {
    val data = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
    val centroids = sampleCentroids(emb, idCol, vecCol, nlist)
    val assigned = ivfAssign(emb, idCol, vecCol, centroids)
    val recon = pqReconstruction(data, m, subDim, ksub)
    val probes = probeCentroids(queries, centroids, nprobe)
    // candidates: the probed lists only; coarse-score them on codes
    val wc = Window.partitionBy(col("query_id")).orderBy(col("qsim").desc, col("id").asc)
    val coarse = probes.join(assigned, Seq("cent_id"))
      .filter(col("query_id") =!= col("id"))
      .join(recon, Seq("id"))
      .withColumn("qsim", round(GraftFunctions.cosine(col("qv"), col("rvec")), 6))
      .withColumn("crn", row_number().over(wc)).filter(col("crn") <= rerankK)
    val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id").asc)
    coarse
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("vec")), 6))
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("query_id"), col("id").as("cand_id"), col("sim"), col("rn"))
  }

  def ivfPqKnnQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    ivfPqKnn(e.select(col("vec_id"), col("embedding")), q, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, m = 4, subDim = 16, ksub = 16, rerankK = 15)
  }

  /** DuckDB replica: q33's probe/assignment CTEs composed with q149's
    * codebook/reconstruction CTEs and the two-stage rank.
    */
  val ivfPqKnnSql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      |  FROM embeddings WHERE vec_id < 16),
      |data AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |assigned AS (
      |  SELECT id, vec, cent_id FROM (
      |    SELECT d.id, d.vec, c.cent_id,
      |      row_number() OVER (PARTITION BY d.id
      |        ORDER BY list_cosine_similarity(d.vec, c.cvec) DESC, c.cent_id) AS arn
      |    FROM data d CROSS JOIN cent c) t WHERE arn = 1),
      |subs AS (
      |  SELECT id, j, vec[(j*16+1):(j*16+16)] AS sub
      |  FROM data, (SELECT unnest(range(4)) AS j)),
      |cb AS (SELECT j, id AS cent_id, sub AS cvec FROM subs WHERE id < 16),
      |codes AS (
      |  SELECT id, j, cent_id FROM (
      |    SELECT s.id, s.j, c.cent_id,
      |      row_number() OVER (PARTITION BY s.id, s.j
      |        ORDER BY list_cosine_similarity(s.sub, c.cvec) DESC, c.cent_id) AS arn
      |    FROM subs s JOIN cb c USING (j)) t WHERE arn = 1),
      |recon AS (
      |  SELECT codes.id, flatten(list(c.cvec ORDER BY codes.j)) AS rvec
      |  FROM codes JOIN cb c ON c.j = codes.j AND c.cent_id = codes.cent_id
      |  GROUP BY codes.id),
      |probes AS (
      |  SELECT query_id, qv, cent_id FROM (
      |    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cent_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS prn
      |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20) t WHERE prn <= 4),
      |coarse AS (
      |  SELECT query_id, qv, id, vec,
      |    row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, id) AS crn
      |  FROM (
      |    SELECT p.query_id, p.qv, a.id, a.vec,
      |      round(list_cosine_similarity(p.qv, r.rvec), 6) AS qsim
      |    FROM probes p
      |    JOIN assigned a USING (cent_id)
      |    JOIN recon r ON r.id = a.id
      |    WHERE p.query_id <> a.id) c0),
      |exact AS (
      |  SELECT query_id, id, round(list_cosine_similarity(qv, vec), 6) AS sim
      |  FROM coarse WHERE crn <= 15)
      |SELECT query_id, id AS cand_id, sim, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rn
      |  FROM exact) t WHERE rn <= 5""".stripMargin

  /** Oracle-gated: 64-dim embeddings → m=4 subspaces × 16 dims,
    * 16-entry codebooks, coarse keep 15, k=5.
    */
  def pqKnnQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    pqKnn(e.select(col("vec_id"), col("embedding")), q,
      "vec_id", "embedding", k = 5, m = 4, subDim = 16, ksub = 16, rerankK = 15)
  }

  /** DuckDB replica: slices via 1-based inclusive list ranges, the
    * same seed codebooks, argmax-cosine codes, ordered-list
    * reconstruction, and the two-stage rank.
    */
  val pqKnnSql: String =
    """WITH data AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |subs AS (
      |  SELECT id, j, vec[(j*16+1):(j*16+16)] AS sub
      |  FROM data, (SELECT unnest(range(4)) AS j)),
      |cb AS (SELECT j, id AS cent_id, sub AS cvec FROM subs WHERE id < 16),
      |codes AS (
      |  SELECT id, j, cent_id FROM (
      |    SELECT s.id, s.j, c.cent_id,
      |      row_number() OVER (PARTITION BY s.id, s.j
      |        ORDER BY list_cosine_similarity(s.sub, c.cvec) DESC, c.cent_id) AS arn
      |    FROM subs s JOIN cb c USING (j)) t WHERE arn = 1),
      |recon AS (
      |  SELECT codes.id, flatten(list(c.cvec ORDER BY codes.j)) AS rvec
      |  FROM codes JOIN cb c ON c.j = codes.j AND c.cent_id = codes.cent_id
      |  GROUP BY codes.id),
      |q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 20),
      |coarse AS (
      |  SELECT query_id, qv, id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, id) AS crn
      |  FROM (
      |    SELECT q.query_id, q.qv, r.id,
      |      round(list_cosine_similarity(q.qv, r.rvec), 6) AS qsim
      |    FROM q JOIN recon r ON r.id <> q.query_id) c0),
      |exact AS (
      |  SELECT query_id, d.id, round(list_cosine_similarity(qv, d.vec), 6) AS sim
      |  FROM coarse JOIN data d USING (id) WHERE crn <= 15)
      |SELECT query_id, id AS cand_id, sim, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rn
      |  FROM exact) t WHERE rn <= 5""".stripMargin

  /** Scalar (int8) quantization of an embedding column: per-vector
    * symmetric scale `max(|x|)/127` (0-vectors get scale 1), codes
    * `floor(x/scale + 0.5)` cast to TINYINT. The formula is spelled as
    * explicit floor(+0.5) — not an engine `round` — so DuckDB
    * reproduces every code byte-for-byte (engines disagree on
    * round-half semantics; floor(+0.5) is one IEEE expression).
    *
    * At 100 TB this is the ANN working set's 4× diet: the candidate
    * (coarse) scoring pass reads 1-byte codes + one double per vector
    * instead of 8-byte doubles, and only the few `rerankK` survivors
    * per query touch the full-precision vectors — the
    * quantize-coarse-then-exact-rerank shape every production vector
    * index (FAISS SQ8, ScaNN) uses.
    */
  def sqQuantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    withSqColumns(
      emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec")),
      col("vec"))

  /** Attach the int8 quantization columns (scale, codes) to any frame
    * carrying a vector — a pure row-wise projection, so callers never
    * need a join to pick them up (the quantization arithmetic runs in
    * DOUBLE regardless of the stored vector width, matching the
    * oracle's replica).
    */
  private def withSqColumns(df: DataFrame, vecExpr: org.apache.spark.sql.Column): DataFrame = {
    val dv = vecExpr.cast("array<double>")
    val rawScale = array_max(transform(dv, x => abs(x))) / lit(127.0)
    df.withColumn("scale", when(rawScale === 0.0, lit(1.0)).otherwise(rawScale))
      .withColumn("codes", transform(dv, x => floor(x / col("scale") + lit(0.5)).cast("byte")))
  }

  /** IVF probe + QUANTIZED coarse scoring + exact re-rank: candidates
    * come from the probed inverted lists (q33's shape), the coarse
    * pass ranks them by cosine over the DEQUANTIZED int8 codes and
    * keeps `rerankK` per query, and only those survivors are scored
    * against the full-precision vectors for the final top-k. Both
    * ranking stages carry a total (score desc, id) order, so the
    * survivor sets — and therefore the gate — are deterministic.
    */
  def sqKnn(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int, nprobe: Int, rerankK: Int): DataFrame = {
    val centroids = sampleCentroids(emb, idCol, vecCol, nlist)
    val assigned = ivfAssign(emb, idCol, vecCol, centroids)
    // quantization is a row-wise projection over the vec `assigned`
    // already carries — attaching it as columns avoids what used to be
    // a full-corpus shuffle join purely to deliver (scale, codes)
    val data = withSqColumns(assigned, col("vec"))
    val probes = probeCentroids(queries, centroids, nprobe)
    // coarse pass: dequantized cosine over the int8 codes
    val coarse = probes.join(data, Seq("cent_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("qsim", round(GraftFunctions.cosine(col("qv"),
        transform(col("codes"), c => c.cast("double") * col("scale"))), 6))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("qsim").desc, col("id").asc)
    val survivors = coarse.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= rerankK)
    // exact re-rank: full-precision cosine, only rerankK rows per query
    val exact = survivors
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("vec")), 6))
    val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id").asc)
    exact.withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("query_id"), col("id").as("cand_id"), col("sim"), col("rn"))
  }

  /** Oracle-gated query: nlist=16, nprobe=4, coarse keep 15, k=5. */
  def sqKnnQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    sqKnn(e.select(col("vec_id"), col("embedding")), q,
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4, rerankK = 15)
  }

  /** DuckDB replica: q33's seed-centroid assignment/probe CTEs plus
    * the quantization (same floor(+0.5) formula) and the two-stage
    * rank. `rn` is cast INTEGER to match Spark's row_number type.
    */
  val sqKnnSql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      |  FROM embeddings WHERE vec_id < 16),
      |assigned AS (
      |  SELECT id, vec, cent_id FROM (
      |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS arn
      |    FROM embeddings e CROSS JOIN cent c) t WHERE arn = 1),
      |quant AS (
      |  SELECT id, vec, scale,
      |    list_transform(vec, x -> CAST(CAST(floor(x / scale + 0.5) AS TINYINT) AS DOUBLE) * scale)
      |      AS dq
      |  FROM (
      |    SELECT id, vec,
      |      CASE WHEN s = 0 THEN 1.0 ELSE s END AS scale
      |    FROM (SELECT id, vec,
      |            list_max(list_transform(vec, x -> abs(x))) / 127.0 AS s
      |          FROM assigned) t0) t1),
      |probes AS (
      |  SELECT query_id, qv, cent_id FROM (
      |    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cent_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS prn
      |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20) t WHERE prn <= 4),
      |coarse AS (
      |  SELECT query_id, qv, id, vec,
      |    row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, id) AS crn
      |  FROM (
      |    SELECT p.query_id, p.qv, a.id, a.vec,
      |      round(list_cosine_similarity(p.qv, q2.dq), 6) AS qsim
      |    FROM probes p
      |    JOIN assigned a USING (cent_id)
      |    JOIN quant q2 ON q2.id = a.id
      |    WHERE p.query_id <> a.id) c0),
      |exact AS (
      |  SELECT query_id, id,
      |    round(list_cosine_similarity(qv, vec), 6) AS sim
      |  FROM coarse WHERE crn <= 15)
      |SELECT query_id, id AS cand_id, sim, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rn
      |  FROM exact) t WHERE rn <= 5""".stripMargin

  /** q155 — BM25 lexical retrieval over an inverted index. The missing
    * lexical half of the retrieval stack (q68's hybrid uses set
    * Jaccard; production retrieval is BM25): score(q,d) =
    * Σ_{t∈q∩d} idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
    * k1 = 1.2, b = 0.75, idf = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Shape is the one that scales: the corpus side is a posting list
    * (doc_id, token, tf) — built by one explode + groupBy, the same
    * partial-aggregated shape a distributed inverted index has — and
    * the query side (distinct terms of the query docs) is tiny and
    * BROADCAST, so candidate generation is a broadcast equi-join on
    * token: the corpus is scanned once, nothing n² anywhere, and the
    * per-(query, doc) score is one more partial-aggregated groupBy.
    * At 100 TB the posting list is the thing you'd persist bucketed
    * by token; the query-time join shape is unchanged.
    *
    * Determinism across engines: ln and the tf normalization are IEEE
    * doubles evaluated with the same expression tree on both sides,
    * then each TERM contribution is fixed-pointed to integer
    * micro-units (round(c·1e6) as BIGINT) BEFORE the per-document sum,
    * so the aggregate is exact integer arithmetic — immune to
    * summation order, the same trick the z-order/PageRank paths use.
    */
  def bm25Query(spark: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(spark, dir), "doc_id", "text", col("doc_id") < 3, k = 10)

  /** BM25 top-k of every document against each query doc (`isQuery`
    * selects the query set; query docs never match themselves).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      isQuery: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"),
        isQuery.as("is_query"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), first(col("is_query")).as("is_query"))
    val qterms = tf.filter(col("is_query"))
      .select(col("doc_id").as("query_id"), col("tok")).distinct()
    val candidates = tf
      .join(broadcast(qterms), Seq("tok"))
      .select(col("query_id"), col("doc_id"), col("tok"), col("tf"))
    bm25Rank(candidates, tf.select(col("doc_id"), col("tok"), col("tf")), k)
  }

  /** Score + rank BM25 candidates. `candidates` = (query_id, doc_id,
    * tok, tf) — HOW they were generated (broadcast posting-list join
    * in [[bm25]], runtime-pruned store scan in q169) is the caller's
    * concern; corpus statistics (df, dl, avgdl, N) always come from
    * the full `tf` table so the two paths score identically.
    */
  private[graft] def bm25Rank(candidates: DataFrame, tf: DataFrame, k: Int): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // Every literal below is a plain double and every operation is a
    // double op in the same tree shape as the oracle SQL — the only
    // cross-engine wobble left is ln()'s last ulp, absorbed by the
    // 1e-6 fixed-pointing.
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfw = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
    val contrib = candidates
      .filter(col("doc_id") =!= col("query_id"))
      .join(df, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfw * 1e6, 0).cast("long").as("c_micro"))
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_micro")).as("score_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("score_micro"), col("rn"))
  }

  /** The BM25 scoring chain as composable CTE text (up to and
    * including `scored`) — shared by [[bm25Sql]] and the
    * hard-negative oracle so the scoring formula has ONE SQL
    * definition.
    */
  private[graft] val bm25CoreCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |qterms AS (SELECT DISTINCT doc_id AS query_id, tok FROM tf WHERE doc_id < 3),
      |contrib AS (
      |  SELECT q.query_id, f.doc_id,
      |    CAST(round(ln(1.0::DOUBLE + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5::DOUBLE)
      |                                / (CAST(d.df AS DOUBLE) + 0.5::DOUBLE))
      |      * ((CAST(f.tf AS DOUBLE) * 2.2::DOUBLE)
      |         / (CAST(f.tf AS DOUBLE)
      |            + 1.2::DOUBLE * (0.25::DOUBLE
      |                             + 0.75::DOUBLE * CAST(l.dl AS DOUBLE) / s.avgdl)))
      |      * 1e6) AS BIGINT) AS c_micro
      |  FROM tf f
      |  JOIN qterms q USING (tok)
      |  JOIN df d USING (tok)
      |  JOIN dl l ON l.doc_id = f.doc_id
      |  CROSS JOIN stats s
      |  WHERE f.doc_id <> q.query_id),
      |scored AS (
      |  SELECT query_id, doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
      |  FROM contrib GROUP BY 1, 2)""".stripMargin

  val bm25Sql: String = bm25CoreCtes +
    """
      |SELECT query_id, doc_id, score_micro, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, doc_id, score_micro,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn
      |  FROM scored) t WHERE rn <= 10""".stripMargin

  // ——— reciprocal-rank fusion (q192) ———

  /** Reciprocal-rank fusion (Cormack et al. 2009) of the lexical and
    * vector retrievers: score = Σ_lists 1/(60 + rank) — THE standard
    * hybrid fusion, preferred over score blending (q68) when the two
    * scorers' scales don't commensurate (BM25 micro-nats vs cosine).
    * Ranks are integers, so the fused score is exact in micro-units:
    * round(1e6/(60+rank)) per list, integer sum, no float ordering
    * anywhere.
    *
    * Scale: fusion consumes two top-k lists (k rows per query per
    * retriever — trivial next to the retrievers themselves) in one
    * full-outer equi-join + one per-query window. The retrievers are
    * the proven pieces: q155's broadcast-token BM25, q19's broadcast
    * brute-force cosine (swap in the IVF/SQ path at corpus scale,
    * fusion unchanged).
    */
  def rrfQuery(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Query(spark, dir)
      .select(col("query_id"), col("doc_id").as("id"), col("rn").as("rn_lex"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sem = bruteForceKnn(
        emb.select(col("vec_id").as("cand_id"), col("v").as("cv")),
        emb.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"), col("v").as("qv")),
        k = 10)
      .select(col("query_id"), col("cand_id").as("id"), col("rn").as("rn_sem"))
    val fused = lex.join(sem, Seq("query_id", "id"), "outer")
      .select(col("query_id"), col("id"),
        (coalesce(expr("CAST(round(1e6 / (60 + rn_lex)) AS BIGINT)"), lit(0L)) +
          coalesce(expr("CAST(round(1e6 / (60 + rn_sem)) AS BIGINT)"), lit(0L)))
          .as("rrf_micro"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf_micro").desc, col("id"))
    fused.withColumn("rank", row_number().over(w).cast("int")).filter(col("rank") <= 5)
  }

  val rrfSql: String =
    s"""WITH lex AS (
       |  SELECT query_id, doc_id AS id, rn AS rn_lex FROM (
       |$bm25Sql
       |  ) b),
       |sem AS (
       |  SELECT query_id, cand_id AS id, rn AS rn_sem FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                              CAST(c.embedding AS DOUBLE[])), 6) DESC,
       |                 c.vec_id) AS rn
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < 3 AND c.vec_id <> q.vec_id) t
       |  WHERE rn <= 10),
       |fused AS (
       |  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
       |    COALESCE(l.id, s.id) AS id,
       |    COALESCE(CAST(round(1e6 / (60 + l.rn_lex)) AS BIGINT), 0)
       |      + COALESCE(CAST(round(1e6 / (60 + s.rn_sem)) AS BIGINT), 0) AS rrf_micro
       |  FROM lex l FULL OUTER JOIN sem s ON l.query_id = s.query_id AND l.id = s.id)
       |SELECT query_id, id, rrf_micro, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, id, rrf_micro,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, id) AS rank
       |  FROM fused) t
       |WHERE rank <= 5""".stripMargin

  // ——— q201: hard-negative mining for retrieval training ———

  /** Hard-negative mining — the training-pair generator behind every
    * dense-retriever / cross-encoder fine-tune (DPR, sentence
    * transformers): for each query, over-fetch the TOP-SCORING BM25
    * candidates (fetchK = 200, the production over-fetch-then-filter
    * shape shared with MMR), EXCLUDE documents that are near-dups of
    * the query itself (trigram Jaccard ≥ 0.3 — those are positives or
    * label noise, the classic false-negative trap), and emit the
    * top-10 survivors as labeled hard negatives. Composes the two
    * proven engines — BM25 scoring ([[bm25Rank]]) and the df-capped
    * QUERY-RESTRICTED Jaccard machinery
    * ([[Dedup.ngramJaccardPairsFor]]) — with one anti-join; no new
    * scoring definitions. Scale: the BM25 side is query-restricted by
    * construction; the positives side semi-joins the shingle
    * equi-join to the query ids BEFORE pair generation, so its cost
    * is O(Σ df over the query docs' shingles) — query-scale, not the
    * corpus-wide O(Σ df²) pair build (the round-12 `weak`). The
    * anti-join is on (query, doc) keys and the re-rank windows per
    * query. The one corpus-scale term that remains is the shared df
    * count (one sparse-key shuffle, also needed by BM25's idf).
    */
  def hardNegativesQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fetched = bm25(docs, "doc_id", "text", col("doc_id") < 3, k = 200)
    val pairs = graft.operators.Dedup.ngramJaccardPairsFor(
      docs, "doc_id", "text", n = 3, threshold = 0.3,
      queryIds = docs.filter(col("doc_id") < 3).select(col("doc_id").as("id")))
    val pos = pairs.filter(col("id_a") < 3)
        .select(col("id_a").as("query_id"), col("id_b").as("doc_id"))
      .unionByName(pairs.filter(col("id_b") < 3)
        .select(col("id_b").as("query_id"), col("id_a").as("doc_id")))
    val neg = fetched.join(pos, Seq("query_id", "doc_id"), "left_anti")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    neg.withColumn("rank_neg", row_number().over(w).cast("int"))
      .filter(col("rank_neg") <= 10)
      .select(col("query_id"), col("doc_id"), col("score_micro"), col("rank_neg"))
  }

  /** Oracle: bm25's shared scoring CTEs + Dedup's shared candidate
    * CTEs + the anti-join — both formula definitions stay single-
    * sourced.
    */
  val hardNegativesSql: String = bm25CoreCtes +
    ",\nranked AS (\n" +
    "  SELECT query_id, doc_id, score_micro,\n" +
    "    row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn\n" +
    "  FROM scored),\n" +
    graft.operators.Dedup.overlapCandidatesCtes.stripPrefix("WITH ") +
    """,
      |pos AS (
      |  SELECT id_a AS query_id, id_b AS doc_id FROM inter
      |    JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |    WHERE id_a < 3
      |      AND round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.3
      |  UNION ALL
      |  SELECT id_b, id_a FROM inter
      |    JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |    WHERE id_b < 3
      |      AND round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.3),
      |neg AS (
      |  SELECT r.query_id, r.doc_id, r.score_micro FROM ranked r
      |  WHERE r.rn <= 200 AND NOT EXISTS (
      |    SELECT 1 FROM pos p WHERE p.query_id = r.query_id AND p.doc_id = r.doc_id))
      |SELECT query_id, doc_id, score_micro, rank_neg FROM (
      |  SELECT query_id, doc_id, score_micro,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank_neg
      |  FROM neg) t WHERE rank_neg <= 10""".stripMargin

  // ——— dimensionality reduction: sparse random projection (q176) ———

  /** Deterministic sparse random projection (Achlioptas 2003 /
    * Li-Hastie-Church sign matrices): out_j = Σ_i v_i · s(i,j) with
    * s ∈ {−1, 0, +1} drawn from a hash of (i, j) instead of a stored
    * matrix. The JL-lemma workhorse for shrinking embedding width
    * ahead of LSH/IVF indexing: 16 → 4 dims here, d → O(log n / ε²)
    * in general, pairwise distances preserved within ε.
    *
    * Scale shape: a pure per-row map — no shuffle, no driver state,
    * no materialized projection matrix (the hash IS the matrix, so
    * executors need zero setup and the projection of a 100 TB corpus
    * is one codegen'd scan). The per-element fold is a sequential
    * `aggregate` over `zip_with`, the same left-to-right order the
    * oracle's `list_reduce` uses, so doubles agree bit-for-bit before
    * the defensive round(6).
    */
  def randomProjectionQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(expr(
        """transform(sequence(0, 3), j ->
          |  round(aggregate(
          |    zip_with(CAST(embedding AS array<double>),
          |             sequence(0, size(embedding) - 1),
          |             (x, i) -> x * CAST((i * 31 + j * 17) % 3 - 1 AS double)),
          |    CAST(0 AS double), (acc, x) -> acc + x), 6))""".stripMargin))
        .as(Seq("dim", "val")))

  // ——— label-centroid similarity audit (q181) ———

  /** Pairwise cosine similarity between the per-label centroids of an
    * embedding table — the "class confusability" audit run before
    * training a classifier or weighting a mixture (two labels whose
    * centroids cosine ≥ 0.9 are candidates for merging; a label far
    * from all others is an outlier worth inspecting).
    *
    * Exactness: cosine is invariant to positive scaling, so the
    * centroid (Σv)/n can be replaced by the per-dim SUM — computed
    * exactly as DECIMAL(18,6) (mergeable, order-independent) — and
    * only the final 16-dim fold runs in floats, sequentially, in the
    * same order on both engines. The label-pair fan-out is
    * C(labels, 2) — dozens of rows from any corpus size; the heavy
    * part is one mergeable groupBy over the exploded dims.
    */
  def labelCentroidSimQuery(spark: SparkSession, dir: String): DataFrame = {
    val sums = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x").cast("decimal(18,6)")).as("s"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, s))), p -> CAST(p.s AS DOUBLE))")
        .as("cvec"))
    sums.select(col("label").as("label_a"), col("cvec").as("va"))
      .join(sums.select(col("label").as("label_b"), col("cvec").as("vb")),
        col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(graft.functions.GraftFunctions.cosine(col("va"), col("vb")), 6).as("sim"))
  }

  val labelCentroidSimSql: String =
    """WITH sums AS (
      |  SELECT label, pos, CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s
      |  FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
      |          unnest(range(len(embedding))) AS pos FROM embeddings) u
      |  GROUP BY 1, 2),
      |cents AS (SELECT label, list(s ORDER BY pos) AS cvec FROM sums GROUP BY 1)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  round(list_cosine_similarity(a.cvec, b.cvec), 6) AS sim
      |FROM cents a JOIN cents b ON a.label < b.label""".stripMargin

  // ——— approximate kNN-graph construction (q182) ———

  /** Directed k-nearest-neighbor graph over the embedding table,
    * restricted to IVF-cluster neighborhoods — the bulk kNN-graph
    * build that feeds graph ops downstream (connected components for
    * SemDeDup, PageRank over similarity edges, label propagation).
    * Per node: its top-`k` most-cosine-similar co-cluster members,
    * deterministic tiebreak by neighbor id.
    *
    * Scale: [[ivfAssign]]'s map-side argmax (no Exchange), one
    * within-cluster equi-join (Σ cluster², nlist the knob — the
    * SemDeDup shape), one per-node window for the top-k. Never
    * all-pairs; the full-corpus exact variant is q19's broadcast
    * brute force, this is the build that works when neither side
    * fits a broadcast.
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, k: Int, kmeansIters: Int = 1): DataFrame = {
    val centroids =
      if (kmeansIters > 0) kmeansCentroids(emb, idCol, vecCol, nlist, kmeansIters)
      else sampleCentroids(emb, idCol, vecCol, nlist)
    val assigned = ivfAssign(emb, idCol, vecCol, centroids).cache()
    try {
      val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
      materialize(assigned.as("a").join(assigned.as("b"),
          col("a.cent_id") === col("b.cent_id") && col("a.id") =!= col("b.id"))
        .select(col("a.id").as("src"), col("b.id").as("dst"),
          round(graft.functions.GraftFunctions.cosine(col("a.vec"), col("b.vec")), 6).as("sim"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= k),
        // materialized before the cache under it is released
        "knn_graph")
    } finally assigned.unpersist()
  }

  def knnGraphQuery(spark: SparkSession, dir: String): DataFrame =
    knnGraph(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nlist = 16, k = 5, kmeansIters = 1)

  /** Oracle: the q33/q86 IVF chain (seed centroids + one Lloyd step,
    * raw-cosine argmax) feeding directed within-cluster pairs and a
    * per-source top-k window.
    */
  val knnGraphSql: String =
    s"""WITH $refinedCentSql,
       |assigned AS (
       |  SELECT id, vec, cent_id FROM (
       |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
       |                 c.cent_id) AS arn
       |    FROM embeddings e CROSS JOIN cent c) t WHERE arn = 1)
       |SELECT src, dst, sim, CAST(rn AS INTEGER) AS rn FROM (
       |  SELECT a.id AS src, b.id AS dst,
       |    round(list_cosine_similarity(a.vec, b.vec), 6) AS sim,
       |    row_number() OVER (PARTITION BY a.id
       |      ORDER BY round(list_cosine_similarity(a.vec, b.vec), 6) DESC, b.id) AS rn
       |  FROM assigned a JOIN assigned b
       |    ON a.cent_id = b.cent_id AND a.id <> b.id) t
       |WHERE rn <= 5""".stripMargin

  val randomProjectionSql: String =
    """SELECT vec_id, CAST(j AS INTEGER) AS dim,
      |  round(list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(range(len(embedding)), i ->
      |      CAST(embedding[i + 1] AS DOUBLE) * ((i * 31 + j * 17) % 3 - 1))),
      |    (acc, x) -> acc + x), 6) AS val
      |FROM embeddings, unnest(range(4)) t(j)""".stripMargin

  // ───────────────────────── late-interaction (MaxSim) ─────────────────────────

  /** q208 — multi-vector late-interaction scoring (the ColBERT family):
    * each document is a BAG of sub-vectors and the query-document score
    * is `Σ_i max_j cos(q_i, d_j)` — each query sub-vector claims its
    * best-matching document sub-vector independently, which rewards
    * documents that cover ALL facets of the query instead of matching
    * its average direction. Here the m=4 sub-vectors are fixed 16-dim
    * slices of the 64-dim embedding (the same subspace decomposition PQ
    * uses, so no new data shape is invented for the gate).
    *
    * Two stages, the standard serving shape:
    *  1. candidate generation: single-vector cosine top-`fetchK` with
    *     the (bounded, broadcast) query set — the cheap coarse pass;
    *  2. exact MaxSim re-rank of the fetchK survivors only: the m×m
    *     pairwise sub-cosines are 16 codegen'd scalar expressions per
    *     row, never an explode/regroup — no shuffle is added by the
    *     re-rank at all.
    * At 100 TB the re-rank cost is `|queries|·fetchK·m²` dot products
    * — independent of corpus size; stage 1 is the same broadcast-KNN
    * shape as q19/q153 (swap in the IVF/store-ANN candidate pass for a
    * serving deployment; the re-rank stage is unchanged).
    *
    * Determinism contract with the oracle: every pairwise cosine is
    * rounded to 6dp BEFORE the max; the four per-slice maxima are added
    * in slice order (left-assoc, bit-identical in IEEE); the sum is
    * rounded again; ties break on cand_id.
    */
  def maxSim(cands: DataFrame, queries: DataFrame, m: Int, sub: Int,
      fetchK: Int, k: Int): DataFrame = {
    val top = cands.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("sim", round(GraftFunctions.cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
      .filter(col("rn") <= fetchK)
    val withMax = (0 until m).foldLeft(top) { (df, i) =>
      val qi = slice(col("qv"), i * sub + 1, sub)
      val cos = (0 until m).map(j =>
        round(GraftFunctions.cosine(qi, slice(col("cv"), j * sub + 1, sub)), 6))
      df.withColumn(s"m$i", greatest(cos: _*))
    }
    // + 0.0 normalizes a rounded -0.0 to +0.0 (IEEE) — the q163 hash
    // class: DuckDB and Spark disagree on round()'s zero sign
    val score = round((1 until m).foldLeft(col("m0"))((acc, i) => acc + col(s"m$i")), 6) + lit(0.0)
    withMax.withColumn("score", score)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("cand_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rank"))
  }

  def maxSimQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cands = e.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("cv"))
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    maxSim(cands, qs, m = 4, sub = 16, fetchK = 40, k = 10)
  }

  /** DuckDB replica: same two stages; the m×m sub-cosines come from
    * 1-based inclusive list slices (`qv[1:16]` ≡ Spark `slice(qv,1,16)`),
    * each rounded to 6dp before `greatest`, summed in slice order.
    */
  val maxSimSql: String = {
    val m = 4; val sub = 16
    def sl(c: String, i: Int) = s"$c[${i * sub + 1}:${(i + 1) * sub}]"
    val maxima = (0 until m).map { i =>
      val terms = (0 until m).map(j =>
        s"round(list_cosine_similarity(${sl("qv", i)}, ${sl("cv", j)}), 6)")
      s"greatest(${terms.mkString(", ")}) AS m$i"
    }.mkString(",\n      ")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |topk AS (
       |  SELECT query_id, cand_id, qv, cv FROM (
       |    SELECT q.query_id, c.cand_id, q.qv, c.cv,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cand_id) AS rn
       |    FROM q JOIN c ON c.cand_id <> q.query_id) t WHERE rn <= 40),
       |scored AS (
       |  SELECT query_id, cand_id, round(m0 + m1 + m2 + m3, 6) + 0.0 AS score FROM (
       |    SELECT query_id, cand_id,
       |      $maxima
       |    FROM topk) z)
       |SELECT query_id, cand_id, score, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT query_id, cand_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
       |  FROM scored) t WHERE rn <= 10""".stripMargin
  }
}
