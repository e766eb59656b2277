package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftMaterialize.{broadcastable, materialize, rowCount}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Iterative graph analytics over edge tables — the join-iteration
  * shape (no vertex-program framework needed: each superstep is one
  * equi-join + one aggregation, which is exactly what Pregel compiles
  * to on a shuffle engine anyway).
  *
  * PageRank here is the scale-bearing companion to the connected-
  * components loop in [[Dedup.connectedComponents]]: CC powers the
  * drop-list machinery, PageRank powers graph-signal QUALITY WEIGHTING
  * (rank a link/citation graph, weight documents by the rank of their
  * source — the classic web-corpus curation signal). Same execution
  * hygiene as CC: per-iteration `materialize` lineage cuts, a
  * fixed iteration count (power iteration converges geometrically;
  * production runs pick 10-50 and stop), and per-iteration cost =
  * one shuffle of the edge table by src + one by dst — linear in
  * |E| per step, nothing driver-side, no n² anywhere.
  *
  * FIXED-POINT ARITHMETIC: ranks are BIGINT micro-units (SCALE =
  * 1e12), all updates integer div/mod — so the result is a pure
  * function of the graph, bit-identical on any engine and any
  * summation order. (Float PageRank sums partial contributions in
  * nondeterministic order; at 1e-6 tolerance that's fine for ranking
  * but unfalsifiable under a hash gate. Integer units make the gate
  * exact — same trick as the BM25/z-order fixed-pointing.)
  * Rank mass: each node gets base = (15·(SCALE div N)) div 100 plus
  * 85% of received contributions; integer division leaks a few units
  * per node per step (standard for fixed-point PR) — deterministically
  * on both engines.
  */
object Graph {

  private val Scale = 1000000000000L
  private val Iters = 5

  /** Fixed-point PageRank over an edge list (`src`, `dst` long
    * columns). Returns (node, rank_units).
    *
    * Join strategy: the edge and rank tables are materialized frames,
    * so the planner broadcasts whichever fits
    * `spark.sql.autoBroadcastJoinThreshold` from their recorded sizes.
    * The per-node `sums` are computed through the edge join, whose
    * estimate is the product of its inputs; they are bounded by the
    * rank table (one row per node at most, same width) and ride as a
    * broadcast exactly when it would.
    */
  def pageRank(edgesIn: DataFrame, iters: Int = Iters): DataFrame = {
    // the edge table is reused every superstep — cut its lineage once
    val edges0 = materialize(edgesIn.select(col("src"), col("dst")).distinct(), "pagerank_edges")
    val nodes = materialize(
      edges0.select(explode(array(col("src"), col("dst"))).as("id")).distinct(), "pagerank_nodes")
    // out-degree is a pure function of the edge table — fold it into
    // the edge rows ONCE instead of re-joining `outd` every superstep
    // (the old shape paid that join, shuffle included, per round)
    val edges = materialize(
      edges0.join(edges0.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src"),
      "pagerank_edges_deg")
    // N is the node table's recorded row count: the per-round
    // crossJoin(nAgg) becomes literals — same integer arithmetic, one
    // fewer join per superstep
    val nn = math.max(rowCount(nodes), 1L) // empty graph: r is empty, value unused
    val init = Scale / nn
    val base = (15L * init) / 100L
    var r = materialize(nodes.select(col("id"), lit(init).as("u")), "pagerank_init")
    for (_ <- 1 to iters) {
      val sums = edges.join(r, col("id") === col("src"))
        .select(col("dst"), expr("u div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val sumsSide = if (broadcastable(r)) broadcast(sums) else sums
      r = materialize(nodes.join(sumsSide, col("id") === col("dst"), "left")
        .select(col("id"), expr(
          s"$base + (85 * coalesce(s, cast(0 as bigint))) div 100")
          .as("u")), "pagerank_superstep")
    }
    r.select(col("id").as("node"), col("u").as("rank_units"))
  }

  /** q156 — PageRank over a supplier-to-supplier graph derived from
    * lineitem: src = l_suppkey, dst = (l_partkey mod |supplier|) + 1.
    * A dataset-derived cyclic directed graph (parts fold back into the
    * supplier id space), dense enough that ranks differentiate. The
    * supplier count enters as a broadcast 1-row aggregate, not a
    * driver collect — the whole pipeline is plan-side.
    */
  def pageRankQuery(spark: SparkSession, dir: String): DataFrame = {
    val scnt = broadcast(Tables.supplier(spark, dir).agg(count(lit(1)).as("n_supp")))
    val edges = Tables.lineitem(spark, dir).crossJoin(scnt)
      .select(col("l_suppkey").as("src"), (col("l_partkey") % col("n_supp") + 1).as("dst"))
    pageRank(edges)
  }

  /** DuckDB replica: the same 5 supersteps unrolled as CTEs, same
    * integer arithmetic. DuckDB's BIGINT sum() widens to HUGEINT —
    * harmless for // and *, cast back at the end.
    */
  val pageRankSql: String = {
    def step(i: Int): String = {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""s$i AS (
         |  SELECT e.dst AS id, sum(r.u // o.deg) AS s
         |  FROM $prev r JOIN edges e ON r.id = e.src JOIN outd o ON o.src = e.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT nd.id,
         |    (15 * ($Scale // (SELECT n FROM n))) // 100
         |      + (85 * coalesce(s.s, 0)) // 100 AS u
         |  FROM nodes nd LEFT JOIN s$i s ON nd.id = s.id)""".stripMargin
    }
    s"""WITH scnt AS (SELECT count(*) AS s FROM supplier),
       |edges AS (
       |  SELECT DISTINCT l_suppkey AS src,
       |    (l_partkey % (SELECT s FROM scnt)) + 1 AS dst
       |  FROM lineitem),
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges) t),
       |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT id, $Scale // (SELECT n FROM n) AS u FROM nodes),
       |${(1 to Iters).map(step).mkString(",\n")}
       |SELECT id AS node, CAST(u AS BIGINT) AS rank_units FROM r$Iters""".stripMargin
  }

  /** Per-node triangle counts over an undirected edge table — the
    * local-clustering signal (community density, spam-farm detection,
    * "how clique-ish is this node's neighborhood") that complements
    * PageRank's global rank and CC's reachability.
    *
    * DEGREE-ORIENTED NODE-ITERATOR (the MapReduce-era standard from
    * Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    * Last Reducer", WWW'11): orient every edge from its lower
    * (degree, id) endpoint to the higher, enumerate wedges as pairs of
    * out-edges at their common source, and close them with one
    * semi-join back to the oriented edge table. Orientation is the
    * whole scale story: out-degrees under it are O(√|E|) even on
    * power-law graphs (a celebrity node's million followers generate
    * wedges at the FOLLOWERS — the low-degree side — not at the hub),
    * so the wedge join's fan-out is bounded where the naive a<b
    * orientation melts on the last reducer. The (deg, id) pair is
    * compared lexicographically as a struct — no global relabeling
    * rank (which would funnel every vertex through one window
    * partition) is needed.
    *
    * Every triangle is enumerated exactly once (its three edges form
    * one wedge at the triangle's (deg,id)-minimum vertex plus the
    * closing edge), then credited to all three corners via one
    * explode + groupBy.
    */
  def triangleCounts(edgesIn: DataFrame): DataFrame = {
    // canonical undirected simple graph
    val und = materialize(edgesIn
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct(), "triangle_undirected")
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // total order: (degree, id) — orient low → high; the dst rides as
    // a (d, id) struct so wedge ordering and the closing probe compare
    // under the SAME key with no relabeling pass
    val oriented = materialize(und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(when(
          struct(col("da").as("d"), col("a").as("id")) < struct(col("db").as("d"), col("b").as("id")),
          struct(col("a").as("sid"), struct(col("db").as("d"), col("b").as("id")).as("dk")))
        .otherwise(
          struct(col("b").as("sid"), struct(col("da").as("d"), col("a").as("id")).as("dk"))).as("e"))
      .select(col("e.sid").as("src"), col("e.dk").as("dk")),
      "triangle_oriented")
    // wedges at the common source: unordered out-neighbor pairs
    val wedges = oriented.select(col("src").as("u"), col("dk").as("v"))
      .join(oriented.select(col("src").as("u"), col("dk").as("w")), "u")
      .where(col("v") < col("w"))
    // Close each wedge with the oriented edge v → w. The wedge table
    // is the algorithm's Σ C(outdeg, 2) blow-up — orders of magnitude
    // wider than the edge table — so the closing join must never
    // shuffle IT. The closing edges are the materialized oriented
    // table: its recorded size lets the planner broadcast it to the
    // wedges whenever it fits the broadcast threshold (on a dense
    // sf0.1 co-purchase graph, 300 M wedges vs 1.2 M edges — the
    // broadcast cuts the q175 time ~10×), and past it the planner's
    // shuffle join stands.
    val closing = oriented.select(col("src").as("vsrc"), col("dk").as("wdk"))
    wedges.join(closing, col("vsrc") === col("v.id") && col("wdk") === col("w"))
      .select(explode(array(col("u"), col("v.id"), col("w.id"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** q175 gate: the co-purchase graph (parts appearing in the same
    * order) → per-part triangle counts. Edge generation is an
    * equi-join on l_orderkey (pair fan-out bounded by order size),
    * never all-pairs over parts. The gate restricts to a ¼-of-parts
    * subgraph: the FULL graph at sf0.1 is near-degenerate for a
    * triangle gate (2 000 parts carrying 1.2 M edges — avg degree
    * 1 200, a density no real co-occurrence graph has) and its
    * Σ C(outdeg, 2) wedge mass is ~300 M, all benchmark and no
    * signal; the subgraph keeps a rich triangle structure (~30 k
    * triangles at sf0.1) at realistic density. The operator itself
    * takes any edge table.
    */
  def triangleQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = li.select(col("l_orderkey").as("k"), col("l_partkey").as("src"))
      .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("dst")), "k")
      .where(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    triangleCounts(edges)
  }

  val triangleSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tri AS (
      |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      |  FROM e e1 JOIN e e2 ON e2.id_a = e1.id_b
      |    JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
      |SELECT node, count(*) AS n_tri
      |FROM (SELECT unnest([a, b, c]) AS node FROM tri) t
      |GROUP BY node""".stripMargin

  // ——— q215: label-propagation community detection ———

  /** q215 — synchronous label propagation over the q182 kNN similarity
    * graph: communities of the embedding corpus without choosing k
    * up front (the clustering you run to NAME the clusters IVF only
    * partitions). Init label(v) = v; each of 4 synchronous rounds every
    * node adopts its neighbors' PLURALITY label (count desc, label asc
    * tie-break — the deterministic variant of Raghavan et al.'s LPA;
    * async/random-order LPA is not gateable), isolated nodes keep
    * their own. Fixed round count, not convergence — the semantics is
    * "labels after T rounds", a pure function of the graph.
    *
    * Scale: per round one equi-join of the symmetrized edge list
    * against the label table (shuffle by dst), one (src, label) count,
    * one per-src window — linear in |E| per round, the CC/PageRank
    * execution hygiene (materialize lineage cuts, no driver
    * state). The edge build itself is q182's IVF-bucketed kNN graph —
    * never all-pairs.
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame, rounds: Int): DataFrame = {
    val sym = materialize(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), "labelprop_sym")
    var labels = materialize(nodes.select(col("id"), col("id").as("label")), "labelprop_init")
    // the label table is a materialized frame, so the planner sizes its
    // joins from its recorded size (the community-size join included).
    // The per-node votes are computed through a join, which the planner
    // estimates as the product of its inputs; one row per node at most
    // and no wider than a label row, they broadcast exactly when the
    // label table would
    (1 to rounds).foreach { _ =>
      // plurality winner per src = argmax over (count, -label): a
      // plain two-phase aggregate (partial agg on both steps) instead
      // of the old row_number window, which forced an extra shuffle +
      // per-partition sort per round for the same top-1 answer.
      // Node ids are non-negative (every caller feeds vec_id/doc_id
      // keys), so -label inverts the tie-break order losslessly.
      val votes = sym
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("w"))
        .select(col("src").as("id"), (-col("w.nl")).as("nlbl"))
      val votesSide = if (broadcastable(labels)) broadcast(votes) else votes
      labels = materialize(labels.join(votesSide, Seq("id"), "left")
        .select(col("id"), coalesce(col("nlbl"), col("label")).as("label")), "labelprop_round")
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    labels.join(sizes, "label")
      .select(col("id"), col("label").as("community"), col("csize"))
  }

  def labelPropagationQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val edges = Similarity.knnGraph(emb, "vec_id", "embedding", nlist = 16, k = 5,
      kmeansIters = 1)
    labelPropagation(edges, emb.select(col("vec_id").as("id")), rounds = 4)
  }

  /** Oracle: q182's kNN-graph SQL as the edge CTE (verbatim, wrapped
    * as a derived table), then the 4 synchronous rounds unrolled —
    * each a plurality argmax per node (count desc, label tie-break),
    * COALESCE keeping isolated nodes' labels. `edges`/`sym` are
    * MATERIALIZED: the unrolled rounds reference them repeatedly, and
    * without the hint DuckDB re-inlines the whole kNN-graph build per
    * reference — tractable at the sf0.01 gate, a >77 GB spill at
    * sf0.1 (observed round 16); with it, sub-second at both.
    */
  val labelPropagationSql: String = {
    def round(r: Int): String =
      s"""lp$r AS (
         |  SELECT p.id, COALESCE(w.nlbl, p.label) AS label
         |  FROM lp${r - 1} p LEFT JOIN (
         |    SELECT src AS id, label AS nlbl FROM (
         |      SELECT e.src, l.label,
         |        row_number() OVER (PARTITION BY e.src
         |          ORDER BY count(*) DESC, l.label) AS rn
         |      FROM sym e JOIN lp${r - 1} l ON l.id = e.dst
         |      GROUP BY e.src, l.label) z WHERE rn = 1) w ON w.id = p.id)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT src, dst FROM (${Similarity.knnGraphSql}) g),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT dst AS src, src AS dst FROM edges),
       |lp0 AS (SELECT vec_id AS id, vec_id AS label FROM embeddings),
       |${(1 to 4).map(round).mkString(",\n")},
       |sizes AS (SELECT label, count(*) AS csize FROM lp4 GROUP BY 1)
       |SELECT l.id, l.label AS community, s.csize
       |FROM lp4 l JOIN sizes s USING (label)""".stripMargin
  }
}
