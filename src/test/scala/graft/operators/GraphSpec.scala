package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Fixed-point PageRank (q156): exactness and structure properties
  * a floating-point implementation couldn't pin.
  */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  private val Scale = 1000000000000L

  test("uniform ring: every node ends with the identical rank") {
    // a directed cycle is vertex-transitive — any rank difference is a bug
    val n = 10L
    val ring = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val ranks = Graph.pageRank(ring).as[(Long, Long)].collect().toMap
    assert(ranks.size == n)
    assert(ranks.values.toSet.size == 1, s"ring ranks diverged: $ranks")
  }

  test("star graph: the hub out-ranks every leaf") {
    // leaves 1..8 all point at hub 0; hub points back at leaf 1
    val edges = ((1L to 8L).map(i => (i, 0L)) :+ (0L, 1L)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges).as[(Long, Long)].collect().toMap
    val hub = ranks(0L)
    (2L to 8L).foreach(l => assert(hub > ranks(l), s"hub=$hub <= leaf $l=${ranks(l)}"))
    // leaf 1 receives the hub's entire mass — it must also beat the other leaves
    (2L to 8L).foreach(l => assert(ranks(1L) > ranks(l)))
  }

  test("rank mass is conserved up to integer-division leakage") {
    val n = 10L
    val ring = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val total = Graph.pageRank(ring).agg(sum(col("rank_units"))).as[Long].head()
    // each of 5 iterations can leak < (100 + deg) units per node to
    // integer division; with n=10 that is well under 0.1% of SCALE
    assert(total <= Scale && total > Scale - Scale / 1000,
      s"mass $total outside (${Scale - Scale / 1000}, $Scale]")
  }

  test("determinism: two runs produce byte-identical ranks") {
    val edges = (0L until 50L).map(i => (i % 7, (i * 13) % 11)).toDF("src", "dst")
    val a = Graph.pageRank(edges).as[(Long, Long)].collect().sorted.toSeq
    val b = Graph.pageRank(edges).as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  // ——— triangle counting (q175) ———

  test("triangles: K4 gives every vertex C(3,2)=3 triangles") {
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toDF("src", "dst")
    val counts = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), s"got $counts")
  }

  test("triangles: a path has none, and triangle-free nodes are absent") {
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(Graph.triangleCounts(path).isEmpty)
  }

  test("triangles: result is orientation-invariant (reversed + duplicated edges)") {
    // two triangles sharing edge (1,2): {1,2,3} and {1,2,4}; feed the
    // edges in mixed direction with duplicates — canonicalization must
    // absorb both
    val raw = Seq((1L, 2L), (2L, 1L), (3L, 1L), (2L, 3L), (1L, 4L), (4L, 2L), (1L, 4L))
    val counts = Graph.triangleCounts(raw.toDF("src", "dst")).as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L), s"got $counts")
  }

  test("triangles: hub-and-spokes counts match the closed-form fan") {
    // wheel graph: hub 0 joined to cycle 1..6 — hub sits in 6
    // triangles, each rim vertex in 3 (two with the hub + one… no:
    // rim vertex v sits in triangles (0,v,v-1) and (0,v,v+1) only)
    val n = 6L
    val rim = (1L to n).map(i => (i, if (i == n) 1L else i + 1))
    val spokes = (1L to n).map(i => (0L, i))
    val counts = Graph.triangleCounts((rim ++ spokes).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(counts(0L) == n)
    (1L to n).foreach(v => assert(counts(v) == 2L, s"rim $v: ${counts(v)}"))
  }

  test("label propagation: two planted cliques collapse to two communities; isolates keep their own") {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(1L to 4L) ++ clique(10L to 13L)).toDF("src", "dst")
    val nodes = ((1L to 4L) ++ (10L to 13L) :+ 99L).toDF("id")
    val got = Graph.labelPropagation(edges, nodes, rounds = 4)
      .select("id", "community", "csize").as[(Long, Long, Long)].collect()
    val byId = got.map(r => r._1 -> r._2).toMap
    assert((1L to 4L).map(byId).toSet.size === 1, s"clique A not uniform: $byId")
    assert((10L to 13L).map(byId).toSet.size === 1, s"clique B not uniform: $byId")
    assert(byId(1L) !== byId(10L), "distinct cliques must keep distinct communities")
    assert(byId(99L) === 99L, "isolated node must keep its own label")
    assert(got.find(_._1 == 1L).get._3 === 4L, "community size must be the clique size")
  }

  // ——— both sides of every broadcast decision ———

  /** `run` under the default broadcast threshold and with every size-
    * driven broadcast off (-1: each join the statistics would broadcast
    * shuffles instead).
    */
  private def bothSides[A](run: => A): (A, A) = (run, withBroadcastThreshold("-1")(run))

  private lazy val cyclic =
    (0L until 80L).map(i => (i % 13, (i * 7 + 3) % 17)).toDF("src", "dst")

  test("pageRank: identical ranks with the rank-table joins broadcast and shuffled") {
    val (b, s) = bothSides(Graph.pageRank(cyclic).as[(Long, Long)].collect().sorted.toSeq)
    assert(b.nonEmpty && b === s)
  }

  test("triangles: identical counts with the closing join broadcast and shuffled") {
    val wheel = ((1L to 6L).map(i => (i, if (i == 6L) 1L else i + 1)) ++
      (1L to 6L).map(i => (0L, i)) ++ Seq((0L, 7L), (7L, 1L))).toDF("src", "dst")
    Seq(wheel, cyclic).foreach { edges =>
      val (b, s) = bothSides(Graph.triangleCounts(edges).as[(Long, Long)].collect().sorted.toSeq)
      assert(b.nonEmpty && b === s)
    }
  }

  test("label propagation: identical communities with the vote joins broadcast and shuffled") {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(1L to 5L) ++ clique(20L to 23L) ++ Seq((5L, 20L))).toDF("src", "dst")
    val nodes = ((1L to 5L) ++ (20L to 23L) :+ 99L).toDF("id")
    val (b, s) = bothSides(Graph.labelPropagation(edges, nodes, rounds = 4)
      .select("id", "community", "csize").as[(Long, Long, Long)].collect().sorted.toSeq)
    assert(b.size === 10 && b === s)
  }

  test("triangles: the closing join broadcasts the oriented edges by their recorded size, no hint") {
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toDF("src", "dst")
    def closingJoins(): (Seq[SparkPlan], Seq[Join]) = {
      val qe = Graph.triangleCounts(k4).queryExecution
      val hinted = qe.optimizedPlan.collect { case j: Join if j.hint != JoinHint.NONE => j }
      // the closing join is the one keyed on the closing edge's source
      val closing = qe.sparkPlan.collect {
        case j: BroadcastHashJoinExec if (j.leftKeys ++ j.rightKeys)
            .exists(_.references.exists(_.name == "vsrc")) => j
        case j: SortMergeJoinExec if (j.leftKeys ++ j.rightKeys)
            .exists(_.references.exists(_.name == "vsrc")) => j
      }
      (closing, hinted)
    }
    val (closing, hinted) = closingJoins()
    assert(hinted.isEmpty, s"no join may carry a hint: $hinted")
    assert(closing.size === 1 && closing.head.isInstanceOf[BroadcastHashJoinExec], closing)
    val (shuffled, _) = withBroadcastThreshold("-1")(closingJoins())
    assert(shuffled.size === 1 && shuffled.head.isInstanceOf[SortMergeJoinExec], shuffled)
  }
}
