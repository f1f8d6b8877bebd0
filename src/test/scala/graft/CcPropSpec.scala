package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Dedup

/** Property tests for the fused-round connected-components contract
  * (r08, VERDICT r07 #3).
  *
  * The fusion argument — a stable label-sum across a fused step implies
  * NEITHER inner round changed anything, by monotonicity (labels only ever
  * decrease, so any change strictly drops the sum) — is relied on for
  * q75/q149 correctness but was only covered by equality specs on fixed
  * fixtures. Here the property is checked over RANDOM edge sets against a
  * driver-side union-find oracle, with both even and odd round budgets
  * (odd exercises the r08 trailing single un-fused round), plus the
  * maxIter-boundary behaviors: the diameter-bound throw and the r08 fix
  * that an odd/1 budget whose rounds suffice CONVERGES instead of
  * throwing (the r07 loop dropped the odd round: maxIter=1 always threw,
  * and a converging odd budget was cut one round short).
  *
  * Raw fixed-seed scalacheck sampling, same pattern as NativeExprPropSpec
  * (the scalatestplus bridge is not on the offline classpath) — runs are
  * deterministic.
  */
class CcPropSpec extends SparkTestBase {
  import spark.implicits._

  /** Driver-side union-find over the same edges — the oracle. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  // Random graphs spanning the shapes that stress propagation differently:
  // sparse (many tiny components), denser (few big ones), and chain-heavy
  // (high diameter — the worst case for round count).
  private val edgesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 24)
    m <- Gen.choose(1, 30)
    es <- Gen.listOfN(m, for {
      u <- Gen.choose(0L, n.toLong)
      v <- Gen.choose(0L, n.toLong) if v != u
    } yield (math.min(u, v), math.max(u, v)))
    // splice in a chain segment with probability ~1/2 to force diameter
    chain <- Gen.oneOf(
      List.empty[(Long, Long)],
      (0L until 8L).map(i => (100L + i, 101L + i)).toList)
  } yield (es ++ chain).distinct

  test("fused CC equals union-find on random graphs (even and odd budgets)") {
    (0 until 12).foreach { i =>
      val edges = edgesGen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(List((0L, 1L)))
      val pairs = edges.toDF("doc_a", "doc_b")
      // alternate even/odd budgets so the trailing single-round path runs
      val maxIter = if (i % 2 == 0) 40 else 41
      val got = Dedup.propagateLabels(pairs, "doc_a", "doc_b", maxIter)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges),
        s"seed $i (maxIter=$maxIter): CC diverged from union-find on $edges")
    }
  }

  test("odd maxIter spends its final round: path-4 converges at exactly 5") {
    // Path 0-1-2-3 reaches all-zero labels after round 3; stability is
    // DETECTED two fused steps + one single round later (sum stable at
    // round 5). The r07 loop stopped at rounds=4 (4+2 > 5) and threw —
    // the exact silent-drop ADVICE r07 flagged.
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.propagateLabels(chain, "doc_a", "doc_b", maxIter = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("maxIter=1 converges when the seed round suffices") {
    // Single edge: the seeded labels are already the fixpoint, so one
    // verification round detects stability. r07 threw unconditionally.
    val one = Seq((7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.propagateLabels(one, "doc_a", "doc_b", maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 9L -> 7L))
  }

  test("maxIter=1 still throws when one round cannot converge") {
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.propagateLabels(chain, "doc_a", "doc_b", maxIter = 1)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("bounded CC equals union-find on random graphs (both sides of the guard)") {
    // The r11 q149 fast path: under the guard the driver-side union-find
    // answers; OVER the guard the call must fall back to the distributed
    // operator — both must equal the oracle, and both must equal each
    // other (the swap is invisible to callers).
    (0 until 12).foreach { i =>
      val edges = edgesGen.apply(Gen.Parameters.default, Seed(1000L + i))
        .getOrElse(List((0L, 1L)))
      val pairs = edges.toDF("doc_a", "doc_b")
      val oracle = unionFind(edges)
      // guard roomy (driver path) and guard 0 (forced distributed path —
      // guard 1 would NOT force it on a seed whose normalized edge set
      // collapses to a single pair)
      Seq(4096, 0).foreach { guard =>
        val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
            driverMaxEdges = guard)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == oracle,
          s"seed $i guard=$guard: bounded CC diverged from union-find on $edges")
      }
    }
  }

  test("bounded CC drops self-loop-only nodes identically on both guard sides") {
    // r12, ADVICE r11 #1: the normalization (a =!= b) drops self-loops
    // BEFORE the guard, and the distributed fallback consumes the same
    // filtered frame — so node 7 (self-loop only) must be absent from the
    // output on BOTH paths, and the two paths must be identical. (Bare
    // propagateLabels labels a self-loop node as itself; the note is on
    // propagateLabels.)
    val pairs = Seq((7L, 7L), (1L, 2L), (2L, 3L), (9L, 9L), (9L, 4L))
      .toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 4L, 4L -> 4L)
    Seq(4096, 0).foreach { guard =>
      val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
          driverMaxEdges = guard)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"guard=$guard: self-loop handling diverged: $got")
    }
  }

  test("q75 and q149 route through the CC driver fast path") {
    // Regression pin (r12, VERDICT r11 #5): the r11 q149 win (3.3 → 1.7 s)
    // is the union-find fast path; a refactor could silently fall back to
    // the distributed ladder while staying hash-correct. q75's near-dup
    // graph and q149's atom graph at sf0.001 are far under the 64k guard,
    // so each run must record exactly one driver-path hit.
    Seq("q75_dedup_components", "q149_entity_resolution").foreach { key =>
      val before = Dedup.boundedDriverPathHits.get()
      SparkEntry.queries(key)(spark, sfDir).count()
      assert(Dedup.boundedDriverPathHits.get() == before + 1,
        s"$key did not take the connectedComponents driver fast path")
    }
  }

  test("bounded CC driver path handles duplicate and reversed pairs") {
    // The probe normalizes to distinct undirected pairs before the guard
    // is applied — duplicates and orientation must not trip it or skew
    // the labels.
    val pairs = Seq((5L, 3L), (3L, 5L), (5L, 3L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        driverMaxEdges = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 3L, 3L -> 3L, 8L -> 8L, 9L -> 8L))
  }
}
