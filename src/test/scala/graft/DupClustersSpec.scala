package graft

import graft.dedup.DupClusters
import org.apache.spark.sql.functions._

class DupClustersSpec extends SparkSpec {

  /** Reference union-find (path compression) for small graphs. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonicalize to min member per root
    val members = parent.keys.toSeq.groupBy(find)
    members.flatMap { case (_, ms) =>
      val m = ms.min; ms.map(_ -> m)
    }.toMap
  }

  private def run(edges: Seq[(Long, Long)], maxRounds: Int = 50): Map[Long, Long] = {
    import spark.implicits._
    DupClusters.components(edges.toDF("a", "b").repartition(9), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches union-find on a seeded random graph (both strategies)") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 400).map(_ =>
      (rnd.nextInt(250).toLong, rnd.nextInt(250).toLong))
    val expected = ufComponents(edges)
    assert(run(edges) == expected) // dense path (below the gate)
    assert(withDenseThreshold(0)(run(edges)) == expected) // distributed loop
  }

  test("the dense strategy runs no shuffle exchange") {
    import spark.implicits._
    // the single task is entered with coalesce(1) over the pinned edges
    val out = DupClusters.components(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b").repartition(9))
    assert(out.count() == 5L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"dense components shuffles:\n$plan")
  }

  test("long path converges fast (pointer jumping), exact labels") {
    // a 64-node path: neighbor-min alone needs 63 rounds; with the jump
    // step the budget of 12 is ample — failing this means the shortcut
    // regressed to plain propagation. A 0 gate forces the distributed
    // loop (the dense gate would otherwise absorb the case).
    val edges = (0L until 63L).map(i => (i + 1, i))
    assert(withDenseThreshold(0)(run(edges, maxRounds = 12)) ==
      (0L to 63L).map(_ -> 0L).toMap)
  }

  test("self loops and duplicate/reversed edges are tolerated") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (7L, 8L))
    assert(run(edges) ==
      Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("keepCanonical retains exactly one min-id doc per cluster") {
    import spark.implicits._
    val edges = Seq((3L, 9L), (9L, 4L), (10L, 20L)).toDF("a", "b")
    val kept = DupClusters.keepCanonical(edges)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 10L))
  }

  test("non-convergence within maxRounds throws instead of truncating") {
    val edges = (0L until 63L).map(i => (i + 1, i))
    intercept[IllegalStateException] {
      withDenseThreshold(0)(run(edges, maxRounds = 2))
    }
  }

  test("self loops and duplicate/reversed edges, distributed loop") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (7L, 8L))
    assert(withDenseThreshold(0)(run(edges)) ==
      Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
  }
}
