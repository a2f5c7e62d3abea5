package graft.dedup

import graft.stencil.DenseGrid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Connected components over a duplicate-pair edge list — the step every
 * web-scale dedup pipeline runs AFTER candidate generation: exact/LSH/
 * near-dup pair emitters ([[Dedup.lshPairs]], [[Dedup.embeddingNearDupPairs]],
 * `ngramJaccard`) produce edges, and the pipeline must collapse them into
 * transitive clusters so "A~B, B~C" keeps ONE of {A,B,C}, not two.
 *
 * Algorithm: hash-min label propagation with a pointer-jumping shortcut,
 * all in DataFrame algebra (no RDDs, no graph library):
 *
 *   - every node starts labeled with itself;
 *   - round: (a) neighbor step — each node takes the min label over
 *     itself and its neighbors (one equi-join edges x labels + one
 *     hash-aggregate min); (b) jump step — each node takes its label's
 *     label (`l2(id) = min(l1(id), l1(l1(id)))`), halving pointer chains;
 *   - stop when no label changed (one bounded `count` per round).
 *
 * The neighbor step alone converges in O(diameter) rounds; the jump step
 * compresses label chains geometrically, giving O(log d) rounds in
 * practice — the same two-phase shape as the published large-star/
 * small-star map-reduce CC. Every step is a keyed join or aggregate that
 * shuffles on node id, so the work per round is O(|E| + |V|) with
 * map-side combine and no single-task bottleneck; labels are monotone
 * non-increasing, so the result is deterministic under any partitioning.
 *
 * Each round's labels are `localCheckpoint`ed to cut the lineage chain
 * (the same pattern as the ALIGN3D coarse-to-fine loop); without it the
 * plan doubles per iteration.
 *
 * The cluster id is the minimum member id — which IS the canonical-doc
 * choice (keep-min) used by the exact-dedup family, so
 * `components(pairs)` composes directly with a `filter(id === cluster)`
 * keep step. It is also the engine's one graph-CC loop:
 * [[graft.cc.ConnectedComponents]] resolves its tile-seam label graph
 * here.
 */
object DupClusters {

  /** Undirected connected components. Edge lists of at most
    * `DenseGrid.threshold` rows are labeled in ONE executor task (a
    * single union-find sweep — 2 jobs instead of ~2 per propagation
    * round); larger ones take the pointer-jumping loop. Both paths are
    * asserted equal in DupClustersSpec.
    *
    * @param edges     two-column DataFrame of node-id pairs (Long); self
    *                  loops and duplicate/reversed pairs are tolerated
    * @param maxRounds safety bound on propagation rounds; exceeding it
    *                  throws rather than returning a half-merged
    *                  clustering (adversarial chains should use a bigger
    *                  bound, not silently wrong output)
    * @return (id, cluster) with cluster = min node id reachable
    */
  def components(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val Seq(a, b) = edges.columns.toSeq
    // Pin the edge list ONCE: its lineage is often an expensive pair
    // generator (LSH banding, a similarity join), and it used to be
    // re-executed three times — once inside the symmetrized checkpoint
    // and twice more in the node-set union below. One materialization
    // feeds all three consumers; every round already reads only
    // checkpointed frames, so the added block is the edge list itself,
    // which the loop holds anyway via `sym`.
    val pinned = edges.select(col(a).as("src"), col(b).as("dst"))
      .localCheckpoint(eager = true)
    // the count is over the just-materialized blocks — no recompute
    if (pinned.count() <= DenseGrid.threshold(spark)) return componentsDense(pinned)
    // symmetrize once; nodes = endpoints
    val sym = pinned
      .union(pinned.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = true)
    var labels = pinned.select(col("src").as("id"))
      .union(pinned.select(col("dst").as("id")))
      .distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(eager = true)

    var round = 0
    var done = false
    while (!done) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"connected components did not converge in $maxRounds rounds")
      // (a) neighbor min: messages dst <- label(src), folded with self
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("lbl"))
      val l1 = msgs.union(labels)
        .groupBy("id").agg(min("lbl").as("lbl"))
      // (b) pointer jump: label of label, applied TWICE back to back
      // (label chains shrink 4x per round instead of 2x; the second
      // jump reads the first's lazily-composed output, so the pair
      // costs one extra equi-join but no extra materialization job —
      // per-round fixed cost dominates at the round counts this loop
      // runs). The convergence flag is fused into the SAME checkpointed
      // pass (one extra boolean column), so the per-round cost is one
      // materialization job plus a shuffle-free count over its blocks —
      // not a second join job re-shuffling the labels. Labels stay
      // monotone non-increasing, so the fixpoint (min id per component)
      // is unchanged.
      val byId = l1.select(col("id").as("jid"), col("lbl").as("jlbl"))
      val j1 = l1.join(byId, l1("lbl") === byId("jid"), "left")
        .select(l1("id"), least(l1("lbl"), coalesce(col("jlbl"), l1("lbl"))).as("lbl"))
      val byId2 = j1.select(col("id").as("kid"), col("lbl").as("klbl"))
      val l2 = j1.join(byId2, j1("lbl") === byId2("kid"), "left")
        .select(j1("id"), least(j1("lbl"), coalesce(col("klbl"), j1("lbl"))).as("lbl"))
        .join(labels.withColumnRenamed("lbl", "old"), "id")
        .select(col("id"), col("lbl"), (col("lbl") =!= col("old")).as("chg"))
        .localCheckpoint(eager = true)
      val changed = l2.filter(col("chg")).count()
      labels = l2.select("id", "lbl")
      done = changed == 0
    }
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** Dense single-task strategy: one union-find sweep over the whole
    * (gate-bounded) edge list in one executor task, entered with
    * `coalesce(1)` over the pinned blocks — no exchange, the
    * [[DenseGrid.task]] rule. Union-by-min keeps
    * every tree's root at the component's minimum node id — the same
    * canonical labels as the distributed loop, independent of edge
    * order (the component minimum, once a root, is never displaced:
    * merges always point the larger root at the smaller). */
  private def componentsDense(pinned: DataFrame): DataFrame = {
    val spark = pinned.sparkSession
    import spark.implicits._
    pinned.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1).mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent.update(c, r); c = n }
          r
        }
        it.foreach { case (s, d) =>
          add(s); add(d)
          if (s != d) {
            val rs = find(s); val rd = find(d)
            if (rs != rd) parent.update(math.max(rs, rd), math.min(rs, rd))
          }
        }
        val keys = parent.keys.toArray
        keys.iterator.map(k => (k, find(k)))
      }.toDF("id", "cluster")
  }

  /** Keep-one-per-cluster: the canonical (min-id) member of each
    * component, i.e. the rows a dedup pipeline retains. */
  def keepCanonical(edges: DataFrame): DataFrame =
    components(edges).filter(col("id") === col("cluster")).select("id")
}
