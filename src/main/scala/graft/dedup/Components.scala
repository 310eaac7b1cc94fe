package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over a pair graph — the canonicalization step
  * after near-dup detection: every document in a duplicate cluster maps
  * to the cluster's minimum doc id (the "keeper"), so dedup becomes a
  * semi-join against keepers.
  *
  * Two algorithms, one contract (min-id labeling, a pure function of the
  * edge set — which is what makes both oracle-checkable against a
  * recursive-CTE transitive closure):
  *
  *  - '''min-label propagation''' ([[minLabel]]): each round every node
  *    takes the minimum label among itself and its neighbours; fixpoint
  *    after diameter(G) rounds. Near-dup graphs are overwhelmingly tiny
  *    cliques (pairs/triples), so this converges in 1–2 rounds and each
  *    round is ONE keyed join + aggregate — the cheap path for the graphs
  *    dedup actually produces.
  *  - '''alternating large-star/small-star contraction'''
  *    ([[starLabel]]): O(log n) rounds on ANY graph shape, including the
  *    boilerplate chains real crawl corpora contain (doc A near-dups B
  *    near-dups C … with no short-cut edges). This is the scale path;
  *    propagation escalates into it automatically past its round budget,
  *    so a chain-shaped graph degrades to O(log n) instead of aborting.
  */
object Components {

  /** Propagation round budget before [[minLabelCounted]] escalates to
    * star contraction. Near-dup graphs are shallow cliques (2–3 rounds);
    * a graph that is still moving labels after this many rounds is
    * chain-shaped, where propagation is O(diameter) and contraction is
    * O(log n) — keep propagating and the job burns a full join+agg pass
    * per hop. */
  val PropagationRounds = 8

  /** Hard cap on star-contraction alternations: each alternation at
    * least halves the height of any non-star component, so 2^60 nodes
    * would be needed to hit this legitimately — reaching it means a bug,
    * and the loop must abort loudly rather than spin. */
  private val StarRoundCap = 60

  /** edges(aCol, bCol) → (id, root): every node labeled with its
    * component's minimum id. Only nodes present in edges appear.
    * Propagation runs up to `maxRounds` rounds, then escalates to star
    * contraction on the label-contracted graph (same result, O(log n)
    * finish on deep graphs). */
  def minLabel(edges: DataFrame, aCol: String, bCol: String,
               maxRounds: Int = PropagationRounds): DataFrame =
    minLabelCounted(edges, aCol, bCol, maxRounds)._1

  /** [[minLabel]] plus the number of rounds executed (propagation rounds
    * + star alternations if escalated) — observable so tests can pin the
    * cost model, and callers can monitor convergence on production
    * graphs. */
  def minLabelCounted(edges: DataFrame, aCol: String, bCol: String,
                      maxRounds: Int = PropagationRounds): (DataFrame, Int) = {
    val a = col(aCol); val b = col(bCol)
    // Hash-partition the symmetric edge set on the per-round join key
    // (dst) BEFORE caching: every propagation round joins sym⋈labels on
    // dst, and a cached-but-arbitrarily-partitioned sym would re-shuffle
    // the full edge set (the big side — |E| ≫ |V| on dup graphs) every
    // round. Partitioned once, each round exchanges only the labels
    // side; InMemoryRelation preserves the partitioning across rounds.
    val sym = edges.select(a.as("src"), b.as("dst"))
      .union(edges.select(b.as("src"), a.as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist()
    // Lineage MUST be truncated every round, not just cached: each
    // round's plan references `labels` twice (through nbrMin and the
    // outer join), so an un-truncated logical plan tree DOUBLES per
    // round — 2^rounds nodes, and the driver OOMs stringifying/
    // re-optimizing it long before data is a problem. localCheckpoint
    // materializes the round eagerly and replaces the plan with a
    // LogicalRDD scan (executor-local storage; on a real cluster with
    // executor loss in play, set a checkpoint dir and swap in
    // .checkpoint() — same contract, reliable storage).
    // Init fuses propagation round 1: label₀ = min(id, min(neighbors))
    // is exactly what the first loop iteration would compute from
    // root=id, for one aggregation instead of a join+agg round.
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("root"))
      .select(col("src").as("id"), col("root"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 1 // the fused init IS round 1 — keeps rounds = hops+1
    while (changed > 0 && rounds <= maxRounds) {
      rounds += 1
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("root")).as("nmin"))
      // (measured: a pointer-doubling hop join per round costs more than
      // the rounds it saves on near-dup graphs, which are shallow —
      // chains barely exist, so min-propagation converges in 2-3 rounds)
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("root"),
          least(col("root"), coalesce(col("nmin"), col("root"))).as("next"))
        .localCheckpoint() // eager: materializes + truncates lineage
      changed = updated.filter(col("next") < col("root")).count()
      labels = updated.select(col("id"), col("next").as("root"))
    }
    if (changed > 0) {
      // Escalation: the graph is deeper than the propagation budget
      // (chain-shaped). Contract every edge through the partial labels —
      // converged components collapse to self-loops and VANISH, so the
      // contracted graph is just the unconverged backbone — finish it
      // with O(log n) star contraction, and compose the labelings.
      // Partial labels are monotone (root(v) is in v's component and
      // ≤ v), so component minima are propagation fixpoints: for the
      // global min M of a component, root(M) = M, M survives into the
      // contracted graph, and starRoot(root(v)) is v's true minimum.
      val l = labels
      val contracted = sym
        .join(l.withColumnRenamed("id", "src")
          .withColumnRenamed("root", "rsrc"), "src")
        .join(l.withColumnRenamed("id", "dst")
          .withColumnRenamed("root", "rdst"), "dst")
        .filter(col("rsrc") =!= col("rdst"))
        .select(col("rsrc").as("a"), col("rdst").as("b"))
      val (starLabels, starRounds) = starLabelCounted(contracted, "a", "b")
      labels = labels
        .join(starLabels.withColumnRenamed("root", "sroot")
          .withColumnRenamed("id", "root"), Seq("root"), "left")
        .select(col("id"), coalesce(col("sroot"), col("root")).as("root"))
      rounds += starRounds
    }
    sym.unpersist()
    (labels, rounds)
  }

  /** edges(aCol, bCol) → (id, root) by alternating large-star/small-star
    * contraction (Kiveris et al., ''Connected Components in MapReduce
    * and Beyond'', SoCC 2014) — O(log n) rounds on any graph shape.
    *
    *  - '''large-star''': every node u connects each strictly-larger
    *    neighbour v to m = min(Γ(u) ∪ {u}).
    *  - '''small-star''': with edges oriented big→small, every node u
    *    connects itself and all (smaller) neighbours to the minimum of
    *    the star.
    *
    * Both steps preserve connectivity and never raise the minimum
    * reachable id; the fixpoint is a disjoint union of stars, each
    * centered on its component's minimum — read the labeling straight
    * off the final edge set. Every step is a keyed min + re-emit
    * (window over the node key, map-side combinable), no driver-side
    * state; per-round cost is O(|E|) with the edge set shrinking toward
    * one edge per non-min node. */
  def starLabel(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    starLabelCounted(edges, aCol, bCol)._1

  /** [[starLabel]] plus the number of (large-star, small-star)
    * alternations executed. */
  def starLabelCounted(edges: DataFrame, aCol: String,
                       bCol: String): (DataFrame, Int) = {
    val a = col(aCol); val b = col(bCol)
    // Orient big→small (small-star's input contract), drop self-loops.
    var e = edges.filter(a =!= b)
      .select(greatest(a, b).as("src"), least(a, b).as("dst"))
      .distinct()
      .localCheckpoint() // truncate lineage round-over-round (see above)
    var rounds = 0
    var converged = e.isEmpty
    while (!converged) {
      rounds += 1
      if (rounds > StarRoundCap)
        throw new IllegalStateException(
          s"Components.starLabel did not converge in $StarRoundCap " +
            "alternations — impossible on any real graph (each " +
            "alternation at least halves component height); this is a bug.")
      val next = smallStar(largeStar(e)).localCheckpoint()
      // Fixpoint test: both sets are distinct and big→small oriented, so
      // equal counts + empty difference ⇔ equal sets. The difference
      // check ships only the (shrinking) edge set, no node-level state.
      converged = next.count() == e.count() &&
        next.exceptAll(e).isEmpty
      e = next
    }
    val leaves = e.select(col("src").as("id"), col("dst").as("root"))
    val centers = e.select(col("dst").as("id"), col("dst").as("root")).distinct()
    (leaves.union(centers), rounds)
  }

  /** Large-star step: per node u (over the symmetric neighbour set),
    * m = min(Γ(u) ∪ {u}); emit (v, m) for every neighbour v > u. Output
    * is big→small oriented by construction (v > u ≥ m). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = least(col("src"), min(col("dst")).over(Window.partitionBy("src")))
    sym.withColumn("m", m)
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star step: input big→small oriented, so per node u the
    * neighbour set N(u) is all-smaller and m = min(N(u)); emit (v, m)
    * for v ∈ N(u) ∪ {u} minus the self-loop (m, m). Orientation is
    * preserved (every emitted pair has first > second). */
  private def smallStar(e: DataFrame): DataFrame = {
    val withM =
      e.withColumn("m", min(col("dst")).over(Window.partitionBy("src")))
    withM.select(col("dst").as("src"), col("m").as("dst"))
      .union(withM.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  // ------------------------------------------------------------ oracle

  /** DuckDB mirror of the min-id labeling: the transitive closure of the
    * pair CTE named `pairs` (a_id, b_id) as `edges(src, dst)` (both
    * directions) and the recursive `reach(id, r)`, then
    * `labeled(id, root)` — every node's component minimum, the
    * [[minLabel]] contract. Callers open with `WITH RECURSIVE`. */
  def duckdbClosureCte(pairs: String): String =
    s"""edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM $pairs
       |  UNION
       |  SELECT b_id, a_id FROM $pairs),
       |reach (id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |labeled AS (
       |  SELECT id, MIN(r) AS root FROM reach GROUP BY id)""".stripMargin
}
