package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Connected components over a candidate-pair graph — the last stage
  * of near-dup deduplication: pairwise candidates (MinHash bands,
  * shingle Jaccard, embedding cosine — [[Dedup]]) are only EDGES; to
  * actually drop duplicates the corpus needs the transitive closure
  * grouped, one canonical keeper per component.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts
  * labeled with itself; each round every vertex takes the minimum
  * label among itself and its neighbors; fixpoint = every vertex
  * carries the minimum doc id of its component. Each round is one
  * equi-join (edges ⋈ labels on src) + one hash aggregate
  * (min per dst) — both shuffle on bounded keys, nothing quadratic.
  *
  * Scale notes (100 TB):
  *  - Rounds needed = graph diameter. Near-dup components are
  *    near-cliques (every member pairs with most others), so the
  *    diameter is tiny — 2-3 rounds in practice. For adversarial
  *    long-chain graphs, switch to alternating large-star/small-star
  *    (Kiveris et al., "Connected Components in MapReduce"), which
  *    converges in O(log n) rounds with the same join+agg per round;
  *    the plan shape per round is identical, so this implementation
  *    is the honest template.
  *  - `localCheckpoint` per round truncates the logical plan —
  *    without it the lineage doubles every iteration and Catalyst
  *    analysis time explodes long before data does. localCheckpoint
  *    trades fault-tolerance for speed (blocks live on executors;
  *    an executor loss mid-computation fails the job rather than
  *    recomputing) — on a long-running cluster job prefer
  *    `spark.sparkContext.setCheckpointDir` + reliable `checkpoint()`
  *    at the same call sites.
  *  - The per-round convergence check is a `limit(1).count()` on
  *    changed labels: an O(changed) early-exit probe, not a full
  *    materialization (the round's aggregate is already computed for
  *    the next iteration either way).
  *
  * Determinism: min() over ids is order- and partitioning-free, so
  * the same groups come back from 32 cores or 1000 executors.
  */
object Components {

  /** Resolve candidate pairs into components.
    *
    * @param pairs candidate edges, one row per (aCol, bCol) pair
    * @param aCol  left vertex id column (long-castable)
    * @param bCol  right vertex id column
    * @param maxIter safety bound on propagation rounds; near-dup
    *                graphs converge in 2-3
    * @return (id, group_id): every vertex appearing in `pairs`,
    *         labeled with the minimum id reachable from it
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val e0 = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // symmetric edge list: propagation must flow both directions
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    // Convergence probe: per-vertex labels are monotonically
    // NON-INCREASING (min of self and neighbors), so any change
    // strictly decreases Σ group_id — the round converged iff the sum
    // is unchanged. The sum is ROW-LOCAL over the round's output, so
    // it rides the SAME materialization job as the round's
    // localCheckpoint via observe() — r14: one action per round
    // where a separate aggregate job per round was pure scheduler
    // overhead (BenchOne --probe: the loop queries are job-count-bound at gate
    // scale). DECIMAL(38,0) keeps the sum exact at any
    // vertex-id/corpus scale (a Long sum could wrap, and a wrapped
    // collision would silently accept partial labels).
    def checkpointWithSum(df: DataFrame)
    : (DataFrame, java.math.BigDecimal) = {
      val o = org.apache.spark.sql.Observation()
      val ck = df.observe(o,
        sum(col("group_id").cast(DecimalType(38, 0))).as("s"))
        .localCheckpoint()
      // sum over an EMPTY frame is SQL NULL — an edge-less input
      // (no near-dups found) must converge on round 1, not NPE in
      // compareTo. get returns as soon as the (already finished)
      // checkpoint action reports its metrics.
      val s = o.get("s")
      (ck, if (s == null) java.math.BigDecimal.ZERO
      else s.asInstanceOf[java.math.BigDecimal])
    }
    // Initialization IS round 1: from identity labels, the first
    // propagation yields exactly min(self ∪ neighbors) — computing
    // that directly from the symmetric edge list (every vertex
    // appears as src) saves one full join+checkpoint+probe round.
    var (labels, prevSum) = checkpointWithSum(
      edges.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), first(col("src"))).as("group_id")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("group_id"))
      val (next, nextSum) = checkpointWithSum(
        labels.unionByName(prop)
          .groupBy(col("id")).agg(min(col("group_id")).as("group_id")))
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    if (!converged)
      // partial labels are silently WRONG groups (one component, many
      // labels) — that must be a loud failure, not a log line lost in
      // cluster log aggregation. Near-dup graphs converge in 2-3
      // rounds, so hitting the bound means an adversarial-diameter
      // graph: the caller should raise maxIter or switch to a
      // large-star/small-star variant, not consume wrong groups.
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds — " +
          "labels would be partial (one component, many group ids); raise " +
          "maxIter or use a large-star/small-star variant for long-chain " +
          "graphs")
    labels
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the adversarial-diameter scale path promised in the
    * [[connectedComponents]] scaladoc. Min-label propagation needs
    * O(diameter) rounds (a 10M-vertex chain = 10M rounds); this
    * converges in O(log n) rounds on ANY graph, with the same
    * bounded-key join+agg plan shape per round:
    *
    *  - large-star: every vertex u links each LARGER neighbor to the
    *    minimum of its whole neighborhood — long chains collapse by
    *    halving.
    *  - small-star: every vertex u re-links its smaller-or-equal
    *    neighbors (and itself) to their minimum — edges canonicalize
    *    into stars centered at component minima.
    *
    * Fixpoint = the edge set is a union of stars (v, min-of-component),
    * which IS the label assignment. Output contract is identical to
    * [[connectedComponents]]: (id, group_id = min id reachable), so the
    * two are drop-in interchangeable (spec-pinned on random graphs).
    *
    * Per-round cost: one hash aggregate (min over neighborhood) + one
    * equi-join back to the edges, both shuffling on vertex id —
    * nothing proportional to component size on any single key except
    * the star centers themselves (the paper's §4 skew note: centers
    * are high-degree by design; AQE skew-split handles the agg, and
    * the join side is (edge → its own endpoint), never star-sized).
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 30): DataFrame = {
    val e0 = pairs.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
    // the vertex universe BEFORE self-loop removal: a vertex appearing
    // only as (v, v) still belongs in the output (self-labeled), same
    // as in connectedComponents — dropping it would break the drop-in
    // contract between the two variants
    val verts = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id")))
      .distinct().localCheckpoint()
    // canonical directed form: big -> small (small-star's input shape)
    var edges = e0.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star over the SYMMETRIC neighborhood: for each u,
      // m = min(N(u) ∪ {u}); every neighbor v > u re-links to m.
      val sym = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val nbrMin = sym.groupBy(col("src").as("u"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      // NOT checkpointed mid-round: its two consumers below share the
      // distinct's exchange (ReuseExchange), so one materialization
      // job per ROUND (next's checkpoint) replaces two — the round's
      // lineage stays bounded either way
      val large = sym.join(nbrMin, sym("src") === nbrMin("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // small-star on the directed big->small list: for each u,
      // m = min of its smaller neighbors; re-link them (and u) to m.
      val sMin = large.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      val relinked = large.join(sMin, large("src") === sMin("u"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val self = sMin.select(col("u").as("src"), col("m").as("dst"))
      val next = relinked.unionByName(self)
        .filter(col("src") =!= col("dst"))
        .distinct().localCheckpoint()
      // fixpoint = the edge set is a star forest, checked
      // STRUCTURALLY instead of diffing against last round's edges:
      // a round maps a star forest to itself (leaf neighborhoods are
      // {center}, center minima are themselves), and conversely any
      // non-star shape changes — a chain (some dst still a src) by
      // large-star, a multi-center src by small-star. One probe job
      // (semi-join ∪ dup-src aggregate, limit 1) replaces the
      // count + except pair AND detects convergence one round
      // earlier (the round that PRODUCES the star forest, not the
      // one that re-confirms it).
      // ONE-exchange formulation (r15): star forest ⟺ per vertex k,
      // k is not a src twice (multi-center) and not both a src and a
      // dst (chain). Both conditions fall out of one (k, is-src)
      // flag aggregate — the former semi-join + dup-src aggregate
      // pair cost two more shuffle/broadcast stages per round on the
      // same checkpointed frame (each AQE stage is its own job, and
      // the loop is job-count bound at gate scale).
      val viol = next.select(explode(array(
          struct(col("src").as("k"), lit(1L).as("f")),
          struct(col("dst").as("k"), lit(0L).as("f")))).as("e"))
        .groupBy(col("e.k"))
        .agg(sum(col("e.f")).as("nsrc"), count(lit(1)).as("ntot"))
        .filter(col("nsrc") > 1L ||
          (col("nsrc") >= 1L && col("ntot") > col("nsrc")))
      converged = viol.limit(1).count() == 0
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar: not converged after $maxIter rounds — " +
          "O(log n) bound exceeded; the edge input is likely growing " +
          "between rounds (non-deterministic pair source?)")
    // stars: every non-center vertex has exactly one edge to its
    // center; centers label themselves; vertices with no surviving
    // edge (self-loop-only input) label themselves too
    val labeled = edges.select(col("src").as("id"), col("dst").as("group_id"))
      .unionByName(edges.select(col("dst").as("id"), col("dst").as("group_id")))
      .distinct()
    verts.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("group_id"), col("id")).as("group_id"))
  }

  /** Per-component dedup decision: keeper (= the group label, i.e.
    * the minimum doc id) and the number of members it absorbs. */
  def groupStats(components: DataFrame): DataFrame =
    components.groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_members"))
}
