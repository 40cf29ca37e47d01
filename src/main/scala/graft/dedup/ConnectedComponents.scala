package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * step that turns pairwise near-duplicate matches (MinHash/SimHash/
  * embedding pairs) into DUPLICATE CLUSTERS, so a corpus keeps one
  * canonical document per group rather than dropping only one side of
  * each pair.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with itself; each round takes the min of its own and its neighbors'
  * labels; at fixpoint every node carries the minimum node id of its
  * component (= the canonical cluster id). Each round is one
  * shuffle-join + one partial-aggregated groupBy — no driver-side graph,
  * no assumptions about component count.
  *
  * Scale notes: rounds needed = graph diameter, which for near-dup
  * clusters (dense clique-ish blobs from banded LSH) is small (2–3).
  * `localCheckpoint` truncates the iterative lineage each round —
  * without it the plan doubles per iteration and the optimizer, not the
  * data, becomes the bottleneck (on a cluster with reliable storage,
  * `checkpoint` to the checkpoint dir is the durable variant). For
  * adversarial long-chain graphs prefer the alternating
  * large-star/small-star contraction (O(log n) rounds, Kiveris et al.);
  * diameter-bounded propagation is the right trade for dedup workloads.
  */
object ConnectedComponents {

  /** Runs `body` with AQE partition coalescing allowed to shrink BELOW the
    * session's default parallelism (round 12). The iteration relations of
    * both algorithms shrink every round, and at small scale each of the
    * ~6 per-round exchanges otherwise keeps `spark.sql.shuffle.partitions`
    * near-empty tasks whose fixed scheduling cost dominates the query
    * (measured: dedup_clusters_star 13.5 s at 32 cores vs 3.2 s at 8 for
    * identical work). `parallelismFirst=false` makes AQE size the
    * post-shuffle partitions by `advisoryPartitionSizeInBytes` instead —
    * data-sized, so a 100 TB run still fans out to thousands of tasks
    * while a small round collapses to a handful. Saved/restored around the
    * loop only; the returned DataFrame executes under the caller's conf.
    *
    * Overlapping calls on one session (concurrent table workers, or
    * threads sharing a session) share one scope: the first to enter saves
    * the session's value and the last to leave restores it. Saving and
    * restoring per call would let a call that entered second, and saved
    * the first call's "false", write that back after the first restored
    * the real value — leaving the session on "false" for good.
    */
  private def withCoalescedTinyShuffles[A](
      spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    openScopes.synchronized {
      val (n, saved) = Option(openScopes.get(spark)).getOrElse((0, spark.conf.getOption(key)))
      if (n == 0) spark.conf.set(key, "false")
      openScopes.put(spark, (n + 1, saved))
    }
    try body finally openScopes.synchronized {
      val (n, saved) = openScopes.get(spark)
      if (n > 1) openScopes.put(spark, (n - 1, saved))
      else {
        openScopes.remove(spark)
        saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
  }

  /** Open [[withCoalescedTinyShuffles]] scopes per session: (depth, the
    * value saved by the first entrant). Guarded by its own monitor.
    */
  private val openScopes =
    new java.util.IdentityHashMap[org.apache.spark.sql.SparkSession, (Int, Option[String])]

  /** Cluster assignment (`id`, `cluster`) for every node appearing in
    * `edges`; `cluster` is the component's minimum node id. Throws if the
    * propagation has not reached a fixpoint within `maxIter` rounds (the
    * result would be an under-merged clustering — never silently wrong).
    */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
                 maxIter: Int = 25): DataFrame =
    withCoalescedTinyShuffles(edges.sparkSession) {
    // Checkpoint the edge list ONCE before the loop: `edges` may be an
    // expensive pipeline (the LSH candidate generation in dedup_clusters),
    // and every propagation round joins against sym — without this the
    // full upstream DAG re-executes once per round.
    val sym = edges.select(col(srcCol).as("id"), col(dstCol).as("nb"))
      .union(edges.select(col(dstCol).as("id"), col(srcCol).as("nb")))
      .localCheckpoint(true)
    // Seed with the 1-hop minimum (min of self and direct neighbors) —
    // the first propagation round folded into the init aggregation.
    var labels = sym
      .groupBy("id").agg(least(min("nb"), col("id")).as("cluster"))
      .localCheckpoint(true)
    val labelType = labels.schema("cluster").dataType
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbor = sym
        .join(labels.select(col("id").as("nb"), col("cluster")), "nb")
        .select(col("id"), col("cluster"), lit(null).cast(labelType).as("old"))
      // Carry each node's previous label through the same aggregation
      // (`old` is single-valued per id, so max() just recovers it), and
      // fold the convergence check into the SAME action that materializes
      // the round (round 12): the lazy localCheckpoint is computed by the
      // changed-label count — one job per round instead of a checkpoint
      // job plus a convergence scan.
      val next = labels
        .select(col("id"), col("cluster"), col("cluster").as("old"))
        .union(viaNeighbor)
        .groupBy("id")
        .agg(min("cluster").as("cluster"), max("old").as("old"))
        .localCheckpoint(false)
      val changed = next
        .agg(count(when(col("cluster") =!= col("old"), lit(1))).as("n"))
        .head().getLong(0)
      converged = changed == 0L
      labels = next.select("id", "cluster")
      i += 1
    }
    require(converged,
      s"connected components did not converge within $maxIter rounds — " +
        "graph diameter exceeds the bound; raise maxIter or use star-contraction")
    labels
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", 2014) — the
    * O(log n)-round alternative for graphs whose DIAMETER defeats plain
    * propagation (long chains of pairwise near-dups, adversarial link
    * structures). Per round, each node re-attaches its larger neighbors
    * (large-star) or its smaller-or-equal neighbors (small-star) to the
    * minimum of its closed neighborhood; at fixpoint every node points
    * at its component minimum — the same labels [[components]] yields.
    *
    * Each half-round is one partial-aggregated groupBy (per-node min —
    * no neighbor lists are ever collected) plus one re-join of the edge
    * relation, checkpointed to keep lineage flat. Star graphs hash-skew
    * onto their hub's reducer only for the min aggregation, which
    * map-side combines — the edge relation itself stays (src, dst) pairs.
    *
    * Convergence is PROBABILISTIC. Both the fixpoint test and the early
    * exit compare two edge relations by a (count, sum of xxhash64) signature,
    * not as sets. Two unequal relations with equal signatures would stop
    * the loop before its fixpoint, and the result could then split a
    * component in two. xxhash64 is not collision-resistant: for
    * non-adversarial node ids a false match is about 2⁻⁶⁴ per comparison,
    * but inputs built to collide can force one.
    */
  def componentsByStarContraction(edges: DataFrame, srcCol: String, dstCol: String,
                                  maxIter: Int = 50): DataFrame = {
    // nodes is consumed exactly once, by the final left join — no reason
    // to pay an eager materialization job for it at entry (round 12)
    val nodes = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct()
    val result = withCoalescedTinyShuffles(edges.sparkSession) {
    // canonical direction u > v: every node points at a smaller neighbor
    var e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .where(col("u") > col("v")).distinct().localCheckpoint(true)
    // convergence signature: (edge count, order-independent hash sum) —
    // one tiny aggregate per round instead of a full set-difference join.
    // Equal signatures are taken as equal edge sets, so a collision on
    // unequal sets (≈2⁻⁶⁴ per comparison for non-adversarial ids) stops
    // the loop early with a possibly under-merged result — see the
    // scaladoc. The early exit below rests on the same signature.
    def signature(df: DataFrame): (Long, BigDecimal) = {
      // decimal sum: exact and overflow-free under ANSI mode at any count
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var sig = signature(e)
    // the previous round's large-star signature: if this round's large
    // relation is set-equal to last round's, small-star — a deterministic
    // set function of it — must reproduce last round's output, so the loop
    // is already at its fixpoint and the whole small-star half (aggregate,
    // re-join, explode, distinct, checkpoint) of the confirming round is
    // skipped (round 12). NOTE: `large == e` would NOT justify stopping —
    // e = {(3,2),(5,2),(3,1),(4,1)} is a large-star fixpoint that
    // small-star still rewrites — so the check compares large to LARGE.
    var prevLargeSig: Option[(Long, BigDecimal)] = None
    var stable = false
    var i = 0
    while (!stable && i < maxIter) {
      // large-star: attach each node's LARGER neighbors to its closed-
      // neighborhood minimum. Neighborhood here is both directions.
      // `large` is consumed twice below (the min aggregation and the
      // re-join) — persist() computes it once into cached blocks shared
      // across its consumers' stages, without paying a SECOND eager
      // materialization job per round the way checkpointing it here
      // would. Lineage still truncates every round at `small`'s
      // checkpoint, so plan depth stays bounded.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min("v"), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct().persist()
      try {
        val sigL = signature(large) // also materializes the cache
        if (prevLargeSig.contains(sigL)) {
          stable = true // e (last round's small output) is the fixpoint
        } else {
          prevLargeSig = Some(sigL)
          // small-star: attach each node's smaller-or-equal neighbors
          // (and itself) to the minimum of its incoming smaller
          // neighborhood — both emissions from ONE join pass via an
          // exploded pair array. The checkpoint is LAZY: the signature
          // aggregate below is the single action that materializes the
          // round (one job instead of checkpoint + collect — round 12).
          val minsS = large.groupBy("u").agg(least(min("v"), col("u")).as("m"))
          val small = large.join(minsS, "u")
            .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
            .where(col("n") =!= col("m"))
            .select(col("n").as("u"), col("m").as("v"))
            .distinct().localCheckpoint(false)
          val nextSig = signature(small)
          stable = nextSig == sig
          sig = nextSig
          e = small
        }
      } finally large.unpersist(false)
      i += 1
    }
    require(stable, s"star contraction did not stabilize within $maxIter rounds")
    e
    }
    nodes.join(result.select(col("u").as("id"), col("v").as("cluster")), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
