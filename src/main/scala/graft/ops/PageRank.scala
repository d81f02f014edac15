package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank-style link authority over an edge list — the graph-derived
  * quality prior web-corpus pipelines attach to every page (harvested
  * link graphs rank hosts; the rank then feeds the quality/mixing
  * stages alongside classifier scores). [[personalizedPageRank]] is the
  * TrustRank variant: restart mass concentrated on a trusted seed set,
  * so authority can only flow out along links from the seeds —
  * the standard spam-demotion prior.
  *
  * The iteration is the textbook damped power method, but in EXACT
  * INTEGER arithmetic so the result is bit-reproducible across engines,
  * retries, and partitionings: ranks are scaled longs (`scale` = mass
  * 1.0), every division is a floor division of non-negative longs
  * (identical in Java long math and ANSI/DuckDB `//`), and every
  * aggregation is a long sum (associative-commutative — no float
  * summation-order drift). One iteration:
  *
  *   contrib(v) = Σ_{(u,v) ∈ E} rank(u) div outdeg(u)
  *   rank'(v)   = ((den−num)·base(v) + num·(contrib(v) + dang(v))) div den
  *
  * where `base(v)` is the restart vector (uniform `scale div N`, or
  * `scale div |S|` on seeds and 0 elsewhere), `num/den` is the damping
  * factor (default 85/100), and `dang(v)` redistributes the mass parked
  * on out-degree-0 nodes back onto the restart support (`dangling div
  * |support|` to each support node — uniform over the support because
  * the restart vector is; without the correction total mass leaks every
  * iteration). Floor divisions shed at most den·N scale-units of mass
  * per iteration — negligible at scale=1e12 and spec-asserted bounded.
  *
  * Scale shape: nodes, out-degrees, and the restart vector are computed
  * ONCE and carried inside the ranks frame (no per-iteration degree or
  * seed join). Each iteration is exactly one equi-join (edges ⋈ ranks
  * on src — a shuffle hash join; nothing is broadcast because a
  * web-scale rank vector doesn't fit) + one hash aggregate on dst + one
  * left join back to the node set, plus a 1-row dangling aggregate (a
  * driver scalar per iteration, bounded by iteration count, never data
  * size). Each iteration's ranks are persisted and the previous
  * generation released, so lineage stays one generation deep — at
  * hundreds of iterations on a real cluster you would additionally
  * checkpoint every ~10 rounds to truncate the plan; with the bounded
  * iteration counts here persist+unpersist suffices.
  *
  * Edges are DISTINCT (src, dst) pairs — parallel links don't multiply
  * authority (the convention of host-graph rank); self-loops are kept
  * (a self-link is an out-edge like any other).
  */
object PageRank {

  /** Runs `iterations` rounds with the UNIFORM restart vector and
    * returns `(node, outdeg, rank_scaled)` plus a RELEASE HANDLE for the
    * final persisted generation (nodes-sized, not data-sized) — call it
    * after the terminal action; unpersisting the returned frame itself
    * would be a no-op because its select() plan is not `sameResult` with
    * the cached plan (the [[Packing]] handle convention). `edges` needs
    * columns `srcCol`, `dstCol` (any equatable type); nulls on either
    * side are dropped (a half-specified link is not an edge). Overflow
    * posture: intermediate products are bounded by `num · scale`
    * (≈ 8.5e13 at the defaults) — far inside long range as long as
    * `scale ≤ ~9e16 / den`, which the require enforces.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85,
      dampDen: Long = 100): (DataFrame, () => Unit) = {
    checkParams(iterations, scale, dampNum, dampDen)
    val e = cleanEdges(edges, srcCol, dstCol)
    val nd = nodesWithOutdeg(e).persist(StorageLevel.MEMORY_AND_DISK)
    val n = nd.count()
    if (n == 0) {
      e.unpersist(blocking = false)
      val empty = nd.withColumn("rank_scaled", lit(0L))
      return (empty, () => { nd.unpersist(blocking = false); () })
    }
    val withBase = nd.withColumn("is_seed", lit(true))
      .withColumn("base", lit(scale / n))
    val (ranks, release) =
      run(e, withBase, supportCount = n, iterations, dampNum, dampDen)
    nd.unpersist(blocking = false) // generation 0 is materialized by now
    (ranks.select("node", "outdeg", "rank_scaled"), release)
  }

  /** TrustRank-style personalized PageRank: the restart vector puts
    * `scale div |S|` on each node of the seed set and 0 elsewhere, so
    * stationary mass measures proximity to the trusted seeds. `seeds`
    * is a frame with column `seedCol`; seeds are intersected with the
    * graph's node set (restart mass on a node the graph doesn't contain
    * is undefined) and the intersection must be non-empty. Returns
    * `(node, outdeg, is_seed, rank_scaled)` plus the release handle for
    * the final persisted generation (see [[pageRank]]).
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85,
      dampDen: Long = 100): (DataFrame, () => Unit) = {
    checkParams(iterations, scale, dampNum, dampDen)
    val e = cleanEdges(edges, srcCol, dstCol)
    val seedSet = seeds.select(col(seedCol).as("node"))
      .filter(col("node").isNotNull).distinct()
    val nd = nodesWithOutdeg(e)
      .join(seedSet.withColumn("__s", lit(true)), Seq("node"), "left")
      .select(col("node"), col("outdeg"),
        coalesce(col("__s"), lit(false)).as("is_seed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sCount = nd.filter(col("is_seed")).count()
    if (sCount == 0) {
      nd.unpersist(blocking = false); e.unpersist(blocking = false)
      throw new IllegalArgumentException(
        "personalizedPageRank: no seed appears in the graph's node set")
    }
    val withBase = nd.withColumn("base",
      when(col("is_seed"), lit(scale / sCount)).otherwise(lit(0L)))
    val (ranks, release) =
      run(e, withBase, supportCount = sCount, iterations, dampNum, dampDen)
    nd.unpersist(blocking = false) // generation 0 is materialized by now
    (ranks.select("node", "outdeg", "is_seed", "rank_scaled"), release)
  }

  private def checkParams(iterations: Int, scale: Long,
      dampNum: Long, dampDen: Long): Unit = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= num <= den, got $dampNum/$dampDen")
    require(scale > 0 && scale <= Long.MaxValue / (dampDen * 2),
      s"scale too large for overflow-free integer damping: $scale")
  }

  // Co-partitioning the persisted edges by src and each rank generation by
  // node (so the iteration joins skip their exchanges, guide §2.4) was
  // MEASURED AND REJECTED in r17: at bench scale both joins are broadcast
  // (the rank vector is small), so the explicit repartitions only ADDED an
  // exchange — q_pagerank/q_trustrank/q_bfs_hops read 1.04-1.08x against
  // flat controls, and the per-job profile (graft.dev.QueryProfile) shows
  // the cost is per-job driver planning (0.96 s of 3.3 s inside jobs),
  // which partitioning cannot touch. Revisit only with a benchmark whose
  // rank vector exceeds the broadcast threshold.
  private def cleanEdges(edges: DataFrame, srcCol: String, dstCol: String) =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Node set = src ∪ dst with out-degree carried in-frame so the
    * iteration never re-joins a degree table.
    */
  private def nodesWithOutdeg(e: DataFrame): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    nodes.join(outdeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
  }

  /** Shared power-iteration loop over a ranks frame carrying
    * (node, outdeg, is_seed, base). Releases `e` when done.
    *
    * One driver job per iteration, not two: the aggregate that
    * materializes the freshly persisted generation ALSO returns the
    * dangling mass the NEXT iteration needs (a fused
    * materialize+measure pass — a separate count() plus a separate
    * dangling scan would double the per-iteration job count, which at
    * bench scale is the entire cost of a small graph).
    */
  private def run(
      e: DataFrame,
      withBase: DataFrame,
      supportCount: Long,
      iterations: Int,
      dampNum: Long,
      dampDen: Long): (DataFrame, () => Unit) = {
    def materializeAndDangling(df: DataFrame): Long =
      df.agg(coalesce(sum(when(col("outdeg") === 0L, col("rank_scaled"))),
        lit(0L))).head().getLong(0)

    var ranks = withBase.withColumn("rank_scaled", col("base"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dangling = materializeAndDangling(ranks)

    var it = 0
    while (it < iterations) {
      val next = step(e, ranks, dangling / supportCount, dampNum, dampDen)
        .persist(StorageLevel.MEMORY_AND_DISK)
      dangling = materializeAndDangling(next)
      ranks.unpersist(blocking = false)
      ranks = next
      it += 1
    }
    e.unpersist(blocking = false)
    val finalGen = ranks
    (finalGen, () => { finalGen.unpersist(blocking = false); () })
  }

  /** One power iteration (unpersisted — [[run]] owns caching and the
    * `danglingShare` scalar). `ranks` carries (node, outdeg, is_seed,
    * base, rank_scaled). Package-visible so the spec can assert the
    * iteration PLAN (one equi-join + one hash aggregate + one left
    * join, never a nested loop) rather than the opaque cached result.
    */
  private[graft] def step(
      e: DataFrame,
      ranks: DataFrame,
      danglingShare: Long,
      dampNum: Long,
      dampDen: Long): DataFrame = {
    val contribs = e
      .join(ranks.filter(col("outdeg") > 0L), e("src") === col("node"))
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division, and a
      // double quotient can round before the cast truncates — `div` is
      // exact long division, matching the oracle's `//` on every value.
      .select(col("dst").as("node"),
        expr("rank_scaled div outdeg").as("c"))
      .groupBy("node")
      .agg(sum(col("c")).as("contrib"))

    ranks.select(col("node"), col("outdeg"), col("is_seed"), col("base"))
      .join(contribs, Seq("node"), "left")
      .withColumn("__mass",
        lit(dampDen - dampNum) * col("base") +
          lit(dampNum) * (coalesce(col("contrib"), lit(0L)) +
            when(col("is_seed"), lit(danglingShare)).otherwise(lit(0L))))
      .select(col("node"), col("outdeg"), col("is_seed"), col("base"),
        expr(s"__mass div ${dampDen}L").as("rank_scaled"))
  }
}
