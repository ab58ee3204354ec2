package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank in exact integer fixed-point — the graph-centrality operator for
  * corpus/link analysis (domain authority for crawl prioritization, part
  * co-purchase centrality, near-dup cluster representatives).
  *
  * Ranks are parts-per-million longs (initial mass `Scale` per node) and
  * every step is integer arithmetic:
  *
  *   contrib(u→v) = rank(u) div outdeg(u)
  *   rank'(v)     = (Scale − d) + (d · Σ contrib) div Scale      (d = dampingPpm)
  *
  * Integer sums are order-independent and integer division is exact, so the
  * result is bit-identical on any partitioning AND replayable by any SQL
  * engine — the property the float formulation can never give (its per-node
  * sums depend on reduction order). The classic unnormalized convention:
  * rank mass leaks at dangling nodes (no redistribution), scores are
  * centrality weights, not probabilities.
  *
  * Scale shape: one edges-distinct + outdeg precompute frozen ONCE
  * (localCheckpoint — five iterations must not re-derive the edge list), then
  * per iteration one join (ranks onto edges by src) and one partial-aggregated
  * shuffle (sum by dst) — the Pregel step expressed relationally. On a real
  * cluster, bucket the frozen edges by `src` so only the (node, rank) table —
  * 16 bytes/node — moves per iteration.
  *
  * Overflow bound: d · Σranks must fit a long; total mass never exceeds
  * n·Scale, so n < 2^63 / (Scale · dampingPpm) ≈ 10.8M nodes. Checked at
  * fit time against the actual node count — beyond it, shard the graph or
  * drop to the float form and give up oracle replay.
  */
object PageRank {

  val Scale = 1000000L

  /** Ranks after `iterations` synchronous steps over the distinct edge set.
    * Output: (node LONG, rank_fp LONG) — rank in millionths.
    *
    * `initRanks` resumes from a PREVIOUS run's output (node, rank_fp) — the
    * preemption-recovery contract an iterative job needs on spot capacity:
    * because every step is integer arithmetic, k iterations then m more
    * from the saved state are BIT-IDENTICAL to k+m straight (no accumulated
    * float drift to re-converge), which q203 proves against the same
    * unrolled-CTE oracle as the straight run.
    */
  def fixedPointRanks(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampingPpm: Long = 850000L,
      initRanks: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(dampingPpm > 0 && dampingPpm < Scale,
      s"dampingPpm must be in (0, $Scale), got $dampingPpm")

    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(deg, "src").localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()

    val n = nodes.count()
    // d · Σranks ≤ dampingPpm · n · Scale must stay below 2^63
    require(n < Long.MaxValue / dampingPpm / Scale,
      s"$n nodes overflow the ppm fixed point (bound ~10.8M); " +
        "shard the graph or use a float formulation")

    val base = Scale - dampingPpm
    var ranks = initRanks match {
      case Some(r) => r.select(col("node").cast("long").as("node"),
        col("rank_fp").cast("long").as("rank_fp"))
      case None => nodes.withColumn("rank_fp", lit(Scale))
    }
    for (_ <- 1 to iterations) {
      // shuffle_hash hints: every per-iteration join builds its hash
      // table on the node-sized side and STREAMS the edge relation, so
      // neither side is ever sorted (a probed persist()-based variant
      // that also removed the per-iteration edge exchange measured
      // SLOWER at sf0.1 local[32] — columnar-cache decode per rescan
      // cost more than the in-memory shuffle it saved; see
      // OPTIMIZATION_r18.md "pagerank iteration variants").
      // BUILD-SIZE ASSUMPTION (r18 advisor): a ShuffledHashJoin build
      // does not spill gracefully, so each task must hold
      // nodes/numShufflePartitions (node, long) rows ≈ 48 bytes/row in
      // memory. With shuffle partitions sized to ~128 MB of NODE-grain
      // data (e.g. 1e9 nodes → ≥384 partitions) a build is tens of MB;
      // deployments that pin spark.sql.shuffle.partitions low for
      // edge-grain reasons should raise it before this kernel. AQE skew
      // handling does not split a build side, but node-grain state is
      // hash-partitioned on unique node ids — per-partition row counts
      // are ~uniform by construction (no hot-key skew is possible on a
      // unique key).
      val inc = withDeg.join(ranks.hint("shuffle_hash"),
          col("src") === col("node"))
        .select(col("dst").as("node"),
          expr("rank_fp div outdeg").as("contrib"))
        .groupBy("node").agg(sum(col("contrib")).as("inc"))
      ranks = nodes.join(inc.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(
            s"($dampingPpm * coalesce(inc, CAST(0 AS BIGINT))) div $Scale"))
            .as("rank_fp"))
    }
    graft.plans.PlanDump.dump("pagerank_iter", ranks)
    ranks
  }

  /** Personalized PageRank (the "random walk with restart" recsys /
    * relevance-propagation operator): the restart mass concentrates on a
    * SEED SET instead of spreading uniformly, so ranks measure proximity
    * TO THE SEEDS — "parts bought alongside this brand", "domains linked
    * from these trusted hosts". Same exact ppm integer fixed point as
    * [[fixedPointRanks]] (order-independent sums, engine-replayable):
    *
    *   rank₀(v)  = Scale·[v ∈ S]
    *   rank'(v)  = [v ∈ S]·(Scale − d) + (d · Σ contrib) div Scale
    *
    * Unnormalized per-seed convention (each seed injects the full
    * (Scale − d) restart; scores comparable within one seed set — the
    * q125 unnormalized-centrality contract at seed grain). Seeds that are
    * not graph nodes are ignored (the walk cannot restart where no edge
    * lives); nodes unreachable from any seed hold rank 0 exactly.
    *
    * Same shape: frozen edges+outdeg, per iteration one src join + one
    * partial-aggregated sum by dst; the seed flag rides the frozen node
    * relation.
    */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int = 5,
      dampingPpm: Long = 850000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(dampingPpm > 0 && dampingPpm < Scale,
      s"dampingPpm must be in (0, $Scale), got $dampingPpm")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(deg, "src").localCheckpoint()
    val seedSet = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("__s", lit(1L))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(broadcast(seedSet), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("is_seed"))
      .localCheckpoint()
    val n = nodes.count()
    require(n < Long.MaxValue / dampingPpm / Scale,
      s"$n nodes overflow the ppm fixed point (bound ~10.8M); " +
        "shard the graph or use a float formulation")
    val base = Scale - dampingPpm
    var ranks = nodes.select(col("node"),
      (col("is_seed") * Scale).as("rank_fp"))
    for (_ <- 1 to iterations) {
      // shuffle_hash hints: hash-build the node-sized side, stream the
      // edges unsorted (see fixedPointRanks)
      val inc = withDeg.join(ranks.hint("shuffle_hash"),
          col("src") === col("node"))
        .select(col("dst").as("node"),
          expr("rank_fp div outdeg").as("contrib"))
        .groupBy("node").agg(sum(col("contrib")).as("inc"))
      ranks = nodes.join(inc.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (col("is_seed") * base + expr(
            s"($dampingPpm * coalesce(inc, CAST(0 AS BIGINT))) div $Scale"))
            .as("rank_fp"))
    }
    graft.plans.PlanDump.dump("ppr_iter", ranks)
    ranks
  }
}
