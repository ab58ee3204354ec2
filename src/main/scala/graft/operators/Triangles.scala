package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact global triangle count by degree orientation — the standard
  * distributed algorithm (Suri & Vassilvitskii's MapReduce formulation,
  * "Counting Triangles and the Curse of the Last Reducer", WWW'11).
  *
  * Why orientation matters at scale: enumerating wedges from EVERY vertex
  * makes a single hot vertex of degree d produce d² join rows — the curse.
  * Orienting each undirected edge from its (degree, id)-smaller endpoint to
  * the larger one caps every vertex's oriented out-degree at O(√m) on any
  * graph, so wedge fan-out is bounded regardless of skew, and each triangle
  * {x,y,z} survives in exactly one orientation x→y, x→z, y→z (x,y,z in
  * (degree, id) order) — counted once, no post-dedup.
  *
  * All joins are equi-joins (AQE-skew-splittable); degrees are a node-sized
  * relation joined by key, never collected or broadcast by hint.
  *
  * Reference has no graph ops; this extends the engine the same way
  * [[PageRank]] does (SURVEY §2.13).
  */
object Triangles {

  /** One-row summary: (n_triangles, n_wedges, n_edges, n_nodes) over the
    * undirected simple graph induced by `edges` (self-loops dropped,
    * duplicate/reverse edges collapsed). n_wedges counts oriented wedges —
    * the candidate set whose closure rate is the graph's clustering signal.
    */
  def count(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .filter(col(srcCol) =!= col(dstCol) &&
        col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()

    val deg = canon.select(col("u").as("n"))
      .unionAll(canon.select(col("v").as("n")))
      .groupBy("n").agg(org.apache.spark.sql.functions.count(lit(1)).as("d"))

    // orient by (degree, id): ou -> ov with (d_u, u) < (d_v, v)
    val withDeg = canon
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))

    // Four driver actions follow; persist the shared lineage so the
    // canonicalization and orientation joins run once, not once per action
    canon.persist()
    oriented.persist()
    try {
      // n_wedges needs no wedge materialization: it is Σ C(outdeg, 2) over
      // the oriented graph — a node-sized aggregate (the same arithmetic
      // the oracle uses)
      val nWedges = oriented.groupBy("s")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L)).as("w"))
        .collect().head.getLong(0)
      // edge count measured BEFORE the closure: it sizes the Bloom filter
      val nEdges = canon.count()
      // wedges from the common (degree, id)-smallest vertex; closure = the
      // third oriented edge exists. Only one of (b,c)/(c,b) can be
      // oriented, so the inner join counts each triangle exactly once —
      // the single materialization of the quadratic relation.
      //
      // Bloom pre-filter on the closure (opt guide §3.2): the wedge
      // relation is W = Σ C(outdeg,2) rows — far larger than the m-row
      // edge set it joins (measured at sf0.1: the closure exchange
      // carried 767 MB of the query's shuffle, the edge relation ~25 MB)
      // — and only wedges whose (b,c) IS an oriented edge survive. A
      // Bloom filter over xxhash64(s,t) of the edges drops non-closing
      // wedges MAP-SIDE before the exchange, so the join shuffles
      // ~(triangles + fpp·W) rows instead of W (measured: query shuffle
      // 767 → 139 MB, 16.4 → 12.2 s); the exact join that follows removes
      // the false positives, so the count is unchanged.
      //
      // r19: the filter ships as a BROADCAST (block-manager blocks, one
      // deserialization per executor) instead of a plan literal riding
      // every task binary (r18 verdict issue #3 / advisor note), and the
      // guard is sized from driver heap instead of the r18 constant
      // (200M edges ≈ 240 MB literal): a 1%-fpp filter costs ~1.2
      // bytes/key, and the build's transient peak (partial filters
      // arriving in the driver-side treeAggregate reduce + the chunked
      // broadcast copy) is ~4× the filter, so the cap allows filters up
      // to maxHeap/16 — maxHeap/20 edges (8 GiB driver → ~400M edges).
      // Beyond that the plain join (with AQE skew splitting) is the honest
      // fallback.
      //
      // Advisory-partition-size pins were PROBED here and rejected (r17
      // PROBES entry, the q138 drift directive): at sf0.1 the default
      // AQE coalescing is the fastest configuration measured — 16 MB and
      // 4 MB advisory pins made the closure 16%/31% SLOWER (more, smaller
      // post-shuffle tasks cost more in scheduling than they recover in
      // parallelism on this 767 MB exchange), so the r15->r16 16->21 s
      // quiet-median drift is host contention, not a plan problem.
      val wedges = oriented.select(col("s"), col("t").as("b"))
        .join(oriented.select(col("s"), col("t").as("c")), "s")
        .filter(col("b") =!= col("c"))
      val bloomEdgeCap = Runtime.getRuntime.maxMemory() / 20L
      val preFiltered =
        if (nEdges > 0 && nEdges <= bloomEdgeCap)
          wedges.filter(BloomJoin.mightContainBroadcast(
            BloomJoin.keyBloomBroadcast(
              oriented.select(xxhash64(col("s"), col("t")).as("k")), "k",
              nEdges, 0.01),
            xxhash64(col("b"), col("c"))))
        else wedges
      val closure = preFiltered
        .join(oriented.select(col("s").as("b"), col("t").as("c")),
          Seq("b", "c"))
      graft.plans.PlanDump.dump("triangle_closure", closure)
      val nTriangles = closure.count()
      val nNodes = deg.count()

      val spark = edges.sparkSession
      import spark.implicits._
      Seq((nTriangles, nWedges, nEdges, nNodes))
        .toDF("n_triangles", "n_wedges", "n_edges", "n_nodes")
    } finally {
      oriented.unpersist()
      canon.unpersist()
    }
  }

  /** Per-vertex local clustering coefficient: for every vertex,
    * (degree, triangle count, coefficient) over the same canonicalized
    * simple graph as [[count]]. Coefficient = 2·tri / (d·(d−1)) emitted as
    * an exact integer ppm (0 for degree < 2) — no float division, so the
    * row is engine-reproducible bit-for-bit.
    *
    * Same orientation bound as [[count]]: each triangle is materialized
    * once as (s, b, c) with s the (degree, id)-smallest vertex, then each
    * of its three corners is credited via one explode — per-vertex credit
    * costs 3 rows per triangle, never a wedge re-enumeration. The output
    * is node-sized; every join is an equi-join on vertex id.
    */
  def perVertex(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .filter(col(srcCol) =!= col(dstCol) &&
        col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()

    val deg = canon.select(col("u").as("n"))
      .unionAll(canon.select(col("v").as("n")))
      .groupBy("n").agg(org.apache.spark.sql.functions.count(lit(1)).as("d"))

    val withDeg = canon
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))

    // one row per triangle (s, b, c); the b =!= c filter plus the single
    // surviving orientation of (b, c) make the count exact, as in count()
    val tris = oriented.select(col("s"), col("t").as("b"))
      .join(oriented.select(col("s"), col("t").as("c")), "s")
      .filter(col("b") =!= col("c"))
      .join(oriented.select(col("s").as("b"), col("t").as("c")), Seq("b", "c"))

    val credit = tris
      .select(explode(array(col("s"), col("b"), col("c"))).as("n"))
      .groupBy("n")
      .agg(org.apache.spark.sql.functions.count(lit(1)).cast("long").as("n_triangles"))

    deg.join(credit, Seq("n"), "left")
      .select(col("n"), col("d").cast("long").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff_ppm",
        when(col("degree") >= 2L,
          expr("CAST(n_triangles * 2000000 div (degree * (degree - 1)) AS BIGINT)"))
          .otherwise(lit(0L)))
  }
}
