package graft.ops

import org.apache.spark.sql.functions._

/** §2.15 Graph analytics over the order graph. Iterative distributed graph
  * algorithms in the same shape as dedup_cc_clusters' min-label kernel: each
  * iteration is one shuffle join + one aggregation on the vertex key, the
  * edge table is checkpointed once and reused, and the driver never touches
  * row data. PageRank is made hash-oracle-able by doing ALL arithmetic in
  * scaled integers (rank mass in 1e-9 units, damping as *85 div 100) —
  * integer addition is associative and integer division is identical in
  * Spark and DuckDB, so the result is bit-exact regardless of shuffle order,
  * which a floating-point PageRank can never guarantee.
  */
object Graph {

  /** 3-iteration damped PageRank (Page, Brin, Motwani, Winograd 1999 —
    * public-knowledge algorithm) over the undirected (doubled) bipartite
    * customer↔supplier graph from orders⋈lineitem. Vertices: custkey, and
    * suppkey offset by 1e6. pr0 = 1e9 (scaled 1.0); each round
    * pr'(v) = 0.15e9 + 0.85 * Σ_{u→v} pr(u) div outdeg(u), all in integer
    * units. Fixed iteration count (no convergence test) keeps the oracle a
    * finite chain of CTEs. Top-20 by final rank. At 100 TB: the edge list
    * shuffles once per round on the vertex key, contributions map-side
    * combine, and rank state is 16 bytes/vertex — the standard Pregel-style
    * plan without a graph framework.
    *
    * Deployment note (measured at sf100, 1.1 B edges — BASELINE.md r14):
    * set `spark.rdd.compress=true` (+ `spark.io.compression.codec=zstd`).
    * Checkpoint/cache blocks spill to disk UNCOMPRESSED by default, and
    * for this op's edge relation that encoding — not the volume — is what
    * exhausts a node's local disk (measured 60.1 GB stock vs 8.7 GB zstd
    * peak spill, edge-linear at 8 bytes/edge compressed).
    *
    * r18 materialization rework (the LPA recipe, guide §2.4/§5, A/B at
    * the sf0.1 bench): the old form ran FOUR eager localCheckpoints
    * (edges, deg, verts, pr per round) — each a blocking driver action
    * serializing full rows. Now (1) the doubled edge list is built by ONE
    * explode over the distinct pair set instead of unionByName of two
    * projections (which evaluated the lineitem⋈orders+distinct subtree
    * twice); (2) the degree is attached ONCE via a count window riding
    * the src repartition (deleting the per-round deg join — 3 joins
    * gone); (3) the (src, dst, deg) relation is a serialized columnar
    * cache pre-partitioned on src, so each round's contribution join
    * reuses the cached partitioning and only the vertex-sized rank
    * relation shuffles; (4) rank state rides pure lineage — the FIXED 3
    * rounds make the whole loop one linear DAG executed once (pr is
    * referenced once per round, so nothing recomputes exponentially).
    * Isolated sf0.1 A/B, min-of-2, this box: 3.45 s (old, 4 checkpoints)
    * → 1.71 s (this form). Dedup stays PRE-doubling (distinct on the
    * (cust, supp) pair set) — with the 1e6 offset, custkeys alias
    * supplier ids from sf10 up and a post-doubling (src, dst) dedup
    * would merge aliased multi-edges the oracle's UNION ALL keeps.
    *
    * Win profile (r19 single-run honesty A/B, interleaved 8-key subset):
    * this key's conversion wins WARM (min-of-two 3.67 → 2.14 s: run 2
    * re-serves run 1's InMemoryRelation via CacheManager plan matching)
    * but costs ~0.7 s COLD (single-run 5.81 → 6.54 s vs the old eager
    * checkpoints) — the first-run price of filling the columnar cache
    * inside the one action. An eager `edges.count()` fill made cold
    * WORSE (7.15 s, measured r19), so the lazy form stands; the
    * explode-doubling and deleted deg joins are real work reductions
    * either way (plan-proven).
    */
  val graphPagerank = Op(
    "graph_pagerank",
    (s, d) => {
      val e0 = T.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      val edges = e0.select(explode(array(
          struct(col("cust").as("src"), (col("supp") + lit(1000000L)).as("dst")),
          struct((col("supp") + lit(1000000L)).as("src"), col("cust").as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src"))
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // hashpartitioning(src) satisfies the distinct's clustering — the
      // vertex table is a partition-local dedup over the cache, no exchange
      val verts = edges.select(col("src").as("v")).distinct()
      var pr = verts.withColumn("pr", lit(1000000000L))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(pr.select(col("v").as("src"), col("pr")), "src")
          .select(col("dst"), expr("pr div deg").as("share"))
          .groupBy(col("dst")).agg(sum(col("share")).as("c"))
        pr = verts.join(contrib, col("v") === col("dst"), "left")
          .select(col("v"),
            (lit(150000000L) + expr("(85 * coalesce(c, 0L)) div 100")).as("pr"))
      }
      pr.select(col("v").as("vertex_id"), col("pr").as("pr_scaled"),
          (col("v") >= 1000000L).as("is_supplier"))
        .orderBy(col("pr_scaled").desc, col("vertex_id"))
        .limit(20)
    },
    Some("""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS MATERIALIZED (SELECT cust AS src, supp + 1000000 AS dst FROM e0
                UNION ALL SELECT supp + 1000000, cust FROM e0),
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      v AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
      p0 AS MATERIALIZED (SELECT v, CAST(1000000000 AS BIGINT) AS pr FROM v),
      c1 AS MATERIALIZED (SELECT e.dst AS v, SUM(p.pr // d.deg) AS c FROM edges e
             JOIN p0 p ON p.v = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
      p1 AS MATERIALIZED (SELECT v.v, 150000000 + (85 * COALESCE(c1.c, 0)) // 100 AS pr
             FROM v LEFT JOIN c1 ON c1.v = v.v),
      c2 AS MATERIALIZED (SELECT e.dst AS v, SUM(p.pr // d.deg) AS c FROM edges e
             JOIN p1 p ON p.v = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
      p2 AS MATERIALIZED (SELECT v.v, 150000000 + (85 * COALESCE(c2.c, 0)) // 100 AS pr
             FROM v LEFT JOIN c2 ON c2.v = v.v),
      c3 AS MATERIALIZED (SELECT e.dst AS v, SUM(p.pr // d.deg) AS c FROM edges e
             JOIN p2 p ON p.v = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
      p3 AS MATERIALIZED (SELECT v.v, 150000000 + (85 * COALESCE(c3.c, 0)) // 100 AS pr
             FROM v LEFT JOIN c3 ON c3.v = v.v)
      SELECT v AS vertex_id, CAST(pr AS BIGINT) AS pr_scaled,
             v >= 1000000 AS is_supplier
      FROM p3 ORDER BY pr_scaled DESC, vertex_id LIMIT 20
    """)
  )

  /** Distributed triangle counting over the supplier co-occurrence graph
    * (suppliers linked when they serve >= 2 common orders). Edge
    * construction is LINEAR: per-order supplier pairs fan out bounded by
    * order size (≤ 7 lineitems), never a supplier×supplier product, and
    * the support threshold keeps only repeat ties. Counting uses the
    * classic oriented edge-join (node-iterator++, Schank 2007): orient
    * every edge low→high vertex id, join wedges (a→b, a→c with b < c)
    * against the closing edge (b→c) — each triangle counted exactly once,
    * all steps plain equi-joins that shuffle on vertex keys. The fixture's
    * supplier universe is tiny relative to its orders, so its
    * co-occurrence graph is unrealistically DENSE — the suppkey < 250
    * bound keeps this an oracle anchor (house pattern of the bounded
    * similarity twins); at real scale the same plan applies with
    * degree-ordered orientation (orient toward higher degree), which
    * bounds wedge fanout by O(sqrt(2m)) per edge on any power-law graph.
    * Emits per-vertex triangle participation top-20 + the global count.
    */
  val graphTriangleCount = Op(
    "graph_triangle_count",
    (s, d) => {
      val orderSupp = T.lineitem(s, d)
        .filter(col("l_suppkey") < 250)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      // r18: pairs feeds THREE subtrees (both wedge legs + the closing-
      // edge probe) — uncached, the order-pair self-join ran three times
      // (its siblings clustering_coeff/common_neighbors already
      // materialize it; guide §5: reuse > recompute for a ≤|V|²/2-row
      // relation). Lazy columnar persist, not the eager localCheckpoint
      // the siblings used — no blocking driver action, fills on first read
      // inside the one final action.
      val pairs = orderSupp.as("x").join(orderSupp.as("y"), Seq("ok"))
        .filter(col("x.sk") < col("y.sk"))
        .groupBy(col("x.sk").as("a"), col("y.sk").as("b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("a"), col("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val wedges = pairs.as("e1").join(pairs.as("e2"),
          col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
        .select(col("e1.b").as("u"), col("e2.b").as("v"), col("e1.a").as("apex"))
      val tris = wedges.join(pairs.as("e3"),
          col("u") === col("e3.a") && col("v") === col("e3.b"))
        .select(col("apex"), col("u"), col("v"))
      val perVertex = tris.select(explode(array(col("apex"), col("u"), col("v"))).as("supp"))
        .groupBy(col("supp")).agg(count(lit(1)).as("n_triangles"))
      // every triangle contributes exactly 3 per-vertex rows, so the
      // global count is sum/3 OVER the aggregate already computed — a
      // window over the <=|V| aggregated rows, never a second execution
      // of the wedge join (a separate tris.agg branch would re-run it)
      perVertex
        .withColumn("total_triangles", expr("sum(n_triangles) OVER () div 3"))
        .select(col("supp"), col("n_triangles"), col("total_triangles"))
        .orderBy(col("n_triangles").desc, col("supp"))
        .limit(20)
    },
    Some("""
      WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                  FROM lineitem WHERE l_suppkey < 250),
      pairs AS (
        SELECT x.sk AS a, y.sk AS b
        FROM os x JOIN os y ON x.ok = y.ok AND x.sk < y.sk
        GROUP BY x.sk, y.sk HAVING COUNT(*) >= 2),
      tris AS (
        SELECT e1.a AS apex, e1.b AS u, e2.b AS v
        FROM pairs e1
        JOIN pairs e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
      pv AS (
        SELECT supp, COUNT(*) AS n_triangles
        FROM (SELECT apex AS supp FROM tris
              UNION ALL SELECT u FROM tris
              UNION ALL SELECT v FROM tris)
        GROUP BY supp)
      SELECT supp, n_triangles,
             (SELECT COUNT(*) FROM tris) AS total_triangles
      FROM pv ORDER BY n_triangles DESC, supp LIMIT 20
    """)
  )

  /** Bounded-hop BFS reachability (r3d) — "which vertices are within k hops
    * of the seed set", the traversal primitive under blast-radius, fraud-
    * ring, and lineage queries. Same bipartite customer↔supplier graph as
    * graph_pagerank (suppliers offset by 1e6). Distributed form: frontier-
    * free min-distance propagation — each round joins the CURRENT distance
    * table to the edge list and keeps the per-vertex minimum, so a round is
    * one key-partitioned join + one agg regardless of graph size (the same
    * shape as dedup_cc_clusters' label propagation, and like it each round
    * localCheckpoints to cut the growing lineage — the billion-edge OOM
    * fix). k=3 rounds reaches dist <= 3. The oracle walks the same edges
    * with a recursive CTE using UNION (not ALL) recursion, which bounds
    * the per-level working set by |V| instead of path-counting — the
    * pigeonhole that makes the oracle tractable on the dense graph.
    */
  val graphBfsReachability = Op(
    "graph_bfs_reachability",
    (s, d) => {
      // r18 materialization rework (LPA recipe; see graph_pagerank): one
      // explode builds the doubled edge list (the old unionByName of two
      // projections evaluated the join+distinct twice), cached serialized
      // and pre-partitioned on src so each round's hop join reuses the
      // cached partitioning. Unlike pagerank's rank state, dist is
      // referenced TWICE per round (the union's left leg and the hop
      // join), so pure lineage would re-run round r−1's shuffle agg 2^r
      // times — each round's vertex-sized frontier is therefore a LAZY
      // columnar persist (no eager driver action; all three fill inside
      // the one final action, each round computed exactly once).
      // Win profile (r19 single-run honesty A/B, interleaved 8-key
      // subset): wins WARM (min-of-two 2.74 -> 0.56 s, partly CacheManager
      // re-serve of run 1's InMemoryRelation) at a ~0.4 s COLD cost
      // (single-run 3.48 -> 3.91 s) — the first-run price of the columnar
      // cache fills; the explode-doubling is a real work reduction either
      // way.
      val e0 = T.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), (col("l_suppkey") + lit(1000000L)).as("supp"))
        .distinct()
      val edges = e0.select(explode(array(
          struct(col("cust").as("src"), col("supp").as("dst")),
          struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      var dist = edges.select(col("src").as("v")).distinct()
        .filter(col("v") < 1000000L && col("v") % 100 === 0)
        .withColumn("dist", lit(0))
      for (_ <- 1 to 3) {
        val hop = edges.join(dist.select(col("v").as("src"), col("dist")), "src")
          .select(col("dst").as("v"), (col("dist") + 1).as("dist"))
        dist = dist.unionByName(hop)
          .groupBy(col("v")).agg(min(col("dist")).as("dist"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      }
      dist.select(col("v").as("vertex_id"), col("dist"),
          (col("v") >= 1000000L).as("is_supplier"))
        .orderBy(col("dist"), col("vertex_id"))
    },
    Some("""
      WITH RECURSIVE
      e0 AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000 AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e AS (
        SELECT cust AS src, supp AS dst FROM e0
        UNION ALL
        SELECT supp AS src, cust AS dst FROM e0),
      walk(v, dist) AS (
        SELECT DISTINCT src AS v, 0 AS dist FROM e
        WHERE src < 1000000 AND src % 100 = 0
        UNION
        SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.v
        WHERE w.dist < 3)
      SELECT CAST(v AS BIGINT) AS vertex_id,
             CAST(MIN(dist) AS INT) AS dist,
             v >= 1000000 AS is_supplier
      FROM walk GROUP BY v
      ORDER BY dist, vertex_id
    """)
  )

  /** Log-binned degree distribution (r5) — the first diagnostic run on any
    * production graph (is it power-law? where does the skew live? which
    * side needs salting?): per vertex side (customer/supplier), histogram
    * of degrees in power-of-two bins. The bin is INTEGER-exact floor-log2
    * via `length(bin(deg)) - 1` — a float LOG2 can land at 2.9999996 on an
    * exact power and misbucket, and that engine divergence is precisely
    * what the hash-oracle would catch; the string trick is identical in
    * both engines. One edge groupBy (map-side combine on the vertex key) +
    * a ≤2·64-row rollup: scan-speed at any scale, and the output is the
    * evidence for choosing the skew strategy (join_skew_salted) before a
    * big graph job.
    */
  val graphDegreeDistribution = Op(
    "graph_degree_distribution",
    (s, d) => {
      // r18: degree counting only needs each edge's ENDPOINTS — explode
      // the two endpoint ids in one pass instead of unionByName of two
      // projections of e0, which evaluated the lineitem⋈orders+distinct
      // subtree twice (guide §2.4: the doubled source scan was the only
      // shuffle-adjacent waste in this otherwise scan-speed op).
      val e0 = T.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      val edges = e0.select(explode(array(
          col("cust"), col("supp") + lit(1000000L))).as("src"))
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(
          (col("src") >= 1000000L).as("is_supplier"),
          (length(bin(col("deg"))) - 1).cast("long").as("log2_bin"),
          col("deg"))
        .groupBy(col("is_supplier"), col("log2_bin"))
        .agg(
          count(lit(1)).as("n_vertices"),
          min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"))
        .orderBy(col("is_supplier"), col("log2_bin"))
    },
    Some("""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT cust AS src FROM e0
                UNION ALL SELECT supp + 1000000 FROM e0),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
      SELECT src >= 1000000 AS is_supplier,
             CAST(length(bin(deg)) - 1 AS BIGINT) AS log2_bin,
             COUNT(*) AS n_vertices,
             MIN(deg) AS min_deg, MAX(deg) AS max_deg
      FROM deg
      GROUP BY 1, 2 ORDER BY is_supplier, log2_bin
    """)
  )

  /** Synchronous label propagation (r5) — community detection (Raghavan et
    * al. 2007), the clustering complement to `dedup_cc_clusters`' pure
    * connectivity: each round every vertex adopts its neighbors'
    * most-frequent label, so DENSE regions converge to one label while CC
    * would merge anything merely touching. Made fully deterministic (and
    * hence hash-oracle-able, which vanilla LPA is not) by synchronous
    * rounds, a fixed iteration count, and the (count DESC, label ASC)
    * tie-break; on a bipartite graph synchronous LPA can oscillate, which
    * the fixed 3 rounds turn into a well-defined spec rather than a
    * convergence question. Per round: one shuffle join on src + a
    * map-side-combined (v, label) count + a map-side-combinable
    * max(struct(c, -lab)) argmax per vertex (sort-free, unlike the
    * equivalent row_number window) — the Pregel shape again. Supplier
    * vertices are offset by 1e12, not the sibling ops' 1e6: custkeys
    * exceed 1e6 from sf10 up, and under id aliasing a pre-doubling
    * pair-distinct (the old build, mirrored by the oracle's UNION ALL)
    * and a post-doubling edge-dedup (this build) disagree on the aliased
    * multi-edges — the r17 sf10 gate caught exactly that (659 vs 661
    * communities). The collision-free offset makes the two builds
    * equivalent at every scale. The FIXED
    * 3 rounds make the whole loop one linear DAG executed once, so label
    * state rides lineage (nothing materialized per round) and only the
    * edge relation — read every round — is cached (MEMORY_AND_DISK
    * columnar); the A/B matrix at the persist site shows this beating
    * the old per-round localCheckpoint 2.7-2.9 s vs 3.6-4.8 s at sf0.1.
    */
  private val graphLabelPropagation = Op(
    "graph_label_propagation",
    (s, d) => {
      val pairs = T.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      // Materialization A/B (sf0.1 isolated, quiet host, r17): cached
      // edge relation + labels as PURE LINEAGE 2.69-2.91 s / per-round
      // zstd localCheckpoint (old) 3.59-4.78 s / ckpt-every-2nd 4.19 s /
      // pure rescan 4.23 s / edges-ckpt+label-lineage 4.30 s. With a
      // FIXED 3-round loop the whole iteration is one linear DAG executed
      // once, so per-round label checkpoints bought nothing but block
      // serialization. Same finding as txt_bpe_merges (r16): bounded-
      // round lineage beats checkpointing; unbounded-round LPA would
      // still checkpoint. Three sf100-driven choices on top (spill
      // sampler, 1.1 B edges): (1) the cache is SERIALIZED
      // (MEMORY_AND_DISK_SER rides the zstd spill recipe — a deserialized
      // columnar cache peaked at 29.9 GB on disk); (2) the cached edges
      // are PRE-PARTITIONED on src, so each round's join reuses the
      // cached partitioning and only the vertex-sized label relation
      // shuffles per round (without this, three edge-sized join shuffles
      // coexist in the one action and dominate the peak); (3) the
      // dedup runs AFTER that one repartition, partition-locally —
      // hashpartitioning(src) satisfies the (src, dst) clustering, so
      // dropDuplicates adds no exchange and the old standalone distinct
      // shuffle disappears from the build entirely.
      // r18: the doubling is ONE explode over the pair stream — the old
      // unionByName of two projections evaluated the lineitem⋈orders join
      // twice inside the cache build (guide §2.4). Everything downstream
      // (src repartition, partition-local dedup, serialized cache, labels
      // as lineage) is the r17 A/B winner, unchanged.
      val edges = pairs
        .select(explode(array(
          struct(col("cust").as("src"), (col("supp") + lit(1000000000000L)).as("dst")),
          struct((col("supp") + lit(1000000000000L)).as("src"), col("cust").as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      var labels = edges.select(col("src").as("v")).distinct()
        .withColumn("lab", col("v"))
      for (_ <- 1 to 3) {
        // argmax by (count DESC, label ASC) as max(struct(c, -lab)) — a
        // map-side-combinable aggregation, unlike the equivalent
        // row_number window which sorts every vertex partition (measured
        // 5.1 s -> window vs agg on the sf0.1 graph)
        labels = edges
          .join(labels.select(col("v").as("src"), col("lab")), "src")
          .groupBy(col("dst").as("v"), col("lab")).agg(count(lit(1)).as("c"))
          .groupBy(col("v"))
          .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("v"), (-col("m.nl")).as("lab"))
      }
      labels.groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_vertex"))
        .orderBy(col("community"))
    },
    Some("""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS MATERIALIZED (SELECT cust AS src, supp + 1000000000000 AS dst FROM e0
                UNION ALL SELECT supp + 1000000000000, cust FROM e0),
      l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lab FROM edges),
      n1 AS MATERIALIZED (SELECT e.dst AS v, l.lab, COUNT(*) AS c
             FROM edges e JOIN l0 l ON l.v = e.src GROUP BY e.dst, l.lab),
      l1 AS MATERIALIZED (SELECT v, lab FROM (
               SELECT v, lab, ROW_NUMBER() OVER (
                 PARTITION BY v ORDER BY c DESC, lab) AS rn FROM n1)
             WHERE rn = 1),
      n2 AS MATERIALIZED (SELECT e.dst AS v, l.lab, COUNT(*) AS c
             FROM edges e JOIN l1 l ON l.v = e.src GROUP BY e.dst, l.lab),
      l2 AS MATERIALIZED (SELECT v, lab FROM (
               SELECT v, lab, ROW_NUMBER() OVER (
                 PARTITION BY v ORDER BY c DESC, lab) AS rn FROM n2)
             WHERE rn = 1),
      n3 AS MATERIALIZED (SELECT e.dst AS v, l.lab, COUNT(*) AS c
             FROM edges e JOIN l2 l ON l.v = e.src GROUP BY e.dst, l.lab),
      l3 AS MATERIALIZED (SELECT v, lab FROM (
               SELECT v, lab, ROW_NUMBER() OVER (
                 PARTITION BY v ORDER BY c DESC, lab) AS rn FROM n3)
             WHERE rn = 1)
      SELECT lab AS community, COUNT(*) AS n_members, MIN(v) AS min_vertex
      FROM l3 GROUP BY lab ORDER BY community
    """)
  )

  /** k-core decomposition by iterative peeling (Seidman 1983; distributed
    * peeling as in Montresor et al. 2013) — the density filter the other
    * graph ops lack: BFS answers reachability, LPA finds communities, the
    * k-core finds the subgraph where EVERY member has ≥ k live neighbors,
    * which is what survives when peripheral vertices are discarded (spam
    * rings, core marketplaces, dense fraud cliques). The l_quantity < 4
    * sparsifier keeps the fixture graph's degree distribution non-trivial
    * (median degree 3, so k=5 genuinely peels for multiple rounds at every
    * SF — verified 20→17→12 live vertices at sf0.001). Each round is one
    * map-side-combined degree count + two LEFT SEMI joins on the edge
    * keys — the Pregel shape once more, with the superseded round's edge
    * blocks freed through GraftBridge so per-round state is O(1). Fixed 3
    * rounds keep the oracle a finite CTE chain; vertices that lose their
    * last edge to peeling count as peeled (degree 0 < k), so live vertices
    * are counted from the surviving EDGE set, not the degree filter.
    * Emits (round, verts_live, edges_live) — the convergence trace itself.
    */
  val graphKCore = Op(
    "graph_k_core",
    (s, d) => {
      // r18 materialization rework (LPA recipe): each round's edge set is
      // referenced twice (the next round's degree filter + its own
      // summary), so it must materialize — but as a LAZY serialized
      // columnar persist, not the old eager localCheckpoint chain (which
      // ran 7 blocking driver actions: 4 edge checkpoints + 3 summary
      // checkpoints). All four caches fill inside the ONE final action;
      // the doubled build is one explode (the old unionByName evaluated
      // the sparsified join+distinct twice). Peak state is now all four
      // edge generations at once instead of the old O(1) rotation — the
      // l_quantity < 4 sparsifier keeps that ~6% of lineitem per
      // generation (zstd-compressed blocks; bounded at every attested
      // scale), and each generation only shrinks under peeling.
      // MEASURED scale bound (r19 sf10 spill probe, single-run, fresh
      // SPARK_LOCAL_DIRS, 1-s du sampling): peak tmp-disk 182 MB (old
      // O(1) checkpoint rotation) vs 204 MB (this form) at 21.5 vs
      // 22.9 s — +12%, not 4x, because generation r+1 ⊆ generation r
      // under peeling and the columnar blocks compress. Hard bound:
      // peak state ≤ 4 · |sparsified edge set| serialized-zstd — at
      // 100 TB lineitem that is ≤ 4 · 8 bytes/edge · 0.06 · |lineitem|
      // (the r13 8.7 GB zstd-peak measurement, ×4), a per-node local-disk
      // budget, not a memory one (MEMORY_AND_DISK_SER spills).
      val k = 5
      val e0 = T.lineitem(s, d).filter(col("l_quantity") < 4)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      var edges = e0
        .select(explode(array(
          struct(col("cust").as("src"), (col("supp") + lit(1000000L)).as("dst")),
          struct((col("supp") + lit(1000000L)).as("src"), col("cust").as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      var rounds = Vector.empty[org.apache.spark.sql.DataFrame]
      for (r <- 1 to 3) {
        val live = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src").as("v"))
        edges = edges
          .join(live, edges("src") === live("v"), "left_semi")
          .join(live, edges("dst") === live("v"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        rounds = rounds :+ edges.agg(
            countDistinct(col("src")).as("verts_live"),
            count(lit(1)).as("edges_live"))
          .select(lit(r).as("round"), col("verts_live"), col("edges_live"))
      }
      rounds.reduce(_ unionByName _).orderBy(col("round"))
    },
    Some("""
      -- every CTE below is MATERIALIZED: DuckDB inlines plain CTEs per
      -- REFERENCE, and this pyramid (each eN referenced 4x: next round's
      -- filter+join and two scalar subqueries) re-evaluates the whole
      -- chain exponentially -- measured 60+ GB of spill at sf10 vs 4 s
      -- materialized; results are identical by definition
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  WHERE l_quantity < 4),
      edges AS MATERIALIZED (SELECT cust AS src, supp + 1000000 AS dst FROM e0
                UNION ALL SELECT supp + 1000000, cust FROM e0),
      l1 AS MATERIALIZED (SELECT src AS v FROM edges GROUP BY src HAVING COUNT(*) >= 5),
      e1 AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
             JOIN l1 a ON e.src = a.v JOIN l1 b ON e.dst = b.v),
      l2 AS MATERIALIZED (SELECT src AS v FROM e1 GROUP BY src HAVING COUNT(*) >= 5),
      e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e
             JOIN l2 a ON e.src = a.v JOIN l2 b ON e.dst = b.v),
      l3 AS MATERIALIZED (SELECT src AS v FROM e2 GROUP BY src HAVING COUNT(*) >= 5),
      e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e
             JOIN l3 a ON e.src = a.v JOIN l3 b ON e.dst = b.v)
      SELECT 1 AS round, (SELECT COUNT(DISTINCT src) FROM e1) AS verts_live,
             (SELECT COUNT(*) FROM e1) AS edges_live
      UNION ALL
      SELECT 2, (SELECT COUNT(DISTINCT src) FROM e2), (SELECT COUNT(*) FROM e2)
      UNION ALL
      SELECT 3, (SELECT COUNT(DISTINCT src) FROM e3), (SELECT COUNT(*) FROM e3)
      ORDER BY round
    """)
  )

  /** Link prediction by common-neighbor overlap (r7; Liben-Nowell &
    * Kleinberg 2003 — the common-neighbors / Jaccard similarity baselines
    * that every graph-ML feature pipeline computes before anything fancier):
    * over the same support-filtered supplier co-occurrence graph as
    * `graph_triangle_count`, score each NON-adjacent vertex pair (u, w) by
    * how many neighbors they share — wedges u–apex–w enumerate exactly the
    * pairs with ≥1 common neighbor (never the quadratic non-edge set), one
    * left-anti join removes existing edges, and Jaccard lands in integer
    * ppm: common · 1e6 div (deg_u + deg_w − common). The fixture's
    * co-occurrence graph is uniformly dense (every supplier pair shares
    * orders at every SF), so the edge set is the top-decile-support pairs —
    * the threshold is percentile_disc(0.9) of the support distribution
    * (exact, engine-identical, SF-invariant by construction), carried as a
    * 1-row broadcast scalar; "predicted links" are then the
    * just-below-threshold pairs ranked by neighborhood overlap, which is
    * exactly the link-prediction task. Everything is a vertex-keyed
    * equi-join + count: the wedge fanout is Σ deg(apex)² — the
    * triangle-count bound — and the candidate table aggregates map-side
    * before scoring, so the plan is the degree-capped node-iterator shape
    * that survives power-law graphs when the apex degree is capped (here by
    * the same l_suppkey < 250 anchor). Top-20 predicted links with a full
    * deterministic tie-break.
    */
  val graphCommonNeighbors = Op(
    "graph_common_neighbors",
    (s, d) => {
      val orderSupp = T.lineitem(s, d)
        .filter(col("l_suppkey") < 250)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      // the support table feeds the threshold scalar AND the edge filter —
      // checkpoint so the order-pair self-join runs once (the
      // sim_prefix_filter_join fanout discipline). Stays EAGER: the r18
      // lazy-cache A/B measured 1.6 s → 3.6-4.9 s at sf0.1 here (its
      // siblings assortativity/clustering_coeff tolerated the cache; this
      // op's wedge join over the cached support did not) — reverted.
      val sup = orderSupp.as("x").join(orderSupp.as("y"), Seq("ok"))
        .filter(col("x.sk") < col("y.sk"))
        .groupBy(col("x.sk").as("a"), col("y.sk").as("b"))
        .agg(count(lit(1)).as("support"))
        .localCheckpoint(true)
      val thr = sup.agg(
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY support)").as("thr"))
      val pairs = sup.crossJoin(broadcast(thr))
        .filter(col("support") >= col("thr"))
        .select(col("a"), col("b"))
      val adj = pairs.select(col("a").as("v"), col("b").as("n"))
        .union(pairs.select(col("b").as("v"), col("a").as("n")))
      val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val cand = adj.as("p").join(adj.as("q"),
          col("p.v") === col("q.v") && col("p.n") < col("q.n"))
        .groupBy(col("p.n").as("u"), col("q.n").as("w"))
        .agg(count(lit(1)).as("common"))
      val nonEdges = cand.join(pairs,
          cand("u") === pairs("a") && cand("w") === pairs("b"), "left_anti")
      nonEdges
        .join(deg.withColumnRenamed("v", "u").withColumnRenamed("deg", "deg_u"), Seq("u"))
        .join(deg.withColumnRenamed("v", "w").withColumnRenamed("deg", "deg_w"), Seq("w"))
        .withColumn("jaccard_ppm",
          expr("common * 1000000 div (deg_u + deg_w - common)"))
        .select(col("u"), col("w"), col("common"), col("deg_u"), col("deg_w"),
          col("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("common").desc, col("u"), col("w"))
        .limit(20)
    },
    Some("""
      WITH os AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        FROM lineitem WHERE l_suppkey < 250),
      sup AS (
        SELECT x.sk AS a, y.sk AS b, COUNT(*) AS support
        FROM os x JOIN os y ON x.ok = y.ok AND x.sk < y.sk
        GROUP BY 1, 2),
      pairs AS (
        SELECT a, b FROM sup
        WHERE support >= (SELECT quantile_disc(support, 0.9) FROM sup)),
      adj AS (
        SELECT a AS v, b AS n FROM pairs
        UNION ALL SELECT b AS v, a AS n FROM pairs),
      deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
      cand AS (
        SELECT p.n AS u, q.n AS w, COUNT(*) AS common
        FROM adj p JOIN adj q ON p.v = q.v AND p.n < q.n
        GROUP BY 1, 2),
      nonedges AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM pairs e WHERE e.a = c.u AND e.b = c.w))
      SELECT n.u, n.w, n.common, du.deg AS deg_u, dw.deg AS deg_w,
             n.common * 1000000 // (du.deg + dw.deg - n.common) AS jaccard_ppm
      FROM nonedges n
      JOIN deg du ON du.v = n.u
      JOIN deg dw ON dw.v = n.w
      ORDER BY jaccard_ppm DESC, common DESC, u, w LIMIT 20
    """)
  )

  /** Degree assortativity (r7; Newman 2002) — does the graph wire hub-to-hub
    * (r > 0, social networks) or hub-to-leaf (r < 0, the star topology of
    * marketplaces and the internet)? The one scalar that decides which
    * skew strategy a big graph job needs: disassortative graphs
    * concentrate join fanout on hub keys (salt them), assortative ones
    * spread it. Pearson r over the degree pairs of every DIRECTED edge of
    * the same top-decile co-occurrence graph as `graph_common_neighbors`;
    * doubling edges makes the x/y marginals identical, so the two
    * denominator factors coincide and r = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    * — ONE integer division, no square root, hence exact integer ppm (the
    * float formula's sqrt is exactly what usually makes r unoracleable).
    * Sums ride DECIMAL(38,0) (n·Σxy ~ 1e14 already at sf0.1 — ppm scaling
    * overflows a long). Plan: the wedge-free half of the common-neighbors
    * shape — checkpointed support table, two broadcast-size joins onto the
    * degree aggregate, a 1-row rollup.
    */
  val graphAssortativity = Op(
    "graph_assortativity",
    (s, d) => {
      val orderSupp = T.lineitem(s, d)
        .filter(col("l_suppkey") < 250)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      // Stays an eager checkpoint, like graph_common_neighbors: the r18
      // lazy-cache variant read +0.3 s isolated and +1.1-2.0 s in-sweep
      // (both full sweeps) — REVERTED, same verdict as its sibling.
      val sup = orderSupp.as("x").join(orderSupp.as("y"), Seq("ok"))
        .filter(col("x.sk") < col("y.sk"))
        .groupBy(col("x.sk").as("a"), col("y.sk").as("b"))
        .agg(count(lit(1)).as("support"))
        .localCheckpoint(true)
      val thr = sup.agg(
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY support)").as("thr"))
      val pairs = sup.crossJoin(broadcast(thr))
        .filter(col("support") >= col("thr"))
        .select(col("a"), col("b"))
      val adj = pairs.select(col("a").as("v"), col("b").as("n"))
        .union(pairs.select(col("b").as("v"), col("a").as("n")))
      val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      adj
        .join(broadcast(deg.select(col("v"), col("deg").as("x"))), Seq("v"))
        .join(broadcast(deg.select(col("v").as("n"), col("deg").as("y"))), Seq("n"))
        .agg(
          count(lit(1)).as("n_edges_directed"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
        .select(
          col("n_edges_directed"),
          col("sx").cast("long").as("sum_deg"),
          expr("""CAST((n_edges_directed * sxy - sx * sx) * 1000000
                  div nullif(n_edges_directed * sxx - sx * sx, 0) AS BIGINT)""")
            .as("assort_r_ppm"))
    },
    Some("""
      WITH os AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        FROM lineitem WHERE l_suppkey < 250),
      sup AS (
        SELECT x.sk AS a, y.sk AS b, COUNT(*) AS support
        FROM os x JOIN os y ON x.ok = y.ok AND x.sk < y.sk
        GROUP BY 1, 2),
      pairs AS (
        SELECT a, b FROM sup
        WHERE support >= (SELECT quantile_disc(support, 0.9) FROM sup)),
      adj AS (
        SELECT a AS v, b AS n FROM pairs
        UNION ALL SELECT b AS v, a AS n FROM pairs),
      deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
      e AS (
        SELECT dx.deg AS x, dy.deg AS y
        FROM adj JOIN deg dx ON dx.v = adj.v
                 JOIN deg dy ON dy.v = adj.n),
      agg AS (
        SELECT COUNT(*) AS n_edges_directed,
               CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM e)
      SELECT n_edges_directed,
             CAST(sx AS BIGINT) AS sum_deg,
             CAST((n_edges_directed * sxy - sx * sx) * 1000000
                  // NULLIF(n_edges_directed * sxx - sx * sx, 0) AS BIGINT) AS assort_r_ppm
      FROM agg
    """)
  )

  /** Per-vertex local clustering coefficient (r8) — "how tightly knit is
    * each supplier's neighborhood": coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * over the same support-thresholded co-supply graph as
    * `graph_triangle_count`. The wedge-join triangle kernel and the degree
    * aggregate both read the `pairs` relation through a lazy
    * MEMORY_AND_DISK_SER persist (pairs feeds the self-join twice, the
    * closing-edge probe, AND the degree agg — the first action fills the
    * cache, so the support self-join runs once). All math is exact integer ppm
    * floor division, so the result is shuffle-order-independent. At 100 TB:
    * triangles shuffle on the wedge apex and the (u,v) probe key only; the
    * per-vertex join is |V|-sized. Global transitivity (3·closed/open
    * wedges) would be a one-row variant of the same aggregates.
    */
  val graphClusteringCoeff = Op(
    "graph_clustering_coeff",
    (s, d) => {
      val orderSupp = T.lineitem(s, d)
        .filter(col("l_suppkey") < 250)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      // r18: lazy persist over eager localCheckpoint (see graph_common_neighbors)
      val pairs = orderSupp.as("x").join(orderSupp.as("y"), Seq("ok"))
        .filter(col("x.sk") < col("y.sk"))
        .groupBy(col("x.sk").as("a"), col("y.sk").as("b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("a"), col("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val deg = pairs.select(col("a").as("v"))
        .unionByName(pairs.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val wedges = pairs.as("e1").join(pairs.as("e2"),
          col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
        .select(col("e1.b").as("u"), col("e2.b").as("v"), col("e1.a").as("apex"))
      val tris = wedges.join(pairs.as("e3"),
          col("u") === col("e3.a") && col("v") === col("e3.b"))
        .select(col("apex"), col("u"), col("v"))
      val perVertex = tris.select(explode(array(col("apex"), col("u"), col("v"))).as("tv"))
        .groupBy(col("tv")).agg(count(lit(1)).as("n_tri"))
      deg.join(perVertex, col("v") === col("tv"), "left")
        .filter(col("deg") >= 2)
        .select(col("v"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("coeff_ppm",
          expr("(2 * n_tri * 1000000) div (deg * (deg - 1))"))
        .orderBy(col("coeff_ppm").desc, col("deg").desc, col("v"))
        .limit(20)
    },
    Some("""
      WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                  FROM lineitem WHERE l_suppkey < 250),
      pairs AS (
        SELECT x.sk AS a, y.sk AS b
        FROM os x JOIN os y ON x.ok = y.ok AND x.sk < y.sk
        GROUP BY x.sk, y.sk HAVING COUNT(*) >= 2),
      deg AS (
        SELECT v, COUNT(*) AS deg
        FROM (SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs)
        GROUP BY v),
      tris AS (
        SELECT e1.a AS apex, e1.b AS u, e2.b AS v
        FROM pairs e1
        JOIN pairs e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
      pv AS (
        SELECT tv, COUNT(*) AS n_tri
        FROM (SELECT apex AS tv FROM tris
              UNION ALL SELECT u FROM tris
              UNION ALL SELECT v FROM tris)
        GROUP BY tv)
      SELECT deg.v, deg.deg, COALESCE(pv.n_tri, 0) AS n_tri,
             (2 * COALESCE(pv.n_tri, 0) * 1000000) // (deg.deg * (deg.deg - 1)) AS coeff_ppm
      FROM deg LEFT JOIN pv ON deg.v = pv.tv
      WHERE deg.deg >= 2
      ORDER BY coeff_ppm DESC, deg DESC, v LIMIT 20
    """)
  )

  /** HITS hubs & authorities (Kleinberg 1999, public-knowledge algorithm,
    * r8) over the DIRECTED customer→supplier purchase graph — the one
    * genuinely directed relation in the fixtures (pagerank doubles it into
    * an undirected walk; HITS is the algorithm whose two scores only make
    * sense directed: customers are hubs, suppliers authorities). Two full
    * mutual-reinforcement rounds in scaled integers: auth(v) = Σ_{u→v}
    * hub(u), hub(u) = Σ_{u→v} auth(v), each side renormalized to max=1e6
    * by integer division after every half-step — renormalization bounds
    * the magnitude (no overflow at any |E|) and keeps every value exact,
    * so the oracle is a finite CTE chain and the result is
    * shuffle-order-independent. At 100 TB the per-round cost is one
    * shuffle join per side on the edge key with map-side-combinable sums —
    * the pagerank plan with two score columns. The max-scalar is a 1-row
    * broadcast crossJoin, never a driver collect.
    */
  val graphHits = Op(
    "graph_hits",
    (s, d) => {
      // r18 materialization rework (LPA recipe): the old form ran three
      // eager localCheckpoints (edges, a1, h1) — blocking driver actions
      // serializing full rows — and STILL computed each renorm input
      // twice (the checkpoint sat on renorm's OUTPUT, so the groupBy
      // feeding both the max scalar and the crossJoin re-ran inside each
      // checkpoint build). Now the edge relation and each renorm INPUT
      // are lazy serialized columnar caches: the max scalar and the
      // rescale projection read the same cached aggregate, every score
      // table is computed exactly once, and all caches fill inside the
      // one final TakeOrdered action.
      val edges = T.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      def renorm(df: org.apache.spark.sql.DataFrame, key: String, v: String) = {
        val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val mx = c.agg(max(col(v)).as("mx"))
        c.crossJoin(broadcast(mx))
          .select(col(key), expr(s"($v * 1000000) div mx").as(v))
      }
      // round 1: auth = indeg (hub0 = 1), hub = Σ auth over the row
      val a1 = renorm(
        edges.groupBy(col("supp")).agg(count(lit(1)).cast("long").as("auth")),
        "supp", "auth")
      val h1 = renorm(
        edges.join(a1, "supp")
          .groupBy(col("cust")).agg(sum(col("auth")).as("hub")),
        "cust", "hub")
      // round 2: re-score authorities from the round-1 hubs
      val a2 = renorm(
        edges.join(h1, "cust")
          .groupBy(col("supp")).agg(sum(col("hub")).as("auth")),
        "supp", "auth")
      // cache blocks stay alive (the returned frame reads them lazily);
      // Verify/Bench free them via GraftSession.sweep between queries, the
      // same lifecycle as sim_containment_pairs' shingle checkpoint.
      a2.orderBy(col("auth").desc, col("supp")).limit(15)
    },
    Some("""
      -- MATERIALIZED per the graph_k_core note: DuckDB re-inlines each
      -- CTE per reference, and this two-round chain references every
      -- stage twice (the next stage + a scalar MAX) -- exponential
      -- re-evaluation, measured as a 60 GB disk-exhaustion at sf10
      WITH e AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      a1r AS MATERIALIZED (SELECT supp, COUNT(*) AS auth FROM e GROUP BY supp),
      a1 AS MATERIALIZED (SELECT supp, CAST(auth * 1000000 // (SELECT MAX(auth) FROM a1r) AS BIGINT) AS auth
             FROM a1r),
      h1r AS MATERIALIZED (SELECT cust, SUM(auth) AS hub
              FROM e JOIN a1 USING (supp) GROUP BY cust),
      h1 AS MATERIALIZED (SELECT cust, CAST(hub * 1000000 // (SELECT MAX(hub) FROM h1r) AS BIGINT) AS hub
             FROM h1r),
      a2r AS MATERIALIZED (SELECT supp, SUM(hub) AS auth
              FROM e JOIN h1 USING (cust) GROUP BY supp),
      a2 AS MATERIALIZED (SELECT supp, CAST(auth * 1000000 // (SELECT MAX(auth) FROM a2r) AS BIGINT) AS auth
             FROM a2r)
      SELECT supp, auth FROM a2 ORDER BY auth DESC, supp LIMIT 15
    """)
  )

  val ops: Vector[Op] = Vector(graphPagerank, graphTriangleCount,
    graphBfsReachability, graphDegreeDistribution, graphLabelPropagation,
    graphKCore, graphCommonNeighbors, graphAssortativity,
    graphClusteringCoeff, graphHits)
}
