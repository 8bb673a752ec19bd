package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import Det.{dround, oround}

/** Graph analytics over the purchase graph (customers ↔ suppliers via
  * lineitem): iterative fixed-point computations expressed as join +
  * aggregate rounds. Companions to the dedup family's connected-components
  * clustering (q_neardup_clusters) — together they cover the two iterative
  * propagation classes (unweighted label flooding, weighted rank flow). */
object GraphQueries extends QueryModule {

  private val Iters = 3

  /** Node encoding for the bipartite graph: customer c ↦ 2c (even),
    * supplier s ↦ 2s+1 (odd) — disjoint id spaces in one long column. */

  // -- PageRank over the symmetrized customer–supplier purchase graph,
  //    Iters rounds on the 1e-9 integer grid (graft.operators.PageRank:
  //    bit-deterministic under any partitioning, so the DuckDB oracle
  //    replays the rounds exactly). Suppliers ranked by how much customer
  //    walk-mass reaches them — the bipartite analog of vendor importance.
  //    Scale: each round shuffles contributions on dst once; edges are
  //    DISTINCT (cust, supp) pairs, so duplicate lineitems never multiply
  //    walk mass; lineage is truncated per round.
  private val pagerankSuppliers = QueryDef(
    "q_pagerank_suppliers",
    (s, dir) => {
      val e0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      // r15: symmetrize in ONE pass — the union form duplicated the
      // join+distinct subtree (two full lineitem⋈orders scans); explode
      // of the two directed structs emits the same rows from one scan.
      val edges = e0.select(explode(array(
          struct(col("c").as("src"), col("p").as("dst")),
          struct(col("p").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val ranks = graft.operators.PageRank.ranks(edges, Iters,
        symmetricEdges = true) // explode-symmetrized above
      ranks.filter(col("node") % 2 === 1)
        .select(((col("node") - 1) / 2).cast("long").as("s_suppkey"),
          dround(col("r") / 1e9, 6).as("rank"))
        .orderBy(col("rank").desc, col("s_suppkey").asc)
        .limit(10)
    },
    Some {
      // unroll the same integer-grid rounds as CTEs. AS MATERIALIZED on
      // every CTE the chain re-references (edges/outd/nodes ×Iters, and
      // each round's frames): inlined, DuckDB re-executes the upstream
      // subtree per reference — the 60M-row e0 join re-derives O(3^depth)
      // times and the sf1 oracle ran >400 s; materialized it finishes in
      // seconds with identical results (same fix as q_bfs_levels).
      val rounds = (1 to Iters).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.dst AS node,
                 CAST(sum(r.r // o.outdeg) AS BIGINT) AS sc
               FROM edges e
               JOIN outd o ON e.src = o.src
               JOIN r${i - 1} r ON r.node = e.src
               GROUP BY e.dst),
        r$i AS MATERIALIZED (SELECT n.node,
                 150000000 + (coalesce(c.sc, CAST(0 AS BIGINT)) * 85) // 100
                   AS r
               FROM nodes n LEFT JOIN c$i c ON n.node = c.node)"""
      }.mkString(",\n        ")
      s"""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (SELECT c AS src, p AS dst FROM e0
                  UNION ALL SELECT p AS src, c AS dst FROM e0),
        outd AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
        $rounds
      SELECT (node - 1) // 2 AS s_suppkey,
             ${oround(s"r / 1e9", 6)} AS rank
      FROM r$Iters WHERE node % 2 = 1
      ORDER BY rank DESC, s_suppkey ASC
      LIMIT 10"""
    })

  // -- triangle counting over the part co-occurrence graph (parts linked
  //    when the same urgent order contains both). The third iterative-
  //    graph class next to PageRank (rank flow) and connected components
  //    (label flooding) — here a closed-form join pattern, no iteration.
  //
  //    Scale shape: co-occurrence pairs are generated per order, and an
  //    order holds ≤7 lineitems, so pair generation is LINEAR in orders
  //    (≤21 pairs each), never a parts×parts product. Round 10 (the
  //    round-9 verdict's stretch item): enumeration is delegated to
  //    graft.operators.Triangles, which gates by edge count between the
  //    canonical one-pass (cheapest at the small SFs) and the
  //    m^1.5-bounded DEGREE-ORDERED orientation (graphs past 10M edges —
  //    any power-law corpus at the design scale; every benched SF stays
  //    below, sf10 measuring 4.59M edges) — both return identical values
  //    (TrianglesSpec), so the oracle is unchanged.
  /** Distinct co-occurrence pairs (a < b) within each `ok` group of
    * `li(ok, pk)` — round-10 rework of the pair generator shared by the
    * co-occurrence graph queries. The old x⋈y self-join on ok shuffled
    * BOTH copies of the base frame and then the full raw pair mass into
    * the distinct; collecting each group's distinct members once
    * (bounded: ≤7 lineitems per order) and expanding the ordered pairs
    * MAP-SIDE does the same work with ONE base shuffle — measured 36.1 s
    * → 5.1 s warm on sf10's 12M-row urgent slice (ProbeTri, this round).
    * Pair semantics are identical (sorted distinct members ⇒ every a < b
    * pair exactly once), so the oracles keep their self-join form and
    * the hash gates prove the equality. */
  private def orderedCoPairs(li: DataFrame): DataFrame =
    li.groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
      .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
      .distinct()

  private val triangleCount = QueryDef(
    "q_triangle_count",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = orderedCoPairs(li)
      // the edge set is the small shared input of every downstream join
      // (~1% of lineitem rows after distinct): persist it once with an
      // explicit unpersist, so the actions below don't re-run pair
      // generation per count (three uncached counts measured 3× the
      // whole-query time at sf1)
      e.persist()
      try {
        val nE = e.count()
        val (nW, nT) = graft.operators.Triangles.wedgeTriangleCounts(e, nE)
        import s.implicits._
        Seq((nE, nW, nT))
          .toDF("n_edges", "n_wedges", "n_triangles")
          .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
            dround(col("n_triangles").cast("double") / col("n_wedges"), 6)
              .as("closure_rate"))
      } finally e.unpersist()
    },
    Some(s"""
      WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_orderpriority = '1-URGENT'),
        e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
        t AS (SELECT count(*) AS n_triangles
              FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b)
      SELECT (SELECT count(*) FROM e) AS n_edges,
             (SELECT count(*) FROM w) AS n_wedges,
             n_triangles,
             ${oround("CAST(n_triangles AS DOUBLE) / (SELECT count(*) FROM w)", 6)}
               AS closure_rate
      FROM t"""))

  // -- multi-source BFS levels over the same symmetrized customer–supplier
  //    purchase graph: min-hop distance from the first five suppliers,
  //    reported as a per-level census. Level-synchronous frontier
  //    expansion is unit-weight SSSP (graft.operators.Sssp): one min-dist
  //    shuffle per round, exact integer distances, edge side materialized
  //    once — the oracle unrolls the same rounds as CTEs (the PageRank
  //    discipline).
  //    On the bipartite purchase graph every reachable node sits within
  //    MaxHops of the seed set, so the census also certifies saturation.
  private val MaxHops = 4
  private val bfsLevels = QueryDef(
    "q_bfs_levels",
    (s, dir) => {
      import s.implicits._
      // NO distinct on the edge multiset, deliberately: duplicate edges
      // cannot change a min-dist (BFS is idempotent over edge
      // multiplicity), and the dedup shuffle of ~6M pairs costs more
      // than the duplicate probes it saves (the purchase graph is barely
      // duplicated). The oracle keeps its DISTINCT — same census either
      // way, which the hash gate proves.
      val e0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
      // r15: one-pass symmetrization — the union form duplicated the e0
      // subtree (two full upstream scans); explode emits both directions
      // from one scan, same row multiset.
      val edges = e0.select(explode(array(
          struct(col("c").as("src"), col("p").as("dst")),
          struct(col("p").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = (0L until 5L).map(k => 2 * k + 1).toDF("node")
      val nodes = edges.select(col("src").as("node")).distinct()
      val levels = graft.operators.Sssp.distances(
          edges.withColumn("w", lit(1L)), seeds, MaxHops)
        .select(col("node"), col("dist").cast("int").as("dist"))
      val census = levels.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
      val unreached = nodes.join(levels, Seq("node"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_nodes"))
        .select(lit(-1).as("dist"), col("n_nodes"))
      census.unionByName(unreached)
        .select(col("dist"), col("n_nodes").cast("long").as("n_nodes"))
        .orderBy("dist")
    },
    Some {
      // AS MATERIALIZED on every multiply-referenced CTE: each d_i is
      // consumed twice (the union's two branches) and d_MaxHops twice
      // more (census + NOT EXISTS) — inlined, DuckDB re-executes the
      // whole upstream chain per reference and the sf1 oracle ran >25
      // minutes; materialized it is 8.6 s (results identical).
      val rounds = (1 to MaxHops).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
                 SELECT node, dist FROM d${i - 1}
                 UNION ALL
                 SELECT e.dst AS node, r.dist + 1 AS dist
                 FROM edges e JOIN d${i - 1} r ON e.src = r.node)
               GROUP BY node)"""
      }.mkString(",\n        ")
      s"""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (SELECT c AS src, p AS dst FROM e0
                  UNION ALL SELECT p AS src, c AS dst FROM e0),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        seeds(node) AS (VALUES (1), (3), (5), (7), (9)),
        d0 AS (SELECT node, 0 AS dist FROM seeds),
        $rounds,
        census AS (SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
                   FROM d$MaxHops GROUP BY dist
                   UNION ALL
                   SELECT -1 AS dist, CAST(count(*) AS BIGINT) AS n_nodes
                   FROM nodes n WHERE NOT EXISTS
                     (SELECT 1 FROM d$MaxHops d WHERE d.node = n.node))
      SELECT dist, n_nodes FROM census ORDER BY dist"""
    })

  // -- k-core peeling census over the customer–supplier purchase graph
  //    (graft.operators.KCore): KcoreK-core, KcoreRounds synchronous peel
  //    sweeps, one census row per round. The fourth iterative-graph class
  //    next to rank flow (PageRank), label flooding (connected
  //    components), and frontier expansion (BFS): monotone node DELETION,
  //    whose edge frame shrinks every round — the census certifies both
  //    the peel arithmetic and the convergence trajectory (equal
  //    consecutive rows = fixed point). Oracle unrolls the same rounds as
  //    CTEs with AS MATERIALIZED on every re-referenced frame (each round
  //    reads its predecessor three times — the q_bfs_levels lesson).
  private val KcoreK = 5
  private val KcoreRounds = 3
  private val kcorePeel = QueryDef(
    "q_kcore_peel",
    (s, dir) => {
      val e0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      graft.operators.KCore.censusRows(s, e0, KcoreK, KcoreRounds)
        .orderBy("round")
    },
    Some {
      val rounds = (1 to KcoreRounds).map { i =>
        s"""deg$i AS MATERIALIZED (
               SELECT node, count(*) AS deg
               FROM (SELECT a AS node FROM e${i - 1}
                     UNION ALL SELECT b AS node FROM e${i - 1})
               GROUP BY node),
        alive$i AS MATERIALIZED (SELECT node FROM deg$i WHERE deg >= $KcoreK),
        e$i AS MATERIALIZED (
               SELECT e.a, e.b FROM e${i - 1} e
               JOIN alive$i x ON e.a = x.node
               JOIN alive$i y ON e.b = y.node)"""
      }.mkString(",\n        ")
      val census = (1 to KcoreRounds).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round,
               (SELECT count(*) FROM alive$i) AS n_nodes,
               (SELECT count(*) FROM e$i) AS n_edges"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH e0 AS MATERIALIZED (
             SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        $rounds
      SELECT * FROM (
        $census
      ) ORDER BY round"""
    })

  // -- label-propagation community detection (Raghavan et al. 2007) over
  //    the part co-occurrence graph (same edge set as q_triangle_count —
  //    UNIPARTITE, so labels mix instead of oscillating as they would on
  //    the bipartite purchase graph): LpaRounds synchronous rounds, each
  //    node adopting its neighbors' most frequent label (ties → lowest
  //    label — the determinism choice that makes the rounds replayable;
  //    textbook LPA breaks ties randomly and can never be hash-checked).
  //    Census: the 10 largest communities after the final round.
  //
  //    Scale shape: a round is ONE shuffle — count (node, neighbor-label)
  //    pairs, then a partitioned row_number picks the mode — and the
  //    label frame is referenced once per round, so the lazy plan grows
  //    linearly and two rounds execute as a single DAG (the PageRank
  //    cadence lesson). The oracle unrolls identical rounds as CTEs.
  private val LpaRounds = 2
  private val labelProp = QueryDef(
    "q_label_prop",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val und = orderedCoPairs(li)
      // r15: one-pass symmetrization (see q_bfs_levels) — union form
      // re-derived the orderedCoPairs subtree twice.
      val edges = und.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      var lab = edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      val wMode = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("cnt").desc, col("label").asc)
      for (_ <- 1 to LpaRounds) {
        lab = edges
          .join(lab.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wMode))
          .filter(col("rn") === 1)
          .select("node", "label")
      }
      lab.groupBy("label").agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("label").asc)
        .limit(10)
    },
    Some {
      val rounds = (1 to LpaRounds).map { i =>
        s"""l$i AS MATERIALIZED (
               SELECT node, label FROM (
                 SELECT e.dst AS node, p.label, count(*) AS cnt,
                        row_number() OVER (PARTITION BY e.dst
                          ORDER BY count(*) DESC, p.label ASC) AS rn
                 FROM edges e JOIN l${i - 1} p ON e.src = p.node
                 GROUP BY e.dst, p.label)
               WHERE rn = 1)"""
      }.mkString(",\n        ")
      s"""
      WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_orderpriority = '1-URGENT'),
        und AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b AS src, a AS dst FROM und),
        l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
                            FROM edges),
        $rounds
      SELECT label, count(*) AS n_members
      FROM l$LpaRounds GROUP BY label
      ORDER BY n_members DESC, label ASC LIMIT 10"""
    })

  // -- personalized PageRank from the first-five-supplier seed set (the
  //    BFS seeds) over the symmetrized purchase graph: proximity-to-seeds
  //    mass on the 1e-9 integer grid (graft.operators.PageRank
  //    .personalizedRanks) — the "related suppliers / trusted-neighborhood
  //    weighting" primitive, distinct from global PageRank (teleport mass
  //    lands ONLY on seeds, so rank decays with distance from them).
  //    Census: top-10 CUSTOMERS by seed-proximity — the even-id side, so
  //    the result certifies genuine propagation (customers get mass only
  //    through edges) rather than the seeds ranking themselves first.
  //    Oracle unrolls identical integer rounds (PageRank discipline).
  private val pprSeeds = QueryDef(
    "q_ppr_seeds",
    (s, dir) => {
      import s.implicits._
      val e0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      // r15: one-pass symmetrization — the union form duplicated the e0
      // subtree (two full upstream scans); explode emits both directions
      // from one scan, same row multiset.
      val edges = e0.select(explode(array(
          struct(col("c").as("src"), col("p").as("dst")),
          struct(col("p").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = (0L until 5L).map(k => 2 * k + 1).toDF("node")
      graft.operators.PageRank.personalizedRanks(edges, seeds, Iters,
        symmetricEdges = true) // explode-symmetrized above
        .filter(col("node") % 2 === 0)
        .select((col("node") / 2).cast("long").as("c_custkey"),
          dround(col("r") / 1e9, 6).as("rank"))
        .orderBy(col("rank").desc, col("c_custkey").asc)
        .limit(10)
    },
    Some {
      val rounds = (1 to Iters).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.dst AS node,
                 CAST(sum(r.r // o.outdeg) AS BIGINT) AS sc
               FROM edges e
               JOIN outd o ON e.src = o.src
               JOIN r${i - 1} r ON r.node = e.src
               GROUP BY e.dst),
        r$i AS MATERIALIZED (SELECT n.node,
                 n.is_seed * 150000000
                   + (coalesce(c.sc, CAST(0 AS BIGINT)) * 85) // 100 AS r
               FROM nodes n LEFT JOIN c$i c ON n.node = c.node)"""
      }.mkString(",\n        ")
      s"""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (SELECT c AS src, p AS dst FROM e0
                  UNION ALL SELECT p AS src, c AS dst FROM e0),
        outd AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        nodes AS MATERIALIZED (
                 SELECT node, CASE WHEN node IN (1, 3, 5, 7, 9) THEN 1 ELSE 0 END
                   AS is_seed
                 FROM (SELECT DISTINCT src AS node FROM edges)),
        r0 AS (SELECT node, CAST(is_seed * 1000000000 AS BIGINT) AS r FROM nodes),
        $rounds
      SELECT node // 2 AS c_custkey,
             ${oround(s"r / 1e9", 6)} AS rank
      FROM r$Iters WHERE node % 2 = 0
      ORDER BY rank DESC, c_custkey ASC
      LIMIT 10"""
    })

  // -- degree assortativity (Newman 2002): the Pearson correlation of
  //    endpoint degrees over edges — do high-degree nodes attach to each
  //    other (social-style, r > 0) or to leaves (hub-and-spoke, r < 0)?
  //    On the symmetrized purchase graph the answer is structural: the
  //    bipartite customer–supplier topology forces disassortativity, and
  //    the query certifies the measurement machinery (summing over BOTH
  //    edge directions IS the standard undirected double-count).
  //
  //    Scale + determinism: on the SYMMETRIZED multiset deg(v) equals
  //    both the per-src and per-dst row count, so each endpoint degree
  //    is a partitioned window count — one edge derivation and two
  //    shuffles total, zero joins (round 9: the former groupBy+double
  //    equi-join re-derived the 117M-row sf10 edge frame three times —
  //    56 s vs this shape's single pass). All five moments accumulate
  //    as EXACT BIGINT sums (x·y ≤ ~1e8 per edge, Σ ≤ ~1e15 — inside
  //    Long), so partitioning cannot move them; the final Pearson
  //    combination runs in doubles ONCE, as the identical expression in
  //    both engines (M·Σxy overflows int64, so the combination — not
  //    the accumulation — is float by design).
  private val assortativity = QueryDef(
    "q_graph_assortativity",
    (s, dir) => {
      val e0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      // r15: one-pass symmetrization — the union form duplicated the e0
      // subtree (two full upstream scans); explode emits both directions
      // from one scan, same row multiset.
      val edges = e0.select(explode(array(
          struct(col("c").as("src"), col("p").as("dst")),
          struct(col("p").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
      val wDst = org.apache.spark.sql.expressions.Window.partitionBy("dst")
      val xy = edges
        .withColumn("x", count(lit(1)).over(wSrc))
        .withColumn("y", count(lit(1)).over(wDst))
      xy.agg(count(lit(1)).as("m"),
          sum(col("x") * col("y")).as("sxy"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("m").as("n_directed_edges"),
          dround(
            (col("m").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
              / sqrt((col("m").cast("double") * col("sxx")
                  - col("sx").cast("double") * col("sx"))
                * (col("m").cast("double") * col("syy")
                  - col("sy").cast("double") * col("sy"))), 6)
            .as("assortativity"),
          dround(col("sx").cast("double") / col("m"), 4).as("avg_end_deg"))
    },
    Some(s"""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (SELECT c AS src, p AS dst FROM e0
                  UNION ALL SELECT p AS src, c AS dst FROM e0),
        deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        xy AS (SELECT dx.deg AS x, dy.deg AS y
               FROM edges e
               JOIN deg dx ON e.src = dx.src
               JOIN deg dy ON e.dst = dy.src),
        mo AS (SELECT count(*) AS m, CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
               FROM xy)
      SELECT m AS n_directed_edges,
             ${oround(
               "(CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                 + " / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
                 + " * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))",
               6)} AS assortativity,
             ${oround("CAST(sx AS DOUBLE) / m", 4)} AS avg_end_deg
      FROM mo"""))

  // -- weighted single-source shortest paths (graft.operators.Sssp):
  //    Bellman-Ford relaxation rounds over the purchase graph with the
  //    minimum ship-delay (days, clamped ≥1) as the edge cost — "how
  //    cheaply can a delay-weighted path reach each node from the seed
  //    suppliers". The weighted sibling of q_bfs_levels; reported as a
  //    distance-bucket census so the result is a bounded frame at any
  //    scale. Same discipline: one min-dist shuffle per round, exact
  //    integer distances (day sums), oracle unrolls identical rounds as
  //    materialized CTEs; the edge frame is cached COLUMNAR, once
  //    (round-9 sf10 rework — see Sssp.distances for the measurements).
  private val SsspRounds = 4
  private val ssspDelay = QueryDef(
    "q_sssp_delay",
    (s, dir) => {
      import s.implicits._
      // MULTIGRAPH edges, deliberately NO per-pair min aggregate (round-9
      // sf10 rework): min-dist over parallel edges equals min-dist over
      // min-weight edges (min∘clamp = clamp∘min, and Bellman-Ford is
      // idempotent over edge multiplicity), so the near-unique-key
      // groupBy — a full fact-table shuffle whose hash map degenerates at
      // 58M groups — buys nothing. The oracle keeps its min-edge form:
      // same distances either way, which the hash gate proves.
      val e0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"),
          greatest(datediff(col("l_shipdate"), col("o_orderdate")), lit(1))
            .cast("long").as("w"))
      // r15: one-pass symmetrization (see q_bfs_levels) — union form
      // re-derived the e0 subtree twice.
      val edges = e0.select(explode(array(
          struct(col("c").as("src"), col("p").as("dst"), col("w")),
          struct(col("p").as("src"), col("c").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      val seeds = (0L until 5L).map(k => 2 * k + 1).toDF("node")
      val nodes = edges.select(col("src").as("node")).distinct()
      val dist = graft.operators.Sssp.distances(edges, seeds, SsspRounds)
      val census = dist.groupBy(expr("dist div 25").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min("dist").as("min_dist"),
          max("dist").as("max_dist"))
      val unreached = nodes.join(dist, Seq("node"), "left_anti")
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(-1L).as("bucket"), col("n_nodes"),
          lit(-1L).as("min_dist"), lit(-1L).as("max_dist"))
      census.unionByName(unreached)
        .select(col("bucket"), col("n_nodes").cast("long").as("n_nodes"),
          col("min_dist"), col("max_dist"))
        .orderBy("bucket")
    },
    Some {
      val rounds = (1 to SsspRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
                 SELECT node, dist FROM d${i - 1}
                 UNION ALL
                 SELECT e.dst AS node, r.dist + e.w AS dist
                 FROM edges e JOIN d${i - 1} r ON e.src = r.node)
               GROUP BY node)"""
      }.mkString(",\n        ")
      s"""
      WITH e0 AS MATERIALIZED (
                  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p,
                         greatest(min(date_diff('day', o_orderdate,
                           l_shipdate)), 1) AS w
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  GROUP BY 1, 2),
        edges AS MATERIALIZED (SELECT c AS src, p AS dst, w FROM e0
                  UNION ALL SELECT p AS src, c AS dst, w FROM e0),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        seeds(node) AS (VALUES (1), (3), (5), (7), (9)),
        d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
        $rounds,
        census AS (SELECT dist // 25 AS bucket,
                     CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(min(dist) AS BIGINT) AS min_dist,
                     CAST(max(dist) AS BIGINT) AS max_dist
                   FROM d$SsspRounds GROUP BY 1
                   UNION ALL
                   SELECT -1 AS bucket, CAST(count(*) AS BIGINT) AS n_nodes,
                          -1 AS min_dist, -1 AS max_dist
                   FROM nodes n WHERE NOT EXISTS
                     (SELECT 1 FROM d$SsspRounds d WHERE d.node = n.node))
      SELECT bucket, n_nodes, min_dist, max_dist
      FROM census ORDER BY bucket"""
    })

  // -- HITS hubs & authorities over the DIRECTED customer→supplier
  //    purchase graph: two un-normalized power-iteration rounds in exact
  //    long arithmetic (authority⁰=in-degree → hub¹ → authority²), then a
  //    single L1 normalization of each side at the end. HITS scores are
  //    scale-invariant, so deferring the normalization changes nothing
  //    mathematically while keeping every per-node aggregate an exact
  //    integer — bit-deterministic under any partitioning, no float state
  //    to drift between engines. Two rounds on the purchase graph keep
  //    Σ-magnitudes ≤ ~1e12 (≤ indeg·outdeg·E growth per round); a
  //    100 TB run with more rounds renormalizes per-iteration on a
  //    decimal grid instead (same plan shape, the PageRank 1e-9-grid
  //    discipline).
  //
  //    Scale shape: each half-round is ONE equi-join (edges × scores on
  //    the source side) plus ONE map-side-combinable sum keyed by the
  //    destination — identical shuffle profile to a PageRank round.
  private val hitsRank = QueryDef(
    "q_hits_rank",
    (s, dir) => {
      val e = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
        .distinct()
      Cached.withPinned(e) { case Seq(e) => // r15: pin + plan-truncate
        val a1 = e.groupBy("p").agg(count(lit(1)).as("a"))
        // r15: h1 feeds THREE consumers (a2, the L1 sum, the hub top-10)
        // and a2 two — only e was cached, so the e⋈a1 and e⋈h1 joins
        // re-executed per consumer. Pin both score frames (node-sized).
        Cached.withPinned(
            e.join(a1, "p").groupBy("c").agg(sum("a").as("h"))) {
          case Seq(h1) =>
        Cached.withPinned(
            e.join(h1, "c").groupBy("p").agg(sum("h").as("a"))) {
          case Seq(a2) =>
        val sH = h1.agg(sum("h").as("sh"))
        val sA = a2.agg(sum("a").as("sa"))
        val hubs = h1.crossJoin(broadcast(sH))
          .select(lit("hub").as("role"), col("c").as("node_key"),
            dround(col("h").cast("double") / col("sh"), 8).as("score"))
          .orderBy(col("score").desc, col("node_key").asc).limit(10)
        val auths = a2.crossJoin(broadcast(sA))
          .select(lit("authority").as("role"), col("p").as("node_key"),
            dround(col("a").cast("double") / col("sa"), 8).as("score"))
          .orderBy(col("score").desc, col("node_key").asc).limit(10)
        hubs.unionByName(auths).orderBy(col("role"), col("score").desc,
          col("node_key").asc)
        }}
      }
    },
    Some("""
      WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        a1 AS MATERIALIZED (SELECT p, CAST(count(*) AS BIGINT) AS a
               FROM e GROUP BY p),
        h1 AS MATERIALIZED (SELECT c, CAST(sum(a) AS BIGINT) AS h
               FROM e JOIN a1 USING (p) GROUP BY c),
        a2 AS MATERIALIZED (SELECT p, CAST(sum(h) AS BIGINT) AS a
               FROM e JOIN h1 USING (c) GROUP BY p),
        sh AS (SELECT CAST(sum(h) AS BIGINT) AS sh FROM h1),
        sa AS (SELECT CAST(sum(a) AS BIGINT) AS sa FROM a2),
        hubs AS (SELECT 'hub' AS role, c AS node_key,
                   """ + oround("CAST(h AS DOUBLE) / sh.sh", 8) + """ AS score
                 FROM h1, sh ORDER BY score DESC, node_key ASC LIMIT 10),
        auths AS (SELECT 'authority' AS role, p AS node_key,
                    """ + oround("CAST(a AS DOUBLE) / sa.sa", 8) + """ AS score
                  FROM a2, sa ORDER BY score DESC, node_key ASC LIMIT 10)
      SELECT role, node_key, score FROM
        (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
      ORDER BY role, score DESC, node_key ASC"""))

  // -- Link prediction by common-neighbor overlap: suppliers are similar
  //    when the same orders use both (shared-order Jaccard). Pair
  //    generation is per-order (≤7 lineitems → ≤21 pairs, the
  //    triangle-count discipline) so candidate mass is LINEAR in orders,
  //    never supplier²; degrees come from one grouped count and join
  //    back by supplier key. Exact integer counts end-to-end; the only
  //    double is the final Jaccard ratio.
  private val linkPrediction = QueryDef(
    "q_link_prediction",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("pk"))
        .distinct()
      Cached.withPinned(li) { case Seq(li) => // r15: pin + plan-truncate
        val deg = li.groupBy("pk").agg(count(lit(1)).as("deg"))
        // map-side per-order pair expansion (the orderedCoPairs rework,
        // sans distinct): one base shuffle, pair multiplicity preserved
        // so count(*) per (a,b) is still the shared-order count
        val pairs = li.groupBy("ok")
          .agg(sort_array(collect_set(col("pk"))).as("ps"))
          .filter(size(col("ps")) >= 2)
          .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
          .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
          .groupBy("a", "b")
          .agg(count(lit(1)).as("common"))
        // deg is supplier-cardinality (~100k rows at sf10) joined against
        // the order-of-magnitude-larger pair frame — broadcast BOTH sides
        // or each join shuffles the full pair mass (round 9: 160 s → the
        // two broadcasts at sf10)
        pairs
          .join(broadcast(deg.select(col("pk").as("a"), col("deg").as("deg_a"))), "a")
          .join(broadcast(deg.select(col("pk").as("b"), col("deg").as("deg_b"))), "b")
          .withColumn("jaccard", dround(col("common").cast("double")
            / (col("deg_a") + col("deg_b") - col("common")), 6))
          .select(col("a").as("s_a"), col("b").as("s_b"), col("common"),
            col("deg_a"), col("deg_b"), col("jaccard"))
          .orderBy(col("jaccard").desc, col("s_a").asc, col("s_b").asc)
          .limit(15)
      }
    },
    Some(s"""
      WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                   l_suppkey AS pk FROM lineitem),
        deg AS (SELECT pk, CAST(count(*) AS BIGINT) AS deg
                FROM li GROUP BY pk),
        pairs AS (SELECT x.pk AS a, y.pk AS b,
                    CAST(count(*) AS BIGINT) AS common
                  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
                  GROUP BY 1, 2),
        j AS (SELECT a, b, common, da.deg AS deg_a, db.deg AS deg_b,
                ${oround(
                  "CAST(common AS DOUBLE) / (da.deg + db.deg - common)", 6)}
                  AS jaccard
              FROM pairs
              JOIN deg da ON pairs.a = da.pk
              JOIN deg db ON pairs.b = db.pk)
      SELECT a AS s_a, b AS s_b, common, deg_a, deg_b, jaccard
      FROM j ORDER BY jaccard DESC, s_a ASC, s_b ASC LIMIT 15"""))

  // -- WEIGHTED PageRank over the purchase graph with total traded
  //    quantity as the edge weight: rank mass follows volume, not mere
  //    adjacency (the supplier a customer buys 10× more from receives 10×
  //    the walk mass). Same integer-grid rounds as q_pagerank_suppliers
  //    with (r·w) DIV wsum splitting; quantity sums ≤ ~350 per pair keep
  //    r·w ≤ ~3.5e16 at sf1 — inside Long, per the operator's documented
  //    N·One·wMax bound.
  private val weightedPagerank = QueryDef(
    "q_weighted_pagerank",
    (s, dir) => {
      val e0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      // r15: one-pass symmetrization (see q_bfs_levels) — union form
      // re-derived the e0 subtree twice.
      val edges = e0.select(explode(array(
          struct(col("c").as("src"), col("p").as("dst"), col("w")),
          struct(col("p").as("src"), col("c").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      graft.operators.PageRank.weightedRanks(edges, Iters,
        symmetricEdges = true) // explode-symmetrized above; w shared per pair
        .filter(col("node") % 2 === 1)
        .select(((col("node") - 1) / 2).cast("long").as("s_suppkey"),
          dround(col("r") / 1e9, 6).as("rank"))
        .orderBy(col("rank").desc, col("s_suppkey").asc)
        .limit(10)
    },
    Some {
      val rounds = (1 to Iters).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.dst AS node,
                 CAST(sum((r.r * e.w) // o.wsum) AS BIGINT) AS sc
               FROM edges e
               JOIN outd o ON e.src = o.src
               JOIN r${i - 1} r ON r.node = e.src
               GROUP BY e.dst),
        r$i AS MATERIALIZED (SELECT n.node,
                 150000000 + (coalesce(c.sc, CAST(0 AS BIGINT)) * 85) // 100
                   AS r
               FROM nodes n LEFT JOIN c$i c ON n.node = c.node)"""
      }.mkString(",\n        ")
      s"""
      WITH e0 AS MATERIALIZED (
                  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p,
                         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  GROUP BY 1, 2),
        edges AS MATERIALIZED (SELECT c AS src, p AS dst, w FROM e0
                  UNION ALL SELECT p AS src, c AS dst, w FROM e0),
        outd AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
                FROM edges GROUP BY src),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM edges
                   UNION ALL SELECT dst AS node FROM edges)),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
        $rounds
      SELECT (node - 1) // 2 AS s_suppkey,
             ${oround("r / 1e9", 6)} AS rank
      FROM r$Iters WHERE node % 2 = 1
      ORDER BY rank DESC, s_suppkey ASC
      LIMIT 10"""
    })

  // -- Adamic–Adar link scores for supplier pairs: common shared orders
  //    weighted by 1/ln(order breadth), so co-occurrence inside a rare
  //    2-supplier order counts far more than inside a megaorder — the
  //    rarity-weighted refinement of q_link_prediction's raw Jaccard.
  //    Same per-order pair generation (≤21 pairs/order, linear candidate
  //    mass); each pair's AA term snaps to the 1e-9 grid before the long
  //    sum, so the ranking is partition-order-proof.
  private val adamicAdar = QueryDef(
    "q_adamic_adar",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("pk"))
        .distinct()
      // the AA weight is a function of ORDER BREADTH alone, so the
      // grouped member set carries it for free: nb = size(ps) — the
      // old breadth groupBy + join-back and the pair self-join collapse
      // into one base shuffle with map-side pair expansion (each shared
      // order contributes its aa_i exactly once per pair, as before).
      // li now has a SINGLE consumer, so the round-9 withCached pin came
      // off (pinning a 58M-row frame to scan it once is pure overhead).
      val pairs = li.groupBy("ok")
        .agg(sort_array(collect_set(col("pk"))).as("ps"))
        .filter(size(col("ps")) >= 2)
        .withColumn("aa_i",
          expr("CAST(round(1e9 / ln(size(ps))) AS BIGINT)"))
        .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"), col("aa_i"))
        .select(col("a"),
          explode(expr("slice(ps, i + 2, size(ps))")).as("b"), col("aa_i"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("common"), sum(col("aa_i")).as("aa_sum"))
      pairs
        .select(col("a").as("s_a"), col("b").as("s_b"), col("common"),
          dround(col("aa_sum").cast("double") / 1e9, 4).as("adamic_adar"))
        .orderBy(col("adamic_adar").desc, col("s_a").asc, col("s_b").asc)
        .limit(15)
    },
    Some(s"""
      WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                   l_suppkey AS pk FROM lineitem),
        breadth AS (SELECT ok, CAST(count(*) AS BIGINT) AS nb
                    FROM li GROUP BY ok HAVING count(*) >= 2),
        wide AS (SELECT li.ok, li.pk,
                   CAST(round(1e9 / ln(nb)) AS BIGINT) AS aa_i
                 FROM li JOIN breadth ON li.ok = breadth.ok),
        pairs AS (SELECT x.pk AS a, y.pk AS b,
                    CAST(count(*) AS BIGINT) AS common,
                    CAST(sum(x.aa_i) AS BIGINT) AS aa_sum
                  FROM wide x JOIN wide y
                    ON x.ok = y.ok AND x.pk < y.pk
                  GROUP BY 1, 2)
      SELECT a AS s_a, b AS s_b, common,
             ${oround("CAST(aa_sum AS DOUBLE) / 1e9", 4)} AS adamic_adar
      FROM pairs
      ORDER BY adamic_adar DESC, s_a ASC, s_b ASC LIMIT 15"""))

  // -- Discrete power-law exponent of the purchase-graph degree
  //    distributions (Newman's MLE with xmin = 1): α = 1 + n / Σ ln(dᵢ),
  //    fitted separately for the customer side (suppliers per customer)
  //    and the supplier side (customers per supplier) — the heavy-tail
  //    diagnostic that tells a 100 TB graph job whether degree-ordered
  //    orientation / hub-pruning levers will matter. ln terms snap to the
  //    1e-9 grid per DISTINCT degree and multiply by multiplicity, so the
  //    sum is an exact long.
  private val powerLawFit = QueryDef(
    "q_power_law_fit",
    (s, dir) => {
      val e = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
        .distinct()
      Cached.withPinned(e) { case Seq(e) => // r15: pin + plan-truncate
        def fit(df: org.apache.spark.sql.DataFrame, role: String) =
          df.groupBy("node").agg(count(lit(1)).as("deg"))
            .groupBy("deg").agg(count(lit(1)).as("m"))
            .agg(sum("m").as("n"), max("deg").as("max_deg"),
              sum(expr("m * deg")).as("sum_deg"),
              sum(expr("m * CAST(round(ln(deg) * 1e9) AS BIGINT)")).as("sl"))
            .select(lit(role).as("role"), col("n").as("n_nodes"),
              col("max_deg"),
              dround(col("sum_deg").cast("double") / col("n"), 4)
                .as("mean_deg"),
              dround(lit(1.0) + col("n").cast("double")
                / (col("sl").cast("double") / 1e9), 4).as("alpha"))
        fit(e.select(col("c").as("node")), "customer")
          .unionByName(fit(e.select(col("p").as("node")), "supplier"))
          .orderBy("role")
      }
    },
    Some(s"""
      WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        dc AS (SELECT deg, CAST(count(*) AS BIGINT) AS m FROM
                 (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY c)
               GROUP BY deg),
        dp AS (SELECT deg, CAST(count(*) AS BIGINT) AS m FROM
                 (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY p)
               GROUP BY deg),
        fc AS (SELECT 'customer' AS role, CAST(sum(m) AS BIGINT) AS n_nodes,
                 CAST(max(deg) AS BIGINT) AS max_deg,
                 CAST(sum(m * deg) AS BIGINT) AS sum_deg,
                 CAST(sum(m * CAST(round(ln(deg) * 1e9) AS BIGINT))
                   AS BIGINT) AS sl
               FROM dc),
        fp AS (SELECT 'supplier' AS role, CAST(sum(m) AS BIGINT) AS n_nodes,
                 CAST(max(deg) AS BIGINT) AS max_deg,
                 CAST(sum(m * deg) AS BIGINT) AS sum_deg,
                 CAST(sum(m * CAST(round(ln(deg) * 1e9) AS BIGINT))
                   AS BIGINT) AS sl
               FROM dp),
        u AS (SELECT * FROM fc UNION ALL SELECT * FROM fp)
      SELECT role, n_nodes, max_deg,
             ${oround("CAST(sum_deg AS DOUBLE) / n_nodes", 4)} AS mean_deg,
             ${oround("1.0 + CAST(n_nodes AS DOUBLE) / (CAST(sl AS DOUBLE) / 1e9)", 4)}
               AS alpha
      FROM u ORDER BY role"""))

  // -- incremental triangle maintenance: the graph member of the
  //    incremental-maintenance family (postings / LSH index / aggregates /
  //    sketch rollups). The co-occurrence edge set splits into a BASE
  //    graph (the standing corpus) and a DELTA batch (~20%, by a
  //    deterministic hash of the edge), and the triangle count is
  //    maintained incrementally: with triangles canonicalized on sorted
  //    nodes x<y<z (slots e_xy, e_yz, e_xz — each triangle enumerated
  //    exactly once by the wedge-closure join), every triangle touching
  //    the delta is counted ONCE by its FIRST delta slot:
  //      t1 = D_xy ⋈ U_yz ⋈ U_xz
  //      t2 = B_xy ⋈ D_yz ⋈ U_xz
  //      t3 = B_xy ⋈ B_yz ⋈ D_xz
  //    (U = B ∪ D). tri_total = tri_base + t1 + t2 + t3.
  //
  //    Certification: the ORACLE computes tri_delta as the full-rebuild
  //    DIFFERENCE (count(U) − count(B)) — if the slot decomposition
  //    over- or under-counted any multi-delta triangle, the hash gate
  //    fails (the q_incremental_agg doctrine: oracle = direct rebuild).
  //
  //    Scale: every delta term starts from (or is bounded by) the delta
  //    edge set — at 100 TB the base wedge mass is NEVER re-enumerated
  //    for an update; term t3's base⋈base wedge is probe-ordered from
  //    the delta closing edge (join D_xz to base adjacency on x, then
  //    close on (y, z)), so its mass is Σ_delta deg(x), not the corpus
  //    wedge count. The base count itself is the standing state a real
  //    deployment carries forward; it is recomputed here only because
  //    the certification needs both sides in one query.
  private val incrementalTriangles = QueryDef(
    "q_incremental_triangles",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val flagged = orderedCoPairs(li)
        .withColumn("is_delta",
          pmod(col("a") * 31 + col("b"), lit(10)) >= 8)
      // withPinned, not a bare persist (round-13 advisor): the builder
      // only CONSTRUCTS the lazy plan — a persist/unpersist pair around
      // construction is dead by the time the runner executes the frame.
      // withPinned pins + materializes the edge set, pins the 1-row
      // result, then releases the input.
      Cached.withPinned(flagged) { case Seq(flagged) => // r15: pin + plan-truncate
        // Round 13 (verdict #3): DEGREE-ORDERED COMPACT-FORWARD form
        // [Latapy 2008] with per-edge batch flags. Edges re-orient toward
        // the higher-(degree, id) endpoint, every triangle x≺y≺z is then
        // exactly one closed out-wedge of x — (x,y),(x,z) out-edges, (y,z)
        // the closure edge — and ALL four slot terms are conditional sums
        // over ONE wedge-closure join, keyed by which legs are delta:
        //   e_xy ∈ D                      → t1
        //   e_xy ∈ B, e_yz ∈ D            → t2
        //   e_xy ∈ B, e_yz ∈ B, e_xz ∈ D  → t3
        //   all three ∈ B                 → tri_base
        // (a disjoint partition of the closed wedges, so tri_total is
        // their sum by construction). The enumerated wedge mass is
        // m^1.5-bounded by the orientation REGARDLESS of hub degree — the
        // round-12 adjacency-array form bounded arrays only by raw degree
        // (a 100 TB hub broke it), and its round-13 oriented rework
        // shuffled array-laden rows (StageProbe: 2 GB exchanges + 7.4 GB
        // sort spills at sf10, 50-83 s); this form shuffles nothing wider
        // than (long, long, flag) rows and matches the proven static path
        // (Triangles.degreeOrdered, 6.4 s at sf10). is_delta stays keyed
        // on the canonical (a<b) pair, so the batch split is identical
        // and the oracle's full-rebuild difference — orientation-
        // invariant counts — certifies the re-orientation too.
        val dg = flagged.select(col("a").as("n"))
          .union(flagged.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val fwd = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        // the degree table is bounded by the node count (a dimension) and
        // joins as a broadcast — the Triangles.degreeOrdered shape
        val oriented = flagged
          .join(broadcast(dg.select(col("n").as("a"), col("d").as("da"))), "a")
          .join(broadcast(dg.select(col("n").as("b"), col("d").as("db"))), "b")
          .select(when(fwd, col("a")).otherwise(col("b")).as("s"),
            when(fwd, col("b")).otherwise(col("a")).as("t"),
            when(fwd, col("db")).otherwise(col("da")).as("dt"),
            col("is_delta"))
        Cached.withPinned(oriented) { case Seq(oriented) => // r15: pin + plan-truncate
          val nE = oriented.agg(
            sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_edges_base"),
            sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_edges_delta"))
          // out-wedges of each low node: ordered pairs of out-neighbors
          // under the (dt, t) orientation order, so x≺y≺z holds and each
          // triangle is enumerated exactly once
          val w = oriented.as("p").join(oriented.as("q"),
              col("p.s") === col("q.s") && (col("p.dt") < col("q.dt") ||
                (col("p.dt") === col("q.dt") && col("p.t") < col("q.t"))))
            .select(col("p.t").as("u"), col("q.t").as("v"),
              col("p.is_delta").as("dxy"), col("q.is_delta").as("dxz"))
          val closed = w.join(oriented.select(col("s").as("u"),
              col("t").as("v"), col("is_delta").as("dyz")), Seq("u", "v"))
          val tri = closed.agg(
            coalesce(sum(when(!col("dxy") && !col("dyz") && !col("dxz"), 1L)
              .otherwise(0L)), lit(0L)).as("tri_base"),
            coalesce(sum(when(col("dxy"), 1L).otherwise(0L)), lit(0L)).as("t1"),
            coalesce(sum(when(!col("dxy") && col("dyz"), 1L).otherwise(0L)),
              lit(0L)).as("t2"),
            coalesce(sum(when(!col("dxy") && !col("dyz") && col("dxz"), 1L)
              .otherwise(0L)), lit(0L)).as("t3"))
          nE.crossJoin(tri)
            .select(col("n_edges_base"), col("n_edges_delta"), col("tri_base"),
              (col("t1") + col("t2") + col("t3")).as("tri_delta"),
              (col("tri_base") + col("t1") + col("t2") + col("t3"))
                .as("tri_total"))
        }
      }
    },
    Some(s"""
      WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_orderpriority = '1-URGENT'),
        e AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        f AS MATERIALIZED (SELECT a, b,
              ((a * 31 + b) % 10) >= 8 AS is_delta FROM e),
        bs AS MATERIALIZED (SELECT a, b FROM f WHERE NOT is_delta),
        tb AS (SELECT CAST(count(*) AS BIGINT) AS tri_base
               FROM bs e1 JOIN bs e2 ON e1.b = e2.a
                          JOIN bs e3 ON e1.a = e3.a AND e2.b = e3.b),
        tu AS (SELECT CAST(count(*) AS BIGINT) AS tri_total
               FROM f e1 JOIN f e2 ON e1.b = e2.a
                         JOIN f e3 ON e1.a = e3.a AND e2.b = e3.b)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM bs) AS n_edges_base,
             (SELECT CAST(count(*) AS BIGINT) FROM f WHERE is_delta)
               AS n_edges_delta,
             tb.tri_base,
             CAST(tu.tri_total - tb.tri_base AS BIGINT) AS tri_delta,
             tu.tri_total
      FROM tb, tu"""))

  override def queries: Seq[QueryDef] =
    Seq(pagerankSuppliers, triangleCount, bfsLevels, kcorePeel, labelProp,
      pprSeeds, assortativity, ssspDelay, hitsRank, linkPrediction,
      weightedPagerank, adamicAdar, powerLawFit, incrementalTriangles)
}
