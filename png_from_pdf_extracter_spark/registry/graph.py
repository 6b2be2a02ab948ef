"""Driver queries over ``functions/graph.py`` (graph algorithms)."""

from __future__ import annotations

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions.graph import (
    bfs_hops,
    degree_assortativity,
    graph_profile,
    hits,
    k_core,
    label_propagation,
    link_prediction_scores,
    markov_attribution,
    modularity,
    pagerank_fixed_point,
    rich_club,
    triangle_count,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


def _orders_graph(spark, sf_dir):
    """The shared orders-derived edge list (q_pagerank / q_triangles
    derivation): src=custkey, dst=orderkey%1500."""
    o = read(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _lpa_unrolled_sql(rounds: int = 3) -> str:
    """DuckDB oracle for ``q_label_prop``: the synchronous rounds are
    UNROLLED as chained CTEs (the ``_kcore_unrolled_sql`` trick — and
    the same AS MATERIALIZED warning: each round references the
    previous label table twice). Round semantics mirror
    graph.label_propagation exactly: majority vote over labeled
    neighbors, smallest label on ties, seeds clamped, no-vote keeps
    the previous label."""
    ctes = [
        """raw AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS src, (o_orderkey % 1500) AS dst
          FROM orders WHERE o_custkey <> (o_orderkey % 1500)
        )""",
        """sym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM raw
            UNION ALL SELECT dst AS a, src AS b FROM raw
          )
        )""",
        """l0 AS MATERIALIZED (
          SELECT DISTINCT c_custkey AS node, c_mktsegment AS label,
                 TRUE AS is_seed
          FROM customer WHERE c_custkey % 10 = 0
        )""",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""v{i} AS MATERIALIZED (
              SELECT s.a AS node, l.label AS nl, count(*)::BIGINT AS c
              FROM sym s JOIN l{p} l ON s.b = l.node
              GROUP BY s.a, l.label
            ),
            b{i} AS MATERIALIZED (
              SELECT node, nl AS vote FROM (
                SELECT node, nl, row_number() OVER (
                  PARTITION BY node ORDER BY c DESC, nl ASC) AS rn
                FROM v{i}
              ) WHERE rn = 1
            ),
            l{i} AS MATERIALIZED (
              SELECT coalesce(l.node, b.node) AS node,
                     CASE WHEN coalesce(l.is_seed, FALSE) THEN l.label
                          ELSE coalesce(b.vote, l.label) END AS label,
                     coalesce(l.is_seed, FALSE) AS is_seed
              FROM l{p} l FULL JOIN b{i} b ON l.node = b.node
            )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label, is_seed FROM l{rounds}"
        + " WHERE label IS NOT NULL"
    )


def _kcore_unrolled_sql(k: int = 4, rounds: int = 16) -> str:
    """DuckDB oracle for ``q_kcore``: k-core peeling removes rows, so it
    is not a monotone recursive CTE — instead the peel is UNROLLED as
    ``rounds`` chained CTEs, each keeping only edges whose two endpoints
    both still have degree >= k. Rounds past the fixpoint are no-ops
    (the keep-set stops changing), so the unroll IS the fixpoint while
    convergence <= ``rounds``; the derived orders graph converges in
    3-5 rounds at sf0.001-0.1, margin asserted in tests/test_graph.py.
    ``AS MATERIALIZED`` is load-bearing: each round references the
    previous one three times, and DuckDB's default CTE inlining would
    expand the chain 3^rounds-fold."""
    ctes = [
        """raw AS MATERIALIZED (
          SELECT DISTINCT (o_orderkey % m) AS a,
                          ((o_orderkey * 7 + o_custkey) % m) AS b
          FROM orders, (SELECT count(*) // 3 AS m FROM orders)
          WHERE (o_orderkey % m) <> ((o_orderkey * 7 + o_custkey) % m)
        )""",
        """e0 AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT a, b FROM raw UNION ALL SELECT b AS a, a AS b FROM raw
          )
        )""",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""k{i} AS MATERIALIZED (
              SELECT a FROM e{p} GROUP BY a HAVING count(*) >= {k}
            ),
            e{i} AS MATERIALIZED (
              SELECT e.a, e.b FROM e{p} e
              JOIN k{i} x ON e.a = x.a JOIN k{i} y ON e.b = y.a
            )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT a AS node, count(*)::BIGINT AS degree"
        + f" FROM e{rounds} GROUP BY a"
    )


@query(oracle="""
            WITH e AS (
              SELECT DISTINCT o_custkey AS src, o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
            r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank
                   FROM nodes),
            c1 AS (SELECT dst AS node, sum(rank // deg) AS in_sum
                   FROM e JOIN deg USING (src)
                   JOIN r0 ON e.src = r0.node GROUP BY dst),
            r1 AS (SELECT n.node,
                          CAST(150000000 + (85 * COALESCE(in_sum, 0)) // 100
                               AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
            c2 AS (SELECT dst AS node, sum(rank // deg) AS in_sum
                   FROM e JOIN deg USING (src)
                   JOIN r1 ON e.src = r1.node GROUP BY dst),
            r2 AS (SELECT n.node,
                          CAST(150000000 + (85 * COALESCE(in_sum, 0)) // 100
                               AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
            c3 AS (SELECT dst AS node, sum(rank // deg) AS in_sum
                   FROM e JOIN deg USING (src)
                   JOIN r2 ON e.src = r2.node GROUP BY dst)
            SELECT n.node,
                   CAST(150000000 + (85 * COALESCE(in_sum, 0)) // 100
                        AS BIGINT) AS rank
            FROM nodes n LEFT JOIN c3 ON n.node = c3.node
        """)
def _q_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank, 3 unrolled iterations (functions/
    graph.py) over a deterministic directed graph derived from orders
    (o_custkey -> o_orderkey % 1500). All rank arithmetic is scaled
    BIGINT with integer division, so the result is bit-exact across
    engines — the trick that makes an iterative float algorithm
    oracle-checkable. Per iteration: one join + one aggregate shuffle."""

    o = read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pagerank_fixed_point(edges, iters=3)


@query(oracle="""
            WITH e AS (
              SELECT DISTINCT o_custkey AS src, o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            -- iteration 1: hub_0 = 1
            a1 AS (SELECT dst AS node, count(*)::BIGINT AS auth
                   FROM e GROUP BY dst),
            h1 AS (SELECT src AS node, sum(COALESCE(a1.auth, 0))::BIGINT
                     AS hub
                   FROM e LEFT JOIN a1 ON e.dst = a1.node GROUP BY src),
            -- iteration 2
            a2 AS (SELECT dst AS node, sum(COALESCE(h1.hub, 0))::BIGINT
                     AS auth
                   FROM e LEFT JOIN h1 ON e.src = h1.node GROUP BY dst),
            h2 AS (SELECT src AS node, sum(COALESCE(a2.auth, 0))::BIGINT
                     AS hub
                   FROM e LEFT JOIN a2 ON e.dst = a2.node GROUP BY src)
            SELECT n.node,
                   COALESCE(h2.hub, 0)::BIGINT AS hub,
                   COALESCE(a2.auth, 0)::BIGINT AS auth
            FROM nodes n
            LEFT JOIN h2 ON n.node = h2.node
            LEFT JOIN a2 ON n.node = a2.node
        """)
def _q_hits(spark, sf_dir):
    """HITS hubs & authorities, 2 unrolled iterations (functions/graph.py
    hits) over the same deterministic orders-derived graph as q_pagerank.
    Unnormalized integer scores — the per-round L2 normalizer is a global
    positive scalar that cannot change rankings, so dropping it makes the
    iterative algorithm exactly oracle-checkable (BIGINT end to end)."""

    o = read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return hits(edges, iterations=2)


@query(oracle="""
            WITH e AS (
              SELECT DISTINCT least(o_custkey, o_orderkey % 1500) AS a,
                              greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            )
            SELECT node, count(*)::BIGINT AS n_triangles
            FROM (SELECT unnest([x, y, z]) AS node FROM tri)
            GROUP BY node
        """)
def _q_triangles(spark, sf_dir):
    """Per-node triangle counts on the orders-derived graph (same edge
    derivation as q_pagerank) via degree-ordered orientation
    (functions/graph.py triangle_count) — the hub-safe algorithm whose
    wedge fan-out is bounded O(sqrt(|E|)) per node; the oracle
    enumerates the identical triangle set with the naive canonical
    a<b<c three-way join."""

    o = read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return triangle_count(edges)


@query(oracle="""
            WITH RECURSIVE e AS (
              SELECT DISTINCT o_custkey AS src, o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            walk(node, d) AS (
              SELECT DISTINCT src AS node, 0 AS d FROM e WHERE src < 10
              UNION
              SELECT e.dst, w.d + 1 FROM walk w
              JOIN e ON e.src = w.node WHERE w.d < 3
            )
            SELECT node, min(d)::INTEGER AS hops
            FROM walk GROUP BY node
        """)
def _q_bfs_hops(spark, sf_dir):
    """Multi-source BFS 3-hop reachability (graph.bfs_hops) from seed
    nodes <10 over the orders-derived graph — frontier join + min
    combine per hop, exact integers; oracle is a recursive CTE."""

    o = read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = edges.select(F.col("src").alias("node")).filter(
        F.col("node") < 10
    )
    return bfs_hops(edges, seeds, max_hops=3)


@query(oracle=_kcore_unrolled_sql())
def _q_kcore(spark, sf_dir):
    """4-core of a SPARSE orders-derived graph (functions/graph.py
    k_core): modulus = n_orders/3 keeps mean degree ~6 at every scale,
    so the peel genuinely cascades (3-7 rounds measured at
    sf0.001-0.1) and a nonempty core survives. Iterative peel of
    degree<4 nodes — peeled-count convergence check before any join,
    then two broadcast anti-joins on the vanishing peeled set.
    ORACLED since r4 (r3 verdict #6): peeling removes rows, so it is
    not a monotone recursive CTE — instead the DuckDB oracle unrolls
    16 peel rounds as chained CTEs (rounds past the fixpoint are
    no-ops, so the unroll IS the fixpoint while convergence <= 16;
    observed max 7 with the margin asserted in tests/test_graph.py).
    The defining invariant (every survivor has degree >= k within the
    survivor set) and planted-graph pins also live there."""

    o = read(spark, sf_dir, "orders")
    mod = o.count() // 3
    edges = (
        o.select(
            (F.col("o_orderkey") % mod).alias("id1"),
            ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % mod).alias(
                "id2"
            ),
        )
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )
    return k_core(edges, k=4)


@query(pin="tests/test_graph.py::test_markov_hand_computed_chain")
def _q_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution (graph.markov_attribution):
    event types as channels, 'purchase' as the absorbing conversion —
    credit = how much P(convert) drops when the channel is removed.
    Rows-only by design (absorbing-chain solve on the channels²-bounded
    transition matrix; no SQL oracle) — hand-computed chains pinned in
    tests/test_graph.py."""

    ev = read(spark, sf_dir, "events")
    return markov_attribution(
        ev, "user_id", ("ts", "event_id"), "event_type", "purchase"
    )


@query(oracle=_lpa_unrolled_sql(rounds=3))
def _q_label_prop(spark, sf_dir):
    """Seeded label propagation, 3 synchronous rounds
    (functions/graph.py label_propagation) over the deterministic
    orders-derived graph (q_pagerank's): every 10th customer is
    clamped to its market segment; labels spread by majority vote
    with smallest-label tie-break. Deterministic rounds => the whole
    iteration is value-checked against 3 unrolled DuckDB CTEs."""

    o = read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    c = read(spark, sf_dir, "customer")
    seeds = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("node"),
        F.col("c_mktsegment").alias("label"),
    )
    return label_propagation(edges, seeds, rounds=3)


@query(oracle="""
            WITH und AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders
              WHERE o_custkey <> o_orderkey % 1500
            ),
            adj AS (
              SELECT a AS w, b AS n FROM und
              UNION ALL
              SELECT b AS w, a AS n FROM und
            ),
            deg AS (SELECT w, count(*)::BIGINT AS deg
                    FROM adj GROUP BY w),
            piv AS (
              SELECT w,
                     CAST(floor(1e6 / ln(deg::DOUBLE)) AS BIGINT) AS aa1,
                     CAST(floor(1e9 / deg::DOUBLE) AS BIGINT) AS ra1
              FROM deg WHERE deg >= 2 AND deg <= 10000
            ),
            wedge AS (
              SELECT adj.w, adj.n, piv.aa1, piv.ra1
              FROM adj JOIN piv ON adj.w = piv.w
            ),
            pairs AS (
              SELECT l.n AS u, r.n AS v, l.aa1, l.ra1
              FROM wedge l JOIN wedge r
                ON l.w = r.w AND l.n < r.n
            ),
            scored AS (
              SELECT u, v, count(*)::BIGINT AS common_neighbors,
                     sum(aa1)::BIGINT AS aa_num,
                     sum(ra1)::BIGINT AS ra_num
              FROM pairs GROUP BY u, v
            )
            SELECT s.u, s.v, s.common_neighbors, s.aa_num, s.ra_num,
                   coalesce(e.is_edge, false) AS is_edge
            FROM scored s
            LEFT JOIN (SELECT a AS u, b AS v, true AS is_edge FROM und) e
              ON s.u = e.u AND s.v = e.v
            WHERE s.common_neighbors >= 2
        """)
def _q_linkpred(spark, sf_dir):
    """Adamic-Adar + resource-allocation link prediction on the
    orders graph (functions/graph.py link_prediction_scores), kept to
    pairs sharing >= 2 neighbors: per-pivot quantized weights summed as
    BIGINTs (never a float sum over an unordered set); hub pivots
    above the cap dropped BEFORE the wedge join."""

    edges = _orders_graph(spark, sf_dir)
    return link_prediction_scores(edges).filter(
        F.col("common_neighbors") >= 2
    )


@query(oracle="""
            WITH und AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders
              WHERE o_custkey <> o_orderkey % 1500
            ),
            deg AS (
              SELECT node, count(*)::BIGINT AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b FROM und
              ) GROUP BY node
            ),
            e AS (
              SELECT da.deg AS da, db.deg AS db
              FROM und
              JOIN deg da ON und.a = da.node
              JOIN deg db ON und.b = db.node
            ),
            agg AS (
              SELECT count(*)::BIGINT AS m,
                     sum(da * db)::BIGINT AS s_jk,
                     sum(da + db)::BIGINT AS s_sum,
                     sum(da * da + db * db)::BIGINT AS s_sq
              FROM e
            )
            SELECT m, s_jk, s_sum, s_sq,
                   CASE WHEN 2 * m * s_sq - s_sum * s_sum <> 0 THEN
                     floor((4 * m * s_jk - s_sum * s_sum)::DOUBLE
                           / (2 * m * s_sq - s_sum * s_sum)::DOUBLE
                           * 1e6) / 1e6
                   END AS r_q6
            FROM agg
        """)
def _q_assortativity(spark, sf_dir):
    """Newman degree assortativity of the orders graph
    (functions/graph.py degree_assortativity) — r multiplied through
    by 4M^2 so every term is an exact BIGINT, zero transcendentals,
    one terminal division; the hub-wiring diagnostic read before any
    pair-generating operator."""

    return degree_assortativity(_orders_graph(spark, sf_dir))


@query(oracle="""
            WITH arcs AS (
              SELECT DISTINCT o_custkey AS src,
                              o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            canon AS (
              SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     count(*)::BIGINT AS dirs
              FROM arcs GROUP BY least(src, dst), greatest(src, dst)
            ),
            astat AS (
              SELECT count(*)::BIGINT AS n_edges,
                     sum(dirs)::BIGINT AS n_arcs,
                     sum(CASE WHEN dirs = 2 THEN 2 ELSE 0
                         END)::BIGINT AS recip
              FROM canon
            ),
            deg AS (
              SELECT node, count(*)::BIGINT AS d
              FROM (SELECT a AS node FROM canon
                    UNION ALL SELECT b FROM canon)
              GROUP BY node
            ),
            dstat AS (
              SELECT count(*)::BIGINT AS n_nodes,
                     sum(d * (d - 1))::BIGINT AS wedges2,
                     max(d)::BIGINT AS max_degree
              FROM deg
            ),
            tri AS (
              SELECT count(*)::BIGINT AS t FROM (
                SELECT e1.a FROM canon e1
                JOIN canon e2 ON e2.a = e1.b
                JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b)
            )
            SELECT n_nodes, n_edges, max_degree, t AS n_triangles,
              floor(2.0 * n_edges::DOUBLE
                    / (n_nodes::DOUBLE * (n_nodes::DOUBLE - 1.0))
                    * 1e6) / 1e6 AS density_q6,
              CASE WHEN wedges2 > 0 THEN
                floor((t * 3)::DOUBLE * 2.0 / wedges2::DOUBLE * 1e6)
                  / 1e6
              END AS clustering_q6,
              floor(recip::DOUBLE / n_arcs::DOUBLE * 1e6) / 1e6
                AS reciprocity_q6
            FROM astat, dstat, tri
        """)
def _q_graph_profile(spark, sf_dir):
    """One-row structural profile of the orders graph
    (functions/graph.py graph_profile): density, global clustering
    (3T over wedges, triangles via the degree-oriented hub-safe
    pipeline), directed reciprocity, max degree — the scale-risk card
    read before any pair-generating operator. All-BIGINT numerators;
    each ratio one exact float emit."""

    return graph_profile(_orders_graph(spark, sf_dir))


@query(oracle="""
            WITH e AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            nodes AS (
              SELECT DISTINCT node
              FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            ),
            comm AS (SELECT node, node % 10 AS c FROM nodes),
            intra AS (
              SELECT sum(CASE WHEN ca.c = cb.c THEN 1 ELSE 0
                         END)::BIGINT AS sum_ec
              FROM e JOIN comm ca ON e.a = ca.node
                     JOIN comm cb ON e.b = cb.node
            ),
            met AS (SELECT count(*)::BIGINT AS m_edges FROM e),
            deg AS (
              SELECT node, count(*)::BIGINT AS d
              FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
              GROUP BY node
            ),
            dc AS (
              SELECT c, sum(d)::BIGINT AS dcv
              FROM deg JOIN comm USING (node) GROUP BY c
            ),
            ds AS (
              SELECT count(*)::BIGINT AS n_communities,
                     sum(dcv * dcv)::BIGINT AS sdc2
              FROM dc
            )
            SELECT n_communities, m_edges,
              floor((4.0 * m_edges::DOUBLE * sum_ec::DOUBLE
                     - sdc2::DOUBLE)
                    / (4.0 * m_edges::DOUBLE * m_edges::DOUBLE)
                    * 1e6) / 1e6 AS q_modularity_q6
            FROM intra, met, ds
        """)
def _q_modularity(spark, sf_dir):
    """Newman modularity of the node%10 partition over the orders
    graph (functions/graph.py modularity): Q folded to
    (4m*sum_ec - sum_dc^2)/(4m^2) so both sums are BIGINTs and no
    float accumulates over the unordered community set. A hash
    partition scores ~0 — the null reference against which
    q_label_prop communities are judged."""

    edges = _orders_graph(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    comm = nodes.select(
        "node", (F.col("node") % 10).alias("community")
    )
    return modularity(edges, comm)


@query(oracle="""
            WITH e AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            deg AS (
              SELECT node, count(*)::BIGINT AS d
              FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
              GROUP BY node
            ),
            ee AS (
              SELECT da.d AS dda, db.d AS ddb
              FROM e JOIN deg da ON e.a = da.node
                     JOIN deg db ON e.b = db.node
            ),
            raw AS (
              SELECT 2 AS k,
                (SELECT count(*)::BIGINT FROM deg WHERE d > 2)
                  AS n_nodes_gt_k,
                (SELECT count(*)::BIGINT FROM ee
                 WHERE dda > 2 AND ddb > 2) AS n_edges_within
              UNION ALL
              SELECT 4,
                (SELECT count(*)::BIGINT FROM deg WHERE d > 4),
                (SELECT count(*)::BIGINT FROM ee
                 WHERE dda > 4 AND ddb > 4)
              UNION ALL
              SELECT 8,
                (SELECT count(*)::BIGINT FROM deg WHERE d > 8),
                (SELECT count(*)::BIGINT FROM ee
                 WHERE dda > 8 AND ddb > 8)
            )
            SELECT k, n_nodes_gt_k, n_edges_within,
              CASE WHEN n_nodes_gt_k >= 2 THEN
                floor(2.0 * n_edges_within::DOUBLE
                      / (n_nodes_gt_k::DOUBLE
                         * (n_nodes_gt_k::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS phi_q6
            FROM raw
        """)
def _q_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) at k=2,4,8 on the orders graph
    (functions/graph.py rich_club): do hubs wire to each other? The
    probe that predicts hub-join skew before it bites. Degree table
    joined to edges once; integer counts, phi the only float."""

    return rich_club(_orders_graph(spark, sf_dir), k_values=(2, 4, 8))
