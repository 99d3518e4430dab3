"""Round-5 query shapes: graph centrality (fixed-iteration weighted
PageRank, HITS), Pareto frontier (2-D skyline), per-series
autocorrelation, referential-integrity / domain-rule / chi-square /
PII data-quality screens, attribution + conversion timing, exact Gini
/ CUSUM / triangles / BFS / assortativity — and the second batch:
rank statistics (Spearman, Mann-Whitney, Welch's t, binned Kendall
tau-b, binned Theil-Sen), Kaplan-Meier churn survival, Benford
first-digit screen, token-distribution TVD drift, the deterministic
oracle-checked HyperLogLog, exact weighted percentiles, and
progressive-JPEG decode stats.

Registered through the same decorator as the main registry (the
`corpus_shapes.py` pattern) and appended AFTER the earlier rounds'
entries so the driver's checked-prefix stays stable across rounds.

Reference parity anchors:
  * the quality screen is the analytical form of the reference's
    silver-layer FOREIGN KEY + NOT NULL declarations
    (/root/reference/src/sql/create_silver_layer.sql:4,17-18), which
    SQLite declares but never enforces;
  * autocorrelation is the generic screen over the reference's
    append-only balance snapshot log
    (/root/reference/src/load/load.py:140) — "does yesterday's value
    predict today's";
  * PageRank and skyline are north-star analytics surface with no
    reference analog (cited to BASELINE.json north_star).

Determinism: PageRank is all-integer fixed-point (see ext/graph.py);
ACF uses exact DECIMAL moment sums with one fixed-order IEEE final
expression (the spend_trend_slopes idiom + second moments); the
skyline outputs raw stored values (no arithmetic), so every oracle
twin is hash-checkable. All count/sum outputs CAST to BIGINT (the r3
HUGEINT lesson, enforced by tools/dtype_audit.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .ext import graph as G
from .operators import skyline as SKY
from .operators import timeseries as TS
from .pipeline import quality as Q
from .corpus_shapes import _fold_sql, _TOKS

# DuckDB twin of one PageRank round: rank flowing r{i-1} -> r{i}.
# AS MATERIALIZED: without it DuckDB re-expands each chained CTE and
# the 3-round plan grows exponentially (memory: duckdb-materialized-ctes).
_PR_ROUND = """
    r{i} AS MATERIALIZED (
        SELECT n.node,
               CAST(150000000 + COALESCE(c.inw, 0) * 85 // 100
                    AS BIGINT) AS rank_q
        FROM (SELECT node FROM r0) n
        LEFT JOIN (
            SELECT e.dst AS node,
                   SUM(r.rank_q * e.w // o.outw) AS inw
            FROM r{j} r
            JOIN e ON r.node = e.src
            JOIN outw o ON e.src = o.src
            GROUP BY 1
        ) c USING (node)
    )"""


def _pagerank_oracle(iters: int = 3) -> str:
    rounds = ",".join(
        _PR_ROUND.format(i=i, j=i - 1) for i in range(1, iters + 1)
    )
    return f"""
    WITH e AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ), outw AS MATERIALIZED (
        SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY 1
    ), r0 AS MATERIALIZED (
        SELECT n_nationkey AS node,
               CAST(1000000000 AS BIGINT) AS rank_q
        FROM nation
    ),{rounds}
    SELECT n_name, rank_q
    FROM r{iters} JOIN nation ON node = n_nationkey
    ORDER BY rank_q DESC, n_name
    """


def register(_register) -> None:
    @_register(
        "pagerank_trade_graph",
        "north-star (weighted PageRank over the nation-level trade "
        "graph: the fact-scale work is the 4-way join + groupBy that "
        "BUILDS the edge list; 3 integer fixed-point rounds on the "
        "entity graph — ext/graph.py::pagerank; oracle = chained "
        "AS MATERIALIZED CTE rounds)",
        _pagerank_oracle(3),
    )
    def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        supp = load_table(spark, sf_dir, "supplier")
        nation = load_table(spark, sf_dir, "nation")
        edges = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .groupBy(
                F.col("c_nationkey").alias("src"),
                F.col("s_nationkey").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("w"))
        )
        nodes = nation.select(F.col("n_nationkey").alias("node"))
        ranks = G.pagerank(nodes, edges, iters=3)
        return (
            ranks.join(
                F.broadcast(nation),
                ranks["node"] == nation["n_nationkey"],
            )
            .select("n_name", "rank_q")
            .orderBy(F.desc("rank_q"), "n_name")
        )

    _PPR_ROUND = """
    p{i} AS MATERIALIZED (
        SELECT n.node,
               CAST(n.is_seed * 150000000
                    + COALESCE(c.inw, 0) * 85 // 100 AS BIGINT)
                 AS rank_q
        FROM p0n n
        LEFT JOIN (
            SELECT e.dst AS node,
                   SUM(r.rank_q * e.w // o.outw) AS inw
            FROM p{j} r
            JOIN e ON r.node = e.src
            JOIN outw o ON e.src = o.src
            GROUP BY 1
        ) c USING (node)
    )"""

    @_register(
        "ppr_trade_graph",
        "north-star (r9: PERSONALIZED PageRank over the nation trade "
        "graph — teleport mass returns to the EUROPE seed set, so "
        "ranks read as importance relative to European buyers; same "
        "integer fixed-point rounds and edge-build plan as "
        "pagerank_trade_graph — ext/graph.py::personalized_pagerank; "
        "oracle = chained AS MATERIALIZED CTE rounds with the "
        "seed-conditional teleport)",
        """
    WITH e AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ), outw AS MATERIALIZED (
        SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY 1
    ), p0n AS MATERIALIZED (
        SELECT n_nationkey AS node,
               CASE WHEN r_name = 'EUROPE' THEN 1 ELSE 0 END AS is_seed
        FROM nation JOIN region ON n_regionkey = r_regionkey
    ), p0 AS MATERIALIZED (
        SELECT node, CAST(is_seed AS BIGINT) * 1000000000 AS rank_q
        FROM p0n
    ),"""
        + ",".join(
            _PPR_ROUND.format(i=i, j=i - 1) for i in range(1, 4)
        )
        + """
    SELECT n_name, rank_q
    FROM p3 JOIN nation ON node = n_nationkey
    ORDER BY rank_q DESC, n_name
    """,
    )
    def q_ppr_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        supp = load_table(spark, sf_dir, "supplier")
        nation = load_table(spark, sf_dir, "nation")
        region = load_table(spark, sf_dir, "region")
        edges = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .groupBy(
                F.col("c_nationkey").alias("src"),
                F.col("s_nationkey").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("w"))
        )
        nodes = nation.select(F.col("n_nationkey").alias("node"))
        seeds = (
            nation.join(
                F.broadcast(region),
                nation["n_regionkey"] == region["r_regionkey"],
            )
            .filter(F.col("r_name") == "EUROPE")
            .select(F.col("n_nationkey").alias("node"))
        )
        ranks = G.personalized_pagerank(nodes, edges, seeds, iters=3)
        return (
            ranks.join(
                F.broadcast(nation),
                ranks["node"] == nation["n_nationkey"],
            )
            .select("n_name", "rank_q")
            .orderBy(F.desc("rank_q"), "n_name")
        )

    @_register(
        "skyline_parts",
        "north-star (2-D Pareto frontier, min price / max size: "
        "bucketed partitioned-window skyline — operators/skyline.py; "
        "oracle = textbook NOT EXISTS dominance self-join, so the "
        "scalable plan is verified against the naive definition)",
        """
        WITH pairs AS (
            SELECT p_retailprice AS price, p_size AS size,
                   CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM part
            WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT price, size, n_parts FROM pairs a
        WHERE NOT EXISTS (
            SELECT 1 FROM pairs b
            WHERE b.price <= a.price AND b.size >= a.size
              AND (b.price < a.price OR b.size > a.size))
        ORDER BY price
        """,
    )
    def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
        part = load_table(spark, sf_dir, "part")
        return SKY.skyline_2d(part, "p_retailprice", "p_size").select(
            F.col("cost").alias("price"),
            F.col("benefit").alias("size"),
            F.col("n_rows").alias("n_parts"),
        )

    @_register(
        "acf_event_values",
        "north-star (per-type autocorrelation at lags 1..3 over the "
        "event value series: ONE partitioned window for the leads, "
        "exact DECIMAL moment sums, fixed-order IEEE Pearson — "
        "operators/timeseries.py::autocorrelation)",
        """
        WITH s AS (
            SELECT event_type,
                   CAST(floor(value * 1000 + 0.5) AS BIGINT) AS x,
                   LEAD(CAST(floor(value * 1000 + 0.5) AS BIGINT), 1)
                     OVER w AS y1,
                   LEAD(CAST(floor(value * 1000 + 0.5) AS BIGINT), 2)
                     OVER w AS y2,
                   LEAD(CAST(floor(value * 1000 + 0.5) AS BIGINT), 3)
                     OVER w AS y3
            FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        ), p AS (
            SELECT event_type, lag_k, x, y FROM (
                SELECT event_type, 1 AS lag_k, x, y1 AS y FROM s
                UNION ALL
                SELECT event_type, 2 AS lag_k, x, y2 AS y FROM s
                UNION ALL
                SELECT event_type, 3 AS lag_k, x, y3 AS y FROM s
            ) WHERE y IS NOT NULL
        ), m AS (
            SELECT event_type, lag_k,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS DOUBLE) AS syy
            FROM p GROUP BY 1, 2
        )
        SELECT event_type, lag_k, n_pairs,
               CASE WHEN CAST(n_pairs AS DOUBLE) * sxx - sx * sx > 0
                     AND CAST(n_pairs AS DOUBLE) * syy - sy * sy > 0 THEN
                 CAST(floor(
                   (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                   / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                      * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy))
                   * 1000000.0) AS BIGINT)
               END AS acf_ppm
        FROM m ORDER BY event_type, lag_k
        """,
    )
    def q_acf_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        return TS.autocorrelation(
            events,
            ["event_type"],
            "ts",
            "value",
            order_tiebreak="event_id",
            max_lag=3,
        ).withColumnRenamed("lag", "lag_k")

    @_register(
        "referential_integrity_screen",
        "A6/north-star (the silver-layer FK + NOT NULL declarations "
        "run as an analytical screen: 4 left-anti orphan counts + one "
        "wide conditional-agg pass per table — pipeline/quality.py::"
        "rule_screen / fk_orphan_count; reference declares these "
        "constraints but SQLite never enforces them, "
        "create_silver_layer.sql:17-18)",
        """
        SELECT * FROM (
            SELECT 'fk(lineitem.l_orderkey->orders)' AS check_name,
                   CAST((SELECT COUNT(*) FROM lineitem l
                         WHERE NOT EXISTS (SELECT 1 FROM orders o
                                           WHERE o.o_orderkey = l.l_orderkey))
                        AS BIGINT) AS n_violations
            UNION ALL
            SELECT 'fk(lineitem.l_partkey->part)',
                   CAST((SELECT COUNT(*) FROM lineitem l
                         WHERE NOT EXISTS (SELECT 1 FROM part p
                                           WHERE p.p_partkey = l.l_partkey))
                        AS BIGINT)
            UNION ALL
            SELECT 'fk(lineitem.l_suppkey->supplier)',
                   CAST((SELECT COUNT(*) FROM lineitem l
                         WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                           WHERE s.s_suppkey = l.l_suppkey))
                        AS BIGINT)
            UNION ALL
            SELECT 'fk(orders.o_custkey->customer)',
                   CAST((SELECT COUNT(*) FROM orders o
                         WHERE NOT EXISTS (SELECT 1 FROM customer c
                                           WHERE c.c_custkey = o.o_custkey))
                        AS BIGINT)
            UNION ALL
            SELECT 'in_range(l_quantity,1,50)',
                   CAST(COALESCE(SUM(CASE WHEN NOT (l_quantity >= 1
                                           AND l_quantity <= 50)
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'in_range(l_discount,0,1)',
                   CAST(COALESCE(SUM(CASE WHEN NOT (l_discount >= 0
                                           AND l_discount <= 1)
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'not_null(l_shipdate)',
                   CAST(COALESCE(SUM(CASE WHEN l_shipdate IS NULL
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'positive(o_totalprice)',
                   CAST(COALESCE(SUM(CASE WHEN NOT (o_totalprice > 0)
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'accepted_values(o_orderstatus)',
                   CAST(COALESCE(SUM(CASE WHEN NOT (o_orderstatus IN ('O','F','P')
                                           OR o_orderstatus IS NULL)
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM orders
        ) ORDER BY check_name
        """,
    )
    def q_referential_integrity_screen(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        li_rules = Q.rule_screen(
            li,
            [
                Q.in_range("l_quantity", 1, 50),
                Q.in_range("l_discount", 0, 1),
                Q.not_null("l_shipdate"),
            ],
        )
        ord_rules = Q.rule_screen(
            orders,
            [
                Q.Rule("positive(o_totalprice)", F.col("o_totalprice") > 0),
                Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
            ],
        )
        fks = [
            Q.fk_orphan_count(
                li,
                orders,
                "l_orderkey",
                "o_orderkey",
                "fk(lineitem.l_orderkey->orders)",
            ),
            Q.fk_orphan_count(
                li,
                load_table(spark, sf_dir, "part"),
                "l_partkey",
                "p_partkey",
                "fk(lineitem.l_partkey->part)",
            ),
            Q.fk_orphan_count(
                li,
                load_table(spark, sf_dir, "supplier"),
                "l_suppkey",
                "s_suppkey",
                "fk(lineitem.l_suppkey->supplier)",
            ),
            Q.fk_orphan_count(
                orders,
                load_table(spark, sf_dir, "customer"),
                "o_custkey",
                "c_custkey",
                "fk(orders.o_custkey->customer)",
            ),
        ]
        out = li_rules.unionByName(ord_rules)
        for f in fks:
            out = out.unionByName(f)
        return out.orderBy("check_name")

    @_register(
        "chi_square_lang_source",
        "north-star (chi-square independence of lang × source over "
        "documents — the contingency twin of distribution_drift_ks; "
        "per-cell (o−e)²/e floored to ppm from exact counts so the "
        "final SUM is exact BIGINT — pipeline/quality.py::"
        "chi_square_independence)",
        """
        WITH c AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2
        ), rt AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl
            FROM documents GROUP BY 1
        ), ct AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
            FROM documents GROUP BY 1
        ), n AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents
        ), t AS (
            SELECT rt.lang, ct.source,
                   CAST(COALESCE(c.o, 0) AS DOUBLE) AS o,
                   CAST(rt.nl * ct.ns AS DOUBLE) / CAST(n.nn AS DOUBLE) AS e,
                   n.nn AS nn
            FROM rt CROSS JOIN ct
            LEFT JOIN c ON c.lang = rt.lang AND c.source = ct.source
            CROSS JOIN n
        ), agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                   CAST((COUNT(DISTINCT lang) - 1)
                        * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
                   CAST(SUM(CAST(floor((o - e) * (o - e) / e * 1000000.0)
                                 AS BIGINT)) AS BIGINT) AS chi2_ppm,
                   MAX(nn) AS nn,
                   CAST(least(COUNT(DISTINCT lang) - 1,
                              COUNT(DISTINCT source) - 1) AS BIGINT) AS k
            FROM t
        )
        SELECT n_cells,
               CASE WHEN n_cells > 0 THEN dof END AS dof,
               chi2_ppm,
               CASE WHEN n_cells > 0 AND k > 0 THEN
                 CAST(floor(sqrt(CAST(chi2_ppm AS DOUBLE) / 1000000.0
                                 / CAST(nn * k AS DOUBLE)) * 1000000.0)
                      AS BIGINT)
               END AS cramers_v_ppm
        FROM agg
        """,
    )
    def q_chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return Q.chi_square_independence(docs, "lang", "source")

    @_register(
        "pii_pattern_screen",
        "north-star/GDPR Art. 4(1) (PII-pattern discovery scan over "
        "three text surfaces — the screen that tells you where "
        "erase_keys/pseudonymize_columns must run; cross-engine-safe "
        "regex family, one conditional-agg pass per surface — "
        "pipeline/erasure.py::pii_pattern_counts)",
        """
        WITH srf AS (
            SELECT 'customer.c_name' AS surface, c_name AS t FROM customer
        ), pats AS (
            SELECT * FROM (VALUES
                ('email', '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'),
                ('id_token', '[0-9]{6,}')
            ) AS v(pattern, re)
        ), a AS (
            -- patterns LEFT JOIN surface: an EMPTY surface still emits
            -- one zero-count row per pattern (matching the Spark
            -- global-agg shape); COUNT(t) counts scannable texts
            SELECT 'customer.c_name' AS surface, pattern,
                   CAST(COUNT(t) AS BIGINT) AS n_rows,
                   CAST(COALESCE(SUM(CASE WHEN len(regexp_extract_all(t, re)) > 0
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_rows_matching,
                   CAST(COALESCE(SUM(len(regexp_extract_all(t, re))), 0) AS BIGINT)
                     AS n_matches
            FROM pats LEFT JOIN srf ON TRUE GROUP BY 1, 2
        ), srf2 AS (
            SELECT 'events.props' AS surface, props AS t FROM events
        ), pats2 AS (
            SELECT * FROM (VALUES
                ('email', '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'),
                ('number', '[0-9]+')
            ) AS v(pattern, re)
        ), b AS (
            -- patterns LEFT JOIN surface: an EMPTY surface still emits
            -- one zero-count row per pattern (matching the Spark
            -- global-agg shape); COUNT(t) counts scannable texts
            SELECT 'events.props' AS surface, pattern,
                   CAST(COUNT(t) AS BIGINT) AS n_rows,
                   CAST(COALESCE(SUM(CASE WHEN len(regexp_extract_all(t, re)) > 0
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_rows_matching,
                   CAST(COALESCE(SUM(len(regexp_extract_all(t, re))), 0) AS BIGINT)
                     AS n_matches
            FROM pats2 LEFT JOIN srf2 ON TRUE GROUP BY 1, 2
        ), srf3 AS (
            SELECT 'documents.text' AS surface, text AS t FROM documents
        ), pats3 AS (
            SELECT * FROM (VALUES
                ('email', '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'),
                ('phone', '\\+?[0-9][0-9 ()-]{7,}[0-9]')
            ) AS v(pattern, re)
        ), c AS (
            -- patterns LEFT JOIN surface: an EMPTY surface still emits
            -- one zero-count row per pattern (matching the Spark
            -- global-agg shape); COUNT(t) counts scannable texts
            SELECT 'documents.text' AS surface, pattern,
                   CAST(COUNT(t) AS BIGINT) AS n_rows,
                   CAST(COALESCE(SUM(CASE WHEN len(regexp_extract_all(t, re)) > 0
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_rows_matching,
                   CAST(COALESCE(SUM(len(regexp_extract_all(t, re))), 0) AS BIGINT)
                     AS n_matches
            FROM pats3 LEFT JOIN srf3 ON TRUE GROUP BY 1, 2
        )
        SELECT * FROM (
            SELECT * FROM a UNION ALL
            SELECT * FROM b UNION ALL
            SELECT * FROM c
        ) ORDER BY surface, pattern
        """,
    )
    def q_pii_pattern_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .pipeline import erasure as ER

        P = ER.PII_PATTERNS
        cust = ER.pii_pattern_counts(
            load_table(spark, sf_dir, "customer"),
            "c_name",
            {"email": P["email"], "id_token": P["id_token"]},
            "customer.c_name",
        )
        ev = ER.pii_pattern_counts(
            load_table(spark, sf_dir, "events"),
            "props",
            {"email": P["email"], "number": P["number"]},
            "events.props",
        )
        docs = ER.pii_pattern_counts(
            load_table(spark, sf_dir, "documents"),
            "text",
            {"email": P["email"], "phone": P["phone"]},
            "documents.text",
        )
        return (
            cust.unionByName(ev)
            .unionByName(docs)
            .orderBy("surface", "pattern")
        )

    @_register(
        "hits_customer_supplier",
        "north-star (HITS hubs/authorities on the customer<->supplier "
        "bipartite purchase graph, 2 max-normalized rounds: exact "
        "DECIMAL edge sums + fixed-order IEEE normalization — "
        "ext/graph.py::hits_bipartite; oracle = chained AS "
        "MATERIALIZED half-rounds)",
        """
        WITH e AS MATERIALIZED (
            SELECT o.o_custkey AS l, li.l_suppkey AS r,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ), h0 AS MATERIALIZED (
            SELECT DISTINCT l, CAST(1000000 AS BIGINT) AS s FROM e
        ), a1r AS MATERIALIZED (
            SELECT e.r, SUM(h.s * e.w) AS raw
            FROM h0 h JOIN e ON h.l = e.l GROUP BY 1
        ), a1 AS MATERIALIZED (
            SELECT r, CAST(floor(CAST(raw AS DOUBLE) * 1000000.0
                     / CAST((SELECT MAX(raw) FROM a1r) AS DOUBLE))
                     AS BIGINT) AS s
            FROM a1r
        ), h1r AS MATERIALIZED (
            SELECT e.l, SUM(a.s * e.w) AS raw
            FROM a1 a JOIN e ON a.r = e.r GROUP BY 1
        ), h1 AS MATERIALIZED (
            SELECT l, CAST(floor(CAST(raw AS DOUBLE) * 1000000.0
                     / CAST((SELECT MAX(raw) FROM h1r) AS DOUBLE))
                     AS BIGINT) AS s
            FROM h1r
        ), a2r AS MATERIALIZED (
            SELECT e.r, SUM(h.s * e.w) AS raw
            FROM h1 h JOIN e ON h.l = e.l GROUP BY 1
        ), a2 AS MATERIALIZED (
            SELECT r, CAST(floor(CAST(raw AS DOUBLE) * 1000000.0
                     / CAST((SELECT MAX(raw) FROM a2r) AS DOUBLE))
                     AS BIGINT) AS s
            FROM a2r
        )
        SELECT s_name, a2.s AS authority_q
        FROM a2 JOIN supplier ON r = s_suppkey
        ORDER BY authority_q DESC, s_name LIMIT 20
        """,
    )
    def q_hits_customer_supplier(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.shared import shared_frame

        supp = load_table(spark, sf_dir, "supplier")

        def build_edges() -> DataFrame:
            li = load_table(spark, sf_dir, "lineitem")
            orders = load_table(spark, sf_dir, "orders")
            return (
                li.join(
                    orders, li["l_orderkey"] == orders["o_orderkey"]
                )
                .groupBy(
                    F.col("o_custkey").alias("l"),
                    F.col("l_suppkey").alias("r"),
                )
                .agg(F.count(F.lit(1)).alias("w"))
            )

        # the customer<->supplier purchase-count graph is a bounded
        # genuine intermediate (entity x entity, collapsed from the
        # fact table by the groupBy) — the materialized-view pattern:
        # the fact-scale join runs once per session, the HITS rounds
        # compute on top of it every call
        edges = shared_frame(
            spark, f"hits_cust_supp_edges::{sf_dir}", build_edges
        )
        _, auth = G.hits_bipartite(
            edges, rounds=2, left_col="l", right_col="r", weight_col="w"
        )
        return (
            auth.join(F.broadcast(supp), auth["r"] == supp["s_suppkey"])
            .select("s_name", F.col("score_q").alias("authority_q"))
            .orderBy(F.desc("authority_q"), "s_name")
            .limit(20)
        )

    @_register(
        "multi_touch_attribution",
        "C6/north-star (linear multi-touch attribution: purchase "
        "credit split exactly across the preceding hour's touches — "
        "10^6 DIV n ppm each, remainder to the earliest touch so "
        "every purchase sums to exactly 10^6; the multi-touch twin "
        "of interval_join_attribution — operators/behavioral.py::"
        "multi_touch_attribution)",
        """
        WITH t AS (
            SELECT user_id, ts AS tts, event_id AS tid, event_type AS ch
            FROM events WHERE event_type IN ('view', 'click')
        ), p AS (
            SELECT user_id, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'
        ), j AS (
            SELECT p.pid, t.ch, t.tts, t.tid
            FROM p JOIN t ON p.user_id = t.user_id
             AND t.tts <= p.pts
             AND t.tts >= p.pts - INTERVAL 3600 SECOND
        ), r AS (
            SELECT pid, ch,
                   CAST(COUNT(*) OVER (PARTITION BY pid) AS BIGINT) AS n,
                   ROW_NUMBER() OVER (PARTITION BY pid
                                      ORDER BY tts, tid) AS rk
            FROM j
        )
        SELECT ch AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(1000000 // n
                    + CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END)
                    AS BIGINT) AS credit_ppm
        FROM r GROUP BY 1 ORDER BY 1
        """,
    )
    def q_multi_touch_attribution(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import behavioral as BH

        ev = load_table(spark, sf_dir, "events")
        return BH.multi_touch_attribution(
            ev.filter(F.col("event_type").isin("view", "click")),
            ev.filter(F.col("event_type") == "purchase"),
            max_gap_seconds=3600,
        )

    @_register(
        "classifier_bias_audit",
        "north-star (per-language acceptance-rate fairness audit of "
        "the hashed quality classifier: integer accept_ppm + lift vs "
        "overall as a 1-row broadcast — ext/corpus.py::"
        "acceptance_bias_audit over hashed_quality_scores)",
        rf"""
        WITH d AS (
            SELECT doc_id, lang, {_TOKS} AS toks
            FROM documents WHERE trim(text) <> ''
        ), w AS (
            SELECT doc_id, lang,
                   CAST(COALESCE(list_sum(
                     list_transform(
                       list_transform(toks, t -> {_fold_sql('t')}),
                       h -> ((h % 4096) * 1103515245 + 12345) % 2001 - 1000)
                   ), 0) AS BIGINT) AS score
            FROM d
        ), s AS (
            SELECT doc_id, lang, (score >= 0) AS accept FROM w
        ), per AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN accept THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_accepted
            FROM s GROUP BY 1
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS tn,
                   CAST(SUM(CASE WHEN accept THEN 1 ELSE 0 END) AS BIGINT)
                     AS ta
            FROM s
        )
        SELECT lang, n_docs, n_accepted,
               CAST(n_accepted * 1000000 // n_docs AS BIGINT) AS accept_ppm,
               CASE WHEN ta > 0 THEN
                 CAST((n_accepted * 1000000 // n_docs) * 1000000
                      // (ta * 1000000 // tn) AS BIGINT)
               END AS lift_ppm
        FROM per CROSS JOIN tot ORDER BY lang
        """,
    )
    def q_classifier_bias_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext import corpus as CP

        docs = load_table(spark, sf_dir, "documents")
        return CP.acceptance_bias_audit(
            CP.hashed_quality_scores(docs), docs.select("doc_id", "lang")
        )

    @_register(
        "gini_spend_concentration",
        "north-star (exact Gini coefficient of per-customer spend — "
        "the inequality/concentration screen over the customer base; "
        "distinct-value grain + range-bucket rank offsets, NO global "
        "window — operators/fin.py::gini_concentration)",
        """
        WITH t AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS spend
            FROM orders GROUP BY 1
        ), r AS (
            SELECT spend, ROW_NUMBER() OVER (ORDER BY spend) AS rk FROM t
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(spend) AS BIGINT) AS total_cents,
               CAST(((2 * SUM(rk * spend) - (COUNT(*) + 1) * SUM(spend))
                     * 1000000) // (COUNT(*) * SUM(spend)) AS BIGINT)
                 AS gini_ppm
        FROM r
        """,
    )
    def q_gini_spend_concentration(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import fin as FIN

        orders = load_table(spark, sf_dir, "orders")
        totals = orders.groupBy("o_custkey").agg(
            F.sum(FIN._cents("o_totalprice")).alias("spend_cents")
        )
        return FIN.gini_concentration(totals, "spend_cents")

    @_register(
        "cusum_daily_events",
        "north-star (per-event-type CUSUM changepoint on the daily "
        "volume series: the day the cumulative deviation from the "
        "series mean peaks, integer-scaled, earliest-day tiebreak — "
        "operators/timeseries.py::cusum_changepoint)",
        """
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
            GROUP BY 1, 2
        ), c AS (
            SELECT event_type, day,
                   SUM(x) OVER (PARTITION BY event_type ORDER BY day) AS cum,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY day) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   SUM(x) OVER (PARTITION BY event_type) AS tot
            FROM d
        ), v AS (
            SELECT event_type, day, n, tot,
                   CAST(n * cum - i * tot AS BIGINT) AS s
            FROM c
        ), p AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY abs(s) DESC, day ASC) AS rn
            FROM v
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_points,
               CAST(tot AS BIGINT) AS total_x,
               strftime(day, '%Y-%m-%d') AS cp_t,
               s AS cusum_peak,
               CASE WHEN tot > 0 THEN
                 CAST((CAST(abs(s) AS HUGEINT) * 1000000)
                      // (CAST(n AS HUGEINT) * tot) AS BIGINT)
               END AS strength_ppm
        FROM p WHERE rn = 1 ORDER BY event_type
        """,
    )
    def q_cusum_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        daily = (
            ev.filter(
                F.col("event_type").isNotNull() & F.col("ts").isNotNull()
            )
            .groupBy(
                "event_type", F.to_date("ts").alias("day")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("x"))
        )
        return TS.cusum_changepoint(
            daily, "event_type", "day", "x"
        ).withColumn("cp_t", F.date_format("cp_t", "yyyy-MM-dd"))

    def _copurchase_sup_shared(spark: SparkSession, sf_dir: str):
        """Session-scoped (a, b, sup) co-purchase edge memo
        (ext/shared.py::copurchase_sup — the r6 A/B-measured
        collect_set + map-side pair-explosion build): SEVEN registry
        queries consume this identical bounded edge set (triangles,
        BFS, assortativity, k-core, SSSP, LPA communities,
        modularity), plus the SCC pair restriction and FBT's top-N
        view; each previously re-derived it from lineitem (~1–1.5 s
        each in the sf0.1 suite). Build once per session per sf_dir,
        serve a flat parquet scan after — the materialized-view
        posture a 100 TB warehouse would take for a graph this many
        workloads share. Queries stay self-contained oracle units:
        first consumer builds, results are bit-identical either way."""
        from .ext.shared import copurchase_sup

        return copurchase_sup(spark, sf_dir)

    def _copurchase_shared(
        spark: SparkSession, sf_dir: str, a_col: str = "a", b_col: str = "b"
    ):
        e = _copurchase_sup_shared(spark, sf_dir)
        return e.select(F.col("a").alias(a_col), F.col("b").alias(b_col))

    def _lpa_labels_shared(spark: SparkSession, sf_dir: str):
        """Session-scoped 4-round LPA labeling of the shared
        co-purchase graph — `communities_copurchase` and
        `modularity_copurchase` run the IDENTICAL deterministic
        labeling (synchronous LPA with the windowless struct-max
        tie-break is bit-stable under any partitioning, so the memo
        is safe by construction); previously modularity re-ran all 4
        join+agg rounds (~2.5 s at sf0.1) that communities had just
        computed."""
        from .ext.shared import shared_frame

        return shared_frame(
            spark,
            f"copurchase_lpa4::{sf_dir}",
            lambda: G.label_propagation(
                _copurchase_shared(spark, sf_dir, "pa", "pb"),
                rounds=4,
                a_col="pa",
                b_col="pb",
            ),
        )

    @_register(
        "triangle_count_copurchase",
        "north-star (exact triangle count + global clustering of the "
        "support-2 co-purchase part graph: degree-oriented "
        "compact-forward wedge join, O(sqrt m) out-degree bound, no "
        "all-pairs — ext/graph.py::triangle_stats)",
        """
        WITH items AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ), e AS (
            SELECT a.p AS pa, b.p AS pb
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), deg AS (
            SELECT n, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT pa AS n FROM e UNION ALL SELECT pb FROM e)
            GROUP BY 1
        ), tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM e e1
            JOIN e e2 ON e1.pb = e2.pa
            JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ), sc AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
            FROM deg
        ), ec AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e
        )
        SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
               CASE WHEN n_wedges > 0 THEN
                 CAST((3 * t * 1000000) // n_wedges AS BIGINT)
               END AS clustering_ppm
        FROM sc CROSS JOIN ec CROSS JOIN tri
        """,
    )
    def q_triangle_count_copurchase(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        return G.triangle_stats(_copurchase_shared(spark, sf_dir))

    # shared CTE prefix: the support-2 co-purchase part graph (edges
    # a<b) — same graph as triangle_count_copurchase's oracle
    _COPURCHASE_E = """
        items AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ), e AS (
            SELECT a.p AS pa, b.p AS pb
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        )"""

    def _bfs_oracle(max_hops: int) -> str:
        rounds = []
        for r in range(1, max_hops + 1):
            rounds.append(
                f"""d{r} AS MATERIALIZED (
            SELECT n, MIN(hd) AS hd FROM (
                SELECT n, hd FROM d{r - 1}
                UNION ALL
                SELECT es.ed AS n, d{r - 1}.hd + 1 AS hd
                FROM d{r - 1} JOIN es ON d{r - 1}.n = es.es
            ) GROUP BY n
        )"""
            )
        return (
            "WITH "
            + _COPURCHASE_E
            + """, es AS (
            SELECT pa AS es, pb AS ed FROM e
            UNION ALL SELECT pb, pa FROM e
        ), d0 AS MATERIALIZED (
            SELECT DISTINCT p_partkey AS n, 0 AS hd FROM part
            WHERE p_brand = 'Brand#11'
        ), """
            + ",\n        ".join(rounds)
            + f"""
        SELECT CAST(hd AS INT) AS hops, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM d{max_hops} GROUP BY 1 ORDER BY 1
        """
        )

    @_register(
        "bfs_copurchase_reach",
        "north-star (multi-source BFS blast radius: min hop distance "
        "from every Brand#11 part over the symmetrized support-2 "
        "co-purchase graph, 3 fixed frontier rounds, localCheckpoint "
        "lineage — ext/graph.py::bfs_hops; oracle = chained "
        "AS MATERIALIZED min-agg rounds)",
        _bfs_oracle(3),
    )
    def q_bfs_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
        part = load_table(spark, sf_dir, "part")
        e = _copurchase_shared(spark, sf_dir, "pa", "pb")
        sym = e.select(
            F.col("pa").alias("src"), F.col("pb").alias("dst")
        ).unionByName(
            e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        srcs = part.filter(F.col("p_brand") == "Brand#11").select(
            F.col("p_partkey").alias("node")
        )
        hops = G.bfs_hops(srcs, sym, max_hops=3)
        return (
            hops.groupBy(F.col("hops").cast("int").alias("hops"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .orderBy("hops")
        )

    @_register(
        "assortativity_copurchase",
        "north-star (degree assortativity of the support-2 "
        "co-purchase graph: Pearson over symmetric endpoint-degree "
        "pairs — a ratio of exact integers, no sqrt/IEEE anywhere — "
        "ext/graph.py::degree_assortativity)",
        "WITH "
        + _COPURCHASE_E
        + """, deg AS (
            SELECT n, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT pa AS n FROM e UNION ALL SELECT pb FROM e)
            GROUP BY 1
        ), ed AS (
            SELECT da.d AS dda, db.d AS ddb
            FROM e JOIN deg da ON da.n = e.pa JOIN deg db ON db.n = e.pb
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS ne,
                   CAST(SUM(dda + ddb) AS BIGINT) AS sx,
                   CAST(SUM(dda * dda + ddb * ddb) AS BIGINT) AS sxx,
                   CAST(SUM(2 * dda * ddb) AS BIGINT) AS sxy
            FROM ed
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg
        )
        -- DuckDB // TRUNCATES on integers; emulate FLOOR (the Spark
        -- side's pmod form) so negative coefficients agree exactly
        SELECT n_nodes, ne AS n_edges,
               CASE WHEN (2 * ne * sxx - sx * sx) > 0 THEN
                 CAST((((2 * ne * sxy - sx * sx) * 1000000)
                       - (((((2 * ne * sxy - sx * sx) * 1000000)
                            % (2 * ne * sxx - sx * sx))
                           + (2 * ne * sxx - sx * sx))
                          % (2 * ne * sxx - sx * sx)))
                      // (2 * ne * sxx - sx * sx) AS BIGINT)
               END AS assortativity_ppm
        FROM m CROSS JOIN nn
        """,
    )
    def q_assortativity_copurchase(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        return G.degree_assortativity(_copurchase_shared(spark, sf_dir))

    def _kcore_oracle(k: int, rounds: int) -> str:
        """Unrolled simultaneous-peel twin of ext/graph.py::k_core:
        each round drops every node of current degree < k and the
        edges touching it. `rounds` chained rounds reproduce the
        Spark side's "≤ max_rounds peels, early-stop at fixpoint"
        contract exactly — past the fixpoint a round is a no-op, and
        below it both engines have run the identical prefix (the BFS
        hop-cap always-agree construction)."""
        parts = ["e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM e)"]
        for r in range(1, rounds + 1):
            parts.append(
                f"""a{r} AS MATERIALIZED (
            SELECT n FROM (SELECT a AS n FROM e{r - 1}
                           UNION ALL SELECT b FROM e{r - 1})
            GROUP BY n HAVING COUNT(*) >= {k}
        )"""
            )
            parts.append(
                f"""e{r} AS MATERIALIZED (
            SELECT a, b FROM e{r - 1}
            WHERE a IN (SELECT n FROM a{r})
              AND b IN (SELECT n FROM a{r})
        )"""
            )
        return (
            "WITH "
            + _COPURCHASE_E
            + ", "
            + ",\n        ".join(parts)
            + f"""
        SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM (SELECT a AS n FROM e{rounds}
              UNION ALL SELECT b FROM e{rounds})
        GROUP BY n
        """
        )

    @_register(
        "k_core_copurchase",
        "north-star (3-core of the co-purchase graph: simultaneous "
        "peeling to fixpoint — each round drops ALL degree<3 nodes at "
        "once; completes the graph family's standard set alongside "
        "pagerank/HITS/triangles/BFS/assortativity/CC — "
        "ext/graph.py::k_core; oracle = unrolled chained-CTE peels "
        "under the BFS-style round-cap always-agree contract)",
        _kcore_oracle(3, 12),
    )
    def q_k_core_copurchase(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        return G.k_core(
            _copurchase_shared(spark, sf_dir), k=3, max_rounds=12
        )

    @_register(
        "conversion_latency",
        "C6/north-star (time-to-convert distribution: whole-second "
        "latency from each purchase's FIRST in-window touch, exact "
        "interpolated percentiles per first-touch channel — "
        "operators/behavioral.py::conversion_latency)",
        """
        WITH t AS (
            SELECT user_id, ts AS tts, event_id AS tid, event_type AS ch
            FROM events WHERE event_type IN ('view', 'click')
        ), p AS (
            SELECT user_id, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'
        ), j AS (
            SELECT p.pid, p.pts, t.ch, t.tts,
                   ROW_NUMBER() OVER (PARTITION BY p.pid
                                      ORDER BY t.tts, t.tid) AS rk
            FROM p JOIN t ON p.user_id = t.user_id
             AND t.tts <= p.pts
             AND t.tts >= p.pts - INTERVAL 3600 SECOND
        ), lat AS (
            SELECT ch AS channel,
                   CAST((epoch_us(pts) - epoch_us(tts)) // 1000000
                        AS BIGINT) AS lat_s
            FROM j WHERE rk = 1
        )
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
               round(quantile_cont(lat_s, 0.5), 4) AS median_s,
               round(quantile_cont(lat_s, 0.9), 4) AS p90_s
        FROM lat GROUP BY 1 ORDER BY 1
        """,
    )
    def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators import behavioral as BH

        ev = load_table(spark, sf_dir, "events")
        return BH.conversion_latency(
            ev.filter(F.col("event_type").isin("view", "click")),
            ev.filter(F.col("event_type") == "purchase"),
            max_gap_seconds=3600,
        )

    @_register(
        "spearman_balance_spend",
        "north-star (exact-tie Spearman rank correlation between "
        "customer account balance and realized order spend: doubled "
        "average ranks from the value-grain count-below primitive, "
        "exact DECIMAL moments, one fixed-order IEEE expression — "
        "operators/rankstats.py::spearman_corr)",
        """
        WITH b AS (
            SELECT CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
                   s.spend AS y
            FROM customer c
            JOIN (SELECT o_custkey,
                         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                       AS BIGINT)) AS BIGINT) AS spend
                  FROM orders GROUP BY 1) s
              ON c.c_custkey = s.o_custkey
        ), dx AS (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1
        ), rx AS (
            SELECT x,
                   2 * COALESCE(SUM(c) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + c + 1 AS drx
            FROM dx
        ), dy AS (
            SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1
        ), ry AS (
            SELECT y,
                   2 * COALESCE(SUM(c) OVER (ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + c + 1 AS dry
            FROM dy
        ), j AS (
            SELECT drx, dry FROM b JOIN rx USING (x) JOIN ry USING (y)
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(drx) AS sx, SUM(dry) AS sy,
                   SUM(drx * drx) AS sxx, SUM(dry * dry) AS syy,
                   SUM(drx * dry) AS sxy
            FROM j
        ), t AS (
            SELECT n,
                   n * sxy - sx * sy AS num,
                   n * sxx - sx * sx AS ddx,
                   n * syy - sy * sy AS ddy
            FROM m
        )
        SELECT n AS n_keys,
               CASE WHEN ddx > 0 AND ddy > 0 THEN
                 CAST(FLOOR(CAST(num AS DOUBLE)
                            / SQRT(CAST(ddx AS DOUBLE)
                                   * CAST(ddy AS DOUBLE))
                            * 1000000) AS BIGINT)
               END AS spearman_ppm
        FROM t
        """,
    )
    def q_spearman_balance_spend(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import fin as FIN
        from .operators import rankstats as RS

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", FIN._cents("c_acctbal").alias("bal_cents")
        )
        spend = (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.sum(FIN._cents("o_totalprice")).cast("long").alias(
                "spend_cents"))
        )
        j = cust.join(
            spend, cust["c_custkey"] == spend["o_custkey"]
        )
        return RS.spearman_corr(j, "bal_cents", "spend_cents")

    @_register(
        "mannwhitney_urgent_orders",
        "north-star (Mann-Whitney U / rank-biserial effect size: do "
        "1-URGENT orders draw from the same price distribution as "
        "the rest — exact doubled-rank tie handling, all-integer, "
        "value-grain only — operators/rankstats.py::mann_whitney_u)",
        """
        WITH b AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
                   (o_orderpriority = '1-URGENT') AS ga
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_orderpriority IS NOT NULL
        ), pc AS (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT)
                     AS ca
            FROM b GROUP BY 1
        ), r AS (
            SELECT *,
                   COALESCE(SUM(c) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS rb
            FROM pc
        ), m AS (
            SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                   CAST(SUM(c - ca) AS BIGINT) AS n_b,
                   SUM(ca * (2 * rb + c + 1)) AS r1x2
            FROM r
        ), u AS (
            SELECT n_a, n_b, r1x2 - n_a * (n_a + 1) AS u2 FROM m
        )
        -- DuckDB // TRUNCATES on integers; emulate FLOOR (the Spark
        -- side's pmod form) so negative effect sizes agree exactly
        SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2_a,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 CAST((((u2 - n_a * n_b) * 1000000)
                       - ((((u2 - n_a * n_b) * 1000000) % (n_a * n_b)
                           + n_a * n_b) % (n_a * n_b)))
                      // (n_a * n_b) AS BIGINT)
               END AS rank_biserial_ppm
        FROM u
        """,
    )
    def q_mannwhitney_urgent_orders(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import fin as FIN
        from .operators import rankstats as RS

        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        df = orders.select(
            FIN._cents("o_totalprice").alias("price_cents"),
            "o_orderpriority",
        )
        return RS.mann_whitney_u(
            df, "price_cents", "o_orderpriority", "1-URGENT"
        )

    @_register(
        "benford_first_digit",
        "north-star (Benford's-law first-significant-digit screen "
        "over order totals — the fabricated-data tripwire; digit via "
        "decimal string, hardcoded expected-ppm literals, no libm — "
        "operators/fin.py::benford_screen)",
        """
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                     AS cents
            FROM orders
        ), d AS (
            SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
                     AS digit
            FROM v WHERE cents > 0
        ), c AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
            FROM d GROUP BY 1
        ), spine AS (
            SELECT * FROM (VALUES (1, 301029), (2, 176091),
                (3, 124938), (4, 96910), (5, 79181), (6, 66946),
                (7, 57991), (8, 51152), (9, 45757))
              AS t(digit, expected_ppm)
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c
        )
        SELECT s.digit,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_amounts,
               CASE WHEN tn > 0 THEN
                 CAST(COALESCE(c.n, 0) * 1000000 // tn AS BIGINT)
               END AS observed_ppm,
               CAST(s.expected_ppm AS BIGINT) AS expected_ppm,
               CASE WHEN tn > 0 THEN
                 CAST(COALESCE(c.n, 0) * 1000000 // tn
                      - s.expected_ppm AS BIGINT)
               END AS dev_ppm
        FROM spine s LEFT JOIN c USING (digit) CROSS JOIN tot
        ORDER BY s.digit
        """,
    )
    def q_benford_first_digit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import fin as FIN

        orders = load_table(spark, sf_dir, "orders")
        cents = orders.select(
            FIN._cents("o_totalprice").alias("cents")
        )
        return FIN.benford_screen(cents, "cents")

    @_register(
        "tvd_source_drift",
        "north-star (total-variation distance between two sources' "
        "unigram token distributions — the categorical drift monitor "
        "beside ks_drift; exact integer cross-multiplied mass, no "
        "libm — ext/corpus.py::tvd_token_drift)",
        r"""
        WITH f AS (
            SELECT source AS src,
                   unnest(regexp_split_to_array(trim(lower(text)),
                                                '\s+')) AS w
            FROM documents
            WHERE source IN ('src0', 'src1') AND trim(text) <> ''
        ), c AS (
            SELECT w,
                   CAST(SUM(CASE WHEN src = 'src0' THEN 1 ELSE 0 END)
                        AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN src = 'src1' THEN 1 ELSE 0 END)
                        AS BIGINT) AS c2
            FROM f WHERE w <> '' GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2,
                   CAST(COUNT(*) AS BIGINT) AS n_words
            FROM c
        ), s AS (
            SELECT SUM(abs(c1 * tot.n2 - c2 * tot.n1)) AS sd
            FROM c CROSS JOIN tot
        )
        SELECT CAST(COALESCE(n1, 0) AS BIGINT) AS n1,
               CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
               CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
               CASE WHEN n1 > 0 AND n2 > 0 THEN
                 CAST((sd * 1000000) // (2 * n1 * n2) AS BIGINT)
               END AS tvd_ppm
        FROM tot CROSS JOIN s
        """,
    )
    def q_tvd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .ext import corpus as CP

        docs = load_table(spark, sf_dir, "documents")
        return CP.tvd_token_drift(docs, "src0", "src1")

    @_register(
        "churn_survival_km",
        "north-star (Kaplan-Meier churn survival at 7/30/60/90-day "
        "horizons with proper right-censoring — exact integer risk "
        "sets, ONE fixed-order IEEE factor product per horizon via "
        "the single-row fold, no Spark-side window — "
        "operators/behavioral.py::km_survival)",
        """
        WITH pu AS (
            SELECT user_id, MIN(ts) AS f, MAX(ts) AS l
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
            GROUP BY 1
        ), g AS (
            SELECT MAX(l) AS gmax FROM pu
        ), u AS (
            SELECT date_diff('day', CAST(f AS DATE), CAST(l AS DATE))
                     AS dur,
                   (l >= gmax - INTERVAL 7 DAY) AS cens
            FROM pu CROSS JOIN g
        ), grain AS (
            SELECT dur,
                   CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END)
                        AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN cens THEN 1 ELSE 0 END)
                        AS BIGINT) AS c
            FROM u GROUP BY 1
        ), tot AS (
            SELECT CAST(COALESCE(SUM(d + c), 0) AS BIGINT) AS n_users,
                   CAST(COALESCE(SUM(d), 0) AS BIGINT) AS n_churned,
                   CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_censored
            FROM grain
        ), atrisk AS (
            SELECT dur, d,
                   tot.n_users
                   - COALESCE(SUM(d + c) OVER (ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS n
            FROM grain CROSS JOIN tot
        ), fac AS (
            SELECT dur,
                   CASE WHEN n > 0 THEN
                     1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
                   ELSE 1.0 END AS f
            FROM atrisk
        ), prods AS (
            SELECT
              list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                list(f ORDER BY dur) FILTER (WHERE dur <= 7)),
                (a, b) -> a * b) AS s7,
              list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                list(f ORDER BY dur) FILTER (WHERE dur <= 30)),
                (a, b) -> a * b) AS s30,
              list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                list(f ORDER BY dur) FILTER (WHERE dur <= 60)),
                (a, b) -> a * b) AS s60,
              list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                list(f ORDER BY dur) FILTER (WHERE dur <= 90)),
                (a, b) -> a * b) AS s90
            FROM fac
        )
        SELECT n_users, n_churned, n_censored,
               CASE WHEN n_users > 0 THEN
                 CAST(FLOOR(s7 * 1000000.0) AS BIGINT) END AS s7_ppm,
               CASE WHEN n_users > 0 THEN
                 CAST(FLOOR(s30 * 1000000.0) AS BIGINT) END AS s30_ppm,
               CASE WHEN n_users > 0 THEN
                 CAST(FLOOR(s60 * 1000000.0) AS BIGINT) END AS s60_ppm,
               CASE WHEN n_users > 0 THEN
                 CAST(FLOOR(s90 * 1000000.0) AS BIGINT) END AS s90_ppm
        FROM tot CROSS JOIN prods
        """,
    )
    def q_churn_survival_km(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import behavioral as BH

        ev = load_table(spark, sf_dir, "events")
        return BH.km_survival(ev)

    @_register(
        "kendall_tau_balance_spend",
        "north-star (Kendall tau-b between balance and spend deciles "
        "— exact pair accounting over a bounded ntile-binned 10×10 "
        "cell grid instead of O(n²) row pairs; all-integer C/D/tie "
        "counts, one final IEEE expression — "
        "operators/rankstats.py::kendall_tau_binned)",
        """
        WITH b AS (
            SELECT c.c_custkey AS k,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
                   s.spend AS y
            FROM customer c
            JOIN (SELECT o_custkey,
                         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                       AS BIGINT)) AS BIGINT) AS spend
                  FROM orders GROUP BY 1) s
              ON c.c_custkey = s.o_custkey
        ), nt AS (
            SELECT CAST(ntile(10) OVER (ORDER BY x, k) AS INT) AS gx,
                   CAST(ntile(10) OVER (ORDER BY y, k) AS INT) AS gy
            FROM b
        ), cells AS (
            SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n
            FROM nt GROUP BY 1, 2
        ), cd AS (
            SELECT SUM(CASE WHEN a.gx < c.gx AND a.gy < c.gy
                            THEN a.n * c.n ELSE 0 END) AS conc,
                   SUM(CASE WHEN a.gx < c.gx AND a.gy > c.gy
                            THEN a.n * c.n ELSE 0 END) AS disc
            FROM cells a CROSS JOIN cells c
        ), mx AS (
            SELECT SUM(t * (t - 1) // 2) AS n1, SUM(t) AS ntot
            FROM (SELECT SUM(n) AS t FROM cells GROUP BY gx)
        ), my AS (
            SELECT SUM(t * (t - 1) // 2) AS n2
            FROM (SELECT SUM(n) AS t FROM cells GROUP BY gy)
        )
        SELECT CAST(COALESCE(ntot, 0) AS BIGINT) AS n_rows,
               CAST(COALESCE(conc, 0) AS BIGINT) AS conc_pairs,
               CAST(COALESCE(disc, 0) AS BIGINT) AS disc_pairs,
               CASE WHEN ntot * (ntot - 1) // 2 - n1 > 0
                     AND ntot * (ntot - 1) // 2 - n2 > 0 THEN
                 CAST(FLOOR(CAST(conc - disc AS DOUBLE)
                      / SQRT(CAST(ntot * (ntot - 1) // 2 - n1 AS DOUBLE)
                             * CAST(ntot * (ntot - 1) // 2 - n2
                                    AS DOUBLE))
                      * 1000000) AS BIGINT)
               END AS tau_b_ppm
        FROM cd CROSS JOIN mx CROSS JOIN my
        """,
    )
    def q_kendall_tau_balance_spend(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.shared import balance_spend_cells
        from .operators import rankstats as RS

        # the 10×10 grid rides the session memo (theilsen consumes
        # the identical cells); df is unused on the cells fast path
        return RS.kendall_tau_binned(
            None,
            "bal_cents",
            "spend_cents",
            "c_custkey",
            n_bins=10,
            cells=balance_spend_cells(spark, sf_dir),
        )

    @_register(
        "hll_distinct_orders",
        "C7/north-star (deterministic HyperLogLog: the estimate "
        "itself is oracle-checked — engine-agnostic polynomial hash, "
        "pure-integer trailing-zero registers, exact 2⁶⁴-scaled "
        "harmonic sum, hardcoded alpha ppm; unlike "
        "approx_count_distinct's engine-private HLL++ state — "
        "operators/sketches.py::hll_deterministic)",
        """
        WITH k AS (
            SELECT DISTINCT l_orderkey AS v FROM lineitem
            WHERE l_orderkey IS NOT NULL
        ), h AS (
            SELECT (((v % 2147483647) + 2147483647) % 2147483647
                    * 2654435761 % 2147483647) * 2147483648
                 + (((v % 2147483647) + 2147483647) % 2147483647
                    * 40503 + 12345) % 2147483647 AS hh
            FROM k
        ), bw AS (
            SELECT CAST(hh & 1023 AS INT) AS b,
                   CAST(hh >> 10 AS BIGINT) AS w
            FROM h
        ), r AS (
            SELECT b,
                   MAX(CASE WHEN w > 0 THEN
                         CAST(bit_count((w & -w) - 1) AS INT) + 1
                       ELSE 53 END) AS reg
            FROM bw GROUP BY 1
        ), s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS seen,
                   -- widen BEFORE doubling: reg = 1 puts the shift at
                   -- 2^62 and the *2 at exactly 2^63 — INT64 overflow
                   SUM(CAST(CAST(1 AS BIGINT) << (63 - reg) AS HUGEINT)
                       * 2) AS ssum
            FROM r
        )
        SELECT CAST(1024 AS INT) AS m,
               CAST(COALESCE(seen, 0) AS BIGINT) AS buckets_seen,
               CASE WHEN seen > 0 THEN
                 CAST(CAST(720539 AS HUGEINT) * 1024 * 1024
                      * CAST(18446744073709551616 AS HUGEINT)
                      // ((ssum + (1024 - seen)
                           * CAST(18446744073709551616 AS HUGEINT))
                          * 1000000) AS BIGINT)
               END AS est_distinct
        FROM s
        """,
    )
    def q_hll_distinct_orders(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import sketches as SK

        li = load_table(spark, sf_dir, "lineitem")
        return SK.hll_deterministic(li, "l_orderkey")

    _HLL_MONTHLY_SQL = """
        WITH k AS (
            SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS g,
                   o_custkey AS v
            FROM orders
            WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        ), h AS (
            SELECT g,
                   (((v % 2147483647) + 2147483647) % 2147483647
                    * 2654435761 % 2147483647) * 2147483648
                 + (((v % 2147483647) + 2147483647) % 2147483647
                    * 40503 + 12345) % 2147483647 AS hh
            FROM k
        ), bw AS (
            SELECT g, CAST(hh & 1023 AS INT) AS b,
                   CAST(hh >> 10 AS BIGINT) AS w
            FROM h
        ), r AS (
            SELECT g, b,
                   MAX(CASE WHEN w > 0 THEN
                         CAST(bit_count((w & -w) - 1) AS INT) + 1
                       ELSE 53 END) AS reg
            FROM bw GROUP BY 1, 2
        ), s AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS seen,
                   -- widen BEFORE doubling (the hll_distinct_orders note)
                   SUM(CAST(CAST(1 AS BIGINT) << (63 - reg) AS HUGEINT)
                       * 2) AS ssum
            FROM r GROUP BY 1
        )
        SELECT g AS order_month, CAST(1024 AS INT) AS m,
               seen AS buckets_seen,
               CAST(CAST(720539 AS HUGEINT) * 1024 * 1024
                    * CAST(18446744073709551616 AS HUGEINT)
                    // ((ssum + (1024 - seen)
                         * CAST(18446744073709551616 AS HUGEINT))
                        * 1000000) AS BIGINT) AS est_distinct
        FROM s ORDER BY order_month
        """

    @_register(
        "hll_monthly_customers",
        "C7/north-star (GROUPED deterministic HLL: per-month distinct "
        "ordering customers as one (month, bucket) register table — "
        "the mergeable-sketch shape a 100 TB rollup materializes; "
        "estimate bit-identical cross-engine, exactly as the global "
        "form — operators/sketches.py::hll_deterministic_by_group)",
        _HLL_MONTHLY_SQL,
    )
    def q_hll_monthly_customers(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.shared import orders_custkey_monthly_registers
        from .operators import sketches as SK

        # register state rides the session memo (approx_aggregates
        # collapses the SAME table to its global estimate — the merge
        # law makes one build serve both)
        return SK.hll_estimate_from_registers(
            orders_custkey_monthly_registers(spark, sf_dir), "order_month"
        )

    @_register(
        "hll_merge_monthly",
        "C7/north-star (r7: the grouped-HLL MERGE LAW under the hash "
        "gate — registers built independently on the even/odd "
        "o_orderkey halves, merged by hll_merge_registers (UNION+MAX, "
        "idempotent), finalized from the MERGED state; oracle = the "
        "one-shot whole-data grouped HLL, equal because per-(group, "
        "bucket) MAX over any partitioning of the rows is the same "
        "register — operators/sketches.py::hll_merge_registers, "
        "streaming/sketches.py)",
        _HLL_MONTHLY_SQL,
    )
    def q_hll_merge_monthly(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import sketches as SK

        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            "o_custkey",
        )
        # == 0 vs != 0 (not == 1): % truncates toward zero, so negative
        # keys land on -1 and a ==0/==1 split would drop them from BOTH
        # halves — the halves must PARTITION the rows for any key domain
        half_a = SK.hll_registers_by_group(
            o.filter(F.col("o_orderkey") % 2 == 0), "o_custkey", "order_month"
        )
        half_b = SK.hll_registers_by_group(
            o.filter(F.col("o_orderkey") % 2 != 0), "o_custkey", "order_month"
        )
        merged = SK.hll_merge_registers(half_a, half_b)
        return SK.hll_estimate_from_registers(merged, "order_month").orderBy(
            "order_month"
        )

    # the Welch variance/SE expressions, written ONCE and shared between
    # nothing else — the Spark side (operators/rankstats.py) spells the
    # identical cast/divide sequence so both engines walk the same IEEE
    # path (the HITS idiom)
    _wva = (
        "(CAST(saa AS DOUBLE)"
        " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))"
        " / CAST(n_a - 1 AS DOUBLE)"
    )
    _wvb = (
        "(CAST(sbb AS DOUBLE)"
        " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))"
        " / CAST(n_b - 1 AS DOUBLE)"
    )
    _wse2 = f"({_wva} / CAST(n_a AS DOUBLE) + {_wvb} / CAST(n_b AS DOUBLE))"
    _wmd = (
        "(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)"
        " - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))"
    )

    @_register(
        "welch_urgent_orders",
        "north-star (Welch's unequal-variance t between 1-URGENT "
        "orders and the rest — the parametric companion to "
        "mannwhitney_urgent_orders; exact DECIMAL moments from one "
        "conditional-agg scan, fixed-order IEEE t — "
        "operators/rankstats.py::welch_t_test)",
        f"""
        WITH b AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
                   (o_orderpriority = '1-URGENT') AS ga
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_orderpriority IS NOT NULL
        ), m AS (
            SELECT CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_a,
                   CAST(SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                   SUM(CASE WHEN ga THEN CAST(x AS HUGEINT)
                       ELSE 0 END) AS sa,
                   SUM(CASE WHEN NOT ga THEN CAST(x AS HUGEINT)
                       ELSE 0 END) AS sb,
                   SUM(CASE WHEN ga THEN CAST(x AS HUGEINT) * x
                       ELSE 0 END) AS saa,
                   SUM(CASE WHEN NOT ga THEN CAST(x AS HUGEINT) * x
                       ELSE 0 END) AS sbb
            FROM b
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 THEN
                 CAST(sa // n_a AS BIGINT) END AS mean_a_cents,
               CASE WHEN n_b > 0 THEN
                 CAST(sb // n_b AS BIGINT) END AS mean_b_cents,
               CASE WHEN n_a > 1 AND n_b > 1 AND {_wse2} > 0 THEN
                 CAST(FLOOR({_wmd} / SQRT({_wse2}) * 1000000.0)
                      AS BIGINT)
               END AS t_ppm
        FROM m
        """,
    )
    def q_welch_urgent_orders(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import fin as FIN
        from .operators import rankstats as RS

        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        df = orders.select(
            FIN._cents("o_totalprice").alias("price_cents"),
            "o_orderpriority",
        )
        return RS.welch_t_test(
            df, "price_cents", "o_orderpriority", "1-URGENT"
        )

    @_register(
        "weighted_price_percentiles",
        "north-star/C7 (exact QUANTITY-weighted price percentiles — "
        "the exposure view: the price the median UNIT sells at, not "
        "the median order; count-below primitive with weights as "
        "multiplicity, answer = MIN over qualifying distinct values, "
        "zero order-dependent arithmetic — "
        "operators/rankstats.py::weighted_percentiles)",
        """
        WITH v AS (
            SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                     AS x,
                   CAST(l_quantity AS BIGINT) AS w
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
        ), pc AS (
            SELECT x, CAST(SUM(w) AS BIGINT) AS c FROM v GROUP BY 1
        ), r AS (
            SELECT x, CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) AS cum
            FROM pc
        ), t AS (
            SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS tw,
                   CAST(COUNT(*) AS BIGINT) AS nv
            FROM pc
        )
        SELECT tw AS total_weight, nv AS n_values,
               (SELECT MIN(x) FROM r, t WHERE cum * 100 >= 50 * tw)
                 AS p50_weighted,
               (SELECT MIN(x) FROM r, t WHERE cum * 100 >= 90 * tw)
                 AS p90_weighted
        FROM t
        """,
    )
    def q_weighted_price_percentiles(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import fin as FIN
        from .operators import rankstats as RS

        li = load_table(spark, sf_dir, "lineitem")
        df = li.select(
            FIN._cents("l_extendedprice").alias("price_cents"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        return RS.weighted_percentiles(df, "price_cents", "qty")

    @_register(
        "theilsen_balance_spend",
        "north-star (Theil-Sen robust slope of spend deciles vs "
        "balance deciles — median pairwise slope under the binned-"
        "grid contract; every slope is the EXACT integer dy*2520/dx "
        "(2520 = lcm(1..9)), weighted median via count-below, floor "
        "via pmod — operators/rankstats.py::theilsen_slope_binned)",
        """
        WITH b AS (
            SELECT c.c_custkey AS k,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
                   s.spend AS y
            FROM customer c
            JOIN (SELECT o_custkey,
                         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                       AS BIGINT)) AS BIGINT) AS spend
                  FROM orders GROUP BY 1) s
              ON c.c_custkey = s.o_custkey
        ), nt AS (
            SELECT CAST(ntile(10) OVER (ORDER BY x, k) AS INT) AS gx,
                   CAST(ntile(10) OVER (ORDER BY y, k) AS INT) AS gy
            FROM b
        ), cells AS (
            SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n
            FROM nt GROUP BY 1, 2
        ), p AS (
            SELECT (c.gy - a.gy) * 2520 // (c.gx - a.gx) AS sk,
                   CAST(a.n * c.n AS BIGINT) AS w
            FROM cells a CROSS JOIN cells c WHERE a.gx < c.gx
        ), pc AS (
            SELECT sk, CAST(SUM(w) AS BIGINT) AS c FROM p GROUP BY 1
        ), r AS (
            SELECT sk, CAST(SUM(c) OVER (ORDER BY sk) AS BIGINT) AS cum
            FROM pc
        ), t AS (
            SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS tw FROM pc
        ), n0 AS (
            SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows
            FROM cells
        ), med AS (
            SELECT (SELECT MIN(sk) FROM r, t WHERE cum * 2 >= tw)
                     AS mkey
        )
        SELECT n_rows, tw AS pair_weight,
               CAST((mkey * 1000000
                     - ((mkey * 1000000 % 2520 + 2520) % 2520))
                    // 2520 AS BIGINT) AS slope_ppm
        FROM n0 CROSS JOIN t CROSS JOIN med
        """,
    )
    def q_theilsen_balance_spend(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.shared import balance_spend_cells
        from .operators import rankstats as RS

        return RS.theilsen_slope_binned(
            None,
            "bal_cents",
            "spend_cents",
            "c_custkey",
            n_bins=10,
            cells=balance_spend_cells(spark, sf_dir),
        )

    @_register(
        "spearman_by_segment",
        "north-star (per-market-segment exact-tie Spearman between "
        "balance and spend — the Simpson's-paradox screen beside the "
        "global spearman_balance_spend; ranks from windows "
        "PARTITIONED by segment over per-segment distinct-value "
        "tables — operators/rankstats.py::spearman_by_group)",
        """
        WITH b AS (
            SELECT c.c_mktsegment AS g,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
                   s.spend AS y
            FROM customer c
            JOIN (SELECT o_custkey,
                         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                       AS BIGINT)) AS BIGINT) AS spend
                  FROM orders GROUP BY 1) s
              ON c.c_custkey = s.o_custkey
            WHERE c.c_mktsegment IS NOT NULL
        ), dx AS (
            SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c
            FROM b GROUP BY 1, 2
        ), rx AS (
            SELECT g, x,
                   2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) + c + 1 AS drx
            FROM dx
        ), dy AS (
            SELECT g, y, CAST(COUNT(*) AS BIGINT) AS c
            FROM b GROUP BY 1, 2
        ), ry AS (
            SELECT g, y,
                   2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) + c + 1 AS dry
            FROM dy
        ), j AS (
            SELECT b.g, drx, dry
            FROM b
            JOIN rx ON rx.g = b.g AND rx.x = b.x
            JOIN ry ON ry.g = b.g AND ry.y = b.y
        ), m AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(drx) AS sx, SUM(dry) AS sy,
                   SUM(drx * drx) AS sxx, SUM(dry * dry) AS syy,
                   SUM(drx * dry) AS sxy
            FROM j GROUP BY 1
        ), t AS (
            SELECT g, n,
                   n * sxy - sx * sy AS num,
                   n * sxx - sx * sx AS ddx,
                   n * syy - sy * sy AS ddy
            FROM m
        )
        SELECT g AS c_mktsegment, n AS n_keys,
               CASE WHEN ddx > 0 AND ddy > 0 THEN
                 CAST(FLOOR(CAST(num AS DOUBLE)
                            / SQRT(CAST(ddx AS DOUBLE)
                                   * CAST(ddy AS DOUBLE))
                            * 1000000) AS BIGINT)
               END AS spearman_ppm
        FROM t ORDER BY c_mktsegment
        """,
    )
    def q_spearman_by_segment(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import fin as FIN
        from .operators import rankstats as RS

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_mktsegment",
            FIN._cents("c_acctbal").alias("bal_cents"),
        )
        spend = (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.sum(FIN._cents("o_totalprice")).cast("long").alias(
                "spend_cents"))
        )
        j = cust.join(spend, cust["c_custkey"] == spend["o_custkey"])
        return RS.spearman_by_group(
            j, "c_mktsegment", "bal_cents", "spend_cents"
        )

    from .registry import _MEDIA_CODES_CTE

    @_register(
        "jpeg_progressive_decode_stats",
        "C5/north-star (REAL progressive JPEG — SOF2 with spectral "
        "selection AND successive approximation: DC first/refine, "
        "banded AC first/refine with EOBRUN, T.81 G.2 — decoded by "
        "the same numpy codec, ext/jpeg.py; constant-block streams "
        "reconstruct bit-exact, so the oracle recomputes every pixel "
        "sum from the character-cycling rule exactly as the baseline "
        "jpeg_decode_stats twin does)",
        f"""{_MEDIA_CODES_CTE}
        SELECT media_id, TRUE AS valid, 16 AS width, 16 AS height,
               1 AS channels, CAST(256 AS BIGINT) AS n_pixels,
               CAST(64 * (codes[(0 % L) + 1] + codes[(1 % L) + 1]
                          + codes[(2 % L) + 1] + codes[(3 % L) + 1])
                    AS BIGINT) AS pix_sum
        FROM s ORDER BY media_id
        """,
    )
    def q_jpeg_progressive_decode_stats(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext import images as IMG
        from .ext.jpeg import documents_as_jpegs

        docs = load_table(spark, sf_dir, "documents")
        return IMG.image_stats(documents_as_jpegs(docs, progressive=True))

    @_register(
        "jpeg_subsampled_decode_stats",
        "C5/north-star (REAL 4:2:0 chroma-subsampled color JPEG — the "
        "layout of most real-world JPEGs: Y at 2×2, box-mean chroma, "
        "T.81 A.2.3 MCU interleave, replication upsampling on decode, "
        "ext/jpeg.py r6; the synthesized streams carry r=g=b constants "
        "so Cb=Cr=128 exactly and the subsampled roundtrip is "
        "bit-exact — pixel sum = 3× the grayscale character rule; "
        "deterministic 10%% doc sample: the gate is per-payload, and "
        "the gray/progressive twins already decode the full corpus)",
        f"""{_MEDIA_CODES_CTE}
        SELECT media_id, TRUE AS valid, 16 AS width, 16 AS height,
               3 AS channels, CAST(256 AS BIGINT) AS n_pixels,
               CAST(3 * 64 * (codes[(0 % L) + 1] + codes[(1 % L) + 1]
                              + codes[(2 % L) + 1] + codes[(3 % L) + 1])
                    AS BIGINT) AS pix_sum
        FROM s WHERE media_id % 10 = 0 ORDER BY media_id
        """,
    )
    def q_jpeg_subsampled_decode_stats(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext import images as IMG
        from .ext.jpeg import documents_as_jpegs

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 0
        )
        return IMG.image_stats(
            documents_as_jpegs(docs, subsampling="420")
        )

    @_register(
        "jpeg12_decode_stats",
        "C5/north-star (REAL 12-bit extended-sequential JPEG — SOF1, "
        "T.81 process 2: 12-bit grayscale samples, level shift 2048, "
        "Huffman tables widened to the 12-bit category ranges, uint16 "
        "decode, ext/jpeg.py r6; block constants are the character "
        "codes shifted left 4 bits, so DC-only blocks roundtrip "
        "exactly and pixel sum = 16× the grayscale rule; "
        "deterministic 10%% doc sample at residue 5 — a different "
        "corpus slice than the subsampled twin's residue 0; the "
        "gray/progressive twins decode the full corpus)",
        f"""{_MEDIA_CODES_CTE}
        SELECT media_id, TRUE AS valid, 16 AS width, 16 AS height,
               1 AS channels, CAST(256 AS BIGINT) AS n_pixels,
               CAST(16 * 64 * (codes[(0 % L) + 1] + codes[(1 % L) + 1]
                               + codes[(2 % L) + 1] + codes[(3 % L) + 1])
                    AS BIGINT) AS pix_sum
        FROM s WHERE media_id % 10 = 5 ORDER BY media_id
        """,
    )
    def q_jpeg12_decode_stats(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext import images as IMG
        from .ext.jpeg import documents_as_jpegs

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 5
        )
        return IMG.image_stats(documents_as_jpegs(docs, precision=12))

    from .registry import _CLUSTERS_ORACLE_SQL

    @_register(
        "near_dup_clusters_star",
        "C2/iterative at 100 TB (r6: large-star/small-star connected "
        "components, Kiveris et al. SoCC'14 — O(log²) rounds vs "
        "min-label propagation's one round per diameter hop, "
        "per-round work ∝ the shrinking CURRENT edge set; identical "
        "output contract and oracle as near_dup_clusters — "
        "ext/dedup_fuzzy.py::connected_components_star)",
        _CLUSTERS_ORACLE_SQL,
    )
    def q_near_dup_clusters_star(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext import dedup_fuzzy as DF
        from .ext.shared import ngram_jaccard_pairs_06

        return DF.connected_components_star(
            ngram_jaccard_pairs_06(spark, sf_dir)
        )

    # ------------------------------------------------------------------
    # r7 — weighted single-source shortest paths (Bellman-Ford rounds)
    # over the co-purchase graph: the graph family's most common query
    # hop-BFS can't answer. Edge weight = GREATEST(1, 11 − LEAST(sup,
    # 10)): strong co-purchase ties are cheap (w=1 at support ≥ 10),
    # weak support-2 ties cost 9 — all integer, mirrored in the twin.
    # ------------------------------------------------------------------

    def _sssp_oracle(max_rounds: int) -> str:
        """Unrolled full-relaxation twin of ext/graph.py::sssp:
        d_r(n) = min(d_{r-1}(n), min over in-edges d_{r-1}(u) + w).
        The Spark side relaxes only the improved-delta frontier each
        round, which is provably round-for-round identical (an
        unimproved node re-contributes the same candidates); the
        round cap is the BFS/k-core always-agree contract."""
        rounds = []
        for r in range(1, max_rounds + 1):
            rounds.append(
                f"""d{r} AS MATERIALIZED (
            SELECT n, MIN(d) AS d FROM (
                SELECT n, d FROM d{r - 1}
                UNION ALL
                SELECT es.ed AS n, d{r - 1}.d + es.w AS d
                FROM d{r - 1} JOIN es ON d{r - 1}.n = es.es
            ) GROUP BY n
        )"""
            )
        return (
            """
        WITH items AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ), ew AS (
            SELECT a.p AS pa, b.p AS pb,
                   CAST(GREATEST(1, 11 - LEAST(COUNT(*), 10)) AS BIGINT)
                       AS w
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), es AS (
            SELECT pa AS es, pb AS ed, w FROM ew
            UNION ALL SELECT pb, pa, w FROM ew
        ), d0 AS MATERIALIZED (
            SELECT DISTINCT p_partkey AS n, CAST(0 AS BIGINT) AS d
            FROM part WHERE p_brand = 'Brand#11'
        ), """
            + ",\n        ".join(rounds)
            + f"""
        SELECT CAST(d AS BIGINT) AS dist,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(n) AS BIGINT) AS sum_node
        FROM d{max_rounds} GROUP BY 1 ORDER BY 1
        """
        )

    @_register(
        "sssp_copurchase",
        "north-star (r7: multi-source weighted shortest paths from "
        "every Brand#11 part over the symmetrized support-weighted "
        "co-purchase graph — Bellman-Ford delta-frontier relaxation, "
        "≤6 rounds with exact empty-frontier early stop, reliable "
        "checkpoints per round — ext/graph.py::sssp; oracle = "
        "unrolled chained full-relaxation min-agg rounds under the "
        "BFS-style round-cap always-agree contract)",
        _sssp_oracle(6),
    )
    def q_sssp_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
        part = load_table(spark, sf_dir, "part")
        ew = (
            _copurchase_sup_shared(spark, sf_dir)
            .select(F.col("a").alias("pa"), F.col("b").alias("pb"), "sup")
            .select(
                "pa",
                "pb",
                F.greatest(
                    F.lit(1).cast("long"),
                    F.lit(11) - F.least(F.col("sup"), F.lit(10).cast("long")),
                )
                .cast("long")
                .alias("w"),
            )
        )
        sym = ew.select(
            F.col("pa").alias("src"), F.col("pb").alias("dst"), "w"
        ).unionByName(
            ew.select(F.col("pb").alias("src"), F.col("pa").alias("dst"), "w")
        )
        srcs = part.filter(F.col("p_brand") == "Brand#11").select(
            F.col("p_partkey").alias("node")
        )
        d = G.sssp(srcs, sym, max_rounds=6)
        return (
            d.groupBy(F.col("dist").cast("long").alias("dist"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.sum("node").cast("long").alias("sum_node"),
            )
            .orderBy("dist")
        )

    # ------------------------------------------------------------------
    # r7 — community detection: deterministic synchronous label
    # propagation (count-DESC, label-ASC tie-break) with an unrolled
    # chained-CTE twin; completes the graph family's standard set
    # (CC/PageRank/HITS/triangles/BFS/assortativity/k-core/SSSP +
    # communities).
    # ------------------------------------------------------------------

    def _lpa_cte(rounds: int) -> str:
        """WITH-block prefix ending at the labeling l{rounds} — shared
        by the communities query and the modularity metric twin."""
        parts = ["l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS l FROM es)"]
        for r in range(1, rounds + 1):
            parts.append(
                f"""c{r} AS (
            SELECT es.u AS u, l{r - 1}.l AS l, COUNT(*) AS c
            FROM es JOIN l{r - 1} ON es.v = l{r - 1}.n
            GROUP BY 1, 2
        )"""
            )
            parts.append(
                f"""p{r} AS (
            SELECT u, l FROM (
                SELECT u, l, ROW_NUMBER() OVER (
                    PARTITION BY u ORDER BY c DESC, l ASC) AS rn
                FROM c{r}
            ) WHERE rn = 1
        )"""
            )
            parts.append(
                f"""l{r} AS MATERIALIZED (
            SELECT l{r - 1}.n AS n, COALESCE(p{r}.l, l{r - 1}.l) AS l
            FROM l{r - 1} LEFT JOIN p{r} ON p{r}.u = l{r - 1}.n
        )"""
            )
        return (
            "WITH "
            + _COPURCHASE_E
            + """, es AS (
            SELECT pa AS u, pb AS v FROM e
            UNION ALL SELECT pb, pa FROM e
        ), """
            + ",\n        ".join(parts)
        )

    def _lpa_oracle(rounds: int) -> str:
        return (
            _lpa_cte(rounds)
            + f"""
        SELECT CAST(l AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM l{rounds} GROUP BY 1 ORDER BY 1
        """
        )

    @_register(
        "communities_copurchase",
        "north-star (r7: label-propagation communities over the "
        "support-2 co-purchase graph — deterministic synchronous LPA, "
        "count-DESC/label-ASC tie-break, ≤4 rounds with exact "
        "zero-change early stop; the round cap is semantic since "
        "synchronous LPA may oscillate — ext/graph.py::"
        "label_propagation; oracle = unrolled chained-CTE rounds)",
        _lpa_oracle(4),
    )
    def q_communities_copurchase(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        # edge build AND the 4-round labeling ride the session memos
        # (the parquet memo subsumes the r7 truncate_lineage
        # checkpoint: the loop's input is already a flat scan)
        labels = _lpa_labels_shared(spark, sf_dir)
        return (
            labels.groupBy(F.col("community").cast("long").alias("community"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
            .orderBy("community")
        )

    def _modularity_oracle(rounds: int) -> str:
        return (
            _lpa_cte(rounds)
            + f""", deg AS (
            SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d
            FROM es GROUP BY 1
        ), dcsum AS (
            SELECT l{rounds}.l AS c, CAST(SUM(deg.d) AS HUGEINT) AS dc
            FROM deg JOIN l{rounds} ON l{rounds}.n = deg.n GROUP BY 1
        ), dagg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                   SUM(dc * dc) AS sdc2
            FROM dcsum
        ), intra AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS intra_edges
            FROM e
            JOIN l{rounds} la ON la.n = e.pa
            JOIN l{rounds} lb ON lb.n = e.pb
            WHERE la.l = lb.l
        ), mm AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e
        ), v AS (
            SELECT n_communities, n_edges, intra_edges,
                   (CAST(4 AS HUGEINT) * n_edges * intra_edges - sdc2)
                       * 1000000 AS num,
                   CAST(4 AS HUGEINT) * n_edges * n_edges AS den
            FROM dagg CROSS JOIN mm CROSS JOIN intra
        )
        -- DuckDB // truncates; emulate FLOOR via the pmod form the
        -- Spark side uses so negative modularity agrees exactly
        SELECT n_communities, n_edges, intra_edges,
               CASE WHEN n_edges > 0 THEN
                 CAST((num - (((num % den) + den) % den)) // den AS BIGINT)
               END AS modularity_ppm
        FROM v
        """
        )

    @_register(
        "modularity_copurchase",
        "north-star (r7: exact integer Newman modularity of the "
        "4-round LPA partition — Q = (4m·L_in − Σd_c²)/(4m²), a ratio "
        "of integers like assortativity, DECIMAL(38,0) sums, floor'd "
        "ppm; detect + evaluate completes the community family — "
        "ext/graph.py::modularity_ppm)",
        _modularity_oracle(4),
    )
    def q_modularity_copurchase(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        # the edge set feeds all three modularity scans (degrees,
        # intra count, m) and the labeling is the IDENTICAL 4-round
        # LPA communities_copurchase reports on — both ride the
        # session memos instead of re-deriving (~2.5 s of duplicated
        # labeling at sf0.1)
        edges = _copurchase_shared(spark, sf_dir, "pa", "pb")
        labels = _lpa_labels_shared(spark, sf_dir)
        return G.modularity_ppm(edges, labels, a_col="pa", b_col="pb")

    # ------------------------------------------------------------------
    # r8 — directed SCC: the part-PRECEDENCE graph (pa→pb iff pa
    # appears at a smaller linenumber than pb in some order, restricted
    # to support-2 co-purchase pairs so the vertex set matches the rest
    # of the graph tier). Orderings vary across orders, so mutual edges
    # and longer cycles are plentiful — the structure SCC exists for.
    # ------------------------------------------------------------------

    # caps verified to reach the FULL fixpoint (every node assigned)
    # at all three SFs — measured uncapped rounds: sf0.01 peaks at
    # fw=bw=16 in the first peel (it has a 325-node SCC) and needs 4
    # peels; sf0.1 peaks at 5/5 and needs 4; sf0.001 is one dense
    # 200-node SCC. 20/5 leaves margin on both axes.
    _SCC_OUTER = 5
    _SCC_PROP = 20

    def _scc_cte(outer: int, prop: int) -> str:
        """Unrolled FW-BW coloring twin of ext/graph.py::
        strongly_connected_components (the _lpa_cte construction):
        per outer round, ``prop`` chained min-label CTEs (forward
        coloring), the same-color edge restriction, ``prop`` chained
        backward-capture CTEs, then assignment and subgraph shrink.
        Spark's delta frontiers early-stop only at true fixpoints, so
        the full unroll agrees round-for-round (rounds past a
        fixpoint are no-ops)."""
        parts = [
            """ditems AS (
            SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p
            FROM lineitem
        )""",
            """se0 AS MATERIALIZED (
            SELECT DISTINCT a.p AS s, b.p AS d
            FROM ditems a
            JOIN ditems b ON a.o = b.o AND a.ln < b.ln AND a.p <> b.p
            JOIN e ON e.pa = LEAST(a.p, b.p) AND e.pb = GREATEST(a.p, b.p)
        )""",
            """sn0 AS MATERIALIZED (
            SELECT s AS n FROM se0 UNION SELECT d FROM se0
        )""",
        ]
        for o in range(outer):
            parts.append(f"c{o}_0 AS (SELECT n, n AS c FROM sn{o})")
            for k in range(1, prop + 1):
                parts.append(
                    f"""c{o}_{k} AS MATERIALIZED (
            SELECT n, MIN(c) AS c FROM (
                SELECT n, c FROM c{o}_{k - 1}
                UNION ALL
                SELECT e.d AS n, cp.c AS c
                FROM c{o}_{k - 1} cp JOIN se{o} e ON cp.n = e.s
            ) GROUP BY n
        )"""
                )
            cf = f"c{o}_{prop}"
            parts.append(
                f"""ce{o} AS MATERIALIZED (
            SELECT e.s, e.d FROM se{o} e
            JOIN {cf} cs ON cs.n = e.s
            JOIN {cf} cd ON cd.n = e.d
            WHERE cs.c = cd.c
        )"""
            )
            parts.append(f"b{o}_0 AS (SELECT n FROM {cf} WHERE c = n)")
            for k in range(1, prop + 1):
                parts.append(
                    f"""b{o}_{k} AS MATERIALIZED (
            SELECT n FROM b{o}_{k - 1}
            UNION
            SELECT ce.s AS n
            FROM b{o}_{k - 1} b JOIN ce{o} ce ON b.n = ce.d
        )"""
                )
            bf = f"b{o}_{prop}"
            parts.append(
                f"""a{o} AS MATERIALIZED (
            SELECT b.n AS n, cf.c AS scc
            FROM {bf} b JOIN {cf} cf ON cf.n = b.n
        )"""
            )
            if o + 1 < outer:
                parts.append(
                    f"""sn{o + 1} AS MATERIALIZED (
            SELECT n FROM sn{o}
            WHERE n NOT IN (SELECT n FROM {bf})
        )"""
                )
                parts.append(
                    f"""se{o + 1} AS MATERIALIZED (
            SELECT s, d FROM se{o}
            WHERE s NOT IN (SELECT n FROM {bf})
              AND d NOT IN (SELECT n FROM {bf})
        )"""
                )
        assigned = "\n            UNION ALL ".join(
            f"SELECT n, scc FROM a{o}" for o in range(outer)
        )
        parts.append(f"asg AS MATERIALIZED ({assigned})")
        return (
            "WITH " + _COPURCHASE_E + ",\n        " + ",\n        ".join(parts)
        )

    def _scc_oracle(outer: int, prop: int) -> str:
        return (
            _scc_cte(outer, prop)
            + """
        , comp AS (
            SELECT scc, CAST(COUNT(*) AS BIGINT) AS scc_size
            FROM asg GROUP BY scc
        )
        SELECT scc_size, CAST(COUNT(*) AS BIGINT) AS n_sccs,
               CAST(SUM(scc) AS BIGINT) AS sum_scc_id
        FROM comp GROUP BY 1 ORDER BY 1
        """
        )

    @_register(
        "scc_part_precedence",
        "north-star (r8: strongly connected components of the DIRECTED "
        "part-precedence graph — FW-BW min-label coloring, ≤3 outer "
        "peels × ≤8 propagation rounds with exact-fixpoint early stops, "
        "delta frontiers, reliable checkpoints per round; completes the "
        "graph family with the directed analog of CC — ext/graph.py::"
        "strongly_connected_components; oracle = the unrolled chained-"
        "CTE rounds under the round-cap always-agree contract)",
        _scc_oracle(_SCC_OUTER, _SCC_PROP),
    )
    def q_scc_part_precedence(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.shared import shared_frame

        def build_edges() -> DataFrame:
            li = load_table(spark, sf_dir, "lineitem").select(
                F.col("l_orderkey").alias("o"),
                F.col("l_linenumber").alias("ln"),
                F.col("l_partkey").alias("p"),
            )
            # ordered co-occurrence pairs via the collect+explode
            # build (the _copurchase_sup shape: one shuffle,
            # per-order fan-out bounded by basket size), then
            # restrict to the shared support-2 co-purchase pair set
            per_order = li.groupBy("o").agg(
                F.collect_list(F.struct("ln", "p")).alias("xs")
            )
            occ = (
                per_order.select(F.explode("xs").alias("a"), "xs")
                .select("a", F.explode("xs").alias("b"))
                .filter(
                    (F.col("a.ln") < F.col("b.ln"))
                    & (F.col("a.p") != F.col("b.p"))
                )
                .select(
                    F.col("a.p").alias("s"), F.col("b.p").alias("d")
                )
            )
            # restrict FIRST (broadcast semi against the bounded
            # shared pair set), dedup after: the distinct then runs
            # on the ~6% of ordered pairs that survive, not the raw
            # fan-out
            sup = _copurchase_sup_shared(spark, sf_dir)
            return occ.join(
                F.broadcast(sup),
                (F.least("s", "d") == sup["a"])
                & (F.greatest("s", "d") == sup["b"]),
                "left_semi",
            ).distinct()

        # the directed precedence edge set is a bounded genuine
        # intermediate (≤ 2× the shared co-purchase pair table) — the
        # same materialized-view pattern as copurchase_sup itself:
        # the fact-scale build runs once per session, SCC computes on
        # top of it every call
        e_dir = shared_frame(
            spark, f"scc_precedence_edges::{sf_dir}", build_edges
        )
        scc = G.strongly_connected_components(
            e_dir, _SCC_OUTER, _SCC_PROP, src_col="s", dst_col="d"
        )
        comp = scc.groupBy("scc").agg(
            F.count(F.lit(1)).cast("long").alias("scc_size")
        )
        return (
            comp.groupBy("scc_size")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sccs"),
                F.sum("scc").cast("long").alias("sum_scc_id"),
            )
            .orderBy("scc_size")
        )

    # ------------------------------------------------------------------
    # r7 — the grid-sketch MERGE LAW under the hash gate: build cell
    # state on two disjoint partition halves, merge (UNION+SUM),
    # extract quantiles; the oracle is the WHOLE-data grid — equal by
    # the batching-invariance the warehouse/streaming paths rely on,
    # so the law itself (not just its unit tests) is oracle-checked.
    # ------------------------------------------------------------------

    from .operators.sketches import grid_quantile_sql

    @_register(
        "grid_merge_quantiles",
        "C7/north-star (r7: partitioned-state quantiles — grid cells "
        "built independently on the even/odd event_id halves, merged "
        "by merge_grid_cells (UNION+SUM), finalized from the MERGED "
        "state; oracle = the one-shot whole-data grid, equal by the "
        "merge law — the per-batch-state → warehouse-merge → reader-"
        "finalize shape a 100 TB rollup persists — operators/"
        "sketches.py::merge_grid_cells, streaming/sketches.py)",
        f"""
        WITH q AS (
            SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
        ),{grid_quantile_sql('q', [250_000, 500_000, 750_000, 990_000], 'gq')}
        SELECT p_ppm, est FROM gq_est ORDER BY p_ppm
        """,
    )
    def q_grid_merge_quantiles(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.sketches import (
            merge_grid_cells,
            quantile_grid_cells,
            sketch_quantiles_from_cells,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("v"),
        ).filter(F.col("v").isNotNull())
        half_a = quantile_grid_cells(ev.filter(F.col("event_id") % 2 == 0), "v")
        half_b = quantile_grid_cells(ev.filter(F.col("event_id") % 2 != 0), "v")
        merged = merge_grid_cells(half_a, half_b)
        return sketch_quantiles_from_cells(
            merged, [250_000, 500_000, 750_000, 990_000]
        ).orderBy("p_ppm")

    @_register(
        "bitmap_merge_distinct",
        "C7-exact/north-star (r7: the EXACT merge law — roaring-bitmap "
        "distinct states built independently on the even/odd event_id "
        "halves, merged by bitmap_merge (UNION + bitmap_or_agg, "
        "idempotent), finalized from the MERGED state; oracle = plain "
        "COUNT(DISTINCT) over everything, equal because per-(key, "
        "bucket) bitmap OR over any partitioning covers the same bit "
        "set — completes the merge-law trio: grid SUM, HLL MAX, "
        "bitmap OR — operators/sketches.py::bitmap_merge)",
        """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
        FROM events
        GROUP BY event_type
        ORDER BY event_type
        """,
    )
    def q_bitmap_merge_distinct(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.sketches import (
            bitmap_finalize,
            bitmap_merge,
            bitmap_state,
        )

        ev = load_table(spark, sf_dir, "events")
        half_a = bitmap_state(
            ev.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id"
        )
        half_b = bitmap_state(
            ev.filter(F.col("event_id") % 2 != 0), ["event_type"], "user_id"
        )
        merged = bitmap_merge(half_a, half_b, keys=["event_type"])
        return bitmap_finalize(merged, ["event_type"]).orderBy("event_type")

    # ------------------------------------------------------------------
    # r7 — Z-order layout audit: the multi-dimensional file-skipping
    # primitive (Delta OPTIMIZE ZORDER / Iceberg sort orders) as plain
    # integer DataFrame ops with a shared-expression oracle twin.
    # ------------------------------------------------------------------

    from .operators.layout import zorder_layout_sql

    _ZORDER_Y = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"

    @_register(
        "zorder_layout_orders",
        "north-star/A5 (r7: Z-order/Morton layout audit over orders — "
        "interleave o_custkey × price-cents bits into one clustering "
        "key, bucket by the top 10 key bits (= the file boundaries "
        "zorder_sort would write) and report per-bucket min/max of "
        "BOTH dimensions: the bounded-rectangle property that makes "
        "min/max file skipping work on either filter column at 100 TB "
        "— operators/layout.py; Spark and DuckDB share one generated "
        "bit-interleave expression)",
        zorder_layout_sql("orders", "o_custkey", _ZORDER_Y),
    )
    def q_zorder_layout_orders(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.layout import zorder_layout_stats

        o = load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            F.expr(_ZORDER_Y).alias("__price_cents"),
        )
        return zorder_layout_stats(o, "o_custkey", "__price_cents")

    @_register(
        "zorder_erasure_layout",
        "north-star/GDPR (r8: the erasure × layout interaction — "
        "Z-order-write orders into a scratch warehouse, stat-pruned "
        "GDPR-erase every o_custkey divisible by 97 with the layout-"
        "preserving per-file rewrite, then run the Morton layout "
        "audit on the SURVIVING table; oracle = the same audit over "
        "the filtered rows, so the gate proves the erasure removed "
        "exactly the right rows from the clustered table and the "
        "audit arithmetic survived the round trip; the per-FILE "
        "physical rectangles are asserted in tests/"
        "test_erasure_layout.py — pipeline/erasure.py::"
        "erase_keys(preserve_layout=True) over an AtomicWarehouse, "
        "operators/layout.py)",
        zorder_layout_sql(
            "(SELECT * FROM orders WHERE o_custkey % 97 <> 0)",
            "o_custkey",
            _ZORDER_Y,
        ),
    )
    def q_zorder_erasure_layout(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os
        import shutil

        from .ext.shared import shared_artifact
        from .operators.layout import zorder_layout_stats
        from .pipeline.atomic import AtomicWarehouse
        from .pipeline.erasure import erase_keys
        from .sources.io import write_zordered

        def build(path: str) -> None:
            # the side-effecting write+erase runs ONCE per session
            # (shared_artifact memoizes the POST-ERASURE warehouse —
            # the artifact, not the audit answer); the Morton layout
            # audit below runs on every call, so suite timings
            # measure the real audit over the surviving table
            o = load_table(spark, sf_dir, "orders").select(
                "o_custkey", F.expr(_ZORDER_Y).alias("__price_cents")
            )
            wh = AtomicWarehouse(spark, path)
            src = os.path.join(path, "orders_z", "_zordered")
            write_zordered(o, src, "o_custkey", "__price_cents", n_files=16)
            with wh.transaction() as txn:
                txn.append_parquet_dir(src, "orders_z", link=True)
            shutil.rmtree(src)
            ids = (
                o.filter(F.col("o_custkey") % 97 == 0)
                .select("o_custkey")
                .distinct()
            )
            erase_keys(
                wh, ids, "o_custkey", ["orders_z"], preserve_layout=True
            )

        ws = shared_artifact(
            spark, f"zorder_erasure_warehouse::{sf_dir}", build
        )
        return zorder_layout_stats(
            AtomicWarehouse(spark, ws).read("orders_z"),
            "o_custkey",
            "__price_cents",
        )

    # ------------------------------------------------------------------
    # r8 — KMV / theta sketch: the mergeable distinct state that also
    # answers INTERSECTION cardinality (HLL cannot without inclusion-
    # exclusion blow-up). Point estimate, theta intersection, and the
    # merge law all under the hash gate.
    # ------------------------------------------------------------------

    from .operators.sketches import (
        kmv_finalize,
        kmv_merge,
        kmv_oracle_sql,
        kmv_state,
        theta_difference_sql,
        theta_intersect,
        theta_intersect_sql,
    )

    @_register(
        "kmv_distinct_parts",
        "C7/north-star (r8: deterministic KMV/theta distinct estimate "
        "— k smallest distinct two-base-poly hashes of l_partkey as a "
        "readable k-row state table, Beyer et al. (k-1)*D/h_(k) "
        "estimator in pure integer arithmetic; state build = one "
        "map-side-partial DISTINCT exchange + TakeOrdered(k), estimate "
        "bit-identical cross-engine — operators/sketches.py::"
        "kmv_state/kmv_finalize)",
        kmv_oracle_sql("lineitem", "l_partkey"),
    )
    def q_kmv_distinct_parts(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
        return kmv_finalize(kmv_state(li, "l_partkey"))


    def _kmv_priority_state(
        spark: SparkSession, sf_dir: str, prio: str
    ) -> DataFrame:
        """Session-memoized KMV state of the o_custkeys at one order
        priority — a 256-row bounded artifact consumed by BOTH theta
        queries (intersection + difference), the shared-intermediate
        pattern (ext/shared.py): each query stays a self-contained
        oracle unit, the state builds once per session."""
        from .ext.shared import shared_frame

        def build() -> DataFrame:
            o = load_table(spark, sf_dir, "orders").select(
                "o_custkey", "o_orderpriority"
            )
            return kmv_state(
                o.filter(F.col("o_orderpriority") == prio), "o_custkey"
            )

        return shared_frame(
            spark, f"kmv_prio_state::{sf_dir}::{prio}", build
        )

    @_register(
        "theta_intersect_customers",
        "C7/north-star (r8: theta-sketch INTERSECTION — customers who "
        "placed BOTH a 1-URGENT and a 5-LOW order, estimated from two "
        "k-row KMV states via the shared uniform sample below theta = "
        "min(theta_a, theta_b): |A∩B| ~ c*D/theta, Jaccard = the "
        "in-sample ratio; the set-overlap question HLL union state "
        "cannot answer, exact when both sides are below capacity — "
        "operators/sketches.py::theta_intersect)",
        theta_intersect_sql(
            "(SELECT o_custkey FROM orders"
            " WHERE o_orderpriority = '1-URGENT')",
            "(SELECT o_custkey FROM orders"
            " WHERE o_orderpriority = '5-LOW')",
            "o_custkey",
        ),
    )
    def q_theta_intersect_customers(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        sa = _kmv_priority_state(spark, sf_dir, "1-URGENT")
        sb = _kmv_priority_state(spark, sf_dir, "5-LOW")
        return theta_intersect(sa, sb)

    @_register(
        "kmv_merge_distinct",
        "C7/north-star (r8: the KMV MERGE LAW under the hash gate — "
        "states built independently on the even/odd o_orderkey halves "
        "and merged by kmv_merge (union, distinct, k-smallest); the "
        "oracle is the one-shot whole-data KMV, equal with EXACT "
        "equality (not just in distribution): every one of the k "
        "smallest hashes overall is within the k smallest of its own "
        "half — completes the merge-law quartet: grid SUM, HLL MAX, "
        "bitmap OR, KMV k-smallest — operators/sketches.py::kmv_merge)",
        kmv_oracle_sql("orders", "o_custkey"),
    )
    def q_kmv_merge_distinct(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        # == 0 vs != 0, not == 1: % truncates toward zero, so the
        # halves must partition the rows for any key domain (the
        # hll_merge_monthly sign lesson)
        half_a = kmv_state(
            o.filter(F.col("o_orderkey") % 2 == 0), "o_custkey"
        )
        half_b = kmv_state(
            o.filter(F.col("o_orderkey") % 2 != 0), "o_custkey"
        )
        return kmv_finalize(kmv_merge(half_a, half_b))

    # ------------------------------------------------------------------
    # r9 — deterministic count-min sketch: the "how often does key k
    # occur" companion to HLL's "how many distinct", with bounded d·w
    # counter state, an exact merge law (counter addition), and the
    # MIN-over-rows point estimate — all on the engine-agnostic
    # Carter-Wegman hash family so the state itself hash-checks.
    # ------------------------------------------------------------------

    from .operators.sketches import (
        cms_det_oracle_sql,
        cms_estimate_det,
        cms_merge,
        cms_state_det,
    )

    @_register(
        "cms_heavy_parts",
        "C7/north-star (r9: deterministic count-min sketch — d=4 "
        "Carter-Wegman row hashes over the 2^31-1 prime into w=512 "
        "cells, state = bounded d*w counter table built by ONE "
        "map-side-combinable hash aggregate regardless of input "
        "size; estimate = MIN over the probe key's d cells, "
        "guaranteed >= true count; probes = the true top-10 parts, "
        "output carries true vs estimated count so the gate checks "
        "the estimator end to end — operators/sketches.py::"
        "cms_state_det/cms_estimate_det)",
        cms_det_oracle_sql(
            "lineitem",
            "l_partkey",
            "SELECT l_partkey AS k FROM lineitem GROUP BY 1 "
            "ORDER BY COUNT(*) DESC, l_partkey ASC LIMIT 10",
        ),
    )
    def q_cms_heavy_parts(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
        probes = (
            li.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("true_count"))
            .orderBy(F.desc("true_count"), F.asc("l_partkey"))
            .limit(10)
        )
        est = cms_estimate_det(
            cms_state_det(li, "l_partkey"),
            probes.select(F.col("l_partkey").alias("k")),
            "k",
        )
        return (
            est.join(
                F.broadcast(
                    probes.select(
                        F.col("l_partkey").alias("k"), "true_count"
                    )
                ),
                "k",
            )
            .select("k", "true_count", "est_count")
            .orderBy("k")
        )

    @_register(
        "cms_merge_counts",
        "C7/north-star (r9: the count-min MERGE LAW under the hash "
        "gate — states built independently on the even/odd o_orderkey "
        "halves, merged by counter addition (UNION+SUM; exact state "
        "equality, the per-batch-state -> warehouse-merge shape), "
        "then probed for the true top-5 customers; oracle = the "
        "whole-data sketch, equal by the law — operators/"
        "sketches.py::cms_merge)",
        cms_det_oracle_sql(
            "orders",
            "o_custkey",
            "SELECT o_custkey AS k FROM orders GROUP BY 1 "
            "ORDER BY COUNT(*) DESC, o_custkey ASC LIMIT 5",
        ),
    )
    def q_cms_merge_counts(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        probes = (
            o.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("true_count"))
            .orderBy(F.desc("true_count"), F.asc("o_custkey"))
            .limit(5)
        )
        # == 0 vs != 0: the halves must partition any key domain
        half_a = cms_state_det(
            o.filter(F.col("o_orderkey") % 2 == 0), "o_custkey"
        )
        half_b = cms_state_det(
            o.filter(F.col("o_orderkey") % 2 != 0), "o_custkey"
        )
        est = cms_estimate_det(
            cms_merge(half_a, half_b),
            probes.select(F.col("o_custkey").alias("k")),
            "k",
        )
        return (
            est.join(
                F.broadcast(
                    probes.select(
                        F.col("o_custkey").alias("k"), "true_count"
                    )
                ),
                "k",
            )
            .select("k", "true_count", "est_count")
            .orderBy("k")
        )

    def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple:
        """Bucket orders + lineitem by orderkey into catalog tables
        ONCE per session (shared_artifact holds the table FILES; the
        table names carry the artifact digest so concurrent sf_dirs
        never collide) — the pay-distribution-once-at-write-time
        side of the bucketed-join contract."""
        import hashlib as _hl

        from .ext.shared import shared_artifact
        from .sources.io import write_bucketed_table

        digest = _hl.sha256(
            f"bucketed_pair::{sf_dir}".encode()
        ).hexdigest()[:12]
        t_orders = f"r9_bkt_orders_{digest}"
        t_lineitem = f"r9_bkt_lineitem_{digest}"

        def build(path: str) -> None:
            write_bucketed_table(
                load_table(spark, sf_dir, "orders").select(
                    "o_orderkey", "o_orderpriority"
                ),
                t_orders,
                "o_orderkey",
                16,
                location=path + "/orders",
            )
            write_bucketed_table(
                load_table(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_extendedprice"
                ),
                t_lineitem,
                "l_orderkey",
                16,
                location=path + "/lineitem",
            )

        # the memo is per-application and saveAsTable registers in the
        # application-shared external catalog, so memo-hit == tables
        # visible to every session of this application
        shared_artifact(spark, f"bucketed_pair::{sf_dir}", build)
        return t_orders, t_lineitem

    @_register(
        "bucketed_colocated_join",
        "north-star/B3 (r9: BUCKETED co-located join — orders and "
        "lineitem written bucketBy(16, orderkey) + bucket-sorted as "
        "catalog tables once per session (the pay-the-shuffle-once "
        "lakehouse pattern), then joined WITHOUT any shuffle "
        "exchange on either side (plan-contract-tested: zero "
        "Exchange under the SortMergeJoin); at 100 TB this is the "
        "difference between re-shuffling the fact table per join and "
        "reading it pre-distributed — sources/io.py::"
        "write_bucketed_table)",
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1 ORDER BY 1
        """,
    )
    def q_bucketed_colocated_join(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        t_orders, t_lineitem = _bucketed_pair(spark, sf_dir)
        o = spark.table(t_orders)
        li = spark.table(t_lineitem)
        # merge hint: at test SF AQE would broadcast the orders side
        # and bypass the bucketing; the hint pins the plan to the
        # both-sides-large regime the operator exists for — bucketed
        # SortMergeJoin with ZERO shuffle exchanges (plan-tested)
        return (
            o.join(
                li.hint("merge"),
                o["o_orderkey"] == li["l_orderkey"],
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * 100 + F.lit(0.5)
                    ).cast("long")
                ).alias("revenue_cents"),
            )
            .orderBy("o_orderpriority")
        )

    @_register(
        "shard_rebalance_audit",
        "north-star/A5 (r9: the resharding-cost audit — exact key "
        "movement under modulo vs rendezvous/HRW placement when the "
        "shard count grows 8 -> 9: modulo moves ~N/(N+1) of all keys "
        "(a full-cluster rewrite), HRW moves only the keys the new "
        "shard's score wins (~1/(N+1)) — the consistent-placement "
        "property every 100 TB repartition decision rests on, "
        "computed exactly over the distinct key set with the shared "
        "Carter-Wegman scores and an integer argmax tie-break — "
        "operators/layout.py::shard_rebalance_audit)",
        f"""
        WITH keys AS (
            SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k
            FROM orders WHERE o_custkey IS NOT NULL
        ), sc AS (
            SELECT k, s,
                   ((((k % 2147483647 + 2147483647) % 2147483647)
                     * 1103515245 + s * 40503 + 12345)
                    % 2147483647 * 69069 + 1) % 2147483647 AS score
            FROM keys CROSS JOIN (
                SELECT UNNEST(range(0, 9)) AS s
            )
        ), pl AS (
            SELECT k,
                   arg_max(s, score * 1024 - s)
                     FILTER (WHERE s < 8) AS old_hrw,
                   arg_max(s, score * 1024 - s) AS new_hrw
            FROM sc GROUP BY k
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN ((k % 8) + 8) % 8
                              <> ((k % 9) + 9) % 9
                         THEN 1 ELSE 0 END)
                    AS BIGINT) AS moved_modulo,
               CAST(SUM(CASE WHEN old_hrw <> new_hrw THEN 1 ELSE 0 END)
                    AS BIGINT) AS moved_hrw
        FROM pl
        """,
    )
    def q_shard_rebalance_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.layout import shard_rebalance_audit

        return shard_rebalance_audit(
            load_table(spark, sf_dir, "orders"), "o_custkey", 8, 9
        )

    @_register(
        "bloom_join_prune",
        "C7/north-star (r9: deterministic Bloom filter as the "
        "join-prune side channel — k=4 Carter-Wegman bits over "
        "m=65536 into a bounded 1024-word BIT_OR state built on the "
        "BUILDING-segment customers, probed by every order key with "
        "a broadcast of the state; no false negatives by "
        "construction, and the output carries true-match vs "
        "bloom-pass vs false-positive counts so the gate checks the "
        "membership semantics end to end — operators/sketches.py::"
        "bloom_state/bloom_probe)",
        f"""
        WITH h(r, a, b) AS (
            SELECT 0, 506952114, 12345 UNION ALL
            SELECT 1, 40503, 98765 UNION ALL
            SELECT 2, 1103515245, 54321 UNION ALL
            SELECT 3, 69069, 777777777
        ), cust AS (
            SELECT c_custkey AS x FROM customer
            WHERE c_mktsegment = 'BUILDING'
        ), bits AS (
            SELECT DISTINCT
                   ((((x % 2147483647) + 2147483647) % 2147483647)
                    * a + b) % 2147483647 % 65536 AS pos
            FROM cust CROSS JOIN h
        ), keys AS (
            SELECT DISTINCT o_custkey AS k FROM orders
        ), kpos AS (
            SELECT k,
                   ((((k % 2147483647) + 2147483647) % 2147483647)
                    * a + b) % 2147483647 % 65536 AS pos
            FROM keys CROSS JOIN h
        ), kpass AS (
            SELECT k FROM kpos LEFT JOIN bits USING (pos)
            GROUP BY k HAVING COUNT(bits.pos) = 4
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_custkey IN (SELECT x FROM cust)) AS n_true,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_custkey IN (SELECT k FROM kpass)) AS n_pass,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_custkey IN (SELECT k FROM kpass)
               AND o_custkey NOT IN (SELECT x FROM cust))
              AS n_false_pos
        """,
    )
    def q_bloom_join_prune(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.sketches import bloom_probe, bloom_state

        cust = load_table(spark, sf_dir, "customer")
        orders = load_table(spark, sf_dir, "orders").select("o_custkey")
        build = cust.filter(
            F.col("c_mktsegment") == "BUILDING"
        ).select("c_custkey")
        state = bloom_state(build, "c_custkey")
        passed = bloom_probe(state, orders, "o_custkey")
        n_true = orders.join(
            F.broadcast(build),
            orders["o_custkey"] == build["c_custkey"],
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("n_true"))
        n_pass = passed.agg(F.count(F.lit(1)).alias("n_pass"))
        n_fp = passed.join(
            F.broadcast(build),
            passed["o_custkey"] == build["c_custkey"],
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_false_pos"))
        return n_true.crossJoin(n_pass).crossJoin(n_fp)

    # ------------------------------------------------------------------
    # r8 — incremental view maintenance for JOIN views (pipeline/
    # ivm.py): the insert-only delta rule and the batched fold of a
    # join-aggregate, both proven against one-shot oracles.
    # ------------------------------------------------------------------

    from .functions.deterministic import oracle_dsum
    from .pipeline.ivm import join_view_delta, merge_agg_state

    @_register(
        "ivm_join_delta",
        "north-star/A14 (r8: the IVM delta rule itself under the hash "
        "gate — orders/customer each split into old + delta, Spark "
        "computes the rows ADDED to the join view as "
        "dA⋈B_new ∪ A_old⋈dB with both delta sides broadcast (the "
        "stored relations never shuffle); the oracle computes "
        "new-join-minus-old-join directly — equal exactly for "
        "insert-only inner joins — pipeline/ivm.py::join_view_delta)",
        """
        SELECT o_custkey AS custkey, o_orderkey, o_totalprice, c_name
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE (o_orderkey % 5 = 0) OR (c_custkey % 7 = 0)
        """,
    )
    def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            "o_totalprice",
        )
        b = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"), "c_name"
        )
        # == 0 vs != 0: the halves must partition any key domain
        a_delta = a.filter(F.col("o_orderkey") % 5 == 0)
        a_old = a.filter(F.col("o_orderkey") % 5 != 0)
        b_delta = b.filter(F.col("custkey") % 7 == 0)
        b_old = b.filter(F.col("custkey") % 7 != 0)
        return join_view_delta(a_old, a_delta, b_old, b_delta, ["custkey"])

    @_register(
        "ivm_revenue_view",
        "north-star/B1+B3 (r8: incremental maintenance of the revenue "
        "join-VIEW — lineitem folded in 3 batches, each batch eager-"
        "aggregated per order, broadcast-joined to orders, partial-"
        "aggregated per customer, and merged into DECIMAL view state "
        "by UNION+SUM (merge_agg_state); the oracle is the one-shot "
        "3-table join-aggregate, equal bit-exactly because DECIMAL "
        "sums re-associate over any batching — the never-rescan-"
        "history shape of a 100 TB materialized view — pipeline/"
        "ivm.py::merge_agg_state)",
        f"""
        SELECT c_custkey, c_name,
               {oracle_dsum('l_extendedprice * (1 - l_discount)',
                            'DECIMAL(18,4)')} AS revenue,
               COUNT(*) AS n_items
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        GROUP BY c_custkey, c_name
        """,
    )
    def q_ivm_revenue_view(spark: SparkSession, sf_dir: str) -> DataFrame:
        orders = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
            .select("o_orderkey", "o_custkey")
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name"
        )
        li = load_table(spark, sf_dir, "lineitem")

        state = None
        for i in range(3):
            batch = li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == i)
            per_order = batch.groupBy("l_orderkey").agg(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ).alias("rev_dec"),
                F.count(F.lit(1)).alias("n_items"),
            )
            # no forced broadcast: a real delta batch is small and
            # AQE broadcasts it; a backfill-sized batch (the x100
            # sweep's shape — each 'batch' grows with the table)
            # shuffle-joins instead of forcing a huge broadcast
            partial = (
                per_order
                .join(orders, per_order.l_orderkey == orders.o_orderkey)
                .groupBy("o_custkey")
                .agg(
                    F.sum("rev_dec")
                    .cast("decimal(28,4)")
                    .alias("rev_dec"),
                    F.sum("n_items").alias("n_items"),
                )
            )
            state = merge_agg_state(state, partial, ["o_custkey"])

        return (
            state.join(
                F.broadcast(cust),
                state.o_custkey == cust.c_custkey,
            )
            .select(
                "c_custkey",
                "c_name",
                F.col("rev_dec").cast("double").alias("revenue"),
                "n_items",
            )
        )

    # ------------------------------------------------------------------
    # r8 — classical seasonal decomposition (trend / seasonal /
    # residual) over the monthly revenue series, pure-integer, no
    # global window (bounded offset self-join on the aggregated frame).
    # ------------------------------------------------------------------

    @_register(
        "seasonal_decompose_revenue",
        "north-star/B1 (r8: classical additive decomposition of the "
        "monthly revenue series — centered 2x12 moving-average trend "
        "as a 13-row offset self-join on the AGGREGATED frame (fact "
        "touched once, no unpartitioned window), per-calendar-month "
        "mean-deviation seasonal index with sign-safe floor division, "
        "residual = the rest; all cents/ppm BIGINTs — operators/"
        "timeseries.py::seasonal_decompose_monthly)",
        """
        WITH mth AS (
            SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                   SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                     AS rc
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
            GROUP BY 1, 2
        ), idx AS (
            SELECT yr, mo, yr * 12 + mo AS i, rc FROM mth
        ), off(o, w) AS (
            VALUES (-6,1),(-5,2),(-4,2),(-3,2),(-2,2),(-1,2),(0,2),
                   (1,2),(2,2),(3,2),(4,2),(5,2),(6,1)
        ), tr AS (
            SELECT a.yr, a.mo, a.rc,
                   CASE WHEN COUNT(*) = 13 THEN
                     CAST(SUM(CAST(b.rc AS HUGEINT) * o.w) * 1000000
                          // 24 AS BIGINT)
                   END AS trend_ppm
            FROM idx a
            JOIN off o ON TRUE
            JOIN idx b ON b.i = a.i + o.o
            GROUP BY 1, 2, 3
        ), d AS (
            -- detrend in HUGEINT (rc * 1e6 wraps BIGINT once a month
            -- tops ~9.2e12 cents), mirroring the Spark DECIMAL(38,0)
            SELECT yr, mo, rc, trend_ppm,
                   CAST(rc AS HUGEINT) * 1000000 - trend_ppm AS d_ppm
            FROM tr
        ), si0 AS (
            SELECT mo, SUM(CAST(d_ppm AS HUGEINT)) AS s,
                   CAST(COUNT(*) AS HUGEINT) AS n
            FROM d WHERE d_ppm IS NOT NULL GROUP BY 1
        ), si AS (
            -- FLOOR division (DuckDB's // truncates toward zero):
            -- subtract the positive mod first, then divide exactly
            SELECT mo,
                   CAST((s - ((s % n) + n) % n) // n AS BIGINT)
                     AS seasonal_ppm
            FROM si0
        )
        SELECT printf('%04d-%02d', d.yr, d.mo) AS order_month,
               CAST(d.rc AS BIGINT) AS revenue_cents, d.trend_ppm,
               si.seasonal_ppm,
               CAST(d.d_ppm - si.seasonal_ppm AS BIGINT)
                 AS residual_ppm
        FROM d LEFT JOIN si USING (mo)
        """,
    )
    def q_seasonal_decompose_revenue(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.timeseries import seasonal_decompose_monthly

        return seasonal_decompose_monthly(
            load_table(spark, sf_dir, "orders"),
            "o_orderdate",
            "o_totalprice",
        )

    @_register(
        "holt_forecast_revenue",
        "north-star/B1 (r9: Holt's linear-trend double exponential "
        "smoothing over the monthly revenue series with the h-step "
        "forecast — alpha=beta=1/2 so every smoothing step is an "
        "exact integer FLOOR halving (arithmetic shift / //: floor "
        "on both engines even for negative trends); fact touched "
        "once by the monthly agg, the recurrence is ONE F.aggregate "
        "fold over the bounded sorted month array (the ewma idiom "
        "with a struct accumulator), oracle = a recursive-CTE twin "
        "of the same recurrence — operators/timeseries.py::"
        "holt_linear_forecast)",
        """
        WITH RECURSIVE mth AS (
            -- CAST the SUM back: DuckDB SUM(BIGINT) -> HUGEINT would
            -- propagate through the recursion into the output dtypes
            SELECT year(o_orderdate) * 12 + month(o_orderdate) AS idx,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS y
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
            GROUP BY 1
        ), s AS (
            SELECT ROW_NUMBER() OVER (ORDER BY idx) AS t, y FROM mth
        ), hw(t, l, b) AS (
            -- FLOOR halving (DuckDB // truncates toward zero; the
            -- trend goes negative): x//2 spelled (x - pmod(x,2))//2
            SELECT 1, y, CAST(0 AS BIGINT) FROM s WHERE t = 1
            UNION ALL
            SELECT hw.t + 1,
                   CASE WHEN hw.t = 1 THEN s.y
                        ELSE ((s.y + hw.l + hw.b)
                              - (((s.y + hw.l + hw.b) % 2) + 2) % 2)
                             // 2 END,
                   CASE WHEN hw.t = 1 THEN s.y - hw.l
                        ELSE ((((s.y + hw.l + hw.b)
                                - (((s.y + hw.l + hw.b) % 2) + 2) % 2)
                               // 2 - hw.l + hw.b)
                              - ((((s.y + hw.l + hw.b)
                                   - (((s.y + hw.l + hw.b) % 2) + 2)
                                     % 2) // 2 - hw.l + hw.b) % 2 + 2)
                                % 2) // 2 END
            FROM hw JOIN s ON s.t = hw.t + 1
        ), fin AS (
            SELECT l, b FROM hw ORDER BY t DESC LIMIT 1
        )
        SELECT CAST(h AS INT) AS h, CAST(l AS BIGINT) AS level_cents,
               CAST(b AS BIGINT) AS trend_cents,
               CAST(l + h * b AS BIGINT) AS forecast_cents
        FROM fin CROSS JOIN (VALUES (1), (2), (3)) AS hs(h)
        ORDER BY h
        """,
    )
    def q_holt_forecast_revenue(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.timeseries import holt_linear_forecast

        return holt_linear_forecast(
            load_table(spark, sf_dir, "orders"),
            "o_orderdate",
            "o_totalprice",
        )

    @_register(
        "ivm_retraction_view",
        "north-star/A14+B1 (r8: counting IVM — deletes fold into the "
        "maintained view as NEGATED partials (multiplicity algebra), "
        "groups at count 0 leave the view; insert-everything then "
        "retract-the-%11-keys == the one-shot aggregate over the "
        "surviving rows, bit-exact DECIMAL — pipeline/ivm.py::"
        "negate_partial/merge_agg_state)",
        f"""
        SELECT o_custkey, COUNT(*) AS n_orders,
               {oracle_dsum('o_totalprice')} AS total_spend
        FROM orders
        WHERE o_orderkey % 11 != 0
        GROUP BY o_custkey
        """,
    )
    def q_ivm_retraction_view(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .pipeline.ivm import negate_partial

        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )

        def partial(df: DataFrame) -> DataFrame:
            return df.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(28,2)")
                .alias("spend_dec"),
            )

        inserted = partial(o)
        deleted = negate_partial(
            partial(o.filter(F.col("o_orderkey") % 11 == 0)),
            ["o_custkey"],
        )
        state = merge_agg_state(inserted, deleted, ["o_custkey"])
        return state.filter(F.col("n_orders") > 0).select(
            "o_custkey",
            "n_orders",
            F.col("spend_dec").cast("double").alias("total_spend"),
        )

    @_register(
        "ivm_join_retraction",
        "north-star/A14+B3 (r9: the delete-side delta rule for JOIN "
        "views — d-(A⋈B) = d-A⋈B_old UNION A_new⋈d-B (disjoint "
        "terms, deltas broadcast, stored relations never shuffle); "
        "the retracted join rows negate-partial-aggregate and fold "
        "into the maintained per-customer view state, groups at "
        "count 0 leave; == the one-shot aggregate over the SURVIVING "
        "join, bit-exact DECIMAL — the reference's corrections-"
        "arrive-later case on a join view — pipeline/ivm.py::"
        "join_view_retraction)",
        f"""
        SELECT o_custkey AS custkey, COUNT(*) AS n_rows,
               {oracle_dsum('o_totalprice')} AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderkey % 13 <> 0 AND c_custkey % 17 <> 0
        GROUP BY 1
        """,
    )
    def q_ivm_join_retraction(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .pipeline.ivm import join_view_retraction, negate_partial

        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            "o_totalprice",
        )
        c = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey")
        )

        def partial(rows: DataFrame) -> DataFrame:
            return rows.groupBy("custkey").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(28,2)")
                .alias("spend_dec"),
            )

        # == 0 vs != 0: the delete batch and the survivors must
        # partition any key domain (the kmv_merge sign lesson)
        o_del = o.filter(F.col("o_orderkey") % 13 == 0)
        o_new = o.filter(F.col("o_orderkey") % 13 != 0)
        c_del = c.filter(F.col("custkey") % 17 == 0)
        # the maintained view state, built BEFORE the corrections
        state = partial(o.join(c, ["custkey"]))
        retracted = join_view_retraction(
            o_new, o_del, c, c_del, ["custkey"]
        )
        state = merge_agg_state(
            state, negate_partial(partial(retracted), ["custkey"]),
            ["custkey"],
        )
        return state.filter(F.col("n_rows") > 0).select(
            "custkey",
            "n_rows",
            F.col("spend_dec").cast("double").alias("total_spend"),
        )

    @_register(
        "theta_diff_customers",
        "C7/north-star (r8: theta A-NOT-B — customers who placed a "
        "1-URGENT order but NEVER a 5-LOW one, estimated from the "
        "same two k-row KMV states as the intersection query via the "
        "uniform sample below theta; the 'did X but never Y' curation "
        "question (docs in corpus A absent from B) — operators/"
        "sketches.py::theta_difference)",
        theta_difference_sql(
            "(SELECT o_custkey FROM orders"
            " WHERE o_orderpriority = '1-URGENT')",
            "(SELECT o_custkey FROM orders"
            " WHERE o_orderpriority = '5-LOW')",
            "o_custkey",
        ),
    )
    def q_theta_diff_customers(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators.sketches import theta_difference

        sa = _kmv_priority_state(spark, sf_dir, "1-URGENT")
        sb = _kmv_priority_state(spark, sf_dir, "5-LOW")
        return theta_difference(sa, sb)

    # ------------------------------------------------------------------
    # r8 — as-of join gains merge_asof parity: direction="forward" and
    # a match tolerance, same one-window plan.
    # ------------------------------------------------------------------

    @_register(
        "asof_forward_tolerance",
        "custom operator (r8: FORWARD as-of with tolerance — for each "
        "click the EARLIEST purchase at-or-after it by the same user, "
        "kept only within 1 hour (attribution semantics: 'did a "
        "purchase follow this click promptly'); same union + one-"
        "window plan as the backward form, traversal reversed, "
        "matched-ts distance test after the fill — operators/"
        "joins.py::asof_join(direction='forward', tolerance=...); "
        "oracle = DuckDB native forward ASOF + interval filter)",
        """
        WITH clicks AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase'
        )
        SELECT clicks.ts, clicks.user_id, clicks.event_id,
               CASE WHEN purchases.ts <= clicks.ts + INTERVAL 1 HOUR
                    THEN purchases.value END AS next_purchase_value
        FROM clicks
        ASOF LEFT JOIN purchases
          ON clicks.user_id = purchases.user_id
         AND clicks.ts <= purchases.ts
        """,
    )
    def q_asof_forward_tolerance(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import joins as JN

        ev = load_table(spark, sf_dir, "events")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("next_purchase_value")
        )
        return JN.asof_join(
            clicks,
            purchases,
            ts_col="ts",
            by=["user_id"],
            right_vals=["next_purchase_value"],
            direction="forward",
            tolerance=F.expr("INTERVAL 1 HOUR"),
        )

    @_register(
        "asof_nearest_join",
        "custom operator (r8: NEAREST as-of — the purchase closest in "
        "time to each click (either side), within 2 hours, ties to "
        "the earlier row; both fills ride ONE key exchange (two "
        "in-partition sort orders) — operators/joins.py::asof_join("
        "direction='nearest'); oracle = backward + forward DuckDB "
        "ASOF joins recombined by the same distance rule)",
        """
        WITH clicks AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase'
        ), b AS (
            SELECT c.user_id, c.ts, c.event_id,
                   p.ts AS bts, p.value AS bv
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        ), f AS (
            SELECT c.user_id, c.ts, c.event_id,
                   p.ts AS fts, p.value AS fv
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts <= p.ts
        ), j AS (
            SELECT b.user_id, b.ts, b.event_id, b.bts, b.bv, f.fts, f.fv,
                   (b.bts IS NOT NULL
                    AND b.bts >= b.ts - INTERVAL 2 HOUR) AS b_ok,
                   (f.fts IS NOT NULL
                    AND f.fts <= b.ts + INTERVAL 2 HOUR) AS f_ok
            FROM b JOIN f ON b.user_id = f.user_id AND b.ts = f.ts
                         AND b.event_id = f.event_id
        )
        SELECT ts, user_id, event_id,
               CASE
                 WHEN b_ok AND (NOT f_ok OR (ts - bts) <= (fts - ts))
                   THEN bv
                 WHEN f_ok THEN fv
               END AS nearest_purchase_value
        FROM j
        """,
    )
    def q_asof_nearest_join(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .operators import joins as JN

        ev = load_table(spark, sf_dir, "events")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts",
            F.col("value").alias("nearest_purchase_value"),
        )
        return JN.asof_join(
            clicks,
            purchases,
            ts_col="ts",
            by=["user_id"],
            right_vals=["nearest_purchase_value"],
            direction="nearest",
            tolerance=F.expr("INTERVAL 2 HOURS"),
        )

    # ------------------------------------------------------------------
    # r8 — persisted IVF index: the assignment as a cell-partitioned
    # warehouse artifact; searches prune to one partition via DPP and
    # return bit-identical results to the fresh ivf_topk path.
    # ------------------------------------------------------------------

    from .registry import _QDOT

    def _ivf_index_workspace(spark: SparkSession, sf_dir: str) -> str:
        """Build the cell-partitioned IVF index ONCE per session into
        a memoized scratch warehouse and return its path (r9: the
        memo holds the index ARTIFACT, never a search answer — every
        registry call runs the real DPP-pruned probe against it, so
        suite timings measure the search, per the build-once/
        search-many serving contract of ext/ann_index.py)."""
        from .ext.ann_index import build_ivf_index
        from .ext.shared import shared_artifact
        from .pipeline.atomic import AtomicWarehouse

        def build(path: str) -> None:
            build_ivf_index(
                AtomicWarehouse(spark, path),
                load_table(spark, sf_dir, "embeddings"),
            )

        return shared_artifact(
            spark, f"ivf_index_workspace::{sf_dir}", build
        )

    @_register(
        "ivf_index_search",
        "C3 scale path (r8/r9: IVF index as a PERSISTED artifact — "
        "the assignment table written partitionBy(cell) and staged "
        "into a session-memoized AtomicWarehouse once (build-once/search-"
        "many: the partition layout IS the inverted-list structure; "
        "the memo holds the INDEX, not any answer), and every call "
        "runs the real search: the 1-row query broadcast onto the "
        "partition column lets dynamic partition pruning reduce the "
        "file scan to the one probed cell directory (plan-tested); "
        "results bit-identical to the fresh ivf_topk subplan, same "
        "oracle — ext/ann_index.py)",
        f"""
        WITH centroids AS (
            SELECT vec_id AS cell, embedding AS cvec FROM embeddings
            WHERE vec_id < 16
        ), scored AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   {_QDOT.format(a='e.embedding', b='c.cvec')} AS score
            FROM embeddings e CROSS JOIN centroids c
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY score DESC, cell ASC)
                       AS rn
                FROM scored
            ) WHERE rn = 1
        ), q AS (
            SELECT cell AS q_cell, embedding AS qvec FROM assigned
            WHERE vec_id = 0
        )
        SELECT a.vec_id, a.cell,
               CAST({_QDOT.format(a='a.embedding', b='q.qvec')} AS BIGINT)
                 AS dot_q
        FROM assigned a CROSS JOIN q
        WHERE a.cell = q.q_cell AND a.vec_id <> 0
        ORDER BY dot_q DESC, a.vec_id ASC
        LIMIT 5
        """,
    )
    def q_ivf_index_search(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.ann_index import search_ivf_index
        from .pipeline.atomic import AtomicWarehouse

        wh = AtomicWarehouse(spark, _ivf_index_workspace(spark, sf_dir))
        return search_ivf_index(spark, wh, query_id=0, k=5)

    @_register(
        "ivf_index_multiprobe",
        "C3 scale path (r8/r9: multi-probe search on the PERSISTED "
        "index, read through its AtomicWarehouse — the centroid vectors "
        "live in the index (its first K rows, the builder's rule; the "
        "session memo holds the INDEX "
        "artifact, not any answer), every call ranks them as a K-row "
        "broadcast and DPP prunes the partitioned scan to the top-3 "
        "cell directories; bit-identical to the fresh "
        "ivf_topk_multiprobe subplan, same oracle — ext/ann_index.py::"
        "search_ivf_index_multiprobe)",
        f"""
        WITH centroids AS (
            SELECT vec_id AS cell, embedding AS cvec FROM embeddings
            WHERE vec_id < 16
        ), scored AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   {_QDOT.format(a='e.embedding', b='c.cvec')} AS score
            FROM embeddings e CROSS JOIN centroids c
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY score DESC, cell ASC)
                       AS rn
                FROM scored
            ) WHERE rn = 1
        ), q AS (
            SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
        ), probe AS (
            SELECT cell FROM (
                SELECT c.cell, {_QDOT.format(a='c.cvec', b='q.qvec')} AS s
                FROM centroids c CROSS JOIN q
            ) ORDER BY s DESC, cell ASC LIMIT 3
        )
        SELECT a.vec_id, a.cell,
               CAST({_QDOT.format(a='a.embedding', b='q.qvec')} AS BIGINT)
                 AS dot_q
        FROM assigned a
        JOIN probe p ON a.cell = p.cell
        CROSS JOIN q
        WHERE a.vec_id <> 0
        ORDER BY dot_q DESC, a.vec_id ASC
        LIMIT 5
        """,
    )
    def q_ivf_index_multiprobe(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.ann_index import search_ivf_index_multiprobe
        from .pipeline.atomic import AtomicWarehouse

        wh = AtomicWarehouse(spark, _ivf_index_workspace(spark, sf_dir))
        return search_ivf_index_multiprobe(
            spark, wh, query_id=0, k=5, n_probe=3
        )

    # ------------------------------------------------------------------
    # r10 — IVF-PQ composite persisted index (FAISS IVFADC): one
    # cell-partitioned artifact carrying PQ codes + full vectors; a
    # search is DPP-pruned probe -> ADC over codes -> exact rerank.
    # ------------------------------------------------------------------

    def _ivfpq_index_workspace(spark: SparkSession, sf_dir: str) -> str:
        """Build the composite index ONCE per session (the memo holds
        the ARTIFACT — codes, cells, codebooks, metadata — never an
        answer; every registry call runs the real probe+ADC+rerank
        against the returned path)."""
        from .ext.ann_index import build_ivfpq_index
        from .ext.shared import shared_artifact
        from .pipeline.atomic import AtomicWarehouse

        def build(path: str) -> None:
            build_ivfpq_index(
                AtomicWarehouse(spark, path),
                load_table(spark, sf_dir, "embeddings"),
                n_centroids=16,
                m=8,
                ksub=8,
                iters=2,
            )

        return shared_artifact(
            spark, f"ivfpq_index_workspace::{sf_dir}", build
        )

    from .ext.similarity import pq_rerank_oracle_sql as _pq_osql

    @_register(
        "ivfpq_index_search",
        "C3 scale path (r10: IVF-PQ COMPOSITE persisted index — the "
        "actual 100 TB ANN shape (FAISS IVFADC): PQ codes keyed by "
        "IVF cell in ONE partitionBy(cell) artifact with the m×ksub "
        "codebook and builder params committed beside it in one "
        "AtomicWarehouse transaction; a search "
        "ranks the K in-index centroids, DPP-prunes the scan to the "
        "top-n_probe cell directories, ADC-scores candidates from "
        "codes alone via a driver-built integer lookup literal, and "
        "exact-reranks only the k·oversample shortlist — bit-"
        "identical to pq_adc_rerank_topk restricted to the probed "
        "cells, same trainer and tie-breaks; oracle = the PQ Lloyd "
        "unroll with the quantized-dot IVF restriction threaded "
        "through ADC/shortlist/rerank — ext/ann_index.py::"
        "build_ivfpq_index/search_ivfpq_index)",
        _pq_osql(
            m=8,
            ksub=8,
            iters=2,
            dim=64,
            query_id=0,
            k=10,
            oversample=5,
            n_centroids=16,
            n_probe=3,
        ),
    )
    def q_ivfpq_index_search(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from .ext.ann_index import search_ivfpq_index
        from .pipeline.atomic import AtomicWarehouse

        wh = AtomicWarehouse(spark, _ivfpq_index_workspace(spark, sf_dir))
        return search_ivfpq_index(
            spark, wh, query_id=0, k=10, n_probe=3, oversample=5
        )
