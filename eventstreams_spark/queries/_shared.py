"""Oracle-SQL fragments used by the queries of several modules.

A family's shared input is one Spark helper plus one oracle CTE, both
in the family's module beside the first query that uses them (for
example forecast_extra._daily_counts / _DAILY_CTE, or
survival_extra._subjects / _LIFE_CTE); the two are independent
implementations of the same construction. Only a fragment used across
modules lives here, like the interaction graph below and its Spark
helper operators/graph.py::interaction_edges.
"""

# The user interaction graph: edge u→v when v's event immediately
# follows u's within an event_type stream (self-loops dropped).
# Mirrors operators/graph.py::interaction_edges exactly.
INTERACTION_PAIRS_CTE = """
    seq AS (
        SELECT event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), pairs AS (
        SELECT a.user_id AS src, b.user_id AS dst
        FROM seq a JOIN seq b
          ON a.event_type = b.event_type AND b.rn = a.rn + 1
        WHERE a.user_id <> b.user_id
    )"""

# directed distinct edges (PageRank)
INTERACTION_EDGES_CTE = (
    INTERACTION_PAIRS_CTE + ", edges AS (SELECT DISTINCT src, dst FROM pairs)"
)

# undirected canonical edges a < b (triangles, k-core)
INTERACTION_UND_CTE = (
    INTERACTION_PAIRS_CTE
    + """, und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM pairs
    )"""
)


def md5_uniform_sql(expr: str) -> str:
    """DuckDB expression: deterministic uniform in (0,1) minted from
    the first 8 hex digits of md5(expr), parsed positionally.
    EXACT twin of functions/sampling.py::md5_uniform — change both
    together (the Efraimidis-Spirakis sampling queries hash against
    it)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i}, 1)) - 1)"
        f" * {float(16 ** (8 - i))}"
        for i in range(1, 9)
    )
    return f"(({terms} + 0.5) / 4294967296.0)"
