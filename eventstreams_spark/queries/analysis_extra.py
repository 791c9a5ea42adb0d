"""Graph, text-quality, and vector-cluster analysis additions.

Three operator families a corpus/behavior engine needs beyond the
round-1 inventory: triangle counting over the interaction graph (the
standard cohesion metric next to PageRank/CC), character-entropy text
quality (the classic gibberish/boilerplate discriminator next to the
stopword and Gopher scores), and nearest-centroid cluster assignment
(the assignment step of k-means / semantic dedup at fixed centroids).

Determinism notes: every floating sum here is either a fixed-order
array fold (bit-exact cross-engine — proven pattern from the knn and
vector-norm queries) or an integer count; argmax ties break on ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vectors import cosine_similarity, to_double_array
from ..operators.graph import interaction_edges, truncate_lineage
from ..operators.spread import leaf_parallelism
from ..registry import query
from ._shared import INTERACTION_UND_CTE, md5_uniform_sql

# shared uniform over documents (ES weighted samplers, here and in
# warehouse_extra's stratified variant)
MD5_UNIFORM_DOC = md5_uniform_sql("CAST(doc_id AS VARCHAR)")


@query(
    "triangle_count_graph",
    category="B7-graph",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, verts AS (
            SELECT count(DISTINCT u) AS n_vertices
            FROM (SELECT a AS u FROM und UNION ALL SELECT b FROM und)
        )
        SELECT (SELECT count(*) FROM und) AS n_edges,
               (SELECT n_vertices FROM verts) AS n_vertices,
               (SELECT count(*)
                FROM und e1
                JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
    """,
)
def triangle_count_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the user interaction graph (same follow-graph
    edge construction as pagerank_fixed_iterations).

    Scale: compact-forward counting — edges are oriented low→high under
    the (degree, id) total order, wedges enumerate only at each edge's
    LOW-degree endpoint, and the closing edge check is a semi join.
    Degree orientation bounds per-vertex wedge fan-out by O(sqrt(m)) on
    skew-free-by-construction keys (total wedge work O(m^1.5) instead
    of sum-of-degrees-squared, the difference between feasible and
    exploding on power-law graphs at 100 TB). The triangle count is
    orientation-invariant, so the oracle may use the simpler id order.
    """
    ev = load_table(spark, sf_dir, "events")
    # cache at cluster parallelism: the window that builds the edge
    # set runs at shuffle-partition width (200), but a cached frame
    # pins that width for every downstream stage AND blocks AQE
    # coalescing — 400-task stages over a KB-scale frontier are pure
    # task-launch overhead. leaf_parallelism tracks the cluster.
    und = truncate_lineage(
        interaction_edges(ev, undirected=True),
        leaf_parallelism(spark),
    )

    deg = (
        und.select(F.col("a").alias("u"))
        .unionAll(und.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b").select(
        "a",
        "b",
        F.struct(F.col("da").alias("d"), F.col("a").alias("u")).alias("ka"),
        F.struct(F.col("db").alias("d"), F.col("b").alias("u")).alias("kb"),
    )
    oriented = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("hi_k"),
    )
    oriented = truncate_lineage(oriented, 8)

    e1 = oriented.select(F.col("lo"), F.col("hi").alias("x"), F.col("hi_k").alias("xk"))
    e2 = oriented.select(F.col("lo"), F.col("hi").alias("y"), F.col("hi_k").alias("yk"))
    wedges = e1.join(e2, "lo").filter(F.col("xk") < F.col("yk")).select("x", "y")
    closing = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi")

    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    n_vertices = (
        und.select(F.col("a").alias("u"))
        .unionAll(und.select(F.col("b").alias("u")))
        .agg(F.count_distinct("u").alias("n_vertices"))
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.crossJoin(n_vertices).crossJoin(n_tri)


@query(
    "kcore_peel_rounds",
    category="B7-graph",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, d0 AS (
            SELECT u, count(*) AS d FROM (
                SELECT a AS u FROM und UNION ALL SELECT b FROM und) GROUP BY u
        ), keep0 AS (SELECT u FROM d0 WHERE d >= 4),
        e1 AS (
            SELECT a, b FROM und
            WHERE a IN (SELECT u FROM keep0) AND b IN (SELECT u FROM keep0)
        ), d1 AS (
            SELECT u, count(*) AS d FROM (
                SELECT a AS u FROM e1 UNION ALL SELECT b FROM e1) GROUP BY u
        ), keep1 AS (SELECT u FROM d1 WHERE d >= 4),
        e2 AS (
            SELECT a, b FROM e1
            WHERE a IN (SELECT u FROM keep1) AND b IN (SELECT u FROM keep1)
        ), d2 AS (
            SELECT u, count(*) AS d FROM (
                SELECT a AS u FROM e2 UNION ALL SELECT b FROM e2) GROUP BY u
        )
        SELECT (SELECT count(*) FROM d0) AS n_vertices_0,
               (SELECT count(*) FROM e1) AS n_edges_1,
               (SELECT count(*) FROM d1) AS n_vertices_1,
               (SELECT count(*) FROM e2) AS n_edges_2,
               (SELECT count(*) FROM d2) AS n_vertices_2
    """,
)
def kcore_peel_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition, two unrolled peeling rounds at k=4 over
    the interaction graph (same edges as pagerank/triangles): drop
    vertices with degree < k, restrict edges to survivors, repeat —
    the standard densest-region prefilter before community detection
    or spam-cluster mining.

    Scale (Pregel-style like the PageRank loop): each round is one
    degree aggregation (count by endpoint) plus two SEMI JOINS of the
    edge set against the surviving vertex set — no windows, no
    driver-side vertex state; at convergence-driven depth the loop
    adds a scalar count per round (bounded metadata, same contract as
    connected components' convergence check).
    """
    ev = load_table(spark, sf_dir, "events")
    # truncate_lineage at every round boundary (VERDICT r5): each
    # peel round's plan would otherwise embed the previous round's
    # whole subtree, growing the plan string multiplicatively; the
    # checkpoint also narrows partitions (coalesce-before-persist,
    # SCALE.md §3b)
    par = leaf_parallelism(spark)
    edges = truncate_lineage(interaction_edges(ev, undirected=True), par)

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("u"))
            .unionAll(e.select(F.col("b").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    k = 4
    # persist only the edge frames (reused across rounds and by two
    # scalar counts each); the keep-sets are one cheap agg to rebuild
    d0 = degrees(edges)
    keep0 = d0.filter(F.col("d") >= k).select("u")
    e1 = truncate_lineage(
        edges.join(keep0.withColumnRenamed("u", "a"), "a", "left_semi")
        .join(keep0.withColumnRenamed("u", "b"), "b", "left_semi"),
        par,
    )
    d1 = degrees(e1)
    keep1 = d1.filter(F.col("d") >= k).select("u")
    e2 = truncate_lineage(
        e1.join(keep1.withColumnRenamed("u", "a"), "a", "left_semi")
        .join(keep1.withColumnRenamed("u", "b"), "b", "left_semi"),
        par,
    )
    d2 = degrees(e2)
    return (
        d0.agg(F.count(F.lit(1)).alias("n_vertices_0"))
        .crossJoin(e1.agg(F.count(F.lit(1)).alias("n_edges_1")))
        .crossJoin(d1.agg(F.count(F.lit(1)).alias("n_vertices_1")))
        .crossJoin(e2.agg(F.count(F.lit(1)).alias("n_edges_2")))
        .crossJoin(d2.agg(F.count(F.lit(1)).alias("n_vertices_2")))
    )


@query(
    "char_entropy_quality",
    category="L5",
    oracle="""
        WITH chars AS (
            -- ch <> '' mirrors the Spark side's trailing-empty filter
            -- AND drops empty-text docs symmetrically (DuckDB
            -- string_split('', '') is [''], Spark split('', ...) is
            -- [''] too — both sides then emit no row for the doc)
            SELECT doc_id, ch FROM (
                SELECT doc_id, unnest(string_split(text, '')) AS ch
                FROM documents)
            WHERE ch <> ''
        ), counts AS (
            SELECT doc_id, ch, count(*) AS c
            FROM chars GROUP BY doc_id, ch
        ), folded AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_chars_text,
                   count(*) AS distinct_chars,
                   list_sum(list(c * log2(c) ORDER BY ch)) AS clogc
            FROM counts GROUP BY doc_id
        )
        SELECT doc_id, n_chars_text, distinct_chars,
               round(log2(CAST(n_chars_text AS DOUBLE)) - clogc / n_chars_text, 6)
                   AS entropy_bits
        FROM folded
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality score per document (L5): low entropy =
    repeated/boilerplate text, high = random gibberish; the standard
    cheap quality gate next to stopword ratio and Gopher repetition.

    entropy = log2(n) - (Σ_c count_c·log2(count_c)) / n, computed from
    integer char counts; the fold over per-char terms runs in char
    order on both engines (the knn/vector-norm in-order-fold contract),
    and the result rounds to 6 decimals because libm log2
    implementations differ in the last ULP across engines (measured:
    219/500 docs off by 1 ULP unrounded).

    Scale: explode(chars) is linear in corpus bytes with a (doc_id, ch)
    map-side-combinable count — no windows, no driver state; alphabet
    size bounds the per-doc fold.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Spark's split emits a trailing '' element (boundary match at end
    # of string) that DuckDB's string_split does not — drop it.
    chars = docs.select("doc_id", F.explode(F.split("text", "(?!^)")).alias("ch")).filter(
        F.col("ch") != ""
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    folded = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_text"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("ch", (F.col("c") * F.log2("c")).alias("t")))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("clogc"),
    )
    return folded.select(
        "doc_id",
        "n_chars_text",
        "distinct_chars",
        F.round(
            F.log2(F.col("n_chars_text").cast("double")) - F.col("clogc") / F.col("n_chars_text"),
            6,
        ).alias("entropy_bits"),
    )


@query(
    "weighted_sample_es_topk",
    category="P7",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, n_chars,
                   {MD5_UNIFORM_DOC} AS u
            FROM documents
        )
        SELECT doc_id, n_chars
        FROM keyed
        ORDER BY ln(u) / n_chars DESC, doc_id
        LIMIT 20
    """,
)
def weighted_sample_es_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    each doc gets key = u^(1/w) (compared as ln(u)/w) with weight w =
    n_chars and u a DETERMINISTIC uniform minted from md5(doc_id) —
    the corpus-prep primitive for quality-weighted subset selection
    that stays reproducible across runs, engines, and partitionings
    (no RNG state, no randomSplit).

    Cross-engine: the md5-prefix trick from train_test_split_hash,
    extended to a full uniform — 8 hex digits parsed positionally
    (Spark locate / DuckDB strpos) into u ∈ (0,1); ln's 1-ULP libm
    drift only matters if two keys collide within 1e-16 at the k/k+1
    boundary (~0). Top-k under the (key, doc_id) total order.

    Scale: key is a pure projection; top-k = per-partition heaps +
    k-row merge (TakeOrderedAndProject) — no shuffle of the corpus,
    stratified variants partition the window by stratum instead.
    """
    from ..functions.sampling import md5_uniform

    docs = load_table(spark, sf_dir, "documents")
    u = md5_uniform("cast(doc_id as string)")
    keyed = docs.select(
        "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("es_key")
    )
    return (
        keyed.orderBy(F.col("es_key").desc(), F.col("doc_id"))
        .select("doc_id", "n_chars")
        .limit(20)
    )


def semantic_dedup_pipeline(emb: DataFrame, k: int = 8) -> DataFrame:
    """Parameterized engine behind :func:`semantic_dedup_end_to_end`:
    nearest-centroid assignment over the first ``k`` vectors as
    centroids, in-bucket pair generation (cosine >= 0.3), connected
    components, canonical-per-component removal census.

    ``k`` IS the scale knob: pair work is Σ(bucket²) and buckets hold
    ~n/k vectors, so holding k fixed while the corpus grows n-fold
    multiplies pair work by n² — measured in SCALE.md §25 (b ≈ 2 at
    fixed k=8 over a 1×/4×/16× mint; b ≈ 1 with k ∝ n). A production
    run sizes k so bucket occupancy stays constant (IVF discipline);
    the pinned registry query keeps k=8 because its DuckDB oracle
    unrolls that exact construction.
    """
    from ..operators.graph import connected_components

    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    sims = (
        emb.filter(F.col("vec_id") >= k)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cid",
            "embedding",
            cosine_similarity(
                to_double_array("embedding"), to_double_array("cvec")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    assigned = truncate_lineage(
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cid", "embedding"),
        8,
    )
    a = assigned.select(
        F.col("cid"),
        F.col("vec_id").alias("i"),
        F.col("embedding").alias("ea"),
    )
    b = assigned.select(
        F.col("cid"),
        F.col("vec_id").alias("j"),
        F.col("embedding").alias("eb"),
    )
    dup_pairs = (
        a.join(b, "cid")
        .filter(F.col("i") < F.col("j"))
        .filter(
            cosine_similarity(to_double_array("ea"), to_double_array("eb")) >= 0.3
        )
        .select("cid", "i", "j")
    )
    dup_pairs = truncate_lineage(dup_pairs, 8)
    comp = connected_components(dup_pairs.select("i", "j"), src="i", dst="j")
    removed = (
        comp.filter(F.col("id") != F.col("component"))
        .join(assigned.select(F.col("vec_id").alias("id"), "cid"), "id")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    vec_counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vectors"))
    pair_counts = dup_pairs.groupBy("cid").agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    return (
        vec_counts.join(pair_counts, "cid", "left")
        .join(removed, "cid", "left")
        .select(
            F.col("cid").alias("centroid_id"),
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


@query(
    "semantic_dedup_end_to_end",
    category="L4",
    oracle="""
        WITH RECURSIVE cents AS (
            SELECT vec_id AS cid, embedding AS cvec
            FROM embeddings WHERE vec_id < 8
        ), sims AS (
            SELECT e.vec_id, c.cid,
                   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(c.cvec AS DOUBLE[])) AS sim
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id >= 8
        ), ranked AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rk
            FROM sims
        ), assigned AS (
            SELECT r.vec_id, r.cid, e.embedding
            FROM ranked r JOIN embeddings e USING (vec_id) WHERE rk = 1
        ), dup_pairs AS (
            SELECT a.cid, a.vec_id AS i, b.vec_id AS j
            FROM assigned a JOIN assigned b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.3
        ), edges AS (
            SELECT i AS src, j AS dst FROM dup_pairs
            UNION
            SELECT j, i FROM dup_pairs
        ), reach AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst, r.label FROM edges e JOIN reach r ON e.src = r.node
        ), cc AS (
            SELECT node, min(label) AS comp FROM reach GROUP BY node
        ), removed AS (
            SELECT a.cid, count(*) AS n_removed
            FROM cc JOIN assigned a ON cc.node = a.vec_id
            WHERE cc.node <> cc.comp
            GROUP BY a.cid
        ), vec_counts AS (
            SELECT cid, count(*) AS n_vectors FROM assigned GROUP BY cid
        ), pair_counts AS (
            SELECT cid, count(*) AS n_dup_pairs FROM dup_pairs GROUP BY cid
        )
        SELECT v.cid AS centroid_id, v.n_vectors,
               coalesce(p.n_dup_pairs, 0) AS n_dup_pairs,
               coalesce(r.n_removed, 0)   AS n_removed
        FROM vec_counts v
        LEFT JOIN pair_counts p ON v.cid = p.cid
        LEFT JOIN removed r     ON v.cid = r.cid
        ORDER BY centroid_id
    """,
)
def semantic_dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, the whole pipeline in one plan (L4 capstone):
    nearest-centroid assignment buckets the corpus (k=8 broadcast
    E-step), candidate duplicate pairs form ONLY within a bucket
    (cosine >= 0.3 over the in-cluster self-join — never an all-pairs
    over the corpus), connected components glue transitive duplicates,
    and one canonical vector (min id) survives per component. Reports
    per-centroid occupancy, duplicate pairs, and removals.

    Scale: the in-bucket self-join is the same bounded construction as
    LSH-bucket verification — pair work is Σ(bucket²) with buckets
    sized by k, not corpus; CC is the shared iterative operator
    (driver sees one scalar per round); the oracle unrolls CC as a
    recursive CTE. At 100 TB, k grows with the corpus (IVF-style) to
    hold bucket sizes constant — :func:`semantic_dedup_pipeline` is
    the parameterized engine (SCALE.md §25 measures both the fixed-k
    pathology and the k∝n discipline); this pinned query keeps k=8
    to match its unrolled oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pipeline(emb, k=8)


@query(
    "multiline_reassemble_logs",
    category="S-codec",
    oracle="""
        WITH split_docs AS (
            SELECT doc_id, string_split(text, ' ') AS ls FROM documents
        ), lines AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(ls))) AS line_no,
                   unnest(ls) AS line
            FROM split_docs
        ), flagged AS (
            SELECT doc_id, line_no, line,
                   CAST(sum(CASE WHEN regexp_matches(line, '^[a-m]')
                                 THEN 0 ELSE 1 END)
                        OVER (PARTITION BY doc_id ORDER BY line_no)
                        AS BIGINT) AS event_id
            FROM lines
        )
        SELECT doc_id, event_id,
               CAST(min(line_no) AS BIGINT) AS first_line_no,
               count(*) AS n_lines,
               string_agg(line, ' | ' ORDER BY line_no) AS message
        FROM flagged
        GROUP BY doc_id, event_id
    """,
)
def multiline_reassemble_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline codec semantics under oracle (S-codec): documents are
    split into pseudo-log-lines (one per word); a line starting a-m is
    a continuation of the previous event (standing in for the
    stack-trace indent convention), everything else opens a new event;
    events reassemble with ' | '. ~half the lines are continuations, so
    the running-sum minting and ordered reassembly are both exercised
    over many multi-line events per group.

    Scale: sessionize shape — ONE shuffle by doc_id drives both the
    running-sum event minting and the ordered reassembly; per-event
    order is restored from the line number inside each group, so no
    global ordering anywhere. The pipeline step `multiline` wraps the
    same operator (operators/multiline.py) for config-driven use, and
    supports what="next" (backslash-continuation) via a lag flag.
    """
    from ..operators.multiline import multiline_reassemble

    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "line")
    ).select("doc_id", (F.col("pos") + 1).alias("line_no"), "line")
    out = multiline_reassemble(
        lines,
        line_col="line",
        order_col="line_no",
        pattern="^[a-m]",
        group_cols=["doc_id"],
        what="previous",
        sep=" | ",
    )
    return out.select(
        "doc_id",
        "event_id",
        F.col("first_line_no").cast("long").alias("first_line_no"),
        "n_lines",
        "message",
    )


@query(
    "semantic_cluster_assign",
    category="L4",
    oracle="""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings WHERE vec_id < 8
        ), sims AS (
            SELECT e.vec_id, c.centroid_id,
                   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(c.cvec AS DOUBLE[])) AS sim
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id >= 8
        ), ranked AS (
            SELECT vec_id, centroid_id, sim,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rk
            FROM sims
        )
        SELECT centroid_id,
               count(*) AS n_assigned,
               min(sim) AS min_sim,
               max(sim) AS max_sim
        FROM ranked WHERE rk = 1
        GROUP BY centroid_id
        ORDER BY centroid_id
    """,
)
def semantic_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means E-step / semantic-dedup
    bucketing primitive): every vector joins k=8 fixed centroids, takes
    the argmax-cosine centroid (ties → lower centroid id), and the
    query reports per-cluster occupancy and similarity envelope.

    Scale: centroids are a bounded broadcast (k rows regardless of
    corpus size), so the fact scan never shuffles for the assignment;
    the per-vector argmax is a k-row window partitioned BY VECTOR (no
    global ordering). min/max are selections, not accumulations — no
    float-order drift; the cosine itself is the proven in-order fold.
    This is the assignment step semantic dedup runs repeatedly; full
    k-means adds the (bounded, k×dim) centroid-update reduce per round.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    sims = (
        emb.filter(F.col("vec_id") >= 8)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "centroid_id",
            cosine_similarity(
                to_double_array("embedding"), to_double_array("cvec")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    best = sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.min("sim").alias("min_sim"),
            F.max("sim").alias("max_sim"),
        )
    )


def _MMR_ORACLE() -> str:
    cos = "list_cosine_similarity"
    head = f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id = 0),
        pool AS (
            SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
                   {cos}(CAST(e.embedding AS DOUBLE[]), q.qe) AS rel
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY rel DESC, vec_id LIMIT 12
        ),
        sel1 AS (
            SELECT vec_id, emb, rel, 1 AS pick FROM pool
            ORDER BY rel DESC, vec_id LIMIT 1
        )"""
    prev = "sel1"
    for r in (2, 3, 4):
        head += f""",
        sel{r} AS (
            SELECT * FROM {prev}
            UNION ALL
            SELECT vec_id, emb, rel, {r} AS pick FROM (
                SELECT * FROM (
                    SELECT p.vec_id, p.emb, p.rel,
                           0.7 * p.rel - 0.3 * (
                               SELECT max({cos}(p.emb, s.emb)) FROM {prev} s
                           ) AS mmr
                    FROM pool p
                    WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
                ) ORDER BY mmr DESC, vec_id LIMIT 1
            )
        )"""
        prev = f"sel{r}"
    return head + """
        SELECT pick, vec_id, round(rel, 6) AS rel
        FROM sel4 ORDER BY pick
    """


@query(
    "mmr_diverse_topk",
    category="L4-mmr",
    oracle=_MMR_ORACLE(),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (λ=0.7, k=4 over a
    12-candidate pool): the diversity-aware top-k used by RAG
    retrieval and dedup-aware sampling — each pick maximizes
    λ·sim(query, d) − (1−λ)·max_sim(d, already-picked), so near-
    duplicate neighbors of an earlier pick are penalized out.

    The greedy loop is UNROLLED (k−1 rounds) over the bounded pool:
    each round anti-joins the picked set (≤ k rows, broadcast),
    computes the marginal score per candidate, and takes the argmax
    under a total order. The oracle mirrors the rounds with chained
    CTEs + correlated max subqueries; cosine is bit-identical
    cross-engine (oracle_conventions), so argmax selection is stable.

    Scale: the candidate pool is the bounded output of an ANN/top-k
    stage (L3/L4) — MMR cost is k·|pool| cosines on ≤ k-row broadcast
    frames, independent of corpus size. The pool-build is the scan.
    """
    from ..functions.vectors import cosine_similarity, to_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", to_double_array("embedding").alias("emb"))
    qv = vecs.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    pool = (
        vecs.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", "emb", cosine_similarity(F.col("emb"), F.col("qe")).alias("rel")
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(12)
    )
    # truncate_lineage (VERDICT r5): pool is re-joined every greedy
    # round; without truncation round r's plan embeds rounds 1..r-1
    pool = truncate_lineage(pool)
    selected = (
        pool.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select("vec_id", "emb", "rel", F.lit(1).alias("pick"))
    )
    for r in (2, 3, 4):
        sel_embs = selected.select(
            F.col("vec_id").alias("s_id"), F.col("emb").alias("s_emb")
        )
        cand = pool.join(
            selected.select(F.col("vec_id").alias("s_id")), 
            pool["vec_id"] == F.col("s_id"),
            "left_anti",
        )
        nxt = (
            cand.crossJoin(F.broadcast(sel_embs))
            .groupBy("vec_id")
            .agg(
                F.any_value("emb").alias("emb"),
                F.any_value("rel").alias("rel"),
                F.max(cosine_similarity(F.col("emb"), F.col("s_emb"))).alias(
                    "max_sel"
                ),
            )
            .select(
                "vec_id",
                "emb",
                "rel",
                (0.7 * F.col("rel") - 0.3 * F.col("max_sel")).alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), "vec_id")
            .limit(1)
            .select("vec_id", "emb", "rel", F.lit(r).alias("pick"))
        )
        selected = truncate_lineage(selected.unionAll(nxt))
    return selected.select(
        "pick", "vec_id", F.round("rel", 6).alias("rel")
    )


def _sampled_bfs_levels(spark, sf_dir):
    """Shared 3-hop BFS from the deterministic source sample (node id
    % 5 = 0) over the interaction graph: returns (e, l1, l2, l3) where
    e is the bidirectional edge frame and each level holds (s, v, sig)
    = shortest-path counts at distance 1/2/3 from source s. Consumed
    by betweenness (dependency sweep) and closeness (distance sums).

    Frontier frames broadcast into the edge joins (sample-bounded) and
    cache at cluster parallelism — see the SCALE.md §3b width lesson.
    """
    ev = load_table(spark, sf_dir, "events")
    par = leaf_parallelism(spark)
    und = truncate_lineage(
        interaction_edges(ev, undirected=True), par
    )
    e = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
    )
    srcs = (
        und.select(F.col("a").alias("x"))
        .unionAll(und.select(F.col("b").alias("x")))
        .distinct()
        .filter(F.col("x") % 5 == 0)
        .select(F.col("x").alias("s"))
    )
    l1 = (
        e.join(F.broadcast(srcs), e.u == F.col("s"))
        .filter(F.col("v") != F.col("s"))
        .groupBy("s", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("sig"))
    )
    # consumed by l2, seen12, c1, d1 — checkpoint, don't persist: the
    # printed plan of every consumer would re-embed the level subtree
    l1 = truncate_lineage(l1, par)
    l2 = (
        e.join(F.broadcast(l1.select("s", F.col("v").alias("fu"), "sig")),
               F.col("fu") == e.u)
        .filter(F.col("v") != F.col("s"))
        .join(
            F.broadcast(
                l1.select("s", "v")
                .withColumnRenamed("s", "xs").withColumnRenamed("v", "xv")
            ),
            (F.col("s") == F.col("xs")) & (F.col("v") == F.col("xv")),
            "left_anti",
        )
        .groupBy("s", "v")
        .agg(F.sum("sig").cast("long").alias("sig"))
    )
    l2 = truncate_lineage(l2, par)  # consumed by l3, seen12, c2, d2
    seen12 = l1.select("s", "v").unionAll(l2.select("s", "v"))
    l3 = (
        e.join(F.broadcast(l2.select("s", F.col("v").alias("fu"), "sig")),
               F.col("fu") == e.u)
        .filter(F.col("v") != F.col("s"))
        .join(
            F.broadcast(
                seen12.withColumnRenamed("s", "xs").withColumnRenamed("v", "xv")
            ),
            (F.col("s") == F.col("xs")) & (F.col("v") == F.col("xv")),
            "left_anti",
        )
        .groupBy("s", "v")
        .agg(F.sum("sig").cast("long").alias("sig"))
    )
    l3 = truncate_lineage(l3, par)  # consumed by both census queries
    return e, l1, l2, l3


@query(
    "betweenness_sampled_brandes",
    category="B7-graph",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, e AS (
            SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und
        ), srcs AS (
            SELECT DISTINCT x AS s FROM (
                SELECT a AS x FROM und UNION ALL SELECT b FROM und)
            WHERE x % 5 = 0
        ), l1 AS (
            SELECT s, e.v, CAST(count(*) AS BIGINT) AS sig
            FROM srcs JOIN e ON e.u = srcs.s
            WHERE e.v <> srcs.s
            GROUP BY s, e.v
        ), l2 AS (
            SELECT l1.s, e.v, CAST(sum(l1.sig) AS BIGINT) AS sig
            FROM l1 JOIN e ON e.u = l1.v
            WHERE e.v <> l1.s
              AND NOT EXISTS (SELECT 1 FROM l1 i
                              WHERE i.s = l1.s AND i.v = e.v)
            GROUP BY l1.s, e.v
        ), l3 AS (
            SELECT l2.s, e.v, CAST(sum(l2.sig) AS BIGINT) AS sig
            FROM l2 JOIN e ON e.u = l2.v
            WHERE e.v <> l2.s
              AND NOT EXISTS (SELECT 1 FROM l1 i
                              WHERE i.s = l2.s AND i.v = e.v)
              AND NOT EXISTS (SELECT 1 FROM l2 i
                              WHERE i.s = l2.s AND i.v = e.v)
            GROUP BY l2.s, e.v
        ), d2 AS (
            SELECT l2.s, l2.v,
                   CAST(coalesce(sum(CAST(floor(l2.sig * 1000000.0 / l3.sig)
                                          AS BIGINT)), 0) AS BIGINT) AS delta
            FROM l2
            LEFT JOIN e ON e.u = l2.v
            LEFT JOIN l3 ON l3.s = l2.s AND l3.v = e.v
            GROUP BY l2.s, l2.v
        ), d1 AS (
            SELECT l1.s, l1.v,
                   CAST(coalesce(sum(CAST(floor(l1.sig * (1000000.0 + d2.delta)
                                                / l2.sig) AS BIGINT)), 0)
                        AS BIGINT) AS delta
            FROM l1
            LEFT JOIN e ON e.u = l1.v
            LEFT JOIN l2 ON l2.s = l1.s AND l2.v = e.v
            LEFT JOIN d2 ON d2.s = l1.s AND d2.v = e.v
            GROUP BY l1.s, l1.v
        ), bc AS (
            SELECT v AS user_id, CAST(sum(delta) AS BIGINT) AS bc_scaled
            FROM (SELECT s, v, delta FROM d1
                  UNION ALL SELECT s, v, delta FROM d2)
            GROUP BY v
        )
        SELECT user_id, bc_scaled, round(bc_scaled / 1000000.0, 6) AS bc
        FROM bc WHERE bc_scaled > 0
        ORDER BY bc_scaled DESC, user_id
        LIMIT 10
    """,
)
def betweenness_sampled_brandes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Brandes betweenness centrality, unrolled to a
    3-hop horizon (NEXT.md breadth item): from a deterministic source
    sample (node id % 5 = 0), the BFS shortest-path DAG (per-level
    path counts σ) builds forward via per-level frontier joins, and
    the dependency accumulation δ(v) = Σ_w σv/σw·(1+δ(w)) sweeps
    backward level by level — the standard exact algorithm, truncated
    at depth 3 and restricted to a source sample, which is exactly how
    betweenness is estimated at scale (Riondato-Kornaropoulos-style
    sampling; the horizon bounds both state and rounds).

    Determinism: δ accumulates as scaled BIGINTs via floor(σv·(10⁶ +
    δw)/σw) — every product ≤ 2e10 ≪ 2^53, and BOTH engines evaluate
    the same double-division-then-floor expression tree, so the sum
    is order-insensitive and bit-exact (see oracle_conventions on
    div vs floor-divide).

    Scale: each level joins the edge list against the FRONTIER, and
    frontiers are sample-bounded (≤ |S|·|V| pairs), so they broadcast
    — the edge list never reshuffles, each level is one map-side join
    + one hash agg on (source, node). Size |S| to the broadcast
    budget; with a larger sample, drop the broadcast hints and the
    same plan degrades gracefully to shuffled equi joins (AQE skew
    split applies, SCALE.md §2). Work per level O(|S|·|E|) worst
    case; no windows, no cartesian.
    """
    SCALE_I = 1_000_000
    e, l1, l2, l3 = _sampled_bfs_levels(spark, sf_dir)
    # backward sweep: per-edge contributions start from the DEEPER
    # level (inner joins with a broadcastable frontier side), then a
    # frontier-sized LEFT join pads delta=0 for nodes with no deeper
    # successors — e never sits on the unbroadcastable side of an
    # outer join this way
    l3p = F.broadcast(l3.select(F.col("s").alias("ws"), F.col("v").alias("wv"),
                                F.col("sig").alias("wsig"))).join(
        e, F.col("wv") == e.u
    ).select("ws", "wsig", F.col("v").alias("pred"))
    c2 = (
        l3p.join(
            F.broadcast(l2.select(F.col("s").alias("ps"), F.col("v").alias("pv"),
                                  F.col("sig").alias("psig"))),
            (F.col("ws") == F.col("ps")) & (F.col("pred") == F.col("pv")),
        )
        .select(
            F.col("ps").alias("s"), F.col("pv").alias("v"),
            F.floor(F.col("psig") * F.lit(float(SCALE_I)) / F.col("wsig"))
            .cast("long").alias("contrib"),
        )
        .groupBy("s", "v")
        .agg(F.sum("contrib").cast("long").alias("d"))
    )
    d2 = (
        l2.join(c2, ["s", "v"], "left")
        .select("s", "v", "sig",
                F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("delta"))
    )
    # truncate_lineage (VERDICT r5): d2 is consumed by d2p (broadcast)
    # and the bc union; checkpointing stops the level-2 subtree from
    # reprinting (and re-optimizing) under both consumers
    d2 = truncate_lineage(d2, leaf_parallelism(spark))
    d2p = F.broadcast(d2.select(F.col("s").alias("ws"), F.col("v").alias("wv"),
                                F.col("sig").alias("wsig"),
                                F.col("delta").alias("wdelta"))).join(
        e, F.col("wv") == e.u
    ).select("ws", "wsig", "wdelta", F.col("v").alias("pred"))
    c1 = (
        d2p.join(
            F.broadcast(l1.select(F.col("s").alias("ps"), F.col("v").alias("pv"),
                                  F.col("sig").alias("psig"))),
            (F.col("ws") == F.col("ps")) & (F.col("pred") == F.col("pv")),
        )
        .select(
            F.col("ps").alias("s"), F.col("pv").alias("v"),
            F.floor(
                F.col("psig") * (F.lit(float(SCALE_I)) + F.col("wdelta"))
                / F.col("wsig")
            ).cast("long").alias("contrib"),
        )
        .groupBy("s", "v")
        .agg(F.sum("contrib").cast("long").alias("d"))
    )
    d1 = (
        l1.join(c1, ["s", "v"], "left")
        .select("s", "v", F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("delta"))
    )
    bc = (
        d1.select("s", "v", "delta")
        .unionAll(d2.select("s", "v", "delta"))
        .groupBy(F.col("v").alias("user_id"))
        .agg(F.sum("delta").cast("long").alias("bc_scaled"))
        .filter(F.col("bc_scaled") > 0)
    )
    return (
        bc.select(
            "user_id",
            "bc_scaled",
            F.round(F.col("bc_scaled") / F.lit(float(SCALE_I)), 6).alias("bc"),
        )
        .orderBy(F.col("bc_scaled").desc(), "user_id")
        .limit(10)
    )


@query(
    "closeness_harmonic_sampled",
    category="B7-graph",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, e AS (
            SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und
        ), srcs AS (
            SELECT DISTINCT x AS s FROM (
                SELECT a AS x FROM und UNION ALL SELECT b FROM und)
            WHERE x % 5 = 0
        ), l1 AS (
            SELECT s, e.v, CAST(count(*) AS BIGINT) AS sig
            FROM srcs JOIN e ON e.u = srcs.s
            WHERE e.v <> srcs.s
            GROUP BY s, e.v
        ), l2 AS (
            SELECT l1.s, e.v, CAST(sum(l1.sig) AS BIGINT) AS sig
            FROM l1 JOIN e ON e.u = l1.v
            WHERE e.v <> l1.s
              AND NOT EXISTS (SELECT 1 FROM l1 i
                              WHERE i.s = l1.s AND i.v = e.v)
            GROUP BY l1.s, e.v
        ), l3 AS (
            SELECT l2.s, e.v, CAST(sum(l2.sig) AS BIGINT) AS sig
            FROM l2 JOIN e ON e.u = l2.v
            WHERE e.v <> l2.s
              AND NOT EXISTS (SELECT 1 FROM l1 i
                              WHERE i.s = l2.s AND i.v = e.v)
              AND NOT EXISTS (SELECT 1 FROM l2 i
                              WHERE i.s = l2.s AND i.v = e.v)
            GROUP BY l2.s, e.v
        ), contrib AS (
            SELECT v, 6 AS h6 FROM l1
            UNION ALL SELECT v, 3 FROM l2
            UNION ALL SELECT v, 2 FROM l3
        )
        SELECT v AS user_id,
               CAST(sum(h6) AS BIGINT) AS h6_scaled,
               round(sum(h6) / 6.0, 6) AS harmonic,
               CAST(count(*) AS BIGINT) AS n_reached
        FROM contrib
        GROUP BY v
        ORDER BY h6_scaled DESC, user_id
        LIMIT 10
    """,
)
def closeness_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality from the sampled 3-hop BFS (B7
    breadth): h(v) = Σ_s 1/d(s, v) over the deterministic source
    sample, truncated at distance 3 — the standard estimator for "how
    near is this node to everything" that, unlike classic closeness,
    is well-defined on disconnected graphs. Shares the BFS level
    machinery (and cost) with betweenness_sampled_brandes — the two
    run off identical (s, v, σ) level frames.

    Determinism: contributions are 1, 1/2, 1/3 held as integers
    scaled by 6 (6/3/2), so the sum is an exact BIGINT and the /6.0
    happens once at the end.

    Scale: identical to the betweenness forward pass (frontier
    broadcasts, one agg per level) minus the backward sweep — the
    cheapest of the centrality family.
    """
    e, l1, l2, l3 = _sampled_bfs_levels(spark, sf_dir)
    contrib = (
        l1.select("v", F.lit(6).alias("h6"))
        .unionAll(l2.select("v", F.lit(3).alias("h6")))
        .unionAll(l3.select("v", F.lit(2).alias("h6")))
    )
    return (
        contrib.groupBy(F.col("v").alias("user_id"))
        .agg(
            F.sum("h6").cast("long").alias("h6_scaled"),
            F.round(F.sum("h6") / 6.0, 6).alias("harmonic"),
            F.count(F.lit(1)).cast("long").alias("n_reached"),
        )
        .orderBy(F.col("h6_scaled").desc(), "user_id")
        .limit(10)
    )
