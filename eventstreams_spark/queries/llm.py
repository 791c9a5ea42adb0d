"""L-series: LLM-training-data pipeline operators (SURVEY §2.11).

Design constraints for 100 TB:
- No O(n²) paths: near-dup and ANN go through bucketing (LSH bands /
  hyperplane signs) so the only shuffle is a groupBy on bucket keys.
- Everything stays in Catalyst expressions (higher-order array fns,
  string hashes) — no Python in the per-row path except where the
  operator is explicitly the pandas-UDF surface.
- Cross-engine hashing uses md5 hex PREFIX strings (lexicographic min
  is engine-neutral); xxhash64 exists only in Spark so it can't feed
  an oracle check.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.spread import leaf_parallelism
from ..registry import query
from ._shared import md5_uniform_sql

# ---------------------------------------------------------------- helpers

TOKEN_SPLIT = "[^a-z]+"


def tokens_col(text: Column) -> Column:
    """Lowercased word tokens with empties removed (JVM-side)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda x: x != "")


def winnow_fps(corpus: DataFrame, id_col: str = "id") -> DataFrame:
    """MOSS winnowing fingerprints (k=8 char grams, window w=4) for a
    frame with (id, text): per doc, the distinct set of window-min
    md5-prefix gram hashes. Pure Column algebra — works identically on
    batch AND streaming frames (stateless map + explode), which is
    what lets the contamination check run as a stream-static join."""
    win = F.transform(
        F.sequence(F.lit(1), F.length("text") - 10),
        lambda j: F.array_min(
            F.transform(
                F.sequence(j, j + 3),
                lambda i: F.substring(
                    F.md5(
                        F.concat(
                            F.lit("w|"), F.col("text").substr(i, F.lit(8))
                        ).cast("binary")
                    ),
                    1, 16,
                ),
            )
        ),
    )
    return (
        corpus.filter(F.length("text") >= 11)
        .select(id_col, F.explode(win).alias("fp"))
        .distinct()
    )


@query(
    "tfidf_top_terms",
    category="L5",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, t AS term
            FROM documents,
                 unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                                    x -> x <> '')) AS u(t)
        ), tf AS (
            SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
        ), stats AS (
            SELECT term, count(*) AS doc_freq, sum(c) AS total_tf FROM tf GROUP BY term
        ), n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT term, doc_freq, CAST(total_tf AS BIGINT) AS total_tf,
               round(ln((n_docs + 1.0) / (doc_freq + 1.0)), 8) AS idf
        FROM stats, n
        ORDER BY doc_freq DESC, term
        LIMIT 20
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF corpus statistics: tokenize → explode → two-level agg.

    Scale: explode multiplies rows by tokens-per-doc, then both
    aggregations are partial+final hash aggs keyed by term — the
    classic shuffle-light wordcount shape. N (corpus size) joins in
    as a broadcast scalar, never a collect().
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"), F.sum("c").alias("total_tf")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.join(F.broadcast(n))
        .select(
            "term",
            "doc_freq",
            "total_tf",
            F.round(F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0)), 8).alias("idf"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("term"))
        .limit(20)
    )


_LEXICON = {
    "join": 2, "merge": 1, "group": 1, "data": 1, "stream": 1,
    "error": -2, "drop": -1, "filter": -1, "skew": -1, "spill": -2,
}


@query(
    "sentiment_lexicon_score",
    category="L5",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, t AS term
            FROM documents,
                 unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                                    x -> x <> '')) AS u(t)
        ), scored AS (
            SELECT doc_id,
                   sum(CASE t.term
                       {' '.join(f"WHEN '{w}' THEN {s}" for w, s in _LEXICON.items())}
                       ELSE 0 END) AS score,
                   count(CASE WHEN t.term IN ({', '.join(repr(w) for w in _LEXICON)})
                              THEN 1 END) AS n_scored
            FROM tok t GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(s.score, 0) AS BIGINT)    AS sentiment,
               CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def sentiment_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment: broadcast-join scored terms, sum per doc.

    The lexicon is a broadcast dim (Logstash translate at heart); docs
    with zero lexicon hits stay present with score 0 via the left join
    back onto the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(list(_LEXICON.items()), "term string, weight int")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    scored = (
        tok.join(F.broadcast(lex), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("weight").cast("bigint").alias("score"),
            F.count(F.lit(1)).alias("n_scored"),
        )
    )
    return docs.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("score"), F.lit(0)).cast("bigint").alias("sentiment"),
        F.coalesce(F.col("n_scored"), F.lit(0)).cast("bigint").alias("n_scored"),
    )


N_MINHASH = 8  # permutations
N_BANDS = 4  # 2 hashes per band


@query(
    "neardup_minhash_candidates",
    category="L2",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, concat('dup prefix ', text)
            FROM documents WHERE doc_id % 50 = 0
        ), toks AS (
            SELECT id, list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                                   x -> x <> '') AS ws
            FROM corpus
        ), sh AS (
            SELECT DISTINCT id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS shingle
            FROM toks, unnest(generate_series(1, len(ws) - 2)) AS g(i)
            WHERE len(ws) >= 3
        ), mh AS (
            SELECT id, s.seed,
                   min(substr(md5(concat(s.seed, '|', shingle)), 1, 16)) AS h
            FROM sh, (SELECT unnest(range({N_MINHASH})) AS seed) s
            GROUP BY id, s.seed
        ), bands AS (
            SELECT id, seed // 2 AS band,
                   concat(max(CASE WHEN seed % 2 = 0 THEN h END),
                          max(CASE WHEN seed % 2 = 1 THEN h END)) AS sig
            FROM mh GROUP BY id, seed // 2
        )
        SELECT b1.id AS id1, b2.id AS id2,
               count(DISTINCT b1.band) AS n_shared_bands
        FROM bands b1
        JOIN bands b2 ON b1.band = b2.band AND b1.sig = b2.sig AND b1.id < b2.id
        GROUP BY id1, id2
    """,
)
def neardup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (MMDS construction).

    shingle(3-gram) → {N_MINHASH} md5-prefix min-hashes → {N_BANDS}
    bands → groupBy band bucket join. Near-dups are injected ('dup
    prefix ' + every 50th doc) since the corpus has none. Scale: cost
    is O(n·k) map work + a bucket-key shuffle; candidate pairs only
    materialize within colliding buckets — never a cross join. The
    hash is an md5 hex prefix so DuckDB reproduces it byte-for-byte
    (xxhash64 would be Spark-only).
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.col("doc_id").alias("id"), "text").unionAll(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.concat(F.lit("dup prefix "), F.col("text")).alias("text"),
        )
    )
    toks = corpus.select("id", tokens_col(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 3
    )
    # 3-gram shingles: slice windows over the token array, JVM-side
    shingles = toks.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 2),
                lambda i: F.concat_ws(" ", F.element_at("ws", i), F.element_at("ws", i + 1), F.element_at("ws", i + 2)),
            )
        ).alias("shingle"),
    ).distinct()
    seeds = spark.range(N_MINHASH).select(F.col("id").alias("seed"))
    mh = (
        shingles.crossJoin(F.broadcast(seeds))
        .groupBy("id", "seed")
        .agg(
            F.min(
                F.substring(
                    F.md5(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("shingle")).cast("binary")),
                    1,
                    16,
                )
            ).alias("h")
        )
    )
    bands = mh.groupBy("id", (F.col("seed") / 2).cast("long").alias("band")).agg(
        F.concat(
            F.max(F.when(F.col("seed") % 2 == 0, F.col("h"))),
            F.max(F.when(F.col("seed") % 2 == 1, F.col("h"))),
        ).alias("sig")
    )
    b1 = bands.select(F.col("id").alias("id1"), "band", "sig")
    b2 = bands.select(F.col("id").alias("id2"), "band", "sig")
    return (
        b1.join(b2, ["band", "sig"])
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.countDistinct("band").alias("n_shared_bands"))
    )


@query(
    "sliding_1h_15m_agg",
    category="T2",
    oracle="""
        SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes'
                   AS window_start,
               event_type,
               count(*)   AS n_events,
               sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_value
        FROM events, (SELECT unnest(range(4)) AS k) k
        GROUP BY window_start, event_type
    """,
)
def sliding_1h_15m_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h width, 15m slide): each event lands in 4
    overlapping windows. Oracle reconstructs Spark's window assignment
    with a bucket-minus-offset expansion."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents) / 10000.0).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "tsim_znorm_distance",
    category="L7",
    oracle="""
        WITH series AS (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE user_id <= 5
        ), capped AS (
            SELECT * FROM series WHERE rn <= 50
        ), z AS (
            SELECT user_id, rn,
                   round((value - avg(value) OVER (PARTITION BY user_id))
                         / stddev_samp(value) OVER (PARTITION BY user_id), 6) AS zval
            FROM capped
        )
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               sum(CAST(floor((a.zval - b.zval) * (a.zval - b.zval) * 1000000 + 0.5)
                        AS BIGINT)) / 1000000.0 AS ssd,
               count(*) AS n_points
        FROM z a JOIN z b ON a.rn = b.rn AND a.user_id < b.user_id
        GROUP BY user_a, user_b
    """,
)
def tsim_znorm_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity: z-normalize each user's value series,
    pairwise squared distance on aligned positions (UCR-style znorm +
    Euclidean). Scale: znorm is one window pass; alignment join is
    keyed by position — at 100 TB, series would be collected to fixed-
    width arrays per key first (collect_list over bounded windows)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 5)
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = ev.withColumn("rn", F.row_number().over(w_rn)).filter(F.col("rn") <= 50)
    w_u = Window.partitionBy("user_id")
    z = capped.select(
        "user_id",
        "rn",
        F.round(
            (F.col("value") - F.avg("value").over(w_u)) / F.stddev_samp("value").over(w_u), 6
        ).alias("zval"),
    )
    a = z.select(F.col("user_id").alias("user_a"), "rn", F.col("zval").alias("za"))
    b = z.select(F.col("user_id").alias("user_b"), "rn", F.col("zval").alias("zb"))
    diff_sq_scaled = F.floor(
        (F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb")) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    return (
        a.join(b, "rn")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(
            (F.sum(diff_sq_scaled) / 1_000_000.0).alias("ssd"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


N_PLANES = 4   # bits per table (selectivity)
N_TABLES = 8   # independent tables (recall)


@query(
    "ann_lsh_recall_probe",
    category="L4",
    oracle=f"""
        WITH pc AS (
            SELECT p.p, d.d,
                   {md5_uniform_sql("'pl:' || p.p || ':' || d.d")}
                       * 2.0 - 1.0 AS comp
            FROM (SELECT unnest(generate_series(0, 31)) AS p) p,
                 (SELECT unnest(generate_series(0, 63)) AS d) d
        ), vec AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), dots AS (
            SELECT v.vec_id, pc.p,
                   sum(v.v[pc.d + 1] * pc.comp) AS dp
            FROM vec v JOIN pc ON TRUE
            GROUP BY v.vec_id, pc.p
        ), sig AS (
            -- bucket = the 4 sign bits of a table's planes, MSB first
            -- (the Spark fold acc*2 + bit over slice(planes, t*4+1, 4))
            SELECT vec_id, p // 4 AS table_id,
                   CAST(sum(CASE WHEN dp >= 0
                                 THEN 1 << CAST(3 - (p % 4) AS INTEGER)
                                 ELSE 0 END) AS BIGINT) AS bucket
            FROM dots GROUP BY vec_id, p // 4
        ), qsig AS (
            SELECT DISTINCT table_id, bucket FROM sig WHERE vec_id = 0
        ), cands AS (
            SELECT DISTINCT s.vec_id
            FROM sig s JOIN qsig q USING (table_id, bucket)
            WHERE s.vec_id <> 0
        ), q AS (SELECT v FROM vec WHERE vec_id = 0
        ), exact5 AS (
            SELECT e.vec_id
            FROM vec e, q
            WHERE e.vec_id <> 0
            ORDER BY list_cosine_similarity(e.v, q.v) DESC, e.vec_id
            LIMIT 5
        ), ann5 AS (
            SELECT e.vec_id
            FROM vec e JOIN cands c USING (vec_id), q
            ORDER BY list_cosine_similarity(e.v, q.v) DESC, e.vec_id
            LIMIT 5
        ), stats AS (
            SELECT (SELECT CAST(count(*) AS BIGINT)
                    FROM (SELECT vec_id FROM exact5
                          INTERSECT SELECT vec_id FROM ann5)) AS n_hits,
                   (SELECT CAST(count(*) AS BIGINT) FROM cands)
                       AS n_candidates,
                   (SELECT CAST(count(*) AS BIGINT) FROM vec
                    WHERE vec_id <> 0) AS n_corpus
        )
        SELECT CAST(4 AS INTEGER) AS n_planes,
               CAST(8 AS INTEGER) AS n_tables,
               n_candidates,
               n_hits / 5.0 AS recall_at_5,
               round(n_candidates * 1.0 / n_corpus, 4) AS candidate_frac
        FROM stats
    """,
)
def ann_lsh_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH, with measured recall
    AND candidate fraction vs exact knn.

    Hyperplane components are minted from the shared cross-engine md5
    mint (operators/similarity._plane_component → uniform in [-1, 1])
    — deterministic, no driver-side RNG. Each
    vector gets N_TABLES independent N_PLANES-bit sign signatures;
    candidates = corpus rows sharing ANY (table, bucket) with the
    query (Indyk–Motwani union construction), re-ranked exactly.
    Emits both quality (recall_at_5) and cost (candidate_frac —
    fraction of the corpus examined): the pair is the ANN contract;
    tune b up / L down for clustered corpora, the synthetic testdata
    embeddings are near-random so the probe shows the worst case.

    HASH-CHECKED since round 9: the planes are minted from the shared
    cross-engine md5 mint (operators/similarity._plane_component), so
    the oracle replays the ENTIRE construction in SQL — plane grid,
    per-(vec, plane) dots, MSB-first sign buckets, multi-table
    candidate union, and both exact and ANN re-ranked top-5 — and the
    recall/cost pair must agree to the last bit. (Sign parity across
    engines: the only float comparison is dp >= 0, and no dot product
    sits within summation-order drift of zero on this data; the knn
    oracle already established list_cosine_similarity parity.)
    """
    from ..operators.similarity import ann_candidates, cosine_topk, lsh_bucket_tables

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    bucketed = lsh_bucket_tables(
        emb, "vec", n_planes=N_PLANES, n_tables=N_TABLES, dim=64
    )
    qsig = bucketed.filter(F.col("vec_id") == 0)
    qrow = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    corpus = emb.filter(F.col("vec_id") != 0)
    # exact top-5 (brute force) — ground truth
    exact = cosine_topk(corpus, qrow, "vec", "qvec", k=5)
    # ANN top-5: exact re-rank over the LSH candidate set only
    cands = ann_candidates(bucketed.filter(F.col("vec_id") != 0), qsig)
    ann = cosine_topk(cands, qrow, "vec", "qvec", k=5)
    hits = exact.select("vec_id").intersect(ann.select("vec_id"))
    return (
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(cands.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(corpus.agg(F.count(F.lit(1)).alias("n_corpus")))
        .select(
            F.lit(N_PLANES).alias("n_planes"),
            F.lit(N_TABLES).alias("n_tables"),
            "n_candidates",
            (F.col("n_hits") / 5.0).alias("recall_at_5"),
            F.round(F.col("n_candidates") / F.col("n_corpus"), 4).alias(
                "candidate_frac"
            ),
        )
    )


@query(
    "knn_multi_query_topk",
    category="L3",
    oracle="""
        WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
        scored AS (
            SELECT q.qid, c.vec_id,
                   list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])) AS cos_sim,
                   row_number() OVER (PARTITION BY q.qid
                                      ORDER BY list_cosine_similarity(
                                          CAST(c.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])) DESC,
                                      c.vec_id) AS rk
            FROM q, c
        )
        SELECT qid, vec_id, cos_sim FROM scored WHERE rk <= 3
    """,
)
def knn_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity JOIN: top-3 corpus neighbors for EACH of 10 query
    vectors (the training-data-pipeline shape: batch retrieval /
    hard-negative mining, not a single lookup).

    Plan: broadcast the small query side → BroadcastNestedLoopJoin ×
    JVM-side cosine → per-query window top-k. O(|corpus|·|queries|)
    work with the corpus scanned ONCE and never shuffled (only
    (qid, vec_id, sim) triples move). When the query side is also
    large, this is exactly what the L4 LSH bucketing replaces:
    candidates per bucket instead of the full cross product.
    """
    from ..functions.vectors import cosine_similarity, to_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("vec")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        corpus.join(F.broadcast(queries))
        .select(
            "qid",
            "vec_id",
            cosine_similarity(F.col("vec"), F.col("qvec")).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )


@query(
    "llm_corpus_prep_pipeline",
    category="L1-L5",
    oracle=f"""
        WITH kept AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                               x -> x <> '') AS toks
            FROM documents
            WHERE lang = 'en' AND n_chars >= 40
        ), qual AS (
            SELECT doc_id, text, toks FROM kept WHERE len(toks) >= 8
        ), dedup AS (
            SELECT doc_id, toks,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM qual
        ), uniq AS (
            SELECT doc_id, toks,
                   CAST(ceil(len(toks)/32.0) AS INT) AS nchunks
            FROM dedup WHERE rn = 1
        ), i AS (SELECT unnest(generate_series(0, 100000)) AS i)
        SELECT doc_id, i.i AS chunk_no,
               array_to_string(toks[(i.i*32+1):(i.i*32+32)], ' ') AS chunk,
               len(toks) AS n_tokens
        FROM uniq JOIN i ON i.i < uniq.nchunks
    """,
)
def llm_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation as ONE Catalyst plan:
    language filter → length/quality gate → exact dedup (md5,
    deterministic winner) → fixed-size token chunking.

    The point at 100 TB: the whole chain has exactly ONE shuffle (the
    dedup groupBy on content hash) — filters fold into the scan,
    tokenize/chunk are per-row expressions, and chunking explodes
    AFTER dedup so duplicate bytes never fan out. This is the composed
    form of L1+L5+chunking that a real data pipeline would run.
    """
    from ..functions.chunking import chunk_text_columnar

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    kept = (
        docs.filter((F.col("lang") == "en") & (F.col("n_chars") >= 40))
        .withColumn("toks", toks)
        .filter(F.size("toks") >= 8)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", F.size("toks").alias("n_tokens"))
    )
    return chunk_text_columnar(uniq, "text", 32, ["doc_id", "n_tokens"]).select(
        "doc_id", "chunk_no", "chunk", "n_tokens"
    )


@query(
    "corpus_prep_staged_pipeline",
    category="L1-L5",
    variant_of="llm_corpus_prep_pipeline",
    oracle=f"""
        WITH cand AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(lower(text),
                                                  '{TOKEN_SPLIT}'),
                               x -> x <> '') AS toks
            FROM documents
            WHERE lang = 'en' AND n_chars >= 40 AND doc_id % 97 <> 0
        ), qual AS (
            SELECT doc_id, text, toks,
                   CAST(len(toks) AS BIGINT) AS n_tokens
            FROM cand WHERE len(toks) >= 8
        ), dedup AS (
            SELECT doc_id, text, toks, n_tokens,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM qual
        ), uniq AS (
            SELECT doc_id, text, toks, n_tokens FROM dedup WHERE rn = 1
        ), evsh AS (
            SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS sh
            FROM (
                SELECT list_filter(string_split_regex(lower(text),
                                                      '{TOKEN_SPLIT}'),
                                   x -> x <> '') AS toks
                FROM documents
                WHERE doc_id % 97 = 0 OR doc_id % 101 = 5
            ), LATERAL unnest(generate_series(1, len(toks) - 7)) AS g(i)
            WHERE len(toks) >= 8
        ), contaminated AS (
            SELECT DISTINCT u.doc_id
            FROM uniq u,
                 LATERAL unnest(generate_series(1, len(u.toks) - 7))
                     AS g(i)
            JOIN evsh e ON e.sh = array_to_string(u.toks[g.i:g.i+7], ' ')
            WHERE len(u.toks) >= 8
        ), clean AS (
            SELECT doc_id, toks, n_tokens,
                   CAST(ceil(len(toks)/32.0) AS INT) AS nchunks
            FROM uniq
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ), i AS (SELECT unnest(generate_series(0, 100000)) AS i)
        SELECT c.doc_id, i.i AS chunk_no,
               array_to_string(c.toks[(i.i*32+1):(i.i*32+32)], ' ')
                   AS chunk,
               c.n_tokens,
               CASE WHEN {md5_uniform_sql("CAST(c.doc_id AS VARCHAR)")}
                         < 0.9 THEN 'train'
                    WHEN {md5_uniform_sql("CAST(c.doc_id AS VARCHAR)")}
                         < 0.95 THEN 'val'
                    ELSE 'test' END AS split
        FROM clean c JOIN i ON i.i < c.nchunks
        ORDER BY c.doc_id, chunk_no
    """,
)
def corpus_prep_staged_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The corpus-prep path as a DECLARATIVE PIPELINE CONFIG — the
    exact chain `python -m eventstreams_spark run corpus_prep.yaml`
    executes (quality → exact dedup → benchmark decontamination →
    sequence packing → deterministic split), compiled by
    Pipeline.from_config into ONE Catalyst plan and verified
    row-exact under the DuckDB hash gate. Variant-of
    llm_corpus_prep_pipeline (the hand-built fused form); this one
    adds the two stages a production run needs — n-gram
    decontamination against a held-out eval slice (doc_id % 97 = 0
    plus the doc_id % 101 = 5 docs, which stay train candidates too —
    INJECTED contamination, the neardup-query pattern, so the stage
    provably drops rows under the hash gate on a corpus whose random
    word soup has no natural cross-slice 8-grams; 8-token shingle
    overlap, Lee et al. 2022-style exact filter) and
    the md5-minted train/val/test assignment (reshuffle-stable:
    adding data never moves an existing doc between splits).

    Scale: quality filters fold into the scan; dedup is ONE uniform
    md5-keyed shuffle; decontamination explodes shingles once with
    only (hash, shingle) carried and semi-joins the (small,
    broadcastable) eval shingle set; packing posexplodes AFTER dedup
    and decontamination so dropped bytes never fan out; the split is
    a per-row expression. The chain's shuffle count: dedup window +
    the decontaminate semi/anti pair — everything else is map-side.
    """
    from ..pipeline import Pipeline

    docs = load_table(spark, sf_dir, "documents")
    pipe = Pipeline.from_config(
        {
            "steps": [
                {
                    "type": "filter",
                    "expr": "lang = 'en' AND n_chars >= 40 "
                            "AND doc_id % 97 <> 0",
                },
                {"type": "quality", "source": "text", "min_tokens": 8},
                {"type": "dedup", "fields": ["text"], "order": "doc_id"},
                {
                    "type": "decontaminate",
                    "source": "text",
                    "eval_path": f"{sf_dir}/documents.parquet",
                    "eval_filter": "doc_id % 97 = 0 OR doc_id % 101 = 5",
                    "eval_column": "text",
                    "ngram": 8,
                },
                {
                    "type": "pack",
                    "source": "text",
                    "tokens_per_chunk": 32,
                    "keep": ["doc_id", "q_n_tokens"],
                },
                {
                    "type": "dataset_split",
                    "key": "doc_id",
                    "weights": {"train": 0.9, "val": 0.05, "test": 0.05},
                },
            ]
        }
    )
    return pipe.apply(docs).select(
        "doc_id",
        "chunk_no",
        "chunk",
        F.col("q_n_tokens").alias("n_tokens"),
        "split",
    )


N_CENTROIDS = 16  # coarse quantizer size (k)
N_PROBE = 4       # clusters scanned per query


@query(
    "ann_ivf_recall_probe",
    category="L4",
    oracle="""
        WITH vec0 AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), unit AS (
            SELECT vec_id,
                   list_transform(v, x -> x /
                       sqrt(list_sum(list_transform(v, y -> y * y))))
                       AS uv
            FROM vec0
        ), seeds AS (
            SELECT vec_id, uv FROM unit
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
        ), c0 AS (
            SELECT CAST(row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                       - 1 AS INTEGER) AS cid,
                   uv AS cvec
            FROM seeds
        ), a1 AS (
            SELECT vec_id, cid FROM (
                SELECT u.vec_id, c.cid,
                       row_number() OVER (PARTITION BY u.vec_id ORDER BY
                           list_sum(list_transform(
                               generate_series(1, 64),
                               i -> (u.uv[i] - c.cvec[i])
                                    * (u.uv[i] - c.cvec[i]))),
                           c.cid) AS rk
                FROM unit u CROSS JOIN c0 c
            ) WHERE rk = 1
        ), m1 AS (
            SELECT a.cid, d.i, avg(u.uv[d.i]) AS mean
            FROM a1 a JOIN unit u USING (vec_id),
                 (SELECT unnest(generate_series(1, 64)) AS i) d
            GROUP BY a.cid, d.i
        ), c1 AS (
            SELECT cid,
                   list_transform(cv, x -> x /
                       sqrt(list_sum(list_transform(cv, y -> y * y))))
                       AS cvec
            FROM (SELECT cid, list(mean ORDER BY i) AS cv
                  FROM m1 GROUP BY cid)
        ), a2 AS (
            SELECT vec_id, cid FROM (
                SELECT u.vec_id, c.cid,
                       row_number() OVER (PARTITION BY u.vec_id ORDER BY
                           list_sum(list_transform(
                               generate_series(1, 64),
                               i -> (u.uv[i] - c.cvec[i])
                                    * (u.uv[i] - c.cvec[i]))),
                           c.cid) AS rk
                FROM unit u CROSS JOIN c1 c
            ) WHERE rk = 1
        ), m2 AS (
            SELECT a.cid, d.i, avg(u.uv[d.i]) AS mean
            FROM a2 a JOIN unit u USING (vec_id),
                 (SELECT unnest(generate_series(1, 64)) AS i) d
            GROUP BY a.cid, d.i
        ), c2 AS (
            SELECT cid,
                   list_transform(cv, x -> x /
                       sqrt(list_sum(list_transform(cv, y -> y * y))))
                       AS cvec
            FROM (SELECT cid, list(mean ORDER BY i) AS cv
                  FROM m2 GROUP BY cid)
        ), a3 AS (
            -- ivf_build returns assign(unit, c2): a THIRD assignment
            -- against the final (normalized) centroids
            SELECT vec_id, cid FROM (
                SELECT u.vec_id, c.cid,
                       row_number() OVER (PARTITION BY u.vec_id ORDER BY
                           list_sum(list_transform(
                               generate_series(1, 64),
                               i -> (u.uv[i] - c.cvec[i])
                                    * (u.uv[i] - c.cvec[i]))),
                           c.cid) AS rk
                FROM unit u CROSS JOIN c2 c
            ) WHERE rk = 1
        ), qn AS (SELECT uv FROM unit WHERE vec_id = 0
        ), probe AS (
            SELECT c.cid FROM c2 c, qn
            ORDER BY list_sum(list_transform(
                         generate_series(1, 64),
                         i -> (c.cvec[i] - qn.uv[i])
                              * (c.cvec[i] - qn.uv[i]))),
                     c.cid
            LIMIT 4
        ), cands AS (
            SELECT DISTINCT a.vec_id
            FROM a3 a JOIN probe p USING (cid)
            WHERE a.vec_id <> 0
        ), q AS (SELECT v FROM vec0 WHERE vec_id = 0
        ), exact5 AS (
            SELECT e.vec_id FROM vec0 e, q
            WHERE e.vec_id <> 0
            ORDER BY list_cosine_similarity(e.v, q.v) DESC, e.vec_id
            LIMIT 5
        ), ann5 AS (
            SELECT e.vec_id
            FROM vec0 e JOIN cands c USING (vec_id), q
            ORDER BY list_cosine_similarity(e.v, q.v) DESC, e.vec_id
            LIMIT 5
        ), stats AS (
            SELECT (SELECT CAST(count(*) AS BIGINT)
                    FROM (SELECT vec_id FROM exact5
                          INTERSECT SELECT vec_id FROM ann5)) AS n_hits,
                   (SELECT CAST(count(*) AS BIGINT) FROM cands)
                       AS n_candidates,
                   (SELECT CAST(count(*) AS BIGINT) FROM vec0
                    WHERE vec_id <> 0) AS n_corpus
        )
        SELECT CAST(16 AS INTEGER) AS n_centroids,
               CAST(4 AS INTEGER) AS n_probe,
               n_candidates,
               n_hits / 5.0 AS recall_at_5,
               round(n_candidates * 1.0 / n_corpus, 4) AS candidate_frac
        FROM stats
    """,
)
def ann_ivf_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via an IVF coarse quantizer (spherical k-means) with measured
    recall AND candidate fraction vs exact knn — the clustered-corpus
    complement to `ann_lsh_recall_probe`.

    Build: deterministic xxhash64-ordered seeding + 2 Lloyd iterations
    (each one corpus scan and an O(k·dim) shuffle of partial sums);
    search: probe the N_PROBE nearest of N_CENTROIDS clusters, exact
    cosine re-rank within them. At rest the assignment table is
    partitioned by cid, so nprobe/k of the data is read per query. On
    the near-uniform synthetic embeddings the probe reports the
    worst-case floor (candidate_frac ≈ nprobe/k); clustered real
    corpora recover recall ≈ 1 at the same fraction.

    HASH-CHECKED since round 9 (md5-minted seeding + cid order): the
    oracle unrolls BOTH Lloyd iterations in SQL — normalize, seed by
    md5(id) order, assign by explicit squared-L2 argmin (strict-<
    keeps the lowest cid on exact ties, mirrored by the oracle's
    row_number tie order), per-(cid, dim) means, re-assign, probe the
    4 nearest of the final (re-normalized — spherical k-means)
    centroids with the returned assignment ALSO made against them
    (ivf_build assigns once more after the loop), re-rank, and the
    recall/cost pair must agree to the bit.
    Cross-engine float note: mean/normalize summation order differs
    between engines (ULP drift); assignments and probe picks are
    argmins over distances separated by orders of magnitude more, so
    the hash is stable — verified at sf0.001 and sf0.01.
    """
    from ..operators.ivf import ivf_build, ivf_probe_ids
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    assigned, centroids = ivf_build(
        emb, "vec", "vec_id", n_centroids=N_CENTROIDS, n_iters=2
    )
    qrow = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = cosine_topk(corpus, qrow, "vec", "qvec", k=5)
    cands = ivf_probe_ids(
        assigned.filter(F.col("vec_id") != 0), centroids, qrow, nprobe=N_PROBE
    )
    ann = cosine_topk(cands, qrow, "vec", "qvec", k=5)
    hits = exact.select("vec_id").intersect(ann.select("vec_id"))
    return (
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(cands.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(corpus.agg(F.count(F.lit(1)).alias("n_corpus")))
        .select(
            F.lit(N_CENTROIDS).alias("n_centroids"),
            F.lit(N_PROBE).alias("n_probe"),
            "n_candidates",
            (F.col("n_hits") / 5.0).alias("recall_at_5"),
            F.round(F.col("n_candidates") / F.col("n_corpus"), 4).alias(
                "candidate_frac"
            ),
        )
    )


@query(
    "embedding_centroid_per_label",
    category="L3-centroid",
    oracle="""
        SELECT label,
               i AS dim,
               count(*) AS n_vecs,
               CAST(sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT)) AS BIGINT) AS sum_scaled,
               (sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000 + 0.5)
                         AS BIGINT)) / 1000000.0) / count(*) AS mean_val
        FROM embeddings, range(0, 64) t(i)
        GROUP BY label, i
    """,
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid of the embedding column — the vector
    aggregation behind nearest-centroid classification and IVF
    coarse training, expressed as posexplode → (label, dim) hash
    aggregate rather than any driver-side numpy reduce.

    Components are scaled to exact BIGINT micro-units before summing
    so the result is independent of reduction order (float sums are
    not associative); the mean is derived from the exact sum. At
    100 TB this is one shuffle of 64 rows per vector, combinable
    map-side — the standard scalable layout for dense-vector stats.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    scaled = F.floor(F.col("val").cast("double") * 1000000 + 0.5).cast("long")
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(scaled).alias("sum_scaled"),
        )
        .select(
            "label",
            "dim",
            "n_vecs",
            "sum_scaled",
            ((F.col("sum_scaled") / 1000000.0) / F.col("n_vecs")).alias("mean_val"),
        )
    )


@query(
    "ann_pq_recall_probe",
    category="L4-pq",
    oracle="""
        WITH vec0 AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), subs AS (
            SELECT vec_id AS vid, g.s AS sub_id,
                   v[g.s * 8 + 1 : g.s * 8 + 8] AS subvec
            FROM vec0, (SELECT unnest(generate_series(0, 7)) AS s) g
        ), w AS (
            SELECT * FROM subs
            WHERE vid IN (SELECT DISTINCT vid FROM subs
                          ORDER BY vid LIMIT 16)
        ), cb0 AS (
            SELECT sub_id,
                   CAST(row_number() OVER (PARTITION BY sub_id
                                           ORDER BY vid) - 1
                        AS INTEGER) AS cid,
                   subvec AS cvec
            FROM w
        ), a1 AS (
            SELECT vid, sub_id, cid, subvec FROM (
                SELECT s.vid, s.sub_id, c.cid, s.subvec,
                       row_number() OVER (
                           PARTITION BY s.vid, s.sub_id ORDER BY
                           list_sum(list_transform(
                               generate_series(1, 8),
                               i -> (s.subvec[i] - c.cvec[i])
                                    * (s.subvec[i] - c.cvec[i]))),
                           c.cid) AS rk
                FROM subs s JOIN cb0 c USING (sub_id)
            ) WHERE rk = 1
        ), m1 AS (
            SELECT sub_id, cid, d.i, avg(subvec[d.i]) AS mv
            FROM a1, (SELECT unnest(generate_series(1, 8)) AS i) d
            GROUP BY sub_id, cid, d.i
        ), cb1 AS (
            SELECT sub_id, cid, list(mv ORDER BY i) AS cvec
            FROM m1 GROUP BY sub_id, cid
        ), a2 AS (
            SELECT vid, sub_id, cid, subvec FROM (
                SELECT s.vid, s.sub_id, c.cid, s.subvec,
                       row_number() OVER (
                           PARTITION BY s.vid, s.sub_id ORDER BY
                           list_sum(list_transform(
                               generate_series(1, 8),
                               i -> (s.subvec[i] - c.cvec[i])
                                    * (s.subvec[i] - c.cvec[i]))),
                           c.cid) AS rk
                FROM subs s JOIN cb1 c USING (sub_id)
            ) WHERE rk = 1
        ), m2 AS (
            SELECT sub_id, cid, d.i, avg(subvec[d.i]) AS mv
            FROM a2, (SELECT unnest(generate_series(1, 8)) AS i) d
            GROUP BY sub_id, cid, d.i
        ), cb2 AS (
            SELECT sub_id, cid, list(mv ORDER BY i) AS cvec
            FROM m2 GROUP BY sub_id, cid
        ), codes AS (
            SELECT vid, sub_id, cid FROM (
                SELECT s.vid, s.sub_id, c.cid,
                       row_number() OVER (
                           PARTITION BY s.vid, s.sub_id ORDER BY
                           list_sum(list_transform(
                               generate_series(1, 8),
                               i -> (s.subvec[i] - c.cvec[i])
                                    * (s.subvec[i] - c.cvec[i]))),
                           c.cid) AS rk
                FROM subs s JOIN cb2 c USING (sub_id)
                WHERE s.vid <> 0
            ) WHERE rk = 1
        ), lut AS (
            SELECT q.sub_id, c.cid,
                   list_sum(list_transform(
                       generate_series(1, 8),
                       i -> (q.subvec[i] - c.cvec[i])
                            * (q.subvec[i] - c.cvec[i]))) AS d
            FROM (SELECT * FROM subs WHERE vid = 0) q
            JOIN cb2 c USING (sub_id)
        ), ann5 AS (
            SELECT co.vid
            FROM codes co JOIN lut USING (sub_id, cid)
            GROUP BY co.vid
            ORDER BY sum(lut.d), co.vid
            LIMIT 5
        ), exact5 AS (
            SELECT e.vec_id AS vid
            FROM vec0 e, (SELECT v FROM vec0 WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
            ORDER BY list_sum(list_transform(
                         generate_series(1, 64),
                         i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i]))),
                     e.vec_id
            LIMIT 5
        )
        SELECT CAST(8 AS INTEGER) AS m,
               CAST(16 AS INTEGER) AS k,
               (SELECT count(*) FROM (SELECT vid FROM exact5
                                      INTERSECT SELECT vid FROM ann5))
                   / 5.0 AS recall_at_5,
               CAST(64.0 AS DOUBLE) AS compression_x
    """,
)
def ann_pq_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): train 8x16 codebooks,
    encode the corpus as 8 nibble codes (64x smaller than the float32
    vectors), answer top-5 by ADC lookup-table sums, and report recall
    against exact squared-L2 top-5.

    HASH-CHECKED since round 9: training is deterministic and
    hash-free (seeds = the first k vids, per-subspace cid by vid
    order; _assign's array_min over (d, cid) structs keeps the
    lowest cid on exact ties — mirrored by the oracle's row_number
    tie order), so the oracle unrolls both per-subspace Lloyd
    iterations, re-encodes the corpus against the final codebooks,
    and replays the ADC LUT-sum top-5 exactly. At 100 TB the
    scan for a query reads ONLY the 4-byte code column and broadcasts
    an m*k LUT — this is what makes billion-vector search a Spark
    aggregation instead of an index service.
    """
    from ..functions.vectors import sq_dist
    from ..operators.pq import pq_adc_topk, pq_encode, pq_train

    M, K = 8, 16
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    corpus = emb.filter(F.col("vec_id") != 0)
    qrow = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    cb = pq_train(emb, "vec", "vec_id", m=M, k=K, n_iters=2)
    codes = pq_encode(corpus, "vec", "vec_id", cb, m=M)
    ann = pq_adc_topk(codes, cb, qrow, "qvec", 5, M)
    exact = (
        corpus.crossJoin(F.broadcast(qrow))
        .select("vec_id", sq_dist(F.col("vec"), F.col("qvec")).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(5)
    )
    hits = exact.select("vec_id").intersect(ann.select(F.col("vid").alias("vec_id")))
    return (
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(M).alias("m"),
            F.lit(K).alias("k"),
            (F.col("n_hits") / 5.0).alias("recall_at_5"),
            F.lit(64.0).alias("compression_x"),
        )
    )


@query(
    "ann_ivfpq_recall_probe",
    category="L4-ivfpq",
    oracle="""
        WITH vec0 AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), u1 AS (
            -- the probe's outer unit-normalize (emb.vec)
            SELECT vec_id,
                   list_transform(v, x -> x /
                       sqrt(list_sum(list_transform(v, y -> y * y))))
                       AS v
            FROM vec0
        ), u2 AS (
            -- ivf_build normalizes its input AGAIN (unit of unit:
            -- ULP-level change, mirrored for exactness)
            SELECT vec_id,
                   list_transform(v, x -> x /
                       sqrt(list_sum(list_transform(v, y -> y * y))))
                       AS uv
            FROM u1
        ), seeds AS (
            SELECT vec_id, uv FROM u2
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
        ), c0 AS (
            SELECT CAST(row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                       - 1 AS INTEGER) AS cid,
                   uv AS cvec
            FROM seeds
        ), a1 AS (
            SELECT vec_id, cid FROM (
                SELECT u.vec_id, c.cid,
                       row_number() OVER (PARTITION BY u.vec_id ORDER BY
                           list_sum(list_transform(generate_series(1, 64), i -> (u.uv[i] - c.cvec[i]) * (u.uv[i] - c.cvec[i]))), c.cid) AS rk
                FROM u2 u CROSS JOIN c0 c
            ) WHERE rk = 1
        ), m1 AS (
            SELECT a.cid, d.i, avg(u.uv[d.i]) AS mean
            FROM a1 a JOIN u2 u USING (vec_id),
                 (SELECT unnest(generate_series(1, 64)) AS i) d
            GROUP BY a.cid, d.i
        ), c1 AS (
            SELECT cid,
                   list_transform(cv, x -> x /
                       sqrt(list_sum(list_transform(cv, y -> y * y))))
                       AS cvec
            FROM (SELECT cid, list(mean ORDER BY i) AS cv
                  FROM m1 GROUP BY cid)
        ), a2 AS (
            SELECT vec_id, cid FROM (
                SELECT u.vec_id, c.cid,
                       row_number() OVER (PARTITION BY u.vec_id ORDER BY
                           list_sum(list_transform(generate_series(1, 64), i -> (u.uv[i] - c.cvec[i]) * (u.uv[i] - c.cvec[i]))), c.cid) AS rk
                FROM u2 u CROSS JOIN c1 c
            ) WHERE rk = 1
        ), m2 AS (
            SELECT a.cid, d.i, avg(u.uv[d.i]) AS mean
            FROM a2 a JOIN u2 u USING (vec_id),
                 (SELECT unnest(generate_series(1, 64)) AS i) d
            GROUP BY a.cid, d.i
        ), c2 AS (
            SELECT cid,
                   list_transform(cv, x -> x /
                       sqrt(list_sum(list_transform(cv, y -> y * y))))
                       AS cvec
            FROM (SELECT cid, list(mean ORDER BY i) AS cv
                  FROM m2 GROUP BY cid)
        ), a3 AS (
            SELECT vec_id, cid FROM (
                SELECT u.vec_id, c.cid,
                       row_number() OVER (PARTITION BY u.vec_id ORDER BY
                           list_sum(list_transform(generate_series(1, 64), i -> (u.uv[i] - c.cvec[i]) * (u.uv[i] - c.cvec[i]))), c.cid) AS rk
                FROM u2 u CROSS JOIN c2 c
            ) WHERE rk = 1
        ), qn AS (SELECT uv FROM u2 WHERE vec_id = 0
        ), probe AS (
            SELECT c.cid FROM c2 c, qn
            ORDER BY list_sum(list_transform(generate_series(1, 64), i -> (c.cvec[i] - qn.uv[i]) * (c.cvec[i] - qn.uv[i]))), c.cid
            LIMIT 3
        ), cands AS (
            SELECT DISTINCT a.vec_id
            FROM a3 a JOIN probe p USING (cid)
            WHERE a.vec_id <> 0
        ), subs AS (
            -- PQ trains on the OUTER-normalized vectors (u1)
            SELECT vec_id AS vid, g.s AS sub_id,
                   v[g.s * 8 + 1 : g.s * 8 + 8] AS subvec
            FROM u1, (SELECT unnest(generate_series(0, 7)) AS s) g
        ), w AS (
            SELECT * FROM subs
            WHERE vid IN (SELECT DISTINCT vid FROM subs
                          ORDER BY vid LIMIT 16)
        ), cb0 AS (
            SELECT sub_id,
                   CAST(row_number() OVER (PARTITION BY sub_id
                                           ORDER BY vid) - 1
                        AS INTEGER) AS cid,
                   subvec AS cvec
            FROM w
        ), pa1 AS (
            SELECT vid, sub_id, cid, subvec FROM (
                SELECT s.vid, s.sub_id, c.cid, s.subvec,
                       row_number() OVER (
                           PARTITION BY s.vid, s.sub_id ORDER BY
                           list_sum(list_transform(generate_series(1, 8), i -> (s.subvec[i] - c.cvec[i]) * (s.subvec[i] - c.cvec[i]))), c.cid) AS rk
                FROM subs s JOIN cb0 c USING (sub_id)
            ) WHERE rk = 1
        ), pm1 AS (
            SELECT sub_id, cid, d.i, avg(subvec[d.i]) AS mv
            FROM pa1, (SELECT unnest(generate_series(1, 8)) AS i) d
            GROUP BY sub_id, cid, d.i
        ), cb1 AS (
            SELECT sub_id, cid, list(mv ORDER BY i) AS cvec
            FROM pm1 GROUP BY sub_id, cid
        ), pa2 AS (
            SELECT vid, sub_id, cid, subvec FROM (
                SELECT s.vid, s.sub_id, c.cid, s.subvec,
                       row_number() OVER (
                           PARTITION BY s.vid, s.sub_id ORDER BY
                           list_sum(list_transform(generate_series(1, 8), i -> (s.subvec[i] - c.cvec[i]) * (s.subvec[i] - c.cvec[i]))), c.cid) AS rk
                FROM subs s JOIN cb1 c USING (sub_id)
            ) WHERE rk = 1
        ), pm2 AS (
            SELECT sub_id, cid, d.i, avg(subvec[d.i]) AS mv
            FROM pa2, (SELECT unnest(generate_series(1, 8)) AS i) d
            GROUP BY sub_id, cid, d.i
        ), cb2 AS (
            SELECT sub_id, cid, list(mv ORDER BY i) AS cvec
            FROM pm2 GROUP BY sub_id, cid
        ), codes AS (
            -- encode ONLY the IVF candidates
            SELECT vid, sub_id, cid FROM (
                SELECT s.vid, s.sub_id, c.cid,
                       row_number() OVER (
                           PARTITION BY s.vid, s.sub_id ORDER BY
                           list_sum(list_transform(generate_series(1, 8), i -> (s.subvec[i] - c.cvec[i]) * (s.subvec[i] - c.cvec[i]))), c.cid) AS rk
                FROM subs s JOIN cb2 c USING (sub_id)
                WHERE s.vid IN (SELECT vec_id FROM cands)
            ) WHERE rk = 1
        ), lut AS (
            SELECT q.sub_id, c.cid,
                   list_sum(list_transform(generate_series(1, 8), i -> (q.subvec[i] - c.cvec[i]) * (q.subvec[i] - c.cvec[i]))) AS d
            FROM (SELECT * FROM subs WHERE vid = 0) q
            JOIN cb2 c USING (sub_id)
        ), shortlist AS (
            SELECT co.vid
            FROM codes co JOIN lut USING (sub_id, cid)
            GROUP BY co.vid
            ORDER BY sum(lut.d), co.vid
            LIMIT 50
        ), q1 AS (SELECT v FROM u1 WHERE vec_id = 0
        ), ann5 AS (
            SELECT e.vec_id
            FROM u1 e JOIN shortlist sl ON sl.vid = e.vec_id, q1
            ORDER BY list_sum(list_transform(generate_series(1, 64), i -> (e.v[i] - q1.v[i]) * (e.v[i] - q1.v[i]))), e.vec_id
            LIMIT 5
        ), exact5 AS (
            SELECT e.vec_id FROM u1 e, q1
            WHERE e.vec_id <> 0
            ORDER BY list_sum(list_transform(generate_series(1, 64), i -> (e.v[i] - q1.v[i]) * (e.v[i] - q1.v[i]))), e.vec_id
            LIMIT 5
        ), stats AS (
            SELECT (SELECT CAST(count(*) AS BIGINT)
                    FROM (SELECT vec_id FROM exact5
                          INTERSECT SELECT vec_id FROM ann5)) AS n_hits,
                   (SELECT CAST(count(*) AS BIGINT) FROM cands)
                       AS n_candidates,
                   (SELECT CAST(count(*) AS BIGINT) FROM u1
                    WHERE vec_id <> 0) AS n_corpus
        )
        SELECT CAST(8 AS INTEGER) AS n_centroids,
               CAST(3 AS INTEGER) AS n_probe,
               CAST(8 AS INTEGER) AS pq_m,
               n_hits / 5.0 AS recall_at_5,
               round(n_candidates * 1.0 / n_corpus, 4) AS candidate_frac
        FROM stats
    """,
)
def ann_ivfpq_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The billion-scale ANN recipe (FAISS IVF-PQ + re-rank, as Spark
    joins): IVF coarse quantizer prunes to nprobe clusters; PQ ADC
    ranks ONLY those candidates from 8-nibble codes into a shortlist;
    exact distance re-ranks just the shortlist (raw vectors touched
    for ~50 rows, not the corpus). Recall is then bounded by IVF
    pruning alone — PQ quantization error (severe on near-random
    vectors) stops costing recall once re-rank runs. Probe reports
    recall@5 vs exact and the candidate fraction.

    HASH-CHECKED since round 9 (the last rows-only query to convert):
    the oracle composes the IVF and PQ unrollings — double
    normalization mirrored exactly (the probe normalizes, then
    ivf_build normalizes again), md5-minted IVF seeding, spherical
    re-normalized Lloyd ×2 + final assignment, 3-cluster probe,
    per-subspace PQ codebooks ×2 trained on the outer-normalized
    vectors, candidate-only encoding, ADC LUT-sum top-50 shortlist,
    and the exact re-rank — recall/cost agree to the bit.
    """
    from ..functions.vectors import sq_dist
    from ..operators.ivf import ivf_build, ivf_probe_ids, l2_normalize
    from ..operators.pq import pq_adc_topk, pq_encode, pq_train

    M, K, N_CENT, N_PROBE = 8, 16, 8, 3
    # one metric everywhere: unit-normalize, then sq-L2 == cosine order
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        l2_normalize(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("vec"),
    )
    corpus = emb.filter(F.col("vec_id") != 0)
    qrow = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))

    assigned, centroids = ivf_build(emb, "vec", "vec_id", n_centroids=N_CENT, n_iters=2)
    cands = ivf_probe_ids(
        assigned.filter(F.col("vec_id") != 0), centroids, qrow, nprobe=N_PROBE
    )
    cb = pq_train(emb, "vec", "vec_id", m=M, k=K, n_iters=2)
    cand_codes = pq_encode(
        corpus.join(cands.select("vec_id"), "vec_id", "left_semi"),
        "vec", "vec_id", cb, m=M,
    )
    # ADC produces a SHORTLIST (cheap, code-column only); exact re-rank
    # touches raw vectors for just the shortlist — the standard third
    # stage that recovers recall PQ error would otherwise lose.
    shortlist = pq_adc_topk(cand_codes, cb, qrow, "qvec", 50, M)
    ann = (
        corpus.join(shortlist.select(F.col("vid").alias("vec_id")), "vec_id")
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", sq_dist(F.col("vec"), F.col("qvec")).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(5)
    )
    exact = (
        corpus.crossJoin(F.broadcast(qrow))
        .select("vec_id", sq_dist(F.col("vec"), F.col("qvec")).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(5)
    )
    hits = exact.select("vec_id").intersect(ann.select("vec_id"))
    return (
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(cands.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(corpus.agg(F.count(F.lit(1)).alias("n_corpus")))
        .select(
            F.lit(N_CENT).alias("n_centroids"),
            F.lit(N_PROBE).alias("n_probe"),
            F.lit(M).alias("pq_m"),
            (F.col("n_hits") / 5.0).alias("recall_at_5"),
            F.round(F.col("n_candidates") / F.col("n_corpus"), 4).alias(
                "candidate_frac"
            ),
        )
    )


_EMB_NEARDUP_ORACLE = """
    WITH sn AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
        FROM embeddings
    ), sn2 AS (
        SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM sn
    ), buckets AS (
        SELECT vec_id,
               t.t * 16
               + list_sum(list_transform(generate_series(0, 3), j ->
                   CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
                           v[i] * (((1103515245 * ((t.t * 4 + j) * 64 + i) + 12345)
                                    % 2147483648) - 1073741824))) > 0
                   THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS bkt
        FROM sn2, range(0, 6) t(t)
    ), pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM buckets a JOIN buckets b
          ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    ), verified AS (
        SELECT p.vec_a, p.vec_b,
               CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> x.v[i] * y.v[i])) AS BIGINT) AS dot_scaled,
               CAST(x.nrm AS DOUBLE) AS na, CAST(y.nrm AS DOUBLE) AS nb
        FROM pairs p
        JOIN sn2 x ON p.vec_a = x.vec_id
        JOIN sn2 y ON p.vec_b = y.vec_id
    )
    SELECT vec_a, vec_b, dot_scaled,
           round(CAST(dot_scaled AS DOUBLE) / sqrt(na * nb), 6) AS cos_sim
    FROM verified
    WHERE dot_scaled > 0
      AND CAST(dot_scaled AS DOUBLE) * CAST(dot_scaled AS DOUBLE)
          >= 0.2025 * na * nb
"""


def _lsh_hyperplane(j: int) -> list[int]:
    """Deterministic pseudo-random hyperplane for sign-LSH bit ``j``:
    a fixed LCG over (bit, dim) indices — no RNG state, so Spark and
    the DuckDB oracle derive bit-identical planes from scratch."""
    return [
        ((1103515245 * (j * 64 + i) + 12345) % 2147483648) - 1073741824
        for i in range(1, 65)
    ]


@query("neardup_embedding_lsh", category="L2-embcos", oracle=_EMB_NEARDUP_ORACLE)
def neardup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space member
    of the dedup family (L2): sign-LSH bucketing (6 tables x 4
    hyperplane bits) proposes candidates, exact cosine verifies them
    at >= 0.45. Candidates only ever materialize inside a bucket
    equi-join — never an all-pairs — so the construction is the same
    one that survives 100 TB (tables x bits tune the recall/cost
    curve; buckets shuffle by key and verify locally).

    Cross-engine exactness: embeddings are scaled to BIGINT
    micro-units; hyperplanes come from a shared LCG on (bit, dim)
    indices (no RNG); every dot/norm is an integer fold; the final
    cosine test compares IEEE doubles built from identical integers.
    The oracle replays the identical construction, so bucket
    membership, candidate set, and verdicts all hash-match.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    se = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast("long"),
    )
    zero = F.lit(0).cast("long")
    sn = emb.select(
        "vec_id",
        se.alias("v"),
        F.aggregate(
            F.transform(se, lambda x: x * x), zero, lambda a, x: a + x
        ).alias("nrm"),
    )

    def dot_lit(v: Column, plane: list[int]) -> Column:
        lits = F.array(*[F.lit(h).cast("long") for h in plane])
        return F.aggregate(F.zip_with(v, lits, lambda a, b: a * b), zero,
                           lambda a, x: a + x)

    bucket_exprs = []
    for t in range(6):
        bits = F.lit(0).cast("long")
        for j in range(4):
            plane = _lsh_hyperplane(t * 4 + j)
            bits = bits + F.when(
                dot_lit(F.col("v"), plane) > 0, F.lit(2 ** j).cast("long")
            ).otherwise(zero)
        bucket_exprs.append(F.lit(t * 16).cast("long") + bits)

    bucketed = sn.select(
        "vec_id", "v", "nrm", F.explode(F.array(*bucket_exprs)).alias("bkt")
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cands = (
        a.join(b, (F.col("a.bkt") == F.col("b.bkt"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
            F.col("a.nrm").alias("na"),
            F.col("b.nrm").alias("nb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), zero, lambda acc, x: acc + x
    )
    scored = cands.select(
        "vec_a",
        "vec_b",
        dot.alias("dot_scaled"),
        F.col("na").cast("double").alias("nad"),
        F.col("nb").cast("double").alias("nbd"),
    )
    return (
        scored.filter(
            (F.col("dot_scaled") > 0)
            & (
                F.col("dot_scaled").cast("double") * F.col("dot_scaled").cast("double")
                >= 0.2025 * F.col("nad") * F.col("nbd")
            )
        )
        .select(
            "vec_a",
            "vec_b",
            "dot_scaled",
            F.round(
                F.col("dot_scaled").cast("double")
                / F.sqrt(F.col("nad") * F.col("nbd")),
                6,
            ).alias("cos_sim"),
        )
    )


@query(
    "quality_filter_ablation",
    category="L5-ablation",
    oracle="""
        WITH flags AS (
            SELECT n_chars BETWEEN 50 AND 5000 AS len_ok,
                   lang = 'en' AS lang_en,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                       BETWEEN 20 AND 200 AS toks_ok,
                   list_contains(string_split(text, ' '), 'the') AS has_stop
            FROM documents
        )
        SELECT len_ok, lang_en, toks_ok, has_stop,
               count(*) AS n_docs
        FROM flags
        GROUP BY len_ok, lang_en, toks_ok, has_stop
        ORDER BY len_ok, lang_en, toks_ok, has_stop
    """,
)
def quality_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ABLATION census: every document evaluated
    against each cleaning rule (length band, language, token-count
    band, stopword presence) in one pass, censused by the full flag
    combination — the observability view a pipeline owner reads
    before tightening thresholds ("rule X alone would drop 40%;
    X∧Y only 2% more"). Survivor count = the all-true cell.

    Scale: ONE scan, flags are row-local codegen, census is a 16-cell
    aggregate — the ablation over k filters costs the same as
    applying them once (no per-rule re-scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    flags = docs.select(
        F.col("n_chars").between(50, 5000).alias("len_ok"),
        (F.col("lang") == "en").alias("lang_en"),
        F.size(toks).between(20, 200).alias("toks_ok"),
        F.array_contains(F.split(F.col("text"), " "), "the").alias("has_stop"),
    )
    return (
        flags.groupBy("len_ok", "lang_en", "toks_ok", "has_stop")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "embedding_drift_by_label",
    category="L3-drift",
    oracle="""
        WITH comp AS (
            SELECT label, vec_id % 2 AS half, i AS dim,
                   count(*) AS n,
                   sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000
                                  + 0.5) AS BIGINT)) AS ss
            FROM embeddings, range(0, 64) t(i)
            GROUP BY label, half, dim
        )
        SELECT a.label,
               CAST(any_value(a.n) AS BIGINT) AS n_even,
               CAST(any_value(b.n) AS BIGINT) AS n_odd,
               round(sqrt(sum(pow(a.ss * 1.0 / a.n - b.ss * 1.0 / b.n, 2)))
                     / 1000000.0, 6) AS drift_l2
        FROM comp a JOIN comp b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half = 0 AND b.half = 1
        GROUP BY a.label
        ORDER BY a.label
    """,
)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DRIFT monitor: split each label's vectors into two
    deterministic halves (vec_id parity — in production: time
    windows), compute both centroids with exact micro-unit integer
    sums (the embedding_centroid_per_label construction), and report
    the L2 distance between them — the alarm that an encoder change
    or data shift moved a class's embedding distribution.

    Scale: one (label, half, dim) combinable aggregate (64 rows per
    vector), a (label, dim)-keyed self-join of the tiny centroid
    frame, and a per-label fold — no driver-side vectors anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("dim", "val"),
        )
        .groupBy("label", "half", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("val").cast("double") * 1000000 + 0.5).cast("long")
            ).alias("ss"),
        )
    )
    a = comp.filter(F.col("half") == 0).select(
        "label", "dim", F.col("n").alias("n_even"), F.col("ss").alias("ss_a")
    )
    b = comp.filter(F.col("half") == 1).select(
        "label", "dim", F.col("n").alias("n_odd"), F.col("ss").alias("ss_b")
    )
    d = F.col("ss_a") / F.col("n_even") - F.col("ss_b") / F.col("n_odd")
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.any_value("n_even").cast("long").alias("n_even"),
            F.any_value("n_odd").cast("long").alias("n_odd"),
            F.round(F.sqrt(F.sum(F.pow(d, 2))) / 1000000.0, 6).alias("drift_l2"),
        )
    )


@query(
    "token_kl_divergence_sources",
    category="L5-drift",
    oracle="""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE source IN ('src0', 'src1')
        ), vocab AS (
            SELECT DISTINCT tok FROM toks
        ), c AS (
            SELECT v.tok,
                   count(CASE WHEN t.source = 'src0' THEN 1 END) AS c0,
                   count(CASE WHEN t.source = 'src1' THEN 1 END) AS c1
            FROM vocab v LEFT JOIN toks t ON v.tok = t.tok
            GROUP BY v.tok
        ), tot AS (
            SELECT CAST(sum(c0) AS BIGINT) AS n0,
                   CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(count(*) AS BIGINT) AS v
            FROM c
        )
        SELECT any_value(n0) AS n_tokens_a,
               any_value(n1) AS n_tokens_b,
               any_value(v) AS vocab_size,
               round(sum(((c0 + 1.0) / (n0 + v))
                         * ln(((c0 + 1.0) / (n0 + v))
                              / ((c1 + 1.0) / (n1 + v)))), 6) AS kl_a_b
        FROM c CROSS JOIN tot
    """,
)
def token_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution KL divergence D(src0 ‖ src1) with add-one
    smoothing over the joint vocabulary — the text-drift twin of the
    embedding drift monitor ("did source B's language shift away from
    A"), and the statistic behind corpus-mixing sanity checks.

    Scale: token counts are one conditional aggregate keyed by token
    (the vocab LEFT JOIN in the oracle is expressed as a full-outer
    conditional count in Spark — same result, one shuffle); totals
    are a 1-row broadcast; the KL fold is a map-side-combinable sum.
    Smoothing guarantees no zero denominators on either side.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = toks.groupBy("tok").agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("c0"),
        F.count(F.when(F.col("source") == "src1", 1)).alias("c1"),
    )
    tot = c.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    p = (F.col("c0") + 1.0) / (F.col("n0") + F.col("v"))
    q_ = (F.col("c1") + 1.0) / (F.col("n1") + F.col("v"))
    return c.crossJoin(F.broadcast(tot)).agg(
        F.any_value("n0").alias("n_tokens_a"),
        F.any_value("n1").alias("n_tokens_b"),
        F.any_value("v").alias("vocab_size"),
        F.round(F.sum(p * F.log(p / q_)), 6).alias("kl_a_b"),
    )


@query(
    "incremental_dedup_vs_reference",
    category="L2-incremental",
    oracle=f"""
        WITH ref AS (
            SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 0
        ), newb AS (
            SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT id + 3000000, concat('dup prefix ', text)
            FROM ref WHERE id % 30 = 0
            UNION ALL
            SELECT id + 4000000, text FROM ref WHERE id % 60 = 0
        ), exact_dup AS (
            SELECT DISTINCT n.id
            FROM newb n JOIN (SELECT DISTINCT md5(text) AS h FROM ref) r
              ON md5(n.text) = r.h
        ), surv AS (
            SELECT * FROM newb WHERE id NOT IN (SELECT id FROM exact_dup)
        ), ntoks AS (
            SELECT id, list_filter(string_split_regex(lower(text),
                '{TOKEN_SPLIT}'), x -> x <> '') AS ws FROM surv
        ), rtoks AS (
            SELECT id, list_filter(string_split_regex(lower(text),
                '{TOKEN_SPLIT}'), x -> x <> '') AS ws FROM ref
        ), nsh AS (
            SELECT DISTINCT id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS shingle
            FROM ntoks, unnest(generate_series(1, len(ws) - 2)) AS g(i)
            WHERE len(ws) >= 3
        ), rsh AS (
            SELECT DISTINCT id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS shingle
            FROM rtoks, unnest(generate_series(1, len(ws) - 2)) AS g(i)
            WHERE len(ws) >= 3
        ), nmh AS (
            SELECT id, s.seed,
                   min(substr(md5(concat(s.seed, '|', shingle)), 1, 16)) AS h
            FROM nsh, (SELECT unnest(range({N_MINHASH})) AS seed) s
            GROUP BY id, s.seed
        ), rmh AS (
            SELECT id, s.seed,
                   min(substr(md5(concat(s.seed, '|', shingle)), 1, 16)) AS h
            FROM rsh, (SELECT unnest(range({N_MINHASH})) AS seed) s
            GROUP BY id, s.seed
        ), nbands AS (
            SELECT id, seed // 2 AS band,
                   concat(max(CASE WHEN seed % 2 = 0 THEN h END),
                          max(CASE WHEN seed % 2 = 1 THEN h END)) AS sig
            FROM nmh GROUP BY id, seed // 2
        ), rbands AS (
            SELECT id, seed // 2 AS band,
                   concat(max(CASE WHEN seed % 2 = 0 THEN h END),
                          max(CASE WHEN seed % 2 = 1 THEN h END)) AS sig
            FROM rmh GROUP BY id, seed // 2
        ), cand AS (
            SELECT DISTINCT nb.id AS nid, rb.id AS rid
            FROM nbands nb JOIN rbands rb
              ON nb.band = rb.band AND nb.sig = rb.sig
        ), nsets AS (
            SELECT id, list(DISTINCT shingle) AS sh FROM nsh GROUP BY id
        ), rsets AS (
            SELECT id, list(DISTINCT shingle) AS sh FROM rsh GROUP BY id
        ), near AS (
            SELECT DISTINCT c.nid
            FROM cand c
            JOIN nsets a ON c.nid = a.id
            JOIN rsets b ON c.rid = b.id
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                  / greatest(len(a.sh) + len(b.sh)
                             - len(list_intersect(a.sh, b.sh)), 1) >= 0.5
        )
        SELECT (SELECT count(*) FROM newb) AS n_new,
               (SELECT count(*) FROM exact_dup) AS n_exact_dup,
               (SELECT count(*) FROM near) AS n_near_dup,
               (SELECT count(*) FROM surv)
                   - (SELECT count(*) FROM near) AS n_kept
    """,
)
def incremental_dedup_vs_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production crawl mode: dedup a NEW
    batch against an existing REFERENCE corpus without ever pairing
    reference docs with each other. Exact phase: content-hash semi
    join (drops verbatim copies). Near phase: BIPARTITE MinHash-LSH —
    new-side bands join reference-side bands only, so candidate
    volume is (new ∩ ref bucket collisions), then exact Jaccard ≥ 0.5
    verification. Injected: verbatim copies (caught exact) and
    'dup prefix' variants (caught near) of reference docs.

    Scale: reference bands are computed ONCE and persisted in real
    pipelines (amortized across batches — only the new batch pays
    per-crawl); the bipartite join never grows with ref×ref. This is
    the composition of L1 + L2 the per-corpus capstone
    (neardup_dedup_end_to_end) doesn't cover: dedup ACROSS snapshots.
    """
    from ..operators.graph import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("id"), "text"
    )
    newb = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("id"), "text")
        .unionAll(
            ref.filter(F.col("id") % 30 == 0).select(
                (F.col("id") + 3000000).alias("id"),
                F.concat(F.lit("dup prefix "), F.col("text")).alias("text"),
            )
        )
        .unionAll(
            ref.filter(F.col("id") % 60 == 0).select(
                (F.col("id") + 4000000).alias("id"), "text"
            )
        )
    )
    newb = truncate_lineage(newb, 8)
    ref_hash = ref.select(F.md5(F.col("text").cast("binary")).alias("h")).distinct()
    hashed = newb.withColumn("h", F.md5(F.col("text").cast("binary")))
    exact_dup = hashed.join(ref_hash, "h", "left_semi").select("id")
    # persist (not checkpoint): 2 consumers, and the broadcast anti
    # join shape is plan-asserted — lineage above it is the newb
    # checkpoint, so the prints stay flat
    surv = hashed.join(ref_hash, "h", "left_anti").select("id", "text").persist()

    def shingle_sets(frame: DataFrame) -> DataFrame:
        toks = frame.select("id", tokens_col(F.col("text")).alias("ws")).filter(
            F.size("ws") >= 3
        )
        return toks.select(
            "id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("ws", i),
                        F.element_at("ws", i + 1),
                        F.element_at("ws", i + 2),
                    ),
                )
            ).alias("sh"),
        )

    def shingle_sets_ck(frame: DataFrame) -> DataFrame:
        return truncate_lineage(shingle_sets(frame), 8)

    def bands_of(sets: DataFrame) -> DataFrame:
        sh = sets.select("id", F.explode("sh").alias("shingle"))
        seeds = sets.sparkSession.range(N_MINHASH).select(
            F.col("id").alias("seed")
        )
        mh = (
            sh.crossJoin(F.broadcast(seeds))
            .groupBy("id", "seed")
            .agg(
                F.min(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("seed").cast("string"),
                                F.lit("|"),
                                F.col("shingle"),
                            ).cast("binary")
                        ),
                        1,
                        16,
                    )
                ).alias("h")
            )
        )
        return mh.groupBy(
            "id", (F.col("seed") / 2).cast("long").alias("band")
        ).agg(
            F.concat(
                F.max(F.when(F.col("seed") % 2 == 0, F.col("h"))),
                F.max(F.when(F.col("seed") % 2 == 1, F.col("h"))),
            ).alias("sig")
        )
    nsets = shingle_sets_ck(surv)
    rsets = shingle_sets_ck(ref)
    nb = bands_of(nsets).select(F.col("id").alias("nid"), "band", "sig")
    rb = bands_of(rsets).select(F.col("id").alias("rid"), "band", "sig")
    cand = nb.join(rb, ["band", "sig"]).select("nid", "rid").distinct()
    a = nsets.select(F.col("id").alias("nid"), F.col("sh").alias("sh1"))
    b = rsets.select(F.col("id").alias("rid"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    near = (
        cand.join(a, "nid")
        .join(b, "rid")
        .filter(inter / F.greatest(union, F.lit(1)) >= 0.5)
        .select("nid")
        .distinct()
    )
    n_new = newb.agg(F.count(F.lit(1)).alias("c"))
    n_exact = exact_dup.agg(F.count(F.lit(1)).alias("c"))
    n_near = near.agg(F.count(F.lit(1)).alias("c"))
    n_surv = surv.agg(F.count(F.lit(1)).alias("c"))
    return (
        n_new.select(F.col("c").cast("long").alias("n_new"))
        .crossJoin(
            n_exact.select(F.col("c").cast("long").alias("n_exact_dup"))
        )
        .crossJoin(n_near.select(F.col("c").cast("long").alias("n_near_dup")))
        .crossJoin(
            n_surv.select(F.col("c").cast("long").alias("_n_surv"))
        )
        .select(
            "n_new",
            "n_exact_dup",
            "n_near_dup",
            (F.col("_n_surv") - F.col("n_near_dup")).alias("n_kept"),
        )
    )


@query(
    "winnowing_fingerprint_pairs",
    category="L2-winnow",
    oracle="""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS id, 'dup prefix ' || text AS text
            FROM documents WHERE doc_id % 50 = 0
        ), grams AS (
            SELECT id,
                   list_transform(
                       generate_series(1, length(text) - 7),
                       i -> substr(md5('w|' || substr(text, CAST(i AS INT), 8)),
                                   1, 16)) AS hs
            FROM corpus
            WHERE length(text) >= 8
        ), fps AS (
            SELECT DISTINCT id,
                   unnest(list_transform(
                       generate_series(1, len(hs) - 3),
                       j -> list_aggregate(list_slice(hs, j, j + 3), 'min'))) AS fp
            FROM grams
            WHERE len(hs) >= 4
        ), blocked AS (
            SELECT fp FROM fps GROUP BY fp
            HAVING count(*) BETWEEN 2 AND 8
        ), pairs AS (
            SELECT a.id AS id1, b.id AS id2
            FROM fps a
            JOIN blocked USING (fp)
            JOIN fps b USING (fp)
            WHERE a.id < b.id
        )
        SELECT id1, id2, count(*) AS n_shared
        FROM pairs
        GROUP BY id1, id2
        HAVING count(*) >= 2
        ORDER BY n_shared DESC, id1, id2
        LIMIT 20
    """,
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer et al., SIGMOD'03): hash
    every character 8-gram, then keep the MINIMUM hash of each window
    of 4 consecutive gram hashes — the guarantee is that any shared
    substring of length ≥ 11 (= k + w − 1) yields at least one shared
    fingerprint, so excerpt/plagiarism overlap is detected from a
    fingerprint EQUI JOIN, never doc×doc comparison. Same injected
    near-dups as the MinHash chain ('dup prefix ' + every 50th doc);
    pairs sharing ≥ 2 fingerprints, strongest first.

    Cross-engine hashing: md5 hex PREFIX strings (the repo's L2
    convention) — lexicographic min over hex strings is engine-neutral
    where xxhash64 would be Spark-only. Window mins are array_min over
    slice(hs, j, 4): per-doc map work, no explode until the final
    distinct fingerprint set.

    Scale: O(n·L) map-side gram hashing, fingerprint density 2/(w+1)
    per char; the ONLY shuffle is the fingerprint groupBy + bucket
    join, and boilerplate buckets are df-capped (2..8 — same blocking
    discipline as containment_quote_pairs: a fingerprint shared by
    every doc is boilerplate, not plagiarism). Pair work is Σ(df²) ≤
    64·|buckets|, never corpus².
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.col("doc_id").alias("id"), "text").unionAll(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.concat(F.lit("dup prefix "), F.col("text")).alias("text"),
        )
    )
    grams = corpus.filter(F.length("text") >= 8).select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 7),
            lambda i: F.substring(
                F.md5(F.concat(F.lit("w|"), F.col("text").substr(i, F.lit(8))).cast("binary")),
                1, 16,
            ),
        ).alias("hs"),
    )
    fps = (
        grams.filter(F.size("hs") >= 4)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - 3),
                    lambda j: F.array_min(F.slice("hs", j, 4)),
                )
            ).alias("fp"),
        )
        .distinct()
        .persist()  # two consumers: df-blocking census + both join sides
    )
    blocked = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 8))
        .select("fp")
    )
    a = fps.join(blocked, "fp").select("fp", F.col("id").alias("id1"))
    b = fps.select("fp", F.col("id").alias("id2"))
    return (
        a.join(b, "fp")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .orderBy(F.col("n_shared").desc(), "id1", "id2")
        .limit(20)
    )


@query(
    "contamination_winnowing_bipartite",
    category="L5-contamination",
    oracle="""
        WITH bench AS (
            SELECT doc_id AS id, text FROM documents WHERE doc_id % 50 = 0
        ), train AS (
            SELECT doc_id AS id, text FROM documents WHERE doc_id % 50 <> 0
            UNION ALL
            SELECT doc_id + 2000000 AS id,
                   'leading padding ' || text || ' trailing padding' AS text
            FROM documents WHERE doc_id % 100 = 0
        ), bfp AS (
            SELECT DISTINCT id, unnest(list_transform(
                       generate_series(1, length(text) - 10),
                       j -> list_aggregate(
                                list_transform(generate_series(j, j + 3),
                                    i -> substr(md5('w|' || substr(text, CAST(i AS INT), 8)),
                                                1, 16)),
                                'min'))) AS fp
            FROM bench WHERE length(text) >= 11
        ), tfp AS (
            SELECT DISTINCT id, unnest(list_transform(
                       generate_series(1, length(text) - 10),
                       j -> list_aggregate(
                                list_transform(generate_series(j, j + 3),
                                    i -> substr(md5('w|' || substr(text, CAST(i AS INT), 8)),
                                                1, 16)),
                                'min'))) AS fp
            FROM train WHERE length(text) >= 11
        ), rare AS (
            SELECT fp FROM bfp GROUP BY fp HAVING count(*) <= 4
        ), hits AS (
            SELECT t.id AS train_id, b.id AS bench_id, count(*) AS n_shared
            FROM tfp t
            JOIN (SELECT bfp.id, bfp.fp FROM bfp JOIN rare USING (fp)) b
              USING (fp)
            GROUP BY t.id, b.id
            HAVING count(*) >= 3
        )
        SELECT train_id, bench_id, n_shared
        FROM hits
        ORDER BY n_shared DESC, train_id, bench_id
        LIMIT 20
    """,
)
def contamination_winnowing_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection via BIPARTITE winnowing — the
    production eval-decontamination mode: fingerprint the benchmark
    set (every 50th doc) and the training corpus (the rest, plus
    injected contaminated docs that embed a full benchmark text inside
    padding), then join train fingerprints against benchmark
    fingerprints ONLY — never train×train (the same bipartite
    discipline as incremental_dedup_vs_reference). Pairs sharing ≥ 3
    fingerprints are contamination candidates; the winnowing guarantee
    (k=8, w=4) means any shared run of ≥ 11 chars leaves a shared
    fingerprint, so embedded excerpts can't hide behind padding —
    exactly what n-gram-overlap misses when boundaries shift.

    Here the gram windows are built directly as min-over-4 of the
    md5-prefix gram hashes (one nested transform — identical list
    algebra on both engines); benchmark fingerprints with df > 4 are
    dropped as boilerplate (blocking bound: pair fan-out per
    fingerprint ≤ 4·|train dups|).

    Scale: the benchmark side is the small side by construction
    (eval sets are MBs, corpora are TBs) — its rare-fingerprint set
    broadcasts; train-side work is the linear fingerprint map + one
    bucket join keyed on fp. Nothing pairs inside the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("id"), "text"
    ).unionAll(
        docs.filter(F.col("doc_id") % 100 == 0).select(
            (F.col("doc_id") + 2000000).alias("id"),
            F.concat(
                F.lit("leading padding "), F.col("text"), F.lit(" trailing padding")
            ).alias("text"),
        )
    )
    fps = winnow_fps
    bfp = fps(bench).persist()  # small side: census + join
    rare = (
        bfp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 4)
        .select("fp")
    )
    b = bfp.join(rare, "fp").select("fp", F.col("id").alias("bench_id"))
    t = fps(train).select("fp", F.col("id").alias("train_id"))
    return (
        t.join(F.broadcast(b), "fp")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .orderBy(F.col("n_shared").desc(), "train_id", "bench_id")
        .limit(20)
    )


@query(
    "weighted_jaccard_pairs",
    category="L2-weighted",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS id, 'dup prefix ' || text AS text
            FROM documents WHERE doc_id % 50 = 0
        ), tok AS (
            SELECT id, t AS tok, count(*) AS c
            FROM corpus,
                 unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                                    x -> x <> '')) AS u(t)
            GROUP BY id, t
        ), totals AS (
            SELECT id, CAST(sum(c) AS BIGINT) AS s FROM tok GROUP BY id
        ), bg AS (
            SELECT DISTINCT id, t AS big
            FROM (
                SELECT id,
                       unnest(list_transform(
                           generate_series(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i + 1])) AS t
                FROM (
                    SELECT id,
                           list_filter(string_split_regex(lower(text),
                                                          '{TOKEN_SPLIT}'),
                                       x -> x <> '') AS ws
                    FROM corpus
                )
                WHERE len(ws) >= 2
            )
        ), rare AS (
            SELECT big FROM bg GROUP BY big
            HAVING count(*) BETWEEN 2 AND 8
        ), cand AS (
            SELECT DISTINCT a.id AS id1, b.id AS id2
            FROM bg a JOIN rare USING (big) JOIN bg b USING (big)
            WHERE a.id < b.id
        ), smin AS (
            SELECT c.id1, c.id2,
                   CAST(sum(least(ta.c, tb.c)) AS BIGINT) AS mn
            FROM cand c
            JOIN tok ta ON ta.id = c.id1
            JOIN tok tb ON tb.id = c.id2 AND tb.tok = ta.tok
            GROUP BY c.id1, c.id2
        )
        SELECT s.id1, s.id2,
               round(CAST(s.mn AS DOUBLE) / (t1.s + t2.s - s.mn), 6) AS jw
        FROM smin s
        JOIN totals t1 ON t1.id = s.id1
        JOIN totals t2 ON t2.id = s.id2
        WHERE CAST(s.mn AS DOUBLE) / (t1.s + t2.s - s.mn) >= 0.5
        ORDER BY jw DESC, id1, id2
        LIMIT 20
    """,
)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED (multiset) Jaccard near-dup pairs — the measure ICWS
    sketches estimate, computed exactly: J_w = Σ_t min(c_a,c_b) /
    Σ_t max(c_a,c_b), which scores repeated-token structure that set
    Jaccard flattens (a doc that repeats one line 50× vs once is
    identical under set semantics, very different here). Candidate
    pairs come from rare-token blocking (df ∈ [2,8] — the repo's
    containment/fuzzy discipline), and the denominator uses the
    identity Σmax = Σ_a + Σ_b − Σmin, so only the INNER join on
    shared tokens is ever computed — no full-outer token alignment.
    Same injected dups as the MinHash chain; pairs with J_w ≥ 0.5.

    Exactness: numerator and totals are exact BIGINTs; the single
    division rounds to 6 at the very end (oracle_conventions).

    Scale: token counts are one groupBy; blocking bounds pair fan-out
    per token at 8; the per-pair Σmin join is keyed on (doc, token)
    equi pairs. At ICWS-sketch scale the same blocking feeds the
    sketch instead of the exact join — this query is the ground-truth
    form and the sketch's future gate.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.col("doc_id").alias("id"), "text").unionAll(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.concat(F.lit("dup prefix "), F.col("text")).alias("text"),
        )
    )
    tok = (
        corpus.select("id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # consumers: totals, rare census, candidates, Σmin ×2
    )
    totals = tok.groupBy("id").agg(F.sum("c").cast("long").alias("s"))
    # blocking key: token BIGRAMS — the synthetic vocab is common
    # enough that unigram df rarely lands in [2,8], but consecutive
    # pairs are high-cardinality and a full-text dup shares them all
    ws = tokens_col(F.col("text"))
    bg = (
        corpus.select(F.col("id"), ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("ws", i), F.element_at("ws", i + 1)
                    ),
                )
            ).alias("big"),
        )
        .distinct()
        .persist()  # consumers: rarity census + both join sides
    )
    rare = (
        bg.groupBy("big")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 8))
        .select("big")
    )
    ra = bg.join(rare, "big").select("big", F.col("id").alias("id1"))
    rb = bg.select("big", F.col("id").alias("id2"))
    cand = (
        ra.join(rb, "big")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    ta = tok.select(F.col("id").alias("id1"), "tok", F.col("c").alias("ca"))
    tb = tok.select(F.col("id").alias("id2"), "tok", F.col("c").alias("cb"))
    smin = (
        cand.join(ta, "id1")
        .join(tb, ["id2", "tok"])
        .groupBy("id1", "id2")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("mn"))
    )
    t1 = totals.select(F.col("id").alias("id1"), F.col("s").alias("s1"))
    t2 = totals.select(F.col("id").alias("id2"), F.col("s").alias("s2"))
    jw = F.col("mn") / (F.col("s1") + F.col("s2") - F.col("mn"))
    return (
        smin.join(t1, "id1")
        .join(t2, "id2")
        .filter(jw >= 0.5)
        .select("id1", "id2", F.round(jw, 6).alias("jw"))
        .orderBy(F.col("jw").desc(), "id1", "id2")
        .limit(20)
    )


@query(
    "icws_weighted_minhash_gate",
    category="L2-weighted",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_id AS id1, doc_id + 1000000 AS id2,
                   text AS ta, 'dup prefix ' || text AS tb
            FROM documents WHERE doc_id % 50 = 0
        ), ca AS (
            SELECT id1, t AS tok, count(*) AS w
            FROM pairs,
                 unnest(list_filter(string_split_regex(lower(ta), '{TOKEN_SPLIT}'),
                                    x -> x <> '')) AS u(t)
            GROUP BY id1, t
        ), cb AS (
            SELECT id2, t AS tok, count(*) AS w
            FROM pairs,
                 unnest(list_filter(string_split_regex(lower(tb), '{TOKEN_SPLIT}'),
                                    x -> x <> '')) AS u(t)
            GROUP BY id2, t
        ), sa AS (SELECT id1, CAST(sum(w) AS BIGINT) AS s FROM ca GROUP BY id1),
        sb AS (SELECT id2, CAST(sum(w) AS BIGINT) AS s FROM cb GROUP BY id2),
        mn AS (
            SELECT p.id1, p.id2, CAST(sum(least(ca.w, cb.w)) AS BIGINT) AS m
            FROM pairs p
            JOIN ca ON ca.id1 = p.id1
            JOIN cb ON cb.id2 = p.id2 AND cb.tok = ca.tok
            GROUP BY p.id1, p.id2
        )
        SELECT mn.id1, mn.id2,
               round(CAST(mn.m AS DOUBLE) / (sa.s + sb.s - mn.m), 6) AS jw_exact,
               TRUE AS icws_ok
        FROM mn
        JOIN sa ON sa.id1 = mn.id1
        JOIN sb ON sb.id2 = mn.id2
        ORDER BY mn.id1
    """,
)
def icws_weighted_minhash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICWS weighted minhash (Ioffe 2010, "Improved Consistent
    Weighted Sampling") — the SKETCH whose expectation
    weighted_jaccard_pairs computes exactly: per (token, hash k) the
    scheme draws r,c ~ Gamma(2,1), β ~ U(0,1) (all md5-minted, so the
    sketch is deterministic and partitioning-invariant), takes
    t = ⌊ln w / r + β⌋ and keeps the token minimizing
    ln c − r(t−β) − r; P(sample_A = sample_B) = J_w exactly. The
    gate: for the 10 injected dup pairs, |matches/k − J_w_exact| must
    be ≤ 0.35 (k=16 → 4σ at the observed J_w ≈ 0.9 band), with
    J_w_exact hash-checked against the oracle. The estimator itself
    stays Spark-side only — ln/exp ULP drift across engines is the
    reason the CONTRACT is what's checked, per the repo's gate
    discipline.

    Scale: sketch cost is O(tokens·k) map work + one argmin window
    per (doc, k) — no pair work at all until sketches collide; the
    exact J_w here is gate ground truth on 10 pinned pairs, never a
    corpus-wide join.
    """
    from ..functions.sampling import md5_uniform

    K = 16
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    a = docs.select(F.col("doc_id").alias("id"), "text")
    b = docs.select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.concat(F.lit("dup prefix "), F.col("text")).alias("text"),
    )
    corpus = a.unionAll(b)
    tok = (
        corpus.select("id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .persist()  # consumers: sketch build + exact Σmin/totals
    )
    seeds = F.broadcast(spark.range(K).select(F.col("id").alias("k")))
    u = lambda salt: md5_uniform(  # noqa: E731
        f"concat('{salt}|', cast(k as string), '|', tok)"
    )
    # r, c ~ Gamma(2,1) = −ln(u1·u2); β ~ U(0,1)
    r = -(F.log(u("icwsr1") * u("icwsr2")))
    c = -(F.log(u("icwsc1") * u("icwsc2")))
    beta = u("icwsb")
    t = F.floor(F.log("w") / r + beta)
    ln_a = F.log(c) - r * (t - beta) - r
    drawn = tok.crossJoin(seeds).select(
        "id", "k", "tok", t.alias("t"), ln_a.alias("ln_a")
    )
    w_min = Window.partitionBy("id", "k").orderBy("ln_a", "tok")
    sketch = (
        drawn.withColumn("rn", F.row_number().over(w_min))
        .filter(F.col("rn") == 1)
        .select("id", "k", "tok", "t")
        .persist()
    )
    ska = sketch.select(
        F.col("id").alias("id1"), "k", F.col("tok").alias("ta"), F.col("t").alias("tta")
    )
    skb = sketch.select(
        (F.col("id") - 1000000).alias("id1"), "k",
        F.col("tok").alias("tb"), F.col("t").alias("ttb"),
    ).filter(F.col("id1") >= 0)
    est = (
        ska.join(skb, ["id1", "k"])
        .groupBy("id1")
        .agg(
            (
                F.sum(
                    ((F.col("ta") == F.col("tb")) & (F.col("tta") == F.col("ttb")))
                    .cast("long")
                ) / F.lit(K)
            ).alias("est")
        )
    )
    # exact weighted Jaccard on the pinned pairs
    ca = tok.filter(F.col("id") < 1000000).select(
        F.col("id").alias("id1"), "tok", F.col("w").alias("wa")
    )
    cb = tok.filter(F.col("id") >= 1000000).select(
        (F.col("id") - 1000000).alias("id1"), "tok", F.col("w").alias("wb")
    )
    sa = ca.groupBy("id1").agg(F.sum("wa").cast("long").alias("s1"))
    sb = cb.groupBy("id1").agg(F.sum("wb").cast("long").alias("s2"))
    mn = (
        ca.join(cb, ["id1", "tok"])
        .groupBy("id1")
        .agg(F.sum(F.least("wa", "wb")).cast("long").alias("m"))
    )
    jw = F.col("m") / (F.col("s1") + F.col("s2") - F.col("m"))
    return (
        mn.join(sa, "id1").join(sb, "id1").join(est, "id1")
        .select(
            "id1",
            (F.col("id1") + 1000000).alias("id2"),
            F.round(jw, 6).alias("jw_exact"),
            (F.abs(F.col("est") - jw) <= 0.35).alias("icws_ok"),
        )
    )


_SA_CACHE_VERSION = 2  # bump when the materialized schema changes


def _sa_cache_path(sf_dir: str) -> str:
    """Deterministic materialization path for the shared SA+LCP+BWT
    frame, keyed by a fingerprint of the INPUT (every file under
    ``documents.parquet``: path + size + mtime_ns) plus the schema
    version — a regenerated testdata dir, or a schema bump, misses
    the cache and rebuilds; identical inputs across processes (bench,
    driver sim, pytest) share one build. Lives under the repo's
    spark-warehouse (anchored to the package location, not the CWD —
    the driver runs from /tmp)."""
    import hashlib

    h = hashlib.sha256()
    h.update(f"sa-cache-v{_SA_CACHE_VERSION}".encode())
    droot = os.path.join(sf_dir, "documents.parquet")
    paths = [droot]
    if os.path.isdir(droot):
        paths = sorted(
            os.path.join(droot, p) for p in os.listdir(droot)
            if not p.startswith(("_", "."))
        )
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(
        repo_root, "spark-warehouse", "_sa_cache", h.hexdigest()[:16]
    )


def _suffix_array_lcp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared SA+LCP+BWT frame for the L2-suffixarray family,
    MATERIALIZED ONCE PER INPUT (VERDICT r8 #2): the construction
    (:func:`_build_suffix_array_lcp`) is an index build — five
    consumers (suffix_array_doubling_gate, exact-substring island
    merge, bwt_run_length_census, fm_index_backward_search,
    lcp_interval_tree_nodes, repeat_family_census, cross_group_lcs)
    each paid the full 20-28 s rebuild per call at sf0.01
    (`tools/bench_families.py` at commit `95c524d`, round 8). A production pipeline builds
    the suffix array once and serves every query from it; this
    mirrors that: build on miss, write to a fingerprint-keyed parquet
    path (:func:`_sa_cache_path`), and serve ALL calls — across
    processes — from the parquet read. The write is atomic
    (tmp dir + os.rename); a concurrent builder losing the rename
    race discards its copy and reads the winner's.

    Freshness: the path embeds size+mtime_ns of every input file, so
    staleness is impossible without mtime forgery; invalidation is
    automatic (a new fingerprint is a new path; stale entries are
    just dead directories). SCALE.md §24 records the policy.

    Returned columns: (sa_idx, doc_id, off, head12, head20, lcp_next,
    ok, bwt) — head20/bwt are derived during the build precisely so
    consumers don't re-join documents for fingerprints or BWT chars.
    """
    path = _sa_cache_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        built = _build_suffix_array_lcp(spark, sf_dir)
        tmp = f"{path}.tmp-{os.getpid()}"
        built.write.mode("overwrite").parquet(tmp)
        # provenance marker (underscore-prefixed: invisible to the
        # parquet reader) — records which input dir minted this entry
        # so `index --prune` can evict stale siblings of the SAME
        # input without touching other corpora's live entries
        import json

        with open(os.path.join(tmp, "_meta.json"), "w") as fh:
            json.dump(
                {
                    "sf_dir": os.path.abspath(sf_dir),
                    "version": _SA_CACHE_VERSION,
                },
                fh,
            )
        try:
            os.rename(tmp, path)
        except OSError:
            # Either we lost the build race (another process landed
            # the same fingerprint first — its content is identical by
            # construction, use it) or the rename genuinely failed
            # (ENOSPC/EACCES/EXDEV). Only the first is recoverable:
            # verify the winner actually exists before discarding ~25s
            # of build, else re-raise the real error (ADVICE r9 #3).
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                raise
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def sa_cache_prune(sf_dir: str) -> tuple[list[str], list[str]]:
    """Evict stale SA-cache entries for ``sf_dir`` (VERDICT r9 #7:
    the fingerprint-keyed cache never evicts on its own — a
    re-minted input is a new fingerprint, and the old entry becomes
    a dead directory that nothing ever deletes). Removes (a) every
    entry whose ``_meta.json`` records THIS input dir but whose
    fingerprint no longer matches the live one, and (b) any orphaned
    ``*.tmp-<pid>`` build directories (crashed builders). Entries
    minted from other input dirs — or legacy entries with no
    provenance marker — are left untouched: eviction only ever
    follows positive identification. Returns (kept, removed) entry
    basenames. At 100 TB this is the catalog-side snapshot-expiry
    job (SCALE.md §24)."""
    import json
    import shutil

    live = _sa_cache_path(sf_dir)
    root = os.path.dirname(live)
    target = os.path.abspath(sf_dir)
    kept: list[str] = []
    removed: list[str] = []
    if not os.path.isdir(root):
        return kept, removed
    for name in sorted(os.listdir(root)):
        entry = os.path.join(root, name)
        if not os.path.isdir(entry):
            continue
        if ".tmp-" in name:
            shutil.rmtree(entry, ignore_errors=True)
            removed.append(name)
            continue
        if entry == live:
            kept.append(name)
            continue
        meta_path = os.path.join(entry, "_meta.json")
        try:
            with open(meta_path) as fh:
                meta = json.load(fh)
        except (OSError, ValueError):
            kept.append(name)  # no/unreadable provenance: keep
            continue
        if meta.get("sf_dir") == target:
            shutil.rmtree(entry, ignore_errors=True)
            removed.append(name)
        else:
            kept.append(name)
    return kept, removed


def _build_suffix_array_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared suffix-array construction for the L2-suffixarray family:
    prefix-doubling ranks (see suffix_array_doubling_gate's docstring
    for the algorithm and scale argument), then a RANK-ONLY adjacent
    LCP (Kasai-class: derived from the doubling rank tables, no suffix
    string ever materialized) plus a bounded-prefix order certificate.
    Returns (sa_idx, doc_id, off, head12, lcp_next, ok),
    lineage-truncated.

    Rank-only LCP (the VERDICT r6 #3 upgrade): every doubling round's
    dense rank table is kept (rank_p[pos] = rank of the length-p
    padded prefix at pos, p = 1,2,4,...); LCP(a, b) is then the
    standard greedy binary descent —

        lcp = 0
        for p from largest to smallest:
            if rank_p[a + lcp] == rank_p[b + lcp]: lcp += p

    — each step ONE equi-join per side on (doc_id, off+lcp), never a
    string compare. Padding makes the raw sum overshoot only when the
    two suffix tails are fully equal, so the final
    least(lcp, suffix_len_a, suffix_len_b) cap is exact (ranks are
    corpus-global and two positions share a level-p rank iff their
    padded length-p windows are char-for-char identical). The descent
    runs over ALL adjacent pairs in O(n log max_len) join work — the
    same shape as construction — and levels are localCheckpointed
    blocks (3 longs/position/level), so keeping them is the classic
    store-log-levels-vs-recompute trade.

    The order check `ok` no longer carries suffix strings either: with
    lcp_next exact (hash-verified against the oracle's string-truth
    LCP), adjacent order is decided entirely by the first lcp_next+1
    characters, so the certificate compares
    substring(text, off, lcp_next+1) prefixes — a carry bounded by
    lrs_len+1 per row, not by document length. A mis-ordered pair
    either differs inside that window (prefix compare catches it) or
    the longer suffix was placed first (prefix-equal + length check
    catches it)."""
    from ..operators.graph import truncate_lineage
    from ..operators.ranking import exact_global_rank

    par = leaf_parallelism(spark)
    # ONE parquet scan for the whole frame: checkpoint (doc_id, text,
    # len) and derive chars / prefixes / lengths from the block cache.
    base = truncate_lineage(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", F.length("text").cast("long").alias("len")
        ),
        par,
    )
    chars = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("len"))).alias("off"),
        F.expr("ascii(substring(text, off, 1))").cast("long").alias("r"),
    ).select("doc_id", F.col("off").cast("long").alias("off"), "r")
    cur = truncate_lineage(chars, par)
    n = cur.count()  # bounded metadata scalar
    max_len = base.agg(F.max("len")).head()[0]

    levels = [(1, cur)]  # (prefix length covered, dense-rank frame)
    k = 1
    while k <= max_len:
        nxtr = cur.select(
            "doc_id", (F.col("off") - k).alias("off"), F.col("r").alias("rn")
        )
        j = (
            cur.join(nxtr, ["doc_id", "off"], "left")
            .select(
                "doc_id", "off", "r",
                F.coalesce("rn", F.lit(-1)).cast("long").alias("rn"),
            )
        )
        ranked = exact_global_rank(j, ["r", "rn"], rank_col="gr")
        dense = F.min("gr").over(Window.partitionBy("r", "rn"))
        cur = truncate_lineage(
            ranked.select("doc_id", "off", dense.cast("long").alias("r")),
            par,
        )
        levels.append((2 * k, cur))
        # convergence probe: one scalar per round (the CC contract).
        # Early exit is safe for the descent too: fully-distinct ranks
        # at coverage 2k mean every adjacent LCP < 2k, so no higher
        # level is ever needed.
        if cur.agg(F.count_distinct("r")).head()[0] == n:
            break
        k *= 2

    sa = truncate_lineage(
        exact_global_rank(cur, ["r", "doc_id", "off"], rank_col="sa_idx")
        .select("doc_id", "off", "sa_idx"),
        par,
    )
    nxt = sa.select(
        (F.col("sa_idx") - 1).alias("sa_idx"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("off").alias("off_b"),
    )
    pairs = truncate_lineage(
        sa.join(nxt, "sa_idx", "left").select(
            "sa_idx", "doc_id", "off", "doc_id_b", "off_b",
            F.lit(0).cast("long").alias("lcp"),
        ),
        par,
    )
    # greedy descent, largest window first; each level is two LEFT
    # equi-joins (a/b rank lookup at the shifted offset — NULL = past
    # doc end = no match) and a lineage truncation
    for plen, frame in sorted(levels, key=lambda t: -t[0]):
        ra = frame.select(
            F.col("doc_id").alias("ad"), F.col("off").alias("ao"),
            F.col("r").alias("ar"),
        )
        rb = frame.select(
            F.col("doc_id").alias("bd"), F.col("off").alias("bo"),
            F.col("r").alias("br"),
        )
        pairs = truncate_lineage(
            pairs.join(
                ra,
                (F.col("doc_id") == F.col("ad"))
                & (F.col("off") + F.col("lcp") == F.col("ao")),
                "left",
            )
            .join(
                rb,
                (F.col("doc_id_b") == F.col("bd"))
                & (F.col("off_b") + F.col("lcp") == F.col("bo")),
                "left",
            )
            .select(
                "sa_idx", "doc_id", "off", "doc_id_b", "off_b",
                (
                    F.col("lcp")
                    + F.when(
                        F.col("ar").isNotNull()
                        & (F.col("ar") == F.col("br")),
                        F.lit(plen),
                    ).otherwise(F.lit(0))
                ).cast("long").alias("lcp"),
            ),
            par,
        )
    # cap to suffix lengths (exact: padded-window equality overshoots
    # only when the tails are fully equal), then the bounded-prefix
    # order certificate + head12 sample
    da = base.select(
        F.col("doc_id").alias("ad"), F.col("text").alias("ta"),
        F.col("len").alias("la"),
    )
    db = base.select(
        F.col("doc_id").alias("bd"), F.col("text").alias("tb"),
        F.col("len").alias("lb"),
    )
    lcp_next = F.when(F.col("off_b").isNull(), F.lit(0)).otherwise(
        F.least(
            F.col("lcp"),
            F.col("la") - F.col("off") + 1,
            F.col("lb") - F.col("off_b") + 1,
        )
    )
    withlcp = (
        pairs.join(da, F.col("doc_id") == F.col("ad"))
        .join(db, F.col("doc_id_b") == F.col("bd"), "left")
        .select(
            "sa_idx", "doc_id", "off", "off_b", "ta", "tb",
            F.expr("substring(ta, off, 12)").alias("head12"),
            F.expr("substring(ta, off, 20)").alias("head20"),
            F.when(F.col("off") == 1, "$")
            .otherwise(F.expr("substring(ta, off - 1, 1)"))
            .alias("bwt"),
            lcp_next.cast("long").alias("lcp_next"),
            (F.col("la") - F.col("off") + 1).alias("rem_a"),
            (F.col("lb") - F.col("off_b") + 1).alias("rem_b"),
        )
    )
    pa = F.expr("substring(ta, off, lcp_next + 1)")
    pb = F.expr("substring(tb, off_b, lcp_next + 1)")
    out = withlcp.select(
        "sa_idx", "doc_id", "off", "head12", "head20", "lcp_next",
        (
            F.col("off_b").isNull()
            | (pa < pb)
            | ((pa == pb) & (F.col("rem_a") <= F.col("rem_b")))
        ).alias("ok"),
        "bwt",
    )
    return truncate_lineage(out, par)


# Every suffix of every document, oracle side: pos (doc_id, lang, off,
# suf) with suf the text from the 1-based offset off — the rows the
# suffix-array oracles sort.
_SUFFIXES_CTE = """pos AS (
            SELECT doc_id, lang, CAST(t.off AS BIGINT) AS off,
                   substring(text, CAST(t.off AS INTEGER)) AS suf
            FROM documents,
                 LATERAL unnest(generate_series(1, length(text)))
                     AS t(off)
        )"""


def _lcp_sql(a: str, b: str) -> str:
    """DuckDB BIGINT: the length of the longest common prefix of the
    strings ``a`` and ``b``, the position of their first differing
    character minus one. list_zip pads the shorter split with NULL,
    which counts as a difference, so a proper prefix yields its own
    length; equal strings differ nowhere and yield their length."""
    first_diff = (
        f"list_position(list_transform(list_zip(string_split({a}, ''),"
        f" string_split({b}, '')), p -> coalesce(p[1] = p[2], false)), false)"
    )
    return (
        f"CAST(coalesce(nullif({first_diff}, 0) - 1,"
        f" least(length({a}), length({b}))) AS BIGINT)"
    )


@query(
    "suffix_array_doubling_gate",
    category="L2-suffixarray",
    oracle=f"""
        WITH {_SUFFIXES_CTE}, sa AS (
            SELECT doc_id, off, suf,
                   CAST(row_number() OVER w AS BIGINT) AS sa_idx,
                   lead(suf) OVER w AS nsuf
            FROM pos
            WINDOW w AS (ORDER BY suf, doc_id, off)
        ), lcps AS (
            SELECT sa_idx, doc_id, off, suf,
                   CASE WHEN nsuf IS NULL THEN CAST(0 AS BIGINT)
                        ELSE {_lcp_sql("suf", "nsuf")} END AS lcp_next
            FROM sa
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_suffixes,
                   CAST(max(lcp_next) AS BIGINT) AS lrs_len,
                   CAST(sum(CASE WHEN lcp_next >= 20 THEN 1 ELSE 0 END)
                        AS BIGINT) AS dup20_pairs
            FROM lcps
        )
        SELECT l.sa_idx, l.doc_id, l.off,
               substring(l.suf, 1, 12) AS head12,
               l.lcp_next,
               s.n_suffixes, s.lrs_len, s.dup20_pairs,
               TRUE AS sorted_gate
        FROM lcps l CROSS JOIN stats s
        WHERE l.sa_idx % 97 = 1
        ORDER BY l.sa_idx
    """,
)
def suffix_array_doubling_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus SUFFIX ARRAY by distributed prefix doubling — the
    arbitrary-length exact-substring-duplication primitive (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better": exact substring dedup needs a suffix array, not n-gram
    hashes — n-grams answer only fixed-length questions). Every
    (doc, offset) suffix gets its global lexicographic rank; adjacent
    ranks' longest-common-prefix lengths then read off the longest
    repeated substring (lrs_len) and the count of adjacent pairs
    sharing a >=20-char repeat (dup20_pairs) — the census an exact
    dedup pass would cut at.

    Prefix doubling IS the scalable construction (the external-memory
    SA literature's choice): round k sorts (rank[i], rank[i+2^k]) and
    dense-ranks — ceil(log2(max_doc_len)) rounds, each ONE shuffle,
    no suffix string ever materialized during construction. The
    global sort per round uses operators/ranking.exact_global_rank
    (bucketed, never single-partition); rounds early-exit when ranks
    go fully distinct, and each round boundary is truncate_lineage'd
    (SCALE.md §17). Suffixes never cross documents (rank -1 past doc
    end = shorter-suffix-sorts-first), so ties across identical doc
    tails break by (doc_id, off) on both engines.

    Self-certifying gate (the matrix-profile-gate pattern): the
    emitted `sorted_gate` is Spark's own check that EVERY adjacent
    suffix pair in its SA is string-ordered (binary order; the corpus
    is ASCII so codepoint ranks agree) — hash-compared against the
    oracle's constant TRUE, while the oracle builds the SA by direct
    truncated-suffix sort. Since round 7 the LCP itself is RANK-ONLY
    (Kasai-class greedy descent over the kept doubling levels — see
    _suffix_array_lcp_frame) and the order certificate carries only
    substring(text, off, lcp+1) prefixes, bounded by lrs_len+1 per
    row: no column anywhere in the plan is wider than that bounded
    sample, closing the one scale residue the r6 verdict named. The
    oracle's string-truth LCP hash-checks the descent at every
    sampled row plus the full-corpus stats (lrs_len, dup20_pairs).

    Scale: construction state is 3 longs per position; rounds are
    log(max_doc_len), not log(corpus); every join is equi on
    (doc_id, off) or sa_idx. 100 TB corpus = the same 2-long sort key
    per round, sharded by the range-bucketed global rank.
    """
    pairs = _suffix_array_lcp_frame(spark, sf_dir)
    stats = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_suffixes"),
        F.max("lcp_next").cast("long").alias("lrs_len"),
        F.sum((F.col("lcp_next") >= 20).cast("long"))
        .cast("long")
        .alias("dup20_pairs"),
        F.bool_and("ok").alias("sorted_gate"),
    )
    return (
        pairs.filter(F.col("sa_idx") % 97 == 1)
        .crossJoin(F.broadcast(stats))
        .select(
            "sa_idx", "doc_id", "off", "head12",
            "lcp_next", "n_suffixes", "lrs_len", "dup20_pairs",
            "sorted_gate",
        )
    )


@query(
    "exact_substring_dup_coverage",
    category="L2-suffixarray",
    oracle=f"""
        WITH {_SUFFIXES_CTE}, sa AS (
            SELECT doc_id, off, suf,
                   lead(suf) OVER w AS nsuf
            FROM pos
            WINDOW w AS (ORDER BY suf, doc_id, off)
        ), lcps AS (
            SELECT doc_id, off, suf,
                   CASE WHEN nsuf IS NULL THEN CAST(0 AS BIGINT)
                        ELSE {_lcp_sql("suf", "nsuf")} END AS lcp_next
            FROM sa
        ), marked AS (
            -- max LCP of a suffix with ANY other suffix = max of the
            -- LCPs with its two SA-order neighbors (sorted-strings
            -- property); lcp_prev of row i = lcp_next of row i-1
            SELECT doc_id, off,
                   greatest(lcp_next,
                            coalesce(lag(lcp_next) OVER
                                (ORDER BY suf, doc_id, off), 0))
                       AS max_lcp
            FROM lcps
        ), starts AS (
            SELECT doc_id, off AS s, off + 20 AS e
            FROM marked WHERE max_lcp >= 20
        ), islands AS (
            SELECT doc_id, s, e,
                   CAST(sum(CASE WHEN s > coalesce(pme, -1)
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS island
            FROM (
                SELECT doc_id, s, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY s
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS pme
                FROM starts
            )
        ), spans AS (
            SELECT doc_id, island,
                   CAST(max(e) - min(s) AS BIGINT) AS span_len,
                   CAST(count(*) AS BIGINT) AS n_starts
            FROM islands GROUP BY doc_id, island
        ), per_doc AS (
            SELECT doc_id,
                   CAST(sum(span_len) AS BIGINT) AS dup_chars,
                   CAST(sum(n_starts) AS BIGINT) AS n_dup_starts,
                   CAST(count(*) AS BIGINT) AS n_spans
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS doc_len,
               coalesce(p.n_dup_starts, 0) AS n_dup_starts,
               coalesce(p.n_spans, 0) AS n_spans,
               coalesce(p.dup_chars, 0) AS dup_chars,
               -- nullif: a zero-length doc must be NULL on both
               -- engines (DuckDB float x/0 is inf, Spark is NULL)
               CAST(round(coalesce(p.dup_chars, 0) * 1.0
                          / nullif(length(d.text), 0), 6) AS DOUBLE)
                   AS dup_ratio
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        ORDER BY dup_ratio DESC, d.doc_id
    """,
)
def exact_substring_dup_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring duplication coverage per document — the
    end-to-end census an exact substring dedup pass (Lee et al. 2022)
    would CUT: a position starts a duplicated 20-gram iff its
    suffix's longest common prefix with any OTHER suffix is >= 20,
    and for sorted suffixes that max-LCP is achieved by one of the
    two SA-order neighbors, so one lead/lag over the shared suffix
    array decides every position. Covered characters are the UNION
    of the [off, off+20) intervals — merged per document with the
    islands pattern (running max-end, new island when a start clears
    it) — yielding per-doc duplicated-char counts and the dup_ratio a
    dedup policy would threshold on.

    Everything is integer (offsets, LCPs, island sums); only the
    final ratio divides, rounded to 6. Reuses the prefix-doubling
    suffix array + LCP frame (_suffix_array_lcp_frame — construction
    and scale argument in suffix_array_doubling_gate's docstring);
    lcp_prev comes from an equi self-join on sa_idx-1, never a
    global window. The island merge is per-doc windows — partitioned,
    bounded, shuffle-once.
    """
    from ..operators.graph import truncate_lineage

    par = leaf_parallelism(spark)
    pairs = _suffix_array_lcp_frame(spark, sf_dir)
    prev = pairs.select(
        (F.col("sa_idx") + 1).alias("sa_idx"),
        F.col("lcp_next").alias("lcp_prev"),
    )
    marked = truncate_lineage(
        pairs.join(prev, "sa_idx", "left").select(
            "doc_id", "off",
            F.greatest(
                "lcp_next", F.coalesce("lcp_prev", F.lit(0))
            ).alias("max_lcp"),
        ),
        par,
    )
    starts = marked.filter(F.col("max_lcp") >= 20).select(
        "doc_id", F.col("off").alias("s"), (F.col("off") + 20).alias("e")
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    pme = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = starts.select(
        "doc_id", "s", "e",
        F.sum(
            F.when(F.col("s") > F.coalesce(pme, F.lit(-1)), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("island"),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        (F.max("e") - F.min("s")).cast("long").alias("span_len"),
        F.count(F.lit(1)).cast("long").alias("n_starts"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_len").cast("long").alias("dup_chars"),
        F.sum("n_starts").cast("long").alias("n_dup_starts"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("doc_len")
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "doc_len",
            F.coalesce("n_dup_starts", F.lit(0)).cast("long").alias(
                "n_dup_starts"
            ),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias(
                "dup_chars"
            ),
            F.round(
                F.coalesce("dup_chars", F.lit(0))
                / F.nullif(F.col("doc_len"), F.lit(0)),
                6,
            ).alias("dup_ratio"),
        )
    )


@query(
    "bwt_run_length_census",
    category="L2-suffixarray",
    oracle="""
        WITH pos AS (
            SELECT doc_id, CAST(t.off AS BIGINT) AS off,
                   substring(text, CAST(t.off AS INTEGER)) AS suf,
                   CASE WHEN t.off = 1 THEN '$'
                        ELSE substring(text, CAST(t.off AS INTEGER) - 1,
                                       1) END AS bwt
            FROM documents,
                 LATERAL unnest(generate_series(1, length(text)))
                     AS t(off)
        ), sa AS (
            SELECT bwt,
                   lag(bwt) OVER (ORDER BY suf, doc_id, off) AS pbwt
            FROM pos
        ), marked AS (
            SELECT bwt,
                   CASE WHEN pbwt IS NULL OR pbwt != bwt
                        THEN 1 ELSE 0 END AS is_start
            FROM sa
        ), perchar AS (
            SELECT bwt AS bwt_char,
                   CAST(count(*) AS BIGINT) AS n_occ,
                   CAST(sum(is_start) AS BIGINT) AS n_runs
            FROM marked GROUP BY bwt
        ), tot AS (
            SELECT CAST(sum(n_occ) AS BIGINT) AS n_total,
                   CAST(sum(n_runs) AS BIGINT) AS r_total
            FROM perchar
        )
        SELECT p.bwt_char, p.n_occ, p.n_runs,
               t.n_total, t.r_total,
               CAST(round(t.r_total * 1.0 / t.n_total, 6) AS DOUBLE)
                   AS r_over_n
        FROM perchar p CROSS JOIN tot t
        ORDER BY p.bwt_char
    """,
)
def bwt_run_length_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS-WHEELER TRANSFORM run-length census over the corpus
    suffix array — the compressed-indexing health metric: BWT[i] is
    the character PRECEDING the i-th smallest suffix ('$' at document
    starts), and because the BWT groups characters by following
    context, its number of equal-character runs r is the fundamental
    compressibility measure of the corpus (FM-index/r-index space is
    O(r), not O(n); r/n ≪ 1 means highly repetitive text — the same
    signal the dup-coverage census reads, from the compression side).
    Emits per-character occurrence and run counts plus the global
    r/n ratio; Σ n_runs over characters is EXACTLY the total run
    count because runs are maximal same-character blocks.

    Scale: the BWT column is one doc_id equi-join against the shared
    rank-only suffix-array frame (substring(text, off−1, 1) — a
    1-char carry); run starts come from ONE equi self-join on
    sa_idx+1 (the established adjacent-pair pattern — never a global
    window); the census is a groupBy over the bounded alphabet.
    All-integer output except the final rounded ratio.
    """
    pairs = _suffix_array_lcp_frame(spark, sf_dir)
    # the BWT column is materialized in the shared SA cache — no
    # documents re-join, no per-call checkpoint (lineage is one
    # column-pruned parquet scan of the cache)
    bwtf = pairs.select("sa_idx", "bwt")
    prev = bwtf.select(
        (F.col("sa_idx") + 1).alias("sa_idx"),
        F.col("bwt").alias("pbwt"),
    )
    marked = bwtf.join(prev, "sa_idx", "left").select(
        "bwt",
        F.when(
            F.col("pbwt").isNull() | (F.col("pbwt") != F.col("bwt")), 1
        ).otherwise(0).alias("is_start"),
    )
    perchar = marked.groupBy(F.col("bwt").alias("bwt_char")).agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.sum("is_start").cast("long").alias("n_runs"),
    )
    # perchar re-derives from ONE column-pruned scan of the SA cache
    # (pre-materialization this was a checkpoint to avoid re-running
    # the whole SA pipeline for the totals cross join)
    tot = perchar.agg(
        F.sum("n_occ").cast("long").alias("n_total"),
        F.sum("n_runs").cast("long").alias("r_total"),
    )
    return (
        perchar.crossJoin(F.broadcast(tot))
        .select(
            "bwt_char", "n_occ", "n_runs", "n_total", "r_total",
            F.round(F.col("r_total") / F.col("n_total"), 6).alias(
                "r_over_n"
            ),
        )
    )


_OCC_BLOCK = 4096  # FM-index Occ rank-checkpoint block size


def _fm_occ_structures(
    spark: SparkSession,
    bwt_frame: DataFrame,
    par: int,
    n_total: int | None = None,
) -> DataFrame:
    """Blocked Occ rank support for the FM-index, as ONE dense
    per-(char, block) checkpoint frame: ``occ_start`` = the char's
    global rank just BEFORE the block (forward-filled over empty
    blocks, 0 when the char has not occurred yet) and ``parr`` = the
    sorted in-block position list (<= _OCC_BLOCK entries, empty for
    blocks without the char). Occ(c, pos) = occ_start +
    |{p in parr : p <= pos}| — a single EQUI lookup per probe.

    Until round 10 this was TWO frames (per-position ranks + a dense
    block summary) and every backward-search round re-joined the full
    position frame (O(corpus) rows scanned per round, ~7 jobs/round
    measured: fm_index 14.8 s warm at sf0.01). Folding the in-block
    positions into the dense grid makes the per-round probe touch
    |alphabet| x n/B grid rows only — the grid frame IS the classical
    rank-checkpoint structure, O(n) total array elements, built once
    and checkpointed (guide §2.4: the repeated per-round scan was the
    removable exchange).

    ``n_total`` is the UNFILTERED sequence length (the full augmented
    BWT, not just the rows present in ``bwt_frame``): probe positions
    range over the whole sequence, so the grid must cover every block
    up to floor((n_total-1)/B) even when the (possibly pattern-char-
    filtered) ``bwt_frame`` has no occurrence that far out (ADVICE
    r9 #1 regression, pinned by test_fm_occ_grid_covers_full_sequence).
    When ``n_total`` is omitted the grid falls back to max(block) of
    ``bwt_frame`` — only safe if the frame is unfiltered."""
    from ..operators.graph import truncate_lineage

    # ONE block-level aggregation replaces the r10 per-POSITION
    # row_number window (guide §1.2/§2.3): the per-char rank before a
    # block is just the cumulative count of the char's positions in
    # prior blocks, so a groupBy (bwt, block) count + a block-level
    # running sum computes occ_start without ever sorting the O(n)
    # position rows per char — the window that formerly dominated the
    # grid build (a full per-char sort pass of the corpus at scale).
    blocked = bwt_frame.select(
        "pos",
        "bwt",
        F.floor((F.col("pos") - 1) / F.lit(_OCC_BLOCK))
        .cast("long")
        .alias("block"),
    )
    bsum = blocked.groupBy("bwt", "block").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_block"),
        F.sort_array(F.collect_list("pos")).alias("parr"),
    )
    if n_total is not None:
        max_block = (int(n_total) - 1) // _OCC_BLOCK if n_total > 0 else 0
    else:
        max_block = bsum.agg(F.max("block")).head()[0] or 0  # bounded scalar
    grid = bsum.select("bwt").distinct().select(
        "bwt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(int(max_block)))
        ).alias("block"),
    )
    # forward-fill over the dense grid: sum of prior blocks' counts
    # (missing blocks contribute nothing — sum skips their NULLs);
    # the in-block sorted position list is bounded by B by construction
    prior = Window.partitionBy("bwt").orderBy("block").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return truncate_lineage(
        grid.join(bsum, ["bwt", "block"], "left").select(
            "bwt",
            "block",
            F.coalesce(F.sum("n_in_block").over(prior), F.lit(0))
            .cast("long").alias("occ_start"),
            F.coalesce("parr", F.array().cast("array<long>")).alias("parr"),
        ),
        par,
    )


def _fm_occ_lookup(
    grid: DataFrame, probes: list[tuple[str, str, int, str]]
) -> dict[tuple[str, str], int]:
    """Occ(c, pos) for a bounded probe list (pat, c, pos, which)
    against the blocked rank checkpoint — the production FM-index
    rank lookup: ONE filtered scan of the checkpointed grid (the
    (char, block) disjunction is a literal predicate over the <= |probes|
    touched blocks), then the in-block <= count is a binary search
    over each row's sorted <= _OCC_BLOCK-element position array,
    driver-side. Per backward round this is a single one-stage job
    collecting <= |probes| grid rows (bounded metadata: pattern count
    x B positions, independent of corpus size) — the pre-r10 form ran
    a broadcast equi-join per round, whose broadcast-build +
    join-stage scheduling dominated the bounded rounds (guide §1.2:
    per-task work was fine, the per-round JOB count was the cost).
    Returns {(pat, which): Occ}; probes whose (char, block) has no
    grid row (char absent from the structure) are simply missing —
    callers treat missing as Occ = 0, mirroring the join form."""
    import bisect

    want = {}
    for pat, c, pos, which in probes:
        pblock = (int(pos) - 1) // _OCC_BLOCK
        want.setdefault((c, pblock), []).append((pat, int(pos), which))
    if not want:
        return {}
    cond = None
    for c, blk in sorted(want):
        term = (F.col("bwt") == c) & (F.col("block") == blk)
        cond = term if cond is None else (cond | term)
    out: dict[tuple[str, str], int] = {}
    for row in grid.filter(cond).collect():
        for pat, pos, which in want.get((row["bwt"], row["block"]), ()):
            out[(pat, which)] = int(row["occ_start"]) + bisect.bisect_right(
                row["parr"], pos
            )
    return out


@query(
    "fm_index_backward_search",
    category="L2-suffixarray",
    oracle="""
        WITH pats AS (
            SELECT * FROM (VALUES
                ('a'), ('data'), ('stream'), ('merge part'),
                ('batch batch'), ('event')
            ) AS p(pattern)
        ), hits AS (
            SELECT p.pattern,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs
            FROM pats p
            JOIN documents d ON length(d.text) >= length(p.pattern),
                 LATERAL unnest(generate_series(
                     1, length(d.text) - length(p.pattern) + 1))
                     AS t(off)
            WHERE substring(d.text, CAST(t.off AS INTEGER),
                            length(p.pattern)) = p.pattern
            GROUP BY p.pattern
        )
        SELECT p.pattern,
               CAST(length(p.pattern) AS BIGINT) AS m,
               CAST(coalesce(h.n_occurrences, 0) AS BIGINT)
                   AS n_occurrences,
               CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_docs
        FROM pats p LEFT JOIN hits h USING (pattern)
        ORDER BY p.pattern
    """,
)
def fm_index_backward_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FM-INDEX rank/select over the landed BWT — the capstone
    certifying bwt_run_length_census is more than a statistic: count
    (and locate the documents of) each probe pattern using ONLY the
    C table and Occ rank queries on the BWT, never touching the
    text. Classic Ferragina-Manzini backward search over the
    generalized (multi-document) suffix array: for pattern
    p_1..p_m, start from the SA interval of p_m (from C + first-char
    counts) and extend left one character per round via

        sp' = C[c] + Occ(c, sp - 1) + 1      ep' = C[c] + Occ(c, ep)

    — correct here because the LF property holds for this SA's
    (suffix, doc_id, off) order: equal-suffix ties shift monotonely
    under off -> off-1, so the i-th c in BWT order IS the i-th
    suffix starting with c. The final interval [sp, ep] is then
    LOCATED: its SA rows join back to doc_ids for the distinct-doc
    count. The oracle knows nothing of BWTs — it counts pattern
    occurrences by direct substring scan — so the hash equality
    proves count(P) == ep - sp + 1 for every probe, including the
    empty-interval miss ('event') and the overlap-prone repeats
    ('batch batch' counts overlapping occurrences, which the
    position scan and the SA interval both include).

    Rank (Occ) structure — BLOCKED, the classical FM-index rank
    checkpointing (VERDICT r8 #3, consolidated round 10): one KEYED
    window (partitionBy bwt char) numbers each BWT cell among its own
    character, positions are blocked by ``pos div B``
    (B = _OCC_BLOCK), and ONE dense per-(char, block) checkpoint
    carries ``occ_start`` (the rank before the block, forward-filled
    over empty blocks) plus the sorted in-block position list.
    Occ(c, i) = occ_start + |{p in block : p <= i}| — a SINGLE equi
    join on (char, block) per probe round (plan-asserted: see
    _fm_occ_probe), so each of the <= max(m)-1 backward rounds
    touches |alphabet| x n/B grid rows, never the O(n) position
    frame (the pre-r10 form re-scanned the full per-position rank
    frame every round — fm_index 14.8 s warm at sf0.01, ~7
    jobs/round); collected back as bounded metadata (the driver
    walks what the production FM-index would answer from its rank
    checkpoints; rounds are bounded by pattern length, not corpus
    size). The locate step is ONE range join of the <= |patterns|
    final intervals (broadcast) against the SA frame.

    Scale: the SA/BWT frames are the shared materialized construction
    (SCALE.md \u00a719/\u00a724); per-round work is two broadcast
    equi-joins against checkpointed blocks — no shuffle, no global
    window, probe cost independent of corpus size; alphabet census
    and C are bounded-metadata collects over ~30 characters.
    """
    from ..operators.graph import truncate_lineage

    par = leaf_parallelism(spark)
    patterns = [
        "a", "data", "stream", "merge part", "batch batch", "event",
    ]
    from ..operators.ranking import exact_global_rank

    pairs = _suffix_array_lcp_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # The SA holds only NON-empty suffixes, so the raw per-position
    # BWT misses each document's LAST character (classically carried
    # by the empty-'$'-suffix row). Augment: D empty-suffix rows (one
    # per doc, BWT = the doc's last char) occupy positions 1..D —
    # every '$'-terminated empty suffix sorts before any real suffix,
    # tie-ordered by doc_id exactly as the LF shift requires — and
    # the real SA shifts to positions D+1..D+n. Without these rows
    # Occ undercounts and every multi-char interval shrinks (caught
    # by the oracle on first run).
    n_docs_total = docs.count()  # bounded metadata scalar (D)
    empties = exact_global_rank(
        docs.select(
            "doc_id",
            F.expr("substring(text, length(text), 1)").alias("bwt"),
        ),
        ["doc_id"],
        rank_col="pos",
    ).select("pos", "bwt")
    # sa_idx is 1-based, so the augmented position is D + sa_idx;
    # the BWT char rides the materialized SA cache — no documents join
    mains = pairs.select(
        (F.col("sa_idx") + F.lit(n_docs_total)).alias("pos"),
        "bwt",
    )
    # per-char occurrence rank (Occ support): keyed window, then
    # blocked rank checkpoints (the dense forward-filled summary),
    # restricted to the PATTERN ALPHABET — Occ is only ever probed at
    # characters that appear in some pattern, so the per-round scan
    # is the pattern chars' positions, not the whole BWT
    pattern_chars = sorted({c for p in patterns for c in p})
    # n_total = D empty-suffix rows + every real suffix: the grid must
    # span the FULL augmented sequence, not just pattern-char
    # positions (metadata-only parquet count — see _fm_occ_structures)
    n_total = n_docs_total + pairs.count()
    occ_grid = _fm_occ_structures(
        spark,
        empties.unionByName(mains).filter(
            F.col("bwt").isin(pattern_chars)
        ),
        par,
        n_total=n_total,
    )
    # bounded-metadata collects: first-char census -> C table
    firsts = {
        r["c"]: r["n"]
        for r in pairs.select(
            F.substring("head12", 1, 1).alias("c")
        )
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    C = {}
    acc = n_docs_total  # the D empty-'$' suffixes precede everything
    for c in sorted(firsts):
        C[c] = acc
        acc += firsts[c]

    # backward search, driver-side walk over bounded Occ probes
    state = {}
    for pat in patterns:
        c = pat[-1]
        if c in C:
            state[pat] = (C[c] + 1, C[c] + firsts[c])
        else:
            state[pat] = (1, 0)  # empty interval
    max_m = max(len(p) for p in patterns)
    for step in range(2, max_m + 1):
        probes = []  # (pat, char, pos, which)
        for pat in patterns:
            if len(pat) < step:
                continue
            sp, ep = state[pat]
            if ep < sp:
                continue
            c = pat[-step]
            if c not in C:
                state[pat] = (1, 0)
                continue
            if sp - 1 >= 1:
                probes.append((pat, c, sp - 1, "s"))
            probes.append((pat, c, ep, "e"))
        occ_at = _fm_occ_lookup(occ_grid, probes) if probes else {}
        for pat in patterns:
            if len(pat) < step:
                continue
            sp, ep = state[pat]
            if ep < sp:
                continue
            c = pat[-step]
            occ_s = occ_at.get((pat, "s"), 0)
            occ_e = occ_at.get((pat, "e"), 0)
            state[pat] = (C[c] + occ_s + 1, C[c] + occ_e)

    # locate: final intervals -> distinct docs (one broadcast range join)
    ivals = spark.createDataFrame(
        [
            (pat, len(pat), sp, ep, max(0, ep - sp + 1))
            for pat, (sp, ep) in state.items()
        ],
        "pattern string, m long, sp long, ep long, n_occurrences long",
    )
    located = (
        pairs.select("sa_idx", "doc_id")
        .join(
            F.broadcast(ivals.filter(F.col("ep") >= F.col("sp"))),
            (F.col("sa_idx") + F.lit(n_docs_total) >= F.col("sp"))
            & (F.col("sa_idx") + F.lit(n_docs_total) <= F.col("ep")),
        )
        .groupBy("pattern")
        .agg(F.count_distinct("doc_id").cast("long").alias("nd"))
    )
    return (
        ivals.join(located, "pattern", "left")
        .select(
            "pattern", "m", "n_occurrences",
            F.coalesce("nd", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


@query(
    "lcp_interval_tree_nodes",
    category="L2-suffixarray",
    oracle=f"""
        WITH {_SUFFIXES_CTE}, sa AS (
            SELECT suf,
                   row_number() OVER (ORDER BY suf, doc_id, off) AS s,
                   lead(suf) OVER (ORDER BY suf, doc_id, off) AS nsuf
            FROM pos
        ), lcps AS (
            SELECT s, suf,
                   CASE WHEN nsuf IS NULL THEN 0
                        ELSE {_lcp_sql("suf", "nsuf")} END AS lcp
            FROM sa
        ), el AS (
            SELECT s, lcp FROM lcps WHERE lcp >= 12
        ), depths AS (
            SELECT DISTINCT lcp AS d FROM el
        ), lv AS (
            SELECT d.d, e.s, e.lcp,
                   e.s - row_number() OVER (PARTITION BY d.d
                                            ORDER BY e.s) AS grp
            FROM el e JOIN depths d ON d.d <= e.lcp
        ), nodes AS (
            SELECT d AS depth,
                   CAST(min(s) AS BIGINT) AS sa_start,
                   CAST(max(s) - min(s) + 2 AS BIGINT) AS n_occ
            FROM lv GROUP BY d, grp
            HAVING min(lcp) = d
        )
        SELECT CAST(n.depth AS BIGINT) AS depth, n.sa_start, n.n_occ,
               substring(f.suf, 1,
                         CAST(least(12, n.depth) AS INTEGER)) AS fp12
        FROM nodes n JOIN lcps f ON f.s = n.sa_start
        ORDER BY n.n_occ DESC, n.depth DESC, n.sa_start
        LIMIT 25
    """,
)
def lcp_interval_tree_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-DEPTH LCP-INTERVAL TREE enumeration — the suffix-tree
    internal nodes (maximal repeats with their TRUE depths) from the
    enhanced suffix array, generalizing repeat_family_census beyond
    its fixed k=20 cut (Abouelhoda-Kurtz-Ohlebusch, "Replacing suffix
    trees with enhanced suffix arrays", JDA 2004). An l-interval
    [i..j] is a node iff every adjacent-pair LCP inside is >= l, the
    MINIMUM inside equals l, and the LCPs at both fences are < l.

    Distributed form (no sequential stack, no ANSV scan): every node
    of depth l contains a WITNESS entry with lcp = l, so enumerating
    per candidate depth l the maximal runs of {s : lcp[s] >= l} (the
    gaps-and-islands grp = s - row_number trick, window partitioned
    BY DEPTH — a keyed window, never global) and keeping runs whose
    min == l yields each node EXACTLY once: a run at level l with
    min d > l is the same interval the level-d pass emits (positions
    with lcp >= d inside it coincide, and its fences break both
    levels), so the min == l filter is a perfect dedup, not a
    heuristic.

    Scale: the expansion joins eligible entries (lcp >= 12 — bounded
    by repeated-content volume, 86k of 153k entries at sf0.001) to
    the candidate-depth dimension (distinct lcp values, <= max_lcp
    rows, broadcast) at one row per (entry, depth <= lcp) — the
    documented witness-level expansion, SUM(lcp - 11) rows (~1.8M at
    sf0.001), one shuffle + one keyed-window pass + one groupBy. The
    sequential-stack form is O(n) but single-threaded per run; this
    trades bounded fan-out for full parallelism (the levels are
    independent). Output: top-25 nodes under a total order, with the
    repeat's first min(12, depth) chars as fingerprint.

    Variant-of: ``repeat_family_census`` is the fixed-k (k=20)
    projection of this enumeration.
    """
    from ..operators.graph import truncate_lineage

    par = leaf_parallelism(spark)
    pairs = _suffix_array_lcp_frame(spark, sf_dir)
    el = truncate_lineage(
        pairs.select(
            F.col("sa_idx").alias("s"),
            F.col("lcp_next").alias("lcp"),
        ).filter(F.col("lcp") >= 12),
        par,
    )
    depths = el.select(F.col("lcp").alias("d")).distinct()
    lv = el.join(F.broadcast(depths), F.col("d") <= F.col("lcp")).select(
        "d", "s", "lcp",
        (
            F.col("s")
            - F.row_number().over(Window.partitionBy("d").orderBy("s"))
        ).alias("grp"),
    )
    nodes = (
        lv.groupBy("d", "grp")
        .agg(
            F.min("s").cast("long").alias("sa_start"),
            (F.max("s") - F.min("s") + 2).cast("long").alias("n_occ"),
            F.min("lcp").alias("mind"),
        )
        .filter(F.col("mind") == F.col("d"))
        .select(F.col("d").cast("long").alias("depth"), "sa_start", "n_occ")
    )
    fp = pairs.select(F.col("sa_idx").alias("sa_start"), "head12")
    return (
        nodes.join(fp, "sa_start")
        .select(
            "depth", "sa_start", "n_occ",
            F.expr("substring(head12, 1, least(12, depth))").alias("fp12"),
        )
        .orderBy(F.col("n_occ").desc(), F.col("depth").desc(), "sa_start")
        .limit(25)
    )


@query(
    "repeat_family_census",
    category="L2-suffixarray",
    variant_of="lcp_interval_tree_nodes",
    oracle=f"""
        WITH {_SUFFIXES_CTE}, eligible AS (
            SELECT doc_id, off, suf,
                   substring(suf, 1, 20) AS fingerprint20
            FROM pos WHERE length(suf) >= 20
        ), adj AS (
            SELECT fingerprint20, doc_id, suf,
                   lead(suf) OVER (PARTITION BY fingerprint20
                                   ORDER BY suf, doc_id, off) AS nsuf
            FROM eligible
        ), lcps AS (
            SELECT fingerprint20, doc_id,
                   CASE WHEN nsuf IS NULL THEN NULL
                        ELSE {_lcp_sql("suf", "nsuf")} END AS lcp_in
            FROM adj
        ), fams AS (
            SELECT fingerprint20,
                   CAST(count(*) AS BIGINT) AS n_occ,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(min(lcp_in) AS BIGINT) AS depth
            FROM lcps GROUP BY fingerprint20 HAVING count(*) >= 2
        )
        SELECT fingerprint20, depth, n_occ, n_docs,
               n_docs > 1 AS cross_doc,
               CAST((n_occ - 1) * depth AS BIGINT) AS cut_chars
        FROM fams ORDER BY n_occ DESC, fingerprint20
    """,
)
def repeat_family_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPEAT FAMILIES — the depth-20 cut of the suffix array's
    LCP-interval tree: every maximal run of SA-consecutive suffixes
    whose adjacent LCPs are all >= 20 is one family (all members share
    one >= 20-char prefix; conversely all suffixes sharing a 20-char
    prefix are SA-contiguous with pairwise LCP >= 20, so the run IS
    the prefix-equivalence class). This is the step BETWEEN
    exact_substring_dup_coverage (how much of each doc is duplicated)
    and an actual dedup cut: WHICH substrings repeat, how often,
    across how many documents (cross_doc = the contamination signal),
    and the family's true depth — the length of the longest prefix
    shared by ALL members (min in-family adjacent LCP, >= 20 but
    usually much deeper), so cut_chars = (n_occ − 1) · depth is the
    volume a keep-one-occurrence cut at full depth would remove.

    The prefix-class equivalence is what makes the operator
    distributed: family assembly is ONE groupBy on the bounded
    20-char fingerprint — never a global window over the LCP array —
    and depth needs no in-group re-sort because a member's SA-next
    row is in the same family iff its lcp_next >= 20 (sharing 20
    chars = same fingerprint), so depth = min(lcp_next | >= 20)
    within the group, straight off the shared rank-only LCP frame.

    Scale: SA + LCP from _suffix_array_lcp_frame (rank-only,
    materialized once per input — SCALE.md §24); the 20-char
    fingerprints ride the cache's head20 column (a suffix shorter
    than 20 chars yields a short head20, so length(head20) = 20 IS
    the len - off + 1 >= 20 filter — no documents re-join); one
    fingerprint-keyed shuffle aggregates families. Integer-only
    output, no floats anywhere.

    Variant-of: ``lcp_interval_tree_nodes`` — this census is its
    fixed-k (k=20) projection; the tree query enumerates nodes at
    their TRUE depths.
    """
    pairs = _suffix_array_lcp_frame(spark, sf_dir)
    joined = pairs.filter(F.length("head20") == 20).select(
        F.col("head20").alias("fingerprint20"), "doc_id", "lcp_next"
    )
    fams = (
        joined.groupBy("fingerprint20")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.min(
                F.when(F.col("lcp_next") >= 20, F.col("lcp_next"))
            ).cast("long").alias("depth"),
        )
        .filter(F.col("n_occ") >= 2)
    )
    return fams.select(
        "fingerprint20", "depth", "n_occ", "n_docs",
        (F.col("n_docs") > 1).alias("cross_doc"),
        ((F.col("n_occ") - 1) * F.col("depth")).cast("long").alias(
            "cut_chars"
        ),
    )


@query(
    "allpairs_prefix_filter_join",
    category="L2-exact",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, concat('dup prefix ', text)
            FROM documents WHERE doc_id % 7 = 0
        ), words AS (
            SELECT id, list_filter(string_split_regex(lower(text),
                                                      '{TOKEN_SPLIT}'),
                                   x -> x <> '') AS w
            FROM corpus
        ), tok AS (
            -- word 3-gram shingles: the similarity-join set
            -- representation that keeps sets sparse (unigram sets on
            -- this corpus overlap so much that J >= 0.9 still keeps
            -- 16k pairs)
            SELECT DISTINCT id,
                   concat(w[i], ' ', w[i + 1], ' ', w[i + 2]) AS tok
            FROM words,
                 LATERAL unnest(generate_series(1, len(w) - 2)) AS g(i)
        ), sizes AS (
            SELECT id, CAST(count(*) AS BIGINT) AS sz
            FROM tok GROUP BY id
        ), inter AS (
            -- definitional oracle: ANY shared token generates the
            -- pair — no prefix filter. Hash-equality with the Spark
            -- side PROVES the prefix filter loses no qualifying pair.
            SELECT a.id AS id1, b.id AS id2,
                   CAST(count(*) AS BIGINT) AS i
            FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT id1, id2, s1, s2, i AS n_common,
               CAST(round(i * 1.0 / (s1 + s2 - i), 6) AS DOUBLE)
                   AS jaccard
        FROM (
            SELECT i.id1, i.id2, i.i, sa.sz AS s1, sb.sz AS s2
            FROM inter i
            JOIN sizes sa ON i.id1 = sa.id
            JOIN sizes sb ON i.id2 = sb.id
        )
        WHERE i * 1.0 / (s1 + s2 - i) >= 0.6
        ORDER BY id1, id2
    """,
)
def allpairs_prefix_filter_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard >= 0.7 via PREFIX
    FILTERING (Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search" / Xiao et al. PPJoin) — the exact complement to the
    MinHash-LSH family: order every doc's tokens rarest-first
    (ascending document frequency, the global total order), keep only
    the first |s| - ceil(t*|s|) + 1 as the PREFIX, and generate
    candidates from prefix-token collisions alone. Completeness: if
    J(x,y) >= t then |x n y| >= t*|x| (and t*|y|), while everything
    outside the prefix is at most ceil(t*|s|) - 1 tokens — so the
    ORDER-SMALLEST common token must sit inside BOTH prefixes.
    Verification joins full token sets on the candidates only.

    The oracle generates candidates from ANY shared token (the
    definitional quadratic-candidate form) — hash equality therefore
    certifies the filter lossless, not just plausible.

    Scale: candidate volume collapses from sum-per-token df^2 over
    ALL tokens to df^2 over PREFIX tokens only — and rarest-first
    ordering puts precisely the low-df tokens in prefixes (the stop
    words that dominate any-token joins never generate candidates).
    One shuffle for df, one for prefix collisions, one for verify;
    every join equi. The L4 LSH path stays the answer when even
    prefix df^2 is too big.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.col("doc_id").alias("id"), "text").unionAll(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.concat(F.lit("dup prefix "), F.col("text")).alias("text"),
        )
    )
    ws = tokens_col(F.col("text"))
    # Spark sequence(1, n) DESCENDS when n < 1 — guard short docs with
    # an explicit empty array instead
    shingles = F.when(
        F.size(ws) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(ws, i),
                F.element_at(ws, i + 1),
                F.element_at(ws, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from ..operators.graph import truncate_lineage

    # checkpoint, not persist: tok feeds five consumers (df, prefix
    # build, both verify sides, sizes) and a persisted child plan
    # re-prints the documents scan under each (the PrefixSpan lesson)
    tok = truncate_lineage(
        corpus.select("id", F.explode(shingles).alias("tok")).distinct(),
        leaf_parallelism(spark),
    )
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
    )
    pfx_len = (F.col("sz") - F.ceil(F.lit(0.6) * F.col("sz")) + 1).cast("int")
    prefix = ordered.select(
        "id", F.explode(F.slice("toks", F.lit(1), pfx_len)).alias("tok")
    )
    pa = prefix.select(F.col("id").alias("id1"), "tok")
    pb = prefix.select(F.col("id").alias("id2"), "tok")
    cand = (
        pa.join(pb, "tok")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    ta = tok.select(F.col("id").alias("id1"), "tok")
    tb = tok.select(F.col("id").alias("id2"), "tok")
    inter = (
        cand.join(ta, "id1")
        .join(tb, ["id2", "tok"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    jac = F.col("i") / (F.col("s1") + F.col("s2") - F.col("i"))
    return (
        inter.join(sizes.select(F.col("id").alias("id1"), F.col("sz").alias("s1")), "id1")
        .join(sizes.select(F.col("id").alias("id2"), F.col("sz").alias("s2")), "id2")
        .filter(jac >= 0.6)
        .select(
            "id1", "id2", "s1", "s2",
            F.col("i").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query(
    "cross_group_lcs_via_gsa",
    category="L2-suffixarray",
    oracle=f"""
        WITH {_SUFFIXES_CTE}, sa AS (
            SELECT doc_id, lang, off, suf,
                   row_number() OVER (ORDER BY suf, doc_id, off) AS s,
                   lead(suf) OVER (ORDER BY suf, doc_id, off) AS nsuf,
                   lead(doc_id) OVER (ORDER BY suf, doc_id, off)
                       AS doc_b,
                   lead(lang) OVER (ORDER BY suf, doc_id, off) AS lang_b
            FROM pos
        ), lcps AS (
            SELECT s, doc_id, lang, doc_b, lang_b, suf,
                   CASE WHEN nsuf IS NULL THEN 0
                        ELSE {_lcp_sql("suf", "nsuf")} END AS lcp
            FROM sa
        )
        SELECT s AS sa_idx, CAST(lcp AS BIGINT) AS lcs_len,
               doc_id AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
               lang AS lang_a, lang_b,
               substring(suf, 1, CAST(least(12, lcp) AS INTEGER))
                   AS fp12
        FROM lcps
        WHERE (lang = 'en') <> (lang_b = 'en') AND lcp >= 1
        ORDER BY lcs_len DESC, sa_idx
        LIMIT 10
    """,
)
def cross_group_lcs_via_gsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LONGEST COMMON SUBSTRING between document GROUPS (English vs
    everything else) off the generalized suffix array — the classic
    GSA reduction: for a BINARY labeling, the maximum LCP between any
    cross-group suffix pair is achieved at an SA-ADJACENT cross pair
    (the min-over-interval LCP of a distant pair is bounded by every
    adjacent LCP between them, and a binary path from an 'en' entry
    to a non-'en' entry must switch labels at some adjacent step), so
    ONE pass over adjacent pairs finds the true cross-lingual LCS —
    the shared-boilerplate / cross-lingual-contamination probe that
    would otherwise be a doc×doc alignment. Emits the top-10 adjacent
    cross pairs with their docs, langs, and the first min(12, len)
    shared characters.

    Scale: the SA+LCP frame is the shared rank-only construction
    (SCALE.md §19); the adjacent pair is the established sa_idx+1
    equi self-join (never a window over the SA); the lang carry is a
    broadcast doc→lang dim; TakeOrderedAndProject for the top-10.
    """
    pairs = _suffix_array_lcp_frame(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    nxt = pairs.select(
        (F.col("sa_idx") - 1).alias("sa_idx"),
        F.col("doc_id").alias("doc_b"),
    )
    adj = (
        pairs.select("sa_idx", "doc_id", "head12", "lcp_next")
        .join(nxt, "sa_idx")
        .join(F.broadcast(langs.withColumnRenamed("lang", "lang_a")), "doc_id")
        .join(
            F.broadcast(
                langs.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("lang").alias("lang_b"),
                )
            ),
            "doc_b",
        )
    )
    return (
        adj.filter(
            ((F.col("lang_a") == "en") != (F.col("lang_b") == "en"))
            & (F.col("lcp_next") >= 1)
        )
        .select(
            "sa_idx",
            F.col("lcp_next").alias("lcs_len"),
            F.col("doc_id").alias("doc_a"),
            "doc_b", "lang_a", "lang_b",
            F.expr("substring(head12, 1, least(12, lcp_next))").alias("fp12"),
        )
        .orderBy(F.col("lcs_len").desc(), "sa_idx")
        .limit(10)
    )
