"""Information-retrieval primitives over the document corpus (L5
extensions, round-2 late): inverted-index construction and PMI
collocation mining.

Both are explode → keyed-aggregate plans (the scale-safe text shapes:
work linear in corpus tokens, shuffles keyed by token/bigram, never a
doc×doc or token×token product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.spread import leaf_parallelism
from ..registry import query
from ._shared import md5_uniform_sql


@query(
    "inverted_index_postings",
    category="L5-ir",
    oracle="""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), grouped AS (
            SELECT tok, count(*) AS df,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                       AS postings
            FROM toks GROUP BY tok
        )
        SELECT tok, df, postings
        FROM grouped
        WHERE df >= 50
        ORDER BY tok
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (token → sorted posting list of
    doc ids): the IR backbone for boolean/phrase retrieval and for
    contamination lookups; emitted here for the hot vocabulary
    (document frequency >= 50) with postings serialized to one string
    (oracle-conventions: no LIST result columns).

    Scale: doc-distinct (token, doc) pairs → ONE shuffle by token;
    posting lists are per-token ordered aggregations. At 100 TB,
    postings for stop-word-class tokens are the skew — cap df (as
    here), delta-encode ids, and bucket the index table by token so
    retrieval joins are shuffle-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    parts = F.array_sort(F.collect_list("doc_id"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(F.transform(parts, lambda x: x.cast("string")), ",").alias(
                "postings"
            ),
        )
        .filter(F.col("df") >= 50)
    )


@query(
    "fuzzy_blocked_typo_pairs",
    category="L5-fuzzy",
    oracle="""
        WITH v AS (SELECT DISTINCT c_name FROM customer)
        SELECT a.c_name AS name1, b.c_name AS name2
        FROM v a JOIN v b ON a.c_name < b.c_name
        WHERE length(a.c_name) = length(b.c_name)
          AND levenshtein(a.c_name, b.c_name) = 1
    """,
)
def fuzzy_blocked_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join via a MASK INDEX (SymSpell-style
    deletion neighborhood): single-substitution pairs (same length,
    edit distance 1) share exactly one masked variant (the string with
    the differing position replaced by a sentinel), so each name emits
    len(name) masks and candidates come from an equi-join on the mask
    — candidate volume ≈ true-pair volume, NEVER block².

    Chosen over half/pigeonhole blocking after MEASURING the latter
    degenerate on low-entropy prefixes: customer names share a long
    constant prefix, so the 'first half' block collapsed to one
    V-sized bucket and the join went quadratic (341 s at sf0.1 vs
    ~2 s for this form — the `tools/bench_families.py` at commit `95c524d` run that caught it). The
    mask index has no such data dependence: only genuine pairs (plus
    exact duplicates) ever collide.

    The ORACLE is the brute-force quadratic join — the driver hash is
    a per-run certificate that the index loses zero pairs.

    Scale: O(n·len) mask rows, one shuffle by mask; generalizes to
    edit distance k with k-position masks (C(len,k) per string) or
    true SymSpell deletes. The in-block verifier is exact
    levenshtein.
    """
    c = load_table(spark, sf_dir, "customer")
    names = c.select(F.col("c_name").alias("name")).distinct()
    # positions from sequence(), not a char split: split("(?!^)") adds
    # a trailing '' element that would ship one phantom mask per name
    masks = names.select(
        "name",
        F.length("name").alias("klen"),
        F.explode(F.sequence(F.lit(1), F.length("name"))).alias("pos"),
    ).select(
        "name",
        "klen",
        "pos",
        F.concat(
            F.expr("substr(name, 1, pos - 1)"),
            F.lit("*"),
            F.expr("substr(name, pos + 1)"),
        ).alias("mask"),
    )
    a = masks.select("klen", "pos", "mask", F.col("name").alias("name1"))
    b = masks.select("klen", "pos", "mask", F.col("name").alias("name2"))
    cand = (
        a.join(b, ["klen", "pos", "mask"])
        .filter(F.col("name1") < F.col("name2"))
        .select("name1", "name2")
    )
    return cand.filter(F.levenshtein("name1", "name2") == 1)


# Okapi BM25 (k1 = 1.2, b = 0.75) of every document matching the
# fixed 3-term query 'hash join stream', rounded to 6: scored (doc_id,
# bm25). _bm25 is the Spark side.
_BM25_CTE = """toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), dl AS (
            SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id
        ), stats AS (
            SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks
            WHERE tok IN ('hash', 'join', 'stream')
            GROUP BY doc_id, tok
        ), dfreq AS (
            SELECT tok, count(*) AS df FROM tf GROUP BY tok
        ), scored AS (
            SELECT tf.doc_id,
                   round(sum(
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                       (tf * 2.2) /
                       (tf + 1.2 * (0.25 + 0.75 * doclen / avgdl))
                   ), 6) AS bm25
            FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
            CROSS JOIN stats
            GROUP BY tf.doc_id
        )"""


def _bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25): the scores of _BM25_CTE, planned as
    bm25_topk_docs describes."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["hash", "join", "stream"]
    k1, b = 1.2, 0.75
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doclen").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * ((1.0 - b) + b * F.col("doclen") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 6).alias("bm25"))
    )


@query(
    "bm25_topk_docs",
    category="L5-ir",
    oracle=f"""
        WITH {_BM25_CTE}
        SELECT doc_id, bm25
        FROM scored
        ORDER BY bm25 DESC, doc_id
        LIMIT 15
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (k1=1.2, b=0.75) for a fixed 3-term query:
    the standard lexical ranking on top of the inverted-index shapes —
    what a contamination/retrieval pass over a training corpus runs.

    Scale: tf is the token explode FILTERED to query terms before the
    shuffle (work ∝ matching postings, not corpus tokens); df and the
    (n_docs, avgdl) scalars are tiny broadcasts; the per-doc score sum
    has ≤ |query| rows per key. Top-15 under the rounded-score total
    order (rounding before ORDER BY keeps the rank cross-engine
    deterministic; see oracle_conventions on libm drift).
    """
    return _bm25(spark, sf_dir).orderBy(F.col("bm25").desc(), "doc_id").limit(15)


@query(
    "unigram_surprisal_quality",
    category="L5-text",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), uni AS (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ), n_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                   avg(-log2(c * 1.0 / n)) AS raw
            FROM toks JOIN uni USING (tok) CROSS JOIN n_tot
            GROUP BY doc_id
        )
        SELECT doc_id, n_toks, round(raw, 6) AS bits_per_tok
        FROM per_doc
        ORDER BY bits_per_tok DESC, doc_id
        LIMIT 20
    """,
)
def unigram_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM surprisal per document (mean
    -log2 p(tok), bits/token): the cheap perplexity proxy for quality
    filtering — abnormally LOW means boilerplate/repetition,
    abnormally HIGH means gibberish/OOV soup. Real pipelines score
    against a held-out KenLM; the MLE-on-self form keeps the operator
    library-free and the plan identical.

    Scale: two shuffles (token counts; tokens⋈counts keyed by token —
    at 100 TB the vocab join stays a shuffle join since vocab outgrows
    broadcast, with stop-word keys mitigated by AQE skew splitting) +
    one per-doc aggregate. Total-count scalar is a 1-row broadcast.
    Top-20 under the rounded-value total order.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_tot = uni.agg(F.sum("c").cast("long").alias("n"))
    return (
        toks.join(uni, "tok")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.round(F.avg(-F.log2(F.col("c") / F.col("n"))), 6).alias(
                "bits_per_tok"
            ),
        )
        .orderBy(F.col("bits_per_tok").desc(), "doc_id")
        .limit(20)
    )


@query(
    "collocation_pmi_bigrams",
    category="L5-ir",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                       AS pos
            FROM documents
        ), uni AS (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ), n_uni AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        bi AS (
            SELECT a.tok AS x, b.tok AS y, count(*) AS cxy
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            GROUP BY a.tok, b.tok
        ), n_bi AS (SELECT CAST(sum(cxy) AS BIGINT) AS m FROM bi)
        SELECT x, y, cxy,
               round(ln((cxy * 1.0 / m) /
                        ((cx.c * 1.0 / n) * (cy.c * 1.0 / n))), 6) AS pmi
        FROM bi
        JOIN uni cx ON bi.x = cx.tok
        JOIN uni cy ON bi.y = cy.tok
        CROSS JOIN n_uni CROSS JOIN n_bi
        ORDER BY cxy DESC, x, y
        LIMIT 20
    """,
)
def collocation_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: pointwise mutual information of the 20
    most frequent CONSECUTIVE token bigrams — high PMI = tokens that
    co-occur far above chance (multi-word expressions, boilerplate
    signatures worth deduping on).

    Scale: bigrams come from per-doc position adjacency (lead over a
    doc-partitioned window in Spark; the explicit pos+1 self-join in
    the oracle) — NEVER all token pairs; unigram/bigram totals are two
    broadcast scalars; PMI's ln rounds to 6 per conventions. Top-20
    under the exact-integer (count, x, y) total order.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.withColumn("y", F.lead("tok").over(w))
        .filter(F.col("y").isNotNull())
        .groupBy(F.col("tok").alias("x"), "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.sum("c").cast("long").alias("n"))
    n_bi = bi.agg(F.sum("cxy").cast("long").alias("m"))
    cx = uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    cy = uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    pmi = (
        (F.col("cxy") / F.col("m"))
        / ((F.col("cx") / F.col("n")) * (F.col("cy") / F.col("n")))
    )
    return (
        bi.join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select("x", "y", "cxy", F.round(F.log(pmi), 6).alias("pmi"))
        .orderBy(F.col("cxy").desc(), "x", "y")
        .limit(20)
    )


@query(
    "bpe_first_merge_census",
    category="L5-bpe",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ), pairs AS (
            SELECT unnest(list_transform(
                       generate_series(1, length(tok) - 1),
                       i -> substr(tok, CAST(i AS INT), 2))) AS pair
            FROM toks
            WHERE length(tok) >= 2
        )
        SELECT pair, count(*) AS n
        FROM pairs
        GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 20
    """,
)
def bpe_first_merge_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding bootstrap: the corpus-wide census of
    adjacent CHARACTER pairs inside tokens — the statistic the first
    BPE merge maximizes (and each later round recomputes on the
    merged vocabulary). The top pair here IS tokenizer-training raw
    material; the query pins the counting machinery an iterative
    trainer would loop.

    Scale: pair generation is a map-side array transform (no join,
    no per-char explode until after the transform), then ONE pair-
    keyed count shuffle; census cardinality is bounded by charset².
    Top-20 under the exact (count, pair) total order.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


def _bpe_oracle(rounds: int) -> str:
    """Unrolled N-round BPE trainer oracle. Each round: weighted
    adjacent-symbol-pair census over the distinct-word table, scalar
    argmax pair ((n DESC, s1, s2) total order), then left-to-right
    non-overlapping merge via replace() on the separator-wrapped
    symbol string — replace()'s scan-resume-after-match semantics IS
    greedy BPE merging, identically in DuckDB and Spark."""
    s = "\x1f"
    ss = s + s
    parts = [
        f"""w0 AS (
        SELECT tok, count(*) AS wc,
               regexp_replace(tok, '(.)', '{s}\\1{s}', 'g') AS wrapped
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""pr{r} AS (
        SELECT wc, string_split(trim(wrapped, '{s}'), '{ss}') AS syms
        FROM w{r - 1}
    ), pc{r} AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(syms) - 1),
                   i -> syms[i] || '{s}' || syms[i + 1])) AS pair,
               wc
        FROM pr{r}
        WHERE len(syms) >= 2
    ), pn{r} AS (
        SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM pc{r} GROUP BY pair
    ), best{r} AS (
        SELECT pair, n FROM pn{r}
        ORDER BY n DESC, split_part(pair, '{s}', 1), split_part(pair, '{s}', 2)
        LIMIT 1
    ), w{r} AS (
        SELECT tok, wc,
               replace(wrapped,
                       '{s}' || replace((SELECT pair FROM best{r}), '{s}', '{ss}')
                              || '{s}',
                       '{s}' || replace((SELECT pair FROM best{r}), '{s}', '')
                              || '{s}') AS wrapped
        FROM w{r - 1}
    )""")
    selects = "\n        UNION ALL\n".join(
        f"""        SELECT CAST({r} AS INT) AS round,
               split_part((SELECT pair FROM best{r}), '{s}', 1) AS left_sym,
               split_part((SELECT pair FROM best{r}), '{s}', 2) AS right_sym,
               replace((SELECT pair FROM best{r}), '{s}', '') AS merged,
               (SELECT n FROM best{r}) AS n"""
        for r in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + "\n    SELECT * FROM (\n" + selects + "\n    ) ORDER BY round"
    )


@query("bpe_merge_rounds", category="L5-bpe", oracle=_bpe_oracle(3))
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE trainer loop, 3 merge rounds (completes the
    bpe_first_merge_census machinery into the iterative algorithm a
    tokenizer trainer actually runs): each round counts adjacent
    SYMBOL pairs across the corpus weighted by word frequency, picks
    the global argmax pair ((count DESC, left, right) total order),
    and merges every non-overlapping left-to-right occurrence into a
    new symbol — so round 2 can (and does) build on round 1's merged
    symbol. Output: the learned merge table (round, pair, merged
    symbol, pair count).

    The merge step is the trick that keeps both engines bit-identical:
    words are held as \\x1f-wrapped symbol strings
    ("\\x1fa\\x1f\\x1fb\\x1f…"), and merging pair (a,b) is ONE
    string replace of "\\x1fa\\x1f\\x1fb\\x1f" with "\\x1fab\\x1f" —
    replace()'s resume-after-match scan gives exactly greedy
    non-overlapping BPE semantics ([a,a,a] merges to [aa,a], not
    [a,aa]) in Spark and DuckDB alike. No per-row Python ever runs.

    Scale: the state is the DISTINCT-WORD table (vocab-sized, not
    corpus-sized — the standard BPE trainer compression), cached and
    re-mapped per round; each round is one explode + one combinable
    sum shuffle + a 1-row argmax collect (bounded scalar, the merge
    rule itself) + a map-side replace. Rounds are a fixed constant;
    at production merge counts the same loop checkpoints the word
    frame every ~50 rounds.
    """
    S, SS = "\x1f", "\x1f\x1f"
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
        .withColumn("wrapped", F.regexp_replace("tok", "(.)", S + "$1" + S))
        .coalesce(leaf_parallelism(spark))
        .persist()
    )
    merges = []
    cur = words
    for r in range(1, 4):
        syms = F.split(F.expr(f"trim(BOTH '{S}' FROM wrapped)"), SS)
        # F.sequence(1, 0) counts BACKWARDS — guard single-symbol words
        pairs = cur.filter(F.size(syms) >= 2).select(
            "wc",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.struct(
                        F.element_at(syms, i).alias("s1"),
                        F.element_at(syms, i + 1).alias("s2"),
                    ),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
            .agg(F.sum("wc").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "s1", "s2")
            .limit(1)
            .collect()[0]  # bounded 1-row scalar: the merge rule itself
        )
        merges.append((r, best.s1, best.s2, best.s1 + best.s2, best.n))
        nxt = cur.withColumn(
            "wrapped",
            F.replace(
                F.col("wrapped"),
                F.lit(S + best.s1 + SS + best.s2 + S),
                F.lit(S + best.s1 + best.s2 + S),
            ),
        ).persist()
        cur = nxt
    return spark.createDataFrame(
        merges, "round int, left_sym string, right_sym string, merged string, n long"
    )


@query(
    "zipf_rank_frequency_fit",
    category="L5-zipf",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ), counts AS (
            SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ), top AS (
            SELECT tok, cnt FROM counts
            ORDER BY cnt DESC, tok LIMIT 200
        ), ranked AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt DESC, tok) AS r
            FROM top
        )
        SELECT CAST((SELECT count(*) FROM counts) AS BIGINT) AS n_vocab,
               CAST(count(*) AS BIGINT) AS n_fit,
               round(regr_slope(ln(CAST(cnt AS DOUBLE)),
                                ln(CAST(r AS DOUBLE))), 6) AS zipf_slope,
               round(regr_r2(ln(CAST(cnt AS DOUBLE)),
                             ln(CAST(r AS DOUBLE))), 6) AS zipf_r2
        FROM ranked
    """,
)
def zipf_rank_frequency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health diagnostic that
    catches template spam and boilerplate floods before they poison a
    training mix: natural language shows ln(count) ≈ a + s·ln(rank)
    with s near −1; machine-generated or deduplicated-to-death text
    bends the curve. OLS slope + R² over the top-200 tokens
    (rank ties broken by token, so the fit set is deterministic),
    with the exact vocabulary size pinned alongside.

    Scale: token counts are one explode + combinable count; the
    top-200 is a TakeOrdered heap (never a global sort of the vocab);
    the regression runs on the 200-row frame. ln() is the same libm
    call on identical doubles; regr moments round to 6.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).persist()
    n_vocab = counts.count()  # bounded metadata scalar
    top = counts.orderBy(F.col("cnt").desc(), "tok").limit(200)
    ranked = top.select(
        "cnt",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), "tok")  # 200-row frame
        ).alias("r"),
    )
    return ranked.agg(
        F.lit(n_vocab).cast("long").alias("n_vocab"),
        F.count(F.lit(1)).cast("long").alias("n_fit"),
        F.round(
            F.regr_slope(F.log(F.col("cnt").cast("double")),
                         F.log(F.col("r").cast("double"))), 6
        ).alias("zipf_slope"),
        F.round(
            F.regr_r2(F.log(F.col("cnt").cast("double")),
                      F.log(F.col("r").cast("double"))), 6
        ).alias("zipf_r2"),
    )


# The two rankings hybrid_rrf_fusion fuses and
# team_draft_interleaving_eval interleaves: lrank by BM25 and vrank by
# exact cosine to the vec_id-0 query embedding (vsim), each over
# scores rounded to 6 with a doc_id tie-break. _query_cosine is the
# Spark side of vsim.
_RANKS_CTE = f"""{_BM25_CTE}, lrank AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
            FROM scored
        ), vsim AS (
            SELECT e.vec_id AS doc_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 6) AS sim
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
        ), vrank AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY sim DESC, doc_id) AS r
            FROM vsim
        )"""


def _query_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sim): vsim of _RANKS_CTE, a scan of the embeddings
    against the one broadcast query vector."""
    from ..functions.vectors import cosine_similarity, to_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("vec")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity(F.col("vec"), F.col("qvec")), 6).alias("sim"),
        )
    )


@query(
    "hybrid_rrf_fusion",
    category="L5-hybrid",
    oracle=f"""
        WITH {_RANKS_CTE}, l50 AS (SELECT doc_id, r FROM lrank WHERE r <= 50),
           v50 AS (SELECT doc_id, r FROM vrank WHERE r <= 50),
        fused AS (
            SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
                   coalesce(CAST(1.0 AS DOUBLE) / (60 + l.r),
                            CAST(0.0 AS DOUBLE))
                   + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.r),
                              CAST(0.0 AS DOUBLE)) AS rrf,
                   l.r AS lex_rank, v.r AS vec_rank
            FROM l50 l FULL OUTER JOIN v50 v ON l.doc_id = v.doc_id
        )
        SELECT doc_id, round(rrf, 6) AS rrf_score,
               CAST(lex_rank AS BIGINT) AS lex_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank
        FROM fused
        ORDER BY rrf DESC, doc_id
        LIMIT 10
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via Reciprocal-Rank Fusion — the standard way
    production search combines a lexical ranker (BM25, k1=1.2/b=0.75,
    fixed 3-term query) with a vector ranker (exact cosine against
    the vec_id-0 query embedding): each top-50 list contributes
    1/(60 + rank) and documents found by BOTH modalities rise. Ranks
    are minted over scores ROUNDED to 6 with doc_id tie-break
    (oracle_conventions: rounded-score total order), so the fusion
    input — and therefore the fused list — is cross-engine exact;
    lex_rank/vec_rank are emitted (NULL when one modality missed the
    doc) so the oracle verifies the JOIN structure, not just scores.

    Scale: BM25 work ∝ matching postings (token filter precedes the
    shuffle); cosine side is a broadcast-1-query scan +
    TakeOrderedAndProject; fusion itself is a full-outer join of two
    50-row frames — metadata. The doc_id↔vec_id aligned id space is
    the testdata contract.
    """
    scored = _bm25(spark, sf_dir)
    l50 = (
        scored.orderBy(F.col("bm25").desc(), "doc_id").limit(50)
        .select(
            "doc_id",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), "doc_id")  # 50-row frame
            ).alias("lr"),
        )
    )
    vsim = _query_cosine(spark, sf_dir)
    v50 = (
        vsim.orderBy(F.col("sim").desc(), "doc_id").limit(50)
        .select(
            "doc_id",
            F.row_number().over(
                Window.orderBy(F.col("sim").desc(), "doc_id")  # 50-row frame
            ).alias("vr"),
        )
    )
    fused = (
        l50.join(v50, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lr")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vr")), F.lit(0.0))
            ).alias("rrf"),
            F.col("lr").cast("long").alias("lex_rank"),
            F.col("vr").cast("long").alias("vec_rank"),
        )
    )
    return (
        fused.select(
            "doc_id", F.round("rrf", 6).alias("rrf_score"), "lex_rank", "vec_rank", "rrf"
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
        .drop("rrf")
    )


@query(
    "ndcg_at_10_eval",
    category="L5-ndcg",
    oracle=f"""
        WITH {_BM25_CTE}, rel AS (
            SELECT doc_id, bm25,
                   CAST(floor({md5_uniform_sql("'rel:' || CAST(doc_id AS VARCHAR)")}
                              * 4) AS BIGINT) AS rel
            FROM scored
        ), ranked AS (
            SELECT doc_id, rel,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
            FROM rel
        ), ideal AS (
            SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
            FROM rel
        ), dcg AS (
            SELECT rnk, doc_id, rel,
                   sum((CAST(2 AS DOUBLE) ** rel - 1) / log2(rnk + 1.0))
                       OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS dcg_run
            FROM ranked WHERE rnk <= 10
        ), idcg AS (
            SELECT rnk,
                   sum((CAST(2 AS DOUBLE) ** rel - 1) / log2(rnk + 1.0))
                       OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS idcg_run
            FROM ideal WHERE rnk <= 10
        )
        SELECT d.rnk AS rank, d.doc_id, d.rel,
               CAST(round(d.dcg_run, 6) AS DOUBLE) AS dcg_running,
               CAST(round(d.dcg_run / i.idcg_run, 6) AS DOUBLE)
                   AS ndcg_at_rank
        FROM dcg d JOIN idcg i ON i.rnk = d.rnk
        ORDER BY rank
    """,
)
def ndcg_at_10_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranker against md5-minted graded relevance
    (0–3 per doc, the repo's deterministic ground-truth mint) — the
    ranking-quality readout that pairs with hybrid_rrf_fusion: DCG
    gains (2^rel − 1)/log₂(rank+1) accumulate down the ranked list and
    normalize by the ideal ordering's DCG at the same depth, emitted
    per rank so the oracle checks the whole trajectory, not one
    scalar.

    Determinism: ranks are minted over 6dp-ROUNDED BM25 with doc_id
    tiebreak (the rounded-score total order from oracle_conventions);
    relevance comes from the shared md5_uniform mint; both DCG
    accumulations run in pinned rank order.

    Scale: BM25 cost ∝ matching postings. The two unpartitioned rank
    windows are BOUNDED by the planner: row_number + filter rnk <= 10
    pushes down as TakeOrderedAndProject(limit=10), so each input
    partition ships a 10-row heap and the single-partition windows
    (rank + the running DCG over the kept 10 rows) never see the full
    candidate frame — plan-asserted in test_plans.
    """
    from ..functions.sampling import md5_uniform

    scored = _bm25(spark, sf_dir)
    rel = scored.withColumn(
        "rel",
        F.floor(
            md5_uniform("concat('rel:', cast(doc_id as string))") * 4
        ).cast("long"),
    )
    wr = Window.orderBy(F.col("bm25").desc(), "doc_id")
    wi = Window.orderBy(F.col("rel").desc(), "doc_id")
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("rnk") + 1.0)
    ranked = (
        rel.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 10)
        .withColumn(
            "dcg_run",
            F.sum(gain).over(
                Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    ideal = (
        rel.withColumn("rnk", F.row_number().over(wi))
        .filter(F.col("rnk") <= 10)
        .withColumn(
            "idcg_run",
            F.sum(gain).over(
                Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("rnk", "idcg_run")
    )
    return (
        ranked.join(ideal, "rnk")
        .select(
            F.col("rnk").alias("rank"),
            "doc_id",
            "rel",
            F.round("dcg_run", 6).alias("dcg_running"),
            F.round(F.col("dcg_run") / F.col("idcg_run"), 6).alias("ndcg_at_rank"),
        )
        .orderBy("rank")
    )


@query(
    "team_draft_interleaving_eval",
    category="L5-interleave",
    oracle=f"""
        WITH {_RANKS_CTE}, draft AS (
            WITH RECURSIVE td AS (
                SELECT 0 AS step, CAST('' AS VARCHAR) AS picked,
                       CAST(NULL AS BIGINT) AS doc_id,
                       CAST(NULL AS VARCHAR) AS team
                UNION ALL
                SELECT q.step, q.picked || '|'
                           || CAST(q.doc_id AS VARCHAR) || '|',
                       q.doc_id, q.team
                FROM (
                    SELECT t.step + 1 AS step, t.picked,
                           CASE WHEN (
                             CASE WHEN ({md5_uniform_sql(
                                 "'td:' || CAST((t.step // 2) + 1 AS VARCHAR)"
                             )}) < 0.5 THEN 0 ELSE 1 END
                           ) = (t.step % 2) THEN 'A' ELSE 'B' END AS team,
                           CASE WHEN (
                             CASE WHEN ({md5_uniform_sql(
                                 "'td:' || CAST((t.step // 2) + 1 AS VARCHAR)"
                             )}) < 0.5 THEN 0 ELSE 1 END
                           ) = (t.step % 2)
                           THEN (SELECT l.doc_id FROM lrank l
                                 WHERE strpos(t.picked, '|'
                                       || CAST(l.doc_id AS VARCHAR)
                                       || '|') = 0
                                 ORDER BY l.r LIMIT 1)
                           ELSE (SELECT v.doc_id FROM vrank v
                                 WHERE strpos(t.picked, '|'
                                       || CAST(v.doc_id AS VARCHAR)
                                       || '|') = 0
                                 ORDER BY v.r LIMIT 1)
                           END AS doc_id
                    FROM td t WHERE t.step < 10
                ) q
            ) SELECT step AS pos, doc_id, team FROM td WHERE step >= 1
        ), clicked AS (
            SELECT d.pos, d.doc_id, d.team,
                   CAST(floor({md5_uniform_sql(
                       "'rel:' || CAST(d.doc_id AS VARCHAR)"
                   )} * 4) AS BIGINT) AS rel,
                   ({md5_uniform_sql(
                       "'click:' || CAST(d.doc_id AS VARCHAR) || ':' "
                       "|| CAST(d.pos AS VARCHAR)"
                   )}) < (CAST(floor({md5_uniform_sql(
                       "'rel:' || CAST(d.doc_id AS VARCHAR)"
                   )} * 4) AS BIGINT) / 3.0)
                       / log2(d.pos + 1.0) AS clicked
            FROM draft d
        ), summary AS (
            SELECT CAST(sum(CASE WHEN team = 'A' AND clicked
                                 THEN 1 ELSE 0 END) AS BIGINT) AS clicks_a,
                   CAST(sum(CASE WHEN team = 'B' AND clicked
                                 THEN 1 ELSE 0 END) AS BIGINT) AS clicks_b
            FROM clicked
        )
        SELECT c.pos, c.doc_id, c.team, c.rel, c.clicked,
               s.clicks_a, s.clicks_b,
               CASE WHEN s.clicks_a > s.clicks_b THEN 'A'
                    WHEN s.clicks_b > s.clicks_a THEN 'B'
                    ELSE 'tie' END AS preferred
        FROM clicked c CROSS JOIN summary s
        ORDER BY c.pos
    """,
)
def team_draft_interleaving_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEAM-DRAFT INTERLEAVING (Radlinski-Kurup-Joachims, CIKM'08) —
    the online ranker-comparison primitive production search runs
    instead of A/B-ing SERPs: rankers A (BM25 lexical) and B (exact
    embedding cosine) alternately draft their best not-yet-picked
    document into one 10-slot interleaved list (per round of two
    picks, a coin decides who drafts first; picks attribute to the
    drafting team), users click the combined list, and clicks-per-
    team is the paired preference signal — unbiased by position
    because both teams face the same presentation.

    Everything is deterministic and replayed by both engines: the
    per-round coin is md5('td:'||round); clicks come from a
    position-biased cascade model (P(click) = rel/3 · 1/log2(pos+1),
    rel = the ndcg_at_10_eval md5 grades, coin md5('click:'||doc||
    ':'||pos)); the oracle replays the ENTIRE draft as a recursive
    CTE whose per-step correlated pick mirrors the walk (the
    SW-traceback replayed-walk pattern), so a single divergence in
    pick order, team attribution, or click minting reds the hash.

    Scale: both rankings end in TakeOrderedAndProject top-30 probes
    (candidates; ranks inside the bounded probe frames only); the
    draft itself is a bounded-metadata driver walk over those 60
    collected rows (F-list/Cox pattern — 10 steps, no distributed
    state); click minting and the summary run on the 10-row result.
    """
    from ..functions.sampling import md5_uniform

    scored = _bm25(spark, sf_dir)
    # bounded-metadata collects: the two top-30 candidate probes
    la = [
        r["doc_id"]
        for r in scored.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(30).collect()
    ]
    vsim = _query_cosine(spark, sf_dir)
    lb = [
        r["doc_id"]
        for r in vsim.orderBy(F.col("sim").desc(), "doc_id")
        .limit(30).collect()
    ]

    # the draft walk: coin per round via the SHARED md5 mint, executed
    # on the 1-row coins frame so the expression text is identical
    coins = {
        r["round"]: bool(r["a_first"])
        for r in spark.range(1, 6)
        .select(
            F.col("id").alias("round"),
            (
                md5_uniform("'td:' || CAST(id AS STRING)") < 0.5
            ).alias("a_first"),
        )
        .collect()
    }
    picked: set[int] = set()
    rows = []
    for step in range(1, 11):
        rnd = (step + 1) // 2
        first_is_a = coins[rnd]
        # step odd -> round's first picker; even -> the other
        pick_a = first_is_a if step % 2 == 1 else not first_is_a
        src = la if pick_a else lb
        doc = next((d for d in src if d not in picked), None)
        if doc is None:
            # a tiny scale factor can starve a 30-candidate list before
            # 10 picks; fail legibly instead of an opaque StopIteration
            # (the oracle would emit NULL doc_id rows here — a starved
            # draft is a data-scale problem, not a valid evaluation).
            raise ValueError(
                "team_draft_interleaving_eval: ranker %s exhausted its "
                "%d candidates at draft step %d — corpus too small for "
                "a 10-pick interleaving"
                % ("A" if pick_a else "B", len(src), step)
            )
        picked.add(doc)
        rows.append((step, doc, "A" if pick_a else "B"))
    draft = spark.createDataFrame(
        rows, "pos long, doc_id long, team string"
    )
    rel = F.floor(
        md5_uniform("'rel:' || CAST(doc_id AS STRING)") * 4
    ).cast("long")
    clicked_col = (
        md5_uniform(
            "'click:' || CAST(doc_id AS STRING) || ':' || CAST(pos AS STRING)"
        )
        < (rel / 3.0) / F.log2(F.col("pos") + 1.0)
    )
    clicked = draft.select(
        "pos", "doc_id", "team", rel.alias("rel"),
        clicked_col.alias("clicked"),
    )
    summary = clicked.agg(
        F.sum(
            F.when((F.col("team") == "A") & F.col("clicked"), 1).otherwise(0)
        ).cast("long").alias("clicks_a"),
        F.sum(
            F.when((F.col("team") == "B") & F.col("clicked"), 1).otherwise(0)
        ).cast("long").alias("clicks_b"),
    )
    return (
        clicked.crossJoin(F.broadcast(summary))
        .select(
            "pos", "doc_id", "team", "rel", "clicked",
            "clicks_a", "clicks_b",
            F.when(F.col("clicks_a") > F.col("clicks_b"), "A")
            .when(F.col("clicks_b") > F.col("clicks_a"), "B")
            .otherwise("tie")
            .alias("preferred"),
        )
    )
