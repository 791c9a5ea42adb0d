"""Text-analysis + dedup query surface for training-data pipelines.

Covers the SURVEY §2.11 L-series gaps: language-ID (stopword-profile
scoring), quality scoring, token counting (whitespace + BPE-ish regex),
document fingerprinting (bottom-k sketch; the streaming rolling hash
lives in operators/dedup.py), n-gram Jaccard verification, SimHash,
and embedding-cosine near-dup.

Cross-engine parity notes:
- All hashing routed through md5 hex (DuckDB-reproducible); xxhash64
  variants exist in the operator library for the 100 TB path and are
  unit-tested instead of oracle-checked.
- SimHash here is 24-bit: the token hash is the first 6 hex chars of
  md5, folded to an int with ``conv`` (Spark) / an unrolled strpos
  polynomial (DuckDB). The production-width 64-bit xxhash signature is
  ``operators.dedup.simhash64_signature``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .llm import TOKEN_SPLIT, tokens_col

# ---------------------------------------------------------------- helpers

_DUCK_TOKENS = (
    f"list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'), x -> x <> '')"
)


def shingles3(ws: Column) -> Column:
    """3-gram token shingles as an array (map-side only, no explode)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(ws, i), F.element_at(ws, i + 1), F.element_at(ws, i + 2)
        ),
    )
    return F.when(F.size(ws) >= 3, grams).otherwise(F.array().cast("array<string>"))


_DUCK_SHINGLES3 = (
    "CASE WHEN len(ws) >= 3 THEN list_transform(generate_series(1, len(ws) - 2),"
    " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) ELSE [] END"
)


# ------------------------------------------------------------ language ID

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "est", "un"],
    "es": ["el", "los", "y", "es", "un"],
}


@query(
    "lang_id_stopword",
    category="L5",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, t AS term
            FROM documents, unnest({_DUCK_TOKENS}) AS u(t)
        ), lex(lang, term) AS (
            VALUES {', '.join(f"('{lang}', '{w}')" for lang, ws in _STOPWORDS.items() for w in ws)}
        ), hits AS (
            SELECT t.doc_id, l.lang, count(*) AS n_hits
            FROM tok t JOIN lex l ON t.term = l.term
            GROUP BY t.doc_id, l.lang
        ), best AS (
            SELECT doc_id, lang, n_hits,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY n_hits DESC, lang) AS rk
            FROM hits
        )
        SELECT d.doc_id,
               coalesce(b.lang, 'und')                     AS pred_lang,
               CAST(coalesce(b.n_hits, 0) AS BIGINT)       AS pred_hits,
               CAST(coalesce(b.lang, 'und') = d.lang AS INT) AS label_match
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rk = 1
    """,
)
def lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-profile scoring: count hits against each
    language's function-word list, argmax with a deterministic (score
    desc, lang asc) tie-break; zero hits => 'und'.

    Scale: lexicon is a broadcast dim; one explode + hash agg keyed by
    (doc, lang); the argmax is a per-doc window over ≤4 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        [(lang, w) for lang, ws in _STOPWORDS.items() for w in ws],
        "lang string, term string",
    )
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    hits = (
        tok.join(F.broadcast(lex), "term")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("n_hits").desc(), F.col("lang"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("pred"), "n_hits")
    )
    pred = F.coalesce(F.col("pred"), F.lit("und"))
    return docs.join(best, "doc_id", "left").select(
        "doc_id",
        pred.alias("pred_lang"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("pred_hits"),
        (pred == F.col("lang")).cast("int").alias("label_match"),
    )


# --------------------------------------------------------- quality score

_QUAL_STOP = ["the", "a", "of", "and", "is"]


@query(
    "text_quality_score",
    category="L5",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, length(text) AS n_chars_obs, {_DUCK_TOKENS} AS ws
            FROM documents
        )
        SELECT doc_id,
               CAST(n_chars_obs AS BIGINT)                          AS n_chars_obs,
               CAST(len(ws) AS BIGINT)                              AS n_tokens,
               round(len(list_filter(ws, x -> length(x) >= 4)) * 1.0
                     / greatest(len(ws), 1), 6)                     AS long_token_ratio,
               round(len(list_filter(ws,
                     x -> list_contains({_QUAL_STOP!r}, x))) * 1.0
                     / greatest(len(ws), 1), 6)                     AS stopword_ratio,
               round(len(list_distinct(ws)) * 1.0
                     / greatest(len(ws), 1), 6)                     AS uniq_ratio
        FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: size, token count, long-token /
    stopword / distinct-token ratios — the standard cheap filters a
    pretraining pipeline applies before expensive dedup.

    Scale: pure map-side higher-order array expressions; no shuffle,
    no Python. A 100 TB corpus scans through this at parquet speed.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = tokens_col(F.col("text"))
    d = docs.select("doc_id", F.length("text").alias("n_chars_obs"), ws.alias("ws"))
    n = F.greatest(F.size("ws"), F.lit(1))
    stop = F.array(*[F.lit(s) for s in _QUAL_STOP])
    return d.select(
        "doc_id",
        F.col("n_chars_obs").cast("bigint"),
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.round(F.size(F.filter("ws", lambda x: F.length(x) >= 4)) / n, 6).alias(
            "long_token_ratio"
        ),
        F.round(F.size(F.filter("ws", lambda x: F.array_contains(stop, x))) / n, 6).alias(
            "stopword_ratio"
        ),
        F.round(F.size(F.array_distinct("ws")) / n, 6).alias("uniq_ratio"),
    )


# --------------------------------------------------------- token counting

_BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "token_count_profile",
    category="L5",
    oracle=f"""
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, ' +'), x -> x <> ''))
                    AS BIGINT)                                      AS n_ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{_BPE_PAT}'))
                    AS BIGINT)                                      AS n_bpe_tokens,
               CAST(length(text) AS BIGINT)                         AS n_chars,
               round(length(text) * 1.0 /
                     greatest(len(regexp_extract_all(lower(text), '{_BPE_PAT}')), 1), 6)
                                                                    AS chars_per_token
        FROM documents
    """,
)
def token_count_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | single punctuation) — the cheap proxy
    for tokenizer cost used to budget training corpora.

    Scale: map-side regex; both engines use the identical pattern.
    """
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PAT), 0)
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " +"), lambda x: x != "")).cast("bigint").alias(
            "n_ws_tokens"
        ),
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(F.length("text") / F.greatest(F.size(bpe), F.lit(1)), 6).alias(
            "chars_per_token"
        ),
    )


# ----------------------------------------------------- doc fingerprinting

BOTTOM_K = 4


@query(
    "doc_fingerprint_bottomk",
    category="L1",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKENS} AS ws FROM documents
        ), s AS (
            SELECT doc_id, {_DUCK_SHINGLES3} AS sh FROM t
        )
        SELECT doc_id,
               array_to_string(
                 list_sort(list_distinct(list_transform(sh, x -> substr(md5(x), 1, 8))))
                   [1:{BOTTOM_K}], '')                              AS fingerprint,
               CAST(len(list_distinct(sh)) AS BIGINT)               AS n_shingles
        FROM s
    """,
)
def doc_fingerprint_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sketch fingerprint: the k smallest md5 prefixes of the
    doc's distinct 3-gram shingles, concatenated. Equal fingerprints ≈
    high Jaccard (bottom-k sketches are unbiased Jaccard estimators).
    The streaming rolling-hash variant (Karp-Rabin over a token window)
    is ``operators.dedup.rolling_hash_fingerprint`` — xxhash-based,
    Spark-only, unit-tested.

    Scale: pure map-side (shingle → hash → sort a ≤doc-length array);
    fingerprint equality dedup then needs only one groupBy shuffle on a
    short string key.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles3(tokens_col(F.col("text")))
    hashes = F.array_sort(
        F.array_distinct(F.transform(sh, lambda x: F.substring(F.md5(x.cast("binary")), 1, 8)))
    )
    return docs.select(
        "doc_id",
        F.concat_ws("", F.slice(hashes, 1, BOTTOM_K)).alias("fingerprint"),
        F.size(F.array_distinct(sh)).cast("bigint").alias("n_shingles"),
    )


# ------------------------------------------------- n-gram Jaccard verify

def _dup_corpus_sql(*prefixes: str) -> str:
    """The corpus CTE of the near-dup queries: _dup_corpus's oracle
    side."""
    dups = "".join(
        f"""
            UNION ALL
            SELECT doc_id + {k * 1000000}, concat('{prefix}', text)
            FROM documents WHERE doc_id % 50 = 0"""
        for k, prefix in enumerate(prefixes, 1)
    )
    return f"""corpus AS (
            SELECT doc_id AS id, text FROM documents{dups}
        )"""


def _dup_corpus(docs: DataFrame, *prefixes: str) -> DataFrame:
    """The documents as (id, text) plus one injected dup generation
    per prefix: generation k copies every 50th doc with id doc_id +
    k·1000000 and the k-th prefix in front of its text."""
    corpus = docs.select(F.col("doc_id").alias("id"), "text")
    base50 = docs.filter(F.col("doc_id") % 50 == 0)
    for k, prefix in enumerate(prefixes, 1):
        corpus = corpus.unionAll(
            base50.select(
                (F.col("doc_id") + k * 1000000).alias("id"),
                F.concat(F.lit(prefix), F.col("text")).alias("text"),
            )
        )
    return corpus


@query(
    "neardup_ngram_jaccard",
    category="L2",
    oracle=f"""
        WITH {_dup_corpus_sql("dup prefix ")}, t AS (
            SELECT id, {_DUCK_TOKENS.replace("lower(text)", "lower(text)")} AS ws FROM corpus
        ), s AS (
            SELECT id, list_distinct({_DUCK_SHINGLES3}) AS sh FROM t
        ), pairs AS (
            SELECT doc_id AS id1, doc_id + 1000000 AS id2
            FROM documents WHERE doc_id % 50 = 0
            UNION ALL
            SELECT doc_id, doc_id + 1
            FROM documents WHERE doc_id % 97 = 0
              AND doc_id + 1 IN (SELECT doc_id FROM documents)
        )
        SELECT p.id1, p.id2,
               round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                     greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6)
                                                                    AS jaccard,
               CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)      AS n_common
        FROM pairs p JOIN s a ON p.id1 = a.id JOIN s b ON p.id2 = b.id
    """,
)
def neardup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for candidate pairs — the verification stage
    after MinHash-LSH candidate generation (`neardup_minhash_candidates`).
    Injected dups (every 50th doc + 'dup prefix ') score near 1; control
    pairs (adjacent docs) score near 0.

    Scale: Jaccard runs only on candidate pairs (LSH output), never all
    pairs; set sizes are doc-bounded so the join rows are small. Union
    size computed as |A|+|B|-|A∩B| to evaluate the intersection once.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = _dup_corpus(docs, "dup prefix ")
    s = corpus.select(
        "id", F.array_distinct(shingles3(tokens_col(F.col("text")))).alias("sh")
    )
    dup_pairs = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id1"), (F.col("doc_id") + 1000000).alias("id2")
    )
    ids = docs.select("doc_id")
    ctrl_pairs = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .join(ids.select((F.col("doc_id") - 1).alias("doc_id")), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("id1"), (F.col("doc_id") + 1).alias("id2"))
    )
    pairs = dup_pairs.unionAll(ctrl_pairs)
    a = s.select(F.col("id").alias("id1"), F.col("sh").alias("sh1"))
    b = s.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1",
            "id2",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
            inter.cast("bigint").alias("n_common"),
        )
    )


# --------------------------------------------------- embedding near-dup

@query(
    "neardup_embedding_cosine",
    category="L1",
    oracle="""
        WITH injected AS (
            SELECT vec_id + 100000 AS dup_id, vec_id AS src_id, embedding
            FROM embeddings WHERE vec_id % 25 = 0
        )
        SELECT i.dup_id, e.vec_id AS match_id,
               round(list_cosine_similarity(
                     CAST(i.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6)
                                                                    AS cos_sim
        FROM injected i JOIN embeddings e
          ON list_cosine_similarity(CAST(i.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])) >= 0.999
        ORDER BY dup_id, match_id
    """,
)
def neardup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: injected exact copies (every 25th
    vector, id+100000) matched back to the corpus at cosine ≥ 0.999.

    This oracle-checkable form brute-forces a small injected probe set
    against the corpus (a broadcast nested-loop: |probes| is tiny).
    The 100 TB path replaces the probe side with LSH sign-buckets
    (`ann_lsh_recall_probe`) so candidates are bucket-joined, never
    crossed.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    injected = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("dup_id"), F.col("vec").alias("qvec")
    )
    dot = F.aggregate(
        F.zip_with("vec", "qvec", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    cos = dot / (norm(F.col("vec")) * norm(F.col("qvec")))
    return (
        emb.join(F.broadcast(injected))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= 0.999)
        .select(
            "dup_id",
            F.col("vec_id").alias("match_id"),
            F.round("cos_sim_raw", 6).alias("cos_sim"),
        )
    )


# ------------------------------------------------------------- SimHash

SIMHASH_BITS = 24


def _duck_hex6_to_int(h: str) -> str:
    """DuckDB expression: first-6-hex-chars of md5 → int (0..2^24)."""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"({digits})"


@query(
    "simhash_hamming_pairs",
    category="L2",
    oracle=f"""
        WITH {_dup_corpus_sql("dup prefix ")}, tok AS (
            SELECT id, {_duck_hex6_to_int("substr(md5(t), 1, 6)")} AS th
            FROM corpus, unnest({_DUCK_TOKENS}) AS u(t)
        ), sig AS (
            SELECT id, {' + '.join(
                f"CASE WHEN sum(CASE WHEN (th // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) >= 0"
                f" THEN {1 << b}::BIGINT ELSE 0::BIGINT END"
                for b in range(SIMHASH_BITS)
            )} AS simhash
            FROM tok GROUP BY id
        )
        SELECT a.id AS id1, b.id AS id2,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON b.id = a.id + 1000000
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 24-bit signatures (md5-derived token hashes so
    DuckDB reproduces them bit-for-bit), Hamming distance between each
    injected dup and its source. The production 64-bit xxhash64 variant
    is ``operators.dedup.simhash64_signature`` (unit-tested).

    Scale: token explode + one hash agg per doc computing all bit votes
    in a single pass (24 conditional sums, one shuffle on doc id);
    pairing is an equi-join on id. Candidate generation at scale would
    band the signature (e.g. 4×6-bit keys) exactly like MinHash-LSH.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = _dup_corpus(docs, "dup prefix ")
    tok = corpus.select("id", F.explode(tokens_col(F.col("text"))).alias("t")).select(
        "id",
        F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 6), 16, 10)
        .cast("long")
        .alias("th"),
    )
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    sig_expr = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig_expr = bit if sig_expr is None else sig_expr + bit
    sig = tok.groupBy("id").agg(*votes).select("id", sig_expr.alias("simhash"))
    a = sig.select(F.col("id").alias("id1"), F.col("simhash").alias("s1"))
    b_ = sig.select(F.col("id").alias("id2"), F.col("simhash").alias("s2"))
    return (
        a.join(b_, F.col("id2") == F.col("id1") + 1000000)
        .select(
            "id1",
            "id2",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("bigint").alias("hamming"),
        )
    )


# ----------------------------------------------- rows-only extras (A3/P7)

@query(
    "agg_approx_count_distinct",
    category="A3",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS hll_within_5rsd
        FROM events
        GROUP BY event_type
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type (rsd
    2%), SELF-CERTIFYING: the sketch estimate is not hash-comparable
    across engines, so the query emits the exact distinct count plus
    a verdict that the HLL estimate landed within 5·rsd of it — the
    oracle states the exact counts and an all-TRUE verdict column, so
    a drifting sketch fails the hash (was rows-only through r3).

    Scale: HLL sketches merge in the partial agg — constant memory
    per group vs the expand+two-phase exact countDistinct; the exact
    twin here exists only to certify the estimate at test scale.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            (
                F.abs(
                    F.approx_count_distinct("user_id", 0.02).cast("double")
                    - F.count_distinct("user_id").cast("double")
                )
                <= 0.10 * F.count_distinct("user_id").cast("double")
            ).alias("hll_within_5rsd"),
        )
    )


@query(
    "sample_fraction",
    category="P7",
    oracle="""
        SELECT event_type, count(*) AS n_sampled
        FROM events
        WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '1999'
        GROUP BY event_type
    """,
)
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli row sample (~10%) with per-type counts, decided by a
    lexicographic md5 threshold on the row key (0x1999/0x10000 =
    9.999%) instead of rand(seed) — rand is deterministic only within
    one engine+partitioning, so the seeded form was rows-only through
    r3; the hash form re-selects the identical rows across engines,
    runs, and repartitionings (same idiom as sample_stratified_hash).

    Scale: a pure narrow map filter at the scan (no seed state, no
    shuffle until the count agg); audits can re-derive membership of
    any row from its key alone.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 4)
            < F.lit("1999")
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@query(
    "redact_pii",
    category="L5-redact",
    oracle="""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                  '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'
               ) AS redacted
        FROM (
            SELECT doc_id,
                   substr(text, 1, 40) || ' contact bob.smith+' || doc_id ||
                   '@corp.example.com from 10.1.' || (doc_id % 256) ||
                   '.7 or x@y.io' AS raw
            FROM documents
        )
    """,
)
def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training-corpus prep: scrub emails and IPv4
    addresses with anchored regexes (the Logstash `mutate gsub` /
    anonymize role).

    Deterministic PII is synthesized into the text so the oracle
    exercises real matches; both engines must agree on every
    replacement site. Pure narrow map over the scan — regexp_replace
    is JVM codegen, no UDF, no shuffle; at 100 TB this is
    scan-bandwidth-bound, which is the correct bottleneck.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact bob.smith+"),
        F.col("doc_id").cast("string"),
        F.lit("@corp.example.com from 10.1."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or x@y.io"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, email, "<EMAIL>"), ipv4, "<IP>"
        ).alias("redacted"),
    )


# ------------------------------------------- near-dup cluster assembly

# The near-dup cluster chain, oracle side (_neardup_clusters is the
# Spark side): the corpus with two injected dup generations, 3-gram
# shingle sets, the candidate pairs (each original with both of its
# dups), Jaccard >= 0.5 verification, and the connected components cc
# (id, cluster_id = min id in the component) by recursive
# reachability, so the query must open with WITH RECURSIVE.
_NEARDUP_CC_CTE = f"""{_dup_corpus_sql("dup prefix ", "dup prefix v2 ")}, t AS (
            SELECT id, {_DUCK_TOKENS} AS ws FROM corpus
        ), s AS (
            SELECT id, list_distinct({_DUCK_SHINGLES3}) AS sh FROM t
        ), cand AS (
            SELECT doc_id AS id1, doc_id + 1000000 AS id2
            FROM documents WHERE doc_id % 50 = 0
            UNION ALL
            SELECT doc_id, doc_id + 2000000
            FROM documents WHERE doc_id % 50 = 0
        ), verified AS (
            SELECT c.id1, c.id2
            FROM cand c JOIN s a ON c.id1 = a.id JOIN s b ON c.id2 = b.id
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
                  greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)
                  >= 0.5
        ), edges AS (
            SELECT id1 AS src, id2 AS dst FROM verified
            UNION
            SELECT id2, id1 FROM verified
        ), reach AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst, r.label FROM edges e JOIN reach r ON e.src = r.node
        ), cc AS (
            SELECT node AS id, min(label) AS cluster_id
            FROM reach GROUP BY node
        )"""


def _neardup_clusters(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus, cc) of _NEARDUP_CC_CTE: corpus (id, text) and the
    clustered ids cc (id, cluster_id). Components come from
    distributed min-label propagation (operators/graph.py) — log-
    diameter rounds of join+groupBy, no driver-side graph."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    base50 = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = _dup_corpus(docs, "dup prefix ", "dup prefix v2 ")
    s = corpus.select(
        "id", F.array_distinct(shingles3(tokens_col(F.col("text")))).alias("sh")
    )
    cand = base50.select(
        F.col("doc_id").alias("id1"), (F.col("doc_id") + 1000000).alias("id2")
    ).unionAll(
        base50.select(
            F.col("doc_id").alias("id1"), (F.col("doc_id") + 2000000).alias("id2")
        )
    )
    a = s.select(F.col("id").alias("id1"), F.col("sh").alias("sh1"))
    b = s.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    verified = (
        cand.join(a, "id1")
        .join(b, "id2")
        .filter(inter / F.greatest(union, F.lit(1)) >= 0.5)
        .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    cc = connected_components(verified, "src", "dst").select(
        "id", F.col("component").alias("cluster_id")
    )
    return corpus, cc


@query(
    "neardup_cluster_cc",
    category="L2-cc",
    oracle=f"""
        WITH RECURSIVE {_NEARDUP_CC_CTE}
        SELECT id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM cc
    """,
)
def neardup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assembly: candidate pairs (two injected dup
    generations of every 50th doc) are Jaccard-verified (>= 0.5), then
    connected components stitches transitive groups — original, dup-v1
    and dup-v2 share a cluster even though no direct v1~v2 pair was
    ever generated. cluster_id = min doc_id in the group (the natural
    "keep the canonical doc" dedup policy).

    The oracle replays the same graph with a recursive CTE; Spark runs
    distributed min-label propagation (operators/graph.py) — log-
    diameter rounds of join+groupBy, no driver-side graph.
    """
    _, cc = _neardup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return cc.withColumn("cluster_size", F.count("*").over(w))


@query(
    "fuzzy_match_levenshtein",
    category="L5-fuzzy",
    oracle="""
        SELECT a.n_name AS name1, b.n_name AS name2,
               levenshtein(a.n_name, b.n_name) AS dist
        FROM nation a JOIN nation b ON a.n_name < b.n_name
        WHERE levenshtein(a.n_name, b.n_name) <= 6
    """,
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching by edit distance (entity-resolution /
    typo-dedup primitive). Self-join restricted to ordered pairs;
    at scale the quadratic pair space must first be blocked (length
    bucket, first-char, or q-gram LSH) — the `a < b` pattern here is
    the in-block comparator.
    """
    n = load_table(spark, sf_dir, "nation").select("n_name")
    a = n.select(F.col("n_name").alias("name1"))
    b = n.select(F.col("n_name").alias("name2"))
    return (
        a.join(b, F.col("name1") < F.col("name2"))
        .withColumn("dist", F.levenshtein("name1", "name2"))
        .filter(F.col("dist") <= 6)
    )


@query(
    "neardup_dedup_end_to_end",
    category="L2-e2e",
    oracle=f"""
        WITH RECURSIVE {_NEARDUP_CC_CTE}, kept AS (
            SELECT corpus.id FROM corpus
            LEFT JOIN cc ON corpus.id = cc.id
            WHERE cc.id IS NULL OR cc.id = cc.cluster_id
        )
        SELECT (SELECT count(*) FROM corpus) AS n_before,
               count(*) AS n_after,
               (SELECT count(*) FROM corpus) - count(*) AS n_removed,
               CAST(sum(CASE WHEN id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_synth_kept
        FROM kept
    """,
)
def neardup_dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup DEDUP (the full corpus-prep chain in one
    query): shingle → candidate pairs → Jaccard verify → connected
    components → drop every cluster member except its canonical
    (min-id) doc, keep all unclustered docs. n_removed must equal the
    injected duplicate generations and no synthetic dup may survive —
    the oracle replays the identical pipeline with a recursive CTE.

    Composition reuses the exact building blocks of
    neardup_cluster_cc (same shingles, verification, distributed
    min-label propagation) and adds only the anti-join-style keep
    rule — demonstrating that the operator library composes into a
    one-plan dedup pass with no driver-side orchestration."""
    corpus, cc = _neardup_clusters(spark, sf_dir)
    kept = corpus.join(cc, corpus.id == cc.id, "left").filter(
        cc.id.isNull() | (cc.id == cc.cluster_id)
    ).select(corpus.id)
    tot = corpus.agg(F.count(F.lit(1)).alias("n_before"))
    out = kept.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum(F.when(F.col("id") >= 1000000, 1).otherwise(0)).alias("n_synth_kept"),
    )
    return tot.crossJoin(out).select(
        "n_before",
        "n_after",
        (F.col("n_before") - F.col("n_after")).alias("n_removed"),
        "n_synth_kept",
    )


# ------------------------------------------------- containment (quotes)

_DUCK_SHINGLES5 = (
    "CASE WHEN len(ws) >= 5 THEN list_transform(generate_series(1, len(ws) - 4),"
    " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])) ELSE [] END"
)


def shingles5(ws: Column) -> Column:
    """5-gram token shingles as an array (map-side only, no explode)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 4),
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
            F.element_at(ws, i + 3),
            F.element_at(ws, i + 4),
        ),
    )
    return F.when(F.size(ws) >= 5, grams).otherwise(F.array().cast("array<string>"))


@query(
    "containment_quote_pairs",
    category="L2-containment",
    oracle=f"""
        WITH base AS (
            SELECT doc_id AS id, {_DUCK_TOKENS} AS ws FROM documents
        ), corpus AS (
            SELECT id, ws FROM base
            UNION ALL
            SELECT id + 2000000, ws[1:12] FROM base WHERE id % 40 = 0
        ), s AS (
            SELECT id, list_distinct({_DUCK_SHINGLES5}) AS sh FROM corpus
        ), grams AS (
            SELECT DISTINCT id, unnest(sh) AS g FROM s
        ), rare AS (
            SELECT g FROM grams GROUP BY g
            HAVING count(*) BETWEEN 2 AND 8
        ), cand AS (
            SELECT DISTINCT a.id AS id1, b.id AS id2
            FROM grams a JOIN rare USING (g) JOIN grams b USING (g)
            WHERE a.id < b.id
        ), scored AS (
            SELECT id1, id2,
                   len(list_intersect(sa.sh, sb.sh)) * 1.0
                       / greatest(len(sa.sh), 1) AS c12,
                   len(list_intersect(sa.sh, sb.sh)) * 1.0
                       / greatest(len(sb.sh), 1) AS c21
            FROM cand JOIN s sa ON cand.id1 = sa.id
                      JOIN s sb ON cand.id2 = sb.id
        )
        SELECT id1, id2, round(c12, 6) AS cont_1_in_2,
               round(c21, 6) AS cont_2_in_1
        FROM scored
        WHERE greatest(c12, c21) >= 0.9
        ORDER BY id1, id2
    """,
)
def containment_quote_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT detection (|Sa∩Sb| / |Sa| over
    5-gram shingle sets): catches a document quoted/excerpted inside
    another even when symmetric Jaccard is tiny — the CCNet/Dolma-style
    complement to near-dup. Injected excerpts (first 12 tokens of every
    40th doc, id+2e6) score 1.0 in the contained direction.

    Discovery is RARE-GRAM BLOCKING, not a given pair list: a 5-gram
    with corpus df in [2, 8] nominates at most C(8,2) pairs, so
    candidate volume is bounded per gram and there is NEVER a doc×doc
    product; verification then intersects the two bounded shingle
    arrays per candidate. Scale: grams explode → df count (one token-
    keyed shuffle) → bucket self-join on rare grams only; stop-gram
    keys are excluded by the df cap itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(F.col("doc_id").alias("id"), tokens_col(F.col("text")).alias("ws"))
    corpus = base.unionAll(
        base.filter(F.col("id") % 40 == 0).select(
            (F.col("id") + 2000000).alias("id"), F.slice("ws", 1, 12).alias("ws")
        )
    )
    # persist: the shingle construction (tokenize + 5-wide concat per
    # element) feeds FOUR consumers (both gram branches of the self-
    # join + both verify sides) — without the cache Spark recomputes
    # it each time (measured 6.9 s -> ~2 s at sf0.01)
    s = corpus.select(
        "id", F.array_distinct(shingles5(F.col("ws"))).alias("sh")
    ).persist()
    # sh is already per-doc distinct, so the explode IS (id, g)-distinct:
    # no dedup shuffle needed (the oracle's DISTINCT is a no-op too)
    grams = s.select("id", F.explode("sh").alias("g"))
    rare = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 8))
        .select("g")
    )
    ga = grams.join(rare, "g").select("g", F.col("id").alias("id1"))
    gb = grams.join(rare, "g").select("g", F.col("id").alias("id2"))
    cand = (
        ga.join(gb, "g")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    sa = s.select(F.col("id").alias("id1"), F.col("sh").alias("sh1"))
    sb = s.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    c12 = inter / F.greatest(F.size("sh1"), F.lit(1))
    c21 = inter / F.greatest(F.size("sh2"), F.lit(1))
    return (
        cand.join(sa, "id1")
        .join(sb, "id2")
        .select(
            "id1",
            "id2",
            F.round(c12, 6).alias("cont_1_in_2"),
            F.round(c21, 6).alias("cont_2_in_1"),
            F.greatest(c12, c21).alias("_best"),
        )
        .filter(F.col("_best") >= 0.9)
        .drop("_best")
    )


@query(
    "curriculum_ordering_stages",
    category="L-curriculum",
    oracle="""
        WITH sig AS (
            SELECT doc_id, lang,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(string_split(text, ' ')) AS BIGINT)
                       AS n_toks,
                   CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab
            FROM (
                SELECT doc_id, lang, text,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            GROUP BY doc_id, lang, text
        ), scored AS (
            SELECT doc_id, lang, n_chars, n_toks,
                   -- difficulty: longer docs with richer vocab are
                   -- harder; exact integer score to keep the order
                   -- total and cross-engine identical
                   n_chars * 1000 + n_vocab AS difficulty
            FROM sig
        ), ranked AS (
            SELECT *, row_number() OVER (
                       ORDER BY difficulty, doc_id) AS r,
                   count(*) OVER () AS n
            FROM scored
        ), staged AS (
            SELECT *,
                   CASE WHEN r <= (n % 10) * ((n // 10) + 1)
                        THEN CAST(ceil(r * 1.0 / ((n // 10) + 1))
                                  AS BIGINT)
                        ELSE (n % 10) + CAST(ceil(
                             (r - (n % 10) * ((n // 10) + 1)) * 1.0
                             / (n // 10)) AS BIGINT)
                   END AS stage
            FROM ranked
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(difficulty) AS BIGINT) AS min_difficulty,
               CAST(max(difficulty) AS BIGINT) AS max_difficulty,
               CAST(sum(n_toks) AS BIGINT) AS stage_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM staged
        GROUP BY stage ORDER BY stage
    """,
)
def curriculum_ordering_stages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURRICULUM ORDERING for training data — rank every document by
    an exact-integer difficulty score (chars·1000 + distinct-token
    vocabulary: longer, lexically richer documents are harder) and
    cut the corpus into 10 equal-population curriculum stages, easy
    to hard — the schedule a curriculum-learning run feeds its data
    loader, with per-stage token budgets and language coverage so the
    mix is auditable before training starts.

    Scale: the difficulty rank is operators/ranking.exact_global_rank
    (range-bucketed — no single-partition window over the corpus; the
    oracle's global row_number is the reference semantics), and the
    stage comes from the exact SQL ntile fill formula on that rank
    (the agg_decile_equidepth construction, bit-identical for any
    bucket-boundary choice). Signals are one explode→groupBy pass.
    """
    from ..operators.ranking import exact_global_rank, ntile_from_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    sig = toks.groupBy("doc_id", "lang", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"),
        F.count_distinct("tok").cast("long").alias("n_vocab"),
    )
    scored = sig.select(
        "doc_id", "lang", "n_toks",
        (F.col("n_chars") * 1000 + F.col("n_vocab")).alias("difficulty"),
    )
    ranked, total = exact_global_rank(
        scored, ["difficulty", "doc_id"], rank_col="r", with_total=True
    )
    staged = ranked.withColumn(
        "stage", ntile_from_rank(F.col("r"), total, 10).cast("long")
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("difficulty").cast("long").alias("min_difficulty"),
            F.max("difficulty").cast("long").alias("max_difficulty"),
            F.sum("n_toks").cast("long").alias("stage_tokens"),
            F.count_distinct("lang").cast("long").alias("n_langs"),
        )
    )
