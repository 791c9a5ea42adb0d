"""Long-tail SQL surface (NEXT.md item 5) and LLM corpus-prep
operators: QUALIFY-style window filters, full outer joins,
regexp_extract_all, correlated scalar subqueries, TPC-H Q7/Q21
shapes, Gopher-style repetition metrics, benchmark contamination,
C4-style global span dedup, train/test splitting, int8 embedding
quantization, PNG/WAV multimodal header parsing, Misra-Gries heavy
hitters, dynamic-gap session windows.

Shuffle discipline throughout: text is scanned ONCE per query (tag
multiple gram kinds into one exploded stream rather than branching),
per-document metrics reduce on doc_id with map-side combine, and
corpus-global operations (contamination, span dedup) shuffle only
gram/span keys — never document pairs, never a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.spread import spread_to_cores
from ..registry import query
from ..streaming.stateful import grouped_fold


@query(
    "qualify_window_filter",
    category="4.1-qualify",
    oracle="""
        SELECT c_nationkey, c_custkey, c_acctbal
        FROM customer
        QUALIFY row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) <= 2
    """,
)
def qualify_window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-dialect window filter (top-2 customers by balance per
    nation). Spark has no QUALIFY keyword; the subquery-with-filter
    rewrite below is plan-identical to what QUALIFY engines produce:
    one Window over nationkey-hash partitioning, filter folded above
    it, rank column pruned from the output."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


@query(
    "join_full_outer_daily_activity",
    category="J3-full",
    oracle="""
        WITH o AS (
            SELECT time_bucket(INTERVAL 1 day, o_orderdate) AS day,
                   count(*) AS n_orders
            FROM orders GROUP BY day
        ), e AS (
            SELECT time_bucket(INTERVAL 1 day, ts) AS day,
                   count(*) AS n_events
            FROM events GROUP BY day
        )
        SELECT coalesce(o.day, e.day) AS day, o.n_orders, e.n_events
        FROM o FULL OUTER JOIN e ON o.day = e.day
    """,
)
def join_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two daily aggregates (orders 1992-1998 vs
    events 2024 — deliberately disjoint date ranges so both null
    sides are exercised). Aggregate-then-join: each side collapses to
    ~thousands of rows before the join, so at 100 TB the outer join
    shuffles kilobytes, not the fact tables."""
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    o = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    e = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return o.join(e, on="day", how="full").select(
        # unqualified "day" after how="full" USING-join is already
        # coalesced by Spark; select it explicitly for the contract
        "day",
        "n_orders",
        "n_events",
    )


@query(
    "regexp_extract_all_tokens",
    category="2.8-regex",
    oracle=r"""
        WITH m AS (
            SELECT unnest(regexp_extract_all(text, '[a-z]{5,}')) AS tok
            FROM documents
        )
        SELECT tok, count(*) AS n
        FROM m GROUP BY tok HAVING count(*) > 50
    """,
)
def regexp_extract_all_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all → explode → frequency table (all ≥5-letter
    tokens seen more than 50 times). The extract runs inside
    whole-stage codegen on the scan; only (token, partial count)
    pairs reach the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all("text", F.lit(r"[a-z]{5,}"), 0)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 50)
    )


_GOPHER_ORACLE = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), words AS (
        SELECT doc_id, w, count(*) AS c
        FROM toks, unnest(tk) AS u(w)
        GROUP BY doc_id, w
    ), wstats AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(max(c) AS BIGINT) AS topc,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupc
        FROM words GROUP BY doc_id
    ), bigrams AS (
        SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg
        FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
    ), bcnt AS (
        SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY doc_id, bg
    ), bstats AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupb
        FROM bcnt GROUP BY doc_id
    )
    SELECT w.doc_id,
           w.n_tokens,
           round(CAST(topc AS DOUBLE) / n_tokens, 6) AS top_word_frac,
           round(CAST(dupc AS DOUBLE) / n_tokens, 6) AS dup_word_frac,
           round(CAST(dupb AS DOUBLE) / n_bigrams, 6) AS dup_bigram_frac,
           (CAST(topc AS DOUBLE) / n_tokens <= 0.20
            AND CAST(dupc AS DOUBLE) / n_tokens <= 0.80
            AND CAST(dupb AS DOUBLE) / n_bigrams <= 0.50) AS keep
    FROM wstats w JOIN bstats b ON w.doc_id = b.doc_id
"""


@query("gopher_repetition_quality", category="L5-quality", oracle=_GOPHER_ORACLE)
def gopher_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 repetition filters, word-level): most-frequent-word fraction,
    duplicated-word fraction, duplicated-bigram fraction, and the
    keep/drop gate a corpus-prep pipeline applies before training.

    Columnar, SINGLE-scan construction: unigrams and zip_with-built
    bigrams are tagged and exploded as ONE stream, counted per
    (doc_id, kind, gram) — map-side combinable — then rolled up per
    doc with conditional aggregates. The per-doc rollup needs no
    second Exchange (its key is a subset of the count's partitioning)
    and no join: one text scan, one shuffle of (gram, partial count)
    pairs, versus the naive two-branch plan that scans and shuffles
    the corpus twice (plan pinned in `PLANS.md` at commit `95c524d`)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    tagged = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat("
                " transform(tk, x -> struct('w' as kind, x as g)),"
                " transform(zip_with(slice(tk, 1, size(tk) - 1),"
                "                    slice(tk, 2, size(tk) - 1),"
                "                    (a, b) -> concat(a, ' ', b)),"
                "           x -> struct('b' as kind, x as g)))"
            )
        ).alias("kg"),
    ).select("doc_id", F.col("kg.kind").alias("kind"), F.col("kg.g").alias("g"))
    counts = tagged.groupBy("doc_id", "kind", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    is_w = F.col("kind") == "w"
    is_b = F.col("kind") == "b"
    dup = F.col("c") > 1
    stats = counts.groupBy("doc_id").agg(
        F.sum(F.when(is_w, F.col("c")).otherwise(0)).alias("n_tokens"),
        F.max(F.when(is_w, F.col("c"))).alias("topc"),
        F.sum(F.when(is_w & dup, F.col("c")).otherwise(0)).alias("dupc"),
        F.sum(F.when(is_b, F.col("c")).otherwise(0)).alias("n_bigrams"),
        F.sum(F.when(is_b & dup, F.col("c")).otherwise(0)).alias("dupb"),
    )
    top_frac = F.col("topc").cast("double") / F.col("n_tokens")
    dup_frac = F.col("dupc").cast("double") / F.col("n_tokens")
    dupb_frac = F.col("dupb").cast("double") / F.col("n_bigrams")
    return stats.filter(F.col("n_bigrams") > 0).select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(dup_frac, 6).alias("dup_word_frac"),
        F.round(dupb_frac, 6).alias("dup_bigram_frac"),
        ((top_frac <= 0.20) & (dup_frac <= 0.80) & (dupb_frac <= 0.50)).alias(
            "keep"
        ),
    )


_CONTAM_ORACLE = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS g
        FROM toks, unnest(generate_series(1, len(tk) - 4)) AS s(i)
    ), corpus AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 50 <> 0
    ), bench AS (
        SELECT doc_id, g FROM grams WHERE doc_id % 50 = 0
    )
    SELECT b.doc_id,
           count(*) AS n_grams,
           CAST(count(c.g) AS BIGINT) AS n_hits,
           round(CAST(count(c.g) AS DOUBLE) / count(*), 6) AS contamination_frac
    FROM bench b LEFT JOIN corpus c ON b.g = c.g
    GROUP BY b.doc_id
"""


@query("contamination_ngram_overlap", category="L5-contamination", oracle=_CONTAM_ORACLE)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check via 5-gram overlap (the
    GPT-3/PaLM decontamination recipe): every 50th document plays the
    held-out benchmark; for each, the fraction of its distinct word
    5-grams that appear anywhere in the rest of the corpus.

    Scale shape: shingles are built scan-side (dynamic-slice
    transform, codegen); ONE aggregation hash-partitioned by gram
    carries both sides — per gram, the benchmark docs containing it
    (a bounded set, benchmarks are small by definition) and a
    corpus-presence flag — so the corpus text is scanned once and no
    doc×doc or gram-join materializes. Never a cross join."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 4),"
                "          i -> array_join(slice(tk, i, 5), ' '))"
            )
        ).alias("g"),
    ).distinct()
    # One aggregation keyed by gram replaces the corpus-distinct +
    # bench-vs-corpus join: per gram, the set of benchmark docs that
    # contain it (bounded — the benchmark is small by definition) and
    # a corpus-presence flag. Single scan, shuffles carry grams once.
    is_bench = F.col("doc_id") % 50 == 0
    per_gram = grams.groupBy("g").agg(
        F.collect_set(F.when(is_bench, F.col("doc_id"))).alias("bdocs"),
        F.max(F.when(~is_bench, 1).otherwise(0)).alias("in_corpus"),
    )
    hits = per_gram.select(F.explode("bdocs").alias("doc_id"), "in_corpus")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("in_corpus").alias("n_hits"),
        F.round(F.sum("in_corpus") / F.count(F.lit(1)), 6).alias(
            "contamination_frac"
        ),
    )


@query(
    "train_test_split_hash",
    category="L-split",
    oracle="""
        WITH tagged AS (
            SELECT doc_id, n_chars,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        )
        SELECT split, count(*) AS n_docs,
               round(avg(n_chars), 4) AS avg_chars,
               min(doc_id) AS min_doc, max(doc_id) AS max_doc
        FROM tagged GROUP BY split
    """,
)
def train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 train/test split by md5(doc_id) prefix —
    the reproducible, shuffle-free alternative to randomSplit for
    corpus preparation: assignment is a pure projection (stable
    across runs, engines, and repartitioning), so the split can be
    recomputed anywhere without storing membership lists."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        "n_chars",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cc", "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "tablesample_repeatable",
    category="O-sample",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '1800'
        GROUP BY event_type
    """,
)
def tablesample_repeatable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeatable CLUSTER sampling through the SQL surface: sample
    whole user_id clusters (every row of a sampled user, ~9.375% of
    users via the md5 < '1800' threshold) rather than independent
    rows — the survey-sampling design that keeps per-entity sequences
    intact for downstream sessionization/funnels. Replaces the r3
    `TABLESAMPLE ... REPEATABLE` form, whose Bernoulli stream is
    engine-specific and was therefore rows-only; the hash threshold
    re-selects identical clusters across engines and runs (the
    row-level Bernoulli twin is sample_fraction).

    Scale: pure scan-side filter on a hash of the cluster key — no
    seed state, no shuffle before the agg, and any audit re-derives
    cluster membership from the key alone."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_ts_events")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               count(DISTINCT user_id) AS n_users
        FROM _ts_events
        WHERE substring(md5(CAST(user_id AS STRING)), 1, 4) < '1800'
        GROUP BY event_type
        """
    )


@query(
    "subquery_correlated_scalar",
    category="4.1-decorrelation",
    oracle="""
        SELECT p.p_partkey, p.p_brand, p.p_retailprice
        FROM part p
        WHERE p.p_retailprice > 1.05 * (
            SELECT avg(p2.p_retailprice) FROM part p2
            WHERE p2.p_brand = p.p_brand
        )
    """,
)
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED scalar subquery (parts priced >1.05x their brand's
    average). Catalyst's RewriteCorrelatedScalarSubquery decorrelates
    this into aggregate-then-join on p_brand — one extra aggregation
    pass instead of a per-row re-scan, which is the only viable plan
    at 100 TB. Pairs with subquery_scalar_above_avg (uncorrelated)."""
    part = load_table(spark, sf_dir, "part")
    part.createOrReplaceTempView("_corr_part")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, p.p_retailprice
        FROM _corr_part p
        WHERE p.p_retailprice > 1.05 * (
            SELECT avg(p2.p_retailprice) FROM _corr_part p2
            WHERE p2.p_brand = p.p_brand
        )
        """
    )


_PNG_ORACLE = """
    WITH meta AS (
        SELECT doc_id,
               64 + (doc_id % 8) * 16 AS width,
               48 + (doc_id % 5) * 16 AS height,
               29 + octet_length(CAST(text AS BLOB)) AS nbytes
        FROM documents
    )
    SELECT 'image/png' AS mime,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           count(*) AS n,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM meta GROUP BY width, height
"""


@query("multimodal_png_header_parse", category="L6-multimodal", oracle=_PNG_ORACLE)
def multimodal_png_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 multimodal metadata path, oracle-checked end to end: build a
    REAL PNG byte stream per document (magic + IHDR with
    doc_id-derived width/height + the text as payload) with pure
    codegen (unhex/concat of binary), then run the production
    pipeline — sniff_mime (magic-byte Column expr) → parse_headers
    (Arrow-batched mapInPandas byte slicing) — and aggregate the
    parsed metadata. The oracle recomputes width/height/byte-length
    arithmetically, so any drift in construction, sniffing, or header
    parsing breaks the hash. Bytes never shuffle: the only exchange
    carries (mime, width, height, bit_depth) partial aggregates."""
    from ..operators.multimodal import parse_headers, sniff_mime

    docs = load_table(spark, sf_dir, "documents")
    width = (F.lit(64) + (F.col("doc_id") % 8) * 16).cast("int")
    height = (F.lit(48) + (F.col("doc_id") % 5) * 16).cast("int")
    header_hex = F.concat(
        F.lit("89504E470D0A1A0A"),           # PNG magic
        F.lit("0000000D49484452"),           # IHDR chunk length + tag
        F.lpad(F.hex(width), 8, "0"),        # width  (big-endian u32)
        F.lpad(F.hex(height), 8, "0"),       # height (big-endian u32)
        F.lit("0806000000"),                 # depth=8, rgba, default flags
    )
    media = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        F.concat(F.unhex(header_hex), F.col("text").cast("binary")).alias("content"),
    ).withColumn("length", F.length("content").cast("long"))
    parsed = parse_headers(sniff_mime(media))
    return parsed.groupBy("mime", "width", "height", "bit_depth").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("length").alias("sum_bytes"),
    )


_WAV_ORACLE = """
    WITH meta AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels,
               CASE doc_id % 3 WHEN 0 THEN 8000
                               WHEN 1 THEN 16000 ELSE 44100 END AS sample_rate,
               36 + octet_length(CAST(text AS BLOB)) AS nbytes
        FROM documents
    )
    SELECT 'audio/wav' AS mime,
           CAST(channels AS INT) AS channels,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(16 AS INT) AS bit_depth,
           count(*) AS n,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM meta GROUP BY channels, sample_rate
"""


@query("multimodal_wav_header_parse", category="L6-multimodal", oracle=_WAV_ORACLE)
def multimodal_wav_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 audio twin of multimodal_png_header_parse: synthesize RIFF/
    WAVE headers (little-endian fmt chunk — the opposite byte order
    from PNG, so both unpack paths in operators/multimodal.py are
    under oracle check) with doc_id-derived channels/sample-rate,
    parse them back through sniff_mime + parse_headers, aggregate.

    Little-endian u16/u32 hex is built by byte-swapping lpad(hex(x))
    pairs — still pure codegen."""
    from ..operators.multimodal import parse_headers, sniff_mime

    docs = load_table(spark, sf_dir, "documents")
    channels = F.when(F.col("doc_id") % 2 == 0, 1).otherwise(2).cast("int")
    rate = (
        F.when(F.col("doc_id") % 3 == 0, 8000)
        .when(F.col("doc_id") % 3 == 1, 16000)
        .otherwise(44100)
        .cast("int")
    )

    def le16(col):  # u16 -> little-endian hex
        h = F.lpad(F.hex(col), 4, "0")
        return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))

    def le32(col):  # u32 -> little-endian hex
        h = F.lpad(F.hex(col), 8, "0")
        return F.concat(
            F.substring(h, 7, 2), F.substring(h, 5, 2),
            F.substring(h, 3, 2), F.substring(h, 1, 2),
        )

    header_hex = F.concat(
        F.lit("52494646"),          # 'RIFF'
        le32(F.length("text") + 28),  # riff size (rest of file)
        F.lit("57415645"),          # 'WAVE'
        F.lit("666D7420"),          # 'fmt '
        F.lit("10000000"),          # fmt chunk size = 16 (LE)
        F.lit("0100"),              # PCM (LE u16)
        le16(channels),             # offset 22: channels
        le32(rate),                 # offset 24: sample rate
        le32(rate * channels * 2),  # byte rate
        le16(channels * 2),         # block align
        le16(F.lit(16)),            # offset 34: bits per sample
    )
    media = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        F.concat(F.unhex(header_hex), F.col("text").cast("binary")).alias("content"),
    ).withColumn("length", F.length("content").cast("long"))
    parsed = parse_headers(sniff_mime(media))
    return parsed.groupBy("mime", "channels", "sample_rate", "bit_depth").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("length").alias("sum_bytes"),
    )


@query(
    "heavy_hitters_tokens",
    category="A-heavyhitters",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ), tot AS (SELECT count(*) AS n FROM toks)
        SELECT tok, count(*) AS exact_count, TRUE AS mg_survived
        FROM toks, tot
        GROUP BY tok, tot.n
        HAVING count(*) > tot.n / 64.0
    """,
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent tokens over the exploded document corpus,
    SELF-CERTIFYING: MG estimates are run-shape-dependent
    underestimates (not hash-comparable), so the query emits the
    tokens whose EXACT count exceeds the MG survival threshold N/k (k=64; the synthetic corpus is near-uniform, so N/16 selects nothing)
    together with a verdict that each is present in the merged MG
    summary — the no-false-negatives guarantee (Misra & Gries 1982)
    stated as data. The oracle lists the same exact-count heavy
    hitters with an all-TRUE verdict; a sketch that drops a
    guaranteed survivor fails the hash (was rows-only through r3).

    Scale story vs exact token counting: executor memory O(k) and a
    summary-only shuffle (k rows/partition), instead of shuffling one
    row per distinct token — the difference between a bounded sketch
    and an unbounded wide agg at 100 TB vocabulary sizes. The exact
    join side here exists to certify the guarantee at test scale."""
    from ..operators.heavyhitters import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    mg = heavy_hitters(toks, "tok", k=64).withColumnRenamed("item", "tok")
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    n_total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    hot = exact.join(F.broadcast(n_total)).filter(
        F.col("exact_count") > F.col("n_total") / 64.0
    )
    return hot.join(mg, "tok", "left").select(
        "tok",
        "exact_count",
        F.col("est_count").isNotNull().alias("mg_survived"),
    )


_Q7_ORACLE = """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
"""


@query("join_multiway_tpch_q7_shape", category="J2-q7", oracle=_Q7_ORACLE)
def join_multiway_tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): 6-table join restricted to an
    ordered nation PAIR in either direction, revenue by (supplier
    nation, customer nation, ship year).

    Scale: both nation dims broadcast with their name filters pushed
    into the broadcast side, so the OR-of-pairs predicate prunes
    before the fact join; revenue uses the scaled-bigint exact sum
    (post-join double SUM is order-dependent otherwise)."""
    from ..functions.exact import exact_money_sum

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        exact_money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


_Q21_ORACLE = """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
"""


@query("subquery_tpch_q21_shape", category="4.1-q21", oracle=_Q21_ORACLE)
def subquery_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this schema's columns: per supplier, count 'F' orders where their
    line returned 'R' while the order had other suppliers (EXISTS)
    and none of those others returned 'R' (NOT EXISTS) — the classic
    double-correlated subquery pair on the same fact table.

    Catalyst plans the pair as a left-semi plus a null-safe left-anti
    join against lineitem keyed on l_orderkey — two hash joins, no
    per-row re-execution; DuckDB reaches the same decorrelation, so
    the oracle runs the identical algebra."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    for name, df in (("supplier", supp), ("lineitem", li), ("orders", orders)):
        df.createOrReplaceTempView(f"_q21_{name}")
    return spark.sql(
        """
        SELECT s.s_name, count(*) AS numwait
        FROM _q21_supplier s
        JOIN _q21_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN _q21_orders o    ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM _q21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM _q21_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        """
    )


_INT8_ORACLE = """
    WITH pervec AS (
        SELECT vec_id, label,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
               list_sum(list_transform(embedding, x ->
                   CAST(floor(
                       pow(CAST(x AS DOUBLE)
                           - floor(CAST(x AS DOUBLE)
                                   / (list_max(list_transform(embedding,
                                       y -> abs(CAST(y AS DOUBLE)))) / 127.0)
                                   + 0.5)
                             * (list_max(list_transform(embedding,
                                 y -> abs(CAST(y AS DOUBLE)))) / 127.0),
                           2) * 1e15 + 0.5) AS BIGINT))) AS err2_scaled
        FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           round(CAST(sum(CAST(floor(scale * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1e12, 9) AS avg_scale,
           round(CAST(sum(err2_scaled) AS DOUBLE)
                 / (count(*) * 64) / 1e15, 12) AS mse
    FROM pervec GROUP BY label
"""


@query("embedding_int8_quantize", category="L4-quantize", oracle=_INT8_ORACLE)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (scale = max|x|/127
    per vector — the faiss/sentence-transformers recipe, 4x smaller
    than float32) with reconstruction-error accounting per label.

    Exactness discipline: per-element squared error is a pure IEEE
    expression (bit-identical across engines), scaled to bigint
    per element and summed with integer folds — so the cross-engine
    hash is exact despite float accumulation being order-dependent.
    All array math is codegen (`transform`/`aggregate` folds); at
    100 TB this is a pure map stage plus one label-keyed agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = (
        F.expr(
            "aggregate(transform(embedding, x -> abs(cast(x as double))),"
            " cast(0 as double), (a, b) -> greatest(a, b))"
        )
        / 127.0
    )
    pervec = emb.select(
        "label",
        "embedding",
        scale.alias("scale"),
    ).withColumn(
        "err2_scaled",
        F.expr(
            "aggregate(transform(embedding, x ->"
            "  cast(floor(pow(cast(x as double)"
            "      - floor(cast(x as double) / scale + 0.5) * scale, 2)"
            "      * 1e15 + 0.5) as bigint)),"
            " cast(0 as bigint), (a, b) -> a + b)"
        ),
    )
    return pervec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.floor(F.col("scale") * 1e12 + 0.5).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e12,
            9,
        ).alias("avg_scale"),
        F.round(
            F.sum("err2_scaled").cast("double") / (F.count(F.lit(1)) * 64) / 1e15,
            12,
        ).alias("mse"),
    )


_DYNGAP_ORACLE = """
    WITH g AS (
        SELECT user_id, ts, event_type,
               epoch_us(ts) + CASE WHEN event_type = 'error'
                                   THEN 600000000 ELSE 1800000000 END AS end_us
        FROM events
    ), flagged AS (
        SELECT user_id, ts, end_us,
               CASE WHEN max(end_us) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND 1 PRECEDING) IS NULL
                         OR epoch_us(ts) >= max(end_us) OVER (
                               PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_s
        FROM g
    ), sess AS (
        SELECT user_id, ts, end_us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           make_timestamp(max(end_us)) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
"""


@query("session_window_dynamic_gap", category="T3-dynamic", oracle=_DYNGAP_ORACLE)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` with a PER-EVENT gap expression
    (errors close after 10 minutes, everything else after 30) —
    the dynamic-gap variant of T3 that fixed-gap reconstructions
    can't express with a simple lag test.

    The oracle pins the merge semantics independently: an event joins
    the current session iff its start precedes the running MAX of
    previous members' (ts + own_gap) — intervals merged end-exclusive
    — and session_end is the max member end, not last_ts + constant.
    Same plan shape as fixed-gap: one hash shuffle by user, sorted
    session assembly; streaming reuses the identical expression."""
    ev = load_table(spark, sf_dir, "events")
    # session_window's dynamic gap requires CalendarIntervalType;
    # INTERVAL literals parse as DayTimeInterval, so build via
    # make_interval (mins arg is position 6)
    gap = F.expr(
        "CASE WHEN event_type = 'error' THEN make_interval(0, 0, 0, 0, 0, 10, 0)"
        " ELSE make_interval(0, 0, 0, 0, 0, 30, 0) END"
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


_LINE_DEDUP_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), chunks AS (
        SELECT doc_id, i.i AS chunk_no,
               array_to_string(tk[(i.i*16+1):(i.i*16+16)], ' ') AS chunk
        FROM toks,
             unnest(generate_series(0, CAST(ceil(len(tk)/16.0) AS INT) - 1))
                 AS i(i)
    ), ranked AS (
        SELECT doc_id, chunk_no, chunk,
               row_number() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, chunk_no) AS occ
        FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_kept,
           string_agg(chunk, ' ' ORDER BY chunk_no) AS text_dedup
    FROM ranked WHERE occ = 1
    GROUP BY doc_id
"""


@query("line_dedup_reassemble", category="L1-linededup", oracle=_LINE_DEDUP_ORACLE)
def line_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-global span dedup: split every
    document into 16-token spans, keep only the FIRST occurrence of
    each span across the whole corpus (first = lowest (doc_id,
    position) — deterministic), and reassemble each document from its
    surviving spans in order. Documents reduced to zero spans drop
    out, exactly like C4's duplicated-line removal.

    Scale shape: chunking is posexplode inside codegen (no shuffle);
    global keep-first is ONE window partitioned by span text (the
    dedup-key shuffle — span hashes at 100 TB); reassembly groups by
    doc with an ordered string_agg. No joins, no cross-document
    comparison beyond the span-key hash partition."""
    from ..functions.chunking import chunk_text_columnar
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_text_columnar(docs, "text", 16, ["doc_id"])
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_no")
    kept = chunks.withColumn("occ", F.row_number().over(w)).filter(
        F.col("occ") == 1
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct(F.col("chunk_no"), F.col("chunk")))
            ).getField("chunk"),
            " ",
        ).alias("text_dedup"),
    )


_URL_CANON_ORACLE = """
    WITH urls AS (
        SELECT event_id,
               'HTTPS://Shop.Example.COM/' || event_type
               || '?utm_source=mail&id=' || CAST(user_id % 40 AS VARCHAR)
               || '&ref=' || CAST(event_id % 3 AS VARCHAR) || '#frag'
                   AS raw_url,
               event_type, user_id % 40 AS uid
        FROM events
    )
    SELECT 'https://shop.example.com/' || event_type
           || '?id=' || CAST(uid AS VARCHAR) AS canon_url,
           count(*) AS n_raw,
           count(DISTINCT raw_url) AS n_distinct_raw
    FROM urls
    GROUP BY canon_url
"""


@query("url_canonicalize_dedup", category="L1-urlcanon", oracle=_URL_CANON_ORACLE)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization + dedup (the step before
    any web-corpus fetch/dedup): lowercase scheme+host, strip the
    fragment and tracking params (utm_*, ref), keep semantic params —
    then count raw variants collapsing onto each canonical URL.

    All regexp_replace/lower chains in codegen; the oracle constructs
    the expected canonical form directly from the source fields, so
    the transform chain (not just the group-count) is under hash."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("HTTPS://Shop.Example.COM/"),
        F.col("event_type"),
        F.lit("?utm_source=mail&id="),
        (F.col("user_id") % 40).cast("string"),
        F.lit("&ref="),
        (F.col("event_id") % 3).cast("string"),
        F.lit("#frag"),
    )
    canon = raw
    canon = F.regexp_replace(canon, r"#.*$", "")            # fragment
    canon = F.regexp_replace(canon, r"(utm_[a-z]+|ref)=[^&]*&?", "")  # trackers
    canon = F.regexp_replace(canon, r"[?&]$", "")           # dangling sep
    # lowercase scheme+host only (path/query may be case-sensitive)
    canon = F.concat(
        F.lower(F.regexp_extract(canon, r"^([a-zA-Z]+://[^/]+)", 1)),
        F.regexp_extract(canon, r"^[a-zA-Z]+://[^/]+(.*)$", 1),
    )
    return (
        ev.select(raw.alias("raw_url"), canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("raw_url").alias("n_distinct_raw"),
        )
    )


@query(
    "sliding_distinct_users",
    category="T2-distinct",
    oracle="""
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                   - k.k * INTERVAL '15 minutes' AS window_start,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events, (SELECT unnest(range(4)) AS k) k
        GROUP BY window_start
    """,
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per sliding 1h/15m window — the 'active users in
    the trailing hour, refreshed every 15 minutes' dashboard query.
    COUNT DISTINCT under overlapping windows via Spark's window()
    expansion (each event expands to its 4 covering windows BEFORE
    the distinct aggregation — Catalyst plans the standard two-phase
    expand+distinct, partials map-side). At 100 TB swap the exact
    distinct for approx_count_distinct per window (same plan minus
    the expand-for-distinct blowup) — the approx twin is
    agg_approx_count_distinct."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_users", "n_events")
    )


@query(
    "interval_arithmetic_suite",
    category="2.8-interval",
    oracle="""
        SELECT event_id,
               ts + INTERVAL '90 minutes'  AS plus_90m,
               ts - INTERVAL '2 days'      AS minus_2d,
               date_diff('day', ts, TIMESTAMP '2024-02-01 00:00:00')
                   AS days_to_feb,
               time_bucket(INTERVAL '7 days', ts, TIMESTAMP '2024-01-01 00:00:00')
                   AS week_start,
               ts + INTERVAL '1 month'     AS plus_1mo,
               CAST(date_trunc('day', ts) + INTERVAL '1 day'
                    - INTERVAL '1 microsecond' AS TIMESTAMP) AS day_end
        FROM events WHERE event_id < 2000
    """,
)
def interval_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic family (§2.8 date/time): timestamp ± fixed
    intervals, day-boundary diff to an anchor, 7-day bucketing
    anchored at the epoch of the dataset, calendar-month addition
    (month-end clamping semantics agree across engines), and
    end-of-day construction. All constant-folded codegen projections.

    Oracle notes: Spark datediff() counts DATE boundaries =
    DuckDB date_diff('day'); week bucketing anchored explicitly since
    the engines' default week origins differ."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    anchor = F.lit("2024-02-01 00:00:00").cast("timestamp")
    return ev.select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("plus_90m"),
        (F.col("ts") - F.expr("INTERVAL 2 DAYS")).alias("minus_2d"),
        # cast to long: DuckDB date_diff returns BIGINT while Spark
        # datediff returns INT — keep result dtypes identical (ADVICE r1)
        F.datediff(anchor, F.col("ts")).cast("long").alias("days_to_feb"),
        # 7-day buckets anchored at 2024-01-01: explicit integer math
        # (native window() anchors at the 1970 epoch, 4 days off this
        # grid; an origin-anchored bucket is clearer than a startTime
        # offset and matches DuckDB time_bucket's origin argument)
        F.expr(
            "timestamp_micros(unix_micros(timestamp'2024-01-01 00:00:00')"
            " + (unix_micros(ts) - unix_micros(timestamp'2024-01-01 00:00:00'))"
            "   div 604800000000 * 604800000000)"
        ).alias("week_start"),
        (F.col("ts") + F.expr("INTERVAL 1 MONTH")).alias("plus_1mo"),
        (
            F.date_trunc("day", F.col("ts"))
            + F.expr("INTERVAL 1 DAY")
            - F.expr("INTERVAL 1 MICROSECOND")
        ).alias("day_end"),
    )


_MIX_ORACLE = """
    WITH counts AS (
        SELECT source, count(*) AS cnt FROM documents GROUP BY source
    ), rates AS (
        SELECT source, cnt,
               CAST(floor(1000000.0 * (SELECT min(cnt) FROM counts) / cnt)
                    AS BIGINT) AS thresh
        FROM counts
    ), kept AS (
        SELECT d.source, r.cnt, r.thresh
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE (d.doc_id * 2654435761) % 1000000 < r.thresh
    )
    SELECT source,
           max(cnt) AS n_orig,
           count(*) AS n_sampled,
           round(CAST(count(*) AS DOUBLE) / max(cnt), 2) AS achieved_rate
    FROM kept GROUP BY source
"""


@query("corpus_mix_resample", category="L-mixing", oracle=_MIX_ORACLE)
def corpus_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing for training-data mixing: downsample every
    source to the smallest source's size with a DETERMINISTIC
    per-source rate (Fibonacci-multiplicative hash of doc_id against
    an integer threshold — reproducible across engines, runs, and
    partitionings, no RNG state; same idea as sample_stratified_hash
    but with rates COMPUTED from the data, not constants).

    Plan: one count aggregation produces the tiny rate dim, broadcast
    back onto the corpus scan; membership is a pure projection, so at
    100 TB the resample costs one scan plus a kilobyte broadcast —
    and any later re-run selects the identical document set (audit /
    incremental-training requirement). achieved_rate is reported
    coarsely (2dp) because a multiplicative hash is uniform only
    approximately; exactness here is about membership determinism."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    min_cnt = counts.agg(F.min("cnt").alias("m"))
    rates = counts.crossJoin(F.broadcast(min_cnt)).select(
        "source",
        "cnt",
        F.floor(1000000.0 * F.col("m") / F.col("cnt")).cast("long").alias("thresh"),
    )
    kept = docs.join(F.broadcast(rates), "source").filter(
        (F.col("doc_id") * 2654435761) % 1000000 < F.col("thresh")
    )
    return kept.groupBy("source").agg(
        F.max("cnt").alias("n_orig"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.count(F.lit(1)).cast("double") / F.max("cnt"), 2).alias(
            "achieved_rate"
        ),
    )


_PACK_ORACLE = """
    WITH lens AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ), packed AS (
        SELECT source, doc_id, n_tok,
               (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tok)
                   // 256 AS pack_id
        FROM lens
    )
    SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed GROUP BY source, pack_id
"""


@query("sequence_packing_concat", category="L-packing", oracle=_PACK_ORACLE)
def sequence_packing_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing, concat-and-split style (the GPT
    recipe: concatenate documents in a fixed order, cut every
    context_len=256 tokens): each document's pack is determined by
    the running token offset at which it starts — a window cumsum,
    no sequential loop. Documents keep their order inside a pack, so
    (source, pack_id, first_doc, last_doc, n_tokens) fully describes
    the shard a loader would materialize.

    Scale note: packing partitions by source (one window shuffle per
    source key) — the global-concat variant would serialize into a
    single partition, so shard-scoped packing is the 100 TB form and
    epoch reshuffles just permute doc order within shards."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    lens = docs.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    cum = F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0))
    # floor-div, not /+cast: a double-division CAST rounds in DuckDB
    # but truncates in Spark (tests/oracle_conventions.md); floor on
    # the non-negative offset matches // exactly
    packed = lens.withColumn(
        "pack_id", F.floor((cum - F.col("n_tok")) / 256).cast("long")
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_BINDEDUP_ORACLE = """
    WITH media AS (
        SELECT doc_id, doc_id % 100 AS variant,
               'doc://' || CAST(doc_id AS VARCHAR) AS path
        FROM documents
    )
    SELECT count(*) AS n_media,
           count(DISTINCT variant) AS n_unique,
           count(*) - count(DISTINCT variant) AS n_dups,
           min(path) AS first_path
    FROM media
"""


@query("multimodal_binary_dedup", category="L6-bindedup", oracle=_BINDEDUP_ORACLE)
def multimodal_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup through the production dedup_media path
    (sha256 of content, keep lowest path): media bytes are
    synthesized so that doc_id % 100 defines the true content
    identity, and the oracle counts identities arithmetically — if
    the digest grouping or the keep-one winner rule drifted, the
    survivor count or first_path would mismatch.

    Scale: only (sha256, path) pairs shuffle — never content bytes —
    which is the property that makes binary dedup viable when rows
    are megabytes."""
    from ..operators.multimodal import dedup_media

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        F.concat(
            F.unhex(F.lit("89504E470D0A1A0A")),
            (F.col("doc_id") % 100).cast("string").cast("binary"),
        ).alias("content"),
    )
    # one declarative plan, no driver-side count() action: the total
    # and the survivor stats are two single-row aggregates cross-joined
    tot = media.agg(F.count(F.lit(1)).alias("n_media"))
    surv = dedup_media(media).agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.min("path").alias("first_path"),
    )
    return tot.crossJoin(surv).select(
        "n_media",
        "n_unique",
        (F.col("n_media") - F.col("n_unique")).alias("n_dups"),
        "first_path",
    )


_ATTR_ORACLE = """
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT event_id AS c_id, user_id, ts AS c_ts,
               CAST(json_extract(props, '$.k') AS INT) % 5 AS channel
        FROM events WHERE event_type = 'click'
    ), touches AS (
        SELECT p.p_id, c.channel
        FROM purchases p
        JOIN clicks c ON c.user_id = p.user_id
                     AND c.c_ts >= p.p_ts - INTERVAL '24 hours'
                     AND c.c_ts < p.p_ts
    ), credited AS (
        SELECT p_id, channel,
               1000000000000 // count(*) OVER (PARTITION BY p_id) AS credit_scaled
        FROM touches
    )
    SELECT channel,
           count(*) AS n_touches,
           count(DISTINCT p_id) AS n_purchases,
           CAST(sum(credit_scaled) AS BIGINT) / 1000000000000.0 AS total_credit
    FROM credited GROUP BY channel
"""


@query("attribution_linear_multitouch", category="B-attribution", oracle=_ATTR_ORACLE)
def attribution_linear_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit
    of credit equally across the user's clicks in the preceding 24h,
    summed per acquisition channel (the product-analytics complement
    to the as-of/last-touch join J9).

    Exactness: per-touch credit is the INTEGER 1e12 div n (identical
    on both engines, unlike 1.0/n double sums whose accumulation
    order drifts); channel totals sum bigints and divide once.
    Plan: user-keyed range join (equi key + time band — no cross
    join), one window for the per-purchase touch count, channel agg."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    touches = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("p_id", "channel")
    credited = touches.withColumn(
        "credit_scaled",
        F.expr("1000000000000 div count(*) over (partition by p_id)"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct("p_id").alias("n_purchases"),
        (F.sum("credit_scaled") / 1000000000000.0).alias("total_credit"),
    )


@query(
    "group_sample_topk_hash",
    category="P7-groupk",
    oracle="""
        SELECT source, doc_id, n_chars
        FROM (
            SELECT source, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS pri
            FROM documents
        ) WHERE pri <= 5
    """,
)
def group_sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group deterministic sampling: rank documents
    within each source by md5 priority (uniform pseudo-order, stable
    across runs/engines) and keep the first 5 — the fixed-quota
    complement to rate-based hash sampling (sample_stratified_hash).
    Plans as Window + WindowGroupLimit: rows beyond k never fully
    sort, and nothing but the group key shuffles."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("pri", F.row_number().over(w))
        .filter(F.col("pri") <= 5)
        .select("source", "doc_id", "n_chars")
    )


_SRCSIM_ORACLE = """
    WITH tf AS (
        SELECT source, w, count(*) AS c
        FROM documents, unnest(string_split(text, ' ')) AS u(w)
        GROUP BY source, w
    ), norms AS (
        SELECT source, sum(c * c) AS n2 FROM tf GROUP BY source
    ), dots AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM tf a JOIN tf b ON a.w = b.w AND a.source < b.source
        GROUP BY src_a, src_b
    )
    SELECT d.src_a, d.src_b, d.dot,
           round(d.dot / sqrt(na.n2 * nb.n2), 9) AS cos_sim
    FROM dots d
    JOIN norms na ON na.source = d.src_a
    JOIN norms nb ON nb.source = d.src_b
"""


@query("source_similarity_tf", category="L5-srcsim", oracle=_SRCSIM_ORACLE)
def source_similarity_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise domain similarity: cosine between sources' term-
    frequency vectors (corpus-mixture analysis — which domains are
    redundant before mixing). Dot products join the per-source TF
    table with ITSELF ON THE TOKEN KEY — a sparse-vector multiply
    shuffling only (token, count) pairs, not a dense source×source
    cross product; counts are integers so dots are exact, and the
    final cosine divides once (rounded for cross-engine hash)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = tf.groupBy("source").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    a = tf.select(
        F.col("source").alias("src_a"), "w", F.col("c").alias("ca")
    )
    b = tf.select(
        F.col("source").alias("src_b"), "w", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, (a.w == b.w) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return (
        dots.join(F.broadcast(norms.withColumnRenamed("source", "src_a").withColumnRenamed("n2", "na2")), "src_a")
        .join(F.broadcast(norms.withColumnRenamed("source", "src_b").withColumnRenamed("n2", "nb2")), "src_b")
        .select(
            "src_a",
            "src_b",
            "dot",
            F.round(F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")), 9).alias(
                "cos_sim"
            ),
        )
    )


_GROUPED_MAP_ORACLE = """
    WITH stats AS (
        SELECT user_id, value,
               min(value) OVER (PARTITION BY user_id) AS mn,
               max(value) OVER (PARTITION BY user_id) AS mx
        FROM events
    )
    SELECT user_id,
           count(*) AS n,
           CAST(sum(CASE WHEN mx > mn
                    THEN CAST(floor((value - mn) / (mx - mn) * 1e9 + 0.5)
                              AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS norm_sum_scaled
    FROM stats GROUP BY user_id
"""


@query("grouped_map_minmax_norm", category="2.10-groupedmap", oracle=_GROUPED_MAP_ORACLE)
def grouped_map_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map surface (§2.10): per-user min-max
    normalization computed inside an Arrow-batched pandas function —
    the escape hatch for per-key logic that needs the whole group in
    memory (here deliberately something SQL can also express, so the
    Python path itself is under oracle check).

    Per-element math is IEEE-identical to the SQL formulation; the
    sum is integer-scaled before accumulation so pandas' summation
    order cannot drift from the oracle's."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    return grouped_fold(
        ev, "user_id", _grouped_map_minmax_norm_fold, keep="key",
        added="n long, norm_sum_scaled long",
    )


def _grouped_map_minmax_norm_fold(key, pdfs, state):
    """Per-user fold of :func:`grouped_map_minmax_norm`."""
    import numpy as np
    import pandas as pd

    (pdf,) = pdfs
    v = pdf["value"]
    mn, mx = v.min(), v.max()
    if mx > mn:
        scaled = np.floor((v - mn) / (mx - mn) * 1e9 + 0.5).astype("int64")
        total = int(scaled.sum())
    else:
        total = 0
    yield pd.DataFrame(
        {"user_id": [pdf["user_id"].iloc[0]], "n": [len(pdf)],
         "norm_sum_scaled": [total]}
    )


_ARROW_NORM_ORACLE = """
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(list_sum(list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9 + 0.5)
                    AS BIGINT)))) AS BIGINT) AS norm2_sum_scaled
    FROM embeddings GROUP BY label
"""


@query("map_in_arrow_vector_norms", category="2.10-arrow", oracle=_ARROW_NORM_ORACLE)
def map_in_arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface (§2.10): squared L2 norms of embeddings
    computed on raw Arrow RecordBatches (zero-copy into numpy,
    vectorized across the whole batch — the lowest-overhead Python
    extension point, below even pandas conversion). Scaled-integer
    accumulation keeps the result engine-exact; the label rollup is a
    plain JVM aggregate on the (tiny) per-row output."""
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")

    def norms(batches):
        import numpy as np

        for batch in batches:
            col = batch.column("embedding")
            flat = np.asarray(col.flatten(), dtype=np.float64)
            offs = np.asarray(col.offsets)
            sq = np.floor(flat * flat * 1e9 + 0.5).astype("int64")
            sums = np.add.reduceat(sq, offs[:-1]) if len(offs) > 1 else np.array([], "int64")
            # guard rows with empty lists (reduceat repeats on equal offsets)
            lens = np.diff(offs)
            sums = np.where(lens > 0, sums, 0)
            yield pa.RecordBatch.from_arrays(
                [batch.column("label"), pa.array(sums, type=pa.int64())],
                names=["label", "norm2_scaled"],
            )

    per_row = emb.mapInArrow(norms, "label int, norm2_scaled long")
    return per_row.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("norm2_scaled").alias("norm2_sum_scaled"),
    )


@query(
    "scalar_udf_arrow_parity",
    category="2.10-scalarudf",
    oracle="""
        SELECT source,
               upper(reverse(source)) || ':' ||
               CAST(length(source) AS VARCHAR) AS tag,
               count(*) AS n
        FROM documents GROUP BY source
    """,
)
def scalar_udf_arrow_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (§2.10, @udf(useArrow=True) —
    the Logstash `ruby`-filter analog): a per-row Python transform
    whose semantics are also SQL-expressible, so the UDF execution
    path itself (Arrow batch transfer, null handling, string
    round-trip) is under oracle check. reverse() is safe here because
    source ids are ASCII (tests/oracle_conventions.md forbids it on
    arbitrary text). Built-ins remain the hot-path rule; this pins
    the escape hatch's correctness, not its use."""
    from pyspark.sql.functions import udf

    @udf("string", useArrow=True)
    def tag(s: str) -> str:
        if s is None:
            return None
        return f"{s[::-1].upper()}:{len(s)}"

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")
    ).select("source", tag("source").alias("tag"), "n")


@query(
    "join_null_safe_eq",
    category="J-nullsafe",
    oracle="""
        WITH e AS (
            SELECT event_id,
                   CASE WHEN user_id % 10 = 0 THEN NULL
                        ELSE user_id % 7 END AS bucket
            FROM events
        ), d AS (
            SELECT * FROM (VALUES (0, 'zero'), (1, 'one'), (2, 'two'),
                                  (3, 'three'), (NULL, 'unknown')) AS t(bucket, label)
        )
        SELECT d.label, count(*) AS n
        FROM e JOIN d ON e.bucket IS NOT DISTINCT FROM d.bucket
        GROUP BY d.label
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of dropping out — the semantics needed
    when 'unknown' is itself a dimension member. Spark still plans a
    hash join (null-safe equi keys hash like values); a plain = join
    here would silently lose every NULL-bucket event."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        F.when(F.col("user_id") % 10 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id") % 7)
        .alias("bucket"),
    )
    d = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two"), (3, "three"), (None, "unknown")],
        "bucket long, label string",
    )
    return (
        e.join(F.broadcast(d), e.bucket.eqNullSafe(d.bucket))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "window_topk_with_ties",
    category="W2-ties",
    oracle="""
        SELECT p_brand, p_partkey, p_size
        FROM part
        QUALIFY rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) <= 2
    """,
)
def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES (rank, not row_number): every part tied at the
    k-th size survives, so groups return >= k rows — the WITH TIES /
    rank()-QUALIFY semantics, distinct from window_top3_per_user's
    exactly-k. No tiebreak column needed for determinism because the
    tied set itself is deterministic."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_size").desc())
    return (
        part.withColumn("_rk", F.rank().over(w))
        .filter(F.col("_rk") <= 2)
        .select("p_brand", "p_partkey", "p_size")
    )


@query(
    "setop_union_distinct",
    category="O4-distinct",
    oracle="""
        SELECT user_id FROM events WHERE event_type = 'purchase'
        UNION
        SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — completes the set-op family next to
    setop_union_all: Spark's union() is UNION ALL, so SQL UNION is
    union + distinct(), one hash-aggregate dedup after the concat."""
    ev = load_table(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id")
    return buyers.union(signups).distinct()


@query(
    "agg_percentile_disc",
    category="A6-disc",
    oracle="""
        SELECT event_type,
               quantile_disc(value, 0.5) AS p50,
               quantile_disc(value, 0.9) AS p90
        FROM events GROUP BY event_type
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentile (nearest-rank, returns an ACTUAL data
    value): percentile_disc WITHIN GROUP ↔ DuckDB quantile_disc —
    verified to pick the same element, completing the percentile
    family next to the interpolating exact and GK-sketch variants."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_pd_events")
    return spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90
        FROM _pd_events GROUP BY event_type
        """
    )


@query(
    "explode_outer_empty_arrays",
    category="2.8-explodeouter",
    oracle="""
        WITH base AS (
            SELECT event_id,
                   CASE WHEN event_id % 3 = 0 THEN []
                        ELSE string_split(event_type, 'i') END AS arr
            FROM events WHERE event_id < 1000
        )
        SELECT event_id, u.part
        FROM base LEFT JOIN LATERAL (SELECT unnest(arr) AS part) u ON true
    """,
)
def explode_outer_empty_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer semantics pinned: an EMPTY array keeps its parent
    row with a NULL element (plain explode would drop it — silently
    losing every third event here). The oracle expresses the same as
    LEFT JOIN LATERAL unnest; plain unnest-in-FROM drops empties in
    both dialects."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    base = ev.select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.array().cast("array<string>"))
        .otherwise(F.split("event_type", "i"))
        .alias("arr"),
    )
    return base.select("event_id", F.explode_outer("arr").alias("part"))


@query(
    "agg_decimal_exact_sum",
    category="A1-decimal",
    oracle="""
        -- results serialized to VARCHAR on BOTH sides: DECIMAL result
        -- columns land as Decimal objects in the driver canonicalizer's
        -- pandas frame and repr-drift vs Spark's; both engines render a
        -- scale-2 decimal as a plain fixed-point string.
        SELECT event_type,
               CAST(sum(CAST(round(value, 2) AS DECIMAL(12, 2))) AS VARCHAR) AS total,
               CAST(min(CAST(round(value, 2) AS DECIMAL(12, 2))) AS VARCHAR) AS mn,
               CAST(max(CAST(round(value, 2) AS DECIMAL(12, 2))) AS VARCHAR) AS mx
        FROM events GROUP BY event_type
    """,
)
def agg_decimal_exact_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType aggregation (§1.3 'support but don't default'):
    decimal sums are EXACT and accumulation-order-insensitive, so
    they hash-match across engines without the scaled-bigint idiom —
    the trade-off is slower non-codegen-friendly arithmetic, which is
    why money paths here use exact_money_sum instead. (avg is NOT
    pinned: Spark promotes avg(decimal(12,2)) to decimal(16,6) while
    DuckDB returns DOUBLE — recorded in oracle_conventions.md.)"""
    ev = load_table(spark, sf_dir, "events")
    dec = F.round("value", 2).cast("decimal(12,2)")
    return ev.groupBy("event_type").agg(
        F.sum(dec).cast("string").alias("total"),
        F.min(dec).cast("string").alias("mn"),
        F.max(dec).cast("string").alias("mx"),
    )


@query(
    "window_collect_last3",
    category="W-collect",
    oracle="""
        -- elements are exact scaled BIGINTs serialized to one CSV string:
        -- list-valued result columns crash the driver canonicalizer, and
        -- double->string formatting differs across engines, so the array
        -- is both integerized and stringified on BOTH sides.
        SELECT event_id, user_id,
               array_to_string(
                   array_agg(CAST(floor(value * 10000 + 0.5) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                   ), ',') AS last3
        FROM events WHERE user_id <= 20
    """,
)
def window_collect_last3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list as a WINDOW function (trailing 3-event context per
    user — the feature-engineering 'recent history as array' shape).
    Deterministic because the frame is defined over a total order;
    element order inside the array is the frame order on both
    engines. Values are scaled to exact BIGINT ten-thousandths and the
    array serialized to CSV for the hash compare (list columns are
    unhashable driver-side; float formatting drifts across engines)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    scaled = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.concat_ws(",", F.collect_list(scaled).over(w)).alias("last3"),
    )


@query(
    "greatest_least_null_semantics",
    category="2.8-greatest",
    oracle="""
        WITH v AS (
            SELECT event_id,
                   CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS a,
                   CASE WHEN event_id % 5 = 0 THEN NULL
                        ELSE round(value / 2, 4) END AS b
            FROM events WHERE event_id < 3000
        )
        SELECT event_id,
               greatest(a, b) AS g,
               least(a, b) AS l,
               greatest(a, b) IS NULL AS both_null
        FROM v
    """,
)
def greatest_least_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """greatest/least NULL semantics pinned: both engines SKIP null
    arguments (greatest(1, NULL, 3) = 3) and return NULL only when
    every argument is null — unlike raw comparison operators, where
    one NULL poisons the expression. The nullable inputs here hit
    one-null, other-null, and both-null rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    a = F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value"))
    b = F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
        F.round(F.col("value") / 2, 4)
    )
    v = ev.select("event_id", a.alias("a"), b.alias("b"))
    return v.select(
        "event_id",
        F.greatest("a", "b").alias("g"),
        F.least("a", "b").alias("l"),
        F.greatest("a", "b").isNull().alias("both_null"),
    )


@query(
    "window_range_interval_frame",
    category="W6-interval",
    oracle="""
        SELECT event_id, user_id,
               count(*) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '2 hours' PRECEDING AND CURRENT ROW
               ) AS n_2h,
               sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '2 hours' PRECEDING AND CURRENT ROW
               ) / 10000.0 AS sv_2h
        FROM events WHERE user_id <= 25
    """,
)
def window_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame bounded by a calendar INTERVAL directly over the
    timestamp ordering (SQL-dialect form of the trailing-window family
    — window_range_1h_trailing does the same via unix-seconds
    rangeBetween; this pins the INTERVAL PRECEDING syntax both
    engines accept). Scaled-bigint sum keeps the frame aggregation
    order-insensitive."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 25)
    ev.createOrReplaceTempView("_ri_events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               count(*) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '2' HOUR PRECEDING AND CURRENT ROW
               ) AS n_2h,
               sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '2' HOUR PRECEDING AND CURRENT ROW
               ) / 10000.0 AS sv_2h
        FROM _ri_events
        """
    )


@query(
    "regexp_count_instr",
    category="2.8-regexcount",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(text, 'ta[a-z]+')) AS n_ta,
               CASE WHEN regexp_matches(text, 'stream') THEN 1 ELSE 0 END
                   AS has_stream
        FROM documents
    """,
)
def regexp_count_instr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_count + boolean match (Spark 3.4+ functions) pinned
    against DuckDB's extract-all-length / regexp_matches
    equivalents — the Logstash conditional `=~` family in batch
    form. Pure codegen regex on the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("ta[a-z]+")).alias("n_ta"),
        F.when(F.col("text").rlike("stream"), 1).otherwise(0).alias("has_stream"),
    )


_BMP_ORACLE = """
    WITH meta AS (
        SELECT doc_id,
               32 + (doc_id % 6) * 16 AS width,
               24 + (doc_id % 4) * 8 AS height,
               54 + octet_length(CAST(text AS BLOB)) AS nbytes
        FROM documents
    )
    SELECT 'image/bmp' AS mime,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(24 AS INT) AS bit_depth,
           count(*) AS n,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM meta GROUP BY width, height
"""


@query("multimodal_bmp_header_parse", category="L6-multimodal", oracle=_BMP_ORACLE)
def multimodal_bmp_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third container under oracle check (after PNG big-endian and
    WAV little-endian): BMP's SIGNED little-endian dimensions — the
    remaining unpack path in operators/multimodal.py. Synthesizes a
    full 54-byte BITMAPINFOHEADER file per document (magic, LE file
    size, data offset, LE i32 width/height, planes, 24-bit depth)
    with pure codegen hex construction, parses it back through
    sniff_mime → parse_headers, and aggregates.
    """
    from ..operators.multimodal import parse_headers, sniff_mime

    docs = load_table(spark, sf_dir, "documents")
    width = (F.lit(32) + (F.col("doc_id") % 6) * 16).cast("int")
    height = (F.lit(24) + (F.col("doc_id") % 4) * 8).cast("int")

    def le32(col):
        h = F.lpad(F.hex(col.cast("bigint")), 8, "0")
        return F.concat(
            F.substring(h, 7, 2),
            F.substring(h, 5, 2),
            F.substring(h, 3, 2),
            F.substring(h, 1, 2),
        )

    file_size = (F.length(F.col("text").cast("binary")) + 54).cast("bigint")
    header_hex = F.concat(
        F.lit("424D"),                # 'BM'
        le32(file_size),              # file size (LE u32)
        F.lit("00000000"),            # reserved
        F.lit("36000000"),            # data offset = 54 (LE)
        F.lit("28000000"),            # DIB header size = 40 (LE)
        le32(width),                  # width  (LE i32)
        le32(height),                 # height (LE i32)
        F.lit("0100"),                # planes = 1 (LE u16)
        F.lit("1800"),                # bit count = 24 (LE u16)
        F.lit("00000000" * 6),        # compression..colors-important
    )
    media = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        F.concat(F.unhex(header_hex), F.col("text").cast("binary")).alias(
            "content"
        ),
    ).withColumn("length", F.length("content").cast("long"))
    parsed = parse_headers(sniff_mime(media))
    return parsed.groupBy("mime", "width", "height", "bit_depth").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("length").alias("sum_bytes"),
    )


_JPEG_ORACLE = """
    WITH meta AS (
        SELECT doc_id,
               320 + (doc_id % 6) * 32 AS width,
               240 + (doc_id % 4) * 32 AS height,
               39 + octet_length(CAST(text AS BLOB)) AS nbytes
        FROM documents
    )
    SELECT 'image/jpeg' AS mime,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           count(*) AS n,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM meta GROUP BY width, height
"""


@query("multimodal_jpeg_sof_parse", category="L6-multimodal", oracle=_JPEG_ORACLE)
def multimodal_jpeg_sof_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 JPEG twin of the PNG/BMP/WAV header parsers — but JPEG has
    no fixed-offset dimensions: the parser must WALK the marker
    segments (skipping the APP0/JFIF segment this query deliberately
    prepends) to the first SOF frame header. Byte streams are real
    JPEG prefixes built with pure codegen (SOI + APP0 + SOF0 with
    doc_id-derived height/width + the text as payload); the oracle
    recomputes the arithmetic, so construction, magic sniffing, AND
    the segment walker are all under the hash.

    Scale: same contract as the other container parsers — bytes stay
    in the Arrow-batched mapInPandas stage, only (mime, width,
    height, depth) partial aggregates shuffle.
    """
    from ..operators.multimodal import parse_headers, sniff_mime

    docs = load_table(spark, sf_dir, "documents")
    width = (F.lit(320) + (F.col("doc_id") % 6) * 32).cast("int")
    height = (F.lit(240) + (F.col("doc_id") % 4) * 32).cast("int")
    header_hex = F.concat(
        F.lit("FFD8"),                       # SOI
        F.lit("FFE000104A46494600010100000100010000"),  # APP0/JFIF, len 16
        F.lit("FFC00011"),                   # SOF0 marker + len 17
        F.lit("08"),                         # precision 8
        F.lpad(F.hex(height), 4, "0"),       # height (big-endian u16)
        F.lpad(F.hex(width), 4, "0"),        # width  (big-endian u16)
        F.lit("03011100021101031101"),       # 3 components
    )
    media = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        F.concat(F.unhex(header_hex), F.col("text").cast("binary")).alias("content"),
    ).withColumn("length", F.length("content").cast("long"))
    parsed = parse_headers(sniff_mime(media))
    return parsed.groupBy("mime", "width", "height", "bit_depth").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("length").alias("sum_bytes"),
    )


_GIF_ORACLE = """
    WITH meta AS (
        SELECT doc_id,
               32 + (doc_id % 6) * 32 AS width,
               32 + (doc_id % 4) * 24 AS height,
               CAST((doc_id % 8) AS INT) + 1 AS bit_depth,
               13 + octet_length(CAST(text AS BLOB)) AS nbytes
        FROM documents
    )
    SELECT 'image/gif' AS mime,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           bit_depth,
           count(*) AS n,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM meta GROUP BY width, height, bit_depth
"""


@query("multimodal_gif_header_parse", category="L6-multimodal", oracle=_GIF_ORACLE)
def multimodal_gif_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF logical-screen-descriptor parse — completes the L6 header
    family (PNG/BMP/WAV/JPEG/GIF): GIF dimensions are u16
    LITTLE-endian (vs PNG's big-endian u32 — the parser branch the
    oracle distinguishes bit-for-bit) and color depth hides in the
    packed flags byte (bits 0–2 = GCT bits/pixel − 1). Bytes are
    minted with pure codegen (unhex/concat: GIF89a magic +
    byte-swapped dims + packed byte with GCT flag set), then run the
    production sniff_mime → parse_headers pipeline.

    Scale: same contract as the PNG twin — bytes never shuffle; the
    exchange carries only the parsed-metadata partial aggregates.
    """
    from ..operators.multimodal import parse_headers, sniff_mime

    docs = load_table(spark, sf_dir, "documents")
    width = (F.lit(32) + (F.col("doc_id") % 6) * 32).cast("int")
    height = (F.lit(32) + (F.col("doc_id") % 4) * 24).cast("int")
    gct_bits = (F.col("doc_id") % 8).cast("int")  # depth = bits + 1
    le16 = lambda c: F.concat(  # noqa: E731 — u16 little-endian hex
        F.lpad(F.hex(c % 256), 2, "0"), F.lpad(F.hex((c / 256).cast("int")), 2, "0")
    )
    header_hex = F.concat(
        F.lit("474946383961"),                     # "GIF89a"
        le16(width), le16(height),
        F.lpad(F.hex(F.lit(128) + gct_bits), 2, "0"),  # packed: GCT flag | bits
        F.lit("0000"),                             # bg color + aspect
    )
    media = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        F.concat(F.unhex(header_hex), F.col("text").cast("binary")).alias("content"),
    ).withColumn("length", F.length("content").cast("long"))
    parsed = parse_headers(sniff_mime(media))
    return parsed.groupBy("mime", "width", "height", "bit_depth").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("length").alias("sum_bytes"),
    )


_DECAY_W = (
    "CAST(floor(power(2.0, -(CAST(ds AS DOUBLE) / 21600.0))"
    " * 1000000 + 0.5) AS BIGINT)"
)


@query(
    "attribution_time_decay",
    category="B-attribution",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id AS p_id, user_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT user_id, ts AS c_ts,
                   CAST(json_extract(props, '$.k') AS INT) % 5 AS channel
            FROM events WHERE event_type = 'click'
        ), touches AS (
            SELECT p.p_id, c.channel,
                   CAST(floor(epoch(p.p_ts)) AS BIGINT)
                   - CAST(floor(epoch(c.c_ts)) AS BIGINT) AS ds
            FROM purchases p
            JOIN clicks c ON c.user_id = p.user_id
                         AND c.c_ts >= p.p_ts - INTERVAL '24 hours'
                         AND c.c_ts < p.p_ts
        ), weighted AS (
            SELECT p_id, channel, {_DECAY_W} AS w
            FROM touches
        ), credited AS (
            SELECT p_id, channel,
                   (w * 1000000) // sum(w) OVER (PARTITION BY p_id)
                       AS credit_ppm
            FROM weighted
        )
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
               CAST(round(CAST(sum(credit_ppm) AS BIGINT) / 1000000.0, 6)
                    AS DOUBLE) AS total_credit
        FROM credited GROUP BY channel ORDER BY channel
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (6-hour half-life): every
    purchase splits one unit of credit across the user's clicks in
    the preceding 24 h, weighted 2^(−Δt/6h) so the touch nearest the
    conversion earns the most — the standard middle ground between
    last-touch (all recency) and linear (no recency).

    Exactness: Δt is integer seconds; each weight is FLOORED to an
    integer at ppm scale (power() differs by ≤1 ulp across engines —
    at 10⁶ scale a floor flip needs the value within ~2e-10 of a
    boundary), per-touch credit is the integer division
    w·10⁶ // Σw per purchase, and channel totals sum exact integers
    — no float accumulates anywhere (same discipline as
    attribution_linear_multitouch, which this query extends).

    Plan: user-keyed range join (equi + time band), one per-purchase
    window for the weight normalizer, one channel aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    touches = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select(
        "p_id", "channel",
        (
            F.floor(F.unix_timestamp("p_ts")).cast("long")
            - F.floor(F.unix_timestamp("c_ts")).cast("long")
        ).alias("ds"),
    )
    weighted = touches.select(
        "p_id", "channel", F.expr(_DECAY_W).alias("w")
    )
    # exact BIGINT division (DIV), not floor(double /): at 1e12-scale
    # numerators a correctly-rounded double quotient can land on the
    # wrong side of an integer and floor() then disagrees with //
    credited = weighted.select(
        "p_id", "channel", "w",
        F.sum("w").over(Window.partitionBy("p_id")).alias("tot_w"),
    ).select(
        "p_id", "channel",
        F.expr("(w * 1000000) DIV tot_w").cast("long").alias("credit_ppm"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.countDistinct("p_id").cast("long").alias("n_purchases"),
            F.round(F.sum("credit_ppm").cast("long") / 1000000.0, 6).alias(
                "total_credit"
            ),
        )
    )


@query(
    "source_mixing_largest_remainder",
    category="L-mixing",
    oracle="""
        WITH per_src AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars_total,
                   CAST(floor(sqrt(CAST(sum(n_chars) AS BIGINT)))
                        AS BIGINT) AS w
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(sum(w) AS BIGINT) AS big_w FROM per_src
        ), staged AS (
            SELECT p.source, p.n_docs, p.chars_total, p.w,
                   (100000 * p.w) // t.big_w AS base,
                   (100000 * p.w) % t.big_w AS rem
            FROM per_src p CROSS JOIN tot t
        ), lsum AS (
            SELECT CAST(sum(base) AS BIGINT) AS base_sum FROM staged
        ), quotas AS (
            SELECT s.source, s.n_docs, s.chars_total, s.w, s.base,
                   100000 - l.base_sum AS leftover,
                   row_number() OVER (ORDER BY s.rem DESC, s.source) AS rk
            FROM staged s CROSS JOIN lsum l
        )
        SELECT source, n_docs, chars_total, w AS weight,
               base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota,
               CAST(round(
                   (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                   * 1.0 / n_docs, 6) AS DOUBLE) AS sample_rate,
               (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                   > n_docs AS upsampled
        FROM quotas
        ORDER BY source
    """,
)
def source_mixing_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix apportionment: allocate a fixed sample budget
    (100k docs) across corpus sources by TEMPERATURE-scaled size
    (τ = 0.5 — weight ∝ √chars, the standard upsample-the-tail mixing
    rule) using Hamilton largest-remainder apportionment, the exact
    integer method that both sums to the budget and never strands a
    fractional quota. Emits per-source quota, effective sampling
    rate, and whether the source is upsampled (quota > docs) — the
    spec sheet a mixing sampler executes.

    Determinism is ALL-INTEGER: the weight is ⌊√chars⌋ (IEEE sqrt of
    an exactly-representable integer is correctly rounded, and
    ⌊√t⌋ can only be wrong if t is within an ulp of a perfect square
    — impossible for t < 2^52); base quotas are (B·w) DIV ΣW with
    integer DIV (never floor(double/) — NEXT.md house rule); the
    leftover goes to the largest integer remainders under a
    (rem, source) total order. No float ever decides anything.

    Scale: one rollup of the corpus to |sources| rows; the
    apportionment runs on that census with a 1-row broadcast total
    and a bounded |sources| window. The expensive part at 100 TB is
    the rollup — a single map-side-combinable hash aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.floor(F.sqrt(F.sum("n_chars").cast("long").cast("double")))
        .cast("long")
        .alias("w"),
    ).persist()  # |sources| rows; feeds tot AND both staged consumers
    tot = per_src.agg(
        F.sum("w").cast("long").alias("big_w"),
    )
    with_tot = per_src.join(F.broadcast(tot))
    staged = with_tot.select(
        "source", "n_docs", "chars_total", "w",
        F.expr("(100000 * w) div big_w").alias("base"),
        F.expr("(100000 * w) % big_w").alias("rem"),
    )
    base_sum = staged.agg(F.sum("base").cast("long").alias("base_sum"))
    quotas = staged.join(F.broadcast(base_sum)).select(
        "source", "n_docs", "chars_total", "w", "base",
        (F.lit(100000) - F.col("base_sum")).alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("source").asc()))
        .alias("rk"),
    )
    quota = F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return quotas.select(
        "source", "n_docs", "chars_total",
        F.col("w").alias("weight"),
        quota.alias("quota"),
        F.round(quota / F.col("n_docs"), 6).alias("sample_rate"),
        (quota > F.col("n_docs")).alias("upsampled"),
    ).orderBy("source")


@query(
    "packing_efficiency_census",
    category="L-packing",
    oracle="""
        WITH RECURSIVE docs AS (
            SELECT source, doc_id,
                   1 + (n_chars // 4) AS toks,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY doc_id) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY source)
                        AS BIGINT) AS n_docs
            FROM documents
        ), fold AS (
            SELECT source, rn, n_docs,
                   CAST(1 AS BIGINT) AS bins,
                   toks AS fill
            FROM docs WHERE rn = 1
            UNION ALL
            SELECT d.source, d.rn, d.n_docs,
                   CASE WHEN f.fill + d.toks <= 2048 THEN f.bins
                        ELSE f.bins + 1 END,
                   CASE WHEN f.fill + d.toks <= 2048
                        THEN f.fill + d.toks ELSE d.toks END
            FROM fold f JOIN docs d
              ON d.source = f.source AND d.rn = f.rn + 1
        ), final AS (
            SELECT source, bins FROM fold WHERE rn = n_docs
        ), totals AS (
            SELECT source,
                   CAST(sum(toks) AS BIGINT) AS total_toks,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM docs GROUP BY source
        )
        SELECT t.source, t.n_docs, t.total_toks,
               f.bins AS greedy_bins,
               CAST((t.total_toks + 2047) // 2048 AS BIGINT) AS ideal_bins,
               f.bins - CAST((t.total_toks + 2047) // 2048 AS BIGINT)
                   AS overhead_bins,
               CAST(round(t.total_toks * 1.0 / (f.bins * 2048), 6)
                    AS DOUBLE) AS fill_rate
        FROM totals t JOIN final f ON f.source = t.source
        ORDER BY t.source
    """,
)
def packing_efficiency_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency census per corpus source: greedy
    first-fit of whole documents (token proxy = 1 + chars DIV 4, the
    ~4-chars/token heuristic) into 2048-token context windows in
    doc_id order, WITHOUT splitting documents — the packing mode for
    training objectives that forbid cross-document attention. Emits
    greedy bins vs the ideal ⌈total/L⌉ lower bound (the
    with-splitting count) and the realized fill rate — the padding
    waste a pipeline pays for document integrity, per source.

    Determinism: token counts, bin fills, and bin counts are ALL
    integer (DIV, never float division); the greedy fold is a
    sequential integer recurrence — the recursive-CTE oracle carries
    (bins, fill) per step, the Spark side folds the array-packed doc
    list per source in whole-stage codegen. ⌈a/b⌉ for positive ints
    is (a + b−1) DIV b — note -((-a) DIV b) is WRONG on both engines
    (integer division truncates toward zero, not floor), a trap the
    first draft of this query hit.

    Scale: one rollup packs each source's (doc_id, toks) list; the
    fold is O(docs) per source with 2 longs of state. Sources are
    independent — the same groupBy+fold at a million sources. The
    doc_id ordering is the pinned deterministic shard order; a real
    pipeline would salt doc order per epoch, which only changes the
    sort key.
    """
    docs = load_table(spark, sf_dir, "documents")
    packed = docs.groupBy("source").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("doc_id"),
                    (1 + F.expr("n_chars div 4")).cast("long").alias("toks"),
                )
            )
        ).alias("ds"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(1 + F.expr("n_chars div 4")).cast("long").alias("total_toks"),
    )
    folded = packed.select(
        "source", "n_docs", "total_toks",
        F.expr(
            """
            aggregate(
                ds,
                struct(CAST(0 AS BIGINT) AS bins, CAST(2048 AS BIGINT) AS fill),
                (acc, z) -> CASE WHEN acc.fill + z.toks <= 2048
                    THEN struct(acc.bins AS bins,
                                acc.fill + z.toks AS fill)
                    ELSE struct(acc.bins + CAST(1 AS BIGINT) AS bins,
                                z.toks AS fill) END
            ).bins
            """
        ).alias("greedy_bins"),
    )
    ideal = F.expr("(total_toks + 2047) div 2048").cast("long")
    return folded.select(
        "source", "n_docs", "total_toks", "greedy_bins",
        ideal.alias("ideal_bins"),
        (F.col("greedy_bins") - ideal).cast("long").alias("overhead_bins"),
        F.round(
            F.col("total_toks")
            / (F.col("greedy_bins") * F.lit(2048.0)),
            6,
        ).alias("fill_rate"),
    )


_PPM_ORACLE = """
    WITH docs AS (
        SELECT doc_id FROM documents WHERE doc_id % 5 = 0
    ), px AS (
        SELECT doc_id, t.i,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                  || CAST(t.i AS VARCHAR)), 1, 1)) - 1)
                   * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                    || CAST(t.i AS VARCHAR)), 2, 1)) - 1)
                   AS v
        FROM docs, LATERAL unnest(generate_series(0, 1151)) AS t(i)
    ), placed AS (
        SELECT doc_id,
               (i // 3) % 24 AS x, (i // 3) // 24 AS y, i % 3 AS c, v
        FROM px
    ), pooled AS (
        SELECT doc_id, y // 8 AS by, x // 8 AS bx,
               CAST(count(*) AS BIGINT) AS n_vals,
               CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
               CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
               CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b
        FROM placed GROUP BY doc_id, y // 8, x // 8
    )
    SELECT doc_id, CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(by AS INT) AS by, CAST(bx AS INT) AS bx,
           n_vals // 3 AS n_px, sum_r, sum_g, sum_b,
           CAST(round(sum_r / 64.0, 6) AS DOUBLE) AS mean_r,
           CAST(round(sum_g / 64.0, 6) AS DOUBLE) AS mean_g,
           CAST(round(sum_b / 64.0, 6) AS DOUBLE) AS mean_b
    FROM pooled
    ORDER BY doc_id, by, bx
"""


@query("multimodal_ppm_decode_pool", category="L6-multimodal", oracle=_PPM_ORACLE)
def multimodal_ppm_decode_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 REAL decode path, oracle-checked end to end: mint a genuine
    binary PPM (P6) per document — header ``P6\\n24 16\\n255\\n`` + 24x16
    RGB bytes whose values are md5-derived (pixel byte i of doc d =
    first hex byte of md5("d|i")) — then run the production pipeline:
    operators/multimodal.decode_ppm_blocks PARSES the header with the
    netpbm grammar, reshapes the raw buffer to H x W x 3 with numpy,
    and mean-pools 8x8 tiles (2x3 blocks per image). The oracle
    recomputes every pooled channel sum arithmetically from the md5
    formula WITHOUT any decode, so a bug anywhere in construction,
    header parse, buffer reshape (e.g. transposed axes, channel
    interleave), or pooling breaks the hash. This upgrades the
    multimodal family from header-parse-only to bytes -> pixels ->
    features with zero image libraries; PNG/JPEG decode stays
    honestly stubbed (absent codecs).

    Scale: minting is a stand-in for binaryFile ingest; decode+pool
    is one Arrow-batched Python pass per file and only TILE SUMS ever
    shuffle (48 longs per image, not 1,152 pixel bytes) — the decode-
    near-the-scan rule any 100 TB image pipeline follows.
    """
    import hashlib

    import pandas as pd

    from ..operators.multimodal import decode_ppm_blocks

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )

    def mint(batches):
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                body = bytes(
                    int(
                        hashlib.md5(f"{d}|{i}".encode()).hexdigest()[:2],
                        16,
                    )
                    for i in range(24 * 16 * 3)
                )
                out.append((str(d), b"P6\n24 16\n255\n" + body))
            yield pd.DataFrame(out, columns=["path", "content"])

    media = spread_to_cores(docs).mapInPandas(
        mint, "path string, content binary"
    )
    tiles = decode_ppm_blocks(media, key_col="path", content_col="content")
    return (
        tiles.select(
            F.col("path").cast("long").alias("doc_id"),
            "width", "height", "by", "bx", "n_px",
            "sum_r", "sum_g", "sum_b",
            F.round(F.col("sum_r") / 64.0, 6).alias("mean_r"),
            F.round(F.col("sum_g") / 64.0, 6).alias("mean_g"),
            F.round(F.col("sum_b") / 64.0, 6).alias("mean_b"),
        )
    )


_WAVDEC_ORACLE = """
    WITH docs AS (
        SELECT doc_id FROM documents WHERE doc_id % 5 = 0
    ), smp AS (
        SELECT doc_id, t.i,
               ( (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '~'
                                    || CAST(t.i AS VARCHAR)), 1, 1)) - 1)
                     * 4096
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '~'
                                    || CAST(t.i AS VARCHAR)), 2, 1)) - 1)
                     * 256
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '~'
                                    || CAST(t.i AS VARCHAR)), 3, 1)) - 1)
                     * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '~'
                                    || CAST(t.i AS VARCHAR)), 4, 1)) - 1)
               ) - 32768 AS v
        FROM docs, LATERAL unnest(generate_series(0, 799)) AS t(i)
    ), wins AS (
        SELECT doc_id, i // 160 AS win,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(v * v) AS BIGINT) AS ssq,
               CAST(max(abs(v)) AS INT) AS peak
        FROM smp GROUP BY doc_id, i // 160
    )
    SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
           CAST(win AS INT) AS win, n_samples, ssq, peak,
           CAST(round(sqrt(ssq / 160.0), 6) AS DOUBLE) AS rms
    FROM wins
    ORDER BY doc_id, win
"""


@query("multimodal_wav_decode_energy", category="L6-multimodal", oracle=_WAVDEC_ORACLE)
def multimodal_wav_decode_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 REAL audio decode path, oracle-checked end to end — the
    audio twin of multimodal_ppm_decode_pool: mint a genuine PCM WAV
    per document (RIFF + fmt + data chunks; 800 int16 mono samples at
    8 kHz, sample i of doc d = md5("d~i") first-4-hex-digits −
    32768), then run operators/multimodal.decode_wav_windows — real
    RIFF chunk WALKING (not offset math: an extra LIST chunk would
    still parse), numpy int16 buffer decode, and 160-sample window
    energy folds (exact integer sum-of-squares, peak). The oracle
    recomputes every window's ssq/peak arithmetically from the md5
    formula without touching bytes, so any bug in container
    construction, chunk walk, sample decode (e.g. endianness or
    signedness), or windowing breaks the hash. RMS = sqrt of an
    exact-integer ratio, rounded to 6 (IEEE sqrt agrees across
    engines on identical doubles).

    Scale: decode-near-the-scan — one Arrow-batched pass per file,
    only window aggregates (3 longs per 160 samples) ever shuffle.
    """
    import hashlib
    import struct as _struct

    import pandas as pd

    from ..operators.multimodal import decode_wav_windows

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )

    def mint(batches):
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                vals = [
                    int(
                        hashlib.md5(f"{d}~{i}".encode()).hexdigest()[:4],
                        16,
                    )
                    - 32768
                    for i in range(800)
                ]
                data = b"".join(_struct.pack("<h", v) for v in vals)
                fmt = _struct.pack(
                    "<HHIIHH", 1, 1, 8000, 16000, 2, 16
                )
                wav = (
                    b"RIFF"
                    + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                    + b"data" + _struct.pack("<I", len(data)) + data
                )
                out.append((str(d), wav))
            yield pd.DataFrame(out, columns=["path", "content"])

    media = spread_to_cores(docs).mapInPandas(
        mint, "path string, content binary"
    )
    wins = decode_wav_windows(media, key_col="path", content_col="content")
    return (
        wins.select(
            F.col("path").cast("long").alias("doc_id"),
            "sample_rate", "win", "n_samples", "ssq", "peak",
            F.round(F.sqrt(F.col("ssq") / 160.0), 6).alias("rms"),
        )
    )


_PNGDEC_ORACLE = """
    WITH docs AS (
        SELECT doc_id FROM documents WHERE doc_id % 5 = 0
    ), px AS (
        SELECT doc_id, t.i,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                  || CAST(t.i AS VARCHAR)), 1, 1)) - 1)
                   * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                    || CAST(t.i AS VARCHAR)), 2, 1)) - 1)
                   AS v
        FROM docs, LATERAL unnest(generate_series(0, 1151)) AS t(i)
    ), placed AS (
        SELECT doc_id,
               (i // 3) % 24 AS x, (i // 3) // 24 AS y, i % 3 AS c, v
        FROM px
    ), pooled AS (
        SELECT doc_id, y // 8 AS by, x // 8 AS bx,
               CAST(count(*) AS BIGINT) AS n_vals,
               CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
               CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
               CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b
        FROM placed GROUP BY doc_id, y // 8, x // 8
    )
    SELECT doc_id, CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(by AS INT) AS by, CAST(bx AS INT) AS bx,
           n_vals // 3 AS n_px, sum_r, sum_g, sum_b
    FROM pooled
    ORDER BY doc_id, by, bx
"""


@query("multimodal_png_decode_pool", category="L6-multimodal", oracle=_PNGDEC_ORACLE)
def multimodal_png_decode_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 REAL PNG decode, oracle-checked end to end — upgrading the
    format the stub declared env-blocked: the 8-bit-RGB
    non-interlaced subset needs no Pillow, because PNG compression is
    stdlib zlib and the five scanline filters are byte arithmetic.
    Mint a genuine PNG per document (real IHDR/IDAT/IEND with
    CRC-32s; pixel byte i of doc d = first hex byte of md5("d#i");
    row y FILTERED with type y % 5, so all five filters appear in
    every image), then run operators/multimodal.decode_png_blocks:
    chunk walk with CRC verification, inflate, un-filter, reshape,
    8x8 mean-pool. The minting encoder computes filtered bytes
    INLINE (raw - predictor mod 256, its own code path), so the
    decoder's reconstruction of every filter type must invert it
    exactly to reproduce the md5 arithmetic the oracle computes
    without touching bytes — a wrong Sub/Up/Average/Paeth breaks the
    hash. The Paeth/Average predictors are additionally pinned to
    spec-worked vectors in tests/test_multimodal.py (shared-predictor
    cancellation is ruled out by the encoder being inline).

    Scale: decode-near-the-scan, tile sums only on the wire —
    identical shape to the PPM/WAV decode queries.
    """
    import hashlib
    import struct as _struct
    import zlib as _zlib

    import pandas as pd

    from ..operators.multimodal import decode_png_blocks

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    W, H = 24, 16

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def mint(batches):
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                flat = [
                    int(
                        hashlib.md5(f"{d}#{i}".encode()).hexdigest()[:2],
                        16,
                    )
                    for i in range(W * H * 3)
                ]
                stride = W * 3
                raw = bytearray()
                for y in range(H):
                    row = flat[y * stride : (y + 1) * stride]
                    prior = (
                        flat[(y - 1) * stride : y * stride]
                        if y
                        else [0] * stride
                    )
                    ft = y % 5
                    raw.append(ft)
                    for i in range(stride):
                        left = row[i - 3] if i >= 3 else 0
                        up = prior[i]
                        ul = prior[i - 3] if i >= 3 else 0
                        if ft == 0:
                            pred = 0
                        elif ft == 1:
                            pred = left
                        elif ft == 2:
                            pred = up
                        elif ft == 3:
                            pred = (left + up) >> 1
                        else:
                            # inline Paeth (independent of the decoder's)
                            p = left + up - ul
                            pa, pb, pc = (
                                abs(p - left), abs(p - up), abs(p - ul)
                            )
                            pred = (
                                left
                                if pa <= pb and pa <= pc
                                else (up if pb <= pc else ul)
                            )
                        raw.append((row[i] - pred) & 0xFF)
                ihdr = _struct.pack(">IIBBBBB", W, H, 8, 2, 0, 0, 0)
                png = (
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", _zlib.compress(bytes(raw), 6))
                    + chunk(b"IEND", b"")
                )
                out.append((str(d), png))
            yield pd.DataFrame(out, columns=["path", "content"])

    media = spread_to_cores(docs).mapInPandas(
        mint, "path string, content binary"
    )
    tiles = decode_png_blocks(media, key_col="path", content_col="content")
    return (
        tiles.select(
            F.col("path").cast("long").alias("doc_id"),
            "width", "height", "by", "bx", "n_px",
            "sum_r", "sum_g", "sum_b",
        )
    )


_GIFDEC_ORACLE = """
    WITH docs AS (
        SELECT doc_id FROM documents WHERE doc_id % 5 = 0
    ), px AS (
        SELECT doc_id, t.i,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || '%'
                                  || CAST(t.i AS VARCHAR)), 1, 1)) - 1)
                   * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '%'
                                    || CAST(t.i AS VARCHAR)), 2, 1)) - 1)
                   AS v
        FROM docs, LATERAL unnest(generate_series(0, 383)) AS t(i)
    ), placed AS (
        SELECT doc_id, i % 24 AS x, i // 24 AS y, v,
               v AS r, (v * 2) % 256 AS g, (v * 7) % 256 AS b
        FROM px
    ), pooled AS (
        SELECT doc_id, y // 8 AS by, x // 8 AS bx,
               CAST(count(*) AS BIGINT) AS n_px,
               CAST(sum(r) AS BIGINT) AS sum_r,
               CAST(sum(g) AS BIGINT) AS sum_g,
               CAST(sum(b) AS BIGINT) AS sum_b
        FROM placed GROUP BY doc_id, y // 8, x // 8
    )
    SELECT doc_id, CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(by AS INT) AS by, CAST(bx AS INT) AS bx,
           n_px, sum_r, sum_g, sum_b
    FROM pooled
    ORDER BY doc_id, by, bx
"""


@query("multimodal_gif_decode_pool", category="L6-multimodal", oracle=_GIFDEC_ORACLE)
def multimodal_gif_decode_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 REAL GIF decode, oracle-checked end to end — the fourth
    library-free decode (PPM raw, WAV PCM, PNG zlib+filters, now GIF
    LZW): mint a genuine GIF89a per document — 256-color global
    palette (palette[j] = (j, 2j mod 256, 7j mod 256)), a comment
    extension block (the decoder must WALK sub-block framing, not
    offset-math past it), and the 24x16 index raster (index i of doc
    d = first hex byte of md5("d%i")) compressed by an inline LZW
    ENCODER (emit-then-add, width bump at 2^width, LSB-first
    packing) — then run operators/multimodal.decode_gif_blocks:
    container walk, _lzw_decode (its width bump fires one slot EARLY
    because the decoder's table lags the encoder by one entry — the
    classic GIF pairing, pinned by a hand-derived bit-level golden in
    tests), palette mapping, 8x8 mean-pool. The oracle recomputes
    every pooled channel sum from the md5 formula + palette
    arithmetic without touching bytes: a bug in either LZW side, the
    sub-block walk, or palette mapping breaks the hash.

    Scale: decode-near-the-scan, tile sums only on the wire — the
    family contract.
    """
    import hashlib
    import struct as _struct

    import pandas as pd

    from ..operators.multimodal import decode_gif_blocks

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    W, H = 24, 16

    def lzw_encode(indices, min_size=8):
        clear, eoi = 1 << min_size, (1 << min_size) + 1
        out = bytearray()
        acc = nb = 0

        def emit(code, width):
            nonlocal acc, nb
            acc |= code << nb
            nb += width
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8

        dict_ = {(i,): i for i in range(1 << min_size)}
        next_code = eoi + 1
        width = min_size + 1
        emit(clear, width)
        w = ()
        for k in indices:
            wk = w + (k,)
            if wk in dict_:
                w = wk
                continue
            emit(dict_[w], width)
            dict_[wk] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
            w = (k,)
        if w:
            emit(dict_[w], width)
        emit(eoi, width)
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    def mint(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                idx = [
                    int(
                        hashlib.md5(f"{d}%{i}".encode()).hexdigest()[:2],
                        16,
                    )
                    for i in range(W * H)
                ]
                palette = b"".join(
                    bytes((j, (j * 2) % 256, (j * 7) % 256))
                    for j in range(256)
                )
                lzw = lzw_encode(idx)
                sub = bytearray()
                for o in range(0, len(lzw), 255):
                    chunk = lzw[o : o + 255]
                    sub.append(len(chunk))
                    sub += chunk
                sub.append(0)
                comment = b"\x21\xfe\x05hello\x00"  # extension to walk
                gif = (
                    b"GIF89a"
                    + _struct.pack("<HHBBB", W, H, 0xF7, 0, 0)
                    + palette
                    + comment
                    + b"\x2c" + _struct.pack("<HHHHB", 0, 0, W, H, 0)
                    + bytes([8]) + bytes(sub)
                    + b"\x3b"
                )
                rows.append((str(d), gif))
            yield pd.DataFrame(rows, columns=["path", "content"])

    media = spread_to_cores(docs).mapInPandas(
        mint, "path string, content binary"
    )
    tiles = decode_gif_blocks(media, key_col="path", content_col="content")
    return (
        tiles.select(
            F.col("path").cast("long").alias("doc_id"),
            "width", "height", "by", "bx", "n_px",
            "sum_r", "sum_g", "sum_b",
        )
    )


_BMPDEC_ORACLE = """
    WITH docs AS (
        SELECT doc_id FROM documents WHERE doc_id % 5 = 0
    ), px AS (
        SELECT doc_id, t.i,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || '@'
                                  || CAST(t.i AS VARCHAR)), 1, 1)) - 1)
                   * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || '@'
                                    || CAST(t.i AS VARCHAR)), 2, 1)) - 1)
                   AS v
        FROM docs, LATERAL unnest(generate_series(0, 1151)) AS t(i)
    ), placed AS (
        -- i indexes (y, x, channel) in ROW-MAJOR TOP-DOWN RGB order:
        -- the minting side writes the bytes bottom-up in BGR with row
        -- padding, and the decoder must undo all three to land here
        SELECT doc_id,
               (i // 3) % 24 AS x, (i // 3) // 24 AS y, i % 3 AS c, v
        FROM px
    ), pooled AS (
        SELECT doc_id, y // 8 AS by, x // 8 AS bx,
               CAST(count(*) AS BIGINT) AS n_vals,
               CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
               CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
               CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b
        FROM placed GROUP BY doc_id, y // 8, x // 8
    )
    SELECT doc_id, CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(by AS INT) AS by, CAST(bx AS INT) AS bx,
           n_vals // 3 AS n_px, sum_r, sum_g, sum_b
    FROM pooled
    ORDER BY doc_id, by, bx
"""


@query("multimodal_bmp_decode_pool", category="L6-multimodal", oracle=_BMPDEC_ORACLE)
def multimodal_bmp_decode_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 REAL BMP decode, oracle-checked end to end (fifth
    library-free decode): mint a genuine 24-bit BMP per document —
    BITMAPFILEHEADER + BITMAPINFOHEADER, pixel value of logical
    (top-down, RGB, row-major) position i = first md5("d@i") hex
    byte, but STORED the way BMP stores it: bottom-up row order, BGR
    channel order, rows padded to 4 bytes — then run
    operators/multimodal.decode_bmp_blocks, which must undo all three
    storage wrinkles to reproduce the oracle's logical-order md5
    arithmetic. Any vertical flip, channel swap, or stride mistake
    breaks the hash (24 wide x 3 = 72 bytes/row is already 4-aligned,
    so the unit test covers a width that actually pads).

    Scale: decode-near-the-scan, tile sums only on the wire.
    """
    import hashlib
    import struct as _struct

    import pandas as pd

    from ..operators.multimodal import decode_bmp_blocks

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    W, H = 24, 16

    def mint(batches):
        for pdf in batches:
            rows = []
            stride = (W * 3 + 3) & ~3
            for d in pdf["doc_id"]:
                d = int(d)
                flat = [
                    int(
                        hashlib.md5(f"{d}@{i}".encode()).hexdigest()[:2],
                        16,
                    )
                    for i in range(W * H * 3)
                ]
                body = bytearray()
                for yy in range(H - 1, -1, -1):  # bottom-up
                    row = bytearray()
                    for xx in range(W):
                        p = (yy * W + xx) * 3
                        r, g, bch = flat[p], flat[p + 1], flat[p + 2]
                        row += bytes((bch, g, r))  # BGR on disk
                    row += bytes(stride - W * 3)
                    body += row
                info = _struct.pack(
                    "<IiiHHIIiiII", 40, W, H, 1, 24, 0,
                    len(body), 2835, 2835, 0, 0,
                )
                filehdr = _struct.pack(
                    "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
                )
                rows.append((str(d), bytes(filehdr + info + body)))
            yield pd.DataFrame(rows, columns=["path", "content"])

    media = spread_to_cores(docs).mapInPandas(
        mint, "path string, content binary"
    )
    tiles = decode_bmp_blocks(media, key_col="path", content_col="content")
    return (
        tiles.select(
            F.col("path").cast("long").alias("doc_id"),
            "width", "height", "by", "bx", "n_px",
            "sum_r", "sum_g", "sum_b",
        )
    )


_TAR_ORACLE = """
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    ), members AS (
        SELECT doc_id,
               CAST((doc_id // 10) % 4 AS BIGINT) AS shard_id,
               octet_length(CAST(text AS BLOB)) AS txt_len,
               -- the paired .cls member carries the doc's source as a
               -- tiny label file
               octet_length(CAST((SELECT d2.source FROM documents d2
                                  WHERE d2.doc_id = docs.doc_id)
                                 AS BLOB)) AS cls_len
        FROM docs
    )
    SELECT concat('shard-', CAST(shard_id AS VARCHAR), '.tar') AS shard,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(txt_len) AS BIGINT) AS txt_bytes,
           CAST(sum(cls_len) AS BIGINT) AS cls_bytes,
           CAST(count(*) * 2 AS BIGINT) AS n_members
    FROM members
    GROUP BY shard_id
    ORDER BY shard
"""


@query("webdataset_tar_shard_census", category="S2-tar", oracle=_TAR_ORACLE)
def webdataset_tar_shard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard ingestion under oracle (S-series): write
    every 10th document into 4 REAL tar shards (stdlib tarfile; two
    members per sample, "<doc_id>.txt" = the text and "<doc_id>.cls"
    = the source label — the WebDataset basename-pairing convention),
    then read them back with sources/spool.read_tar_members
    (binaryFile → one Arrow-batched tarfile pass per shard) and
    census the shards: sample count by pairing members on basename,
    text/label byte totals. The oracle computes the same census from
    the documents table arithmetically — a bug in shard writing,
    member extraction, or basename pairing breaks the hash.

    Scale: shards are the parallel grain (one task per shard — size
    shards, not files); members never leave the executor except as
    the census aggregates. Sample pairing is a groupBy on
    (shard, basename) — no UDF beyond the tarfile extraction.
    """
    import io
    import os
    import tarfile

    from ..sources.spool import read_tar_members
    from .scalars import SCRATCH

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text", "source")
        .collect()
    )
    # bounded driver-side shard STAGING (50 docs at any SF tested —
    # the fixture-writing analog of stage_files; production writes
    # shards with foreachPartition like write_avro)
    out = os.path.join(
        SCRATCH, "wds_shards", os.path.basename(sf_dir.rstrip("/"))
    )
    os.makedirs(out, exist_ok=True)
    bufs = {i: io.BytesIO() for i in range(4)}
    tars = {
        i: tarfile.open(fileobj=b, mode="w") for i, b in bufs.items()
    }
    for r in sorted(docs, key=lambda r: r.doc_id):
        tf = tars[(r.doc_id // 10) % 4]
        for ext, payload in (
            ("txt", r.text.encode()),
            ("cls", r.source.encode()),
        ):
            info = tarfile.TarInfo(name=f"{r.doc_id}.{ext}")
            info.size = len(payload)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(payload))
    for i, tf in tars.items():
        tf.close()
        with open(os.path.join(out, f"shard-{i}.tar"), "wb") as fh:
            fh.write(bufs[i].getvalue())

    members = read_tar_members(spark, out)
    parsed = members.select(
        "shard",
        F.regexp_extract("member", r"^(\d+)\.", 1).alias("basename"),
        F.regexp_extract("member", r"\.(\w+)$", 1).alias("ext"),
        "size",
    )
    return (
        parsed.groupBy("shard")
        .agg(
            F.count_distinct("basename").cast("long").alias("n_samples"),
            F.sum(F.when(F.col("ext") == "txt", F.col("size")))
            .cast("long")
            .alias("txt_bytes"),
            F.sum(F.when(F.col("ext") == "cls", F.col("size")))
            .cast("long")
            .alias("cls_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )


_ZIP_ORACLE = """
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5
    ), members AS (
        SELECT doc_id,
               CAST((doc_id // 10) % 4 AS BIGINT) AS shard_id,
               octet_length(CAST(text AS BLOB)) AS txt_len,
               octet_length(CAST((SELECT d2.source FROM documents d2
                                  WHERE d2.doc_id = docs.doc_id)
                                 AS BLOB)) AS cls_len
        FROM docs
    )
    SELECT concat('shard-', CAST(shard_id AS VARCHAR), '.zip') AS shard,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(txt_len) AS BIGINT) AS txt_bytes,
           CAST(sum(cls_len) AS BIGINT) AS cls_bytes,
           CAST(count(*) * 2 AS BIGINT) AS n_members
    FROM members
    GROUP BY shard_id
    ORDER BY shard
"""


@query("webdataset_zip_shard_census", category="S2-tar", oracle=_ZIP_ORACLE)
def webdataset_zip_shard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip-bundle ingestion under oracle — the tar census's twin
    (VERDICT r6 #5: sources/spool.read_zip_members shipped
    unit-test-only; this promotes it to the hash-checked surface).
    Every doc_id ≡ 5 (mod 10) document is written into 4 REAL
    DEFLATE-compressed zip archives (stdlib zipfile; "<doc_id>.txt" +
    "<doc_id>.cls" members, the same basename-pairing convention),
    read back with read_zip_members (binaryFile → one Arrow-batched
    zipfile pass per archive), and censused per shard. Sizes are
    UNCOMPRESSED member lengths, so the oracle's arithmetic census
    over documents also certifies the deflate round-trip — a bug in
    compression, extraction, or pairing breaks the hash.

    Scale: identical grain to the tar path — one task per archive,
    member bytes never leave the executor except as aggregates.
    """
    import io
    import os
    import zipfile

    from ..sources.spool import read_zip_members
    from .scalars import SCRATCH

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 5)
        .select("doc_id", "text", "source")
        .collect()
    )
    # bounded driver-side archive STAGING (≤50 docs at tested SFs —
    # fixture writing; production writes bundles with foreachPartition)
    out = os.path.join(
        SCRATCH, "wds_zip_shards", os.path.basename(sf_dir.rstrip("/"))
    )
    os.makedirs(out, exist_ok=True)
    bufs = {i: io.BytesIO() for i in range(4)}
    zips = {
        i: zipfile.ZipFile(b, mode="w", compression=zipfile.ZIP_DEFLATED)
        for i, b in bufs.items()
    }
    for r in sorted(docs, key=lambda r: r.doc_id):
        zf = zips[(r.doc_id // 10) % 4]
        zf.writestr(f"{r.doc_id}.txt", r.text.encode())
        zf.writestr(f"{r.doc_id}.cls", r.source.encode())
    for i, zf in zips.items():
        zf.close()
        with open(os.path.join(out, f"shard-{i}.zip"), "wb") as fh:
            fh.write(bufs[i].getvalue())

    members = read_zip_members(spark, out)
    parsed = members.select(
        "shard",
        F.regexp_extract("member", r"^(\d+)\.", 1).alias("basename"),
        F.regexp_extract("member", r"\.(\w+)$", 1).alias("ext"),
        "size",
    )
    return (
        parsed.groupBy("shard")
        .agg(
            F.count_distinct("basename").cast("long").alias("n_samples"),
            F.sum(F.when(F.col("ext") == "txt", F.col("size")))
            .cast("long")
            .alias("txt_bytes"),
            F.sum(F.when(F.col("ext") == "cls", F.col("size")))
            .cast("long")
            .alias("cls_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )
