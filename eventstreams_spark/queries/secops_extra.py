"""SIEM / security-analytics family: beaconing regularity, DGA-style
domain scoring, rare-pair novelty, and password-spray windows — the
detection queries a security team runs on the same event stream the
rest of this engine processes (the reference's category is a
Logstash-class pipeline; its most common production neighbor is
exactly this workload).

Float discipline: gaps and counts are exact integers (epoch-second
differences, conditional counts); variance-like quantities come from
the integer identity n·Σx² − (Σx)²; each emitted score is one
division (or one sqrt of one division) rounded to 6dp; entropy terms
are per-host alphabet-bounded (≤ ~16 distinct chars).

Scale notes per query; the family-wide rule is that detection runs on
aggressively pre-aggregated frames — per-entity gap stats, per-cell
counts, per-window distincts — never window-over-raw-stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.spread import spread_to_cores
from ..registry import query


@query(
    "beaconing_interval_regularity",
    category="SEC-beacon",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS g
            FROM events
        ), stats AS (
            SELECT user_id, event_type,
                   CAST(count(g) AS BIGINT) AS n,
                   CAST(sum(g) AS BIGINT) AS s1,
                   CAST(sum(g * g) AS BIGINT) AS s2
            FROM gaps WHERE g IS NOT NULL
            GROUP BY user_id, event_type
            HAVING count(g) >= 20 AND sum(g) > 0
        )
        SELECT user_id, event_type, n,
               CAST(round(CAST(s1 AS DOUBLE) / n, 6) AS DOUBLE)
                   AS mean_gap_s,
               CAST(round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                               / (CAST(n AS DOUBLE) * (n - 1)))
                          * n / s1, 6) AS DOUBLE) AS cv_gap
        FROM stats
        ORDER BY cv_gap, user_id, event_type LIMIT 20
    """,
)
def beaconing_interval_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-beaconing detector: per (user, type) stream with ≥ 20
    inter-arrival gaps, the coefficient of variation of the gap
    series — machine beacons check in on a timer (CV → 0), humans
    don't. Reported: the 20 most-regular streams.

    Determinism: gaps are integer epoch-second differences (both
    engines FLOOR to whole seconds — DuckDB's epoch() alone returns
    fractional doubles) ordered by (ts, event_id);
    CV = sqrt((n·Σg²−(Σg)²)/(n(n−1)))·n/Σg — every
    input to the one sqrt/division pair is an exact integer, and the
    top-20 order tiebreaks on (cv, user, type).

    Scale: the lag window shuffles once on the entity key (the same
    partitioning the sessionize family uses); the CV agg collapses to
    one row per entity before ranking, and the top-20 is a
    TakeOrdered heap, not a global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", "event_type",
        (
            F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    stats = (
        gaps.groupBy("user_id", "event_type")
        .agg(
            F.count("g").cast("long").alias("n"),
            F.sum("g").cast("long").alias("s1"),
            F.sum(F.col("g") * F.col("g")).cast("long").alias("s2"),
        )
        .filter((F.col("n") >= 20) & (F.col("s1") > 0))
    )
    cv = (
        F.sqrt(
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
        * F.col("n")
        / F.col("s1")
    )
    return (
        stats.select(
            "user_id", "event_type", "n",
            F.round(F.col("s1").cast("double") / F.col("n"), 6).alias("mean_gap_s"),
            F.round(cv, 6).alias("cv_gap"),
        )
        .orderBy("cv_gap", "user_id", "event_type")
        .limit(20)
    )


@query(
    "dga_domain_entropy_score",
    category="SEC-dga",
    oracle="""
        WITH hosts AS (
            SELECT event_id,
                   CASE WHEN user_id % 5 = 0
                        THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
                        ELSE event_type || '-portal' END AS label,
                   (user_id % 5 = 0) AS synthetic_dga
            FROM events WHERE event_id < 2000
        ), chars AS (
            SELECT event_id, label, synthetic_dga,
                   unnest(string_split(label, '')) AS ch
            FROM hosts
        ), freq AS (
            SELECT event_id, label, synthetic_dga, ch,
                   CAST(count(*) AS BIGINT) AS c
            FROM chars GROUP BY ALL
        ), ent AS (
            SELECT event_id, label, synthetic_dga,
                   CAST(sum(c) AS BIGINT) AS len,
                   -sum((CAST(c AS DOUBLE) / length(label))
                        * ln(CAST(c AS DOUBLE) / length(label))) / ln(2.0)
                       AS h,
                   CAST(sum(CASE WHEN ch BETWEEN '0' AND '9' THEN c ELSE 0 END)
                        AS BIGINT) AS n_digits
            FROM freq GROUP BY event_id, label, synthetic_dga
        )
        SELECT synthetic_dga,
               (h >= 3.2 OR CAST(n_digits AS DOUBLE) / len >= 0.3) AS flagged,
               CAST(count(*) AS BIGINT) AS n_hosts,
               CAST(round(min(h), 6) AS DOUBLE) AS min_entropy,
               CAST(round(max(h), 6) AS DOUBLE) AS max_entropy
        FROM ent
        GROUP BY synthetic_dga, (h >= 3.2 OR CAST(n_digits AS DOUBLE) / len >= 0.3)
        ORDER BY synthetic_dga, flagged
    """,
)
def dga_domain_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DGA (domain-generation-algorithm) scoring census: hostnames are
    synthesized as either md5-tail gibberish (the DGA class, minted
    deterministically for user_id % 5 = 0) or dictionary-style labels;
    each label is scored by character Shannon entropy (bits) and digit
    ratio, and the rule (H ≥ 3.2 ∨ digits ≥ 30%) is tabulated against
    the known class — the detector AND its confusion census in one
    hash-checked result.

    Determinism: per-label char frequencies are exact; entropy terms
    are alphabet-bounded (≤16 distinct hex chars); the flag threshold
    compares well-separated populations (hex-tail H ≈ 3.4+, dictionary
    labels ≈ 2.8−), so the boolean cannot sit on the knife edge.

    Scale: explode is per-label bounded (≤12 chars); the whole scoring
    is two groupBys on (event_id)-keyed frames; the final census is 4
    rows. At 100 TB the explode stays proportional to label bytes,
    the same cost class as tokenization.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    hosts = ev.select(
        "event_id",
        F.when(
            F.col("user_id") % 5 == 0,
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 12),
        ).otherwise(F.concat("event_type", F.lit("-portal"))).alias("label"),
        (F.col("user_id") % 5 == 0).alias("synthetic_dga"),
    )
    freq = (
        hosts.select(
            "event_id", "label", "synthetic_dga",
            F.explode(F.split("label", "")).alias("ch"),
        )
        .filter(F.col("ch") != "")
        .groupBy("event_id", "label", "synthetic_dga", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    p = F.col("c").cast("double") / F.length("label")
    ent = freq.groupBy("event_id", "label", "synthetic_dga").agg(
        F.sum("c").cast("long").alias("len"),
        (-F.sum(p * F.log(p)) / F.log(F.lit(2.0))).alias("h"),
        F.sum(
            F.when(F.col("ch").between("0", "9"), F.col("c")).otherwise(0)
        ).cast("long").alias("n_digits"),
    )
    flagged = (F.col("h") >= 3.2) | (
        F.col("n_digits").cast("double") / F.col("len") >= 0.3
    )
    return (
        ent.groupBy("synthetic_dga", flagged.alias("flagged"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hosts"),
            F.round(F.min("h"), 6).alias("min_entropy"),
            F.round(F.max("h"), 6).alias("max_entropy"),
        )
    )


@query(
    "rare_pair_novelty",
    category="SEC-rarepair",
    oracle="""
        WITH pairs AS (
            SELECT user_id,
                   event_type || ':' ||
                       CAST(extract(hour FROM ts) AS VARCHAR) AS resource,
                   CAST(count(*) AS BIGINT) AS pair_n
            FROM events GROUP BY ALL
        ), users AS (
            SELECT user_id, CAST(sum(pair_n) AS BIGINT) AS user_n
            FROM pairs GROUP BY user_id
        ), res AS (
            SELECT resource, CAST(sum(pair_n) AS BIGINT) AS res_n
            FROM pairs GROUP BY resource
        ), tot AS (SELECT CAST(sum(pair_n) AS BIGINT) AS n FROM pairs)
        SELECT p.user_id, p.resource, p.pair_n, u.user_n, r.res_n
        FROM pairs p JOIN users u USING (user_id)
                     JOIN res r USING (resource), tot
        WHERE p.pair_n = 1 AND u.user_n >= 30
          AND r.res_n * 240 >= tot.n
        ORDER BY p.user_id, p.resource
    """,
)
def rare_pair_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-pair novelty detector: (user, resource) combinations seen
    exactly ONCE while both marginals are common — an active user
    (≥ 30 events) touching a popular resource (here event_type:hour
    cells standing in for systems; a resource qualifies when it
    carries at least half the uniform share, res_n·240 ≥ N — a
    RELATIVE floor, so the gate holds at every sf instead of pinning
    a row count the small fixtures can't reach). The classic 'first
    time this account touched that system' signal: the pair's rarity
    is suspicious only because neither side is rare.

    Scale: ONE rollup to the pair frame; both marginals re-aggregate
    the pair frame (not the scan); the resource marginal broadcasts
    (|types|×24 rows) and the total is a 1-row broadcast — no second
    pass over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.groupBy(
        "user_id",
        F.concat_ws(
            ":", "event_type", F.hour("ts").cast("string")
        ).alias("resource"),
    ).agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
    users = pairs.groupBy("user_id").agg(F.sum("pair_n").cast("long").alias("user_n"))
    res = pairs.groupBy("resource").agg(F.sum("pair_n").cast("long").alias("res_n"))
    tot = pairs.agg(F.sum("pair_n").cast("long").alias("n"))
    return (
        pairs.join(users, "user_id")
        .join(F.broadcast(res), "resource")
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("pair_n") == 1)
            & (F.col("user_n") >= 30)
            & (F.col("res_n") * 240 >= F.col("n"))
        )
        .select("user_id", "resource", "pair_n", "user_n", "res_n")
    )


@query(
    "password_spray_windows",
    category="SEC-spray",
    oracle="""
        WITH fails AS (
            SELECT CAST(ts AS DATE) AS win,
                   CAST(floor(value / 100) AS BIGINT) AS account,
                   user_id
            FROM events
            WHERE event_type = 'error' AND value IS NOT NULL
        )
        SELECT win AS window_start, account,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_sources,
               CAST(count(*) AS BIGINT) AS n_failures
        FROM fails
        GROUP BY win, account
        HAVING count(DISTINCT user_id) >= 3
        ORDER BY window_start, account
    """,
)
def password_spray_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Password-spray detector: within tumbling windows (daily DATE
    buckets here — the width is a config knob; the fixture's error
    density makes sub-hour windows empty at small sf), 'accounts' (value bands
    standing in for target account ids) hit by failed attempts
    (= error events) from ≥ 3 DISTINCT sources — the many-sources-
    one-target inversion that separates spraying from a single
    brute-forcer.

    Scale: the filter prunes to the error stream at the scan; one
    groupBy on (window, account) with a distinct-count — the same
    partial-aggregation shape as tumbling_1h_agg; the HAVING runs on
    the aggregated frame.
    """
    ev = load_table(spark, sf_dir, "events")
    fails = ev.filter(
        (F.col("event_type") == "error") & F.col("value").isNotNull()
    ).select(
        F.to_date("ts").alias("window_start"),
        F.floor(F.col("value") / 100).cast("long").alias("account"),
        "user_id",
    )
    return (
        fails.groupBy("window_start", "account")
        .agg(
            F.count_distinct("user_id").cast("long").alias("n_sources"),
            F.count(F.lit(1)).cast("long").alias("n_failures"),
        )
        .filter(F.col("n_sources") >= 3)
    )


# Watchlist for the Aho-Corasick scan: deliberately NESTED and
# overlapping (an ⊂ can ⊂ scan; or ⊂ order/sort; win ⊂ window;
# art ⊂ part) so the automaton's failure/suffix links are genuinely
# exercised — a broken suffix chain undercounts the nested patterns
# and breaks the gate.
_AC_WATCHLIST = (
    "scan", "can", "an", "order", "or", "sort", "part", "art",
    "row", "window", "win", "in", "key", "value", "merge",
)
_AC_MAXLEN = max(len(w) for w in _AC_WATCHLIST)


def _ac_oracle() -> str:
    kws = ", ".join(f"('{w}')" for w in _AC_WATCHLIST)
    return f"""
        WITH kw AS (
            SELECT w, length(w) AS klen FROM (VALUES {kws}) AS t(w)
        ), hits AS (
            SELECT k.w,
                   d.doc_id,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents d,
                 LATERAL unnest(generate_series(1, length(d.text)))
                     AS s(off),
                 kw k
            WHERE substring(d.text, CAST(s.off AS INTEGER),
                            CAST(k.klen AS INTEGER)) = k.w
            GROUP BY k.w, d.doc_id
        ), agg AS (
            SELECT w, CAST(sum(n) AS BIGINT) AS n_occurrences,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM hits GROUP BY w
        )
        SELECT k.w AS keyword,
               coalesce(a.n_occurrences, 0) AS n_occurrences,
               coalesce(a.n_occurrences, 0) AS n_occ_builtin,
               coalesce(a.n_docs, 0) AS n_docs,
               TRUE AS ac_gate
        FROM kw k LEFT JOIN agg a ON k.w = a.w
        ORDER BY keyword
    """


@query(
    "aho_corasick_watchlist_scan",
    category="TX-multipattern",
    oracle=_ac_oracle(),
)
def aho_corasick_watchlist_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AHO-CORASICK multi-pattern watchlist scan — the SIEM keyword-
    dictionary primitive (one pass over each document matches ALL K
    patterns simultaneously, including every overlapping and nested
    occurrence): a real goto/failure/output automaton built from the
    watchlist runs Arrow-batched over the corpus, counting matches
    per keyword per doc. The self-certifying `ac_gate` pins the
    automaton against an INDEPENDENT JVM-side census in the same
    result (positions exploded once, per-position prefixes of
    lengths 1..max_kw unpivoted and equi-joined against the
    broadcast watchlist — all-occurrence semantics, codegen'd, no
    Python); the oracle recomputes the census directly and asserts
    the literal-TRUE gate, so an automaton bug (broken suffix chain
    undercounting 'an' inside 'scan') is a hash red twice over.

    Scale: the automaton is O(Σ|w|) broadcast metadata and each doc
    is scanned ONCE regardless of K — the reason AC beats K
    substring passes; the certifying census is the bounded-carry
    explode shape (max-pattern-length prefixes per position) used
    only as the gate. One keyword-keyed groupBy each side.
    """
    import pandas as pd
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    kws = list(_AC_WATCHLIST)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build_ac(words):
        # goto trie
        nxt = [{}]
        out = [[]]  # word indices ending at node (own only)
        for wi, w in enumerate(words):
            node = 0
            for ch in w:
                if ch not in nxt[node]:
                    nxt.append({})
                    out.append([])
                    nxt[node][ch] = len(nxt) - 1
                node = nxt[node][ch]
            out[node].append(wi)
        # BFS failure links; merge output lists along suffix chain
        fail = [0] * len(nxt)
        queue = list(nxt[0].values())
        for node in queue:  # depth-1 fail to root
            fail[node] = 0
        i = 0
        while i < len(queue):
            node = queue[i]
            i += 1
            for ch, child in nxt[node].items():
                f = fail[node]
                while f and ch not in nxt[f]:
                    f = fail[f]
                fail[child] = nxt[f][ch] if (ch in nxt[f] and nxt[f][ch] != child) else 0
                out[child] = out[child] + out[fail[child]]
                queue.append(child)
        return nxt, fail, out

    def scan(it):
        nxt, fail, out = build_ac(kws)
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = [0] * len(kws)
                node = 0
                for ch in text:
                    while node and ch not in nxt[node]:
                        node = fail[node]
                    node = nxt[node].get(ch, 0)
                    for wi in out[node]:
                        counts[wi] += 1
                for wi, c in enumerate(counts):
                    if c:
                        rows.append((kws[wi], int(doc_id), c))
            yield pd.DataFrame(
                rows, columns=["keyword", "doc_id", "n"]
            )

    ac_schema = StructType([
        StructField("keyword", StringType()),
        StructField("doc_id", LongType()),
        StructField("n", LongType()),
    ])
    # Spread the per-character Python automaton across every core
    # (guide §2.5/§4): the single-row-group bench input plans the scan
    # as ONE partition, so without this the whole corpus walks the
    # automaton on one Python worker (measured 2.5 s warm at sf0.01 →
    # ~0.7 s).
    docs = spread_to_cores(docs)
    ac = (
        docs.mapInPandas(scan, ac_schema)
        .groupBy("keyword")
        .agg(
            F.sum("n").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    # independent JVM-side census: per-position prefixes of lengths
    # 1..max_kw, equi-joined against the broadcast watchlist
    kwdim = spark.createDataFrame(
        [(w,) for w in kws], "keyword string"
    )
    # guard each length against end-of-doc truncation: near the end
    # substring(text, off, 6) collapses to the same string as the
    # shorter requested lengths and would double-count short keywords
    grams = docs.select(
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("off"),
        "text",
    ).select(
        F.explode(
            F.array(*[
                F.expr(
                    f"CASE WHEN off + {L} - 1 <= length(text)"
                    f" THEN substring(text, off, {L}) END"
                )
                for L in range(1, _AC_MAXLEN + 1)
            ])
        ).alias("keyword")
    ).filter(F.col("keyword").isNotNull())
    builtin = grams.join(F.broadcast(kwdim), "keyword").groupBy(
        "keyword"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_occ_builtin"))
    base = kwdim.join(ac, "keyword", "left").join(
        builtin, "keyword", "left"
    )
    return base.select(
        "keyword",
        F.coalesce("n_occurrences", F.lit(0)).cast("long").alias(
            "n_occurrences"
        ),
        F.coalesce("n_occ_builtin", F.lit(0)).cast("long").alias(
            "n_occ_builtin"
        ),
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        (
            F.coalesce("n_occurrences", F.lit(0))
            == F.coalesce("n_occ_builtin", F.lit(0))
        ).alias("ac_gate"),
    )
