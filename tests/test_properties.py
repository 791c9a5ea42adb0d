"""Property-based scalar-family parity (SURVEY §5.3.3).

Hypothesis generates scalar inputs; the same expression runs in Spark
and DuckDB and must agree exactly. Catches locale/rounding/edge drift
(empty strings, negative mods, multi-byte chars) that fixed testdata
never exercises. Batched: each hypothesis example is a LIST of values
→ one Spark job per example, not per value.
"""

from __future__ import annotations

import json

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(deadline=None, max_examples=5, print_blob=False)

# Grapheme-cluster-forming characters excluded: Spark string functions
# operate on codepoints while DuckDB's reverse() is grapheme-cluster-
# aware, so reverse of any multi-codepoint cluster legitimately differs
# — recorded in tests/oracle_conventions.md; parity is only claimed
# codepoint-wise. Clusters form via combining marks (Mn/Mc/Me), format
# controls/joiners like ZWJ (Cf), GCB=Prepend letters (U+0D4E is the
# one non-Cf Prepend char in this range — it caused a real flake), and
# Hangul conjoining jamo (U+1100–U+11FF, whose L·V·T runs are single
# clusters).
texts = st.lists(
    st.text(
        alphabet=st.characters(
            min_codepoint=32,
            max_codepoint=0x2FA0,
            blacklist_categories=("Mn", "Mc", "Me", "Cs", "Cf"),
            blacklist_characters="ൎ"
            + "".join(chr(c) for c in range(0x1100, 0x1200)),
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=30,
)
ints = st.lists(
    st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=50
)


def _compare(spark, pdf: pd.DataFrame, spark_exprs: list, duck_sql: str):
    sdf = spark.createDataFrame(pdf)
    got = [
        tuple(r)
        for r in sdf.select("id", *spark_exprs).orderBy("id").collect()
    ]
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.sql(duck_sql + " ORDER BY id").fetchall()
    con.close()
    assert got == want


@settings(**SETTINGS)
@given(texts)
def test_string_family_parity(spark, vals):
    pdf = pd.DataFrame({"id": range(len(vals)), "s": vals})
    _compare(
        spark,
        pdf,
        [
            F.length("s").alias("len"),
            F.reverse("s").alias("rev"),
            F.substring("s", 2, 3).alias("sub"),
            F.concat_ws("-", "s", "s").alias("cw"),
        ],
        """
        SELECT id, length(s) AS len,
               reverse(s) AS rev, substring(s, 2, 3) AS sub,
               concat_ws('-', s, s) AS cw
        FROM t
        """,
    )


@settings(**SETTINGS)
@given(
    st.lists(
        # ASCII only: Spark applies FULL Unicode case mapping
        # (upper('ß')='SS') while DuckDB applies simple mapping
        # (upper('ß')='ẞ') — recorded in oracle_conventions.md; case
        # parity is only claimed for ASCII.
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40),
        min_size=1,
        max_size=30,
    )
)
def test_case_mapping_parity_ascii(spark, vals):
    pdf = pd.DataFrame({"id": range(len(vals)), "s": vals})
    _compare(
        spark,
        pdf,
        [F.upper("s").alias("up"), F.lower("s").alias("lo")],
        "SELECT id, upper(s) AS up, lower(s) AS lo FROM t",
    )


@settings(**SETTINGS)
@given(ints)
def test_int_math_family_parity(spark, vals):
    pdf = pd.DataFrame({"id": range(len(vals)), "x": pd.array(vals, dtype="int64")})
    _compare(
        spark,
        pdf,
        [
            F.abs("x").alias("ab"),
            F.expr("x % 7").alias("m7"),
            F.expr("pmod(x, 7)").alias("pm7"),
            F.greatest(F.col("x"), F.lit(0)).alias("gz"),
            (F.col("x") + F.lit(1)).alias("inc"),
        ],
        """
        SELECT id, abs(x) AS ab,
               CAST(x % 7 AS BIGINT) AS m7,
               CAST(((x % 7) + 7) % 7 AS BIGINT) AS pm7,
               greatest(x, 0) AS gz, x + 1 AS inc
        FROM t
        """,
    )


@settings(**SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=20000),  # days since epoch ≈ 1970–2024
        min_size=1,
        max_size=30,
    )
)
def test_date_family_parity(spark, day_offsets):
    pdf = pd.DataFrame(
        {
            "id": range(len(day_offsets)),
            "d": [pd.Timestamp("1970-01-01") + pd.Timedelta(days=n) for n in day_offsets],
        }
    )
    _compare(
        spark,
        pdf,
        [
            F.year("d").alias("y"),
            F.month("d").alias("mo"),
            F.dayofmonth("d").alias("dd"),
            F.date_add(F.col("d").cast("date"), 45).alias("plus45"),
            F.datediff(F.col("d").cast("date"), F.lit("2000-01-01").cast("date")).alias(
                "dd2k"
            ),
        ],
        """
        SELECT id, CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS mo,
               CAST(day(d) AS INT) AS dd,
               CAST(d AS DATE) + 45 AS plus45,
               CAST(date_diff('day', DATE '2000-01-01', CAST(d AS DATE)) AS INT) AS dd2k
        FROM t
        """,
    )


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefghij_", min_size=1, max_size=8),  # key
            st.integers(min_value=-(10**9), max_value=10**9),          # int value
            st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                           blacklist_characters='"\\'),
                    max_size=15),                                       # str value
        ),
        min_size=1,
        max_size=25,
    )
)
def test_json_extract_family_parity(spark, triples):
    """get_json_object vs DuckDB json_extract over generated docs —
    int and string fields, plus a missing-key probe (both NULL)."""
    docs = [
        json.dumps({k: n, f"{k}_s": s, "nested": {"v": n}})
        for k, n, s in triples
    ]
    keys = [k for k, _n, _s in triples]
    pdf = pd.DataFrame({"id": range(len(docs)), "doc": docs, "k": keys})
    sdf = spark.createDataFrame(pdf)
    got = [
        tuple(r)
        for r in sdf.select(
            "id",
            F.get_json_object("doc", "$.nested.v").cast("long").alias("nv"),
            F.get_json_object("doc", "$.__missing__").alias("miss"),
        )
        .orderBy("id")
        .collect()
    ]
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.sql(
        """
        SELECT id,
               CAST(json_extract(doc, '$.nested.v') AS BIGINT) AS nv,
               CAST(json_extract(doc, '$.__missing__') AS VARCHAR) AS miss
        FROM t ORDER BY id
        """
    ).fetchall()
    con.close()
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20000),  # days from 1970
            st.integers(min_value=0, max_value=86399),  # second of day
            st.integers(min_value=1, max_value=13),     # months to add
        ),
        min_size=1,
        max_size=40,
    )
)
def test_interval_month_clamp_parity(spark, rows):
    """Calendar-month addition across month ends (Jan 31 + 1 month,
    leap-Feb edges, year rollover): Spark's `ts + INTERVAL n MONTH`
    and DuckDB's must clamp identically, including the time-of-day
    carry. Hypothesis drives arbitrary dates; fixed testdata only
    spans January."""
    pdf = pd.DataFrame(
        {
            "id": range(len(rows)),
            "ts": [
                pd.Timestamp("1970-01-01")
                + pd.Timedelta(days=d, seconds=s)
                for d, s, _ in rows
            ],
            "m": [m for _, _, m in rows],
        }
    )
    _compare(
        spark,
        pdf,
        [
            F.expr("ts + make_interval(0, m)").alias("plus_m"),
            F.last_day(F.col("ts").cast("date")).alias("eom"),
            F.add_months(F.col("ts").cast("date"), F.col("m")).alias("am"),
        ],
        """
        SELECT id,
               ts + to_months(CAST(m AS INT)) AS plus_m,
               last_day(CAST(ts AS DATE)) AS eom,
               CAST(CAST(ts AS DATE) + to_months(CAST(m AS INT)) AS DATE) AS am
        FROM t
        """,
    )


@given(
    lines=st.lists(
        st.tuples(
            st.sampled_from(["f1", "f2"]),
            st.text(alphabet="ab XY", min_size=1, max_size=6),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_multiline_reassembly_partitions_lines(spark, lines):
    """Invariant: multiline reassembly is a PARTITION of the input —
    per source, joining the messages back in first_line_no order and
    re-splitting on the separator reproduces the exact line sequence,
    and n_lines sums to the line count. Continuation = starts with a
    lowercase letter."""
    from eventstreams_spark.operators.multiline import multiline_reassemble

    counters: dict[str, int] = {}
    rows = []
    for f, t in lines:
        counters[f] = counters.get(f, 0) + 1
        rows.append((f, counters[f], t))
    df = spark.createDataFrame(rows, "file string, line_no int, line string")
    out = multiline_reassemble(
        df, "line", "line_no", pattern="^[a-z]", group_cols=["file"], sep="\x1e"
    ).collect()
    by_file: dict[str, list] = {}
    for r in out:
        by_file.setdefault(r.file, []).append(r)
    for f in {r[0] for r in rows}:
        want = [t for (g, _, t) in rows if g == f]
        evs = sorted(by_file.get(f, []), key=lambda r: r.first_line_no)
        got = [piece for r in evs for piece in r.message.split("\x1e")]
        assert got == want, (f, got, want)
        assert sum(r.n_lines for r in evs) == len(want)
        # every event after the first must start with a non-continuation
        for r in evs:
            first = r.message.split("\x1e")[0]
            if r.first_line_no > 1:
                assert not first[:1].islower(), r


@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    )
)
@settings(**SETTINGS)
def test_exact_global_rank_matches_global_sort(spark, vals):
    """Invariant: the bucketed exact rank equals the rank a single
    global sort would assign, for any value distribution (duplicates,
    skew, all-equal) and any bucket count."""
    from eventstreams_spark.operators.ranking import exact_global_rank

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, id long")
    got = {
        r.id: r.rnk
        for r in exact_global_rank(df, ["v", "id"], rank_col="rnk", n_buckets=4).collect()
    }
    want = {
        i: rank + 1
        for rank, (v, i) in enumerate(sorted(rows, key=lambda t: (t[0], t[1])))
    }
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=500),    # start offset (s)
            st.integers(min_value=1, max_value=60),     # duration (s)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_interval_coverage_matches_brute_force(spark, rows):
    """Property: the running-max-of-end island merge computes EXACTLY
    the measure and component-count of the union of intervals — for
    any overlap pattern hypothesis produces — vs a brute-force
    second-by-second union per user."""
    import pandas as pd
    from pyspark.sql import Window

    pdf = pd.DataFrame(rows, columns=["u", "s", "d"])
    pdf["e"] = pdf["s"] + pdf["d"]
    sdf = spark.createDataFrame(pdf[["u", "s", "e"]])
    w = Window.partitionBy("u").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = sdf.withColumn(
        "ni", F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
    )
    islands = flagged.withColumn("iid", F.sum("ni").over(w))
    got = {
        r.u: (r.n, r.cov)
        for r in islands.groupBy("u", "iid")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("me") - F.col("ms")).alias("cov"),
        )
        .collect()
    }
    for u, grp in pdf.groupby("u"):
        covered = set()
        for _, r in grp.iterrows():
            covered.update(range(r.s, r.e))
        # component count: covered seconds with no predecessor
        comps = sum(1 for x in covered if x - 1 not in covered)
        assert got[u] == (comps, len(covered)), (u, got[u], comps)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.booleans(),                                # treatment?
            st.integers(min_value=0, max_value=8),        # bucketed metric
        ),
        min_size=2,
        max_size=60,
    ).filter(lambda xs: any(t for t, _ in xs) and any(not t for t, _ in xs))
)
def test_mann_whitney_midrank_matches_naive(spark, rows):
    """Property: the distinct-bucket prefix-sum rank construction
    equals naive midranks (scipy-style average ranks) for any tie
    pattern."""
    import pandas as pd
    from pyspark.sql import Window

    pdf = pd.DataFrame(rows, columns=["t", "v"])
    sdf = spark.createDataFrame(pdf)
    per_v = sdf.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("t").cast("int")).alias("ct"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.withColumn("below", F.sum("cnt").over(w))
    got = ranked.agg(
        F.sum(
            F.col("ct")
            * (F.coalesce(F.col("below"), F.lit(0)) + (F.col("cnt") + 1) / 2.0)
        ).alias("r1")
    ).collect()[0].r1
    # naive midranks
    s = pdf["v"].sort_values().reset_index(drop=True)
    ranks = {}
    for val, grp in s.groupby(s):
        idx = grp.index + 1  # 1-based positions in the sorted order
        ranks[val] = idx.to_series().mean()
    want = sum(ranks[v] for t, v in rows if t)
    assert got == pytest.approx(want)


# ---- codec roundtrip properties: random pixels/indices through a
# spec-faithful inline encoder must survive the production decoders
# exactly (pure-Python, no Spark session needed).

_pixels = st.integers(min_value=0, max_value=255)


@settings(deadline=None, max_examples=25, print_blob=False)
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
def test_png_filter_roundtrip_property(w, h, data):
    """Any image through any per-row mix of the five PNG filters
    reconstructs exactly."""
    from eventstreams_spark.operators.multimodal import (
        _paeth,
        _png_unfilter,
    )

    raw = data.draw(
        st.lists(_pixels, min_size=w * h * 3, max_size=w * h * 3)
    )
    ftypes = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=4), min_size=h, max_size=h
        )
    )
    stride = w * 3
    enc = bytearray()
    for y in range(h):
        row = raw[y * stride : (y + 1) * stride]
        prior = raw[(y - 1) * stride : y * stride] if y else [0] * stride
        ft = ftypes[y]
        enc.append(ft)
        for i in range(stride):
            left = row[i - 3] if i >= 3 else 0
            up = prior[i]
            ul = prior[i - 3] if i >= 3 else 0
            pred = [0, left, up, (left + up) >> 1, _paeth(left, up, ul)][ft]
            enc.append((row[i] - pred) & 0xFF)
    assert list(_png_unfilter(bytes(enc), w, h)) == raw


@settings(deadline=None, max_examples=25, print_blob=False)
@given(
    idx=st.one_of(
        # wide alphabet: width transitions dominate
        st.lists(
            st.integers(min_value=0, max_value=255),
            min_size=1, max_size=600,
        ),
        # tiny alphabet: heavy dictionary reuse + KwKwK codes
        st.lists(
            st.integers(min_value=0, max_value=2),
            min_size=1, max_size=600,
        ),
    )
)
def test_gif_lzw_roundtrip_property(idx):
    """Any index stream through a spec-faithful LZW encoder
    (emit-then-add, width bump at 2^width) decodes exactly — random
    repetition exercises dictionary growth, width transitions past 9
    and 10 bits, and occasional KwKwK codes."""
    from eventstreams_spark.operators.multimodal import _lzw_decode

    min_size = 8
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
    for k in idx:
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
    assert _lzw_decode(bytes(out), min_size) == idx


# Noise around and inside grok lines: the one-pass delimiter (\x01),
# CR/LF, quotes, brackets and non-ASCII text.
_grok_noise = st.text(alphabet=' "-[]/:.aZ1\x01\r\né日', max_size=8)
_grok_token = st.text(alphabet="ab1.-_\x01é", min_size=1, max_size=5)


@st.composite
def _grok_line(draw):
    kind = draw(st.sampled_from(["apache", "syslog", "noise"]))
    body = ""
    if kind == "apache":
        version = draw(st.sampled_from(["", " HTTP/1.1", " HTTP/2"]))
        nbytes = draw(st.sampled_from(["-", "0", "512"]))
        agent = draw(_grok_noise).replace('"', "")
        body = (
            f"10.0.{draw(st.integers(0, 255))}.1 {draw(_grok_token)} {draw(_grok_token)} "
            f'[10/Oct/2024:10:00:00 +0000] "GET /{draw(_grok_token)}{version}" '
            f'200 {nbytes} "-" "{agent}"'
        )
    elif kind == "syslog":
        body = f"Jan  2 03:04:05 {draw(_grok_token)} sshd[12]: {draw(_grok_noise)}"
    return draw(_grok_noise) + body + draw(_grok_noise)


@given(lines=st.lists(st.one_of(st.none(), _grok_line()), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_grok_one_pass_matches_per_field_extract(spark, lines):
    """The one-pass grok frame helper equals one regexp_extract per
    field on random lines: garbage around the match, CR/LF and the
    delimiter inside fields, absent optional groups, NULL lines."""
    from eventstreams_spark.functions.grok import grok_extract, grok_frame

    df = spark.createDataFrame(list(enumerate(lines)), "id int, line string")
    for expr in ("%{COMBINEDAPACHELOG}", "%{SYSLOGLINE}"):
        got = grok_frame(df, "line", expr).orderBy("id").collect()
        want = df.withColumns(grok_extract("line", expr)).orderBy("id").collect()
        assert got == want, expr
