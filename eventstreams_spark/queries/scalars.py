"""Scalar function family suites (SURVEY §2.8) — one oracle query per
family, exercising the representative functions over real tables.

Divergences handled (documented in tests/oracle_conventions.md):
dayofweek numbering (Spark Sun=1, DuckDB Sun=0), regexp_replace
default scope (Spark global, DuckDB first-match → 'g' flag), libm
transcendentals (round 8dp both sides), double→int casts (floor).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

#: Where the roundtrip queries write: ``.scratch`` in the checkout that
#: holds this package (not the CWD), unless SPARK_GRAFT_SCRATCH is set.
SCRATCH = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
    ),
)


@query(
    "scalar_string_suite",
    category="F-string",
    oracle="""
        SELECT doc_id,
               lower(substr(text, 1, 30))                   AS head_lower,
               upper(lang)                                  AS lang_upper,
               concat_ws('-', lang, source)                 AS lang_source,
               lpad(source, 8, '0')                         AS source_padded,
               reverse(lang)                                AS lang_rev,
               length(text)                                 AS text_len,
               instr(text, 'data')                          AS data_pos,
               regexp_replace(text, 'data', 'DATA', 'g')    AS text_shout,
               translate(source, 'src', 'SRC')              AS source_trans,
               repeat(lang, 3)                              AS lang3,
               levenshtein(lang, 'en')                      AS lev_en,
               trim(concat('  ', lang, '  '))               AS lang_trim
        FROM documents
        WHERE doc_id < 100
    """,
)
def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, pad, concat, regex, translate, distance."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.lower(F.substring("text", 1, 30)).alias("head_lower"),
        F.upper("lang").alias("lang_upper"),
        F.concat_ws("-", "lang", "source").alias("lang_source"),
        F.lpad("source", 8, "0").alias("source_padded"),
        F.reverse("lang").alias("lang_rev"),
        F.length("text").alias("text_len"),
        F.instr("text", "data").alias("data_pos"),
        # Spark regexp_replace is global by default; DuckDB needs 'g'
        F.regexp_replace("text", "data", "DATA").alias("text_shout"),
        F.translate("source", "src", "SRC").alias("source_trans"),
        F.repeat("lang", 3).alias("lang3"),
        F.levenshtein("lang", F.lit("en")).alias("lev_en"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("lang_trim"),
    )


@query(
    "scalar_datetime_suite",
    category="F-datetime",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate)                       AS yr,
               month(o_orderdate)                      AS mon,
               day(o_orderdate)                        AS dom,
               dayofweek(o_orderdate) + 1              AS dow,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               o_orderdate + INTERVAL 5 DAY            AS plus5d,
               date_diff('day', o_orderdate, TIMESTAMP '2000-01-01') AS days_to_y2k,
               last_day(o_orderdate)                   AS month_end,
               epoch_us(o_orderdate)                   AS epoch_micros,
               strftime(o_orderdate, '%Y-%m-%d')       AS iso_date
        FROM orders
        WHERE o_orderkey <= 500
    """,
)
def scalar_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family. dow aligned to Spark numbering (Sun=1) by
    adding 1 on the DuckDB side (its Sunday is 0)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 5 DAYS")).alias("plus5d"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate")).alias("days_to_y2k"),
        F.last_day("o_orderdate").alias("month_end"),
        # parquet TIMESTAMP(MILLIS, no-UTC) reads as TIMESTAMP_NTZ; the
        # cast to ltz is lossless because the session tz is pinned UTC
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("epoch_micros"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_date"),
    )


@query(
    "scalar_math_suite",
    category="F-math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice, 1)                      AS price_r1,
               CAST(floor(l_extendedprice) AS BIGINT)         AS price_floor,
               CAST(ceiling(l_extendedprice) AS BIGINT)       AS price_ceil,
               abs(l_discount - 0.05)                         AS disc_dev,
               l_quantity * l_quantity                        AS qty_sq,
               sqrt(l_extendedprice)                          AS price_sqrt,
               CAST(sign(l_discount - 0.05) AS DOUBLE)        AS disc_sign,
               greatest(l_discount, l_tax)                    AS max_rate,
               least(l_discount, l_tax)                       AS min_rate,
               round(ln(l_extendedprice), 8)                  AS price_ln,
               round(log10(l_extendedprice), 8)               AS price_log10,
               ((CAST(l_quantity AS BIGINT) - 30) % 7 + 7) % 7 AS qty_pmod7
        FROM lineitem
        WHERE l_orderkey <= 200
    """,
)
def scalar_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. sqrt is IEEE-exact cross-engine; ln/log10 are libm
    calls rounded 8dp; pmod expressed as ((a%b)+b)%b in the oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.round(F.log(F.col("l_extendedprice")), 8).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 8).alias("price_log10"),
        F.pmod(F.col("l_quantity").cast("bigint") - 30, F.lit(7)).alias("qty_pmod7"),
    )


@query(
    "array_ops_suite",
    category="F-array",
    oracle="""
        SELECT vec_id,
               len(embedding)                                    AS dim,
               CAST(embedding[1] AS DOUBLE)                      AS first_val,
               CAST(list_sort(embedding)[1] AS DOUBLE)           AS min_val,
               CAST(list_sort(embedding)[64] AS DOUBLE)          AS max_val,
               list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sum_sq,
               len(list_filter(embedding, x -> x > 0))           AS n_positive,
               -- serialized as exact scaled-BIGINT CSV: list result columns
               -- crash the driver canonicalizer and double->string formats
               -- differ across engines
               array_to_string(list_transform(embedding[62:64],
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)),
                   ',')                                          AS tail3
        FROM embeddings
        WHERE vec_id < 100
    """,
)
def array_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: size, index, sort, higher-order transform/filter/
    aggregate, slice — all JVM-side Catalyst expressions. The slice
    output is serialized to a scaled-integer CSV string for the oracle
    hash (list columns are unhashable driver-side)."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    arr = F.col("embedding")
    dbl = lambda c: c.cast("double")  # noqa: E731
    return e.select(
        "vec_id",
        F.size(arr).alias("dim"),
        dbl(F.element_at(arr, 1)).alias("first_val"),
        dbl(F.array_min(arr)).alias("min_val"),
        dbl(F.array_max(arr)).alias("max_val"),
        F.aggregate(
            F.transform(arr, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_positive"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(arr, 62, 3),
                lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast("long"),
            ),
        ).alias("tail3"),
    )


@query(
    "map_kv_parse",
    category="F-map",
    oracle="""
        SELECT event_id,
               event_type               AS kv_type,
               CAST(user_id AS BIGINT)  AS kv_uid,
               'k,type,uid'             AS kv_keys
        FROM events
        WHERE event_id < 500
    """,
)
def map_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash `kv` filter: parse k=v;k=v strings via str_to_map.

    The kv string is synthesized from event fields and parsed back;
    the oracle states ground truth directly, so str_to_map/map access
    deviations fail the hash.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    kv = F.concat(
        F.lit("type="), F.col("event_type"),
        F.lit(";uid="), F.col("user_id").cast("string"),
        F.lit(";k="), F.get_json_object("props", "$.k"),
    )
    m = F.str_to_map(kv, F.lit(";"), F.lit("="))
    return ev.select(
        "event_id",
        m["type"].alias("kv_type"),
        m["uid"].cast("bigint").alias("kv_uid"),
        F.concat_ws(",", F.sort_array(F.map_keys(m))).alias("kv_keys"),
    )


@query(
    "scan_csv_roundtrip",
    category="S2",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey,
               concat(n_name, '#', CAST(n_regionkey AS VARCHAR)) AS tagged
        FROM nation
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink roundtrip (S2/K2): write nation as headered CSV,
    read it back with an explicit schema (never inferSchema in prod —
    it's an extra scan job), verify content against the parquet truth."""
    n = load_table(spark, sf_dir, "nation")
    out = os.path.join(SCRATCH, "csv_roundtrip", os.path.basename(sf_dir.rstrip("/")))
    n.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", True)
        .csv(out)
    )
    return back.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.concat(F.col("n_name"), F.lit("#"), F.col("n_regionkey").cast("string")).alias("tagged"),
    )


@query(
    "scan_json_roundtrip",
    category="S2",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink roundtrip (S2/K2, the Logstash `json`
    codec half of S2 — scan_csv_roundtrip covers the csv codec): write
    nation with a NESTED struct payload as .json, read it back with an
    explicit nested schema (never schema inference in prod — it is an
    extra full scan), flatten via getField, verify against the parquet
    truth.

    Scale: JSON is the interchange format, not the storage format —
    line-splittable so a 100 TB directory still parallelizes per block,
    but ~10x the scan cost of parquet (no column pruning, text parse
    per row); land it to parquet once and query that.
    """
    n = load_table(spark, sf_dir, "nation")
    out = os.path.join(SCRATCH, "json_roundtrip", os.path.basename(sf_dir.rstrip("/")))
    n.select(
        "n_nationkey", F.struct("n_name", "n_regionkey").alias("meta")
    ).write.mode("overwrite").json(out)
    back = spark.read.schema(
        "n_nationkey int, meta struct<n_name:string, n_regionkey:int>"
    ).json(out)
    return back.select(
        "n_nationkey",
        F.col("meta.n_name").alias("n_name"),
        F.col("meta.n_regionkey").alias("n_regionkey"),
    )


@query(
    "map_functions_suite",
    category="F-map2",
    oracle="""
        SELECT event_id,
               'k,type,uid'         AS keys_sorted,
               event_type           AS v_type,
               upper(event_type)    AS v_type_upper,
               2                    AS n_after_filter,
               4                    AS n_after_concat,
               CAST(user_id AS VARCHAR) AS uid_str
        FROM events
        WHERE event_id < 300
    """,
)
def map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column function family: construction, sorted key listing,
    lookup, map_filter, transform_values, map_concat. The oracle
    states ground truth from the source columns directly (DuckDB's MAP
    type differs structurally, so the map never crosses the engine
    boundary — same convention as map_kv_parse). event_type values are
    ASCII so upper() is engine-safe (oracle_conventions.md).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
        F.lit("k"), F.get_json_object("props", "$.k"),
    )
    return ev.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_sorted"),
        F.element_at(m, "type").alias("v_type"),
        F.element_at(
            F.transform_values(m, lambda k, v: F.upper(v)), "type"
        ).alias("v_type_upper"),
        F.size(F.map_filter(m, lambda k, v: k != F.lit("k"))).alias(
            "n_after_filter"
        ),
        F.size(
            F.map_concat(m, F.create_map(F.lit("extra"), F.lit("1")))
        ).alias("n_after_concat"),
        F.element_at(m, "uid").alias("uid_str"),
    )


@query(
    "scalar_conditional_suite",
    category="F-cond",
    oracle="""
        SELECT event_id,
               coalesce(nullif(event_type, 'error'), 'ERR')      AS type_or_err,
               ifnull(try_cast(json_extract_string(props, '$.missing') AS INTEGER), -1)
                                                                 AS missing_k,
               greatest(value, 100.0)                            AS at_least_100,
               least(value, 100.0)                               AS at_most_100,
               CASE WHEN value > 250 THEN 'high'
                    WHEN value > 100 THEN 'mid' ELSE 'low' END   AS band,
               (value BETWEEN 100 AND 250)                       AS in_band,
               CAST(user_id = 1 AS INTEGER)                      AS is_user1
        FROM events
        WHERE event_id < 400
    """,
)
def scalar_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-expression family: nullif/coalesce chains, ifnull
    with try_cast on a missing JSON path, greatest/least clamps,
    CASE banding, BETWEEN, and boolean→int casts — all codegen
    expressions, all named identically (or trivially aliased) across
    engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    missing = F.get_json_object("props", "$.missing").try_cast("int")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("ERR")).alias(
            "type_or_err"
        ),
        F.ifnull(missing, F.lit(-1)).alias("missing_k"),
        F.greatest("value", F.lit(100.0)).alias("at_least_100"),
        F.least("value", F.lit(100.0)).alias("at_most_100"),
        F.when(F.col("value") > 250, "high")
        .when(F.col("value") > 100, "mid")
        .otherwise("low")
        .alias("band"),
        F.col("value").between(100, 250).alias("in_band"),
        (F.col("user_id") == 1).cast("int").alias("is_user1"),
    )


@query(
    "array_set_algebra",
    category="F-array2",
    oracle="""
        WITH arr AS (
            SELECT event_id,
                   generate_series(1, 1 + event_id % 4)         AS a,
                   generate_series(event_id % 3, event_id % 3 + 3) AS b
            FROM events WHERE event_id < 400
        )
        -- array outputs serialized to CSV strings on BOTH sides: list
        -- result columns are unhashable in the driver canonicalizer.
        -- coalesce: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
        SELECT event_id,
               coalesce(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','), '') AS u,
               coalesce(array_to_string(list_sort(list_intersect(a, b)), ','), '')             AS i,
               coalesce(array_to_string(list_sort(list_filter(list_distinct(a),
                                     x -> NOT list_contains(b, x))), ','), '') AS d,
               len(list_intersect(a, b)) > 0               AS overlaps,
               len(a) + len(b)                             AS n_flat,
               list_contains(a, 2)                         AS has_2,
               coalesce(array_to_string(b[1:2], ','), '')  AS b_head,
               CAST(coalesce(list_position(a, 2), 0) AS BIGINT) AS pos_2
        FROM arr
    """,
)
def array_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra: union/intersect/except (sorted on BOTH sides
    — the engines' native result orders differ), overlap, flatten
    size, membership, slice, position. Divergence pinned: Spark
    array_position returns 0 for absent, DuckDB list_position returns
    NULL — the oracle coalesces to 0. All codegen; arrays built with
    sequence() from scalar fields so no testdata dependency beyond
    event_id.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    a = F.sequence(F.lit(1), F.lit(1) + F.col("event_id") % 4)
    b = F.sequence(F.col("event_id") % 3, F.col("event_id") % 3 + 3)
    return ev.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.array_union(a, b))).alias("u"),
        F.concat_ws(",", F.array_sort(F.array_intersect(a, b))).alias("i"),
        F.concat_ws(",", F.array_sort(F.array_except(a, b))).alias("d"),
        F.arrays_overlap(a, b).alias("overlaps"),
        F.size(F.flatten(F.array(a, b))).alias("n_flat"),
        F.array_contains(a, 2).alias("has_2"),
        F.concat_ws(",", F.slice(b, 1, 2)).alias("b_head"),
        F.array_position(a, 2).alias("pos_2"),
    )


@query(
    "scan_orc_roundtrip",
    category="S2-orc",
    oracle="""
        SELECT s_suppkey, s_name, s_nationkey,
               round(s_acctbal, 2) AS bal
        FROM supplier
        ORDER BY s_suppkey
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip (S2 columnar-format breadth): write
    supplier as ORC (zlib), read it back, verify content against the
    parquet truth. ORC carries the same column-pruning + predicate-
    pushdown contract as parquet in Spark's DSv1 path — the format is
    a config choice, not a plan change.
    """
    s = load_table(spark, sf_dir, "supplier")
    out = os.path.join(SCRATCH, "orc_roundtrip", os.path.basename(sf_dir.rstrip("/")))
    s.write.mode("overwrite").format("orc").save(out)
    back = spark.read.format("orc").load(out)
    return back.select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round("s_acctbal", 2).alias("bal"),
    )


@query(
    "timezone_conversion_suite",
    category="2.8-tz",
    oracle="""
        WITH loc AS (
            SELECT ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York'
                       AS ny,
                   ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Kolkata'
                       AS kolkata
            FROM events
        )
        SELECT CAST(hour(ny) AS INT) AS ny_hour,
               CAST(minute(kolkata) AS INT) AS kolkata_min,
               count(*) AS n,
               min(ny) AS min_ny,
               max(kolkata) AS max_kolkata
        FROM loc
        GROUP BY ny_hour, kolkata_min
        ORDER BY ny_hour, kolkata_min
    """,
)
def timezone_conversion_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-zone conversion family pinned cross-engine: UTC instants →
    wall-clock in a DST zone (America/New_York — offset −5/−4 varies
    through the year) and a half-hour-offset zone (Asia/Kolkata,
    +5:30, which shifts the MINUTE field — the classic bug a census by
    (hour, minute) catches). Spark `from_utc_timestamp` must agree
    with DuckDB's double `AT TIME ZONE` on every instant, DST
    transitions included — both resolve via the IANA tzdb.

    Scale: pure codegen projections + one low-cardinality aggregate.
    Conversions never require a shuffle; the tzdb lookup is a
    constant-folded zone rule, not a join.
    """
    ev = load_table(spark, sf_dir, "events")
    ny = F.from_utc_timestamp("ts", "America/New_York")
    kolkata = F.from_utc_timestamp("ts", "Asia/Kolkata")
    return (
        ev.select(ny.alias("ny"), kolkata.alias("kolkata"))
        .groupBy(
            F.hour("ny").cast("int").alias("ny_hour"),
            F.minute("kolkata").cast("int").alias("kolkata_min"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ny").alias("min_ny"),
            F.max("kolkata").alias("max_kolkata"),
        )
    )


@query(
    "aes_roundtrip_identity",
    category="2.8-crypto",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               count(*) AS n_roundtrip_ok,
               min(props) AS min_props
        FROM events
        WHERE event_id <= 2000
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def aes_roundtrip_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption pinned by ROUNDTRIP identity:
    aes_encrypt (GCM, key derived from a salt via sha2 — 16-byte hex
    prefix) then try_aes_decrypt must restore every payload byte, so
    the oracle is the PLAINTEXT census (n_roundtrip_ok counts rows
    where decrypt == original — hash-red if any byte diverges).
    DuckDB has no AES; the identity construction makes the contract
    checkable anyway (same pattern as xml_extract_roundtrip).

    Scale: both sides are codegen'd JVM expressions; GCM's random IV
    makes ciphertexts non-deterministic, which is WHY the pin is on
    the decrypted payload, never the ciphertext. Key distribution at
    scale is a broadcast literal (or KMS lookup), not a join.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 2000)
    key = F.substring(F.sha2(F.lit("keysalt|v1"), 256), 1, 16)
    enc = F.aes_encrypt(F.col("props").cast("binary"), key.cast("binary"))
    dec = F.try_aes_decrypt(enc, key.cast("binary")).cast("string")
    return (
        ev.select("event_type", "props", dec.alias("rt"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("rt") == F.col("props"), 1)).alias(
                "n_roundtrip_ok"
            ),
            F.min("props").alias("min_props"),
        )
    )


@query(
    "parquet_merge_schema_roundtrip",
    category="S2-mergeschema",
    oracle="""
        WITH old_half AS (
            SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE) AS acct_rounded
            FROM supplier WHERE s_suppkey % 2 = 0
        ), new_half AS (
            SELECT s_suppkey, s_name,
                   CAST(round(s_acctbal, 2) AS DOUBLE) AS acct_rounded
            FROM supplier WHERE s_suppkey % 2 = 1
        ), merged AS (
            SELECT * FROM old_half UNION ALL SELECT * FROM new_half
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN acct_rounded IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_old_schema_rows,
               CAST(sum(CASE WHEN acct_rounded IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new_schema_rows,
               CAST(round(sum(coalesce(acct_rounded, 0.0)), 2) AS DOUBLE)
                   AS sum_new_acct
        FROM merged
    """,
)
def parquet_merge_schema_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution roundtrip (S2 depth): the supplier table is
    written as TWO parquet batches with different schemas — the "old
    ingest" half lacks the acct_rounded column, the "new ingest" half
    carries it — then read back in one scan with mergeSchema=true.
    Rows from old files surface the missing column as NULL, which is
    exactly how a production lake absorbs an added column without
    rewriting history; the census pins the null split and the summed
    new-column content.

    Determinism: integer counts and one cent-rounded sum over half
    the dimension table.

    Scale: mergeSchema reconciles FOOTERS (per-file metadata), not
    data — the read stays one pruned columnar scan; the write halves
    are partitioned-once dimension writes.
    """
    s = load_table(spark, sf_dir, "supplier")
    out = os.path.join(
        SCRATCH, "merge_schema", os.path.basename(sf_dir.rstrip("/"))
    )
    old_half = s.filter(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey", "s_name"
    )
    new_half = s.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name",
        F.round("s_acctbal", 2).cast("double").alias("acct_rounded"),
    )
    old_half.write.mode("overwrite").parquet(os.path.join(out, "v1"))
    new_half.write.mode("overwrite").parquet(os.path.join(out, "v2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "v1"), os.path.join(out, "v2")
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("acct_rounded").isNull(), 1).otherwise(0))
        .cast("long").alias("n_old_schema_rows"),
        F.sum(F.when(F.col("acct_rounded").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_new_schema_rows"),
        F.round(F.sum(F.coalesce(F.col("acct_rounded"), F.lit(0.0))), 2)
        .alias("sum_new_acct"),
    )


@query(
    "csv_corrupt_record_census",
    category="S2-corruptcsv",
    oracle="""
        WITH lines AS (
            SELECT s_suppkey,
                   (instr('0123456789abcdef',
                          substr(md5('bad|' || CAST(s_suppkey AS VARCHAR)),
                                 1, 1)) - 1) % 5 = 0 AS is_bad
            FROM supplier
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN is_bad THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corrupt,
               CAST(sum(CASE WHEN is_bad THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_parsed,
               CAST(sum(CASE WHEN is_bad THEN 0 ELSE s_suppkey END)
                    AS BIGINT) AS parsed_key_sum
        FROM lines
    """,
)
def csv_corrupt_record_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV handling census (S2 ingest depth): supplier rows
    are serialized to CSV with ~20% of lines deliberately corrupted
    (md5-minted: the numeric key written as a non-numeric token), then
    read back under PERMISSIVE mode with a _corrupt_record column —
    the Logstash-DLQ-equivalent contract: bad lines are CAPTURED, not
    dropped, and good lines parse untouched. The census pins both
    populations and the parsed-key checksum.

    Determinism: corruption is md5-minted per key; all outputs are
    integer counts/sums.

    Scale: the corrupt-record path is row-local parse logic inside
    the scan — no extra pass; the DLQ split downstream is one filter
    (split_dead_letters), identical at any size.
    """
    s = load_table(spark, sf_dir, "supplier")
    out = os.path.join(
        SCRATCH, "corrupt_csv", os.path.basename(sf_dir.rstrip("/"))
    )
    bad = (
        F.expr(
            "(instr('0123456789abcdef',"
            " substr(md5(concat('bad|', cast(s_suppkey AS STRING))), 1, 1))"
            " - 1) % 5"
        )
        == 0
    )
    lines = s.select(
        F.when(
            bad,
            F.concat(F.lit("X"), F.col("s_suppkey").cast("string"), F.lit("X,oops")),
        )
        .otherwise(
            F.concat(
                F.col("s_suppkey").cast("string"),
                F.lit(","),
                F.col("s_nationkey").cast("string"),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = "s_suppkey LONG, s_nationkey LONG, _corrupt_record STRING"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    # cache before touching _corrupt_record: Spark requires it (the
    # corrupt column is only populated when other columns are also
    # referenced from the same scan)
    back = back.cache()
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long").alias("n_parsed"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("s_suppkey"))
            .otherwise(0)
        ).cast("long").alias("parsed_key_sum"),
    )


@query(
    "scan_avro_roundtrip",
    category="S2-avro",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey,
               CASE WHEN n_regionkey = 0 THEN NULL
                    ELSE concat('r', CAST(n_regionkey AS VARCHAR))
               END AS region_tag
        FROM nation
    """,
)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink roundtrip (S2/K2 — the format VERDICT r5
    listed as env-blocked): the env has no spark-avro jar and no avro
    library at all, so sources/avro.py implements the Object
    Container File format from the public spec directly — pure-Python
    block/sync framing with zigzag-varint record encoding, deflate or
    null codec, Spark-side plumbing via binaryFile + mapInPandas
    (read) and foreachPartition (write). This query writes nation
    (with a nullable derived column — Avro's ["null", T] union) as
    deflate-coded containers and reads it back; the oracle computes
    the same frame from the parquet truth, so any encode/decode/
    framing bug hash-mismatches.

    Scale: read parallelizes per FILE (containers are sync-marker
    splittable, but binaryFile hands whole files — the right grain
    when files are partition-sized, which the writer guarantees by
    emitting one container per partition); the decode is one
    Arrow-batched Python pass per file. Avro is an interchange
    format — land it to parquet once and query that.
    """
    from ..sources.avro import read_avro, write_avro

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.when(F.col("n_regionkey") == 0, F.lit(None))
        .otherwise(F.concat(F.lit("r"), F.col("n_regionkey").cast("string")))
        .alias("region_tag"),
    )
    out = os.path.join(
        SCRATCH, "avro_roundtrip", os.path.basename(sf_dir.rstrip("/"))
    )
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    write_avro(n, out, codec="deflate")
    back = read_avro(spark, out)
    return back.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
        "region_tag",
    )
