"""P-series: projection / filter / per-event mutation operators
(SURVEY §2.3) — the Logstash mutate/grok/date/translate/fingerprint
filter family, expressed as narrow JVM-side column expressions.

All per-row computations over identical inputs are bit-exact across
engines (IEEE 754, same expression tree), so these queries need no
float-drift mitigation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.grok import grok_frame, grok_to_regex
from ..registry import query


@query(
    "project_compute",
    category="P1",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount)               AS net_price,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
               l_quantity AS qty
        FROM lineitem
        WHERE l_orderkey < 1000
    """,
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutate add_field/rename/remove: compute, alias, drop columns.

    Plan check: narrow projection — ReadSchema must show only the 6
    source columns (column pruning reaches the parquet scan).
    """
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            net.alias("net_price"),
            (net * (1 + F.col("l_tax"))).alias("charged"),
            F.col("l_quantity").alias("qty"),
        )
    )


@query(
    "filter_predicate",
    category="P5",
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE event_type IN ('purchase', 'error')
          AND value BETWEEN 10 AND 200
          AND user_id % 7 = 3
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional filter (Logstash `if [field] == ...` / drop).

    Predicates push to the parquet scan (PushedFilters on event_type
    is a dictionary-page skip at scale).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("purchase", "error")
        & F.col("value").between(10, 200)
        & (F.col("user_id") % 7 == 3)
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "filter_cast_props",
    category="P4",
    oracle="""
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k,
               TRY_CAST(event_type AS INTEGER)             AS bad_cast,
               CAST(floor(value) AS BIGINT)                AS value_int
        FROM events
        WHERE CAST(json_extract(props, '$.k') AS INTEGER) BETWEEN 40 AND 49
    """,
)
def filter_cast_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutate convert: cast / try_cast over dynamic JSON fields."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(
            "event_id",
            k.alias("k"),
            F.col("event_type").try_cast("int").alias("bad_cast"),
            # explicit floor on BOTH sides: Spark's double→int cast
            # truncates, DuckDB's rounds — never cast raw doubles.
            F.floor("value").cast("bigint").alias("value_int"),
        )
        .filter(F.col("k").between(40, 49))
    )


@query(
    "clone_union",
    category="P8",
    oracle="""
        SELECT 'high' AS tag, event_id, user_id, value FROM events WHERE value > 400
        UNION ALL
        SELECT 'err'  AS tag, event_id, user_id, value FROM events WHERE event_type = 'error'
    """,
)
def clone_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clone filter: fan one stream into tagged variants, re-union.

    Rows matching both branches appear twice — UNION ALL semantics,
    exactly like Logstash clone. One scan feeds both branches (Spark
    reuses the exchange-free scan; at scale consider .cache() only if
    the source is expensive, not for a parquet scan).
    """
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "value"]
    high = ev.filter(F.col("value") > 400).select(F.lit("high").alias("tag"), *cols)
    err = ev.filter(F.col("event_type") == "error").select(F.lit("err").alias("tag"), *cols)
    return high.unionAll(err)


@query(
    "grok_extract",
    category="P9",
    oracle="""
        SELECT CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) AS src_num,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY src_num
    """,
)
def grok_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok field extraction: 'src%{INT:src_num}' through grok_frame.

    Uses the grok pattern compiler and frame helper (functions/grok.py);
    the extraction is one codegen'd JVM regex pass per line — no Python
    per row.
    """
    docs = grok_frame(load_table(spark, sf_dir, "documents"), "source", "src%{INT:src_num}")
    return (
        docs.select(F.col("src_num").cast("int").alias("src_num"), "n_chars")
        .groupBy("src_num")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "dissect_split",
    category="P10",
    oracle="""
        SELECT p_partkey,
               split_part(p_name, ' ', 1) AS name_head,
               split_part(p_type, ' ', 1) AS type_head,
               len(string_split(p_name, ' ')) AS n_name_words
        FROM part
        WHERE p_partkey <= 500
    """,
)
def dissect_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dissect: positional delimiter split (cheaper than grok regex)."""
    p = load_table(spark, sf_dir, "part")
    name_parts = F.split(F.col("p_name"), " ")
    return p.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.element_at(name_parts, 1).alias("name_head"),
        F.element_at(F.split(F.col("p_type"), " "), 1).alias("type_head"),
        F.size(name_parts).alias("n_name_words"),
    )


@query(
    "date_parse_formats",
    category="P11",
    oracle="""
        SELECT o_orderkey, raw_date,
               coalesce(try_strptime(raw_date, '%Y-%m-%d %H:%M:%S'),
                        try_strptime(raw_date, '%d/%m/%Y %H:%M:%S')) AS parsed_ts
        FROM (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 2 = 0
                        THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                        ELSE strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') END AS raw_date
            FROM orders
            WHERE o_orderkey <= 1000
        )
    """,
)
def date_parse_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash `date` filter: multi-format timestamp parsing.

    Mixed-format strings parsed with coalesce(try_to_timestamp(fmt1),
    try_to_timestamp(fmt2)) — the fallback-chain idiom; bad formats
    yield NULL instead of failing the pipeline.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    raw = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    ).otherwise(F.date_format("o_orderdate", "dd/MM/yyyy HH:mm:ss"))
    withraw = o.select("o_orderkey", raw.alias("raw_date"))
    parsed = F.coalesce(
        F.try_to_timestamp(F.col("raw_date"), F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(F.col("raw_date"), F.lit("dd/MM/yyyy HH:mm:ss")),
    )
    return withraw.select("o_orderkey", "raw_date", parsed.alias("parsed_ts"))


@query(
    "fingerprint_hash",
    category="P12",
    oracle="""
        SELECT doc_id,
               md5(text)    AS fp_md5,
               sha256(text) AS fp_sha256,
               md5(concat(lang, '|', source)) AS fp_composite
        FROM documents
        WHERE doc_id < 200
    """,
)
def fingerprint_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash fingerprint/anonymize: stable content hashes."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_md5"),
        F.sha2(F.col("text").cast("binary"), 256).alias("fp_sha256"),
        F.md5(F.concat_ws("|", "lang", "source").cast("binary")).alias("fp_composite"),
    )


@query(
    "throttle_topk_bucket",
    category="P13",
    oracle="""
        SELECT event_id, user_id, bucket, rn
        FROM (
            SELECT event_id, user_id,
                   time_bucket(INTERVAL '1 hour', ts) AS bucket,
                   row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        WHERE rn <= 2
    """,
)
def throttle_topk_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash throttle (batch analog): ≤2 events per user per hour.

    Streaming variant is streaming/throttle.py (stateful keyed
    counter); identical pass/drop semantics on replay.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    return (
        ev.select("event_id", "user_id", "ts", bucket.alias("bucket"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("event_id", "user_id", "bucket", "rn")
    )


@query(
    "translate_map",
    category="P14",
    oracle="""
        SELECT CASE event_type
                 WHEN 'click' THEN 'engagement'
                 WHEN 'view' THEN 'engagement'
                 WHEN 'purchase' THEN 'conversion'
                 WHEN 'signup' THEN 'conversion'
                 WHEN 'error' THEN 'fault'
                 ELSE 'other' END AS category,
               count(*) AS n_events
        FROM events
        GROUP BY category
    """,
)
def translate_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash translate: dictionary lookup via literal map column.

    For tiny dicts an in-expression map beats a broadcast join (no
    build side at all); large dictionaries → join_broadcast_enrich.
    """
    ev = load_table(spark, sf_dir, "events")
    mapping = {
        "click": "engagement",
        "view": "engagement",
        "purchase": "conversion",
        "signup": "conversion",
        "error": "fault",
    }
    lit_map = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return (
        ev.select(F.coalesce(lit_map[F.col("event_type")], F.lit("other")).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "url_parse",
    category="P15",
    oracle="""
        SELECT event_id,
               'shop.example.com'            AS host,
               concat('/', event_type)       AS path,
               CAST(user_id AS VARCHAR)      AS qp_user
        FROM events
        WHERE event_id < 500
    """,
)
def url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """urldecode/useragent-class parsing via parse_url.

    URLs are synthesized from event fields, then parsed back with
    Spark's parse_url — the oracle states the ground truth directly,
    so any parse_url deviation fails the hash.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.col("event_type"),
        F.lit("?u="),
        F.col("user_id").cast("string"),
        F.lit("&v=1"),
    )
    return ev.select(
        "event_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("u")).alias("qp_user"),
    )


@query(
    "sample_stratified_hash",
    category="P7-stratified",
    oracle="""
        SELECT event_id, event_type, user_id, value
        FROM events
        WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) <
              CASE event_type
                   WHEN 'error'    THEN 'ffff'
                   WHEN 'purchase' THEN '8000'
                   WHEN 'click'    THEN '1000'
                   ELSE '0400' END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates (errors
    ~100%, purchases ~50%, clicks ~6.25%, rest ~1.6%) decided by a
    lexicographic threshold on the md5 of the row key — reproducible
    across engines, runs, and partitionings, unlike rand()/sampleBy.

    For fixed-length lowercase hex, string order == numeric order, so
    `md5[:4] < '8000'` keeps 0x8000/0x10000 = 50%. This is a pure
    narrow map (no shuffle, no seed state); at 100 TB it samples in
    the scan with the filter pushed to each file split, and the same
    threshold re-selects the identical rows for any re-run or audit.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.substring(F.md5(F.col("event_id").cast("string")), 1, 4)
    threshold = (
        F.when(F.col("event_type") == "error", "ffff")
        .when(F.col("event_type") == "purchase", "8000")
        .when(F.col("event_type") == "click", "1000")
        .otherwise("0400")
    )
    return ev.filter(bucket < threshold).select(
        "event_id", "event_type", "user_id", "value"
    )


@query(
    "unpivot_melt_metrics",
    category="A9-unpivot",
    oracle="""
        SELECT event_type, metric, val
        FROM (
            SELECT event_type,
                   count(*) * 1.0 AS n_events,
                   round(avg(value), 6) AS avg_value,
                   round(max(value), 6) AS max_value
            FROM events GROUP BY event_type
        )
        UNPIVOT (val FOR metric IN (n_events, avg_value, max_value))
    """,
)
def unpivot_melt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the inverse of pivot (wide metric columns → long
    (metric, value) rows, the shape metric stores and plotting layers
    want). Spark's native ``unpivot`` plans as a single Expand (3x
    map-side rows), no shuffle beyond the feeding aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        (F.count(F.lit(1)) * 1.0).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    return wide.unpivot(
        ["event_type"], ["n_events", "avg_value", "max_value"], "metric", "val"
    )


@query(
    "xml_extract_roundtrip",
    category="P16-xml",
    oracle="""
        SELECT event_type AS t,
               count(*) AS n,
               CAST(sum(user_id) AS BIGINT) AS sum_u
        FROM events
        WHERE event_id <= 2000
        GROUP BY event_type
        ORDER BY t
    """,
)
def xml_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash ``xml`` filter (pipeline step ``xml``): Spark 4 native
    ``from_xml`` parse, pinned by a ROUNDTRIP identity — each event is
    serialized to ``<ev id="..."><t>..</t><u>..</u></ev>``, parsed
    back with an explicit DDL schema (attribute as ``_id``), and
    aggregated from the EXTRACTED fields; the oracle aggregates the
    raw columns directly, so any parse defect (attribute handling,
    element typing, whitespace) breaks the hash.

    Scale: serialization and parse are both codegen'd JVM expressions
    per row (no UDF); the aggregate is an ordinary partial+final hash
    agg. XML never leaves the row — no shuffle is added by the parse.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 2000)
    xml = F.concat(
        F.lit('<ev id="'),
        F.col("event_id"),
        F.lit('"><t>'),
        F.col("event_type"),
        F.lit("</t><u>"),
        F.col("user_id"),
        F.lit("</u></ev>"),
    )
    parsed = F.from_xml(xml, "_id BIGINT, t STRING, u BIGINT")
    return (
        ev.select(parsed.alias("p"))
        .select("p._id", "p.t", "p.u")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").alias("sum_u"),
        )
    )


@query(
    "pseudonymize_stable_ids",
    category="P12-pseudo",
    oracle="""
        WITH tok AS (
            SELECT event_type, user_id,
                   substr(sha256('salt|v1|' || CAST(user_id AS VARCHAR)),
                          1, 16) AS token
            FROM events
        )
        SELECT event_type,
               count(DISTINCT token) AS n_tokens,
               count(DISTINCT user_id) = count(DISTINCT token)
                   AS joins_preserved,
               min(token) AS min_token
        FROM tok
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def pseudonymize_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style pseudonymization (P12 fingerprint applied to
    identity): user_id → salted-SHA256 16-hex token. Stable across
    runs and tables (same salt ⇒ same token), so joins and sessions
    keep working on the pseudonym; rotating the salt is crypto-
    shredding. The query pins the exact token bytes (min per group)
    AND the join-preservation invariant (distinct tokens == distinct
    users — no collisions at this cardinality) per event_type.

    Scale: pure projection + one aggregate; sha256 is codegen'd
    JVM-side. The distinct pair is one Expand like any multi-distinct.
    """
    ev = load_table(spark, sf_dir, "events")
    tok = ev.select(
        "event_type",
        "user_id",
        F.substring(
            F.sha2(F.concat(F.lit("salt|v1|"), F.col("user_id").cast("string")), 256),
            1,
            16,
        ).alias("token"),
    )
    return (
        tok.groupBy("event_type")
        .agg(
            F.count_distinct(F.col("token")).alias("n_tokens"),
            (
                F.count_distinct(F.col("user_id"))
                == F.count_distinct(F.col("token"))
            ).alias("joins_preserved"),
            F.min("token").alias("min_token"),
        )
    )


def _apache_oracle() -> str:
    """Build the COMBINEDAPACHELOG oracle at import: both engines
    synthesize the identical log line from events columns, then parse
    it back with the SAME compiled grok regex (group numbers come from
    the compiler's capture order)."""
    regex, fields = grok_to_regex("%{COMBINEDAPACHELOG}")
    g = {f: i + 1 for i, f in enumerate(fields)}
    sql_re = regex.replace("'", "''")  # DuckDB '...' takes backslashes literally
    return f"""
        WITH lines AS (
          SELECT '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.'
                 || CAST(event_id % 256 AS VARCHAR)
                 || ' - user' || CAST(user_id AS VARCHAR)
                 || ' [01/Jan/2024:00:00:00 +0000] "'
                 || CASE WHEN event_type = 'purchase' THEN 'POST'
                         WHEN event_type = 'signup' THEN 'PUT'
                         ELSE 'GET' END
                 || ' /api/' || event_type || '/' || CAST(event_id AS VARCHAR)
                 || ' HTTP/1.1" '
                 || CAST(200 + (event_id % 4) * 100 AS VARCHAR) || ' '
                 || CAST(CAST(floor(abs(coalesce(value, 0))) AS BIGINT) AS VARCHAR)
                 || ' "-" "agent-' || CAST(user_id % 7 AS VARCHAR) || '"'
                 AS line
          FROM events
        )
        SELECT regexp_extract(line, '{sql_re}', {g["verb"]}) AS verb,
               CAST(regexp_extract(line, '{sql_re}', {g["response"]}) AS BIGINT)
                   AS response,
               count(*) AS n_lines,
               CAST(sum(CAST(regexp_extract(line, '{sql_re}', {g["bytes"]}) AS BIGINT))
                   AS BIGINT) AS total_bytes,
               count(DISTINCT regexp_extract(line, '{sql_re}', {g["clientip"]}))
                   AS n_clients
        FROM lines
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


@query("grok_apache_combined", category="P9", oracle=_apache_oracle())
def grok_apache_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMBINEDAPACHELOG roundtrip through one-pass grok (P9 breadth):
    the full Logstash core-pattern dictionary in action — Apache combined
    access lines are SYNTHESIZED deterministically from events columns
    (JVM-side concat), then parsed back through the compiled
    %{COMBINEDAPACHELOG} grok (11 capture fields, recursive pattern
    expansion), and the parsed fields aggregate into a verb × status
    traffic rollup. A parse failure surfaces as a NULL-response group,
    so the oracle hash pins both the synthesis AND every byte of the
    extraction regex.

    Scale: pure Column exprs end to end — codegen'd projections (concat,
    then one regex pass per line through ``grok_frame``) and one
    two-phase agg, no Python, no shuffle beyond the final 15-group
    rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    verb = (
        F.when(F.col("event_type") == "purchase", "POST")
        .when(F.col("event_type") == "signup", "PUT")
        .otherwise("GET")
    )
    line = F.concat(
        F.lit("10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.col("event_id") % 256).cast("string"),
        F.lit(" - user"),
        F.col("user_id").cast("string"),
        F.lit(' [01/Jan/2024:00:00:00 +0000] "'),
        verb,
        F.lit(" /api/"),
        F.col("event_type"),
        F.lit("/"),
        F.col("event_id").cast("string"),
        F.lit(' HTTP/1.1" '),
        (F.lit(200) + (F.col("event_id") % 4) * 100).cast("string"),
        F.lit(" "),
        F.floor(F.abs(F.coalesce(F.col("value"), F.lit(0.0)))).cast("long").cast("string"),
        F.lit(' "-" "agent-'),
        (F.col("user_id") % 7).cast("string"),
        F.lit('"'),
    )
    parsed = grok_frame(ev.select(line.alias("line")), "line", "%{COMBINEDAPACHELOG}").select(
        "verb",
        F.col("response").cast("long").alias("response"),
        F.col("bytes").cast("long").alias("bytes"),
        "clientip",
    )
    return (
        parsed.groupBy("verb", "response")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("bytes").alias("total_bytes"),
            F.count_distinct("clientip").alias("n_clients"),
        )
    )


@query(
    "tld_extract_census",
    category="P15",
    oracle="""
        WITH hosts AS (
            SELECT event_type,
                   CASE CAST(user_id % 4 AS INT)
                        WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                        WHEN 2 THEN 'com.au' ELSE 'io' END AS suffix
            FROM events WHERE event_id < 2000
        )
        SELECT suffix AS tld,
               event_type AS sld,
               event_type || '.' || suffix AS domain,
               count(*) AS n
        FROM hosts
        GROUP BY suffix, event_type
        ORDER BY tld, sld
    """,
)
def tld_extract_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``tld`` pipeline step under oracle check (P15 companion to
    url_parse's synthesize→parse→ground-truth pattern): hostnames are
    synthesized across single- AND multi-label public suffixes
    (com / co.uk / com.au / io), the step extracts (tld, sld, domain)
    with its bundled suffix list, and the census must equal the
    oracle's direct construction — a wrong multi-label split (e.g.
    tld='uk', sld='co') shifts whole census rows and fails the hash.

    Scale: the step is a fixed chain of endswith/regexp Columns —
    map-side, codegen'd, no UDF; the census is one shuffle.
    """
    from ..pipeline import _STEP_FACTORIES

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    suffix = (
        F.when(F.col("user_id") % 4 == 0, "com")
        .when(F.col("user_id") % 4 == 1, "co.uk")
        .when(F.col("user_id") % 4 == 2, "com.au")
        .otherwise("io")
    )
    hosts = ev.select(
        F.concat(
            F.lit("svc-"), (F.col("user_id") % 20).cast("string"),
            F.lit("."), F.col("event_type"), F.lit("."), suffix,
        ).alias("host")
    )
    tagged = _STEP_FACTORIES["tld"](source="host")(hosts)
    return (
        tagged.groupBy(
            F.col("tld.tld").alias("tld"),
            F.col("tld.sld").alias("sld"),
            F.col("tld.domain").alias("domain"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "tld_psl_join_census",
    category="P15",
    oracle="""
        WITH hosts AS (
            SELECT event_type,
                   CASE CAST(user_id % 5 AS INT)
                        WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                        WHEN 2 THEN 'act.edu.au' WHEN 3 THEN 'k12.ca.us'
                        ELSE 'xx' END AS suffix
            FROM events WHERE event_id < 2000
        )
        SELECT suffix, event_type AS sld,
               event_type || '.' || suffix AS domain,
               count(*) AS n
        FROM hosts
        GROUP BY suffix, event_type
        ORDER BY suffix, sld
    """,
)
def tld_psl_join_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain extraction against the PACKAGED Public-
    Suffix-List subset (functions/psl.py + data/
    public_suffix_subset.txt) — the data-driven upgrade of the ``tld``
    step's 18-entry when-chain, closing NEXT.md's "PSL data-file"
    item. Hosts are synthesized across the rule shapes that
    distinguish the PSL algorithm from naive last-label splitting:
    1-label (com), 2-label (co.uk), 3-label (act.edu.au, k12.ca.us —
    the latter also proves longest-match wins when the middle
    candidate ca.us is NOT a rule), and an unknown suffix (xx)
    exercising the last-label fallback. The census of (suffix, sld,
    registered domain) must equal the oracle's direct construction —
    any wrong split shifts whole rows.

    Scale: the rule table broadcasts once per candidate length (4
    map-side BroadcastHashJoins, no explode, no groupBy inside the
    operator — row multiplicity untouched); the census is the only
    shuffle. Swapping in the full ~9k-rule PSL changes nothing but
    the data file.
    """
    from ..functions.psl import extract_registered_domain, load_psl

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    suffix = (
        F.when(F.col("user_id") % 5 == 0, "com")
        .when(F.col("user_id") % 5 == 1, "co.uk")
        .when(F.col("user_id") % 5 == 2, "act.edu.au")
        .when(F.col("user_id") % 5 == 3, "k12.ca.us")
        .otherwise("xx")
    )
    hosts = ev.select(
        F.concat(
            F.lit("www."), F.col("event_type"), F.lit("."), suffix
        ).alias("host")
    )
    tagged = extract_registered_domain(hosts, "host", load_psl(spark))
    return (
        tagged.groupBy(
            F.col("psl.suffix").alias("suffix"),
            F.col("psl.sld").alias("sld"),
            F.col("psl.domain").alias("domain"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
