"""Pipeline layer tests (SURVEY M2): each step type on tiny frames,
config validation, and source/sink roundtrips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstreams_spark.pipeline import Pipeline, read_source, step_types, write_sink


@pytest.fixture
def logs(spark):
    return spark.createDataFrame(
        [
            (1, "10.0.0.1 GET 200 t=2024-01-01 12:00:00", "a=1 b=2"),
            (2, "10.0.0.2 POST 500 t=01/02/2024 13:30:00", "a=3"),
            (3, "bad line", ""),
        ],
        "id long, line string, kvs string",
    )


def test_grok_dissect_date_kv_chain(logs):
    pipe = Pipeline.from_config(
        {
            "steps": [
                {"type": "grok", "source": "line",
                 "pattern": "%{IP:client} %{WORD:method} %{NUMBER:status} t=%{GREEDYDATA:when}"},
                {"type": "mutate", "convert": {"status": "int"}},
                {"type": "date", "source": "when",
                 "formats": ["yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss"]},
                {"type": "kv", "source": "kvs", "target": "kv"},
            ]
        }
    )
    rows = {r.id: r for r in pipe.apply(logs).collect()}
    assert rows[1].client == "10.0.0.1" and rows[1].status == 200
    assert rows[1]["@timestamp"].hour == 12
    assert rows[2]["@timestamp"].hour == 13  # second format matched
    assert rows[2].kv == {"a": "3"}
    assert rows[3].client == "" and rows[3]["@timestamp"] is None  # no match, no crash



def test_grok_field_named_like_source_keeps_later_fields(spark):
    """Every field is read from the original source value, even when a
    field takes the source column's name."""
    df = spark.createDataFrame([("a b 1",), ("bad",)], "line string")
    pipe = Pipeline.from_config({"steps": [
        {"type": "grok", "source": "line",
         "pattern": "%{WORD:line} %{NOTSPACE:path} %{INT:status}"},
    ]})
    out = pipe.apply(df)
    assert out.columns == ["line", "path", "status"]
    assert sorted(tuple(r) for r in out.collect()) == [("", "", ""), ("a", "b", "1")]


def test_weblog_chain_runs_grok_regex_at_most_twice(spark):
    """COMBINEDAPACHELOG grok -> deadletter: in both the healthy and the
    dead-letter plan the full regex runs at most twice per line (the
    pushed-down dead-letter filter and the projection), not once per
    field. Per-field regexp_extract appears only in the fallback for
    lines that contain the one-pass delimiter."""
    line = ('10.1.2.3 c0 user1 [10/Oct/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 512 '
            '"-" "curl/8"')
    df = spark.createDataFrame([(line,), ("garbled",)], "value string")
    healthy, dead = Pipeline.from_config({"steps": [
        {"type": "grok", "source": "value", "pattern": "%{COMBINEDAPACHELOG}"},
        {"type": "deadletter", "when": "clientip = ''", "reason": "grok_failure"},
    ]}).apply_split(df)
    for out in (healthy, dead):
        plan = out._jdf.queryExecution().executedPlan().toString()
        fallbacks = plan.count("THEN array(regexp_extract(")
        assert 1 <= plan.count("regexp_replace(") <= 2
        assert plan.count("regexp_extract(") == 11 * fallbacks
    assert [(r.clientip, r.bytes, r.agent) for r in healthy.collect()] == [
        ("10.1.2.3", "512", '"curl/8"')
    ]
    assert [r.value for r in dead.collect()] == ["garbled"]

def test_filter_drop_prune_translate(logs):
    pipe = Pipeline.from_config(
        {
            "steps": [
                {"type": "drop", "expr": "line = 'bad line'"},
                {"type": "dissect", "source": "line", "fields": ["ip", "verb"]},
                {"type": "translate", "source": "verb",
                 "mapping": {"GET": "read", "POST": "write"}, "target": "rw",
                 "default": "other"},
                {"type": "prune", "keep": ["id", "ip", "rw"]},
            ]
        }
    )
    out = pipe.apply(logs)
    assert out.columns == ["id", "ip", "rw"]
    got = {r.id: r.rw for r in out.collect()}
    assert got == {1: "read", 2: "write"}


def test_clone_split_sample(spark):
    df = spark.createDataFrame([(1, ["x", "y"])], "id long, tags array<string>")
    pipe = Pipeline.from_config(
        {"steps": [
            {"type": "clone", "tags": ["a", "b"]},
            {"type": "split", "source": "tags", "target": "tag"},
        ]}
    )
    out = pipe.apply(df).collect()
    assert len(out) == 4  # 2 clones × 2 array elements
    assert {(r.clone_tag, r.tag) for r in out} == {("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")}


def test_throttle_per_bucket(spark):
    df = spark.createDataFrame(
        [(k, f"2024-01-01 0{h}:{m:02d}:00") for k in ("a", "b") for h in (1, 2) for m in (0, 10, 20)],
        "key string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    pipe = Pipeline.from_config(
        {"steps": [{"type": "throttle", "key": "key", "order": "ts",
                    "period": "1 hour", "limit": 2}]}
    )
    out = pipe.apply(df).collect()
    assert len(out) == 8  # 2 keys × 2 hours × min(3, limit=2)


def test_throttle_rejects_an_unknown_period_at_compile():
    with pytest.raises(ValueError, match="throttle: period must be one of"):
        Pipeline.from_config(
            {"steps": [{"type": "throttle", "key": "key", "order": "ts",
                        "period": "2 hours"}]}
        )


def test_unknown_step_fails_at_compile():
    with pytest.raises(ValueError, match="unknown type 'nope'"):
        Pipeline.from_config({"steps": [{"type": "nope"}]})
    assert "grok" in step_types() and "mutate" in step_types()


def test_fingerprint_methods(spark):
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    pipe = Pipeline.from_config(
        {"steps": [
            {"type": "fingerprint", "fields": ["id", "v"], "target": "f1"},
            {"type": "fingerprint", "fields": ["id", "v"], "target": "f2",
             "method": "xxhash64"},
        ]}
    )
    r = pipe.apply(df).collect()[0]
    assert len(r.f1) == 32 and isinstance(r.f2, int)
    with pytest.raises(ValueError, match="unsupported fingerprint"):
        Pipeline.from_config({"steps": [{"type": "fingerprint", "fields": ["v"],
                                         "method": "crc99"}]})


def test_batch_source_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_sink(df, {"format": "parquet", "path": str(tmp_path / "out")})
    back = read_source(spark, {"format": "parquet", "path": str(tmp_path / "out")})
    assert sorted((r.id, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_streaming_file_source_through_pipeline(spark, tmp_path):
    """S3 + K5: tail a directory as a stream, run the SAME pipeline
    transform, drain with availableNow into a memory sink."""
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [("10.0.0.9 GET 200",), ("10.0.0.9 GET 404",), ("bad",)], "line string"
    ).coalesce(1).write.mode("overwrite").text(str(src))
    pipe = Pipeline.from_config(
        {"steps": [
            {"type": "grok", "source": "line",
             "pattern": "%{IP:client} %{WORD:method} %{NUMBER:status}"},
            {"type": "filter", "expr": "status <> ''"},
        ]}
    )
    stream = read_source(
        spark, {"format": "text", "path": str(src), "stream": True, "schema": "line string"}
    )
    q = write_sink(pipe.apply(stream), {"format": "memory", "queryName": "pipe_t",
                                        "availableNow": True})
    q.awaitTermination(60)
    got = spark.sql("SELECT client, status FROM pipe_t").collect()
    assert sorted((r.client, r.status) for r in got) == [("10.0.0.9", "200"), ("10.0.0.9", "404")]


def test_syslog_cidr_useragent_chunk_steps(spark):
    """The sources/functions surface registered as pipeline steps."""
    pipe = Pipeline.from_config(
        {"steps": [
            {"type": "syslog", "source": "line"},
            {"type": "cidr", "source": "src_ip",
             "networks": ["10.0.0.0/8", "0.0.0.0/0"], "target": "net"},
            {"type": "useragent", "source": "ua"},
        ]}
    )
    df = spark.createDataFrame(
        [(
            "<34>Jan 12 06:30:45 web01 sshd[2451]: Failed password",
            "10.1.2.3",
            "curl/8.4.0",
        )],
        "line string, src_ip string, ua string",
    )
    r = pipe.apply(df).collect()[0]
    assert (r.host, r.app, r.severity) == ("web01", "sshd", 2)
    assert r.net == "10.0.0.0/8"
    assert (r.ua_family, r.ua_version) == ("curl", "8.4.0")

    chunks = Pipeline.from_config(
        {"steps": [{"type": "chunk", "source": "text", "size": 2, "keys": ["id"]}]}
    )
    cdf = spark.createDataFrame([(1, "a b c d e")], "id int, text string")
    got = sorted(tuple(r) for r in chunks.apply(cdf).collect())
    assert got == [(1, 0, "a b"), (1, 1, "c d"), (1, 2, "e")]


def test_sql_step_full_sql_surface(spark):
    from eventstreams_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v int"
    )
    pipe = Pipeline.from_config(
        {"steps": [
            {"type": "mutate", "add": {"v2": "v * 10"}},
            {"type": "sql", "query": """
                SELECT k, sum(v2) AS total,
                       rank() OVER (ORDER BY sum(v2) DESC) AS rnk
                FROM __THIS__ GROUP BY k
             """},
        ]}
    )
    got = {r["k"]: (r["total"], r["rnk"]) for r in pipe.apply(df).collect()}
    assert got == {"b": (50, 1), "a": (30, 2)}


def test_sql_step_requires_this_marker(spark):
    import pytest
    from eventstreams_spark.pipeline import Pipeline

    with pytest.raises(ValueError):
        Pipeline.from_config(
            {"steps": [{"type": "sql", "query": "SELECT 1"}]}
        )


def test_xml_step_flatten_and_target(spark):
    from eventstreams_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("<ev><kind>click</kind><n>3</n></ev>",),
         ("<ev><kind>view</kind><n>5</n></ev>",)],
        "raw string",
    )
    flat = Pipeline.from_config(
        {"steps": [{"type": "xml", "source": "raw",
                    "schema": "kind string, n int"}]}
    ).apply(df)
    got = sorted((r["kind"], r["n"]) for r in flat.collect())
    assert got == [("click", 3), ("view", 5)]

    nested = Pipeline.from_config(
        {"steps": [{"type": "xml", "source": "raw",
                    "schema": "kind string, n int", "target": "ev"}]}
    ).apply(df)
    assert nested.select("ev.kind").count() == 2


def test_urldecode_step(spark):
    from eventstreams_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("q%3Dspark%20sql", "path%2Fto%2Ffile"),], "q string, p string"
    )
    out = Pipeline.from_config(
        {"steps": [{"type": "urldecode", "fields": ["q", "p"]}]}
    ).apply(df).collect()[0]
    assert out["q"] == "q=spark sql" and out["p"] == "path/to/file"


def test_csv_uuid_truncate_steps(spark):
    df = spark.createDataFrame(
        [(1, 'alice,"x,y",9', "abcdefgh"), (2, "bob,z,7", "ab")],
        "id long, rec string, note string",
    )
    pipe = Pipeline.from_config(
        {
            "steps": [
                {"type": "csv", "source": "rec",
                 "columns": ["name", "tag", "score"]},
                {"type": "uuid", "target": "eid",
                 "deterministic_from": ["id", "name"]},
                {"type": "truncate", "fields": ["note"], "length_chars": 4},
            ]
        }
    )
    rows = {r.id: r for r in pipe.apply(df).collect()}
    assert rows[1].tag == "x,y"            # quoted separator survives
    assert rows[1].score == "9"
    assert rows[1].note == "abcd"
    assert rows[2].note == "ab"
    assert len(rows[1].eid) == 64          # sha256 hex
    # deterministic: re-applying yields the same ids
    again = {r.id: r.eid for r in pipe.apply(df).collect()}
    assert again == {i: r.eid for i, r in rows.items()}


def test_uuid_null_fields_do_not_collide(spark):
    """ADVICE r1 (medium): rows differing only in WHICH field is NULL
    must hash to different ids — concat_ws alone would skip NULLs and
    collide (a, NULL, b) with (a, b, NULL) and (a, b)."""
    df = spark.createDataFrame(
        [(1, "a", None, "b"), (2, "a", "b", None), (3, "a", "b", "b"),
         (4, "a:1", "b", None), (5, "a", None, None)],
        "id long, x string, y string, z string",
    )
    pipe = Pipeline.from_config(
        {"steps": [{"type": "uuid", "target": "eid",
                    "deterministic_from": ["x", "y", "z"]}]}
    )
    ids = [r.eid for r in pipe.apply(df).collect()]
    assert len(set(ids)) == 5, "null-position collisions in deterministic uuid"


def test_uuid_random_step(spark):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    pipe = Pipeline.from_config({"steps": [{"type": "uuid"}]})
    got = [r.uuid for r in pipe.apply(df).collect()]
    assert len(set(got)) == 2 and all(len(u) == 36 for u in got)


def test_geoip_and_udf_steps(spark):
    df = spark.createDataFrame(
        [(1, 167772161), (2, 167837697), (3, 999)], "id long, ip long"
    )
    ranges = spark.createDataFrame(
        [(167772160, 167837695, "r0"), (167837696, 167903231, "r1")],
        "lo long, hi long, region string",
    )
    pipe = Pipeline.from_config(
        {
            "steps": [
                {"type": "geoip", "source": "ip", "ranges": ranges},
                {"type": "udf", "target": "tagged",
                 "fn": lambda ip, reg: f"{reg or 'none'}:{ip % 10}",
                 "input_cols": ["ip", "geo_region"]},
            ]
        }
    )
    rows = {r.id: r for r in pipe.apply(df).collect()}
    assert rows[1].geo_region == "r0" and rows[2].geo_region == "r1"
    assert rows[3].geo_region is None      # left join keeps unmatched
    assert rows[1].tagged == "r0:1" and rows[3].tagged == "none:9"


def test_multiline_previous_and_next(spark):
    """Multiline codec: stack-trace glue (what=previous) and
    backslash-continuation (what=next) both reassemble in line order."""
    from eventstreams_spark.pipeline import Pipeline

    rows = [
        ("app.log", 1, "ERROR boom"),
        ("app.log", 2, "  at Foo.bar(Foo.java:1)"),
        ("app.log", 3, "  at Baz.qux(Baz.java:2)"),
        ("app.log", 4, "INFO ok"),
        ("other.log", 1, "WARN solo"),
    ]
    df = spark.createDataFrame(rows, "file string, line_no int, line string")
    pipe = Pipeline.from_config(
        {"steps": [{"type": "multiline", "source": "line", "order": "line_no",
                    "pattern": "^\\s", "group_by": ["file"],
                    "separator": "\n"}]}
    )
    out = {(r.file, r.event_id): r for r in pipe.apply(df).collect()}
    assert out[("app.log", 1)].message == (
        "ERROR boom\n  at Foo.bar(Foo.java:1)\n  at Baz.qux(Baz.java:2)"
    )
    assert out[("app.log", 1)].n_lines == 3
    assert out[("app.log", 2)].message == "INFO ok"
    assert out[("other.log", 1)].message == "WARN solo"

    # what=next: a line ending in backslash continues onto the NEXT line
    from eventstreams_spark.operators.multiline import multiline_reassemble

    rows2 = [
        ("c", 1, "set x \\"),
        ("c", 2, "= 1"),
        ("c", 3, "standalone"),
    ]
    df2 = spark.createDataFrame(rows2, "file string, line_no int, line string")
    got = {
        r.event_id: r.message
        for r in multiline_reassemble(
            df2, "line", "line_no", r"\\$", group_cols=["file"], what="next", sep=" "
        ).collect()
    }
    assert got == {1: "set x \\ = 1", 2: "standalone"}


def test_multiline_bad_what_fails_at_compile():
    from eventstreams_spark.pipeline import Pipeline

    with pytest.raises(ValueError, match="previous"):
        Pipeline.from_config(
            {"steps": [{"type": "multiline", "source": "l", "order": "o",
                        "pattern": "^x", "group_by": ["f"], "what": "sideways"}]}
        )
    # group_by is required: an ungrouped reassembly would be a
    # single-task global sort (fails at compile, not mid-job)
    with pytest.raises(TypeError, match="group_by"):
        Pipeline.from_config(
            {"steps": [{"type": "multiline", "source": "l", "order": "o",
                        "pattern": "^x"}]}
        )
    with pytest.raises(ValueError, match="required"):
        Pipeline.from_config(
            {"steps": [{"type": "multiline", "source": "l", "order": "o",
                        "pattern": "^x", "group_by": []}]}
        )


def test_aggregate_step_correlates_start_end(spark):
    """Logstash aggregate (batch form): one summary row per task with
    a start and a matching later end; intermediates strictly between
    count and sum; tasks without an end emit nothing."""
    from eventstreams_spark.pipeline import Pipeline

    rows = [
        # task A: start -> 2 steps -> end (plus a post-end event ignored)
        ("A", "2024-01-01 10:00:00", "start", 0.0),
        ("A", "2024-01-01 10:01:00", "step", 1.5),
        ("A", "2024-01-01 10:02:00", "step", 2.0),
        ("A", "2024-01-01 10:03:00", "end", 0.0),
        ("A", "2024-01-01 10:04:00", "step", 99.0),
        # task B: end BEFORE start, never closes afterwards -> no row
        ("B", "2024-01-01 09:00:00", "end", 0.0),
        ("B", "2024-01-01 09:30:00", "start", 0.0),
        # task C: steps before the start don't count; closes cleanly
        ("C", "2024-01-01 08:00:00", "step", 7.0),
        ("C", "2024-01-01 08:10:00", "start", 0.0),
        ("C", "2024-01-01 08:20:00", "end", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "task string, ts_s string, kind string, v double"
    ).select("task", F.to_timestamp("ts_s").alias("ts"), "kind", "v")
    pipe = Pipeline.from_config(
        {"steps": [{"type": "aggregate", "task_key": "task",
                    "start_when": "kind = 'start'",
                    "end_when": "kind = 'end'",
                    "value_expr": "v"}]}
    )
    got = {r.task: r for r in pipe(df).collect()}
    assert set(got) == {"A", "C"}, got
    assert got["A"].n_steps == 2 and got["A"].step_value == 3.5
    assert got["C"].n_steps == 0 and got["C"].step_value == 0.0


def test_anonymize_step_stable_and_rotatable(spark):
    df = spark.createDataFrame(
        [(1, "alice", "10.0.0.1"), (2, "bob", "10.0.0.2"), (3, "alice", "10.0.0.9")],
        "id long, user string, ip string",
    )
    pipe = Pipeline.from_config(
        {"steps": [{"type": "anonymize", "fields": ["user", "ip"]}]}
    )
    rows = {r.id: r for r in pipe.apply(df).collect()}
    # pseudonymous: raw values gone, 16-hex tokens in place
    assert rows[1].user != "alice" and len(rows[1].user) == 16
    # join-preserving: same input -> same token
    assert rows[1].user == rows[3].user
    assert rows[1].ip != rows[2].ip
    # salt rotation crypto-shreds (different token universe)
    rotated = Pipeline.from_config(
        {"steps": [{"type": "anonymize", "fields": ["user"], "salt": "v2"}]}
    )
    r2 = {r.id: r for r in rotated.apply(df).collect()}
    assert r2[1].user != rows[1].user


def test_metrics_step_inline_observation(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0)], "id long, v double"
    )
    pipe = Pipeline.from_config(
        {"steps": [
            {"type": "metrics", "name": "t_obs", "value_field": "v"},
            {"type": "filter", "expr": "v > 15"},
        ]}
    )
    out = pipe.apply(df)
    assert out.count() == 2          # the action that feeds the observation
    got = pipe.observations["t_obs"].get
    # metrics observe the PRE-filter flow (step order matters)
    assert got["events"] == 3 and got["sum_value"] == 60.0
    assert got["min_value"] == 10.0 and got["max_value"] == 30.0


def test_metrics_observations_are_per_pipeline(spark):
    """Two pipelines with the same metrics step name each keep their
    own observation; one pipeline may not repeat a metrics name."""
    conf = {"steps": [{"type": "metrics", "name": "flow"}]}
    small, large = Pipeline.from_config(conf), Pipeline.from_config(conf)
    out_small = small.apply(spark.range(3))
    out_large = large.apply(spark.range(5))
    assert out_small.count() == 3 and out_large.count() == 5
    assert small.observations["flow"].get["events"] == 3
    assert large.observations["flow"].get["events"] == 5
    with pytest.raises(ValueError, match="flow"):
        Pipeline.from_config({"steps": conf["steps"] * 2})


def test_tld_step(spark):
    from eventstreams_spark.pipeline import _STEP_FACTORIES

    t = _STEP_FACTORIES["tld"](source="host")
    df = spark.createDataFrame(
        [("www.example.com",), ("news.bbc.co.uk",), ("example.com.au",),
         ("localhost",)],
        "host string",
    )
    got = {r.host: (r.tld.tld, r.tld.sld, r.tld.domain) for r in t(df).collect()}
    assert got["www.example.com"] == ("com", "example", "example.com")
    assert got["news.bbc.co.uk"] == ("co.uk", "bbc", "bbc.co.uk")
    assert got["example.com.au"] == ("com.au", "example", "example.com.au")
    # no dot (ADVICE r3): tld empty, sld/domain are the host itself —
    # no trailing dot, no last-char truncation
    assert got["localhost"] == ("", "localhost", "localhost")


def test_psl_edge_hosts(spark):
    """ADVICE r3 edges for the data-driven PSL extractor: a host equal
    to a multi-label rule is a pure public suffix (NULL sld/domain);
    a dotless unmatched host passes through unmangled."""
    from eventstreams_spark.functions.psl import (
        extract_registered_domain,
        load_psl,
    )

    df = spark.createDataFrame(
        [("co.uk",), ("com",), ("localhost",), ("bbc.co.uk",),
         ("deep.sub.example.org",)],
        "host string",
    )
    got = {
        r.host: (r.psl.suffix, r.psl.sld, r.psl.domain)
        for r in extract_registered_domain(df, "host", load_psl(spark)).collect()
    }
    assert got["co.uk"] == ("co.uk", None, None)
    assert got["com"] == ("com", None, None)
    assert got["localhost"] == ("", "localhost", "localhost")
    assert got["bbc.co.uk"] == ("co.uk", "bbc", "bbc.co.uk")
    assert got["deep.sub.example.org"] == ("org", "example", "example.org")


def test_range_step_tags_violations(spark):
    import pytest as _pytest

    from eventstreams_spark.pipeline import _STEP_FACTORIES

    t = _STEP_FACTORIES["range"](checks={"v": [0.0, 100.0], "n": [1, 5]})
    df = spark.createDataFrame(
        [(50.0, 3), (150.0, 3), (50.0, 9), (-1.0, 0), (None, 3)],
        "v double, n int",
    )
    got = [sorted(r._rangefail) for r in t(df).collect()]
    assert got == [[], ["v"], ["n"], ["n", "v"], ["v"]]
    with _pytest.raises(ValueError):
        _STEP_FACTORIES["range"](checks={"v": [5.0, 1.0]})


def test_pack_words_tokenizer_matches_quality_count(spark):
    """ADVICE r9 #4: the pack step's default tokenizer is the SAME
    lowercased [a-z]+ stream the quality step counts, so q_n_tokens
    equals the number of tokens actually packed even on punctuated,
    uppercase, multi-space text (the old whitespace split diverged
    there: empty-string tokens inflated chunks and n_tokens no
    longer described the packed content)."""
    df = spark.createDataFrame(
        [
            (1, "Hello,  World! This is   a TEST. one two three"),
            (2, "punct-only ... !!!   x"),
        ],
        "doc_id long, text string",
    )
    pipe = Pipeline.from_config(
        {
            "steps": [
                {"type": "quality", "source": "text"},
                {
                    "type": "pack",
                    "source": "text",
                    "tokens_per_chunk": 4,
                    "keep": ["doc_id", "q_n_tokens"],
                },
            ]
        }
    )
    out = pipe.apply(df).collect()
    packed = {}
    for r in out:
        toks = [t for t in r.chunk.split(" ") if t]
        packed.setdefault(r.doc_id, []).extend(toks)
        assert len(toks) <= 4
        assert all(t.islower() and t.isalpha() for t in toks), r.chunk
    qn = {r.doc_id: r.q_n_tokens for r in out}
    assert {d: len(t) for d, t in packed.items()} == qn
    assert packed[1] == "hello world this is a test one two three".split()
    assert packed[2] == ["punct", "only", "x"]


def test_pack_whitespace_tokenizer_preserves_text(spark):
    """pack(tokenizer=whitespace) keeps the Logstash-style verbatim
    split: chunks re-join to the original single-space text."""
    df = spark.createDataFrame(
        [(1, "A B, C d e")], "doc_id long, text string"
    )
    pipe = Pipeline.from_config(
        {
            "steps": [
                {
                    "type": "pack",
                    "source": "text",
                    "tokens_per_chunk": 2,
                    "keep": ["doc_id"],
                    "tokenizer": "whitespace",
                }
            ]
        }
    )
    rows = sorted(pipe.apply(df).collect(), key=lambda r: r.chunk_no)
    assert " ".join(r.chunk for r in rows) == "A B, C d e"


def test_pack_rejects_unknown_tokenizer():
    with pytest.raises(ValueError, match="tokenizer"):
        Pipeline.from_config(
            {
                "steps": [
                    {"type": "pack", "source": "text", "tokenizer": "bpe"}
                ]
            }
        )
