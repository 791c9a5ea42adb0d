"""CLI end-to-end: run a YAML pipeline config file → parquet output."""

from __future__ import annotations

import json

from eventstreams_spark.__main__ import cmd_validate, load_config, main


def test_cli_yaml_pipeline_end_to_end(spark, tmp_path, capsys):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text(
        "10.0.0.9 GET 200\n10.0.0.9 POST 500\n10.9.9.1 GET 404\nbad line x\n"
    )
    out = tmp_path / "out"
    cfg = f"""
source:
  format: text
  path: {src}
  stream: true
  schema: "line string"
steps:
  - type: grok
    source: line
    pattern: "%{{IP:client}} %{{WORD:verb}} %{{NONNEGINT:status}}"
  - type: filter
    expr: "status <> ''"
  - type: cidr
    source: client
    networks: ["10.0.0.0/24", "0.0.0.0/0"]
    target: net
sink:
  format: parquet
  path: {out}
  checkpointLocation: {tmp_path}/ck
  availableNow: true
"""
    cfg_path = tmp_path / "pipe.yaml"
    cfg_path.write_text(cfg)

    main(["validate", str(cfg_path)])
    assert "config OK: 3 steps" in capsys.readouterr().out

    main(["run", str(cfg_path), "--await-seconds", "120"])
    rows = sorted(
        (r.client, r.verb, r.status, r.net)
        for r in spark.read.parquet(str(out)).collect()
    )
    assert rows == [
        ("10.0.0.9", "GET", "200", "10.0.0.0/24"),
        ("10.0.0.9", "POST", "500", "10.0.0.0/24"),
        ("10.9.9.1", "GET", "404", "0.0.0.0/0"),
    ]


def test_cli_list_steps(capsys):
    main(["list-steps"])
    steps = capsys.readouterr().out.split()
    assert {"grok", "mutate", "cidr", "useragent", "syslog", "chunk"} <= set(steps)


def test_cli_json_config_and_validation_errors(tmp_path):
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"steps": [{"type": "nope"}]}))
    try:
        cmd_validate(load_config(str(bad)))
    except (KeyError, ValueError, SystemExit):
        pass
    else:
        raise AssertionError("unknown step type must fail validation")


def test_cli_explain_prints_plan_and_scale_summary(spark, tmp_path, capsys):
    """`explain` compiles and prints the physical plan + its plan
    digest without executing the pipeline (no output files appear)."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text("10.0.0.9 GET 200\n")
    out = tmp_path / "out"
    cfg = {
        "source": {"format": "text", "path": str(src), "schema": "line string"},
        "steps": [
            {"type": "grok", "source": "line",
             "pattern": "%{IP:client} %{WORD:verb} %{NONNEGINT:status}"},
            {"type": "filter", "expr": "status <> ''"},
        ],
        "sink": {"format": "parquet", "path": str(out)},
    }
    cfg_path = tmp_path / "pipe.json"
    cfg_path.write_text(json.dumps(cfg))
    main(["explain", str(cfg_path)])
    printed = capsys.readouterr().out
    assert "Physical Plan" in printed
    assert "-- digest:" in printed
    assert not out.exists()  # nothing ran


def test_cli_explain_streaming_config_prints_plan_not_digest(spark, tmp_path, capsys):
    """A streaming config has no executed plan before its query starts:
    `explain` prints the formatted plan and a digest line saying the
    digest covers batch configs only, and returns normally."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text('{"a": 1}\n')
    out = tmp_path / "out"
    cfg = {
        "source": {"format": "text", "path": str(src), "stream": True,
                   "schema": "payload string"},
        "steps": [{"type": "schema_drift", "source": "payload"}],
        "sink": {"format": "parquet", "path": str(out),
                 "checkpointLocation": str(tmp_path / "ck"), "availableNow": True},
    }
    cfg_path = tmp_path / "drift.json"
    cfg_path.write_text(json.dumps(cfg))
    main(["explain", str(cfg_path)])
    printed = capsys.readouterr().out
    assert "Physical Plan" in printed and "FlatMapGroupsInPandasWithState" in printed
    digest = [ln for ln in printed.splitlines() if ln.startswith("-- digest:")]
    assert digest == ["-- digest: none for a streaming config; the digest covers batch configs only"]
    assert not out.exists()  # nothing ran


def _soak_config(tmp_path):
    """The soak YAML over its replayed weblog fixture: (config path,
    sink dir, dlq dir)."""
    src = tmp_path / "logs"
    src.mkdir()
    (src / "access.log").write_text(
        '10.0.0.1 - alice [10/Oct/2024:10:00:00 +0000] '
        '"GET /index.html HTTP/1.1" 200 1043 "-" "Mozilla/5.0"\n'
        '10.0.0.1 - alice [10/Oct/2024:10:10:00 +0000] '
        '"GET /cart HTTP/1.1" 200 512 "http://shop/index.html" "Mozilla/5.0"\n'
        '    retry-detail: upstream backend slow\n'
        '10.0.0.1 - alice [10/Oct/2024:11:30:00 +0000] '
        '"POST /checkout HTTP/1.1" 500 87 "http://shop/cart" "Mozilla/5.0"\n'
        '10.0.0.2 - bob [10/Oct/2024:10:05:00 +0000] '
        '"GET /about HTTP/1.1" 404 0 "-" "curl/8.0"\n'
        'garbled line without structure\n'
    )
    out, dlq = tmp_path / "out", tmp_path / "dlq"
    cfg = f"""
source:
  format: text
  path: {src}
steps:
  - type: mutate
    add:
      seq: "monotonically_increasing_id()"
      src_host: "'weblog-01'"
  - type: multiline
    source: value
    order: seq
    pattern: '^\\s+'
    group_by: [src_host]
    what: previous
  - type: grok
    source: message
    pattern: "%{{COMBINEDAPACHELOG}}"
  - type: date
    source: timestamp
    formats: ["dd/MMM/yyyy:HH:mm:ss Z"]
    target: "@timestamp"
  - type: translate
    source: response
    mapping: {{"200": ok, "404": not_found, "500": server_error}}
    target: status_class
    default: other
  - type: deadletter
    when: "clientip = ''"
    reason: grok_failure
  - type: sessionize
    key: clientip
    ts: "@timestamp"
    gap_minutes: 30
sink:
  format: parquet
  path: {out}
dlq:
  format: parquet
  path: {dlq}
"""
    cfg_path = tmp_path / "soak.yaml"
    cfg_path.write_text(cfg)
    return cfg_path, out, dlq


def test_cli_explain_prints_soak_digest(spark, tmp_path, capsys):
    """`explain` prints `plans.plan_digest` of the compiled chain, the
    columns tests/plan_digest.json holds for registry queries: the soak
    chain plans three windows (multiline, sessionize) behind one
    single-partition exchange (multiline's global order)."""
    cfg_path, out, _ = _soak_config(tmp_path)
    main(["explain", str(cfg_path)])
    digest = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("-- digest:")]
    assert digest == ['-- digest: {"exchange.single": 1, "op.Window": 3}']
    assert not out.exists()


def test_cli_logstash_replacement_soak(spark, tmp_path):
    """The full Logstash-replacement story in ONE config (VERDICT r3
    #7): multiline reassembly → grok(COMBINEDAPACHELOG) → date →
    translate → deadletter → sessionize → parquet sink with DLQ
    routing, over a replayed weblog fixture, asserted against a
    golden."""
    cfg_path, out, dlq = _soak_config(tmp_path)
    main(["run", str(cfg_path)])

    healthy = sorted(
        (r.clientip, r.verb, r.request, r.response, r.status_class, r.session_id)
        for r in spark.read.parquet(str(out)).collect()
    )
    assert healthy == [
        ("10.0.0.1", "GET", "/cart", "200", "ok", "10.0.0.1#1728554400"),
        ("10.0.0.1", "GET", "/index.html", "200", "ok", "10.0.0.1#1728554400"),
        ("10.0.0.1", "POST", "/checkout", "500", "server_error",
         "10.0.0.1#1728559800"),
        ("10.0.0.2", "GET", "/about", "404", "not_found",
         "10.0.0.2#1728554700"),
    ]
    # 10:00 and 10:10 share a session (gap < 30m); 11:30 opens a new one
    sessions = {r.session_id for r in spark.read.parquet(str(out)).collect()
                if r.clientip == "10.0.0.1"}
    assert sessions == {"10.0.0.1#1728554400", "10.0.0.1#1728559800"}
    # the continuation line was glued onto the 10:10 event
    glued = [r for r in spark.read.parquet(str(out)).collect()
             if r.request == "/cart"]
    assert len(glued) == 1 and "retry-detail" in glued[0].message
    assert glued[0].n_lines == 2
    # the garbled line rode the frame tagged, then routed to the DLQ
    dead = spark.read.parquet(str(dlq)).collect()
    assert len(dead) == 1
    assert dead[0]._dlq_reason == "grok_failure"
    assert "garbled" in dead[0].message


def test_cli_corpus_prep_pipeline_golden(spark, tmp_path):
    """The LLM corpus-prep path as ONE YAML config through the same
    CLI as the log pipelines (VERDICT r8 #7a): quality gate → exact
    dedup (deterministic winner) → 8-gram benchmark decontamination →
    32-token packing → md5-deterministic train/val/test split, with a
    row-exact golden over a handcrafted corpus exercising every
    stage's drop reason."""
    import pyspark.sql.functions as F

    corpus = tmp_path / "corpus"
    evalp = tmp_path / "eval"
    out = tmp_path / "packed"

    clean_a = " ".join(f"alpha{i}" for i in range(10))        # 10 toks
    clean_b = " ".join(f"beta{i}" for i in range(7)) + " tail"  # 8 toks
    contaminated = "the quick brown fox jumps over the lazy dog today"
    eval_text = (
        "prefix words here quick brown fox jumps over the lazy dog more"
    )
    docs = spark.createDataFrame(
        [
            (1, clean_a, "en"),                  # survives, 10 tokens
            (2, clean_a, "en"),                  # exact dup of 1 -> dropped
            (3, clean_b, "en"),                  # survives, 8 tokens
            (4, "too short", "en"),              # quality: < 8 tokens
            (5, clean_a, "de"),                  # language filter
            (6, contaminated + " x y z", "en"),  # shares an 8-gram w/ eval
        ],
        "doc_id long, text string, lang string",
    )
    docs.write.parquet(str(corpus))
    spark.createDataFrame(
        [(100, eval_text)], "doc_id long, text string"
    ).write.parquet(str(evalp))

    cfg = f"""
source:
  format: parquet
  path: {corpus}
steps:
  - type: filter
    expr: "lang = 'en'"
  - type: quality
    source: text
    min_tokens: 8
  - type: dedup
    fields: [text]
    order: doc_id
  - type: decontaminate
    source: text
    eval_path: {evalp}
    eval_column: text
    ngram: 8
  - type: pack
    source: text
    tokens_per_chunk: 4
    keep: [doc_id, q_n_tokens]
  - type: dataset_split
    key: doc_id
    weights: {{train: 0.9, val: 0.05, test: 0.05}}
sink:
  format: parquet
  path: {out}
"""
    cfg_path = tmp_path / "corpus_prep.yaml"
    cfg_path.write_text(cfg)
    main(["run", str(cfg_path)])

    got = sorted(
        (r.doc_id, r.chunk_no, r.chunk, r.q_n_tokens, r.split)
        for r in spark.read.parquet(str(out)).collect()
    )
    # the deterministic split assignment is part of the golden: it is
    # a pure function of md5(doc_id), fixed forever
    from eventstreams_spark.functions.sampling import md5_uniform

    split_of = {
        r.doc_id: r.s
        for r in spark.createDataFrame([(1,), (3,)], "doc_id long")
        .select(
            "doc_id",
            F.when(md5_uniform("CAST(doc_id AS STRING)") < 0.9, "train")
            .when(md5_uniform("CAST(doc_id AS STRING)") < 0.95, "val")
            .otherwise("test")
            .alias("s"),
        )
        .collect()
    }
    # pack's default tokenizer="words" packs the SAME lowercased
    # [a-z]+ stream the quality step counted (ADVICE r9 #4), so
    # "alpha0" packs as "alpha" and q_n_tokens always equals the
    # number of tokens actually packed.
    a_toks = ["alpha"] * 10
    b_toks = ["beta"] * 7 + ["tail"]
    want = sorted(
        [
            (1, 0, " ".join(a_toks[0:4]), 10, split_of[1]),
            (1, 1, " ".join(a_toks[4:8]), 10, split_of[1]),
            (1, 2, " ".join(a_toks[8:10]), 10, split_of[1]),
            (3, 0, " ".join(b_toks[0:4]), 8, split_of[3]),
            (3, 1, " ".join(b_toks[4:8]), 8, split_of[3]),
        ]
    )
    assert got == want

    # tokenizer: whitespace keeps the verbatim Logstash split —
    # chunks re-join to the original text exactly
    cfg_ws = cfg.replace(
        "tokens_per_chunk: 4",
        "tokens_per_chunk: 4\n    tokenizer: whitespace",
    ).replace(str(out), str(tmp_path / "packed_ws"))
    cfg_ws_path = tmp_path / "corpus_prep_ws.yaml"
    cfg_ws_path.write_text(cfg_ws)
    main(["run", str(cfg_ws_path)])
    ws = {
        (r.doc_id, r.chunk_no): r.chunk
        for r in spark.read.parquet(str(tmp_path / "packed_ws")).collect()
    }
    assert ws[(1, 0)] == " ".join(clean_a.split(" ")[0:4])
    assert ws[(3, 1)] == " ".join(clean_b.split(" ")[4:8])


def test_cli_index_prebuilds_sa_cache(spark, sf_dir, capsys):
    """`python -m eventstreams_spark index <dir>` pre-builds the
    shared suffix-array materialization (SCALE.md §24) so the first
    analyst query doesn't pay the construction; a second invocation
    is a cache hit (poisoned builder proves no rebuild)."""
    import os

    import eventstreams_spark.queries.llm as llm

    main(["index", sf_dir])
    out1 = capsys.readouterr().out
    assert "index ready" in out1 and "suffixes" in out1
    assert os.path.exists(
        os.path.join(llm._sa_cache_path(sf_dir), "_SUCCESS")
    )

    real = llm._build_suffix_array_lcp
    llm._build_suffix_array_lcp = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("rebuild on cache hit")
    )
    try:
        main(["index", sf_dir])
        assert "index ready" in capsys.readouterr().out
    finally:
        llm._build_suffix_array_lcp = real


def test_cli_index_prune_evicts_stale_fingerprints(spark, sf_dir, tmp_path, capsys):
    """VERDICT r9 #7 golden: build → re-mint the input (new mtime →
    new fingerprint) → `index --prune` leaves exactly ONE live entry
    for that input dir, sweeps crashed-builder tmp dirs, and never
    touches entries minted from OTHER input dirs."""
    import os
    import shutil

    import eventstreams_spark.queries.llm as llm

    src = os.path.join(sf_dir, "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    if os.path.isdir(src):
        shutil.copytree(src, corpus / "documents.parquet")
    else:
        shutil.copy(src, corpus / "documents.parquet")

    own = str(corpus)

    main(["index", own])
    first = llm._sa_cache_path(own)
    assert os.path.exists(os.path.join(first, "_SUCCESS"))

    # re-mint: same bytes, new mtime → new fingerprint
    droot = corpus / "documents.parquet"
    targets = (
        [droot / p for p in os.listdir(droot) if not p.startswith(("_", "."))]
        if droot.is_dir()
        else [droot]
    )
    for t in targets:
        st = os.stat(t)
        os.utime(t, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = llm._sa_cache_path(own)
    assert second != first, "fingerprint must change with mtime"

    # a crashed builder's leftover tmp dir must be swept too
    root = os.path.dirname(first)
    orphan = os.path.join(root, os.path.basename(second) + ".tmp-99999")
    os.makedirs(orphan, exist_ok=True)
    # a foreign entry (other input dir) must survive the prune
    foreign = llm._sa_cache_path(sf_dir)
    had_foreign = os.path.exists(foreign)

    main(["index", own, "--prune"])
    out = capsys.readouterr().out
    assert "index ready" in out and "pruned" in out
    assert os.path.exists(os.path.join(second, "_SUCCESS"))
    assert not os.path.exists(first), "stale fingerprint must be evicted"
    assert not os.path.exists(orphan), "crashed tmp dir must be swept"
    if had_foreign:
        assert os.path.exists(foreign), "other corpora's entries survive"
    live = [
        n
        for n in os.listdir(root)
        if os.path.isdir(os.path.join(root, n))
        and os.path.exists(os.path.join(root, n, "_meta.json"))
        and json.load(open(os.path.join(root, n, "_meta.json")))["sf_dir"]
        == os.path.abspath(own)
    ]
    assert live == [os.path.basename(second)], live


def test_cli_schema_drift_alert_feed(spark, tmp_path):
    """The producer-drift alert as ONE streaming config: file-stream
    source → schema_drift step → filter is_new → parquet sink. Two
    staged chunks where the second introduces a NEW payload shape:
    the alert feed must contain each shape exactly once, with the
    new shape's alert row carrying its first-batch count only."""
    import pyspark.sql.functions as F

    src = tmp_path / "stream"
    src.mkdir()
    out = tmp_path / "alerts"
    ck = tmp_path / "ck"

    chunk1 = spark.createDataFrame(
        [('{"a": 1, "b": 2}',)] * 3, "props string"
    )
    chunk2 = spark.createDataFrame(
        [('{"a": 1, "b": 2}',), ('{"a": 1, "c": 3}',), ('{"a": 1, "c": 3}',)],
        "props string",
    )
    from eventstreams_spark.streaming.replay import stage_files

    cfg = f"""
source:
  format: parquet
  path: {src}
  stream: true
  schema: "props string"
steps:
  - type: schema_drift
    source: props
  - type: filter
    expr: "is_new"
sink:
  format: parquet
  path: {out}
  checkpointLocation: {ck}
  availableNow: true
"""
    cfg_path = tmp_path / "drift.yaml"
    cfg_path.write_text(cfg)

    stage_files(chunk1.coalesce(1), str(src), 1)
    main(["run", str(cfg_path)])
    stage_files(chunk2.coalesce(1), str(src), 2)
    main(["run", str(cfg_path)])  # resumes from the checkpoint

    alerts = sorted(
        (r.key_set, r.batch_rows, r.total_rows)
        for r in spark.read.parquet(str(out)).collect()
    )
    # one alert per shape, fired on its FIRST batch: a,b saw 3 rows in
    # chunk1; a,c saw 2 in chunk2. The repeat of a,b in chunk2 must
    # NOT re-alert (GroupState survived the restart between runs).
    assert alerts == [("a,b", 3, 3), ("a,c", 2, 2)]


def test_cli_corpus_prep_minhash_profile(spark, tmp_path):
    """The second corpus-prep profile: near-dup (MinHash-LSH +
    Jaccard verify + CC canonical winner) instead of exact dedup.
    Doc 2 is a near-copy of doc 1 (same text, one word changed,
    J ~ 0.76) and must drop in favor of the lower id; doc 3 shares
    no shingles and survives; the exact `dedup` step would have kept
    BOTH 1 and 2 (hashes differ) — that's the profile's point."""
    corpus = tmp_path / "corpus"
    out = tmp_path / "out"

    # letter-suffixed words: the shingle tokenizer is [a-z]-only, so
    # digit suffixes would collapse every word to the same token
    base = " ".join(f"tok{c} word{c}" for c in "abcdefghijkl")  # 24 tokens
    near = base.replace("wordh", "wordx")  # 3 of 22 shingles differ, J ~ 0.76
    other = " ".join(f"zeta{c} eta{c}" for c in "abcdefghijkl")
    spark.createDataFrame(
        [(1, base), (2, near), (3, other)],
        "doc_id long, text string",
    ).write.parquet(str(corpus))

    cfg = f"""
source:
  format: parquet
  path: {corpus}
steps:
  - type: neardup_dedup
    source: text
    id: doc_id
    threshold: 0.6
sink:
  format: parquet
  path: {out}
"""
    cfg_path = tmp_path / "minhash_prep.yaml"
    cfg_path.write_text(cfg)
    main(["run", str(cfg_path)])

    kept = sorted(r.doc_id for r in spark.read.parquet(str(out)).collect())
    assert kept == [1, 3]


def test_cli_multi_sink_fanout_batch(spark, tmp_path, capsys):
    """VERDICT r9 #8: the Logstash multi-output idiom — ONE source +
    pipeline, N sinks with independent per-sink filter expressions
    (a row may land in several sinks). Batch form, row-exact."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text(
        "10.0.0.9 GET 200\n10.0.0.9 POST 500\n10.9.9.1 GET 404\n"
        "10.0.0.2 GET 200\n"
    )
    errs, gets, all_out = tmp_path / "errs", tmp_path / "gets", tmp_path / "all"
    cfg = {
        "source": {"format": "text", "path": str(src),
                   "schema": "line string"},
        "steps": [
            {"type": "grok", "source": "line",
             "pattern": "%{IP:client} %{WORD:verb} %{NONNEGINT:status}"},
        ],
        "sinks": [
            {"filter": "status = '500'", "format": "parquet",
             "path": str(errs)},
            {"filter": "verb = 'GET'", "format": "parquet",
             "path": str(gets)},
            {"format": "parquet", "path": str(all_out)},
        ],
    }
    cfg_path = tmp_path / "fan.json"
    cfg_path.write_text(json.dumps(cfg))
    main(["validate", str(cfg_path)])
    assert "config OK" in capsys.readouterr().out
    main(["run", str(cfg_path)])
    assert [r.status for r in spark.read.parquet(str(errs)).collect()] == ["500"]
    assert sorted(
        r.client for r in spark.read.parquet(str(gets)).collect()
    ) == ["10.0.0.2", "10.0.0.9", "10.9.9.1"]
    assert spark.read.parquet(str(all_out)).count() == 4


def test_cli_multi_sink_fanout_streaming_with_dlq(spark, tmp_path):
    """Fan-out composes with DLQ routing on a STREAMING source: dead
    letters go to the dlq sink, healthy rows fan out to N filtered
    sinks, all written by ONE foreachBatch query that takes its
    checkpoint and availableNow trigger from sinks[0]."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text(
        "10.0.0.9 GET 200\n10.0.0.9 POST 500\nbad line\n"
    )
    errs, all_out, dlq = tmp_path / "errs", tmp_path / "all", tmp_path / "dlq"
    cfg = {
        "source": {"format": "text", "path": str(src), "stream": True,
                   "schema": "line string"},
        "steps": [
            {"type": "grok", "source": "line",
             "pattern": "%{IP:client} %{WORD:verb} %{NONNEGINT:status}"},
            {"type": "deadletter", "when": "client = ''",
             "reason": "grok_failure"},
        ],
        "sinks": [
            {"filter": "status = '500'", "format": "parquet",
             "path": str(errs),
             "checkpointLocation": str(tmp_path / "ck1"),
             "availableNow": True},
            {"format": "parquet", "path": str(all_out),
             "checkpointLocation": str(tmp_path / "ck2"),
             "availableNow": True},
        ],
        "dlq": {"format": "parquet", "path": str(dlq),
                "checkpointLocation": str(tmp_path / "ck3"),
                "availableNow": True},
    }
    cfg_path = tmp_path / "fan_stream.json"
    cfg_path.write_text(json.dumps(cfg))
    main(["run", str(cfg_path)])
    assert [r.verb for r in spark.read.parquet(str(errs)).collect()] == ["POST"]
    assert spark.read.parquet(str(all_out)).count() == 2
    dead = spark.read.parquet(str(dlq)).collect()
    assert len(dead) == 1 and dead[0]._dlq_reason == "grok_failure"


def test_cli_validate_rejects_sink_and_sinks(tmp_path):
    cfg = {"source": {"format": "text", "path": "/x"},
           "steps": [],
           "sink": {"format": "parquet", "path": "/y"},
           "sinks": [{"format": "parquet", "path": "/z"}]}
    p = tmp_path / "both.json"
    p.write_text(json.dumps(cfg))
    import pytest

    with pytest.raises(SystemExit, match="both"):
        main(["validate", str(p)])


def test_file_stream_ingestion_pacing_max_files_per_trigger(spark, tmp_path):
    """VERDICT r9 #8b: backpressure/ingestion pacing for the file
    stream — with maxFilesPerTrigger=1, an availableNow run over K
    staged files processes EXACTLY K micro-batches (one file each),
    rows exact. This is the knob that bounds per-batch input volume
    (and thus executor memory) when a backlog of files lands at
    once; without it availableNow would swallow the whole backlog
    in one giant batch."""
    from eventstreams_spark.pipeline import read_source, write_sink

    src = tmp_path / "spool"
    src.mkdir()
    K, per = 4, 25
    for c in range(K):
        (src / f"c{c}.log").write_text(
            "".join(f"line-{c}-{i}\n" for i in range(per))
        )
    df = read_source(
        spark,
        {"format": "text", "path": str(src), "stream": True,
         "schema": "value string", "maxFilesPerTrigger": 1},
    )
    q = write_sink(
        df,
        {"format": "parquet", "path": str(tmp_path / "out"),
         "checkpointLocation": str(tmp_path / "ck"),
         "availableNow": True},
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == K, [p["numInputRows"] for p in batches]
    assert all(p["numInputRows"] == per for p in batches)
    assert spark.read.parquet(str(tmp_path / "out")).count() == K * per


def test_cli_single_pass_fanout_foreachbatch(spark, tmp_path):
    """SCALE.md §26's ingest shape as code: a streaming multi-sink
    config runs ONE foreachBatch query — each micro-batch is persisted
    and every sink written from the cache, so the source is scanned
    once per batch regardless of sink count. Row-exact against the
    per-sink filters; exactly one checkpoint (sinks[0]'s) exists; a
    `fanout:` key is rejected."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text(
        "10.0.0.9 GET 200\n10.0.0.9 POST 500\n10.9.9.1 GET 404\n"
    )
    (src / "b.log").write_text("10.0.0.2 GET 200\n")
    errs, all_out = tmp_path / "errs", tmp_path / "all"
    ck = tmp_path / "ck-fanout"
    base = {
        "source": {"format": "text", "path": str(src), "stream": True,
                   "schema": "line string", "maxFilesPerTrigger": 1},
        "steps": [
            {"type": "grok", "source": "line",
             "pattern": "%{IP:client} %{WORD:verb} %{NONNEGINT:status}"},
        ],
        "sinks": [
            {"filter": "status = '500'", "format": "parquet",
             "path": str(errs), "checkpointLocation": str(ck),
             "availableNow": True},
            {"format": "parquet", "path": str(all_out)},
        ],
    }
    cfg_path = tmp_path / "fan1p.json"
    cfg_path.write_text(json.dumps(base))
    main(["run", str(cfg_path)])
    assert [r.verb for r in spark.read.parquet(str(errs)).collect()] == ["POST"]
    assert spark.read.parquet(str(all_out)).count() == 4
    # one checkpoint: the query's, named by sinks[0]
    assert ck.exists()
    cks = [p for p in tmp_path.iterdir() if p.name.startswith("ck")]
    assert cks == [ck]

    # a second availableNow run with NO new files must be a no-op
    # (the shared checkpoint covers every sink)
    main(["run", str(cfg_path)])
    assert spark.read.parquet(str(all_out)).count() == 4

    # the removed `fanout:` option is rejected, naming the rule
    bad = dict(base, fanout={"checkpointLocation": str(ck)})
    bad_path = tmp_path / "bad.json"
    bad_path.write_text(json.dumps(bad))
    import pytest

    with pytest.raises(SystemExit, match="ONE foreachBatch query"):
        main(["run", str(bad_path)])
