"""Tests of the benchmark itself: its inputs are a function of the seed,
and a wrong output, or a corrupted reference, is reported as a failure.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from driver_hash import frame_hash  # noqa: E402
from workloads import check_files, check_key_sets, check_result  # noqa: E402


def test_inputs_are_a_function_of_the_seed(tmp_path):
    assert gen.weblog_chunk(7, 3, 200) == gen.weblog_chunk(7, 3, 200)
    assert gen.weblog_chunk(7, 3, 200) != gen.weblog_chunk(8, 3, 200)
    assert gen.drift_chunk(7, 1, 100, 4) == gen.drift_chunk(7, 1, 100, 4)
    gen.write_tables(str(tmp_path / "a"), 5, 0.001)
    gen.write_tables(str(tmp_path / "b"), 5, 0.001)
    for t in ("lineitem", "events", "embeddings"):
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()


def test_query_check_rejects_a_corrupted_hash_or_count():
    cols = ["k", "v", "ts"]
    rows = [(1, 2.5, pd.Timestamp("2024-01-01 10:00:00")), (2, 0.25, None)]
    pdf = pd.DataFrame(rows, columns=cols)
    ref = (sorted(cols), 2, frame_hash(pdf))
    assert check_result(ref, pdf)
    assert check_result(ref, pdf.iloc[::-1])  # order-insensitive
    assert not check_result((ref[0], ref[1], "0" * 64), pdf)
    assert not check_result((ref[0], 3, ref[2]), pdf)
    assert not check_result(ref, pd.DataFrame([rows[0], (2, 0.5, None)], columns=cols))


def _ingest_outputs(ref: dict, chunks):
    healthy = {f"c{c}": (ref[f"c{c}"]["lines"] - ref[f"c{c}"]["garbled"], ref[f"c{c}"]["bytes_sum"])
               for c in chunks}
    dead = {f"c{c}": ref[f"c{c}"]["garbled"] for c in chunks if ref[f"c{c}"]["garbled"]}
    return healthy, dead


def test_file_check_rejects_a_corrupted_count():
    chunks = range(3)
    ref = {f"c{c}": gen.weblog_chunk(1, c, 500)[1] for c in chunks}
    healthy, dead = _ingest_outputs(ref, chunks)
    assert all(ok for ok, _ in check_files(healthy, dead, ref, chunks))

    bad = dict(ref, c1=dict(ref["c1"], garbled=ref["c1"]["garbled"] + 1))
    assert [ok for ok, _ in check_files(healthy, dead, bad, chunks)] == [True, False, True, True]
    lost = dict(healthy, c2=(healthy["c2"][0] - 1, healthy["c2"][1]))
    assert not all(ok for ok, _ in check_files(lost, dead, ref, chunks))
    extra = dict(healthy, c9=(1, 200))
    assert not check_files(extra, dead, ref, chunks)[-1][0]


def test_key_set_check_rejects_a_corrupted_count():
    _, counts = gen.drift_chunk(1, 2, 300, 4)
    got = {k: (n, n) for k, n in counts.items()}
    assert all(ok for ok, _ in check_key_sets(got, counts))
    key = min(counts)
    assert not all(ok for ok, _ in check_key_sets(got, dict(counts, **{key: counts[key] + 1})))
    assert not all(ok for ok, _ in check_key_sets(dict(got, extra=(1, 1)), counts))


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


def test_corrupted_reference_makes_the_run_fail():
    root = os.path.dirname(HERE)
    p = _bench(root, "--workload", "pipelines", "--seed", "1", "--seconds", "1",
               "--trace", "0", "--corrupt")
    assert p.returncode != 0
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(str(tmp_path), "--workload", "query_mix", "--seed", "1", "--seconds", "1",
               "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""
