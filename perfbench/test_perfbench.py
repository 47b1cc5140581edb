"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The generator, gate and event-log tests need no Spark and take seconds.
The end-to-end tests run ``run.py`` itself (one Spark session each,
about a minute per run on 4 cores) and refuse to start while another
Spark JVM is running, like the benchmark.
"""

from __future__ import annotations

import calendar
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unicodedata

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.gate import FULL_COLS, TEXT_COLS, Oracle, frame_mismatch  # noqa: E402
from perfbench.gen import LogSpec, generate, write_chunks, write_tables  # noqa: E402

SMALL = LogSpec(n_convs=60, mean_turns=6, hot_convs=1, hot_updates=40, bulk_events=500)


def _canon(s):
    # the engine's definition, restated: NFC, CRLF/CR -> LF, control
    # characters dropped, trailing blanks trimmed per line
    s = unicodedata.normalize("NFC", s).replace("\r\n", "\n").replace("\r", "\n")
    s = "".join(ch for ch in s if not (ord(ch) < 32 and ch not in "\t\n") and ord(ch) != 127)
    return "\n".join(line.rstrip(" \t") for line in s.split("\n"))


def _python_final(log) -> list[dict]:
    """Plain-Python LWW reduction of a log (reference for the oracle)."""
    win: dict = {}
    for r in log.to_pylist():
        if r["op"] == "schema_change":
            continue
        k = (r["conv_id"], r["turn_idx"])
        if k not in win or r["lsn"] > win[k]["lsn"]:
            win[k] = r
    out = []
    for (conv, turn), r in win.items():
        if r["op"] == "delete":
            continue
        p = json.loads(r["payload"])
        tm = p.get("tool_meta") or {}
        ts = calendar.timegm(datetime.datetime.fromisoformat(p["ts"]).timetuple())
        out.append({"conv_id": conv, "turn_idx": turn, "role": p["role"], "text": _canon(p["text"]),
                    "tool": p["tool"], "ts": ts, "tool_name": tm.get("name"),
                    "tool_latency_ms": tm.get("latency_ms")})
    return out


def _digest(rows: list[dict], cols: list[str]) -> tuple[int, int, int]:
    a = b = 0
    for r in rows:
        s = "|".join("\\N" if r[c] is None else str(r[c]) for c in cols)
        h = hashlib.md5(s.encode()).hexdigest()
        a += int(h[:8], 16)
        b += int(h[8:16], 16)
    return len(rows), a, b


@pytest.fixture(scope="module")
def small_wal(tmp_path_factory):
    d = tmp_path_factory.mktemp("wal")
    log = generate(5, SMALL)
    files = write_chunks(log, str(d), 4, 1_000_000)
    return log, files


def test_generator_is_seeded_and_mixed():
    a, b, c = generate(5, SMALL), generate(5, SMALL), generate(6, SMALL)
    assert a.equals(b)
    assert not a.equals(c)
    ops = a.column("op").to_pylist()
    assert ops.count("schema_change") == 1
    assert ops.count("insert") > ops.count("update") > ops.count("delete") > 0
    # re-deliveries: same lsn, same content, later in the stream
    rows: dict = {}
    dups = 0
    for r in a.to_pylist():
        if r["lsn"] in rows:
            assert rows[r["lsn"]] == r
            dups += 1
        rows[r["lsn"]] = r
    assert dups > 0


def test_oracle_matches_python_reduction(small_wal):
    log, files = small_wal
    want = _python_final(log)
    oracle = Oracle()
    try:
        assert oracle.digest(files, TEXT_COLS) == _digest(want, TEXT_COLS)
        assert oracle.digest(files, FULL_COLS) == _digest(want, FULL_COLS)
    finally:
        oracle.close()


def test_gate_fails_on_corrupted_expectation(small_wal):
    log, files = small_wal
    want = _python_final(log)
    oracle = Oracle()
    try:
        got = oracle.digest(files, TEXT_COLS)
        for corrupt in (
            lambda rows: rows[0].update(text=rows[0]["text"] + " "),  # one character
            lambda rows: rows.pop(),  # one lost key
            lambda rows: rows.append(dict(rows[0], turn_idx=999)),  # one resurrected key
        ):
            rows = [dict(r) for r in want]
            corrupt(rows)
            assert _digest(rows, TEXT_COLS) != got
        import pyarrow as pa

        row = next(r for r in log.to_pylist() if r["op"] == "insert")
        good = {"conv_id": [row["conv_id"]], "turn_idx": [row["turn_idx"]], "_lsn": [row["lsn"]],
                "_deleted": [False], "text": [_canon(json.loads(row["payload"])["text"])]}
        assert oracle.bad_change_rows(files, pa.table(good)) == 0
        assert oracle.bad_change_rows(files, pa.table(dict(good, text=["tampered"]))) == 1
        assert oracle.bad_change_rows(files, pa.table(dict(good, _lsn=[10**9]))) == 1
    finally:
        oracle.close()


def test_query_results_gate(tmp_path):
    """The query check accepts the oracle's own result in another row
    order and column order, and rejects a changed value or a lost row."""
    write_tables(3, str(tmp_path))
    oracle = Oracle()
    try:
        oracle.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
        sql = ("SELECT user_id, count(*) AS n, round(sum(value), 2) AS total "
               "FROM events GROUP BY user_id")
        want = oracle.con.execute(sql).fetchdf()
    finally:
        oracle.close()
    got = want.sample(frac=1.0, random_state=1)[["total", "n", "user_id"]]
    assert frame_mismatch(got, want) is None
    bad = got.copy()
    bad.iloc[0, 0] += 0.01
    assert frame_mismatch(bad, want) is not None
    assert frame_mismatch(got.iloc[1:], want) is not None


def test_eventlog_parser_on_canned_log():
    log = eventlog.load(os.path.join(HERE, "testdata", "canned_eventlog.jsonl"))

    m = {"phases": {"spool": 0.0, "stats": 0.45, "census": 0.0, "write": 1.1, "commit": 0.01}}
    call = {"label": "t:apply:0", "start": 0.99, "end": 2.55, "m": m}
    a = eventlog.attribute(log, [call])
    assert a["jobs_per_batch"] == 2
    assert a["in_job_s"] == pytest.approx(1.4)
    assert a["driver_s"] == pytest.approx(0.16)
    assert a["write_task_skew"] == pytest.approx(4.0)  # result stage 2: 0.4 s over a 0.1 s median
    assert a["shuffle_bytes"] == 10_000
    assert a["spill_bytes"] == 0  # the spill belongs to the background job
    assert a["udf_s"] == pytest.approx(1.0)  # task updates plus the driver-side update
    s = eventlog.spans(log, [("serve:0:1:key", 3.0, 3.25)])
    assert s["jobs_per_span"] == 2
    assert s["driver_s_p50"] == pytest.approx(0.05)
    o = eventlog.owners(log)
    assert o["t:apply"] == (2, pytest.approx(1.4))
    assert o["site:table.py"] == (1, pytest.approx(1.0))
    assert o["serve:key"][0] == 2
    assert o["unlabelled"] == (1, pytest.approx(0.5))  # no label, no call site
    q = eventlog.spans_stages(log, [("query:q_x", 4.0, 4.4)])
    assert q["small_scan_stages"] == 1  # stage 6: a file scan on 1 task
    assert q["stage_skew_max"] == pytest.approx(3.0)  # stage 7: 0.3 s over a 0.1 s median


def test_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "skewed", "--seed", "1",
                        "--seconds", "3", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=170)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _run(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", "3", "--trace", str(trace)], cwd=ROOT, capture_output=True,
                       text=True, timeout=175)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_end_to_end_on_held_out_seed(workload):
    """Every workload runs clean on a seed never used for tuning and
    prints every end-to-end metric with its unit."""
    r = _run(workload, 987_654, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    assert set(r["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    for m in _spec()["end_to_end"]:
        assert r["metrics"][m["name"]]["unit"] == m["unit"]
        assert r["metrics"][m["name"]]["value"] > 0


def test_traced_run_reports_every_layer_metric():
    r = _run("skewed", 424_242, 1)
    assert r["correct"]
    assert set(r["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    for m in _spec()["per_layer"]:
        assert r["metrics"][m["name"]]["unit"] == m["unit"]
    got = r["metrics"]
    assert got["apply.bulk.hot_keys"]["value"] > 0  # the skewed bulk batches take the salted path
    # the trickle's commits cross the compaction threshold
    assert got["table.compactions"]["value"] > 0
    assert got["table.background_jobs"]["value"] > 0
    # the trickle's timed wall is apply_batch time plus the gaps between calls
    assert got["stream.apply_s"]["value"] + got["stream.gap_s"]["value"] == pytest.approx(
        got["stream.wall_s"]["value"], rel=1e-6)
