#!/usr/bin/env python3
"""CDC engine benchmark: bulk replay, merge-on-read serving, trickle
freshness and analytic queries, at ``local[nproc]``.

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 10 --trace 0

This process makes the inputs from ``--seed`` (a WAL and the analytic
tables, cached under ``.perfbench_work/``) and the oracle's expected
results, then starts ``measure.py``, the measured process, which runs the
engine in one Spark session (see its docstring for the phases). When that
process has ended, this one checks the results that need the oracle
(``read_changes`` rows, query results), and with ``--trace 1`` parses
Spark's event log.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it records host and session.
``--trace 0`` reports end-to-end metrics with tracing off; ``--trace 1``
runs the same with Spark's event log on and reports per-layer metrics,
taken from the benchmark's own timers around engine calls, the returned
``BatchMetrics`` and the parsed event log (``eventlog.py``).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "audience_behavior_semantic_etl_spark"
DEADLINE_S = 175  # the whole run, inputs included

sys.path.insert(0, ROOT)

from perfbench.gen import LogSpec  # noqa: E402

# Inputs. The WAL is cut in stream order into
# - bulk: 24k events in 9 chunks, applied to a fresh table in 3
#   micro-batches of 8k. The first is the set-up's warm-up (JIT, codegen,
#   Python workers); the other two are timed. The skewed workload's 2 hot
#   conversations carry ~1.1k events each per batch, above
#   ApplyConfig.hot_key_threshold (1000), so the salted path runs; the
#   uniform workload has no hot conversation, so it never does;
# - tail: the rest, ~12k events, published chunk by chunk by the trickle
#   (which uses the first ~3k).
WORKLOADS = {
    "skewed": LogSpec(n_convs=1310, mean_turns=12, hot_convs=2, hot_updates=5000, bulk_events=24_000),
    "uniform": LogSpec(n_convs=1830, mean_turns=12, hot_convs=0, hot_updates=0, bulk_events=24_000),
}
BULK_CHUNKS = 9
BULK_BATCHES = 3
# Compaction threshold (ApplyConfig.compact_max_files, delta snapshots
# per bucket). The default, 8, needs 9 commits on one table before it
# fires; at ~5 s per micro-batch on a 4-core host that does not fit a
# run. At 3, the bulk phase's 3 commits stay at it, so the serving
# phase reads 3 delta snapshots per bucket, and the trickle's first
# commit crosses it: a background compaction overlaps its second batch.
COMPACT_MAX_FILES = 3
TAIL_CHUNK_EVENTS = 105
# Offered rate of the trickle phase: about a quarter of the bulk phase's
# throughput at local[4] (~1.7k events/s), fixed so every run sees the
# same load: one 105-event chunk every 0.25 s.
TRICKLE_RATE = 420.0  # events/s
CONV_POOL = 200  # conversations the lookups draw from
# A fixed subset of __spark_entry__.queries(), small enough for the run
# budget: operators (aggregates, sessionize), functions (date parts),
# _spread, and the training-mix chain (sampling, PII redaction, token
# counts, sequence packing). No query uses plans/.
QUERIES = ["q_pricing_summary", "q_sessionize", "q_date_parts", "q_training_mix"]
TABLES = ["events", "orders", "lineitem", "part", "documents"]


def note(msg: str) -> None:
    print(f"perfbench: [{time.time() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def _die(code: int, msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def other_spark_jvms() -> list[int]:
    """PIDs of running Spark JVMs (a concurrent Spark job would share
    the cores and spoil every number)."""
    out = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(d, "cmdline"), "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            out.append(int(os.path.basename(d)))
    return out


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


# ----------------------------------------------------------------- inputs


class Inputs:
    """The WAL of one (workload, seed), bulk chunks and tail chunks (the
    trickle publisher's source), and the analytic tables."""

    def __init__(self, workload: str, seed: int):
        spec = WORKLOADS[workload]
        key = repr((spec, BULK_CHUNKS, TAIL_CHUNK_EVENTS, seed))
        key = hashlib.md5(key.encode()).hexdigest()[:10]
        self.dir = os.path.join(WORK, "cache", f"{workload}-{seed}-{key}")
        if not os.path.exists(os.path.join(self.dir, "done")):
            self._build(spec, seed)
        self.bulk = sorted(glob.glob(os.path.join(self.dir, "bulk", "*.parquet")))
        self.tail = sorted(glob.glob(os.path.join(self.dir, "tail", "*.parquet")))
        self.tables = os.path.join(self.dir, "tables")
        with open(os.path.join(self.dir, "done")) as f:
            meta = json.load(f)
        self.tail_lsn_max = meta["tail_lsn_max"]
        self.tail_events = meta["tail_events"]
        self.bulk_events = meta["bulk_events"]
        self.hot_convs = [f"conv-{i:08d}" for i in range(spec.hot_convs)]

    def _build(self, spec: LogSpec, seed: int) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from perfbench.gen import generate, write_chunks, write_tables

        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.dirname(self.dir), exist_ok=True)
        # keep the cache small: only the newest few inputs survive
        old = sorted(glob.glob(os.path.join(WORK, "cache", "*")), key=os.path.getmtime)
        for d in old[:-3]:
            shutil.rmtree(d, ignore_errors=True)
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        log = generate(seed, spec)
        bulk = log.slice(0, spec.bulk_events)
        tail = log.slice(spec.bulk_events)
        base = int(time.time()) - 100_000
        write_chunks(bulk, os.path.join(tmp, "bulk"), BULK_CHUNKS, base)
        n_tail = max(1, tail.num_rows // TAIL_CHUNK_EVENTS)
        paths = write_chunks(tail, os.path.join(tmp, "tail"), n_tail, base + BULK_CHUNKS)
        write_tables(seed, os.path.join(tmp, "tables"))
        lsn_max, events = [], []
        for p in paths:
            t = pq.read_table(p, columns=["lsn"])
            lsn_max.append(int(pc.max(t["lsn"]).as_py()))
            events.append(t.num_rows)
        with open(os.path.join(tmp, "done"), "w") as f:
            json.dump({"tail_lsn_max": lsn_max, "tail_events": events, "bulk_events": bulk.num_rows}, f)
        os.rename(tmp, self.dir)

    def warm_page_cache(self) -> None:
        for p in glob.glob(os.path.join(self.dir, "*", "*.parquet")):
            with open(p, "rb") as f:
                while f.read(1 << 20):
                    pass
        os.sync()


def make_plan(args, inp: Inputs, oracle, n_cpu: int) -> dict:
    """Everything the measured process needs: input files, phase lengths
    and the oracle's expected results."""
    from perfbench.gate import FULL_COLS, TEXT_COLS

    interval = statistics.mean(inp.tail_events) / TRICKLE_RATE
    per_batch = len(inp.bulk) // BULK_BATCHES
    # the WAL files each bulk commit has applied
    commits = [inp.bulk[: k * per_batch] for k in range(1, BULK_BATCHES + 1)]
    served = inp.bulk
    live = oracle.live_convs(served)
    pool = random.Random(args.seed).sample(live, min(len(live), CONV_POOL))
    hot = [c for c in inp.hot_convs if c in set(live)]
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "n_cpu": n_cpu,
        "heap": f"{max(2, math.ceil(0.75 * n_cpu))}g",
        "bulk": inp.bulk, "bulk_events": inp.bulk_events, "bulk_batches": BULK_BATCHES,
        "compact_max_files": COMPACT_MAX_FILES,
        "tail": inp.tail, "tail_lsn_max": inp.tail_lsn_max, "tail_events": inp.tail_events,
        "serving_s": args.seconds, "interval_s": interval,
        "tables_dir": inp.tables, "queries": QUERIES,
        "served_text": oracle.digest(served, TEXT_COLS),
        "served_full": oracle.digest(served, FULL_COLS),
        # (commit number, digest) for every commit before the last
        "time_travel": [[k, oracle.digest(files, FULL_COLS)] for k, files in enumerate(commits[:-1], 1)],
        "pool": pool, "hot": hot,
        "want_rows": oracle.rows_by_conv(served, pool + hot),
    }


def measure(plan: dict, run_dir: str) -> dict:
    """Run measure.py in its own process group and return its raw.json."""
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    env = dict(os.environ)
    # everything the engine and Spark write stays inside the checkout
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_DRIVER_MEM": plan["heap"],
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",  # no /tmp/hsperfdata_* files
    })
    for d in ("scratch", "local", "events"):
        os.makedirs(os.path.join(run_dir, d))
    child = subprocess.Popen([sys.executable, os.path.join(HERE, "measure.py"), run_dir], env=env,
                             stdin=subprocess.DEVNULL, stdout=sys.stderr, start_new_session=True)
    try:
        child.wait(timeout=max(10.0, DEADLINE_S - (time.time() - T_START)))
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        _die(4, "the measured process did not finish in time")
    finally:
        # its JVM normally exits with it; make sure nothing of the group
        # outlives the run, and wait until the group is gone
        try:
            os.killpg(child.pid, signal.SIGKILL)
            for _ in range(100):
                time.sleep(0.1)
                os.killpg(child.pid, 0)
        except ProcessLookupError:
            pass
    if child.returncode != 0:
        _die(5, f"the measured process failed (exit {child.returncode})")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def check_results(raw: dict, oracle, inp: Inputs) -> list[tuple[bool, str]]:
    """The checks that need the oracle: the table after the trickle and
    ``read_changes`` rows against the WAL, query results against
    ``oracle_sql()``."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from perfbench.gate import FULL_COLS, TEXT_COLS, frame_mismatch

    trickle = raw["trickle"]
    files = inp.bulk + inp.tail[: trickle["n_pub"]]
    out = [(trickle["text_digest"] == list(oracle.digest(files, TEXT_COLS)), "trickle per-turn text digest"),
           (trickle["full_digest"] == list(oracle.digest(files, FULL_COLS)), "trickle full-row digest")]
    since = raw["serving"]["since"]
    for p in raw["serving"]["changes_files"]:
        got = pq.read_table(p)
        bad = oracle.bad_change_rows(inp.bulk, got)
        out.append((bad == 0 and got.num_rows > 0,
                    f"read_changes({since}): {got.num_rows} rows, {bad} match no WAL event"))
    sql = entry.oracle_sql()
    for t in TABLES:
        oracle.con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                           f"SELECT * FROM read_parquet('{os.path.join(inp.tables, t)}.parquet')")
    for name, p in raw["queries"]["files"].items():
        bad = frame_mismatch(pq.read_table(p).to_pandas(), oracle.con.execute(sql[name]).fetchdf())
        out.append((bad is None, f"{name}: {bad}"))
    return out


# ----------------------------------------------------------------- metrics


def end_to_end(raw: dict) -> dict:
    bulk, serving, fresh = raw["bulk"], raw["serving"], raw["trickle"]["fresh"]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "peak_rss_mb": (raw["rss_mb"], "MB"),
        "apply_events_per_s": (bulk["events"] / bulk["wall"], "events/s"),
        "table_bytes_per_live_row": (bulk["table_bytes"] / bulk["live_rows"], "B/row"),
        "freshness_p50_s": (statistics.median(fresh), "s"),
        "freshness_p90_s": (pct(fresh, 90), "s"),
        "lookup_p50_ms": (statistics.median(serving["lookup_ms"]), "ms"),
        "scan_s": (statistics.median(serving["scan_s"]), "s"),
        "changes_s": (statistics.median(serving["changes_s"]), "s"),
        "queries_total_s": (sum(raw["queries"]["s"].values()), "s"),
    }


def apply_layer(prefix: str, calls: list[dict], log) -> dict:
    """``apply.<prefix>.*``: per-batch figures of one regime's
    ``apply_batch`` calls; phase times are means per batch."""
    from perfbench import eventlog

    ms = [c["m"] for c in calls]
    walls = [c["end"] - c["start"] for c in calls]
    jobs = eventlog.attribute(log, calls)
    out = {
        "batch_s_p50": (statistics.median(walls), "s"),
        "batch_s_max": (max(walls), "s"),
        **{f"{p}_s": (statistics.mean((m["phases"] or {}).get(p, 0.0) for m in ms), "s")
           for p in ("spool", "stats", "census", "write", "commit", "compact")},
        "jobs_per_batch": (jobs["jobs_per_batch"], "count"),
        "in_job_s": (jobs["in_job_s"], "s"),
        "driver_s": (jobs["driver_s"], "s"),
        "write_task_skew": (jobs["write_task_skew"], "ratio"),
        "shuffle_bytes_per_event": (jobs["shuffle_bytes"] / sum(m["events"] for m in ms), "B/event"),
        "spill_bytes": (jobs["spill_bytes"], "B"),
        "hot_keys": (sum(m["hot_keys"] for m in ms), "count"),
        "dedup_dropped": (sum(m["dedup_dropped"] for m in ms), "count"),
        "udf_s": (jobs["udf_s"] / len(calls), "s"),
    }
    return {f"apply.{prefix}.{k}": v for k, v in out.items()}


def per_layer(raw: dict, log) -> dict:
    from perfbench import eventlog

    trickle, serving, table = raw["trickle"], raw["serving"], raw["table"]
    tc = trickle["calls"]
    gap, prev = 0.0, trickle["t0"]
    for c in tc:
        gap += max(0.0, c["start"] - prev)
        prev = c["end"]
    bulk_layer = apply_layer("bulk", raw["bulk"]["calls"], log)
    lookups = eventlog.spans(log, serving["lookup_spans"])
    # from the trickle on, every job the benchmark starts is labelled; the
    # rest are the engine's background compactions
    own = eventlog.owners(log, since=trickle["t0"])
    background = [v for k, v in own.items() if k == "unlabelled" or k.startswith("site:")]
    q = eventlog.spans_stages(log, raw["queries"]["spans"])
    return {
        "setup.session_s": (raw["session_s"], "s"),
        "setup.first_batch_s": (raw["first_batch_s"], "s"),
        "stream.batches": (len(tc), "count"),
        "stream.events_per_batch_p50": (statistics.median(c["m"]["events"] for c in tc), "events"),
        "stream.gap_s": (gap, "s"),
        "stream.apply_s": (sum(c["end"] - c["start"] for c in tc), "s"),
        "stream.wall_s": (trickle["t_end"] - trickle["t0"], "s"),
        "stream.generator_late_s_max": (max(trickle["late"]), "s"),
        "stream.backlog_events_max": (max(trickle["backlog"] or [0]), "events"),
        **{k: v for k, v in bulk_layer.items() if not k.endswith(".udf_s")},
        **{k: v for k, v in apply_layer("trickle", tc, log).items() if not k.endswith(".udf_s")},
        "normalize.udf_s": bulk_layer["apply.bulk.udf_s"],
        "table.commits": (table["commits"], "count"),
        "table.manifest_bytes_first": (table["manifest_bytes_first"], "B"),
        "table.manifest_bytes_per_commit": (table["manifest_bytes_last"], "B"),
        "table.manifest_s": (statistics.median(serving["manifest_ms"]) / 1000, "s"),
        "table.live_files": (serving["live_files"], "count"),
        "table.files_per_bucket_max": (serving["files_per_bucket_max"], "count"),
        "table.bytes_written_per_event": (table["bytes_written_per_event"], "B/event"),
        "table.compactions": (table["compactions"], "count"),
        "table.background_jobs": (sum(n for n, _ in background), "count"),
        "table.background_job_s": (sum(t for _, t in background), "s"),
        "table.lookup_jobs": (lookups["jobs_per_span"], "count"),
        "table.lookup_files_scanned_p50": (statistics.median(serving["lookup_files"]), "count"),
        "table.lookup_driver_ms": (lookups["driver_s_p50"] * 1000, "ms"),
        "table.scan_files": (serving["scan_files"], "count"),
        **{f"query.{n}_s": (s, "s") for n, s in raw["queries"]["s"].items()},
        "query.small_scan_stages": (q["small_scan_stages"], "count"),
        "query.stage_skew_max": (q["stage_skew_max"], "ratio"),
    }


# ----------------------------------------------------------------- main


def run(args) -> int:
    from perfbench import eventlog
    from perfbench.gate import Oracle

    n_cpu = len(os.sched_getaffinity(0))  # nproc
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    oracle = Oracle()
    try:
        inp = Inputs(args.workload, args.seed)
        inp.warm_page_cache()
        plan = make_plan(args, inp, oracle, n_cpu)
        note("inputs and expectations ready")
        raw = measure(plan, run_dir)
        checks = check_results(raw, oracle, inp)
        metrics = end_to_end(raw)
        if args.trace:
            log = eventlog.load(glob.glob(os.path.join(run_dir, "events", "*"))[0])
            traced = metrics
            metrics = per_layer(raw, log)
            # tracing overhead = these minus the same metrics of an untraced run
            for k in ("apply_events_per_s", "freshness_p50_s", "lookup_p50_ms", "scan_s", "queries_total_s"):
                metrics[f"trace.{k}"] = traced[k]
    finally:
        oracle.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    c = raw["checks"]
    attempted = c["attempted"] + len(checks)
    failures = c["failures"] + [what for ok, what in checks if not ok]
    for what in failures[c["failed"]:]:
        print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)
    record = dict(raw["record"], workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, offered_rate_events_per_s=TRICKLE_RATE, failures=failures[:20])
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not failures else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the measured process (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "cdc", "apply.py")):
        _die(2, f"engine package {ENGINE}/ not found next to perfbench/; run from a full checkout")
    jvms = other_spark_jvms()
    if jvms:
        _die(3, f"another Spark JVM is running (pids {jvms}); refusing to measure on a shared host")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
