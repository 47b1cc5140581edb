#!/usr/bin/env python3
"""The measured process of one benchmark run, started by ``run.py``:

    python3 perfbench/measure.py RUN_DIR

It reads ``RUN_DIR/plan.json`` (input files, expected digests, phase
lengths) and writes ``RUN_DIR/raw.json`` (timings, per-call
``BatchMetrics``, table layout, check results). It holds no generator or
oracle state: ``run.py`` makes the inputs and the expected results
before this process starts, and checks the results that need the oracle
after it ends. So ``setup_s``, whose clock starts with this process, and
``peak_rss_mb``, this process plus its JVM, do not depend on whether the
inputs were cached.

Set-up: the Spark session at ``local[nproc]`` and the first micro-batch
of the bulk phase (JIT, codegen and Python-worker warm-up). Then four
timed phases:

1. bulk: the rest of the bulk WAL into the same fresh table, in large
   micro-batches through ``readStream -> foreachBatch(apply_batch)``. Its
   commits stay at the compaction threshold, so no compaction runs yet.
2. serving: one client in a closed loop over that table, in whole
   seeded rounds of ``read_key`` lookups, full ``read_final`` scans
   through a full-width checksum, ``read_changes`` windows and a
   time-travel ``read_final(version=...)``.
3. trickle: an open loop onto the same table. A publisher thread moves
   the tail chunks into a watched directory on a fixed schedule while a
   stream with the default trigger applies them, for two micro-batches.
   Its first commit crosses the compaction threshold, so a background
   compaction overlaps its second batch. Freshness of a chunk runs from
   its scheduled publish time to the return of the ``apply_batch`` call
   whose ``lsn_max`` covers it.
4. queries: a fixed subset of ``__spark_entry__.queries()`` over the
   generated tables, each collected to Arrow once; the results are saved
   for the oracle.
"""

from __future__ import annotations

import time

T_START = time.time()

import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.gate import FULL_COLS, TEXT_COLS, spark_digest, spark_rows  # noqa: E402

N_BUCKETS = 16
# one serving round, in a seeded order: lookups, full scans, changes
# windows and one time-travel read
ROUND = ["key"] * 6 + ["scan"] * 2 + ["changes"] * 3 + ["tt"]


def note(msg: str) -> None:
    print(f"perfbench: [{time.time() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ctx:
    def __init__(self, plan: dict, run_dir: str):
        self.plan = plan
        self.trace = bool(plan["trace"])
        self.rng = random.Random(plan["seed"])
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None

    def label(self, name: str) -> None:
        """Tag the calling thread's next Spark jobs (traced runs only)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)

    def path(self, *p: str) -> str:
        return os.path.join(self.run_dir, *p)


def digest(d) -> list[int]:
    return [int(x) for x in d]


# ----------------------------------------------------------------- stream


class Stream:
    """``readStream -> foreachBatch(apply_batch)`` with the benchmark's
    own timers around every ``apply_batch`` call."""

    def __init__(self, ctx, src_dir: str, table, ckpt: str, label: str,
                 available_now: bool, max_files: int | None = None):
        from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
        from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA

        self.calls: list[dict] = []  # {label, start, end, m}
        self.on_call = None  # callback(start) before each apply_batch
        cfg = ApplyConfig(app_id=f"bench-{label}", compact_max_files=ctx.plan["compact_max_files"])

        def handle(df, batch_id: int) -> None:
            tag = f"{label}:apply:{batch_id}"
            ctx.label(tag)
            start = time.time()
            if self.on_call is not None:
                self.on_call(start)
            m = apply_batch(df, table, batch_id, cfg)
            self.calls.append({"label": tag, "start": start, "end": time.time(),
                               "m": dataclasses.asdict(m)})

        reader = ctx.spark.readStream.schema(ENVELOPE_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        w = reader.parquet(src_dir).writeStream.foreachBatch(handle).option("checkpointLocation", ckpt)
        if available_now:
            w = w.trigger(availableNow=True)
        self.query = w.start()

    def stop(self) -> None:
        if self.query.isActive:
            self.query.stop()
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")


def bulk_phase(ctx) -> dict:
    """One availableNow replay of the bulk WAL in ``bulk_batches``
    micro-batches into a fresh table. The first batch belongs to set-up;
    the timed part runs from its return until the last batch has returned
    and any pending compaction has been joined."""
    from audience_behavior_semantic_etl_spark.cdc.apply import join_pending_compaction
    from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable

    chunks, batches = ctx.plan["bulk"], ctx.plan["bulk_batches"]
    table = SnapshotTable.create(ctx.spark, ctx.path("bulk", "table"), n_buckets=N_BUCKETS)
    s = Stream(ctx, os.path.dirname(chunks[0]), table, ctx.path("bulk", "ckpt"), "bulk", True,
               len(chunks) // batches)
    s.query.awaitTermination()
    s.stop()
    join_pending_compaction(table)
    end = time.time()
    note("bulk batches " + ", ".join(f"{c['end'] - c['start']:.2f}s" for c in s.calls))
    ctx.check(len(s.calls) == batches, f"bulk: {len(s.calls)} batches, want {batches}")
    for c in s.calls:
        ctx.check(not c["m"]["skipped"], f"bulk batch {c['m']['batch_id']} skipped")
    first, timed = s.calls[0], s.calls[1:]
    return {"table": table, "all_calls": s.calls, "calls": timed, "setup_end": first["end"],
            "first_batch_s": first["end"] - first["start"], "wall": end - first["end"],
            "events": sum(c["m"]["events"] for c in timed)}


def versions_of(table, calls: list[dict]) -> list[int]:
    snap = {table.manifest(v).snapshot_id: v for v in range(1, table.manifest().version + 1)}
    return [snap[c["m"]["snapshot_id"]] for c in calls]


# ----------------------------------------------------------------- phases


def serving_phase(ctx, table, versions: list[int], seconds: float) -> dict:
    """``versions``: the table version of each bulk commit."""
    plan = ctx.plan
    want_scan = plan["served_full"]
    tt = plan["time_travel"]  # [[commit number, digest]] for every commit before the last
    want_rows = {c: [list(r) for r in rows] for c, rows in plan["want_rows"].items()}
    pool, hot = plan["pool"], plan["hot"]
    since = versions[-2]  # the last bulk batch's changes
    rng = ctx.rng
    # the first lookup and scan of the session run cold; keep them out of the samples
    table.read_key(pool[0]).collect()
    spark_digest(table.read_final(), FULL_COLS)

    out = {"lookup_ms": [], "scan_s": [], "changes_s": [], "tt_s": [], "manifest_ms": [],
           "lookup_spans": [], "changes_files": [], "since": since}
    deadline = time.time() + seconds
    r = 0
    # whole rounds until the deadline, at least one
    while r == 0 or time.time() < deadline:
        ops = list(ROUND)
        rng.shuffle(ops)
        for j, op in enumerate(ops):
            tag = f"serve:{r}:{j}:{op}"
            ctx.label(tag)
            if op == "key":
                conv = rng.choice(hot) if hot and rng.random() < 0.25 else rng.choice(pool)
                t = time.time()
                rows = table.read_key(conv).collect()
                e = time.time()
                out["lookup_ms"].append((e - t) * 1000)
                out["lookup_spans"].append((tag, t, e))
                ctx.check([list(x) for x in spark_rows(rows)] == want_rows[conv], f"read_key({conv})")
            elif op == "scan":
                t = time.perf_counter()
                (d,) = spark_digest(table.read_final(), FULL_COLS)
                out["scan_s"].append(time.perf_counter() - t)
                ctx.check(digest(d) == want_scan, "read_final full-row digest")
            elif op == "changes":
                t = time.perf_counter()
                got = (table.read_changes(since)
                       .select("conv_id", "turn_idx", "_lsn", "_deleted", "text").toArrow())
                out["changes_s"].append(time.perf_counter() - t)
                # checked against the WAL by run.py once this process has ended
                import pyarrow.parquet as pq

                p = ctx.path("results", f"changes-{r}-{j}.parquet")
                pq.write_table(got, p)
                out["changes_files"].append(p)
            else:
                k, want = tt[rng.randrange(len(tt))]
                t = time.perf_counter()
                (d,) = spark_digest(table.read_final(version=versions[k - 1]), FULL_COLS)
                out["tt_s"].append(time.perf_counter() - t)
                ctx.check(digest(d) == want, f"read_final(version={versions[k - 1]}) digest")
        t = time.perf_counter()
        table.manifest()
        out["manifest_ms"].append((time.perf_counter() - t) * 1000)
        r += 1
    head = table.manifest()
    out["live_files"] = sum(len(f) for f in head.buckets.values())
    out["files_per_bucket_max"] = max(len(f) for f in head.buckets.values())
    if ctx.trace:
        ctx.label("serve:files")
        out["lookup_files"] = [len(table.read_key(c).inputFiles()) for c in pool[:5]]
        out["scan_files"] = len(table.read_final().inputFiles())
    return out


def trickle_phase(ctx, table) -> dict:
    """Open loop: chunk i is due at t0 + i * interval whatever the engine
    does, and its freshness runs from that due time. Publishing stops
    once the stream's first micro-batch has returned, so the phase is
    that batch (the first chunk or two) and the next one, which takes
    everything published meanwhile. The first commit crosses the
    compaction threshold, so the second batch runs against a background
    compaction. The table is checked by run.py, which knows how many
    chunks were published only afterwards."""
    from audience_behavior_semantic_etl_spark.cdc.apply import join_pending_compaction

    plan = ctx.plan
    tail, lsn_max, tail_events = plan["tail"], plan["tail_lsn_max"], plan["tail_events"]
    interval = plan["interval_s"]
    watched = ctx.path("trickle", "wal")
    os.makedirs(watched)
    stage = ctx.path("trickle", "stage")
    shutil.copytree(os.path.dirname(tail[0]), stage)
    base_mtime = int(time.time()) - 10_000
    published: list[tuple[float, float]] = []  # (due, actual)
    pub_events = [0]

    s = Stream(ctx, watched, table, ctx.path("trickle", "ckpt"), "trickle", False)
    backlog: list[int] = []  # published but not yet applied, at each apply_batch call
    s.on_call = lambda _start: backlog.append(pub_events[0] - sum(c["m"]["events"] for c in s.calls))
    t0 = time.time() + 0.5  # let the query reach its first (empty) trigger

    def publish() -> None:
        for i in range(len(tail)):
            due = t0 + i * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            if s.calls:
                return
            name = os.path.basename(tail[i])
            src = os.path.join(stage, name)
            os.utime(src, (base_mtime + i, base_mtime + i))
            os.rename(src, os.path.join(watched, name))
            published.append((due, time.time()))
            pub_events[0] += tail_events[i]

    pub = threading.Thread(target=publish, name="perfbench-publisher")
    pub.start()
    limit = t0 + 90
    while time.time() < limit:
        if (not pub.is_alive() and s.calls
                and s.calls[-1]["m"]["lsn_max"] >= lsn_max[len(published) - 1]):
            break
        if s.query.exception() is not None:
            break
        time.sleep(0.02)
    pub.join()
    s.stop()
    t_end = s.calls[-1]["end"] if s.calls else time.time()
    join_pending_compaction(table)

    n_pub = len(published)
    fresh = []
    for i in range(n_pub):
        cover = next((c for c in s.calls if c["m"]["lsn_max"] >= lsn_max[i]), None)
        ctx.check(cover is not None, f"trickle chunk {i} applied")
        if cover is not None:
            fresh.append(cover["end"] - published[i][0])
    ctx.label("trickle:check")
    text, full = spark_digest(table.read_final(), TEXT_COLS, FULL_COLS)
    return {"calls": s.calls, "fresh": fresh, "t0": t0, "t_end": t_end, "n_pub": n_pub,
            "late": [a - d for d, a in published], "backlog": backlog,
            "text_digest": digest(text), "full_digest": digest(full)}


def query_phase(ctx) -> dict:
    """Each query once, in order, timed up to its result collected as
    Arrow; the results are saved for the oracle (run.py) untimed."""
    import __spark_entry__ as entry
    import pyarrow.parquet as pq

    qs = entry.queries()
    tables = ctx.plan["tables_dir"]
    secs, spans, files = {}, [], {}
    for name in ctx.plan["queries"]:
        tag = f"query:{name}"
        ctx.label(tag)
        t = time.time()
        result = qs[name](ctx.spark, tables).toArrow()
        e = time.time()
        secs[name] = e - t
        spans.append((tag, t, e))
        files[name] = ctx.path("results", f"{name}.parquet")
        pq.write_table(result, files[name])
    return {"s": secs, "spans": spans, "files": files}


def table_layout(table, applied_events: int) -> dict:
    import glob

    head = table.manifest()
    manifests = sorted(glob.glob(os.path.join(table.root, "_manifests", "*")), key=os.path.getmtime)
    data_files = glob.glob(os.path.join(table.root, "data", "**", "*.parquet"), recursive=True)
    return {
        "commits": head.version,
        "manifest_bytes_first": os.path.getsize(manifests[0]),
        "manifest_bytes_last": os.path.getsize(manifests[-1]),
        # compacted-away files included
        "bytes_written_per_event": sum(os.path.getsize(p) for p in data_files) / applied_events,
        "compactions": sum(1 for v in range(1, head.version + 1) if table.manifest(v).files_removed),
    }


def data_bytes(table) -> int:
    m = table.manifest()
    return sum(os.path.getsize(os.path.join(table.root, f)) for fs in m.buckets.values() for f in fs)


# ----------------------------------------------------------------- main


def host_record(plan: dict, spark) -> dict:
    mem_total = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total = int(line.split()[1]) // 1024
    shm = shutil.disk_usage("/dev/shm").free // (1 << 20) if os.path.isdir("/dev/shm") else None
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": plan["n_cpu"],
        "mem_total_mb": mem_total,
        "dev_shm_free_mb": shm,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_heap": plan["heap"],
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def run(run_dir: str) -> None:
    with open(os.path.join(run_dir, "plan.json")) as f:
        plan = json.load(f)
    ctx = Ctx(plan, run_dir)
    os.makedirs(ctx.path("results"))
    from audience_behavior_semantic_etl_spark.session import get_spark

    heap = plan["heap"]
    conf = {
        # a fixed-size heap: no resizing, so GC and peak RSS vary less between runs
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
    }
    if ctx.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.path("events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{plan['workload']}", cpus=plan["n_cpu"],
                      shuffle_partitions=plan["n_cpu"], extra_conf=conf)
    ctx.spark = spark
    gw = spark.sparkContext._gateway
    jvm_proc = gw.proc
    raw = {"record": host_record(plan, spark), "session_s": time.time() - T_START}
    try:
        note("session up")
        bulk = bulk_phase(ctx)
        table = bulk["table"]
        raw["setup_s"] = bulk["setup_end"] - T_START
        raw["first_batch_s"] = bulk["first_batch_s"]
        note(f"bulk done: {bulk['events']} timed events in {bulk['wall']:.2f} s")
        ctx.label("bulk:check")
        (d,) = spark_digest(table.read_final(), TEXT_COLS)
        ctx.check(digest(d) == plan["served_text"], "bulk per-turn text digest")
        raw["bulk"] = {"calls": bulk["calls"], "wall": bulk["wall"], "events": bulk["events"],
                       "table_bytes": data_bytes(table), "live_rows": plan["served_text"][0]}

        versions = versions_of(table, bulk["all_calls"])
        serving = serving_phase(ctx, table, versions, plan["serving_s"])
        note(f"serving done: {len(serving['lookup_ms'])} lookups, scans {serving['scan_s']}, "
             f"changes {serving['changes_s']}, time travel {serving['tt_s']}")
        trickle = trickle_phase(ctx, table)
        note(f"trickle done: {len(trickle['calls'])} batches, "
             f"freshness {sorted(round(f, 2) for f in trickle['fresh'])}")
        queries = query_phase(ctx)
        note(f"queries done: {sum(queries['s'].values()):.2f} s")
        raw["rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_proc.pid)
        applied = plan["bulk_events"] + sum(plan["tail_events"][: trickle["n_pub"]])
        raw.update(serving=serving, trickle=trickle, queries=queries, table=table_layout(table, applied))
    finally:
        spark.stop()
        gw.shutdown()
        jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()
    raw["checks"] = {"attempted": ctx.attempted, "failed": ctx.failed, "failures": ctx.failures}
    with open(ctx.path("raw.json"), "w") as f:
        json.dump(raw, f)


if __name__ == "__main__":
    run(sys.argv[1])
