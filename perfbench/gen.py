"""Seeded change-log generator for the benchmark.

Kept apart from the engine's own generators (``cdc/gen.py``,
``cdc/gen_spark.py``) on purpose: the benchmark's inputs must not move
when the engine changes. Output rows follow the WAL envelope
(``cdc/schema.py::ENVELOPE_SCHEMA``); the engine only ever sees the
parquet chunk files written here.

One log per (workload, seed), cut in stream order into
- ``bulk``: the catch-up part, applied in a few large micro-batches;
- ``tail``: the trickle part, published chunk by chunk on a schedule.

``write_tables`` makes seeded stand-ins for the tables the analytic
queries read, in the schemas of the sf test tables (TESTDATA.md).

Mix: ~60% insert, ~30% update, ~8% delete, 2% re-delivered duplicates
(same lsn and content, later in the stream), one ``schema_change`` half
way through the bulk part. Hot conversations get extra updates so that
a bulk batch carries more than ``ApplyConfig.hot_key_threshold`` events
for each of them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = np.datetime64("2025-01-01T00:00:00", "s")
ROLES = ["user", "assistant", "tool"]  # even turns: user, odd: assistant
TOOLS = ["bash", "search", "python", "browser"]
VOCAB = (
    "merge spark stream shuffle window batch table turn agent tool reply plan "
    "query state commit offset snapshot replay skew salt bucket kernel cache "
    "index vector token schema delta"
).split()
UPDATE_FRAC = 0.5  # updates per inserted key
DELETE_FRAC = 0.133  # share of keys deleted at the end of their chain
REDELIVER_FRAC = 0.02
N_SOURCE_PARTS = 4
DDL_PAYLOAD = json.dumps({"add_columns": {"tool_name": "string", "tool_latency_ms": "long"}})

ENVELOPE = pa.schema(
    [
        ("lsn", pa.int64(), False),
        ("ts", pa.timestamp("us")),
        ("op", pa.string(), False),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("payload", pa.string()),
        ("schema_ver", pa.int32(), False),
        ("source_part", pa.int32(), False),
    ]
)


@dataclass(frozen=True)
class LogSpec:
    n_convs: int
    mean_turns: int
    hot_convs: int  # conversations conv-00000000.. that receive extra updates
    hot_updates: int  # extra update events per hot conversation
    bulk_events: int  # the rest of the log is the trickle tail


def _texts(rng: np.random.Generator, version: np.ndarray) -> list[str]:
    """Per-event text with seeded messiness (CRLF, trailing blanks,
    control characters, decomposed unicode) so the engine's text
    canonicalizer has real work; ~half the rows are already canonical."""
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), size=(len(version), 8))]
    mess = rng.integers(0, 8, size=len(version))
    out = []
    for ws, v, m in zip(words.tolist(), version.tolist(), mess.tolist()):
        body = " ".join(ws)
        if m == 1:
            body = "café " + body + "  \r\nnext line\t"
        elif m == 2:
            body = body + " café\x07"
        elif m == 3:
            body = "café " + body + " \n"
        out.append(f"t{v}: {body}")
    return out


def generate(seed: int, spec: LogSpec) -> pa.Table:
    """The whole log in stream order (bulk part first, then the tail)."""
    rng = np.random.default_rng(seed)
    n_turns = np.minimum(rng.geometric(1.0 / spec.mean_turns, spec.n_convs), 4 * spec.mean_turns)
    starts = np.cumsum(n_turns) - n_turns  # first key of each conversation
    key_conv = np.repeat(np.arange(spec.n_convs), n_turns)
    key_turn = np.arange(len(key_conv)) - np.repeat(starts, n_turns)
    n_keys = len(key_conv)

    upd = [rng.integers(0, n_keys, int(UPDATE_FRAC * n_keys))]
    for c in range(spec.hot_convs):
        upd.append(starts[c] + rng.integers(0, n_turns[c], spec.hot_updates))
    upd_keys = np.concatenate(upd)
    del_keys = np.flatnonzero(rng.random(n_keys) < DELETE_FRAC)
    ev_key = np.concatenate([np.arange(n_keys), upd_keys, del_keys])
    # chain position: insert < updates < delete within a key
    seq = np.concatenate(
        [np.zeros(n_keys), 1.0 + rng.random(len(upd_keys)), np.full(len(del_keys), 2.0)]
    )
    op = np.concatenate(
        [np.zeros(n_keys, np.int8), np.ones(len(upd_keys), np.int8), np.full(len(del_keys), 2, np.int8)]
    )
    # random event times, re-assigned within each key so that the
    # chain order survives the global interleave
    times = rng.random(len(ev_key))
    by_time = np.lexsort((times, ev_key))
    by_seq = np.lexsort((seq, ev_key))
    t_final = np.empty_like(times)
    t_final[by_seq] = times[by_time]
    order = np.argsort(t_final, kind="stable")
    ev_key, op = ev_key[order], op[order]
    n = len(ev_key)

    # text version: rank of the event within its key's chain
    by_key = np.lexsort((np.arange(n), ev_key))
    grp_start = np.r_[0, np.flatnonzero(np.diff(ev_key[by_key])) + 1]
    rank = np.arange(n) - np.repeat(grp_start, np.diff(np.r_[grp_start, n]))
    version = np.empty(n, np.int64)
    version[by_key] = rank + 1

    ddl_lsn = spec.bulk_events // 2 + 1
    lsn = np.arange(1, n + 1, dtype=np.int64)
    lsn[lsn >= ddl_lsn] += 1

    is_tool = rng.random(n_keys) < 0.15
    tool_of = rng.integers(0, len(TOOLS), n_keys)
    latency_of = rng.integers(0, 5000, n_keys)
    conv_of_ev = key_conv[ev_key]
    turn_of_ev = key_turn[ev_key]
    ts_iso = (BASE_EPOCH + lsn.astype("timedelta64[s]")).astype(str).tolist()
    vers = version.tolist()
    texts = _texts(rng, version)
    roles = np.where(is_tool, 2, key_turn % 2)[ev_key].tolist()
    tools = np.where(is_tool, tool_of, -1)[ev_key].tolist()
    lats = latency_of[ev_key].tolist()
    v2 = (lsn > ddl_lsn).tolist()
    payloads = []
    for i, o in enumerate(op.tolist()):
        if o == 2:
            payloads.append("{}")
            continue
        tool = TOOLS[tools[i]] if tools[i] >= 0 else None
        p = {"role": ROLES[roles[i]], "text": texts[i], "tool": tool, "ts": ts_iso[i],
             "meta": {"v": str(vers[i])}}
        if tool is not None and v2[i]:
            p["tool_meta"] = {"name": tool, "latency_ms": lats[i]}
        payloads.append(json.dumps(p))

    pos = np.arange(n, dtype=np.float64)
    # re-delivered duplicates: copies of earlier events, later in stream
    n_dup = int(n * REDELIVER_FRAC)
    dup_idx = rng.choice(n, size=n_dup, replace=False)
    dup_pos = dup_idx + rng.uniform(1.0, n - dup_idx)
    src = np.concatenate([np.arange(n), dup_idx])
    all_pos = np.concatenate([pos, dup_pos, [float(ddl_lsn - 1) - 0.5]])
    stream = np.argsort(all_pos, kind="stable")

    ops = np.asarray(["insert", "update", "delete"])
    is_ddl = stream == len(src)
    s = np.append(src, 0)[stream]
    lsn_col = np.where(is_ddl, ddl_lsn, lsn[s])
    cols = {
        "lsn": lsn_col,
        "ts": (BASE_EPOCH + lsn_col.astype("timedelta64[s]")).astype("datetime64[us]"),
        "op": np.where(is_ddl, "schema_change", ops[op[s]]),
        "conv_id": [None if d else f"conv-{c:08d}" for d, c in zip(is_ddl.tolist(), conv_of_ev[s].tolist())],
        "turn_idx": pa.array(turn_of_ev[s].astype(np.int32), mask=is_ddl),
        "payload": [DDL_PAYLOAD if d else payloads[j] for d, j in zip(is_ddl.tolist(), s.tolist())],
        "schema_ver": np.where(is_ddl | (lsn_col > ddl_lsn), 2, 1).astype(np.int32),
        "source_part": np.where(is_ddl, 0, conv_of_ev[s] % N_SOURCE_PARTS).astype(np.int32),
    }
    return pa.table(cols, schema=ENVELOPE)


def write_chunks(log: pa.Table, out_dir: str, n_chunks: int, mtime_base: int) -> list[str]:
    """Cut ``log`` into ``n_chunks`` sequential parquet files with
    strictly increasing mtimes: the file stream source orders by mtime,
    and DDL must reach the engine before the data that needs it."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, log.num_rows, n_chunks + 1).astype(int)
    paths = []
    for i in range(n_chunks):
        path = os.path.join(out_dir, f"chunk-{i:05d}.parquet")
        pq.write_table(log.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (mtime_base + i, mtime_base + i))
        paths.append(path)
    return paths


DOC_WORDS = (
    "the a fast slow big small key value row column table scan join merge sort hash group "
    "agg filter window order part line customer query data spark stream batch vector"
).split()


def write_tables(seed: int, out_dir: str) -> None:
    """``events``, ``orders``, ``lineitem``, ``part`` and ``documents``
    parquet files in the schemas of the sf test tables (about sf0.01
    row counts, ``documents`` larger), drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def days(lo: str, hi: str, n: int) -> np.ndarray:
        d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        return (d0 + rng.integers(0, (d1 - d0).astype(int) + 1, n)).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    n = 20_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n)).astype(
        "timedelta64[us]")
    save("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n),
        "event_type": np.asarray(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n)],
        "value": money(0, 490, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()],
    })
    n_orders, n_parts = 15_000, 2_000
    save("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, 1_500, n_orders),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1_000, 500_000, n_orders),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": np.asarray(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)],
    })
    n = 60_000
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": days("1995-01-02", "2001-11-04", n),
    })
    kinds = np.asarray(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    metals = np.asarray(["BRASS", "COPPER", "STEEL", "TIN", "NICKEL"])
    save("part", {
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(np.asarray(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), n_parts)],
                                               np.asarray(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), n_parts)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 36, n_parts).tolist()],
        "p_type": np.char.add(np.char.add(kinds[rng.integers(0, len(kinds), n_parts)], " "),
                              metals[rng.integers(0, len(metals), n_parts)]),
        "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_parts) / 10.0, 2),
    })
    n = 2_000
    words = np.asarray(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(8, 100, n).tolist()]
    save("documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(["en", "en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 7, n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n).tolist()],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
