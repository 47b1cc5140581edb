"""Correctness gate: the engine's outputs against an independent DuckDB
reduction of the same WAL files.

The oracle is the north rule written in SQL: per key, the event with the
highest lsn wins (``row_number() OVER (... ORDER BY lsn DESC) = 1``, not
``arg_max``, which skips NULLs), deletes drop the key, and the payload is
flattened and its text canonicalized (NFC, CRLF -> LF, control
characters stripped, trailing blanks trimmed per line) in SQL, without
the engine's code.

Comparisons are order-insensitive digests: ``(rows, sum of md5 word 0,
sum of md5 word 1)`` over one ``|``-joined string per row, computed the
same way on both sides. Analytic query results are compared as frames
(``frame_mismatch``), like ``tests/oracle_util.py`` compares them.
"""

from __future__ import annotations

import calendar

NULL = "\\N"
TEXT_COLS = ["conv_id", "turn_idx", "text"]
FULL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_name", "tool_latency_ms"]

_CANON = r"""
CREATE MACRO canon(s) AS regexp_replace(
    regexp_replace(
        replace(replace(nfc_normalize(s), chr(13) || chr(10), chr(10)), chr(13), chr(10)),
        '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
    '(?m)[ \t]+$', '', 'g')
"""


def _row_string(cols: list[str]) -> str:
    return " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '{NULL}')" for c in cols)


def _digest_sql(rel: str, cols: list[str]) -> str:
    h = f"md5({_row_string(cols)})"
    return (
        f"SELECT count(*), coalesce(sum(('0x' || substr({h}, 1, 8))::BIGINT), 0), "
        f"coalesce(sum(('0x' || substr({h}, 9, 8))::BIGINT), 0) FROM {rel}"
    )


class Oracle:
    """Expected table states for sets of WAL chunk files."""

    def __init__(self) -> None:
        import duckdb  # not at module level: the measured process imports this module

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(_CANON)

    def close(self) -> None:
        self.con.close()

    def _final(self, files: list[str]) -> str:
        flist = ", ".join(f"'{f}'" for f in files)
        return f"""(
            SELECT conv_id, turn_idx,
                   payload->>'role' AS role,
                   canon(payload->>'text') AS text,
                   payload->>'tool' AS tool,
                   CAST(epoch(CAST(payload->>'ts' AS TIMESTAMP)) AS BIGINT) AS ts,
                   payload->'tool_meta'->>'name' AS tool_name,
                   CAST(payload->'tool_meta'->>'latency_ms' AS BIGINT) AS tool_latency_ms
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
                FROM read_parquet([{flist}])
                WHERE op <> 'schema_change'
            ) WHERE rn = 1 AND op <> 'delete'
        )"""

    def digest(self, files: list[str], cols: list[str]) -> tuple[int, int, int]:
        r = self.con.execute(_digest_sql(self._final(files), cols)).fetchone()
        return int(r[0]), int(r[1]), int(r[2])

    def live_convs(self, files: list[str]) -> list[str]:
        """conv_ids with at least one live turn, sorted."""
        return [r[0] for r in self.con.execute(
            f"SELECT DISTINCT conv_id FROM {self._final(files)} ORDER BY 1").fetchall()]

    def rows_by_conv(self, files: list[str], convs: list[str]) -> dict[str, list[tuple]]:
        """Expected ``read_key`` result (sorted full rows) per conv_id."""
        out: dict[str, list[tuple]] = {c: [] for c in convs}
        self.con.execute("CREATE OR REPLACE TEMP TABLE want_convs(c VARCHAR)")
        self.con.executemany("INSERT INTO want_convs VALUES (?)", [(c,) for c in convs])
        rows = self.con.execute(
            f"SELECT {', '.join(FULL_COLS)} FROM {self._final(files)} "
            "WHERE conv_id IN (SELECT c FROM want_convs)"
        ).fetchall()
        for r in rows:
            out[r[0]].append(tuple(r))
        return {c: sorted(v) for c, v in out.items()}

    def bad_change_rows(self, files: list[str], changes) -> int:
        """Rows of a ``read_changes`` result (an Arrow table with
        conv_id, turn_idx, _lsn, _deleted, text) that match no WAL event:
        wrong key/lsn, wrong tombstone flag, or wrong canonical text."""
        flist = ", ".join(f"'{f}'" for f in files)
        self.con.register("changes_rows", changes)
        try:
            return int(self.con.execute(f"""
                SELECT count(*) FROM changes_rows c
                LEFT JOIN (SELECT DISTINCT conv_id, turn_idx, lsn, op,
                                  canon(payload->>'text') AS text
                           FROM read_parquet([{flist}])
                           WHERE op <> 'schema_change') e
                  ON c.conv_id = e.conv_id AND c.turn_idx = e.turn_idx AND c._lsn = e.lsn
                WHERE e.lsn IS NULL
                   OR coalesce(c._deleted, false) <> (e.op = 'delete')
                   OR (e.op <> 'delete' AND c.text IS DISTINCT FROM e.text)
            """).fetchone()[0])
        finally:
            self.con.unregister("changes_rows")


def spark_digest(df, *col_sets: list[str]) -> list[tuple[int, int, int]]:
    """The same digest over a Spark DataFrame, one per column set, in
    one aggregation; columns the DataFrame lacks (an older schema era)
    count as NULL, timestamps as epoch seconds."""
    from pyspark.sql import functions as F

    aggs = []
    for cols in col_sets:
        parts = []
        for c in cols:
            if c not in df.columns:
                e = F.lit(None).cast("string")
            elif c == "ts":
                e = F.col(c).cast("timestamp").cast("long").cast("string")
            else:
                e = F.col(c).cast("string")
            parts.append(F.coalesce(e, F.lit(NULL)))
        h = F.md5(F.concat_ws("|", *parts))
        aggs += [
            F.count(F.lit(1)),
            F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long")),
            F.sum(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")),
        ]
    r = df.agg(*aggs).collect()[0]
    return [(int(r[i]), int(r[i + 1] or 0), int(r[i + 2] or 0)) for i in range(0, len(aggs), 3)]


def spark_rows(rows) -> list[tuple]:
    """Collected ``read_key`` rows in the oracle's shape (sorted)."""
    out = []
    for r in rows:
        d = r.asDict()
        ts = d.get("ts")
        out.append(tuple(
            calendar.timegm(ts.timetuple()) if c == "ts" and ts is not None else d.get(c)
            for c in FULL_COLS
        ))
    return sorted(out)


def _normalize(df):
    """Columns by name, rows by value; floats to 9 places, other
    non-integer columns as strings."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith("float"):
            df[c] = df[c].round(9)
        elif kind == "object" or kind.startswith("datetime"):
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frame_mismatch(got, want) -> str | None:
    """None when two pandas frames hold the same rows (order-insensitive),
    else what differs."""
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        same = ((a - b).abs().le(1e-9) | (a.isna() & b.isna())) if str(a.dtype).startswith("float") else a.eq(b)
        if not bool(same.all()):
            return f"column {c} differs"
    return None
