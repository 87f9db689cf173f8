"""Reference answers for the benchmark's correctness checks, computed
without Spark: DuckDB over the generated parquet files, and a pandas replay
of the stateful turn-continuity stream."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ROLES_SQL = "'system', 'user', 'assistant', 'tool'"

#: (path, code, failing-row guard) — the refute masks of
#: ``transcript_row_suite``, in the DuckDB dialect of the repo's row_suite
#: oracle. Kept here rather than imported from ``__spark_entry__.py``, so
#: the reference does not move when the program under test is reorganized.
GUARDS = [
    ("conv_id", "conv_id_required", "conv_id IS NULL"),
    ("conv_id", "conv_id_format", "conv_id IS NOT NULL AND NOT regexp_matches(conv_id, '^c[0-9]+$')"),
    ("turn_idx", "turn_idx_required", "turn_idx IS NULL"),
    ("turn_idx", "turn_idx_negative", "turn_idx IS NOT NULL AND turn_idx < 0"),
    ("role", "role_required", "role IS NULL"),
    ("role", "role_enum", f"role IS NOT NULL AND role NOT IN ({_ROLES_SQL})"),
    ("text", "text_required", "text IS NULL"),
    ("text", "text_empty", "text IS NOT NULL AND length(text) < 1"),
    ("text", "text_too_long", "text IS NOT NULL AND length(text) > 10000"),
    ("tool", "tool_format", "tool IS NOT NULL AND NOT regexp_matches(tool, '^tool_[0-9]+$')"),
    ("tool", "tool_missing_for_tool_role", "role = 'tool' AND tool IS NULL"),
    ("", "tool_on_non_tool_role", "COALESCE(role = 'tool' OR tool IS NULL, TRUE) = FALSE"),
]
_NF = " + ".join(f"COALESCE(CAST(({w}) AS INT), 0)" for _, _, w in GUARDS)


class Oracle:
    """DuckDB views over one partitioned input directory."""

    def __init__(self, input_dir: str, temp_dir: str):
        self.con = duckdb.connect(
            config={"threads": 2, "memory_limit": "1GB", "temp_directory": temp_dir}
        )
        self.con.execute(
            "CREATE VIEW t AS SELECT * FROM read_parquet("
            f"'{input_dir}/*/*.parquet', hive_partitioning = true)"
        )

    def close(self) -> None:
        self.con.close()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def turns(self) -> int:
        return self.scalar("SELECT COUNT(*) FROM t")

    def violation_counts(self) -> dict:
        """{(path, code): failing rows} over every guard that fires."""
        union = " UNION ALL ".join(
            f"SELECT '{p}' AS path, '{c}' AS code FROM t WHERE {w}" for p, c, w in GUARDS
        )
        rows = self.con.execute(
            f"SELECT path, code, COUNT(*) FROM ({union}) GROUP BY 1, 2"
        ).fetchall()
        return {(p, c): n for p, c, n in rows}

    def rows_with_violations(self) -> int:
        return self.scalar(f"SELECT COUNT(*) FROM t WHERE ({_NF}) > 0")

    def uniqueness(self) -> int:
        return self.scalar(
            "SELECT COUNT(*) FROM (SELECT conv_id, turn_idx FROM t "
            "GROUP BY 1, 2 HAVING COUNT(*) > 1)"
        )

    def referential(self) -> int:
        return self.scalar(
            "SELECT COUNT(*) FROM t WHERE tool IS NOT NULL AND tool NOT IN "
            "('tool_0', 'tool_1', 'tool_2', 'tool_3', 'tool_4')"
        )

    def ordering(self) -> int:
        return self.scalar(
            "SELECT COUNT(*) FROM (SELECT turn_idx, ts, "
            "LAG(turn_idx) OVER w AS prev_idx, LAG(ts) OVER w AS prev_ts FROM t "
            "WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)) "
            "WHERE prev_idx IS NOT NULL AND turn_idx > prev_idx AND ts < prev_ts"
        )

    def output_counts(self, out_dir: str) -> dict:
        """{(path, code): rows} of a ``ValidationRun`` violations output."""
        rows = self.con.execute(
            "SELECT path, code, COUNT(*) FROM read_parquet("
            f"'{out_dir}/*/*.parquet', hive_partitioning = true) GROUP BY 1, 2"
        ).fetchall()
        return {(p, c): n for p, c, n in rows}

    def rows(self, pattern: str) -> int:
        """Rows in the parquet files matching ``pattern``."""
        return self.scalar(f"SELECT COUNT(*) FROM read_parquet('{pattern}')")


def continuity_violations(batches, watermark_s: int = 600) -> int:
    """Rows ``turn_continuity_stream`` emits when its micro-batches hold
    ``batches`` (lists of parquet files, in order): per conversation the
    running max turn_idx is the state; a batch first drops rows at or behind
    the watermark (max ts of earlier batches minus ``watermark_s``)."""
    state: dict = {}
    max_ts = None
    emitted = 0
    for files in batches:
        t = pa.concat_tables(
            pq.read_table(f, columns=["conv_id", "turn_idx", "ts"]) for f in files
        )
        ts = t.column("ts").cast(pa.int64()).to_numpy()
        conv = t.column("conv_id").to_numpy(zero_copy_only=False)
        idx = t.column("turn_idx").to_numpy()
        keep = np.ones(len(ts), bool) if max_ts is None else ts > max_ts - watermark_s * 1_000_000
        if len(ts):
            max_ts = ts.max() if max_ts is None else max(max_ts, ts.max())
        order = np.lexsort((idx[keep], conv[keep]))
        conv, idx = conv[keep][order], idx[keep][order]
        starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]]) if len(conv) else []
        for s, e in zip(starts, list(starts[1:]) + [len(conv)]):
            g = idx[s:e].astype(np.int64)
            prev = np.concatenate(([state.get(conv[s], -1)], g[:-1]))
            emitted += int(((g > prev + 1) | (g <= prev)).sum())
            state[conv[s]] = max(state.get(conv[s], -1), int(g[-1]))
    return emitted


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
