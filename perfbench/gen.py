"""Seeded synthetic transcript table for the benchmark.

Same shape as ``sources/synth.py:synth_transcripts`` (the ``input_hint``
schema: conv_id, turn_idx, role, text, tool, ts), but drawn from
``numpy.random.default_rng(seed)`` so each workload seed gives its own,
reproducible table:

- about ``TURNS_PER_CONV`` turns per conversation;
- ``HOT_SHARE`` of the rows fall into ``HOT_CONVS`` hot conversations;
- five injected violation classes at fixed rates (``RATES``): NULL text,
  role outside the enum, duplicate (conv_id, turn_idx), orphan tool
  reference, ts regression;
- ``ts`` spread evenly over ``DAYS`` days whatever the row count.

The table is written as ``part_date=YYYY-MM-DD/part-00000.parquet``
directories, one file per day, so the program under test only ever sees
files.  Generation uses numpy and pyarrow, never Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TURNS_PER_CONV = 20
HOT_CONVS = 4
HOT_SHARE = 0.05
DAYS = 16
BASE_EPOCH = 1_699_920_000  # 2023-11-14T00:00:00Z
REGRESSION_S = 7200
#: one injected violation class per entry: row share drawn per seed
RATES = {
    "text_null": 1 / 97,
    "role_robot": 1 / 89,
    "dup_turn": 1 / 101,
    "orphan_tool": 1 / 103,
    "ts_regression": 1 / 113,
}
_FILLERS = pa.array(["lorem ipsum dolor sit amet " * k for k in range(15)])
_ROLE_NAMES = pa.array(["user", "assistant", "system", "tool", "robot"])


def generate(n_turns: int, seed: int) -> pa.Table:
    """The seeded table, rows in id order, plus its ``part_date`` column."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_turns, dtype=np.int64)
    h = rng.integers(0, 1 << 62, n_turns, dtype=np.int64)
    hit = {k: rng.random(n_turns) < r for k, r in RATES.items()}
    hot = rng.random(n_turns) < HOT_SHARE

    conv = pc.binary_join_element_wise(
        "c", pa.array(ids // TURNS_PER_CONV).cast(pa.string()), ""
    )
    hot_conv = pc.binary_join_element_wise(
        "chot", pa.array(h % HOT_CONVS).cast(pa.string()), ""
    )
    conv_id = pc.if_else(pa.array(hot), hot_conv, conv)

    turn_idx = np.where(hot, ids, ids % TURNS_PER_CONV)
    turn_idx = np.where(hit["dup_turn"], 0, turn_idx).astype(np.int32)

    # 0 user, 1 assistant, 2 system, 3 tool, 4 robot (enum violation)
    role_code = np.select(
        [hit["role_robot"], h % 11 == 0, h % 3 == 0, h % 7 == 0], [4, 3, 1, 2], 0
    )
    role = pc.take(_ROLE_NAMES, pa.array(role_code))

    body = pc.binary_join_element_wise(
        "turn", pa.array(ids).cast(pa.string()), pc.take(_FILLERS, pa.array(h % 15)), " "
    )
    text = pc.if_else(pa.array(hit["text_null"]), pa.nulls(n_turns, pa.string()), body)

    tool_ref = pc.binary_join_element_wise(
        "tool_", pa.array(h % 5).cast(pa.string()), ""
    )
    tool = pc.if_else(
        pa.array(hit["orphan_tool"]),
        pa.scalar("tool_unknown"),
        pc.if_else(pa.array(role_code == 3), tool_ref, pa.nulls(n_turns, pa.string())),
    )

    secs = BASE_EPOCH + ids * (DAYS * 86_400) // max(n_turns, 1)
    secs = secs - np.where(hit["ts_regression"], REGRESSION_S, 0)
    ts = pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC"))
    part_date = pa.array((secs // 86_400).astype(np.int32), pa.date32())
    return pa.table(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
            "part_date": part_date,
        }
    )


def write_partitioned(table: pa.Table, out_dir: str) -> list[str]:
    """One parquet file per day under ``out_dir/part_date=<day>/``; the
    partition column lives only in the directory names. Returns the files in
    day order."""
    days = table.column("part_date")
    files = []
    for day in pc.unique(days).sort().to_pylist():
        part = table.filter(pc.equal(days, pa.scalar(day, pa.date32())))
        d = os.path.join(out_dir, f"part_date={day.isoformat()}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-00000.parquet")
        pq.write_table(part.drop_columns(["part_date"]), path)
        files.append(path)
    return files
