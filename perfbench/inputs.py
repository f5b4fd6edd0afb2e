"""Seeded transcript inputs, generated on the driver with numpy and written
as parquet. The engine receives only these files, so a change to the engine's
own generator cannot change what the benchmark feeds it.

Shape follows the transcript table ``(conv_id, turn_idx, role, text, tool,
ts)``: Zipf-sized conversations (the hottest holds about 11% of turns),
1-120 s inter-turn gaps with occasional >2 h and >2 d holes, mostly
alternating user/assistant turns with injected system and tool turns.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_START_S = 1_735_689_600  # 2025-01-01 00:00:00 UTC
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def transcripts(seed: int, n_convs: int, n_turns: int, prefix: str = "c") -> pa.Table:
    """Rows sorted by ``ts`` (ties by conversation and turn)."""
    rng = np.random.default_rng(seed % (1 << 63))
    harmonic = math.log(n_convs) + 0.5772 if n_convs > 1 else 1.0
    c = max(2.0, n_turns / harmonic)
    cap = max(2, int(0.11 * n_turns))
    sizes = np.clip(np.ceil(c / np.arange(1, n_convs + 1)).astype(np.int64), 2, cap)
    conv = np.repeat(np.arange(n_convs), sizes)
    turn = np.arange(len(conv)) - np.repeat(np.cumsum(sizes) - sizes, sizes)

    u = rng.random(len(conv))
    gap = np.where(u < 0.005, 2 * 86400 + 17, np.where(u < 0.025, 2 * 3600 + 5, 0))
    gap = np.where(gap == 0, rng.integers(1, 121, len(conv)), gap)
    gap[turn == 0] = 0
    start = rng.integers(0, 86400 * 30, n_convs)
    csum = np.cumsum(gap)
    first = np.cumsum(sizes) - sizes  # row index of each conversation's turn 0
    ts = EPOCH_START_S + np.repeat(start, sizes) + csum - np.repeat(csum[first], sizes)

    r = rng.random(len(conv))
    role_idx = np.where(r < 1 / 11, 3, np.where(r < 1 / 11 + 1 / 13, 2, turn % 2))
    roles = np.array(["user", "assistant", "system", "tool"], dtype=object)[role_idx]
    tools = np.array(["search", "exec", "browse"], dtype=object)[rng.integers(0, 3, len(conv))]
    tools = np.where(role_idx == 3, tools, None)
    tail = rng.integers(0, 180, len(conv))
    tag = rng.integers(0, 1 << 32, len(conv))
    ids = np.array([f"{prefix}{i:06d}" for i in range(n_convs)], dtype=object)[conv]
    text = [f"{i}:{t}:{h:08x}:" + "x" * k for i, t, h, k in zip(ids, turn, tag, tail)]

    order = np.lexsort((turn, conv, ts))
    return pa.table(
        {
            "conv_id": pa.array(ids[order], pa.string()),
            "turn_idx": pa.array(turn[order].astype(np.int32)),
            "role": pa.array(roles[order], pa.string()),
            "text": pa.array([text[i] for i in order], pa.string()),
            "tool": pa.array(tools[order], pa.string()),
            "ts": pa.array(ts[order] * 1_000_000, pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """``n_files`` parquet files of consecutive rows (with footer stats)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(n_files):
        a, b = n * k // n_files, n * (k + 1) // n_files
        pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{k:05d}.parquet"))


def ts_seconds(table: pa.Table) -> np.ndarray:
    return table.column("ts").cast(pa.int64()).to_numpy() // 1_000_000


def time_slices(table: pa.Table, n: int) -> list[pa.Table]:
    """Split a ts-sorted table into ``n`` consecutive slices whose boundaries
    fall between distinct timestamps."""
    secs = ts_seconds(table)
    bounds = [0]
    for k in range(1, n):
        i = max(bounds[-1] + 1, len(secs) * k // n)
        while i < len(secs) and secs[i] == secs[i - 1]:
            i += 1
        if i < len(secs):
            bounds.append(i)
    bounds.append(len(secs))
    return [table.slice(a, b - a) for a, b in zip(bounds, bounds[1:]) if b > a]
