"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed, so the same seed always gives
byte-identical parquet. The generators live with the benchmark on purpose: a
change to the engine's own generator (`graft.ChangeGen`) cannot change a
workload.

`write_epochs` writes change-event epochs shaped like `ChangeGen.events`
(conv_id, turn_idx, role, text, tool, ts, op, lsn), LSN-contiguous across
epochs, one directory per epoch. The query suite reads fixed tables instead
(perfbench/data/).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HOT_ID = "conv-hot"

CHANGE_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("op", pa.string()),
    ("lsn", pa.int64()),
])

ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)


def change_events(seed, epoch, n, num_convs, max_turns, hot_share, p_delete,
                  lsn_start):
    """`n` change events of one epoch with LSNs [lsn_start, lsn_start + n)."""
    rng = np.random.default_rng([seed, epoch])
    hot = rng.random(n) < hot_share
    conv_n = rng.integers(0, num_convs, n)
    turn = rng.integers(0, max_turns, n).astype(np.int32)
    op_u = rng.random(n)
    role_i = rng.integers(0, 4, n)
    tool_i = rng.integers(0, 8, n)
    lsn = lsn_start + np.arange(n, dtype=np.int64)

    conv = pc.binary_join_element_wise(
        "conv-", pa.array(conv_n).cast(pa.string()), "")
    conv = pc.if_else(pa.array(hot), HOT_ID, conv)
    op = np.where(op_u < p_delete, "D",
                  np.where(op_u < p_delete + (1.0 - p_delete) / 2, "U", "I"))
    role = ROLES[role_i]
    text = pc.binary_join_element_wise(
        "msg ", conv, " t", pa.array(turn).cast(pa.string()),
        " v", pa.array(lsn).cast(pa.string()), " ", "")
    tool = pc.if_else(pa.array(role == "tool"),
                      pc.binary_join_element_wise(
                          "tool_", pa.array(tool_i).cast(pa.string()), ""),
                      pa.scalar(None, pa.string()))
    ts = pa.array((1_700_000_000 + lsn % 86_400) * 1_000_000,
                  pa.timestamp("us", tz="UTC"))
    return pa.Table.from_arrays(
        [conv, pa.array(turn), pa.array(role, pa.string()), text, tool, ts,
         pa.array(op, pa.string()), pa.array(lsn)], schema=CHANGE_SCHEMA)


def write_epochs(out_dir, seed, epochs, events_per_epoch, files_per_epoch,
                 num_convs, max_turns, hot_share, p_delete, first_epoch=0):
    """Write epochs `first_epoch .. first_epoch+epochs-1` as `out_dir/eNNNNN/`.

    Each epoch is split into `files_per_epoch` parquet files. File modification
    times are set to increase strictly from one epoch to the next, because a
    file-stream source orders files by modification time and the benchmark
    relies on one epoch per trigger. Returns the epoch directory paths."""
    os.makedirs(out_dir, exist_ok=True)
    base = 1_700_000_000
    dirs = []
    for e in range(first_epoch, first_epoch + epochs):
        t = change_events(seed, e, events_per_epoch, num_convs, max_turns,
                          hot_share, p_delete, e * events_per_epoch)
        d = os.path.join(out_dir, f"e{e:05d}")
        os.makedirs(d, exist_ok=True)
        step = -(-events_per_epoch // files_per_epoch)
        for i in range(files_per_epoch):
            p = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(t.slice(i * step, step), p, compression="snappy")
            os.utime(p, (base + e * 100 + i, base + e * 100 + i))
        dirs.append(d)
    return dirs
