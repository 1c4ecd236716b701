"""Seeded change-stream generator for the `sync_trickle` workload.

Each batch changes a fixed share of the live keys of sf `orders`:
70 % updates (four in five drawn from the newest 10 % of keys, the rest
uniformly), 20 % inserts of fresh keys above the current maximum, and
10 % deletes drawn uniformly from keys the batch does not update. Updated
and inserted rows carry the batch index in `ver`.

Snapshot b is the whole table after batch b, written as one plain parquet
file; snapshot 0 is `orders` with `ver = 0`. The generator calls nothing
of the program under test: a commit is the source switching to the next
snapshot.
"""
import os
import random
import shutil
from dataclasses import dataclass
from typing import List

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEY = "o_orderkey"
VER = "ver"


@dataclass(frozen=True)
class Batch:
    index: int
    updates: List[int]
    inserts: List[int]
    deletes: List[int]


def batches(seed, base_keys, n_batches, change_frac=0.001):
    """The change batches for `seed`: a pure function of its arguments."""
    rng = random.Random(seed)
    live = sorted(base_keys)
    max_key = live[-1] if live else 0
    out = []
    for b in range(1, n_batches + 1):
        n = max(10, int(change_frac * len(live) + 0.5))
        n_upd = int(n * 0.7 + 0.5)
        n_ins = int(n * 0.2 + 0.5)
        n_del = n - n_upd - n_ins
        newest = max(1, len(live) // 10)
        upd = {}
        while len(upd) < n_upd:
            if rng.random() < 0.8:
                i = len(live) - 1 - rng.randrange(newest)
            else:
                i = rng.randrange(len(live))
            upd[live[i]] = None
        dele = {}
        while len(dele) < n_del:
            k = live[rng.randrange(len(live))]
            if k not in upd:
                dele[k] = None
        ins = []
        for _ in range(n_ins):
            max_key += 1 + rng.randrange(4)
            ins.append(max_key)
        live = [k for k in live if k not in dele] + ins
        out.append(Batch(b, list(upd), ins, list(dele)))
    return out


def snapshot_path(out_dir, b):
    return os.path.join(out_dir, f"snap{b:03d}")


def _write(table, out_dir, b):
    d = snapshot_path(out_dir, b)
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"),
                   use_dictionary=["o_orderstatus", "o_orderpriority"])


def write_snapshots(orders_path, out_dir, seed, n_batches):
    """Write snapshots 0..n_batches and `batches.tsv`; returns the batches.

    Updates add a seeded amount to `o_totalprice` and rotate
    `o_orderstatus`, so a missed update changes the checksum; an insert
    copies the attributes of a seeded existing order."""
    base = pq.read_table(orders_path)
    bs = batches(seed, base.column(KEY).to_pylist(), n_batches)
    rng = random.Random(seed ^ 0x5EED)
    table = base.append_column(VER, pa.array([0] * base.num_rows, pa.int32()))
    _write(table, out_dir, 0)
    rotate = {"O": "F", "F": "P"}
    for b in bs:
        keys = table.column(KEY)
        old = table.filter(pc.is_in(keys, value_set=pa.array(b.updates, pa.int64())))
        upd = old.to_pydict()
        upd["o_totalprice"] = [p + 1 + rng.randrange(1000) for p in upd["o_totalprice"]]
        upd["o_orderstatus"] = [rotate.get(s, "O") for s in upd["o_orderstatus"]]
        upd[VER] = [b.index] * old.num_rows
        picks = [rng.randrange(base.num_rows) for _ in b.inserts]
        ins = base.take(pa.array(picks, pa.int64())).to_pydict()
        ins[KEY] = list(b.inserts)
        ins[VER] = [b.index] * len(b.inserts)
        gone = pa.array(b.updates + b.deletes, pa.int64())
        table = pa.concat_tables([
            table.filter(pc.invert(pc.is_in(keys, value_set=gone))),
            pa.Table.from_pydict(upd, schema=table.schema),
            pa.Table.from_pydict(ins, schema=table.schema)])
        _write(table, out_dir, b.index)
    with open(os.path.join(out_dir, "batches.tsv"), "w") as fh:
        for b in bs:
            fh.write(f"{b.index}\t{len(b.updates)}\t{len(b.inserts)}\t{len(b.deletes)}\n")
    return bs


def ensure_snapshots(orders_path, root, seed, n_batches, log):
    """Snapshots for `seed`, generated once and reused; other seeds' are
    dropped so the cache stays one seed large."""
    out_dir = os.path.join(root, f"seed{seed}-n{n_batches}")
    done = os.path.join(out_dir, "batches.tsv")
    if not os.path.isfile(done):
        if os.path.isdir(root):
            shutil.rmtree(root)
        os.makedirs(out_dir)
        bs = write_snapshots(orders_path, out_dir, seed, n_batches)
        snap0 = os.path.join(snapshot_path(out_dir, 0), "part-00000.parquet")
        changed = sum(len(b.updates) + len(b.inserts) + len(b.deletes) for b in bs) / len(bs)
        log(f"sync input: {n_batches} batches of {changed:.0f} changed keys; snapshot 0 has "
            f"{pq.read_metadata(snap0).num_rows} rows, {os.path.getsize(snap0)} bytes")
    return out_dir
