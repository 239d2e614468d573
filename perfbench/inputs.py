"""Seeded inputs of the benchmark's workloads.

Every workload's corpus is made from `--seed`: the same seed gives
byte-identical files, a different seed a different file.

- fleet_dense8: the sf0.1 clicks copied COPIES times onto the same 8 bus
  lines. Copy k gets user ids offset by k * USER_STRIDE (a multiple of 8, so
  `user_id % 8` and with it the line is kept) and a time shift; the shifts
  are drawn from `seed % VARIANTS`, so the corpus has VARIANTS shapes whose
  digests are recorded in bench.json, and the rows are then put in a
  seeded order (every seed a different file).
- registry_sf001: the shipped sf0.01 tables as they are; the seed orders the
  queries of the slice instead (see run.py).
"""
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = pathlib.Path(__file__).resolve().parent / "data"
SF01_EVENTS = DATA / "sf0.1" / "events.parquet"
SF001_DIR = DATA / "sf0.01"

COPIES = 4
VARIANTS = 8
USER_STRIDE = 2000          # multiple of 8, copies stay below 1e8 user ids
MAX_SHIFT_S = 900           # per-copy time shift in [-MAX_SHIFT_S, MAX_SHIFT_S]
SF01_CLICKS = 19_863
SF01_VEHICLES = 1_500
LINES = 8


def _write(table: pa.Table, out_dir: pathlib.Path) -> pathlib.Path:
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "events.parquet"
    pq.write_table(table.replace_schema_metadata(None), path, compression="snappy")
    return path


def _shuffled(table: pa.Table, seed: int) -> pa.Table:
    order = np.random.default_rng([seed, 1]).permutation(table.num_rows)
    return table.take(pa.array(order))


def dense_variant(seed: int) -> int:
    return seed % VARIANTS


def fleet_dense8(out_dir: pathlib.Path, seed: int) -> pathlib.Path:
    events = pq.read_table(SF01_EVENTS)
    clicks = events.filter(pc.equal(events["event_type"], "click"))
    shifts = np.random.default_rng([dense_variant(seed), 2]).integers(
        -MAX_SHIFT_S, MAX_SHIFT_S + 1, size=COPIES)
    shifts[0] = 0  # copy 0 is the shipped fleet itself
    copies = []
    for k in range(COPIES):
        ts_us = pc.cast(clicks["ts"], pa.int64())
        shifted = pc.cast(pc.add(ts_us, int(shifts[k]) * 1_000_000), clicks.schema.field("ts").type)
        c = clicks.set_column(clicks.schema.get_field_index("ts"), "ts", shifted)
        c = c.set_column(c.schema.get_field_index("user_id"), "user_id",
                         pc.add(c["user_id"], k * USER_STRIDE))
        c = c.set_column(c.schema.get_field_index("event_id"), "event_id",
                         pc.add(c["event_id"], k * 10_000_000))
        copies.append(c)
    fleet = pa.concat_tables(copies)
    users = pc.unique(fleet["user_id"])
    assert fleet.num_rows == COPIES * SF01_CLICKS, fleet.num_rows
    assert len(users) == COPIES * SF01_VEHICLES, len(users)
    assert len(pc.unique(pc.bit_wise_and(users, 7))) == LINES
    assert pc.max(users).as_py() < 100_000_000
    return _write(_shuffled(fleet, seed), out_dir)
