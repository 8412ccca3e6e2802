"""Seeded input generation for the benchmark workloads.

Everything the program reads is made here from ``--seed``: the hive
hour-partitioned TSV tree and load schedule of the ``ingest`` workload, and
the ``embeddings`` table of the ``stream_microbatch`` workload. The same seed
gives byte-identical files and the same schedule.
"""
import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ingest shape: each small-hour pass is half a day of consecutive hours
HOURS_PER_PASS = 12
ABSENT_PER_PASS = 1          # ~10% of hours have no files: the skip path
REINGEST_PER_PASS = 1        # ~10% of landed hours are loaded again
SMALL_ROWS = (100, 175)      # sf0.1 `events` density per hour
PASSES = 4                   # every pass runs: 48 load jobs, a p75 tail
WARM_HOURS = 36              # load jobs keep speeding up for dozens of hours
LARGE_HOURS = 2
LARGE_ROWS = 250_000
LARGE_ROUNDS = 3             # each large hour is loaded this often when timed

EVENT_TYPES = ["view", "click", "purchase", "error"]
DEVICES = 5000
DEVICE_IDS = [f"dev-{d:04d}" for d in range(DEVICES)]

# stream_microbatch shape: the sf0.01 embeddings table (500 unit vectors,
# 64 float dims, 10 labels)
EMB_ROWS = 500
EMB_DIM = 64
EMB_LABELS = 10


def hour_id(dt):
    return dt.strftime("%Y%m%d%H")


def hive_dir(root, dt):
    return os.path.join(root, f"year={dt.year:04d}", f"month={dt.month:02d}",
                        f"day={dt.day:02d}", f"hour={dt.hour:02d}")


def hour_rows(rng, dt, n):
    """TSV text for one hour and its per-hour aggregates.

    Columns follow the landing schema: event_ts, device_id, event_type,
    payload, bytes. Every timestamp falls inside the hour, so the record's
    hour and its directory agree.
    """
    sec = rng.integers(0, 3600, n)
    dev = rng.integers(0, DEVICES, n)
    et = rng.integers(0, len(EVENT_TYPES), n)
    path = rng.integers(0, 1_000_000, n)
    sess = rng.integers(0, 2 ** 62, n)
    nbytes = rng.integers(1, 100_000, n)
    base = dt.strftime("%Y-%m-%d %H:")
    stamps = [f"{base}{s // 60:02d}:{s % 60:02d}" for s in range(3600)]
    lines = [
        f"{stamps[s]}\t{DEVICE_IDS[d]}\t{EVENT_TYPES[e]}\t"
        f"/catalog/item/{p}?session={q:016x}&ref=feed&lang=en\t{b}\n"
        for s, d, e, p, q, b in zip(sec.tolist(), dev.tolist(), et.tolist(),
                                    path.tolist(), sess.tolist(),
                                    nbytes.tolist())]
    agg = {"rows": int(n), "bytes_sum": int(nbytes.sum()),
           "sec_sum": int(sec.sum())}
    return "".join(lines), agg


def write_hour(root, rng, dt, n):
    d = hive_dir(root, dt)
    os.makedirs(d, exist_ok=True)
    text, agg = hour_rows(rng, dt, n)
    path = os.path.join(d, "part-000.tsv")
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    agg["source_bytes"] = os.path.getsize(path)
    return agg


def ingest_inputs(root, seed):
    """Write the TSV tree under ``root`` and return the schedule.

    Schedule: ``warm`` hours (landed before timing: small hours, then the
    first large hour), ``passes`` of consecutive hours (small hours, absent
    hours, re-ingests of hours landed earlier in the same pass), then
    ``large``: ``LARGE_ROUNDS`` rounds over the large backfill hours, each
    load a truncate-and-replace of its hour. ``expected`` holds the per-hour
    aggregates the landing table must show afterwards.
    """
    rng = np.random.default_rng([seed, 1])
    pick = random.Random(seed)
    # each seed gets its own stretch of the calendar
    start = datetime.datetime(2023, 1, 1) + datetime.timedelta(
        days=pick.randrange(0, 300))
    expected = {}

    def small(dt):
        expected[hour_id(dt)] = write_hour(
            root, rng, dt, int(rng.integers(SMALL_ROWS[0], SMALL_ROWS[1] + 1)))

    warm_start = start - datetime.timedelta(days=30)
    warm = []
    for i in range(WARM_HOURS):
        dt = warm_start + datetime.timedelta(hours=i)
        small(dt)
        warm.append({"hour": hour_id(dt), "kind": "small"})

    passes = []
    for p in range(PASSES):
        day = start + datetime.timedelta(days=p)
        hours = [day + datetime.timedelta(hours=h) for h in range(HOURS_PER_PASS)]
        absent = set(pick.sample(range(HOURS_PER_PASS), ABSENT_PER_PASS))
        ops = []
        for h, dt in enumerate(hours):
            if h in absent:
                ops.append({"hour": hour_id(dt), "kind": "absent"})
            else:
                small(dt)
                ops.append({"hour": hour_id(dt), "kind": "small"})
        # a re-ingest goes somewhere after its hour's first load
        present = [o["hour"] for o in ops if o["kind"] == "small"]
        for hour in pick.sample(present[:-1], REINGEST_PER_PASS):
            src = next(i for i, o in enumerate(ops)
                       if o["hour"] == hour and o["kind"] == "small")
            at = pick.randrange(src + 1, len(ops) + 1)
            ops.insert(at, {"hour": hour, "kind": "reingest"})
        passes.append(ops)

    large_start = start + datetime.timedelta(days=PASSES + 1)
    large = []
    for i in range(LARGE_HOURS):
        dt = large_start + datetime.timedelta(hours=i)
        expected[hour_id(dt)] = write_hour(root, rng, dt, LARGE_ROWS)
        large.append({"hour": hour_id(dt), "kind": "large"})
    warm.append(large[0])
    large = large * LARGE_ROUNDS
    return {"warm": warm, "passes": passes, "large": large,
            "expected": expected}


def embeddings(path, seed):
    """The ``embeddings`` table: unit vectors around one centre per label."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, EMB_ROWS)
    vecs = centres[labels] + rng.normal(0.0, 0.8, (EMB_ROWS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(EMB_ROWS, dtype=np.int64)),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(table, path)


def generate(workload, root, seed):
    """Make the workload's inputs under ``root``; return its input spec."""
    os.makedirs(root, exist_ok=True)
    if workload == "ingest":
        spec = ingest_inputs(os.path.join(root, "raw"), seed)
    else:
        embeddings(os.path.join(root, "embeddings.parquet"), seed)
        spec = {}
    with open(os.path.join(root, "schedule.json"), "w") as f:
        json.dump(spec, f, sort_keys=True)
    return spec
