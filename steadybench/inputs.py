"""Seeded inputs for the benchmark's workloads.

Everything the engine reads is generated here from the run's seed and
cached under the benchmark's work directory, keyed by (workload, seed,
size), so a repeated seed reuses its files and a new seed makes new ones.
Generation happens before the session starts and is never timed as part
of any metric.

- ``taxi_nightly``: raw CSVs in the three schema generations of the
  reference's Glue jobs (yellow, green, fhv), one set per night, written by
  :func:`write_taxi_night`.
- ``corpus_dedup``: one ``tools/gen_testdata.gen`` draw per batch, of which
  the documents and embeddings are kept.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# One CSV header per schema generation (etl/2019reinvent_{yellow,green,fhv}.py
# read these column sets); fare_amount is carried but never mapped.
TAXI_HEADERS = {
    "yellow": [
        "vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime",
        "pulocationid", "dolocationid", "fare_amount",
    ],
    "green": [
        "vendorid", "lpep_pickup_datetime", "lpep_dropoff_datetime",
        "pulocationid", "dolocationid", "fare_amount",
    ],
    "fhv": [
        "pickup_datetime", "dropoff_datetime", "pulocationid",
        "dolocationid",
    ],
}
TAXI_KINDS = ("yellow", "green", "fhv")
# Share of a night's rows per schema generation.
TAXI_SHARE = {"yellow": 0.5, "green": 0.2, "fhv": 0.3}
# First day of every table's history; "tonight" is HISTORY_DAYS later.
TAXI_EPOCH = date(2019, 1, 1)


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def _mark_ready(path: str) -> None:
    with open(os.path.join(path, "_READY"), "w") as fh:
        fh.write("ok\n")


def cached(root: str, key: str, build) -> str:
    """``root/key``, built once by ``build(tmpdir)`` and published by rename,
    so an interrupted generation never leaves a half-written input set."""
    path = os.path.join(root, key)
    if _ready(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    _mark_ready(tmp)
    os.replace(tmp, path)
    return path


# -- taxi ---------------------------------------------------------------------


def _fmt_ts(base: datetime, secs: np.ndarray) -> pa.Array:
    """``base + secs`` as ``YYYY-MM-DD HH:MM:SS`` strings."""
    ts = np.datetime64(base, "s") + secs.astype("timedelta64[s]")
    return pa.array(ts).cast(pa.string())


def taxi_night_rows(rows: int) -> int:
    """Raw CSV data rows in one (non-gap) night."""
    return sum(int(rows * TAXI_SHARE[k]) for k in TAXI_KINDS)


def write_taxi_night(
    outdir: str, day: date, rows: int, rng: np.random.Generator,
    gap: bool = False,
) -> None:
    """Write one night's raw CSVs, one file per schema generation.

    Pickups fall inside ``day``. A few rows carry what real feeds carry:
    future-dated pickups (the reference's year-2088 rows, dropped by the
    feature window) and unparseable location ids (nulled by the tolerant
    cast). ``gap=True`` leaves the green file with a header only, so the
    daily spine has a day to fill."""
    os.makedirs(outdir, exist_ok=True)
    base = datetime(day.year, day.month, day.day)
    for kind in TAXI_KINDS:
        n = 0 if (gap and kind == "green") else int(rows * TAXI_SHARE[kind])
        pick = np.sort(rng.integers(0, 86_400, n))
        drop = pick + rng.integers(60, 3_600, n)
        pu = pa.array(rng.integers(1, 266, n)).cast(pa.string())
        do = pa.array(rng.integers(1, 266, n)).cast(pa.string())
        pu = pc.if_else(pa.array(rng.random(n) < 0.002), "N/A", pu)
        pick_s = _fmt_ts(base, pick)
        pick_s = pc.if_else(
            pa.array(rng.random(n) < 0.001),
            pc.utf8_replace_slice(pick_s, 0, 4, "2088"), pick_s,
        )
        drop_s = _fmt_ts(base, drop)
        if kind == "fhv":
            cols = [pick_s, drop_s, pu, do]
        else:
            vendor = pa.array(rng.integers(1, 3, n)).cast(pa.string())
            fare = pa.array(
                np.round(rng.exponential(12.0, n) + 2.5, 2).astype(str)
            )
            cols = [vendor, pick_s, drop_s, pu, do, fare]
        table = pa.table(dict(zip(TAXI_HEADERS[kind], cols)))
        with open(os.path.join(outdir, f"{kind}.csv"), "wb") as fh:
            # pyarrow quotes a header it writes itself
            fh.write((",".join(TAXI_HEADERS[kind]) + "\n").encode())
            pacsv.write_csv(table, fh, pacsv.WriteOptions(
                include_header=False, quoting_style="none",
            ))


def taxi_inputs(
    root: str, seed: int, history_days: int, history_rows: int,
    night_rows: int, nights: int,
) -> str:
    """History days ``h000..`` and the nights the run measures ``n000..``.
    Every measured night is for the same calendar day, the day after the
    history, so each operation sees the same window."""
    key = (
        f"taxi_nightly-s{seed}-h{history_days}x{history_rows}"
        f"-r{night_rows}-n{nights}"
    )

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 1])
        for d in range(history_days):
            write_taxi_night(
                os.path.join(tmp, f"h{d:03d}"),
                TAXI_EPOCH + timedelta(days=d), history_rows, rng,
                gap=(d % 5 == 3),
            )
        tonight = TAXI_EPOCH + timedelta(days=history_days)
        for i in range(nights):
            write_taxi_night(
                os.path.join(tmp, f"n{i:03d}"), tonight, night_rows, rng
            )

    return cached(root, key, build)


# -- gen_testdata -------------------------------------------------------------


def gen_tables(outdir: str, sf: float, seed: int) -> None:
    """``tools/gen_testdata.gen`` with its progress lines sent to stderr:
    the benchmark's standard output ends with its result line."""
    import gen_testdata  # tools/, on the path the runner sets

    with contextlib.redirect_stdout(sys.stderr):
        gen_testdata.gen(sf, outdir, seed=seed)


def corpus_inputs(
    root: str, seed: int, docs_per_batch: int, vecs_per_batch: int,
    batches: int,
) -> str:
    """``batches`` directories ``b000..``, each one ``gen_testdata`` draw of
    its own (seed ``seed * 1000 + b``) holding ``documents.parquet`` and
    ``embeddings.parquet`` cut to the batch size, so every batch has the
    same size and the generator's near-duplicate rate."""
    key = (
        f"corpus_dedup-s{seed}-d{docs_per_batch}-v{vecs_per_batch}"
        f"-b{batches}"
    )
    # gen() scales every table together; pick the scale factor whose
    # documents and embeddings cover one batch.
    sf = max(docs_per_batch / 50_000, vecs_per_batch / 20_000)
    sf = float(np.ceil(sf * 1000) / 1000)

    def build(tmp: str) -> None:
        for b in range(batches):
            full = os.path.join(tmp, f"_full{b:03d}")
            gen_tables(full, sf, seed * 1000 + b)
            out = os.path.join(tmp, f"b{b:03d}")
            os.makedirs(out)
            for name, n in (
                ("documents", docs_per_batch), ("embeddings", vecs_per_batch),
            ):
                table = pq.read_table(os.path.join(full, f"{name}.parquet"))
                pq.write_table(
                    table.slice(0, n), os.path.join(out, f"{name}.parquet"),
                )
            shutil.rmtree(full)

    return cached(root, key, build)
