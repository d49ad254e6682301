"""The benchmark's workloads.

Each is a closed loop with one client: the next operation starts only when
the previous one has finished, because every caller of this engine waits
for its result (a nightly job, a curation batch).

A workload's run has a fixed extent: the number of operations follows from
``--seconds`` and a constant nominal cost per operation, never from how
fast this process happens to be, so two processes always measure the same
operations on the same part of the JVM's warm-up curve. Every operation
starts from the same state and does the same amount of work, on inputs no
operation has seen before.

An operation returns the input rows it consumed and the outputs the runner
checks afterwards, outside the timed region, against an independent answer
(DuckDB, the registry's oracle SQL, or exact numpy/Python recomputation).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

import inputs


@dataclass
class OpResult:
    rows: int
    out: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Workload:
    name = ""
    # constant nominal cost of one operation: --seconds / nominal_op_s sets
    # how many operations a run measures
    nominal_op_s = 8.5
    min_ops = 3
    # untimed warm-up operations at the end of set-up, on inputs of their own
    warmups = 1
    # steps of an operation, as (layer, fn) rows of the traced layer table,
    # whose split into time inside and outside Spark jobs the traced run
    # reports
    steps: dict[str, tuple[tuple[str, str], ...]] = {}

    def __init__(self, work: str, seed: int, seconds: int, tracer) -> None:
        self.seed = seed
        # odd, so that the median is one operation's time and not the mean
        # of two
        self.n_ops = max(self.min_ops, round(seconds / self.nominal_op_s)) | 1
        self.tr = tracer
        self.out_root = os.path.join(work, "out", self.name)
        self.input_root = os.path.join(work, "inputs")

    def generate(self) -> None: ...

    def prepare(self, spark) -> None:
        """State every operation starts from, made once per run."""

    def op(self, spark, i: int, warm: bool) -> OpResult: ...

    def after(self, res: OpResult) -> None:
        """Read the operation's outputs back and count, outside timing."""

    def check(self, spark, i: int, res: OpResult) -> list[str]: ...

    def corrupt(self, res: OpResult) -> None: ...

    def reset(self, spark) -> None:
        """Undo an operation's effect on the state, outside timing."""
        spark.catalog.clearCache()


# -- taxi_nightly -----------------------------------------------------------------


class TaxiNightly(Workload):
    """The paper's nightly ETL -> feature -> forecast path, one night per
    operation: land the night's three raw CSV schema generations through
    ``canonicalize`` into a ``ManifestTable`` exactly once (a replay of the
    batch id must be a no-op), compact, recompute the gap-free daily
    features over the fixed trailing window, export the DeepAR JSON lines,
    forecast, and run the alert check.

    The warm-up operations land the ``HISTORY_DAYS`` days of history, in
    ``warmups`` chunks, through the same path. Every measured operation then
    starts from the same table state: the compacted history is restored
    before each night, and every night is for the same calendar day, so the
    window, the files and the work are the same each time. Each night's
    CSVs are new files, so the engine's reader memos miss, as they do in
    production."""

    name = "taxi_nightly"
    warmups = 1
    HISTORY_DAYS = 14
    HISTORY_ROWS = 3_000
    NIGHT_ROWS = 160_000
    APP_ID = "nightly-ingest"
    steps = {
        "ingest": (
            ("io", "read_csv"), ("canonicalize", "canonicalize"),
            ("manifest", "append"), ("manifest", "append_replay"),
        ),
    }
    FORECAST = dict(time_freq="D", context_length=14, prediction_length=7)
    QUANTILES = (0.1, 0.5, 0.9)

    def generate(self) -> None:
        self.data = inputs.taxi_inputs(
            self.input_root, self.seed, self.HISTORY_DAYS, self.HISTORY_ROWS,
            self.NIGHT_ROWS, self.n_ops,
        )
        from datetime import timedelta

        # the trailing window: the whole history and tonight
        tonight = inputs.TAXI_EPOCH + timedelta(days=self.HISTORY_DAYS)
        self.window_lo = f"{inputs.TAXI_EPOCH - timedelta(days=1)} 23:59:59"
        self.window_hi = f"{tonight + timedelta(days=1)} 00:00:00"
        self.alert_hi = self.HISTORY_ROWS * 0.4
        self.history_truth = None

    def _history(self, days) -> list[str]:
        return [os.path.join(self.data, f"h{d:03d}") for d in days]

    def _night_paths(self, i: int, warm: bool) -> dict[str, list[str]]:
        """A warm-up lands chunk ``i`` of the history; a measured operation
        lands night ``i``."""
        if warm:
            n = self.HISTORY_DAYS
            dirs = self._history(
                range(i * n // self.warmups, (i + 1) * n // self.warmups)
            )
        else:
            dirs = [os.path.join(self.data, f"n{i:03d}")]
        return {
            k: [os.path.join(d, f"{k}.csv") for d in dirs]
            for k in inputs.TAXI_KINDS
        }

    def _land(self, spark, paths: dict, batch_id: int) -> tuple[bool, bool]:
        from aim357_2019_etl_and_ml_workshop_spark import canonicalize, io

        frames = []
        for kind in inputs.TAXI_KINDS:
            with self.tr.call("io", "read_csv"):
                raw = io.read_csv(spark, paths[kind])
            with self.tr.call("canonicalize", "canonicalize"):
                frames.append(canonicalize.canonicalize(raw, kind))
        night = frames[0].unionByName(frames[1]).unionByName(frames[2])
        with self.tr.call("manifest", "append"):
            landed = self.table.append(
                night, app_id=self.APP_ID, batch_id=batch_id
            )
        with self.tr.call("manifest", "append_replay"):
            replayed = self.table.append(
                night, app_id=self.APP_ID, batch_id=batch_id
            )
        return landed, replayed

    def prepare(self, spark) -> None:
        from aim357_2019_etl_and_ml_workshop_spark.sources.manifest import (
            ManifestTable,
        )

        shutil.rmtree(self.out_root, ignore_errors=True)
        self.table = ManifestTable.create(
            spark, os.path.join(self.out_root, "table")
        )
        self.base_version = None
        self.batch_id = 0
        self.history_csv_bytes = sum(
            os.path.getsize(os.path.join(h, f"{k}.csv"))
            for h in self._history(range(self.HISTORY_DAYS))
            for k in inputs.TAXI_KINDS
        )

    def _live_files(self) -> list[str]:
        """The latest version's file list, read from its manifest file."""
        v = self.table.latest_version()
        with open(self.table._version_path(v)) as fh:
            return json.load(fh)["files"]

    def reset(self, spark) -> None:
        super().reset(spark)
        if self.base_version is not None:
            self.table.restore(self.base_version)

    def op(self, spark, i: int, warm: bool) -> OpResult:
        from pyspark.sql import functions as F

        from aim357_2019_etl_and_ml_workshop_spark import (
            forecast, io, pipeline, timeseries,
        )

        paths = self._night_paths(i, warm)
        out = os.path.join(self.out_root, "night")
        self.batch_id += 1
        landed, replayed = self._land(spark, paths, self.batch_id)
        with self.tr.call("manifest", "compact"):
            compacted = self.table.compact()
        if warm and i == self.warmups - 1:
            self.base_version = self.table.latest_version()
            self.base_files = self._live_files()
        with self.tr.call("manifest", "read"):
            snap = self.table.read()
        ts = F.col("pickup_datetime")
        window = snap.where(
            (ts > F.lit(self.window_lo).cast("timestamp"))
            & (ts < F.lit(self.window_hi).cast("timestamp"))
        )
        with self.tr.call("timeseries", "counts_by_day"):
            daily = timeseries.counts_by_day(
                window, "pickup_datetime", ["type"]
            ).cache()
        with self.tr.call("timeseries", "epoch_bounds"):
            lo, hi = timeseries.epoch_bounds(
                timeseries.with_epoch(window, "pickup_datetime")
            )
        with self.tr.call("timeseries", "spine_pivot_fill"):
            spine = (
                timeseries.date_spine(spark, lo, hi)
                .withColumn("ts_resampled", F.col("epoch").cast("timestamp"))
                .drop("epoch")
            )
            wide = timeseries.gap_fill(
                timeseries.pivot_by_type(
                    spine.join(F.broadcast(daily), "ts_resampled", "left"),
                    "type", list(inputs.TAXI_KINDS),
                ),
                0,
            )
        self.tr.execute(
            "timeseries", "spine_pivot_fill", wide,
            lambda df: io.write_parquet(
                df, os.path.join(out, "features"), mode="overwrite"
            ),
        )
        with self.tr.call("forecast", "to_deepar_jsonlines"):
            jsonl = forecast.to_deepar_jsonlines(
                daily, "type", "ts_resampled", "count"
            )
        self.tr.execute(
            "forecast", "to_deepar_jsonlines", jsonl,
            lambda df: io.write_json_lines(
                df.select("jsonline"), os.path.join(out, "deepar")
            ),
        )
        with self.tr.call("forecast", "predict"):
            pred = forecast.SeasonalQuantileForecaster(
                quantiles=self.QUANTILES, **self.FORECAST
            ).predict(daily, "type", "ts_resampled", "count")
        self.tr.execute(
            "forecast", "predict", pred,
            lambda df: io.write_parquet(
                df, os.path.join(out, "forecast"), mode="overwrite"
            ),
        )
        with self.tr.call("io", "read_parquet"):
            written = io.read_parquet(spark, os.path.join(out, "forecast"))
        with self.tr.call("pipeline", "alert_check"):
            alerts = pipeline.alert_check(
                written.where(F.col("quantile") == 0.5), "value",
                lo=1.0, hi=self.alert_hi,
            )
        rows = 0 if warm else inputs.taxi_night_rows(self.NIGHT_ROWS)
        return OpResult(rows, {
            "night": os.path.dirname(paths["fhv"][0]), "out": out,
            "landed": landed, "replayed": replayed, "compacted": compacted,
            "alerts": alerts,
        })

    def after(self, res: OpResult) -> None:
        """Counts read from the op's outputs (outside timing)."""
        files = self._live_files()
        live = sum(
            os.path.getsize(os.path.join(self.table.root, f)) for f in files
        )
        new = [f for f in files if f not in self.base_files]
        res.counts = {
            "manifest.files": len(files),
            "manifest.bytes_rewritten": sum(
                os.path.getsize(os.path.join(self.table.root, f))
                for f in new
            ),
            "io.bytes_written": _dir_bytes(res.out["out"]),
            "stored_bytes_per_input_byte": live / (
                self.history_csv_bytes + _dir_bytes(res.out["night"])
            ),
        }
        res.out["files"] = [os.path.join(self.table.root, f) for f in files]

    def _csv_truth(self, con, nights: list[str]) -> tuple[int, dict]:
        """Raw row count and daily pickups per (day epoch, type) inside the
        feature window, read by DuckDB straight from the nights' CSVs."""
        pick = {
            "yellow": "tpep_pickup_datetime",
            "green": "lpep_pickup_datetime",
            "fhv": "pickup_datetime",
        }

        def cols(kind: str) -> str:
            # explicit columns: no per-file dialect and type sniffing
            return "{" + ", ".join(
                f"'{c}': 'VARCHAR'" for c in inputs.TAXI_HEADERS[kind]
            ) + "}"

        raw = " UNION ALL ".join(
            f"SELECT '{k}' AS type, TRY_CAST({pick[k]} AS TIMESTAMP) AS ts"
            f" FROM read_csv({[os.path.join(n, k + '.csv') for n in nights]!r},"
            f" header=true, delim=',', quote='', columns={cols(k)},"
            " auto_detect=false)"
            for k in inputs.TAXI_KINDS
        )
        groups = con.execute(f"""
            SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT), type,
                   ts > TIMESTAMP '{self.window_lo}'
                   AND ts < TIMESTAMP '{self.window_hi}', count(*)
            FROM ({raw})
            GROUP BY ALL""").fetchall()
        return (
            sum(n for *_, n in groups),
            {(e, k): n for e, k, inside, n in groups if inside},
        )

    def check(self, spark, i: int, res: OpResult) -> list[str]:
        import duckdb

        o = res.out
        fails = []
        if not o["landed"]:
            fails.append("night was not committed")
        if o["replayed"]:
            fails.append("replayed batch id was not a no-op")
        if not o["compacted"]:
            fails.append("compaction committed nothing")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            if self.history_truth is None:
                self.history_truth = self._csv_truth(
                    con, self._history(range(self.HISTORY_DAYS))
                )
            n_hist, daily = self.history_truth
            n_night, night_daily = self._csv_truth(con, [o["night"]])
            daily = dict(daily)
            for key, n in night_daily.items():
                daily[key] = daily.get(key, 0) + n
            truth = sorted((e, k, n) for (e, k), n in daily.items())
            n_tab = con.execute(
                "SELECT count(*) FROM read_parquet(?)", [o["files"]]
            ).fetchone()[0]
            if n_hist + n_night != n_tab:
                fails.append(
                    f"table holds {n_tab} rows, CSVs {n_hist + n_night}"
                )
            feats = con.execute(f"""
                SELECT CAST(epoch(ts_resampled) AS BIGINT) AS e, type,
                       CAST(n AS BIGINT) FROM (
                  UNPIVOT (SELECT * FROM read_parquet(
                      '{o["out"]}/features/*.parquet'))
                  ON {", ".join(inputs.TAXI_KINDS)} INTO NAME type VALUE n)
                ORDER BY e, type""").fetchall()
            if [r for r in feats if r[2] != 0] != truth:
                fails.append("daily features differ from DuckDB over the CSVs")
            days = sorted({r[0] for r in feats})
            if days != list(range(truth[0][0], truth[-1][0] + 86_400, 86_400)):
                fails.append("daily spine is not gap-free")
            series: dict[str, list] = {}
            for e, kind, n in truth:
                series.setdefault(kind, []).append((e, n))
            deepar = sorted(
                (rec["start"], rec["target"])
                for rec in (
                    json.loads(line[0]) for line in con.execute(
                        "SELECT jsonline FROM read_json("
                        f"'{o['out']}/deepar/*.json',"
                        " format='newline_delimited')"
                    ).fetchall()
                )
            )
            want_deepar = sorted(
                (_fmt_epoch(pts[0][0]), [float(n) for _, n in pts])
                for pts in series.values()
            )
            if deepar != want_deepar:
                fails.append("DeepAR export differs from DuckDB series")
            pred = con.execute(f"""
                SELECT series, CAST(epoch(ts) AS BIGINT), quantile, value
                FROM read_parquet('{o["out"]}/forecast/*.parquet')
                ORDER BY 1, 2, 3""").fetchall()
            want = _seasonal_forecast(series, self.FORECAST, self.QUANTILES)
            if len(pred) != len(want) or any(
                a[:3] != b[:3] or abs(a[3] - b[3]) > 1e-9 * max(1, abs(b[3]))
                for a, b in zip(pred, want)
            ):
                fails.append("forecast differs from the numpy seasonal model")
            want_alerts = sorted(
                (s, e) for s, e, q, v in pred
                if q == 0.5 and (v < 1.0 or v > self.alert_hi)
            )
            got_alerts = sorted(
                (a["series"], int(a["ts"].timestamp())) for a in o["alerts"]
            )
            if got_alerts != want_alerts[:100]:
                fails.append("alerts differ from the forecast's out-of-band p50s")
        finally:
            con.close()
        return fails

    def corrupt(self, res: OpResult) -> None:
        from datetime import datetime

        res.out["alerts"] = res.out["alerts"] + [
            {"series": "yellow", "ts": datetime(2000, 1, 1)}
        ]


def _fmt_epoch(e: int) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(e, timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _seasonal_forecast(series: dict, cfg: dict, quantiles) -> list[tuple]:
    """Seasonal-naive point forecast plus empirical residual quantiles,
    recomputed from the DuckDB daily series (the model the forecaster
    documents), in the forecaster's output order."""
    season, horizon = 7, cfg["prediction_length"]
    context = max(cfg["context_length"], season)
    rows = []
    for kind in sorted(series):
        ts = [e for e, _ in series[kind]]
        vals = np.array([n for _, n in series[kind]], dtype=float)
        hist = vals[-max(context, 2 * season):]
        resid = hist[season:] - hist[:-season] if len(hist) > season else np.zeros(1)
        pattern = vals[-season:] if len(vals) >= season else vals
        for h in range(1, horizon + 1):
            base = float(pattern[(h - 1) % len(pattern)])
            for q in sorted(quantiles):
                rows.append((
                    kind, ts[-1] + 86_400 * h, float(q),
                    base + float(np.quantile(resid, q)),
                ))
    return rows


# -- corpus_dedup -----------------------------------------------------------------


class CorpusDedup(Workload):
    """One corpus-curation batch per operation: the registry's document
    quality features, MinHash near-duplicate pairs written as parquet, their
    connected components, one keep-longest representative per cluster
    written as parquet, then LSH top-k neighbours for a sample of the
    batch's embeddings. Every batch is its own ``gen_testdata`` draw, so it
    has the same size and near-duplicate rate, in new files."""

    name = "corpus_dedup"
    DOCS = 400
    VECS = 100
    QUERY_EVERY = 10
    QUALITY = "text_quality"
    MINHASH = dict(threshold=0.05, num_hashes=32, bands=16)
    LSH = dict(k=5, n_tables=16, n_bits=4, multiprobe=1)

    def generate(self) -> None:
        self.data = inputs.corpus_inputs(
            self.input_root, self.seed, self.DOCS, self.VECS,
            self.warmups + self.n_ops,
        )

    def prepare(self, spark) -> None:
        from aim357_2019_etl_and_ml_workshop_spark import queries

        self.quality = queries.queries()[self.QUALITY]
        self.quality_sql = queries.oracle_sql()[self.QUALITY]

    def _batch(self, i: int, warm: bool) -> str:
        return os.path.join(self.data, f"b{i if warm else self.warmups + i:03d}")

    def op(self, spark, i: int, warm: bool) -> OpResult:
        from pyspark.sql import functions as F

        from aim357_2019_etl_and_ml_workshop_spark import ann, dedup, io

        batch = self._batch(i, warm)
        out = os.path.join(self.out_root, "batch")
        with self.tr.call("queries", self.QUALITY):
            quality = self.quality(spark, batch)
        self.tr.execute(
            "queries", self.QUALITY, quality,
            lambda df: io.write_parquet(
                df, os.path.join(out, "quality"), mode="overwrite"
            ),
        )
        with self.tr.call("io", "read_parquet"):
            docs = io.read_parquet(spark, os.path.join(batch, "documents.parquet"))
            embs = io.read_parquet(spark, os.path.join(batch, "embeddings.parquet"))
        with self.tr.call("dedup", "minhash_near_duplicates"):
            pairs = dedup.minhash_near_duplicates(
                docs.select("doc_id", "text"), "text", "doc_id", **self.MINHASH
            )
        self.tr.execute(
            "dedup", "minhash_near_duplicates", pairs,
            lambda df: io.write_parquet(
                df, os.path.join(out, "pairs"), mode="overwrite"
            ),
        )
        with self.tr.call("io", "read_parquet"):
            pairs = io.read_parquet(spark, os.path.join(out, "pairs"))
        with self.tr.call("dedup", "connected_components"):
            comps = dedup.connected_components(pairs)
        with self.tr.call("dedup", "cluster_representatives"):
            reps = dedup.cluster_representatives(comps, docs, "doc_id", "n_chars")
        self.tr.execute(
            "dedup", "cluster_representatives", reps,
            lambda df: io.write_parquet(
                df, os.path.join(out, "representatives"), mode="overwrite"
            ),
        )
        vecs = embs.select("vec_id", ann.as_double_vec("embedding").alias("v"))
        queries = vecs.where(F.col("vec_id") % self.QUERY_EVERY == 0)
        with self.tr.call("similarity", "lsh_topk"):
            nn = ann.lsh_topk(vecs, queries, **self.LSH)
        self.tr.execute(
            "similarity", "lsh_topk", nn,
            lambda df: io.write_parquet(
                df, os.path.join(out, "neighbours"), mode="overwrite"
            ),
        )
        return OpResult(0 if warm else self.DOCS, {
            "batch": batch, "out": out, "comps": comps,
        })

    def after(self, res: OpResult) -> None:
        import pyarrow.parquet as pq

        o = res.out
        o["comps_pd"] = o.pop("comps").toPandas()
        for name in ("quality", "pairs", "representatives", "neighbours"):
            o[name] = pq.read_table(os.path.join(o["out"], name)).to_pandas()
        reps = o["representatives"]
        written = _dir_bytes(o["out"])
        res.counts = {
            "dedup.pairs": len(o["pairs"]),
            "dedup.kept_ratio": (
                self.DOCS - (reps["n_members"].sum() - len(reps))
            ) / self.DOCS,
            "io.bytes_written": written,
            "stored_bytes_per_input_byte": written / _dir_bytes(o["batch"]),
        }

    def check(self, spark, i: int, res: OpResult) -> list[str]:
        import pyarrow.parquet as pq

        o = res.out
        fails = []
        docs = pq.read_table(os.path.join(o["batch"], "documents.parquet"))
        text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        nchars = dict(zip(docs["doc_id"].to_pylist(), docs["n_chars"].to_pylist()))

        def shingles(t: str) -> set:
            w = t.split(" ")
            return {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}

        thr = self.MINHASH["threshold"]
        edges = []
        for a, b, jac in o["pairs"][["id_a", "id_b", "jaccard"]].itertuples(
            index=False
        ):
            sa, sb = shingles(text[a]), shingles(text[b])
            exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
            if exact < thr or abs(round(exact, 6) - jac) > 1e-9:
                fails.append(f"pair ({a}, {b}) jaccard {jac} vs exact {exact}")
                break
            edges.append((int(a), int(b)))
        # independent union-find: component = smallest reachable id
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want_comp = {x: find(x) for x in list(parent)}
        got_comp = dict(zip(
            o["comps_pd"]["id"].astype(int), o["comps_pd"]["comp"].astype(int)
        ))
        if got_comp != want_comp:
            fails.append("connected components differ from union-find")
        members: dict[int, list[int]] = {}
        for x, c in want_comp.items():
            members.setdefault(c, []).append(x)
        want_reps = {
            c: (min(ms, key=lambda m: (-nchars[m], m)), len(ms))
            for c, ms in members.items()
        }
        got_reps = {
            int(c): (int(r), int(n))
            for c, r, n in o["representatives"][
                ["cluster", "rep_doc_id", "n_members"]
            ].itertuples(index=False)
        }
        if got_reps != want_reps:
            fails.append("cluster representatives are not longest-per-component")
        fails += self._check_neighbours(o)
        fails += self._check_quality(o)
        return fails

    def _check_quality(self, o: dict) -> list[str]:
        """The registry's oracle SQL on DuckDB over the batch, compared the
        way ``tools/compare_oracle.py`` compares."""
        from compare_oracle import canon_frame, duck_connect

        con = duck_connect(o["batch"])
        try:
            want = con.execute(self.quality_sql).df()
        finally:
            con.close()
        got = o["quality"]
        if sorted(got.columns) != sorted(want.columns) or (
            canon_frame(got) != canon_frame(want)
        ):
            return [f"{self.QUALITY} differs from its oracle SQL"]
        return []

    def _check_neighbours(self, o: dict) -> list[str]:
        import pyarrow.parquet as pq

        embs = pq.read_table(os.path.join(o["batch"], "embeddings.parquet"))
        ids = np.asarray(embs["vec_id"].to_pylist())
        mat = np.asarray(embs["embedding"].to_pylist(), dtype=np.float64)
        pos = {int(v): j for j, v in enumerate(ids)}
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        nn = o["neighbours"]
        k = self.LSH["k"]
        fails = []
        qs = {int(v) for v in ids if v % self.QUERY_EVERY == 0}
        per_q = nn.groupby("q_id")["c_id"].agg(list)
        if not set(per_q.index) <= qs or len(per_q) < len(qs) // 2:
            fails.append("neighbour queries are not the sampled vectors")
        for q, cs in per_q.items():
            if len(cs) > k or len(set(cs)) != len(cs) or q in cs:
                fails.append(f"query {q}: bad neighbour list {cs}")
                break
        exact = np.einsum(
            "ij,ij->i",
            unit[[pos[int(q)] for q in nn["q_id"]]],
            unit[[pos[int(c)] for c in nn["c_id"]]],
        )
        # the kernel rounds similarities to 6 decimals
        if len(nn) and np.max(np.abs(exact - nn["sim"].to_numpy())) > 1.5e-6:
            fails.append("neighbour similarity differs from exact cosine")
        return fails

    def corrupt(self, res: OpResult) -> None:
        nn = res.out["neighbours"]
        nn.loc[nn.index[0], "sim"] += 0.5


WORKLOADS = {w.name: w for w in (TaxiNightly, CorpusDedup)}
