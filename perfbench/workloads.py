"""The three workloads: ``dac_report``, ``dataset_requests``, ``ingest_refresh``.

Each workload drives the program only through its public functions, over
the generated inputs, and checks every output against :mod:`oracle` or the
generator's ground truth. A workload exposes

* ``register()``   source registration (part of set-up time); every
                   workload registers the program's Python DataSource, as
                   a deployment does once at start-up
* ``iteration(i)`` one pass / one cycle; ``dataset_requests`` instead runs
                   ``client_loop`` in several threads
* ``warmup()``     what set-up runs once before the timed window

Every call into the program goes through ``Bench.op`` (timing, job group,
check) and ``Bench.layer`` (the layer span).
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os
import shutil
import threading
import time

import numpy as np
import pandas as pd

import gen
import oracle

REL_TOL = 1e-9


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _epoch(ts) -> float:
    return pd.Timestamp(ts).timestamp()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def run_concurrently(parts) -> None:
    """Run callables on one thread each and wait for all of them."""
    errors = []

    def guard(part):
        try:
            part()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(p,)) for p in parts]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _sum_cells(rows) -> int:
    return sum(v for r in rows for k, v in r.asDict().items() if k.startswith("c") and v)


# --------------------------------------------------------------------------
# dac_report
# --------------------------------------------------------------------------

#: one calendar of each kind and each variant (of the nine the client offers)
CALENDARS = ["ymd_profiles", "ym_glider_days", "md_deployments"]


class DacReport:
    """Batch catalog report: search → summaries → calendars → tracks → KML →
    API merge → GTS harvest. One iteration is one full pass."""

    name = "dac_report"

    def __init__(self, bench):
        self.b = bench
        rng = np.random.default_rng([bench.seed, 1])
        # bounds that cut a few deployments at the edges of the catalog's
        # extent, so every seed selects about the same share of the data
        day = int(rng.integers(1, 28))
        self.params = {
            "min_time": f"2014-02-{day:02d}T00:00:00Z",
            "max_time": f"2025-04-{day:02d}T00:00:00Z",
            "min_lat": round(float(rng.uniform(22.5, 23.0)), 2),
            "max_lat": round(float(rng.uniform(45.0, 45.5)), 2),
            "min_lon": round(float(rng.uniform(-81.5, -81.0)), 2),
            "max_lon": round(float(rng.uniform(-59.0, -58.5)), 2),
        }
        self.truth = oracle.ReportTruth(bench.data, self.params)
        self.tracks_dir = os.path.join(bench.work, "tracks")

    def register(self) -> None:
        from gdutils_spark.sources.erddap import register

        spark, d = self.b.spark, self.b.data
        register(spark)
        self.catalog = spark.read.parquet(f"{d}/catalog.parquet")
        self.profiles = spark.read.parquet(f"{d}/profiles.parquet")
        self.obs = spark.read.parquet(f"{d}/gts_obs.parquet")

    def warmup(self) -> None:
        """One pass, its independent parts on concurrent threads."""
        run_concurrently(self._pass_parts())

    def iteration(self, i: int) -> None:
        for part in self._pass_parts():
            part()

    def _pass_parts(self) -> list:
        """The pass after ``search_datasets``, as parts that share nothing
        but the searched client; a pass runs them in order."""
        from gdutils_spark.client import GdacClient
        from gdutils_spark.osmc import DuoProfilesClient
        from gdutils_spark.sinks.kml import tracks_to_kml
        from gdutils_spark.sources.rest import read_json_records

        b, t = self.b, self.truth
        with b.harness():
            shutil.rmtree(self.tracks_dir, ignore_errors=True)
            os.makedirs(self.tracks_dir)
        c = GdacClient(b.spark, catalog=self.catalog, profiles=self.profiles)
        b.call("client.search_datasets", lambda: c.search_datasets(self.params), None)

        def summaries():
            b.call("client.datasets", lambda: c.datasets.collect(), self._check_datasets)
            b.call("client.yearly_counts", lambda: c.yearly_counts.collect(), self._check_yearly)

        def calendars():
            for cal in CALENDARS:
                b.call(f"client.{cal}_calendar",
                       lambda cal=cal: getattr(c, f"{cal}_calendar").collect(),
                       lambda rows, cal=cal: self._check_calendar(cal, rows))

        def tracks():
            paths = b.call("sinks.geojson.export_dataset_daily_tracks",
                           lambda: c.export_dataset_daily_tracks(self.tracks_dir),
                           self._check_tracks)

            def kml():
                docs = []
                for p in paths or []:
                    with open(p) as f:
                        docs.append((os.path.basename(p)[: -len("_track.json")], f.read()))
                with b.layer("sinks.kml.tracks_to_kml"):
                    return tracks_to_kml(docs)

            b.op("sinks.kml.tracks_to_kml", kml, self._check_kml)

        def api_and_gts():
            def merge():
                with b.layer("sources.rest.read_json_records"):
                    api = read_json_records(
                        b.spark, f"{b.data}/api_catalog.json",
                        bool_columns=["delayed_mode"], epoch_ms_columns=["deployment_date"],
                    )
                with b.layer("client.merge_with_api"):
                    return c.merge_with_api(api).select("dataset_id", "orphaned").collect()

            b.op("client.merge_with_api", merge, self._check_merge)
            duo = DuoProfilesClient(b.spark, self.obs)
            b.call("osmc.get_dataset_profiles",
                   lambda: duo.get_dataset_profiles(c.datasets_summaries).count(),
                   lambda n: expect(n == t.gts_rows, f"gts rows {n} != {t.gts_rows}"))
            b.call("osmc.obs_calendar", lambda: duo.ymd_observations_calendar().collect(),
                   self._check_obs_calendar)

        return [summaries, calendars, tracks, api_and_gts]

    # -- checks ----------------------------------------------------------------

    def _check_datasets(self, rows) -> None:
        want = self.truth.summaries
        expect(len(rows) == len(want), f"datasets rows {len(rows)} != {len(want)}")
        for r in rows:
            w = want.get(r["dataset_id"])
            expect(w is not None, f"unexpected dataset {r['dataset_id']}")
            n, t0, t1, la0, la1, lo0, lo1, lat0, lon0, days = w
            got = (r["num_profiles"], _epoch(r["start_date"]), _epoch(r["end_date"]), r["days"])
            expect(got == (n, _epoch(t0), _epoch(t1), days), f"summary {r['dataset_id']}: {got}")
            for g, e in ((r["lat_min"], la0), (r["lat_max"], la1), (r["lon_min"], lo0),
                         (r["lon_max"], lo1), (r["deployment_lat"], lat0),
                         (r["deployment_lon"], lon0)):
                expect(g == e, f"summary extent {r['dataset_id']}: {g} != {e}")
            expect(r["title"] is not None, f"no catalog info joined for {r['dataset_id']}")

    def _check_yearly(self, rows) -> None:
        got = {r["year"]: (r["deployments"], r["glider_days"], r["profiles"]) for r in rows}
        expect(got == self.truth.yearly, "yearly_counts differ")

    def _check_calendar(self, cal: str, rows) -> None:
        want = self.truth.calendars[cal]
        got = (len(rows), _sum_cells(rows))
        expect(got == want, f"{cal} (rows, total) {got} != {want}")

    def _check_tracks(self, paths) -> None:
        want = self.truth.summaries
        expect(len(paths) == len(want), f"{len(paths)} track files != {len(want)}")
        for p in paths:
            did = os.path.basename(p)[: -len("_track.json")]
            with open(p) as f:
                doc = json.load(f)
            feats = doc["features"]
            line = feats[0]["geometry"]["coordinates"]
            expect(len(line) == want[did][0] and len(feats) == want[did][0] + 1,
                   f"track {did}: {len(line)} fixes != {want[did][0]}")

    def _check_kml(self, kml: str) -> None:
        n = len(self.truth.summaries)
        fixes = sum(w[0] for w in self.truth.summaries.values())
        expect(kml.count("<Placemark>") == n, "kml placemark count")
        coords = kml.count("\n          ")
        expect(coords == fixes, f"kml coordinates {coords} != {fixes}")

    def _check_merge(self, rows) -> None:
        orphans = sum(1 for r in rows if r["orphaned"])
        expect((len(rows), orphans) == (self.truth.api_rows, self.truth.api_orphans),
               f"merge (rows, orphans) {(len(rows), orphans)}")

    def _check_obs_calendar(self, rows) -> None:
        got = (len(rows), _sum_cells(rows))
        want = (self.truth.gts_months, self.truth.gts_rows)
        expect(got == want, f"obs calendar {got} != {want}")


# --------------------------------------------------------------------------
# dataset_requests
# --------------------------------------------------------------------------

#: request kinds, in equal shares: the issue names the kinds but not their
#: shares, and no access log of a DAC or an ERDDAP server is at hand. The
#: equal shares, the Zipf exponent, the 30% ``recent=`` share and the
#: tabledap time and depth windows are assumptions, not measured traffic.
REQUEST_KINDS = ["search", "tabledap", "track", "info_card", "time_coverage", "exists",
                 "ymd_calendar"]
ZIPF_S = 1.0
#: requests drawn, with their expected results, per client before set-up;
#: a window that outlasts them draws more, in harness time
PLANNED = 64
TABLEDAP_SCHEMA = ("time timestamp, latitude double, longitude double, depth double, "
                   "temperature double, salinity double")


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


class DatasetRequests:
    """Closed loop of client threads sharing one SparkSession; request kinds
    come in equal shares, deployments are Zipf-skewed toward recent ones.

    Each client's requests and their expected results are drawn before
    set-up, and outputs are checked after the window, so the clients do no
    benchmark work while they are timed."""

    name = "dataset_requests"

    def __init__(self, bench):
        self.b = bench
        bench.defer_checks = True
        self.truth = oracle.RequestTruth(bench.data)
        meta = bench.meta
        self.recent = [d for d in meta["live_by_recency"] if d in self.truth.per_dataset]
        self.served = meta["served"]
        self.server = "file://" + os.path.join(bench.data, "erddap")
        self.recent_p = _zipf_weights(len(self.recent))
        self.served_p = _zipf_weights(len(self.served))
        self.served_span = self.truth.served_spans(self.served)
        rng = np.random.default_rng([bench.seed, 2])
        self.warm = [(kind, self._draw(kind, rng)) for kind in REQUEST_KINDS]
        self._rngs = [np.random.default_rng([bench.seed, 3, w]) for w in range(bench.cpus)]
        self._decks: list[list[str]] = [[] for _ in range(bench.cpus)]
        self.plans = [collections.deque(self._plan(w, PLANNED)) for w in range(bench.cpus)]

    def _plan(self, worker: int, n: int) -> list[tuple[str, dict]]:
        """The client's next ``n`` requests. Kinds come from a shuffled deck
        of one card per kind, so every stretch of requests keeps the shares."""
        rng, deck, out = self._rngs[worker], self._decks[worker], []
        for _ in range(n):
            if not deck:
                deck.extend(REQUEST_KINDS)
                rng.shuffle(deck)
            kind = deck.pop()
            out.append((kind, self._draw(kind, rng)))
        return out

    def register(self) -> None:
        from gdutils_spark.client import GdacClient
        from gdutils_spark.sources.erddap import register

        spark, d = self.b.spark, self.b.data
        register(spark)
        self.catalog = spark.read.parquet(f"{d}/catalog.parquet")
        self.profiles = spark.read.parquet(f"{d}/profiles.parquet")
        self.client = GdacClient(spark, catalog=self.catalog, profiles=self.profiles)
        self.client.search_datasets()

    def warmup(self) -> None:
        """Every request kind once, spread over the client threads."""
        def part(k: int):
            def run() -> None:
                for kind, spec in self.warm[k::self.b.cpus]:
                    self.request(kind, spec)
            return run

        run_concurrently([part(k) for k in range(self.b.cpus)])

    def client_loop(self, worker: int, deadline: float, start_trace: int) -> None:
        plan = self.plans[worker]
        k = 0
        while time.perf_counter() < deadline:
            if not plan:
                with self.b.harness():
                    plan.extend(self._plan(worker, 16))
            kind, spec = plan.popleft()
            with self.b.iteration(f"request.{kind}", start_trace + 1000 * worker + k):
                self.request(kind, spec)
            k += 1

    def _pick(self, rng) -> str:
        return self.recent[int(rng.choice(len(self.recent), p=self.recent_p))]

    def _draw(self, kind: str, rng) -> dict:
        """One request of ``kind``: its arguments and expected result."""
        if kind == "search":
            return self._draw_search(rng)
        if kind == "tabledap":
            return self._draw_tabledap(rng)
        did = self._pick(rng)
        if kind == "exists" and rng.random() < 0.2:
            did = did.replace("ru", "zz", 1)  # an unknown id
        return {"did": did}

    def request(self, kind: str, spec: dict) -> None:
        getattr(self, f"_req_{kind}")(spec)

    def _draw_search(self, rng) -> dict:
        y0 = int(rng.integers(2014, 2025))
        params = {"min_time": f"{y0}-01-01T00:00:00Z", "max_time": f"{y0 + 1}-06-30T00:00:00Z"}
        if rng.random() < 0.5:
            lat = float(rng.uniform(24.0, 40.0))
            lon = float(rng.uniform(-80.0, -64.0))
            params.update(min_lat=round(lat, 2), max_lat=round(lat + 6, 2),
                          min_lon=round(lon, 2), max_lon=round(lon + 6, 2))
        if rng.random() < 0.3:
            params["search_for"] = str(rng.choice(["Rutgers", "glider ru01", "Skidaway", "Oregon"]))
        return {"params": params, "want": self.truth.search(params)}

    def _req_search(self, spec: dict) -> None:
        from gdutils_spark.client import GdacClient

        params, want = spec["params"], spec["want"]

        def run():
            c = GdacClient(self.b.spark, server=self.server)
            with self.b.layer("client.search_datasets"):
                c.search_datasets(params)
            with self.b.layer("sources.erddap.search"):
                return c.datasets.select("dataset_id").collect()

        self.b.op("request.search", run, lambda rows: expect(
            {r[0] for r in rows} == want and len(rows) == len(want),
            f"search {params}: {len(rows)} rows, want {len(want)}"))

    def _draw_tabledap(self, rng) -> dict:
        did = self.served[int(rng.choice(len(self.served), p=self.served_p))]
        lo, hi = self.served_span[did]
        a = int(rng.integers(lo, hi))
        b_ = min(a + int(rng.integers(2, 8)) * 86400, hi)
        d0 = float(rng.choice([0.0, 10.0, 50.0]))
        d1 = d0 + float(rng.choice([30.0, 100.0, 200.0]))
        recent = int(rng.choice([3, 7])) if rng.random() < 0.3 else None
        t_lo, t_hi = _iso(a), _iso(b_)
        served, n, s = self.truth.tabledap(did, t_lo, t_hi, d0, d1, recent)
        return {"did": did, "t": (t_lo, t_hi), "depth": (d0, d1), "recent": recent,
                "served": served, "n": n, "sum": s}

    def _req_tabledap(self, spec: dict) -> None:
        from pyspark.sql import functions as F

        did, (t_lo, t_hi), (d0, d1), recent = spec["did"], spec["t"], spec["depth"], spec["recent"]
        spark = self.b.spark

        def run():
            with self.b.layer("sources.erddap.tabledap"):
                reader = (spark.read.format("erddap").schema(TABLEDAP_SCHEMA)
                          .option("server", self.server).option("dataset_id", did))
                if recent:
                    reader = reader.option("recent", f"{recent}days")
                df = reader.load().where(
                    (F.col("time") >= F.lit(t_lo).cast("timestamp"))
                    & (F.col("time") <= F.lit(t_hi).cast("timestamp"))
                    & (F.col("depth") >= d0) & (F.col("depth") <= d1)
                ).select("time", "depth", "temperature")
                return df.collect()

        def check(rows):
            total = sum(r["temperature"] for r in rows)
            expect(len(rows) == spec["n"] and _close(total, spec["sum"]),
                   f"tabledap {did} [{t_lo},{t_hi}] depth [{d0},{d1}] recent={recent}: "
                   f"{len(rows)} rows, want {spec['n']}")

        self.b.op("request.tabledap", run, check, scan_rows=True,
                  attrs={"served_rows": spec["served"], "result_rows": spec["n"]})

    def _req_track(self, spec: dict) -> None:
        did = spec["did"]
        n = self.truth.per_dataset[did][0]
        self.b.call("client.get_dataset_track_geojson",
                    lambda: self.client.get_dataset_track_geojson(did),
                    lambda doc: expect(
                        len(doc["features"][0]["geometry"]["coordinates"]) == n
                        and len(doc["features"]) == n + 1, f"track {did}"),
                    op="request.track")

    def _req_info_card(self, spec: dict) -> None:
        did = spec["did"]
        n = self.truth.per_dataset[did][0]
        self.b.call("client.dataset_info_card",
                    lambda: self.client.dataset_info_card(did),
                    lambda card: expect(int(card.loc["num_profiles"].iloc[0]) == n,
                                        f"info card {did}"),
                    op="request.info_card")

    def _req_time_coverage(self, spec: dict) -> None:
        did = spec["did"]
        _, t0, t1, _ = self.truth.per_dataset[did]
        self.b.call("client.get_dataset_time_coverage",
                    lambda: self.client.get_dataset_time_coverage(did),
                    lambda cov: expect(
                        (_epoch(cov["start"]), _epoch(cov["end"])) == (_epoch(t0), _epoch(t1)),
                        f"time coverage {did}: {cov}"),
                    op="request.time_coverage")

    def _req_exists(self, spec: dict) -> None:
        did = spec["did"]
        want = did in self.truth.catalog
        self.b.call("client.check_dataset_exists",
                    lambda: self.client.check_dataset_exists(did),
                    lambda got: expect(got == want, f"exists {did}: {got}"),
                    op="request.exists")

    def _req_ymd_calendar(self, spec: dict) -> None:
        did = spec["did"]
        n, _, _, months = self.truth.per_dataset[did]
        self.b.call("client.get_dataset_ymd_profiles_calendar",
                    lambda: self.client.get_dataset_ymd_profiles_calendar(did).collect(),
                    lambda rows: expect((len(rows), _sum_cells(rows)) == (months, n),
                                        f"ymd calendar {did}"),
                    op="request.ymd_calendar")


def _iso(epoch_s: int) -> str:
    return pd.Timestamp(epoch_s, unit="s").strftime("%Y-%m-%dT%H:%M:%SZ")


# --------------------------------------------------------------------------
# ingest_refresh
# --------------------------------------------------------------------------


class IngestRefresh:
    """Drops of ERDDAP CSVs land; each cycle ingests the batch, drains the
    streaming aggregate, refreshes and writes summaries, and reads the
    touched deployments back through GdacClient."""

    name = "ingest_refresh"
    DROP_SCHEMA = ("time timestamp, latitude double, longitude double, depth double, "
                   "temperature double, salinity double")

    def __init__(self, bench):
        self.b = bench
        self.landing = os.path.join(bench.work, "landing")
        self.checkpoint = os.path.join(bench.work, "checkpoint")
        self.out = os.path.join(bench.work, "summaries")
        for d in (self.landing, self.checkpoint, self.out):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.landing)
        truth = oracle.RequestTruth(bench.data)
        self.base = {d: (v[0], _epoch(v[1]), _epoch(v[2])) for d, v in truth.per_dataset.items()}
        self.last_time = {d: int(v[2]) for d, v in self.base.items()}
        self.landed: dict[str, list[pd.DataFrame]] = {}
        self.daily_truth: dict[tuple, int] = {}
        self.cycle = 0

    def register(self) -> None:
        from gdutils_spark.sources.erddap import register

        spark, d = self.b.spark, self.b.data
        register(spark)
        self.catalog = spark.read.parquet(f"{d}/catalog.parquet").unionByName(
            spark.read.parquet(f"{d}/upcoming.parquet"), allowMissingColumns=True)
        self.profiles = spark.read.parquet(f"{d}/profiles.parquet")

    def warmup(self) -> None:
        """One cycle, its independent parts on concurrent threads."""
        run_concurrently(self._cycle_parts())

    def iteration(self, i: int) -> None:
        for part in self._cycle_parts():
            part()

    def _drop(self) -> tuple[list[str], int]:
        frames = gen.make_drop(self.b.seed, self.cycle, self.b.meta, self.last_time)
        nbytes = 0
        for did, df in frames.items():
            path = os.path.join(self.landing, f"{did}_b{self.cycle:05d}.csv")
            gen.write_drop_csv(df, path)
            nbytes += os.path.getsize(path)
            self.landed.setdefault(did, []).append(df)
            t = pd.to_datetime(df["time"], utc=True)
            for (day, n) in t.dt.floor("D").value_counts().items():
                key = (did, day.date())
                self.daily_truth[key] = self.daily_truth.get(key, 0) + int(n)
        return list(frames), nbytes

    def _cycle_parts(self) -> list:
        """Drop the cycle's files, then return its parts: (ingest, daily
        stats), (stream drain), (read-back, writes); a cycle runs them in
        order."""
        from pyspark.sql import functions as F

        from gdutils_spark.client import GdacClient
        from gdutils_spark.operators.summaries import daily_stats
        from gdutils_spark.sinks import write_csv, write_json
        from gdutils_spark.sources.csv import read_dataset_csv_batch

        b, spark = self.b, self.b.spark
        with b.harness():
            touched, in_bytes = self._drop()
        frames = {d: self.landed[d][-1] for d in touched}
        batch_rows = sum(len(f) for f in frames.values())
        glob_this = os.path.join(self.landing, f"*_b{self.cycle:05d}.csv")
        self.cycle += 1

        holder = {}

        def ingest():
            def read_batch():
                with b.layer("sources.csv.read_dataset_csv_batch"):
                    holder["batch"] = read_dataset_csv_batch(
                        spark, glob_this, schema=self.DROP_SCHEMA)
                    return holder["batch"].count()

            b.op("sources.csv.read_dataset_csv_batch", read_batch,
                 lambda n: expect(n == batch_rows, f"ingested {n} rows != {batch_rows}"),
                 attrs={"rows_ingested": batch_rows})

            def stats():
                with b.layer("operators.daily_stats"):
                    return daily_stats(holder["batch"], "time", "dataset_id").collect()

            b.op("operators.daily_stats", stats, lambda rows: self._check_daily(rows, frames))

        def drain():
            def run():
                with b.layer("streaming.drain"):
                    return self._drain()

            b.op("streaming.drain", run, self._check_stream)

        def refresh():
            def read_back():
                ids = ",".join(sorted(touched))
                with b.layer("sources.csv.landed_files"):
                    landed = read_dataset_csv_batch(
                        spark, os.path.join(self.landing, f"{{{ids}}}_b*.csv"),
                        schema=self.DROP_SCHEMA)
                profiles = self.profiles.where(F.col("dataset_id").isin(touched)).unionByName(
                    landed.select("dataset_id", "time", "latitude", "longitude"),
                    allowMissingColumns=True)
                c = GdacClient(spark, catalog=self.catalog, profiles=profiles)
                with b.layer("client.search_datasets"):
                    c.search_datasets(dataset_ids=sorted(touched))
                with b.layer("client.datasets_summaries"):
                    holder["summaries"] = c.datasets_summaries
                    return holder["summaries"].collect()

            b.op("client.read_back", read_back,
                 lambda rows: self._check_read_back(rows, touched))

            def write():
                with b.layer("sinks.write_csv"):
                    write_csv(holder["summaries"], os.path.join(self.out, "csv"),
                              single_file=True)
                with b.layer("sinks.write_json"):
                    write_json(holder["summaries"], os.path.join(self.out, "json"),
                               single_file=True)
                return self._written()

            written = b.op("sinks.write", write, lambda w: self._check_written(w, touched),
                           attrs={"input_bytes": in_bytes})
            for part in sum((written or {}).values(), []):
                b.count("bytes_written", os.path.getsize(part))

        return [ingest, drain, refresh]

    def _drain(self) -> dict:
        from pyspark.sql import functions as F

        from gdutils_spark.sources.csv import DATASET_ID_FILE_RE
        from gdutils_spark.streaming import stream_daily_stats

        spark = self.b.spark
        stream = (spark.readStream.schema(self.DROP_SCHEMA).option("header", "true")
                  .csv(self.landing).where(F.col("time").isNotNull())
                  .withColumn("dataset_id",
                              F.regexp_extract(F.input_file_name(), DATASET_ID_FILE_RE, 1)))
        agg = stream_daily_stats(stream, time_col="time", entity_col="dataset_id",
                                 value_col="temperature")
        q = (agg.writeStream.format("memory").queryName("ingest_daily")
             .outputMode("complete").option("checkpointLocation", self.checkpoint)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
            progress = q.recentProgress
            rows = spark.sql("SELECT window.start AS day, dataset_id, n_events FROM ingest_daily").collect()
        finally:
            q.stop()
        state = 0
        batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
        for p in progress:
            for op in p.get("stateOperators", []):
                state = max(state, op.get("numRowsTotal", 0))
        self.b.count("streaming.batches", batches)
        self.b.count("streaming.state_rows", state)
        return {"rows": rows, "batches": batches, "state_rows": state}

    # -- checks ------------------------------------------------------------------

    def _check_daily(self, rows, frames) -> None:
        want = {}
        for did, df in frames.items():
            t = pd.to_datetime(df["time"], utc=True).dt.date
            g = df.assign(date=t).groupby("date")
            for day, grp in g:
                want[(did, day)] = (len(grp), grp["latitude"].mean(), grp["longitude"].mean())
        expect(len(rows) == len(want), f"daily_stats rows {len(rows)} != {len(want)}")
        for r in rows:
            w = want.get((r["dataset_id"], r["date"]))
            expect(w is not None and r["num_profiles"] == w[0]
                   and math.isclose(r["avg_latitude"], w[1], rel_tol=1e-12)
                   and math.isclose(r["avg_longitude"], w[2], rel_tol=1e-12),
                   f"daily_stats {r['dataset_id']} {r['date']}")

    def _check_stream(self, out) -> None:
        got = {(r["dataset_id"], r["day"].date()): r["n_events"] for r in out["rows"]}
        expect(got == self.daily_truth,
               f"stream state: {len(got)} windows, want {len(self.daily_truth)}")
        expect(out["batches"] >= 1, "drain processed no batch")

    def _check_read_back(self, rows, touched) -> None:
        expect(sorted(r["dataset_id"] for r in rows) == sorted(touched), "read-back ids")
        for r in rows:
            did = r["dataset_id"]
            drops = self.landed[did]
            n0, t0, _ = self.base.get(did, (0, None, None))
            n = n0 + sum(len(f) for f in drops)
            first = _epoch(pd.Timestamp(drops[0]["time"].iloc[0]))
            start = t0 if t0 is not None else first
            end = _epoch(pd.Timestamp(drops[-1]["time"].iloc[-1]))
            got = (r["num_profiles"], _epoch(r["start_date"]), _epoch(r["end_date"]))
            expect(got == (n, start, end), f"read-back {did}: {got} != {(n, start, end)}")

    def _written(self) -> dict:
        out = {}
        for kind in ("csv", "json"):
            parts = glob.glob(os.path.join(self.out, kind, "part-*"))
            out[kind] = parts
        return out

    def _check_written(self, written, touched) -> None:
        csv_rows = sum(len(pd.read_csv(p)) for p in written["csv"])
        json_rows = sum(len(pd.read_json(p, lines=True)) for p in written["json"])
        expect(csv_rows == len(touched) and json_rows == len(touched),
               f"written rows csv={csv_rows} json={json_rows}, want {len(touched)}")


WORKLOADS = {w.name: w for w in (DacReport, DatasetRequests, IngestRefresh)}
