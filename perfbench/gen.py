"""Seeded input generator for the DAC benchmark.

Everything the workloads read is derived from one integer seed, so the same
seed always yields byte-identical inputs. The output directory holds:

* ``catalog.parquet``           local catalog table (one row per deployment)
* ``erddap/search/advanced.csv`` Advanced-Search catalog with extent columns
* ``erddap/{dataset_id}.csv``   served tabledap time series (the layout the
                                 ``file://`` transport of ``sources.erddap``
                                 reads)
* ``profiles.parquet``          long profile table (dataset_id, time, lat, lon)
* ``api_catalog.json``          DAC deployments-API records (JSON array)
* ``gts_obs.parquet``           OSMC GTS fixes, for the interval join
* ``upcoming.parquet``          catalog rows of deployments that only arrive
                                 through ``ingest_refresh`` drops
* ``meta.json``                 sizes and the served/upcoming id lists

``ingest_refresh`` drops are made per cycle by :func:`make_drop`, also from
the seed, so a run can go on for any number of cycles.

Run as ``python3 perfbench/gen.py --seed 1 --out DIR`` to inspect the inputs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: input sizes; recorded in README.md, in meta.json and in each run's summary line
SIZES = {
    "deployments": 600,
    "mean_profiles_per_deployment": 80,
    "served_datasets": 24,
    "served_rows": 12000,
    "upcoming_deployments": 400,
    "drop_files_per_cycle": 8,
    "drop_rows_per_file": 250,
}

EPOCH_LO = pd.Timestamp("2014-01-01", tz="UTC").value // 10**9
EPOCH_HI = pd.Timestamp("2025-06-01", tz="UTC").value // 10**9
INSTITUTIONS = [
    "Rutgers University",
    "University of Washington",
    "Scripps Institution of Oceanography",
    "Skidaway Institute",
    "Texas A&M University",
    "University of South Florida",
    "Oregon State University",
    "Navy Oceanographic Office",
]
SEARCH_HEADER = [
    "griddap", "Subset", "tabledap", "Make A Graph", "wms", "files", "Title",
    "Summary", "FGDC", "ISO 19115", "Info", "Background Info", "RSS", "Email",
    "Institution", "Dataset ID",
    "min_lat", "max_lat", "min_lon", "max_lon", "min_time", "max_time",
]
TS_SCHEMA = pa.timestamp("us", tz="UTC")
SERVER_URL = "https://gliders.example.org/erddap"


def _iso(seconds: np.ndarray) -> np.ndarray:
    return np.char.add(np.datetime_as_string(np.asarray(seconds).astype("datetime64[s]")), "Z")


def _deployments(rng: np.random.Generator, n: int, prefix: str, lo: int, hi: int) -> pd.DataFrame:
    """n deployments of gliders named ``{prefix}{k}``: start, duration, wmo."""
    n_gliders = max(n // 12, 4)
    glider = rng.integers(0, n_gliders, n)
    start = (rng.integers(lo, hi, n) // 60) * 60
    days = np.clip(rng.lognormal(3.3, 0.6, n), 3, 150)
    ids = [
        f"{prefix}{g:03d}-{pd.Timestamp(s, unit='s'):%Y%m%dT%H%M}"
        for g, s in zip(glider, start)
    ]
    df = pd.DataFrame(
        {
            "dataset_id": ids,
            "glider": [f"{prefix}{g:03d}" for g in glider],
            "start": start,
            "duration_s": (days * 86400).astype(np.int64),
            "institution": np.array(INSTITUTIONS)[rng.integers(0, len(INSTITUTIONS), n)],
            "lat0": rng.uniform(22.0, 46.0, n),
            "lon0": rng.uniform(-82.0, -58.0, n),
        }
    )
    df = df.drop_duplicates("dataset_id").reset_index(drop=True)
    # a glider keeps its WMO id across deployments; a fifth have none
    wmo = {g: (f"4{80000 + i:05d}" if rng.random() > 0.2 else None)
           for i, g in enumerate(sorted(df["glider"].unique()))}
    df["wmo_id"] = df["glider"].map(wmo)
    return df


def _tracks(rng: np.random.Generator, dep: pd.DataFrame, mean_n: int) -> pd.DataFrame:
    """Profile fixes per deployment: unique sorted times, random-walk track."""
    # profiles in proportion to deployment length, with a fixed total so that
    # every seed gives the same amount of work
    dur = dep["duration_s"].to_numpy()
    counts = np.maximum(np.floor(mean_n * len(dep) * dur / dur.sum()).astype(np.int64), 2)
    counts[np.argmax(counts)] += mean_n * len(dep) - counts.sum()
    times, steps = [], []
    for start, dur, n in zip(dep["start"], dep["duration_s"], counts):
        offs = np.sort(rng.choice(int(dur), int(n), replace=False))
        offs[0] = 0
        times.append(start + offs)
        steps.append(rng.normal(0.0, 0.01, (n, 2)).cumsum(axis=0))
    step = np.concatenate(steps)
    idx = np.repeat(np.arange(len(dep)), counts)
    return pd.DataFrame(
        {
            "dataset_id": dep["dataset_id"].to_numpy()[idx],
            "time": np.concatenate(times),
            "latitude": dep["lat0"].to_numpy()[idx] + step[:, 0],
            "longitude": dep["lon0"].to_numpy()[idx] + step[:, 1],
            "profile_id": np.concatenate([np.arange(n) for n in counts]).astype(np.int64),
            "wmo_id": dep["wmo_id"].to_numpy()[idx],
        }
    )


def _profiles_table(df: pd.DataFrame) -> pa.Table:
    return pa.table(
        {
            "dataset_id": pa.array(df["dataset_id"], pa.string()),
            "time": pa.array(df["time"].to_numpy() * 10**6, pa.int64()).cast(TS_SCHEMA),
            "latitude": pa.array(df["latitude"], pa.float64()),
            "longitude": pa.array(df["longitude"], pa.float64()),
            "profile_id": pa.array(df["profile_id"], pa.int64()),
            "wmo_id": pa.array(df["wmo_id"], pa.string()),
        }
    )


def _catalog_rows(dep: pd.DataFrame, tracks: pd.DataFrame) -> pd.DataFrame:
    ext = tracks.groupby("dataset_id").agg(
        min_lat=("latitude", "min"),
        max_lat=("latitude", "max"),
        min_lon=("longitude", "min"),
        max_lon=("longitude", "max"),
        t0=("time", "min"),
        t1=("time", "max"),
    )
    cat = dep.set_index("dataset_id").join(ext, how="inner").reset_index()
    tabledap = SERVER_URL + "/tabledap/" + cat["dataset_id"]
    return pd.DataFrame(
        {
            "dataset_id": cat["dataset_id"],
            "title": cat["glider"] + " glider deployment " + cat["dataset_id"],
            "summary": "Slocum glider " + cat["glider"] + " profiles operated by "
            + cat["institution"],
            "institution": cat["institution"],
            "tabledap": tabledap,
            "griddap": "",
            "wms": "",
            "info": SERVER_URL + "/info/" + cat["dataset_id"] + "/index.csv",
            "min_lat": cat["min_lat"],
            "max_lat": cat["max_lat"],
            "min_lon": cat["min_lon"],
            "max_lon": cat["max_lon"],
            "min_time": _iso(cat["t0"].to_numpy()),
            "max_time": _iso(cat["t1"].to_numpy()),
        }
    )


def _write_search_csv(cat: pd.DataFrame, path: str) -> None:
    n = len(cat)
    empty = [""] * n
    out = pd.DataFrame(
        {
            "griddap": empty,
            "Subset": cat["tabledap"] + ".subset",
            "tabledap": cat["tabledap"],
            "Make A Graph": cat["tabledap"] + ".graph",
            "wms": empty,
            "files": empty,
            "Title": cat["title"],
            "Summary": cat["summary"],
            "FGDC": empty,
            "ISO 19115": empty,
            "Info": cat["info"],
            "Background Info": empty,
            "RSS": empty,
            "Email": empty,
            "Institution": cat["institution"],
            "Dataset ID": cat["dataset_id"],
            "min_lat": cat["min_lat"],
            "max_lat": cat["max_lat"],
            "min_lon": cat["min_lon"],
            "max_lon": cat["max_lon"],
            "min_time": cat["min_time"],
            "max_time": cat["max_time"],
        },
        columns=SEARCH_HEADER,
    )
    out.to_csv(path, index=False)


def _served_series(rng: np.random.Generator, start: int, dur: int, lat0: float,
                   lon0: float, n: int) -> pd.DataFrame:
    """Yo-shaped sensor series: one sample every few seconds, depth 0-200 m."""
    t = start + np.sort(rng.choice(dur, n, replace=False))
    phase = (t - start) % 2400 / 2400.0
    depth = np.round(200.0 * (1.0 - np.abs(2.0 * phase - 1.0)), 2)
    temp = np.round(24.0 - depth * 0.08 + rng.normal(0, 0.3, n), 4)
    sal = np.round(34.0 + depth * 0.005 + rng.normal(0, 0.05, n), 4)
    drift = rng.normal(0.0, 0.0005, (n, 2)).cumsum(axis=0)
    return pd.DataFrame(
        {
            "time": _iso(t),
            "latitude": np.round(lat0 + drift[:, 0], 5),
            "longitude": np.round(lon0 + drift[:, 1], 5),
            "depth": depth,
            "temperature": temp,
            "salinity": sal,
        }
    )


def _gts_obs(rng: np.random.Generator, tracks: pd.DataFrame) -> pa.Table:
    """GTS fixes: a sample of every WMO-tagged track (some outside the
    deployment window, some duplicated) plus fixes of unrelated platforms."""
    tagged = tracks[tracks["wmo_id"].notna()]
    pick = tagged.sample(frac=0.5, random_state=int(rng.integers(2**31)))
    shift = np.where(rng.random(len(pick)) < 0.05, rng.integers(-9 * 86400, 9 * 86400, len(pick)), 0)
    obs = pd.DataFrame(
        {
            "time": pick["time"].to_numpy() + shift,
            "platform_code": pick["wmo_id"].to_numpy(),
            "latitude": np.round(pick["latitude"].to_numpy(), 3),
            "longitude": np.round(pick["longitude"].to_numpy(), 3),
        }
    )
    dup = obs.sample(frac=0.1, random_state=int(rng.integers(2**31)))
    n_other = len(obs) // 4
    other = pd.DataFrame(
        {
            "time": rng.integers(EPOCH_LO, EPOCH_HI, n_other),
            "platform_code": [f"{90000 + k:05d}" for k in rng.integers(0, 300, n_other)],
            "latitude": np.round(rng.uniform(-60, 60, n_other), 3),
            "longitude": np.round(rng.uniform(-180, 180, n_other), 3),
        }
    )
    obs = pd.concat([obs, dup, other], ignore_index=True)
    obs = obs.sample(frac=1.0, random_state=int(rng.integers(2**31))).reset_index(drop=True)
    return pa.table(
        {
            "time": pa.array(obs["time"].to_numpy() * 10**6, pa.int64()).cast(TS_SCHEMA),
            "platform_code": pa.array(obs["platform_code"], pa.string()),
            "platform_type": pa.array(["GLIDERS"] * len(obs), pa.string()),
            "country": pa.array(["UNITED STATES"] * len(obs), pa.string()),
            "latitude": pa.array(obs["latitude"], pa.float64()),
            "longitude": pa.array(obs["longitude"], pa.float64()),
        }
    )


def _api_records(rng: np.random.Generator, cat: pd.DataFrame, dep: pd.DataFrame) -> list[dict]:
    """DAC deployments-API records: most catalog deployments plus some the
    server does not carry (orphans); delayed_mode sometimes missing."""
    by_id = dep.set_index("dataset_id")
    keep = cat["dataset_id"][rng.random(len(cat)) < 0.9].tolist()
    orphans = [f"orphan{k:03d}-20200101T0000" for k in range(len(cat) // 20)]
    records = []
    for did in keep + orphans:
        known = did in by_id.index
        start = int(by_id.at[did, "start"]) if known else EPOCH_LO
        delayed = rng.random()
        records.append(
            {
                "dataset_id": did,
                "wmo_id": by_id.at[did, "wmo_id"] if known else None,
                "operator": by_id.at[did, "institution"] if known else "unknown",
                "deployment_date": start * 1000,
                "delayed_mode": None if delayed < 0.3 else bool(delayed < 0.6),
                "num_profiles_reported": int(rng.integers(0, 5000)),
            }
        )
    return records


def generate(seed: int, out: str) -> dict:
    """Write every input for ``seed`` into ``out`` (replaced if present)."""
    rng = np.random.default_rng(seed)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "erddap", "search"))

    dep = _deployments(rng, SIZES["deployments"], "ru", EPOCH_LO, EPOCH_HI - 200 * 86400)
    # every tenth deployment also has a delayed-mode twin in the catalog
    delayed = dep.iloc[::10].copy()
    delayed["dataset_id"] = delayed["dataset_id"] + "-delayed"
    dep = pd.concat([dep, delayed], ignore_index=True)
    tracks = _tracks(rng, dep, SIZES["mean_profiles_per_deployment"])
    pq.write_table(_profiles_table(tracks), os.path.join(tmp, "profiles.parquet"),
                   row_group_size=64 * 1024)

    cat = _catalog_rows(dep, tracks)
    registry = pd.DataFrame([{c: "" for c in cat.columns}])
    registry[["dataset_id", "title", "institution"]] = ["allDatasets", "All datasets", "Many"]
    registry[["min_lat", "max_lat", "min_lon", "max_lon"]] = np.nan
    full_cat = pd.concat([cat, registry], ignore_index=True)
    full_cat.to_parquet(os.path.join(tmp, "catalog.parquet"), index=False)
    _write_search_csv(cat, os.path.join(tmp, "erddap", "search", "advanced.csv"))

    # served series: the most recent non-delayed deployments (requests favour them)
    live = dep[~dep["dataset_id"].str.endswith("delayed")].sort_values("start", ascending=False)
    served = live.head(SIZES["served_datasets"])
    for did, start, dur, lat0, lon0 in served[
        ["dataset_id", "start", "duration_s", "lat0", "lon0"]
    ].itertuples(index=False, name=None):
        n = min(SIZES["served_rows"], int(dur))
        _served_series(rng, int(start), int(dur), lat0, lon0, n).to_csv(
            os.path.join(tmp, "erddap", f"{did}.csv"), index=False
        )

    pq.write_table(_gts_obs(rng, tracks), os.path.join(tmp, "gts_obs.parquet"))
    with open(os.path.join(tmp, "api_catalog.json"), "w") as f:
        json.dump(_api_records(rng, cat, dep), f)

    up = _deployments(rng, SIZES["upcoming_deployments"], "ng", EPOCH_HI - 150 * 86400, EPOCH_HI)
    up_cat = _catalog_rows(up, pd.DataFrame({
        "dataset_id": up["dataset_id"], "time": up["start"],
        "latitude": up["lat0"], "longitude": up["lon0"],
    }))
    up_cat.to_parquet(os.path.join(tmp, "upcoming.parquet"), index=False)

    meta = {
        "seed": seed,
        "sizes": SIZES,
        "profile_rows": int(len(tracks)),
        "catalog_rows": int(len(full_cat)),
        "served": served["dataset_id"].tolist(),
        "live_by_recency": live["dataset_id"].tolist(),
        "existing_for_drops": live["dataset_id"].head(300).tolist(),
        "upcoming": up[["dataset_id", "start", "lat0", "lon0"]].to_dict("records"),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    try:
        os.rename(tmp, out)
    except OSError:  # another run made the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)
    return meta


def ensure(seed: int, cache_root: str) -> tuple[str, dict]:
    """Generated inputs for ``seed``, made once and kept under ``cache_root``."""
    tag = hashlib.sha1(json.dumps(SIZES, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(cache_root, f"seed-{seed}-{tag}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        generate(seed, out)
    with open(meta_path) as f:
        return out, json.load(f)


DROP_HEADER = ["time", "latitude", "longitude", "depth", "temperature", "salinity"]
DROP_UNITS = ["UTC", "degrees_north", "degrees_east", "m", "Celsius", "1"]


def make_drop(seed: int, cycle: int, meta: dict, last_time: dict[str, int]) -> dict[str, pd.DataFrame]:
    """The ``ingest_refresh`` batch of one cycle: ERDDAP-shaped frames keyed
    by dataset id, half for deployments already in the profile table and
    half for upcoming ones. ``last_time`` (dataset id → last epoch second
    seen) is advanced so each drop continues its deployment's series."""
    rng = np.random.default_rng([seed, cycle])
    n_files = SIZES["drop_files_per_cycle"]
    n_rows = SIZES["drop_rows_per_file"]
    existing = meta["existing_for_drops"]
    upcoming = meta["upcoming"]
    ids = [existing[int(k)] for k in rng.choice(len(existing), n_files // 2, replace=False)]
    base = (cycle * (n_files - n_files // 2)) % len(upcoming)
    ups = [upcoming[(base + k) % len(upcoming)] for k in range(n_files - n_files // 2)]
    for u in ups:
        last_time.setdefault(u["dataset_id"], int(u["start"]) - 600)
    out = {}
    for did in ids + [u["dataset_id"] for u in ups]:
        t0 = last_time[did] + 600
        t = t0 + np.sort(rng.choice(6 * 86400, n_rows, replace=False))
        last_time[did] = int(t[-1])
        depth = np.round(rng.uniform(0, 200, n_rows), 2)
        out[did] = pd.DataFrame(
            {
                "time": _iso(t),
                "latitude": np.round(30.0 + rng.normal(0, 0.01, n_rows).cumsum(), 5),
                "longitude": np.round(-70.0 + rng.normal(0, 0.01, n_rows).cumsum(), 5),
                "depth": depth,
                "temperature": np.round(24.0 - depth * 0.08 + rng.normal(0, 0.3, n_rows), 4),
                "salinity": np.round(34.0 + rng.normal(0, 0.05, n_rows), 4),
            }
        )
    return out


def write_drop_csv(df: pd.DataFrame, path: str) -> None:
    """ERDDAP CSV: header, units row, data rows."""
    with open(path, "w") as f:
        f.write(",".join(DROP_HEADER) + "\n" + ",".join(DROP_UNITS) + "\n")
        df.to_csv(f, header=False, index=False)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    meta = generate(args.seed, args.out)
    print(json.dumps({k: meta[k] for k in ("seed", "sizes", "profile_rows", "catalog_rows")}))


if __name__ == "__main__":
    main()
