"""GdacClient facade: the reference's client API surface over Spark plans.

API parity with ``/root/reference/gdutils/__init__.py:22`` (GdacClient), but
sources are pluggable DataFrames (parquet/CSV fixtures or a future ERDDAP
DataSource V2) instead of per-dataset HTTP loops.

The reference's ``search_datasets`` does 1 + 2·N sequential HTTP requests
(``/root/reference/gdutils/__init__.py:544-616``). Here the N-dataset
harvest is ONE plan: catalog filter → semi-join profiles → one
groupBy(dataset_id) for summaries + one groupBy(dataset_id, date) for daily
stats. At 1000 executors the scan parallelizes over profile partitions; the
two aggregations are the only shuffles.

Everything stays lazy until a property is collected; the wide calendar
matrices the reference keeps in memory stay LONG here
(``daily_profile_positions``-style) and pivot only at presentation
(SURVEY.md §1.1-3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdutils_spark.functions.glider import glider_from_dataset_id
from gdutils_spark.operators.calendar import calendar
from gdutils_spark.operators.summaries import (
    daily_stats,
    deployment_days,
    entity_summaries,
)
from gdutils_spark.sinks.geojson import track_geojson, track_geojson_dict
from gdutils_spark.sources.erddap import search_catalog

VALID_SEARCH_KWARGS = {
    # /root/reference/gdutils/__init__.py:59-69
    "search_for",
    "institution",
    "min_lon",
    "min_lat",
    "max_lon",
    "max_lat",
    "min_time",
    "max_time",
}


class GdacClient:
    """Spark-native glider-catalog client.

    Parameters
    ----------
    spark : SparkSession
    catalog : DataFrame
        One row per dataset: ``dataset_id`` + metadata (title, summary,
        institution, tabledap, ...) — fixture 1 of FIXTURES.md.
    profiles : DataFrame
        Long profile table: ``dataset_id, time, latitude, longitude,
        profile_id`` — fixture 2.
    timeseries : DataFrame, optional
        Sensor series: ``dataset_id, precise_time, depth, <vars...>`` —
        fixture 3.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: DataFrame | None = None,
        profiles: DataFrame | None = None,
        timeseries: DataFrame | None = None,
        server: str | None = None,
        items_per_page: int = 1000,
    ):
        if catalog is None and server is None:
            raise ValueError("need a catalog DataFrame or a server URL")
        self._spark = spark
        self._catalog = catalog
        self._profiles = profiles
        self._timeseries = timeseries
        self._server = server
        self._items_per_page = items_per_page
        self._datasets_info: DataFrame | None = None
        self._selected_profiles: DataFrame | None = None
        self._last_search: dict | None = None

    # -- search -------------------------------------------------------------

    def search_datasets(
        self,
        params: dict | None = None,
        dataset_ids: list[str] | str | None = None,
        include_delayed_mode: bool = False,
    ) -> None:
        """Advanced-search equivalent (S2 + the harvest loop §3.1).

        Filters are plain Catalyst predicates — free text over
        title/summary/institution, time/bbox bounds against per-dataset
        extent — and the result stays lazy. A server-backed client
        fetches the catalog-sized Advanced-Search result here, once.
        """
        params = dict(params or {})
        unknown = set(params) - VALID_SEARCH_KWARGS
        if unknown:
            raise ValueError(f"invalid search kwargs: {sorted(unknown)}")
        self._last_search = params

        # server-backed: the Advanced-Search request narrows the catalog
        # server-side; the Catalyst predicates below still apply (no-ops
        # on an already-filtered result, but they keep the local-catalog
        # and live paths semantically identical)
        catalog = (
            search_catalog(self._spark, self._server, params, self._items_per_page)
            if self._server is not None
            else self._catalog
        )
        info = catalog.where(F.col("dataset_id") != "allDatasets")
        if not include_delayed_mode:
            # /root/reference/gdutils/__init__.py:516-518
            info = info.where(~F.col("dataset_id").endswith("delayed"))
        if dataset_ids:
            if isinstance(dataset_ids, str):
                dataset_ids = [dataset_ids]
            info = info.where(F.col("dataset_id").isin(dataset_ids))
        # text/institution predicates run LOCALLY only when the catalog is
        # a caller-supplied DataFrame. In server-backed mode the ERDDAP
        # server already evaluated searchFor/institution with its richer
        # semantics (AND-wise terms across ALL metadata — keywords,
        # dataset_id, variable names); re-applying a substring match over
        # title/summary/institution here would silently drop datasets the
        # server legitimately matched.
        if self._server is None:
            if "search_for" in params:
                needle = F.lit(str(params["search_for"]).lower())
                hay = F.lower(
                    F.concat_ws(
                        " ",
                        *[
                            F.coalesce(F.col(c).cast("string"), F.lit(""))
                            for c in ("title", "summary", "institution")
                            if c in info.columns
                        ],
                    )
                )
                info = info.where(F.contains(hay, needle))
            if "institution" in params and "institution" in info.columns:
                info = info.where(F.col("institution") == params["institution"])
        self._datasets_info = info

        if self._profiles is None:
            # catalog-only client (live search without a profiles feed):
            # dataset-level results are available, profile-level ops guard
            # via _require_search
            self._selected_profiles = None
            return

        prof = self._profiles.join(
            F.broadcast(info.select("dataset_id")), "dataset_id", "left_semi"
        )
        if "min_time" in params:
            prof = prof.where(F.col("time") >= F.lit(params["min_time"]).cast("timestamp"))
        if "max_time" in params:
            prof = prof.where(F.col("time") <= F.lit(params["max_time"]).cast("timestamp"))
        for key, col, op in (
            ("min_lat", "latitude", ">="),
            ("max_lat", "latitude", "<="),
            ("min_lon", "longitude", ">="),
            ("max_lon", "longitude", "<="),
        ):
            if key in params:
                bound = float(params[key])
                prof = prof.where(
                    F.col(col) >= bound if op == ">=" else F.col(col) <= bound
                )
        self._selected_profiles = prof

    def _require_search(self) -> DataFrame:
        if self._selected_profiles is None:
            # a catalog-only client (live search, no profiles feed) keeps
            # _selected_profiles None even after a successful search —
            # the actionable error there is the missing feed, not the
            # search order
            self._require_profiles()
            raise RuntimeError("call search_datasets() first")
        return self._selected_profiles

    def _require_profiles(self) -> DataFrame:
        if self._profiles is None:
            raise RuntimeError(
                "this client was built without a profiles feed (catalog-only "
                "live search); pass profiles= to use profile-level operations"
            )
        return self._profiles

    def _require_catalog(self) -> DataFrame:
        if self._catalog is None:
            raise RuntimeError(
                "this client was built without a local catalog table; use "
                "search_datasets() and the .datasets property for "
                "server-backed metadata"
            )
        return self._catalog

    # -- catalog properties ---------------------------------------------------

    @property
    def datasets_summaries(self) -> DataFrame:
        """summary_columns schema (/root/reference/gdutils/__init__.py:489-501)."""
        prof = self._require_search()
        base = entity_summaries(prof, "dataset_id", "time")
        # min, not first: first() without an ordering is whatever row a
        # partition serves up — nondeterministic across runs/cluster
        # layouts when a dataset carries mixed wmo values (and min skips
        # NULLs, so a stray null row can't mask the real id either)
        wmo = (
            prof.groupBy("dataset_id").agg(F.min("wmo_id").alias("wmo_id"))
            if "wmo_id" in prof.columns
            else None
        )
        out = base.withColumn("glider", glider_from_dataset_id(F.col("dataset_id")))
        if wmo is not None:
            out = out.join(wmo, "dataset_id", "left")
        else:
            out = out.withColumn("wmo_id", F.lit(None).cast("string"))
        return out.select(
            "glider",
            "dataset_id",
            "wmo_id",
            "start_date",
            "end_date",
            "deployment_lat",
            "deployment_lon",
            "lat_min",
            "lat_max",
            "lon_min",
            "lon_max",
            "num_profiles",
            "days",
        )

    @property
    def datasets(self) -> DataFrame:
        """summaries ⟕ info on dataset_id (J1,
        /root/reference/gdutils/__init__.py:107-114). Catalog-only
        clients (live search with no profiles feed) get the filtered
        catalog rows alone — there is nothing to summarize."""
        if self._datasets_info is None:
            raise RuntimeError("call search_datasets() first")
        info = self._datasets_info.drop(
            *[c for c in ("griddap", "wms") if c in self._datasets_info.columns]
        )
        if self._profiles is None:
            return info
        return self.datasets_summaries.join(F.broadcast(info), "dataset_id", "left")

    @property
    def dataset_ids(self) -> list[str]:
        return [
            r["dataset_id"]
            for r in self.datasets_summaries.select("dataset_id").distinct().collect()
        ]

    @property
    def gliders(self) -> list[str]:
        return sorted(
            r["glider"]
            for r in self.datasets_summaries.select("glider").distinct().collect()
        )

    # -- long-form daily tables (stay distributed) ---------------------------

    @property
    def daily_profile_positions(self) -> DataFrame:
        """date, dataset_id, avg lat/lon, num_profiles (long form of
        /root/reference/gdutils/__init__.py:632-633)."""
        return daily_stats(self._require_search(), "time", "dataset_id")

    @property
    def datasets_profiles(self) -> DataFrame:
        """Wide date × dataset profile-count matrix
        (/root/reference/gdutils/__init__.py:626-630) — pivot at
        presentation; prefer daily_profile_positions at scale."""
        long = self.daily_profile_positions
        return (
            long.groupBy("date")
            .pivot("dataset_id")
            .agg(F.first("num_profiles"))
            .orderBy("date")
        )

    @property
    def datasets_days(self) -> DataFrame:
        """Wide date × dataset deployed-flag matrix
        (/root/reference/gdutils/__init__.py:587-589,626)."""
        days = deployment_days(self._require_search(), "dataset_id", "time")
        return (
            days.groupBy("date").pivot("dataset_id").agg(F.first("deployed"))
            .orderBy("date")
        )

    # -- per-period aggregates + calendars ------------------------------------

    @property
    def profiles_per_yyyymmdd(self) -> DataFrame:
        prof = self._require_search()
        return prof.groupBy(F.to_date("time").alias("date")).agg(
            F.count(F.lit(1)).alias("profiles")
        )

    @property
    def profiles_per_year(self) -> DataFrame:
        prof = self._require_search()
        return prof.groupBy(F.year("time").alias("year")).agg(
            F.count(F.lit(1)).alias("profiles")
        )

    @property
    def glider_days_per_year(self) -> DataFrame:
        days = deployment_days(self._require_search(), "dataset_id", "time")
        return days.groupBy(F.year("date").alias("year")).agg(
            F.count(F.lit(1)).alias("glider_days")
        )

    @property
    def deployments_per_year(self) -> DataFrame:
        days = deployment_days(self._require_search(), "dataset_id", "time")
        return days.groupBy(F.year("date").alias("year")).agg(
            F.count_distinct("dataset_id").alias("deployments")
        )

    def _profiles_calendar(self, variant: str) -> DataFrame:
        return calendar(self._require_search(), "time", variant, "count")

    @property
    def ymd_profiles_calendar(self) -> DataFrame:
        return self._profiles_calendar("ymd")

    @property
    def ym_profiles_calendar(self) -> DataFrame:
        return self._profiles_calendar("ym")

    @property
    def md_profiles_calendar(self) -> DataFrame:
        return self._profiles_calendar("md")

    def _days_calendar(self, variant: str) -> DataFrame:
        days = deployment_days(self._require_search(), "dataset_id", "time")
        return calendar(days.withColumnRenamed("date", "time"), "time", variant, "count")

    @property
    def ymd_glider_days_calendar(self) -> DataFrame:
        return self._days_calendar("ymd")

    @property
    def ym_glider_days_calendar(self) -> DataFrame:
        return self._days_calendar("ym")

    @property
    def md_glider_days_calendar(self) -> DataFrame:
        return self._days_calendar("md")

    def _deployments_calendar(self, variant: str) -> DataFrame:
        days = deployment_days(self._require_search(), "dataset_id", "time")
        return calendar(
            days.withColumnRenamed("date", "time"),
            "time",
            variant,
            "any",
            distinct_col="dataset_id",
        )

    @property
    def ymd_deployments_calendar(self) -> DataFrame:
        return self._deployments_calendar("ymd")

    @property
    def ym_deployments_calendar(self) -> DataFrame:
        return self._deployments_calendar("ym")

    @property
    def md_deployments_calendar(self) -> DataFrame:
        return self._deployments_calendar("md")

    @property
    def yearly_counts(self) -> DataFrame:
        """year | deployments | glider_days | profiles
        (/root/reference/gdutils/__init__.py:361-369) — one pass over the
        deployment-day spine + one over profiles, joined on year."""
        days = deployment_days(self._require_search(), "dataset_id", "time")
        per_year = days.groupBy(F.year("date").alias("year")).agg(
            F.count_distinct("dataset_id").alias("deployments"),
            F.count(F.lit(1)).alias("glider_days"),
        )
        profs = self.profiles_per_year
        return per_year.join(profs, "year", "full").na.fill(
            0, ["deployments", "glider_days", "profiles"]
        )

    # -- per-dataset accessors -------------------------------------------------

    def check_dataset_exists(self, dataset_id: str) -> bool:
        return (
            self._require_catalog()
            .where(F.col("dataset_id") == dataset_id)
            .limit(1)
            .count()
            > 0
        )

    def get_dataset_profiles(self, dataset_id: str) -> DataFrame:
        """S3 profiles scan, time-ordered at the boundary
        (/root/reference/gdutils/__init__.py:744-760)."""
        return self._require_profiles().where(F.col("dataset_id") == dataset_id).orderBy("time")

    def dataset_info_card(self, dataset_id: str):
        """Transposed one-dataset summary card (R1:
        /root/reference/gdutils/__init__.py:646 — ``to_frame().T``-style
        presentation). Driver-side pandas transpose of a single collected
        row; the aggregation that produced it ran distributed."""
        pdf = (
            self.datasets.where(F.col("dataset_id") == dataset_id)
            .limit(1)
            .toPandas()
        )
        if pdf.empty:
            raise KeyError(f"unknown dataset_id: {dataset_id}")
        return pdf.set_index("dataset_id").T

    def get_dataset_time_coverage(self, dataset_id: str) -> dict:
        row = (
            self._require_profiles().where(F.col("dataset_id") == dataset_id)
            .agg(F.min("time").alias("start"), F.max("time").alias("end"))
            .collect()[0]
        )
        return {"start": row["start"], "end": row["end"]}

    def get_dataset_time_series(
        self,
        dataset_id: str,
        variables: list[str],
        min_time=None,
        max_time=None,
    ) -> DataFrame:
        """S4 pushdown scan (/root/reference/gdutils/__init__.py:770-805):
        projection + range predicates reach the parquet reader via
        Catalyst."""
        if self._timeseries is None:
            raise RuntimeError("no timeseries source configured")
        cols = ["dataset_id", "precise_time", "depth", *variables]
        ts = self._timeseries.where(F.col("dataset_id") == dataset_id).select(
            *dict.fromkeys(cols)
        )
        if min_time is not None:
            ts = ts.where(F.col("precise_time") >= F.lit(min_time).cast("timestamp"))
        if max_time is not None:
            ts = ts.where(F.col("precise_time") <= F.lit(max_time).cast("timestamp"))
        return ts.orderBy("precise_time")

    def get_dataset_ymd_profiles_calendar(self, dataset_id: str) -> DataFrame:
        return calendar(
            self._require_profiles().where(F.col("dataset_id") == dataset_id), "time", "ymd", "count"
        )

    def get_dataset_ym_profiles_calendar(self, dataset_id: str) -> DataFrame:
        return calendar(
            self._require_profiles().where(F.col("dataset_id") == dataset_id), "time", "ym", "count"
        )

    def get_dataset_md_profiles_calendar(self, dataset_id: str) -> DataFrame:
        return calendar(
            self._require_profiles().where(F.col("dataset_id") == dataset_id), "time", "md", "count"
        )

    # -- exports ---------------------------------------------------------------

    def get_dataset_track_geojson(
        self, dataset_id: str, points: bool = True, ndigits: int = 3
    ) -> dict:
        """K4 GeoJSON track (/root/reference/gdutils/__init__.py:871-886)."""
        return track_geojson_dict(
            self._require_profiles(),
            "dataset_id",
            dataset_id,
            time_col="time",
            include_points=points,
            ndigits=ndigits,
        )

    def export_dataset_daily_tracks(
        self, output_directory: str, ndigits: int = 3
    ) -> list[str]:
        """K4 bulk export (/root/reference/gdutils/__init__.py:834-869):
        ONE distributed job building every dataset's GeoJSON, then a small
        collect of (id, json) strings."""
        prof = self._require_search()
        rows = track_geojson(prof, "dataset_id", time_col="time", ndigits=ndigits).collect()
        paths = []
        for r in rows:
            path = os.path.join(output_directory, f"{r['dataset_id']}_track.json")
            with open(path, "w") as f:
                f.write(r["geojson"])
            paths.append(path)
        return paths

    # -- API-catalog merges ------------------------------------------------------

    def merge_with_api(self, api_catalog: DataFrame, merge_all: bool = True) -> DataFrame:
        """J2/J3 + orphan flag (/root/reference/gdutils/__init__.py:921-941).

        merge_all=True: API catalog ⟕ search results; False: ⟖ (only
        datasets present on the server). 'orphaned' = registered in the API
        but absent from the server catalog.
        """
        api = api_catalog
        if "wmo_id" in api.columns:
            api = api.drop("wmo_id")
        server = self.datasets
        how = "left" if merge_all else "right"
        merged = api.join(server, "dataset_id", how)
        probe = server.select("dataset_id").withColumn("__hit", F.lit(True))
        return (
            merged.join(F.broadcast(probe), "dataset_id", "left")
            .withColumn("orphaned", F.col("__hit").isNull())
            .drop("__hit")
        )
