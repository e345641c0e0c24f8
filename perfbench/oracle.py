"""Independent expected results, computed with DuckDB over the generated files.

Nothing here imports the program: every expectation is a plain SQL query
over the same parquet/CSV/JSON files the workloads hand to the program.
"""

from __future__ import annotations

import os
import threading

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    return con


def _ts(value: str) -> str:
    return f"TIMESTAMPTZ '{value}'"


class ReportTruth:
    """Expected outputs of one ``dac_report`` pass for fixed search params."""

    def __init__(self, data: str, params: dict):
        con = connect()
        con.execute(f"CREATE VIEW prof AS SELECT * FROM read_parquet('{data}/profiles.parquet')")
        con.execute(f"CREATE VIEW cat AS SELECT * FROM read_parquet('{data}/catalog.parquet')")
        con.execute(f"CREATE VIEW obs AS SELECT * FROM read_parquet('{data}/gts_obs.parquet')")
        con.execute(
            f"CREATE VIEW api AS SELECT * FROM read_json_auto('{data}/api_catalog.json')"
        )
        con.execute(
            f"""CREATE TABLE sel AS SELECT * FROM prof
            WHERE dataset_id IN (SELECT dataset_id FROM cat
                                 WHERE dataset_id <> 'allDatasets'
                                   AND NOT dataset_id LIKE '%delayed')
              AND time >= {_ts(params['min_time'])} AND time <= {_ts(params['max_time'])}
              AND latitude >= {params['min_lat']} AND latitude <= {params['max_lat']}
              AND longitude >= {params['min_lon']} AND longitude <= {params['max_lon']}"""
        )
        con.execute(
            """CREATE TABLE summ AS SELECT dataset_id, count(*) AS n,
                 min(time) AS t0, max(time) AS t1,
                 min(latitude) AS lat_min, max(latitude) AS lat_max,
                 min(longitude) AS lon_min, max(longitude) AS lon_max,
                 arg_min(latitude, time) AS lat0, arg_min(longitude, time) AS lon0,
                 CAST(ceil((epoch(max(time)) - epoch(min(time))) / 86400) AS BIGINT) AS days,
                 min(wmo_id) AS wmo_id
               FROM sel GROUP BY dataset_id"""
        )
        con.execute(
            """CREATE TABLE days AS SELECT dataset_id,
                 CAST(unnest(generate_series(CAST(CAST(min(time) AS DATE) AS TIMESTAMP),
                                             CAST(CAST(max(time) AS DATE) AS TIMESTAMP),
                                             INTERVAL 1 DAY)) AS DATE) AS d
               FROM sel GROUP BY dataset_id"""
        )
        self.summaries = {
            r[0]: r[1:]
            for r in con.execute(
                "SELECT dataset_id, n, t0, t1, lat_min, lat_max, lon_min, lon_max, "
                "lat0, lon0, days FROM summ"
            ).fetchall()
        }
        self.yearly = {
            r[0]: r[1:]
            for r in con.execute(
                """SELECT coalesce(a.y, b.y), coalesce(a.deployments, 0),
                          coalesce(a.glider_days, 0), coalesce(b.profiles, 0)
                   FROM (SELECT year(d) AS y, count(DISTINCT dataset_id) AS deployments,
                                count(*) AS glider_days FROM days GROUP BY 1) a
                   FULL JOIN (SELECT year(time) AS y, count(*) AS profiles
                              FROM sel GROUP BY 1) b ON a.y = b.y"""
            ).fetchall()
        }
        q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
        # (rows, total of all cells) per calendar
        self.calendars = {
            "ymd_profiles": q("SELECT count(DISTINCT (year(time), month(time))), count(*) FROM sel"),
            "ym_profiles": q("SELECT count(DISTINCT year(time)), count(*) FROM sel"),
            "md_profiles": q("SELECT count(DISTINCT month(time)), count(*) FROM sel"),
            "ymd_glider_days": q("SELECT count(DISTINCT (year(d), month(d))), count(*) FROM days"),
            "ym_glider_days": q("SELECT count(DISTINCT year(d)), count(*) FROM days"),
            "md_glider_days": q("SELECT count(DISTINCT month(d)), count(*) FROM days"),
            "ymd_deployments": q(
                "SELECT count(DISTINCT (year(d), month(d))), "
                "count(DISTINCT (year(d), month(d), day(d), dataset_id)) FROM days"
            ),
            "ym_deployments": q(
                "SELECT count(DISTINCT year(d)), "
                "count(DISTINCT (year(d), month(d), dataset_id)) FROM days"
            ),
            "md_deployments": q(
                "SELECT count(DISTINCT month(d)), "
                "count(DISTINCT (month(d), day(d), dataset_id)) FROM days"
            ),
        }
        self.api_rows, self.api_orphans = q(
            "SELECT count(*), count(*) FILTER (WHERE dataset_id NOT IN "
            "(SELECT dataset_id FROM summ)) FROM api"
        )
        con.execute(
            """CREATE TABLE gts AS SELECT DISTINCT s.dataset_id, o.time, o.platform_code,
                 o.platform_type, o.country, o.latitude, o.longitude
               FROM obs o JOIN summ s
                 ON o.platform_code = s.wmo_id AND o.time >= s.t0 AND o.time <= s.t1
               WHERE s.wmo_id IS NOT NULL AND s.wmo_id <> 'None'"""
        )
        self.gts_rows, self.gts_months = q(
            "SELECT count(*), count(DISTINCT (year(time), month(time))) FROM gts"
        )
        con.close()


class RequestTruth:
    """Per-dataset expectations for ``dataset_requests``, plus DuckDB queries
    for search and tabledap requests. The Advanced-Search CSV and the served
    files are loaded into tables of one in-memory database once; each
    thread queries it through its own cursor."""

    def __init__(self, data: str):
        self.data = data
        con = self._db = connect()
        con.execute(f"CREATE VIEW prof AS SELECT * FROM read_parquet('{data}/profiles.parquet')")
        self.per_dataset = {
            r[0]: r[1:]
            for r in con.execute(
                "SELECT dataset_id, count(*), min(time), max(time), "
                "count(DISTINCT (year(time), month(time))) FROM prof GROUP BY 1"
            ).fetchall()
        }
        self.catalog = {
            r[0]
            for r in con.execute(
                f"SELECT dataset_id FROM read_parquet('{data}/catalog.parquet')"
            ).fetchall()
        }
        path = os.path.join(data, "erddap", "search", "advanced.csv")
        con.execute("CREATE TABLE advanced AS SELECT * FROM "
                    f"read_csv('{path}', header=true, all_varchar=false)")
        self._local = threading.local()

    def _con(self) -> duckdb.DuckDBPyConnection:
        con = getattr(self._local, "con", None)
        if con is None:
            con = self._local.con = self._db.cursor()
        return con

    def search(self, params: dict) -> set[str]:
        where = ["\"Dataset ID\" <> 'allDatasets'", "NOT \"Dataset ID\" LIKE '%delayed'"]
        if "search_for" in params:
            needle = params["search_for"].lower().replace("'", "''")
            where.append(
                f"contains(lower(\"Title\" || ' ' || \"Summary\" || ' ' || \"Institution\"), '{needle}')"
            )
        for key, col, op in (("min_lat", "max_lat", ">="), ("max_lat", "min_lat", "<="),
                             ("min_lon", "max_lon", ">="), ("max_lon", "min_lon", "<=")):
            if key in params:
                where.append(f"{col} {op} {float(params[key])}")
        if "min_time" in params:
            where.append(f"CAST(max_time AS TIMESTAMPTZ) >= {_ts(params['min_time'])}")
        if "max_time" in params:
            where.append(f"CAST(min_time AS TIMESTAMPTZ) <= {_ts(params['max_time'])}")
        sql = f"SELECT \"Dataset ID\" FROM advanced WHERE {' AND '.join(where)}"
        return {r[0] for r in self._con().execute(sql).fetchall()}

    def served_spans(self, ids: list[str]) -> dict[str, tuple[int, int]]:
        """Loads each served file into a table named after its dataset id;
        returns the first and last epoch second of each."""
        con, out = self._con(), {}
        for did in ids:
            path = os.path.join(self.data, "erddap", f"{did}.csv")
            con.execute(
                f"""CREATE TABLE "{did}" AS SELECT * FROM read_csv('{path}', header=true,
                columns={{'time': 'TIMESTAMPTZ', 'latitude': 'DOUBLE', 'longitude': 'DOUBLE',
                'depth': 'DOUBLE', 'temperature': 'DOUBLE', 'salinity': 'DOUBLE'}})""")
            lo, hi = con.execute(f'SELECT epoch(min(time)), epoch(max(time)) FROM "{did}"').fetchone()
            out[did] = (int(lo), int(hi))
        return out

    def tabledap(self, dataset_id: str, t0: str, t1: str, d0: float, d1: float,
                 recent_days: int | None) -> tuple[int, int, float]:
        """(rows served, rows matching, sum of temperature over matches), over
        a file loaded by ``served_spans``."""
        src = f'"{dataset_id}"'
        recent = (f" AND time >= (SELECT max(time) FROM {src}) - INTERVAL {recent_days} DAY"
                  if recent_days else "")
        served, n, s = self._con().execute(
            f"""SELECT (SELECT count(*) FROM {src}), count(*), coalesce(sum(temperature), 0)
                FROM {src} WHERE time >= {_ts(t0)} AND time <= {_ts(t1)}
                AND depth >= {d0} AND depth <= {d1}{recent}"""
        ).fetchone()
        return served, n, s
