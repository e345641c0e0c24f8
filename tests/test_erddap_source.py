"""ERDDAP Python DataSource: pushdown translation, partitioned scans,
offline file transport."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    LessThan,
    StringStartsWith,
)

from gdutils_spark.sources.erddap import ErddapDataSource, ErddapReader, register

SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("profile_id", T.LongType()),
    ]
)


@pytest.fixture(scope="module")
def served_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("erddap")
    rows = ["time,latitude,longitude,profile_id"]
    t0 = dt.datetime(2024, 1, 1)
    for i in range(48):
        ts = t0 + dt.timedelta(hours=i)
        rows.append(f"{ts.isoformat()},{38 + i * 0.01},{-73 - i * 0.01},{i}")
    rows.append(rows[1])  # duplicate row for distinct() testing
    (d / "unit_191.csv").write_text("\n".join(rows) + "\n")
    return str(d)


def _reader(**opts) -> ErddapReader:
    from pyspark.sql.datasource import CaseInsensitiveDict

    return ErddapReader(SCHEMA, CaseInsensitiveDict(opts))


def test_pushdown_translates_comparisons():
    r = _reader(server="https://x/erddap", dataset_id="unit_191")
    unsupported = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("time",), dt.datetime(2024, 1, 1)),
                LessThan(("time",), dt.datetime(2024, 1, 2)),
                EqualTo(("profile_id",), 7),
                StringStartsWith(("station",), "u"),  # not expressible
            ]
        )
    )
    # unsupported filters are handed back for Spark to evaluate
    assert [type(f) for f in unsupported] == [StringStartsWith]
    url = r.request_url()
    assert "time>=2024-01-01T00%3A00%3A00" in url  # op verbatim, value quoted
    assert "time<2024-01-02T00%3A00%3A00" in url
    assert "profile_id=7" in url
    assert url.startswith("https://x/erddap/tabledap/unit_191.csv?")
    assert url.split("?")[1].split("&")[0] == "time,latitude,longitude,profile_id"


def test_partition_windows():
    r = _reader(
        server="https://x/erddap",
        dataset_id="unit_191",
        partition_col="time",
        partition_bounds="2024-01-01,2024-02-01,2024-03-01",
    )
    parts = r.partitions()
    assert len(parts) == 2
    assert "time>=2024-01-01" in r.request_url(parts[0])
    assert "time<2024-02-01" in r.request_url(parts[0])
    assert "time>=2024-02-01" in r.request_url(parts[1])


def test_end_to_end_file_transport(spark, served_dir):
    register(spark)
    df = (
        spark.read.format("erddap")
        .schema(SCHEMA)
        .option("server", f"file://{served_dir}")
        .option("dataset_id", "unit_191")
        .option("distinct", "true")
        .load()
        .where(F.col("time") >= F.lit("2024-01-01 12:00:00").cast("timestamp"))
        .where(F.col("time") < F.lit("2024-01-02 12:00:00").cast("timestamp"))
    )
    rows = df.collect()
    assert len(rows) == 24  # hours 12..35, duplicate removed by distinct()
    assert all(r["profile_id"] >= 12 for r in rows)


def test_end_to_end_partitioned(spark, served_dir):
    register(spark)
    df = (
        spark.read.format("erddap")
        .schema(SCHEMA)
        .option("server", f"file://{served_dir}")
        .option("dataset_id", "unit_191")
        .option("distinct", "true")
        .option("partition_col", "time")
        .option("partition_bounds", "2024-01-01,2024-01-02,2024-01-04")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 48


# --- Advanced search --------------------------------------------------------

from gdutils_spark.sources.erddap import (  # noqa: E402
    SEARCH_COLUMNS,
    advanced_search_url,
    search_catalog,
)


def test_advanced_search_url_build():
    url = advanced_search_url(
        "https://gliders.example.org/erddap",
        {
            "search_for": "ru29 summer",
            "min_time": "2024-01-01T00:00",
            "max_time": "2024-02-01T00:00",
            "min_lat": -10,
            "max_lat": 45.5,
            "min_lon": -74,
            "max_lon": -60,
            "institution": "Rutgers",
        },
        items_per_page=500,
    )
    assert url.startswith(
        "https://gliders.example.org/erddap/search/advanced.csv?"
    )
    q = dict(p.split("=", 1) for p in url.split("?", 1)[1].split("&"))
    # kwarg → ERDDAP parameter-name mapping + percent-encoding
    assert q["searchFor"] == "ru29+summer"
    assert q["minTime"] == "2024-01-01T00%3A00"
    assert q["minLat"] == "-10" and q["maxLat"] == "45.5"
    assert q["minLon"] == "-74" and q["maxLon"] == "-60"
    assert q["institution"] == "Rutgers"
    assert q["itemsPerPage"] == "500" and q["page"] == "1"
    # unconstrained categorical params sent as (ANY)
    assert q["protocol"] == "%28ANY%29"
    assert q["standard_name"] == "%28ANY%29"


def test_advanced_search_url_rejects_unknown_kwargs():
    with pytest.raises(ValueError, match="bogus"):
        advanced_search_url("https://x/erddap", {"bogus": 1})


@pytest.fixture(scope="module")
def search_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("erddap_search")
    (d / "search").mkdir()
    header = (
        "griddap,Subset,tabledap,Make A Graph,wms,files,Title,Summary,"
        "FGDC,ISO 19115,Info,Background Info,RSS,Email,Institution,"
        "Dataset ID,min_time,max_time,min_lat,max_lat,min_lon,max_lon"
    )
    rows = [
        header,
        ",,https://x/tabledap/ru29-1,,,,ru29 deployment 1,Slocum glider ru29,"
        ",,,,,,Rutgers,ru29-20240101T0000,"
        "2024-01-01T00:00,2024-03-01T00:00,35.0,41.0,-74.0,-70.0",
        ",,https://x/tabledap/ru29-1d,,,,ru29 deployment 1 delayed,delayed ru29,"
        ",,,,,,Rutgers,ru29-20240101T0000-delayed,"
        "2024-01-01T00:00,2024-03-01T00:00,35.0,41.0,-74.0,-70.0",
        ",,https://x/tabledap/sg610,,,,sg610 arctic,Seaglider sg610,"
        ",,,,,,UW,sg610-20230601T0000,"
        "2023-06-01T00:00,2023-09-01T00:00,70.0,75.0,-160.0,-150.0",
        ",,,,,,All datasets,registry row,,,,,,,Many,allDatasets,,,,,,",
    ]
    (d / "search" / "advanced.csv").write_text("\n".join(rows) + "\n")
    return str(d)


def test_search_source_file_transport(spark, search_dir):
    df = search_catalog(spark, f"file://{search_dir}", {"search_for": "ru29"})
    assert df.columns == list(SEARCH_COLUMNS)
    ids = {r["dataset_id"] for r in df.collect()}
    assert ids == {"ru29-20240101T0000", "ru29-20240101T0000-delayed"}


def test_search_source_extent_intersection(spark, search_dir):
    def search(**params):
        df = search_catalog(spark, f"file://{search_dir}", params)
        return {row["dataset_id"] for row in df.collect()}

    # time window overlapping only the 2023 arctic deployment
    assert search(
        min_time="2023-07-01T00:00", max_time="2023-08-01T00:00"
    ) == {"sg610-20230601T0000"}
    # bbox overlapping only the mid-atlantic deployments
    assert search(min_lat="30", max_lat="45") == {
        "ru29-20240101T0000",
        "ru29-20240101T0000-delayed",
    }


def test_search_empty_column_is_null_not_nan(spark, search_dir):
    """An Advanced-Search column that is empty on every row (``griddap``
    here) is read by pandas as all-NaN float64; it must come back as
    NULL strings, never the literal 'nan'."""
    rows = search_catalog(spark, f"file://{search_dir}").collect()
    assert len(rows) == 4
    assert {r["griddap"] for r in rows} == {None}
    # a partly-empty column keeps its values and NULLs its gaps
    assert {r["tabledap"] for r in rows} == {
        "https://x/tabledap/ru29-1",
        "https://x/tabledap/ru29-1d",
        "https://x/tabledap/sg610",
        None,
    }


def test_client_live_search(spark, search_dir):
    from gdutils_spark.client import GdacClient

    c = GdacClient(spark, server=f"file://{search_dir}")
    c.search_datasets(params={"search_for": "ru29"})
    ids = {r["dataset_id"] for r in c.datasets.collect()}
    # delayed-mode excluded by default, allDatasets row dropped
    assert ids == {"ru29-20240101T0000"}


def test_catalog_only_client_names_missing_profiles_feed(spark, search_dir):
    """A catalog-only client (live search, no profiles feed) must say the
    FEED is missing when a profile-backed property is hit after a
    successful search — not 'call search_datasets() first'."""
    from gdutils_spark.client import GdacClient

    c = GdacClient(spark, server=f"file://{search_dir}")
    c.search_datasets()
    with pytest.raises(RuntimeError, match="profiles feed"):
        c.datasets_summaries


def test_transport_numeric_column_named_like_time(tmp_path):
    """Time-ness comes from the data, not the name: a numeric 'airtime'
    column must compare numerically — in plain constraints AND in
    functional (max(col)-offset) ones — instead of being coerced through
    pd.to_datetime because its name contains 'time'."""
    from gdutils_spark.sources.erddap import _file_transport

    (tmp_path / "unit_x.csv").write_text("airtime,station\n5,a\n15,b\n25,c\n")
    base = f"file://{tmp_path}/tabledap/unit_x.csv"
    got = _file_transport(f"{base}?airtime,station&airtime>=10", None)
    assert list(got["airtime"]) == [15, 25]
    got = _file_transport(f"{base}?airtime,station&airtime>=max(airtime)-10", None)
    assert list(got["airtime"]) == [15, 25]


# --- Functional constraints -------------------------------------------------


def test_recent_option_builds_functional_constraint():
    r = _reader(
        server="https://x/erddap", dataset_id="unit_191", recent="24hours"
    )
    url = r.request_url()
    assert "time%3E%3Dmax%28time%29-24hours" in url or "time>=max(time)-24hours" in (
        __import__("urllib.parse", fromlist=["unquote"]).unquote(url)
    )


def test_recent_file_transport_evaluates_functional(spark, served_dir):
    register(spark)
    df = (
        spark.read.format("erddap")
        .schema(SCHEMA)
        .option("server", f"file://{served_dir}")
        .option("dataset_id", "unit_191")
        .option("distinct", "true")
        .option("recent", "24hours")
        .load()
    )
    rows = df.collect()
    # data spans 48 hourly fixes; max(time)-24hours keeps the last 25
    assert len(rows) == 25
    assert all(r["profile_id"] >= 23 for r in rows)


def test_extra_constraints_pass_through():
    r = _reader(
        server="https://x/erddap",
        dataset_id="unit_191",
        extra_constraints="depth>=10;depth<=100",
    )
    url = __import__("urllib.parse", fromlist=["unquote"]).unquote(r.request_url())
    assert "depth>=10" in url and "depth<=100" in url


def test_transport_digit_like_string_column_compares_as_string(tmp_path):
    """A numeric-looking bound against a STRING column must stay a string
    comparison (float-vs-str raises in pandas): zero-padded station ids
    filter lexicographically, which for fixed-width ids is also numeric
    order."""
    from gdutils_spark.sources.erddap import _file_transport

    (tmp_path / "unit_s.csv").write_text(
        "station,val\n00123,1\n00456,2\nA99,3\n"
    )
    base = f"file://{tmp_path}/tabledap/unit_s.csv"
    got = _file_transport(f"{base}?station,val&station>=00200", None)
    assert list(got["station"]) == ["00456", "A99"]


def test_partition_last_window_is_closed():
    """The final window is [lo, hi] — with bounds = [extent_min,
    extent_max], a half-open last window would silently drop rows on
    the dataset's max bound (no residual filter to re-apply)."""
    r = _reader(
        server="https://x/erddap",
        dataset_id="unit_191",
        partition_col="time",
        partition_bounds="2024-01-01,2024-02-01,2024-03-01",
    )
    parts = r.partitions()
    assert "time<2024-02-01" in r.request_url(parts[0])
    assert "time<=2024-03-01" in r.request_url(parts[1])


def test_transport_boundary_row_not_dropped(spark, tmp_path):
    """End-to-end: the row sitting exactly on the final partition bound
    is scanned."""
    register(spark)
    (tmp_path / "unit_b.csv").write_text(
        "time,latitude,longitude,profile_id\n"
        "2024-01-01T00:00:00,38.0,-73.0,0\n"
        "2024-02-01T00:00:00,38.1,-73.1,1\n"
        "2024-03-01T00:00:00,38.2,-73.2,2\n"
    )
    df = (
        spark.read.format("erddap")
        .schema(SCHEMA)
        .option("server", f"file://{tmp_path}")
        .option("dataset_id", "unit_b")
        .option("partition_col", "time")
        .option("partition_bounds", "2024-01-01,2024-02-01,2024-03-01")
        .load()
    )
    assert sorted(r["profile_id"] for r in df.collect()) == [0, 1, 2]


def test_reader_missing_values_become_null(spark, tmp_path):
    """Gaps in integer/string columns land as NULL, not an Arrow crash
    or the literal string 'nan' (pandas reads a gappy long column as
    float64+NaN)."""
    register(spark)
    (tmp_path / "unit_n.csv").write_text(
        "time,station,profile_id\n"
        "2024-01-01T00:00:00,ru29,1\n"
        "2024-01-02T00:00:00,,\n"
    )
    schema = T.StructType(
        [
            T.StructField("time", T.TimestampType()),
            T.StructField("station", T.StringType()),
            T.StructField("profile_id", T.LongType()),
        ]
    )
    rows = {
        r["profile_id"]: r["station"]
        for r in (
            spark.read.format("erddap")
            .schema(schema)
            .option("server", f"file://{tmp_path}")
            .option("dataset_id", "unit_n")
            .load()
            .collect()
        )
    }
    assert rows == {1: "ru29", None: None}


def test_pushed_string_filters_are_quoted_and_bools_declined(spark, tmp_path):
    """String constraint values carry the tabledap double quotes (a bare
    value is HTTP 400 on a live server); the file transport strips them,
    so the pushed filter matches. Boolean filters are NOT pushed (no
    tabledap literal form) — they stay Spark-side residuals."""
    from pyspark.sql.datasource import EqualTo

    r = _reader(server="https://x/erddap", dataset_id="unit_x")
    residual = list(r.pushFilters([EqualTo(("station",), "ru29"),
                                   EqualTo(("flag",), True)]))
    assert 'station=%22ru29%22' in r.request_url() or 'station="ru29"' in (
        r.request_url().replace("%22", '"')
    )
    assert len(residual) == 1  # the boolean came back as a residual
    # end-to-end through the transport
    register(spark)
    (tmp_path / "unit_s.csv").write_text(
        "time,station,profile_id\n"
        "2024-01-01T00:00:00,ru29,1\n"
        "2024-01-02T00:00:00,ru30,2\n"
    )
    schema = T.StructType(
        [
            T.StructField("time", T.TimestampType()),
            T.StructField("station", T.StringType()),
            T.StructField("profile_id", T.LongType()),
        ]
    )
    got = (
        spark.read.format("erddap")
        .schema(schema)
        .option("server", f"file://{tmp_path}")
        .option("dataset_id", "unit_s")
        .load()
        .where(F.col("station") == "ru29")
        .collect()
    )
    assert [r["profile_id"] for r in got] == [1]


def test_transport_distinct_applies_to_projection(spark, tmp_path):
    """tabledap applies distinct() to the PROJECTED result — rows
    differing only in unrequested columns must collapse."""
    register(spark)
    (tmp_path / "unit_d.csv").write_text(
        "time,latitude,longitude,profile_id\n"
        "2024-01-01T00:00:00,38.0,-73.0,1\n"
        "2024-01-01T00:00:00,38.0,-73.5,2\n"
    )
    schema = T.StructType(
        [
            T.StructField("time", T.TimestampType()),
            T.StructField("latitude", T.DoubleType()),
        ]
    )
    got = (
        spark.read.format("erddap")
        .schema(schema)
        .option("server", f"file://{tmp_path}")
        .option("dataset_id", "unit_d")
        .option("distinct", "true")
        .load()
        .collect()
    )
    assert len(got) == 1  # server semantics: distinct over (time, lat)


def test_constraint_tz_aware_normalizes_to_utc():
    """A tz-aware non-UTC timestamp must serialize as the UTC instant
    with ONE Z suffix — naively appending Z to '...+05:00' is both a
    malformed tabledap literal and a wrong time bound."""
    from gdutils_spark.sources.erddap import _constraint

    tz5 = dt.timezone(dt.timedelta(hours=5))
    got = _constraint(
        GreaterThanOrEqual(("time",), dt.datetime(2024, 1, 1, 5, 0, tzinfo=tz5))
    )
    assert got == "time>=2024-01-01T00:00:00Z"
    # explicit-UTC aware value: same path, no double suffix
    got = _constraint(
        GreaterThanOrEqual(
            ("time",), dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        )
    )
    assert got == "time>=2024-01-01T00:00:00Z"
    # naive value keeps the UTC-pinned-session contract
    got = _constraint(GreaterThanOrEqual(("time",), dt.datetime(2024, 1, 1)))
    assert got == "time>=2024-01-01T00:00:00Z"


def test_search_pagination_exact_multiple_tolerates_past_end(spark, monkeypatch):
    """A catalog row count that is an exact multiple of items_per_page
    makes the paginator request one page past the end; a live server
    answers that with an HTTP error document — it must be treated as
    the empty page it means, not fail the whole search. A FIRST-page
    error still raises."""
    import urllib.error
    import urllib.parse

    import pandas as pd

    pages = {
        1: pd.DataFrame({"Dataset ID": ["a", "b"]}),
        2: pd.DataFrame({"Dataset ID": ["c", "d"]}),  # exact multiple...
    }

    def serve(failing: dict[int, int]):
        """A fake ``pd.read_csv`` answering each page from ``pages``, or
        with the HTTP status ``failing`` maps it to."""

        def read_csv(url):
            q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
            page = int(q["page"][0])
            if page in failing:
                raise urllib.error.HTTPError(url, failing[page], "error", None, None)
            return pages[page]

        return read_csv

    def search():
        df = search_catalog(spark, "https://x/erddap", items_per_page=2)
        return [r["dataset_id"] for r in df.collect()]

    # ...so page 3 is a server 404 document
    monkeypatch.setattr(pd, "read_csv", serve({3: 404}))
    assert search() == ["a", "b", "c", "d"]
    # first-page failure is a real error, not exhausted pagination
    monkeypatch.setattr(pd, "read_csv", serve({1: 404}))
    with pytest.raises(urllib.error.HTTPError):
        search()
    # a TRANSIENT follow-up failure (503) must raise, not silently
    # truncate the catalog to the pages fetched so far
    monkeypatch.setattr(pd, "read_csv", serve({2: 503}))
    with pytest.raises(urllib.error.HTTPError):
        search()


def test_transport_string_value_with_operator_chars(spark, tmp_path):
    """A pushed string value containing <, > or = stays whole: the
    constraint's operator is the first one after the variable name, not
    any operator character found in the value."""
    register(spark)
    (tmp_path / "unit_o.csv").write_text(
        "time,station,profile_id\n"
        "2024-01-01T00:00:00,a<b,1\n"
        "2024-01-02T00:00:00,x>=y,2\n"
        "2024-01-03T00:00:00,c,3\n"
    )
    schema = T.StructType(
        [
            T.StructField("time", T.TimestampType()),
            T.StructField("station", T.StringType()),
            T.StructField("profile_id", T.LongType()),
        ]
    )
    df = (
        spark.read.format("erddap")
        .schema(schema)
        .option("server", f"file://{tmp_path}")
        .option("dataset_id", "unit_o")
        .load()
    )
    got = df.where(F.col("station") == "a<b").collect()
    assert [r["profile_id"] for r in got] == [1]
    got = df.where(F.col("station") == "x>=y").collect()
    assert [r["profile_id"] for r in got] == [2]
