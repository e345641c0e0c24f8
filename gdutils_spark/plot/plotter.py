"""ErddapPlotter: server-rendered plot URL builder (K6).

Parity surface for ``/root/reference/gdutils/plot/plotter.py:9`` — a
stateful builder that accumulates validated plot parameters (colorbar,
marker, ranges, zoom, ...) and tabledap constraints, then composes the
ERDDAP ``.png``/``.pdf`` image request URL. This is pure string/URL
work: no engine involvement beyond an optional catalog DataFrame used to
validate dataset ids (the reference fetches the whole catalog over HTTP
at construction, ``plotter.py:240-260``; here any catalog table — e.g. a
parquet scan — serves, and validation collects just the matching id via
a pushed-down filter).

The image *download* is a deliberately thin HTTP helper gated behind an
import-try: rendering happens server-side and is out of engine scope
(SURVEY.md §2.1 K6).
"""

from __future__ import annotations

from urllib.parse import quote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMG_TYPES = [
    "smallPdf", "pdf", "largePdf",
    "smallPng", "png", "largePng", "transparentPng",
]

LEGEND_OPTIONS = ["Bottom", "Off", "Only"]
LINE_STYLES = ["lines", "linesAndMarkers", "markers", "sticks", "vectors"]
MARKER_TYPES = [
    "None", "Plus", "X", "Dot", "Square", "Filled Square", "Circle",
    "Filled Circle", "Up Triangle", "Filled Up Triangle",
]
MARKER_COLOR_CODES = [
    "FFFFFF", "CCCCCC", "999999", "666666", "000000", "FF0000", "FF9900",
    "FFFF00", "99FF00", "00FF00", "00FF99", "00FFFF", "0099FF", "0000FF",
    "9900FF", "FF00FF", "FF99FF",
]
MARKER_COLORS = [
    "white", "light grey", "grey", "dark grey", "black", "red", "orange",
    "yellow", "light green", "green", "blue green", "cyan", "blue",
    "dark blue", "purple", "pink", "light pink",
]
COLORS = dict(zip(MARKER_COLORS, MARKER_COLOR_CODES))
CONTINUOUS_OPTIONS = ["C", "D"]
SCALE_OPTIONS = ["Linear", "Log"]
COLORBARS = [
    "BlackBlueWhite", "BlackGreenWhite", "BlackRedWhite", "BlackWhite",
    "BlueWhiteRed", "BlueWideWhiteRed", "LightRainbow", "Ocean",
    "OceanDepth", "Rainbow", "Rainbow2", "Rainfall", "ReverseRainbow",
    "RedWhiteBlue", "RedWhiteBlue2", "RedWideWhiteBlue", "Spectrum",
    "Topography", "TopographyDepth", "WhiteBlueBlack", "WhiteGreenBlack",
    "WhiteRedBlack", "WhiteBlack", "YellowRed", "KT_algae", "KT_amp",
    "KT_balance", "KT_curl", "KT_deep", "KT_delta", "KT_dense", "KT_gray",
    "KT_haline", "KT_ice", "KT_matter", "KT_oxy", "KT_phase", "KT_solar",
    "KT_speed", "KT_tempo", "KT_thermal", "KT_turbid",
]
ZOOM_LEVELS = ["in", "in2", "in8", "out", "out2", "out8"]

DEFAULT_PLOT_PARAMETERS = {
    ".bgColor=": "0xFFFFFF",
    ".color=": "0x000000",
    ".colorBar=": "Rainbow2|C|Linear|||",
    ".draw=": "markers",
    ".legend=": "Bottom",
    ".marker=": "6|5",
    ".xRange=": "||true|Linear",
    ".yRange=": "||false|Linear",
}


class ErddapPlotter:
    """Validated builder of ERDDAP server-rendered image request URLs.

    Parameters
    ----------
    server : str
        ERDDAP base URL (e.g. ``https://gliders.ioos.us/erddap``).
    catalog : DataFrame, optional
        Catalog with a ``dataset_id`` column; when given,
        :meth:`build_image_request` validates ids against it.
    protocol, response : str
        URL path parts (``tabledap``; an image type from IMG_TYPES).
    """

    def __init__(
        self,
        server: str,
        catalog: DataFrame | None = None,
        protocol: str = "tabledap",
        response: str = "png",
    ):
        if response not in IMG_TYPES:
            raise ValueError(f"Invalid image response type specified: {response}")
        self._server = server.rstrip("/")
        self._protocol = protocol
        self._response = response
        self._catalog = catalog
        self._constraints: dict[str, object] = {}
        self._plot_parameters = dict(DEFAULT_PLOT_PARAMETERS)
        self._image_url = ""
        self._last_request = ""

    # -- properties ---------------------------------------------------------

    @property
    def server(self) -> str:
        return self._server

    @property
    def protocol(self) -> str:
        return self._protocol

    @property
    def last_request(self) -> str:
        """Most recent URL composed or fetched (reference
        ``plotter.py:229-231``)."""
        return self._last_request

    @property
    def datasets(self) -> DataFrame | None:
        """The catalog backing dataset-id validation (the reference
        fetches it over HTTP at construction, ``plotter.py:240-260``;
        here it is a DataFrame — supplied up front or loaded lazily by
        :meth:`fetch_erddap_datasets`)."""
        return self._catalog

    def fetch_erddap_datasets(self, spark) -> DataFrame:
        """Load the server's dataset catalog with an unconstrained
        Advanced Search (reference ``plotter.py:240-260`` does the same
        blocking ``pd.read_csv`` of that endpoint). The result is the
        catalog used by :meth:`dataset_exists`."""
        from gdutils_spark.sources.erddap import search_catalog

        self._catalog = search_catalog(spark, self._server)
        return self._catalog

    @property
    def response(self) -> str:
        return self._response

    @response.setter
    def response(self, response_type: str) -> None:
        if response_type not in IMG_TYPES:
            raise ValueError(f"Invalid image response type specified: {response_type}")
        self._response = response_type

    @property
    def plot_parameters(self) -> dict:
        return self._plot_parameters

    @property
    def constraints(self) -> dict:
        return self._constraints

    @property
    def plot_query(self) -> str:
        return "&".join(
            f"{k}{quote(str(v))}" for k, v in self._plot_parameters.items()
        )

    @property
    def constraints_query(self) -> str:
        return "&".join(
            f"{k}{quote(str(v))}" for k, v in self._constraints.items()
        )

    @property
    def image_url(self) -> str:
        return self._image_url

    @property
    def colorbars(self) -> list[str]:
        return list(COLORBARS)

    # -- plot-parameter setters (validated no-ops on bad input, like the
    # -- reference's early returns) -----------------------------------------

    def set_bg_color(self, color: str = "white") -> None:
        if color in COLORS:
            self._plot_parameters[".bgColor="] = f"0x{COLORS[color]}"

    def set_marker_color(self, color: str = "white") -> None:
        if color in COLORS:
            self._plot_parameters[".color="] = f"0x{COLORS[color]}"

    def set_colorbar(
        self,
        colorbar: str = "Rainbow2",
        continuous: str | None = None,
        scale: str | None = None,
        min: object = "",
        max: object = "",
        num_sections: object = "",
    ) -> None:
        continuous = continuous or CONTINUOUS_OPTIONS[0]
        scale = scale or SCALE_OPTIONS[0]
        if (
            colorbar in COLORBARS
            and continuous in CONTINUOUS_OPTIONS
            and scale in SCALE_OPTIONS
        ):
            self._plot_parameters[".colorBar="] = (
                f"{colorbar}|{continuous}|{scale}|{min}|{max}|{num_sections}"
            )

    def set_line_style(self, line_style: str = "markers") -> None:
        if line_style in LINE_STYLES:
            self._plot_parameters[".draw="] = line_style

    def set_legend_loc(self, location: str = "Bottom") -> None:
        if location in LEGEND_OPTIONS:
            self._plot_parameters[".legend="] = location

    def set_marker_style(self, marker: str = "Circle", marker_size: int = 5) -> None:
        if marker in MARKER_TYPES:
            self._plot_parameters[".marker="] = (
                f"{MARKER_TYPES.index(marker)}|{marker_size}"
            )

    def set_x_range(
        self,
        min_val: object = "",
        max_val: object = "",
        ascending: bool = True,
        scale: str | None = None,
    ) -> None:
        scale = scale or SCALE_OPTIONS[0]
        if scale in SCALE_OPTIONS:
            self._plot_parameters[".xRange="] = (
                f"{min_val}|{max_val}|{str(ascending).lower()}|{scale}"
            )

    def set_y_range(
        self,
        min_val: object = "",
        max_val: object = "",
        ascending: bool = False,
        scale: str | None = None,
    ) -> None:
        scale = scale or SCALE_OPTIONS[0]
        if scale in SCALE_OPTIONS:
            self._plot_parameters[".yRange="] = (
                f"{min_val}|{max_val}|{str(ascending).lower()}|{scale}"
            )

    def set_zoom(self, zoom_level: str = "in") -> None:
        if zoom_level in ZOOM_LEVELS:
            self._plot_parameters[".zoom="] = zoom_level

    def set_trim_pixels(self, num_pixels: int = 10) -> None:
        self._plot_parameters[".trim="] = str(num_pixels)

    # -- constraints --------------------------------------------------------

    def add_constraint(self, constraint: str, constraint_value: object) -> None:
        self._constraints[constraint] = constraint_value

    def remove_constraint(self, constraint: str) -> None:
        if not constraint.endswith("="):
            constraint = f"{constraint}="
        self._constraints.pop(constraint, None)

    def remove_plot_parameter(self, plot_parameter: str) -> None:
        if not plot_parameter.endswith("="):
            plot_parameter = f"{plot_parameter}="
        self._plot_parameters.pop(plot_parameter, None)

    def reset_plot_params(self) -> None:
        self._plot_parameters = dict(DEFAULT_PLOT_PARAMETERS)

    # -- query-string builders (reference plotter.py:451-457 method forms) --

    def build_plot_query_string(self) -> str:
        return self.plot_query

    def build_constraints_query_string(self) -> str:
        return self.constraints_query

    # -- request build ------------------------------------------------------

    def dataset_exists(self, dataset_id: str) -> bool:
        if self._catalog is None:
            return True
        return (
            self._catalog.where(F.col("dataset_id") == dataset_id).limit(1).count()
            > 0
        )

    def build_image_request(self, dataset_id: str, x: str, y: str, c: str | None = None) -> str:
        """Compose ``{server}/{protocol}/{dataset_id}.{response}?vars&
        constraints&plot-params`` (``plotter.py:451-490`` layout)."""
        if not self.dataset_exists(dataset_id):
            raise KeyError(f"Dataset ID {dataset_id} does not exist")
        variables = [x, y] + ([c] if c else [])
        parts = [",".join(variables)]
        if self._constraints:
            parts.append(self.constraints_query)
        parts.append(self.plot_query)
        self._image_url = (
            f"{self._server}/{self._protocol}/{dataset_id}.{self._response}?"
            + "&".join(parts)
        )
        self._last_request = self._image_url
        return self._image_url

    def download_image(self, image_url: str, image_path: str) -> str | None:
        """Thin HTTP fetch of the server-rendered image (out of engine
        scope; requires `requests`)."""
        import os

        import requests

        if not os.path.isdir(os.path.dirname(image_path) or "."):
            raise NotADirectoryError(image_path)
        self._last_request = image_url
        r = requests.get(image_url, stream=True, timeout=60)
        if r.status_code != 200:
            return None
        with open(image_path, "wb") as f:
            for chunk in r.iter_content(chunk_size=1 << 16):
                f.write(chunk)
        return image_path

    def __repr__(self) -> str:
        return (
            f"<ErddapPlotter(server={self._server}, response={self._response})>"
        )
