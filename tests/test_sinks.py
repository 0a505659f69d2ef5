"""Sink format tests mirroring the reference's test_5_gssha.py: file
exists/suffix, line-count growth on hot start, one GRASS file per
timestep, WES column structure."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.sinks.gssha import (
    HMET_VARIABLES,
    make_grass_ascii,
    make_hmet_wes,
    make_precipitation_input,
)
from xarray_dataaccessor_spark.sinks.tables import save_dataframe

from tests.grid_fixture import T0, XS, YS, grid_df


@pytest.fixture(scope="module")
def small_grid(spark):
    # 5 timesteps x 3x2 cells to keep sink files tiny
    df = (
        grid_df(spark, with_nulls=False)
        .filter(
            (F.col("time") < T0 + dt.timedelta(hours=5))
            & F.col("x").isin(XS[:3])
            & F.col("y").isin(YS[:2])
        )
        .cache()
    )
    df.count()
    return df


def test_precipitation_gag(small_grid, tmp_path):
    # exists + suffix + header structure (test_5_gssha.py:33-47)
    path = make_precipitation_input(
        small_grid, "t2m", file_dir=tmp_path, file_name="precip"
    )
    assert path.exists() and path.suffix == ".gag"
    lines = path.read_text().splitlines()
    assert lines[0] == "EVENT precipitation_event_1"
    assert lines[1] == "NRPDS 30"  # 5 timesteps x 6 cells, long-row count
    assert lines[2] == "NRGAG 6"
    assert sum(1 for l in lines if l.startswith("COORD ")) == 6
    gage_lines = [l for l in lines if l.startswith("GAGES ")]
    assert len(gage_lines) == 5
    # one value per gage after the 5 datetime fields
    assert all(len(l.split()) == 6 + 6 for l in gage_lines)

    # hot start appends (test_5_gssha.py:48-55)
    n_before = len(lines)
    make_precipitation_input(
        small_grid, "t2m", file_dir=tmp_path, file_name="precip", hot_start=True
    )
    assert len(path.read_text().splitlines()) > n_before


_GOLDEN_COORDS = (
    'NRGAG 6\n'
    'COORD -83.5 42.75 "Center of precipitation pixel #1"\n'
    'COORD -83.5 42.5 "Center of precipitation pixel #2"\n'
    'COORD -83.25 42.75 "Center of precipitation pixel #3"\n'
    'COORD -83.25 42.5 "Center of precipitation pixel #4"\n'
    'COORD -83.0 42.75 "Center of precipitation pixel #5"\n'
    'COORD -83.0 42.5 "Center of precipitation pixel #6"\n'
)
_GOLDEN_STEPS = (
    "GAGES 2019 01 30 00 00 0.0 0.42857142857142855 0.14285714285714285 "
    "0.5714285714285714 0.2857142857142857 0.7142857142857143\n",
    "GAGES 2019 01 30 01 00 0.8571428571428571 1.2857142857142858 1.0 None "
    "1.1428571428571428 1.5714285714285714\n",
    "GAGES 2019 01 30 02 00 1.7142857142857142 2.142857142857143 "
    "1.8571428571428572 2.2857142857142856 2.0 2.4285714285714284\n",
    "GAGES 2019 01 30 03 00 2.5714285714285716 3.0 2.7142857142857144 "
    "3.142857142857143 2.857142857142857 3.2857142857142856\n",
)


def test_precipitation_gag_golden_bytes(spark, tmp_path):
    """Byte-exact .gag: 4 hourly steps x 3x2 cells with one null cell,
    two explicit event windows, then a hot-start append of the default
    whole-extent event. The bytes were rendered by the pivot-based sink
    (a Spark groupBy/pivot per event); the driver-side matrix must
    reproduce them exactly."""
    xs, ys = [-83.5, -83.25, -83.0], [42.75, 42.5]
    rows = [
        (T0 + dt.timedelta(hours=t), y, x,
         None if (t, i, j) == (1, 1, 1) else (t * 6 + j * 3 + i) / 7.0)
        for t in range(4)
        for j, y in enumerate(ys)
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "time timestamp, y double, x double, tp double")
    hour = lambda h: T0 + dt.timedelta(hours=h)  # noqa: E731
    path = make_precipitation_input(
        df, "tp", file_dir=tmp_path, file_name="golden",
        event_intervals=[("storm_a", hour(0), hour(1)), ("storm_b", hour(2), hour(3))],
    )
    make_precipitation_input(
        df, "tp", file_dir=tmp_path, file_name="golden", hot_start=True
    )
    s = _GOLDEN_STEPS
    want = (
        "EVENT storm_a\nNRPDS 12\n" + _GOLDEN_COORDS + s[0] + s[1]
        + "\nEVENT storm_b\nNRPDS 12\n" + _GOLDEN_COORDS + s[2] + s[3]
        + "EVENT precipitation_event_1\nNRPDS 24\n" + _GOLDEN_COORDS + "".join(s)
    )
    assert path.read_bytes() == want.encode("ascii")


def test_precipitation_gag_guard_counts_sparse_networks_exactly(spark, tmp_path):
    """``max_gages`` bounds the distinct cells, not the axes product:
    three cells on a diagonal span 3 x 3 axes, and 8 still renders them
    (the product only accepts for free; past it the cells are counted),
    while 2 refuses them."""
    rows = [(T0, 42.0 + i, -83.0 + i, float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "time timestamp, y double, x double, tp double")
    path = make_precipitation_input(df, "tp", file_dir=tmp_path, max_gages=8)
    assert path.read_text().splitlines()[2] == "NRGAG 3"
    with pytest.raises(ValueError, match="max_gages=2"):
        make_precipitation_input(df, "tp", file_dir=tmp_path, max_gages=2)


def test_grass_ascii_one_file_per_timestep(small_grid, tmp_path):
    paths = make_grass_ascii(small_grid, "t2m", file_dir=tmp_path)
    assert len(paths) == 5  # test_5_gssha.py:58-73
    for p in paths:
        assert p.suffix == ".asc"
        lines = p.read_text().splitlines()
        assert lines[0].startswith("north: ")
        assert lines[4] == "rows: 2" and lines[5] == "cols: 3"
        assert len(lines) == 6 + 2  # header + one row per y
        assert all(len(r.split()) == 3 for r in lines[6:])
    # YYYYMMDDHH_<var>.asc naming
    assert paths[0].name == "2019013000_t2m.asc"


def test_hmet_wes(small_grid, tmp_path):
    path = make_hmet_wes(
        small_grid,
        {"t2m": "Dry Bulb Temperature", "u100": "Wind Speed"},
        file_dir=tmp_path,
        file_name="wes_test",
    )
    assert path.exists()
    lines = path.read_text().splitlines()
    assert len(lines) == 5
    fields = lines[0].split()
    # 5 datetime fields + 7 HMET columns in wes_index order
    assert len(fields) == 5 + len(HMET_VARIABLES)
    # unmapped Barometric Pressure column (index 0 after datetime) is nodata
    assert fields[5] == "99.999"


def test_hmet_wes_nearest_cell(small_grid, tmp_path):
    path = make_hmet_wes(
        small_grid,
        {"t2m": "Dry Bulb Temperature"},
        xy_coords=(XS[0] + 0.05, YS[1] - 0.02),
        file_dir=tmp_path,
        file_name="wes_nearest",
    )
    assert len(path.read_text().splitlines()) == 5


def test_save_dataframe_formats(small_grid, tmp_path):
    p1 = save_dataframe(small_grid, tmp_path, "t2m", "parquet")
    assert p1.exists()
    p2 = save_dataframe(small_grid, tmp_path, "t2m", "csv")
    assert p2.exists()
    with pytest.raises(ValueError):
        save_dataframe(small_grid, tmp_path, "t2m", "bogus")


def test_save_dataframe_xlsx_roundtrip(spark, tmp_path):
    """The pure-stdlib xlsx sink produces a valid SpreadsheetML package:
    verify the zip structure and cell values by parsing the sheet XML
    (no openpyxl in this container — that absence is why the writer
    exists)."""
    import zipfile
    import xml.etree.ElementTree as ET

    df = spark.createDataFrame(
        [(1, "alpha", 1.5, True), (2, "beta <&> check", 2.25, False), (3, None, None, None)],
        "id bigint, name string, score double, flag boolean",
    )
    path = save_dataframe(df.orderBy("id"), tmp_path, "sheet_test", "xlsx")
    assert path.exists() and path.suffix == ".xlsx"
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml", "xl/worksheets/sheet1.xml"} <= names
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    rows = sheet.findall(".//m:row", ns)
    assert len(rows) == 4  # header + 3 data rows
    header = [t.text for t in rows[0].findall(".//m:t", ns)]
    assert header == ["id", "name", "score", "flag"]
    # row 2: numeric id, inline string with escaping round-tripped, double, bool
    row2 = rows[2]
    cells = row2.findall("m:c", ns)
    assert cells[0].find("m:v", ns).text == "2"
    assert row2.find('.//m:t', ns).text == "beta <&> check"
    assert cells[2].find("m:v", ns).text == "2.25"
    assert cells[3].get("t") == "b" and cells[3].find("m:v", ns).text == "0"
    # nulls become empty cells (no <v>, no <is>)
    row3 = rows[3]
    empty = row3.findall("m:c", ns)[1]
    assert empty.find("m:v", ns) is None and empty.find("m:is", ns) is None


def test_save_dataframe_xlsx_numeric_frame_and_nat(spark, tmp_path):
    """All-numeric frames must not upcast int columns to float (the
    iterrows trap), and null timestamps must write as EMPTY cells, not
    the literal string 'NaT'."""
    import zipfile
    import xml.etree.ElementTree as ET

    df = spark.createDataFrame(
        [(1, 1.5, "2024-01-01 00:00:00"), (2, 2.5, None)],
        "id bigint, score double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = save_dataframe(df.orderBy("id"), tmp_path, "numeric_nat", "xlsx")
    with zipfile.ZipFile(path) as zf:
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    rows = sheet.findall(".//m:row", ns)
    r1 = rows[1].findall("m:c", ns)
    assert r1[0].find("m:v", ns).text == "1"  # bigint stays integer-rendered
    assert r1[2].find(".//m:t", ns).text.startswith("2024-01-01")
    r2 = rows[2].findall("m:c", ns)
    nat_cell = r2[2]
    assert nat_cell.find("m:v", ns) is None and nat_cell.find("m:is", ns) is None


def test_precipitation_gag_output_epsg(small_grid, tmp_path):
    # coordinates in the COORD header reprojected to Web Mercator
    path = make_precipitation_input(
        small_grid, "t2m", file_dir=tmp_path, file_name="precip_merc",
        output_epsg=3857,
    )
    coord = next(
        l for l in path.read_text().splitlines() if l.startswith("COORD ")
    )
    easting = float(coord.split()[1])
    assert abs(easting) > 1e6  # mercator meters, not degrees


def test_grass_ascii_output_epsg(small_grid, tmp_path):
    paths = make_grass_ascii(
        small_grid, "t2m", file_dir=tmp_path, file_name="merc", output_epsg=3857
    )
    header = paths[0].read_text().splitlines()
    west = float(next(l for l in header if l.startswith("west: ")).split()[1])
    assert abs(west) > 1e6


def test_precipitation_gag_gage_order(small_grid, tmp_path):
    # golden: gages ordered x ascending, y DESCENDING within each x —
    # the reference's stable sort on x alone preserves ERA5's
    # descending-latitude y order (to_gssha.py:299-309)
    path = make_precipitation_input(
        small_grid, "t2m", file_dir=tmp_path, file_name="order"
    )
    coords = [
        (float(l.split()[1]), float(l.split()[2]))
        for l in path.read_text().splitlines()
        if l.startswith("COORD ")
    ]
    assert coords == sorted(coords, key=lambda c: (c[0], -c[1]))
    assert len({c[0] for c in coords}) == 3 and len({c[1] for c in coords}) == 2


def test_precipitation_gag_max_gages_bound(small_grid, tmp_path):
    with pytest.raises(ValueError, match="max_gages"):
        make_precipitation_input(
            small_grid, "t2m", file_dir=tmp_path, file_name="toolarge",
            max_gages=3,
        )


def test_grass_wes_nodata_fill(spark, tmp_path):
    # null cells render as the HMET sentinel, never the string 'None'
    # (_prep_nodata, to_gssha.py:216-238)
    df = (
        grid_df(spark, with_nulls=True)
        .filter(
            (F.col("time") >= T0 + dt.timedelta(hours=6))
            & (F.col("time") < T0 + dt.timedelta(hours=10))
            & F.col("x").isin(XS[:4])
            & F.col("y").isin(YS[:2])
        )
    )
    assert df.filter(F.col("u100").isNull()).count() > 0
    paths = make_grass_ascii(
        df, "u100", hmet_variable="Wind Speed", file_dir=tmp_path
    )
    assert paths
    for p in paths:
        text = p.read_text()
        assert "None" not in text
    assert any("999.0" in p.read_text() for p in paths)  # WndS sentinel
    # unmapped variable falls back to 99.999
    paths2 = make_grass_ascii(df, "u100", file_dir=tmp_path, file_name="raw")
    assert not any("None" in p.read_text() for p in paths2)
    assert any("99.999" in p.read_text() for p in paths2)

    wes = make_hmet_wes(
        df, {"u100": "Wind Speed"}, file_dir=tmp_path,
        file_name="wes_nulls",
    )
    assert "None" not in wes.read_text()
