"""The one pixel walk (operators/indexing.py): every per-pixel operator is
a kernel over it, so no other operator module computes pixel centres
itself (that is how the walk got copied eleven times before)."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "raster2dggs_spark"
WALK = "pixel_centers_lonlat"


def centre_calls(src: str) -> list[int]:
    """Line numbers of calls to ``pixel_centers_lonlat`` (bare or as an
    attribute, e.g. ``geo.pixel_centers_lonlat``)."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call):
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name == WALK:
                hits.append(node.lineno)
    return hits


def test_guard_detects_centre_calls():
    src = ("from raster2dggs_spark.geo import pixel_centers_lonlat\n"
           "lon, lat = pixel_centers_lonlat(aff, w, h, crs)\n"
           "x = geo.pixel_centers_lonlat(aff, w, h, crs)\n"
           "f = pixel_centers_lonlat\n")
    assert centre_calls(src) == [2, 3]


def test_only_the_walk_computes_pixel_centres():
    offenders = []
    for path in sorted((PKG / "operators").rglob("*.py")):
        if path.name == "indexing.py":
            continue
        for line in centre_calls(path.read_text()):
            offenders.append(f"{path.relative_to(PKG.parent)}:{line}")
    assert not offenders, (
        "per-pixel operators outside operators/indexing.py compute pixel "
        "centres themselves — write a kernel for indexing.pixel_walk "
        "instead: " + ", ".join(offenders))
