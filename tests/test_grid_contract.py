"""The grid contract (dggs/__init__.py): every backend module answers the
same calls, hierarchy and resolution round-trip on every grid key, the
native parent Column equals the NumPy parent, and no package module
outside dggs/ branches on a grid-key literal."""

import ast
import pathlib

import numpy as np
import pytest

from raster2dggs_spark.dggs import GRIDS, check_grid, cover, grid_lib

CONTRACT = ("lonlat_to_cell", "cell_to_lonlat", "cell_to_parent",
            "cell_to_children", "get_resolution", "cell_to_boundary",
            "cell_area_m2", "parent_expr", "get_num_children", "pitch_deg",
            "n_cells", "MAX_RES", "MIN_RES", "PARENT_OFFSET",
            "AREA_FRACTION", "AREA_BY_RES", "COVER", "COVER_HALO")
RECT = ("lattice_shape", "row_of_lat", "lat_of_row", "cell_from_indices",
        "cell_spans")

# a mid-range resolution per grid (children must stay <= MAX_RES)
RES = {"hex7": 7, "s2": 12, "geohash": 4, "maidenhead": 3, "rhp": 5,
       "i3h": 9, "a5": 6, "i4r": 9, "i9r": 5, "e4r": 8, "e9r": 4,
       "quadkey": 10}


def _points(n=400, seed=11):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(rng.uniform(-0.99, 0.99, n)))
    return lon, lat


def test_every_grid_has_a_test_resolution():
    assert set(RES) == set(GRIDS)


@pytest.mark.parametrize("dggs", GRIDS)
def test_module_exports_the_contract(dggs):
    lib = grid_lib(dggs)
    missing = [n for n in CONTRACT if not hasattr(lib, n)]
    assert not missing, f"{dggs}: missing {missing}"
    assert lib.COVER in ("sample", "rect", "lattice")
    if lib.COVER != "sample":
        assert all(hasattr(lib, n) for n in RECT)
    if lib.COVER == "lattice":
        assert lib.LEVEL_BITS > 0 and hasattr(lib, "cell_to_indices")
    assert 0 <= lib.MIN_RES < lib.MAX_RES and lib.PARENT_OFFSET > 0


@pytest.mark.parametrize("dggs", GRIDS)
def test_encode_resolution_and_children_roundtrip(dggs):
    lib = grid_lib(dggs)
    res = RES[dggs]
    lon, lat = _points()
    c = np.unique(cover.encode(lon, lat, res, dggs))
    assert (lib.get_resolution(c) == res).all()
    kids = lib.cell_to_children(c)
    assert kids.ndim == 2 and kids.shape[0] == c.size
    assert (lib.get_resolution(kids.ravel()) == res + 1).all()
    if lib.parent_expr is None:
        # multi-parent (i3h): the center child has c as its only parent,
        # every vertex child lists c among its three parents
        assert np.array_equal(lib.cell_to_parent(kids[:, 0], res), c)
        par = lib.cell_to_parents(kids.ravel())  # (n*7, 3)
        assert (par == np.repeat(c, kids.shape[1])[:, None]).any(axis=1).all()
    else:
        assert np.array_equal(lib.cell_to_parent(kids.ravel(), res),
                              np.repeat(c, kids.shape[1]))
        assert np.unique(kids).size == kids.size
    if lib.get_num_children is not None:
        assert kids.shape[1] == lib.get_num_children(res, res + 1)
    # multi-level descendants are the one-level step repeated
    two = cover.cell_children(c[:5], res + 2, dggs)
    step = lib.cell_to_children(lib.cell_to_children(c[:5]).ravel()).ravel()
    assert np.array_equal(two, step)


@pytest.mark.parametrize("dggs", GRIDS)
def test_contract_scalars_are_consistent(dggs):
    lib = grid_lib(dggs)
    res = RES[dggs]
    assert 0 < lib.pitch_deg(res + 1) < lib.pitch_deg(res)
    assert lib.n_cells(res + 1) > lib.n_cells(res)
    assert 0.0 < lib.AREA_FRACTION <= 1.0


@pytest.mark.parametrize("dggs", GRIDS)
def test_cell_spans_only_on_fixed_degree_rectangles(dggs):
    lib = grid_lib(dggs)
    res = RES[dggs]
    if dggs in ("geohash", "maidenhead"):
        nx, ny = lib.lattice_shape(res)
        assert cover.cell_spans(res, dggs) == (360.0 / nx, 180.0 / ny)
    else:
        with pytest.raises(ValueError, match="rectangles"):
            cover.cell_spans(res, dggs)


def test_lattice_grids_count_their_own_cells():
    from raster2dggs_spark.functions.resolution import cell_area_m2_mean

    geohash, maidenhead = grid_lib("geohash"), grid_lib("maidenhead")
    assert [geohash.n_cells(p) for p in (1, 2, 5, 12)] == \
        [32, 32**2, 32**5, 32**12]
    assert [maidenhead.n_cells(p) for p in (1, 2, 3)] == \
        [18**2, 180**2, 4320**2]
    for dggs in ("geohash", "maidenhead"):
        lib = grid_lib(dggs)
        nx, ny = lib.lattice_shape(1)
        ix, iy = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
        cells = np.unique(lib.cell_from_indices(ix.ravel(), iy.ravel(), 1))
        assert cells.size == lib.n_cells(1)
        assert cell_area_m2_mean(1, dggs) == pytest.approx(
            lib.cell_area_m2(cells).mean(), rel=1e-12)


def test_h3_key_stays_rejected():
    with pytest.raises(ValueError, match="hex7"):
        check_grid("h3")
    with pytest.raises(ValueError):
        grid_lib("h3")
    with pytest.raises(ValueError):
        grid_lib("nope")


@pytest.mark.parametrize("dggs", ["hex7", "s2", "geohash", "maidenhead"])
def test_parent_expr_matches_numpy_parent(spark, dggs):
    """Spark twin: the native Column parent equals the module's NumPy
    cell_to_parent at every coarser resolution."""
    from raster2dggs_spark.operators.joins import parent_expr

    lib = grid_lib(dggs)
    res = RES[dggs]
    lon, lat = _points(300, seed=5)
    c = cover.encode(lon, lat, res, dggs)
    df = spark.createDataFrame([(int(x),) for x in c], "cell long")
    parents = range(lib.MIN_RES, res)
    got = df.select(*[parent_expr("cell", p, dggs, from_res=res).alias(f"p{p}")
                      for p in parents]).collect()
    for p in parents:
        assert np.array_equal(np.array([r[f"p{p}"] for r in got]),
                              lib.cell_to_parent(c, p)), p


# --------------------------------------------------------------------------
# guard: the per-grid string dispatch must not grow back
# --------------------------------------------------------------------------

PKG = pathlib.Path(__file__).resolve().parents[1] / "raster2dggs_spark"


def _is_grid_name(node) -> bool:
    name = (node.id if isinstance(node, ast.Name)
            else node.attr if isinstance(node, ast.Attribute) else None)
    return name is not None and (name == "dggs" or name.endswith("_dggs"))


def _is_str_literal(node) -> bool:
    if isinstance(node, ast.Constant):
        return isinstance(node.value, str)
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return bool(node.elts) and all(_is_str_literal(e) for e in node.elts)
    return False


def grid_key_comparisons(source: str) -> list[int]:
    """Line numbers of ``dggs`` / ``*_dggs`` compared with ==, !=, in or
    not in against a string or a tuple/list/set of strings."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Compare):
            continue
        operands = [node.left, *node.comparators]
        for op, a, b in zip(node.ops, operands, operands[1:]):
            if not isinstance(op, (ast.Eq, ast.NotEq, ast.In, ast.NotIn)):
                continue
            if ((_is_grid_name(a) and _is_str_literal(b))
                    or (_is_grid_name(b) and _is_str_literal(a))):
                hits.append(node.lineno)
    return hits


def test_guard_detects_grid_key_comparisons():
    src = ("if dggs == 'hex7': pass\n"
           "if src_dggs not in ('s2', 'rhp'): pass\n"
           "if 'quadkey' != args.dggs: pass\n"
           "if lib.COVER == 'lattice': pass\n"
           "if dggs in GRIDS: pass\n")
    assert grid_key_comparisons(src) == [1, 2, 3]


def test_no_grid_key_dispatch_outside_dggs():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if (PKG / "dggs") in path.parents:
            continue
        for line in grid_key_comparisons(path.read_text()):
            offenders.append(f"{path.relative_to(PKG.parent)}:{line}")
    assert not offenders, (
        "grid-key literal comparisons outside raster2dggs_spark/dggs/ — "
        "put the grid property in the grid module's contract instead: "
        + ", ".join(offenders))
