"""Result-identity pinning for the condensed hydrology fixpoint.

The condensed path (chain contraction by pointer doubling + the fixpoint
on the junction/head graph — see operators/raster.py) must be
result-identical to the level-synchronous fixpoint run directly on the
cell graph (one round per cell of the longest path) on:

  * a junction-rich "comb" drainage (main channel + periodic
    tributaries — the shape where the condensed fixpoint's round count
    is junction depth, far below the path's cell count),
  * a zero-junction serpentine (one maximal unary chain — the pure
    chain-contraction edge case: the condensed graph is a single head),
  * the real DEM-derived flow field (both public keys).

Both synthetic fixtures are also checked against an independent
pure-Python D8 walker, so the two Spark paths can't be identically wrong.
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from gdalos_spark.operators import raster

from conftest import SF_DIR

_STEP = {1: (1, 0), 2: (1, 1), 4: (0, 1), 8: (-1, 1),
         16: (-1, 0), 32: (-1, -1), 64: (0, -1), 128: (1, -1)}


def _ref_hydro(cells: dict) -> tuple[dict, dict]:
    """Independent single-node reference: walk every cell's path for
    accumulation landings; iterate the Strahler update to fixpoint."""
    children, parents = {}, defaultdict(list)
    for (x, y), d in cells.items():
        if d == 0:
            continue
        dx, dy = _STEP[d]
        nxt = (x + dx, y + dy)
        if nxt in cells:
            children[(x, y)] = nxt
            parents[nxt].append((x, y))
    acc = {c: 0 for c in cells}
    for c in cells:
        cur = c
        while cur in children:
            cur = children[cur]
            acc[cur] += 1
    ordv = {c: 1 for c in cells}
    changed = True
    while changed:
        changed = False
        for c in cells:
            ps = parents.get(c, [])
            if not ps:
                o = 1
            else:
                mx = max(ordv[p] for p in ps)
                k = sum(1 for p in ps if ordv[p] == mx)
                o = mx + 1 if k >= 2 else mx
            if o != ordv[c]:
                ordv[c] = o
                changed = True
    return acc, ordv


def _comb(width: int = 32, trib_every: int = 8, trib_len: int = 6) -> dict:
    """Main channel along y=0 flowing east; tributaries of trib_len
    cells flowing north into the channel every trib_every columns."""
    cells = {(x, 0): 1 for x in range(width)}
    for x in range(0, width, trib_every):
        for y in range(1, trib_len + 1):
            cells[(x, y)] = 64  # north
    return cells


def _serpentine(width: int = 8, rows: int = 4) -> dict:
    """One boustrophedon path covering rows*width cells — every cell
    has exactly one parent, so the condensed graph is a single head."""
    cells = {}
    for y in range(rows):
        for x in range(width):
            at_turn = x == (width - 1 if y % 2 == 0 else 0)
            cells[(x, y)] = 4 if at_turn else (1 if y % 2 == 0 else 16)
    return cells


def _levelsync(fd, edges):
    """The cell-level reference: both fixpoints run directly on the cell
    graph, w = 1 per flow edge."""
    nodes = fd.select("px", "py")
    acc = raster._acc_fixpoint(
        nodes,
        edges.withColumn("w", F.lit(1).cast("bigint")),
        raster._FLOW_ACC_MAX_ROUNDS,
        "flow_acc levelsync",
    )
    ordv = raster._strahler_fixpoint(
        nodes, edges, raster._STRAHLER_ROUNDS, "strahler levelsync"
    )
    return acc, ordv


def _run_arms(spark, cells):
    fd = spark.createDataFrame(
        [(x, y, d) for (x, y), d in sorted(cells.items())],
        "px int, py int, flow_dir int",
    ).localCheckpoint()
    edges = raster._flow_parent_edges(fd)
    arms = {
        "condensed": (raster._flow_acc_on(fd, edges), raster._strahler_on(fd, edges)),
        "levelsync": _levelsync(fd, edges),
    }
    out = {}
    for arm, (acc, ordv) in arms.items():
        out[arm] = (
            {(r.px, r.py): r.acc for r in acc.collect()},
            {(r.px, r.py): r.ord for r in ordv.collect()},
            raster._HYDRO_LAST_ROUNDS[f"flow_acc {arm}"],
            raster._HYDRO_LAST_ROUNDS[f"strahler {arm}"],
        )
    return out


@pytest.mark.slow
def test_comb_arms_identical_and_exact(spark):
    cells = _comb()
    res = _run_arms(spark, cells)
    ref_acc, ref_ord = _ref_hydro(cells)
    assert res["condensed"][0] == ref_acc
    assert res["levelsync"][0] == ref_acc
    assert res["condensed"][1] == ref_ord
    assert res["levelsync"][1] == ref_ord
    # the condensation's point: rounds = junction depth (4 junctions +
    # convergence), not the 38-cell longest path
    assert res["condensed"][2] < res["levelsync"][2]
    assert res["condensed"][3] < res["levelsync"][3]
    assert res["condensed"][2] <= 8
    assert res["levelsync"][2] >= 30


@pytest.mark.slow
def test_serpentine_arms_identical_and_exact(spark):
    cells = _serpentine()
    res = _run_arms(spark, cells)
    ref_acc, ref_ord = _ref_hydro(cells)
    assert res["condensed"][0] == ref_acc
    assert res["levelsync"][0] == ref_acc
    assert res["condensed"][1] == ref_ord
    assert res["levelsync"][1] == ref_ord
    # a 32-cell unary chain: the condensed fixpoint sees one head node
    assert res["condensed"][2] <= 2
    assert res["levelsync"][2] >= 30
    assert max(ref_ord.values()) == 1  # no junctions -> all order 1


# key -> (its output column, index and column of the _levelsync reference)
_REAL_DEM = {
    "raster_flow_accumulation": ("flow_acc", 0, "acc"),
    "raster_stream_order": ("strahler", 1, "ord"),
}


@pytest.mark.parametrize("key", list(_REAL_DEM))
def test_real_dem_arms_identical(spark, key):
    import __spark_entry__ as entrymod

    col, i, ref_col = _REAL_DEM[key]
    a = {(r.px, r.py): r[col] for r in entrymod.queries()[key](spark, SF_DIR).collect()}
    fd = raster._flow_field(spark, SF_DIR)
    ref = _levelsync(fd, raster._flow_parent_edges(fd))[i]
    b = {(r.px, r.py): r[ref_col] for r in ref.collect()}
    assert a == b
    assert len(a) > 0
