"""Property-based conservation tests (hypothesis) through the layer
algebra's overlay pass on Spark: two internally non-overlapping rectangle
grids and random polylines.

Per input feature a, with B the method grid:
* Σ_b area(a∩b) + area(a − ∪B) = area(a), and Clip(a) = Σ_b area(a∩b);
* Identity's total = area(A), Update's = area(B) + Σ Erase;
* Union's total = area(A) + area(B) − Σ intersection, and SymDifference's
  = Union's − Σ intersection;
* per line: clip length + erase length = line length, and the per-pair
  lengths sum to at least the clip length.

Each property runs once with one row per partition (most of the pass's
partitions hold no row or one group) and once with a feature of each
input layer that has no candidate (it passes through Erase whole).
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from engine import algebra, geom, lineclip

_SCHEMA = "fid int, geom_wkb binary"
_FAR = (150.0, 60.0)  # a corner no generated grid or line reaches


def _grid(x0, y0, w, h, nx, ny) -> list:
    return [
        (x0 + i * w, y0 + j * h, x0 + (i + 1) * w, y0 + (j + 1) * h)
        for i in range(nx) for j in range(ny)
    ]


def _rect_wkb(x0, y0, x1, y1) -> bytes:
    return geom.wkb_polygon([[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])


_GRID = st.tuples(
    st.floats(-30.0, 0.0), st.floats(-30.0, 0.0),
    st.floats(0.5, 8.0), st.floats(0.5, 8.0),
    st.integers(1, 4), st.integers(1, 4),
)
_LINE = st.lists(st.tuples(st.floats(-35.0, 35.0), st.floats(-35.0, 35.0)), min_size=2, max_size=6)


def _layer(spark, rows: list, one_per_partition: bool):
    if one_per_partition:
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, len(rows)), _SCHEMA)
    return spark.createDataFrame(rows, _SCHEMA)


def _by(rows: list, key: str, value: str) -> dict:
    out: dict = {}
    for r in rows:
        out[r[key]] = out.get(r[key], 0.0) + r[value]
    return out


def _total(df) -> float:
    return sum(r.area for r in df.collect())


def _close(got: float, want: float) -> bool:
    return abs(got - want) <= 1e-6 * max(1.0, abs(want))


@pytest.mark.parametrize("uncovered", [False, True], ids=["one_row_partitions", "no_candidate"])
@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ga=_GRID, gb=_GRID, lines=st.lists(_LINE, min_size=1, max_size=4))
def test_overlay_pass_conserves_area_and_length(spark, uncovered, ga, gb, lines):
    rects_a, rects_b = _grid(*ga), _grid(*gb)
    if uncovered:
        rects_a.append((*_FAR, _FAR[0] + 1.0, _FAR[1] + 1.0))
        lines = [*lines, [_FAR, (_FAR[0] + 2.0, _FAR[1] + 1.0)]]
    area = {i: (x1 - x0) * (y1 - y0) for i, (x0, y0, x1, y1) in enumerate(rects_a)}
    area_b = sum((x1 - x0) * (y1 - y0) for x0, y0, x1, y1 in rects_b)
    length = {i: lineclip.lines_length([np.asarray(ln, dtype=np.float64)]) for i, ln in enumerate(lines)}
    a = _layer(spark, [(i, _rect_wkb(*r)) for i, r in enumerate(rects_a)], not uncovered)
    b = _layer(spark, [(i, _rect_wkb(*r)) for i, r in enumerate(rects_b)], not uncovered)
    ls = _layer(spark, [(i, geom.wkb_linestring(ln)) for i, ln in enumerate(lines)], not uncovered)

    inter = algebra.layer_intersection(a, b).collect()
    inter_by_a = _by(inter, "a_id", "area")
    sum_inter = sum(r.area for r in inter)
    erase = _by(algebra.layer_erase(a, b).collect(), "a_id", "area")
    clip = _by(algebra.layer_clip(a, b).collect(), "a_id", "area")
    for i, want in area.items():
        assert _close(inter_by_a.get(i, 0.0) + erase.get(i, 0.0), want), (i, inter_by_a, erase, want)
        assert _close(clip.get(i, 0.0), inter_by_a.get(i, 0.0)), (i, clip, inter_by_a)
    if uncovered:  # the far rectangle passes through Erase whole
        far = len(rects_a) - 1
        assert far not in inter_by_a and _close(erase[far], area[far])

    assert _close(_total(algebra.layer_identity(a, b)), sum(area.values()))
    assert _close(_total(algebra.layer_update(a, b)), area_b + sum(erase.values()))
    union = _total(algebra.layer_union(a, b))
    assert _close(union, sum(area.values()) + area_b - sum_inter)
    assert _close(_total(algebra.layer_sym_difference(a, b)), union - sum_inter)

    inside = _by(lineclip.layer_clip_lines(ls, b).collect(), "a_id", "length")
    outside = _by(lineclip.layer_erase_lines(ls, b).collect(), "a_id", "length")
    pairs = _by(lineclip.layer_intersection_lines(ls, b).collect(), "a_id", "length")
    for i, want in length.items():
        assert _close(inside.get(i, 0.0) + outside.get(i, 0.0), want), (i, inside, outside, want)
        # a part along an edge two grid cells share lies in both pairs
        assert pairs.get(i, 0.0) >= inside.get(i, 0.0) - 1e-6, (i, pairs, inside)
