"""Z-order layout clustering (operators/layout): Morton key
correctness vs a pure-Python bit-interleave and quantizer.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from historicaldatadocumentparsersystem_spark.operators import layout  # noqa: E402


def _pure_interleave(qx: int, qy: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((qx >> i) & 1) << (2 * i + 1)
        z |= ((qy >> i) & 1) << (2 * i)
    return z


def _pure_quantize(x: int, lo: int, hi: int, bits: int) -> int:
    return ((x - lo) * ((1 << bits) - 1)) // max(hi - lo, 1)


def test_interleave_known_vector():
    # qx=5 (101b) -> odd positions 5,1; qy=3 (011b) -> even positions 2,0
    assert _pure_interleave(5, 3, 3) == 32 + 4 + 2 + 1
    assert _pure_interleave(0, 0, 3) == 0
    assert _pure_interleave(7, 7, 3) == 63


@pytest.mark.usefixtures("spark")
def test_zorder_keys_match_pure(spark):
    rows = [(i, (i * 37) % 101, (i * 53) % 997) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r.id: (r.qx, r.qy, r.zkey)
           for r in layout.zorder_keys(df, "x", "y", bits=6).collect()}
    xs = [x for _, x, _ in rows]
    ys = [y for _, _, y in rows]
    for i, x, y in rows:
        qx = _pure_quantize(x, min(xs), max(xs), 6)
        qy = _pure_quantize(y, min(ys), max(ys), 6)
        assert got[i] == (qx, qy, _pure_interleave(qx, qy, 6))


@pytest.mark.usefixtures("spark")
def test_zorder_constant_dimension_degrades_to_zero(spark):
    df = spark.createDataFrame([(i, 7, i) for i in range(10)],
                               "id long, x long, y long")
    out = layout.zorder_keys(df, "x", "y", bits=4).collect()
    assert all(r.qx == 0 for r in out)
    assert {r.qy for r in out} == {_pure_quantize(i, 0, 9, 4)
                                   for i in range(10)}
