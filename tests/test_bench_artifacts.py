"""BENCH/*.json artifacts stay machine-readable: every line of every
file is one JSON document (log tags and shell trailers break tooling
that globs the directory)."""

import glob
import json
import os

import pytest

BENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCH")


@pytest.mark.parametrize("path", sorted(glob.glob(f"{BENCH}/*.json")),
                         ids=os.path.basename)
def test_every_line_is_json(path):
    lines = open(path).read().splitlines()
    assert lines, f"{path} is empty"
    for i, line in enumerate(lines, 1):
        try:
            json.loads(line)
        except ValueError as e:
            pytest.fail(f"{os.path.basename(path)}:{i}: {e}")
