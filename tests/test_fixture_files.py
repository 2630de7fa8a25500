"""Every committed file under ``fixtures/`` is named by some Python
file under the package, ``tests/``, ``tools/`` or ``perfbench/``, and
every committed parquet there reads back with at least one row.

Goldens and committed inputs are read by name, so a file whose last
reader is deleted stays behind silently; this names it instead.
"""

import functools
import os

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
READERS = ("historicaldatadocumentparsersystem_spark", "tests", "tools",
           "perfbench")
FIXTURES = sorted(os.listdir(os.path.join(ROOT, "fixtures")))


@functools.lru_cache(maxsize=None)
def _python_text() -> str:
    parts = []
    for top in READERS:
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if f.endswith(".py"):
                    with open(os.path.join(d, f)) as fh:
                        parts.append(fh.read())
    return "\n".join(parts)


@pytest.mark.parametrize("name", FIXTURES)
def test_every_fixture_file_is_named(name):
    assert name in _python_text(), f"no Python file names fixtures/{name}"


@pytest.mark.parametrize(
    "name", [f for f in FIXTURES if f.endswith(".parquet")])
def test_every_fixture_parquet_reads(name):
    table = pq.read_table(os.path.join(ROOT, "fixtures", name))
    assert table.num_rows > 0, f"fixtures/{name} holds no rows"
