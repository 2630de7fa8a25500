"""The query registry derived from the family modules under
``historicaldatadocumentparsersystem_spark/queries/``.

``tests/test_entry_oracle.py`` treats a query without an oracle as a
rows-only smoke check, so a lost oracle would pass there silently; the
rows-only set is pinned here instead. The oracle texts are pinned by
sha256 (repo path replaced by a placeholder), mirroring the driver's
per-name fingerprint check: any byte of any ``oracle_sql()`` text that
changes fails until ``tests/oracle_fingerprint.json`` is consciously
regenerated with ``python tests/test_registry.py``.
"""

import functools
import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as entrymod  # noqa: E402
from historicaldatadocumentparsersystem_spark import queries  # noqa: E402

PIN = os.path.join(ROOT, "tests", "oracle_fingerprint.json")
ROWS_ONLY = {"bpe_token_count", "cdc_block_dedup",
             "chunk_token_budget_bpe", "compression_profile"}


def test_rows_only_queries_are_exactly_the_pinned_four():
    no_oracle = set(entrymod._all_queries()) - set(entrymod.oracle_sql())
    assert no_oracle == ROWS_ONLY


@functools.lru_cache(maxsize=None)
def _fingerprints() -> dict[str, str]:
    return {name: hashlib.sha256(
                sql.replace(entrymod._REPO, "<REPO>").encode()).hexdigest()
            for name, sql in entrymod.oracle_sql().items()}


def _pin() -> dict[str, str]:
    with open(PIN) as fh:
        return json.load(fh)


def test_oracle_names_match_fingerprint_pin():
    assert sorted(_fingerprints()) == sorted(_pin())


@pytest.mark.parametrize("name", sorted(_pin()))
def test_oracle_text_matches_fingerprint_pin(name):
    assert _fingerprints().get(name) == _pin()[name], (
        f"oracle text changed for {name}")


def test_duplicate_query_name_raises(monkeypatch):
    first = queries.records()["lang_stats"]
    monkeypatch.setattr(queries, "_DECLARED",
                        queries._DECLARED + [first._replace(oracle=None)])
    with pytest.raises(ValueError, match="lang_stats"):
        queries.records()


if __name__ == "__main__":
    with open(PIN, "w") as fh:
        json.dump(_fingerprints(), fh, indent=1, sort_keys=True)
