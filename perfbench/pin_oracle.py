#!/usr/bin/env python3
"""Pin the DuckDB oracle value hashes of the doc_curation queries.

The curation tables come from a fixed seed, so each query's
``oracle_sql()`` twin has one value hash. Running the twins takes about
a minute, too long for every benchmark run, so they are pinned in
``oracle_hashes.json`` and ``run.py`` compares the Spark results with
them. Re-run from the repository root after changing the curation
table generator or an oracle twin:

    python3 perfbench/pin_oracle.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from run import CURATION_QUERIES  # noqa: E402


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from tools.oracle_replica import _value_hash

    sf_dir = os.path.join(ROOT, ".perfbench_work", "pin")
    shutil.rmtree(sf_dir, ignore_errors=True)
    inputs.write_curation_tables(sf_dir, seed=0)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        hashes = {}
        for name in CURATION_QUERIES:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            hashes[name] = _value_hash(res.fetchall(), cols)
            print(name, hashes[name], flush=True)
    finally:
        con.close()
        shutil.rmtree(sf_dir, ignore_errors=True)
    with open(os.path.join(HERE, "oracle_hashes.json"), "w") as fh:
        json.dump({"tables": {"seed": inputs.CURATION_SEED,
                              "documents": inputs.CURATION_DOCS,
                              "embeddings": inputs.CURATION_VECTORS},
                   "hashes": hashes}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
