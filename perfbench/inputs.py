"""Benchmark inputs, generated in-process from a seed.

- The crawl corpus is ``fixtures.make_row`` at page scale 8 (about
  12 KB a page), written as parquet with pyarrow, so the Spark job
  starts from a scan as a real run does.
- The curation tables mirror the sf0.1 test tables ``documents`` and
  ``embeddings`` in shape and distribution. Their rows come from a
  fixed seed, so the oracle value hashes can be pinned in
  ``oracle_hashes.json``; the run seed only shuffles the row order.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGE_SCALE = 8
CURATION_SEED = 42
CURATION_DOCS = 5000
CURATION_VECTORS = 2000

_VOCAB = ("a agg batch big column customer data fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en",
          "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr",
          "de", "de", "de")


def crawl_rows(n: int, seed: int) -> list[dict]:
    from historicaldatadocumentparsersystem_spark import fixtures
    return fixtures.generate_rows(n, seed, PAGE_SCALE)


def write_corpus(rows: list[dict], path: str, n_files: int) -> None:
    """Rows -> ``n_files`` parquet files with the corpus schema."""
    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        # zoned, so Spark reads TimestampType as ``corpus_schema`` has it
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step:(k + 1) * step]
        pq.write_table(pa.Table.from_pylist(part, schema),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def write_curation_tables(sf_dir: str, seed: int) -> str:
    """Write ``documents`` and ``embeddings`` under ``sf_dir``; return it.

    Documents: 10-100 words drawn uniformly from a 30-word vocabulary,
    source ``src{doc_id % 20}``, and 5% near-duplicates (another doc's
    text plus `` dup``), as in the sf tables.
    Embeddings: random unit vectors in 64 dimensions, labels 0-9.
    The rows are fixed by CURATION_SEED; ``seed`` only shuffles their
    physical order, which leaves every query result unchanged.
    """
    rng = random.Random(CURATION_SEED)
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
             for _ in range(CURATION_DOCS)]
    for i in rng.sample(range(CURATION_DOCS), CURATION_DOCS // 20):
        texts[i] = texts[rng.randrange(CURATION_DOCS)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(range(CURATION_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(CURATION_DOCS)],
        "source": [f"src{i % 20}" for i in range(CURATION_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(CURATION_SEED)
    vecs = nrng.standard_normal((CURATION_VECTORS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(CURATION_VECTORS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, CURATION_VECTORS),
                          pa.int32()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    order = random.Random(seed)
    for name, table in (("documents", docs), ("embeddings", emb)):
        perm = list(range(table.num_rows))
        order.shuffle(perm)
        pq.write_table(table.take(perm),
                       os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir
