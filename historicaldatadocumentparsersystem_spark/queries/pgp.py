"""OpenPGP armor and packets (RFC 4880)."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from . import _fixture, _payload_df, query


_GOLDEN_PGP = _fixture("golden_pgp_seed42_n6.parquet")


# OpenPGP keys/signatures (security.txt Encryption targets,
# signed releases; gpg-parity-pinned fingerprints)
# OpenPGP: committed golden pinned by tests/test_pgpx.py
# (real gpg output is the parity oracle there)
@query("pgp_blocks", oracle=lambda: f"""
            SELECT url, pos, row_kind, kind, n_headers, crc_ok,
                   tag, name, length, version, algorithm, created,
                   user_id, fingerprint
            FROM read_parquet('{_GOLDEN_PGP}')""")
def q_pgp_blocks(spark, sf_dir):
    df = _payload_df(spark, fixtures.pgp_blob_rows(), 4)
    return sources.read_pgp_blocks(df)


@query("pgp_key_profile", oracle=lambda: f"""
            SELECT name, algorithm, count(*)::bigint AS n,
                   count(DISTINCT url)::bigint AS n_blobs,
                   min(created) AS earliest,
                   count(DISTINCT fingerprint)::bigint AS n_keys
            FROM read_parquet('{_GOLDEN_PGP}')
            WHERE row_kind = 'packet'
            GROUP BY name, algorithm ORDER BY name, algorithm""")
def q_pgp_key_profile(spark, sf_dir):
    g = spark.read.parquet(_GOLDEN_PGP)
    p = g.where(F.col("row_kind") == "packet")
    return (p.groupBy("name", "algorithm")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.countDistinct("url").cast("long")
                 .alias("n_blobs"),
                 F.min("created").alias("earliest"),
                 F.countDistinct("fingerprint").cast("long")
                 .alias("n_keys"))
            .orderBy("name", "algorithm"))
