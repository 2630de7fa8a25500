"""Mail archives: mbox messages and thread reconstruction."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..operators import threads, webtext
from . import _fixture, _payload_df, query


def _thread_walk_cte() -> str:
    """Shared CTE chain for the thread oracles: fixture reply rows
    as VALUES (generated, never retyped) -> resolved-parent base ->
    linear recursive root walk (the declarative twin of the
    pointer-doubling iteration; same fixed point, O(depth) steps
    instead of O(log depth) rounds)."""

    vals = ",\n".join(
        f"('{r['url']}', '{r['message_id']}', '{r['in_reply_to']}')"
        for r in fixtures.thread_msg_rows())
    return f"""
        msgs(url, id, parent) AS (VALUES {vals}),
        m AS (SELECT * FROM msgs WHERE id != ''),
        base AS (
          SELECT m.url, m.id,
                 CASE WHEN i.id IS NOT NULL AND i.id != m.id
                      THEN m.parent ELSE m.id END AS anc,
                 CASE WHEN i.id IS NOT NULL AND i.id != m.id
                      THEN 1 ELSE 0 END AS depth
          FROM m LEFT JOIN m i
            ON i.url = m.url AND i.id = m.parent),
        walk AS (
          SELECT url, id, anc, depth FROM base
          UNION ALL
          SELECT w.url, w.id, b.anc, w.depth + 1
          FROM walk w JOIN base b
            ON b.url = w.url AND b.id = w.anc
          WHERE b.depth = 1),
        roots AS (
          SELECT url, id, anc AS root_id, depth
          FROM walk
          QUALIFY row_number() OVER (PARTITION BY url, id
                                     ORDER BY depth DESC) = 1)"""


_GOLDEN_MBOX = _fixture("golden_mbox_seed42_n24.parquet")


# --- mbox mail-archive source (message-container member of the
# loader family) — hash-checked against the committed golden
# messages parquet (pinned by tests/test_mail.py against the pure
# re-derivation; RFC 2047 subjects, MIME trees, charset fallbacks,
# mboxrd escaping, bare-message and garbage rows)
# mbox messages: committed golden parquet pinned by
# tests/test_mail.py against the pure re-derivation
@query("mbox_messages", oracle=lambda: f"""
            SELECT url, msg_idx, message_id, from_addr, to_addrs,
                   subject, date_ts, in_reply_to, text, n_parts,
                   has_html, n_attachments
            FROM read_parquet('{_GOLDEN_MBOX}')
            ORDER BY url, msg_idx""")
def q_mbox(spark, sf_dir):
    df = _payload_df(spark, fixtures.mbox_file_rows(24), 8)
    return sources.read_mbox_messages(df).orderBy("url", "msg_idx")


# --- reply-thread profile — golden both sides (messages==golden
# is proven by mbox_messages; this isolates the thread self-join)
# reply threads: golden both sides (left join keeps
# reply-less roots with zero counts)
@query("mail_thread_stats", oracle=lambda: f"""
            WITH m AS (SELECT * FROM read_parquet('{_GOLDEN_MBOX}'))
            SELECT r.message_id AS thread_id, r.subject AS subject,
                   count(p.message_id)::bigint AS n_replies,
                   count(DISTINCT p.from_addr)::bigint
                     AS n_participants
            FROM m r LEFT JOIN m p
              ON p.in_reply_to = r.message_id AND p.in_reply_to != ''
            WHERE r.in_reply_to = '' AND r.message_id != ''
            GROUP BY r.message_id, r.subject
            ORDER BY thread_id""")
def q_mail_threads(spark, sf_dir):
    msgs = spark.read.parquet(_GOLDEN_MBOX)
    roots = msgs.where((F.col("in_reply_to") == "")
                       & (F.col("message_id") != ""))
    replies = msgs.where(F.col("in_reply_to") != "")
    return (roots.alias("r")
            .join(replies.alias("p"),
                  F.col("p.in_reply_to") == F.col("r.message_id"),
                  "left")
            .groupBy(F.col("r.message_id").alias("thread_id"),
                     F.col("r.subject").alias("subject"))
            .agg(F.count("p.message_id").cast("long")
                 .alias("n_replies"),
                 F.countDistinct("p.from_addr").cast("long")
                 .alias("n_participants"))
            .orderBy("thread_id"))


# --- mailing-list reply hygiene — TRUE dual-engine check (golden
# messages in, list pipelines re-expressed per engine; no golden
# in the middle)
# mailing-list reply hygiene: the SAME list pipeline
# re-expressed in DuckDB — string_split == Spark split,
# list_position(…, true) == array_position (coalesce: DuckDB
# yields NULL where Spark yields 0), 1-based inclusive slice
# l[1:p-1] == Spark slice(l, 1, p-1)
@query("mail_reply_clean", oracle=lambda: f"""
            WITH t AS (
              SELECT url, msg_idx,
                     string_split(text, chr(10)) AS lines
              FROM read_parquet('{_GOLDEN_MBOX}')
            ), s AS (
              SELECT url, msg_idx, lines,
                     coalesce(list_position(list_transform(lines,
                         x -> x = '--' OR x = '-- '), true), 0) AS sig
              FROM t
            ), b AS (
              SELECT url, msg_idx, lines, sig,
                     CASE WHEN sig > 0 THEN lines[1:sig - 1]
                          ELSE lines END AS body
              FROM s
            )
            SELECT url, msg_idx,
                   coalesce(array_to_string(list_filter(body,
                       x -> NOT (starts_with(x, '>')
                                 OR regexp_matches(x,
                                    '^On .* wrote:$'))),
                       chr(10)), '') AS clean_text,
                   len(lines)::bigint AS n_lines,
                   len(list_filter(lines,
                       x -> starts_with(x, '>')))::bigint AS n_quoted,
                   len(list_filter(body,
                       x -> NOT (starts_with(x, '>')
                                 OR regexp_matches(x,
                                    '^On .* wrote:$'))))::bigint
                     AS kept_lines,
                   sig > 0 AS has_signature
            FROM b
            ORDER BY url, msg_idx""")
def q_mail_clean(spark, sf_dir):
    msgs = spark.read.parquet(_GOLDEN_MBOX)
    return (webtext.strip_quoted_reply(msgs)
            .orderBy("url", "msg_idx"))


# --- thread reconstruction by pointer doubling (JWZ core as a
# log-rounds distributed primitive) — TRUE dual-engine check:
# Spark iterates, DuckDB walks a recursive CTE over the SAME
# generated VALUES
# thread roots: TRUE dual-engine — recursive CTE walk vs
# the pointer-doubling iteration, same generated input
@query("mail_thread_roots", oracle=lambda: f"""
            WITH RECURSIVE {_thread_walk_cte()}
            SELECT url, id, root_id, depth FROM roots
            ORDER BY url, id""")
def q_thread_roots(spark, sf_dir):
    rows = fixtures.thread_msg_rows()
    df = spark.createDataFrame(
        [(r["url"], r["message_id"], r["in_reply_to"])
         for r in rows],
        "url string, message_id string, in_reply_to string"
    ).repartition(8)
    return (threads.thread_roots(df)
            .select(F.col("part").alias("url"), "id",
                    "root_id", "depth"))


@query("mail_thread_profile", oracle=lambda: f"""
            WITH RECURSIVE {_thread_walk_cte()}
            SELECT url, root_id, count(*)::bigint AS n_messages,
                   max(depth) AS max_depth
            FROM roots GROUP BY url, root_id
            ORDER BY url, root_id""")
def q_thread_profile(spark, sf_dir):
    rows = fixtures.thread_msg_rows()
    df = spark.createDataFrame(
        [(r["url"], r["message_id"], r["in_reply_to"])
         for r in rows],
        "url string, message_id string, in_reply_to string"
    ).repartition(8)
    return (threads.thread_profile(df)
            .select(F.col("part").alias("url"), "root_id",
                    "n_messages", "max_depth"))
