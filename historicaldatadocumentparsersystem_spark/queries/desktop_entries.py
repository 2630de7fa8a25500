"""freedesktop.org desktop entries."""

from .. import fixtures, sources
from ..extractor.desktopx import parse_desktop
from . import _payload_df, query


def _desktop_entries_oracle() -> str:
    """Twin of desktop_entries: the Spark-free parser feeds VALUES
    (escaped values would need double-escaping in SQL otherwise —
    the generated-literal rule)."""

    def q(s):
        if s is None:
            return "NULL"
        return "'" + s.replace("'", "''") + "'"

    vals = []
    for r in fixtures.desktop_file_rows():
        for (pos, group, key, locale, value) in \
                parse_desktop(r["payload"]):
            vals.append(f"({q(r['url'])}, {pos}, {q(group)}, "
                        f"{q(key)}, {q(locale)}, {q(value)})")
    return f"""
            SELECT url, pos::int AS pos, grp, key, locale, value
            FROM (VALUES {", ".join(vals)})
            t(url, pos, grp, key, locale, value)
            ORDER BY url, pos"""


# freedesktop .desktop entries (pure-fed VALUES twin — values
# carry escapes, so the Python parser feeds both engines)
@query("desktop_entries", oracle=_desktop_entries_oracle)
def q_desktop_entries(spark, sf_dir):
    df = _payload_df(spark, fixtures.desktop_file_rows(), 2)
    return (sources.read_desktop_entries(df)
            .orderBy("url", "pos"))
