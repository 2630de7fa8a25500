"""Synthetic test inputs: deterministic pages, texts and payloads that
only the tests feed to the extractors and operators. Each is seeded,
so the committed parquet fixtures built from them stay reproducible
(``tests/test_pii.py`` and ``tests/test_licensing.py`` re-derive theirs
and compare)."""

from __future__ import annotations

from historicaldatadocumentparsersystem_spark.fixtures import (
    _HOSTS, _WORDS, _paragraph, _rng, _sentence)


def adversarial_html_pages(n: int, seed: int = 42) -> list[bytes]:
    """Test-only adversarial page generator (FIXTURES class-3 stress):
    deeply-nested, entity-heavy, rawtext-with-markup, quote-abused and
    truncated pages for the fast-scanner vs html.parser A/B harness.

    Deliberately SEPARATE from make_row: the golden parquet pins
    generate_rows at scale=1, and these pages exist to hunt parser
    divergences, not to move the pinned corpus.
    """
    pages: list[bytes] = []
    for i in range(n):
        rng = _rng(seed * 7919, i)
        kind = i % 8
        body: str
        if kind == 0:                       # deep nesting, half unclosed
            depth = rng.randint(30, 120)
            tags = [rng.choice(["div", "span", "section", "b", "ul", "li"])
                    for _ in range(depth)]
            open_ = "".join(f"<{t} class=c{j % 5}>"
                            for j, t in enumerate(tags))
            close = "".join(f"</{t}>" for t in reversed(tags[depth // 2:]))
            body = open_ + _paragraph(rng, 1, 2) + close
        elif kind == 1:                     # entity storm + charrefs
            # NOTE no bogus ("&#;") or ';'-less ("&#65") charrefs here:
            # on those, stdlib html.parser breaks out of its goahead
            # loop and close() flushes the REST OF THE DOCUMENT as raw
            # data (closing tags swallowed) — the fast scanner's
            # keep-parsing behavior is the HTML5-correct one, so the
            # strict A/B only covers inputs where html.parser is itself
            # well-behaved; test_bogus_charref_fast_scanner_keeps_parsing
            # pins ours. ';'-less ENTITY refs ("&amp") are fine.
            ents = ["&amp;", "&lt;", "&gt;", "&quot;", "&eacute;",
                    "&#65;", "&#x2603;", "&amp", "&unknown;", "&#x41;"]
            body = "<p>" + " ".join(rng.choice(ents) for _ in range(80)) \
                + _sentence(rng) + "</p>"
        elif kind == 2:                     # rawtext containing markup
            body = ("<script>var a = '<div><p>not real</p>' && 1 < 2;"
                    "</script><style>p>a{color:red}</style>"
                    f"<textarea><b>{_sentence(rng)}</b></textarea>"
                    f"<p>{_paragraph(rng, 2, 3)}</p>")
        elif kind == 3:                     # attribute quote abuse
            # quoted values containing '>' are in the A/B contract;
            # garbage AFTER a closed quote (title='it''s > x') is not:
            # HTML5/html.parser re-enter before-attribute-name and end
            # the tag at the next '>', the one-regex scanner cannot
            body = ("<div class=\"a > b\" id='x > y'>"
                    f"<p title='its > fine'>{_paragraph(rng, 1, 3)}</p>"
                    "<a href=http://e.com/x?a=1&b=2 class=link>t</a></div>")
        elif kind == 4:                     # stray closers + autoclose
            body = ("</p></div></li>"
                    + "".join(f"<li>{_sentence(rng)}"
                              for _ in range(rng.randint(3, 9)))
                    + f"<p>{_sentence(rng)}<p>{_sentence(rng)}</ul>")
        elif kind == 5:                     # comments / CDATA / doctype
            # terminated forms only: an UNTERMINATED comment runs to
            # EOF per HTML5 (the scanner's reading) but html.parser
            # flushes it as text data on close() — pinned separately in
            # test_unterminated_comment_runs_to_eof
            body = ("<!-- normal --><![CDATA[<p>raw</p>]]>"
                    f"<em>{_sentence(rng)}</em><!-- x -->"
                    if rng.random() < 0.5 else
                    "<!DOCTYPE html><!--x--><?php echo 1 ?>"
                    f"<p>{_paragraph(rng, 1, 3)}</p>")
        elif kind == 6:                     # mixed-case + void tags
            body = (f"<DIV CLASS=Content><P>{_sentence(rng)}<BR/>"
                    f"<IMG src=x.png><Hr>{_sentence(rng)}</P></DIV>")
        else:                               # truncated mid-tag / mid-ent
            full = (f"<div class=content><p>{_paragraph(rng, 2, 4)}</p>"
                    f"<a href='/x'>{_sentence(rng)}</a></div>")
            cut = rng.randint(len(full) // 2, len(full) - 1)
            body = full[:cut]
        pages.append((f"<html><head><title>adv {i}</title></head>"
                      f"<body>{body}</body></html>").encode("utf-8"))
    return pages


def paging_pages(n_articles: int = 24, seed: int = 42) -> list[dict]:
    """Deterministic (url, html) pages exercising pagination-chain
    stitching (rel=next/prev link chains -> multi-page articles):
    articles of 1-4 parts with absolute next/prev links, every 9th
    article's chain BROKEN (next points to a never-emitted url — the
    walk must stop, not fail), plus a head feeding into a 2-cycle
    (the stitcher's depth cap + first-visit dedup path) and a pure
    2-cycle with no head (unreachable, dropped entirely). Feeds its
    own golden (fixtures/golden_paging_seed42_*.parquet), same
    rationale as meta_pages."""
    pages: list[dict] = []

    def page(url: str, title: str, body: str, nxt: str | None,
             prv: str | None) -> dict:
        links = ""
        if nxt:
            links += f'<link rel="next" href="{nxt}">'
        if prv:
            links += f'<link rel="prev" href="{prv}">'
        html = (f"<html><head><title>{title}</title>{links}</head>"
                f"<body>{body}</body></html>")
        return {"url": url, "html": html.encode("utf-8")}

    for a in range(n_articles):
        rng = _rng(seed * 75403, a)
        host = _HOSTS[(a * 40503) % len(_HOSTS)]
        k = 1 + a % 4
        urls = [f"https://{host}/paging/a{a}/part-{p}" for p in range(k)]
        broken = a % 9 == 4
        for p in range(k):
            nxt = urls[p + 1] if p + 1 < k else None
            if broken and p == 0 and k > 1:
                nxt = f"https://{host}/paging/a{a}/gone"
            prv = urls[p - 1] if p > 0 else None
            body = "".join(f"<p>{_paragraph(rng, 1, 3)}</p>"
                           for _ in range(2))
            pages.append(page(urls[p], f"Article {a} part {p}", body,
                              nxt, prv))
    rng = _rng(seed * 75403, n_articles)
    host = _HOSTS[0]
    c = [f"https://{host}/paging/cycle/{x}" for x in ("head", "c1", "c2",
                                                     "d1", "d2")]
    body = f"<p>{_paragraph(rng, 1, 2)}</p>"
    pages.append(page(c[0], "cycle head", body, c[1], None))
    pages.append(page(c[1], "cycle one", body, c[2], c[0]))
    pages.append(page(c[2], "cycle two", body, c[1], c[1]))
    pages.append(page(c[3], "orphan cycle a", body, c[4], c[4]))
    pages.append(page(c[4], "orphan cycle b", body, c[3], c[3]))
    return pages


def _luhn_complete(prefix: str) -> str:
    """Append the Luhn check digit to a digits-only prefix."""
    total = 0
    n = len(prefix) + 1
    for i, ch in enumerate(prefix):
        d = ord(ch) - 48
        if (n - i - 1) % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return prefix + str((10 - total % 10) % 10)


def pii_texts(n: int = 160, seed: int = 42) -> list[dict]:
    """Deterministic (url, text) rows exercising the PII family
    (extractor/piix.py + operators/pii.py): valid and Luhn-failing
    cards (formatted and bare), in-range and out-of-range IPv4,
    international and US phones, tagged/uppercase emails, plus the
    negatives every engine must agree on (version strings, dates,
    obfuscated emails, over-long digit runs, clean and empty docs).

    ASCII-adjacency invariant: no non-ASCII character ever touches a
    digit run — Python's \\b is Unicode-aware while Java's and RE2's
    are ASCII, so fixtures stay inside the common subset (non-ASCII
    words appear only space-separated from PII).  Committed as
    fixtures/pii_texts_seed42_n160.parquet so the DuckDB oracle reads
    the same input table."""
    rows: list[dict] = []
    for i in range(n):
        rng = _rng(seed * 2000003, i)
        host = _HOSTS[(i * 40503) % len(_HOSTS)]
        url = f"https://{host}/pii/doc-{i}"
        parts = [_sentence(rng, 4, 9)]
        k = i % 10
        if k == 0:
            user = f"{rng.choice(_WORDS)}.{rng.choice(_WORDS)}{i}"
            parts.append(f"Contact {user}@{host} or café staff "
                         f"by phone +44 20 7946 {1000 + i % 9000} today.")
        elif k == 1:
            g = _luhn_complete(f"411111{i % 10}{(i * 7) % 10}"
                               f"{(i * 3) % 10}000000")
            card = f"{g[:4]}-{g[4:8]}-{g[8:12]}-{g[12:16]}"
            parts.append(f"Invoice paid with card {card} on file.")
        elif k == 2:
            good = _luhn_complete(f"540000{i % 10}00000000{(i * 7) % 10}"[:15])
            bad16 = good[:-1] + str((int(good[-1]) + 1) % 10)
            parts.append(f"Primary {good} listed; typo copy "
                         f"{bad16[:4]} {bad16[4:8]} {bad16[8:12]} "
                         f"{bad16[12:16]} rejected.")
        elif k == 3:
            parts.append(f"Origin server 10.{i % 200}.{(i * 3) % 256}."
                         f"{(i * 7) % 256} replaced the bogus probe "
                         f"10.0.{300 + i % 600}.1 in the log.")
        elif k == 4:
            parts.append(f"Support line {200 + i % 700}-"
                         f"{100 + i % 800}-{1000 + i % 9000}; short code "
                         f"+12 34 ignored; release v1.2.3.4 shipped.")
        elif k == 5:
            parts.append(f"Mail {rng.choice(_WORDS)}+tag{i}@"
                         f"{host.upper()} or reach admin at "
                         f"{rng.choice(_WORDS)} dot example dot com.")
        elif k == 6:
            addr = f"{rng.choice(_WORDS)}{i}@{host}"
            c13 = _luhn_complete(f"4{i % 10}0000000000"[:12])
            parts.append(f"Both {addr} and {addr} route to billing; "
                         f"legacy card {c13} retired.")
        elif k == 7:
            parts.append(f"Batch id {10 ** 19 + i} ran on 2026-08-"
                         f"{10 + i % 19} under build 1.2.{i % 9}.")
        elif k == 8:
            parts.append(_paragraph(rng, 2, 4))
        else:
            rows.append({"url": url, "text": ""})
            continue
        parts.append(_sentence(rng, 3, 8))
        rows.append({"url": url, "text": " ".join(parts)})
    return rows


def license_page_rows(n: int = 40, seed: int = 42) -> list[dict]:
    """Deterministic license-signal rows (url, href, text) — href
    rows are outgoing links (text NULL), text rows are page bodies
    (href NULL). Cycles CC license/CC0 links (with deed suffixes and
    query strings), SPDX tags, phrase boilerplate, channel conflicts
    (link must win), multi-phrase pages, and signal-free pages.
    Committed as fixtures/license_pages_seed42_n40.parquet."""
    rows: list[dict] = []
    for i in range(n):
        url = f"https://lic{i}.example.org/page"
        k = i % 10
        if k == 0:
            rows.append({"url": url, "href":
                         "https://creativecommons.org/licenses/"
                         "by/4.0/", "text": None})
            rows.append({"url": url, "href": None, "text":
                         f"Footer {i}. All Rights Reserved."})
        elif k == 1:
            rows.append({"url": url, "href":
                         "http://creativecommons.org/licenses/"
                         "by-sa/3.0/deed.en", "text": None})
        elif k == 2:
            rows.append({"url": url, "href":
                         "https://creativecommons.org/publicdomain/"
                         "zero/1.0/?ref=chooser", "text": None})
        elif k == 3:
            rows.append({"url": url, "href": None, "text":
                         f"// SPDX-License-Identifier: MIT\n"
                         f"code body {i}"})
        elif k == 4:
            rows.append({"url": url, "href": None, "text":
                         f"Para {i}. Licensed under the Apache "
                         'License, Version 2.0 (the "License").'})
        elif k == 5:
            rows.append({"url": url, "href": None, "text":
                         f"Dual {i}: the MIT License or the GNU "
                         "General Public License."})
        elif k == 6:
            rows.append({"url": url, "href":
                         f"https://other{i}.example.com/about",
                         "text": None})
            rows.append({"url": url, "href": None, "text":
                         f"No license words here {i}."})
        elif k == 7:
            rows.append({"url": url, "href":
                         "https://creativecommons.org/licenses/"
                         "by-nc-nd/2.5/", "text": None})
        elif k == 8:
            rows.append({"url": url, "href": None, "text":
                         f"SPDX-License-Identifier: GPL-3.0-only\n"
                         f"see COPYING {i}"})
            rows.append({"url": url, "href":
                         "https://creativecommons.org/licenses/"
                         "by-nd/4.0/legalcode", "text": None})
        else:
            rows.append({"url": url, "href": None, "text":
                         f"Copyright {1990 + i}. all rights "
                         "reserved. Contact us."})
    return rows


def encode_pnm(pixels: bytes, width: int, height: int,
               channels: int) -> bytes:
    """Raw netpbm, the inverse of ``imagex.decode_pnm``: gray -> P5,
    rgb -> P6."""
    if channels == 3:
        return (b"P6\n%d %d\n255\n" % (width, height)) + pixels
    if channels == 1:
        return (b"P5\n%d %d\n255\n" % (width, height)) + pixels
    raise ValueError(channels)
