"""Form extraction: extractor/formx.py (golden-pinned), its
mapInPandas operator and the page-function flag composition."""

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import formx
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_FORMS = "fixtures/golden_forms_seed42_n120.parquet"
_COLS = ("url", "pos", "action_url", "method", "n_controls",
         "n_password", "n_email", "n_hidden", "n_file", "n_text",
         "n_submit", "has_search")


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.form_pages(n):
        if not p["html"]:
            continue
        for r in formx.extract_forms(p["html"], p["url"]):
            out.append((p["url"], *r))
    return out


def test_forms_match_committed_golden():
    golden = [tuple(r[c] for c in _COLS)
              for r in pq.read_table(GOLDEN_FORMS).to_pylist()]
    assert golden == _pure_rows(120)
    assert len(golden) == 130


def test_method_action_and_type_defaults():
    rows = formx.extract_forms(
        '<form action="/a" method="POST"><input></form>'
        '<form method="weird" action=" /b "><input type="TEXT">'
        '</form>'
        '<form method="DIALOG"><input type="unknowntype"></form>'
        '<form action=""><textarea></textarea></form>',
        "https://h.ex/dir/page")
    # method lowercased, unknown falls back to get; action trimmed,
    # resolved; empty action -> None
    assert [(r[1], r[2]) for r in rows] == [
        ("https://h.ex/a", "post"), ("https://h.ex/b", "get"),
        (None, "dialog"), (None, "get")]
    # absent/empty type -> text; unknown type counts controls only;
    # textarea is a text control
    assert [(r[3], r[8]) for r in rows] == [
        (1, 1), (1, 1), (1, 0), (1, 1)]


def test_submit_census_and_button_rules():
    (r,) = formx.extract_forms(
        '<form><input type="submit"><button>implicit</button>'
        '<button type="SUBMIT">explicit</button>'
        '<button type="button">ui only</button>'
        '<select><option>x</option></select></form>')
    # 3 submits (input + default-type button + explicit); buttons are
    # not data controls, select is
    assert (r[3], r[9]) == (2, 3)


def test_nested_form_isolation():
    rows = formx.extract_forms(
        '<form action="/outer"><input type="text" name="o">'
        '<form action="/inner"><input type="password" name="p">'
        '</form><input type="hidden" name="h"></form>')
    outer = next(r for r in rows if r[1] == "/outer")
    inner = next(r for r in rows if r[1] == "/inner")
    assert (outer[3], outer[4], outer[6]) == (2, 0, 1)
    assert (inner[3], inner[4]) == (1, 1)


def test_search_detection_type_and_name():
    rows = formx.extract_forms(
        '<form><input type="search" name="whatever"></form>'
        '<form><input name="Q"></form>'
        '<form><input name="query"></form>'
        '<form><input name="quest"></form>'
        '<form><button name="q">go</button></form>')
    assert [r[10] for r in rows] == [True, True, True, False, False]


def test_malformed_never_raises():
    import random
    rng = random.Random("formx-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b"<form", b"<form><input type=", b"<button>", b""]
    for p in pages:
        for row in formx.extract_forms(p, "https://h.ex/p"):
            assert len(row) == 11


def test_operator_matches_golden(spark):
    docs = fixtures.form_pages_df(spark, 120)
    got = sorted(tuple(r)
                 for r in pagemeta.extract_forms_df(docs).collect())
    golden = sorted(tuple(r[c] for c in _COLS)
                    for r in pq.read_table(GOLDEN_FORMS).to_pylist())
    assert got == golden

    rows = [(p["url"], p["html"]) for p in fixtures.form_pages(24)]
    df = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_forms_df(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_form_page_flags(spark):
    docs = fixtures.form_pages_df(spark, 48)
    flags = {r["url"]: r for r in pagemeta.form_page_flags(
        pagemeta.extract_forms_df(docs)).collect()}
    by_kind = {int(u.rsplit("-", 1)[1]) % 12: r
               for u, r in flags.items()}
    assert by_kind[0]["has_login"] and not by_kind[0]["has_signup"]
    assert by_kind[1]["has_signup"] and not by_kind[1]["has_login"]
    assert by_kind[2]["has_search_form"] and by_kind[2]["n_forms"] == 2
    assert by_kind[4]["has_upload"]
    assert 7 not in by_kind       # formless pages have no flag row
    # nested page: outer (no pw) + inner (1 pw) -> login flag
    assert by_kind[5]["has_login"]


def test_one_parse_forms_equals_individual_pass(spark):
    docs = fixtures.form_pages_df(spark, 48)
    combined = sorted(
        (r["url"], *a) for r in
        pagemeta.page_artifacts(docs).collect() for a in r["forms"])
    single = sorted(tuple(r) for r in
                    pagemeta.extract_forms_df(docs).collect())
    assert combined == single and combined
