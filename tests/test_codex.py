"""Code-block extraction + language ID: extractor/codex.py
(golden-pinned), its mapInPandas operator and the language-mixture
compositions."""

import pyarrow.parquet as pq

import synth_inputs
from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import codex
from historicaldatadocumentparsersystem_spark.operators import pagemeta

GOLDEN_CODE = "fixtures/golden_code_seed42_n120.parquet"


def _pure_rows(n: int) -> list[tuple]:
    out = []
    for p in fixtures.code_pages(n):
        if not p["html"]:
            continue
        for r in codex.extract_code(p["html"]):
            out.append((p["url"], *r))
    return out


def test_code_matches_committed_golden():
    golden = [(r["url"], r["pos"], r["lang_hint"], r["lang"],
               r["n_lines"], r["n_chars"], r["text"])
              for r in pq.read_table(GOLDEN_CODE).to_pylist()]
    assert golden == _pure_rows(120)
    assert len(golden) == 144


def test_hint_wins_over_heuristic_and_aliases_normalize():
    html = ('<pre class="language-Py">function f() { const x = 1; '
            'console.log(x); }</pre>')
    rows = codex.extract_code(html)
    assert rows[0][1] == "py" and rows[0][2] == "python"
    # hint on the first <code> child; later <code> children ignored
    html = ('<pre><code class="lang-c++">x</code>'
            '<code class="language-go">y</code></pre>')
    assert codex.extract_code(html)[0][1:3] == ("c++", "cpp")
    # unlisted hints pass through verbatim
    assert codex.extract_code(
        '<pre class="language-COBOL">MOVE A TO B</pre>')[0][1:3] \
        == ("cobol", "cobol")


def test_heuristic_language_table():
    cases = {
        "def f(x):\n    return x\nimport os": "python",
        "const a = (x) => x;\nconsole.log(a)": "javascript",
        "public static void main(String[] a) {\n"
        "  System.out.println(1); }": "java",
        "#include <vector>\nstd::vector<int> v;\ncout << 1;": "cpp",
        '#include <stdio.h>\nint main(void) { printf("x"); }': "c",
        'fn main() { let mut x = 1; println!("{}", x); }': "rust",
        "package main\nfunc f(n int) int {\n  m := n\n"
        "  fmt.Println(m)\n  return m }": "go",
        "SELECT a FROM t WHERE a > 1 GROUP BY a": "sql",
        "#!/bin/bash\necho hi | grep h": "shell",
        ".cls { color: red; margin: 1px; }": "css",
        "<!DOCTYPE html><div><p>x</p></div>": "html",
        '{"k": [1, 2], "ok": true}': "json",
        "just some prose, no signals": "unknown",
        "[1, 2, 3]": "json",
        "[not json though": "unknown",
    }
    for text, want in cases.items():
        assert codex.guess_lang(text) == want, text


def test_block_boundaries_and_text_contract():
    # inline code is not a block; nested pre folds into the outer one
    html = ('<p>inline <code>x=1</code></p>'
            '<pre>a\n<pre>b</pre>\nc</pre>')
    rows = codex.extract_code(html)
    assert len(rows) == 1
    assert rows[0][5] == "a\nb\nc"
    # leading/trailing newlines stripped, inner whitespace preserved,
    # entities unescaped, <br> -> newline, script dropped, NUL -> U+FFFD
    html = ('<pre>\n  x &lt; 1\t&amp; y<br>z'
            '<script>die()</script>\x00\n\n</pre>')
    (pos, hint, lang, n_lines, n_chars, text), = codex.extract_code(html)
    assert text == "  x < 1\t& y\nz�"
    assert n_lines == 2 and n_chars == len(text) and pos == 0
    # whitespace-only blocks are dropped; pos stays dense
    html = '<pre>  \n </pre><pre>real = 1</pre>'
    rows = codex.extract_code(html)
    assert [(r[0], r[5]) for r in rows] == [(0, "real = 1")]


def test_malformed_never_raises():
    import random
    rng = random.Random("codex-fuzz")
    pages = synth_inputs.adversarial_html_pages(100)
    pages += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    pages += [b"<pre>", b"<pre><code class=>x", b"</pre>", b""]
    for p in pages:
        for row in codex.extract_code(p):
            assert len(row) == 6 and row[2] and row[5].strip()


def test_operator_matches_golden(spark):
    docs = fixtures.code_pages_df(spark, 120)
    got = sorted(tuple(r)
                 for r in pagemeta.extract_code_df(docs).collect())
    golden = sorted((r["url"], r["pos"], r["lang_hint"], r["lang"],
                     r["n_lines"], r["n_chars"], r["text"])
                    for r in pq.read_table(GOLDEN_CODE).to_pylist())
    assert got == golden

    rows = [(p["url"], p["html"]) for p in fixtures.code_pages(24)]
    df = spark.createDataFrame(rows, "url string, html binary")
    plan = (pagemeta.extract_code_df(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
