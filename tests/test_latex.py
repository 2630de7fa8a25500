"""LaTeX source: extractor/texx.py (pure oracle, golden-pinned) and
subset semantics."""

import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import texx

GOLDEN = "fixtures/golden_latex_elements_seed42_n32.parquet"


def _pure_rows() -> list[tuple]:
    out = []
    for r in fixtures.latex_rows(32):
        for e in texx.parse_latex(r["tex"]):
            out.append((r["url"], e.para, e.kind, e.level, e.text))
    return out


def test_matches_committed_golden():
    golden = [(r["url"], r["para"], r["kind"], r["level"], r["text"])
              for r in pq.read_table(GOLDEN).to_pylist()]
    assert golden == _pure_rows()
    assert len(golden) == 151


def test_document_body_and_title_carryover():
    els = texx.parse_latex(
        "\\documentclass{article}\n\\title{The \\emph{Title}}\n"
        "preamble noise\n\\begin{document}\nbody text\n"
        "\\end{document}\ntrailing junk")
    assert [(e.kind, e.level, e.text) for e in els] == [
        ("heading", 0, "The Title"), ("text", 0, "body text")]
    # fragments without a document env parse whole
    els = texx.parse_latex("\\section{S}\nfragment body")
    assert [(e.kind, e.text) for e in els] == [
        ("heading", "S"), ("text", "fragment body")]


def test_sectioning_levels_and_lists():
    els = texx.parse_latex(
        "\\chapter{C}\\section{S}\\subsection{SS}"
        "\\subsubsection{SSS}\\paragraph{P}\n"
        "\\begin{itemize}\\item a\\begin{enumerate}\\item[3] b"
        "\\end{enumerate}\\item c\\end{itemize}")
    assert [(e.kind, e.level, e.text) for e in els] == [
        ("heading", 0, "C"), ("heading", 1, "S"),
        ("heading", 2, "SS"), ("heading", 3, "SSS"),
        ("heading", 4, "P"),
        ("list_item", 1, "a"), ("list_item", 2, "b"),
        ("list_item", 1, "c")]


def test_math_removal_and_verbatim_protection():
    els = texx.parse_latex(
        "keep $a+b$ then $$gone$$ and \\(x\\) and \\[y\\] end\n\n"
        "\\begin{align}z &= 1\\end{align}\n\n"
        "\\begin{verbatim}\nraw $kept$ \\cmd{x}\n\\end{verbatim}\n\n"
        "\\verb|$inline$| tail")
    texts = [e.text for e in els]
    assert texts[0] == "keep then and and end"
    assert "raw $kept$ \\cmd{x}" in texts
    assert texts[-1] == "$inline$ tail"
    assert not any("gone" in t or "z = 1" in t for t in texts)


def test_commands_accents_and_escapes():
    els = texx.parse_latex(
        "Fa\\c{c}ade caf\\'e \\\"o \\~n; \\v{s} but \\cite{x} and "
        "\\vspace{2em} vanish, \\textbf{bold \\emph{nest}} stays, "
        "\\href{http://u}{label} \\url{http://u2} "
        "50\\% A\\&B \\_x\\#1 a~b --- dash -- en")
    t = els[0].text
    assert "Façade café ö ñ; š" in t
    assert "x" not in t.split(";")[0]  # cite arg gone
    assert "bold nest stays" in t
    assert "label" in t and "http://u2" in t and "http://u\u2009" not in t
    assert "50% A&B _x#1 a b" in t
    assert "\u2014 dash \u2013 en" in t


def test_captions_survive_floats():
    els = texx.parse_latex(
        "\\begin{figure}\\includegraphics{f.pdf}"
        "\\caption{Cap text.}\\label{f}\\end{figure}\n"
        "\\begin{tikzpicture}hidden\\end{tikzpicture}\nafter")
    assert [e.text for e in els] == ["Cap text.", "after"]


def test_never_raises_on_fuzz():
    rng = random.Random("texx-fuzz")
    alpha = "ab \\{}$%~&_#'`^\".cvu=[]|\nitem begin end verb section"
    for _ in range(300):
        s = "".join(rng.choice(alpha) for _ in range(rng.randrange(200)))
        for e in texx.parse_latex(s):
            assert e.text.strip() == e.text and e.text
        texx.extract_latex(s)
    assert texx.parse_latex("") == []


def test_extract_text_spans():
    text, spans = texx.extract_latex("\\section{H}\npara")
    assert text == "H\npara"
    for (a, b, kind), want in zip(spans, ("heading", "text")):
        assert kind == want and text[a:b]
