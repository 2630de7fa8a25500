"""Jupyter notebook source: extractor/ipynbx.py (pure oracle,
golden-pinned), the v3/v4 serialization variants and the core-dispatch
branch."""

import json
import random

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import core, ipynbx

GOLDEN = "fixtures/golden_ipynb_cells_seed42_n30.parquet"


def _pure_rows() -> list[tuple]:
    out = []
    for r in fixtures.ipynb_file_rows(30):
        for c in ipynbx.parse_notebook(r["payload"]):
            out.append((r["url"], c.idx, c.cell_type, c.lang, c.source,
                        c.exec_count, c.n_outputs, c.output_text))
    return out


def test_cells_match_committed_golden():
    golden = [tuple(r[k] for k in ("url", "cell_idx", "cell_type", "lang",
                                   "source", "exec_count", "n_outputs",
                                   "output_text"))
              for r in pq.read_table(GOLDEN).to_pylist()]
    assert golden == _pure_rows()
    assert len(golden) == 50


def test_v4_source_forms_and_outputs():
    cells = [
        {"cell_type": "markdown", "source": ["a\n", "b"]},
        {"cell_type": "code", "source": "x=1", "execution_count": 7,
         "outputs": [
             {"output_type": "stream", "name": "stdout", "text": "out\n"},
             {"output_type": "execute_result",
              "data": {"text/plain": ["1"], "image/png": "zz"},
              "metadata": {}},
             {"output_type": "error", "ename": "E", "evalue": "v",
              "traceback": []}]},
        {"cell_type": "raw", "source": "r"},
    ]
    got = ipynbx.parse_notebook(ipynbx.make_ipynb(cells, lang="python"))
    assert [(c.cell_type, c.source) for c in got] == [
        ("markdown", "a\nb"), ("code", "x=1"), ("raw", "r")]
    code = got[1]
    assert (code.exec_count, code.n_outputs) == (7, 3)
    assert code.output_text == "out\n\n1\nE: v"
    assert all(c.lang == "python" for c in got)


def test_v3_worksheets_and_language_fallbacks():
    cells = [
        {"cell_type": "code", "source": ["a=1\n", "a"],
         "execution_count": 2, "language": "python",
         "outputs": [{"output_type": "pyout", "text": ["1"]},
                     {"output_type": "pyerr", "ename": "E",
                      "evalue": "boom"}]},
        {"cell_type": "markdown", "source": "md"},
    ]
    got = ipynbx.parse_notebook(ipynbx.make_ipynb(cells, nbformat=3))
    assert [(c.cell_type, c.lang, c.exec_count) for c in got] == [
        ("code", "python", 2), ("markdown", "", None)]
    assert got[0].output_text == "1\nE: boom"
    # language_info fallback when kernelspec is absent (v4)
    got = ipynbx.parse_notebook(ipynbx.make_ipynb(
        [{"cell_type": "markdown", "source": "m"}],
        lang="r", kernelspec=False))
    assert got[0].lang == "r"


def test_non_notebooks_yield_nothing():
    assert ipynbx.parse_notebook(None) == []
    assert ipynbx.parse_notebook(b"") == []
    assert ipynbx.parse_notebook(b"\x00 garbage") == []
    assert ipynbx.parse_notebook(b'{"nbformat": 4, "x": 1}') == []
    assert ipynbx.parse_notebook(b'{"cells": "oops", "nbformat": 4}') == []
    # truncated JSON that passes the cheap probe still degrades to []
    assert ipynbx.parse_notebook(b'{"cells": [{"nbformat": 4') == []


def test_core_dispatch_and_text_reassembly():
    row = fixtures.ipynb_file_rows(30)[0]
    res = core.extract_document(row["payload"], None)
    assert res.doc_kind == "ipynb"
    assert res.n_blocks == len(res.spans) == 3
    # spans slice the reassembled text exactly, labeled by cell type
    for (a, b, kind), want in zip(
            res.spans, ("markdown", "code", "code")):
        assert kind == want
        assert res.extracted_text[a:b].strip() == res.extracted_text[a:b]
    # empty-cells notebook: parseable but no content -> failed fallback
    res = core.extract_document(
        b'{"cells": [], "metadata": {}, "nbformat": 4}', "fb")
    assert (res.doc_kind, res.failed) == ("empty", True)
    # outputs stay out of the main text (derived, not authored)
    assert "print(x * 2)" in core.extract_document(
        row["payload"], None).extracted_text


def test_make_ipynb_is_valid_json_and_roundtrips():
    for nbf in (3, 4):
        payload = ipynbx.make_ipynb(
            [{"cell_type": "code", "source": "s=1",
              "execution_count": None},
             {"cell_type": "markdown", "source": ["m\n"]}],
            nbformat=nbf)
        nb = json.loads(payload)
        assert nb["nbformat"] == nbf
        got = ipynbx.parse_notebook(payload)
        assert [(c.cell_type, c.source) for c in got] == [
            ("code", "s=1"), ("markdown", "m\n")]
        assert got[0].exec_count is None


def test_fuzz_never_raises():
    """Random bytes and byte-mutated notebooks never raise, in the
    reader or through core dispatch; spans stay inside the text."""
    rng = random.Random(79)
    base = ipynbx.make_ipynb([
        {"cell_type": "markdown", "source": "# Title\ntext"},
        {"cell_type": "code", "source": "x = 1", "outputs": []}])
    for _ in range(300):
        if rng.random() < 0.3:
            payload = bytes(rng.randrange(256)
                            for _ in range(rng.randrange(0, 120)))
        else:
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                i = rng.randrange(len(b))
                b[i:i + rng.randrange(0, 4)] = bytes(
                    [rng.randrange(256)])
            payload = bytes(b)
        assert isinstance(ipynbx.is_ipynb(payload), bool)
        text, spans = ipynbx.extract_ipynb_text(payload)
        assert all(0 <= s <= e <= len(text) for s, e, _k in spans)
        res = core.extract_document(payload, "fb")
        assert all(0 <= s <= e <= len(res.extracted_text)
                   for s, e, _k in res.spans)
