"""tar/ustar archive source: extractor/tarx.py (pure oracle,
golden-pinned, cross-checked against stdlib tarfile both directions)
and the recursive core dispatch."""

import hashlib
import io
import random
import tarfile

import pyarrow.parquet as pq

from historicaldatadocumentparsersystem_spark import fixtures
from historicaldatadocumentparsersystem_spark.extractor import core, tarx

GOLDEN_MEM = "fixtures/golden_tar_members_seed42_n12.parquet"


def _pure_members() -> list[tuple]:
    out = []
    for r in fixtures.tar_file_rows(12):
        for m in tarx.list_tar(r["payload"]):
            out.append((r["url"], m.idx, m.name, m.size, m.mtime,
                        m.typeflag,
                        hashlib.md5(m.payload).hexdigest()))
    return out


def test_members_match_committed_golden():
    golden = [(r["url"], r["member_idx"], r["name"], r["size"],
               r["mtime"], r["typeflag"], r["payload_md5"])
              for r in pq.read_table(GOLDEN_MEM).to_pylist()]
    assert golden == _pure_members()
    assert len(golden) == 45


def test_stdlib_cross_check_both_directions():
    # our encode half is readable by stdlib tarfile
    t = fixtures.tar_file_rows(12)[0]["payload"]
    tf = tarfile.open(fileobj=io.BytesIO(t))
    std = [(i.name, i.size) for i in tf.getmembers()]
    # tarfile strips the trailing '/' from directory names
    ours = [(m.name.rstrip("/") if m.typeflag == "5" else m.name,
             m.size) for m in tarx.list_tar(t)]
    assert std == ours
    # and our reader reads stdlib-produced GNU tars (long names too)
    buf = io.BytesIO()
    w = tarfile.open(fileobj=buf, mode="w", format=tarfile.GNU_FORMAT)
    for nm, data in (("a.txt", b"hi"),
                     ("deep/" + "y" * 150 + ".tex", b"\\section{Y}")):
        info = tarfile.TarInfo(nm)
        info.size, info.mtime = len(data), 123
        w.addfile(info, io.BytesIO(data))
    w.close()
    got = tarx.list_tar(buf.getvalue())
    assert [(m.name, m.size, m.mtime) for m in got] == [
        ("a.txt", 2, 123), ("deep/" + "y" * 150 + ".tex", 11, 123)]


def test_checksum_gate_and_truncation():
    t = fixtures.tar_file_rows(12)[0]["payload"]
    full = len(tarx.list_tar(t))
    # flip a header byte: checksum fails, walk stops at that member
    bad = t[:30] + bytes([t[30] ^ 0xFF]) + t[31:]
    assert len(tarx.list_tar(bad)) < full or full == 0
    assert tarx.list_tar(t[:700]) != []          # truncated: partial
    assert tarx.list_tar(b"\x00" * 1024) == []
    assert tarx.list_tar(None) == []
    assert not tarx.is_tar(b"not a tar")


def test_core_dispatch_recurses_one_level():
    row = fixtures.tar_file_rows(12)[0]
    res = core.extract_document(row["payload"], None)
    assert res.doc_kind == "tar"
    kinds = [s[2] for s in res.spans]
    assert "latex" in kinds and "html" in kinds
    for a, b, _ in res.spans:
        assert res.extracted_text[a:b]
    # nested tar members are skipped, not recursed
    inner = tarx.make_tar([{"name": "i.txt", "data": b"x"}])
    outer = tarx.make_tar([
        {"name": "n.tar", "data": inner},
        {"name": "p.html",
         "data": b"<html><body><p>Outer page content that is long "
                 b"enough to extract meaningfully here.</p></body>"
                 b"</html>"}])
    res = core.extract_document(outer, None)
    assert res.doc_kind == "tar"
    assert [s[2] for s in res.spans] == ["html"]
    # raw latex payloads dispatch directly
    res = core.extract_document(
        b"\\documentclass{article}\\begin{document}\n"
        b"\\section{S}\nbody\n\\end{document}", None)
    assert res.doc_kind == "latex"
    assert res.extracted_text == "S\nbody"


def test_never_raises_on_fuzz():
    rng = random.Random("tarx-fuzz")
    t = fixtures.tar_file_rows(12)[0]["payload"]
    for _ in range(200):
        i = rng.randrange(len(t))
        mutated = t[:i] + bytes([rng.randrange(256)]) + t[i + 1:]
        for m in tarx.list_tar(mutated):
            assert m.size >= 0
        core.extract_document(mutated, None)
