"""Ports of the reference's JUnit end-to-end suite (SURVEY.md §5) — each test
replays the reference scenario through the facade and asserts identical hit
sets.  Reference files cited per test live under
/root/reference/service/src/test/java/tests/."""

import pytest

LOREM = ("Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
         "eiusmod tempor incididunt ut labore et dolore magna aliqua. "
         "Duis aute irure dolor in reprehenderit in voluptate velit esse "
         "cillum dolore eu fugiat nulla pariatur. Excepteur sint occaecat "
         "cupidatat non proident, sunt in culpa qui officia deserunt mollit "
         "anim id est laborum. It was released in several versions")


def ids(entries):
    return sorted(e.external_id for e in entries)


# --- TestSearchText.java:28-40 ------------------------------------------------
def test_search_text(facade):
    facade.index_text("default", "0", "mary had a little lamb")
    facade.index_text("default", "1", "mary had a little lamb")
    assert ids(facade.search("default", "lamb")) == ["0", "1"]


# --- TestSearchWithUpdate.java:28-43 -------------------------------------------
def test_search_with_update(facade):
    facade.index_text("default", "0", "mary had a little lamb")
    facade.index_text("default", "1", "mary had a little lamb")
    facade.index_text("default", "0", "mary had a little dog")
    assert ids(facade.search("default", "lamb")) == ["1"]
    assert ids(facade.search("default", "dog")) == ["0"]


# --- TestDelete.java:29-79 ------------------------------------------------------
def test_delete(facade):
    facade.index_text("default", "foo", "mary had a little lamb")
    assert ids(facade.search("default", "lamb")) == ["foo"]
    facade.delete("default", "foo")
    assert facade.search("default", "lamb") == []
    # map doc delete (TestDelete.java:61-79)
    facade.index_map("default", "m", {"data": "mary had a little lamb"})
    assert ids(facade.search("default", "data:lamb")) == ["m"]
    facade.delete("default", "m")
    assert facade.search("default", "data:lamb") == []


# --- TestSearchCollection.java:28-53 --------------------------------------------
def test_collection_isolation_and_clear(facade):
    facade.index_text("foo", "id", "mary had a little lamb")
    facade.index_text("bar", "id", "mary had a little lamb")
    assert ids(facade.search("foo", "lamb")) == ["id"]
    assert ids(facade.search("bar", "lamb")) == ["id"]
    facade.clear("bar")
    assert facade.search("bar", "lamb") == []
    assert ids(facade.search("foo", "lamb")) == ["id"]


# --- TestSearchMap.java:30-59 ----------------------------------------------------
def test_search_map(facade):
    facade.index_map("default", "1", {
        "foo": "mary had a little lamb",
        "bar": "mary had two little lamb",
        "zoo": "rose had three little lamb",
        "age": 23, "count": 32})
    assert ids(facade.search("default", "foo:lamb")) == ["1"]
    assert ids(facade.search("default", "bar:two")) == ["1"]
    assert ids(facade.search("default", "zoo:rose")) == ["1"]
    # inclusive lexicographic string range (numbers index as text)
    assert ids(facade.search("default", "age:[23 TO 23]")) == ["1"]
    assert facade.search("default", "count:[33 TO 34]") == []
    assert ids(facade.search("default", "count:32")) == ["1"]
    # default field does not see map fields
    assert facade.search("default", "lamb") == []


# --- TestLuceneFacade.java:37-93 (same semantics via the public facade) ----------
def test_facade_multivalue_first_only(facade):
    # reference indexMap keeps only the FIRST value per key
    # (LuceneIndexBean.java:338-341)
    facade.index_map("default", "1", {"k": ["alpha", "beta"]})
    assert ids(facade.search("default", "k:alpha")) == ["1"]
    assert facade.search("default", "k:beta") == []


# --- TestSearchByFirstWord/LastWord.java:29-70 -----------------------------------
def test_first_and_last_word(facade, tmp_path):
    p = tmp_path / "test-00.txt"
    p.write_text(LOREM, encoding="utf-8")
    facade.index_file("default", str(p))
    assert ids(facade.search("default", "Lorem")) == [str(p)]
    assert ids(facade.search("default", "versions")) == [str(p)]


# --- TestIndexFile.java:32-59 ------------------------------------------------------
def test_index_file_accumulate(facade, tmp_path):
    seen = []
    for i in range(3):
        p = tmp_path / f"f{i}.txt"
        p.write_text(f"common token{i} text", encoding="utf-8")
        facade.index_file("default", str(p))
        seen.append(str(p))
        assert ids(facade.search("default", "common")) == sorted(seen)


# --- TestPaging.java:31-60 -----------------------------------------------------------
def test_paging_limit(facade):
    for i in range(10):
        facade.index_text("default", str(i), "hit")
    facade.index_text("default", "10", "miss")
    r = facade.search("default", "hit", limit=255)
    assert len(r) == 10
    r5 = facade.search("default", "hit", limit=5)
    assert len(r5) == 5
    # tie-break: equal scores -> doc_id ascending (SURVEY.md §2.7.5)
    assert [e.id for e in r5] == sorted(e.id for e in r5)


# --- TestSearchShards.java:29-43 (same as text search; sharding is a config) --------
def test_search_shards_equivalent(facade):
    facade.index_text("default", "0", "mary had a little lamb")
    assert ids(facade.search("default", "lamb")) == ["0"]


# --- ordering: score desc, doc_id asc over non-trivial corpus -----------------------
def test_score_ordering(facade):
    facade.index_text("default", "a", "lamb lamb lamb other words here")
    facade.index_text("default", "b", "lamb")
    facade.index_text("default", "c", "lamb other")
    r = facade.search("default", "lamb")
    scores = [e.score for e in r]
    assert scores == sorted(scores, reverse=True)
    assert r[0].external_id == "b"  # shortest doc, same tf -> highest norm


# --- TestSearchByFirstWord.java:29-70 across formats (Tika analogue, S3) -----------
def make_docx(text: str) -> bytes:
    """Minimal valid WordprocessingML container: one paragraph per sentence,
    each paragraph split into two ``<w:t>`` runs mid-word (the structure
    that breaks naive tag-stripping and that Tika's OOXML extractor joins)."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    sents = text.split(". ")
    sents = [s + "." for s in sents[:-1]] + sents[-1:]
    paras = []
    for sent in sents:
        mid = len(sent) // 2
        paras.append(f"<w:p><w:r><w:t xml:space=\"preserve\">"
                     f"{escape(sent[:mid])}</w:t></w:r><w:r>"
                     f"<w:t xml:space=\"preserve\">{escape(sent[mid:])}"
                     f"</w:t></w:r></w:p>")
    doc = ("<?xml version=\"1.0\"?><w:document xmlns:w=\"http://schemas."
           "openxmlformats.org/wordprocessingml/2006/main\"><w:body>"
           + "".join(paras) + "</w:body></w:document>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml",
                   "<?xml version=\"1.0\"?><Types xmlns=\"http://schemas."
                   "openxmlformats.org/package/2006/content-types\"/>")
        z.writestr("word/document.xml", doc)
    return buf.getvalue()


def make_pdf(text: str) -> bytes:
    """Minimal text-bearing PDF: one page whose FlateDecode content stream
    shows the text via Tj (first half) and a TJ array with kerning numbers
    (second half) — both operators the extractor must support."""
    import zlib

    def esc(s):
        return (s.replace("\\", r"\\").replace("(", r"\(")
                 .replace(")", r"\)"))

    words = text.split(" ")
    half = len(words) // 2
    tj_part = esc(" ".join(words[:half]) + " ")
    arr = " -12 ".join("(%s)" % esc(w + " ") for w in words[half:])
    content = ("BT /F1 12 Tf 72 720 Td (" + tj_part + ") Tj T* ["
               + arr + "] TJ ET").encode("latin-1")
    comp = zlib.compress(content)
    parts = [
        b"%PDF-1.4",
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj",
        b"4 0 obj << /Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode >> stream",
        comp,
        b"endstream endobj",
        b"trailer << /Root 1 0 R >>",
        b"%%EOF",
    ]
    return b"\n".join(parts)


def test_index_file_formats(facade, tmp_path):
    """The same passage indexed as .txt/.xml/.html/.json/.docx/.pdf — first
    and last words must be reachable through every format's extraction
    (reference covers exactly this across its 5 Tika fixtures)."""
    body = LOREM
    text_files = {
        "test-00.txt": body,
        "test-00.xml": ("<?xml version=\"1.0\"?><doc><title>t</title>"
                        f"<body>{body}</body></doc>"),
        "test-00.html": f"<html><head><title>x</title></head><body><p>{body}</p></body></html>",
        "test-00.json": '{"meta": {"k": 1}, "chunks": ["' + body[:60] + '", "'
                        + body[60:].replace('"', '') + '"]}',
    }
    bin_files = {
        "test-00.docx": make_docx(body),
        "test-00.pdf": make_pdf(body),
    }
    paths = []
    for name, content in text_files.items():
        p = tmp_path / name
        p.write_text(content, encoding="utf-8")
        facade.index_file("default", str(p))
        paths.append(str(p))
    for name, data in bin_files.items():
        p = tmp_path / name
        p.write_bytes(data)
        facade.index_file("default", str(p))
        paths.append(str(p))
    assert ids(facade.search("default", "Lorem")) == sorted(paths)
    assert ids(facade.search("default", "versions")) == sorted(paths)


def test_index_file_unsupported_format_raises(facade, tmp_path):
    """A PDF with no text operators (image-only / corrupt) must raise, not
    silently index garbage."""
    from lucene_plugin_spark.ops.extract import UnsupportedFormatError
    p = tmp_path / "doc.pdf"
    p.write_text("%PDF-1.4 not really", encoding="utf-8")
    import pytest as _pytest
    with _pytest.raises(UnsupportedFormatError):
        facade.index_file("default", str(p))


def test_binary_extract_unit(tmp_path):
    """pdf/docx parsers round-trip the passage without touching Spark; magic
    byte sniffing works without an extension."""
    from lucene_plugin_spark.ops.extract import (docx_to_text,
                                                 extract_text_bytes,
                                                 pdf_to_text)
    assert docx_to_text(make_docx(LOREM)) == LOREM
    pdf_text = pdf_to_text(make_pdf(LOREM))
    assert pdf_text.split() == LOREM.split()
    # escapes inside PDF literals survive
    tricky = "parens (here) and back\\slash end"
    assert pdf_to_text(make_pdf(tricky)).split() == tricky.split()
    # no extension -> magic-byte sniff
    assert extract_text_bytes(make_docx("hello world")) == "hello world"
    assert extract_text_bytes(make_pdf("hello world")).strip() == "hello world"


def test_bulk_extract_binary(spark):
    """Spark-side binary extraction: mixed pdf/docx/txt binary column in one
    mapInPandas pass; unextractable rows -> NULL."""
    from lucene_plugin_spark.ops.extract import extract_binary
    rows = [
        ("a.pdf", bytearray(make_pdf("alpha beta gamma"))),
        ("b.docx", bytearray(make_docx("delta epsilon"))),
        ("c.txt", bytearray("plain zeta".encode())),
        ("d.pdf", bytearray(b"%PDF-1.4 image-only, no text ops")),
    ]
    df = spark.createDataFrame(rows, "path string, data binary")
    got = {r["path"]: r["content"]
           for r in extract_binary(df, "data", path_col="path").collect()}
    assert got["a.pdf"].split() == ["alpha", "beta", "gamma"]
    assert got["b.docx"] == "delta epsilon"
    assert got["c.txt"] == "plain zeta"
    assert got["d.pdf"] is None


def test_bulk_extract_text(spark):
    """Spark-side extraction: xml/html JVM tag-strip, json via mapInPandas."""
    from lucene_plugin_spark.ops.extract import extract_text
    rows = [
        ("a", "<doc><b>hello &amp; goodbye</b> world</doc>"),
        ("b", '{"x": ["json text", {"y": "nested value"}], "n": 3}'),
        ("c", "plain text stays"),
    ]
    df = spark.createDataFrame(rows, "id string, content string")
    got = {r["id"]: r["content"] for r in extract_text(df).collect()}
    assert got["a"] == "hello & goodbye world"
    assert got["b"] == "json text nested value"
    assert got["c"] == "plain text stays"


def test_phrase_terms_never_cooccur(facade):
    """Regression: phrase whose terms all exist in the slice but never in the
    same doc must return empty, not crash (empty candidate set reached
    decoded_selective with a size-0 array at 4M docs)."""
    facade.index_text("default", "a1", "alpha gamma alpha")
    facade.index_text("default", "a2", "beta delta beta")
    assert facade.search("default", '"alpha beta"') == []
    assert facade.search("default", '"alpha beta"~3') == []
    # the warmed engine's driver route too
    from lucene_plugin_spark.query.executor import SearchEngine
    eng = SearchEngine(facade.spark, facade.catalog).warm()
    assert eng.search(None, '"alpha beta"', limit=10).count() == 0


def test_phrase_slop_matches_oracle(facade):
    """Sloppy phrases: engine (kernel path) matches the Python oracle's
    anchor-displacement semantics, including reversed order within slop."""
    from lucene_plugin_spark.oracle import OracleEngine
    docs = [("d1", "alpha beta gamma delta"), ("d2", "alpha gamma beta delta"),
            ("d3", "beta alpha"), ("d4", "alpha one two three beta")]
    for k, v in docs:
        facade.index_text("default", k, v)
    oracle = OracleEngine.from_rows(
        [{"repo": "default", "path": k, "commit": "c", "lang": "txt",
          "content": v} for k, v in docs])
    for q in ['"alpha beta"~1', '"alpha beta"~2', '"beta alpha"~2',
              '"alpha beta gamma"~2', '"alpha beta"~2^2']:
        got = [(h.external_id, round(h.score, 9))
               for h in facade.search("default", q)]
        want = [(p, round(s, 9)) for _d, p, s in oracle.search("default", q)]
        assert got == want, q


def test_more_like_this(facade):
    """MLT: the seed doc scores highest; near-duplicates outrank unrelated
    docs; the warmed driver route agrees with the facade's unwarmed engine."""
    docs = [("m1", "index cache merge segment block index cache"),
            ("m2", "index cache merge segment stream"),
            ("m3", "parse token stream buffer read write"),
            ("m4", "index cache merge block segment cache")]
    for k, v in docs:
        facade.index_text("default", k, v)
    hits = facade.more_like_this("default", "m1", limit=10)
    ids = [h.external_id for h in hits]
    assert ids[0] == "m1"                      # seed matches itself best
    assert ids.index("m4") < ids.index("m3") if "m3" in ids else True
    assert "m2" in ids and "m4" in ids
    # route identity
    from lucene_plugin_spark.query.executor import SearchEngine
    warm = SearchEngine(facade.spark, facade.catalog).warm()
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         facade._engine.more_like_this("default", "m1", limit=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         warm.more_like_this("default", "m1", limit=10).collect()]
    assert a == b
    # unknown key -> empty, not an error
    assert facade.more_like_this("default", "nope") == []
