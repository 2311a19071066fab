"""S8 real text extraction (the Tika-equivalent for text mimes,
Solr.scala:133-143): golden-case semantics of the Catalyst regex chain,
parity with the DuckDB twin, and the compose-to-index path (extracted
text -> write_index; binary mimes -> metadata-only degraded docs, E2)."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from easy_solr4files_index_spark.functions import multimodal as mm
from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import search

SF_DIR = "/root/testdata/sf0.001"


def _extract_one(spark, mime: str, payload: str) -> str | None:
    df = spark.createDataFrame([(0, mime, bytearray(payload, "utf-8"))],
                               "doc_id long, mime string, payload binary")
    return mm.extract_text(df).collect()[0]["extracted"]


def test_html_golden(spark):
    got = _extract_one(spark, "text/html", (
        "<html><head><title>T&amp;T</title>"
        "<style>p{}</style><script>var x = 1 < 2;</script></head>"
        "<body><p>A &lt;b&gt; &quot;q&quot;&nbsp;&#39;s</p>"
        "<!-- gone -->hello   world</body></html>"))
    # script/style/comments removed, tags stripped, entities decoded
    # AFTER the strip (so "&lt;b&gt;" survives as literal "<b>"),
    # whitespace canonicalized
    assert got == 'T&T A <b> "q" \'s hello world'


def test_amp_decoded_last(spark):
    # "&amp;lt;" must yield the literal string "&lt;", never "<"
    assert _extract_one(spark, "text/html", "<p>&amp;lt;</p>") == "&lt;"


def test_xml_golden(spark):
    got = _extract_one(spark, "text/xml", (
        '<?xml version="1.0"?><doc id="7"><!-- c -->'
        "<title>A &amp; B</title><body><![CDATA[raw cdata 42]]> ok</body></doc>"))
    assert got == "A & B raw cdata 42 ok"


def test_plain_passthrough_normalized(spark):
    assert _extract_one(spark, "text/plain", "  a\t b\n\nc ") == "a b c"


def test_binary_mimes_null(spark):
    # pdf/docx: in the mime allowlist but the binary decoder is the
    # documented stub -> NULL; png: outside the allowlist (gated)
    assert _extract_one(spark, "application/pdf", "%PDF-1.4 x") is None
    assert _extract_one(spark, "image/png", "PNG:x") is None


def test_size_gate(spark):
    df = spark.createDataFrame([(0, "text/plain", bytearray(b"x"))],
                               "doc_id long, mime string, payload binary")
    out = mm.extract_text(df).collect()[0]
    assert out["gated"] is False and out["extracted"] == "x"
    # the 64 MiB cap is enforced on byte length (reference
    # application.properties:24); assert the gate expression fires by
    # shrinking nothing — just verify the column formula on a fake len
    gated = mm.extract_text(
        df.withColumn("payload",
                      F.expr(f"cast(repeat('y', 1024) as binary)"))
    ).collect()[0]
    assert gated["byte_len"] == 1024 and gated["gated"] is False


def test_parity_vs_duckdb(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        (tuple(r) for r in
         mm.extract_text(mm.attach_markup_payload(docs)).collect()),
        key=repr)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{SF_DIR}/documents.parquet'")
    want = sorted((tuple(r) for r in
                   con.execute(mm.extract_text_sql()).fetchall()), key=repr)
    assert got == want


def test_parity_on_adversarial_markup(spark):
    """Seeded random markup soup — nested/unclosed tags, half-written
    entities, CDATA fragments, comment edges — must extract identically
    under Java regex (Spark) and RE2 (DuckDB): the chain is restricted
    to the syntax subset both engines implement the same way, and this
    guards that claim beyond the fixed wrap templates."""
    import random

    rng = random.Random(42)
    frags = ["<p>", "</p>", "<P class='x'>", "<script>", "</script>",
             "<style>", "</style>", "<!--", "-->", "<![CDATA[", "]]>",
             "&amp;", "&lt;", "&gt;", "&nbsp;", "&#39;", "&amp;lt;",
             "&bogus;", "&", "<", ">", "tok", "Wort", "42", " ", "\t",
             "\n", "a<b", "x > y", "<x", "<>", "]]", "<!", "'", '"']
    rows = []
    for i in range(200):
        s = "".join(rng.choice(frags) for _ in range(rng.randint(1, 25)))
        rows.append((i, "text/html" if i % 2 else "text/xml",
                     bytearray(s, "utf-8")))
    df = spark.createDataFrame(rows, "doc_id long, mime string, payload binary")
    got = sorted((r["doc_id"], r["extracted"])
                 for r in mm.extract_text(df).collect())

    con = duckdb.connect()
    from easy_solr4files_index_spark.functions.multimodal import (
        _strip_markup_sql)
    want = []
    for i, mime, payload in rows:
        s = payload.decode("utf-8")
        chain = _strip_markup_sql("s", html=(mime == "text/html"))
        v = con.execute(f"SELECT {chain} FROM (SELECT ? AS s)",
                        [s]).fetchone()[0]
        want.append((i, v))
    assert got == sorted(want)


def test_extracted_corpus_indexes_end_to_end(spark, tmp_path):
    """S8 -> S9/S10/E2 composition: the extractor's output feeds the
    index build directly; html body terms are searchable, binary-mime
    docs land metadata-only AND are counted as degraded."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    extracted = mm.extract_text(mm.attach_markup_payload(docs))
    corpus = extracted.select(
        F.col("doc_id").cast("string").alias("path_id"),
        F.lit("mmrepo").alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("path"),
        F.lit("c0").alias("commit"),
        F.col("mime").alias("lang"),
        F.col("extracted").alias("content"),
    ).drop("path_id")
    write_index(spark, corpus, str(tmp_path / "index"),
                IndexConfig(term_buckets=8), lineage_groups=1)
    idx = open_index(spark, str(tmp_path / "index"))
    n_binary = extracted.filter(F.col("extracted").isNull()).count()
    n_degraded = idx.docs_store.filter(F.col("meta_only")).count()
    assert n_degraded == n_binary > 0
    # a term that exists ONLY via html extraction ("T&T" -> tokens t, t)
    # plus corpus terms: search a body word, get html/xml/plain docs only
    page = search(idx, "cdata", k=50).page
    langs = {r["lang"] for r in page.collect()}
    assert langs == {"text/xml"}  # "raw cdata 42" is the XML CDATA wrap
    # binary-mime docs remain path/metadata-searchable (S10)
    got = (idx.docs_store.filter(F.col("meta_only")).select("lang")
           .distinct().collect())
    assert {r["lang"] for r in got} >= {"image/png"}


# ----------------------- resize / frame-sample plumbing (brief: decode /
# feature-extract / resize / frame-sample behind the stub boundary)

def test_resize_aspect_fit_and_mime_filter(spark):
    from easy_solr4files_index_spark.functions.multimodal import (
        attach_media_payload, resize_images)

    docs = spark.createDataFrame(
        [(0, "x" * 1280), (1, "y" * 100), (2, "v" * 50), (3, "a" * 10)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           resize_images(attach_media_payload(docs), 224, 224).collect()}
    # only image mimes (doc_id % 4 in {0, 1}) cross the Python boundary
    assert set(out) == {0, 1}
    for r in out.values():
        w, h, ow, oh = r["width"], r["height"], r["out_width"], r["out_height"]
        if w and h:
            assert max(ow, oh) <= 224 and (ow == 224 or oh == 224)
            # aspect preserved within integer floor error
            assert abs(ow * h - oh * w) < max(w, h)
            assert r["out_bytes"] == ow * oh * 3
        else:
            assert (ow, oh, r["out_bytes"]) == (0, 0, 0)


def test_sample_frames_one_to_n(spark):
    from easy_solr4files_index_spark.functions.multimodal import (
        attach_media_payload, sample_frames)

    docs = spark.createDataFrame(
        [(2, "v" * 13), (6, "w" * 9), (10, "z" * 5), (0, "img" * 4)],
        "doc_id long, text string")
    rows = sample_frames(attach_media_payload(docs)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # only video mime (doc_id % 4 == 2)
    assert set(by_doc) == {2, 6, 10}
    for doc_id, fr in by_doc.items():
        n = {2: 13, 6: 9, 10: 5}[doc_id]
        assert len(fr) == n % 5 + 1                      # 1 -> N expansion
        idxs = sorted(r["frame_idx"] for r in fr)
        assert idxs == list(range(n % 5 + 1))
        assert all(r["ts_ms"] == r["frame_idx"] * 40 for r in fr)
        assert all(r["frame_bytes"] == n // (n % 5 + 1) for r in fr)


def test_real_decoder_paths_raise(spark):
    import pytest as _pytest

    from easy_solr4files_index_spark.functions.multimodal import (
        attach_media_payload, resize_images, sample_frames)

    docs = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    with _pytest.raises(Exception, match="real decoder unavailable"):
        resize_images(attach_media_payload(docs),
                      use_real_decoder=True).collect()
    with _pytest.raises(Exception, match="real decoder unavailable"):
        sample_frames(attach_media_payload(docs.withColumn(
            "doc_id", docs.doc_id + 2)), use_real_decoder=True).collect()


def test_bmp_roundtrip_matches_closed_form_oracle(spark):
    """generate_bmp_payload writes REAL 24-bit BMPs; decode_bmp parses
    the actual bytes; the DuckDB twin recomputes dims + channel sums
    from the generator's closed-form pixel law — no decoder on the
    oracle side, so any header/stride/BGR/bottom-up slip breaks it."""
    from easy_solr4files_index_spark.functions import multimodal as M

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(map(tuple, M.decode_bmp(
        M.generate_bmp_payload(docs)).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    exp = sorted(map(tuple, con.execute(M.decode_bmp_sql()).fetchall()))
    assert got == exp and len(got) == docs.count()


def test_bmp_generator_is_bottom_up_bgr(spark):
    """Channel sums are flip/swap-invariant, so check one literal pixel:
    image pixel (x=1, y=2) of doc 5 must sit in FILE row h-1-2 (bottom-up)
    in B,G,R byte order with the closed-form values."""
    from easy_solr4files_index_spark.functions import multimodal as M

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    row = M.generate_bmp_payload(docs.filter("doc_id = 5")).first()
    b = bytes(row["payload"])
    w = int.from_bytes(b[18:22], "little")
    h = int.from_bytes(b[22:26], "little")
    stride = (w * 3 + 3) & ~3
    x, y = 1, 2
    off = 54 + (h - 1 - y) * stride + x * 3
    base = (7 * 5 + 3 * x + 5 * y)
    assert b[off] == (base + 22) % 256      # B
    assert b[off + 1] == (base + 11) % 256  # G
    assert b[off + 2] == base % 256         # R


def test_bmp_decode_degraded_rows(spark):
    """Malformed/non-BMP payloads yield NULL-stats rows (E2 contract),
    never an exception or a silent drop."""
    from pyspark.sql import functions as F

    from easy_solr4files_index_spark.functions import multimodal as M

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    bad = (M.generate_bmp_payload(docs)
           .withColumn("payload",
                       F.when(F.col("doc_id") % 2 == 0,
                              F.encode(F.lit("not a bmp"), "UTF-8"))
                       .otherwise(F.col("payload"))))
    rows = {r["doc_id"]: r for r in M.decode_bmp(bad).collect()}
    assert len(rows) == 10
    for did, r in rows.items():
        if did % 2 == 0:
            assert r["width"] is None and r["r_sum"] is None
        else:
            assert r["width"] is not None and r["bpp"] == 24
