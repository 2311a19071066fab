"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed by Arrow-batched kernels (mapInPandas).

The decode/feature-extract step is STUBBED (no image/audio libs in this
container — clearly marked below); everything Spark-side is real and
tested: binary column handling, Arrow batch shapes, UDF signatures,
deterministic fake features so the pipeline is end-to-end verifiable
against a DuckDB oracle on byte lengths and derived metadata.

This mirrors how the reference treats file bytes as an opaque stream
handed to an extraction sidecar (Tika via Solr Cell, Solr.scala:133-143,
solrconfig.xml:990-1002) with size/mime gating (Solr.scala:59-61): we
gate on byte length and "decode" behind the same kind of boundary.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

MAX_DECODE_BYTES = 64 * 1024 * 1024  # reference: 64 MiB extraction cap
                                     # (application.properties:24, ApplicationWiring.scala:61)

# the reference's extraction mime allowlist (application.properties:25-31);
# the gate is size AND mime (Solr.scala:59-61)
MIME_ALLOWLIST = (
    "text/plain", "text/xml", "text/html", "application/pdf",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
)

# deterministic per-doc mime (pure function of doc_id, replicated in SQL);
# index 5 (image/png) falls outside the allowlist
_MIMES = MIME_ALLOWLIST + ("image/png",)


def _mime_of(doc_id: int) -> str:
    return _MIMES[doc_id % len(_MIMES)]


def real_image_decode(payload: bytes) -> dict:
    """REAL decode would go here (PIL/ffmpeg). Not available in this
    environment — stubbed on purpose; the Spark plumbing around it is
    real and tested with the deterministic fake below."""
    raise NotImplementedError("image/audio decode libs not available in this container")


def _fake_meta(n_bytes: int) -> tuple[int, int]:
    # deterministic fake "decoded" dimensions — replicable in SQL
    return n_bytes % 640, (n_bytes * 7) % 480


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, mime, payload binary) — UTF-8 bytes stand in
    for an opaque media blob; mime is typed metadata riding alongside."""
    mimes = F.array(*[F.lit(m) for m in _MIMES])
    return docs.select(
        "doc_id",
        F.element_at(mimes, (F.col("doc_id") % len(_MIMES) + 1).cast("int")).alias("mime"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8").alias("payload"))


def decode_features(with_payload: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """(doc_id, mime, byte_len, width, height, gated) via an Arrow-batched
    mapInPandas kernel over the binary column — the real 100 TB shape:
    one Python worker per partition, one pandas batch per Arrow batch,
    no per-row Python calls outside the vectorized ops.

    ``gated`` mirrors the reference's FULL extraction gate — size under
    the 64 MiB cap AND mime in the allowlist (Solr.scala:59-61); gated
    docs skip decode and would fall back to metadata-only indexing
    (Solr.scala:65-73 / S10)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)  # bytes objects
            if use_real_decoder:
                # would dispatch to real_image_decode per payload
                raise NotImplementedError("real decoder unavailable; see real_image_decode")
            width = n % 640
            height = (n * 7) % 480
            mime_ok = pdf["mime"].isin(MIME_ALLOWLIST)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "byte_len": n.astype("int64"),
                "width": width.astype("int64"),
                "height": height.astype("int64"),
                "gated": (n > MAX_DECODE_BYTES) | ~mime_ok,
            })

    return with_payload.mapInPandas(
        kernel,
        "doc_id long, mime string, byte_len long, width long, height long, gated boolean")


# media-flavored payload for the image/video preprocessing ops (the gate
# ops above keep the reference's extraction mimes; these model the
# multimodal columns of a training table)
_MEDIA_MIMES = ("image/png", "image/jpeg", "video/mp4", "audio/wav")


def attach_media_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, mime, payload binary) with image/video/audio
    mimes — the multimodal-table stand-in for resize/frame-sampling."""
    mimes = F.array(*[F.lit(m) for m in _MEDIA_MIMES])
    # pmod, not %: Spark % keeps the dividend's sign, so a negative
    # doc_id (hashed-id corpora) would index 0 — a runtime error
    return docs.select(
        "doc_id",
        F.element_at(
            mimes, (F.pmod(F.col("doc_id"), F.lit(len(_MEDIA_MIMES))) + 1)
            .cast("int")
        ).alias("mime"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8").alias("payload"))


def resize_images(with_payload: DataFrame, out_w: int = 224,
                  out_h: int = 224,
                  use_real_decoder: bool = False) -> DataFrame:
    """(doc_id, mime, width, height, out_width, out_height, out_bytes) —
    aspect-preserving fit of each image into an (out_w, out_h) box, the
    standard vision-model preprocessing step, as an Arrow-batched
    mapInPandas kernel over the binary column.

    The pixel work is the stubbed decoder boundary (real_image_decode);
    the deterministic fake path uses pure INTEGER arithmetic (floor-div
    aspect fit) so the DuckDB twin reproduces it bit-for-bit — the Spark
    plumbing (binary batches in, vectorized pandas ops, typed schema
    out, image-mime restriction) is the real 100 TB shape. Non-image
    mimes are filtered BEFORE the Python boundary (Catalyst predicate
    pushed to the scan)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if use_real_decoder:
                raise NotImplementedError(
                    "real decoder unavailable; see real_image_decode")
            n = pdf["payload"].map(len).astype("int64")
            w = n % 640
            h = (n * 7) % 480
            # integer aspect fit into (out_w, out_h); degenerate dims -> 0x0
            height_limited = (w * out_h) <= (h * out_w)
            ow = height_limited * (w * out_h // h.clip(lower=1)) \
                + (~height_limited) * out_w
            oh = height_limited * out_h \
                + (~height_limited) * (h * out_w // w.clip(lower=1))
            degenerate = (w == 0) | (h == 0)
            ow = ow.where(~degenerate, 0)
            oh = oh.where(~degenerate, 0)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "mime": pdf["mime"],
                "width": w, "height": h,
                "out_width": ow.astype("int64"),
                "out_height": oh.astype("int64"),
                "out_bytes": (ow * oh * 3).astype("int64"),  # RGB estimate
            })

    imgs = with_payload.filter(F.col("mime").startswith("image/"))
    return imgs.mapInPandas(
        kernel, "doc_id long, mime string, width long, height long, "
                "out_width long, out_height long, out_bytes long")


def resize_images_sql(out_w: int = 224, out_h: int = 224) -> str:
    mimes = ", ".join(f"'{m}'" for m in _MEDIA_MIMES)
    return f"""
WITH m AS (
  SELECT doc_id,
         ([{mimes}])[CAST(((doc_id % {len(_MEDIA_MIMES)}) + {len(_MEDIA_MIMES)}) % {len(_MEDIA_MIMES)} AS INT) + 1] AS mime,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
),
d AS (
  SELECT doc_id, mime, n % 640 AS w, (n * 7) % 480 AS h FROM m
  WHERE mime LIKE 'image/%'
),
f AS (
  SELECT *, (w * {out_h}) <= (h * {out_w}) AS hl FROM d
)
SELECT doc_id, mime,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(CASE WHEN w = 0 OR h = 0 THEN 0
                 WHEN hl THEN w * {out_h} // greatest(h, 1)
                 ELSE {out_w} END AS BIGINT) AS out_width,
       CAST(CASE WHEN w = 0 OR h = 0 THEN 0
                 WHEN hl THEN {out_h}
                 ELSE h * {out_w} // greatest(w, 1) END AS BIGINT) AS out_height,
       CAST(CASE WHEN w = 0 OR h = 0 THEN 0
                 WHEN hl THEN (w * {out_h} // greatest(h, 1)) * {out_h} * 3
                 ELSE {out_w} * (h * {out_w} // greatest(w, 1)) * 3
            END AS BIGINT) AS out_bytes
FROM f
"""


def sample_frames(with_payload: DataFrame, frame_ms: int = 40,
                  use_real_decoder: bool = False) -> DataFrame:
    """(doc_id, mime, frame_idx, ts_ms, frame_bytes) — one row per
    sampled video frame: the 1→N batch shape (an output batch larger
    than its input batch) that frame extraction needs, via vectorized
    ``np.repeat`` inside mapInPandas — no per-row Python.

    Real ffmpeg decode sits behind the stub boundary; the deterministic
    fake derives n_frames from the payload length (byte_len % 5 + 1), so
    the DuckDB twin (range unnest) reproduces the exact row set. Only
    video mimes cross the Python boundary."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            if use_real_decoder:
                raise NotImplementedError(
                    "real decoder unavailable; see real_image_decode")
            n = pdf["payload"].map(len).astype("int64")
            n_frames = (n % 5 + 1).to_numpy()
            idx = np.repeat(np.arange(len(pdf)), n_frames)
            frame_idx = np.concatenate(
                [np.arange(k) for k in n_frames]) if len(pdf) else np.array([], dtype="int64")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[idx],
                "mime": pdf["mime"].to_numpy()[idx],
                "frame_idx": frame_idx.astype("int64"),
                "ts_ms": (frame_idx * frame_ms).astype("int64"),
                "frame_bytes": (n.to_numpy()[idx]
                                // n_frames[idx]).astype("int64"),
            })

    vids = with_payload.filter(F.col("mime").startswith("video/"))
    return vids.mapInPandas(
        kernel, "doc_id long, mime string, frame_idx long, ts_ms long, "
                "frame_bytes long")


def sample_frames_sql(frame_ms: int = 40) -> str:
    mimes = ", ".join(f"'{m}'" for m in _MEDIA_MIMES)
    return f"""
WITH m AS (
  SELECT doc_id,
         ([{mimes}])[CAST(((doc_id % {len(_MEDIA_MIMES)}) + {len(_MEDIA_MIMES)}) % {len(_MEDIA_MIMES)} AS INT) + 1] AS mime,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
),
v AS (SELECT * FROM m WHERE mime LIKE 'video/%'),
fr AS (
  SELECT doc_id, mime, n, n % 5 + 1 AS n_frames,
         unnest(range(0, n % 5 + 1)) AS frame_idx
  FROM v
)
SELECT doc_id, mime, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * {frame_ms} AS BIGINT) AS ts_ms,
       CAST(n // n_frames AS BIGINT) AS frame_bytes
FROM fr
"""


# ---------------------------------------------------------------------------
# S8 real text extraction (the Tika-equivalent for text mimes)
#
# The reference hands every payload to Tika via Solr Cell
# (Solr.scala:133-143, solrconfig.xml:990-1002) and Tika dispatches by
# mime: text/plain passes through, text/html and text/xml are parsed to
# their visible text (markup stripped, entities decoded). Those three
# need no external libraries, so this engine implements them FOR REAL as
# a pure-Catalyst expression chain (JVM-side regexp_replace/replace —
# whole-stage-codegen, no Python in the hot path). Only the binary-media
# decoders (pdf/docx/image/audio) stay behind the documented stub
# boundary (real_image_decode above): their extraction yields NULL and
# the doc falls back to metadata-only indexing — exactly the reference's
# per-file degradation path (Solr.scala:65-73, package.scala:110-112).
# ---------------------------------------------------------------------------

# decoded AFTER tag-stripping (Tika order: "A &lt;b&gt;" extracts to
# "A <b>", which tag-stripping must not re-eat); "&amp;" is decoded LAST
# so "&amp;lt;" yields the literal "&lt;" and never a phantom "<"
_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)

# regexes shared verbatim by the Catalyst chain (Java regex) and the
# DuckDB twin (RE2): inline (?is) flags, non-greedy spans, no
# backreferences — the syntax subset both engines implement identically.
_RE_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_RE_STYLE = r"(?is)<style[^>]*>.*?</style>"
_RE_COMMENT = r"(?s)<!--.*?-->"
_RE_CDATA = r"(?s)<!\[CDATA\[(.*?)\]\]>"
_RE_TAG = r"<[^>]*>"
_RE_WS = r"\s+"


def _gate_expr(payload, mime):
    """The ONE extraction-gate predicate (64 MiB size cap + mime
    allowlist, Solr.scala:59-61) — shared by extract_text_expr (decides
    NULL) and extract_text (reports the ``gated`` column) so the two can
    never drift apart."""
    return (F.length(payload) > MAX_DECODE_BYTES) | ~mime.isin(*MIME_ALLOWLIST)


def _strip_markup_expr(col, html: bool):
    if html:
        col = F.regexp_replace(col, _RE_SCRIPT, " ")
        col = F.regexp_replace(col, _RE_STYLE, " ")
    col = F.regexp_replace(col, _RE_COMMENT, " ")
    # CDATA content is kept verbatim-as-text; a CDATA section whose
    # content itself looks like markup is NOT protected from the tag
    # strip below (a regex extractor's documented limit vs a real parser)
    col = F.regexp_replace(col, _RE_CDATA, " $1 ")
    col = F.regexp_replace(col, _RE_TAG, " ")
    for ent, ch in _ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(col, _RE_WS, " "))


def extract_text_expr(payload=None, mime=None):
    """Catalyst column: extracted searchable text of a (payload binary,
    mime) pair — text/plain decoded + whitespace-canonicalized, text/html
    and text/xml reduced to their visible text; anything else (binary
    media, or over the 64 MiB / mime gate) is NULL, the metadata-only
    fallback signal (S10/E2)."""
    payload = F.col("payload") if payload is None else payload
    mime = F.col("mime") if mime is None else mime
    raw = F.decode(payload, "UTF-8")
    gated = _gate_expr(payload, mime)
    return (F.when(gated, F.lit(None).cast("string"))
             .when(mime == "text/html", _strip_markup_expr(raw, html=True))
             .when(mime == "text/xml", _strip_markup_expr(raw, html=False))
             .when(mime == "text/plain",
                   F.trim(F.regexp_replace(raw, _RE_WS, " ")))
             .otherwise(F.lit(None).cast("string")))  # pdf/docx: binary
                                                      # decoder stubbed


# deterministic mime-shaped wrappers over documents.text — the test/bench
# corpus for the extractor (the markup exercises every rule: script,
# style, comment, CDATA, nested tags, every entity incl. the &amp;-last
# ordering trap "T&amp;T")
_WRAP_HTML_PRE = ('<html><head><title>T&amp;T</title>'
                  '<style type="text/css">p { color: red; }</style>'
                  '<script>var x = 1 < 2;</script></head>'
                  '<body><p class="lead">A &lt;b&gt; &quot;q&quot;'
                  '&nbsp;&#39;s&apos;</p> ')
_WRAP_HTML_POST = ' <!-- footer --></body></html>'
_WRAP_XML_PRE = ('<?xml version="1.0" encoding="UTF-8"?><doc id="{id}">'
                 '<!-- generated --><title>A &amp; B</title>'
                 '<body><![CDATA[raw cdata 42]]> ')
_WRAP_XML_POST = '</body></doc>'
_WRAP_PDF_PRE = '%PDF-1.4 stream '
_WRAP_PDF_POST = ' endstream'


def attach_markup_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, mime, payload binary): the extraction test
    corpus — each doc's text wrapped in deterministic markup shaped by
    its mime (pure function of doc_id, replicated in SQL)."""
    mimes = F.array(*[F.lit(m) for m in _MIMES])
    mime = F.element_at(mimes, (F.col("doc_id") % len(_MIMES) + 1).cast("int"))
    text = F.coalesce(F.col(text_col), F.lit(""))
    xml_pre, xml_mid = _WRAP_XML_PRE.split("{id}")
    wrapped = (F.when(mime == "text/html",
                      F.concat(F.lit(_WRAP_HTML_PRE), text,
                               F.lit(_WRAP_HTML_POST)))
                .when(mime == "text/xml",
                      F.concat(F.lit(xml_pre),
                               F.col("doc_id").cast("string"),
                               F.lit(xml_mid), text, F.lit(_WRAP_XML_POST)))
                .when(mime.isin("application/pdf",
                                "application/vnd.openxmlformats-officedocument"
                                ".wordprocessingml.document"),
                      F.concat(F.lit(_WRAP_PDF_PRE), text,
                               F.lit(_WRAP_PDF_POST)))
                .when(mime == "image/png",
                      F.concat(F.lit("PNG:"), text))
                .otherwise(text))  # text/plain: the raw text
    return docs.select("doc_id", mime.alias("mime"),
                       F.encode(wrapped, "UTF-8").alias("payload"))


def extract_text(with_payload: DataFrame) -> DataFrame:
    """(doc_id, mime, byte_len, gated, extracted) — the S8 extraction
    operator over a binary-payload table. Entirely JVM-side: one
    projection, no shuffle, no Python — at 100 TB this pipelines inside
    the scan stage that reads the payloads."""
    return with_payload.select(
        "doc_id", "mime",
        F.length(F.col("payload")).alias("byte_len"),
        _gate_expr(F.col("payload"), F.col("mime")).alias("gated"),
        extract_text_expr().alias("extracted"))


def _strip_markup_sql(col: str, html: bool) -> str:
    out = col
    if html:
        out = f"regexp_replace({out}, '{_RE_SCRIPT}', ' ', 'g')"
        out = f"regexp_replace({out}, '{_RE_STYLE}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_RE_COMMENT}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_RE_CDATA}', ' \\1 ', 'g')"
    out = f"regexp_replace({out}, '{_RE_TAG}', ' ', 'g')"
    for ent, ch in _ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent.replace(chr(39), chr(39)*2)}', '{lit}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def extract_text_sql() -> str:
    """DuckDB twin of attach_markup_payload >> extract_text over the
    documents table (same wrap templates, same regex chain in RE2)."""
    mimes = ", ".join(f"'{m}'" for m in _MIMES)
    allow = ", ".join(f"'{m}'" for m in MIME_ALLOWLIST)
    xml_pre, xml_mid = _WRAP_XML_PRE.split("{id}")

    def q(s: str) -> str:
        return s.replace("'", "''")

    docx = ("application/vnd.openxmlformats-officedocument"
            ".wordprocessingml.document")
    wrapped = f"""CASE mime
        WHEN 'text/html' THEN '{q(_WRAP_HTML_PRE)}' || txt || '{q(_WRAP_HTML_POST)}'
        WHEN 'text/xml' THEN '{q(xml_pre)}' || CAST(doc_id AS VARCHAR) || '{q(xml_mid)}' || txt || '{q(_WRAP_XML_POST)}'
        WHEN 'application/pdf' THEN '{q(_WRAP_PDF_PRE)}' || txt || '{q(_WRAP_PDF_POST)}'
        WHEN '{docx}' THEN '{q(_WRAP_PDF_PRE)}' || txt || '{q(_WRAP_PDF_POST)}'
        WHEN 'image/png' THEN 'PNG:' || txt
        ELSE txt END"""
    return f"""
WITH m AS (
  SELECT doc_id,
         ([{mimes}])[CAST(doc_id % {len(_MIMES)} AS INT) + 1] AS mime,
         coalesce(text, '') AS txt
  FROM documents
), w AS (
  SELECT doc_id, mime, {wrapped} AS wrapped FROM m
), g AS (
  SELECT doc_id, mime, octet_length(encode(wrapped)) AS byte_len,
         octet_length(encode(wrapped)) > {MAX_DECODE_BYTES}
           OR mime NOT IN ({allow}) AS gated,
         wrapped
  FROM w
)
SELECT doc_id, mime, byte_len, gated,
       CASE
         WHEN gated THEN NULL
         WHEN mime = 'text/html' THEN {_strip_markup_sql('wrapped', True)}
         WHEN mime = 'text/xml' THEN {_strip_markup_sql('wrapped', False)}
         WHEN mime = 'text/plain'
           THEN trim(regexp_replace(wrapped, '\\s+', ' ', 'g'))
         ELSE NULL
       END AS extracted
FROM g
"""


def decode_features_sql() -> str:
    mimes = ", ".join(f"'{m}'" for m in _MIMES)
    allow = ", ".join(f"'{m}'" for m in MIME_ALLOWLIST)
    return f"""
WITH m AS (
  SELECT doc_id,
         ([{mimes}])[CAST(doc_id % {len(_MIMES)} AS INT) + 1] AS mime,
         octet_length(encode(coalesce(text, ''))) AS byte_len
  FROM documents
)
SELECT doc_id, mime, byte_len,
       byte_len % 640 AS width,
       (byte_len * 7) % 480 AS height,
       byte_len > {MAX_DECODE_BYTES} OR mime NOT IN ({allow}) AS gated
FROM m
"""


# ---------------------------------------------------------------------------
# REAL binary image decode: BMP (24-bit BITMAPINFOHEADER) needs zero
# external libraries — fixed 54-byte header + raw bottom-up BGR rows with
# 4-byte row padding — so for this mime the decoder stub retires and the
# pipeline is byte-real end-to-end (VERDICT r04 #3): generate_bmp_payload
# writes REAL .bmp files a paint program would open; decode_bmp parses
# the actual header fields and sums the actual pixel array. pdf/docx/
# png/jpeg remain behind the documented real_image_decode stub (their
# codecs genuinely aren't in this container).

def _bmp_bytes(doc_id: int, w: int, h: int) -> bytes:
    """One real 24-bit BMP: pixel (x, y) channel c∈{R,G,B} has value
    (7·doc_id + 3·x + 5·y + 11·c) mod 256 — closed-form, so the DuckDB
    oracle recomputes the channel sums without a decoder."""
    import struct

    import numpy as np

    row_stride = (w * 3 + 3) & ~3
    img_size = row_stride * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    base = (7 * doc_id + 3 * x + 5 * y) % 256
    px = np.zeros((h, row_stride), dtype=np.uint8)
    # BMP stores BGR, bottom-up: row 0 in the file is image row h-1
    for c_rgb, off in ((2, 0), (1, 1), (0, 2)):  # B, G, R file order
        px[:, c_rgb:w * 3:3] = ((base + 11 * off) % 256)[::-1]
    return header + info + px.tobytes()


def generate_bmp_payload(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, mime='image/bmp', payload binary): REAL BMP
    bytes built per row (test/benchmark payload synthesis — generation is
    driver-free and Arrow-batched; per-object byte assembly is inherent
    to building variable-size binaries)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            ws = (ids % 13 + 13) % 13 + 4
            hs = (ids * 5 % 11 + 11) % 11 + 3
            yield pd.DataFrame({
                "doc_id": ids,
                "mime": "image/bmp",
                "payload": [_bmp_bytes(int(i), int(w), int(h))
                            for i, w, h in zip(ids, ws, hs)],
            })

    return (docs.select("doc_id")
            .mapInPandas(kernel, "doc_id long, mime string, payload binary"))


def decode_bmp(with_payload: DataFrame) -> DataFrame:
    """(doc_id, width, height, bpp, r_sum, g_sum, b_sum) — a REAL binary
    decode: magic check, header field parse (width/height/bpp at their
    BITMAPINFOHEADER offsets), bottom-up padded-row pixel array walk,
    per-channel pixel sums. numpy over each Arrow batch; non-BMP or
    malformed payloads yield a NULL-stats row (the E2 degraded-doc
    contract, like extract_text's fallback)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "bpp": [],
                   "r_sum": [], "g_sum": [], "b_sum": []}
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(doc_id)
                b = bytes(buf) if buf is not None else b""
                if len(b) < 54 or b[:2] != b"BM":
                    for k in ("width", "height", "bpp",
                              "r_sum", "g_sum", "b_sum"):
                        out[k].append(None)
                    continue
                off = int.from_bytes(b[10:14], "little")
                w = int.from_bytes(b[18:22], "little", signed=True)
                h = int.from_bytes(b[22:26], "little", signed=True)
                bpp = int.from_bytes(b[28:30], "little")
                row_stride = (w * 3 + 3) & ~3
                if bpp != 24 or h <= 0 or w <= 0 \
                        or len(b) < off + row_stride * h:
                    for k in ("width", "height", "bpp",
                              "r_sum", "g_sum", "b_sum"):
                        out[k].append(None)
                    continue
                px = (np.frombuffer(b, dtype=np.uint8,
                                    count=row_stride * h, offset=off)
                      .reshape(h, row_stride)[:, :w * 3]
                      .reshape(h, w, 3).astype(np.int64))
                out["width"].append(w)
                out["height"].append(h)
                out["bpp"].append(bpp)
                out["b_sum"].append(int(px[:, :, 0].sum()))
                out["g_sum"].append(int(px[:, :, 1].sum()))
                out["r_sum"].append(int(px[:, :, 2].sum()))
            yield pd.DataFrame(out)

    bmps = with_payload.filter(F.col("mime") == "image/bmp")
    return bmps.mapInPandas(
        kernel, "doc_id long, width long, height long, bpp long, "
                "r_sum long, g_sum long, b_sum long")


def decode_bmp_sql() -> str:
    """DuckDB twin: the generator's closed-form pixel law lets the oracle
    recompute dimensions AND channel sums with no decoder — any header
    mis-parse, stride/padding slip, BGR/RGB swap, or bottom-up error in
    decode_bmp breaks the hash."""
    return """
WITH dims AS (
  SELECT doc_id,
         ((doc_id % 13) + 13) % 13 + 4 AS w,
         ((doc_id * 5 % 11) + 11) % 11 + 3 AS h
  FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
),
pxy AS (
  SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM px
)
SELECT doc_id, CAST(min(w) AS BIGINT) AS width,
       CAST(min(h) AS BIGINT) AS height, CAST(24 AS BIGINT) AS bpp,
       CAST(sum((7 * doc_id + 3 * x + 5 * y) % 256) AS BIGINT) AS r_sum,
       CAST(sum((7 * doc_id + 3 * x + 5 * y + 11) % 256) AS BIGINT) AS g_sum,
       CAST(sum((7 * doc_id + 3 * x + 5 * y + 22) % 256) AS BIGINT) AS b_sum
FROM pxy GROUP BY doc_id
"""
