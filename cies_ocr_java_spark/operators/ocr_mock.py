"""Mock-OCR block decode + ordered assembly — the OCR path of EP2/EP3.

Reference parity: async Textract submission + paginated block retrieval with
the BlockType.PAGE filter and in-order text concatenation
(DocumentExtractManager.java:500-517 submit; 540-599 retrieve: nextToken loop,
maxResults(1000), PAGE filter at 554-556/585-587, Collectors.joining()).

The synthetic grammar carries the scanned content as ``%%OCRBlock <TYPE> <b64>``
lines (formats.py). Decoding is expressed ENTIRELY with built-in column
functions — the PAGE filter is the regex itself, base64 decode is
``unbase64``, per-block transforms run inside codegen, and the ordered
concat is ``array_join`` over the match array (which preserves document
order, exactly like the reference consumes blocks in service-returned order).
No Python in this path: at 100 TB the OCR decode is a pure JVM map stage.

Degradation contract (formats.py): the block payload is the maximal
base64-alphabet run after the PAGE marker; a block decodes iff that run is
CANONICAL base64 AND valid UTF-8, else it is SKIPPED. This matters twice
over at scale: Spark's ``unbase64`` RAISES on an interior '=' and ``decode``
raises MALFORMED_CHARACTER_CODING under ANSI — on a 100 TB crawl one
corrupt scan block must kill neither the task nor the readable pages
around it. The UTF-8 gate is ``is_valid_utf8`` over the binary
reinterpreted as a string (binary->string cast does not validate), keeping
the whole path codegen'd.

``ocr_decode_udf`` is the Arrow-vectorized equivalent kept for parity tests
and as the extension point for real image decoding (see multimodal.py).
"""

from __future__ import annotations

import base64
import re

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from cies_ocr_java_spark.formats import (
    B64_CANONICAL,
    B64_TOKEN,
    LAYOUT_CONTENT_TYPES,
    OCR_MARKER,
    WS_RUN,
)

# Only PAGE blocks contribute text — the BlockType.PAGE filter (P5) fused
# into the extraction regex. The capture is the maximal b64-alphabet run:
# trailing garbage (or a Java/Python \S-vs-unicode disagreement) can never
# change WHAT gets captured, only whether the canonical check passes.
_PAGE_BLOCK_PATTERN = rf"{re.escape(OCR_MARKER)} PAGE {B64_TOKEN}"
_PAGE_RE = re.compile(_PAGE_BLOCK_PATTERN)
# The same blocks with the canonical-base64 gate folded in: the capture must
# span the WHOLE b64-alphabet run after the marker (non-empty lookahead at
# its start, negative lookahead at its end) and be canonical, so a
# non-canonical run simply does not match. Exact, because the marker's '%%'
# never occurs inside a base64 run: no match can start inside a skipped run,
# so the canonical blocks found are exactly those the per-block check keeps.
_B64_CHAR = "[A-Za-z0-9+/=]"
_CANONICAL_PAGE_BLOCK_PATTERN = (
    rf"{re.escape(OCR_MARKER)} PAGE (?={_B64_CHAR})({B64_CANONICAL})(?!{_B64_CHAR})"
)
_CANONICAL_RE = re.compile(rf"^{B64_CANONICAL}$")
_WS_RE = re.compile(WS_RUN)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def ocr_text_col(payload: Column | str) -> Column:
    """Decode PAGE blocks in document order and join with ' ', normalized.

    array_join(filter(transform(regexp_extract_all(...)))) — the whole OCR
    retrieval+filter+concat contract as one codegen'd expression:
    non-canonical b64 blocks never match the extraction regex and
    invalid-UTF-8 blocks are filtered out, neither raises (degradation
    contract)."""
    canonical = F.regexp_extract_all(
        _col(payload), F.lit(_CANONICAL_PAGE_BLOCK_PATTERN), 1)
    decoded = F.transform(canonical, lambda b: F.unbase64(b).cast("string"))
    valid = F.filter(decoded, F.is_valid_utf8)
    return F.trim(F.regexp_replace(F.array_join(valid, " "), WS_RUN, " "))


def ocr_block_count(payload: Column | str) -> Column:
    """Number of PAGE blocks — drives batch-chunk metrics and skew salting."""
    return F.size(F.regexp_extract_all(_col(payload), F.lit(_PAGE_BLOCK_PATTERN), 1))


# --- ANALYSIS mode (FeatureType.LAYOUT analog) -----------------------------
# The reference's second OCR mode: submitDocumentToTextAnalysis with
# FeatureType.LAYOUT (DocumentExtractManager.java:483-491), switched by
# TextractMode (application.properties:3, 304-308). The synthetic stream
# carries '%%OCRBlock LAYOUT_<TYPE> <b64>' blocks; ANALYSIS extraction
# classifies them by block type and keeps CONTENT types in stream order,
# dropping page furniture (HEADER/FOOTER/PAGE_NUMBER) — the layout-aware
# upgrade over DETECTION's flat PAGE concat. Same canonical-base64 +
# valid-UTF-8 degradation gates as the PAGE path.

_LAYOUT_BLOCK_PATTERN = rf"{re.escape(OCR_MARKER)} LAYOUT_([A-Z_]+) {B64_TOKEN}"
_LAYOUT_RE = re.compile(_LAYOUT_BLOCK_PATTERN)


def ocr_layout_blocks_col(payload: Column | str) -> Column:
    """ANALYSIS block stream: array<struct<block_type, text>> in document
    order — raw decoded text, all LAYOUT types (consumers filter)."""
    ms = F.regexp_extract_all(_col(payload), F.lit(_LAYOUT_BLOCK_PATTERN), 0)
    ok = F.filter(
        ms,
        lambda m: F.regexp_extract(m, _LAYOUT_BLOCK_PATTERN, 2).rlike(
            rf"^{B64_CANONICAL}$"
        ),
    )
    blocks = F.transform(
        ok,
        lambda m: F.struct(
            F.regexp_extract(m, _LAYOUT_BLOCK_PATTERN, 1).alias("block_type"),
            F.unbase64(F.regexp_extract(m, _LAYOUT_BLOCK_PATTERN, 2))
            .cast("string")
            .alias("text"),
        ),
    )
    return F.filter(blocks, lambda b: F.is_valid_utf8(b["text"]))


def ocr_analysis_text_col(payload: Column | str) -> Column:
    """ANALYSIS main text: CONTENT-type layout blocks joined in order,
    normalized — furniture (HEADER/FOOTER/PAGE_NUMBER) dropped."""
    content = F.filter(
        ocr_layout_blocks_col(payload),
        lambda b: b["block_type"].isin(*LAYOUT_CONTENT_TYPES),
    )
    joined = F.array_join(F.transform(content, lambda b: b["text"]), " ")
    return F.trim(F.regexp_replace(joined, WS_RUN, " "))


def _layout_blocks_batch(payload: pd.Series) -> pd.Series:
    """pandas parity: one list[(block_type, text)] per row."""
    def one(p: str) -> list[tuple[str, str]]:
        out = []
        for m in _LAYOUT_RE.finditer(p or ""):
            text = _decode_one(m.group(2))
            if text is not None:
                out.append((m.group(1), text))
        return out

    return payload.map(one)


def _analysis_ocr_batch(payload: pd.Series) -> pd.Series:
    content = _layout_blocks_batch(payload).map(
        lambda blocks: " ".join(
            t for bt, t in blocks if bt in LAYOUT_CONTENT_TYPES
        )
    )
    return content.str.replace(_WS_RE, " ", regex=True).str.strip(" ")


# --- pandas-UDF parity path ------------------------------------------------


def _decode_one(b: str) -> str | None:
    """One block per the degradation contract: canonical b64 + valid UTF-8,
    else None (skipped)."""
    if not _CANONICAL_RE.fullmatch(b):
        return None
    try:
        return base64.b64decode(b).decode("utf-8")
    except (ValueError, UnicodeDecodeError):
        return None


def _decode_ocr_batch(payload: pd.Series) -> pd.Series:
    s = payload.fillna("")
    rid = pd.RangeIndex(len(s))
    s.index = rid
    matches = s.str.extractall(_PAGE_BLOCK_PATTERN)[0]
    if len(matches):
        decoded = matches.map(_decode_one).dropna()
        joined = decoded.groupby(level=0).agg(" ".join)
    else:
        joined = pd.Series(dtype="object")
    out = joined.reindex(rid).fillna("")
    return out.str.replace(_WS_RE, " ", regex=True).str.strip(" ")


@F.pandas_udf(T.StringType())
def ocr_decode_udf(payload: pd.Series) -> pd.Series:
    return _decode_ocr_batch(payload)
