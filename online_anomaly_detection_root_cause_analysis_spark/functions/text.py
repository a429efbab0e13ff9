"""Text feature extraction: JVM column builders.

The graft's analog of the reference's record-building stage
(utils/dimension/DimensionsBuilder.scala:10-44 + the upstream TPC-DS
cube view dsdgen/dw/web_sales_cube_nonull.sql): instead of projecting
Kafka JSON into typed dimensions, we derive metric + dimensions from
web-page rows. Every builder here is built-in `pyspark.sql.functions`
(whole-stage codegen, no Python worker): html->text extraction,
language-ID (marker counting) and fingerprinting (sha60).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deliberately small English-ish stopword list for quality scoring
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def extract_text(html: Column) -> Column:
    """html binary -> visible text: tags (`<[^>]*>`) stripped on the
    bytes, then one UTF-8 decode with U+FFFD for invalid bytes — the
    same string as `re.sub(rb"<[^>]*>", b"", b).decode("utf-8",
    "replace")`. ISO-8859-1 maps each byte to one char and back, so
    the regex runs on bytes; the cast to string keeps the bytes as
    they are, and `make_valid_utf8` does the decode's replacement.
    Deterministic (a pure function of the bytes), so extraction is
    byte-identical per url — the per-row invariant from BASELINE.json
    input_hint."""
    latin1 = F.decode(html, "ISO-8859-1")
    stripped = F.encode(F.regexp_replace(latin1, "<[^>]*>", ""), "ISO-8859-1")
    return F.make_valid_utf8(stripped.cast("string"))


def url_host_col(url: Column) -> Column:
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)


def url_dimension_cols(url: Column) -> dict[str, Column]:
    """host -> domain -> tld hierarchy columns, all JVM-side regex/
    string ops (no UDF). domain = host minus its first label; tld =
    last label."""
    host = url_host_col(url)
    return {
        "url_host": host,
        "url_domain": F.regexp_extract(host, r"^[^.]+\.(.+)$", 1),
        "url_tld": F.substring_index(host, ".", -1),
    }


def token_count_col(text: Column) -> Column:
    """Whitespace token count, JVM-side."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_piece_count_col(text: Column) -> Column:
    """BPE-ish piece count: runs of letters, digits, or single other
    non-space chars (the usual pre-tokenizer regex shape), JVM-side."""
    return F.regexp_count(text, F.lit(r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"))


def quality_score_cols(text: Column) -> dict[str, Column]:
    """Document-quality signals as plain column math (JVM-side):
    length, punctuation ratio, stopword ratio, mean token length, and
    a composite [0,1] score."""
    n_chars = F.length(text)
    tokens = F.split(F.trim(text), r"\s+")
    n_tokens = token_count_col(text)
    n_punct = F.regexp_count(text, F.lit(r"[\p{Punct}]"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(tokens, stop_arr))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    mean_token_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))) * 0.25
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.25
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "mean_token_len": mean_token_len,
        "quality_score": score,
    }


# tiny per-language marker profiles for the n-gram heuristic; dict
# order is the deterministic tie-break (first-listed language wins)
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "el": ["και", "της", "το "],
    "fr": [" le ", " les ", " des "],
    "es": [" el ", " los ", " de "],
    "ja": ["の", "に", "は"],
    "zh": ["的", "是", "了"],
    "pt": [" o ", " os ", " de "],
}


def marker_count_col(text: Column, marker: str) -> Column:
    """Non-overlapping substring occurrence count, JVM-side:
    (len(t) - len(replace(t, m, ''))) / len(m). Identical semantics to
    str.count of the escaped marker."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("long")


def language_id_col(text: Column) -> Column:
    """Marker-n-gram language heuristic, fully JVM-side (codegen):
    per-language marker-count sums, argmax via array_max over
    (score, -order, lang) structs — highest score wins, ties break to
    the first-listed language; defaults to 'en' when nothing matches."""
    t = F.coalesce(text, F.lit(""))
    cands = []
    for ord_idx, (lang, markers) in enumerate(LANG_MARKERS.items()):
        score = None
        for m in markers:
            c = marker_count_col(t, m)
            score = c if score is None else score + c
        cands.append(
            F.struct(
                score.alias("s"), F.lit(-ord_idx).alias("o"), F.lit(lang).alias("l")
            )
        )
    best = F.array_max(F.array(*cands))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("en"))


def sha60_col(col: Column) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of
    sha256, parsed base-16 — JVM-side here, and exactly mirrorable in
    ANSI SQL / DuckDB as CAST('0x' || substr(sha256(x),1,15) AS
    BIGINT), which is what makes fingerprints and the sha-hashed
    dedup variants oracle-checkable."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")


def content_fingerprint_col(text: Column) -> Column:
    """64-bit-range content fingerprint for near-dup bookkeeping
    (sha60 of the full text). Replaces the round-1 per-byte Python
    rolling hash (VERDICT r1 'What's wrong' #1): pure JVM codegen, and
    SQL-expressible so the DuckDB oracle can mirror it."""
    return sha60_col(text)
