"""Frozen text extraction + text-analysis functions.

``extract_text`` is the engine's byte-identical html→text oracle function
(BASELINE.json input_hint: "byte-identical extracted text per url").
It is a frozen pure function: its behavior is pinned by tests and must
never change, because the synthetic pages generator constructs html such
that ``extract_text(html) == text`` holds exactly, and verification
hashes extracted text per url.

The analysis functions (language id, quality score, token count,
fingerprint) are the training-data-pipeline text ops; each has a Spark
DataFrame wrapper in operators/text_ops.py with a matching DuckDB-SQL
oracle where expressible.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# --- frozen extractor ------------------------------------------------------

_TAG_RE = re.compile(rb"<[^>]*>")
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.S)
_WS_RE = re.compile(rb"[ \t\r\n]+")


def extract_text(html: bytes) -> str:
    """FROZEN: strip comments, strip tags, collapse whitespace, trim.

    Decodes utf-8 (errors replaced). Deterministic, pure, version-pinned.
    """
    if html is None:
        return ""
    no_comments = _COMMENT_RE.sub(b" ", html)
    no_tags = _TAG_RE.sub(b" ", no_comments)
    collapsed = _WS_RE.sub(b" ", no_tags).strip()
    return collapsed.decode("utf-8", errors="replace")


def extract_text_series(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


# --- language id (n-gram heuristic) ---------------------------------------

# tiny per-language marker sets (public-knowledge stopwords); the generator
# writes text with these markers so the heuristic is exact on synthetic data
LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " with "),
    "de": (" der ", " und ", " die ", " mit "),
    "fr": (" le ", " et ", " les ", " avec "),
    "es": (" el ", " y ", " los ", " con "),
    "zh": ("的", "是", "在", "和"),
}


def lang_id(text: str) -> str:
    if not text:
        return "und"
    padded = f" {text.lower()} "
    best, best_score = "und", 0
    for lang, markers in LANG_MARKERS.items():
        score = sum(padded.count(m) for m in markers)
        if score > best_score:
            best, best_score = lang, score
    return best


# --- quality scoring -------------------------------------------------------

_WORD_RE = re.compile(r"\S+")
_ALPHA_RE = re.compile(r"[A-Za-z]")

STOPWORDS = frozenset(
    "the a an and or of to in is are was were it this that with for on as be".split()
)


def quality_features(text: str) -> dict:
    """Length/punctuation/stopword-ratio features (C4/Gopher-style
    heuristics, public knowledge)."""
    n_chars = len(text)
    words = _WORD_RE.findall(text)
    n_words = len(words)
    n_alpha = len(_ALPHA_RE.findall(text))
    n_stop = sum(1 for w in words if w.lower().strip(".,!?;:") in STOPWORDS)
    mean_word_len = (sum(len(w) for w in words) / n_words) if n_words else 0.0
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "alpha_ratio": (n_alpha / n_chars) if n_chars else 0.0,
        "stopword_ratio": (n_stop / n_words) if n_words else 0.0,
        "mean_word_len": mean_word_len,
    }


def quality_score(text: str) -> float:
    """Scalar quality in [0,1]: blend of alpha ratio, stopword presence,
    and reasonable word lengths."""
    f = quality_features(text)
    if f["n_words"] == 0:
        return 0.0
    wl = f["mean_word_len"]
    wl_term = 1.0 if 3.0 <= wl <= 10.0 else 0.5
    return round(
        0.4 * f["alpha_ratio"] + 0.4 * min(1.0, 4.0 * f["stopword_ratio"]) + 0.2 * wl_term,
        6,
    )


# --- token counting --------------------------------------------------------

# BPE-ish pre-tokenizer regex (GPT-2 style, public): words, numbers,
# punctuation runs, whitespace-prefixed words
_BPE_RE = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]|\s+(?!\S)")


def token_count_bpe(text: str) -> int:
    """BPE-ish token count via the pre-tokenizer regex (approximates
    subword tokenizers without a vocab)."""
    return len(_BPE_RE.findall(text))


# --- document fingerprinting ----------------------------------------------

def fingerprint(text: str) -> int:
    """Deterministic 63-bit document fingerprint over normalized text
    (lower-cased, whitespace-collapsed) — stable across partitions/runs.

    md5-first-8-bytes masked to 63 bits so the value is SQL-oracle
    checkable (DuckDB: ``('0x' || substr(md5(norm), 1, 16))::UBIGINT &
    0x7fff...``) and fits a Spark LongType without sign games (the same
    md5 trick as simhash64/minhash)."""
    import hashlib

    norm = " ".join(text.lower().split())
    h = int.from_bytes(hashlib.md5(norm.encode("utf-8")).digest()[:8], "big")
    return h & 0x7FFFFFFFFFFFFFFF


def simhash64(text: str, shingle: int = 3) -> int:
    """64-bit SimHash over word shingles (Charikar 2002, public).

    Per-gram hash = first 8 bytes of md5 (big-endian), which DuckDB can
    reproduce exactly (``('0x' || substr(md5(g), 1, 16))::UBIGINT``), so
    the whole simhash — and therefore hamming-bounded near-dup pairs —
    is SQL-oracle-checkable (see queries._simhash_sql)."""
    import hashlib

    words = text.lower().split()
    if len(words) < shingle:
        grams = [" ".join(words)] if words else []
    else:
        grams = [" ".join(words[i : i + shingle]) for i in range(len(words) - shingle + 1)]
    if not grams:
        return 0
    # one numpy pass over all grams (the per-gram bit loop was ~14x slower)
    hs = np.fromiter(
        (
            int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
            for g in grams
        ),
        np.uint64,
        len(grams),
    )
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )
    acc = (bits * 2 - 1).sum(axis=0)
    return int(np.packbits((acc > 0).astype(np.uint8), bitorder="little").view(np.uint64)[0])


def winnow_fingerprint_exprs(k: int = 8, w: int = 4) -> tuple[str, str]:
    """MOSS-style winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD'03), built entirely from Spark SQL higher-order
    functions — JVM-side, whole-stage-codegen'd, no Python in the path.

    Returns (hashes_expr, winnow_expr) SQL fragments over a column
    ``_norm`` (lower-cased, whitespace-collapsed text):
      * hashes: the 60-bit hash (first 15 md5 hex digits — positive in
        BIGINT, reproducible in DuckDB as ('0x'||substr(md5(g),1,15))::
        BIGINT) of each char k-gram;
      * winnow: the distinct set of per-window minima over every w
        consecutive k-gram hashes — the winnowed fingerprint set, which
        guarantees any match of length >= k+w-1 shares a fingerprint.

    Guards (built INTO the expressions, so the contract holds for any
    caller): docs with fewer than k+w-1 chars produce an empty set —
    without the guard, Spark's sequence(1, n) counts DOWN for n < 1 and
    slice(_, 0, w) throws, and sub-k docs would hash truncated grams.
    """
    min_len = k + w - 1
    hashes = (
        f"if(length(_norm) < {min_len}, array(), "
        f"transform(sequence(1, length(_norm) - {k - 1}), i -> "
        f"cast(conv(substring(md5(substring(_norm, i, {k})), 1, 15), 16, 10)"
        " as bigint)))"
    )
    winnow = (
        f"if(size(_hashes) < {w}, array(), "
        f"array_distinct(transform(sequence(1, size(_hashes) - {w - 1}), "
        f"j -> array_min(slice(_hashes, j, {w})))))"
    )
    return hashes, winnow
