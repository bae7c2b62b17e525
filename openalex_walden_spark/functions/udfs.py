"""Arrow-vectorized Python surface (SURVEY.md §2.10): pandas UDFs and
mapInPandas operators.

The engine's policy: Python only where JVM expressions genuinely can't
express the semantics (name parsing, per-row binary decode, a model
that cannot be SQL) — and then always Arrow-batched, never
row-at-a-time (reference precedent: ``normalize.py:233-303`` pandas
UDFs).  A model the oracle states relationally runs in the plan
instead: ``s8_model_inference``'s linear scorer is a SQL fold.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator
from functools import lru_cache

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# P5: author-name keying (reference contract: normalize.py:55-92 —
# HumanName parse → "last;first_initial", latin-folded, lru_cached per
# Python worker because workers are reused across batches).
#
# The reference delegates to the public `nameparser` package; that
# library is not in this container, so parse_human_name() implements the
# needed subset: "Last, First" comma order, surname particles ("de la
# Cruz", "van der Berg"), generational/degree suffixes ("Smith Jr.",
# "Jones III, PhD"), and honorific titles — the cases the plain
# split-on-whitespace key mis-keyed.
# ---------------------------------------------------------------------------
_FOLD = str.maketrans(
    "àáâãäåçèéêëìíîïñòóôõöùúûüýÿšžœæß",
    "aaaaaaceeeeiiiinooooouuuuyyszoas",
)
_TITLES = {
    "dr", "prof", "professor", "mr", "mrs", "ms", "miss", "sir", "dame",
    "lord", "lady", "rev", "fr", "hon",
}
_SUFFIXES = {
    "jr", "sr", "ii", "iii", "iv", "v", "phd", "md", "esq", "dds", "jd",
    "msc", "mba", "frs",
}
# nameparser's surname-prefix list (public package constants).
_PARTICLES = {
    "abu", "bin", "bon", "da", "dal", "de", "del", "dela", "della",
    "delle", "den", "der", "di", "do", "dos", "du", "ibn", "la", "le",
    "san", "santa", "st", "ste", "ter", "ten", "van", "vel", "von",
}


def _norm_token(t: str) -> str:
    return t.strip().strip(".").lower()


def _strip_affixes(tokens: list[str]) -> list[str]:
    while tokens and _norm_token(tokens[0]) in _TITLES:
        tokens = tokens[1:]
    while tokens and _norm_token(tokens[-1]) in _SUFFIXES:
        # A bare trailing "V" is ambiguous: Roman-numeral suffix in
        # "John Smith V" but the FAMILY initial in "Rajesh V". Strip it
        # only when given+family tokens remain afterwards; every other
        # suffix in the list is unambiguous.
        if _norm_token(tokens[-1]) == "v" and len(tokens) <= 2:
            break
        tokens = tokens[:-1]
    return tokens


def parse_human_name(raw: str | None) -> tuple[str, str]:
    """Parse a display name into (first, last). Subset of the public
    nameparser.HumanName behavior the reference relies on."""
    if not raw:
        return ("", "")
    s = raw.strip()
    for pref in ("None ", "Array "):  # reference remove_author_prefixes
        if s.startswith(pref):
            s = s[len(pref):]
    chunks = [c.strip() for c in s.split(",") if c.strip()]
    if len(chunks) >= 2 and not all(
        _norm_token(t) in _SUFFIXES for t in chunks[1].split()
    ):
        # "Last, First [Middle]" (trailing ", Jr."/", PhD" chunks drop)
        last_tokens = _strip_affixes(chunks[0].split())
        first_tokens = _strip_affixes(chunks[1].split())
        first = first_tokens[0] if first_tokens else ""
        return (first, " ".join(last_tokens))
    tokens = _strip_affixes(chunks[0].split() if chunks else [])
    if not tokens:
        return ("", "")
    if len(tokens) == 1:
        return ("", tokens[0])
    # Surname = final token plus any contiguous preceding particles,
    # never consuming the first token (it is the given name).
    idx = len(tokens) - 1
    while idx - 1 >= 1 and _norm_token(tokens[idx - 1]) in _PARTICLES:
        idx -= 1
    return (tokens[0], " ".join(tokens[idx:]))


def _clean_part(p: str) -> str:
    return re.sub(r"[^a-z]", "", p.lower().translate(_FOLD))


@lru_cache(maxsize=500_000)
def _author_key_one(name: str | None) -> str | None:
    if not name:
        return None
    first, last = parse_human_name(name)
    family = _clean_part(last)
    given = _clean_part(first)
    if not family and not given:
        return None
    if not family:
        family, given = given, ""
    return f"{family};{given[0] if given else ''}"


@F.pandas_udf(StringType())
def author_key(names: pd.Series) -> pd.Series:
    """'Given M. Family' → 'family;g' blocking key (Arrow-batched)."""
    return names.map(_author_key_one)


# ---------------------------------------------------------------------------
# Multimodal decode (stubbed): binary payload → typed features.
# The real decode (image/audio libs) is not in this container — the
# deterministic fake below stands in, but the Spark-side plumbing
# (schema, Arrow batching, mapInPandas signature) is the real operator.
# ---------------------------------------------------------------------------
DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("fake_width", LongType()),
        StructField("fake_height", LongType()),
    ]
)


def fake_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: 'decode' each binary payload into metadata.

    A real implementation would call PIL/ffmpeg here per Arrow batch with
    a per-worker decoder cache; the fake derives deterministic pseudo
    dimensions from the payload hash so the DuckDB oracle can verify the
    plumbing end-to-end.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        md5s = payloads.map(lambda b: hashlib.md5(b).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "content_md5": md5s,
                "fake_width": md5s.map(lambda h: int(h[:4], 16) % 640).astype("int64"),
                "fake_height": md5s.map(lambda h: int(h[4:8], 16) % 480).astype("int64"),
            }
        )


BINARY_DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
)


# ---------------------------------------------------------------------------
# P12: TEI-XML field extraction (real XML parser per Arrow batch)
# ---------------------------------------------------------------------------
TEI_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
        StructField("abstract_len", LongType()),
    ]
)


def tei_extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Extract title/author/abstract from TEI-ish XML (PDF.py:92-334's
    contract) with a real parser — the operator regex cannot be trusted
    with on real-world TEI, so the engine parses."""
    import xml.etree.ElementTree as ET

    def extract(xml: str) -> tuple[str | None, str | None, int]:
        root = ET.fromstring(xml)
        title = root.findtext(".//title")
        author = root.findtext(".//persName")
        abstract = root.findtext(".//abstract") or ""
        return title, author, len(abstract)

    for pdf in batches:
        rows = [extract(x) for x in pdf["xml"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "title": [r[0] for r in rows],
                "author": [r[1] for r in rows],
                "abstract_len": pd.Series([r[2] for r in rows], dtype="int64"),
            }
        )


# ---------------------------------------------------------------------------
# Multimodal frame sampling (1→many mapInPandas: video → sampled frames)
# ---------------------------------------------------------------------------
FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_md5", StringType()),
    ]
)

FRAME_STRIDE = 7


def fake_frame_sample_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body for frame sampling: each binary payload expands
    to every FRAME_STRIDE-th frame — the one-to-many batch shape a real
    ffmpeg sampler produces. Frame count and per-frame hash derive
    deterministically from the payload (a real decoder reads container
    metadata instead); cardinality change, schema, and batching are the
    real contract."""
    for pdf in batches:
        ids, idxs, hashes = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            h = hashlib.md5(payload).hexdigest()
            n_frames = len(payload) % 40 + 1
            for i in range(0, n_frames, FRAME_STRIDE):
                ids.append(doc_id)
                idxs.append(i)
                hashes.append(hashlib.md5(f"{h}:{i}".encode()).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="int64"),
                "frame_idx": pd.array(idxs, dtype="int64"),
                "frame_md5": hashes,
            }
        )
