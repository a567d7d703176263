"""Benchmark inputs and their oracle digest.

Every input is a pure function of (workload kind, seed): the seed offsets
the ``doc_id`` range fed to ``sources.pages.build_page``, which is itself a
pure function of ``doc_id``. Seed strides are multiples of 200, so the
language cycle (``doc_id % 10``) and the defect-class cycle
(``(doc_id // 10) % 20``) line up identically for every seed: another seed
gives disjoint pages with the same language and defect-class mix.

The oracle digest is the bit-xor over rows of Spark's
``xxhash64(url, keep, reasons, scrubbed_text, n_entities)``, computed here
from ``oracle.oracle_page`` with a pure-Python port of Spark's XXH64. It is
order-independent, so it does not depend on partitioning.
"""

import datetime
import hashlib
import struct
from typing import Dict, Iterable, List, Tuple

from pii_extract_base_spark.sources.pages import build_page

LANGUAGES = ("en", "es", "fr", "de")

# doc_id ranges: seed s owns [s * SEED_STRIDE, (s + 1) * SEED_STRIDE)
SEED_STRIDE = 1_000_000_000
LONG_BASE = 100_000_000       # long_dense bodies start here within a seed
LONG_ALT = 200_000_000        # shift for a body that would hit the skew tail

WEB_DOCS = 6_000
LONG_BODIES = 20              # build_page bodies joined into one long page
LONG_DOCS = WEB_DOCS // LONG_BODIES   # same total text bytes as web_mixed
# classes whose build_page body injects at least one PII sentence
# (class 9 injects only for "en")
PII_CLASSES = (1, 2, 3, 4, 5, 6, 7, 8, 17)

# ---------------------------------------------------------------------------
# input generation


_EPOCH = datetime.datetime(2024, 1, 1)


def _meta(site: str, doc_id: int) -> Dict:
    h = hashlib.sha1(str(doc_id).encode()).hexdigest()[:16]
    return {"url": f"https://{site}{doc_id % 97}.example/{h}",
            "warc_ts": _EPOCH + datetime.timedelta(
                seconds=doc_id % 31_536_000)}


def web_ids(seed: int) -> range:
    return range(seed * SEED_STRIDE, seed * SEED_STRIDE + WEB_DOCS)


def web_record(doc_id: int) -> Dict:
    text, lang, _cls = build_page(doc_id)
    return {**_meta("site", doc_id), "lang": lang, "text": text}


def long_body_ids(seed: int, k: int) -> List[int]:
    """doc_ids of the LONG_BODIES same-language, PII-bearing bodies of
    long page ``k``: one 200-id block per body, the class picked inside
    the block, the language residue fixed to ``k``'s."""
    r = k % 10
    en = r < 7
    classes = PII_CLASSES + ((9,) if en else ())
    base = seed * SEED_STRIDE + LONG_BASE
    ids = []
    for j in range(LONG_BODIES):
        c = classes[(k + j) % len(classes)]
        d = base + (k * LONG_BODIES + j) * 200 + c * 10 + r
        if d % 997 == 0:                # keep out of the 50x skew tail
            d += LONG_ALT
        ids.append(d)
    return ids


def long_record(seed: int, k: int) -> Dict:
    ids = long_body_ids(seed, k)
    bodies = [build_page(d) for d in ids]
    return {**_meta("dense", ids[0]), "lang": bodies[0][1],
            "text": "\n".join(t for t, _lang, _cls in bodies)}


def make_records(kind: str, seed: int, lo: int, hi: int) -> List[Dict]:
    """Records ``lo:hi`` of the ``kind`` ("web" | "long") input of a seed."""
    if kind == "web":
        return [web_record(d) for d in web_ids(seed)[lo:hi]]
    if kind == "long":
        return [long_record(seed, k) for k in range(lo, hi)]
    raise ValueError(f"unknown input kind {kind!r}")


def input_digest(records: Iterable[Dict]) -> str:
    """sha256 over the records in order: pins that a seed's input is
    reproduced byte for byte."""
    h = hashlib.sha256()
    for r in records:
        for f in ("url", "lang", "text"):
            h.update(r[f].encode("utf-8"))
            h.update(b"\0")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Spark-compatible xxhash64 (catalyst XxHash64, seed 42)

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SPARK_SEED = 42
# the output digest: bit-xor over rows of xxhash64 of these columns
DIGEST_COLUMNS = ("url", "keep", "reasons", "scrubbed_text", "n_entities")


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * P2) & _M, 31) * P1) & _M


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * P1 + P4) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    return h ^ (h >> 32)


def xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit seed and result)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed
        v4 = (seed - P1) & _M
        n_stripes = n // 32
        lanes = struct.unpack_from(f"<{4 * n_stripes}Q", data)
        for s in range(0, 4 * n_stripes, 4):
            v1 = _round(v1, lanes[s])
            v2 = _round(v2, lanes[s + 1])
            v3 = _round(v3, lanes[s + 2])
            v4 = _round(v4, lanes[s + 3])
        i = 32 * n_stripes
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * P1 + P4) & _M
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * P1) & _M
        h = (_rotl(h, 23) * P2 + P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        i += 1
    return _fmix(h)


def xxh64_int(value: int, seed: int) -> int:
    """Spark's hashInt: XXH64 of the 4-byte little-endian int."""
    h = (seed + P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * P1) & _M
    h = (_rotl(h, 23) * P2 + P3) & _M
    return _fmix(h)


def row_hash(url: str, keep: bool, reasons: List[str], scrubbed: str,
             n_entities: int) -> int:
    """``xxhash64(url, keep, reasons, scrubbed_text, n_entities)`` as an
    unsigned 64-bit int: each column's hash seeds the next one, an
    array hashes element by element."""
    h = xxh64_bytes(url.encode("utf-8"), SPARK_SEED)
    h = xxh64_int(1 if keep else 0, h)
    for r in reasons:
        h = xxh64_bytes(r.encode("utf-8"), h)
    h = xxh64_bytes(scrubbed.encode("utf-8"), h)
    return xxh64_int(n_entities, h)


def to_signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


# ---------------------------------------------------------------------------
# oracle


def oracle_chunk(records: List[Dict]) -> Tuple[int, int, int, int]:
    """(xor of row hashes, rows, entities, rows with >= 1 entity) from the
    pure-Python full-pipeline oracle."""
    from pii_extract_base_spark.oracle import oracle_page
    x = ents = hits = 0
    for r in records:
        o = oracle_page(r["text"], r["lang"], r["url"], LANGUAGES)
        x ^= row_hash(r["url"], o["keep"], o["reasons"],
                      o["scrubbed_text"], o["n_entities"])
        ents += o["n_entities"]
        hits += o["n_entities"] > 0
    return x, len(records), ents, hits


def gen_and_oracle(kind: str, seed: int, lo: int, hi: int,
                   with_oracle: bool):
    """Pool task: one slice of the input, plus its oracle summary."""
    recs = make_records(kind, seed, lo, hi)
    return recs, (oracle_chunk(recs) if with_oracle else None)
