"""File-level key Bloom indexes -- Iceberg-puffin-style SIDECAR files.

Point lookups on a hashed merge key defeat min/max zone maps: the keys
a CDC operator asks for are scattered uniformly through every file of
the bucket they hash to, so the ``[min(keys), max(keys)]`` envelope
(``LakeTable.lookup``) prunes nothing once a bucket holds more than a
few key-clustered files. The membership question "could url X be in
this file at all?" needs a Bloom filter -- exactly what Iceberg stores
in puffin sidecar files and Delta in its file-skipping indexes.

Layout (the puffin split, manifest stays O(refs)):

- one gzip'd-bitset JSON **sidecar** per harvest under
  ``metadata/blooms/``: ``{format, key, m, k, blooms: {rel: b64}}``
  where each value is ``base64(gzip(little-endian bitset of m bits))``;
- the manifest carries only ``bloom_files: {sidecar_rel: [covered
  rels]}`` + ``blooms_format`` -- inherited by every commit through the
  ``{**parent}`` spread and pruned to live files at publish, like zone
  maps. Data files are immutable, so a bloom entry keyed by path can
  be orphaned but never stale: ANY surviving entry is valid no matter
  which commit line (branch, rollback, rebase) carried it.

Soundness: a Bloom filter has no false negatives, so skipping a file
whose bloom rejects EVERY probe key is exact; files without an entry
(written after the harvest, or larger than the size cap) are always
scanned, and the reader's residual ``isin`` keeps results exact either
way. Same contract as zone maps: pruning is an optimization the
planner may decline, never a semantics change.

Determinism contract (Spark side and driver side must agree bit-for-
bit): the bloom hashes the merge key with the engine's one key hash,
owned by sources/lakebase.py, so it indexes exactly the key types
that bucket pruning serves (``_driver_hashable``):

- h1, h2 = the key hash salted with 1 and with 2, masked to 60 bits
  (``_bloom_hash_exprs`` in the harvest, ``_bloom_hashes`` for a
  probe); a composite key hashes its whole tuple, and a key with a
  NULL component is never indexed (it matches no probe);
- bit_i = (h1 + i*h2) mod m for i in 0..k-1 (Kirsch-Mitzenmacher
  double hashing; h1 + (k-1)*h2 < 7*2^60 stays inside int64);
- bit p lives at byte p>>3, bit p&7 of the little-endian bitset.

Scale: the harvest is ONE Spark job over just the key column of the
uncovered files (column-pruned parquet scan); bit positions fold into
64-bit words JVM-side (``bit_or`` partial agg), so the driver receives
O(set bits / 64) longs, not rows. At 100 TB the same job would write
sidecars executor-side (foreachPartition per file group) instead of
folding through the driver -- the manifest/ sidecar split already
supports that, only the harvest plumbing would move.

Provenance: the reference has no secondary indexes (its staged
datasets carry only a control-file manifest,
/root/reference/src/YADAMU/loader/node/loaderDBI.js:321); this is the
Iceberg capability class its lake-format successor needs, built on the
engine's own deterministic-hash contract.
"""

from __future__ import annotations

import base64
import gzip
import json

#: bump when the hash/bitset contract changes; stale-format sidecars
#: are ignored by the planner (same discipline as STATS_FORMAT).
#: Format 1 hashed md5 of the key's string form
BLOOM_FORMAT = 2

#: largest supported hash count: the Spark-side position expression
#: ``h1 + i*h2`` is evaluated in BIGINT, and with h1, h2 < 2^60 the
#: largest term ``h1 + (MAX_K-1)*h2 < 7*2^60`` stays inside int64;
#: k = 8 would reach 2^63 and wrap negative on the JVM while Python's
#: big ints stay exact -- silently breaking the cross-side contract
MAX_K = 7


def positions(h1: int, h2: int, m_bits: int, k: int) -> list[int]:
    """The ``k`` bit positions of a key whose two bloom hashes are
    ``h1`` and ``h2``."""
    return [(h1 + i * h2) % m_bits for i in range(k)]


def might_contain(bits: bytes, pos: list[int]) -> bool:
    """False when the bitset proves the key with positions ``pos``
    absent."""
    return all((bits[p >> 3] >> (p & 7)) & 1 for p in pos)


def encode_bitset(words: dict[int, int], m_bits: int) -> str:
    """{word_index: int64} -> base64(gzip(little-endian bitset)).
    int64 words may arrive sign-extended from Spark's BIGINT bit_or."""
    big = 0
    for w, val in words.items():
        big |= (val & 0xFFFFFFFFFFFFFFFF) << (64 * w)
    return base64.b64encode(
        gzip.compress(big.to_bytes(m_bits // 8, "little"))
    ).decode("ascii")


def decode_bitset(b64: str) -> bytes:
    return gzip.decompress(base64.b64decode(b64))


def encode_sidecar(key: str, m_bits: int, k: int,
                   blooms: dict[str, str]) -> str:
    return json.dumps({
        "format": BLOOM_FORMAT, "key": key, "m": m_bits, "k": k,
        "blooms": blooms,
    }, sort_keys=True)


def decode_sidecar(text: str) -> dict | None:
    """Parsed sidecar, or None when unreadable / wrong format (the
    planner then simply scans the covered files -- coverage loss is
    always sound)."""
    try:
        doc = json.loads(text)
    except (ValueError, TypeError):
        return None
    if not isinstance(doc, dict) or doc.get("format") != BLOOM_FORMAT:
        return None
    # a JSON-valid but malformed document must degrade to a scan, not
    # crash the planner: m/k must be usable by positions() (m > 0 is
    # the modulus) and blooms must be the {rel: b64} dict probes index
    if not isinstance(doc.get("m"), int) or not isinstance(doc.get("k"), int):
        return None
    if doc["m"] <= 0 or doc["k"] <= 0:
        return None
    if not isinstance(doc.get("blooms"), dict):
        return None
    return doc
