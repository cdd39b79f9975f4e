"""NumPy twin of ``json_schema_clj_spark.sources.images.images_df``.

Produces the same table bit for bit (same columns, types, values and row
order) without a Spark session, so generating a seed's input costs a
second instead of a cold JVM.  ``check_images.py`` compares the two.
Spark's ``xxhash64`` is XXH64 over each argument in turn, seeded with 42:
``hashInt`` for an int argument, ``hashLong`` for a long one.
"""

from __future__ import annotations

import numpy as np

U = np.uint64
P1, P2, P3, P4, P5 = (
    U(0x9E3779B185EBCA87),
    U(0xC2B2AE3D27D4EB4F),
    U(0x165667B19E3779F9),
    U(0x85EBCA77C2B2AE63),
    U(0x27D4EB2F165667C5),
)
SEED = 42

WORDS = [
    "amber", "basalt", "cedar", "delta", "ember", "fjord", "garnet", "harbor",
    "indigo", "juniper", "krill", "lumen", "maple", "nectar", "onyx", "prism",
    "quartz", "raven", "sable", "tundra",
]
MAGIC = {
    "png": bytes.fromhex("89504e470d0a1a0a"),
    "jpeg": bytes.fromhex("ffd8ffe000104a46"),
    "webp": bytes.fromhex("52494646" "2a000000" "57454250"),
}


def _rotl(x, r: int):
    return (x << U(r)) | (x >> U(64 - r))


def _fmix(h):
    h = h ^ (h >> U(33))
    h = h * P2
    h = h ^ (h >> U(29))
    h = h * P3
    return h ^ (h >> U(32))


def hash_int(v, seed):
    v = np.asarray(v, dtype=np.int64).astype(np.uint32).astype(U)
    h = np.asarray(seed, dtype=U) + P5 + U(4)
    h = h ^ (v * P1)
    return _fmix(_rotl(h, 23) * P2 + P3)


def hash_long(v, seed):
    v = np.asarray(v, dtype=np.int64).astype(U)
    h = np.asarray(seed, dtype=U) + P5 + U(8)
    h = h ^ (_rotl(v * P2, 31) * P1)
    return _fmix(_rotl(h, 27) * P1 + P4)


def xxhash64_lit_long(a: int, i):
    """Spark ``xxhash64(lit(a), i)`` for a long column: ``lit`` types a
    Python int as int when it fits 32 bits, else as long."""
    fits = -(2**31) <= a < 2**31
    with np.errstate(over="ignore"):
        first = hash_int(a, U(SEED)) if fits else hash_long(a, U(SEED))
        return hash_long(i, first)


def xxhash64_long_int(i, k):
    """Spark ``xxhash64(i, k)`` for a long column and an int column."""
    with np.errstate(over="ignore"):
        return hash_int(k, hash_long(i, U(SEED)))


def pmod(h, m: int):
    return np.mod(h.view(np.int64), m)


def images_table(n_rows: int, n_parts: int = 64, seed: int = 42, drift: bool = False):
    """The ``images_df(spark, n_rows, n_parts, seed, inject_violations=True,
    drift)`` table as a pyarrow Table."""
    import pyarrow as pa

    i = np.arange(n_rows, dtype=np.int64)
    r = i % 200
    h = xxhash64_lit_long(seed, i)
    ids = np.array([f"img-{x:016x}" for x in h.tolist()], dtype=object)
    ids[r == 7] = [s.upper() for s in ids[r == 7]]
    dup = (i % 5000 == 4999) & (i > 0)
    prev = xxhash64_lit_long(seed, i[dup] - 1)
    ids[dup] = [f"img-{x:016x}" for x in prev.tolist()]

    w = (pmod(xxhash64_lit_long(seed + 1, i), 4096) + 1).astype(np.int32)
    hgt = (pmod(xxhash64_lit_long(seed + 2, i), 4096) + 1).astype(np.int32)
    w = np.where(r == 23, 0, np.where(r == 57, 70000, w)).astype(np.int32)
    hgt = np.where(r == 91, 0, np.where(r == 123, 70000, hgt)).astype(np.int32)
    part = (i % n_parts).astype(np.int32)
    if drift:
        w = np.where((part >= n_parts // 2) & (pmod(h, 10) < 3), w + 1024, w).astype(np.int32)

    fmt = np.array(["jpeg", "png", "webp"], dtype=object)[i % 3]
    fmt[r == 141] = "bmp"
    fmt[r == 173] = ""

    payload = np.stack(
        [h, xxhash64_long_int(i, w), xxhash64_long_int(i, hgt)], axis=1
    ).astype(">u8").tobytes()
    blank = bytes(4)
    img = [
        MAGIC.get(f, blank) + payload[24 * k : 24 * k + 24] for k, f in enumerate(fmt.tolist())
    ]
    for k in np.flatnonzero(r == 39).tolist():
        img[k] = bytes.fromhex("deadbeef")

    n_words = pmod(h, 8) + 1
    word_ix = np.stack([pmod(xxhash64_long_int(i, np.full(n_rows, k)), len(WORDS)) for k in range(1, 9)], axis=1)
    caption = [
        " ".join(WORDS[x] for x in row[:nw]) for row, nw in zip(word_ix.tolist(), n_words.tolist())
    ]
    for k in range(0, n_rows, 1000):
        caption[k] += " \U0001F600"
    for k in np.flatnonzero(r == 63).tolist():
        caption[k] = None
    for k in np.flatnonzero(r == 87).tolist():
        caption[k] = ""

    with np.errstate(over="ignore"):
        phash = hash_long(i // 997, U(SEED)).view(np.int64)

    return pa.table(
        {
            "image_id": pa.array(ids.tolist(), pa.string()),
            "bytes": pa.array(img, pa.binary()),
            "w": pa.array(w, pa.int32()),
            "h": pa.array(hgt, pa.int32()),
            "fmt": pa.array(fmt.tolist(), pa.string()),
            "caption": pa.array(caption, pa.string()),
            "phash": pa.array(phash, pa.int64()),
            "part_id": pa.array(part, pa.int32()),
        }
    )
