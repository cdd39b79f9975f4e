"""Seeded input generator: writes one workload's inputs and its expected
answers, in a process of its own, before the measured process starts.

    python3 perfbench/gen.py --workload flagship --seed 7 --out DIR

The measured process receives only DIR.  Expected answers are derived here
without the validation engine: from the injection residues of
``sources/images.py:images_df`` (the image tables), from the corruptions
the generator itself applies (``json_docs``), and from the fixtures'
``valid`` flags (``schema_corpus``).  The image tables come from
``images.py``, a NumPy twin of ``images_df`` (same rows, bit for bit), so
no Spark session starts here.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, SIZES  # noqa: E402
from images import images_table, pmod, xxhash64_lit_long  # noqa: E402

# images_df plants a violation on row i when i % 200 hits one of these
# residues; the value is the violations the flagship schema reports there
# (an empty string also fails `type: string`, the reference's blank quirk)
FLAGSHIP_RESIDUES = {7: 1, 23: 1, 57: 1, 91: 1, 123: 1, 141: 1, 173: 2, 87: 2}
N_PARTS = 64
DIM_FORMATS = ["jpeg", "png", "webp"]


# --------------------------------------------------------------- images


def gen_images(out: str, n: int, seed: int) -> dict:
    """The drifted images table, with the expected answers of both the
    flagship validation and the four table operators."""
    import numpy as np
    import pyarrow.parquet as pq

    table = images_table(n, n_parts=N_PARTS, seed=seed, drift=True)
    # two Parquet files: two input splits at local[2]
    os.makedirs(os.path.join(out, "images"))
    for k, (off, length) in enumerate(((0, n // 2), (n // 2, n - n // 2))):
        pq.write_table(table.slice(off, length), os.path.join(out, "images", f"part-{k:05d}.parquet"))
    # drift adds 1024 to w on 30% of the rows of partitions 32-63
    # (pmod(h, 10) < 3), which lifts a planted w = 0 back into range
    i = np.arange(23, n, 200)
    h = xxhash64_lit_long(seed, i)
    lifted = set(i[(i % N_PARTS >= N_PARTS // 2) & (pmod(h, 10) < 3)].tolist())
    n_fail = [0] * N_PARTS
    violations = 0
    for r, k in FLAGSHIP_RESIDUES.items():
        for row in range(r, n, 200):
            if row not in lifted:
                n_fail[row % N_PARTS] += 1
                violations += k

    ids = table.column("image_id")
    # images_df gives row i the id of row i-1 when i % 5000 == 4999
    dup_ids = sorted(ids[row].as_py() for row in range(4999, n, 5000))
    # phash = xxhash64(floor(i / 997)): one key per block of 997 rows
    blocks = [min(997, n - b) for b in range(0, n, 997)]
    return {
        "rows": n,
        "verdicts": {str(p): [len(range(p, n, N_PARTS)), n_fail[p]] for p in range(N_PARTS)},
        "failing_rows": sum(n_fail),
        "violations": violations,
        "image_id_dups": dup_ids,
        "phash_dup_keys": sum(1 for b in blocks if b > 1),
        "phash_dup_rows": sum(b for b in blocks if b > 1),
        "dangling": {"bmp": len(range(141, n, 200)), "": len(range(173, n, 200))},
        "drifted": [str(p) for p in range(N_PARTS // 2, N_PARTS)],
        "dim_formats": DIM_FORMATS,
    }


# --------------------------------------------------------------- json_docs

PLAIN_SCHEMA = {
    "type": "object",
    "required": ["id", "name", "score", "tags", "lo", "hi"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "name": {"type": "string", "minLength": 1, "maxLength": 24, "pattern": "^[a-z][a-z0-9_]*$"},
        "score": {"type": "number", "minimum": 0, "maximum": 100},
        "tags": {"type": "array", "maxItems": 4, "items": {"type": "string", "maxLength": 12}},
        "lo": {"type": "integer", "minimum": 0},
        "hi": {"type": "integer", "minimum": 0},
    },
}
# the same schema plus one $data cross-field bound: lo <= hi
CROSSFIELD_SCHEMA = json.loads(json.dumps(PLAIN_SCHEMA))
CROSSFIELD_SCHEMA["properties"]["lo"]["maximum"] = {"$data": "1/hi"}

# one corruption per field; each yields exactly one violation
CORRUPTIONS = {
    "id": [lambda d, r: d.update(id=-r.randint(1, 10**6)), lambda d, r: d.update(id="x" + str(d["id"]))],
    "name": [
        lambda d, r: d.update(name=_word(r, 30, 40)),
        lambda d, r: d.update(name="Q" + d["name"]),
        lambda d, r: d.pop("name"),
    ],
    "score": [lambda d, r: d.update(score=100 + round(r.uniform(0.5, 50), 2))],
    "tags": [
        lambda d, r: d.update(tags=[_word(r, 2, 10) for _ in range(r.randint(5, 8))]),
        lambda d, r: d.update(tags=[_word(r, 13, 20)] + d["tags"][:3]),
    ],
}
P_CORRUPT = 0.27  # share of docs that break the plain schema
P_INVERTED = 0.06  # share of docs with lo > hi (breaks only crossfield)


def _word(r: random.Random, lo: int, hi: int) -> str:
    return r.choice(string.ascii_lowercase) + "".join(
        r.choice(string.ascii_lowercase + string.digits + "_") for _ in range(r.randint(lo, hi) - 1)
    )


def gen_json_docs(out: str, n: int, seed: int) -> dict:
    r = random.Random(seed)
    invalid = {"plain": 0, "crossfield": 0}
    violations = {"plain": 0, "crossfield": 0}
    with open(os.path.join(out, "docs.jsonl"), "w") as f:
        for i in range(n):
            hi = r.randint(0, 10**6)
            doc = {
                "id": i,
                "name": _word(r, 3, 16),
                "score": round(r.uniform(0, 100), 2),
                "tags": [_word(r, 2, 10) for _ in range(r.randint(0, 4))],
                "lo": r.randint(0, hi),
                "hi": hi,
            }
            k = 0
            if r.random() < P_CORRUPT:
                fields = r.sample(sorted(CORRUPTIONS), r.randint(2, 3))
                for field in fields:
                    r.choice(CORRUPTIONS[field])(doc, r)
                k = len(fields)
            inverted = r.random() < P_INVERTED
            if inverted:
                doc["lo"], doc["hi"] = doc["hi"] + 1 + r.randint(0, 1000), doc["hi"]
            f.write(json.dumps(doc) + "\n")
            invalid["plain"] += k > 0
            violations["plain"] += k
            invalid["crossfield"] += k > 0 or inverted
            violations["crossfield"] += k + inverted
    schemas = {"plain": PLAIN_SCHEMA, "crossfield": CROSSFIELD_SCHEMA}
    with open(os.path.join(out, "schemas.json"), "w") as f:
        json.dump(schemas, f)
    return {"rows": n, "invalid": invalid, "violations": violations}


# --------------------------------------------------------------- schema_corpus

FIXTURE_DIRS = ("draft3", "draft4", "draft6", "draft7", "v5")
ZIPF_S = 1.0  # popularity skew of the draw


def gen_schema_corpus(out: str, n: int, seed: int) -> dict:
    """A draw of `n` operations over the distinct fixture schemas: each
    schema gets a seeded popularity rank and is drawn with Zipf weight
    1/rank^s, so a few schemas repeat often and most appear once or never."""
    by_schema: dict[str, list] = {}
    for d in FIXTURE_DIRS:
        for path in sorted(glob.glob(os.path.join(ROOT, "tests", "fixtures", d, "*.json"))):
            with open(path) as f:
                groups = json.load(f)
            for gi, g in enumerate(groups):
                key = json.dumps(g["schema"], sort_keys=True)
                entry = by_schema.setdefault(key, {"id": f"{d}/{os.path.basename(path)}:{gi}", "cases": []})
                entry["cases"] += [[json.dumps(t["data"]), bool(t["valid"])] for t in g["tests"]]
    if not by_schema:
        raise SystemExit("no fixture schemas under tests/fixtures")
    schemas = [{"schema": k, **v} for k, v in sorted(by_schema.items())]
    r = random.Random(seed)
    ranked = list(range(len(schemas)))
    r.shuffle(ranked)
    weights = [1.0 / (rank + 1) ** ZIPF_S for rank in range(len(ranked))]
    draw = r.choices(ranked, weights=weights, k=n)
    with open(os.path.join(out, "corpus.json"), "w") as f:
        json.dump({"schemas": schemas, "draw": draw}, f)
    return {"rows": sum(len(schemas[i]["cases"]) for i in draw), "ops": n, "distinct": len(set(draw))}


GENERATORS = {
    "flagship": gen_images,
    "table_checks": gen_images,
    "json_docs": gen_json_docs,
    "schema_corpus": gen_schema_corpus,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = GENERATORS[a.workload](tmp, SIZES[a.workload], a.seed)
    expected.update(workload=a.workload, seed=a.seed, size=SIZES[a.workload])
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
