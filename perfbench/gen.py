"""Seeded input generator for the benchmark workloads.

Uses numpy and pyarrow only, never the library under test, so a library
change cannot change the inputs. Every table is written as several files
of several row groups each, so parquet scans can fan out to every core.

    python3 perfbench/gen.py --workload pack_flat --seed 7 --shape full --out DIR

writes the tables under DIR plus ``oracle.json`` (expected answers, see
``oracle.py``) and ``inputs.json`` (sizes and a digest of every file).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload and shape. "full" is what the benchmark
# measures; "tiny" is the self-check shape.
CORPUS = {
    "full": dict(n_docs=1_500, words_lo=30, words_hi=200, vocab=5_000,
                 zipf_s=1.1, dup_frac=0.05, n_vec=4_000, dim=64,
                 clusters=32, noise=0.35, n_queries=50,
                 files=4, row_groups=2),
    # the corpus that rides along in pack_flat: the pipeline's job chains
    # at a size where their fixed cost per job, not the data, dominates
    "small": dict(n_docs=200, words_lo=30, words_hi=120, vocab=3_000,
                  zipf_s=1.1, dup_frac=0.05, n_vec=1_000, dim=32,
                  clusters=16, noise=0.35, n_queries=30,
                  files=2, row_groups=2),
    "tiny": dict(n_docs=200, words_lo=30, words_hi=60, vocab=800,
                 zipf_s=1.1, dup_frac=0.05, n_vec=600, dim=16,
                 clusters=8, noise=0.35, n_queries=10,
                 files=2, row_groups=2),
}
SHAPES = {
    "pack_flat": {
        # heavy-tailed cells: lognormal(median, sigma) lengths clipped to
        # [1, max_len], plus a share of objects with no sources at all
        "full": dict(n_obj=5_000, median_len=24, sigma=0.94, max_len=1300,
                     empty_frac=0.02, files=4, row_groups=4, corpus=CORPUS["small"]),
        "tiny": dict(n_obj=300, median_len=6, sigma=0.9, max_len=60,
                     empty_frac=0.05, files=2, row_groups=2, corpus=CORPUS["tiny"]),
    },
    "nested_scan": {
        "full": dict(n_obj=1_200, len_lo=150, len_hi=250, files=4, row_groups=4),
        "tiny": dict(n_obj=200, len_lo=5, len_hi=15, files=2, row_groups=2),
    },
    "corpus": {"full": CORPUS["full"], "tiny": CORPUS["tiny"]},
}

BANDS = np.array(["g", "r", "i"])
BAND_P = [0.4, 0.4, 0.2]
QUERY_ID_BASE = 10_000_000


def rng_for(workload: str, seed: int) -> np.random.Generator:
    """One independent stream per (workload, seed)."""
    return np.random.default_rng([seed, zlib.crc32(workload.encode())])


def write_table(table: pa.Table, directory: str, files: int, row_groups: int) -> None:
    """Split ``table`` into ``files`` parquet files of ``row_groups`` row
    groups each."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // row_groups))
        pq.write_table(part, os.path.join(directory, f"part-{i:02d}.parquet"),
                       row_group_size=rg)


def _objects(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {
        "id": rng.permutation(n).astype(np.int64),
        "ra": rng.uniform(0.0, 360.0, n),
        "dec": np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n))),
        "a": rng.uniform(0.0, 1.0, n),
    }


def _elements(rng: np.random.Generator, owner_a: np.ndarray, lengths: np.ndarray
              ) -> dict[str, np.ndarray]:
    """Per-element light-curve fields; ``owner_a`` shifts each object's
    mean flux so per-object aggregates differ."""
    total = int(lengths.sum())
    a = np.repeat(owner_a, lengths)
    return {
        "t": 58000.0 + rng.uniform(0.0, 1000.0, total),
        "flux": rng.normal(100.0 + 20.0 * a, 15.0),
        "flux_err": rng.uniform(1.0, 5.0, total),
        "band": BANDS[rng.choice(3, total, p=BAND_P)],
    }


def gen_pack_flat(rng: np.random.Generator, s: dict, out: str) -> dict:
    obj = _objects(rng, s["n_obj"])
    n = s["n_obj"]
    lengths = np.exp(rng.normal(np.log(s["median_len"]), s["sigma"], n))
    lengths = np.clip(np.rint(lengths), 1, s["max_len"]).astype(np.int64)
    lengths[rng.random(n) < s["empty_frac"]] = 0
    el = _elements(rng, obj["a"], lengths)
    src = {"id": np.repeat(obj["id"], lengths), **el}
    order = rng.permutation(len(src["id"]))  # keys arrive shuffled
    src = {k: v[order] for k, v in src.items()}
    write_table(pa.table(obj), os.path.join(out, "objects"), s["files"], s["row_groups"])
    write_table(pa.table(src), os.path.join(out, "sources"), s["files"], s["row_groups"])
    return {"objects": n, "sources": int(lengths.sum()), "max_cell": int(lengths.max()),
            **gen_corpus(rng, s["corpus"], out)}


def gen_nested_scan(rng: np.random.Generator, s: dict, out: str) -> dict:
    n = s["n_obj"]
    obj = _objects(rng, n)
    lengths = rng.integers(s["len_lo"], s["len_hi"] + 1, n)
    el = _elements(rng, obj["a"], lengths)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    struct = pa.StructArray.from_arrays(
        [pa.array(el[k]) for k in ("t", "flux", "flux_err", "band")],
        names=["t", "flux", "flux_err", "band"])
    lc = pa.ListArray.from_arrays(pa.array(offsets), struct)
    table = pa.table({**obj, "lc": lc})
    write_table(table, os.path.join(out, "nested"), s["files"], s["row_groups"])
    return {"objects": n, "elements": int(lengths.sum())}


def _word(i: int) -> str:
    """Deterministic lowercase spelling of vocabulary entry ``i``."""
    letters = []
    i += 26 * 26  # at least three letters: no collisions with short words
    while i:
        i, r = divmod(i, 26)
        letters.append(chr(97 + r))
    return "".join(reversed(letters))


def gen_corpus(rng: np.random.Generator, s: dict, out: str) -> dict:
    vocab = np.array([_word(i) for i in range(s["vocab"])])
    p = 1.0 / np.arange(1, s["vocab"] + 1) ** s["zipf_s"]
    p /= p.sum()
    n = s["n_docs"]
    n_dup = int(round(n * s["dup_frac"]))
    n_orig = n - n_dup
    docs = []
    for _ in range(n_orig):
        docs.append(rng.choice(s["vocab"], rng.integers(s["words_lo"], s["words_hi"] + 1), p=p))
    # planted near-duplicates: a copy of a distinct original with one word
    # replaced by a different vocabulary word
    sources = rng.choice(n_orig, n_dup, replace=False)
    for src in sources:
        d = docs[src].copy()
        pos = rng.integers(len(d))
        d[pos] = (d[pos] + 1 + rng.integers(s["vocab"] - 1)) % s["vocab"]
        docs.append(d)
    ids = rng.permutation(n).astype(np.int64)
    dup_of = np.full(n, -1, np.int64)
    dup_of[n_orig:] = ids[sources]
    text = [" ".join(vocab[d]) for d in docs]
    order = rng.permutation(n)
    docs_t = pa.table({
        "doc_id": ids[order],
        "text": pa.array([text[i] for i in order]),
        "dup_of": pa.array(dup_of[order], mask=dup_of[order] < 0),
    })
    write_table(docs_t, os.path.join(out, "docs"), s["files"], s["row_groups"])

    dim = s["dim"]
    centers = rng.normal(size=(s["clusters"], dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def vectors(count: int) -> np.ndarray:
        v = centers[rng.integers(s["clusters"], size=count)]
        v = v + rng.normal(scale=s["noise"] / np.sqrt(dim), size=(count, dim))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    def vec_table(ids: np.ndarray, v: np.ndarray) -> pa.Table:
        flat = pa.array(v.reshape(-1))
        offsets = pa.array(np.arange(0, v.size + 1, dim, dtype=np.int32))
        return pa.table({"vec_id": ids, "embedding": pa.ListArray.from_arrays(offsets, flat)})

    corpus_ids = rng.permutation(s["n_vec"]).astype(np.int64)
    write_table(vec_table(corpus_ids, vectors(s["n_vec"])), os.path.join(out, "vectors"),
                s["files"], s["row_groups"])
    q_ids = QUERY_ID_BASE + np.arange(s["n_queries"], dtype=np.int64)
    write_table(vec_table(q_ids, vectors(s["n_queries"])), os.path.join(out, "queries"), 1, 1)
    return {"docs": n, "planted_pairs": n_dup, "vectors": s["n_vec"],
            "queries": s["n_queries"]}


GENERATORS = {"pack_flat": gen_pack_flat, "nested_scan": gen_nested_scan,
              "corpus": gen_corpus}


def file_digests(out: str) -> dict[str, str]:
    """sha256 of every parquet file under ``out``, by relative path."""
    digests = {}
    for root, _, names in os.walk(out):
        for name in sorted(names):
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                with open(path, "rb") as fh:
                    digests[os.path.relpath(path, out)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(digests.items()))


def generate(workload: str, seed: int, shape: str, out: str) -> dict:
    """Write the inputs and expected answers for one (workload, seed, shape)."""
    from oracle import expected  # sibling module; DuckDB + numpy

    sizes = GENERATORS[workload](rng_for(workload, seed), SHAPES[workload][shape], out)
    info = {"workload": workload, "seed": seed, "shape": shape, "sizes": sizes,
            "files": file_digests(out)}
    with open(os.path.join(out, "oracle.json"), "w") as fh:
        json.dump(expected(workload, out, sizes), fh, indent=1, sort_keys=True)
    with open(os.path.join(out, "inputs.json"), "w") as fh:
        json.dump(info, fh, indent=1, sort_keys=True)
    return info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--shape", default="full", choices=["full", "tiny"])
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.shape, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
