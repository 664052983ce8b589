"""Seeded input generator for the benchmark workloads.

One function per workload turns a seed into Parquet inputs plus a
``manifest.json`` describing them. The same seed always yields
byte-identical inputs; each workload draws from its own stream
(``numpy.random.default_rng([seed, stream])``), so resizing one
workload never changes another's data.

Inputs are cached per (workload, seed, generator version) under the
benchmark's work directory and reused by later runs with that seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated data changes, so stale caches are not reused.
VERSION = 1

# etl_spill: a fact table split over several files plus one measurements
# row per distinct key. Sized so one pass fits a run while the sort and
# the keep-first window still spill at the pinned driver heap.
ETL_ROWS = 600_000
ETL_FILES = 4
ETL_DUP_SHARE = 0.12  # rows that repeat an earlier key
ETL_CATS = 20

# interactive_small: one base table (written twice, once reordered, so
# compare has an equal pair) plus a copy with one value changed, and a
# document corpus over a Zipf vocabulary with exact and near duplicates.
INTERACTIVE_ROWS = 50_000
TEXT_DOCS = 1_000
TEXT_EXACT_SHARE = 0.10
TEXT_NEAR_SHARE = 0.15
TEXT_VOCAB = 4_000
TEXT_ZIPF_A = 1.1
TEXT_WORDS = (60, 140)  # words per base document, inclusive range
TEXT_QUERIES = 50

#: Rows per fact file in the small slice that set-up runs, untimed, to
#: warm the session.
WARM_ETL_ROWS = 30_000

_STREAMS = {"etl_spill": 1, "interactive_small": 2}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[workload]])


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings: same table -> same bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _dir_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


# ------------------------------------------------------------------ etl_spill
def _gen_etl(rng: np.random.Generator, out: str) -> dict:
    n = ETL_ROWS
    n_keys = int(round(n / (1 + ETL_DUP_SHARE)))
    keys = rng.permutation(n_keys).astype(np.int64) * 7 + 3
    extra = rng.choice(keys, size=n - n_keys, replace=True)
    ids = np.concatenate([keys, extra])
    order = rng.permutation(n)
    ids = ids[order]
    # ts is unique, so keep-first by ts has exactly one survivor per id
    ts = rng.permutation(n).astype(np.int64) + 1_600_000_000
    cats = np.array([f"cat_{i:02d}" for i in range(ETL_CATS)], dtype=object)
    fact = pa.table(
        {
            "id": ids,
            "ts": ts,
            "grp": rng.integers(0, 100, n).astype(np.int32),
            "cat": pa.array(cats[rng.integers(0, ETL_CATS, n)], pa.string()),
            "x": rng.random(n),
            "y": rng.normal(0.0, 10.0, n),
            "code": pa.array(
                np.char.mod("%012x", rng.integers(0, 1 << 48, n)).astype(object),
                pa.string(),
            ),
        }
    )
    fact_paths = []
    bounds = np.linspace(0, n, ETL_FILES + 1).astype(int)
    for i in range(ETL_FILES):
        p = os.path.join(out, f"fact_{i:02d}.parquet")
        _write(fact.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        fact_paths.append(p)
    uniq = np.sort(keys)
    meas = pa.table(
        {
            "id": uniq,
            "m1": rng.normal(100.0, 15.0, len(uniq)),
            "m2": rng.integers(0, 1_000_000, len(uniq)).astype(np.int64),
            "label": pa.array(
                np.char.mod("L%05d", rng.integers(0, 50_000, len(uniq))).astype(object),
                pa.string(),
            ),
        }
    )
    meas_path = os.path.join(out, "measurements.parquet")
    _write(meas, meas_path)
    warm = os.path.join(out, "warm")
    os.makedirs(warm)
    warm_ids = []
    for i in range(ETL_FILES):
        part = fact.slice(bounds[i], WARM_ETL_ROWS)
        _write(part, os.path.join(warm, f"fact_{i:02d}.parquet"))
        warm_ids.append(part.column("id").to_numpy())
    keep = np.isin(uniq, np.concatenate(warm_ids))
    _write(meas.filter(pa.array(keep)), os.path.join(warm, "measurements.parquet"))
    # the DSL filter and its SQL spelling, written side by side so the
    # output check never goes through the package's own translator; the
    # selectivity (~89%) is the same for every seed, so is the work
    bad_grp = int(rng.integers(0, 100))
    return {
        "fact": [os.path.basename(p) for p in fact_paths],
        "measurements": os.path.basename(meas_path),
        "filter_dsl": f"x < 0.9 and grp != {bad_grp}",
        "filter_sql": f"x < 0.9 AND grp <> {bad_grp}",
        "rows": n + len(uniq),
        "fact_rows": n,
        "distinct_keys": int(n_keys),
        "dup_share": (n - n_keys) / n,
        "files": ETL_FILES + 1,
        "bytes": _dir_bytes(fact_paths + [meas_path]),
    }


# ---------------------------------------------------------- interactive_small
def _gen_interactive(rng: np.random.Generator, out: str) -> dict:
    n = INTERACTIVE_ROWS
    regions = np.array(["north", "south", "east", "west", "centre"], dtype=object)
    a = rng.normal(50.0, 20.0, n)
    a[rng.random(n) < 0.02] = np.nan  # some missing values for profile
    df = pd.DataFrame(
        {
            "row_key": np.arange(n, dtype=np.int64) * 3 + 1,
            "a": a,
            "b": rng.integers(-1000, 1000, n).astype(np.int64),
            "c": rng.random(n),
            "region": regions[rng.integers(0, len(regions), n)],
            "qty": rng.integers(0, 500, n).astype(np.int32),
        }
    ).set_index("row_key")
    base = os.path.join(out, "base.parquet")
    same = os.path.join(out, "same_reordered.parquet")
    diff = os.path.join(out, "one_value_changed.parquet")
    # pandas writes its index metadata, which LazySparkDF reads back
    df.to_parquet(base, engine="pyarrow", compression="snappy")
    df.iloc[rng.permutation(n)].to_parquet(same, engine="pyarrow", compression="snappy")
    changed = df.copy()
    pos = int(rng.integers(0, n))
    changed.iloc[pos, changed.columns.get_loc("b")] += 1
    changed.to_parquet(diff, engine="pyarrow", compression="snappy")
    text = _gen_text(rng, out)
    paths = [base, same, diff] + [os.path.join(out, text[k]) for k in ("docs", "queries")]
    return {
        "base": os.path.basename(base),
        "same": os.path.basename(same),
        "diff": os.path.basename(diff),
        "rows": n,
        **text,
        "files": len(paths),
        "bytes": _dir_bytes(paths),
    }


# ------------------------------------------------------- interactive corpus
def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < TEXT_VOCAB:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words), dtype=object)[rng.permutation(TEXT_VOCAB)]


def _zipf_probs() -> np.ndarray:
    w = 1.0 / np.arange(1, TEXT_VOCAB + 1) ** TEXT_ZIPF_A
    return w / w.sum()


def _noisy_join(rng: np.random.Generator, words, upper: bool) -> str:
    """Join words with mixed whitespace and occasional control bytes,
    so clean_text has work to do; exact copies differ only in this
    noise and in letter case."""
    seps = np.array([" ", " ", " ", "  ", "\t", "\n", " \x01 "], dtype=object)
    parts = []
    for i, w in enumerate(words):
        if i:
            parts.append(seps[rng.integers(0, len(seps))])
        parts.append(w.upper() if upper and rng.random() < 0.3 else w)
    return "".join(parts) + "."


def _gen_text(rng: np.random.Generator, out: str) -> dict:
    vocab = _vocab(rng)
    probs = _zipf_probs()
    n = TEXT_DOCS
    n_exact = int(round(n * TEXT_EXACT_SHARE))
    n_near = int(round(n * TEXT_NEAR_SHARE))
    n_base = n - n_exact - n_near
    base_words = [
        list(vocab[rng.choice(TEXT_VOCAB, int(rng.integers(*TEXT_WORDS, endpoint=True)), p=probs)])
        for _ in range(n_base)
    ]
    texts = [_noisy_join(rng, w, upper=False) for w in base_words]
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append(_noisy_join(rng, base_words[src], upper=True))
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = list(base_words[src])
        # one substituted word: 3-word shingle Jaccard >= 0.9 with the source
        pos = int(rng.integers(0, len(words)))
        words[pos] = vocab[int(rng.integers(TEXT_VOCAB // 2, TEXT_VOCAB))]
        texts.append(_noisy_join(rng, words, upper=False))
    perm = rng.permutation(n)
    doc_ids = np.arange(n, dtype=np.int64)[np.argsort(perm)] * 5 + 11
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    docs = os.path.join(out, "docs.parquet")
    _write(table, docs)
    # queries: two or three mid-frequency words, so every query matches
    # some documents but no term is in almost all of them
    mid = vocab[20:400]
    queries = [
        " ".join(rng.choice(mid, int(rng.integers(2, 4)), replace=False))
        for _ in range(TEXT_QUERIES)
    ]
    qpath = os.path.join(out, "queries.parquet")
    _write(
        pa.table(
            {
                "query_id": pa.array(np.arange(TEXT_QUERIES, dtype=np.int64)),
                "query": pa.array(queries, pa.string()),
            }
        ),
        qpath,
    )
    return {
        "docs": os.path.basename(docs),
        "queries": os.path.basename(qpath),
        "docs_rows": n,
        "exact_dup_share": n_exact / n,
        "near_dup_share": n_near / n,
        "vocab": TEXT_VOCAB,
        "zipf_a": TEXT_ZIPF_A,
    }


_GENERATORS = {"etl_spill": _gen_etl, "interactive_small": _gen_interactive}


def _params(workload: str) -> str:
    """Short digest of the size constants, so resizing invalidates caches."""
    prefix = {"etl_spill": ("ETL_", "WARM_ETL"), "interactive_small": ("INTERACTIVE_", "TEXT_")}[workload]
    consts = {k: v for k, v in globals().items() if k.startswith(prefix)}
    return hashlib.sha1(json.dumps(consts, sort_keys=True).encode()).hexdigest()[:8]


def input_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, "inputs", f"{workload}-s{int(seed)}-v{VERSION}-{_params(workload)}")


def ensure_inputs(root: str, workload: str, seed: int) -> tuple[str, dict, float]:
    """Generate (or reuse) one workload's inputs for ``seed``.

    Returns ``(directory, manifest, seconds spent generating)``; the
    seconds are 0.0 on a cache hit. A directory without a manifest is
    a partial write from an interrupted run and is regenerated.
    """
    out = input_dir(root, workload, seed)
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    manifest = _GENERATORS[workload](_rng(workload, seed), out)
    manifest.update({"workload": workload, "seed": int(seed), "version": VERSION})
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)
    return out, manifest, time.perf_counter() - t0
