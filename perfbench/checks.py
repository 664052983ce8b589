"""Output checks, computed independently of the package under test.

Every expected value here comes from the generated inputs through
DuckDB, pyarrow, pandas or plain Python -- never through
``parq_tools_spark``. Each ``check_*`` function returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# ---------------------------------------------------------------- etl_spill
FACT_COLS = ["id", "ts", "grp", "cat", "x", "y", "code"]
MEAS_COLS = ["m1", "m2", "label"]
WIDE_COLS = FACT_COLS + MEAS_COLS
RENAMES = {"x": "x_val", "m1": "meas1"}
FINAL_COLS = [RENAMES.get(c, c) for c in WIDE_COLS]
COLUMN_METADATA = {"x_val": {"unit": "fraction"}}


def part_files(path: str) -> list[str]:
    """A Spark output directory's data files, in partition order."""
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def _fingerprint(con, relation: str, cols) -> tuple[int, int]:
    """(row count, order-insensitive content hash) of a relation."""
    q = ", ".join(f'"{c}"' for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({q})), 0)::HUGEINT FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def _scan(files) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def etl_expected(inputs: str, manifest: dict) -> dict:
    """Fingerprints every etl_spill output must have, from the inputs."""
    con = duckdb.connect()
    facts = _scan([os.path.join(inputs, f) for f in manifest["fact"]])
    meas = _scan([os.path.join(inputs, manifest["measurements"])])
    cols = ", ".join(FACT_COLS)
    con.execute(
        f"CREATE TEMP TABLE filtered AS SELECT {cols} FROM {facts} "
        f"WHERE {manifest['filter_sql']}"
    )
    con.execute(
        "CREATE TEMP TABLE first_per_id AS SELECT * FROM filtered "
        "QUALIFY row_number() OVER (PARTITION BY id ORDER BY ts) = 1"
    )
    con.execute(
        f"CREATE TEMP TABLE wide AS SELECT f.*, {', '.join('m.' + c for c in MEAS_COLS)} "
        f"FROM first_per_id f JOIN {meas} m USING (id)"
    )
    out = {
        "concat": _fingerprint(con, "filtered", FACT_COLS),
        "dedupe": _fingerprint(con, "first_per_id", FACT_COLS),
        "wide": _fingerprint(con, "wide", WIDE_COLS),
    }
    out["sort"] = out["concat"]
    out["rename"] = out["wide"]
    con.close()
    return out


def check_etl_output(step: str, path: str, expected: dict, table_metadata: dict) -> list[str]:
    """Check one etl_spill step's output directory against ``expected``."""
    files = part_files(path)
    if not files:
        return [f"{step}: no part files in output"]
    cols = {
        "concat": FACT_COLS,
        "sort": FACT_COLS,
        "dedupe": FACT_COLS,
        "wide": WIDE_COLS,
        "rename": FINAL_COLS,
    }[step]
    names = pq.read_schema(files[0]).names
    if sorted(names) != sorted(cols) or (step == "rename" and names != cols):
        return [f"{step}: columns {names}, expected {cols}"]
    con = duckdb.connect()
    got = _fingerprint(con, _scan(files), cols)
    con.close()
    problems = []
    if got != tuple(expected[step]):
        problems.append(f"{step}: (rows, hash) {got} != expected {tuple(expected[step])}")
    if step == "sort":
        problems += _check_sorted(files)
    if step == "rename":
        problems += _check_footer_metadata(files, table_metadata)
    return problems


def _check_sorted(files) -> list[str]:
    """Rows are ordered by (id, ts) across part files in name order."""
    ids, ts = [], []
    for f in files:
        t = pq.read_table(f, columns=["id", "ts"])
        ids.append(t.column("id").to_numpy())
        ts.append(t.column("ts").to_numpy())
    i, t = np.concatenate(ids), np.concatenate(ts)
    ok = (i[1:] > i[:-1]) | ((i[1:] == i[:-1]) & (t[1:] >= t[:-1]))
    bad = int((~ok).sum())
    return [f"sort: {bad} adjacent row pairs out of (id, ts) order"] if bad else []


def _check_footer_metadata(files, table_metadata: dict) -> list[str]:
    problems = []
    for f in files:
        meta = pq.read_schema(f).metadata or {}
        for k, v in table_metadata.items():
            if meta.get(k.encode()) != v.encode():
                problems.append(f"rename: {os.path.basename(f)} lacks table metadata {k}={v}")
        # Spark keeps field metadata in its own schema blob in the footer
        blob = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        fields = {fd["name"]: fd.get("metadata", {}) for fd in json.loads(blob)["fields"]} if blob else {}
        for col, cm in COLUMN_METADATA.items():
            if any(fields.get(col, {}).get(k) != v for k, v in cm.items()):
                problems.append(f"rename: {os.path.basename(f)} lacks column metadata on {col}")
    return problems


# -------------------------------------------------------- interactive_small
def interactive_frame(path: str) -> pd.DataFrame:
    """The table in file column order, the pandas index as a plain
    column -- the shape ``LazySparkDF`` presents."""
    return pq.read_table(path).to_pandas(ignore_metadata=True)


def _close(a, b, rel=1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


def interactive_expected(kind: str, spec: dict, pdf: pd.DataFrame):
    """The value pandas gives for one interactive call."""
    if kind == "lazy_shape":
        return pdf.shape
    if kind == "lazy_mean":
        return float(pdf[spec["col"]].mean())
    if kind == "lazy_loc":
        return int((pdf[spec["col"]] > spec["thr"]).sum())
    if kind == "lazy_head":
        return pdf.head(spec["n"])
    if kind == "lazy_assign":
        return float((pdf["a"] * spec["k"] + pdf["b"]).sum())
    if kind == "filter":
        return int(spec["mask"](pdf).sum())
    if kind == "calc":
        return float((pdf["a"] * pdf["c"] + pdf["qty"] * spec["k"]).sum())
    if kind == "profile":
        out = {}
        for c in spec["cols"]:
            s = pdf[c]
            out[c] = {
                "n": int(s.notna().sum()),
                "n_missing": int(s.isna().sum()),
                "min": s.min(),
                "max": s.max(),
                "mean": float(s.mean()) if s.dtype.kind in "if" else None,
                "std": float(s.std()) if s.dtype.kind in "if" else None,
            }
        return out
    if kind == "compare_eq":
        return True
    if kind == "compare_ne":
        return False
    raise ValueError(kind)


def check_interactive(kind: str, spec: dict, got, pdf: pd.DataFrame) -> list[str]:
    exp = interactive_expected(kind, spec, pdf)
    if kind == "lazy_head":
        cols = list(exp.columns)
        if got is None or list(got.columns) != cols:
            return [f"lazy_head: columns {None if got is None else list(got.columns)} != {cols}"]
        g = got.reset_index(drop=True)
        e = exp.reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False)
        except AssertionError as err:
            return [f"lazy_head: {str(err).splitlines()[0]}"]
        return []
    if kind == "profile":
        problems = []
        for c, stats in exp.items():
            for k, v in stats.items():
                tol = 1e-6 if k == "std" else 1e-9
                gv = got.get(c, {}).get(k)
                ok = (gv == v) if isinstance(v, str) else _close(gv, v, tol)
                if not ok:
                    problems.append(f"profile: {c}.{k} = {gv!r}, pandas {v!r}")
        return problems
    if kind in ("lazy_mean", "lazy_assign", "calc"):
        return [] if _close(got, exp) else [f"{kind}: {got!r} != pandas {exp!r}"]
    if got != exp:
        return [f"{kind}: {got!r} != pandas {exp!r}"]
    return []


# ------------------------------------------------------- interactive corpus
_CONTROL = re.compile(r"[\x00-\x1f\x7f]")
_SPACES = re.compile(r"\s+")
_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")
BM25_K1, BM25_B, BM25_ROUND = 1.2, 0.75, 6


def clean_text(text: str) -> str:
    return _SPACES.sub(" ", _CONTROL.sub(" ", text)).strip(" ")


def bm25_scores(texts_by_id: dict, query: str) -> dict:
    """doc_id -> BM25 score on the 1e-6 grid, for documents matching any
    query term (Lucene idf, k1=1.2, b=0.75)."""
    toks = {d: [t for t in _TOKEN_SPLIT.split(c.lower()) if t] for d, c in texts_by_id.items()}
    n = len(toks)
    avgdl = (sum(len(t) for t in toks.values()) / n) or 1.0
    terms = sorted({t for t in _TOKEN_SPLIT.split(query.lower()) if t})
    tfs = {d: {t: ts.count(t) for t in terms} for d, ts in toks.items()}
    dfreq = {t: sum(1 for d in tfs if tfs[d][t]) for t in terms}
    idf = {t: math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)) for t in terms}
    scale = 10.0**BM25_ROUND
    scores = {}
    for d, tf in tfs.items():
        if not any(tf.values()):
            continue
        norm = BM25_K1 * (1.0 - BM25_B + BM25_B * len(toks[d]) / avgdl)
        total = 0.0
        for t in terms:  # sorted order, like the engine's sum
            if tf[t]:
                total += idf[t] * (tf[t] * (BM25_K1 + 1.0)) / (tf[t] + norm)
        scores[d] = math.floor(total * scale + 0.5) / scale
    return scores


def corpus_expected(inputs: str, manifest: dict) -> dict:
    docs = pq.read_table(os.path.join(inputs, manifest["docs"])).to_pydict()
    ids, texts = docs["doc_id"], docs["text"]
    cleans = [clean_text(t) for t in texts]
    first = {}
    for i, c in zip(ids, cleans):
        norm = c.lower()
        first[norm] = min(i, first.get(norm, i))
    q = pq.read_table(os.path.join(inputs, manifest["queries"])).to_pydict()
    return {
        "text": dict(zip(ids, texts)),
        "clean": dict(zip(ids, cleans)),
        "exact": set(first.values()),
        "queries": dict(zip(q["query_id"], q["query"])),
    }


def check_text_quality(rows, exp: dict, mod: int, rem: int) -> list[str]:
    """The documents with ``doc_id % mod == rem``, cleaned like the
    independent cleaner, with quality scores in [0, 1]."""
    problems = []
    if sorted(r["doc_id"] for r in rows) != sorted(i for i in exp["clean"] if i % mod == rem):
        problems.append("text_quality: wrong set of documents returned")
    bad = [r["doc_id"] for r in rows if exp["clean"].get(r["doc_id"]) != r["clean_text"]]
    if bad:
        problems.append(f"text_quality: {len(bad)} clean_text values differ from the independent cleaner")
    out_of_range = sum(not (r["quality_score"] is not None and 0.0 <= r["quality_score"] <= 1.0) for r in rows)
    if out_of_range:
        problems.append(f"text_quality: {out_of_range} quality scores outside [0, 1]")
    return problems


def check_exact_survivors(ids, exp: dict) -> list[str]:
    """Exactly the min-id document of every normalized-text group."""
    got = list(ids)
    problems = []
    norms = [exp["clean"][i].lower() for i in got if i in exp["clean"]]
    if len(norms) != len(set(norms)):
        problems.append("exact_dups: exact duplicates survived")
    if set(got) != exp["exact"] or len(got) != len(set(got)):
        problems.append(
            f"exact_dups: {len(set(got) - exp['exact'])} unexpected, "
            f"{len(exp['exact'] - set(got))} missing survivors, {len(got)} rows"
        )
    return problems


def check_topk(rows, scores: dict, k: int) -> list[str]:
    """Top-k equals the independent BM25: same length, scores equal on
    the 1e-6 grid, nothing better left out, ranks in score order (ties
    on the grid may order either way)."""
    tol = 2.5 * 10.0**-BM25_ROUND
    ranked = sorted(scores.values(), reverse=True)[:k]
    kth = ranked[-1] if ranked else None
    got = sorted(rows, key=lambda r: r["rank"])
    if len(got) != len(ranked):
        return [f"bm25: {len(got)} rows, expected {len(ranked)}"]
    for pos, r in enumerate(got):
        want = scores.get(r["doc_id"])
        if want is None or abs(want - r["score"]) > tol or want < kth - tol:
            return [f"bm25: doc {r['doc_id']} score {r['score']} (expected {want}, k-th {kth})"]
        if r["rank"] != pos + 1 or (pos and got[pos - 1]["score"] < r["score"] - tol):
            return [f"bm25: rank order broken at rank {r['rank']}"]
    return []
