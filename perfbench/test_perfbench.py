"""Self-tests for the benchmark: the generator is deterministic, and each
output check rejects a corrupted output. No Spark session is needed:
correct outputs are built here with DuckDB and pyarrow.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import _KINDS, InteractiveSmall  # noqa: E402


@pytest.fixture
def small(monkeypatch):
    """Shrink every workload so a test generates its inputs in well
    under a second."""
    for name, value in {
        "ETL_ROWS": 3_000,
        "ETL_FILES": 2,
        "WARM_ETL_ROWS": 100,
        "INTERACTIVE_ROWS": 400,
        "TEXT_DOCS": 120,
        "TEXT_QUERIES": 6,
    }.items():
        monkeypatch.setattr(gen, name, value)


def _digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = hashlib.sha1(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen._GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, small, workload):
    a, _, _ = gen.ensure_inputs(str(tmp_path / "a"), workload, 7)
    b, _, _ = gen.ensure_inputs(str(tmp_path / "b"), workload, 7)
    c, _, _ = gen.ensure_inputs(str(tmp_path / "c"), workload, 8)
    assert _digest(a) == _digest(b)
    differ = {k for k, v in _digest(c).items() if _digest(a).get(k) != v}
    assert differ - {"manifest.json"}, "another seed must change the data files"


def test_inputs_are_cached_per_seed(tmp_path, small):
    _, m1, s1 = gen.ensure_inputs(str(tmp_path), "etl_spill", 3)
    _, m2, s2 = gen.ensure_inputs(str(tmp_path), "etl_spill", 3)
    assert s1 > 0.0 and s2 == 0.0 and m1 == m2


def test_resizing_invalidates_the_cache(tmp_path, small, monkeypatch):
    first = gen.input_dir(str(tmp_path), "etl_spill", 3)
    monkeypatch.setattr(gen, "ETL_ROWS", 3_001)
    assert gen.input_dir(str(tmp_path), "etl_spill", 3) != first


# ------------------------------------------------------------------ etl_spill
def _write_dir(table: pa.Table, path: str, parts: int = 2, metadata=None) -> None:
    """Write ``table`` like a Spark job: ordered part files in a directory."""
    os.makedirs(path, exist_ok=True)
    if metadata:
        table = table.replace_schema_metadata(metadata)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}-x.snappy.parquet"))


def _spark_blob(cols) -> bytes:
    fields = [{"name": c, "type": "string", "nullable": True,
               "metadata": checks.COLUMN_METADATA.get(c, {})} for c in cols]
    return json.dumps({"type": "struct", "fields": fields}).encode()


@pytest.fixture
def etl(tmp_path, small):
    inputs, m, _ = gen.ensure_inputs(str(tmp_path / "in"), "etl_spill", 5)
    con = duckdb.connect()
    facts = checks._scan([os.path.join(inputs, f) for f in m["fact"]])
    meas = checks._scan([os.path.join(inputs, m["measurements"])])
    cols = ", ".join(checks.FACT_COLS)
    filtered = f"SELECT {cols} FROM {facts} WHERE {m['filter_sql']}"
    first = f"SELECT * FROM ({filtered}) QUALIFY row_number() OVER (PARTITION BY id ORDER BY ts) = 1"
    wide = f"SELECT f.*, m.m1, m.m2, m.label FROM ({first}) f JOIN {meas} m USING (id)"
    renamed = ", ".join(f'"{c}" AS "{checks.RENAMES.get(c, c)}"' for c in checks.WIDE_COLS)
    sql = {
        "concat": filtered,
        "sort": filtered + " ORDER BY id, ts",
        "dedupe": first,
        "wide": wide,
        "rename": f"SELECT {renamed} FROM ({wide})",
    }
    meta = {"perfbench.seed": "5"}
    out = {}
    for step, q in sql.items():
        out[step] = str(tmp_path / "out" / step)
        extra = None
        if step == "rename":
            extra = {**{k.encode(): v.encode() for k, v in meta.items()},
                     b"org.apache.spark.sql.parquet.row.metadata": _spark_blob(checks.FINAL_COLS)}
        _write_dir(con.execute(q).arrow(), out[step], metadata=extra)
    return checks.etl_expected(inputs, m), out, meta


def _rewrite(path: str, fn) -> None:
    """Apply ``fn`` to the first part file's table, keeping its metadata."""
    f = checks.part_files(path)[0]
    t = pq.read_table(f)
    pq.write_table(fn(t).replace_schema_metadata(t.schema.metadata), f)


def _change_first_value(t: pa.Table, col: str) -> pa.Table:
    i = t.column_names.index(col)
    vals = t.column(col).to_pylist()
    vals[0] = vals[0] + 1 if not isinstance(vals[0], str) else vals[0] + "x"
    return t.set_column(i, col, pa.array(vals, t.schema.field(col).type))


def test_etl_checks_accept_correct_outputs(etl):
    expected, out, meta = etl
    for step, path in out.items():
        assert checks.check_etl_output(step, path, expected, meta) == [], step


@pytest.mark.parametrize("step", ["concat", "sort", "dedupe", "wide", "rename"])
@pytest.mark.parametrize("corruption", ["drop_row", "change_value"])
def test_etl_checks_reject_corruption(etl, step, corruption):
    expected, out, meta = etl
    if corruption == "drop_row":
        _rewrite(out[step], lambda t: t.slice(1))
    else:
        _rewrite(out[step], lambda t: _change_first_value(t, "code"))
    assert checks.check_etl_output(step, out[step], expected, meta)


def test_sort_check_rejects_swapped_rows(etl):
    expected, out, meta = etl
    _rewrite(out["sort"], lambda t: pa.concat_tables([t.slice(1, 1), t.slice(0, 1), t.slice(2)]))
    assert any("order" in p for p in checks.check_etl_output("sort", out["sort"], expected, meta))


def test_rename_check_rejects_missing_footer_metadata(etl):
    expected, out, meta = etl
    problems = checks.check_etl_output("rename", out["rename"], expected, {**meta, "absent": "1"})
    assert any("table metadata" in p for p in problems)


# ---------------------------------------------------------- interactive_small
@pytest.fixture
def interactive(tmp_path, small):
    inputs, m, _ = gen.ensure_inputs(str(tmp_path), "interactive_small", 9)
    return checks.interactive_frame(os.path.join(inputs, m["base"])), checks.corpus_expected(inputs, m)


def _corrupt(kind: str, value):
    if kind == "lazy_head":
        return [value.iloc[1:], value.assign(a=value["a"] + 1.0)]
    if kind == "profile":
        col = next(iter(value))
        return [{**value, col: {**value[col], "n": value[col]["n"] - 1}},
                {**value, col: {**value[col], "max": value[col]["min"]}}]
    if kind in ("compare_eq", "compare_ne"):
        return [not value]
    if kind == "lazy_shape":
        return [(value[0] - 1, value[1])]
    if isinstance(value, int):
        return [value - 1]
    return [value * (1 + 1e-6)]


@pytest.mark.parametrize("kind", [k for k, _, _ in _KINDS
                                  if k not in ("text_quality", "exact_dups", "bm25")])
def test_interactive_checks_accept_pandas_and_reject_corruption(interactive, kind):
    pdf, _ = interactive
    spec = InteractiveSmall._spec(kind, np.random.default_rng(4))
    good = checks.interactive_expected(kind, spec, pdf)
    assert checks.check_interactive(kind, spec, good, pdf) == []
    for bad in _corrupt(kind, good):
        assert checks.check_interactive(kind, spec, bad, pdf), (kind, bad)


def test_corpus_has_the_stated_exact_duplicate_share(interactive, small):
    _, corpus = interactive
    assert len(corpus["exact"]) == gen.TEXT_DOCS - round(gen.TEXT_DOCS * gen.TEXT_EXACT_SHARE)


def test_text_quality_check(interactive):
    _, corpus = interactive
    rows = [{"doc_id": i, "clean_text": c, "quality_score": 0.5}
            for i, c in corpus["clean"].items() if i % 3 == 1]
    assert checks.check_text_quality(rows, corpus, 3, 1) == []
    assert checks.check_text_quality(rows[1:], corpus, 3, 1)
    changed = [dict(rows[0], clean_text=rows[0]["clean_text"] + " "), *rows[1:]]
    assert checks.check_text_quality(changed, corpus, 3, 1)
    assert checks.check_text_quality([dict(rows[0], quality_score=1.5), *rows[1:]], corpus, 3, 1)


def test_exact_survivor_check(interactive):
    _, corpus = interactive
    good = sorted(corpus["exact"])
    assert checks.check_exact_survivors(good, corpus) == []
    assert checks.check_exact_survivors(good[1:], corpus)
    dup = next(i for i in corpus["clean"] if i not in corpus["exact"])
    assert checks.check_exact_survivors(good[1:] + [dup], corpus)


def test_bm25_check(interactive):
    _, corpus = interactive
    scores = checks.bm25_scores(corpus["text"], corpus["queries"][0])
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = [{"doc_id": d, "score": s, "rank": r + 1} for r, (d, s) in enumerate(ranked)]
    assert checks.check_topk(rows, scores, 10) == []
    assert checks.check_topk(rows[:-1], scores, 10)
    assert checks.check_topk([dict(rows[0], score=rows[0]["score"] + 0.01), *rows[1:]], scores, 10)
    worse = [d for d, s in scores.items() if s < rows[-1]["score"] - 1e-5]
    if worse:  # a lower-scoring document in place of the k-th best
        swapped = rows[:-1] + [{"doc_id": worse[0], "score": scores[worse[0]], "rank": len(rows)}]
        assert checks.check_topk(swapped, scores, 10)
