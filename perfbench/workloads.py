"""The benchmark workloads.

Each workload builds its timed pass as a list of ``Call``s: one call
into one layer of the package, including whatever action materializes
its result. The runner times each call, then -- outside the timed
region -- hands every result to ``check`` together with expectations
computed independently in ``checks``.

Why these two: ``etl_spill`` is the data-bound, larger-than-memory
file pipeline the reference library exists for, where per-call
overhead is a small share; ``interactive_small`` is an overhead-bound
session of small calls over a table and a text corpus, where fixed
per-call cost dominates and throughput changes barely show. Every
layer of the package runs in one of them.
"""

from __future__ import annotations

import os
import shutil
from typing import Any, Callable, NamedTuple

import numpy as np
import pyarrow.parquet as pq

import checks


class Call(NamedTuple):
    label: str
    layer: str
    fn: Callable[[], Any]
    spec: dict


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in checks.part_files(path))


class Workload:
    name = ""
    #: Spark settings pinned for this workload (driver heap and memory).
    spark_conf: dict = {}
    #: Fewest timed passes in a run. A fixed count keeps the median over
    #: passes from switching between a mean of two and a middle of three
    #: as the host speeds up or slows down.
    min_passes = 1

    def __init__(self, inputs: str, manifest: dict, work: str, seed: int, tracer):
        self.inputs, self.manifest, self.work = inputs, manifest, work
        self.seed, self.tracer = seed, tracer
        self._expected = None

    def input_path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def pass_dir(self, pass_no) -> str:
        return os.path.join(self.work, "out", f"p{pass_no}")

    def warmup(self, spark) -> None:
        """One untimed pass over a small slice of the work."""
        for call in self.warm_calls(spark):
            self.tracer.call(call.layer, call.fn)
        _rm(self.pass_dir("warm"))

    def rows_per_pass(self) -> int:
        return self.manifest["rows"]

    def bytes_out(self, pass_no) -> int:
        return 0


# ------------------------------------------------------------------ etl_spill
class EtlSpill(Workload):
    """concat(axis=0, DSL filter) -> sort -> keep-first dedupe ->
    concat(axis=1) -> rename with column and table metadata, file to
    file. The heap and memory fraction are pinned low so the sort and
    the keep-first window exceed execution memory and spill."""

    name = "etl_spill"
    spark_conf = {"spark.driver.memory": "512m", "spark.memory.fraction": "0.15"}
    # the first full-size pass runs ~25% slow however large the warm-up
    # slice; the median of three leaves it out
    min_passes = 3
    STEPS = ("concat", "sort", "dedupe", "wide", "rename")

    def _calls(self, spark, facts, meas, out, table_meta) -> list[Call]:
        from parq_tools_spark import (
            concat_parquet_files,
            dedupe_parquet,
            rename_parquet,
            sort_parquet,
        )

        m = self.manifest
        d = {s: os.path.join(out, s) for s in self.STEPS}
        fns = {
            "concat": lambda: concat_parquet_files(
                spark, facts, d["concat"], axis=0, filter_query=m["filter_dsl"]),
            "sort": lambda: sort_parquet(spark, d["concat"], d["sort"], ["id", "ts"]),
            "dedupe": lambda: dedupe_parquet(
                spark, d["sort"], d["dedupe"], ["id"], order_columns=["ts"]),
            "wide": lambda: concat_parquet_files(
                spark, [d["dedupe"], meas], d["wide"], axis=1, index_columns=["id"]),
            "rename": lambda: rename_parquet(
                spark, d["wide"], d["rename"], checks.RENAMES,
                column_metadata=checks.COLUMN_METADATA, table_metadata=table_meta),
        }
        layers = {"concat": "concat", "sort": "index_ops", "dedupe": "index_ops",
                  "wide": "concat", "rename": "schema_tools"}
        return [Call(s, layers[s], fns[s], {"out": d[s], "table_meta": table_meta})
                for s in self.STEPS]

    def calls(self, spark, pass_no) -> list[Call]:
        out = self.pass_dir(pass_no)
        _rm(out)
        facts = [self.input_path(f) for f in self.manifest["fact"]]
        meta = {"perfbench.seed": str(self.seed), "perfbench.pass": str(pass_no)}
        return self._calls(spark, facts, self.input_path(self.manifest["measurements"]), out, meta)

    def warm_calls(self, spark) -> list[Call]:
        warm = os.path.join(self.inputs, "warm")
        facts = [os.path.join(warm, f) for f in self.manifest["fact"]]
        return self._calls(spark, facts, os.path.join(warm, "measurements.parquet"),
                           self.pass_dir("warm"), {"perfbench.warm": "1"})

    def check(self, call: Call, result) -> list[str]:
        if self._expected is None:
            self._expected = checks.etl_expected(self.inputs, self.manifest)
        return checks.check_etl_output(call.label, call.spec["out"], self._expected,
                                       call.spec["table_meta"])

    def bytes_out(self, pass_no) -> int:
        return sum(parquet_bytes(os.path.join(self.pass_dir(pass_no), s)) for s in self.STEPS)


# ---------------------------------------------------------- interactive_small
# (kind, layer, calls per pass): every pass makes the same mix, in an
# order and with values drawn from the seed; the shape of each call's
# work does not depend on the draw, so neither do the quantiles
_KINDS = (
    ("text_quality", "text", 1),
    ("exact_dups", "dedup", 1),
    ("bm25", "search", 2),
    ("lazy_shape", "lazy", 1),
    ("lazy_mean", "lazy", 1),
    ("lazy_loc", "lazy", 1),
    ("lazy_head", "lazy", 1),
    ("lazy_assign", "lazy", 1),
    ("filter", "filter", 5),
    ("calc", "calculated_columns", 2),
    ("profile", "profile", 1),
    ("compare_eq", "compare", 1),
    ("compare_ne", "compare", 1),
)
# DSL shapes with the same predicate spelled in pandas, so the expected
# count never goes through the package's parser
_FILTERS = (
    (lambda v: f"a > {v[0]:.3f}",
     lambda v: lambda d: d["a"] > round(v[0], 3)),
    (lambda v: f"b <= {v[1]} and qty > {v[2]}",
     lambda v: lambda d: (d["b"] <= v[1]) & (d["qty"] > v[2])),
    (lambda v: f"region == '{v[3]}' or c < {v[4]:.3f}",
     lambda v: lambda d: (d["region"] == v[3]) | (d["c"] < round(v[4], 3))),
    (lambda v: f"region in ['{v[3]}', '{v[5]}'] and b != {v[1]}",
     lambda v: lambda d: d["region"].isin([v[3], v[5]]) & (d["b"] != v[1])),
    (lambda v: f"(a >= {v[0]:.3f} or qty < {v[2]}) and c <= {v[4]:.3f}",
     lambda v: lambda d: ((d["a"] >= round(v[0], 3)) | (d["qty"] < v[2])) & (d["c"] <= round(v[4], 3))),
)
_REGIONS = ("north", "south", "east", "west", "centre")
_NUMERIC = ("a", "b", "c", "qty")


class InteractiveSmall(Workload):
    """A closed-loop session of small calls drawn from the seed: lazy
    frame verbs, DSL filters, calculated columns, profiles and compares
    on equal and unequal pairs over a 50k-row table; cleaning and
    quality scoring, exact-duplicate survivors and BM25 top-k queries
    over a small corpus. Reads only."""

    name = "interactive_small"
    spark_conf = {"spark.driver.memory": "1g"}
    min_passes = 2
    TOP_K = 10

    def __init__(self, *args):
        super().__init__(*args)
        q = pq.read_table(self.input_path(self.manifest["queries"])).to_pydict()
        self.queries = dict(zip(q["query_id"], q["query"]))

    @staticmethod
    def _spec(kind: str, rng: np.random.Generator, n: int = 0) -> dict:
        """Parameters of the ``n``-th call of ``kind`` in a pass; ``n``
        picks the filter's DSL shape, so a pass runs every shape."""
        if kind == "text_quality":
            return {"mod": 7, "rem": int(rng.integers(0, 7))}
        if kind == "bm25":
            return {"query_id": int(rng.integers(0, 50))}  # the text is filled in by _call
        if kind == "lazy_mean":
            return {"col": _NUMERIC[int(rng.integers(0, 4))]}
        if kind == "lazy_loc":
            return {"col": "c", "thr": round(float(rng.random()), 3)}
        if kind == "lazy_head":
            return {"n": 10}
        if kind == "lazy_assign":
            return {"k": int(rng.integers(1, 5))}
        if kind == "filter":
            v = (float(rng.normal(50, 20)), int(rng.integers(-900, 900)), int(rng.integers(0, 500)),
                 _REGIONS[int(rng.integers(0, 5))], float(rng.random()), _REGIONS[int(rng.integers(0, 5))])
            dsl, mask = _FILTERS[n % len(_FILTERS)]
            return {"dsl": dsl(v), "mask": mask(v), "cols": ["a", "b", "region"]}
        if kind == "calc":
            return {"k": int(rng.integers(1, 4))}
        if kind == "profile":
            return {"cols": ["a", "qty", "region"]}
        return {}

    def _call(self, spark, kind: str, layer: str, spec: dict) -> Call:
        from parq_tools_spark import (
            CalculatedColumn,
            LazySparkDF,
            bm25_topk,
            compare_parquet_files,
            dedupe_exact_text,
            filter_dataframe,
            profile_dataframe,
            with_calculated_columns,
            with_clean_text,
            with_quality_score,
        )
        from parq_tools_spark.sources.parquet_io import read_parquet

        m = self.manifest
        base, docs = self.input_path(m["base"]), self.input_path(m["docs"])
        tracer = self.tracer
        if kind == "bm25":
            spec["query"] = self.queries[spec["query_id"]]

        def run():
            if kind == "text_quality":
                df = with_quality_score(with_clean_text(read_parquet(spark, docs)), text_col="clean_text")
                df = df.filter(f"doc_id % {spec['mod']} = {spec['rem']}")
                return [r.asDict() for r in df.select("doc_id", "clean_text", "quality_score").collect()]
            if kind == "exact_dups":
                df = dedupe_exact_text(with_clean_text(read_parquet(spark, docs)), text_col="clean_text")
                return [r.doc_id for r in df.select("doc_id").collect()]
            if kind == "bm25":
                res = bm25_topk(read_parquet(spark, docs), spec["query"], k=self.TOP_K)
                return [r.asDict() for r in res.collect()]
            if kind == "lazy_shape":
                return LazySparkDF(spark, base).shape
            if kind == "lazy_mean":
                return LazySparkDF(spark, base)[spec["col"]].mean()
            if kind == "lazy_loc":
                ld = LazySparkDF(spark, base)
                return len(ld.loc[ld[spec["col"]] > spec["thr"]])
            if kind == "lazy_head":
                return LazySparkDF(spark, base).head(spec["n"])
            if kind == "lazy_assign":
                ld = LazySparkDF(spark, base)
                return ld.assign(z=ld["a"] * spec["k"] + ld["b"])["z"].sum()
            if kind == "filter":
                n = filter_dataframe(read_parquet(spark, base), spec["dsl"], columns=spec["cols"]).count()
                tracer.note("rows_out", n)
                return n
            if kind == "calc":
                cc = CalculatedColumn("r", expr_sql=f"a * c + qty * {spec['k']}")
                out = with_calculated_columns(read_parquet(spark, base), [cc])
                return out.selectExpr("sum(r)").first()[0]
            if kind == "profile":
                return profile_dataframe(read_parquet(spark, base), columns=spec["cols"])
            other = m["same"] if kind == "compare_eq" else m["diff"]
            report = compare_parquet_files(spark, base, self.input_path(other))
            return report["content_match"] if report["row_count_match"] else None

        return Call(kind, layer, run, spec)

    def calls(self, spark, pass_no) -> list[Call]:
        rng = np.random.default_rng([self.seed, 1000 + int(pass_no)])
        kinds = [(kind, layer, n) for kind, layer, count in _KINDS for n in range(count)]
        out = []
        for i in rng.permutation(len(kinds)):
            kind, layer, n = kinds[int(i)]
            out.append(self._call(spark, kind, layer, self._spec(kind, rng, n)))
        return out

    def rows_per_pass(self) -> int:
        """Rows of every table each call of a pass reads (compare reads two)."""
        m = self.manifest
        per_layer = {"text": m["docs_rows"], "dedup": m["docs_rows"], "search": m["docs_rows"],
                     "compare": 2 * m["rows"]}
        return sum(count * per_layer.get(layer, m["rows"]) for _, layer, count in _KINDS)

    def warm_calls(self, spark) -> list[Call]:
        # every kind once: a kind first run inside the timed loop would
        # pay its code generation and JIT there
        rng = np.random.default_rng([self.seed, 999])
        return [self._call(spark, k, layer, self._spec(k, rng)) for k, layer, _ in _KINDS]

    def check(self, call: Call, result) -> list[str]:
        if self._expected is None:
            self._expected = (
                checks.interactive_frame(self.input_path(self.manifest["base"])),
                checks.corpus_expected(self.inputs, self.manifest),
            )
        pdf, corpus = self._expected
        if call.label == "text_quality":
            return checks.check_text_quality(result, corpus, call.spec["mod"], call.spec["rem"])
        if call.label == "exact_dups":
            return checks.check_exact_survivors(result, corpus)
        if call.label == "bm25":
            query = corpus["queries"][call.spec["query_id"]]
            return checks.check_topk(result, checks.bm25_scores(corpus["text"], query), self.TOP_K)
        return checks.check_interactive(call.label, call.spec, result, pdf)


WORKLOADS = {w.name: w for w in (EtlSpill, InteractiveSmall)}
