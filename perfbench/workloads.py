"""The three workloads. Each drives the engine only through its public
functions, from one process with one client (a closed loop: the next
call starts when the previous one returns).

A workload runs in four phases:

1. ``prepare`` writes its seeded inputs (untimed);
2. ``warm_up`` makes the cold first call or pass; ``setup_s`` runs from
   the engine import through session creation to the end of it;
3. ``measure`` repeats the workload's user operation until the given
   number of seconds has passed (at least once), timing each;
4. ``finish`` checks every output, untimed, and derives the figures.

A traced run alternates an untraced operation with a traced one, whose
spans wrap each call into a layer; the ratio of their medians is the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import csv
import json
import os
import random
import shutil
import time

import checks
import fixtures
from tracing import OpLog, Tracer, median, percentile

INDEX_DIM = 64
TOP_K = 10

# The registered queries of curation_queries: triangle_count is
# driver-bound (~98% of its time in build), tpch_q18_big_orders and
# flagship spend most of theirs in exec.
CURATION_QUERIES = ("triangle_count", "tpch_q18_big_orders", "flagship")

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")


def star_dir() -> str:
    """The star schema is seed-independent (the workload seed only
    permutes the query order), so a checkout writes it once."""
    d = os.path.join(WORK, f"star-sf{fixtures.STAR_SF}-seed{fixtures.STAR_SEED}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        fixtures.star_schema(tmp)
        try:
            os.replace(tmp, d)
        except OSError:  # another run wrote it first
            shutil.rmtree(tmp)
    return d


class Workload:
    name = ""
    # the loop runs for the given seconds and at least this many
    # operations, so that every run's median has the same sample count
    min_ops = 1
    # calls made in set-up, before the loop, the cold first one included
    warm_ops = 2

    def __init__(self, run_dir: str, seed: int, traced: bool) -> None:
        self.dir = run_dir
        self.seed = seed
        self.traced = traced
        self.ops = OpLog()
        self.op_s: list[float] = []  # untraced operations
        self.warm_s: list[float] = []  # the set-up calls
        self.traced_op_s: list[float] = []
        self.op_spans: list[list[int]] = []  # top-level spans of each traced operation
        self.report: dict = {}  # workload figures, by the names in README.md
        self.spark = None

    def prepare(self) -> dict:
        raise NotImplementedError

    def start(self, spark) -> None:
        self.spark = spark
        self.tracer = Tracer(spark, f"{self.name}-{self.seed}", True)
        self.untraced = Tracer(spark, "", False)

    def warm_up(self) -> None:
        # the first call is cold, and the next few are still slower than
        # those after them while the JVM compiles the hot paths
        for _ in range(self.warm_ops):
            self.warm_s.append(self.op(traced=False))

    def op(self, traced: bool) -> float:
        """One user operation; returns its wall time in seconds."""
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while True:
            self.op_s.append(self.op(traced=False))
            if self.traced:
                self.traced_op_s.append(self.op(traced=True))
            if time.perf_counter() >= t_end and len(self.op_s) >= self.min_ops:
                break

    def finish(self) -> None:
        raise NotImplementedError


# -- usda_etl ------------------------------------------------------------------------------


class UsdaEtl(Workload):
    """``api.run_pipeline`` CSV -> quoted CSV, repeatedly, over one seeded
    landing. A traced operation calls ``api.run_pipeline`` too, with the
    layer functions it calls wrapped in spans for the call's duration."""

    name = "usda_etl"
    # calls 2-4 run ~20% slower than the steady ~3 s of the later ones,
    # and by how much depends on the host's load: measure past them
    warm_ops = 4
    min_ops = 3
    LAYERS = {
        "read_usda_csv": "sources.read_usda_csv",
        "usda_pipeline": "plans.usda_pipeline",
        "write_quoted_csv": "sinks.write_quoted_csv",
    }

    def prepare(self) -> dict:
        self.landing = os.path.join(self.dir, "landing")
        self.outputs: list[tuple[int, str]] = []
        return fixtures.usda_landing(self.landing, self.seed)

    def op(self, traced: bool) -> float:
        from usda_food_data_pipeline_spark import api

        out = os.path.join(self.dir, f"out{len(self.outputs)}")
        t0 = time.perf_counter()
        if traced:
            with self.tracer.span("api.run_pipeline") as top, self._spans_around(api):
                self.op_spans.append([top["id"]])
                k, _ = self.ops.call(api.run_pipeline, self.spark, self.landing, out)
        else:
            k, _ = self.ops.call(api.run_pipeline, self.spark, self.landing, out)
        dt = time.perf_counter() - t0
        self.outputs.append((k, out))
        return dt

    @contextlib.contextmanager
    def _spans_around(self, api):
        """Swap the layer functions ``api`` calls for wrappers that run
        each call under a span; restore them on exit."""
        def wrap(fn, span_name):
            def traced(*args, **kwargs):
                with self.tracer.span(span_name):
                    return fn(*args, **kwargs)
            return traced

        saved = {name: getattr(api, name) for name in self.LAYERS}
        for name, span_name in self.LAYERS.items():
            setattr(api, name, wrap(saved[name], span_name))
        try:
            yield
        finally:
            for name, fn in saved.items():
                setattr(api, name, fn)

    def finish(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            want = checks.value_hash(*checks.etl_twin(con, self.landing))
            for k, out in self.outputs:
                if self.ops.ok(k):
                    got = checks.value_hash(*checks.etl_output(con, out))
                    self.ops.check(k, got == want, f"usda_etl {out}: {got} != twin {want}")
        finally:
            con.close()
        self.report["etl_s"] = median(self.op_s)
        self.report["etl_output_rows"] = want["rows"]
        if self.traced:
            for name in self.LAYERS.values():
                self.report[f"{name}_s"] = median([
                    sum(s["dur_s"] for s in self.tracer.spans
                        if s["name"] == name and s["parent"] == top)
                    for [top] in self.op_spans
                ])


# -- food_search -------------------------------------------------------------------------------


class FoodSearch(Workload):
    """``api.build_index`` over seeded food names, then a closed loop of
    ``api.retrieve(..., metadata_df=..., k=10)`` over seeded query texts.
    A traced operation also times the query embedding and the top-k scan
    as separate calls, then the traced ``retrieve``."""

    name = "food_search"
    min_ops = 4

    def prepare(self) -> dict:
        self.corpus = os.path.join(self.dir, "corpus")
        sizes = fixtures.food_corpus(self.corpus, self.seed)
        with open(os.path.join(self.corpus, "queries.json"), encoding="ascii") as f:
            self.queries = json.load(f)
        self.index = os.path.join(self.dir, "index")
        self.results: list[tuple[int, str, list[dict] | None]] = []
        self.builds: list[int] = []
        self.build_s: list[float] = []
        return sizes

    def start(self, spark) -> None:
        super().start(spark)
        from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

        self.names = read_usda_csv(spark, f"{self.corpus}/food.csv", "food")

    def build(self, traced: bool) -> float:
        from usda_food_data_pipeline_spark import api
        from usda_food_data_pipeline_spark.sources.sinks import build_embedding_index

        t0 = time.perf_counter()
        if traced:
            with self.tracer.span("sinks.build_embedding_index"):
                k, _ = self.ops.call(build_embedding_index, self.names, "description",
                                     "fdc_id", self.index, INDEX_DIM)
        else:
            k, _ = self.ops.call(api.build_index, self.spark, self.names, "description",
                                 "fdc_id", self.index, INDEX_DIM)
        self.builds.append(k)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        self.build(traced=False)
        super().warm_up()

    def measure(self, seconds: float) -> None:
        # a warm index build, before the retrieve loop's clock starts
        self.build_s.append(self.build(traced=self.traced))
        super().measure(seconds)

    def _retrieve(self, q: str):
        from usda_food_data_pipeline_spark import api

        k, rows = self.ops.call(api.retrieve, self.spark, self.index, q, metadata_df=self.names,
                                id_col="fdc_id", k=TOP_K, dim=INDEX_DIM)
        self.results.append((k, q, rows))

    def op(self, traced: bool) -> float:
        q = self.queries[(self.seed + len(self.results)) % len(self.queries)]
        if not traced:
            t0 = time.perf_counter()
            self._retrieve(q)
            return time.perf_counter() - t0
        from pyspark.sql import functions as F

        from usda_food_data_pipeline_spark.functions.embed import embed_text_batch
        from usda_food_data_pipeline_spark.operators.similarity import cosine_topk

        tr = self.tracer
        with tr.span("functions.embed_query") as e:
            vec = self.spark.createDataFrame([(q,)], "q string").select(
                embed_text_batch(INDEX_DIM)(F.col("q")).alias("embedding")).collect()[0][0]
        with tr.span("operators.cosine_topk") as c:
            lit = self.spark.createDataFrame([(vec,)], "embedding array<double>")
            cosine_topk(self.spark.read.parquet(self.index), lit, k=TOP_K, id_col="fdc_id").collect()
        with tr.span("api.retrieve", embed_s=e["dur_s"], topk_s=c["dur_s"]) as top:
            self.op_spans.append([top["id"]])
            self._retrieve(q)
        return top["dur_s"]

    def finish(self) -> None:
        ids, vecs = checks.load_index(self.index)
        with open(f"{self.corpus}/food.csv", encoding="ascii") as f:
            names = {int(r["fdc_id"]): r["description"] for r in csv.DictReader(f)}
        index_ok = sorted(int(i) for i in ids) == sorted(names) and all(
            (checks.embed(names[int(i)], INDEX_DIM) == v).all() for i, v in zip(ids, vecs)
        )
        for k in self.builds:  # the builds overwrite one path: check the index once
            self.ops.check(k, index_ok, "index vectors differ from the featurizer")
        for k, q, rows in self.results:
            if rows is None:
                continue
            want = checks.topk(ids, vecs, checks.embed(q, INDEX_DIM), TOP_K)
            got = [(r.get("fdc_id"), r.get("score")) for r in rows]
            meta_ok = all(r.get("description") == names.get(r.get("fdc_id")) for r in rows)
            self.ops.check(k, got == want and meta_ok, f"retrieve {q!r}: {got[:3]} != {want[:3]}")
        lat_ms = [s * 1000.0 for s in self.op_s]
        self.report.update({
            "index_build_s": median(self.build_s),
            "retrieve_ms_p50": median(lat_ms),
            "retrieve_ms_p75": percentile(lat_ms, 75),
            "retrieve_calls": len(lat_ms),
        })
        if self.traced:
            tops = [self.tracer.spans[s] for [s] in self.op_spans]
            self.report["sinks.build_embedding_index_s"] = median(self.build_s)
            self.report["functions.embed_query_ms"] = median([t["embed_s"] * 1e3 for t in tops])
            self.report["operators.cosine_topk_ms"] = median([t["topk_s"] * 1e3 for t in tops])
            self.report["api.retrieve_jobs"] = median(
                [self.tracer.job_counts(s)["jobs"] for [s] in self.op_spans])


# -- curation_queries ------------------------------------------------------------------------------


class CurationQueries(Workload):
    """Registered queries over the star schema, through
    ``registry.queries()``. Each is timed as build (the call returns its
    DataFrame, eager jobs included) plus exec (a noop write). One
    operation is one pass over the set, in a seed-permuted order."""

    name = "curation_queries"

    def prepare(self) -> dict:
        self.star = star_dir()
        self.order = list(CURATION_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        with open(checks.ORACLE_HASHES, encoding="ascii") as f:
            stored = json.load(f)
        if (stored["sf"], stored["star_seed"]) != (fixtures.STAR_SF, fixtures.STAR_SEED):
            raise RuntimeError("oracle_hashes.json was made for another star schema")
        self.want = stored["queries"]
        self.timings = {t: {q: {"build_s": [], "exec_s": [], "jobs": []} for q in self.order}
                        for t in ("cold", False, True)}
        return {"queries": len(self.order), "star_sf": fixtures.STAR_SF}

    def start(self, spark) -> None:
        super().start(spark)
        from usda_food_data_pipeline_spark import registry

        self.fns = registry.queries()

    def warm_up(self) -> None:
        self.op(traced=False, cold=True)

    def op(self, traced: bool, cold: bool = False) -> float:
        # each query is a top-level span, so that the checks between
        # them stay outside every span and job group
        tr = self.tracer if traced else self.untraced
        first = len(tr.spans)
        total = sum(self._query(q, tr, "cold" if cold else traced) for q in self.order)
        if traced:
            self.op_spans.append([s["id"] for s in tr.spans[first:] if s["parent"] is None])
        return total

    def _query(self, q: str, tr: Tracer, key) -> float:
        k = self.ops.begin()
        with tr.span(f"registry.{q}") as qs:
            try:
                with tr.span(f"registry.{q}.build"):
                    t0 = time.perf_counter()
                    df = self.fns[q](self.spark, self.star)
                    t1 = time.perf_counter()
                with tr.span(f"registry.{q}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as ex:  # noqa: BLE001 - a failed query is data here
                self.ops.fail(k, f"{q}: {type(ex).__name__}: {ex}")
                self.spark.catalog.clearCache()
                return 0.0
        m = self.timings[key][q]
        m["build_s"].append(t1 - t0)
        m["exec_s"].append(t2 - t1)
        if tr.enabled:
            m["jobs"].append(tr.job_counts(qs["id"])["jobs"])
        if key != "cold":
            # untimed: the result hash, taken before clearCache releases
            # the query's persisted intermediates (the cold pass is not
            # checked: a check re-executes the query)
            got = checks.value_hash(df.columns, [tuple(r) for r in df.collect()])
            self.ops.check(k, got == self.want[q], f"{q}: {got} != oracle {self.want[q]}")
        self.spark.catalog.clearCache()
        return t2 - t0

    def finish(self) -> None:
        self.report["suite_s"] = median(self.op_s)
        timings = self.timings[self.traced]
        build = exec_ = 0.0
        for q in CURATION_QUERIES:
            m = timings[q]
            b, e = median(m["build_s"]), median(m["exec_s"])
            build, exec_ = build + b, exec_ + e
            self.report[f"registry.{q}.build_s"] = b
            self.report[f"registry.{q}.exec_s"] = e
            if m["jobs"]:
                self.report[f"registry.{q}.jobs"] = median(m["jobs"])
        self.report["registry.build_s"] = build
        self.report["registry.exec_s"] = exec_
        for q, m in self.timings["cold"].items():
            self.report[f"cold.{q}_s"] = sum(m["build_s"] + m["exec_s"])


WORKLOADS = {w.name: w for w in (UsdaEtl, FoodSearch, CurationQueries)}
