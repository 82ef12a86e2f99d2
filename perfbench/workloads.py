"""The three workloads: what one pass runs and how its outputs are checked.

Each workload class has:

* ``stage(seed, dir)`` — write the seeded inputs (before the session);
* ``run_pass(i)`` — the operation list, each call timed by the runner;
* ``check(passes)`` — compare the outputs with computations made apart
  from the engine; returns the failed ``(pass, op)`` pairs;
* ``latency_ops`` — the operations whose pass-2 latencies make the
  diagnostics' ``op_p50_wall_s`` / ``op_p50_cpu_s``.
"""

from __future__ import annotations

import os
import sys

from . import checks, gen, tracing

#: Pass 1 runs right after the cold pass, while HotSpot still compiles
#: 8-14 s of code per pass (perfbench/README.md, "Warm-up"); it is timed
#: but reported only in the diagnostics. Every warm metric is read from
#: pass 2 alone, whatever number of passes the window lets run: each
#: later pass is cheaper only because the JVM is further warmed.
WARMUP_PASS = 1
MEASURED_PASS = WARMUP_PASS + 1

CATALOG_QUERIES = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "q18_large_volume_customers",
    "j5_asof_join",
    "w5_sessionize",
)


class CatalogOlap:
    """Analysts querying one long-lived session: catalog rows over the
    staged star schema, each consumed by the ``noop`` sink. The warm-up
    pass collects the rows instead, and those are what ``check`` compares
    with DuckDB; the measured passes write nothing to compare."""

    latency_ops = frozenset(CATALOG_QUERIES)

    @staticmethod
    def stage(seed: int, out_dir: str) -> dict:
        gen.write_tables(seed, out_dir)
        return {"tables": out_dir}

    def __init__(self, spark, inputs, work, runner, tracer):
        from nrg_etl_airflow_spark_emr_spark.plans.catalog import spec

        self.spark, self.inputs, self.runner, self.tracer = spark, inputs, runner, tracer
        self.specs = {q: spec(q) for q in CATALOG_QUERIES}
        self.plan_ms: list[tuple[int, float]] = []
        self.rows: dict[str, tuple[list[str], list]] = {}

    def run_pass(self, i: int) -> None:
        sf = self.inputs["tables"]
        for q, s in self.specs.items():

            def build_and_run(s=s):
                with self.tracer.span("catalog.build"):
                    df = s.builder(self.spark, sf)
                with self.tracer.span("catalog.execute"):
                    if i == WARMUP_PASS:
                        self.rows[q] = (df.columns, df.collect())
                    else:
                        df.write.format("noop").mode("overwrite").save()
                return df

            df = self.runner.op(q, build_and_run, "catalog.query")
            if self.tracer.enabled and df is not None:
                self.plan_ms.append((i, _plan_ms(df)))

    def check(self, passes) -> set[tuple[int, str]]:
        con = checks.duck_connection(self.inputs["tables"])
        bad = set()
        try:
            for q, s in self.specs.items():
                got = checks.spark_rows(*self.rows[q]) if q in self.rows else None
                if got != checks.duck_rows(con, s.oracle):
                    bad.update((p.index, q) for p in passes)
        finally:
            con.close()
        return bad


def _plan_ms(df) -> float:
    """Analysis + optimization + planning ms of the query's plan. The
    noop write plans through its own QueryExecution, which Python cannot
    reach, so the traced run plans the same logical plan once more after
    the operation (outside its span) and reads the tracker phases."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(phases.apply(k).durationMs() for k in ("analysis", "optimization", "planning") if phases.contains(k))
    )


class NrgEtl:
    """The reference's nightly batch: ``pipelines.nrg.run_pipeline`` over
    seeded gzipped EIA-930 and GHCN shards, into a fresh directory."""

    latency_ops = frozenset({"run_pipeline"})

    @staticmethod
    def stage(seed: int, out_dir: str) -> dict:
        return gen.write_nrg_inputs(seed, out_dir)

    def __init__(self, spark, inputs, work, runner, tracer):
        self.spark, self.inputs, self.runner = spark, inputs, runner
        self.out = os.path.join(work, "nrg_out")
        self.outputs: dict[int, object] = {}

    def run_pass(self, i: int) -> None:
        from nrg_etl_airflow_spark_emr_spark.pipelines.nrg import run_pipeline

        inp = self.inputs
        out_dir = os.path.join(self.out, f"pass{i}")
        self.outputs[i] = self.runner.op(
            "run_pipeline",
            lambda: run_pipeline(
                self.spark,
                inp["ba_csv"],
                inp["weather_csv"],
                inp["locations_csv"],
                out_dir,
                max_unmatched_station_days=inp["counts"]["null_acronym_station_days"],
            ),
            "nrg.run",
        )

    def check(self, passes) -> set[tuple[int, str]]:
        done = {p.index: self.outputs.get(p.index) for p in passes}
        problems = checks.check_nrg(self.inputs, {i: o for i, o in done.items() if o is not None})
        for i, found in problems.items():
            if found:
                print(f"nrg_etl pass {i}: {found}", file=sys.stderr)
        return {(i, "run_pipeline") for i, o in done.items() if o is None or problems[i]}

    def output_dirs(self, i: int) -> list[str]:
        return [os.path.join(self.out, f"pass{i}")]


UPSERT_BATCHES = 2


#: The stage boundaries (CTEs) of corpus_pipeline_e2e_lsh's oracle that
#: several later stages read.
CORPUS_ORACLE_CTES = ("cleaned", "lined", "pairs", "kept", "chunks")


class RagPipeline:
    """LLM-data preparation: the durable corpus runner into a fresh
    directory and again on the completed directory (resume), MinHash-LSH
    near-duplicate detection, then the persisted-IVF lifecycle: build on
    the base slice (``vec_id % 4 != 0``), upsert batches each followed by
    a search batch, compact, search."""

    latency_ops = frozenset({f"search{b}" for b in range(UPSERT_BATCHES + 1)})

    @staticmethod
    def stage(seed: int, out_dir: str) -> dict:
        gen.write_tables(seed, out_dir)
        return {"tables": out_dir}

    def __init__(self, spark, inputs, work, runner, tracer):
        from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors

        self.spark, self.inputs, self.runner, self.tracer = spark, inputs, runner, tracer
        self.out = os.path.join(work, "rag_out")
        self.results: dict[tuple[int, str], list] = {}
        self.vectors = _vectors(spark, inputs["tables"])

    def _slice(self, upto: int):
        """Base slice plus the first ``upto`` upsert batches."""
        v = self.vectors
        return v.filter((v.vec_id % 4 != 0) | ((v.vec_id / 4).cast("long") % UPSERT_BATCHES < upto))

    def _batch(self, b: int):
        v = self.vectors
        return v.filter((v.vec_id % 4 == 0) & ((v.vec_id / 4).cast("long") % UPSERT_BATCHES == b))

    def run_pass(self, i: int) -> None:
        from pyspark.sql import functions as F

        from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_search
        from nrg_etl_airflow_spark_emr_spark.operators.similarity import N_QUERIES
        from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import corpus_pipeline_run
        from nrg_etl_airflow_spark_emr_spark.plans.catalog import spec
        from nrg_etl_airflow_spark_emr_spark.sources import ann_index as ai

        sp, sf, op = self.spark, self.inputs["tables"], self.runner.op
        index = os.path.join(self.out, f"pass{i}", "ivf")
        stages = os.path.join(self.out, f"pass{i}", "corpus")

        def corpus():
            return corpus_pipeline_run(sp, sf, stages, candidates="lsh").collect()

        self.results[(i, "corpus")] = op("corpus", corpus, "corpus.run", stages)
        self.results[(i, "resume")] = op("resume", corpus, "corpus.resume", stages)
        dedup = spec("dedup_minhash_lsh")
        self.results[(i, "dedup")] = op("dedup", lambda: dedup.builder(sp, sf).collect(), "dedup.minhash")
        op("build", lambda: ai.write_ivf_index(sp, sf, index, vectors=self._slice(0)), "ann_index.build", index)

        def search(upto: int):
            with self.tracer.span("ann_index.read"):
                cent, postings = ai.read_ivf_index(sp, index)
            q = self._slice(upto).filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"), F.col("fe").alias("qfe"), F.col("nrm").alias("qnrm")
            )
            with self.tracer.span("kmeans.search"):
                return ivf_search(cent, postings, q, topn=5).select("query_id", "vec_id", "cosine", "rn").collect()

        for b in range(UPSERT_BATCHES):
            batch = self._batch(b).select("vec_id", "fe", "nrm")
            op(f"upsert{b}", lambda: ai.upsert_ivf_postings(sp, index, batch), "ann_index.upsert", index)
            self.results[(i, f"search{b}")] = op(f"search{b}", lambda: search(b + 1), "ann_index.search")
        op("compact", lambda: ai.compact_ivf_index(sp, index), "ann_index.compact", index)
        last = f"search{UPSERT_BATCHES}"
        self.results[(i, last)] = op(last, lambda: search(UPSERT_BATCHES), "ann_index.search", index)

    def check(self, passes) -> set[tuple[int, str]]:
        from nrg_etl_airflow_spark_emr_spark.plans.catalog import spec

        tables = self.inputs["tables"]
        con = checks.duck_connection(tables)
        try:
            want = {"dedup": checks.duck_rows(con, spec("dedup_minhash_lsh").oracle)}
            e2e = checks.materialized(spec("corpus_pipeline_e2e_lsh").oracle, CORPUS_ORACLE_CTES)
            want["corpus"] = want["resume"] = checks.duck_rows(con, e2e)
            emb = os.path.join(tables, "embeddings.parquet")
            law = spec("sim_knn_ivf_upsert").oracle  # centroids from the base slice, union assigned under them
            for b in range(UPSERT_BATCHES):
                con.sql(
                    f"""CREATE OR REPLACE VIEW embeddings AS SELECT * FROM read_parquet('{emb}')
                    WHERE vec_id % 4 != 0 OR CAST(floor(vec_id / 4) AS BIGINT) % {UPSERT_BATCHES} < {b + 1}"""
                )
                want[f"search{b}"] = checks.duck_rows(con, law)
            want[f"search{UPSERT_BATCHES}"] = want[f"search{UPSERT_BATCHES - 1}"]
        finally:
            con.close()
        bad = set()
        for p in passes:
            for name, _w, _c, raised in p.ops:
                if name not in want:
                    continue  # build/upsert/compact: judged through the searches
                rows = self.results.get((p.index, name)) or []
                cols = list(rows[0].__fields__) if rows else want[name][0]
                if raised or checks.spark_rows(cols, rows) != want[name]:
                    bad.add((p.index, name))
            # Resuming a completed directory returns the same manifest.
            ran = self.results.get((p.index, "corpus"))
            resumed = self.results.get((p.index, "resume"))
            if ran is None or resumed is None or sorted(map(tuple, ran)) != sorted(map(tuple, resumed)):
                bad.add((p.index, "resume"))
            # Compaction changes the files, never the answer.
            before = self.results.get((p.index, f"search{UPSERT_BATCHES - 1}"))
            after = self.results.get((p.index, f"search{UPSERT_BATCHES}"))
            if before is None or after is None or sorted(map(tuple, before)) != sorted(map(tuple, after)):
                bad.add((p.index, "compact"))
        return bad

    def output_dirs(self, i: int) -> list[str]:
        return [os.path.join(self.out, f"pass{i}")]


WORKLOADS = {"catalog_olap": CatalogOlap, "nrg_etl": NrgEtl, "rag_pipeline": RagPipeline}


# --- per-layer metrics (traced run) ---------------------------------------------

#: span name -> metric name for the self-time metrics.
SELF_TIME = {
    "catalog.build": "catalog.build_s",
    "catalog.execute": "catalog.execute_s",
    "tables.load": "tables.load_s",
    "readers.csv_read": "readers.csv_read_s",
    "readers.write": "readers.write_s",
    "nrg.run": "nrg.run_s",
    "qc.evaluate": "qc.evaluate_s",
    "dedup.minhash": "dedup.minhash_s",
    "ann_index.build": "ann_index.build_s",
    "ann_index.upsert": "ann_index.upsert_s",
    "ann_index.compact": "ann_index.compact_s",
    "ann_index.read": "ann_index.read_s",
    "kmeans.search": "kmeans.search_s",
    "corpus.run": "corpus.run_s",
    "corpus.resume": "corpus.resume_s",
}


def layer_metrics(tracer, passes, wl, session_s: float, steal_s: float, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: sums over the measured warm
    pass, unless named otherwise in perfbench/README.md."""
    spans = tracer.spans
    kids = tracer.children()
    warm = passes[MEASURED_PASS]
    warm_spans = [s for s in spans if s.pass_index == MEASURED_PASS]
    m: dict[str, float] = {name: 0.0 for name in SELF_TIME.values()}
    for s in warm_spans:
        if s.name in SELF_TIME:
            m[SELF_TIME[s.name]] += tracer.self_time(s, kids)
    count = lambda name: sum(1 for s in warm_spans if s.name == name)  # noqa: E731
    jobs_in = lambda name: sum(len(tracer.subtree_jobs(s, kids)) for s in warm_spans if s.name == name)  # noqa: E731
    warm_jobs = sorted({j for s in warm_spans if s.parent is None for j in tracer.subtree_jobs(s, kids)})
    stages = sorted({sid for j in warm_jobs for sid in tracer.jobs[j]["stages"] if sid in tracer.stages})
    st = lambda key: sum(tracer.stages[sid][key] for sid in stages)  # noqa: E731
    writes = [s for s in warm_spans if s.name == "readers.write"]
    out_files = out_bytes = 0
    for d in getattr(wl, "output_dirs", lambda i: [])(MEASURED_PASS):
        f, b = tracing.dir_footprint(d)
        out_files, out_bytes = out_files + f, out_bytes + b
    plan = [ms for pi, ms in getattr(wl, "plan_ms", []) if pi == MEASURED_PASS]
    m.update(
        {
            "catalog.build_jobs": jobs_in("catalog.build"),
            "tables.load_calls": count("tables.load"),
            "spark.plan_ms": sum(plan),
            "spark.jobs": len(warm_jobs),
            "spark.stages": len(stages),
            "spark.tasks": st("tasks"),
            "spark.idle_s": sum(tracer.idle_s(s, kids) for s in warm_spans if s.parent is None),
            "spark.input_bytes": st("input_bytes"),
            "spark.shuffle_write_bytes": st("shuffle_write_bytes"),
            "spark.spill_bytes": st("spill_bytes"),
            "jvm.jit_compile_ms": warm.jvm[0],
            "jvm.gc_ms": warm.jvm[1],
            "codegen.compiles": warm.jvm[2],
            "readers.files_written": sum(s.files for s in writes),
            "readers.bytes_written": sum(s.bytes for s in writes),
            "qc.jobs": jobs_in("qc.evaluate"),
            "corpus.stage_files": sum(s.files for s in warm_spans if s.name == "corpus.run"),
            "session.start_s": session_s,
            "spark.persisted_rdds": max((s.persisted_rdds for s in spans if s.parent is None), default=0),
            "cold.jit_compile_ms": passes[0].jvm[0],
            "cold.codegen_compiles": passes[0].jvm[2],
            "ann_index.files": _index_files(wl, MEASURED_PASS),
            "output.files": out_files,
            "output.bytes": out_bytes,
            "host.steal_s": steal_s,
            "traced.warm_pass_s": warm.seconds,
            "traced.warm_pass_cpu_s": warm.cpu_s,
            "jvm.peak_rss_mb": peak_rss_mb,
        }
    )
    return {k: (float(v), unit(k)) for k, v in sorted(m.items())}


def unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_mb"):
        return "MB"
    return "bytes" if "bytes" in metric else "count"


def _index_files(wl, i: int) -> int:
    d = os.path.join(getattr(wl, "out", ""), f"pass{i}", "ivf")
    return tracing.dir_footprint(d)[0] if os.path.isdir(d) else 0
