"""The benchmark workloads.

Each workload generates its inputs once per benchmark run
(``prepare``), then runs complete jobs through the engine's public
entry points the way ``chill_spark.cli`` does (``run``), and checks
every job's output against the generator's ground truth (``check``).
``run(..., tracer=t)`` is the traced variant: the same calls, with the
engine's layer functions wrapped in spans and their outputs
materialized at each boundary.
"""

from __future__ import annotations

import os
from contextlib import ExitStack, nullcontext

from . import check, gen


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext({})


def _materialize(df, rec):
    df = df.cache()
    rec["attrs"]["rows"] = df.count()
    return df


def _cached_bytes(spark, df) -> int:
    """In-memory + on-disk size of a cached DataFrame's blocks."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    hit = cm.lookupCachedData(df._jdf)
    if hit.isEmpty():
        return 0
    return int(hit.get().cachedRepresentation().cacheBuilder().sizeInBytesStats().value())


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under a table directory (sidecars and
    markers excluded)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path) for f in names
        if not f.startswith((".", "_"))
    )


class Workload:
    name = ""
    why = ""
    shape: dict = {}

    def __init__(self, work: str):
        self.work = os.path.join(work, self.name)
        self.truth: dict = {}

    def prepare(self, seed: int) -> None:
        raise NotImplementedError

    def sizes(self) -> dict:
        raise NotImplementedError

    def run(self, spark, out: str, tracer=None):
        raise NotImplementedError

    def check(self, out: str, result) -> list[str]:
        raise NotImplementedError

    def reset(self) -> None:
        """Undo per-job side effects on the inputs (untimed)."""


# ---------------------------------------------------------------------------
# PM test run: counter files -> facts (stream and batch) -> reconcile ->
# ladder -> verdict
# ---------------------------------------------------------------------------

def load_job(spark, truth: dict):
    """Job + catalog from the Excel configs, and the job's lookup views
    evaluated over the ``sites`` dimension file."""
    from chill_spark.config.excel import load_chill_xlsx, load_hld_xlsx

    job = load_chill_xlsx(truth["job"])
    cat = load_hld_xlsx(truth["hld"])
    spark.read.option("header", "true").csv(truth["sites"]).createOrReplaceTempView(
        "sites"
    )
    return job, cat, {name: spark.sql(sql) for name, sql in job.views.items()}


class PmE2E(Workload):
    """One PM test run over a drop of many small counter files, through
    both intakes: the drop lands in seeded bursts (one directory rename
    each) into a running ``run_stream`` query with
    ``maxFilesPerTrigger`` and incremental ladder repair; the same files
    then go through ``run_batch``; the stream's facts are reconciled
    against the batch facts, the stream's ladder is built and written
    (``build_ladder``), and the JUnit verdict must pass."""

    name = "pm_e2e"
    why = ("40 small counter files streamed 8 per micro-batch, then "
           "batch-loaded, reconciled and rolled up: fixed cost per "
           "micro-batch is ~60% of a traced job, the ladder ~15%, "
           "reconcile ~8%")
    # two bursts of 16 and 24 files (seeded order), read 8 files per
    # micro-batch: 5 micro-batches on every seed
    shape = dict(periods=5, sites=8, cells=16, bursts=2, burst_align=8)
    max_files_per_trigger = 8
    stream_levels = ["DY"]

    def prepare(self, seed: int) -> None:
        self.truth = gen.gen_pm(self.work, seed, **self.shape)

    def sizes(self) -> dict:
        return {k: self.truth[k] for k in ("files", "bytes", "rows")}

    def reset(self) -> None:
        in_dir = self.truth["in_dir"]
        staged = os.path.join(self.work, "staged")
        for b in self.truth["bursts"]:
            src = os.path.join(in_dir, b)
            if os.path.isdir(src):
                os.rename(src, os.path.join(staged, b))

    def run(self, spark, out: str, tracer=None):
        from chill_spark import pipeline
        from chill_spark.operators.rollup import build_ladder
        from chill_spark.operators.writers import read_fact, write_fact
        from chill_spark.reconcile import compare_tables
        from chill_spark.report import build_report

        with _span(tracer, "config.load"):
            job, cat, views = load_job(spark, self.truth)
        batches = self._stream(spark, job, cat, views, f"{out}/stream", tracer)
        with ExitStack() as stack:
            if tracer is not None:
                self._wrap_layers(spark, tracer, stack)
            with _span(tracer, "pipeline.run_batch"):
                res = pipeline.run_batch(spark, job, cat, f"{out}/batch", views=views)
            reports = []
            actual_bytes = 0
            for table in cat.tables.values():
                name = f"{table.name}_{table.base_granularity}"
                actual_bytes += _dir_bytes(f"{out}/stream/{name}")
                actual = read_fact(spark, f"{out}/stream/{name}")
                with _span(tracer, "reconcile.compare"):
                    reports.append(
                        compare_tables(
                            read_fact(spark, f"{out}/batch/{name}"), actual,
                            table.name, keys=table.key_fields,
                            counters=[c.db_name for c in table.counters],
                        )
                    )
                with _span(tracer, "rollup.build_ladder"):
                    for level, df in build_ladder(actual, table).items():
                        write_fact(df, f"{out}/ladder/{table.name}_{level}")
            with _span(tracer, "report.build") as rec:
                report = build_report(reports)
                if res.derive_errors:
                    from chill_spark.report.junit import TestCase

                    report.suite("DBLoader Errors").add(
                        TestCase(
                            name="(derive)", classname="dbloader",
                            failure_message="\n".join(res.derive_errors),
                        )
                    )
                xml = report.to_xml()
                if tracer is not None:
                    rec["attrs"]["cases"] = xml.count("<testcase")
                    rec["attrs"]["actual_bytes"] = actual_bytes
        return {"reports": reports, "report": report, "xml": xml,
                "derive_errors": res.derive_errors, "batches": batches,
                "tables": list(cat.tables), "fact_root": f"{out}/batch"}

    def _stream(self, spark, job, cat, views, out: str, tracer) -> list[dict]:
        """Land the bursts into a running stream; per-batch progress."""
        from chill_spark.streaming import run_stream

        columns = list(dict.fromkeys(
            s.raw_name for t in cat.tables.values()
            for s in t.stored_columns if s.raw_name
        ))
        staged = os.path.join(self.work, "staged")
        with _span(tracer, "streaming.run") as rec:
            q = run_stream(
                spark, job, cat,
                out_dir=out,
                checkpoint_dir=f"{out}/_ckpt",
                columns=columns,
                views=views,
                trigger_seconds=0,
                ladder_root=out,
                ladder_levels=self.stream_levels,
                max_files_per_trigger=self.max_files_per_trigger,
            )
            try:
                for b in self.truth["bursts"]:
                    os.rename(os.path.join(staged, b),
                              os.path.join(self.truth["in_dir"], b))
                    q.processAllAvailable()
            finally:
                q.stop()
            if tracer is not None:
                rec["groups"] = [str(q.runId)]
        return [
            {"trigger_s": p.durationMs.get("triggerExecution", 0) / 1000,
             "add_batch_s": p.durationMs.get("addBatch", 0) / 1000,
             "rows": p.numInputRows}
            for p in q.recentProgress
            if p.numInputRows > 0
        ]

    def _wrap_layers(self, spark, tracer, stack: ExitStack) -> None:
        from chill_spark import pipeline
        from chill_spark.operators import derive

        def materialize_tables(res, rec):
            for t, df in list(res.tables.items()):
                res.tables[t] = _materialize(df, {"attrs": {}})
            if res.cached_raw is not None:
                rec["attrs"]["cached_bytes"] = _cached_bytes(spark, res.cached_raw)
            return res

        def materialize_derived(res, rec):
            res.df = _materialize(res.df, rec)
            return res

        def tiers(rec, res):
            rec["attrs"]["tiers"] = dict(res.tiers)

        def materialize_scan(df, rec):
            # counted before caching hides the file relation; planning only
            rec["attrs"]["files"] = len(df.inputFiles())
            return _materialize(df, rec)

        w = tracer.wrap
        stack.enter_context(w(pipeline, "transform", "pipeline.transform",
                              materialize=materialize_tables))
        stack.enter_context(w(pipeline, "scan_csv_preprocessed", "sources.scan",
                              materialize=materialize_scan))
        stack.enter_context(w(pipeline, "extract_tags", "sources.tags",
                              materialize=_materialize))
        stack.enter_context(w(pipeline, "tag_columns", "sources.tags",
                              materialize=_materialize))
        stack.enter_context(w(pipeline, "apply_fields", "derive.apply",
                              materialize=materialize_derived, after=tiers))
        stack.enter_context(w(pipeline, "write_fact", "writers.write_fact"))
        for fn in ("compile_template", "parse_lookup_template", "compile_fallback"):
            stack.enter_context(w(derive, fn, "dsl.compile"))

    def check(self, out: str, result) -> list[str]:
        truth = self.truth
        errs = check.check_facts(f"{out}/batch", truth, result["tables"], levels=[])
        errs += check.check_facts(f"{out}/stream", truth, result["tables"],
                                  levels=self.stream_levels)
        errs += check.check_facts(f"{out}/stream", truth, result["tables"],
                                  ladder_root=f"{out}/ladder")
        files = sum(b["rows"] for b in result["batches"])
        if files != truth["files"]:
            errs.append(f"stream ingested {files} files, expected {truth['files']}")
        return errs + check.check_clean_verdict(result)


# ---------------------------------------------------------------------------
# corpus dedup (llm_ops)
# ---------------------------------------------------------------------------

class CorpusDedup(Workload):
    name = "corpus_dedup"
    why = ("exact + MinHash/LSH near-dup dedup over a seeded corpus with "
           "planted clusters: llm_ops only, no PM layer does any work")
    shape = dict(docs=3000, clusters=180)

    def prepare(self, seed: int) -> None:
        self.truth = gen.gen_corpus(self.work, seed, **self.shape)

    def sizes(self) -> dict:
        return {k: self.truth[k] for k in ("docs", "bytes")}

    def run(self, spark, out: str, tracer=None):
        from chill_spark.llm_ops import components, dedup

        with ExitStack() as stack:
            for module, attr, name in (
                (dedup, "shingle_sets", "llm_ops.shingle"),
                (dedup, "minhash_candidates", "llm_ops.candidates"),
                (dedup, "jaccard_pairs", "llm_ops.verify"),
                (components, "connected_components", "llm_ops.components"),
                (components, "component_survivors", "llm_ops.components"),
            ) if tracer is not None else ():
                stack.enter_context(
                    tracer.wrap(module, attr, name, materialize=_materialize)
                )
            df = spark.read.parquet(self.truth["path"])
            with _span(tracer, "llm_ops.exact"):
                dedup.dedup_exact(df, "text", "id").write.parquet(f"{out}/exact")
            exact = spark.read.parquet(f"{out}/exact")
            with _span(tracer, "llm_ops.near"):
                dedup.dedup_minhash_cc(exact, "text", "id", threshold=0.7).write.parquet(
                    f"{out}/kept"
                )
        return {}

    def check(self, out: str, result) -> list[str]:
        return check.check_dedup(out, self.truth)


WORKLOADS = {
    w.name: w for w in (PmE2E, CorpusDedup)
}
