"""The workloads: what one pass runs, how its outputs are checked,
and which per-layer numbers a traced pass yields.

A pass returns a ``Pass``: one ``(op, seconds, ok)`` entry per operation
(a query run or a CLI job), timed with construction included, plus the
per-layer metrics when a tracer was given. Every operation starts from
released state (``harness.release``, outside the timed region): after
each query op, and after each crawl pass, whose CLI jobs release their
own tracked caches.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import harness
from checks import digest, read_parquet_dir

#: Scale of the generated star-schema tables the query workloads read.
TABLES_SF = 0.01

#: Single-plan registered queries: planning, codegen, scans, joins,
#: windows, a Python UDF (text_bpe_token_count), a top-k similarity join
#: and a compute-bound self-join (graph_triangle_stats). The iterative loop operators are
#: left out: their driver-side JIT warm-up runs on for more passes than
#: a run can afford (hits_converged took 4.2 -> 3.2 s over passes 2-6),
#: so their time tracks host speed rather than the engine. The crawl's
#: dedup job exercises the loop driver instead (connected_components).
OPS = [
    "tpch_q1_pricing_summary",
    "tpch_q18_large_volume",
    "events_session_window",
    "text_word_count_tfdf",
    "text_bpe_token_count",
    "sim_cosine_topk",
    "graph_triangle_stats",
]

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")) as _fh:
    DIGESTS = json.load(_fh)["digests"]


@dataclass
class Pass:
    ops: list[tuple[str, float, bool]] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    #: Largest storage the RDD caches held while an op ran (MB).
    storage_mb: float = 0.0

    @property
    def wall(self) -> float:
        return sum(s for _, s, _ in self.ops)


class NullTracer:
    """Stands in for ``spans.Tracer`` in untraced passes."""

    def span(self, name, **tags):
        return contextlib.nullcontext({})


def _fail(op: str) -> None:
    print(f"perfbench: {op} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _spark_layers(tracer, span, wall: float) -> dict[str, float]:
    t = tracer.totals(span)
    out = {f"spark.{k}": t[k] for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "busy_s")}
    out["spark.idle_s"] = wall - t["busy_s"]
    return out


class QueryWorkload:
    """Registered queries over generated tables, each written to a fresh parquet directory whose content is checked
    against the committed digest."""

    def __init__(self, name: str, box, seed: int):
        self.name = name
        self.box = box
        self.ops = OPS
        self.rng = random.Random(seed)
        self.sf_dir = None

    def prepare(self) -> None:
        from tables import generate_tables  # noqa: PLC0415

        self.sf_dir = self.box.path("tables")
        generate_tables(self.sf_dir, TABLES_SF)

    def run_pass(self, spark, tracer=None) -> Pass:
        tr = tracer or NullTracer()
        result = Pass()
        released = leftover = 0
        qspans = []
        with tr.span("pass", workload=self.name) as pass_span:
            for name in self.rng.sample(self.ops, len(self.ops)):
                out = self.box.fresh(name)
                ok = True
                with harness.StoragePeak(spark) as storage:
                    t0 = time.perf_counter()
                    try:
                        with tr.span(name, layer="query") as q:
                            with tr.span("plans.build"):
                                df = harness.build(spark, name, self.sf_dir)
                            if tracer:
                                with tr.span("plans.plan"):
                                    df._jdf.queryExecution().executedPlan()
                            with tr.span("plans.exec"):
                                df.write.parquet(out)
                        qspans.append(q)
                    except Exception:  # noqa: BLE001 — counted, the run goes on
                        ok = False
                        _fail(name)
                    secs = time.perf_counter() - t0
                result.storage_mb = max(result.storage_mb, storage.peak_mb)
                if ok:
                    ok = digest(read_parquet_dir(out)) == DIGESTS[name]
                    if not ok:
                        print(f"perfbench: {name} output mismatch", file=sys.stderr)
                shutil.rmtree(out, ignore_errors=True)
                r, lo = harness.release(spark)
                released, leftover = released + r, leftover + lo
                result.ops.append((name, secs, ok))
        if tracer:
            result.layers = self._layers(tracer, pass_span, qspans, result)
            result.layers["caching.released"] = released
            result.layers["caching.leftover_rdds"] = leftover
        return result

    def _layers(self, tracer, pass_span, qspans, result) -> dict[str, float]:
        out = _spark_layers(tracer, pass_span, result.wall)
        kids = [s for s in tracer.spans if s["parent"] in {q["id"] for q in qspans}]
        for phase in ("build", "plan", "exec"):
            out[f"plans.{phase}_s"] = sum(
                tracer.wall(s) for s in kids if s["name"] == f"plans.{phase}"
            )
        out["catalog.input_mb"] = tracer.totals(pass_span)["input_mb"]
        for q in qspans:
            t = tracer.totals(q)
            out[f"{q['name']}.wall_s"] = tracer.wall(q)
            out[f"{q['name']}.jobs"] = t["jobs"]
        return out


CRAWL_JOBS = ("warc_to_documents", "dedup_documents", "export_training_jsonl")


class CrawlWorkload:
    """The CLI pipeline over a seeded WARC corpus: warc_to_documents →
    dedup_documents (cluster) → export_training_jsonl, one session."""

    name = "crawl_to_shards"
    parts = "4"

    def __init__(self, name: str, box, seed: int):
        self.box = box
        self.seed = seed
        self.corpus = self.expected = None

    def prepare(self) -> None:
        from corpus import expected_outputs, generate_corpus  # noqa: PLC0415

        self.corpus = generate_corpus(self.box.path("corpus"), self.seed)
        self.expected = expected_outputs(self.corpus["docs"])

    def _argv(self, job: str, docs: str, out: str) -> list[str]:
        src = self.corpus["manifest"] if job == "warc_to_documents" else docs
        argv = [job, src, out, "--num_input_partitions", self.parts,
                "--num_output_partitions", self.parts]
        return argv + (["--dedup_method", "cluster"] if job == "dedup_documents" else [])

    def run_pass(self, spark, tracer=None) -> Pass:
        from cc_pyspark_spark.jobs import runner  # noqa: PLC0415

        tr = tracer or NullTracer()
        result = Pass()
        outs = {job: self.box.fresh(job) for job in CRAWL_JOBS}
        reports: dict[str, dict] = {}
        jspans = {}
        with tr.span("pass", workload=self.name) as pass_span:
            for job in CRAWL_JOBS:
                buf = io.StringIO()
                argv = self._argv(job, outs["warc_to_documents"], outs[job])
                with harness.StoragePeak(spark) as storage:
                    t0 = time.perf_counter()
                    try:
                        with tr.span(f"jobs.{job}") as js, contextlib.redirect_stdout(buf):
                            ok = runner.main(argv) == 0
                        jspans[job] = js
                    except Exception:  # noqa: BLE001 — counted, the run goes on
                        ok = False
                        _fail(job)
                    secs = time.perf_counter() - t0
                result.storage_mb = max(result.storage_mb, storage.peak_mb)
                for line in buf.getvalue().splitlines():
                    if line.startswith("{"):
                        reports[job] = json.loads(line)
                result.ops.append((job, secs, ok))
        checked = self.check(outs, reports)
        result.ops = [(j, s, ok and checked[j]) for j, s, ok in result.ops]
        released, leftover = harness.release(spark)
        if tracer:
            result.layers = self._layers(spark, tracer, pass_span, jspans, outs, reports, result)
            result.layers["caching.released"] = released
            result.layers["caching.leftover_rdds"] = leftover
            harness.release(spark)
        for job in CRAWL_JOBS:
            shutil.rmtree(outs[job], ignore_errors=True)
        return result

    def check(self, outs: dict[str, str], reports: dict[str, dict]) -> dict[str, bool]:
        """Each job's output against the corpus ground truth."""
        import pandas as pd  # noqa: PLC0415

        exp = self.expected
        ok = dict.fromkeys(CRAWL_JOBS, False)
        with contextlib.suppress(Exception):
            docs = read_parquet_dir(outs["warc_to_documents"])
            got = {int(r.doc_id): (r.url, r.text) for r in docs.itertuples()}
            ok["warc_to_documents"] = got == exp["docs"] and len(got) == len(docs)
        with contextlib.suppress(Exception):
            sv = read_parquet_dir(outs["dedup_documents"])
            got = {int(r.doc_id): int(r.keep_id) for r in sv.itertuples()}
            ok["dedup_documents"] = got == exp["survivors"] and len(got) == len(sv)
        with contextlib.suppress(Exception):
            d = outs["export_training_jsonl"]
            ex = pd.concat(
                pd.read_json(os.path.join(d, f), lines=True, dtype={"text": str})
                for f in sorted(os.listdir(d)) if f.endswith(".json.gz")
            )
            got = {int(r.doc_id): r.text for r in ex.itertuples()}
            ok["export_training_jsonl"] = (
                got == exp["exported"]
                and len(got) == len(ex)
                and reports["export_training_jsonl"]["exported_docs"] == len(got)
            )
        for job, good in ok.items():
            if not good:
                print(f"perfbench: {job} output mismatch", file=sys.stderr)
        return ok

    def _layers(self, spark, tracer, pass_span, jspans, outs, reports, result):
        out = _spark_layers(tracer, pass_span, result.wall)
        out["catalog.input_mb"] = tracer.totals(pass_span)["input_mb"]
        for job, js in jspans.items():
            out[f"jobs.{job}_s"] = tracer.wall(js)
        out["jobs.output_mb"] = sum(
            os.path.getsize(os.path.join(dp, f))
            for job in CRAWL_JOBS for dp, _, fs in os.walk(outs[job]) for f in fs
        ) / 1e6
        n_files = len(self.corpus["files"])
        out["sources.parse_passes"] = (
            reports.get("warc_to_documents", {}).get("files_processed", 0) / n_files
        )
        out.update(self._isolated(spark, tracer, outs["warc_to_documents"]))
        return out

    def _isolated(self, spark, tracer, docs_dir: str) -> dict[str, float]:
        """Layer timings from separate calls that never feed the measured
        pipeline: parse alone, text extraction over the parsed records,
        ids, LSH + clustering, the export writer and the table writer."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        from cc_pyspark_spark.functions.encoding import decode_payload  # noqa: PLC0415
        from cc_pyspark_spark.functions.html import html_backend  # noqa: PLC0415
        from cc_pyspark_spark.functions.text import tokenize  # noqa: PLC0415
        from cc_pyspark_spark.operators.dedup import (  # noqa: PLC0415
            canonical_survivors,
            minhash_lsh_pairs,
        )
        from cc_pyspark_spark.operators.export import export_training_jsonl  # noqa: PLC0415
        from cc_pyspark_spark.operators.ids import assign_sequential_ids  # noqa: PLC0415
        from cc_pyspark_spark.sources.warc import is_html, warc_records  # noqa: PLC0415

        out = {}
        with tracer.span("isolation"):
            with tracer.span("sources.parse") as sp:
                recs = warc_records(
                    spark, self.corpus["manifest"], num_input_partitions=int(self.parts)
                ).persist()
                n_recs = recs.count()
            charset = F.regexp_extract(
                F.coalesce(F.expr(
                    "filter(http_headers, h -> lower(h.name) = 'content-type')[0].value"
                ), F.lit("")), "charset=([^;\\s]+)", 1)
            with tracer.span("functions.text") as ft:
                text = (
                    recs.filter((F.col("record_type") == "response") & is_html())
                    .select(F.col("target_uri").alias("url"),
                            html_backend("regex")(decode_payload(F.col("payload"), charset))
                            .alias("text"))
                    .filter(F.size(tokenize("text")) >= 5)
                    .persist()
                )
                n_docs = text.count()
            with tracer.span("operators.ids") as oi:
                assign_sequential_ids(text, ["url", "text"], id_col="doc_id").write.format(
                    "noop").mode("overwrite").save()
            docs = spark.read.parquet(docs_dir).persist()
            docs.count()
            with tracer.span("operators.lsh") as ol:
                pairs = minhash_lsh_pairs(docs).persist()
                n_pairs = pairs.count()
            with tracer.span("operators.cluster") as oc:
                canonical_survivors(docs, pairs).write.format("noop").mode("overwrite").save()
            with tracer.span("operators.export") as oe:
                export_training_jsonl(docs, self.box.fresh("iso-export"),
                                      n_shards=int(self.parts))
            with tracer.span("jobs.write") as jw:
                docs.coalesce(int(self.parts)).sortWithinPartitions("doc_id").write.option(
                    "compression", "gzip").parquet(self.box.fresh("iso-write"))
            for df in (recs, text, docs, pairs):
                df.unpersist()
        out["sources.parse_s"] = tracer.wall(sp)
        out["sources.records_per_s"] = n_recs / tracer.wall(sp)
        out["sources.python_rss_mb"] = sp["python_rss_mb"]
        out["functions.text_s"] = tracer.wall(ft)
        out["functions.docs_per_s"] = n_docs / tracer.wall(ft)
        out["operators.ids_s"] = tracer.wall(oi)
        out["operators.dedup_s"] = tracer.wall(ol) + tracer.wall(oc)
        out["operators.dedup_jobs"] = ol["jobs"] + oc["jobs"]
        out["operators.lsh_pairs"] = n_pairs
        out["operators.export_s"] = tracer.wall(oe)
        out["jobs.write_s"] = tracer.wall(jw)
        return out


WORKLOADS = {
    "crawl_to_shards": CrawlWorkload,
    "query_mix": QueryWorkload,
}

