"""The traced run: splits the job time across the program's layers.

It runs in its own process (``run.py --trace 1``), never in a run that
measures the end-to-end metrics. Every layer is timed from outside, by
wrapping calls into its public functions; no program code or default is
changed. Steps, all over the seed's inputs:

1. set-up, timed as ``session.start_s`` and ``session.input_open_s``, and
   the workload's cold rep and two warm reps, untraced;
2. the kernels single-process on a seeded doc sample (``kernels.*``);
3. a fresh context of the same JVM with ``spark.eventLog.enabled=true`` /
   ``compress=false`` (the only conf the benchmark adds), and in it the
   same three reps of the workload and a warm rep of each other workload
   BENCHMARK.json lists (so every sink table is written), with spans round
   the jobs' calls into ``pipeline``, ``operators.training_set`` and
   ``sources.sinks``;
4. each layer's public function alone, into the noop sink;
5. the three reps of 1 again, untraced, in a third context.

``trace.overhead_frac`` is the median, over the two warm reps, of the traced
rep's time over the mean of the two untraced reps at the same position in
their contexts, minus one. The untraced contexts run before and after the
traced one, so the JVM's own warm-up (JIT) favours neither side much; the
samples are printed on the ``# overhead`` line.

Every Spark job started inside a span carries ``<tag>|<span name>`` as its
job description, which is how the event log's task metrics are tied back to
spans. Spans are kept in memory and printed as one ``# spans`` line at the
end.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import random
import statistics
import time
from collections import defaultdict

import harness
import workloads
from inputs import make_inputs

LISTED = ("extract_full", "select_train")  # the workloads BENCHMARK.json lists
KERNEL_SAMPLE_DOCS = 200
KERNEL_PASSES = 3
SINK_TABLES = ("extracted_spans", "chunks", "doc_metadata", "lineage",
               "selected_chunks", "selection_lineage")
# public layer functions the jobs call; wrapped for the traced reps
LAYER_FUNCTIONS = (
    ("docling_rag_spark.pipeline", "resume_filter"),
    ("docling_rag_spark.pipeline", "run_extraction"),
    ("docling_rag_spark.pipeline", "doc_metadata"),
    ("docling_rag_spark.operators.training_set", "select_training_chunks"),
)
PY_START = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """In-memory spans (name, start, end, parent) plus Spark job labels."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, tag: str | None = None):
        parent = self._stack[-1] if self._stack else None
        tag = tag or parent["tag"]
        rec = {"id": len(self.spans), "name": name, "tag": tag,
               "parent": parent["id"] if parent else None, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(f"{tag}|{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{parent['tag']}|{parent['name']}" if parent else None
            )

    def top(self, tag: str) -> dict:
        return next(s for s in self.spans if s["tag"] == tag and s["parent"] is None)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


@contextlib.contextmanager
def layer_spans(tracer: Tracer, spark):
    """Wrap the layers' public functions (and the checkpoint action
    select_job runs) in spans for the duration of the block."""
    dataframe = type(spark.range(0))

    def wrap(fn, name_of):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with tracer.span(name_of(a, kw)):
                return fn(*a, **kw)

        return inner

    def sink_name(a, kw):
        path = a[2] if len(a) > 2 else kw["path"]
        return "sources.sinks.append:" + os.path.basename(os.path.normpath(path))

    sinks = importlib.import_module("docling_rag_spark.sources.sinks")
    targets = [(sinks, "idempotent_append", sink_name),
               (dataframe, "localCheckpoint", lambda a, kw: "jobs.checkpoint")]
    for mod, attr in LAYER_FUNCTIONS:
        m = importlib.import_module(mod)
        layer = mod.removeprefix("docling_rag_spark.")
        targets.append((m, attr, lambda a, kw, n=f"{layer}.{attr}": n))
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    for obj, attr, name_of in targets:
        setattr(obj, attr, wrap(getattr(obj, attr), name_of))
    try:
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


def kernel_metrics(inp, seed: int) -> dict:
    """Single-process kernel cost on a seeded doc sample (best of passes)."""
    from docling_rag_spark.kernels.chunker import chunk_document
    from docling_rag_spark.kernels.extract import extract_document_oracle, extract_span

    def best(fn) -> float:
        times = []
        for _ in range(KERNEL_PASSES):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return min(times)

    sample = random.Random(seed).sample(inp.doc_ids, min(KERNEL_SAMPLE_DOCS, len(inp.doc_ids)))
    spans = [s for d in sample for s in inp.raw[d]]
    out = {}
    for kind in ("html", "pdf", "text"):
        group = [s for s in spans if s["kind"] == kind]
        t = best(lambda g=group: [extract_span(s["kind"], s["text"], s["media_ref"]) for s in g])
        out[f"kernels.extract_span_us.{kind}"] = (1e6 * t / len(group), "us")
    docs = [extract_document_oracle(inp.raw[d]) for d in sample]
    t = best(lambda: [chunk_document(x) for x in docs])
    out["kernels.chunk_document_us"] = (1e6 * t / len(docs), "us")
    out["kernels.blocks_per_doc"] = (statistics.mean(len(x) for x in docs), "count")
    return out


def read_event_log(log_dir: str) -> dict:
    """Reduce the event log to per-description totals over tasks and jobs."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    job_desc, stage_job = {}, {}
    per = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                    job_desc[e["Job ID"]] = desc
                    per[desc]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in e:
                    desc = job_desc.get(stage_job.get(e["Stage ID"]), "")
                    m, acc = e["Task Metrics"], per[desc]
                    info = e["Task Info"]
                    acc["task_ms"] += info["Finish Time"] - info["Launch Time"]
                    acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    acc["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in (PY_START, PY_RUN, PY_SENT, PY_RETURNED):
                            acc[a["Name"]] += float(a.get("Update") or 0)
    return per


def _sum(per: dict, prefix: str, key: str) -> float:
    return sum(v[key] for d, v in per.items() if d.startswith(prefix))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def probes(spark, inp, full_out: str) -> dict:
    """Each layer's public function alone over the seed's inputs."""
    from docling_rag_spark.operators.dedup import lsh_bucket_dups, shingle_rows_from
    from docling_rag_spark.operators.training_set import select_training_chunks
    from docling_rag_spark.pipeline import (
        chunk_spans,
        doc_metadata,
        extract_documents_narrow,
        resume_filter,
    )
    from docling_rag_spark.sources.corpus import read_corpus

    def corpus():
        return read_corpus(spark, inp.corpus_dir)

    def extracted():
        return spark.read.parquet(os.path.join(full_out, "extracted_spans"))

    def chunks_in():
        return spark.read.parquet(inp.chunks_dir)

    return {
        "sources.corpus.scan": corpus,
        "pipeline.extract_documents_narrow": lambda: extract_documents_narrow(corpus()),
        "pipeline.chunk_spans": lambda: chunk_spans(extracted()),
        "pipeline.doc_metadata": lambda: doc_metadata(
            corpus(), extracted(), spark.read.parquet(os.path.join(full_out, "chunks"))),
        # every doc is already in this lineage: the anti-join drops them all
        "pipeline.resume_filter": lambda: resume_filter(
            corpus(), spark.read.parquet(os.path.join(full_out, "lineage"))),
        "operators.dedup.lsh_bucket_dups": lambda: lsh_bucket_dups(
            shingle_rows_from(chunks_in(), "id"), "id"),
        "operators.training_set.select_training_chunks": lambda: select_training_chunks(
            chunks_in()),
    }


def run(args, work: str) -> dict:
    names = (args.workload, *(n for n in LISTED if n != args.workload))
    inp = make_inputs(args.seed, os.path.join(work, "in"), names)
    wls = {n: workloads.Workload(n, inp, os.path.join(work, n)) for n in names}
    wl = wls[args.workload]

    def sequence(spark, around=lambda _tag: None, keep=False) -> list[dict]:
        """The workload's cold rep and two warm reps; ``keep`` leaves warm1's
        output on disk."""
        return [workloads.run_rep(spark, wl, rep, around(tag), keep and rep == "warm1")
                for rep, tag in (("cold", "cold"), ("warm1", wl.name), ("warm2", "again"))]

    def untraced(spark) -> list[dict]:
        try:
            with harness.session_kept_alive(spark):
                return sequence(spark)
        finally:
            spark.stop()

    spark, start_s = harness.start_session()
    _, open_s = harness.open_and_count(spark, wl.input_path)
    session = harness.effective_session(spark)
    before = untraced(spark)
    metrics = kernel_metrics(inp, args.seed)

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, _ = harness.start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    })
    tracer = Tracer(spark.sparkContext)

    def traced(tag):
        return lambda module: tracer.span(f"jobs.{module}", tag=tag)

    try:
        with harness.session_kept_alive(spark), layer_spans(tracer, spark):
            reps = sequence(spark, traced, keep=wl.name == "extract_full")
            for name in names[1:]:
                reps.append(workloads.run_rep(
                    spark, wls[name], "warm1", traced(name),
                    keep=name == "extract_full"))
        full_out = wls["extract_full"].output_dir("warm1")
        for name, build in probes(spark, inp, full_out).items():
            workloads.between_reps(spark)
            with tracer.span(name, tag="probe"):
                build().write.format("noop").mode("overwrite").save()
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        spark.stop()  # also closes the event log

    # the builder keeps the options of the last session it built
    after = untraced(harness.start_session({"spark.eventLog.enabled": "false"})[0])
    warm = (1, 2)
    samples = {k: [r[i]["job_s"] for i in warm]
               for k, r in (("before_s", before), ("traced_s", reps), ("after_s", after))}
    print("# overhead " + json.dumps(samples), flush=True)
    overhead = statistics.median(
        t / ((b + a) / 2) - 1
        for t, b, a in zip(samples["traced_s"], samples["before_s"], samples["after_s"]))
    gc_s = reps[1]["jvm_gc_s"]
    reps = before + reps + after

    per = read_event_log(log_dir)
    top = tracer.top(wl.name)
    wall = _dur(top)
    covered = sum(_dur(s) for s in tracer.children(top))
    probe = {s["name"]: s for s in tracer.spans if s["tag"] == "probe"}

    def appends(tag: str) -> dict:
        return {s["name"].split(":", 1)[1]: _dur(s) for s in tracer.spans
                if s["tag"] == tag and s["name"].startswith("sources.sinks.append:")}

    sink_s = {}
    for tag in reversed(names):  # the workload's own appends win
        sink_s.update(appends(tag))
    mine, scan = f"{wl.name}|", "probe|pipeline.extract_documents_narrow"
    sel = "operators.training_set.select_training_chunks"
    metrics.update({
        "session.start_s": (start_s, "s"),
        "session.input_open_s": (open_s, "s"),
        "session.slot_busy_frac": (_sum(per, mine, "task_ms") / 1e3 / (wall * session["slots"]), "frac"),
        "session.jvm_gc_s": (gc_s, "s"),
        "session.jvm_peak_rss_mb": (rss_mb, "MB"),
        "session.python_worker_start_s": (_sum(per, "cold|", PY_START) / 1e3, "s"),
        "jobs.spark_jobs": (_sum(per, mine, "jobs"), "count"),
        "sources.corpus.scan_s": (_dur(probe["sources.corpus.scan"]), "s"),
        "sources.corpus.input_mb": (inp.input_bytes / 1e6, "MB"),
        "pipeline.extract_documents_narrow_s": (_dur(probe["pipeline.extract_documents_narrow"]), "s"),
        "pipeline.python_run_s": (_sum(per, scan, PY_RUN) / 1e3, "s"),
        "pipeline.python_sent_mb": (_sum(per, scan, PY_SENT) / 1e6, "MB"),
        "pipeline.python_returned_mb": (_sum(per, scan, PY_RETURNED) / 1e6, "MB"),
        "pipeline.chunk_spans_s": (_dur(probe["pipeline.chunk_spans"]), "s"),
        "pipeline.doc_metadata_s": (_dur(probe["pipeline.doc_metadata"]), "s"),
        "pipeline.resume_filter_s": (_dur(probe["pipeline.resume_filter"]), "s"),
        **{f"sources.sinks.append_s.{t}": (sink_s[t], "s") for t in SINK_TABLES},
        "sources.sinks.written_mb": (_sum(per, mine, "output_bytes") / 1e6, "MB"),
        "operators.dedup.lsh_bucket_dups_s": (_dur(probe["operators.dedup.lsh_bucket_dups"]), "s"),
        f"{sel}_s": (_dur(probe[sel]), "s"),
        "operators.training_set.shuffle_write_mb": (
            _sum(per, f"probe|{sel}", "shuffle_write_bytes") / 1e6, "MB"),
        "operators.training_set.spill_mb": (_sum(per, f"probe|{sel}", "spill_bytes") / 1e6, "MB"),
        "trace.coverage_frac": (covered / wall, "frac"),
        "trace.uncovered_s": (wall - covered, "s"),
        "trace.overhead_frac": (overhead, "frac"),
    })
    print("# spans " + json.dumps(tracer.spans), flush=True)
    print("# session " + json.dumps({**session, **inp.summary(), "workload": wl.name,
                                     "reps": reps}, sort_keys=True), flush=True)
    ok = [r for r in reps if r["ok"]]
    return {
        "correct": len(ok) == len(reps),
        "attempted": len(reps),
        "failed": len(reps) - len(ok),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
