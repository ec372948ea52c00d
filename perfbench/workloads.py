"""The benchmark's workloads: what one rep runs, where it writes, how its
output is checked.

Workloads:
  extract_full    jobs/extract_job.py into an empty output
  select_train    jobs/select_job.py over the chunks table of the corpus
  extract_resume  jobs/extract_job.py --resume over a prior output holding
                  90% of the docs; the cold rep is the plain extract run that
                  writes that prior output, and every warm rep starts from a
                  copy of it (copied in, untimed)

BENCHMARK.json lists the first two, which are the ones its runs measure: a
third workload would not fit the time the whole set of runs is allowed.
extract_resume runs by hand with the same command.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import sys
import time
import traceback

import checks
import harness


class Workload:
    def __init__(self, name: str, inp, work: str):
        self.name, self.inp, self.work = name, inp, work
        self.prior_dir = os.path.join(work, "prior_output")
        self.digests: set[str] = set()

    @property
    def input_path(self) -> str:
        return self.inp.chunks_dir if self.name == "select_train" else self.inp.corpus_dir

    def writes_prior(self, rep: str) -> bool:
        return self.name == "extract_resume" and rep == "cold"

    def output_dir(self, rep: str) -> str:
        if self.writes_prior(rep):
            return self.prior_dir
        return os.path.join(self.work, f"out-{rep}")

    def job(self, rep: str, out: str) -> tuple[str, list[str]]:
        """Prepare ``out`` (untimed) and return the job module and argv."""
        shutil.rmtree(out, ignore_errors=True)
        if self.name == "select_train":
            return "select_job", ["--input", self.input_path, "--output", out,
                                  "--run-id", rep]
        if self.writes_prior(rep):
            return "extract_job", ["--input", self.inp.prior_input_dir,
                                   "--output", out, "--run-id", rep]
        argv = ["--input", self.input_path, "--output", out, "--run-id", rep]
        if self.name == "extract_resume":
            shutil.copytree(self.prior_dir, out)
            argv.append("--resume")
        return "extract_job", argv

    def check(self, rep: str, out: str) -> tuple[int, dict]:
        """Check the rep's output; return the docs it committed and the
        output tables' row counts (and the selection digest)."""
        if self.name == "select_train":
            committed, outputs = checks.check_select(out, self.inp, rep)
            self.digests.add(outputs["digest"])
            if len(self.digests) != 1:
                raise checks.CheckFailed("select_train: digest changed between reps")
            return committed, outputs
        docs = set(self.inp.doc_ids)
        new = set(self.inp.new_docs) if self.name == "extract_resume" else docs
        if self.writes_prior(rep):
            docs = new = docs - new
        return checks.check_extract(out, self.inp, rep, docs, new)


def between_reps(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_rep(spark, wl: Workload, rep: str, around=None, keep: bool = False) -> dict:
    """Run, time and check one rep; a failure is recorded, not raised.

    ``around(module)`` returns a context manager wrapped round the job call
    (the traced run's span); ``keep`` leaves the output on disk."""
    out = wl.output_dir(rep)
    module, argv = wl.job(rep, out)
    between_reps(spark)
    result = {"rep": rep, "ok": False, "committed": 0}
    gc0 = harness.jvm_gc_ms(spark)
    t0 = time.perf_counter()
    try:
        with (around or (lambda _m: contextlib.nullcontext()))(module):
            harness.run_job(module, argv)
        result["job_s"] = time.perf_counter() - t0
        result["jvm_gc_s"] = (harness.jvm_gc_ms(spark) - gc0) / 1e3
        result["committed"], result["outputs"] = wl.check(rep, out)
        result["ok"] = True
    except Exception:  # a failed rep is counted, and the run goes on
        result.setdefault("job_s", time.perf_counter() - t0)
        traceback.print_exc(file=sys.stderr)
    if not (keep or wl.writes_prior(rep)):
        shutil.rmtree(out, ignore_errors=True)
    return result
