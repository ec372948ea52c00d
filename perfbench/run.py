"""Benchmark for the extract and select jobs.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 10 --trace 0

The workloads are described in perfbench/workloads.py.

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
is the separate traced run that splits the job across the program's layers
(perfbench/trace_run.py). The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics; the lines before it that start with
``#`` record the effective session and the raw samples.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("extract_full", "select_train", "extract_resume")
# warm reps still drift down for several reps after the cold one (JIT); a
# fixed minimum keeps every run's median at the same point of that drift
MIN_WARM_REPS = 3
CHILD_TIMEOUT_S = 150


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def note(tag: str, payload) -> None:
    print(f"# {tag} {json.dumps(payload, sort_keys=True)}", flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def child_setup(work: str, input_path: str) -> float:
    """One set-up sample in a fresh process (perfbench/setup_child.py)."""
    cmd = [sys.executable, os.path.join(harness.BENCH_DIR, "setup_child.py"),
           "--work", work, "--input", input_path]
    done = subprocess.run(
        cmd, capture_output=True, text=True, timeout=CHILD_TIMEOUT_S, check=False
    )
    if done.returncode != 0:
        sys.stderr.write(done.stderr[-4000:])
        raise RuntimeError(f"set-up child exited with {done.returncode}")
    return json.loads(done.stdout.strip().splitlines()[-1])["setup_s"]


def measure(args, work: str) -> dict:
    """Set-up is sampled in a child process and in this one; this one then
    runs the cold rep and the warm reps."""
    import workloads
    from inputs import make_inputs

    inp = make_inputs(args.seed, os.path.join(work, "in"), (args.workload,))
    wl = workloads.Workload(args.workload, inp, work)
    setups = [child_setup(work, wl.input_path)]
    spark, start_s = harness.start_session()
    _, open_s = harness.open_and_count(spark, wl.input_path)
    setups.append(start_s + open_s)
    note("session", {**harness.effective_session(spark), **inp.summary(),
                     "workload": args.workload})
    try:
        with harness.session_kept_alive(spark):
            reps = [workloads.run_rep(spark, wl, "cold")]
            t_warm = time.perf_counter()
            while (len(reps) <= MIN_WARM_REPS
                   or time.perf_counter() - t_warm < args.seconds):
                reps.append(workloads.run_rep(spark, wl, f"warm{len(reps)}"))
    finally:
        spark.stop()
    note("samples", {"setup_s": setups, "reps": reps,
                     "wall_s": time.perf_counter() - T0})

    ok = [r for r in reps if r["ok"]]
    warm = [r for r in ok if r["rep"] != "cold"]
    job_s = statistics.median(r["job_s"] for r in warm) if warm else 0.0
    committed = max((r["committed"] for r in warm), default=0)
    note("job_s", {"median_of_warm_reps": len(warm)})
    return {
        "correct": len(ok) == len(reps),
        "attempted": len(reps),
        "failed": len(reps) - len(ok),
        "metrics": {
            "setup_s": metric(statistics.median(setups), "s"),
            "cold_job_s": metric(reps[0]["job_s"], "s"),
            "job_s": metric(job_s, "s"),
            "docs_per_s": metric(committed / job_s if job_s else 0.0, "docs/s"),
            "ok_ops_frac": metric(len(ok) / len(reps), "frac"),
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not harness.program_present():
        sys.stderr.write(
            "perfbench: docling_rag_spark/ and jobs/ are not next to perfbench/; "
            "run from the root of a checkout\n"
        )
        return 2
    work = os.path.join(harness.BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    try:
        harness.prepare_env(work)
        if args.trace:
            import trace_run

            result = trace_run.run(args, work)
        else:
            result = measure(args, work)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
