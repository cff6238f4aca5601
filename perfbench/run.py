"""KG-construction benchmark: one workload, one seed, one result line.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload batch_fused --seed 7 --seconds 10 --trace 0

Workloads (sizes and configs in ``workloads.WORKLOADS``):

* ``batch_fused`` — ``run_pipeline(checkpoint="final")`` in the production
  config: repeated builds into empty stores, then one resume;
* ``incremental`` — a closed loop of landing micro-batches through
  ``streaming.incremental_extract`` and ``incremental_kg_tables``, each
  batch's KG tables committed before the next batch lands.

Inputs come from ``synth`` with the given seed and are cached under
``.perfbench_cache/`` with their expected KG tables (``oracle``); generation
and the reference run in a separate process, outside every metric.  Every
output of every unit is compared with the reference; a mismatch or an
exception counts as a failed unit.

``--trace 0`` prints the end-to-end metrics, measured with tracing off.
Work is counted in CPU seconds of the Spark JVM and its Python workers,
which the hypervisor's steal time does not inflate (wall times of the same
build swing by a third with the host's load).  The detail line keeps the
wall times, the steal seen during the run and the peak summed PSS of the
JVM and its workers (RSS with pages shared between forked workers counted
once), which moves with garbage-collector timing by up to a quarter
between runs and so is reported, not gated:

* ``kg_docs_per_cpu_s`` documents committed into the KG tables per CPU
  second (batch: corpus size over the median build; incremental: docs
  landed over the summed landing-to-commit CPU of the sampled batches);
* ``resume_cpu_s``   CPU seconds of recovering lost outputs: the
  ``kg_groundings`` sink of a finished build (batch_fused), both KG tables
  of a finished stream whose logs survive (incremental);
* ``setup_s``        median CPU seconds of the cold set-ups (JVM and
  session start, opening the cached inputs): this process's own, then
  ``SETUP_PROBES`` child processes run one at a time after the measurement.
  One probe keeps a run inside the time budget; the median of two is their
  mean.  The set-up's wall time is in the detail line.

``--trace 1`` prints the per-layer metrics of one traced pass (see
``workloads.traced``).  A line of detail (sample counts, per-unit times)
precedes the result, which is always the last line of standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# pinned before numpy loads; the JVM's Python workers inherit them
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

SETUP_PROBES = 1


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="override the corpus size")
    ap.add_argument("--role", choices=("run", "prepare", "probe"), default="run",
                    help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _spawn(args, role: str) -> subprocess.Popen:
    cmd = [sys.executable, os.path.abspath(__file__), "--role", role,
           "--workload", args.workload, "--seed", str(args.seed)]
    if args.docs:
        cmd += ["--docs", str(args.docs)]
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)


def _result(proc: subprocess.Popen) -> str:
    """Last stdout line of a finished child; a failed child is an error."""
    out, _ = proc.communicate(timeout=600)
    if proc.returncode:
        raise RuntimeError(f"{proc.args[3]} child exited with {proc.returncode}")
    return out.strip().splitlines()[-1] if out.strip() else ""


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "imgfact_spark")):
        print("perfbench: no imgfact_spark/ beside perfbench/ - run it from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import inputs, trace
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = wl.WORKLOADS[args.workload]
    if args.docs:
        workload = wl.scaled(workload, args.docs)
    cpus = len(os.sched_getaffinity(0))
    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.role}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    corpus = inputs.corpus_for(cache, workload, args.seed)
    ctx = wl.Ctx(workload, corpus, work)
    try:
        if args.role == "prepare":
            ctx.spark = wl.spark_session(work, cpus)
            inputs.prepare(ctx.spark, corpus)
            return 0
        if args.role == "probe":
            ctx.spark = wl.spark_session(work, cpus)
            wl.open_inputs(ctx)
            print(json.dumps({"setup_s": trace.tree_cpu_seconds()}))
            return 0

        if not corpus.ready():
            t0 = time.time()
            _result(_spawn(args, "prepare"))
            _log(f"prepared {corpus.root} in {time.time() - t0:.1f}s")
        ctx.want = corpus.expected()
        steal0 = trace.steal_seconds()
        with trace.RssSampler() as rss:
            t0 = time.time()
            ctx.spark = wl.spark_session(work, cpus)
            wl.open_inputs(ctx)
            session_wall = time.time() - t0
            setup = [trace.tree_cpu_seconds()]
            if args.trace:
                metrics = wl.traced(ctx, cpus)
                metrics["session.start_s"] = (session_wall, "s")
            else:
                samples = wl.timed(ctx, args.seconds)
        ctx.spark.stop()
        ctx.spark = None
        trace.stop_descendants()
        _log("measured")
        if not args.trace:
            # one at a time: a probe must not contend with anything
            for _ in range(SETUP_PROBES):
                setup.append(json.loads(_result(_spawn(args, "probe")))["setup_s"])
            metrics = wl.end_to_end(ctx, samples, setup)
            print(json.dumps({"samples": samples, "setup_cpu": setup,
                              "setup_wall": session_wall, "peak_mb": rss.peak_mb,
                              "steal_s": trace.steal_seconds() - steal0}))
        print(json.dumps({
            "correct": ctx.tally.failed == 0,
            "attempted": ctx.tally.attempted,
            "failed": ctx.tally.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        trace.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
