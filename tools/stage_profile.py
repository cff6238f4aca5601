"""Per-stage scaling profile of the fast KG pipeline.

Runs the full pipeline (checkpoint='final') once per parallelism level with
the Spark event log enabled, then parses the log into a per-stage table:
wall-clock, summed task run time, GC time, shuffle read/write bytes, input
bytes.  Comparing the per-stage walls between local[N] and local[4N] shows
exactly WHICH stages fail to speed up — scheduling gaps (wall >> task
time / cores), GC pressure, or bandwidth-bound shuffles — instead of
guessing from end-to-end numbers on a noisy box.

Usage:
    PYTHONPATH=. python tools/stage_profile.py --docs 1000000 --levels 1,4
    PYTHONPATH=. python tools/stage_profile.py --docs-path /tmp/x.parquet --levels 4
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker(cpus: int, docs_path: str, log_dir: str) -> None:
    import time

    from imgfact_spark import synth
    from imgfact_spark.io import TableStore
    from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline
    from imgfact_spark.session import get_spark

    spark = get_spark(
        app_name=f"profile_{cpus}",
        cpus=cpus,
        shuffle_partitions=3 * cpus,  # match scaling_bench task granularity
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
            "spark.sql.files.minPartitionNum": str(3 * cpus),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
        },
    )
    docs = spark.read.parquet(docs_path)
    kb = synth.kb_df(spark)
    ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    r2d = synth.rel2desc_df(spark)
    store = TableStore(tempfile.mkdtemp(prefix=f"prof_{cpus}_"))
    t0 = time.time()
    res = run_pipeline(
        spark, docs, r2d, ents, store,
        PipelineConfig(min_evidence=1, checkpoint="final"),
        input_fingerprint=f"profile:{docs_path}",
        materialize_input=False,
    )
    n = res.kg_triples.count()
    dt = time.time() - t0
    print(json.dumps({"cpus": cpus, "secs": round(dt, 3), "kg_triples": n}))
    spark.stop()


def parse_log(log_dir: str) -> list[dict]:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    ]
    path = max(files, key=os.path.getmtime)
    if os.path.isdir(path):  # Spark 4 rolling event log: a directory of parts
        parts = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("events")
        )
    else:
        parts = [path]
    stages: dict[int, dict] = {}

    def _lines(p):
        if p.endswith(".zstd"):
            out = subprocess.run(["zstd", "-dc", p], capture_output=True, check=True)
            return out.stdout.decode().splitlines()
        with open(p) as fh:
            return fh.readlines()

    for part in parts:
        for line in _lines(part):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(sid, {
                    "task_ms": 0, "gc_ms": 0, "sh_read_mb": 0.0,
                    "sh_write_mb": 0.0, "input_mb": 0.0, "n_tasks": 0,
                    "deser_ms": 0, "result_ms": 0,
                })
                st["name"] = si.get("Stage Name", "")
                sub, comp = si.get("Submission Time"), si.get("Completion Time")
                st["wall_s"] = round((comp - sub) / 1000.0, 2) if sub and comp else None
                st["submit"] = sub
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(sid, {
                    "task_ms": 0, "gc_ms": 0, "sh_read_mb": 0.0,
                    "sh_write_mb": 0.0, "input_mb": 0.0, "n_tasks": 0,
                    "deser_ms": 0, "result_ms": 0,
                })
                st["n_tasks"] += 1
                st["task_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["deser_ms"] += m.get("Executor Deserialize Time", 0)
                st["result_ms"] += m.get("Result Serialization Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                st["sh_read_mb"] += (
                    srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
                ) / 1e6
                swm = m.get("Shuffle Write Metrics") or {}
                st["sh_write_mb"] += swm.get("Shuffle Bytes Written", 0) / 1e6
                im = m.get("Input Metrics") or {}
                st["input_mb"] += im.get("Bytes Read", 0) / 1e6
    out = []
    for sid in sorted(stages):
        st = stages[sid]
        st["stage_id"] = sid
        st["task_s"] = round(st.pop("task_ms") / 1000.0, 2)
        st["gc_s"] = round(st.pop("gc_ms") / 1000.0, 2)
        st["deser_s"] = round(st.pop("deser_ms") / 1000.0, 2)
        st["result_s"] = round(st.pop("result_ms") / 1000.0, 2)
        for k in ("sh_read_mb", "sh_write_mb", "input_mb"):
            st[k] = round(st[k], 1)
        out.append(st)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--docs", type=int, default=1000000)
    ap.add_argument("--docs-path", type=str, default=None)
    ap.add_argument("--levels", type=str, default="1,4")
    ap.add_argument("rest", nargs="*")
    args = ap.parse_args()

    if args.worker:
        worker(int(args.rest[0]), args.rest[1], args.rest[2])
        return

    docs_path = args.docs_path
    if docs_path is None:
        from imgfact_spark import synth
        from imgfact_spark.session import get_spark

        tmp = tempfile.mkdtemp(prefix="profile_input_")
        docs_path = os.path.join(tmp, "documents.parquet")
        spark = get_spark(app_name="profile_synth", cpus=16,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        synth.synth_documents(spark, args.docs, partitions=8).write.mode(
            "overwrite").parquet(docs_path)
        spark.stop()
        print(f"input: {docs_path}", file=sys.stderr)

    for lvl in [int(x) for x in args.levels.split(",")]:
        log_dir = tempfile.mkdtemp(prefix=f"evlog_{lvl}_")
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(lvl), docs_path, log_dir],
            capture_output=True, text=True, cwd=REPO,
            env={**os.environ, "PYTHONPATH": REPO,
                 "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                 "MKL_NUM_THREADS": "1"},
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        print(f"=== local[{lvl}] {line[-1] if line else out.stderr[-2000:]}")
        stages = parse_log(log_dir)
        total_wall = sum(s.get("wall_s") or 0 for s in stages)
        total_task = sum(s["task_s"] for s in stages)
        total_gc = sum(s["gc_s"] for s in stages)
        print(f"  stage-wall sum {total_wall:.1f}s  task-time sum {total_task:.1f}s"
              f"  gc {total_gc:.1f}s")
        for s in stages:
            if (s.get("wall_s") or 0) < 0.3:
                continue
            name = (s.get("name") or "")[:60]
            print(f"  [{s['stage_id']:>3}] wall {s.get('wall_s'):>7}s task {s['task_s']:>8}s "
                  f"gc {s['gc_s']:>6}s tasks {s['n_tasks']:>3} "
                  f"in {s['input_mb']:>7}MB shR {s['sh_read_mb']:>7}MB "
                  f"shW {s['sh_write_mb']:>7}MB  {name}")


if __name__ == "__main__":
    main()
