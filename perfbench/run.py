"""CDC ingest benchmark: one command, closed-loop workloads on
``local[$(nproc)]`` from a single Spark application.

    python3 perfbench/run.py --workload steady_upsert --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1    # every workload, one process each

Workloads: steady_upsert, mor_read_mix and corpus_udf (the ones
``BENCHMARK.json`` gates) and bulk_load. Run from the root of a checkout.
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate
run with spans around every layer call that reports the per-layer metrics
(and the tracing overhead, when an untraced result of the same workload and
seed exists). Metric names and units come from ``BENCHMARK.json``. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the lines above it print every metric by name with its unit,
plus the run's tags (host calibration, CPU steal, nproc, Spark version,
git SHA and a digest of the sources). Everything the run writes stays under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(ROOT, ".bench_work")
#: used only to confirm a claim made on other seeds, never while tuning
HELD_OUT_SEED = 20261017


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_sha() -> str:
    """HEAD's SHA when the checkout is a git repository, else ''."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    return ""


def _source_digest() -> str:
    """Digest of the package's and the benchmark's sources as they are on
    disk, uncommitted edits included: the revision that storage counters
    and final states are compared within."""
    h = hashlib.sha1()
    for top in ("opendataloader_pdf_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def _start_spark(work: str):
    from opendataloader_pdf_spark.session import get_spark

    n = _nproc()
    tmp = os.path.join(work, "tmp")
    # the package's own memory settings; only the paths are redirected
    # into the run's work directory
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the tracer reads stages and SQL executions back from the
            # status store: keep all of them
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap_children()


def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(p))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _reap_children() -> None:
    import signal

    deadline = time.time() + 30
    while True:
        kids = _children(os.getpid())
        if not kids:
            return
        for k in kids:
            try:
                os.waitpid(k, os.WNOHANG)
            except ChildProcessError:
                pass
            if time.time() > deadline:
                os.kill(k, signal.SIGKILL)
        time.sleep(0.2)


def _install_tracer(spark, run_id: str):
    from opendataloader_pdf_spark.cdc import engine as E
    from opendataloader_pdf_spark.cdc import mor as M
    from opendataloader_pdf_spark.cdc import storage as S
    from perfbench.tracing import Tracer

    tr = Tracer(spark, run_id)

    def batch_id(*a, **kw):
        return {"batch_id": kw.get("batch_id", a[2] if len(a) > 2 else None)}

    def lookup_name(sink, *a, **kw):
        return "mor.lookup" if isinstance(sink, M.MergeOnReadSink) else "storage.lookup"

    tr.wrap(E.ReplayEngine, "replay", "engine.replay")
    tr.wrap(E, "reduce_batch", "events.reduce_batch")
    tr.wrap(S.ParquetMergeSink, "merge", "storage.merge", attrs=batch_id)
    tr.wrap(M.MergeOnReadSink, "merge", "mor.merge", attrs=batch_id)
    tr.wrap(S.ParquetMergeSink, "read", "storage.read")
    tr.wrap(M.MergeOnReadSink, "read", "mor.read")
    tr.wrap(S.ParquetMergeSink, "lookup", lookup_name)
    tr.wrap(M.MergeOnReadSink, "compact", "mor.compact")
    tr.count(S.ParquetMergeSink, "manifest", "manifest")
    return tr


def _finite(x) -> float:
    x = float(x)
    return x if math.isfinite(x) else 0.0


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from bench import host_calibration  # the repository's md5 probe

    from perfbench import workloads as W
    from perfbench.measure import HostSampler

    if workload not in W.WORKLOADS:
        print(f"unknown workload {workload!r}", file=sys.stderr)
        return 2
    run_id = f"{workload}-{seed}-{'traced' if trace else 'plain'}-{os.getpid()}"
    work = os.path.join(BASE, run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    calib = host_calibration()

    src = _source_digest()
    with HostSampler() as host:
        t = time.time()
        spark = _start_spark(work)
        session = time.time() - t
        import pyspark

        tags = {"host.calib_s": calib, "nproc": _nproc(),
                "spark": pyspark.__version__, "git": _git_sha(), "src": src,
                "workload": workload, "seed": seed,
                "held_out_seed": seed == HELD_OUT_SEED, "seconds": seconds,
                "trace": int(trace)}
        tracer = _install_tracer(spark, run_id) if trace else None
        run = W.Run(spark, work, workload, seed, seconds, src, tracer)
        try:
            W.WORKLOADS[workload](run)
        except W.OpFailed:
            pass
        except Exception:  # noqa: BLE001 — a broken check is a failed run
            run.attempted += 1
            run.failed += 1
            run.errors.append(traceback.format_exc())
        if tracer is not None:
            tracer.unwrap()
        _stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    tags["host.steal_share"] = round(host.steal_share, 4)

    parts = {"session": session, **run.setup}
    setup_s = sum(parts.values())
    e2e = {**run.e2e, "setup_s": setup_s, "peak_rss_mb": host.peak_mib}
    layer = {**run.layer,
             "session.start_s": session,
             "datagen.gen_s": parts.get("datagen", 0.0),
             "engine.bootstrap_s": parts.get("bootstrap", 0.0),
             "host.calib_s": calib,
             "trace.self_s": tracer.self_s if tracer else 0.0}
    ok = run.failed == 0 and all(
        m["name"] in e2e and math.isfinite(e2e[m["name"]]) and e2e[m["name"]] > 0
        for m in spec["end_to_end"])

    # ---- human-readable report: every metric by name with its unit
    out = sys.stdout
    for e in run.errors:
        print("FAILED", e, file=sys.stderr)
    print(f"# {json.dumps(tags)}", file=out)
    print(f"setup_s = {setup_s:.4f} s ("
          + " + ".join(f"{k} {v:.3f}" for k, v in parts.items()) + ")", file=out)
    for name, (v, unit) in run.report.items():
        print(f"{name} = {v:.6g} {unit}", file=out)
    print(f"peak_rss_mb = {host.peak_mib:.1f} MiB ("
          + ", ".join(f"{k} {v / 1024:.0f}" for k, v in host.peak_parts.items()) + ")",
          file=out)
    fail_ratio = run.failed / max(run.attempted, 1)
    print(f"fail_ratio = {fail_ratio:.4g} ratio ({run.failed}/{run.attempted})", file=out)
    for k, v in sorted(layer.items()):
        print(f"  layer {k} = {v:.6g}", file=out)

    os.makedirs(os.path.join(BASE, "results"), exist_ok=True)
    stem = os.path.join(BASE, "results", f"{workload}-{seed}-trace{int(trace)}")
    record = {"tags": tags, "e2e": e2e, "report": run.report, "layer": layer,
              "counters": run.counters, "series": run.series,
              "peak_parts_kib": host.peak_parts,
              "setup": parts,
              "attempted": run.attempted,
              "failed": run.failed}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(stem + ".trace.json", {"batches": run.batches, "tags": tags})
        plain = os.path.join(BASE, "results", f"{workload}-{seed}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base_e2e = json.load(f)["e2e"]
            for k, v in e2e.items():
                if k in base_e2e:
                    print(f"trace overhead {k} = {v - base_e2e[k]:+.6g}"
                          f" ({v:.6g} traced vs {base_e2e[k]:.6g} untraced)", file=out)

    metrics_spec = spec["per_layer"] if trace else spec["end_to_end"]
    src = layer if trace else e2e
    metrics = {m["name"]: {"value": _finite(src.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in metrics_spec}
    print(json.dumps({"correct": ok, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}), file=out)
    out.flush()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    pkg = os.path.join(ROOT, "opendataloader_pdf_spark", "__init__.py")
    if not (os.path.isfile(pkg) and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"no opendataloader_pdf_spark package and bench.py under {ROOT}:"
              " run from the root of a full checkout", file=sys.stderr)
        return 2
    # Spark's Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    if a.workload == "all":
        from perfbench.workloads import WORKLOADS

        rc = 0
        for w in WORKLOADS:
            rc |= subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)]).returncode
        return rc
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
