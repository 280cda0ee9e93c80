"""Closed-loop benchmark of the inverted-index engine.

    python3 perfbench/run.py --workload bm25_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. One client replays the workload's seeded
op list on Spark local[CORES] for ``--seconds``, checks every answer
against the oracle, prints each metric with its unit, and ends with one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; ``--trace 1`` turns
on spans, job groups and the Spark UI REST API and reports the
per-layer ones instead. Inputs and expected answers are cached under
``.perfbench-cache/``; stores and Spark scratch live in
``.perfbench-work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import numpy as np

import probe

ROOT = Path(__file__).resolve().parents[1]
CORES = 3  # local[nproc-1] on the 4-core reference host: see README.md
SHUFFLE_PARTITIONS = 8  # fixed, independent of CORES


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    """Every steadiness setting, recorded in each result."""
    return {
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.default.parallelism": str(SHUFFLE_PARTITIONS),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms1g -XX:-UsePerfData",
    }


def codec_rates(store) -> dict[str, float]:
    """Decode and encode throughput, in-process, over one segment's
    encoded rows read once from the store (a fixed sample per seed)."""
    import pandas as pd

    from inverted_index_spark.functions.codec import decode_rows_concat, encode_postings

    seg = store.live_segments().sort_values("segment_id")["segment_id"].iloc[0]
    rows = pd.read_parquet(os.path.join(store.seg_dir(seg), "postings"))
    rows = rows.sort_values(["term"], kind="stable").head(20_000)
    cols = [list(rows[c]) for c in ("postings", "tfs", "dls", "blocks")]

    def rate(fn, n_postings: int) -> float:
        reps, t0 = 0, time.perf_counter()
        while reps < 3 or time.perf_counter() - t0 < 0.5:
            fn()
            reps += 1
        return n_postings * reps / (time.perf_counter() - t0) / 1e6

    row_lens, docs, tfs, dls = decode_rows_concat(*cols)
    bounds = np.concatenate(([0], np.cumsum(row_lens)))

    def encode_all():
        for a, b in zip(bounds[:-1], bounds[1:]):
            encode_postings(docs[a:b], tfs[a:b], dls[a:b])

    return {
        "codec.decode_mpostings_per_s": rate(lambda: decode_rows_concat(*cols), len(docs)),
        "codec.encode_mpostings_per_s": rate(encode_all, len(docs)),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    os.chdir(ROOT)  # Python workers import the package from the cwd
    sys.path.insert(0, str(ROOT))
    work, cache = ROOT / ".perfbench-work", ROOT / ".perfbench-cache"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # every file Spark, the JVM and Python workers write stays in the checkout
    os.environ.update({"TMPDIR": str(work / "tmp"), "PYSPARK_PYTHON": sys.executable,
                       "SPARK_LOCAL_DIRS": str(work / "spark-local"),
                       "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))})

    import inputs as I
    from workloads import WORKLOADS

    from inverted_index_spark import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    W = WORKLOADS[args.workload]

    # inputs and oracle answers: a benchmark cost, kept out of setup_s
    t_in = time.perf_counter()
    docs_path, spec = I.cached(cache, f"{W.name}-seed{args.seed}-n{W.N_TURNS}", lambda: W.inputs(args.seed))
    inputs_s = time.perf_counter() - t_in

    steal0, calib0 = probe.steal_s(), probe.calibration_s()
    conf = spark_conf(work, trace)
    with probe.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{W.name}", cores=CORES,
                          shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            tracer = probe.Tracer(trace, spark)
            wl = W(spark, tracer, str(work), str(docs_path), spec)
            t = time.perf_counter()
            wl.setup()
            warm_failed = wl.warm()
            setup_s = session_s + time.perf_counter() - t
            setup_spans = tracer.self_times_ms()
            tracer.spans.clear()

            lat, outs, raised = [], [], 0
            t_loop = time.perf_counter()
            j = 0
            # the loop replays the whole op list at least once and checks
            # the time limit only between whole lists, so every run
            # measures the same mix of ops
            while j % wl.n_ops() or j == 0 or time.perf_counter() - t_loop < args.seconds:
                idx = j % wl.n_ops()
                t = time.perf_counter()
                try:
                    with tracer.op(f"op{j}", f"{W.name} op {idx}"):
                        out = wl.run_op(idx)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    raised += 1
                    out = None
                lat.append(time.perf_counter() - t)
                outs.append((idx, out))
                j += 1
            loop_s = time.perf_counter() - t_loop

            wrong = sum(1 for idx, out in outs if out is not None and not wl.check(idx, out))
            failed = raised + wrong
            written, live = wl.store_bytes()
            with tracer.span("store.live_segments"):
                n_live = len(wl.store.live_segments())
            if trace:
                layers, calls = per_layer(spark, wl, tracer, setup_spans, outs, live, n_live)
                layers["session.get_spark_s"] = session_s
                tracer.dump(str(work / "spans.json"))
            versions = probe.versions(spark)
            wl.teardown()
        finally:
            stop_spark(spark)
    steal = probe.steal_s() - steal0
    calib1 = probe.calibration_s()

    n = len(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (n / loop_s, "1/s"),
        "queries_per_s": (n * wl.queries_per_op() / loop_s, "1/s"),
        "p50_ms": (float(np.percentile(lat, 50)) * 1e3, "ms"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "write_amp": (written / wl.text_bytes, "ratio"),
        "space_amp": (live / wl.text_bytes, "ratio"),
    }
    correct = failed == 0 and warm_failed == 0
    detail = {
        "workload": W.name, "seed": args.seed, "seconds": args.seconds, "trace": trace,
        "cores": CORES, "session_s": session_s, "inputs_s": inputs_s, "loop_s": loop_s,
        "ops": n, "error_rate": failed / max(n, 1),
        "warmup_failed": warm_failed, "raised": raised, "wrong": wrong,
        "p50_ms_by_kind": wl.p50_by_kind(outs, lat), "op_ms": [round(t * 1e3, 1) for t in lat],
        "segments_live": n_live, "peak_procs": rss.peak_procs, "steal_s": steal,
        "calibration_s": [calib0, calib1], "versions": versions, "spark_conf": conf,
    }
    if trace:
        # the traced run's own end-to-end figures, to set against an
        # untraced run of the same seed: the tracing overhead. The tail
        # is a fixed percentile, so it cannot drift with the op count.
        layers["trace.ops_per_s"] = e2e["ops_per_s"][0]
        layers["trace.p50_ms"] = e2e["p50_ms"][0]
        layers["trace.p90_ms"] = float(np.percentile(lat, 90)) * 1e3
        detail["ops_beyond_p90"] = int(sum(t * 1e3 > layers["trace.p90_ms"] for t in lat))
        detail["calls"] = calls
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print("detail " + json.dumps(detail))
    for k, mv in metrics.items():
        print(f"{k:40s} {mv['value']:.6g} {mv['unit']}")
    if trace:
        for k, v in calls.items():
            print(f"{'call ' + k:40s} {v:.6g} {_unit(k)}")
    print(f"{'error_rate':40s} {detail['error_rate']:.6g} ratio")
    print(f"check: {'PASS' if correct else 'FAIL'} ({failed} of {n} ops failed, "
          f"{warm_failed} warm-up reads wrong)")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": n, "failed": failed, "metrics": metrics}))
    return 0


def per_layer(spark, wl, tracer, setup_spans, outs, live: int, n_live: int):
    """Per-layer metrics of a traced run, as (layers, calls).

    ``layers`` holds what every workload measures, so no figure reads 0
    for a call the workload never makes. ``calls`` holds the self time of
    each engine call this workload makes, ``<module>.<call>[.plan|.exec]``;
    a call the measured loop never makes is taken from set-up."""
    st = {**setup_spans, **tracer.self_times_ms()}
    m = wl.store.read_manifest()
    merged = m["build_id"].astype(str).str.startswith("merge:")
    built = ~merged & (m["status"] != "deletes")
    layers = {
        "search.open_s": st["search.open"] / 1e3,
        "build.build_index_ms": st["build.build_index"],
        "build.turns_per_s": statistics.median(wl.build_rates),
        "build.bytes_written": float(m.loc[built, "bytes"].sum()),
        "store.live_segments_ms": st["store.live_segments"],
        "store.segments_live": float(n_live),
        "store.bytes_live": float(live),
        **tracer.op_halves_ms(),
    }
    calls = {f"{k}_ms": v for k, v in sorted(st.items())
             if k not in ("op", "search.open") and f"{k}_ms" not in layers}
    if merged.any():
        calls["merge.bytes_rewritten"] = float(m.loc[merged, "bytes"].sum())
        calls["merge.passes"] = float(merged.sum())
    result_rows = {f"op{i}": wl.result_rows(out) for i, (_, out) in enumerate(outs)}
    sp = probe.spark_op_metrics(spark, tracer, result_rows)
    calls["spark.spill_bytes"] = sp.pop("spark.spill_bytes")
    layers.update(sp)
    layers.update(codec_rates(wl.store))
    return layers, calls


def _unit(name: str) -> str:
    if name.endswith("mpostings_per_s"):
        return "M/s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name in ("spark.task_skew", "spark.scan_yield"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
