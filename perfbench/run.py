#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tile_export --seed 7 --seconds 15 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see perfbench/README.md).  Lines before it are a readable
table of every metric with its unit and sample count.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4          # local[k]; k <= nproc on the 4-core reference host


def session_conf(tmp: str, jit: str) -> dict:
    """Session settings on top of the library defaults.

    With ``jit="c1"`` (what the benchmark's runs use) the driver JVM runs
    the C1 compiler only.  With the default tiered JIT the driver kept
    getting faster for over a minute (export 5.6 -> 3.8 s per batch, search
    3.1 -> 1.8 s per request; see README.md): longer than the warm-up a run
    can afford, and where a run's window fell on that slope set most of the
    run-to-run spread.  C1 is at its steady state from the second operation
    on, but its code is slower than C2's, so gains on JVM-side work are
    measured smaller than a long-lived default session would show them;
    ``--jit default`` runs the default JIT for comparison.  Scratch files
    (shuffle and block-manager directories, extracted native libraries) stay
    under ``tmp`` and the JVM keeps no perf-data file, so a run writes only
    inside the benchmark's work directory."""
    flags = "-XX:TieredStopAtLevel=1 " if jit == "c1" else ""
    return {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            flags + f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
    }


# end-to-end metrics shared by every workload (BENCHMARK.json)
E2E = ("setup_s", "latency_p50_s", "peak_rss_mb")


def _fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment(tmp: str) -> None:
    # Python workers inherit the driver's environment, so the package must
    # be importable from the repository root through PYTHONPATH, not only
    # through sys.path; temporary files go to the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [ROOT, HERE]


def _on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)


def _end_gateway() -> None:
    """Let the driver JVM exit the way PySpark means it to: it ends when its
    standard input closes, after its shutdown hooks have run."""
    ctx = sys.modules.get("pyspark.core.context")
    proc = getattr(getattr(ctx, "SparkContext", None), "_gateway", None)
    proc = getattr(proc, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — end_descendants stops it instead
        pass


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--jit", choices=("c1", "default"), default="c1",
                    help="driver JVM compiler (see session_conf)")
    args = ap.parse_args(argv)

    tmp = os.path.join(WORK, "tmp")
    _environment(tmp)
    import proctree

    # every process this run starts (the driver JVM and the Python workers it
    # forks) has ended before it exits, on every path out of it; the result
    # line is printed only then
    proctree.adopt_orphans()
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        result = _run(args, tmp)
    finally:
        _end_gateway()
        proctree.end_descendants()
    print(result)


def _run(args, tmp: str) -> str:
    try:
        import geedim_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        _fail(f"the library is not importable from {ROOT}: {exc}", 3)
    import numpy as np

    import gen
    import layers
    import proctree
    from workloads import WORKLOADS

    from geedim_spark import get_session

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", 2)
    if args.seconds <= 0:
        _fail("--seconds must be positive", 2)
    os.makedirs(tmp, exist_ok=True)

    t_gen = time.perf_counter()
    path, truth = gen.ensure(args.workload, args.seed, WORK)
    gen_s = time.perf_counter() - t_gen

    sampler = proctree.TreeSampler(os.getpid())
    sampler.start()
    tracer = layers.Tracer(enabled=bool(args.trace))
    conf = session_conf(tmp, args.jit)
    if args.trace:
        conf.update(layers.event_log_conf(WORK))
    t_sess = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session(f"perfbench-{args.workload}", master=f"local[{CORES}]",
                            extra_conf=conf)
    session_s = time.perf_counter() - t_sess
    tracer.bind(spark)

    wl = WORKLOADS[args.workload](spark, path, truth, WORK)
    rng = np.random.default_rng(args.seed)
    cursor = [int(rng.integers(len(wl.requests)))]

    def next_req():
        req = wl.requests[cursor[0] % len(wl.requests)]
        cursor[0] += 1
        return req

    # set-up: register the inputs and run one untimed operation, the
    # warm-up: the first operation in a session is several times slower
    # than the following ones
    with tracer.span("setup.register"):
        wl.register()
    req = next_req()
    t0 = time.perf_counter()
    with tracer.span("setup.warmup", op="warmup"):
        res = wl.run(req, tracer)
    cold_s = time.perf_counter() - t0
    failed_setup = int(not wl.check(req, res, rng))
    wl.close(res)
    # process start to the first timed operation, generation excluded
    setup_s = time.perf_counter() - T_PROC - gen_s

    # timed window: closed loop until --seconds of wall time have passed
    lat, cpu, work, attempted, failed, n_results, out_in = [], [], 0.0, 0, 0, 0, []
    me = os.getpid()
    steal0 = proctree.host_times()
    t_win = time.perf_counter()
    while time.perf_counter() - t_win < args.seconds:
        req = next_req()
        op_id = f"op{attempted}"
        attempted += 1
        c0 = proctree.tree_cpu_s(me)
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=op_id):
                res = wl.run(req, tracer)
        except Exception as exc:  # noqa: BLE001 — a raising operation counts as failed
            print(f"perfbench: operation {op_id} raised {exc!r}", file=sys.stderr)
            failed += 1
            continue
        lat.append(time.perf_counter() - t0)
        cpu.append(proctree.tree_cpu_s(me) - c0)
        with tracer.span("check", op=op_id):
            ok = wl.check(req, res, rng)
        if hasattr(wl, "out_bytes"):
            out_in.append((wl.out_bytes(res), wl.in_bytes()))
        n_results += wl.results(res)
        if ok:
            work += wl.work()
        else:
            failed += 1
        wl.close(res)
    window_s = time.perf_counter() - t_win
    steal1 = proctree.host_times()
    steal_share = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    layer = {}
    if args.trace:
        layer = layers.layer_metrics(spark, wl, tracer, args.seed, WORK)
    spark.stop()
    peak_rss = sampler.stop()
    if args.trace:
        layer.update(layers.event_log_metrics(WORK, CORES, tracer, n_results, attempted))
        layer["trace.latency_p50_s"] = (statistics.median(lat) if lat else None, "s")
        st = tracer.self_times()
        for k in (*layers.LAYERS, "other", "unaccounted"):
            layer[f"self_s.{k}"] = (st.get(k, 0.0), "s")

    busy = sum(lat)
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "latency_p50_s": (statistics.median(lat) if lat else None, "s", len(lat)),
        "peak_rss_mb": (peak_rss / 2**20, "MB", 1),
    }
    info = {
        "cpu_s_per_op": (statistics.median(cpu) if cpu else None, "s", len(cpu)),
        "error_rate": (failed / attempted if attempted else None, "ratio", attempted),
        "throughput": (work / busy if busy else None, f"{wl.work_unit}/s", len(lat)),
        "host_steal_share": (steal_share, "share", 1),
    }
    # the highest percentile with at least ten samples beyond it
    if len(lat) >= 25:
        q = int(100 * (1 - 10 / len(lat)))
        info[f"latency_p{q}_s"] = (float(np.percentile(lat, q)), "s", len(lat))
    if wl.work_unit == "Mrows":
        info["rows_per_s"] = (work * 1e6 / busy if busy else None, "rows/s", len(lat))
    if out_in:
        ob, ib = map(sum, zip(*out_in))
        info["out_bytes_per_in_byte"] = (ob / ib, "ratio", len(out_in))
    info.update({
        "session_start_s": (session_s, "s", 1),
        "cold_op_s": (cold_s, "s", 1),
        "generation_s": (gen_s, "s", 1),
        "setup_failed": (failed_setup, "count", 1),
    })
    for k, v in sampler.peak_by_name.items():
        info[f"peak_rss_mb.{k}"] = (v / 2**20, "MB", 1)
    for k, v in wl.props.items():
        info[f"input.{k}"] = (v, "share" if isinstance(v, float) else "count", 1)

    nan = float("nan")
    print(f"# perfbench {args.workload} seed={args.seed} window={window_s:.2f}s "
          f"k={CORES} trace={args.trace} jit={args.jit}")
    print("# latencies s: " + " ".join(f"{x:.3f}" for x in lat))
    for name, (v, unit, n) in {**e2e, **info}.items():
        print(f"{name:40s} {nan if v is None else v:14.6g} {unit:8s} n={n}")
    for name, (v, unit) in layer.items():
        print(f"{name:40s} {nan if v is None else v:14.6g} {unit:8s}")

    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E}
    return json.dumps({"correct": failed == 0 and failed_setup == 0,
                       "attempted": attempted, "failed": failed,
                       "metrics": metrics})


if __name__ == "__main__":
    main()
