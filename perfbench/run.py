"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_cdc --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Generates the workload's inputs from
the seed, then runs one round of the workload's ops, each op once, in
this fresh process and checks every output: that round is what
``round_s`` times. On the reference box one round takes longer than
``--seconds``, so the round is the whole measurement. ``setup_s`` is
the median of two set-ups, each in a fresh JVM and timed from its
process's start: this process's own, and one more in a child process
(``startup.py``) after this one's session has stopped. A traced run
(``--trace 1``) instead runs one traced round and one untraced round
after the first. Writes everything it makes under ``.perfbench_work/``
in the checkout and removes all of it but the result file at the end.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Lines before it name every
metric with its unit and sample count, and every op with its time and
output hash. The full record goes to
``.perfbench_work/results/<workload>-seed<n>-trace<t>.json``.
Exits 1 when an output check failed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from startup import Session  # noqa: E402

#: set-ups in child processes, besides this process's own: each costs
#: a JVM launch (~10 s on the reference box), and the run plan has room
#: for one (NOTES.md, Sizing)
CHILD_SETUPS = 1

LAYER_SPANS = [
    "validate",
    "diff",
    "report",
    "apply",
    "hashing.minhash",
    "dedup.minhash",
    "clusters.apply_dedup",
    "dedup.simhash",
    "clusters.cc",
    "text.winnow",
    "similarity.build",
    "index_store.save",
    "similarity.query",
]
SPAN_QUANTITIES = [
    ("s", "s"),
    ("jobs", "count"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("skew", "ratio"),
]
COUNTS = [
    "diff.changes",
    "dedup.minhash.pairs",
    "dedup.simhash.pairs",
    "clusters.cc.nodes",
    "clusters.cc.components",
    "clusters.apply_dedup.kept",
    "text.winnow.pairs",
    "similarity.query.rows",
]
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
}
#: per-op times: the first sync, and the untraced round of a traced run
OP_METRICS = {
    "sync_cold_s": ("sync", "first_s"),
    "sync_s": ("sync", "warm_s"),
    "sync_nochange_s": ("sync_nochange", "warm_s"),
    "upsert_s": ("upsert", "warm_s"),
    "dedup_s": ("dedup", "warm_s"),
    "cluster_audit_s": ("cluster_audit", "warm_s"),
    "winnow_s": ("winnow", "warm_s"),
    "ann_build_s": ("ann_build", "warm_s"),
    "ann_query_s": ("ann_query", "warm_s"),
}


def per_layer_names() -> dict[str, str]:
    names = {f"{s}.{q}": unit for s in LAYER_SPANS for q, unit in SPAN_QUANTITIES}
    names |= {"session.start.s": "s", "session.warmup.s": "s"}
    names |= {c: "count" for c in COUNTS}
    names |= {"trace_overhead": "ratio", "ann_recall_at_10": "ratio"}
    names |= dict.fromkeys(OP_METRICS, "s")
    names |= {"round_cpu_s": "s", "peak_rss_mb": "MB", "failed_share": "ratio"}
    return names


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    # the measurement is one round, which takes longer than the run
    # plan's 10 s on the reference box; no warm round follows it
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the JVM and its Python workers."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(d)], cpu[int(d)] = int(fields[1]), int(fields[11]) + int(fields[12])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole box so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def median_or_zero(values) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(wl, tracer, session, untraced_rounds, traced_rounds, setup, record) -> dict[str, float]:
    """Per-layer values: span medians joined to the event log, the
    session's own set-up, counts, per-op times, memory, and the tracing
    overhead."""
    import eventlog

    app = session.app_id
    logs = [p for p in eventlog.find_app_logs(session.log_dir) if app in os.path.basename(p)]
    events = (e for p in logs for e in eventlog.read_events(p))
    stats = eventlog.job_group_stats(events, tracer.windows())
    by_name: dict[str, list[dict[str, float]]] = {}
    for sp in tracer.spans:
        st = stats.get(sp.id, eventlog.GroupStats())
        by_name.setdefault(sp.name, []).append(
            {
                "s": sp.seconds,
                "jobs": st.jobs,
                "cpu_s": st.cpu_s,
                "gc_s": st.gc_s,
                "shuffle_mb": st.shuffle_mb,
                "spill_mb": st.spill_mb,
                "skew": st.skew,
            }
        )
    names = per_layer_names()
    out = dict.fromkeys(names, 0.0)  # layers this workload does not touch
    for span, rows in by_name.items():
        for q, _ in SPAN_QUANTITIES:
            key = f"{span}.{q}"
            if key in names:
                out[key] = statistics.median(r[q] for r in rows)
    out["session.start.s"] = setup["get_spark_s"]
    out["session.warmup.s"] = setup["first_job_s"]
    for c in COUNTS:
        out[c] = float(median_or_zero(wl.counts.get(c, [])))
    out["ann_recall_at_10"] = wl.quality.get("ann_recall_at_10", 0.0)
    for name, (op, field) in OP_METRICS.items():
        if op in record["ops"]:
            out[name] = record["ops"][op][field] or 0.0
    out["round_cpu_s"] = record["round_cpu_s"]
    out["peak_rss_mb"] = record["peak_rss_mb"]
    out["failed_share"] = record["failed"] / max(record["attempted"], 1)
    if traced_rounds and untraced_rounds:
        out["trace_overhead"] = statistics.median(traced_rounds) / statistics.median(untraced_rounds)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results_dir = os.path.join(work_root, "results")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    # local[nproc] unless the caller chose; every scratch file in the checkout
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the engine's Python UDFs run in worker processes that import it
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    import tempfile

    tempfile.tempdir = None

    import workloads  # noqa: F401 — imports pyspark; part of set-up
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    session = Session(work, bool(args.trace))
    try:
        return run(args, session, work, results_dir, workloads)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)


def child_setup(work: str) -> dict:
    """One set-up in a fresh process (``startup.py``); waits for it and
    its JVM to end."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "startup.py"), work],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.communicate()
        raise RuntimeError("set-up in a child process took over 120 s") from None
    lines = out.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"set-up in a child process failed ({proc.returncode}): {err.strip()[-300:]}")
    return json.loads(lines[-1])


def run(args, session, work, results_dir, workloads) -> int:
    from spans import Tracer

    # this process's own set-up: JVM launch, timed from process start
    start, warm = session.start()
    setups = [{"setup_s": time.perf_counter() - T_PROCESS, "get_spark_s": start, "first_job_s": warm}]
    spark = session.spark
    session.app_id = spark.sparkContext.applicationId

    tracer = Tracer(spark.sparkContext, f"{args.workload}.{args.seed}", enabled=False)
    wl = workloads.WORKLOADS[args.workload](spark, tracer, os.path.join(work, "data"), args.seed)
    t_gen = time.perf_counter()
    inputs = wl.prepare()
    gen_s = time.perf_counter() - t_gen

    attempted = failed = 0
    errors: list[str] = []
    first_ops: dict[str, float] = {}
    warm_ops: dict[str, float] = {}

    def one_round(check: bool, times: dict[str, float] | None) -> float | None:
        nonlocal attempted, failed
        total, ok = 0.0, True
        for op in wl.ops:
            workloads.isolate(spark)
            attempted += 1
            try:
                dt, fails = wl.run_op(op, check)
            except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                dt, fails = None, [f"{op} raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"]
            if fails:
                failed += 1
                errors.extend(fails)
                print(f"perfbench: FAILED {fails}", file=sys.stderr)
            if dt is None:
                ok = False
                continue
            total += dt
            if times is not None:
                times[op] = dt
        return total if ok else None

    t_measure = time.perf_counter()
    cpu0, (steal0, ticks0) = tree_cpu_s(), cpu_ticks()
    first = one_round(check=True, times=first_ops)
    round_cpu = tree_cpu_s() - cpu0
    steal1, ticks1 = cpu_ticks()
    # the share of the box's CPU time the hypervisor gave to other
    # tenants during the round: the main source of run-to-run drift
    steal_share = (steal1 - steal0) / max(ticks1 - ticks0, 1)
    peak = session.peak_rss_mb()  # before any traced round
    traced, untraced = [], []
    if args.trace:
        # one traced round, then one untraced round to compare it with
        tracer.enabled = True
        traced = [t for t in [one_round(check=False, times=None)] if t is not None]
        tracer.enabled = False
        untraced = [t for t in [one_round(check=False, times=warm_ops)] if t is not None]
    measure_s = time.perf_counter() - t_measure

    if not args.trace:
        # more set-ups, each in a fresh process and JVM, with this
        # process's JVM already gone
        session.stop()
        for _ in range(CHILD_SETUPS):
            attempted += 1
            try:
                setups.append(child_setup(work))
            except Exception as exc:  # noqa: BLE001 — a failed set-up is a failed run
                failed += 1
                errors.append(str(exc))
                print(f"perfbench: FAILED {exc}", file=sys.stderr)

    e2e = {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), len(setups)),
        "round_s": (first or 0.0, 1),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": inputs,
        "env": {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_LOCAL_DIRS": "<checkout>/.perfbench_work/<run>/spark-local",
        },
        "input_generation_s": gen_s,
        "peak_rss_mb": peak,
        "round_cpu_s": round_cpu,
        "round_steal_share": steal_share,
        "attempted": attempted,
        "failed": failed,
        "measure_s": measure_s,
        "setups": setups,
        "ops": {
            op: {"first_s": first_ops.get(op), "warm_s": warm_ops.get(op), "output_hash": wl.hashes.get(op)}
            for op in wl.ops
        },
        "counts": wl.counts,
        "quality": wl.quality,
        "end_to_end": {k: {"value": v, "n": n, "unit": END_TO_END[k]} for k, (v, n) in e2e.items()},
        "errors": errors,
    }

    if args.trace:
        session.spark.stop()  # flushes the event log
        session.spark = None
        per_layer = layer_metrics(wl, tracer, session, untraced, traced, setups[0], record)
        record["per_layer"] = per_layer
        record["spans"] = tracer.records()
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in per_layer_names().items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, n) in e2e.items()}

    result_file = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(result_file, "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} inputs={json.dumps(inputs)}")
    for op, row in record["ops"].items():
        warm = f", warm {row['warm_s']:.3f} s (n=1)" if row["warm_s"] is not None else ""
        print(f"op {op}: first {row['first_s'] or 0:.3f} s (n=1){warm}, hash {row['output_hash']}")
    for k, (v, n) in e2e.items():
        print(f"metric {k} = {v:.4f} {END_TO_END[k]} (n={n})")
    print(
        f"peak_rss_mb = {peak:.1f} MB (n=1); round_cpu_s = {round_cpu:.2f} s (n=1); "
        f"round_steal_share = {steal_share:.4f} (n=1)"
    )
    if args.trace:
        print(f"per-layer rows: {result_file} ; trace_overhead = {record['per_layer']['trace_overhead']:.4f}")
    correct = not errors and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
