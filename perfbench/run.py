"""End-to-end benchmark of the query registry, split by layer.

    python3 perfbench/run.py --workload hiveql_reports --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``hiveql_reports`` (16 daily report
queries), ``llm_dedup`` (4 near-dedup and similarity kernels) and
``lake_writes`` (7 partitioned lake writes with read-back). One run is
one fresh worker process on ``local[<cores>]``, a closed loop with one
client: set-up (interpreter, JVM and session start, registry import and
one warm-up pass), then passes of the workload for ``--seconds``. Each
query is a fresh ``QUERIES[id](spark, dir)`` followed by ``toPandas()``;
the seed only permutes the query order within each pass. Every result is
hash-checked against its DuckDB oracle outside the timed region, and a
failed or mismatched query is counted, never dropped.

Inputs are synthetic fixtures (fixtures.py) built once per checkout under
``perfbench/.work``; the lake the writes land in is emptied per run.

``--trace 1`` adds one traced pass: a span per query and per phase
(build, plan, execute, collect) with the query id shared by all its
spans, Catalyst's phase tracker, and Spark's event log. It prints the
per-query breakdown and per-layer totals for the pass, with the client's
timings of the untraced passes; spans go to ``perfbench/.work/trace/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer ones). The lines before it print every
metric by name with its unit, the oracle verdict and the host context.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "opay_datalake_script_spark"
TIMEOUT_S = 170.0

# The bounded metrics, set-up aside, count the I/O a user's queries make the
# system do: on a 4-core shared VM, timings of identical runs spread by
# 20-50% between runs (in CPU time as in wall time), more than any bound a
# timing may be given, so the timings are per-layer figures.
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "bytes_written_per_input_byte": "ratio",
    "bytes_read_per_input_byte": "ratio",
}
PER_LAYER = {
    "client.pass_s": "s",
    "client.latency_geomean_s": "s",
    "client.pass_cpu_s": "s",
    "jit.compile_cpu_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.wall_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.parallelism": "ratio",
    "python_worker.bytes_sent": "bytes",
    "python_worker.bytes_received": "bytes",
    "python_worker.rows": "count",
    "collect.s": "s",
    "collect.result_rows": "count",
    "sources_io.output_bytes": "bytes",
    "sources_io.output_files": "count",
    "trace.overhead_s": "s",
    "host.steal_ticks": "ticks",
    "host.loadavg1": "load",
    "host.heap_gb": "GB",
    "host.peak_rss_gb": "GB",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Driver heap sized to the host: 30% of the memory this process may
    use (MemTotal, or a lower cgroup limit), between 1 and 2 GB. The
    benchmark's fixtures are a few MB, so 2 GB leaves the session room
    without letting the JVM grow toward the host's limit."""
    with open("/proc/meminfo") as f:
        limit = int(f.readline().split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            limit = min(limit, int(raw))
    except OSError:
        pass
    return max(1, min(2, int(limit * 0.3 / 2**30)))


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def group_rss(pgid: int) -> int:
    """Resident bytes of every process in a process group."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid:
                total += int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


def stop_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(args, workload, fixtures: str, expected_path: str, run_dir: str,
               deadline: float) -> dict:
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
    out_path = os.path.join(run_dir, "worker.json")
    env = dict(os.environ)
    # Python workers forked by the JVM import the package too: they see
    # the checkout through PYTHONPATH, whatever the caller's cwd.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload.name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--fixtures", fixtures, "--expected", expected_path,
        "--scratch", os.path.join(run_dir, "lake"),
        "--eventlog", os.path.join(run_dir, "eventlog"),
        "--tmp", os.path.join(run_dir, "tmp"), "--out", out_path,
        "--heap-gb", str(heap_gb()), "--cores", str(host_cores()),
    ]
    if args.break_query:
        cmd += ["--break-query", args.break_query]
    peak = [0]
    spawn = time.time()
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        done = threading.Event()

        def sample() -> None:
            while not done.wait(0.2):
                peak[0] = max(peak[0], group_rss(proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=deadline - time.time())
        except subprocess.TimeoutExpired:
            code = None
        finally:
            done.set()
            sampler.join()
            stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out_path):
        with open(os.path.join(run_dir, "worker.log")) as f:
            tail = f.read()[-3000:]
        fail(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out_path) as f:
        res = json.load(f)
    res.update(spawn=spawn, peak_rss=peak[0])
    return res


def peak_rss_gb(res: dict) -> float:
    """Peak resident size of the worker, its JVM and its Python workers,
    sampled every 0.2 s."""
    return res["peak_rss"] / 1e9


def _measured(res: dict) -> list[dict]:
    return [p for p in res["passes"][1:] if not p["traced"]]


def end_to_end(res: dict, input_bytes: dict[str, int]) -> dict[str, float]:
    """Set-up time, and the bytes the JVM writes and reads (files, shuffle,
    sockets to Python; with ``--trace 1`` the event log too) per byte of
    fixture the measured passes' queries read."""
    read = sum(input_bytes[q["id"]] for p in _measured(res) for q in p["queries"])
    return {
        "setup_s": res["warmup_end"] - res["spawn"],
        "bytes_written_per_input_byte": res["wchar"] / read,
        "bytes_read_per_input_byte": res["rchar"] / read,
    }


def client_timing(res: dict) -> tuple[dict[str, float], list[str]]:
    """What the client sees of the measured passes. A shared host slows down
    in bursts of seconds, and the JIT keeps improving a query over its first
    few runs, so each query is scored by its fastest fresh execution:
    ``client.pass_s`` is the sum of those, ``client.latency_geomean_s`` their
    geometric mean (with 4 to 16 queries a median would be one query's
    latency). CPU is per measured pass, of the client, its JVM and its Python
    workers; ``jit.compile_cpu_s`` is the JIT compiler's part of it."""
    measured = _measured(res)
    lat: dict[str, list[float]] = {}
    for p in measured:
        for q in p["queries"]:
            lat.setdefault(q["id"], []).append(q["t3"] - q["t0"])
    best = [min(v) for v in lat.values()]
    samples = [x for v in lat.values() for x in v]
    execs = [q for p in measured for q in p["queries"]]
    m = {
        "client.pass_s": sum(best),
        "client.latency_geomean_s": statistics.geometric_mean(best),
        "client.pass_cpu_s": sum(q.get("cpu_s", 0.0) for q in execs) / len(measured),
        "jit.compile_cpu_s": sum(q.get("jit_cpu_s", 0.0) for q in execs) / len(measured),
    }
    walls = [p["end"] - p["start"] for p in measured]
    notes = [
        f"measured passes: {len(measured)}, pass wall median {statistics.median(walls):.4f} s",
        f"latency_p50_s: {statistics.median(samples):.4f} s over {len(samples)} samples",
    ]
    if len(samples) >= 100:  # at least 10 samples lie beyond the p90
        notes.append(f"latency_p90_s: {statistics.quantiles(samples, n=10)[-1]:.4f} s")
    else:
        notes.append("latency_p90_s: not reported (needs >= 100 samples)")
    return m, notes


def per_layer(res: dict, timing: dict[str, float], cores: int, steal: int, run_dir: str,
              trace_path: str):
    from eventlog import query_layers, read

    log = read(os.path.join(run_dir, "eventlog", res["app_id"]))
    traced = next(p for p in res["passes"] if p["traced"])
    totals = {k: 0.0 for k in PER_LAYER}
    totals.update(timing)
    rows, spans = [], []
    for q in traced["queries"]:
        qid = q["id"]
        if "error" in q:
            rows.append(f"  {qid}: FAILED {q['error'][:200]}")
            continue
        lay = query_layers(log, qid, (q["t0"], q["t3"]))
        build, plan = q["t1"] - q["t0"], q["t2"] - q["t1"]
        execute = lay["exec.wall_s"]
        collect = q["t3"] - q["t2"] - execute
        wall = q["t3"] - q["t0"]
        totals["registry.build_s"] += build
        totals["registry.build_jobs"] += lay["build_jobs"]
        for ph in ("analysis", "optimization", "planning"):
            totals[f"catalyst.{ph}_s"] += q["catalyst"][ph]
        for k, v in lay.items():
            if k in totals:
                totals[k] += v
        totals["collect.s"] += collect
        totals["collect.result_rows"] += q["rows"]
        parts = {"build": build, "plan": plan, "execute": execute, "collect": collect}
        rows.append(
            f"  {qid}: wall {wall:.4f} s = " + " + ".join(f"{k} {v:.4f}" for k, v in parts.items())
            + f" (sum/wall {sum(parts.values()) / wall:.3f}); catalyst "
            + " ".join(f"{k} {v:.4f}" for k, v in q["catalyst"].items())
            + f"; stages {lay['exec.stages']:.0f} tasks {lay['exec.tasks']:.0f}"
            f" shuffle r/w {lay['exec.shuffle_read_bytes']:.0f}/{lay['exec.shuffle_write_bytes']:.0f} B"
            f" build_jobs {lay['build_jobs']:.0f} rows {q['rows']}")
        # Phase spans are laid end to end inside the query span: execute is
        # the union of the query's Spark job intervals, collect the rest of
        # toPandas (Arrow transfer and the Spark driver's gaps between jobs).
        spans.append({"span_id": qid, "parent_id": None, "query_id": qid, "name": qid,
                      "start": q["t0"], "end": q["t3"]})
        t = q["t0"]
        for name, dur in parts.items():
            spans.append({"span_id": f"{qid}/{name}", "parent_id": qid, "query_id": qid,
                          "name": name, "start": t, "end": t + dur})
            t += dur
    wall = totals["exec.wall_s"]
    totals["exec.parallelism"] = totals["exec.task_run_s"] / (wall * cores) if wall else 0.0
    totals["trace.overhead_s"] = (traced["end"] - traced["start"]) - statistics.median(
        p["end"] - p["start"] for p in _measured(res))
    totals["exec.gc_s"] = res["traced_gc_s"]
    totals["host.steal_ticks"] = steal
    totals["host.loadavg1"] = loadavg1()
    totals["host.heap_gb"] = float(res["heap_gb"])
    totals["host.peak_rss_gb"] = peak_rss_gb(res)
    with open(trace_path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    return totals, rows


def main() -> None:
    deadline = time.time() + TIMEOUT_S
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smallest fixture scale, for the benchmark's own tests")
    p.add_argument("--break-query", default=None,
                   help="make this query id raise (tests failure counting)")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"{PACKAGE} not found beside perfbench/; run from a full checkout")
    sys.path.insert(0, ROOT)
    import fixtures
    from oracle import oracle_hashes, tables_read
    from workloads import TINY, WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    scale = TINY if args.tiny else dict(sf=workload.sf, n_docs=workload.n_docs,
                                        n_vecs=workload.n_vecs)
    fixture_dir = fixtures.build(
        os.path.join(WORK, "fixtures", "sf{sf}_d{n_docs}_v{n_vecs}".format(**scale)), **scale)

    from opay_datalake_script_spark.registry import ORACLES, load_all_queries

    load_all_queries()
    missing = [q for q in workload.queries if q not in ORACLES]
    if missing:
        fail(f"queries without a registered oracle: {missing}")
    expected = oracle_hashes(fixture_dir, workload.queries, ORACLES, fixtures.TABLES)
    input_bytes = {
        q: sum(os.path.getsize(os.path.join(fixture_dir, f"{t}.parquet"))
               for t in tables_read(ORACLES[q], fixtures.TABLES))
        for q in workload.queries
    }
    run_dir = os.path.join(WORK, "runs", f"{workload.name}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    expected_path = os.path.join(run_dir, "expected.json")
    with open(expected_path, "w") as f:
        json.dump(expected, f)

    cores, steal0 = host_cores(), steal_ticks()
    res = run_worker(args, workload, fixture_dir, expected_path, run_dir, deadline)
    steal = steal_ticks() - steal0

    execs = [q for p_ in res["passes"] for q in p_["queries"]]
    bad = [q for q in execs if not q["ok"]]
    e2e = end_to_end(res, input_bytes)
    timing, notes = client_timing(res)
    print(f"workload {workload.name}: {len(workload.queries)} queries, seed {args.seed}, "
          f"local[{cores}], heap {res['heap_gb']} GB, fixtures {os.path.basename(fixture_dir)}")
    print(f"host: cores {cores}, steal_ticks {steal}, loadavg1 {loadavg1():.2f}, "
          f"peak_rss_gb {peak_rss_gb(res):.4f}")
    print(f"setup: session {res['session_ready'] - res['spawn']:.3f} s, registry import "
          f"{res['registry_ready'] - res['session_ready']:.3f} s, warm-up pass "
          f"{res['warmup_end'] - res['registry_ready']:.3f} s")
    for name, unit in END_TO_END.items():
        print(f"{name}: {e2e[name]:.6g} {unit}")
    print(f"failed_ratio: {len(bad) / len(execs):.6g} ratio ({len(bad)}/{len(execs)})")
    if not args.trace:  # with --trace 1 they are printed with the other layers
        for name, value in timing.items():
            print(f"{name}: {value:.6g} {PER_LAYER[name]}")
    for n in notes:
        print(n)
    for q in bad:
        print(f"  FAILED {q['id']}: {q.get('error', 'result hash differs from DuckDB oracle')[:300]}")
    print(f"oracle: {'all results match DuckDB' if not bad else f'{len(bad)} failed or mismatched'}")

    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.trace:
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{workload.name}-{args.seed}.jsonl")
        layers, rows = per_layer(res, timing, cores, steal, run_dir, trace_path)
        print(f"traced pass, per query (spans in {os.path.relpath(trace_path, ROOT)}):")
        for r in rows:
            print(r)
        for name, unit in PER_LAYER.items():
            print(f"{name}: {layers[name]:.6g} {unit}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    print(json.dumps({"correct": not bad, "attempted": len(execs), "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
