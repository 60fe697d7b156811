"""One benchmark client: a fresh process, like one Airflow task.

It starts Spark, imports the query registry, runs one warm-up pass of the
workload (the end of which closes set-up), then runs measured passes for
``--seconds``. With ``--trace 1`` it adds one traced pass that splits each
query into its build, plan, execute and collect phases. Every Spark job is
tagged ``setJobGroup(<query id>, <phase>)``. Each result is hashed outside
the timed region. Everything seen is written as JSON to ``--out`` for
``run.py`` to check and summarise; this script is started by ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import time

from oracle import result_hash
from workloads import WORKLOADS


def _io(pid: int) -> tuple[int, int]:
    """Bytes a process has read and written through system calls so far
    (``rchar``, ``wchar``): files, the shuffle and the sockets to Python."""
    with open(f"/proc/{pid}/io") as f:
        io = dict(line.split(":") for line in f)
    return int(io["rchar"]), int(io["wchar"])


_TICK = os.sysconf("SC_CLK_TCK")
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names cut to 15 chars


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds of the run so far, and the JIT compiler's part of them.

    The run is every process of this client's session: the client, its JVM
    and the JVM's Python workers (PySpark's worker daemon puts them in a
    process group of its own, but not in a session of their own), each with
    the children it has reaped. The JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads``: its compiler threads then
    live as long as it does, so their CPU time never drops out of the sum."""

    def __init__(self, jvm_pid: int):
        self.sid = os.getsid(0)
        task = f"/proc/{jvm_pid}/task"
        self.compilers = []
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as f:
                if f.read().startswith(_COMPILER_THREADS):
                    self.compilers.append(f"{task}/{tid}/stat")
        if not self.compilers:
            raise RuntimeError(f"no JIT compiler threads in JVM {jvm_pid}")

    def sample(self) -> tuple[float, float]:
        """(CPU seconds of the session, of which the JIT compiler's)."""
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                fields = _stat_fields(f"/proc/{pid}/stat")
            except OSError:  # the process has ended
                continue
            if int(fields[3]) == self.sid:
                total += sum(int(x) for x in fields[11:15])
        jit = sum(int(x) for p in self.compilers for x in _stat_fields(p)[11:13])
        return total / _TICK, jit / _TICK


def _gc_s(jvm) -> float:
    """Collection time of every garbage collector in the JVM so far."""
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _catalyst(qe) -> dict[str, float]:
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


class Client:
    def __init__(self, spark, queries, fixtures: str, expected: dict[str, str],
                 cpu: CpuMeter):
        self.spark, self.sc = spark, spark.sparkContext
        self.queries, self.fixtures, self.expected = queries, fixtures, expected
        self.cpu = cpu

    def run_pass(self, order: list[str], traced: bool) -> dict:
        """Run every query once; results are hashed after the pass ends."""
        records, frames = [], []
        start = time.time()
        for qid in order:
            rec: dict = {"id": qid}
            pdf = None
            try:
                self.sc.setJobGroup(qid, "build")
                cpu0, jit0 = self.cpu.sample()
                t0 = time.time()
                df = self.queries[qid](self.spark, self.fixtures)
                t1 = t2 = time.time()
                if traced:
                    self.sc.setJobGroup(qid, "plan")
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    t2 = time.time()
                self.sc.setJobGroup(qid, "execute")
                pdf = df.toPandas()
                t3 = time.time()
                cpu1, jit1 = self.cpu.sample()
                rec.update(t0=t0, t1=t1, t2=t2, t3=t3, rows=len(pdf),
                           cpu_s=cpu1 - cpu0, jit_cpu_s=jit1 - jit0)
                if traced:
                    rec["catalyst"] = _catalyst(qe)
            except Exception as ex:  # counted as a failure, never dropped
                rec["error"] = f"{type(ex).__name__}: {ex}"[:2000]
                rec["t0"], rec["t3"] = rec.get("t0", time.time()), time.time()
            records.append(rec)
            frames.append(pdf)
        end = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        for rec, pdf in zip(records, frames):
            rec["ok"] = pdf is not None and result_hash(pdf) == self.expected[rec["id"]]
        return {"traced": traced, "start": start, "end": end, "queries": records}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--fixtures", required=True)
    p.add_argument("--expected", required=True, help="JSON file: id -> oracle hash")
    p.add_argument("--scratch", required=True, help="lake directory for writes")
    p.add_argument("--eventlog", required=True)
    p.add_argument("--tmp", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--heap-gb", type=int, required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--break-query", default=None,
                   help="make this query id raise, to test failure counting")
    a = p.parse_args()

    from opay_datalake_script_spark import get_spark
    from opay_datalake_script_spark.registry import QUERIES, load_all_queries
    from opay_datalake_script_spark.sources import io as lake_io

    # Every run writes into its own, empty lake inside the run directory.
    if not hasattr(lake_io, "SCRATCH_DIR"):
        raise SystemExit("sources.io.SCRATCH_DIR is gone: point the lake elsewhere")
    shutil.rmtree(a.scratch, ignore_errors=True)
    lake_io.SCRATCH_DIR = a.scratch

    conf = {
        "spark.driver.memory": f"{a.heap_gb}g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={a.tmp} -XX:-UsePerfData"
                                         " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if a.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{a.eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    out: dict = {"heap_gb": a.heap_gb}
    spark = get_spark(app_name=f"perfbench-{a.workload}", cpus=a.cores, extra_conf=conf)
    out["session_ready"] = time.time()
    load_all_queries()
    out["registry_ready"] = time.time()
    queries = dict(QUERIES)
    if a.break_query:
        def broken(spark, sf_dir, _qid=a.break_query):
            raise RuntimeError(f"{_qid} broken on purpose")
        queries[a.break_query] = broken

    with open(a.expected) as f:
        expected = json.load(f)
    ids = list(WORKLOADS[a.workload].queries)
    rng = random.Random(a.seed)

    def order() -> list[str]:
        return rng.sample(ids, len(ids))

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    out.update(jvm_pid=jvm_pid, app_id=spark.sparkContext.applicationId)
    client = Client(spark, queries, a.fixtures, expected, CpuMeter(jvm_pid))
    passes = [client.run_pass(order(), traced=False)]
    out["warmup_end"] = passes[0]["end"]

    r0, w0 = _io(jvm_pid)
    for _ in range(WORKLOADS[a.workload].passes(a.seconds)):
        passes.append(client.run_pass(order(), traced=False))
    r1, w1 = _io(jvm_pid)
    out.update(rchar=r1 - r0, wchar=w1 - w0)
    if a.trace:
        gc0 = _gc_s(spark._jvm)
        passes.append(client.run_pass(order(), traced=True))
        out["traced_gc_s"] = _gc_s(spark._jvm) - gc0
    out["passes"] = passes
    spark.stop()  # flushes the event log
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
