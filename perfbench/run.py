#!/usr/bin/env python3
"""Benchmark the operator registry on one named workload.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the repository root.  One process, one client, closed loop: the
workload's keys (``workloads.py``) run back to back on a ``local[nproc]``
session.  For each key two calls into the package are timed from outside:

- ``build``: ``QUERIES[key](spark, data_dir)``: Python construction,
  Catalyst analysis and every eager checkpoint or gating aggregate;
- ``run``: the ``noop`` write of the returned frame.

Each call runs in its own Spark job group ``<workload>/<key>/<phase>``, so
scheduler jobs are counted per phase.  The first pass warms the JVM: its
``run`` call collects the frame instead, which is compared (untimed) with
the key's DuckDB oracle (``parity.compare_frames``), and it is left out of
the metrics.  Timed passes then repeat until at least three have run and
they add up to ``--seconds``.  ``wall_s`` sums each key's fastest timed pass and
``cpu_s`` is the least CPU a timed pass took; the other metrics are medians
over the timed passes.

``setup_s`` is the median of ``SETUPS`` cold set-ups, each from the start
of a fresh process to the end of the warm-up query: first in child
processes started with ``--set-up-only``, then in this one.

The inputs are the seed's row permutation of the corpus in ``data/``
(``inputs.py``), written into ``.perfbench/`` at the repository root
outside any timing; the package receives only that directory.  Scratch
files, the sinks' work directories and the event log also stay under
``.perfbench/``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics: the session is started with Spark's event log on, the log is
folded per job group (``eventlog.py``) and a span tree (pass, key, phase,
Spark job) is written to ``.perfbench/trace/``.  The last line of stdout
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUPS = 2          # cold set-ups per run, each in its own process; setup_s is their median
WARMUP_PASSES = 1   # untimed for the metrics: JIT warm-up and oracle check
MIN_TIMED = 3       # timed passes per run, at least
PHASES = ("build", "run")

sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from workloads import TABLES, WORKLOADS, warm_up  # noqa: E402


# ---------------------------------------------------------------- /proc


def _proc_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the process tree: this process, the JVM and the Python
    workers.  Exited children are included once their parent reaps them."""
    total = 0
    for pid in descendants(root):
        st = _proc_stat(pid)
        if st is not None:
            total += st[1]
    return total / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------- spans


class Spans:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.rows.append(
            {"id": len(self.rows), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.rows) - 1


# ---------------------------------------------------------------- session


def _environment(trace: bool, cpus: int) -> tuple[str, str | None]:
    """Point every scratch path into ``.perfbench/tmp/<pid>`` and, when
    tracing, turn the event log on.  Must run before the JVM starts.
    Returns the scratch directory and the event-log directory."""
    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}",
              "--conf spark.ui.showConsoleProgress=false"]
    log_dir = None
    if trace:
        log_dir = os.path.join(STATE, "eventlog", str(os.getpid()))
        os.makedirs(log_dir, exist_ok=True)
        # one plain file: Spark 4 otherwise rolls the log into a directory
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.rolling.enabled=false",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return tmp, log_dir


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every process below this
    one (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline:
        alive = [p for p in kids if _proc_stat(p) is not None]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after shutdown: {alive}")


# ---------------------------------------------------------------- the run


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def _set_up(workload: str, data_dir: str, age0: float):
    """A cold set-up: import the package, start the session (which launches
    the JVM) and run the untimed warm-up query.  ``age0`` is the process's
    age when ``main`` began, so the set-up counts from process start but
    leaves out input generation.  Returns the session and the set-up's
    (total, get_spark, warm-up) seconds."""
    t0 = time.time()
    from task_mapreduce_spark.session import get_spark
    import task_mapreduce_spark.operators  # noqa: F401  (fills the registry)

    t1 = time.time()
    spark = get_spark(f"perfbench-{workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.time()
        _noop(warm_up(spark, data_dir))
        t3 = time.time()
    except BaseException:
        _shutdown(spark)
        raise
    return spark, (age0 + t3 - t0, t2 - t1, t3 - t2)


def _child_set_ups(workload: str, seed: int) -> list[tuple[float, float, float]]:
    """``SETUPS - 1`` cold set-ups, one after another, each in a fresh
    process that sets up, stops its session and exits."""
    out = []
    for _ in range(SETUPS - 1):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--seed", str(seed), "--seconds", "0", "--set-up-only"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=150, check=True)
        out.append(tuple(json.loads(proc.stdout.strip().splitlines()[-1])))
    return out


def _passes(spark, workload: str, data_dir: str, seconds: float, spans: Spans) -> dict:
    """The warm-up pass, with the oracle check after each key, then the
    timed passes."""
    from task_mapreduce_spark.parity import compare_frames, duck_con
    from task_mapreduce_spark.registry import ORACLES, QUERIES

    sc = spark.sparkContext
    me = os.getpid()
    passes: list[dict] = []
    job_seen: dict[str, int] = {}
    failed: set[str] = set()
    errors: list[str] = []
    timed = 0.0
    con = duck_con(data_dir)
    steal0, total0 = host_cpu_ticks()
    while len(passes) < WARMUP_PASSES + MIN_TIMED or timed < seconds:
        n_pass = len(passes)
        p = {"wall": 0.0, "cpu": 0.0, "key_wall": {}, "jobs": {ph: 0 for ph in PHASES},
             "phase_s": {ph: 0.0 for ph in PHASES}, "mod": {}}
        p_span = spans.add(f"pass{n_pass}", time.time(), 0.0, None)
        for key in WORKLOADS[workload]:
            module = QUERIES[key].__module__.rsplit(".", 1)[-1]
            k_span = spans.add(key, time.time(), 0.0, p_span, module=module)
            c0 = tree_cpu_s(me)
            marks = [time.time()]
            df = pdf = None
            try:
                for phase in PHASES:
                    group = f"{workload}/{key}/{phase}"
                    # the description carries the pass into the event log
                    sc.setJobGroup(group, f"pass{n_pass}")
                    if phase == "build":
                        df = QUERIES[key](spark, data_dir)
                    elif n_pass < WARMUP_PASSES:
                        # the warm-up pass collects the frame for the oracle check
                        pdf = df.toPandas()
                    else:
                        _noop(df)
                    marks.append(time.time())
                    spans.add(phase, marks[-2], marks[-1], k_span, group=group,
                              **{"pass": n_pass})
            except Exception as exc:  # noqa: BLE001 - a failing key is a result
                failed.add(key)
                errors.append(f"{key}: {type(exc).__name__}: {str(exc)[:300]}")
                marks += [time.time()] * (3 - len(marks))
                pdf = None
            cpu = tree_cpu_s(me) - c0
            spans.rows[k_span]["end"] = marks[-1]
            m = p["mod"].setdefault(module, {"build_s": 0.0, "run_s": 0.0, "jobs": 0})
            line = f"[perfbench] {workload} pass{n_pass} {key}:"
            for i, phase in enumerate(PHASES):
                group = f"{workload}/{key}/{phase}"
                total = len(sc.statusTracker().getJobIdsForGroup(group))
                n = total - job_seen.get(group, 0)
                job_seen[group] = total
                p["jobs"][phase] += n
                p["phase_s"][phase] += marks[i + 1] - marks[i]
                m[f"{phase}_s"] += marks[i + 1] - marks[i]
                m["jobs"] += n
                line += f" {phase} {marks[i + 1] - marks[i]:.3f}s/{n} jobs"
            p["wall"] += marks[-1] - marks[0]
            p["key_wall"][key] = marks[-1] - marks[0]
            p["cpu"] += cpu
            if n_pass >= WARMUP_PASSES:
                timed += marks[-1] - marks[0]
            print(line, file=sys.stderr, flush=True)
            if pdf is not None:
                # oracle check of the rows just collected; untimed
                try:
                    sql = ORACLES.get(key)
                    if sql is None:
                        errs = [] if len(pdf) else [f"{key}: rows-only check got 0 rows"]
                    else:
                        errs = compare_frames(pdf, con.execute(sql).fetchdf(), key)
                except Exception as exc:  # noqa: BLE001
                    errs = [f"{key}: check raised {type(exc).__name__}: {str(exc)[:300]}"]
                if errs:
                    failed.add(key)
                    errors.extend(errs[:3])
        spans.rows[p_span]["end"] = time.time()
        passes.append(p)
        print(f"[perfbench] {workload} pass{n_pass}: wall {p['wall']:.3f}s "
              f"cpu {p['cpu']:.2f}s jobs {sum(p['jobs'].values())}", file=sys.stderr, flush=True)
    steal1, total1 = host_cpu_ticks()
    steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
    print(f"[perfbench] host CPU steal during the passes: {steal_frac:.3f}",
          file=sys.stderr, flush=True)
    con.close()
    for e in errors:
        print(f"[perfbench] FAIL {e}", file=sys.stderr, flush=True)
    return {"passes": passes, "failed": failed, "steal_frac": steal_frac}


def _scan_s(spark, workload: str, data_dir: str) -> float:
    """The scan floor: ``tables.load`` plus a noop write of each table the
    workload reads."""
    from task_mapreduce_spark.tables import load

    spark.sparkContext.setJobGroup(f"{workload}/tables/scan", "scan")
    t = time.time()
    for name in TABLES[workload]:
        _noop(load(spark, data_dir, name))
    return time.time() - t


def _jvm_peak_rss_mb() -> float:
    me = os.getpid()
    jvm = [pid for pid in descendants(me) if pid != me and _comm(pid) == "java"]
    if len(jvm) != 1:
        raise RuntimeError(f"expected one JVM below pid {me}, found {jvm}")
    return vm_hwm_mb(jvm[0])


def _inputs(seed: int) -> str:
    import inputs

    return inputs.ensure(os.path.join(STATE, "inputs"), seed)


def set_up_only(workload: str, seed: int, age0: float) -> tuple[float, float, float]:
    """One cold set-up in this process, then shut down: the child side of
    ``_child_set_ups``."""
    data_dir = _inputs(seed)
    tmp, _ = _environment(False, len(os.sched_getaffinity(0)))
    try:
        spark, setup = _set_up(workload, data_dir, age0)
        _shutdown(spark)
    finally:
        shutil.rmtree(tmp)
    return setup


def run(workload: str, seed: int, seconds: float, trace: bool, age0: float) -> dict:
    cpus = len(os.sched_getaffinity(0))
    data_dir = _inputs(seed)
    setups = _child_set_ups(workload, seed)
    tmp, log_dir = _environment(trace, cpus)
    spark, setup = _set_up(workload, data_dir, age0)
    setups.append(setup)
    print("[perfbench] set-ups: " + " ".join(f"{s[0]:.3f}s" for s in setups),
          file=sys.stderr, flush=True)
    spans = Spans()
    try:
        res = _passes(spark, workload, data_dir, seconds, spans)
        # after the passes, so the scan cannot warm them
        scan_s = _scan_s(spark, workload, data_dir) if trace else 0.0
        peak_rss_mb = _jvm_peak_rss_mb()
    finally:
        _shutdown(spark)
        shutil.rmtree(tmp)

    passes = res["passes"][WARMUP_PASSES:]
    med = statistics.median
    e2e = {
        "setup_s": med(s[0] for s in setups),
        # wall_s counts each key at its fastest timed pass and cpu_s is the
        # least CPU a timed pass took: other tenants and leftover JIT work
        # only ever add, so the minimum is the steadiest estimate on a
        # shared host
        "wall_s": sum(min(p["key_wall"][k] for p in passes) for k in passes[0]["key_wall"]),
        "cpu_s": min(p["cpu"] for p in passes),
        "jobs": med(sum(p["jobs"].values()) for p in passes),
    }
    layer = {
        "session.get_spark_s": med(s[1] for s in setups),
        "session.warmup_s": med(s[2] for s in setups),
        "jvm.peak_rss_mb": peak_rss_mb,
        "tables.scan_s": scan_s,
        "registry.build_s": med(p["phase_s"]["build"] for p in passes),
        "registry.build_jobs": med(p["jobs"]["build"] for p in passes),
        "exec.run_s": med(p["phase_s"]["run"] for p in passes),
        "exec.run_jobs": med(p["jobs"]["run"] for p in passes),
        "exec.pass_s": med(p["wall"] for p in passes),
        "exec.passes": float(len(passes)),
        "exec.warmup_pass_s": sum(p["wall"] for p in res["passes"][:WARMUP_PASSES]),
        "failed_frac": len(res["failed"]) / len(WORKLOADS[workload]),
        "host.steal_frac": res["steal_frac"],
    }
    for mod in passes[0]["mod"]:
        for what in ("build_s", "run_s", "jobs"):
            layer[f"{mod}.{what}"] = med(p["mod"][mod][what] for p in passes)
    if trace:
        layer.update(_fold_trace(log_dir, workload, spans, len(res["passes"]), cpus))
        layer["trace.wall_s"] = e2e["wall_s"]
        out = os.path.join(STATE, "trace", f"{workload}-seed{seed}-{os.getpid()}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as fh:
            json.dump({"workload": workload, "seed": seed, "spans": spans.rows}, fh)
        print(f"[perfbench] spans: {out}", file=sys.stderr, flush=True)
    return {"attempted": len(WORKLOADS[workload]), "failed": len(res["failed"]),
            "e2e": e2e, "layer": layer}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except FileNotFoundError:
        return ""


def _fold_trace(log_dir: str, workload: str, spans: Spans, n_passes: int,
                cpus: int) -> dict[str, float]:
    """Per-phase ``spark.*`` metrics and ``driver.self_s`` from the event
    log, each the median over the timed passes; also hangs each Spark job
    under its phase span."""
    timed = range(WARMUP_PASSES, n_passes)
    paths = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))]
    events = [ev for path in paths for ev in eventlog.read_events(path)]
    # jobs carry their pass in the job description (setJobGroup above)
    folded = eventlog.fold(events, key=lambda props: (
        eventlog.job_group(props), props.get("spark.job.description") or ""))
    med = statistics.median
    out: dict[str, float] = {}
    for phase in PHASES:
        per_pass = []
        for n in timed:
            acc = eventlog.empty()
            for (group, desc), m in folded.items():
                if (desc == f"pass{n}" and group.startswith(f"{workload}/")
                        and group.endswith(f"/{phase}")):
                    for k, v in m.items():
                        acc[k] += v
            acc["core_util"] = (acc["executor_run_s"] / (acc["job_wall_s"] * cpus)
                                if acc["job_wall_s"] else 0.0)
            per_pass.append(acc)
        for k in ("jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
                  "job_wall_s", "job_floor_s", "executor_cpu_s", "core_util", "gc_s",
                  "shuffle_write_mb", "spill_mb", "output_mb"):
            out[f"spark.{phase}.{k}"] = med(a[k] for a in per_pass)
    intervals = eventlog.job_intervals(events)
    self_s = [0.0] * n_passes
    for row in list(spans.rows):
        if "group" not in row:
            continue
        lo, hi = row["start"], row["end"]
        mine = [(a, b) for a, b in intervals.get(row["group"], []) if a < hi and b > lo]
        self_s[row["pass"]] += (hi - lo) - eventlog.covered(mine, lo, hi)
        for a, b in mine:
            spans.add("spark.job", a, b, row["id"])
    out["driver.self_s"] = med(self_s[n] for n in timed)
    return out


def main(argv: list[str] | None = None) -> int:
    age0 = process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: one cold set-up, printed as JSON (see _child_set_ups)
    ap.add_argument("--set-up-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "task_mapreduce_spark", "__init__.py")):
        print(f"perfbench: no task_mapreduce_spark package under {ROOT}; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.set_up_only:
        print(json.dumps(set_up_only(args.workload, args.seed, age0)), flush=True)
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    res = run(args.workload, args.seed, args.seconds, bool(args.trace), age0)
    listed = bench["per_layer" if args.trace else "end_to_end"]
    values = res["layer"] if args.trace else res["e2e"]
    # a module with no key in this workload reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in listed}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
