#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives ``local[$(nproc)]``
as a closed loop with one client: each op starts when the previous one
has returned. A run

1. makes a fresh temp dir under ``.perfbench-runs/`` in the working
   directory and points every ``SPARK_GRAFT_*_STORE`` root, the
   checkpoint dir, ``SPARK_LOCAL_DIRS`` and the JVM's temp dir at it, so
   every store is built cold; the dir is removed on exit;
2. generates the workload's inputs (see ``datagen.py``);
3. sets up: starts the Spark session and runs one untimed, checked
   pass, which builds every store cold; ``setup_s`` runs from process
   start to the first timed op;
4. runs ``--seconds / nominal_pass_s`` timed passes, at least two
   (three, and an odd count, when traced),
   checking every op's result (``nominal_pass_s`` is a workload's pass
   time on 4 cores when the benchmark was defined, so a run measures
   about ``--seconds`` there);
5. prints one JSON line: end-to-end metrics with ``--trace 0``, the
   per-layer metrics of ``BENCHMARK.json`` with ``--trace 1``.

With ``--trace 1`` the Spark event log goes to the run dir and is parsed
per op job group once the session stops; passes alternate untraced and
traced so ``trace.overhead`` compares the two.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

STORE_ENVS = (
    "GRAPH", "INT8", "UNIGRAM", "GRAPH_STATS", "PQ", "IVF", "WALK", "TEXT",
    "CLUSTERED", "IVFPQ", "WORDPIECE", "BPE", "BUCKET",
)


def cpu_count() -> int:
    """Cores as ``nproc`` reports them: the scheduler affinity mask."""
    return len(os.sched_getaffinity(0))


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _proc_cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds of this process plus every live descendant (the
    Spark JVM and its Python workers)."""
    kids = _proc_children()
    total = time.process_time()
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        total += _proc_cpu_s(pid)
        todo.extend(kids.get(pid, []))
    return total


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> float:
    """JVM ``VmHWM`` plus this process's max RSS."""
    hwm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


class Run:
    def __init__(self, args):
        self.args = args
        self.workload_name = args.workload
        self.trace = bool(args.trace)
        base = os.path.join(os.getcwd(), ".perfbench-runs")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
        self.store_roots = [os.path.join(self.dir, "stores", n.lower()) for n in STORE_ENVS]
        self.spark = None
        self.records: list[dict] = []  # one per op
        self.stderr_log = os.path.join(self.dir, "jvm.stderr")

    # -- environment ------------------------------------------------------
    def configure_env(self) -> None:
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(cpu_count())
        for name, root in zip(STORE_ENVS, self.store_roots):
            env[f"SPARK_GRAFT_{name}_STORE"] = root
        env["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(self.dir, "checkpoint")
        env["SPARK_GRAFT_GEPHI_DIR"] = os.path.join(self.dir, "gephi")
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp)
        env["TMPDIR"] = tmp
        tempfile.tempdir = None
        # Python workers import the package; they do not see sys.path
        env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
        if REPO not in sys.path:
            sys.path.insert(0, REPO)

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.dir, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            log_dir = os.path.join(self.dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    # -- session and stores -----------------------------------------------
    def start_session(self):
        from github_miner_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=self.spark_conf())
        self.session_start_s = time.perf_counter() - t0
        self.workload.on_session(self.spark)

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- passes -----------------------------------------------------------
    def run_pass(self, kind: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        self.tracer.enabled = traced
        cpu0 = tree_cpu_s()
        span0 = len(self.tracer.spans)
        ops = []
        for name in self.workload.pass_ops():
            op_id = len(self.records)
            group = f"op{op_id}"
            sc.setJobGroup(group, f"{kind} {name}")
            self.tracer.op = op_id
            err_off0 = os.path.getsize(self.stderr_log)
            try:
                res = self.workload.run_op(self.spark, name, self.tracer)
                rec = {"name": name, "seconds": res.seconds, "rows": res.rows, "ok": res.ok, "error": res.error}
            except Exception as exc:  # a failed op counts against error_rate; the loop goes on
                rec = {"name": name, "seconds": 0.0, "rows": 0, "ok": False, "error": repr(exc)[:300]}
            rec.update(group=group, err_span=(err_off0, os.path.getsize(self.stderr_log)))
            self.records.append(rec)
            ops.append(rec)
        cpu = tree_cpu_s() - cpu0
        self.tracer.op = -1
        self.tracer.enabled = False
        sc.setJobGroup("check", "result check")
        problem = self.workload.end_pass(self.spark)
        if problem:
            ops[-1]["ok"] = False
            ops[-1]["error"] = problem
        for rec in ops:
            if not rec["ok"]:
                self.log(f"op {rec['name']} failed: {rec['error']}")
        return {
            "traced": traced, "seconds": sum(r["seconds"] for r in ops),
            "cpu_s": cpu, "ops": ops, "spans": (span0, len(self.tracer.spans)),
        }

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=self.real_stderr, flush=True)

    # -- main ---------------------------------------------------------------
    def execute(self) -> dict:
        import spans
        import workloads

        self.workload = workloads.make(self.workload_name, self.dir, self.args.seed)
        self.workload.prepare()
        self.tracer = spans.Tracer(self.store_roots)
        if self.trace:
            import github_miner_spark.registry as registry

            registry.load_all()
            self.tracer.install()

        self.tracer.enabled = self.trace
        self.start_session()
        cold = self.run_pass("setup", traced=self.trace)
        setup_s = process_age_s()

        # A fixed pass count per --seconds, not a deadline: passes keep
        # getting faster for a while (JIT, Python workers), so a median
        # over a count that varied with speed would be bimodal, and two
        # commits must be compared over the same passes.
        timed = []
        n_passes = max(2, round(self.args.seconds / self.workload.nominal_pass_s))
        if self.trace:
            # untraced, traced, untraced, ...: each traced pass sits
            # between two untraced ones, so warm-up drift cancels in
            # trace.overhead
            n_passes = max(3, n_passes | 1)
        while len(timed) < n_passes:
            traced = self.trace and len(timed) % 2 == 1
            timed.append(self.run_pass("timed", traced))
        store_bytes = self.workload.output_bytes(self.store_roots)
        rss = peak_rss_mb(self.spark)
        self.stop_session()

        attempted = len(self.records)
        failed = sum(1 for r in self.records if not r["ok"])
        if self.trace:
            metrics = self.layer_metrics(cold, timed, rss)
        else:
            metrics = self.end_to_end(setup_s, timed, store_bytes)
        self.log(
            f"{self.workload_name} seed={self.args.seed} setup={setup_s:.2f} cold={cold['seconds']:.2f} "
            f"passes={[round(p['seconds'], 2) for p in timed]} attempted={attempted} failed={failed}"
        )
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    def end_to_end(self, setup_s: float, timed: list[dict], store_bytes: int) -> dict:
        import checks

        ops = [r for p in timed for r in p["ops"]]
        op_s = [r["seconds"] for r in ops]
        tail = checks.tail_percentile(len(op_s))
        if tail is not None and tail > 50:
            self.log(f"op p{tail:g} = {checks.percentile(op_s, tail):.4f}s over {len(op_s)} ops")
        m = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(p["seconds"] for p in timed), "s"),
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
            "op_p50_s": (statistics.median(op_s), "s"),
            "rows_per_s": (sum(r["rows"] for r in ops) / sum(op_s), "1/s"),
            "store_bytes_per_input_byte": (store_bytes / self.workload.input_bytes, "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def layer_metrics(self, cold: dict, timed: list[dict], rss: float) -> dict:
        import eventlog

        tr = self.tracer
        groups = eventlog.parse(os.path.join(self.dir, "eventlog"))
        with open(self.stderr_log, encoding="utf-8", errors="replace") as f:
            err_text = f.read()

        def pass_layers(p: dict) -> dict[str, float]:
            lo, hi = p["spans"]
            sp = tr.spans[lo:hi]
            out: dict[str, float] = {}

            def add(k, v):
                out[k] = out.get(k, 0.0) + v

            for s in sp:
                add(f"{s.layer}.self_s", s.self_s)
                add(f"{s.layer}.calls", 1)
                if s.parent < 0 or tr.spans[s.parent].layer != s.layer:
                    add(f"{s.layer}.total_s", s.dur)
                if "builds" in s.info:
                    add("store.builds", s.info["builds"])
                    add("store.mb", s.info["bytes"] / 1e6)
                    if s.info["builds"]:
                        add("store.build_s", s.dur)
                    else:
                        add("store.hits", 1)
                if s.layer == "etl.level" and s.parent >= 0 and tr.spans[s.parent].layer == "etl.closure":
                    add("etl.closure_levels", 1)
                if s.layer == "io.parquet_write":
                    add("io.write_mb", s.info.get("bytes", 0) / 1e6)
            for rec in p["ops"]:
                g = groups.get(rec["group"], {})
                for k in ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_mb",
                          "shuffle_write_mb", "spill_mb", "gc_s"):
                    add(f"spark.{k}", g.get(k, 0))
                a, b = rec["err_span"]
                lost = "non-existent accumulator" in err_text[a:b]
                add("spark.incomplete_ops", 1 if (lost or not g.get("complete", True)) else 0)
                if rec["name"] == "replay0":
                    add("etl.replay_s", rec["seconds"])
            return out

        traced = [pass_layers(p) for p in timed if p["traced"]]
        cold_layers = pass_layers(cold)

        def med(key: str) -> float:
            return statistics.median(t.get(key, 0.0) for t in traced)

        untraced_s = statistics.median(p["seconds"] for p in timed if not p["traced"])
        traced_s = statistics.median(p["seconds"] for p in timed if p["traced"])
        m = {
            "session.start_s": (self.session_start_s, "s"),
            "process.peak_rss_mb": (rss, "MB"),
            "store.build_s": (cold_layers.get("store.build_s", 0.0), "s"),
            "store.builds": (cold_layers.get("store.builds", 0.0), "count"),
            "store.mb": (cold_layers.get("store.mb", 0.0), "MB"),
            "store.hits": (med("store.hits"), "count"),
            "store.pass_builds": (sum(t.get("store.builds", 0.0) for t in traced), "count"),
            "queries.construct_s": (med("queries.total_s"), "s"),
            "catalyst.plan_s": (med("catalyst.total_s"), "s"),
            "spark.exec_s": (med("spark.exec.total_s"), "s"),
        }
        for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("task_cpu_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                        ("spill_mb", "MB"), ("gc_s", "s"), ("incomplete_ops", "count")):
            m[f"spark.{k}"] = (med(f"spark.{k}"), unit)
        for layer in ("graph.algorithms", "graph.paths", "graph.procedures", "graph.mutations",
                      "cypher", "functions.text", "functions.dedup", "functions.similarity"):
            m[f"{layer}.self_s"] = (med(f"{layer}.self_s"), "s")
        for layer in ("graph.algorithms", "graph.paths", "cypher", "functions.pin"):
            m[f"{layer}.calls"] = (med(f"{layer}.calls"), "count")
        m.update({
            "etl.read_lake_s": (med("etl.read_lake.total_s"), "s"),
            "etl.closure_s": (med("etl.closure.total_s"), "s"),
            "etl.closure_levels": (med("etl.closure_levels"), "count"),
            "etl.merge_s": (med("etl.insert.self_s"), "s"),
            "etl.replay_s": (med("etl.replay_s"), "s"),
            "io.parquet_write_s": (med("io.parquet_write.total_s"), "s"),
            "io.write_mb": (med("io.write_mb"), "MB"),
            "trace.overhead": (traced_s / untraced_s, "ratio"),
        })
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def parse_args(argv):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    # JVM and Spark logging go to a file in the run dir; our own
    # diagnostics to the original stderr
    real_fd = os.dup(2)
    run.real_stderr = os.fdopen(real_fd, "w", buffering=1)
    log_fd = os.open(run.stderr_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        run.configure_env()
        result = run.execute()
    except BaseException:
        run.real_stderr.write(traceback.format_exc())
        try:
            with open(run.stderr_log, encoding="utf-8", errors="replace") as f:
                run.real_stderr.write(f.read()[-4000:])
        except OSError:
            pass
        return 1
    finally:
        try:
            run.stop_session()
        except Exception:
            run.real_stderr.write(traceback.format_exc())
        os.dup2(real_fd, 2)
        shutil.rmtree(run.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.dir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
