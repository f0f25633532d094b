"""One benchmark run of one workload mix.

    python3 perfbench/run.py --workload slide_relational --seed 1 \
        --seconds 5 --trace 0

Run from the repository root.  A run is hermetic: it writes the input
tables (the same in every run), a private TMPDIR, warehouse and Spark
local dirs under ``.perfbench_work/`` and removes them when it ends.  It
sets the session up three times (the first start launches the JVM),
warms the final session up once more without timing it, then makes
closed-loop passes over the mix from one driver thread (the mix's lead
gate first, the rest in an order set by the seed) until ``--seconds``
have been measured, always at least one whole pass.  Every gate's
result is sunk through the Arrow egress (``convert.as_arrow``) and
checked against its DuckDB oracle after the timed region.  ``--trace 1``
adds layer spans, the Spark event log and a streaming listener, and
reports per-layer metrics instead of end-to-end ones.  The last stdout
line is one JSON object; the full record of the run is kept in
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(HERE))

from mixes import MIXES  # noqa: E402

# scale factor of the generated tables: small enough that one cold pass of
# every mix fits one run.  The data is the same in every run; --seed sets
# only the order of the gates within a pass.
SCALE = 0.001
DATA_SEED = 42
N_SETUPS = 3
PHASES = ("construct", "plan", "action")
LAYERS = ("session", "sources", "functions", "operators", "concurrency",
          "convert", "streaming") + tuple(
    f"extended.{m}" for m in ("similarity", "ml", "graph", "events", "profile",
                              "dedup", "text", "sketches", "multimodal"))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def hermetic_env(work: Path, spark_conf: dict[str, str]) -> None:
    """Private temp/warehouse/local dirs and pinned engine settings.  The
    environment reaches the JVM and its Python workers; the Spark confs
    become JVM defaults, so every session the run starts gets them."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        **spark_conf,
    }
    os.environ.update({
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell",
    })
    tempfile.tempdir = str(tmp)


class Session:
    """Repeated set-up of the package's session, then the live modules."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.spark = None
        self.setup_s: list[float] = []

    def setup(self) -> None:
        """Import the package afresh, start a session, run the warm-up
        action (a table scan through the Arrow egress); time all of it."""
        if self.spark is not None:
            self.spark.stop()
        for name in [n for n in sys.modules if n == "pandasy_spark" or n.startswith("pandasy_spark.")]:
            del sys.modules[name]
        t0 = time.perf_counter()
        self.workload = importlib.import_module("pandasy_spark.workload")
        session = importlib.import_module("pandasy_spark.session")
        self.sources = importlib.import_module("pandasy_spark.sources")
        self.convert = importlib.import_module("pandasy_spark.convert")
        self.functions = importlib.import_module("pandasy_spark.functions")
        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.convert.as_arrow(self.sources.load_table(self.spark, self.data_dir, "region"))
        self.setup_s.append(time.perf_counter() - t0)

    def prime(self) -> float:
        """Untimed pre-pass warm-up of the final session; returns seconds.

        Joins, aggregates, a window, a broadcast, a checkpoint, the
        package's string, date and number casts and pattern matches,
        and an Arrow-batched Python map that imports the package on
        every core: the one-time costs every mix pays (optimizer and
        codegen warm-up, Python worker start and package import) fall
        here instead of on the first gates of the pass.  Without the
        casts, whichever of ``expr_casts`` and ``expr_predicates`` ran
        first took 1 to 2 s longer."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        spark, as_arrow = self.spark, self.convert.as_arrow
        t = {n: self.sources.load_table(spark, self.data_dir, n)
             for n in ("lineitem", "orders", "customer", "nation")}
        li, od, cu, na = t["lineitem"], t["orders"], t["customer"], t["nation"]
        per_nation = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .join(cu, od.o_custkey == cu.c_custkey)
            .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
            .groupBy("n_name", "o_orderstatus")
            .agg(F.sum(li.l_extendedprice * (1 - li.l_discount)).alias("revenue"),
                 F.countDistinct("o_custkey").alias("customers"))
            .localCheckpoint(eager=True)
        )
        ranked = per_nation.withColumn(
            "rank", F.rank().over(Window.partitionBy("o_orderstatus").orderBy(F.desc("revenue"))))
        as_arrow(ranked.where(F.col("rank") <= 3))
        fn = self.functions
        as_arrow(li.select(
            fn.cast(fn.cast(F.col("l_extendedprice"), "str", input_type="double"),
                    "long", input_type="str"),
            fn.cast(fn.cast(F.col("l_shipdate"), "str", input_type="datetime"),
                    "datetime", input_type="str"),
            fn.cast(fn.cast(F.col("l_shipdate"), "date", input_type="datetime"),
                    "str", input_type="date"),
            fn.like(F.col("l_returnflag"), "%r%", ignore_case=True),
            fn.is_in(F.col("l_linestatus"), ["F", None], True),
        ))

        def import_package(batches):
            # runs in the Python workers (a nested function pickles by value)
            import pandasy_spark.workload  # noqa: F401

            yield from batches

        n = spark.sparkContext.defaultParallelism
        as_arrow(spark.range(0, n, numPartitions=n).mapInPandas(import_package, "id long"))
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Peak(threading.Thread):
    """Samples the tree's resident memory every 0.2 s."""

    def __init__(self, tree) -> None:
        super().__init__(daemon=True)
        self.tree, self.peak = tree, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.peak = max(self.peak, self.tree.rss_mb())

    def finish(self) -> float:
        self._stop_evt.set()
        self.join()
        return max(self.peak, self.tree.rss_mb())


def run_gate(sess: Session, name: str, rec: dict, tracer) -> None:
    """Construct, plan and sink one gate, timing each phase into ``rec``."""
    phase = None
    try:
        for phase in PHASES:
            idx = tracer.open(phase, "workload") if tracer else None
            t0 = time.perf_counter()
            try:
                if phase == "construct":
                    df = sess.workload.QUERIES[name](sess.spark, sess.data_dir)
                elif phase == "plan":
                    # Catalyst analysis, optimization and physical planning
                    df._jdf.queryExecution().executedPlan()
                else:
                    rec["result"] = sess.convert.as_arrow(df)
            finally:
                rec[phase] = time.perf_counter() - t0
                if tracer:
                    tracer.close(idx)
    except Exception as exc:  # noqa: BLE001 - a failing gate is counted, not fatal
        rec["error"] = f"{phase}: {type(exc).__name__}: {exc}".splitlines()[0][:300]


def run_passes(sess: Session, mix, seed: int, seconds: float, tree, tracer):
    """Closed-loop passes; returns (passes, gate records)."""
    sc = sess.spark.sparkContext
    rng = random.Random(seed)
    lead, rest = mix[0], list(mix[1:])
    passes, gates = [], []
    t_begin = time.perf_counter()
    while not passes or time.perf_counter() - t_begin < seconds:
        rng.shuffle(rest)
        order = [lead] + rest
        p = len(passes)
        cpu0, w0 = tree.cpu_s(), time.perf_counter()
        for name in order:
            gid = f"p{p}:{name}"
            sc.setJobGroup(gid, gid)
            rec = {"id": gid, "gate": name, "pass": p, "error": None, "result": None}
            if tracer:
                tracer.gate = gid
                idx = tracer.open(f"gate:{name}", "workload")
            rec["t0"], t0 = time.time(), time.perf_counter()
            run_gate(sess, name, rec, tracer)
            rec["wall"], rec["t1"] = time.perf_counter() - t0, time.time()
            if tracer:
                tracer.close(idx)
                tracer.gate = None
            gates.append(rec)
        sc.setLocalProperty("spark.jobGroup.id", None)
        passes.append({"wall": time.perf_counter() - w0, "cpu": tree.cpu_s() - cpu0})
    return passes, gates


def end_to_end(setup_s, passes, gates, peak_mb: float):
    """name -> (value, unit, sample count)."""
    lat = [g["wall"] for g in gates]
    return {
        "setup_s": (statistics.median(setup_s), "s", len(setup_s)),
        "wall_s": (statistics.median(p["wall"] for p in passes), "s", len(passes)),
        "query_p50_s": (statistics.median(lat), "s", len(lat)),
        "query_p90_s": (statistics.quantiles(lat, n=10, method="inclusive")[8], "s", len(lat)),
        "cpu_s": (statistics.median(p["cpu"] for p in passes), "s", len(passes)),
        "peak_rss_mb": (peak_mb, "MiB", 1),
    }


def per_layer(tracer, gates, n_pass: int, engine, stream):
    """name -> (value per pass, unit); per-gate engine counters are added
    to the gate records."""
    from eventlog import ENGINE_KEYS, attribute
    from spans import self_times

    spans = tracer.spans
    selfs = self_times(spans)
    calls: dict[str, int] = {}
    self_s: dict[str, float] = {}
    phase_s = dict.fromkeys(PHASES, 0.0)
    egress = 0.0
    for s, own in zip(spans, selfs):
        if s.layer == "workload":
            if s.name in phase_s:
                phase_s[s.name] += s.end - s.start
            continue
        calls[s.layer] = calls.get(s.layer, 0) + 1
        self_s[s.layer] = self_s.get(s.layer, 0.0) + own
        if s.layer == "convert" and s.parent is not None and spans[s.parent].name == "action":
            egress += s.end - s.start
    by_layer = attribute(engine, [(s.start, s.end, s.layer) for s in spans])
    by_gate = attribute(engine, [(g["t0"], g["t1"], g["id"]) for g in gates])
    for g in gates:
        g["engine"] = by_gate.get(g["id"], {})
        g["engine"]["jobs_own_group"], g["engine"]["jobs_own_group_in_window"] = (
            engine.group_jobs(g["id"], g["t0"], g["t1"]))
    out: dict[str, tuple[float, str]] = {
        f"workload.{ph}_s": (v, "s") for ph, v in phase_s.items()
    }
    out["convert.egress_s"] = (egress, "s")
    for layer in LAYERS + tuple(sorted(set(calls) - set(LAYERS))):
        out[f"{layer}.calls"] = (calls.get(layer, 0), "count")
        out[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
        out[f"{layer}.jobs"] = (by_layer.get(layer, {}).get("jobs", 0), "count")
    for k in ENGINE_KEYS:
        total = sum(v[k] for key, v in by_gate.items() if key is not None)
        out[f"spark.{k}"] = (total, _unit(k))
    out["spark.jobs_outside_gates"] = (by_gate.get(None, {}).get("jobs", 0), "count")
    for k, v in stream.items():
        out[f"streaming.{k}"] = (v, _unit(k))
    return {k: (v / n_pass, u) for k, (v, u) in out.items()}


def _unit(key: str) -> str:
    return "s" if key.endswith("_s") else "bytes" if key.endswith("bytes") else "count"


def report(args, metrics, n_samples, setup_s, gates, failures, notes) -> None:
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"scale={SCALE} passes={1 + max(g['pass'] for g in gates)} gate_runs={len(gates)}")
    for name, (value, unit) in metrics.items():
        n = n_samples.get(name)
        print(f"  {name:28s} {value:16.6f} {unit:6s}" + (f" n={n}" if n else ""))
    print(f"  {'error_rate':28s} {len(failures) / len(gates):16.6f} ratio  "
          f"n={len(gates)} ({len(failures)} failed)")
    print("  set-ups (s): " + ", ".join(f"{s:.3f}" for s in setup_s)
          + "  (the first starts the JVM)")
    for gid, why in failures:
        print(f"  FAILED {gid}: {why}")
    for g in gates:
        line = (f"  gate {g['id']:36s} wall {g['wall']:8.3f} s  "
                + "  ".join(f"{ph} {g.get(ph, 0.0):7.3f}" for ph in PHASES))
        if "engine" in g:
            line += (f"  jobs {g['engine'].get('jobs', 0):4d}"
                     f"  untagged {g['engine'].get('jobs_untagged', 0):4d}")
        print(line)
    for line in notes:
        print(f"  {line}")


def invoke(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """Run this script in a child process; returns its JSON result line
    and the full record it kept."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    record = WORK / "results" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(proc.stdout.strip().splitlines()[-1]), json.loads(record.read_text())


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "pandasy_spark" / "__init__.py").is_file():
        print(f"perfbench: no pandasy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = declared["per_layer" if args.trace else "end_to_end"]

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        spark_conf = {}
        if args.trace:
            (work / "eventlog").mkdir(parents=True)
            spark_conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        hermetic_env(work, spark_conf)
        import datagen
        from procstat import ProcessTree

        data_dir = datagen.write_tables(str(work / "data"), DATA_SEED, SCALE)
        tree = ProcessTree()
        sess = Session(data_dir)
        tracer = stream = None
        try:
            for _ in range(N_SETUPS):
                sess.setup()
            prime_s = sess.prime()
            from pyspark import SparkContext

            tree.jvm = SparkContext._gateway.proc.pid
            if args.trace:
                from spans import Tracer
                from streamstats import StreamStats

                tracer = Tracer()
                tracer.install()
                stream = StreamStats()
                sess.spark.streams.addListener(stream)
            app_id = sess.spark.sparkContext.applicationId
            peak = Peak(tree)
            peak.start()
            passes, gates = run_passes(sess, MIXES[args.workload], args.seed,
                                       args.seconds, tree, tracer)
            peak_mb = peak.finish()
            if stream is not None:
                time.sleep(1.0)  # the listener bus delivers the last progress late
                sess.spark.streams.removeListener(stream)
        finally:
            sess.stop()

        from oracle import Oracle

        oracle = Oracle(data_dir, datagen.TABLES, sess.workload.ORACLES)
        try:
            for g in gates:
                g["check"] = g["error"] or oracle.check(g["gate"], g.pop("result"))
        finally:
            oracle.close()
        failures = [(g["id"], g["check"]) for g in gates if g["check"]]

        notes = [f"pre-pass warm-up {prime_s:.3f} s (after the set-ups, not timed)"]
        if args.trace:
            from eventlog import EngineLog

            engine = EngineLog(str(work / "eventlog" / app_id))
            metrics = per_layer(tracer, gates, len(passes), engine, stream.totals())
            n_samples = {}
            traced_wall = statistics.median(p["wall"] for p in passes)
            notes.append(f"traced wall_s {traced_wall:.6f} s; the tracing overhead is this "
                         "minus wall_s of an untraced run of the same seed")
            (WORK / "traces").mkdir(exist_ok=True)
            tracer.dump(str(WORK / "traces" / f"{args.workload}-seed{args.seed}.json"))
        else:
            e2e = end_to_end(sess.setup_s, passes, gates, peak_mb)
            metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
            n_samples = {k: n for k, (_, _, n) in e2e.items()}
            traced_wall = None
        report(args, metrics, n_samples, sess.setup_s, gates, failures, notes)
        (WORK / "results").mkdir(exist_ok=True)
        (WORK / "results" / f"{tag}.json").write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "scale": SCALE, "data_seed": DATA_SEED, "setup_s": sess.setup_s,
            "prime_s": prime_s, "passes": passes,
            "traced_wall_s": traced_wall,
            "metrics": {k: {"value": v, "unit": u, "n": n_samples.get(k)}
                        for k, (v, u) in metrics.items()},
            "failures": failures, "gates": gates,
        }, indent=1))
        print(json.dumps({
            "correct": not failures,
            "attempted": len(gates),
            "failed": len(failures),
            "metrics": {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]}
                        for m in wanted},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
