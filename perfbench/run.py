"""The repository's benchmark: three workloads over dataframe_sql_spark.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

One client in one process drives ``local[N]`` Spark in a closed loop:
each op starts only after the previous result is in pandas. The seed
picks the inputs (``inputs.py``); the tables are fixed (``data.py``).
A run sets up, runs one untimed warm-up pass, then runs as many whole
timed passes as take ``--seconds`` of op time on a quiet host. Every
timed op's result is checked afterwards, outside the timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, from one untimed
reference pass followed by the same pass again with every layer
boundary traced (the difference is the tracing overhead). The full
record of a run (environment stamp, per-op latencies and layer self
times) is written to ``.perfbench/results/`` in the checkout.

See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("sql_interactive", "pandas_roundtrip", "pipeline_curation")
# a run starts no new timed pass after this many seconds of its life,
# so that it ends well inside its time limit
PASS_DEADLINE_S = 100.0
# rows of the frame the ingest probe registers in a workload that
# registers no pandas frames of its own
PROBE_REGISTER_ROWS = 100_000


def _process_age_s() -> float:
    """Seconds since this process started (Linux /proc), or 0."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_START = time.perf_counter() - _process_age_s()


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spark_cpus() -> int:
    """Spark's task slots: half the cores. The other half is left to the
    JVM's JIT and GC threads, the Python client and the host, so that a
    stage's tasks do not wait on each other's share of a busy core."""
    return max(1, _nproc() // 2)


def _configure_env(work: str, trace: bool) -> str | None:
    """Point every temporary file Spark and Python write into ``work``
    and put the repository on the Python workers' path (UDF-bearing ops
    unpickle functions from ``dataframe_sql_spark`` in the workers)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_spark_cpus()))
    submit = [
        "--driver-java-options",
        f'"-Djava.io.tmpdir={os.path.join(work, "tmp")} -XX:-UsePerfData"',
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file:{log_dir}",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return log_dir


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal), or []."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _steal_share(t0: list[int], t1: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to others between two
    ``_cpu_ticks`` readings: the host's contention during the run."""
    if len(t0) < 8 or len(t1) < 8 or sum(t1) <= sum(t0):
        return None
    return (t1[7] - t0[7]) / (sum(t1) - sum(t0))


def _slot(op) -> str:
    """Ops of a run that do the same work: one pandas_roundtrip template
    at one frame size, or one named op (every probe is one slot)."""
    return f"{op.name}@{op.size}" if op.size else op.name


def typical_latencies(latencies: list[tuple[int, object, float]]) -> list[float]:
    """Each timed op's latency replaced by the median over its slot's
    repeats in the run, so that a stall of the host during one repeat
    does not move the run's figures. ``latencies`` is (pass, op, s)."""
    slots: dict[str, list[float]] = {}
    for _, op, dt in latencies:
        slots.setdefault(_slot(op), []).append(dt)
    med = {s: statistics.median(v) for s, v in slots.items()}
    return [med[_slot(op)] for _, op, _ in latencies]


def _git_head() -> str:
    """HEAD of the checkout if it is a git work tree, read from files."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


class Runner:
    """Executes the ops of one workload against one session."""

    def __init__(self, workload, seed, spark, eng, data_dir, work, tracer):
        from dataframe_sql_spark.registry import spark_queries

        self.workload, self.seed = workload, seed
        self.spark, self.sc, self.eng = spark, spark.sparkContext, eng
        self.data_dir, self.work, self.tracer = data_dir, work, tracer
        self.qs = spark_queries()
        self._frames: dict[tuple, dict] = {}
        self.index_tag = ""
        self.latencies: list[tuple[int, object, float]] = []  # (pass, op, s), timed ops only
        self.digests: list[tuple[object, dict]] = []  # (op, digest)
        self.errors: list[tuple[str, str]] = []
        self.pass_cpu: list[float] = []  # CPU s of each timed pass (layers.tree_cpu_s)
        self.layer: dict[str, list] = {}  # per-op layer samples, traced pass
        self.only: tuple[str, ...] | None = None  # sample filter for layer probes

    # -- inputs -----------------------------------------------------------
    def frames(self, pass_no: int, op) -> dict:
        from inputs import pandas_frames

        k = (pass_no, op.frame)
        if k not in self._frames:
            if any(p != pass_no for p, _ in self._frames):
                self._frames = {}  # keep one pass's frames
            self._frames[k] = pandas_frames(self.seed, pass_no, int(op.frame), op.size)
        return self._frames[k]

    def index_dir(self, pass_no: int) -> str:
        return os.path.join(self.work, f"index-p{pass_no}{self.index_tag}")

    # -- untraced ---------------------------------------------------------
    def build(self, op, pass_no):
        """The op's DataFrame (None for ops that return no frame)."""
        from inputs import IVFPQ_PROBE, probe_vector

        if op.kind in ("sql", "pandas_sql"):
            return self.eng.query(op.sql)
        if op.kind == "catalog":
            return self.qs[op.name](self.spark, self.data_dir)
        if op.kind == "probe":
            from dataframe_sql_spark.operators.similarity import ivfpq_topk_indexed

            return ivfpq_topk_indexed(
                self.spark, self.index_dir(pass_no), probe_vector(op.probe), **IVFPQ_PROBE
            )
        return None

    def side_effect(self, op, pass_no) -> None:
        """Ops that change state instead of returning a frame."""
        from inputs import IVFPQ_WRITE

        if op.kind == "register":
            pdf = self.frames(pass_no, op)[op.args["role"]]
            self.eng.register_temp_table(pdf, op.table)
        elif op.kind == "remove":
            self.eng.remove_temp_table(op.table)
        elif op.kind == "index_write":
            from dataframe_sql_spark.operators.similarity import ivfpq_index_write
            from dataframe_sql_spark.sources.io import read_table

            ivfpq_index_write(
                read_table(self.spark, self.data_dir, "embeddings"),
                self.index_dir(pass_no),
                **IVFPQ_WRITE,
            )
        else:
            raise ValueError(op.kind)

    def run_pass(self, pass_no: int, timed: bool, traced: bool = False) -> float:
        """Run one pass untraced; returns the summed op time. ``traced``
        gives the pass the shape of a traced run's passes."""
        from inputs import workload_pass
        from layers import tree_cpu_s
        from oracle import by_name, digest

        ops = workload_pass(self.workload, self.seed, pass_no, traced)
        for op in ops:
            if op.kind == "register":
                self.frames(pass_no, op)  # generate the inputs untimed
        total = 0.0
        results = []  # checked after the pass, out of its CPU time
        c0 = tree_cpu_s()
        for op in ops:
            t0 = time.perf_counter()
            try:
                df = self.build(op, pass_no)
                pdf = df.toPandas() if df is not None else self.side_effect(op, pass_no)
            except Exception as exc:  # noqa: BLE001 - counted, run continues
                dt = time.perf_counter() - t0
                if timed:
                    self.errors.append((op.key, f"{type(exc).__name__}: {str(exc)[:300]}"))
                    self.latencies.append((pass_no, op, dt))
                total += dt
                continue
            dt = time.perf_counter() - t0
            total += dt
            if timed:
                self.latencies.append((pass_no, op, dt))
                if pdf is not None:
                    results.append((op, pdf))
            del pdf
        if timed:
            self.pass_cpu.append(tree_cpu_s() - c0)
        self.digests += [(op, digest(pdf, by_name(op))) for op, pdf in results]
        return total

    # -- traced -----------------------------------------------------------
    def _group(self, name: str) -> str:
        self.sc.setJobGroup(name, name)
        return name

    def _sample(self, layer: str, value) -> None:
        if self.only is None or layer.startswith(self.only):
            self.layer.setdefault(layer, []).append(value)

    def trace_op(self, op, pass_no) -> float:
        """Run one op with a span at every layer boundary; returns the
        op's traced wall time (checks excluded)."""
        from layers import catalyst_phases_ms, group_counts, jvm_gc_ms, storage_used_mb

        tr, key = self.tracer, op.key
        if op.kind == "register":
            self.frames(pass_no, op)  # generate the inputs untimed
        with tr.span("op", op=key, kind=op.kind) as whole:
            if op.kind in ("register", "remove", "index_write"):
                layer = {
                    "register": "engine.register_temp_table",
                    "remove": "engine.remove_temp_table",
                    "index_write": "similarity.index_write",
                }[op.kind]
                g = self._group(f"{key}|{op.kind}")
                with tr.span(layer, op=key) as s:
                    self.side_effect(op, pass_no)
                self._sample(f"{layer}.s", s["end"] - s["start"])
                self._sample(f"{layer}.groups", g)
                if op.kind == "register":
                    rows = len(self.frames(pass_no, op)[op.args["role"]])
                    self._sample("engine.register_rows", rows)
                pdf = None
            else:
                g_c = self._group(f"{key}|construct")
                with tr.span("registry.construct", op=key) as c:
                    if op.kind in ("sql", "pandas_sql"):
                        with tr.span("dialect.translate", op=key) as t:
                            sql = self.eng.translate(op.sql)
                        self._sample("dialect.translate.s", t["end"] - t["start"])
                        with tr.span("catalyst.parse_analyze", op=key):
                            df = self.spark.sql(sql)
                    else:
                        df = self.build(op, pass_no)
                self._sample("registry.construct.s", c["end"] - c["start"])
                self._sample("registry.eager_jobs", group_counts(self.sc, g_c)["jobs"])
                with tr.span("catalyst.plan", op=key):
                    phases = catalyst_phases_ms(df)
                for k, v in phases.items():
                    self._sample(f"catalyst.{k}_ms", v)
                g_x = self._group(f"{key}|exec")
                gc0 = jvm_gc_ms(self.sc)
                with tr.span("execution.noop", op=key) as x:
                    df.write.format("noop").mode("overwrite").save()
                self._sample("execution.gc_ms", jvm_gc_ms(self.sc) - gc0)
                noop_s = x["end"] - x["start"]
                self._sample("execution.noop.s", noop_s)
                self._sample("execution.groups", g_x)
                for k, v in group_counts(self.sc, g_x).items():
                    self._sample(f"execution.{k}", v)
                self._sample("execution.storage_used_mb", storage_used_mb(self.sc))
                # transfer: a fresh plan, so nothing is reused from the noop run
                g_t = self._group(f"{key}|transfer")
                with tr.span("registry.rebuild", op=key):
                    df2 = self.build(op, pass_no)
                with tr.span("transfer.to_pandas", op=key) as p:
                    pdf = df2.toPandas()
                total = p["end"] - p["start"]
                self._sample("transfer.to_pandas.s", total - noop_s)
                self._sample("transfer.result_rows", len(pdf))
                self._sample("transfer.result_mb", float(pdf.memory_usage(deep=True).sum()) / 2**20)
                if op.kind == "probe":
                    self._sample("similarity.probe.s", (c["end"] - c["start"]) + total)
                    self._sample("similarity.probe.groups", g_t)
        if pdf is not None:
            from oracle import by_name, digest

            self.digests.append((op, digest(pdf, by_name(op))))
        return whole["end"] - whole["start"]

    def trace_pass(self, pass_no: int) -> float:
        from inputs import workload_pass

        total = 0.0
        for op in workload_pass(self.workload, self.seed, pass_no, traced=True):
            try:
                total += self.trace_op(op, pass_no)
            except Exception as exc:  # noqa: BLE001 - counted, run continues
                self.errors.append((op.key + "#traced", f"{type(exc).__name__}: {str(exc)[:300]}"))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return total

    def probe_missing_layers(self, setup_spans: dict) -> list[str]:
        """Measure layers this workload does not call, with one small
        fixed call each, so that every layer figure is a live number.
        Only the probed layer's own samples are kept: the probe's
        construction, execution and transfer do not count toward the
        workload's figures."""
        import bench
        from inputs import TRACED_PROBES, Op

        probed = []
        if "engine.register_temp_table.s" not in self.layer:
            probed.append("engine")
            self.only = ("engine.",)
            common = dict(table="perfbench_probe", frame="0", size=PROBE_REGISTER_ROWS)
            self.trace_op(Op(key="p0.probe.register", name="register", kind="register",
                             args={"role": "fact"}, **common), 0)
            self.trace_op(Op(key="p0.probe.remove", name="remove", kind="remove", **common), 0)
        if "dialect.translate.s" not in self.layer:
            probed.append("dialect")
            for name, sql in bench.QUERIES.items():
                with self.tracer.span("dialect.translate", op=f"probe.{name}") as t:
                    self.eng.translate(sql)
                self.layer.setdefault("dialect.translate.s", []).append(t["end"] - t["start"])
        if "sources.register_parquet_dir" not in setup_spans:
            probed.append("sources")
            with self.tracer.span("sources.register_parquet_dir", op="probe.sources") as s:
                self.eng.register_parquet_dir(self.data_dir)
            setup_spans["sources.register_parquet_dir"] = s["end"] - s["start"]
        if "similarity.index_write.s" not in self.layer:
            probed.append("similarity")
            self.only = ("similarity.",)
            self.trace_op(Op(key="p0.probe.ivfpq_index_write", name="ivfpq_index_write", kind="index_write"), 0)
            for i in range(TRACED_PROBES):
                self.trace_op(
                    Op(key=f"p0.probe.ivfpq_topk_indexed.q{i}", name="ivfpq_topk_indexed", kind="probe", probe=i), 0
                )
        self.only = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return probed


def _layer_metrics(runner: Runner, setup_spans: dict, events: dict, extra: dict) -> dict:
    from layers import dir_bytes

    L = runner.layer

    def tot(k):
        return float(sum(L.get(k, [])))

    def med(k):
        v = L.get(k, [])
        return float(statistics.median(v)) if v else 0.0

    def mean(k):
        v = L.get(k, [])
        return float(statistics.fmean(v)) if v else 0.0

    def ev(groups_key, field):
        return float(sum(events.get(g, {}).get(field, 0.0) for g in L.get(groups_key, [])))

    reg_s = tot("engine.register_temp_table.s")
    idx_dirs = [runner.index_dir(1), runner.index_dir(0)]
    idx_bytes = next((dir_bytes(d) for d in idx_dirs if os.path.isdir(d)), 0)
    emb_bytes = os.path.getsize(os.path.join(runner.data_dir, "embeddings.parquet"))
    n_probe = len(L.get("similarity.probe.s", []))
    probe_read = ev("similarity.probe.groups", "input_bytes")
    m = {
        "session.get_spark_s": setup_spans["session.get_spark"],
        "sources.register_parquet_dir_s": setup_spans["sources.register_parquet_dir"],
        "setup.warmup_s": extra["warmup_s"],
        "engine.register_temp_table_s": reg_s,
        "engine.register_rows_per_s": tot("engine.register_rows") / reg_s if reg_s else 0.0,
        "engine.remove_temp_table_s": tot("engine.remove_temp_table.s"),
        "dialect.translate_ms": med("dialect.translate.s") * 1000,
        "catalyst.analysis_ms": mean("catalyst.analysis_ms"),
        "catalyst.optimization_ms": mean("catalyst.optimization_ms"),
        "catalyst.planning_ms": mean("catalyst.planning_ms"),
        "registry.construct_s": tot("registry.construct.s"),
        "registry.eager_jobs": tot("registry.eager_jobs"),
        "execution.noop_s": tot("execution.noop.s"),
        "execution.jobs": tot("execution.jobs"),
        "execution.stages": tot("execution.stages"),
        "execution.tasks": tot("execution.tasks"),
        "execution.failed_tasks": tot("execution.failed_tasks"),
        "execution.shuffle_write_mb": ev("execution.groups", "shuffle_write_bytes") / 2**20,
        "execution.spill_mb": ev("execution.groups", "spill_bytes") / 2**20,
        "execution.gc_s": tot("execution.gc_ms") / 1000,
        "execution.storage_used_mb": max(L.get("execution.storage_used_mb", [0.0])),
        "transfer.to_pandas_s": tot("transfer.to_pandas.s"),
        "transfer.result_rows": tot("transfer.result_rows"),
        "transfer.result_mb": tot("transfer.result_mb"),
        "similarity.index_write_s": tot("similarity.index_write.s"),
        "similarity.index_mb": idx_bytes / 2**20,
        "similarity.index_bytes_per_input_byte": idx_bytes / emb_bytes,
        "similarity.probe_s": tot("similarity.probe.s"),
        "similarity.probe_read_fraction": probe_read / (idx_bytes * n_probe) if idx_bytes and n_probe else 0.0,
        "trace.untraced_pass_s": extra["untraced_pass_s"],
        "trace.traced_pass_s": extra["traced_pass_s"],
        "trace.overhead_s": extra["traced_pass_s"] - extra["untraced_pass_s"],
    }
    return m


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _expected(workload: str, seed: int, passes: int, data_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), "--workload", workload,
         "--seed", str(seed), "--passes", str(passes), "--data", data_dir,
         "--cache", STATE],
        check=True, capture_output=True, text=True, timeout=150,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run(args, work: str) -> tuple[dict, dict]:
    trace = bool(args.trace)
    log_dir = _configure_env(work, trace)
    sys.path.insert(0, HERE)
    import bench
    import numpy as np
    import pyspark
    from pyspark import SparkContext

    from dataframe_sql_spark.engine import SparkSqlEngine
    from dataframe_sql_spark.registry import engine_for
    from dataframe_sql_spark.session import get_spark
    from data import ensure_tables
    from inputs import PASS_S
    from layers import Tracer, event_log_by_group, jvm_peak_rss_mb
    from oracle import load_cache, repeat_key, save_cache, sql_key

    # benchmark inputs are not set-up work of the program: time them apart
    t_in = time.perf_counter()
    data_dir = ensure_tables(STATE)
    input_s = time.perf_counter() - t_in

    env_start = bench._env_stamp()
    ticks_start = _cpu_ticks()
    tracer = Tracer()
    setup_spans: dict[str, float] = {}
    with tracer.span("session.get_spark", op="setup") as s:
        spark = get_spark("perfbench")
    setup_spans["session.get_spark"] = s["end"] - s["start"]
    try:
        if args.workload == "pandas_roundtrip":
            eng = SparkSqlEngine(spark)
        else:
            with tracer.span("sources.register_parquet_dir", op="setup") as s:
                eng = engine_for(spark, data_dir)
            setup_spans["sources.register_parquet_dir"] = s["end"] - s["start"]
        runner = Runner(args.workload, args.seed, spark, eng, data_dir, work, tracer)
        t_w = time.perf_counter()
        runner.run_pass(0, timed=False)
        warmup_s = time.perf_counter() - t_w
        setup_s = time.perf_counter() - T_START - input_s

        passes = 0
        extra = {"warmup_s": warmup_s}
        if not trace:
            # the same work in every run at one --seconds, however busy the
            # host: as many passes as take --seconds on a quiet 4-core host
            want = max(1, round(args.seconds / PASS_S[args.workload]))
            while passes < want and time.perf_counter() - T_START < PASS_DEADLINE_S:
                passes += 1
                runner.run_pass(passes, timed=True)
        else:
            passes = 1
            extra["untraced_pass_s"] = runner.run_pass(1, timed=True, traced=True)
            runner.index_tag = "-traced"
            extra["traced_pass_s"] = runner.trace_pass(1)
            probed = runner.probe_missing_layers(setup_spans)
        sc = spark.sparkContext
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": int(trace),
            "git_head": _git_head(),
            "nproc": _nproc(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_master": spark.conf.get("spark.master", "?"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions", "?"),
            "pyspark": pyspark.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "env_start": env_start,
            "contended": bool(env_start.get("loadavg", [0])[0] > _nproc()),
            "input_prep_s": input_s,
            "warmup_s": warmup_s,
            "timed_passes": passes,
        }
        jvm_hwm = jvm_peak_rss_mb(getattr(SparkContext._gateway, "proc", None))
    finally:
        _stop_spark(spark)
    py_hwm = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    stamp["env_end"] = bench._env_stamp()
    stamp["cpu_steal_share"] = _steal_share(ticks_start, _cpu_ticks())

    # -- checks, outside every timed region --------------------------------
    cache = load_cache(STATE)

    def cached(op) -> bool:  # statements over the fixed tables only
        return op.kind != "pandas_sql" and sql_key(op.oracle) in cache

    expected = {}
    if any(op.oracle and not cached(op) for op, _ in runner.digests):
        expected = _expected(args.workload, args.seed, passes, data_dir)
    repeat_dirty = False
    bad: dict[str, str] = dict(runner.errors)
    for op, got in runner.digests:
        if op.oracle is not None:
            want = cache[sql_key(op.oracle)] if cached(op) else expected[op.key]
        else:  # no oracle: the result must repeat across runs
            rkey = repeat_key(op)
            if rkey not in cache:
                cache[rkey] = got
                repeat_dirty = True
            want = cache[rkey]
        if got != want:
            bad.setdefault(op.key, f"result mismatch: got {got}, want {want}")
    if repeat_dirty:
        save_cache(STATE, cache)
    for key, msg in bad.items():
        print(f"FAILED {key}: {msg}", file=sys.stderr)

    lat = [dt for _, _, dt in runner.latencies]
    attempted = len(lat)
    failed_keys = {k.split("#")[0] for k in bad}
    failed = len(failed_keys)
    typical = typical_latencies(runner.latencies)
    ok = sum(op.key not in failed_keys for _, op, _ in runner.latencies)
    wall = {  # what a user waits for; the host's load moves it (README)
        "latency_p50_s": float(np.median(typical)),
        "throughput_ops_per_s": ok / float(np.sum(typical)),
    }
    pass_ops = [sum(p == q for p, _, _ in runner.latencies) for q in range(1, len(runner.pass_cpu) + 1)]
    # the JIT is still speeding up the first timed pass (it takes about a
    # third more CPU than the later ones): it counts only when it is alone
    steady = list(zip(runner.pass_cpu, pass_ops))[1:] or list(zip(runner.pass_cpu, pass_ops))
    stamp.update(**wall)
    stamp.update(
        attempted=attempted,
        failed=failed,
        error_rate=failed / attempted if attempted else 1.0,
        latency_samples=attempted,
        # the highest percentile with at least ten samples beyond it
        supported_percentile=max(0.0, 100.0 * (1 - 10 / attempted)) if attempted else 0.0,
        latency_p90_s=float(np.percentile(lat, 90)) if lat else float("nan"),
        raw_latency_p50_s=float(np.percentile(lat, 50)) if lat else float("nan"),
        pass_s=[sum(dt for p, _, dt in runner.latencies if p == q) for q in range(1, passes + 1)],
        pass_cpu_s=runner.pass_cpu,
    )
    if not trace:
        values = {
            "setup_s": setup_s,
            # CPU seconds the benchmark's processes spent per op: the
            # median over the timed passes
            "cpu_s_per_op": float(np.median([c / n for c, n in steady])),
            "py_peak_rss_mb": py_hwm,
        }
        detail = {"latencies": [(p, op.key, dt) for p, op, dt in runner.latencies]}
    else:
        events = event_log_by_group(log_dir)
        values = _layer_metrics(runner, setup_spans, events, extra)
        values["jvm.peak_rss_mb"] = jvm_hwm
        values.update({f"client.{k}": v for k, v in wall.items()})
        stamp["probed_layers"] = probed
        detail = {
            "spans": tracer.spans,
            "self_times": tracer.self_times(),
            "layer_totals": tracer.layer_totals(),
        }
    units = _declared_units("per_layer" if trace else "end_to_end")
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    return result, {"stamp": stamp, "result": result, **detail}


def _declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="dataframe_sql_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    try:
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, default=str)
    st = record["stamp"]
    print(
        f"# {args.workload} seed={args.seed} passes={st['timed_passes']} "
        f"ops={st['attempted']} error_rate={st['error_rate']:.4f} "
        f"contended={st['contended']} record={os.path.relpath(os.path.join(out_dir, name), ROOT)}",
        file=sys.stderr,
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
