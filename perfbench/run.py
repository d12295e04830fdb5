"""Closed-loop benchmark of the dataframe_sql_spark engine.

    python3 perfbench/run.py --workload pandas_sql --seed 1 --seconds 1 --trace 0

One client in one process issues an operation, waits for its pandas
result, then issues the next (closed loop), on ``local[nproc]``. The
inputs are generated from ``--seed``; the engine only sees them through
its public entry points. A run:

1. generates the workload's inputs (untimed);
2. starts the session and registers the tables (``setup_s``);
3. makes one pass over the operation mix (``warmup_s``, untimed for
   latency: JIT and codegen are paid here once per session);
4. makes seeded shuffled passes until ``--seconds`` have elapsed,
   always finishing the pass it is in.

Every output is checked against its oracle right after its operation,
outside the operation's timed region (oracle time is excluded from
every metric).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics: in a
traced pass every operation is split at the layer boundaries (dialect,
Catalyst, operators, execution as a noop-sink write of a fresh plan,
transfer as ``toPandas`` of another fresh plan) and each boundary
records a span. The last stdout line is the result JSON; the line
before it is a detail record (every named metric, the env stamp and
any failures).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIB = 1024.0 * 1024.0
REGISTRATION_REPEATS = 3


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: Path) -> None:
    """Before pyspark is imported: keep every file the run writes under
    ``work``, put the engine sources on the Python workers' import path
    (``mapInPandas`` kernels unpickle by module name in the worker), and
    size the local master to the cores this process may use."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # every JVM spark-submit starts (its launcher too) keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))


def env_stamp(seed: int) -> dict:
    """Machine state (``bench._env_stamp``: load averages, memory) plus
    what identifies the run."""
    import bench
    import pyspark

    stamp = bench._env_stamp()
    stamp.update(
        nproc=len(os.sched_getaffinity(0)),
        seed=seed,
        pyspark=pyspark.__version__,
        commit=_commit(),
        source_sha1=_source_sha1(),
    )
    return stamp


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def _steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0


def _commit() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def _source_sha1() -> str:
    """Digest of the engine sources: identifies the code measured where
    the checkout has no git metadata."""
    import hashlib

    h = hashlib.sha1()
    for path in sorted((ROOT / "dataframe_sql_spark").rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


class Run:
    def __init__(self, args, work: Path) -> None:
        from spans import Ledger, Tracer

        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.ledger = Ledger()
        self.tracer = Tracer(enabled=bool(args.trace))
        self.records: list[dict] = []  # one per operation run
        self.data_dir = str(work / "data")
        self.frames: dict = {}
        self.index_dir: str | None = None
        self.index_s: float | None = None
        self.query_vectors: list = []
        self.oracle = None
        self.spark = None
        self.eng = None
        self.runners: dict = {}
        self.catalog: dict = {}
        self.op_seq = 0

    # -- inputs -------------------------------------------------------------
    def make_inputs(self) -> None:
        import numpy as np

        import datagen
        from oracle import Oracle
        from workloads import PROBES_PER_PASS

        seed = self.args.seed
        if self.args.workload == "pandas_sql":
            self.frames = datagen.fixture_frames(seed)
            self.oracle = Oracle(frames=self.frames)
            return
        corpus = datagen.corpus_tables(seed)
        datagen.write_parquet_dir({**datagen.tpch_tables(seed), **corpus}, self.data_dir)
        self.oracle = Oracle(parquet_dir=self.data_dir)
        self.oracle.docs = corpus["documents"]
        vecs = np.stack(corpus["embeddings"]["embedding"].to_numpy())
        self.oracle.vectors = vecs
        rng = np.random.default_rng([seed, 4])
        for _ in range(PROBES_PER_PASS):  # query vectors: perturbed stored vectors
            v = vecs[int(rng.integers(0, len(vecs)))] + rng.normal(scale=0.3, size=vecs.shape[1])
            self.query_vectors.append([float(x) for x in v])

    # -- setup --------------------------------------------------------------
    def setup(self) -> dict:
        from dataframe_sql_spark import SparkSqlEngine, get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start", -1):
            self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        regs = []
        for i in range(REGISTRATION_REPEATS):
            t0 = time.perf_counter()
            with self.tracer.span("sources.register", -1):
                if self.args.workload == "pandas_sql":
                    if i == 0:
                        self.eng = SparkSqlEngine(self.spark)
                    for name, frame in self.frames.items():
                        self.eng.register_temp_table(frame, name)
                elif i == 0:
                    from dataframe_sql_spark.registry import engine_for

                    self.eng = engine_for(self.spark, self.data_dir)
                else:
                    self.eng.register_parquet_dir(self.data_dir)
            regs.append(time.perf_counter() - t0)
        from dataframe_sql_spark.registry import CATALOG, spark_queries

        self.runners = spark_queries()
        self.catalog = CATALOG
        return {
            "session_s": session_s,
            "register_s": statistics.median(regs),
            "register_cold_s": regs[0],
        }

    def build_index(self) -> None:
        """Build the run's IVF-PQ index into a fresh directory (removed
        with the run's work directory); times it as ``index_build_s``."""
        from dataframe_sql_spark.operators.similarity import ivfpq_index_write
        from dataframe_sql_spark.sources.io import read_table
        from workloads import IVFPQ

        self.index_dir = tempfile.mkdtemp(prefix="ivfpq-", dir=str(self.work))
        self._group("index-build")
        t0 = time.perf_counter()
        with self.tracer.span("operators.index_write", -1):
            ivfpq_index_write(
                read_table(self.spark, self.data_dir, "embeddings"), self.index_dir, **IVFPQ
            )
        self.index_s = time.perf_counter() - t0

    # -- one operation ------------------------------------------------------
    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group, interruptOnCancel=False)

    def run_op(self, op, pass_idx: int, traced: bool) -> None:
        import sparkprobe

        if op.kind == "probe" and self.index_dir is None:
            self.build_index()
        self.op_seq += 1
        op_id = self.op_seq
        rec = {"op_id": op_id, "name": op.name, "kind": op.kind, "pass": pass_idx, "traced": traced}
        group = f"perfbench-{op_id}"
        self._group(group)
        pdf, plans = None, None
        cpu0 = sparkprobe.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op_id):
                if traced:
                    pdf, plans = self._traced(op, op_id, group)
                else:
                    pdf = self._plain(op)
        except Exception as exc:  # noqa: BLE001 - a failed operation is data, not a crash
            rec["latency"] = time.perf_counter() - t0
            rec["cpu"] = sparkprobe.tree_cpu_s(os.getpid()) - cpu0
            rec["failed"] = True
            self.ledger.record(op.name, error=f"{type(exc).__name__}: {str(exc)[:300]}")
            self.records.append(rec)
            return
        rec["latency"] = time.perf_counter() - t0
        rec["cpu"] = sparkprobe.tree_cpu_s(os.getpid()) - cpu0
        if traced:
            self._count(op, rec, group, plans, pdf)
        ok = self.check(op, pdf)
        rec["failed"] = not ok
        self.ledger.record(op.name, ok=ok)
        self.records.append(rec)

    def _plain(self, op):
        from dataframe_sql_spark.operators.similarity import ivfpq_topk_indexed
        from workloads import PROBE

        if op.kind == "query":
            return self.eng.query(op.sql).toPandas()
        if op.kind == "catalog":
            return self.runners[op.name](self.spark, self.data_dir).toPandas()
        if op.kind == "ingest":
            self.eng.register_temp_table(self.frames[op.table], op.table)
            return None
        if op.kind == "remove":
            self.eng.remove_temp_table(op.table)
            return None
        if op.kind == "probe":
            return ivfpq_topk_indexed(
                self.spark, self.index_dir, self.query_vectors[op.probe], **PROBE
            ).toPandas()
        raise ValueError(op.kind)

    def _traced(self, op, op_id: int, group: str):
        """The operation split at its layer boundaries, one span each.
        Returns the pandas result and (built, executed) DataFrames for
        ``_count``, which reads their counters outside the op span."""
        from dataframe_sql_spark.operators.similarity import ivfpq_topk_indexed
        from workloads import PROBE

        span = self.tracer.span
        if op.kind == "ingest":
            with span("engine.register", op_id):
                self.eng.register_temp_table(self.frames[op.table], op.table)
            return None, None
        if op.kind == "remove":
            with span("engine.remove", op_id):
                self.eng.remove_temp_table(op.table)
            return None, None
        sql = op.sql
        if op.kind == "catalog":
            spec = self.catalog[op.name]
            if spec.fn is None:  # the runner is engine.query(engine_sql)
                sql = spec.engine_sql
        if sql is not None:
            with span("dialect.translate", op_id):
                translated = self.eng.translate(sql)
            with span("catalyst.build", op_id):
                df = self.spark.sql(translated)
        elif op.kind == "probe":
            with span("operators.probe", op_id):
                df = ivfpq_topk_indexed(
                    self.spark, self.index_dir, self.query_vectors[op.probe], **PROBE
                )
        else:
            with span("operators.build", op_id):
                df = self.runners[op.name](self.spark, self.data_dir)
        # execution: a noop-sink write of a fresh plan object (a rerun
        # of the same object would reuse its shuffle output)
        with span("exec.run", op_id):
            df.select("*").write.format("noop").mode("overwrite").save()
        fresh = df.select("*")
        self._group(group + "-transfer")
        with span("transfer.collect", op_id):
            pdf = fresh.toPandas()
        return pdf, (df, fresh)

    def _count(self, op, rec: dict, group: str, plans, pdf) -> None:
        """Per-layer counters of one traced operation, read from what
        Spark already recorded (no extra job)."""
        import sparkprobe

        if op.kind == "ingest":
            rec["engine.register_mib"] = (
                self.frames[op.table].memory_usage(deep=True).sum() / MIB
            )
        if plans is None:
            return
        built, ran = plans
        rec["exec.jobs"], rec["exec.stages"], rec["exec.tasks"] = sparkprobe.job_counts(
            self.spark, group
        )
        # parse and analysis run eagerly on the built DataFrame,
        # optimization and planning on the executed fresh plan
        for df, names in ((built, ("parsing", "analysis")), (ran, ("optimization", "planning"))):
            for phase, secs in sparkprobe.phases(df).items():
                if phase in names:
                    rec[PHASE_METRIC[phase]] = secs
        pm = sparkprobe.plan_metrics(ran)
        rec["exec.scan_rows"] = pm["scan_rows"]
        rec["exec.shuffle_write_mib"] = pm["shuffle_write_bytes"] / MIB
        rec["exec.broadcast_mib"] = pm["broadcast_bytes"] / MIB
        rec["exec.broadcast_collect_s"] = pm["broadcast_collect_ms"] / 1000.0
        rec["exec.spill_mib"] = pm["spill_bytes"] / MIB
        rec["exec.python_eval_s"] = pm["python_ms"] / 1000.0
        if op.kind == "probe":
            rec["exec.probe_files_frac"] = pm["scan_files"] / max(
                1, sparkprobe.dir_files(self.index_dir)
            )
        rec["transfer.rows"] = len(pdf)
        rec["transfer.mib"] = pdf.memory_usage(deep=True).sum() / MIB

    # -- output checks ------------------------------------------------------
    def check(self, op, pdf) -> bool:
        from workloads import PANDAS_QUERIES, PROBE

        o = self.oracle
        if op.kind in ("ingest", "remove"):
            return True
        if op.kind == "probe":
            import numpy as np

            q = np.asarray(self.query_vectors[op.probe])
            return o.check_recorded(
                op.name, pdf, lambda p: o.verify_probe(p, q, PROBE["k"])
            )
        if self.args.workload == "pandas_sql":
            q = next(q for q in PANDAS_QUERIES if q.name == op.name)
            return o.check_pandas_query(q, pdf)
        if op.kind == "query":
            return o.check_sql(op.name, pdf, op.sql)
        spec = self.catalog[op.name]
        if spec.oracle is None:
            return o.check_recorded(op.name, pdf, o.verify_minhash_pairs)
        return o.check_catalog_sql(op.name, pdf, spec.oracle)

    # -- passes -------------------------------------------------------------
    def one_pass(self, pass_idx: int, traced: bool) -> None:
        from workloads import shuffled_pass

        for op in shuffled_pass(self.args.workload, self.rng, first=pass_idx == 0):
            self.run_op(op, pass_idx, traced)

    def measure(self) -> float:
        """Warmup pass, then whole passes until ``--seconds`` elapsed (a
        traced run alternates untraced and traced passes and makes at
        least one of each). Returns the warmup pass's busy time: oracle
        checks between operations are excluded."""
        self.one_pass(0, traced=False)
        warmup_s = sum(r["latency"] for r in self.records if r["pass"] == 0)
        deadline = time.perf_counter() + self.args.seconds
        i = 1
        while True:
            traced = bool(self.args.trace) and i % 2 == 0
            self.one_pass(i, traced)
            i += 1
            has_traced = not self.args.trace or i > 2
            if time.perf_counter() >= deadline and has_traced:
                break
        return warmup_s

    def shutdown(self) -> None:
        """Remove the index, stop the session and wait until the driver
        JVM has exited."""
        if self.index_dir is not None:
            shutil.rmtree(self.index_dir, ignore_errors=True)
        if self.oracle is not None:
            self.oracle.close()
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()


def summarize(run: Run, setup: dict, warmup_s: float, rss: float) -> tuple[dict, dict]:
    from spans import percentile, tail_percentile

    args = run.args
    measured = [r for r in run.records if r["pass"] > 0 and not r["traced"]]
    done = [r for r in measured if not r["failed"]]
    busy = sum(r["latency"] for r in measured)
    ops_per_s = len(done) / busy if busy > 0 else 0.0
    # op latency is call-to-pandas-result: catalog registration and
    # removal return none (they are ingest_p50_s and count in ops_per_s)
    ok_lat = [r["latency"] for r in done if r["kind"] not in ("ingest", "remove")]
    detail = {
        "setup_s": setup["session_s"] + setup["register_s"],
        "session_start_s": setup["session_s"],
        "register_median_s": setup["register_s"],
        "register_cold_s": setup["register_cold_s"],
        "warmup_s": warmup_s,
        "op_p50_s": percentile(ok_lat, 0.5) if ok_lat else 0.0,
        "op_samples": len(ok_lat),
        "ops_per_s": ops_per_s,
        "peak_rss_mib": rss,
        "failed_frac": run.ledger.failed_frac,
    }
    by_op: dict[str, list[float]] = {}
    for r in run.records:
        if not r["failed"] and not r["traced"]:
            by_op.setdefault(r["name"], []).append(r["latency"])
    # per operation: [cold latency, median of the later ones]
    detail["op_latency_s"] = {
        n: [v[0], statistics.median(v[1:]) if len(v) > 1 else None]
        for n, v in by_op.items()
    }
    passes: dict[int, list[float]] = {}
    for r in measured:
        passes.setdefault(r["pass"], []).append(r["latency"])
    detail["pass_ops_per_s"] = [len(v) / sum(v) for _, v in sorted(passes.items())]
    cpu = sum(r["cpu"] for r in measured)
    detail["ops_per_cpu_s"] = len(done) / cpu if cpu > 0 else 0.0
    detail["warmup_cpu_s"] = sum(r["cpu"] for r in run.records if r["pass"] == 0)
    tail = tail_percentile(len(ok_lat))
    if tail is not None:
        detail[f"op_p{round(tail * 100, 1):g}_s"] = percentile(ok_lat, tail)
    ingest = [r["latency"] for r in measured if r["kind"] == "ingest" and not r["failed"]]
    if ingest:
        detail["ingest_p50_s"] = percentile(ingest, 0.5)
    if run.index_s is not None:
        detail["index_build_s"] = run.index_s
    probes = [r["latency"] for r in measured if r["kind"] == "probe" and not r["failed"]]
    if probes:
        detail["probe_p50_s"] = percentile(probes, 0.5)
    metrics = {}
    if not args.trace:
        for name, unit in END_TO_END.items():
            metrics[name] = {"value": detail[name], "unit": unit}
    else:
        metrics = layer_metrics(run, setup, ops_per_s)
        detail["layers"] = {k: v["value"] for k, v in metrics.items()}
    return metrics, detail


PHASE_METRIC = {
    "parsing": "catalyst.parse_s",
    "analysis": "catalyst.analyze_s",
    "optimization": "catalyst.optimize_s",
    "planning": "catalyst.plan_s",
}

END_TO_END = {
    "setup_s": "s",
    "warmup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mib": "MiB",
}

# per-layer metric -> (source, unit); source "span:<name>" sums span
# durations, "rec:<key>" sums per-operation records, over one traced pass
LAYER_METRICS = {
    "engine.register_s": ("span:engine.register", "s"),
    "engine.register_mib": ("rec:engine.register_mib", "MiB"),
    "engine.remove_s": ("span:engine.remove", "s"),
    "dialect.translate_s": ("span:dialect.translate", "s"),
    "catalyst.parse_s": ("rec:catalyst.parse_s", "s"),
    "catalyst.analyze_s": ("rec:catalyst.analyze_s", "s"),
    "catalyst.optimize_s": ("rec:catalyst.optimize_s", "s"),
    "catalyst.plan_s": ("rec:catalyst.plan_s", "s"),
    "operators.build_s": ("span:operators.build", "s"),
    "operators.probe_s": ("span:operators.probe", "s"),
    "exec.run_s": ("span:exec.run", "s"),
    "exec.jobs": ("rec:exec.jobs", "count"),
    "exec.stages": ("rec:exec.stages", "count"),
    "exec.tasks": ("rec:exec.tasks", "count"),
    "exec.scan_rows": ("rec:exec.scan_rows", "count"),
    "exec.shuffle_write_mib": ("rec:exec.shuffle_write_mib", "MiB"),
    "exec.broadcast_mib": ("rec:exec.broadcast_mib", "MiB"),
    "exec.broadcast_collect_s": ("rec:exec.broadcast_collect_s", "s"),
    "exec.spill_mib": ("rec:exec.spill_mib", "MiB"),
    "exec.python_eval_s": ("rec:exec.python_eval_s", "s"),
    "transfer.rows": ("rec:transfer.rows", "count"),
    "transfer.mib": ("rec:transfer.mib", "MiB"),
}


def layer_metrics(run: Run, setup: dict, plain_ops_per_s: float) -> dict:
    """Per-layer sums over one traced pass (mean over traced passes).
    Layer spans are leaves under the operation's root span, so a
    layer's self time is its span time; the root's self time is the
    unattributed residual."""
    traced = [r for r in run.records if r["traced"]]
    n_passes = len({r["pass"] for r in traced}) or 1
    per_op: dict[int, dict[str, float]] = {r["op_id"]: {} for r in traced}
    for s in run.tracer.spans:
        if s.op_id in per_op:
            per_op[s.op_id][s.name] = per_op[s.op_id].get(s.name, 0.0) + s.duration

    def span_sum(name: str) -> float:
        return sum(d.get(name, 0.0) for d in per_op.values()) / n_passes

    def rec_sum(key: str) -> float:
        return sum(r.get(key, 0.0) for r in traced) / n_passes

    out = {
        "session.start_s": {"value": setup["session_s"], "unit": "s"},
        "sources.register_s": {
            "value": 0.0 if run.args.workload == "pandas_sql" else setup["register_s"],
            "unit": "s",
        },
    }
    for name, (src, unit) in LAYER_METRICS.items():
        kind, key = src.split(":", 1)
        out[name] = {"value": span_sum(key) if kind == "span" else rec_sum(key), "unit": unit}
    out["operators.index_write_s"] = {"value": run.index_s or 0.0, "unit": "s"}
    out["operators.index_mib"] = {"value": _dir_mib(run.index_dir), "unit": "MiB"}
    probes = [r["exec.probe_files_frac"] for r in traced if "exec.probe_files_frac" in r]
    out["exec.probe_files_frac"] = {
        "value": statistics.median(probes) if probes else 0.0,
        "unit": "fraction",
    }
    # transfer: toPandas minus the noop-sink execution, per operation
    transfer = sum(
        max(0.0, d.get("transfer.collect", 0.0) - d.get("exec.run", 0.0))
        for d in per_op.values()
    ) / n_passes
    out["transfer.collect_s"] = {"value": transfer, "unit": "s"}
    selfs = run.tracer.self_times()
    residuals = [
        selfs[s.span_id] for s in run.tracer.spans if s.name == "op" and s.op_id in per_op
    ]
    out["trace.residual_s"] = {
        "value": statistics.mean(residuals) if residuals else 0.0,
        "unit": "s",
    }
    # layer shares of the traced operation time
    op_time = sum(r["latency"] for r in traced) / n_passes
    val = lambda *names: sum(out[n]["value"] for n in names)  # noqa: E731
    shares = {
        "share.front_frac": val(
            "dialect.translate_s", "catalyst.parse_s", "catalyst.analyze_s",
            "catalyst.optimize_s", "catalyst.plan_s", "engine.register_s",
            "engine.remove_s",
        ),
        "share.operators_frac": val("operators.build_s", "operators.probe_s"),
        "share.exec_frac": val("exec.run_s"),
        "share.transfer_frac": val("transfer.collect_s"),
    }
    for name, part in shares.items():
        out[name] = {"value": part / op_time if op_time > 0 else 0.0, "unit": "fraction"}
    traced_rate = len(traced) / n_passes / op_time if op_time > 0 else 0.0
    out["trace.ops_per_s"] = {"value": traced_rate, "unit": "1/s"}
    out["trace.overhead_frac"] = {
        "value": plain_ops_per_s / traced_rate - 1.0 if traced_rate > 0 else 0.0,
        "unit": "fraction",
    }
    return out


def _dir_mib(path: str | None) -> float:
    if not path or not os.path.isdir(path):
        return 0.0
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    ) / MIB


def main(argv=None) -> int:
    # a terminated run still removes its files and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    if not (ROOT / "dataframe_sql_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(
            f"perfbench: no engine sources at {ROOT} (expected dataframe_sql_spark/ "
            "and bench.py beside perfbench/)",
            file=sys.stderr,
        )
        return 2
    work_root = ROOT / ".perfbench_work"
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        configure_env(work)
        env_start = env_stamp(args.seed)
        ticks_start = cpu_ticks()
        loaded = env_start.get("loadavg", [0.0])[0] > env_start["nproc"]
        if loaded:
            print(
                f"perfbench: load {env_start['loadavg'][0]} above nproc "
                f"{env_start['nproc']} at start; timings are not comparable",
                file=sys.stderr,
            )
        run = Run(args, work)
        try:
            run.make_inputs()
            setup = run.setup()
            env_start["master"] = run.spark.sparkContext.master
            env_start["shuffle_partitions"] = run.spark.conf.get("spark.sql.shuffle.partitions")
            warmup_s = run.measure()
            import sparkprobe

            rss = sparkprobe.peak_rss_mib([os.getpid(), sparkprobe.jvm_pid(run.spark)])
            metrics, detail = summarize(run, setup, warmup_s, rss)
            if args.trace:
                out_dir = ROOT / ".perfbench_out"
                out_dir.mkdir(exist_ok=True)
                run.tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
        finally:
            run.shutdown()
        detail.update(
            workload=args.workload,
            attempted=run.ledger.attempted,
            failed=run.ledger.failed,
            errors=run.ledger.errors[:20],
            env={"start": env_start, "end": env_stamp(args.seed), "loaded_at_start": loaded},
            # share of the machine's CPU time the hypervisor gave to
            # other guests during the run: wall timings stretch with it
            steal_frac=_steal_frac(ticks_start, cpu_ticks()),
            wall_s=time.perf_counter() - T_START,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work_root.rmdir()
        except OSError:
            pass
    print(json.dumps({"perfbench_detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": run.ledger.failed == 0,
                "attempted": run.ledger.attempted,
                "failed": run.ledger.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
