"""One benchmark run: inputs, set-up, the measured section, the traced
section and the report (see ``run.py`` for usage and ``METRICS.md``
for the definitions)."""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

import gen
import host
import layers
import medallion
import querymix
import spans
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.session import get_spark

#: generated input sizes (see gen.table_sizes): 240 orders, 50 customers
#: and 50 products, of which the drop lands 16.7% of the orders (40) and
#: the load the other 200
MEDALLION_SF = 0.00016
#: every run lands the load and exactly this many drops: each drop re-reads
#: the whole landing directory, so a later drop is slower than an earlier
#: one, and a count that followed the clock would change what is measured.
#: One drop keeps a run near a minute on a 4-vCPU host; a drop costs 10-15 s
MEDALLION_DROPS = 1
DROP_FRAC = 0.1667
TINY_SF = 0.0001  # the minimum table sizes (100 orders), for the self-check
QUERY_SF = 0.001
SETUPS = 5
WARMUP_PASSES = 1

E2E_UNITS = {
    "setup_s": "s",
    "bulk_cpu_s": "s",
    "step_cpu_gmean_s": "s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}
#: the same two quantities as wall time: printed, and per-layer metrics
WALL = {"bulk_cpu_s": "bulk_s", "step_cpu_gmean_s": "step_gmean_s"}
OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")


def gmean(values) -> float:
    """Geometric mean, as TPC power metrics summarise per-query times: a
    given relative change to any one step moves it by the same amount,
    and one noisy step does not decide it as it would a median.  Values
    are floored at one clock tick, so a step that failed at once does
    not make it 0."""
    return statistics.geometric_mean(max(v, 0.01) for v in values)


def warm_session(spark, work: str) -> None:
    """Fixed warm-up: a shuffle and a parquet write and read."""
    df = spark.range(0, 2000, numPartitions=4).select(
        (F.col("id") % 101).alias("k"), (F.col("id") * 3).alias("v")
    )
    path = os.path.join(work, "warm")
    df.groupBy("k").agg(F.sum("v")).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait until it has ended;
    its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    def __init__(self, work: str, seed: int, seconds: float, traced: bool):
        self.work, self.seed, self.seconds, self.traced = work, seed, seconds, traced
        self.tracer = spans.Tracer()
        self.listener = spans.ProgressListener()
        self.spark = None
        self.attempted = 0
        self.failed_ops: list[str] = []
        self.mismatches: list[str] = []
        self.unexpected: list[str] = []  # failed operations other than the known defect
        self.errors: dict[str, int] = {}
        self.facts: dict = {}

    # ----------------------------------------------------------- session
    def _start(self, event_log: str | None = None):
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            # keep the JVM's scratch files in the checkout; -UsePerfData
            # stops it writing /tmp/hsperfdata_<user>
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log,
                    "spark.eventLog.compress": "false",  # no zstd module in Python
                }
            )
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if event_log:
            self.spark.streams.addListener(self.listener)
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def setup(self) -> float:
        """``SETUPS`` set-ups of get_spark + warm-up; the first also
        launches the JVM, the others start a new SparkContext in it after
        stopping the previous one (the stop is not timed).  Returns the
        median of their CPU seconds: like the other timings, CPU time
        leaves out what the hypervisor steals, which doubled the wall
        time of a one-second set-up in runs with 10-20% steal."""
        cycles, cpus = [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            cpu0 = host.measured_cpu_s()
            t0 = time.perf_counter()
            self._start()
            t1 = time.perf_counter()
            warm_session(self.spark, self.work)
            cycles.append((t1 - t0, time.perf_counter() - t1))
            cpus.append(host.measured_cpu_s() - cpu0)
        self.facts["session.get_spark_s"] = cycles[0][0]
        self.facts["session.warmup_s"] = statistics.median(c[1] for c in cycles)
        self.facts["setup_cycles_s"] = [a + b for a, b in cycles]
        self.facts["setup_cycles_cpu_s"] = cpus
        return statistics.median(cpus)

    # ----------------------------------------------------------- counting
    def _count(self, ops: list[str], failed: dict[str, str]) -> None:
        self.attempted += len(ops)
        for name, err in failed.items():
            self.failed_ops.append(name)
            self.errors[f"{name}: {err}"] = self.errors.get(f"{name}: {err}", 0) + 1

    # ----------------------------------------------------------- medallion
    def medallion_inputs(self):
        tables = gen.make_tables(MEDALLION_SF, self.seed)
        return gen.make_landing(tables, self.seed, MEDALLION_DROPS, DROP_FRAC)

    def medallion_section(self, landing, label, max_rounds=None, prefix="", counted=True):
        """The load and every generated drop, or only the first
        ``max_rounds`` rounds; oracle after every round."""
        land_dir = os.path.join(self.work, f"landing_{label}")
        wh = medallion.Warehouse(
            self.spark, os.path.join(self.work, f"wh_{label}"), land_dir, f"pb_{label}", self.tracer
        )
        rounds, files_before = [], 0
        for r in range(len(landing.rounds))[:max_rounds]:
            nbytes = landing.write_round(r, land_dir)
            self.tracer.request = prefix + ("load" if r == 0 else f"drop{r}")
            cpu0 = host.measured_cpu_s()
            res = wh.run_round()
            cpu = host.measured_cpu_s() - cpu0
            obs = wh.observed()  # untimed from here on
            bad = medallion.compare(obs, medallion.expected(land_dir), res.dq)
            files = wh.fact_files()
            rounds.append(
                {
                    "round": r,
                    "seconds": res.seconds,
                    "cpu_s": cpu,
                    "bytes_landed": nbytes,
                    "order_lines": landing.order_lines(r),
                    "fact_files_written": files - files_before,
                    "fact_files": files,
                    "fact_rows": obs["fact_rows"],
                    "failed_ops": {o.name: o.error for o in res.ops if not o.ok},
                    "mismatches": bad,
                }
            )
            files_before = files
            if counted:
                failed = {o.name: o.error for o in res.ops if not o.ok}
                self.unexpected += [
                    f"{label}.round{r}: {n}: {e}" for n, e in failed.items() if not medallion.known_defect(n, e)
                ]
                for m in bad:
                    failed.setdefault(medallion.op_of(m), "oracle mismatch")
                self._count([o.name for o in res.ops], failed)
                self.mismatches += [f"{label}.round{r}: {m}" for m in bad]
        drops = rounds[1:]  # none in the single-core load
        return {
            "bulk_s": rounds[0]["seconds"],
            "step_gmean_s": gmean(x["seconds"] for x in drops) if drops else 0.0,
            "bulk_cpu_s": rounds[0]["cpu_s"],
            "step_cpu_gmean_s": gmean(x["cpu_s"] for x in drops) if drops else 0.0,
            "rounds": rounds,
        }

    # ----------------------------------------------------------- queries
    def query_inputs(self):
        return gen.write_tables(
            gen.make_tables(QUERY_SF, self.seed), os.path.join(self.work, "tables")
        )

    def query_section(self, data_dir, window, max_passes=None, counted=True):
        """``max_passes`` passes over the mix or, without it, passes until
        the timed passes fill ``window`` (at least one).  A counted pass
        is checked against the oracles; the untimed warm-up passes are
        not counted."""
        mix = querymix.Mix(self.spark, data_dir, querymix.MIX, self.tracer)
        passes, used = [], 0.0
        while True:
            res = mix.run_pass(keep=counted)
            passes.append(res)
            if counted:
                mix.verify(res)  # untimed
                failed = {r.name: r.error or f"oracle {r.mismatch}" for r in res if r.error or r.mismatch}
                self._count([r.name for r in res], failed)
                self.unexpected += [f"{r.name}: {r.error}" for r in res if r.error]
                self.mismatches += [f"{r.name}: {r.mismatch}" for r in res if r.mismatch]
            t = sum(r.seconds for r in res)
            used += t
            if len(passes) >= max_passes if max_passes else used + t > window:
                break
        def per_pass_and_query(attr):
            total = statistics.median(sum(getattr(r, attr) for r in p) for p in passes)
            per_query = [statistics.median(getattr(p[i], attr) for p in passes) for i in range(len(mix.names))]
            return total, gmean(per_query)

        out = {"passes": [[vars(r) for r in p] for p in passes]}
        out["bulk_s"], out["step_gmean_s"] = per_pass_and_query("seconds")
        out["bulk_cpu_s"], out["step_cpu_gmean_s"] = per_pass_and_query("cpu_s")
        return out

    # ----------------------------------------------------------- run
    def run(self, workload: str) -> dict:
        steal = host.CpuSteal()
        canary = host.canary_s()
        artifact: dict = {"workload": workload, "seed": self.seed, "seconds": self.seconds}
        phases = artifact["phases_s"] = {}
        rss = host.RssSampler().start()
        mark = time.perf_counter()

        def phase(name):
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        try:
            inputs = self.medallion_inputs() if workload == "medallion" else self.query_inputs()
            phase("inputs")
            setup_s = self.setup()
            phase("setup")
            if workload == "medallion":
                # the load is the pipeline's first run on this session, as
                # for an initial load on a newly started engine
                section = self.medallion_section(inputs, "u")
            else:
                t0 = time.perf_counter()
                # one untimed pass, so that the first run's JIT compilation
                # and codegen are not charged to the timed pass
                self.query_section(inputs, 0.0, max_passes=WARMUP_PASSES, counted=False)
                self.facts["session.workload_warmup_s"] = time.perf_counter() - t0
                phase("workload_warmup")
                section = self.query_section(inputs, self.seconds)
            phase("measured")
            artifact["untraced"] = section
            if self.traced:
                artifact["traced"] = self._traced(workload, inputs, section)
                phase("traced")
        finally:
            if self.spark is not None:
                self.spark.stop()
            peak_mb = rss.stop()
            phase("stop")
        self.facts["host.steal_frac"] = steal.share()
        self.facts["host.canary_s"] = canary
        artifact["host"] = {"steal_frac": self.facts["host.steal_frac"], "canary_s": canary}
        artifact["setup_cycles_s"] = self.facts["setup_cycles_s"]
        artifact["setup_cycles_cpu_s"] = self.facts["setup_cycles_cpu_s"]

        e2e = {
            "setup_s": setup_s,
            "bulk_cpu_s": section["bulk_cpu_s"],
            "step_cpu_gmean_s": section["step_cpu_gmean_s"],
            "ok_frac": 1.0 - len(self.failed_ops) / self.attempted,
            "peak_rss_mb": peak_mb,
        }
        artifact["end_to_end"] = e2e
        self.facts["wall.bulk_s"] = section["bulk_s"]
        self.facts["wall.step_gmean_s"] = section["step_gmean_s"]
        if self.traced:
            per_layer = artifact["per_layer"] = artifact["traced"].pop("per_layer")
            per_layer.update(
                {k: self.facts[k] for k in ("host.steal_frac", "host.canary_s", "wall.bulk_s", "wall.step_gmean_s")}
            )
            metrics = {k: {"value": per_layer[k], "unit": layers.NAMES[k][0]} for k in layers.NAMES}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        artifact.update(
            attempted=self.attempted,
            failed=len(self.failed_ops),
            errors=self.errors,
            mismatches=self.mismatches,
            unexpected_failures=self.unexpected,
        )
        self._report(workload, metrics, artifact)
        return {
            "correct": not self.mismatches and not self.unexpected,
            "attempted": self.attempted,
            "failed": len(self.failed_ops),
            "metrics": metrics,
        }

    def _trace_on(self) -> str:
        """Spans on, and a new session with the event log and the
        streaming listener; returns the event-log directory."""
        events = os.path.join(self.work, "events")
        self.tracer.enabled = True
        self._start(event_log=events)
        for module, attr, name in (
            ("sources.json_source", "infer_json_schema", "sources.infer_json_schema"),
            ("queries.data", "load", "queries.data.load"),
        ):
            spans.wrap(self.tracer, f"{spans.PACKAGE}.{module}", attr, name)
        return events

    def _traced(self, workload, inputs, untraced) -> dict:
        """The same section with spans, the streaming listener and the
        event log on; medallion adds a single-core load."""
        events = self._trace_on()
        if workload == "medallion":
            traced = self.medallion_section(inputs, "t")
            rounds = traced["rounds"]
            drops = [x["seconds"] for x in rounds[1:]]
            load_s = rounds[0]["seconds"]
            self.facts.update(
                {
                    "pipeline.load_rows_per_s": rounds[0]["order_lines"] / load_s,
                    "pipeline.drop_tail_s": layers.drop_tail(drops),
                    "pipeline.drop_samples": len(drops),
                    "sources.fact_files_written.load": rounds[0]["fact_files_written"],
                    "sources.fact_files_written.drop": statistics.median(
                        x["fact_files_written"] for x in rounds[1:]
                    ),
                    "sources.fact_rows_per_file": rounds[-1]["fact_rows"] / max(1, rounds[-1]["fact_files"]),
                    "drop_bytes_landed": sum(x["bytes_landed"] for x in rounds[1:]),
                }
            )
            cpus, os.environ["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_CPUS"], "1"
            try:
                self._start(event_log=events)
                single = self.medallion_section(inputs, "single", max_rounds=1, prefix="single.")
            finally:
                os.environ["SPARK_GRAFT_CPUS"] = cpus
            self.facts["pipeline.load_speedup"] = single["bulk_s"] / load_s
        else:
            traced = self.query_section(inputs, 0.0, max_passes=1)
        # the medallion load is cold only in the untraced section, so its
        # overhead is read on the drops
        key = "step_cpu_gmean_s" if workload == "medallion" else "bulk_cpu_s"
        self.facts["trace.overhead_frac"] = traced[key] / untraced[key] - 1.0
        self.spark.stop()
        self.spark = None
        jobs = spans.parse_event_log(events)
        spans.attribute(jobs, self.tracer, self.listener)
        traced["per_layer"] = layers.compute(self.tracer, jobs, self.listener, self.facts)
        traced["spans"] = self.tracer.dump()
        traced["jobs"] = jobs
        traced["streaming_progress"] = self.listener.progress
        return traced

    # ----------------------------------------------------------- self-check
    def selfcheck(self) -> int:
        """The trace tooling on a tiny two-query session and a one-drop
        pipeline run, plus the metric names against BENCHMARK.json."""
        events = self._trace_on()
        data_dir = gen.write_tables(gen.make_tables(TINY_SF, 1), os.path.join(self.work, "tables"))
        mix = querymix.Mix(self.spark, data_dir, ("fact_sales", "pricing_summary"), self.tracer)
        res = mix.run_pass(keep=True)
        mix.verify(res)
        tiny = gen.make_landing(gen.make_tables(TINY_SF, 1), 1, 1, 0.1)
        self.medallion_section(tiny, "check")
        self.spark.stop()
        self.spark = None
        jobs = spans.parse_event_log(events)
        spans.attribute(jobs, self.tracer, self.listener)
        per_layer = layers.compute(self.tracer, jobs, self.listener, self.facts)
        tops = {self.tracer.top(j["span"]).name for j in jobs if j.get("span")}
        streamed = [j for j in jobs if j["group"] in self.listener.started]
        with open("BENCHMARK.json") as fh:
            declared = json.load(fh)
        checks = {
            "event log has jobs": len(jobs) > 0,
            "every job charged to a span": all(j.get("span") for j in jobs),
            "query build and exec spans issued jobs": {"queries.build", "queries.exec"} <= tops,
            "queries.data.load spans recorded": per_layer["queries.data.load_calls"] > 0,
            "every pipeline step issued jobs": {f"pipeline.{s}" for s in layers.STEPS} <= tops,
            "streaming jobs carry their run id": len(streamed) > 0,
            "streaming jobs charged to pipeline spans": all(
                self.tracer.top(j["span"]).name.startswith("pipeline.") for j in streamed
            ),
            "drop round has streaming progress": per_layer["streaming.batches"] > 0,
            "oracles match": not self.mismatches and not any(r.mismatch or r.error for r in res),
            "no failure but the known DQ defect": not self.unexpected,
            "per_layer names match BENCHMARK.json": [
                (m["name"], m["unit"]) for m in declared["per_layer"]
            ] == [(k, u) for k, (u, _) in layers.NAMES.items()],
            "end_to_end names match BENCHMARK.json": [
                (m["name"], m["unit"]) for m in declared["end_to_end"]
            ] == list(E2E_UNITS.items()),
        }
        for name, ok in checks.items():
            print(f"{'ok  ' if ok else 'FAIL'} {name}")
        return 0 if all(checks.values()) else 1

    # ----------------------------------------------------------- report
    def _report(self, workload, metrics, artifact) -> None:
        os.makedirs(OUT_DIR, exist_ok=True)
        name = f"{workload}-s{self.seed}-t{int(self.traced)}.json"
        with open(os.path.join(OUT_DIR, name), "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
        for k, m in metrics.items():
            print(f"{k:48s} {m['value']:.6g} {m['unit']}")
        if not self.traced:
            for k, w in WALL.items():
                print(f"  ({k} as wall time: {w} {artifact['untraced'][w]:.6g} s)")
        print(
            f"oracle: {len(self.mismatches)} mismatches; operations: "
            f"{self.attempted} attempted, {len(self.failed_ops)} failed"
        )
        for m in self.mismatches:
            print(f"  MISMATCH {m}")
        for u in self.unexpected:
            print(f"  UNEXPECTED FAILURE {u}")
        for e, n in sorted(self.errors.items()):
            print(f"  FAILED x{n} {e}")
        print(f"artifact: perfbench/out/{name}")
