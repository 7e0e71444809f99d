"""Benchmark entry point.

    python3 perfbench/run.py --workload gz_flagship --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's input from the seed (cached under .bench_build/perfbench), starts
a SparkSession on local[N] with N = the usable cores (on some workloads
several, one after another, each in a fresh JVM), and drives the package
only through its public functions from this one process: a single client in
a closed loop, each pass starting when the previous one ended.
Every output is checked against the generator's answers.

--trace 0 measures the end-to-end metrics with tracing off. --trace 1 is a
separate run that interleaves untraced passes, traced passes and per-layer
probes, and reports the per-layer metrics. The last line of standard output
is one JSON object: correct, attempted, failed and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_build" / "perfbench"

#: Untimed passes a session runs before measuring (counted in setup_s). The
#: first is cold: class loading, code generation, the Python workers' start.
#: The JIT then speeds up the next ones, by most on the second; without it,
#: how far down that slope a run measured depended on the host's speed.
WARMUP_PASSES = 2

#: (name, unit) of every end-to-end metric; --trace 0 reports all of them.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_p50_s", "s"),
    ("items_per_s", "1/s"),
]

#: (name, unit) of every per-layer metric; --trace 1 reports all of them,
#: 0 where the workload does not reach the layer (METRICS.md).
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"), ("peak_rss_mb", "MB"),
    ("vcf.header_s", "s"), ("vcf.build_s", "s"), ("vcf.scan_s", "s"),
    ("vcf.scan_share", "ratio"), ("vcf.exchange_bytes", "bytes"),
    ("vcf.text_scan_s", "s"),
    ("bgzf.offsets_s", "s"), ("bgzf.scan_s", "s"), ("bgzf.chunks", "count"),
    ("annotate.build_s", "s"), ("annotate.self_s", "s"),
    ("annotate.kept_ratio", "ratio"), ("annotate.jobs", "count"),
    ("write.s", "s"), ("write.bytes", "bytes"), ("write.out_bytes_per_in_byte", "ratio"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("query.p50_s", "s"), ("query.p75_s", "s"), ("query.build_share", "ratio"),
    *[(f"q.{q}.{k}_s", "s") for q in
      ("value_counts", "sample_qc", "af_spectrum", "pivot", "inbreeding")
      for k in ("build", "exec")],
    ("corpus.build_s", "s"), ("corpus.exec_s", "s"), ("corpus.jobs", "count"),
    ("corpus.rows.input", "count"), ("corpus.rows.exact_dedup", "count"),
    ("corpus.rows.near_dedup", "count"),
    ("self.operators.annotate_s", "s"), ("self.operators.query_s", "s"),
    ("self.operators.pipeline_s", "s"), ("self.sources.vcf_s", "s"),
    ("self.writer_s", "s"), ("self.exec_s", "s"),
    ("trace.overhead_frac", "ratio"), ("trace.coverage", "ratio"),
]


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and put the
    package on the path of this process and of the Python workers the JVM
    forks (the BGZF source's Arrow UDF imports it on the workers)."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = str(tmp)


class Bench:
    """State of one run, handed to the workload."""

    def __init__(self, args, spark, tracer):
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.spark, self.tracer = spark, tracer
        self.work, self.cache = WORK, WORK / "fixtures"
        self.fixture_sha: dict[str, str] = {}
        self.attempted = self.failed = 0
        self.extra: dict = {}  # workload figures: a number, or a list of per-pass values
        self.queries: list[tuple[str, float, float]] = []  # (name, build_s, exec_s)
        self.jobs: dict[str, int] = {}  # JobGroup.stats() of the last pass
        self.groups: dict = {}  # job groups a workload opened inside a pass, by name
        self.group_jobs: dict[str, dict[str, int]] = {}  # their stats() in the last pass

    def mark(self) -> tuple:
        """How many per-pass figures are recorded so far."""
        return len(self.queries), {k: len(v) for k, v in self.extra.items() if isinstance(v, list)}

    def forget_since(self, mark: tuple) -> None:
        """Drop the per-pass figures recorded since `mark`."""
        n, lens = mark
        del self.queries[n:]
        for k, v in self.extra.items():
            if isinstance(v, list):
                del v[lens.get(k, 0):]

    def check(self, ok: bool, what: str, got) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH {what}: {str(got)[:2000]}", file=sys.stderr)


def _start_spark(cores: int):
    from pandasvcf_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _tail(xs: list[float], q: float) -> float | None:
    """The q-quantile of xs (nearest rank), or None when fewer than ten
    samples lie beyond it."""
    i = int(q * len(xs))
    return sorted(xs)[i] if len(xs) - 1 - i >= 10 else None


def _session(wl, b, cores: int, seconds: float, first: bool) -> dict | None:
    """One JVM: start a session, warm up, then measure passes for `seconds`
    and at least `wl.min_passes`, and stop the JVM. The first session of a
    run also sets up (ingest), checks the scan route and reads the Catalyst
    phase times. Returns the session's figures, or None when it failed (the
    traceback is on stderr)."""
    from perfbench import probe, workloads

    tracer = b.tracer
    t0 = time.perf_counter()
    spark = b.spark = _start_spark(cores)
    ses = {"start_s": time.perf_counter() - t0, "layer": {}, "warmup": [],
           "walls": [], "traced_walls": [], "probes": []}
    try:
        with probe.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            if first:
                workloads.clean_out(b)
                wl.setup(b)
            mark = b.mark()
            for _ in range(WARMUP_PASSES):
                t = time.perf_counter()
                wl.one_pass(b)
                ses["warmup"].append(time.perf_counter() - t)
            b.forget_since(mark)  # per-pass figures of the warm-up passes
            ses["setup_s"] = time.perf_counter() - t0
            check_df = wl.route_df(b) if first else None
            if check_df is not None:
                phases, plan = probe.plan_phases(check_df)
                if wl.route:
                    probe.check_route(plan, wl.route)
                for k, v in phases.items():
                    ses["layer"][f"catalyst.{k}_s"] = v

            def timed_pass(traced: bool) -> float:
                tracer.enabled = traced
                t = time.perf_counter()
                with tracer.span("pass"), probe.JobGroup(spark, "pass") as jg:
                    wl.one_pass(b)
                wall = time.perf_counter() - t
                tracer.enabled = False
                b.jobs = jg.stats()
                b.group_jobs = {k: g.stats() for k, g in b.groups.items()}
                return wall

            walls, traced_walls = ses["walls"], ses["traced_walls"]
            loop_t0 = time.perf_counter()
            while True:
                if b.traced:
                    # untraced/traced in alternating order, so that neither
                    # side always runs on the warmer JVM
                    for traced in (False, True)[:: 1 if len(walls) % 2 == 0 else -1]:
                        (traced_walls if traced else walls).append(timed_pass(traced))
                    tracer.enabled = True
                    ses["probes"].append(wl.probe(b))
                    tracer.enabled = False
                    done = len(traced_walls) >= wl.min_traced
                else:
                    walls.append(timed_pass(False))
                    done = len(walls) >= wl.min_passes
                if done and time.perf_counter() - loop_t0 >= seconds:
                    break
        ses["peak_rss_mb"] = rss.peak_kb / 1024.0
        ses["provenance"] = probe.provenance(spark, ROOT, b.seed, b.fixture_sha)
    except Exception:
        traceback.print_exc()
        return None
    finally:
        probe.stop_spark(spark)
    return ses


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment()
    try:
        import pyspark  # noqa: F401

        from perfbench import probe, workloads
        from perfbench.trace import Tracer, layer_self_times
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    wl = workloads.WORKLOADS[args.workload]()
    tracer = Tracer(run_id, enabled=False)
    b = Bench(args, None, tracer)
    wl.fixture(b)  # input generation: the benchmark's own cost, not set-up
    load_start, host_start = probe.loadavg(), probe.host_speed()
    cores = len(os.sched_getaffinity(0))

    n_sessions = 1 if b.traced else wl.sessions
    sessions = []
    for i in range(n_sessions):
        ses = _session(wl, b, cores, args.seconds / n_sessions, first=i == 0)
        if ses is None:
            return 1
        sessions.append(ses)
    prov = sessions[-1]["provenance"]
    prov["sessions"] = n_sessions
    prov["loadavg_start"], prov["loadavg_end"] = load_start, probe.loadavg()
    prov["host_probe_s_start"], prov["host_probe_s_end"] = host_start, probe.host_speed()

    walls = [w for ses in sessions for w in ses["walls"]]
    traced_walls, probes = sessions[0]["traced_walls"], sessions[0]["probes"]
    layer = sessions[0]["layer"]
    setup_s = sessions[0]["setup_s"]
    peak_rss_mb = max(ses["peak_rss_mb"] for ses in sessions)
    pass_p50 = statistics.median(walls)
    e2e = {
        "setup_s": setup_s,
        "pass_p50_s": pass_p50,
        "items_per_s": wl.items() / pass_p50,
    }
    detail = {
        "passes": len(walls),
        "pass_min_s": min(walls),
        f"{wl.unit}_per_pass": wl.items(),
        f"{'gt' if wl.unit == 'genotypes' else wl.unit}_per_s": wl.items() / pass_p50,
        "failed_frac": b.failed / max(1, b.attempted),
        "peak_rss_mb": peak_rss_mb,
    }
    if b.queries:
        qwalls = [bs + es for _, bs, es in b.queries]
        detail.update({"queries": len(qwalls), "query_p50_s": statistics.median(qwalls)})
        p75 = _tail(qwalls, 0.75)
        if p75 is not None:
            detail["query_p75_s"] = p75
    if "out_bytes_per_in_byte" in b.extra:
        detail["out_bytes_per_in_byte"] = b.extra["out_bytes_per_in_byte"]
    detail.update(wl.detail(b))

    if b.traced:
        med = lambda key: statistics.median(p[key] for p in probes)  # noqa: E731
        layer.update({k: med(k) for k in probes[0]} if probes else {})
        layer["session.start_s"] = sessions[0]["start_s"]
        layer["session.warmup_s"] = sum(sessions[0]["warmup"]) - WARMUP_PASSES * pass_p50
        layer["peak_rss_mb"] = peak_rss_mb
        layer.update({f"exec.{k}": v for k, v in b.jobs.items()})
        by_pass = layer_self_times(tracer.spans, "pass")
        for name in {n for d in by_pass for n in d}:
            layer[f"self.{name}_s"] = statistics.median(d.get(name, 0.0) for d in by_pass)
        roots = [s for s in tracer.spans if s.name == "pass"]
        layer["trace.coverage"] = statistics.median(
            sum(d.values()) / (r.end - r.start) for d, r in zip(by_pass, roots))
        layer["trace.overhead_frac"] = statistics.median(traced_walls) / pass_p50 - 1.0
        if wl.unit == "genotypes":
            layer["annotate.build_s"] = statistics.median(
                sum(v for k, v in d.items() if k not in ("exec", "writer")) for d in by_pass)
            layer["annotate.jobs"] = b.jobs["jobs"]
            rows = wl.meta.get("rows_drop_hom_ref", wl.meta.get("rows_keep_hom_ref"))
            layer["annotate.kept_ratio"] = rows / wl.items()
            base = layer.get("write.noop_pass_s", pass_p50)
            layer["annotate.self_s"] = base - layer["vcf.scan_s"]
            layer["vcf.scan_share"] = layer["vcf.scan_s"] / pass_p50
        if "write.noop_pass_s" in layer:
            layer["write.s"] = pass_p50 - layer.pop("write.noop_pass_s")
            layer["write.bytes"] = b.extra["write.bytes"]
            layer["write.out_bytes_per_in_byte"] = b.extra["out_bytes_per_in_byte"]
        if b.queries:
            layer["query.p50_s"] = detail["query_p50_s"]
            layer["query.p75_s"] = detail.get("query_p75_s", 0.0)
            layer["query.build_share"] = sum(q[1] for q in b.queries) / sum(
                q[1] + q[2] for q in b.queries)
            for name in {q[0] for q in b.queries}:
                layer[f"q.{name}.build_s"] = statistics.median(q[1] for q in b.queries if q[0] == name)
                layer[f"q.{name}.exec_s"] = statistics.median(q[2] for q in b.queries if q[0] == name)
        if "corpus" in b.group_jobs:
            # prepare_corpus's jobs ran in a group of their own inside the pass
            corpus_jobs = b.group_jobs["corpus"]
            layer["corpus.jobs"] = corpus_jobs["jobs"]
            layer.update({f"exec.{k}": layer[f"exec.{k}"] + v for k, v in corpus_jobs.items()})
        for k, v in b.extra.items():
            if k.startswith("corpus."):
                layer[k] = statistics.median(v) if isinstance(v, list) else v
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}

    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    if b.traced:
        tracer.dump(runs / f"{run_id}.spans.jsonl")
    record = {"run": run_id, "provenance": prov, "detail": detail, "metrics": metrics,
              "pass_walls": walls, "traced_walls": traced_walls}
    (runs / f"{run_id}.json").write_text(json.dumps(record, indent=1))

    print("provenance " + json.dumps(prov, sort_keys=True))
    for k, v in detail.items():
        print(f"detail {k} = {v:.6g}")
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
