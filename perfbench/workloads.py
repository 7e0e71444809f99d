"""The three workloads. Each loads the package's layers in a different
proportion, so that a gain in one layer shows on one workload and
predicts no change on another (METRICS.md has the table):

  gz_flagship      the paper's workload: a 1000G-shaped plain .gz through
                   annotate_vcf(drop_hom_ref=True). ~97% of calls are
                   hom-ref and are dropped inside the per-site map, before
                   the explode, so time sits in the text scan (one-task
                   gunzip, raw-text spread exchange), the per-site sample
                   parse and the call's driver-side construction, little in
                   per-call annotation.
  bgzf_rich_write  titin-shaped, BGZF-blocked, every call exploded and
                   annotated with FORMAT fields, written to parquet: time
                   sits in operators.annotate, the sources.bgzf Arrow source
                   and the writer, with no exchange.
  short_jobs       many short Spark jobs driven from Python: five analysis
                   queries over an annotated long table in parquet (no text
                   is scanned), then prepare_corpus(near_dup=True) on
                   documents with planted duplicate clusters (~43 jobs).
                   Driver-side construction, Catalyst, scheduling and code
                   generation dominate; operators.reshape, operators.pipeline
                   and operators.dedup are measured here.

A workload makes its input (`fixture`, untimed), sets up (`setup`, counted
in setup_s), runs one validated pass (`one_pass`), and in traced runs
measures its layers from outside (`probe`). Every output is compared with
the answers the generator computed; a disagreement counts as a failed
operation, never as a slow one.
"""

from __future__ import annotations

import os
import shutil
import statistics
from time import perf_counter as now

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from pandasvcf_spark.operators.annotate import (
    af_spectrum,
    annotate_genotypes,
    annotate_vcf,
    explode_genotypes,
    inbreeding_stats,
    sample_qc,
)
from pandasvcf_spark.operators.pipeline import prepare_corpus
from pandasvcf_spark.operators.reshape import pivot_genotypes
from pandasvcf_spark.sources.bgzf import bgzf_block_offsets, read_bgzf_lines
from pandasvcf_spark.sources.vcf import read_vcf, read_vcf_header, vcf_to_parquet

from perfbench import fixtures
from perfbench.probe import JobGroup

SITE_KEY = ["CHROM", "POS", "REF", "ALT"]


def _hist_obs(expected: dict[str, int]):
    """Observed aggregates: total rows plus one count per expected
    'zygosity/vartype2' key (a row outside every key shows as a total
    mismatch)."""
    exprs = [F.count(F.lit(1)).alias("rows")]
    for i, key in enumerate(expected):
        z, v = key.split("/")
        hit = (F.col("zygosity") == z) & (F.col("vartype2") == v)
        exprs.append(F.sum(F.when(hit, 1).otherwise(0)).alias(f"h{i}"))
    return exprs


def _hist_ok(got: dict, expected: dict[str, int]) -> bool:
    return got["rows"] == sum(expected.values()) and all(
        got[f"h{i}"] == n for i, n in enumerate(expected.values())
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_scan(b, span: str, df, rows: int, what: str) -> float:
    """Noop-write `df` inside a span; check its row count; return the wall."""
    obs = Observation()
    with b.tracer.span(span):
        t = now()
        _noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
        wall = now() - t
    b.check(obs.get["rows"] == rows, what, obs.get)
    return wall


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class Workload:
    name = ""
    route: str | None = None  # expected scan route, checked once a run
    unit = "items"
    #: Passes a session measures at least, about --seconds' worth, so
    #: that a fast host does not move the median to a later, warmer pass.
    min_passes = 3
    #: JVMs a run starts one after another, each warmed up and measured for
    #: its share of --seconds; pass_p50_s is the median of all their passes.
    #: setup() runs in the first only, and setup_s is the first's set-up.
    sessions = 1
    min_traced = 2  # traced iterations a traced run makes at least
    KIND = ""  # fixtures.MAKERS key
    SHAPE: dict = {}

    def fixture(self, b) -> None:
        """Make (or find cached) this seed's input and its answers."""
        self.dir, self.meta = fixtures.fixture(b.cache, self.KIND, b.seed, **self.SHAPE)
        self.path = str(self.dir / self.meta["input"])
        b.fixture_sha.update(self.meta["sha256"])

    def setup(self, b) -> None:
        """Ingest done before timing (counted in setup_s)."""

    def items(self) -> int:
        raise NotImplementedError

    def one_pass(self, b) -> None:
        raise NotImplementedError

    def route_df(self, b):
        """A DataFrame planned once a run for the route check and the
        Catalyst phase times."""
        return None

    def probe(self, b) -> dict[str, float]:
        return {}

    def detail(self, b) -> dict[str, float]:
        """Further user-visible figures of the run, printed as detail lines."""
        return {}


class GzFlagship(Workload):
    name = "gz_flagship"
    route = "text"
    unit = "genotypes"
    min_passes = 2  # its passes agree within a few percent
    KIND = "kg"
    SHAPE = dict(n_sites=2000, n_samples=2504)

    def items(self):
        return self.meta["genotypes"]

    def route_df(self, b):
        return annotate_vcf(b.spark, self.path, drop_hom_ref=True)

    def one_pass(self, b):
        expected = self.meta["hist_drop_hom_ref"]
        with b.tracer.span("operators.annotate:annotate_vcf"):
            df = annotate_vcf(b.spark, self.path, drop_hom_ref=True)
        obs = Observation()
        with b.tracer.span("exec:noop_write"):
            _noop(df.observe(obs, *_hist_obs(expected)))
        b.check(_hist_ok(obs.get, expected), "annotated histogram", obs.get)

    def probe(self, b):
        with b.tracer.span("sources.vcf:read_vcf_header"):
            t = now()
            read_vcf_header(self.path)
            header_s = now() - t
        with b.tracer.span("sources.vcf:read_vcf"):
            t = now()
            wide = read_vcf(b.spark, self.path)
            build_s = now() - t
        with JobGroup(b.spark, "scan") as jg:
            scan_s = _timed_scan(b, "exec:scan", wide, self.meta["sites"], "scanned sites")
        return {"vcf.header_s": header_s, "vcf.build_s": build_s, "vcf.scan_s": scan_s,
                "vcf.exchange_bytes": jg.stats()["shuffle_bytes"]}


class BgzfRichWrite(Workload):
    name = "bgzf_rich_write"
    route = "bgzf"
    unit = "genotypes"
    KIND = "rich"
    SHAPE = dict(n_sites=1600, n_samples=209)
    SPLIT = {"AD": 2, "HQ": 2}

    def fixture(self, b):
        super().fixture(b)
        self.out = str(b.work / "out" / "rich.parquet")

    def items(self):
        return self.meta["genotypes"]

    def build(self, b):
        with b.tracer.span("sources.vcf:read_vcf"):
            wide = read_vcf(b.spark, self.path, bgzf=True)
        with b.tracer.span("operators.annotate:annotate_genotypes"):
            fields = [f for f in read_vcf_header(self.path).format_ids if f != "GT"]
            return annotate_genotypes(
                explode_genotypes(wide), drop_hom_ref=False,
                format_fields=fields, split_columns=self.SPLIT)

    def route_df(self, b):
        return self.build(b)

    def _observed(self, df):
        obs = Observation()
        exprs = _hist_obs(self.meta["hist_keep_hom_ref"]) + [
            F.sum(F.col("DP").try_cast("int")).alias("dp_sum"),
            F.count("AD_0").alias("ad_rows"),
            F.sum(F.col("CHROM").startswith("chr").cast("int")).alias("chr_rows"),
        ]
        return df.observe(obs, *exprs), obs

    def _check(self, b, got):
        m = self.meta
        ok = (_hist_ok(got, m["hist_keep_hom_ref"]) and got["dp_sum"] == m["dp_sum"]
              and got["ad_rows"] == m["ad_rows"] and not got["chr_rows"])
        b.check(ok, "annotated rich table", got)

    def one_pass(self, b):
        df = self.build(b)
        with b.tracer.span("writer:parquet"):
            df, obs = self._observed(df)
            df.write.mode("overwrite").parquet(self.out)
        self._check(b, obs.get)
        b.extra["write.bytes"] = _dir_bytes(self.out)
        b.extra["out_bytes_per_in_byte"] = b.extra["write.bytes"] / self.meta["raw_bytes"]

    def probe(self, b):
        df = self.build(b)
        with b.tracer.span("exec:noop_write"):
            t = now()
            df, obs = self._observed(df)
            _noop(df)
            noop_s = now() - t
        self._check(b, obs.get)
        with b.tracer.span("sources.bgzf:bgzf_block_offsets"):
            t = now()
            bgzf_block_offsets(self.path)
            offsets_s = now() - t
        with b.tracer.span("sources.bgzf:read_bgzf_lines"):
            lines = read_bgzf_lines(b.spark, self.path)
            chunks = lines.rdd.getNumPartitions()
        m = self.meta
        return {
            "bgzf.offsets_s": offsets_s,
            "bgzf.chunks": chunks,
            "bgzf.scan_s": _timed_scan(b, "exec:bgzf_scan", lines, m["text_lines"], "bgzf lines"),
            "vcf.text_scan_s": _timed_scan(
                b, "exec:text_scan", read_vcf(b.spark, self.path, bgzf=False), m["sites"], "text scan"),
            "vcf.scan_s": _timed_scan(
                b, "exec:vcf_scan", read_vcf(b.spark, self.path, bgzf=True), m["sites"], "bgzf scan"),
            "write.noop_pass_s": noop_s,
        }


class CohortQueries(Workload):
    """The first part of short_jobs: five queries over a cohort's annotated
    long table, set up by ingesting a 1000G-shaped VCF to parquet."""

    KIND = "kg"
    SHAPE = dict(n_sites=500, n_samples=2504)
    N_PIVOT = 64

    def fixture(self, b):
        super().fixture(b)
        codes = np.load(self.dir / "codes.npz")
        self.g1, self.g2, self.pos = codes["g1"], codes["g2"], codes["pos"]
        rng = np.random.default_rng(b.seed + 1)
        n = self.meta["sites"]
        lo = int(rng.integers(0, n - n // 10))
        self.pos_lo, self.pos_hi = int(self.pos[lo]), int(self.pos[lo + n // 10 - 1])
        self.pivot_idx = sorted(rng.choice(self.meta["samples"], self.N_PIVOT, replace=False).tolist())
        self.pivot_ids = [f"HG{i:05d}" for i in self.pivot_idx]
        self.wide = str(b.work / "out" / "cohort_wide.parquet")
        self.long = str(b.work / "out" / "cohort_long.parquet")

    def setup(self, b):
        with b.tracer.span("sources.vcf:vcf_to_parquet"):
            vcf_to_parquet(b.spark, self.path, self.wide)
        with b.tracer.span("operators.annotate:annotate_genotypes"):
            long_df = annotate_genotypes(
                explode_genotypes(b.spark.read.parquet(self.wide)), drop_hom_ref=False)
        obs = Observation()
        expected = self.meta["hist_keep_hom_ref"]
        with b.tracer.span("writer:parquet"):
            long_df.observe(obs, *_hist_obs(expected)).write.mode("overwrite").parquet(self.long)
        b.check(_hist_ok(obs.get, expected), "cohort long table", obs.get)
        self.queries = self._queries()

    def items(self):
        return len(self.queries)

    def _queries(self):
        m = self.meta
        samples = [f"HG{i:05d}" for i in range(m["samples"])]

        def value_counts(t):
            return t.groupBy("zygosity", "vartype2").count()

        def check_value_counts(rows):
            return {f"{r[0]}/{r[1]}": r[2] for r in rows} == m["hist_keep_hom_ref"]

        def check_sample_qc(rows):
            got = {r["sample_ids"]: (r["n_sites"], r["n_called"]) for r in rows}
            return got == dict(zip(samples, zip(m["rows_per_sample"], m["called_per_sample"])))

        def spectrum(t):
            return af_spectrum(t, SITE_KEY)

        def check_spectrum(rows):
            return {f"{r['an']}/{r['ac']}": r["n_sites"] for r in rows} == m["af_spectrum"]

        def pivot(t):
            t = t.filter(F.col("POS").between(self.pos_lo, self.pos_hi))
            return pivot_genotypes(t, "GT", sample_ids=self.pivot_ids)

        def check_pivot(rows):
            sel = np.nonzero((self.pos >= self.pos_lo) & (self.pos <= self.pos_hi))[0]
            want = {}
            for i in sel:
                want[int(self.pos[i])] = tuple(
                    None if self.g1[i, j] == fixtures.MISSING
                    else fixtures.gt_string(int(self.g1[i, j]), int(self.g2[i, j]), "|")
                    for j in self.pivot_idx)
            got = {r["POS"]: tuple(r[s] for s in self.pivot_ids) for r in rows}
            return got == want

        def inbreeding(t):
            return inbreeding_stats(t, SITE_KEY, "sample_ids")

        def check_inbreeding(rows):
            got = {r["sample"]: (r["n_called"], r["obs_het"]) for r in rows}
            return got == dict(zip(samples, zip(m["called_per_sample"], m["het_per_sample"])))

        return [
            ("value_counts", value_counts, check_value_counts),
            ("sample_qc", sample_qc, check_sample_qc),
            ("af_spectrum", spectrum, check_spectrum),
            ("pivot", pivot, check_pivot),
            ("inbreeding", inbreeding, check_inbreeding),
        ]

    def route_df(self, b):
        return self.queries[0][1](b.spark.read.parquet(self.long))

    def one_pass(self, b):
        for name, build, check in self.queries:
            with b.tracer.span(f"operators.query:{name}"):
                t = now()
                df = build(b.spark.read.parquet(self.long))
                t_build = now() - t
            with b.tracer.span(f"exec:{name}"):
                rows = df.collect()
                t_exec = now() - t - t_build
            b.check(check(rows), f"query {name}", rows[:5])
            b.queries.append((name, t_build, t_exec))


class CorpusPrepare(Workload):
    """The second part of short_jobs: prepare_corpus on seeded documents."""

    KIND = "docs"
    SHAPE = dict(n_docs=2000)

    def fixture(self, b):
        super().fixture(b)
        s = self.meta["survivors"]
        self.want = (len(s), sum(s), sum(x * x for x in s))

    def items(self):
        return self.meta["docs"]

    def one_pass(self, b):
        with b.tracer.span("operators.pipeline:prepare_corpus"):
            t = now()
            cleaned, report = prepare_corpus(b.spark.read.parquet(self.path), near_dup=True)
            b.extra.setdefault("corpus.build_s", []).append(now() - t)
        obs = Observation()
        ids = F.col("doc_id")
        with b.tracer.span("exec:materialize"):
            t = now()
            _noop(cleaned.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(ids).alias("s"),
                                  F.sum(ids * ids).alias("s2")))
            rows = [r["rows"] for r in report.orderBy("stage").collect()]
            b.extra.setdefault("corpus.exec_s", []).append(now() - t)
        got = obs.get
        ok = (got["n"], got["s"], got["s2"]) == self.want and rows == self.meta["report_rows"]
        b.check(ok, "cleaned corpus", {**got, "report": rows})
        for name, n in zip(("input", "exact_dedup", "near_dedup"), (rows[0], rows[2], rows[4])):
            b.extra[f"corpus.rows.{name}"] = n


class ShortJobs(Workload):
    """The cohort queries, then prepare_corpus, in one pass: six operations
    of many short jobs each. A pass's speed depends on the JVM more than on
    anything else here (prepare_corpus generates and compiles ~80 classes
    every pass; the queries keep getting faster for many passes), so a run
    measures one pass in each of two JVMs; the second reads the tables the
    first ingested."""

    name = "short_jobs"
    unit = "ops"
    min_passes = 1
    sessions = 2
    min_traced = 5  # 50 queries, so that the p75 has ten samples beyond it

    def __init__(self):
        self.cohort, self.corpus = CohortQueries(), CorpusPrepare()

    def fixture(self, b):
        self.cohort.fixture(b)
        self.corpus.fixture(b)

    def setup(self, b):
        self.cohort.setup(b)

    def items(self):
        return self.cohort.items() + 1

    def route_df(self, b):
        return self.cohort.route_df(b)

    def one_pass(self, b):
        self.cohort.one_pass(b)
        with JobGroup(b.spark, "corpus") as jg:
            self.corpus.one_pass(b)
        b.groups["corpus"] = jg

    def detail(self, b):
        n = self.cohort.items()
        rounds = [sum(bs + es for _, bs, es in b.queries[i:i + n])
                  for i in range(0, len(b.queries), n)]
        corpus = [x + y for x, y in zip(b.extra["corpus.build_s"], b.extra["corpus.exec_s"])]
        return {"queries_per_s": n / statistics.median(rounds),
                "docs_per_s": self.corpus.items() / statistics.median(corpus)}


WORKLOADS = {w.name: w for w in (GzFlagship, BgzfRichWrite, ShortJobs)}


def clean_out(b) -> None:
    shutil.rmtree(b.work / "out", ignore_errors=True)
