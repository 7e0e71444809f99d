"""Self-tests of the benchmark: generator determinism, the generator's
oracle against the package (on the FIXTURES.md section 3 micro-fixture and
on tiny generated fixtures), the span self-time arithmetic, and
BENCHMARK.json naming exactly the metrics the benchmark prints.

    python3 -m pytest perfbench/test_selfcheck.py -q
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import fixtures  # noqa: E402
from perfbench.trace import Span, Tracer, layer_self_times, self_times  # noqa: E402

# FIXTURES.md section 3, with its expected (zygosity, vartype2) per call
# (drop_hom_ref=False; ALT='.' and './.' calls leave no row).
MICRO = [
    ("1", 100, "A", "G", "GT:DP", ["0|1:12", "0|0:7"]),
    ("1", 200, "A", "G,T", "GT:DP", ["1|2:30", "0|0:9"]),
    ("1", 300, "AT", "A", "GT", ["1/1", "./."]),
    ("1", 400, "A", ".", "GT", ["0/1", "1/1"]),
    ("X", 500, "G", "A", "GT", ["1", "0"]),
    ("1", 600, "C", "CTT", "GT", ["./1", "0/0"]),
]
MICRO_EXPECTED = {
    (100, "S1"): ("het-ref", "snp"), (100, "S2"): ("hom-ref", "ref"),
    (200, "S1"): ("het-alt", "snp"), (200, "S2"): ("hom-ref", "ref"),
    (300, "S1"): ("hom-alt", "del"),
    (500, "S1"): ("het-miss", "snp"), (500, "S2"): ("het-miss", "snp"),
    (600, "S1"): ("het-miss", "ins"), (600, "S2"): ("hom-ref", "ref"),
}


def _oracle_micro():
    out = {}
    for _, pos, ref, alt, fmt, calls in MICRO:
        for sample, call in zip(("S1", "S2"), calls):
            res = fixtures.annotate_call(ref, alt, call.split(":")[0])
            if res is not None:
                out[(pos, sample)] = res
    return out


def test_oracle_matches_fixtures_md():
    assert _oracle_micro() == MICRO_EXPECTED


@pytest.mark.parametrize("kind,shape", [
    ("kg", dict(n_sites=30, n_samples=8)),
    ("rich", dict(n_sites=30, n_samples=8)),
    ("docs", dict(n_docs=40)),
])
def test_generator_is_deterministic_per_seed(tmp_path, kind, shape):
    _, a = fixtures.fixture(tmp_path / "a", kind, 7, **shape)
    _, b = fixtures.fixture(tmp_path / "b", kind, 7, **shape)
    _, c = fixtures.fixture(tmp_path / "c", kind, 8, **shape)
    assert a["sha256"] == b["sha256"]
    assert a["sha256"] != c["sha256"]


def test_cache_hit_rechecks_sha(tmp_path):
    d, meta = fixtures.fixture(tmp_path, "kg", 3, n_sites=20, n_samples=4)
    (d / meta["input"]).write_bytes(b"corrupt")
    d2, meta2 = fixtures.fixture(tmp_path, "kg", 3, n_sites=20, n_samples=4)
    assert fixtures.sha256(d2 / meta2["input"]) == meta["sha256"][meta["input"]]


def _span(i, parent, start, end):
    return Span(i, f"layer{i}:call", parent, "r", start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "pass", None, "r", 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps span 1: the union is 1..5
        _span(3, 0, 9.0, 12.0),  # runs past its parent: clipped to 9..10
        _span(4, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    layers = layer_self_times(spans, "pass")
    assert layers == [{"layer1": 2.0, "layer2": 2.0, "layer3": 3.0, "layer4": 1.0}]


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("pass"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("pass"), t.span("sources.vcf:read_vcf"):
        pass
    assert [(s.name, s.parent) for s in t.spans] == [("pass", None), ("sources.vcf:read_vcf", 0)]


def test_benchmark_json_names_the_printed_metrics():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_query_tail_needs_ten_samples_beyond_it():
    from perfbench.run import _tail
    from perfbench.workloads import ShortJobs

    assert _tail([float(i) for i in range(40)], 0.75) is None  # only 9 beyond index 30
    assert _tail([float(i) for i in range(44)], 0.75) == 33.0  # 10 beyond
    traced_queries = ShortJobs.min_traced * 2 * 5  # untraced + traced pass, 5 queries
    assert _tail([0.0] * traced_queries, 0.75) is not None


# ---------------------------------------------------------------- with Spark


@pytest.fixture(scope="module")
def spark():
    from pandasvcf_spark import get_spark

    s = get_spark(app_name="perfbench-selfcheck", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _hist(df):
    return {f"{r[0]}/{r[1]}": r[2] for r in df.groupBy("zygosity", "vartype2").count().collect()}


def test_oracle_matches_program_on_micro_fixture(spark, tmp_path):
    from pandasvcf_spark.operators.annotate import annotate_vcf

    head = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n"
    body = "".join(f"{c}\t{p}\t.\t{r}\t{a}\t50\tPASS\t.\t{f}\t" + "\t".join(s) + "\n"
                   for c, p, r, a, f, s in MICRO)
    path = tmp_path / "micro.vcf"
    path.write_text("##fileformat=VCFv4.1\n" + head + body)
    got = {(r["POS"], r["sample_ids"]): (r["zygosity"], r["vartype2"])
           for r in annotate_vcf(spark, str(path), drop_hom_ref=False).collect()}
    assert got == _oracle_micro()


def test_oracle_matches_program_on_generated_vcfs(spark, tmp_path):
    from pandasvcf_spark.operators.annotate import annotate_vcf

    d, m = fixtures.fixture(tmp_path, "kg", 5, n_sites=60, n_samples=16)
    path = str(d / m["input"])
    assert _hist(annotate_vcf(spark, path, drop_hom_ref=True)) == m["hist_drop_hom_ref"]
    long = annotate_vcf(spark, path, drop_hom_ref=False)
    assert _hist(long) == m["hist_keep_hom_ref"]
    per_sample = Counter(r["sample_ids"] for r in long.select("sample_ids").collect())
    assert [per_sample[f"HG{i:05d}"] for i in range(16)] == m["rows_per_sample"]

    d, m = fixtures.fixture(tmp_path, "rich", 5, n_sites=60, n_samples=12)
    rich = annotate_vcf(spark, str(d / m["input"]), drop_hom_ref=False)
    assert _hist(rich) == m["hist_keep_hom_ref"]


def test_oracle_matches_program_on_generated_corpus(spark, tmp_path):
    from pandasvcf_spark.operators.pipeline import prepare_corpus

    d, m = fixtures.fixture(tmp_path, "docs", 5, n_docs=120)
    cleaned, report = prepare_corpus(spark.read.parquet(str(d / m["input"])), near_dup=True)
    assert sorted(r["doc_id"] for r in cleaned.collect()) == m["survivors"]
    assert [r["rows"] for r in report.orderBy("stage").collect()] == m["report_rows"]
    for cluster in m["clusters"]:
        assert len(set(cluster) & set(m["survivors"])) == 1
