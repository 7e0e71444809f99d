"""Seeded benchmark inputs, and the answers the program must give on them.

Every input is generated here from a seed, so the benchmark never reads a
reference checkout or the network. While writing an input the generator
also computes, independently of the package, what the package must return:
the annotated long table's row count and zygosity x vartype2 histogram,
per-sample call counts, the allele-count spectrum, and the survivors of
every planted duplicate cluster. The oracle below restates the annotation
rules from FIXTURES.md; it shares no code with `pandasvcf_spark`.

Fixtures are cached by (kind, shape, seed) under the benchmark's work
directory; `meta.json` records each fixture's shape, expected answers and
the sha256 of every file, which a cache hit re-checks.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
import struct
import zlib
from collections import Counter
from pathlib import Path

import numpy as np

#: Genotype-code sentinels (allele indices are 0..3).
MISSING = 255  # a '.' allele
ABSENT = 254  # no second allele (haploid call)
BARE_DOT = 253  # the whole call is '.' (first code only)

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)

# --------------------------------------------------------------------------
# Oracle: the annotation rules, restated (FIXTURES.md sections 3-4).


def vartype(ref: str, allele: str) -> str:
    """Variant class of one allele against REF."""
    if allele == ref:
        return "ref"
    overlap = sum(1 for a, b in zip(ref, allele) if a != b)
    if len(ref) == len(allele):
        return "snp" if overlap == 1 else "mnp"
    if len(ref) > len(allele):
        return "indel" if overlap else "del"
    return "ins"


def annotate_call(ref: str, alt: str, gt: str) -> tuple[str, str] | None:
    """(zygosity, vartype2) of one call's GT string, or None when the call
    leaves no row (missing GT, or a site whose ALT is '.')."""
    if alt == "." or gt in ("./.", ".|.", "."):
        return None
    alleles = [ref] + alt.split(",")
    parts = gt.replace("|", "/").split("/")

    def resolve(p: str | None) -> str:
        if p is None or not p.isdigit() or int(p) >= len(alleles):
            return "."
        return alleles[int(p)]

    a1 = resolve(parts[0])
    a2 = resolve(parts[1] if len(parts) > 1 else None)
    if a1 == ref and a2 == ref:
        zyg = "hom-ref"
    elif a1 == "." and a2 == ".":
        zyg = "hom-miss"
    elif a1 == "." or a2 == ".":
        zyg = "het-miss"
    elif a1 != a2:
        zyg = "het-alt" if a1 != ref and a2 != ref else "het-ref"
    else:
        zyg = "hom-alt"
    return zyg, vartype(ref, a2)


def gt_string(g1: int, g2: int, sep: str) -> str:
    """Render a genotype code pair ('.' for MISSING, haploid for ABSENT)."""
    if g1 == BARE_DOT:
        return "."
    a = "." if g1 == MISSING else str(g1)
    if g2 == ABSENT:
        return a
    return a + sep + ("." if g2 == MISSING else str(g2))


def site_answers(ref, alt, g1, g2, sep):
    """Per-site oracle over one row of genotype codes: histogram counts,
    kept-row mask, called mask and the non-REF allele count per call."""
    pair = g1.astype(np.int32) * 256 + g2
    uniq, inverse = np.unique(pair, return_inverse=True)
    hist: Counter = Counter()
    kept = np.zeros(len(uniq), dtype=bool)
    called = np.zeros(len(uniq), dtype=bool)
    hom_ref = np.zeros(len(uniq), dtype=bool)
    nonref = np.zeros(len(uniq), dtype=np.int64)
    counts = np.bincount(inverse, minlength=len(uniq))
    for k, code in enumerate(uniq):
        c1, c2 = int(code) >> 8, int(code) & 255
        res = annotate_call(ref, alt, gt_string(c1, c2, sep))
        if res is None:
            continue
        kept[k] = True
        hom_ref[k] = res[0] == "hom-ref"
        hist[res] += int(counts[k])
        if "miss" not in res[0]:
            called[k] = True
            nonref[k] = (c1 != 0) + (c2 != 0)
    return hist, kept[inverse], called[inverse], hom_ref[inverse], nonref[inverse]


# --------------------------------------------------------------------------
# Writers.


def write_bgzf(path: Path, data: bytes, block: int = 65280) -> None:
    """Blocked gzip as htslib writes it: independent members carrying the
    'BC' block-size subfield, then the empty EOF member."""
    with open(path, "wb") as out:
        for i in range(0, len(data), block):
            chunk = data[i : i + block]
            comp = zlib.compress(chunk, 6)[2:-4]
            out.write(
                b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff\x06\x00BC\x02\x00"
                + struct.pack("<H", len(comp) + 25)
                + comp
                + struct.pack("<II", zlib.crc32(chunk), len(chunk))
            )
        out.write(
            bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")
        )


def sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for blk in iter(lambda: fh.read(1 << 20), b""):
            h.update(blk)
    return h.hexdigest()


def _hist_json(hist: Counter) -> dict[str, int]:
    return {f"{z}/{v}": n for (z, v), n in sorted(hist.items())}


# --------------------------------------------------------------------------
# 1000 Genomes-shaped panel: phased GT only, ~97% hom-ref.


def _exact_mix(rng, n: int, shares: list[float]) -> np.ndarray:
    """n category labels in exactly the given shares, in seeded order: a
    seed changes which rows get which label, not how many, so the work per
    pass does not drift with the seed."""
    counts = np.floor(np.array(shares) * n).astype(int)
    counts[0] += n - counts.sum()
    return rng.permutation(np.repeat(np.arange(len(shares)), counts))


def _kg_sites(rng, n_sites):
    """REF/ALT per site: 90% SNPs, 5% deletions, 2% insertions, 3%
    multiallelic (a second SNP or insertion allele)."""
    kind = _exact_mix(rng, n_sites, [0.90, 0.05, 0.02, 0.03])
    refs, alts = [], []
    for k in kind:
        r = chr(rng.choice(BASES))
        other = lambda: chr(rng.choice([b for b in BASES if b != ord(r)]))  # noqa: E731
        tail = lambda: "".join(chr(b) for b in rng.choice(BASES, rng.integers(1, 4)))  # noqa: E731
        if k == 0:
            refs.append(r), alts.append(other())
        elif k == 1:
            refs.append(r + tail()), alts.append(r)
        elif k == 2:
            refs.append(r), alts.append(r + tail())
        else:
            second = other() if rng.random() < 0.5 else r + tail()
            first = other()
            while first == second:
                first = other()
            refs.append(r), alts.append(f"{first},{second}")
    return refs, alts


def _kg_codes(rng, alts, n_samples):
    """Haplotype allele indices: per-site alt frequencies are a fixed
    Beta(0.3, 15) spectrum (mean ~2%, so ~96-97% of calls are 0|0) dealt to
    sites in seeded order; rare '.|.'."""
    n_sites = len(alts)
    spectrum = np.sort(np.random.default_rng(0).beta(0.3, 15.0, n_sites))
    p = rng.permutation(spectrum)[:, None]
    n_alt = np.array([a.count(",") + 1 for a in alts])[:, None]
    h = (rng.random((n_sites, 2, n_samples)) < p[:, :, None]).astype(np.uint8)
    second = (rng.random(h.shape) < 0.3) & (n_alt[:, :, None] > 1)
    h = h + (h & second)
    miss = rng.random((n_sites, n_samples)) < 0.0005
    g1 = np.where(miss, MISSING, h[:, 0]).astype(np.uint8)
    g2 = np.where(miss, MISSING, h[:, 1]).astype(np.uint8)
    return g1, g2


def _calls_text(g1, g2, sep: bytes) -> np.ndarray:
    """(sites, samples*4) uint8 of 'a|b\\t' cells, rows ending in '\\n'."""
    cells = np.empty(g1.shape + (4,), dtype=np.uint8)
    cells[..., 0] = np.where(g1 == MISSING, ord("."), g1 + ord("0"))
    cells[..., 1] = sep[0]
    cells[..., 2] = np.where(g2 == MISSING, ord("."), g2 + ord("0"))
    cells[..., 3] = ord("\t")
    cells[:, -1, 3] = ord("\n")
    return cells.reshape(g1.shape[0], -1)


def make_kg(out: Path, seed: int, n_sites: int, n_samples: int) -> dict:
    rng = np.random.default_rng(seed)
    refs, alts = _kg_sites(rng, n_sites)
    g1, g2 = _kg_codes(rng, alts, n_samples)
    samples = [f"HG{i:05d}" for i in range(n_samples)]
    pos = 16_050_075 + np.cumsum(rng.integers(1, 300, n_sites))
    header = [
        "##fileformat=VCFv4.1",
        '##INFO=<ID=AC,Number=A,Type=Integer,Description="Alternate allele count">',
        '##INFO=<ID=AN,Number=1,Type=Integer,Description="Total allele number">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        "##contig=<ID=22,assembly=b37,length=51304566>",
        "#" + "\t".join(
            ["CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]
            + samples
        ),
    ]
    calls = _calls_text(g1, g2, b"|")
    lines = ["\n".join(header).encode() + b"\n"]
    hist_drop, hist_keep = Counter(), Counter()
    rows_per_sample = np.zeros(n_samples, dtype=np.int64)
    called_per_sample = np.zeros(n_samples, dtype=np.int64)
    het_per_sample = np.zeros(n_samples, dtype=np.int64)
    spectrum: Counter = Counter()
    for i in range(n_sites):
        ac = int(((g1[i] != 0) & (g1[i] != MISSING)).sum() + ((g2[i] != 0) & (g2[i] != MISSING)).sum())
        fixed = f"22\t{pos[i]}\t.\t{refs[i]}\t{alts[i]}\t100\tPASS\tAC={ac};AN={2 * n_samples}\tGT\t"
        lines.append(fixed.encode() + calls[i].tobytes())
        hist, kept, called, hom_ref, nonref = site_answers(refs[i], alts[i], g1[i], g2[i], "|")
        hist_keep.update(hist)
        hist_drop.update({k: v for k, v in hist.items() if k[0] != "hom-ref"})
        rows_per_sample += kept
        called_per_sample += called
        het_per_sample += called & (nonref == 1)
        spectrum[(2 * int(called.sum()), int(nonref.sum()))] += 1
    raw = b"".join(lines)
    vcf = out / "panel.vcf.gz"
    vcf.write_bytes(gzip.compress(raw, 6, mtime=0))
    np.savez_compressed(out / "codes.npz", g1=g1, g2=g2, pos=pos)
    return {
        "input": vcf.name,
        "raw_bytes": len(raw),
        "sites": n_sites,
        "samples": n_samples,
        "genotypes": n_sites * n_samples,
        "rows_drop_hom_ref": sum(hist_drop.values()),
        "hist_drop_hom_ref": _hist_json(hist_drop),
        "rows_keep_hom_ref": sum(hist_keep.values()),
        "hist_keep_hom_ref": _hist_json(hist_keep),
        "rows_per_sample": rows_per_sample.tolist(),
        "called_per_sample": called_per_sample.tolist(),
        "het_per_sample": het_per_sample.tolist(),
        "af_spectrum": {f"{an}/{ac}": n for (an, ac), n in sorted(spectrum.items())},
    }


# --------------------------------------------------------------------------
# Titin/Wellderly-shaped panel: unphased, sparse, rich FORMAT, BGZF.

RICH_FORMAT = "GT:FT:GQ:HQ:DP:AD"


def _rich_sites(rng, n_sites):
    choices = [("A", "G"), ("CA", "CAA"), ("AT", "A"), ("CA", "AT"), ("G", "G,T"),
               ("C", "T"), ("G", "A"), ("T", "C,CT"), ("A", ".")]
    probs = [0.30, 0.08, 0.08, 0.04, 0.08, 0.18, 0.15, 0.04, 0.05]
    pick = _exact_mix(rng, n_sites, probs)
    return [choices[k][0] for k in pick], [choices[k][1] for k in pick]


def make_rich(out: Path, seed: int, n_sites: int, n_samples: int) -> dict:
    rng = np.random.default_rng(seed)
    refs, alts = _rich_sites(rng, n_sites)
    chrom = np.array(["2", "chr2", "X"])[_exact_mix(rng, n_sites, [0.85, 0.10, 0.05])]
    haploid = chrom == "X"
    rich = _exact_mix(rng, n_sites, [0.25, 0.75]).astype(bool)
    pos = 179_392_051 + np.cumsum(rng.integers(1, 40, n_sites))
    n_alt = np.array([0 if a == "." else a.count(",") + 1 for a in alts])

    # Calls: 40% bare '.', otherwise a diploid/haploid genotype with
    # occasional missing alleles; allele index drawn within the site's ALTs.
    r = rng.random((n_sites, n_samples, 2))
    alle = (r < 0.35).astype(np.int64) + (r < 0.05)
    alle = np.minimum(alle, np.maximum(n_alt, 1)[:, None, None])
    alle = np.where(rng.random(alle.shape) < 0.06, MISSING, alle)
    g1 = alle[..., 0].astype(np.uint8)
    g2 = np.where(haploid[:, None], ABSENT, alle[..., 1]).astype(np.uint8)
    g1 = np.where(rng.random((n_sites, n_samples)) < 0.40, BARE_DOT, g1).astype(np.uint8)

    samples = [f"S{i:03d}" for i in range(n_samples)]
    header = [
        "##fileformat=VCFv4.1",
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=FT,Number=1,Type=String,Description="Filter">',
        '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">',
        '##FORMAT=<ID=HQ,Number=2,Type=Integer,Description="Haplotype quality">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">',
        "##contig=<ID=2,length=243199373>",
        "#" + "\t".join(
            ["CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]
            + samples
        ),
    ]
    dp = rng.integers(5, 90, (n_sites, n_samples))
    gq = rng.integers(10, 500, (n_sites, n_samples))
    hist: Counter = Counter()
    rows = dp_sum = n_ad = 0
    lines = ["\n".join(header)]
    for i in range(n_sites):
        calls = []
        site_hist, kept, _, _, _ = site_answers(refs[i], alts[i], g1[i], g2[i], "/")
        hist.update(site_hist)
        rows += int(kept.sum())
        for j in range(n_samples):
            gt = gt_string(int(g1[i, j]), int(g2[i, j]), "/")
            if rich[i] and gt != ".":
                if gt == "./.":
                    calls.append(gt + ":.:.:.,.:.:.,.")
                    continue
                d = int(dp[i, j])
                calls.append(f"{gt}:PASS:{gq[i, j]}:{gq[i, j]},{d}:{d}:{d // 2},{d - d // 2}")
                if kept[j]:
                    dp_sum += d
            else:
                calls.append(gt)
        if rich[i]:
            n_ad += int(kept.sum())
        info = "." if i % 3 else f"END={pos[i] + 1};AC=1"
        lines.append(
            f"{chrom[i]}\t{pos[i]}\t.\t{refs[i]}\t{alts[i]}\t.\t.\t{info}\t"
            f"{RICH_FORMAT if rich[i] else 'GT'}\t" + "\t".join(calls)
        )
    raw = ("\n".join(lines) + "\n").encode()
    vcf = out / "rich.vcf.gz"
    write_bgzf(vcf, raw)
    return {
        "input": vcf.name,
        "raw_bytes": len(raw),
        "sites": n_sites,
        "samples": n_samples,
        "genotypes": n_sites * n_samples,
        "rows_keep_hom_ref": rows,
        "hist_keep_hom_ref": _hist_json(hist),
        "ad_rows": n_ad,
        "dp_sum": dp_sum,
        "text_lines": len(header) + n_sites,
    }


# --------------------------------------------------------------------------
# Documents with planted exact and near-duplicate clusters.


def make_docs(out: Path, seed: int, n_docs: int) -> dict:
    """`documents`-shaped table (doc_id, text, lang, source, n_chars).
    Every eighth base document gets 1-3 exact copies (case/whitespace
    noise), every eighth (offset by four) 1-3 near copies (one word
    replaced, word-2-gram Jaccard >= 0.93); the rest are unrelated.
    Unrelated documents draw from a 3,000-word vocabulary, so their 2-gram
    overlap is far below the 0.9 threshold. The cluster plan is fixed; the
    seed draws the words and the ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = ["".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(3, 9)))
             for _ in range(3000)]
    vocab = sorted(set(vocab))
    texts: list[str] = []
    clusters: list[list[int]] = []
    kinds: list[str] = []
    n_base = 0
    while len(texts) < n_docs:
        words = [vocab[k] for k in rng.integers(0, len(vocab), rng.integers(60, 140))]
        base = len(texts)
        texts.append(" ".join(words))
        n_base += 1
        kind = {0: "exact", 4: "near"}.get(n_base % 8)
        copies = 1 + (n_base // 8) % 3
        if kind and len(texts) + copies <= n_docs:
            members = [base]
            for _ in range(copies):
                if kind == "exact":
                    noisy = "  ".join(words[:3]).upper() + " " + " ".join(words[3:]) + " "
                    texts.append(noisy)
                else:
                    w = list(words)
                    while " ".join(w) in texts[base:]:  # no exact dup among variants
                        w = list(words)
                        w[int(rng.integers(1, len(w) - 1))] = "zz" + vocab[int(rng.integers(len(vocab)))]
                    texts.append(" ".join(w))
                members.append(len(texts) - 1)
            clusters.append(members)
            kinds.append(kind)
    # Shuffle ids so cluster members are not adjacent.
    perm = rng.permutation(len(texts))
    ids = np.empty(len(texts), dtype=np.int64)
    ids[perm] = np.arange(len(texts), dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": [f"src{int(k) % 7}" for k in ids],
        "n_chars": [len(t) for t in texts],
    })
    path = out / "documents.parquet"
    pq.write_table(table, path)
    dropped_exact = dropped_near = 0
    survivors = set(int(i) for i in ids)
    cluster_ids = []
    for members, kind in zip(clusters, kinds):
        cid = sorted(int(ids[m]) for m in members)
        cluster_ids.append(cid)
        survivors -= set(cid[1:])
        if kind == "exact":
            dropped_exact += len(cid) - 1
        else:
            dropped_near += len(cid) - 1
    n = len(texts)
    after_exact = n - dropped_exact
    after_near = after_exact - dropped_near
    report = [n, n, after_exact, after_exact, after_near] + [after_near] * 5
    return {
        "input": path.name,
        "raw_bytes": os.path.getsize(path),
        "docs": n,
        "clusters": cluster_ids,
        "survivors": sorted(survivors),
        "report_rows": report,
    }


# --------------------------------------------------------------------------

MAKERS = {"kg": make_kg, "rich": make_rich, "docs": make_docs}

#: Bump when a generator's output or answers change, so old caches miss.
VERSION = 1


def fixture(cache: Path, kind: str, seed: int, **shape) -> tuple[Path, dict]:
    """Directory and meta of the (kind, shape, seed) fixture, generating it
    on a cache miss. A hit whose files no longer match their recorded
    sha256 is regenerated."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    d = cache / f"{kind}-v{VERSION}-{tag}-s{seed}"
    meta_path = d / "meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if all(sha256(d / f) == h for f, h in meta["sha256"].items()):
            return d, meta
    tmp = cache / f".{d.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = MAKERS[kind](tmp, seed, **shape)
    meta.update(kind=kind, seed=seed, shape=shape)
    meta["sha256"] = {f.name: sha256(f) for f in sorted(tmp.iterdir())}
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, meta
