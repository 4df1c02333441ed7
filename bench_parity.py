"""Study-COUNT and matrix-WIDTH scale tiers for the reference CLI
convert modes.

Every query family has measured 10x/100x/1000x row-count vectors, but
the reference's actual workload scales on two other axes: the NUMBER
of studies (cmd/cli/main.go walks a directory of study dirs) and the
WIDTH of each CNA matrix (one column per sample; real cBioPortal
matrices carry hundreds to thousands). This harness generates a
synthetic study tree per tier and times the convert modes end-to-end:

    python bench_parity.py                 # N=100 count tier
    python bench_parity.py 100 1000 wide   # both count tiers + width

Count tier N: N studies of 20 genes x 8 samples CNA + a 12-row MAF —
small enough that all measured cost is per-study overhead (job
scheduling, plan analysis). Width tier ``wide``: 2 studies of 200
genes x 10,000 samples CNA + a 2,000-row MAF — the cost a per-column
plan would pay grows with the sample columns. One cell of the second
study's matrix is csv-quoted, so that file takes the csv-parse route of
convert_cna at full width. Prints one JSON line per tier and merges all
tiers into BENCH_parity.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clickhouse_only_importer_prototype_spark.plans import pipelines  # noqa: E402
from clickhouse_only_importer_prototype_spark.session import get_spark  # noqa: E402

GENES = [
    ("TP53", 7157), ("EGFR", 1956), ("KRAS", 3845), ("BRCA1", 672),
    ("BRCA2", 675), ("PTEN", 5728), ("RB1", 5925), ("APC", 324),
    ("MYC", 4609), ("ALK", 238), ("BRAF", 673), ("NRAS", 4893),
    ("PIK3CA", 5290), ("AKT1", 207), ("CDH1", 999), ("VHL", 7428),
    ("MLH1", 4292), ("MSH2", 4436), ("ATM", 472), ("NF1", 4763),
]
VARIANT_CLASSES = (
    "Missense_Mutation", "Nonsense_Mutation", "Silent",
    "Frame_Shift_Del", "In_Frame_Ins",
)


WIDE_TIER = "wide"


def gen_study_tree(
    root: str,
    n_studies: int,
    n_genes: int = 20,
    n_samples: int = 8,
    maf_rows: int = 12,
    quoted_study: int | None = None,
) -> None:
    """N studies, each: meta+data CNA (genes x samples), meta+data MAF,
    a case_lists/ decoy and a *seg* decoy (the discovery filters must
    pay their cost at count scale too). Deterministic content — value
    distribution does not matter on these axes. Study ``quoted_study``
    writes its first CNA cell csv-quoted (same value once parsed)."""
    for i in range(n_studies):
        study = f"study_{i:05d}"
        d = os.path.join(root, study)
        os.makedirs(os.path.join(d, "case_lists"), exist_ok=True)
        with open(os.path.join(d, "meta_cna.txt"), "w") as fh:
            fh.write(
                f"cancer_study_identifier: {study}\n"
                "stable_id: cna\n"
                "data_filename: data_cna.txt\n"
            )
        samples = [f"S{i:05d}_{j}" for j in range(n_samples)]
        with open(os.path.join(d, "data_cna.txt"), "w") as fh:
            fh.write("Hugo_Symbol\tEntrez_Gene_Id\t" + "\t".join(samples) + "\n")
            for g in range(n_genes):
                sym, ent = GENES[g % len(GENES)]
                vals = [str(((i + g + j) % 5) - 2) for j in range(n_samples)]
                if i == quoted_study and g == 0:
                    vals[0] = f'"{vals[0]}"'
                fh.write(f"{sym}\t{ent}\t" + "\t".join(vals) + "\n")
        with open(os.path.join(d, "meta_mutations.txt"), "w") as fh:
            fh.write(
                f"cancer_study_identifier: {study}\n"
                "stable_id: mutations\n"
                "data_filename: data_mutations.txt\n"
            )
        with open(os.path.join(d, "data_mutations.txt"), "w") as fh:
            fh.write("#version 2.4\n")
            fh.write(
                "Hugo_Symbol\tEntrez_Gene_Id\tTumor_Sample_Barcode\t"
                "Variant_Classification\tCenter\n"
            )
            for r in range(maf_rows):
                sym, ent = GENES[(i + r) % len(GENES)]
                fh.write(
                    f"{sym}\t{ent}\t{samples[r % n_samples]}\t"
                    f"{VARIANT_CLASSES[(i + r) % 5]}\tC1\n"
                )
        with open(os.path.join(d, "case_lists", "cases_all.txt"), "w") as fh:
            fh.write("decoy\n")
        with open(os.path.join(d, "data_cna_hg19.seg"), "w") as fh:
            fh.write("decoy\n")


def run_tier(spark, tier: str) -> dict:
    if tier == WIDE_TIER:
        n_studies, shape, quoted = 2, (200, 10_000, 2_000), 1
    else:
        n_studies, shape, quoted = int(tier), (20, 8, 12), None
    work = tempfile.mkdtemp(prefix=f"parity_{tier}_")
    studies = os.path.join(work, "studies")
    t0 = time.perf_counter()
    gen_study_tree(studies, n_studies, *shape, quoted_study=quoted)
    gen_sec = time.perf_counter() - t0
    timings: dict[str, float] = {}

    def timed(name, fn, *args, **kw):
        t = time.perf_counter()
        res = fn(*args, **kw)
        timings[name] = round(time.perf_counter() - t, 2)
        print(f"  [parity {tier}] {name}: {timings[name]}s", file=sys.stderr)
        return res

    out_cna = os.path.join(work, "out_cna")
    out_mut = os.path.join(work, "out_mut")
    s = timed(
        "convert_cna_with_derived",
        pipelines.convert_cna, spark, studies, out_cna, True,
    )
    assert len(s.processed) == n_studies, s.failed
    s = timed(
        "convert_mutations",
        pipelines.convert_mutations, spark, studies, out_mut,
    )
    assert len(s.processed) == n_studies, s.failed
    if tier != WIDE_TIER:
        timed(
            "combine_cna_with_derived",
            pipelines.combine_cna, spark, out_cna, True,
        )
        timed("combine_mutations", pipelines.combine_mutations, spark, out_mut)
    shutil.rmtree(work, ignore_errors=True)
    per_study = {
        k: round(v / n_studies, 4) for k, v in timings.items()
        if k.startswith("convert")
    }
    genes, samples, maf_rows = shape
    return {
        "metric": "parity_scale_tier",
        "tier": tier,
        "n_studies": n_studies,
        "cna_genes": genes,
        "cna_samples": samples,
        "maf_rows": maf_rows,
        "gen_sec": round(gen_sec, 2),
        "timings_sec": timings,
        "per_study_sec": per_study,
        "unit": "sec",
    }


def main() -> None:
    tiers = sys.argv[1:] or ["100"]
    spark = get_spark(app_name="bench-parity")
    results = []
    for n in tiers:
        r = run_tier(spark, n)
        results.append(r)
        print(json.dumps(r))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_parity.json"
    )
    merged = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                merged = json.load(fh)
        except Exception:
            merged = {}
    for r in results:
        merged[r["tier"]] = r
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=1)


if __name__ == "__main__":
    main()
