"""Seeded cBioPortal study-tree generator for the import workloads.

One seed always yields the same bytes. Besides the tree, the generator
returns what a correct import must land, computed from the TSV text in
plain Python (never through the engine):

* the TSV bytes the importer reads (data files only);
* the row count per output table;
* order-insensitive digests of the CNA ``VALUES`` rows and of the
  ``derived`` (unpivoted) rows, in the same row encoding the capture
  sink applies to the landed JSON rows (``row_digest``).
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

# The MAF columns operators/mutation.py reads by name (schemas.py
# MUTATION_EVENT_COLUMNS / MUTATION_COLUMNS sources), in the order a
# cBioPortal MAF carries them.
MAF_COLUMNS = (
    "Hugo_Symbol", "Entrez_Gene_Id", "Center", "NCBI_Build", "Chromosome",
    "Start_Position", "End_Position", "Strand", "Variant_Classification",
    "Variant_Type", "Reference_Allele", "Tumor_Seq_Allele1",
    "Tumor_Seq_Allele2", "dbSNP_RS", "dbSNP_Val_Status",
    "Tumor_Sample_Barcode", "Matched_Norm_Sample_Barcode",
    "Match_Norm_Seq_Allele1", "Match_Norm_Seq_Allele2",
    "Tumor_Validation_Allele1", "Tumor_Validation_Allele2",
    "Match_Norm_Validation_Allele1", "Match_Norm_Validation_Allele2",
    "Verification_Status", "Validation_Status", "Mutation_Status",
    "Sequencing_Phase", "Sequence_Source", "Validation_Method", "Score",
    "BAM_File", "Sequencer", "HGVSp_Short", "t_ref_count", "t_alt_count",
    "n_ref_count", "n_alt_count",
)
VARIANT_CLASSES = (
    "Missense_Mutation", "Nonsense_Mutation", "Silent", "Frame_Shift_Del",
    "Frame_Shift_Ins", "In_Frame_Del", "Splice_Site",
)
BASES = "ACGT"
CNA_VALUES = ("-2", "-1", "0", "0", "0", "1", "2")

CNA_TABLES = ("genetic_alterations", "genetic_profile_samples", "derived")
MUTATION_TABLES = ("mutation_event", "mutation")
# columns of each digested table, in the order the digest encodes them
DIGEST_COLUMNS = {
    "genetic_alterations": (
        "CANCER_STUDY", "GENETIC_PROFILE", "GENE_SYMBOL", "VALUES",
    ),
    "derived": (
        "SAMPLE_ID", "CANCER_STUDY", "GENE_SYMBOL", "GENETIC_PROFILE",
        "ALTERATION",
    ),
}
DIGEST_MASK = (1 << 64) - 1


@dataclass(frozen=True)
class Shape:
    studies: int
    genes: int
    samples: int
    maf_rows: int
    decoys: bool


@dataclass
class Expected:
    tsv_bytes: int = 0
    rows: dict[str, int] = field(default_factory=dict)
    digests: dict[str, int] = field(default_factory=dict)


def row_digest(values) -> int:
    """64-bit hash of one row's values (tab-joined UTF-8)."""
    h = hashlib.blake2b("\t".join(values).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def _maf_row(rng: random.Random, gene: tuple[str, int], sample: str) -> list:
    sym, entrez = gene
    start = rng.randrange(1, 240_000_000)
    ref = rng.choice(BASES)
    alt = rng.choice(BASES.replace(ref, ""))
    t_depth = rng.randrange(20, 400)
    t_alt = rng.randrange(3, t_depth)
    n_depth = rng.randrange(20, 400)
    values = {
        "Hugo_Symbol": sym,
        "Entrez_Gene_Id": str(entrez),
        "Center": rng.choice(("broad.mit.edu", "mskcc.org", "bcgsc.ca")),
        "NCBI_Build": "GRCh37",
        "Chromosome": str(rng.randrange(1, 23)),
        "Start_Position": str(start),
        "End_Position": str(start),
        "Strand": "+",
        "Variant_Classification": rng.choice(VARIANT_CLASSES),
        "Variant_Type": "SNP",
        "Reference_Allele": ref,
        "Tumor_Seq_Allele1": ref,
        "Tumor_Seq_Allele2": alt,
        "dbSNP_RS": rng.choice(("novel", f"rs{rng.randrange(10**6, 10**8)}")),
        "dbSNP_Val_Status": rng.choice(("", "byFrequency")),
        "Tumor_Sample_Barcode": sample,
        "Matched_Norm_Sample_Barcode": sample[:-2] + "10",
        "Match_Norm_Seq_Allele1": ref,
        "Match_Norm_Seq_Allele2": ref,
        "Tumor_Validation_Allele1": "",
        "Tumor_Validation_Allele2": "",
        "Match_Norm_Validation_Allele1": "",
        "Match_Norm_Validation_Allele2": "",
        "Verification_Status": "Unknown",
        "Validation_Status": rng.choice(("Untested", "Valid")),
        "Mutation_Status": "Somatic",
        "Sequencing_Phase": "Phase_I",
        "Sequence_Source": "WXS",
        "Validation_Method": "none",
        "Score": "",
        "BAM_File": "",
        "Sequencer": "Illumina HiSeq",
        "HGVSp_Short": f"p.{rng.choice('ACDEFGHIKLMNPQRSTVWY')}"
        f"{rng.randrange(1, 2000)}{rng.choice('ACDEFGHIKLMNPQRSTVWY')}",
        "t_ref_count": str(t_depth - t_alt),
        "t_alt_count": str(t_alt),
        "n_ref_count": str(n_depth),
        "n_alt_count": "0",
    }
    return [values[c] for c in MAF_COLUMNS]


def _write_study(root: str, index: int, shape: Shape, rng, exp: Expected):
    study = f"study_{index:04d}"
    profile = f"{study}_gistic"
    d = os.path.join(root, study)
    os.makedirs(d)
    genes = [(f"G{index}_{g:05d}", 10_000 + g) for g in range(shape.genes)]
    samples = [
        f"TCGA-{index:02d}-{s:04d}-01" for s in range(shape.samples)
    ]
    with open(os.path.join(d, "meta_cna.txt"), "w") as fh:
        fh.write(
            f"cancer_study_identifier: {study}\n"
            "genetic_alteration_type: COPY_NUMBER_ALTERATION\n"
            "stable_id: gistic\n"
            "data_filename: data_cna.txt\n"
        )
    with open(os.path.join(d, "meta_mutations.txt"), "w") as fh:
        fh.write(
            f"cancer_study_identifier: {study}\n"
            "genetic_alteration_type: MUTATION_EXTENDED\n"
            "stable_id: mutations\n"
            "data_filename: data_mutations.txt\n"
        )

    ga = derived = 0
    lines = ["Hugo_Symbol\tEntrez_Gene_Id\t" + "\t".join(samples)]
    for sym, entrez in genes:
        cells = [rng.choice(CNA_VALUES) for _ in samples]
        lines.append(f"{sym}\t{entrez}\t" + "\t".join(cells))
        ga += row_digest((study, profile, sym, ",".join(cells)))
        for sample, cell in zip(samples, cells):
            derived += row_digest(
                (f"{study}_{sample}", study, sym, profile, cell)
            )
    cna = ("\n".join(lines) + "\n").encode()
    with open(os.path.join(d, "data_cna.txt"), "wb") as fh:
        fh.write(cna)

    maf_lines = ["#version 2.4", "\t".join(MAF_COLUMNS)]
    for _ in range(shape.maf_rows):
        row = _maf_row(rng, rng.choice(genes), rng.choice(samples))
        maf_lines.append("\t".join(row))
    maf = ("\n".join(maf_lines) + "\n").encode()
    with open(os.path.join(d, "data_mutations.txt"), "wb") as fh:
        fh.write(maf)

    if shape.decoys:
        # discovery must prune case_lists/ and skip *seg* files
        os.makedirs(os.path.join(d, "case_lists"))
        with open(os.path.join(d, "case_lists", "cases_all.txt"), "w") as fh:
            fh.write(f"cancer_study_identifier: {study}\n")
        with open(os.path.join(d, "data_cna_hg19.seg"), "w") as fh:
            fh.write("ID\tchrom\tloc.start\tloc.end\tnum.mark\tseg.mean\n")

    exp.tsv_bytes += len(cna) + len(maf)
    rows = exp.rows
    rows["genetic_alterations"] += shape.genes
    rows["genetic_profile_samples"] += 1
    rows["derived"] += shape.genes * shape.samples
    rows["mutation_event"] += shape.maf_rows
    rows["mutation"] += shape.maf_rows
    exp.digests["genetic_alterations"] = (
        exp.digests["genetic_alterations"] + ga
    ) & DIGEST_MASK
    exp.digests["derived"] = (exp.digests["derived"] + derived) & DIGEST_MASK


def study_tree(root: str, shape: Shape, seed: int) -> Expected:
    """Write ``shape.studies`` studies under ``root`` (which must not
    exist) and return what importing them must land."""
    rng = random.Random(seed)
    exp = Expected(
        rows={t: 0 for t in CNA_TABLES + MUTATION_TABLES},
        digests={t: 0 for t in DIGEST_COLUMNS},
    )
    os.makedirs(root)
    for i in range(shape.studies):
        _write_study(root, i, shape, rng, exp)
    return exp
