from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_only_importer_prototype_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = os.environ.get(
    "SPARK_GRAFT_SF_DIR_ORACLE", "/root/testdata/sf0.01"
)


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    # local[N,2]: maxFailures=2 so ONE task re-attempt exists — the
    # HTTP sink's at-least-once retry-duplication contract needs a
    # real Spark retry to pin (test_clickhouse_http_sink_retry_
    # duplicates_posted_batches). Fail-loud tests still fail their
    # jobs; they just pay one extra (tiny) task attempt first.
    s = get_spark(app_name="cips-tests", master=f"local[{cpus},2]")
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), number of Spark jobs fn submitted):
    fn runs under its own job group, counted by the status tracker."""
    sc = spark.sparkContext
    # every local property setJobGroup sets, restored afterwards so later
    # jobs of the shared session do not inherit the group
    props = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        saved = {p: sc.getLocalProperty(p) for p in props}
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for p, v in saved.items():
                sc.setLocalProperty(p, v)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_DIR_CORRECTNESS


def write_tsv(path, rows):
    """rows: list of lists -> tab-separated file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        for row in rows:
            fh.write("\t".join(str(c) for c in row) + "\n")


@pytest.fixture()
def study_tree(tmp_path):
    """FIXTURES.md §1 study layout: two studies, CNA + MAF + decoys."""
    root = tmp_path / "studies"

    # --- study_a: CNA 3 genes x 3 samples ---
    a = root / "study_a"
    write_tsv(
        a / "data_cna.txt",
        [
            ["Hugo_Symbol", "Entrez_Gene_Id", "S1", "S2", "S3"],
            ["TP53", "7157", "-2", "0", "1"],
            ["EGFR", "1956", "2", "-1", "0"],
            ["KRAS", "3845", "0", "1", "2"],
        ],
    )
    (a / "meta_cna.txt").write_text(
        "# comment line\n"
        "cancer_study_identifier: study_a\n"
        "stable_id: gistic\n"
        "data_filename: data_cna.txt\n"
    )
    # MAF with comment lines; includes Score, BAM_File
    write_tsv(
        a / "data_mutations.txt",
        [
            ["#version 2.4"],
            [
                "Hugo_Symbol", "Entrez_Gene_Id", "Chromosome", "Start_Position",
                "End_Position", "Reference_Allele", "Tumor_Seq_Allele1",
                "Tumor_Seq_Allele2", "Tumor_Sample_Barcode", "t_alt_count",
                "Score", "BAM_File",
            ],
            ["TP53", "7157", "17", "7577121", "7577121", "C", "C", "T",
             "SAMPLE-01", "12", "0.9", "a.bam"],
            ["EGFR", "1956", "7", "55249071", "55249071", "G", "G", "A",
             "SAMPLE-02", "7", "0.8", "b.bam"],
            ["KRAS", "3845", "12", "25398284", "25398284", "C", "C", "A",
             "SAMPLE-01", "30", "0.7", "c.bam"],
        ],
    )
    (a / "meta_mutations.txt").write_text(
        "cancer_study_identifier: study_a\n"
        "stable_id: mutations\n"
        "data_filename: data_mutations.txt\n"
    )
    # decoys: seg + case_lists must be ignored
    write_tsv(a / "meta_cna_seg.txt", [["ignored"]])
    write_tsv(a / "data_cna_hg19_seg.txt", [["ignored"]])
    write_tsv(a / "case_lists" / "data_cna.txt", [["ignored"]])

    # --- study_b: CNA 2 genes x 2 samples; MAF missing Score/BAM_File ---
    b = root / "study_b"
    write_tsv(
        b / "data_cna.txt",
        [
            ["Hugo_Symbol", "Entrez_Gene_Id", "X1", "X2"],
            ["BRAF", "673", "1", "-1"],
            ["MYC", "4609", "0", "2"],
        ],
    )
    (b / "meta_cna.txt").write_text(
        "cancer_study_identifier: study_b\n"
        "stable_id: cna\n"
        "data_filename: data_cna.txt\n"
    )
    write_tsv(
        b / "data_mutations_extended.txt",
        [
            [
                "Hugo_Symbol", "Entrez_Gene_Id", "Chromosome", "Start_Position",
                "Tumor_Seq_Allele2", "Tumor_Sample_Barcode",
            ],
            ["BRAF", "673", "7", "140453136", "T", "SAMPLE-X1"],
            ["MYC", "4609", "8", "128750540", "G", "SAMPLE-X2"],
        ],
    )
    (b / "meta_mutations.txt").write_text(
        "cancer_study_identifier: study_b\n"
        "stable_id: mutations\n"
        "data_filename: data_mutations_extended.txt\n"
    )
    return str(root)
