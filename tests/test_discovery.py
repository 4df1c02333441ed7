"""Discovery-layer parity tests (SURVEY §2.1 S1-S3, P4, J1)."""

from __future__ import annotations

import os

from clickhouse_only_importer_prototype_spark.sources.discovery import (
    discover_cna_files,
    discover_mutation_files,
    parse_meta_file,
)


def test_cna_discovery_excludes_seg_and_case_lists(study_tree):
    inputs = discover_cna_files(study_tree)
    paths = [i.path for i in inputs]
    assert len(inputs) == 2
    assert all("seg" not in p for p in paths)
    assert all("case_lists" not in p for p in paths)
    # deterministic sorted order
    assert paths == sorted(paths)


def test_cna_meta_pairing(study_tree):
    inputs = {os.path.basename(os.path.dirname(i.path)): i for i in discover_cna_files(study_tree)}
    assert inputs["study_a"].cancer_study_id == "study_a"
    assert inputs["study_a"].genetic_profile_id == "study_a_gistic"
    assert inputs["study_b"].genetic_profile_id == "study_b_cna"


def test_mutation_discovery(study_tree):
    inputs = discover_mutation_files(study_tree)
    assert len(inputs) == 2
    by_study = {i.cancer_study_id: i for i in inputs}
    assert by_study["study_a"].genetic_profile_id == "study_a_mutations"
    assert by_study["study_b"].path.endswith("data_mutations_extended.txt")


def test_unmatched_data_file_gets_empty_ids(tmp_path):
    # data file with no meta -> processed with empty study/profile
    # (cmd/cli/main.go:324-332)
    d = tmp_path / "study_c"
    d.mkdir()
    (d / "data_cna.txt").write_text("Hugo_Symbol\tEntrez_Gene_Id\tS1\nTP53\t7157\t0\n")
    inputs = discover_cna_files(str(tmp_path))
    assert len(inputs) == 1
    assert inputs[0].cancer_study_id == ""
    assert inputs[0].genetic_profile_id == ""


def test_meta_without_data_filename_skipped(tmp_path):
    d = tmp_path / "study_d"
    d.mkdir()
    (d / "meta_cna.txt").write_text("cancer_study_identifier: study_d\nstable_id: x\n")
    (d / "data_cna.txt").write_text("Hugo_Symbol\tEntrez_Gene_Id\tS1\nTP53\t7157\t0\n")
    inputs = discover_cna_files(str(tmp_path))
    # meta skipped -> data file unmatched -> empty ids
    assert inputs[0].cancer_study_id == ""


def test_parse_meta_early_exit_and_comments(tmp_path):
    p = tmp_path / "meta_cna.txt"
    p.write_text(
        "# header comment\n\n"
        "cancer_study_identifier: s1\n"
        "extra_key: ignored\n"
        "stable_id: gistic\n"
        "data_filename: data_cna.txt\n"
        "late_key: also_ignored\n"
    )
    assert parse_meta_file(str(p)) == ("s1", "gistic", "data_cna.txt")


def test_caselists_substring_pruning(tmp_path):
    from clickhouse_only_importer_prototype_spark.sources.discovery import (
        discover_cna_files,
    )

    s = tmp_path / "study"
    (s / "extra_case_lists").mkdir(parents=True)
    (s / "meta_cna.txt").write_text(
        "cancer_study_identifier: s\nstable_id: x\ndata_filename: data_cna.txt\n"
    )
    (s / "data_cna.txt").write_text("Hugo_Symbol\tEntrez_Gene_Id\tA\nG\t1\t0\n")
    # both must be skipped: dir contains the substring, file name contains it
    (s / "extra_case_lists" / "data_cna.txt").write_text("x\n")
    (s / "data_cna_case_lists.txt").write_text("x\n")
    found = discover_cna_files(str(tmp_path))
    assert [i.path for i in found] == [str(s / "data_cna.txt")]


def test_profile_requires_both_parts(tmp_path):
    from clickhouse_only_importer_prototype_spark.sources.discovery import (
        discover_cna_files,
    )

    s = tmp_path / "study"
    s.mkdir()
    (s / "meta_cna.txt").write_text(
        "cancer_study_identifier: mystudy\ndata_filename: data_cna.txt\n"
    )
    (s / "data_cna.txt").write_text("Hugo_Symbol\tEntrez_Gene_Id\tA\nG\t1\t0\n")
    (found,) = discover_cna_files(str(tmp_path))
    assert found.cancer_study_id == "mystudy"
    assert found.genetic_profile_id == ""  # no stable_id -> no profile


def test_unreadable_meta_warns_and_continues(tmp_path):
    from clickhouse_only_importer_prototype_spark.sources.discovery import (
        discover_cna_files,
    )

    s = tmp_path / "study"
    s.mkdir()
    (s / "meta_cna.txt").write_bytes(b"cancer_study_identifier: s\xff\xfe\n")
    (s / "data_cna.txt").write_text("Hugo_Symbol\tEntrez_Gene_Id\tA\nG\t1\t0\n")
    (found,) = discover_cna_files(str(tmp_path))  # must not raise
    assert found.cancer_study_id == ""
