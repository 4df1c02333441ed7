"""End-to-end pipeline integration tests over a fixture study tree —
the CLI parity surface (convert/combine modes) verified via DuckDB
reads of the written parquet.
"""

from __future__ import annotations

import glob
import os
import shutil

import duckdb
import pytest

from clickhouse_only_importer_prototype_spark.operators import cna as cna_ops
from clickhouse_only_importer_prototype_spark.operators import mutation as mut_ops
from clickhouse_only_importer_prototype_spark.plans import pipelines
from clickhouse_only_importer_prototype_spark.sinks.parquet import write_parquet
from clickhouse_only_importer_prototype_spark.sources.tsv import read_cna_matrix


@pytest.fixture(scope="module")
def study_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("studies")
    a = root / "study_a"
    (a / "case_lists").mkdir(parents=True)
    (a / "meta_cna.txt").write_text(
        "cancer_study_identifier: study_a\nstable_id: gistic\n"
        "data_filename: data_cna.txt\n"
    )
    (a / "data_cna.txt").write_text(
        "Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\tS3\n"
        "TP53\t7157\t0\t-1\t2\n"
        "BRCA1\t672\t1\t0\t-2\n"
    )
    (a / "meta_mutations.txt").write_text(
        "cancer_study_identifier: study_a\nstable_id: mutations\n"
        "data_filename: data_mutations.txt\n"
    )
    (a / "data_mutations.txt").write_text(
        "#version 2.4\n"
        "Hugo_Symbol\tEntrez_Gene_Id\tChromosome\tStart_Position\t"
        "Tumor_Sample_Barcode\tt_alt_count\n"
        "TP53\t7157\t17\t7578406\tS1\t12\n"
        "BRCA1\t672\t13\t32914438\tS2\t8\n"
    )
    # decoys that must be ignored
    (a / "data_cna_seg.txt").write_text("x\n")
    (a / "case_lists" / "meta_cna.txt").write_text("cancer_study_identifier: nope\n")
    b = root / "study_b"
    b.mkdir()
    (b / "meta_cna.txt").write_text(
        "cancer_study_identifier: study_b\nstable_id: cna\n"
        "data_filename: data_cna.txt\n"
    )
    (b / "data_cna.txt").write_text(
        "Hugo_Symbol\tEntrez_Gene_Id\tT1\nEGFR\t1956\t1\n"
    )
    return root


def _read(path):
    return duckdb.sql(
        f"select * from read_parquet('{path}/*.parquet')"
    ).df()


def _write_cna_outputs(spark, item, parquet_dir, with_derived):
    """The per-file CNA reference: one csv read of the matrix (the csv
    reader's quote semantics, one plan column per sample column) through
    the wide operators, each output written as ONE part file."""
    base = pipelines.output_base(item.path, parquet_dir)
    df = read_cna_matrix(spark, item.path)
    study, profile = item.cancer_study_id, item.genetic_profile_id
    outputs = [
        ("genetic_alterations", cna_ops.genetic_alterations(df, study, profile)),
        (
            "genetic_profile_samples",
            cna_ops.genetic_profile_samples(spark, df, study, profile),
        ),
    ]
    if with_derived:
        outputs.append(("derived", cna_ops.cna_derived(df, study, profile)))
    for suffix, out in outputs:
        write_parquet(out, f"{base}_{suffix}.parquet", single_file=True)


def _per_file_cna(spark, tree, out, with_derived=True):
    """Reference layout: the per-file csv writer over every matrix."""
    for item in pipelines.discover_cna_files(str(tree)):
        _write_cna_outputs(spark, item, str(out), with_derived)


def _write_mutation_outputs(spark, item, parquet_dir, start):
    """The per-file mutation reference: read one MAF (through
    ``pipelines.read_maf``, so injected read faults apply), assign ids
    from ``start``, write both outputs as ONE part file each. Returns
    the next free id (an empty MAF keeps ``start``). On failure, partial
    outputs are removed and the error re-raised."""
    base = pipelines.output_base(item.path, parquet_dir)
    out_paths = (f"{base}_mutation_event.parquet", f"{base}_mutation.parquet")
    try:
        df = pipelines.read_maf(spark, item.path)
        with_ids = mut_ops.with_sequential_ids(df, start=start).persist()
        try:
            write_parquet(
                mut_ops.mutation_event(with_ids), out_paths[0], single_file=True
            )
            write_parquet(
                mut_ops.mutation(
                    with_ids, item.cancer_study_id, item.genetic_profile_id
                ),
                out_paths[1],
                single_file=True,
            )
            return mut_ops.next_event_id(with_ids, start=start)
        finally:
            with_ids.unpersist()
    except Exception:
        for p in out_paths:
            shutil.rmtree(p, ignore_errors=True)
        raise


def _per_file_mutations(spark, tree, out):
    """Reference layout: the per-file writer over every MAF, ids
    threaded in discovery order; a failing file consumes no ids.
    Returns the failed paths."""
    next_id, failed = 0, []
    for item in pipelines.discover_mutation_files(str(tree)):
        try:
            next_id = _write_mutation_outputs(spark, item, str(out), next_id)
        except Exception:  # noqa: BLE001
            failed.append(item.path)
    return failed


def _assert_same_outputs(ref, got):
    """Same output file set; per file the same columns and rows.
    Returns the file names."""
    names = sorted(os.listdir(ref))
    assert sorted(n for n in os.listdir(got) if not n.startswith(".")) == names
    for n in names:
        a, b = _read(ref / n), _read(got / n)
        assert list(a.columns) == list(b.columns), n
        assert sorted(a.itertuples(index=False)) == sorted(
            b.itertuples(index=False)
        ), n
    return names


def _forbid_wide_cna_operators(monkeypatch):
    """Fail any call of a wide CNA operator: a parity run must take the
    single-scan path, not converge through a per-column plan."""

    def forbidden(*args, **kwargs):
        raise AssertionError("wide CNA operator called")

    for name in ("genetic_alterations", "cna_derived", "genetic_profile_samples"):
        monkeypatch.setattr(pipelines.cna_ops, name, forbidden)


def test_convert_cna_with_derived(spark, study_tree, tmp_path):
    out = tmp_path / "out"
    summary = pipelines.convert_cna(
        spark, str(study_tree), str(out), with_derived=True
    )
    assert summary.ok and len(summary.processed) == 2

    ga = _read(out / "study_a_data_cna_genetic_alterations.parquet")
    assert sorted(zip(ga.GENE_SYMBOL, ga.VALUES)) == [
        ("BRCA1", "1,0,-2"),
        ("TP53", "0,-1,2"),
    ]
    assert set(ga.GENETIC_PROFILE) == {"study_a_gistic"}

    gps = _read(out / "study_a_data_cna_genetic_profile_samples.parquet")
    assert len(gps) == 1  # 1-row invariant (cna/transformer.go:553-560)
    assert gps.ORDERED_SAMPLE_LIST[0] == "study_a_S1,study_a_S2,study_a_S3"

    derived = _read(out / "study_a_data_cna_derived.parquet")
    assert len(derived) == 6  # genes x samples
    assert set(derived.SAMPLE_ID) == {"study_a_S1", "study_a_S2", "study_a_S3"}


def test_convert_mutations_gapless_ids(spark, study_tree, tmp_path):
    out = tmp_path / "mout"
    summary = pipelines.convert_mutations(spark, str(study_tree), str(out))
    assert summary.ok

    ev = _read(out / "study_a_data_mutations_mutation_event.parquet")
    mut = _read(out / "study_a_data_mutations_mutation.parquet")
    assert sorted(ev.MUTATION_EVENT_ID) == [0, 1]  # dense, gapless, from 0
    assert sorted(mut.MUTATION_EVENT_ID) == [0, 1]  # FK co-generated
    assert set(mut.SAMPLE_ID) == {"study_a_S1", "study_a_S2"}
    # absent MAF columns become "" (mutation/transformer.go:324)
    assert set(ev.KEYWORD) == {""}
    assert all(ev.START_POSITION.isin(["7578406", "32914438"]))


def test_combine_union_all(spark, study_tree, tmp_path):
    out = tmp_path / "cout"
    pipelines.convert_cna(spark, str(study_tree), str(out), with_derived=True)
    counts = pipelines.combine_cna(spark, str(out), with_derived=True)
    assert counts == {
        "genetic_alterations": 2,
        "genetic_profile_samples": 2,
        "derived": 2,
    }
    combined = _read(out / "combined-all-cna_genetic_alterations.parquet")
    # duplicates preserved, both studies present
    assert len(combined) == 3
    assert set(combined.CANCER_STUDY) == {"study_a", "study_b"}


def test_combined_output_base_derivation(tmp_path):
    """Reference -output path rules (cmd/cli/main.go:198-237,561-579):
    relative joins parquet_dir, absolute used as-is, .parquet suffix
    stripped once before _<kind>.parquet is appended."""
    base = pipelines.combined_output_base("/pq", "my-run.parquet")
    assert base == "/pq/my-run"
    assert pipelines.combined_output_base("/pq", "my-run") == "/pq/my-run"
    abs_base = pipelines.combined_output_base("/pq", "/elsewhere/x.parquet")
    assert abs_base == "/elsewhere/x"
    # default matches the reference's flag default
    assert pipelines.DEFAULT_COMBINE_OUTPUT == "combined-all-cna.parquet"


def test_combine_with_output_override(spark, study_tree, tmp_path):
    out = tmp_path / "cout2"
    other = tmp_path / "other_dir"
    other.mkdir()
    pipelines.convert_cna(spark, str(study_tree), str(out), with_derived=False)
    counts = pipelines.combine_cna(
        spark, str(out), output=str(other / "merged.parquet")
    )
    assert counts["genetic_alterations"] == 2
    combined = _read(other / "merged_genetic_alterations.parquet")
    assert len(combined) == 3


def test_cli_query_oracle_mode(spark, sf_dir, capsys):
    """-oracle runs the registered query AND its DuckDB oracle on the
    same dir and exits 0 on the driver-identical triple match."""
    import pytest

    from clickhouse_only_importer_prototype_spark import cli

    rc = cli.main(
        ["-mode", "query", "-name", "region_rollup",
         "-parquet-dir", sf_dir, "-oracle"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "columns=MATCH rows=MATCH" in out and "values=MATCH" in out

    # rows-only queries have no oracle: the flag must fail loud
    with pytest.raises(SystemExit):
        cli.main(
            ["-mode", "query", "-name", "ann_cosine_topk_lsh",
             "-parquet-dir", sf_dir, "-oracle"]
        )


def _three_study_mutation_tree(tmp_path):
    """s_aa (1 row), s_bb (1 row), s_cc (2 rows) — the D4 fixture the
    read-failure tests share; s_bb is the injection target."""
    root = tmp_path / "studies"
    for name, rows in (
        ("s_aa", ["TP53\t7157\t1\tSA"]),
        ("s_bb", ["BRAF\t673\t3\tSB"]),
        ("s_cc", ["EGFR\t1956\t5\tSC", "KRAS\t3845\t9\tSC"]),
    ):
        d = root / name
        d.mkdir(parents=True)
        (d / "meta_mutations.txt").write_text(
            f"cancer_study_identifier: {name}\nstable_id: mutations\n"
            "data_filename: data_mutations.txt\n"
        )
        (d / "data_mutations.txt").write_text(
            "Hugo_Symbol\tEntrez_Gene_Id\tStart_Position\t"
            "Tumor_Sample_Barcode\n" + "\n".join(rows) + "\n"
        )
    return root


def _spy_grouped_writes(monkeypatch):
    """Record the input paths of every _write_mutations_grouped call."""
    calls = []
    real = pipelines._write_mutations_grouped

    def spy(spark_, inputs, *args):
        calls.append([it.path for it in inputs])
        return real(spark_, inputs, *args)

    monkeypatch.setattr(pipelines, "_write_mutations_grouped", spy)
    return calls


def test_convert_mutations_grouped_salvage_isolates_corrupt_file(
    spark, tmp_path, monkeypatch
):
    """The grouped write is all-or-nothing; convert_mutations restores
    D4 per-file isolation. One MAF fails every read (injected at the
    read_maf seam — PERMISSIVE CSV makes content-level failures
    unreachable), so it breaks the grouped plan and then its own
    per-file write: every healthy file is still converted, the manifest
    names the failure, the failed file's stale outputs from an earlier
    run are removed, and the output equals the per-file writer's over
    the same tree (same file set, same ids, same rows — the failed file
    consumed no ids in both)."""
    root = _three_study_mutation_tree(tmp_path)
    out_ref, out_salv = tmp_path / "oref", tmp_path / "osalv"
    assert pipelines.convert_mutations(spark, str(root), str(out_salv)).ok
    real_read = pipelines.read_maf

    def corrupt_read(spark_, path):
        if "s_bb" in str(path):
            raise RuntimeError("injected corruption")
        return real_read(spark_, path)

    monkeypatch.setattr(pipelines, "read_maf", corrupt_read)
    ref_failed = _per_file_mutations(spark, root, out_ref)
    calls = _spy_grouped_writes(monkeypatch)
    salv = pipelines.convert_mutations(spark, str(root), str(out_salv))
    a, b, c = (it.path for it in pipelines.discover_mutation_files(str(root)))
    assert calls == [[a, b, c], [a], [b], [c]]
    assert not salv.ok and sorted(salv.failed) == ref_failed
    assert len(salv.processed) == 2
    (bad,) = salv.failed
    assert "s_bb" in bad and "injected corruption" in salv.failed[bad]
    names = _assert_same_outputs(out_ref, out_salv)
    assert len(names) == 4 and not any("s_bb" in n for n in names)
    assert not (out_salv / ".grouped_staging").exists()


def test_convert_mutations_grouped_salvage_replays_transient_failure(
    spark, tmp_path, monkeypatch
):
    """A file whose first read fails (transient) breaks the grouped
    write; the per-file pass then converts it, so the run converges to
    ok with a per-file loop's ids in discovery order."""
    root = _three_study_mutation_tree(tmp_path)
    real_read = pipelines.read_maf
    fails = {"n": 0}

    def flaky_once(spark_, path):
        if "s_bb" in str(path) and fails["n"] == 0:
            fails["n"] = 1
            raise RuntimeError("transient read failure")
        return real_read(spark_, path)

    monkeypatch.setattr(pipelines, "read_maf", flaky_once)
    out = tmp_path / "osalv2"
    s = pipelines.convert_mutations(spark, str(root), str(out))
    assert s.ok and len(s.processed) == 3 and not s.failed
    ids = {
        name: sorted(
            _read(out / f"{name}_data_mutations_mutation_event.parquet")
            .MUTATION_EVENT_ID
        )
        for name in ("s_aa", "s_bb", "s_cc")
    }
    assert ids == {"s_aa": [0], "s_bb": [1], "s_cc": [2, 3]}
    # a per-file write keeps the one-part-file layout
    parts = glob.glob(
        str(out / "s_bb_data_mutations_mutation_event.parquet" / "*.parquet")
    )
    assert len(parts) == 1, parts


@pytest.mark.parametrize("fault", ["staged_write", "poisoned_file"])
def test_convert_mutations_grouped_failure_replays_per_file(
    spark, tmp_path, monkeypatch, fault
):
    """If the grouped write raises after promoting its first table (the
    staged write of the second table fails, once), every file is
    converted again on its own in discovery order: the outputs and ids
    are a per-file loop's and no staging dir is left. ``staged_write``:
    that is the only fault, so the run is ok. ``poisoned_file``: s_bb
    also passes its grouped read and then fails every later read, so its
    own per-file write fails too: it lands in the manifest and loses the
    output the grouped write had already promoted for it."""
    root = _three_study_mutation_tree(tmp_path)
    real_read, real_write = pipelines.read_maf, pipelines.write_parquet
    fired, read_once = [], []

    def read(spark_, path):
        if fault == "poisoned_file" and "s_bb" in str(path):
            if read_once:
                raise RuntimeError("injected corruption")
            read_once.append(path)
        return real_read(spark_, path)

    def write(df, path, **kwargs):
        staged = ".grouped_staging" in path
        if not fired and staged and path.endswith("mutation"):
            fired.append(path)
            raise RuntimeError("injected grouped write failure")
        return real_write(df, path, **kwargs)

    monkeypatch.setattr(pipelines, "read_maf", read)
    monkeypatch.setattr(pipelines, "write_parquet", write)
    out, ref = tmp_path / "out", tmp_path / "ref"
    s = pipelines.convert_mutations(spark, str(root), str(out))
    assert len(fired) == 1
    ref_failed = _per_file_mutations(spark, root, ref)
    assert sorted(s.failed) == ref_failed
    assert len(ref_failed) == (fault == "poisoned_file")
    assert s.ok == (not ref_failed)
    assert len(s.processed) == 3 - len(ref_failed)
    names = _assert_same_outputs(ref, out)
    assert len(names) == 6 - 2 * len(ref_failed)
    assert not (out / ".grouped_staging").exists()


def test_convert_mutations_count_check_catches_changed_file(
    spark, tmp_path, monkeypatch
):
    """A MAF that loses its last data line between the id counts pass
    and the grouped write keeps every rank position in range, so only
    a comparison of the rows written with the counts can see it. The
    grouped write must raise, and the per-file path then converts the
    truncated tree with a per-file loop's ids and outputs."""
    root = _three_study_mutation_tree(tmp_path)
    maf = root / "s_cc" / "data_mutations.txt"
    real_ids = pipelines.mut_ops.with_sequential_ids_multi
    truncated = []

    def ids_then_truncate(*args, **kwargs):
        out = real_ids(*args, **kwargs)
        if not truncated:
            truncated.append(maf)
            maf.write_text("".join(maf.read_text().splitlines(True)[:-1]))
        return out

    monkeypatch.setattr(
        pipelines.mut_ops, "with_sequential_ids_multi", ids_then_truncate
    )
    real_write, raised = pipelines._write_mutations_grouped, []

    def spy(spark_, inputs, *args):
        try:
            return real_write(spark_, inputs, *args)
        except Exception as exc:
            raised.append((len(inputs), exc))
            raise

    monkeypatch.setattr(pipelines, "_write_mutations_grouped", spy)
    out, ref = tmp_path / "out", tmp_path / "ref"
    s = pipelines.convert_mutations(spark, str(root), str(out))
    assert truncated and [n for n, _ in raised] == [3]
    assert s.ok and len(s.processed) == 3
    assert _per_file_mutations(spark, root, ref) == []
    assert len(_assert_same_outputs(ref, out)) == 6
    ids = {
        name: sorted(
            _read(out / f"{name}_data_mutations_mutation_event.parquet")
            .MUTATION_EVENT_ID
        )
        for name in ("s_aa", "s_bb", "s_cc")
    }
    assert ids == {"s_aa": [0], "s_bb": [1], "s_cc": [2]}
    assert not (out / ".grouped_staging").exists()


def _maf_tree(root, mafs):
    """One study dir per ``mafs`` entry (name -> MAF body), or one dir
    holding several MAFs when a name carries a ``/<stem>``."""
    for name, body in mafs.items():
        study, _, stem = name.partition("/")
        d = root / study
        d.mkdir(parents=True, exist_ok=True)
        data = f"data_mutations{stem}.txt"
        (d / f"meta_mutations{stem}.txt").write_text(
            f"cancer_study_identifier: {study}\nstable_id: mutations{stem}\n"
            f"data_filename: {data}\n"
        )
        (d / data).write_text(body)


_MAF_HDR = "Hugo_Symbol\tEntrez_Gene_Id\tStart_Position\tTumor_Sample_Barcode\n"


def _header_groups_tree(tmp_path):
    """g_02 has a different header (a second scan group, so ids
    interleave across groups); g_03 has zero data rows (schema-only
    output both ways)."""
    root = tmp_path / "studies_g"
    _maf_tree(
        root,
        {
            "g_01": _MAF_HDR + "TP53\t7157\t1\tSA\nBRCA1\t672\t2\tSA\n",
            "g_02": "#v2\nTumor_Sample_Barcode\tHugo_Symbol\tEntrez_Gene_Id\t"
            "Center\tStart_Position\nSB\tEGFR\t1956\tC1\t5\n",
            "g_03": _MAF_HDR,
            "g_04": _MAF_HDR + "ALK\t238\t9\tSC\n",
        },
    )
    return root


def _exotic_names_symlink_tree(tmp_path):
    """Two traps of the grouped manifest/id plumbing at once.
    (1) 'x>y' scans as 'x%3Ey' and '%'(0x25) < '0'(0x30), so sorting
    scan URIs would put 'x>y' BEFORE 'x0y' while raw-path discovery
    order is the reverse: ids must follow discovery order.
    (2) input_file_name() does not resolve symlinks, so manifest keys
    must not either, or every file under a symlinked tsv_dir misses
    the broadcast manifest."""
    real_root = tmp_path / "real_studies"
    _maf_tree(
        real_root,
        {
            "s_exotic/_x0y": _MAF_HDR + "TP53\t7157\t1\tSA\nBRCA1\t672\t2\tSA\n",
            "s_exotic/_x>y": _MAF_HDR + "EGFR\t1956\t5\tSB\nKRAS\t3845\t7\tSB\n",
        },
    )
    link = tmp_path / "linked_studies"
    os.symlink(real_root, link)
    return link


@pytest.mark.parametrize(
    "tree, n_files, expected_ids",
    [
        (
            _header_groups_tree,
            4,
            [(0, "7157"), (1, "672"), (2, "1956"), (3, "238")],
        ),
        (
            _exotic_names_symlink_tree,
            2,
            [(0, "7157"), (1, "672"), (2, "1956"), (3, "3845")],
        ),
    ],
    ids=["header_groups", "exotic_names_symlink"],
)
def test_convert_mutations_grouped_matches_loop_layout(
    spark, tmp_path, monkeypatch, tree, n_files, expected_ids
):
    """convert_mutations' grouped single-job write must reproduce the
    per-file writer's OUTPUT LAYOUT exactly — same file names, same
    rows per file, identical ids, one part file per output — in one
    grouped write of every input. Event ids are dense, gapless and
    in discovery order, checked explicitly per (id, ENTREZ_GENE_ID)."""
    root = tree(tmp_path)
    loop_out = tmp_path / "loop_g"
    grouped_out = tmp_path / "grouped_g"
    assert _per_file_mutations(spark, root, loop_out) == []
    calls = _spy_grouped_writes(monkeypatch)
    s = pipelines.convert_mutations(spark, str(root), str(grouped_out))
    assert s.ok and len(s.processed) == n_files
    discovered = pipelines.discover_mutation_files(str(root))
    assert calls == [[it.path for it in discovered]]
    assert not (grouped_out / ".grouped_staging").exists()
    for fname in _assert_same_outputs(loop_out, grouped_out):
        parts = glob.glob(str(grouped_out / fname / "*.parquet"))
        assert len(parts) == 1, f"{fname}: expected 1 part file"
    ids = duckdb.sql(
        f"select MUTATION_EVENT_ID, ENTREZ_GENE_ID from read_parquet("
        f"'{grouped_out}/*_mutation_event.parquet/*.parquet')"
        " order by MUTATION_EVENT_ID"
    ).fetchall()
    assert ids == expected_ids


def test_convert_cna_grouped_matches_loop_layout(
    spark, study_tree, tmp_path, monkeypatch
):
    """convert_cna's single scan writes the per-file csv writer's output
    layout and rows exactly, one part file per Spark-written output,
    genetic_profile_samples written driver-side (pyarrow) with its
    1-row invariant intact."""
    loop_out = tmp_path / "loop_c"
    grouped_out = tmp_path / "grouped_c"
    _per_file_cna(spark, study_tree, loop_out)
    _forbid_wide_cna_operators(monkeypatch)
    s = pipelines.convert_cna(
        spark, str(study_tree), str(grouped_out), with_derived=True
    )
    assert s.ok and len(s.processed) == 2
    for fname in _assert_same_outputs(loop_out, grouped_out):
        if "genetic_alterations" in fname or "derived" in fname:
            parts = glob.glob(str(grouped_out / fname / "*.parquet"))
            assert len(parts) == 1, fname
    gps = _read(grouped_out / "study_a_data_cna_genetic_profile_samples.parquet")
    assert len(gps) == 1  # 1-row invariant (cna/transformer.go:553-560)
    assert gps.ORDERED_SAMPLE_LIST[0] == "study_a_S1,study_a_S2,study_a_S3"


def test_cli_convert_cna_routes_quoted_files_to_csv_reader(
    spark, tmp_path, monkeypatch
):
    """Files a raw tab split would parse differently from the csv
    reader — quoted cells, a quoted header, a data row equal to the
    header, a blank first line — are parsed by the csv reader, the rest by the text scan;
    all of them take the one positional transform and write, never a
    wide CNA operator. The CLI run exits 0 and every output equals the
    per-file writer's."""
    from clickhouse_only_importer_prototype_spark import cli

    root = tmp_path / "studies_q"
    matrices = {
        # a short row, a long row and a line the csv reader drops as
        # blank (only tabs and spaces)
        "s_plain": "Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\n"
        "TP53\t7157\t0\t-1\nKRAS\t3845\t1\t2\t3\n\t \t\nEGFR\n",
        # a quoted tab is one csv field, two text-split fields
        "s_qcell": "Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\n"
        'TP53\t7157\t"0"\t"a\tb"\nEGFR\t1956\t1\t"-2"\n',
        "s_qhead": '"Hugo_Symbol"\tEntrez_Gene_Id\t"S1"\nBRCA1\t672\t2\n',
        "s_rehdr": "Hugo_Symbol\tEntrez_Gene_Id\tS1\n"
        "Hugo_Symbol\tEntrez_Gene_Id\tS1\nALK\t238\t0\n",
        # the csv reader skips a blank first line and takes the next
        "s_tabhdr": "\t\t\nHugo_Symbol\tEntrez_Gene_Id\tS1\nTP53\t7157\t0\n",
    }
    for name, body in matrices.items():
        d = root / name
        d.mkdir(parents=True)
        (d / "meta_cna.txt").write_text(
            f"cancer_study_identifier: {name}\nstable_id: gistic\n"
            "data_filename: data_cna.txt\n"
        )
        (d / "data_cna.txt").write_text(body)
    ref, out = tmp_path / "ref_q", tmp_path / "out_q"
    _per_file_cna(spark, root, ref)
    _forbid_wide_cna_operators(monkeypatch)
    routed = []

    def spy(spark_, path):
        routed.append(os.path.basename(os.path.dirname(path)))
        return read_cna_matrix(spark_, path)

    monkeypatch.setattr(pipelines, "read_cna_matrix", spy)
    rc = cli.main(
        ["-mode", "convert-cna-with-derived", "-tsv-dir", str(root),
         "-parquet-dir", str(out)]
    )
    assert rc == 0
    assert routed == ["s_qcell", "s_qhead", "s_rehdr", "s_tabhdr"]
    assert len(_assert_same_outputs(ref, out)) == 15
    ga = _read(out / "s_qcell_data_cna_genetic_alterations.parquet")
    assert sorted(ga.VALUES) == ["0,a\tb", "1,-2"]
    ga = _read(out / "s_tabhdr_data_cna_genetic_alterations.parquet")
    assert list(zip(ga.GENE_SYMBOL, ga.VALUES)) == [("TP53", "0")]


def test_convert_cna_aborts_on_empty_file_or_duplicate_base(spark, tmp_path):
    """CNA keeps abort-on-first-failure: two inputs that map to one
    output base raise before anything is read, and an empty matrix (no
    header, so csv-parsed) raises before anything is written."""

    def tree(root, studies):
        for rel, body in studies.items():
            d = root / rel
            d.mkdir(parents=True)
            (d / "meta_cna.txt").write_text(
                f"cancer_study_identifier: {d.name}\nstable_id: gistic\n"
                "data_filename: data_cna.txt\n"
            )
            (d / "data_cna.txt").write_text(body)
        return str(root)

    plain = "Hugo_Symbol\tEntrez_Gene_Id\tS1\nTP53\t7157\t0\n"
    dup = tree(tmp_path / "dup", {"p/s1": plain, "q/s1": plain})
    with pytest.raises(ValueError, match="same output base"):
        pipelines.convert_cna(spark, dup, str(tmp_path / "out_dup"))
    empty = tree(tmp_path / "empty", {"s_ok": plain, "s_empty": ""})
    out = tmp_path / "out_empty"
    with pytest.raises(ValueError, match="no header"):
        pipelines.convert_cna(spark, empty, str(out), with_derived=True)
    assert os.listdir(out) == []
