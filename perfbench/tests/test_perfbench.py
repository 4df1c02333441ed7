"""The benchmark's own checks: input generator, capture sink, span
arithmetic and event-log parsing. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.request
from urllib.parse import urlencode

import gen
import run
from sink import CaptureSink
from spans import Span, Tracer, covered, parse_event_log, self_times

SMALL = gen.Shape(studies=2, genes=5, samples=4, maf_rows=7, decoys=True)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    a = gen.study_tree(str(tmp_path / "a"), SMALL, seed=7)
    b = gen.study_tree(str(tmp_path / "b"), SMALL, seed=7)
    c = gen.study_tree(str(tmp_path / "c"), SMALL, seed=8)
    assert _tree_bytes(tmp_path / "a") == _tree_bytes(tmp_path / "b")
    assert _tree_bytes(tmp_path / "a") != _tree_bytes(tmp_path / "c")
    assert a == b
    assert a.rows == {
        "genetic_alterations": 10,
        "genetic_profile_samples": 2,
        "derived": 40,
        "mutation_event": 14,
        "mutation": 14,
    }
    data = [
        v for k, v in _tree_bytes(tmp_path / "a").items()
        if os.path.basename(k) in ("data_cna.txt", "data_mutations.txt")
    ]
    assert a.tsv_bytes == sum(len(v) for v in data)


def _landed_rows(root):
    """What a correct import lands, built from the TSVs in plain Python
    (the columns the sink checks, plus dense event ids)."""
    tables = {t: [] for t in gen.CNA_TABLES + gen.MUTATION_TABLES}
    next_id = 0
    for study in sorted(os.listdir(root)):
        profile = f"{study}_gistic"
        with open(os.path.join(root, study, "data_cna.txt")) as fh:
            header, *lines = fh.read().splitlines()
        samples = header.split("\t")[2:]
        tables["genetic_profile_samples"].append({"CANCER_STUDY": study})
        for line in lines:
            sym, _, *cells = line.split("\t")
            tables["genetic_alterations"].append(
                {"CANCER_STUDY": study, "GENETIC_PROFILE": profile,
                 "GENE_SYMBOL": sym, "VALUES": ",".join(cells)}
            )
            for sample, cell in zip(samples, cells):
                tables["derived"].append(
                    {"SAMPLE_ID": f"{study}_{sample}", "CANCER_STUDY": study,
                     "GENE_SYMBOL": sym, "GENETIC_PROFILE": profile,
                     "ALTERATION": cell}
                )
        with open(os.path.join(root, study, "data_mutations.txt")) as fh:
            maf = [ln for ln in fh.read().splitlines() if not ln.startswith("#")]
        for _ in maf[1:]:
            for t in gen.MUTATION_TABLES:
                tables[t].append({"MUTATION_EVENT_ID": next_id})
            next_id += 1
    return tables


def _post(url, table, rows):
    query = urlencode({"query": f"INSERT INTO `{table}` FORMAT JSONEachRow"})
    body = "".join(json.dumps(r) + "\n" for r in rows).encode()
    urllib.request.urlopen(urllib.request.Request(url + "/?" + query, data=body)).read()
    return len(body)


def test_capture_sink_counts_and_verifies_two_study_tree(tmp_path):
    root = str(tmp_path / "studies")
    exp = gen.study_tree(root, SMALL, seed=3)
    landed = _landed_rows(root)
    sink = CaptureSink()
    try:
        urllib.request.urlopen(
            urllib.request.Request(sink.url + "/", data=b"CREATE TABLE t (x Int8)")
        ).read()
        sent = {}
        for table, rows in landed.items():
            # two bodies per table, as two Spark tasks would post them
            half = len(rows) // 2
            sent[table] = _post(sink.url, table, rows[:half])
            sent[table] += _post(sink.url, table, rows[half:])
        assert sink.ddl_posts == 1
        assert dict(sink.rows) == exp.rows
        assert all(sink.posts[t] == 2 for t in landed)
        assert dict(sink.bytes) == sent
        assert sink.verify(exp) == []

        # a lost row, a changed CNA cell and a duplicated event id are
        # each reported
        sink.reset()
        landed["derived"][0]["ALTERATION"] = "9"
        landed["genetic_alterations"].pop()
        landed["mutation"][1]["MUTATION_EVENT_ID"] = 0
        for table, rows in landed.items():
            _post(sink.url, table, rows)
        problems = sink.verify(exp)
        assert any(p.startswith("genetic_alterations: landed 9") for p in problems)
        assert "derived: digest mismatch" in problems
        assert "mutation: MUTATION_EVENT_ID not dense and unique" in problems
        assert not any(p.startswith("mutation_event") for p in problems)
    finally:
        sink.close()


def test_self_time_subtracts_covered_child_time():
    # root [0, 10]; children [1, 4] and [3, 6] overlap (cover 5s), a
    # grandchild [2, 3] inside the first child, and a child that runs
    # past the parent's end is clipped to it
    spans = [
        Span(0, "root", 0.0, None, end=10.0),
        Span(1, "a", 1.0, 0, end=4.0),
        Span(2, "b", 3.0, 0, end=6.0),
        Span(3, "c", 2.0, 1, end=3.0),
        Span(4, "d", 9.0, 0, end=12.0),
    ]
    selfs = self_times(spans)
    assert selfs == {0: 10 - 5 - 1, 1: 3 - 1, 2: 3.0, 3: 1.0, 4: 3.0}
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert covered([]) == 0.0


def test_tracer_patches_records_nesting_and_restores():
    class Mod:
        @staticmethod
        def outer(n):
            return Mod.inner(n) + [0]

        @staticmethod
        def inner(n):
            return list(range(n))

    original = Mod.outer, Mod.inner
    tracer = Tracer()
    tracer.patch(Mod, "outer", "layer.outer", count=len)
    tracer.patch(Mod, "inner", "layer.inner")
    assert Mod.outer(3) == [0, 1, 2, 0]
    tracer.restore()
    assert (Mod.outer, Mod.inner) == original
    outer, inner = tracer.spans
    assert (outer.name, outer.parent, outer.count) == ("layer.outer", None, 4)
    assert (inner.name, inner.parent, inner.count) == ("layer.inner", outer.sid, 1)
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_event_log_parser_on_recorded_log():
    # a local[2] session: a count under job group span-0 (two jobs, the
    # second with a skipped stage), an aggregation under span-1, and a
    # collect with no group; events other than jobs, stages and tasks
    # removed, and JobStart properties cut to the spark.job* keys
    with open(os.path.join(DATA, "eventlog_short.jsonl")) as fh:
        jobs, stages = parse_event_log(fh)
    assert [(j.group, j.stages) for j in jobs] == [
        ("span-0", [0]), ("span-0", [1, 2]), ("span-1", [3]), (None, [4]),
    ]
    assert all(j.end > j.start for j in jobs)
    assert sorted(stages) == [0, 2, 3, 4]  # stage 1 was skipped
    assert [stages[i].tasks for i in (0, 2, 3, 4)] == [2, 1, 2, 1]
    assert stages[0].shuffle_write_bytes == 118
    assert abs(stages[3].task_s - 0.845) < 1e-9
    assert sum(s.failed_tasks + s.retried_tasks for s in stages.values()) == 0


def test_tree_cpu_counts_reaped_children():
    # a child that burns CPU and has exited is still charged to the tree
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert run.tree_cpu_s() - before >= 0.25
