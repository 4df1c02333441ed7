"""The one-pass ANN variant evaluator (similarity.cosine_topk_all_variants)
and the per-variant audits over its long frame.

Each variant's rows must equal, bit for bit and including cos_1e6, the
rows of that variant's own function. Two corpora: the sf embeddings
(500 rows, one file: every trainer takes the whole corpus) and a seeded
6,000-row corpus in 7 parquet files, where the IVF sliver (target
16 * 256 = 4,096) is a strict subset and the PQ sliver (target
32 * 256 = 8,192) is the whole corpus — the only shape where one shared
sliver collect could diverge from separate trainer collects.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhouse_only_importer_prototype_spark import queries as Q
from clickhouse_only_importer_prototype_spark.operators import similarity as sim

VARIANTS = ("exact", "ivf", "lsh", "pq", "ivfpq")


@pytest.fixture(scope="module")
def six_k_corpus(tmp_path_factory):
    """6,000 seeded 64-dim vectors in 7 files, ids shuffled so the query
    block (ids < 10) spreads over several files and batches."""
    root = tmp_path_factory.mktemp("variants") / "embeddings.parquet"
    root.mkdir()
    rng = np.random.default_rng(20261017)
    centers = rng.standard_normal((24, 64))
    vecs = centers[rng.integers(0, 24, 6000)] + 0.6 * rng.standard_normal((6000, 64))
    ids = rng.permutation(6000)
    for f, part in enumerate(np.array_split(np.arange(6000), 7)):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids[part], pa.int64()),
                    "embedding": pa.array(
                        [v.astype(np.float32) for v in vecs[part]],
                        pa.list_(pa.float32()),
                    ),
                }
            ),
            root / f"part-{f}.parquet",
        )
    return str(root)


@pytest.fixture(scope="module", params=["sf", "six_k"])
def corpus(request, spark, sf_dir, six_k_corpus):
    path = (
        f"{sf_dir}/embeddings.parquet" if request.param == "sf" else six_k_corpus
    )
    emb = spark.read.parquet(path)
    if request.param == "six_k":
        n = emb.count()
        assert n == 6000 and len(emb.inputFiles()) >= 7
        # the IVF sliver is a strict subset, the PQ sliver is not
        assert sim._sliver_bound(n, sim.AUDIT_CELLS * 256) < 1 << 30
        assert sim._sliver_bound(n, sim.AUDIT_CODES * 256) == 1 << 30
    return emb, emb.where(F.col("vec_id") < 10)


@pytest.fixture(scope="module")
def long_rows(corpus):
    emb, q = corpus
    rows = sim.cosine_topk_all_variants(emb, q, dim=64, k=5).collect()
    by_variant = {v: [] for v in VARIANTS}
    for r in rows:
        by_variant[r["variant"]].append(tuple(r)[1:])
    return by_variant


def _reference(name, emb, q):
    """``name``'s own function, run with the evaluator's configuration."""
    ivf = dict(n_centroids=sim.AUDIT_CELLS, nprobe=sim.AUDIT_NPROBE)
    pq = dict(m=sim.AUDIT_M, n_codes=sim.AUDIT_CODES, shortlist=sim.AUDIT_SHORTLIST)
    return {
        "exact": lambda: sim.cosine_topk_bruteforce(emb, q, k=5),
        "ivf": lambda: sim.cosine_topk_ivf(
            emb, q, dim=64, k=5, iters=sim.AUDIT_ITERS, **ivf
        ),
        "lsh": lambda: sim.cosine_topk_lsh(
            emb, q, dim=64, k=5, n_planes=sim.AUDIT_PLANES,
            n_tables=sim.AUDIT_TABLES,
        ),
        "pq": lambda: sim.cosine_topk_pq(
            emb, q, dim=64, k=5, iters=sim.AUDIT_PQ_ITERS, **pq
        ),
        "ivfpq": lambda: sim.cosine_topk_ivfpq(
            emb, q, dim=64, k=5, iters=sim.AUDIT_ITERS, **ivf, **pq
        ),
    }[name]()


@pytest.mark.parametrize("variant", VARIANTS)
def test_variant_rows_bit_identical_to_own_function(corpus, long_rows, variant):
    emb, q = corpus
    want = sorted(tuple(r) for r in _reference(variant, emb, q).collect())
    assert len(want) == 50  # 10 queries x k=5
    assert sorted(long_rows[variant]) == want


def _python_audit(long_rows, k):
    """Recall, mean reciprocal rank and mean NDCG (all per 1000 units the
    audits compare) of each approximate variant, computed in Python."""
    truth = {(q, n) for q, n, _, _ in long_rows["exact"]}
    queries = {q for q, _ in truth}
    weights = [int(1_000_000 // math.log2(i + 1)) for i in range(1, k + 1)]
    out = {}
    for v in VARIANTS[1:]:
        hits = [(q, rank) for q, n, rank, _ in long_rows[v] if (q, n) in truth]
        first, dcg = {}, {}
        for q, rank in hits:
            first[q] = min(first.get(q, rank), rank)
            dcg[q] = dcg.get(q, 0) + weights[rank - 1]
        srr = sum(1_000_000 // first[q] for q in first)
        sndcg = sum(dcg[q] * 1_000_000 // sum(weights) for q in dcg)
        out[v] = (
            math.floor(1000.0 * len(hits) / len(truth)),
            srr // len(queries) // 1000,
            sndcg // len(queries) // 1000,
        )
    return out, len(truth), len(queries)


def test_audits_flip_exactly_at_the_measured_values(spark, corpus, long_rows):
    """Floors equal to each variant's measured recall / MRR / NDCG pass,
    one unit above fail: the audits compute exactly these numbers."""
    expect, n_truth, n_queries = _python_audit(long_rows, k=5)
    rows = [
        (v, q, n, rank, cos)
        for v, vals in long_rows.items()
        for q, n, rank, cos in vals
    ]
    long = spark.createDataFrame(
        rows,
        "variant string, query_id long, neighbor_id long, rank long, cos_1e6 long",
    )
    for bump, ok in ((0, True), (1, False)):
        recall = sim.topk_recall_by_variant(
            long, {v: e[0] + bump for v, e in expect.items()}
        ).collect()
        assert [r.variant for r in recall] == list(expect)
        assert all(r.truth_pairs == n_truth and r.meets_floor is ok for r in recall)
        ranking = sim.topk_ranking_quality_by_variant(
            long, 5, {v: (e[1] + bump, e[2] + bump) for v, e in expect.items()}
        ).collect()
        assert [r.variant for r in ranking] == list(expect)
        assert all(
            r.n_queries == n_queries
            and r.meets_mrr_floor is ok
            and r.meets_ndcg_floor is ok
            for r in ranking
        )


def _four_branch_union(spark, sf_dir, audit):
    """The audits as separate per-variant plans: each variant's own
    function against brute force, one audit per variant, unioned."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    truth = _reference("exact", emb, q)
    out = None
    for v, floors in audit.items():
        approx = _reference(v, emb, q)
        if isinstance(floors, int):
            row = sim.topk_recall(truth, approx, v, floors)
        else:
            row = sim.topk_ranking_quality(truth, approx, v, 5, *floors)
        out = row if out is None else out.unionByName(row)
    return sorted(tuple(r) for r in out.collect())


def test_recall_check_equals_four_branch_union(spark, oracle_sf_dir):
    got = sorted(
        tuple(r) for r in Q.ann_recall_check(spark, oracle_sf_dir).collect()
    )
    floors = {"ivf": 500, "lsh": 700, "pq": 600, "ivfpq": 450}
    assert got == _four_branch_union(spark, oracle_sf_dir, floors)


def test_ranking_quality_equals_four_branch_union(spark, oracle_sf_dir):
    got = sorted(
        tuple(r) for r in Q.ann_ranking_quality(spark, oracle_sf_dir).collect()
    )
    floors = {
        "ivf": (600, 400),
        "lsh": (800, 700),
        "pq": (800, 700),
        "ivfpq": (600, 400),
    }
    assert got == _four_branch_union(spark, oracle_sf_dir, floors)


@pytest.mark.parametrize("name", ["ann_recall_check", "ann_ranking_quality"])
def test_ann_audit_job_budget(spark, sf_dir, count_jobs, name):
    """Planning (the sliver and query-block collects) plus the collect of
    one ANN audit stay within 16 Spark jobs in a warm session; the
    per-variant chains this replaced took 31."""
    run = Q.queries()[name]
    run(spark, sf_dir).collect()  # warm: first-load schema, Python workers
    rows, jobs = count_jobs(lambda: run(spark, sf_dir).collect())
    assert len(rows) == 4
    assert jobs <= 16, jobs
