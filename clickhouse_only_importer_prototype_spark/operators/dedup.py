"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design notes (the point of each op is its 100 TB shape):
  * exact: hash-groupBy on a normalized fingerprint — one shuffle on
    the md5 key, map-side partial aggregation, no skew (md5 uniform).
  * n-gram Jaccard: inverted-index self-join — explode distinct
    shingles, join on shingle, count co-occurrences, compute
    |A∩B| / (|A|+|B|-|A∩B|). Hot shingles are the skew risk: the
    ``max_shingle_freq`` stopword cut drops shingles appearing in more
    than N docs (they contribute candidates quadratically while
    carrying no discriminative signal) — standard MinHash-era trick.
  * MinHash+LSH: k hash functions via xxhash64(seed‖shingle), signature
    per doc, banded into b bands of r rows; docs sharing a band bucket
    are candidates. Shuffles: one groupBy doc (signature build), one
    groupBy band-bucket. Candidate verification re-computes exact
    Jaccard only on candidates — the whole pipeline never goes O(n²).
  * SimHash: 64-bit signature via per-bit weighted token-hash votes —
    arrow-vectorized pandas UDF (numpy bit ops), near-dups = signatures
    within Hamming distance d, found by pigeonhole banding on 4 16-bit
    chunks (d<=3 guarantees an exact chunk match).
  * embedding cosine: see operators/similarity.py — near-dup = cosine
    above threshold on candidate pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType

from clickhouse_only_importer_prototype_spark.localframe import arrow_local_df
from clickhouse_only_importer_prototype_spark.operators.text import (
    _norm,
    shingles,
)

HASH_SEED_BASE = 0x5EED


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups keyed by md5(normalized text).

    Returns (fingerprint, keeper_doc_id, dup_count) per distinct text;
    dup_count > 1 marks duplicate groups. Keeper = min doc_id.
    """
    fp = F.md5(_norm(F.col(text_col)))
    return (
        df.select(fp.alias("fingerprint"), F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def _exact_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, rep_id): every doc mapped to the min doc_id sharing its
    normalized-text fingerprint.

    The representative-collapse prefilter for every near-dup operator:
    real corpora carry heavy exact duplication, and identical texts
    make candidate pairs quadratically (a 10-copy group is 45 pairs
    that all verify to jaccard=1000). Near-dup math runs on the
    distinct representatives only; results expand back through this
    mapping — exactly equivalent output since identical texts have
    identical shingles/signatures.

    groupBy + self-join rather than min().over(partitionBy(fp)): the
    aggregate gets map-side partial combine, so the shuffle carries one
    (fp, min) row per distinct text per mapper instead of EVERY row
    with its full width riding the exchange into the window sort — at
    100 TB that's the difference between shuffling the dup histogram
    and shuffling the corpus. AQE turns the mins side into a broadcast
    when small; keys are md5-uniform, skew-free either way."""
    keyed = df.select(F.col("doc_id"), F.md5(_norm(F.col(text_col))).alias("__fp"))
    mins = keyed.groupBy("__fp").agg(F.min("doc_id").alias("rep_id"))
    return keyed.join(mins, "__fp").select("doc_id", "rep_id")


#: Minimum duplicate fraction at which the representative-collapse
#: prefilter pays for its groupBy + expansion joins. Below this the
#: collapse machinery costs more than the (few) quadratic dup pairs it
#: avoids — banding finds identical-text pairs at jaccard 1.0 anyway,
#: so skipping is output-equivalent at ANY dup ratio, not just zero.
_COLLAPSE_MIN_DUP_FRAC = 0.05


def _has_exact_dups(df: DataFrame, text_col: str = "text") -> bool:
    """ONE cheap aggregate probing whether the corpus carries ENOUGH
    exact duplication for the representative collapse to pay off:
    count vs approx-count-distinct of the normalized-text fingerprint
    (map-side HLL partials, one row to the driver — no distinct-value
    shuffle at all, unlike exact count_distinct).

    The runtime gate for the representative-collapse prefilter — the
    same measured-statistics philosophy as AQE. Skipping the collapse
    is EXACTLY lossless at any dup ratio (identical texts have
    identical shingles/signatures, so banding still pairs them and no
    operator prunes by shingle document frequency); the collapse is a
    pure cost trade: a 10-copy group is 45 verified pairs uncollapsed
    vs 1 rep + a slim expansion join collapsed. The break-even is a
    RATIO, not existence — a 5000-doc corpus with 8 dups would pay
    the groupBy + three expansion joins to save 8 trivial verifies —
    so the gate fires only when the measured dup fraction exceeds
    ``_COLLAPSE_MIN_DUP_FRAC``. HLL rsd=0.02 keeps probe noise well
    under the 5% threshold; near-threshold corpora are fine either
    way (both paths are correct, costs are within noise of equal).

    At 100 TB the probe is one full scan; pipelines that already know
    their dup profile (e.g. from ``dedup_stats`` on a prior slice)
    should pass ``collapse=`` explicitly and skip the probe."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(
            F.md5(_norm(F.col(text_col))), rsd=0.02
        ).alias("d"),
    ).first()
    n, d = (r["n"] or 0), (r["d"] or 0)
    return n > 0 and (n - d) >= _COLLAPSE_MIN_DUP_FRAC * n


def _rep_docs(df: DataFrame, groups: DataFrame) -> DataFrame:
    """The representative subset of df (one doc per distinct text)."""
    reps = groups.where(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    return df.join(reps, "doc_id", "left_semi")


def _expand_cross(
    rep_pairs: DataFrame,
    groups: DataFrame,
    stat_cols: list[str],
    swap_pairs: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Expand pairs of representatives to all member pairs across the
    two groups, re-orienting so doc_a < doc_b (members of the lower
    rep aren't necessarily the lower ids). Symmetric stats carry over
    unchanged — every member has its rep's exact shingle set.
    Side-specific stats (size_a/size_b) must be listed in swap_pairs
    so they flip with the orientation."""
    ga = groups.select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("ma")
    )
    gb = groups.select(
        F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("mb")
    )
    flipped = F.col("ma") > F.col("mb")
    out_cols = []
    swapped = {x: y for x, y in (swap_pairs or [])}
    swapped.update({y: x for x, y in (swap_pairs or [])})
    for c in stat_cols:
        if c in swapped:
            out_cols.append(
                F.when(flipped, F.col(swapped[c])).otherwise(F.col(c)).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return (
        rep_pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.least(F.col("ma"), F.col("mb")).alias("doc_a"),
            F.greatest(F.col("ma"), F.col("mb")).alias("doc_b"),
            *out_cols,
        )
    )


def _within_group_pairs(groups: DataFrame) -> DataFrame:
    """All (doc_a < doc_b, rep_id) member pairs inside each exact-dup
    group — their near-dup stats are degenerate (identical texts)."""
    a = groups.select("rep_id", F.col("doc_id").alias("doc_a"))
    b = groups.select("rep_id", F.col("doc_id").alias("doc_b"))
    return a.join(b, "rep_id").where(F.col("doc_a") < F.col("doc_b"))


def _shingle_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, sset, set_size) — each doc's distinct shingles as an
    array, for candidate-pair verification via array_intersect."""
    return sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("sset"),
        F.count("*").cast("long").alias("set_size"),
    )


def _t1000(threshold: float) -> int:
    """Threshold as exact per-mille integer. All threshold comparisons
    use integer arithmetic from here on: float evaluation of
    ceil(t*s) overshoots for thresholds like 0.28 (0.28*25 -> 7.0000…01
    -> ceil 8), silently dropping boundary pairs."""
    return int(round(threshold * 1000))


def _ceil_frac(t1000: int, size_col):
    """ceil(t1000 * size / 1000) in exact integer math (the double
    division is exact below 2^53, far past any shingle-set size)."""
    return F.floor(
        (F.lit(t1000) * size_col + F.lit(999)) / F.lit(1000)
    ).cast("long")


def _verify_pairs(cands: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs only: two hash joins against the
    per-doc shingle sets + a row-local array_intersect — never O(n²)."""
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("sa"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("sb"),
        F.col("set_size").alias("size_b"),
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
    union_size = F.col("size_a") + F.col("size_b") - F.col("inter_size")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter_size", inter)
        .withColumn(
            "jaccard_per_1000",
            F.floor(F.lit(1000) * F.col("inter_size") / union_size).cast("long"),
        )
        .where(F.col("jaccard_per_1000") >= _t1000(threshold))
        .select("doc_a", "doc_b", "inter_size", "size_a", "size_b", "jaccard_per_1000")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """Near-dup pairs by word n-gram Jaccard similarity — EXACT result
    via prefix filtering + candidate verification.

    ``max_shingle_freq`` counts a shingle's frequency over DISTINCT
    texts (representatives), not raw documents — exact copies no
    longer inflate a shingle toward the cut. To honor that contract
    the collapse is FORCED on whenever ``max_shingle_freq`` is set and
    ``collapse`` is left None: the dup-ratio probe only decides
    between paths that are output-identical, and frequency pruning
    over raw docs vs representatives is not (a dup-inflated shingle
    crosses the cut in one counting but not the other). ``threshold``
    resolves to per-mille precision (round(t*1000)).

    Three stacked prunings, all lossless:
      1. representative collapse — exact duplicates share one rep, so
         identical texts never enter the quadratic stages. Gated on a
         measured dup probe by default (``collapse=None``): a dup-free
         corpus skips the collapse groupBy and expansion joins
         entirely (identical output — see ``_has_exact_dups``); pass
         True/False to force either path and skip the probe;
      2. prefix filtering — order shingles globally by (document
         frequency asc, shingle); a doc of set size s only indexes its
         first ``s - ceil(t*s) + 1`` shingles in that order (any pair
         with J >= t MUST collide on a prefix shingle), skipping the
         hot shingles that make a naive inverted index O(freq²);
      3. length filter — J >= t forces set sizes within a factor t.
    Verification computes exact Jaccard on surviving candidates via
    array_intersect; results expand back to all exact-dup members.
    Output: (doc_a, doc_b, inter_size, size_a, size_b,
    jaccard_per_1000), doc_a < doc_b, jaccard int-scaled (x1000,
    floor) for cross-engine hashing.
    """
    if collapse is None:
        # frequency pruning is defined over DISTINCT texts: the probe
        # must not pick the raw-doc counting path (see docstring)
        collapse = (
            True if max_shingle_freq is not None
            else _has_exact_dups(df, text_col)
        )
    if collapse:
        groups = _exact_groups(df, text_col)
        sh = shingles(_rep_docs(df, groups), text_col, n)
    else:
        groups = None
        sh = shingles(df, text_col, n)
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .count()
            .where(F.col("count") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    # One groupBy(doc) builds BOTH the verification set and the prefix:
    # shingles arrive tagged with global document-frequency, get sorted
    # (freq asc, shingle) inside the aggregation buffer, and the prefix
    # is a row-local slice — no per-doc window, no extra shuffle.
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    packed = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("__arr")
        )
        .select(
            "doc_id",
            F.transform(F.col("__arr"), lambda s: s["shingle"]).alias("sset"),
            F.size(F.col("__arr")).cast("long").alias("set_size"),
        )
        # referenced 4x downstream (both prefix join sides + both verify
        # sides). Deliberately NOT persisted: measured at bench scale,
        # pipelined recompute beats the InMemoryTableScan cache boundary
        # (which blocks whole-stage codegen). On a cluster where the
        # shingle pipeline shuffles TBs, persist/checkpoint this frame.
    )
    t1000 = _t1000(threshold)
    prefix_len = (
        F.col("set_size") - _ceil_frac(t1000, F.col("set_size")) + 1
    ).cast("int")
    prefix = packed.select(
        "doc_id",
        "set_size",
        F.explode(F.slice(F.col("sset"), F.lit(1), prefix_len)).alias("shingle"),
    )
    # length filter (lossless): J >= t forces t*max(|A|,|B|) <= min —
    # prunes size-incompatible collisions before the verification join
    size_ok = F.least(F.col("a.set_size"), F.col("b.set_size")) >= _ceil_frac(
        t1000, F.greatest(F.col("a.set_size"), F.col("b.set_size"))
    )
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    stat_cols = ["inter_size", "size_a", "size_b", "jaccard_per_1000"]
    rep_pairs = _verify_pairs(cands, packed, threshold)
    if not collapse:
        return rep_pairs.select("doc_a", "doc_b", *stat_cols)
    cross = _expand_cross(
        rep_pairs, groups, stat_cols, swap_pairs=[("size_a", "size_b")]
    )
    # within-group pairs: identical texts, J = 1000 by definition; the
    # shingle-set size comes from the rep's packed row (groups whose
    # text has no shingles produce no pairs, matching the rep path)
    within = (
        _within_group_pairs(groups)
        .join(
            packed.select(F.col("doc_id").alias("rep_id"), "set_size"),
            "rep_id",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("set_size").alias("inter_size"),
            F.col("set_size").alias("size_a"),
            F.col("set_size").alias("size_b"),
            F.lit(1000).cast("long").alias("jaccard_per_1000"),
        )
    )
    return cross.unionByName(within)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """MinHash signatures: num_hashes 64-bit min-hashes over n-gram
    shingles, via xxhash64(seed, shingle) (JVM-side, no UDF).

    Shuffle-light shape: ONE groupBy(doc_id) computing all k min-hashes
    as parallel aggregates (map-side partial min combine) — the shingle
    rows are never multiplied by k and never shuffled more than once.
    """
    return _signatures_from_shingles(shingles(df, text_col, n), num_hashes)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Signature build over an existing (doc_id, shingle) frame, so
    callers that also need the shingle sets (verification) pay the
    shingling pipeline once via a shared persisted frame."""
    aggs = [
        F.min(F.xxhash64(F.lit(HASH_SEED_BASE + i), F.col("shingle"))).alias(
            f"__h{i}"
        )
        for i in range(num_hashes)
    ]
    per_doc = sh.groupBy("doc_id").agg(*aggs)
    return per_doc.select(
        "doc_id",
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def _band_candidates(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """LSH banding over a signature frame (see minhash_lsh_candidates)."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.lit(i),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("signature", i * rows + j + 1).cast("string")
                            for j in range(rows)
                        ],
                    ),
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_arr).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    collapse: bool | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    rows-per-band = num_hashes // bands; bucket key = xxhash64 of the
    band slice. Runs over exact-dup representatives then expands:
    identical texts have identical signatures, so every member pair of
    a group (always a collision) and every cross-member of a colliding
    rep pair is a candidate — the expansion IS the uncollapsed result,
    computed without quadratic work on duplicate-heavy corpora.
    ``collapse=None`` (default) gates the rep collapse on a measured
    dup probe (see ``_has_exact_dups`` — skipping is exactly lossless
    on a dup-free corpus). Output distinct (doc_a, doc_b),
    doc_a < doc_b.
    """
    if collapse is None:
        collapse = _has_exact_dups(df, text_col)
    if not collapse:
        return _band_candidates(
            minhash_signatures(df, text_col, n, num_hashes), num_hashes, bands
        )
    groups = _exact_groups(df, text_col)
    # one signature frame serves banding AND the zero-shingle membership
    # check (a doc with no shingles has no signature row); recompute of
    # the shared subplan beats a cache boundary at bench scale (see
    # ngram_jaccard_pairs packed note)
    sig = minhash_signatures(_rep_docs(df, groups), text_col, n, num_hashes)
    rep_cands = _band_candidates(sig, num_hashes, bands)
    cross = _expand_cross(rep_cands, groups, [])
    # members of a group share all band buckets -> always candidates;
    # but docs whose text yields zero shingles never enter banding on
    # the rep path, so exclude their groups here to match
    within = (
        _within_group_pairs(groups)
        .join(sig.select(F.col("doc_id").alias("rep_id")), "rep_id")
        .select("doc_a", "doc_b")
    )
    return cross.unionByName(within)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    collapse: bool | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: LSH candidates verified with
    exact Jaccard — only candidate pairs pay the verification join,
    and only distinct texts (representatives) pay anything quadratic;
    exact-dup members expand afterwards with jaccard=1000. The rep
    collapse is gated on a measured dup probe by default
    (``collapse=None`` — see ``_has_exact_dups``)."""
    if collapse is None:
        collapse = _has_exact_dups(df, text_col)
    rep_df = df
    if collapse:
        groups = _exact_groups(df, text_col)
        rep_df = _rep_docs(df, groups)
    # one shared shingle subplan feeds signature build, verification
    # sets, and the membership check (recompute > cache boundary at
    # bench scale; persist on a cluster)
    sh = shingles(rep_df, text_col, n)
    cands = _band_candidates(
        _signatures_from_shingles(sh, num_hashes), num_hashes, bands
    )
    sets = _shingle_sets(sh)
    rep_pairs = _verify_pairs(cands, sets, threshold).select(
        "doc_a", "doc_b", "jaccard_per_1000"
    )
    if not collapse:
        return rep_pairs
    cross = _expand_cross(rep_pairs, groups, ["jaccard_per_1000"])
    within = (
        _within_group_pairs(groups)
        .join(
            sets.select(F.col("doc_id").alias("rep_id")),
            "rep_id",
        )
        .select(
            "doc_a", "doc_b", F.lit(1000).cast("long").alias("jaccard_per_1000")
        )
    )
    return cross.unionByName(within)


@pandas_udf(LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (arrow-vectorized).

    Per token: blake2b-derived 64-bit hash votes +1/-1 on each bit
    (count-weighted); signature = sign bits of the vote vector.
    Deterministic across runs/partitions (hashlib, not PYTHONHASHSEED).

    Vectorized per batch: token hashes are cached across the batch
    (natural-language vocabularies repeat heavily) and the per-bit
    votes for a doc are one (unique_tokens × 64) matmul, not a loop.
    """
    import hashlib

    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    cache: dict[str, np.uint64] = {}

    def tok_hash(tok: str) -> np.uint64:
        h = cache.get(tok)
        if h is None:
            h = np.uint64(
                int.from_bytes(
                    hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
                )
            )
            cache[tok] = h
        return h

    out = np.zeros(len(texts), dtype=np.int64)
    for i, text in enumerate(texts):
        if not text:
            continue
        toks = str(text).lower().split()
        if not toks:
            continue
        uniq, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
        hs = np.array([tok_hash(t) for t in uniq], dtype=np.uint64)
        bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        votes = ((2 * bits - 1) * counts[:, None]).sum(axis=0)
        sig = int(
            np.bitwise_or.reduce(
                (votes > 0).astype(np.uint64) << shifts
            )
        )
        out[i] = sig - (1 << 64) if sig >= (1 << 63) else sig
    return pd.Series(out)


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 64-bit near-dup signature per document."""
    return df.select(F.col("doc_id"), _simhash64(F.col(text_col)).alias("simhash"))


# nested-HOF signature build: outer aggregate walks the 60 bit
# positions, inner aggregate counts that bit over the staged token-hash
# array. `__hs` is a materialized column attribute (cheap re-reference
# per outer element, NOT a re-computed expression — the HOF O(n²) trap
# is outer *expressions* in lambda bodies); total work is 60·n integer
# ops per doc, whole-stage codegen, no Python.
_PORTABLE_SIG_EXPR = """
aggregate(
  sequence(0, 59),
  cast(0 as bigint),
  (acc, j) -> acc + IF(
    2 * aggregate(__hs, cast(0 as bigint),
                  (a, h) -> a + (shiftright(h, j) & 1)) > size(__hs),
    shiftleft(cast(1 as bigint), j),
    cast(0 as bigint)))
"""


def _portable_sigs(df: DataFrame, key_col: str, text_col: str) -> DataFrame:
    """(key_col, simhash) — the raw 60-bit signature build over every
    row of ``df``; see ``simhash_portable`` for the contract."""
    staged = df.select(
        F.col(key_col),
        F.filter(
            F.split(_norm(F.col(text_col)), " "), lambda t: t != F.lit("")
        ).alias("__toks"),
    )
    hs = staged.select(
        key_col,
        F.transform(
            F.col("__toks"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        ).alias("__hs"),
    )
    return hs.select(key_col, F.expr(_PORTABLE_SIG_EXPR).alias("simhash"))


def simhash_portable(
    df: DataFrame, text_col: str = "text", collapse: bool | None = None
) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash, JVM-only and cross-engine
    reproducible.

    Token hash = first 15 md5 hex digits parsed as int64 (the
    winnow_fingerprints idiom), tokens = single-space split of the
    shared normalization — so a DuckDB oracle reproduces the signature
    bit-for-bit (blake2b, used by the vectorized ``simhash`` UDF, is
    not in DuckDB's function surface). Votes are count-weighted
    naturally: the hash array keeps one entry per token INSTANCE.
    Empty/whitespace-only text → no tokens → all-zero signature,
    matching ``_simhash64``'s convention.

    With ``collapse=True`` the 60·n-op signature build runs once per
    DISTINCT normalized text (keyed by md5 fingerprint) and joins back
    to doc ids — exactly equivalent output, since the signature is a
    pure function of the text. On dedup-shaped corpora (the premise of
    running SimHash at all) the dup ratio pays for the extra narrow
    shuffle many times over: 3.2x at the 10x stress scale (18.0s ->
    5.6s, dup ratio 10). The default ``collapse=None`` decides from a
    measured dup probe (one cheap agg — ``_has_exact_dups``), so
    dup-free corpora skip the two extra exchanges automatically; pass
    True/False to force a path and skip the probe.

    Scale: the signature build itself is a pure projection — md5 per
    token plus 60·n integer ops per doc inside whole-stage codegen, no
    Arrow hop; the collapse adds one dropDuplicates + one join, both
    keyed on the 16-byte fingerprint. Prefer this variant when oracle
    parity or zero-Python matters; the blake2b pandas UDF wins when
    batches are huge and its per-batch token cache amortizes.
    """
    if collapse is None:
        collapse = _has_exact_dups(df, text_col)
    if not collapse:
        return _portable_sigs(df, "doc_id", text_col)
    keyed = df.select(
        "doc_id", F.md5(_norm(F.col(text_col))).alias("__fp"), F.col(text_col)
    )
    reps = keyed.select("__fp", text_col).dropDuplicates(["__fp"])
    rep_sigs = _portable_sigs(reps, "__fp", text_col)
    return keyed.select("doc_id", "__fp").join(rep_sigs, "__fp").select(
        "doc_id", "simhash"
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    hash_fn: str = "blake2b",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: split the signature into 4 chunks (16 bits for
    the 64-bit blake2b variant, 15 for the 60-bit portable md5 one);
    distance <= 3 implies at least one identical chunk, so candidates
    come from 4 hash-joins on chunk values rather than O(n²)
    comparisons.

    Collapses on the signature VALUE first (stronger than text-level
    collapse: different texts can share a signature): banding runs
    over distinct signatures; members expand afterwards — within a
    signature group every pair is hamming 0, across groups the rep
    pair's distance applies to all member pairs.
    """
    if hash_fn == "blake2b":
        sig_src, n_bits = simhash(df, text_col), 64
    elif hash_fn == "md5":
        sig_src, n_bits = simhash_portable(df, text_col), 60
    else:
        raise ValueError(f"hash_fn must be 'blake2b' or 'md5': {hash_fn}")
    chunk_bits = n_bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    # the signature build dominates cost and feeds both the group agg
    # and the member join — persist so the corpus is scanned once
    all_sigs = sig_src.persist()
    # measured gate for the signature-level collapse (the AQE
    # philosophy, same as _has_exact_dups): one agg over the persisted
    # slim (id, sig) frame — which also materializes the cache the
    # banding stage reuses. With zero duplicate signatures the group
    # mapping is the identity and within-group pairs are empty, so
    # banding the signatures directly is exactly lossless and skips a
    # groupBy, three joins, and two persists of pure overhead.
    sstats = all_sigs.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("simhash").alias("d")
    ).first()
    _n, _d = (sstats["n"] or 0), (sstats["d"] or 0)
    collapse = _n > 0 and (_n - _d) >= _COLLAPSE_MIN_DUP_FRAC * _n
    if collapse:
        # groupBy+join, not min().over(partitionBy): map-side combine
        # means the shuffle carries per-signature minima, not every row
        # (see _exact_groups for the full argument). (simhash, rep_id)
        # is ALSO the rep signature frame — one row per distinct
        # signature — so banding reads it directly; no rep filter-join
        # needed. It and the member map are referenced by banding plus
        # both expansion joins plus the within-group self-join: persist
        # both (columnar-compact id/signature pairs, metadata-scale
        # next to the corpus).
        sig_mins = (
            all_sigs.groupBy("simhash")
            .agg(F.min("doc_id").alias("rep_id"))
            .persist()
        )
        groups = (
            all_sigs.join(sig_mins, "simhash")
            .select("doc_id", "rep_id")
            .persist()
        )
        sig = sig_mins.select(F.col("rep_id").alias("doc_id"), "simhash")
    else:
        sig = all_sigs
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    # hamming filter BEFORE the dedup shuffle: a pair can match on up
    # to 4 chunks, but distinct only pays for survivors this way
    rep_pairs = (
        cands.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
    if not collapse:
        return rep_pairs
    cross = _expand_cross(rep_pairs, groups, ["hamming"])
    within = _within_group_pairs(groups).select(
        "doc_a", "doc_b", F.lit(0).cast("long").alias("hamming")
    )
    return cross.unionByName(within)


# below this many (directed) edges the whole graph is driver-resident
# metadata: union-find locally instead of paying multi-shuffle Spark
# rounds. ~16 bytes/edge -> worst case a few MB on the driver.
_DRIVER_CC_MAX_EDGES = 200_000


def _driver_union_find(edge_rows: list) -> list[tuple[int, int]]:
    """Path-compressed union-find over collected edges; returns
    (doc_id, min-doc-in-component) rows."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


def neardup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    driver_cc_max_edges: int = _DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id)
    where cluster_id = min doc_id in the component (the keeper).

    Adaptive execution, decided by the measured edge count (the same
    runtime-statistics philosophy as AQE):

    * small graph (< ~200k edges — near-dup graphs usually are, the
      corpus collapses to reps first): collect to the driver, run
      path-compressed union-find, broadcast the labels back. One job,
      no iteration — the graph is metadata-scale even when the corpus
      that produced it is 100 TB.
    * large graph: iterative min-label propagation — each round every
      node takes the minimum label among itself and its neighbors;
      converges in O(component diameter) rounds, halved by pointer
      jumping; lineage cut per round with localCheckpoint. At extreme
      scale swap in large-star/small-star (Kiveris et al.) — same
      primitives, fewer rounds on high-diameter graphs.

    Both paths produce identical output (differentially tested).
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    raw_edges = fwd.union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).persist()
    # right-size the per-round frames to the graph: each round is a few
    # small jobs whose task count, not data volume, dominates when a
    # modest graph runs at the session's full partition width
    n_edges = raw_edges.count()
    spark = pairs.sparkSession
    if n_edges <= driver_cc_max_edges:
        rows = _driver_union_find(
            [(r[0], r[1]) for r in raw_edges.collect()]
        )
        raw_edges.unpersist()
        return arrow_local_df(spark, rows, "doc_id long, cluster_id long")
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = max(1, min(default_parts, n_edges // 50_000 + 1))
    edges = raw_edges
    if parts < default_parts:
        edges = raw_edges.repartition(parts, "dst").persist()
        edges.count()  # materialize from the cached raw frame first
        raw_edges.unpersist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    for _ in range(max_iter):
        # step 1: min over neighbors' labels
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"),
                    F.col("cluster_id").alias("nb_label"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nb_label").alias("nb_min"))
        )
        l1 = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("__old"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nb_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        # step 2: pointer jump — label(x) <- label(label(x)); halves the
        # distance to each component's root, so rounds ~ log(diameter)
        # instead of diameter (a path of length 11 converges in 4)
        jumped = l1.alias("x").join(
            l1.select(
                F.col("doc_id").alias("cluster_id"),
                F.col("cluster_id").alias("root_label"),
            ).alias("p"),
            "cluster_id",
            "left",
        ).select(
            F.col("doc_id"),
            F.coalesce(F.col("root_label"), F.col("cluster_id")).alias(
                "cluster_id"
            ),
            # convergence flag rides along in the same pass: no separate
            # old-vs-new join job per round
            (
                F.coalesce(F.col("root_label"), F.col("cluster_id"))
                != F.col("__old")
            ).alias("__changed"),
        )
        # localCheckpoint truncates the logical lineage: without it each
        # round's plan nests the last round's and analysis/codegen blows
        # up past ~10 rounds. Lazy checkpoint + a full-scan aggregate as
        # the probe = ONE job per round: the sum must touch every
        # partition, which computes and persists the checkpoint RDD as a
        # side effect (an eager checkpoint + separate probe count is two)
        updated = jumped.localCheckpoint(eager=False)
        changed = (
            updated.agg(F.sum(F.col("__changed").cast("long"))).first()[0] or 0
        )
        labels = updated.drop("__changed")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def minhash_dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    collapse: bool | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) components over MinHash-verified near-dup
    pairs, computed on the representative graph.

    Exact-dup groups collapse to their rep BEFORE label propagation —
    the iterative part runs on distinct texts only — then members
    inherit their rep's component. cluster_id = min doc_id in the
    component holds because each rep is already its group's min.
    Output matches neardup_clusters(minhash_dedup_pairs(df)) exactly:
    docs in no pair (singleton text, no near-dup edge) are absent.
    The collapse is gated on a measured dup probe by default
    (``collapse=None`` — see ``_has_exact_dups``): on a dup-free
    corpus the output is simply the components of the pair graph.
    """
    if collapse is None:
        collapse = _has_exact_dups(df, text_col)
    rep_df = df
    if collapse:
        groups = _exact_groups(df, text_col)
        rep_df = _rep_docs(df, groups)
    sh = shingles(rep_df, text_col, n)
    cands = _band_candidates(
        _signatures_from_shingles(sh, num_hashes), num_hashes, bands
    )
    sets = _shingle_sets(sh)
    rep_pairs = _verify_pairs(cands, sets, threshold).select("doc_a", "doc_b")
    if not collapse:
        return neardup_clusters(rep_pairs)
    rep_labels = neardup_clusters(rep_pairs).withColumnRenamed(
        "doc_id", "rep_id"
    )
    sizes = groups.groupBy("rep_id").agg(F.count("*").alias("__gsize"))
    # zero-shingle groups produce no within-group pairs in the expanded
    # graph (their reps never enter banding), so multi-member retention
    # additionally requires the rep to have shingles. rep_labels is
    # already checkpointed by neardup_clusters; checkpoint this small
    # frame too so the final join touches only materialized inputs
    has_sh = (
        sets.select(F.col("doc_id").alias("rep_id"))
        .withColumn("__has_sh", F.lit(True))
        .localCheckpoint(eager=True)
    )
    return (
        groups.join(sizes, "rep_id")
        .join(has_sh, "rep_id", "left")
        .join(rep_labels, "rep_id", "left")
        .where(
            ((F.col("__gsize") >= 2) & F.col("__has_sh").isNotNull())
            | F.col("cluster_id").isNotNull()
        )
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("rep_id")).alias("cluster_id"),
        )
    )


def contamination_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_overlap: int = 1,
    broadcast_bench: bool = True,
    collapse: bool | None = None,
) -> DataFrame:
    """Benchmark decontamination: (doc_id, bench_id, overlap_ngrams)
    for every corpus document sharing >= min_overlap word n-grams with
    a benchmark document.

    The standard pre-training hygiene pass (n=8..13 word grams is the
    common contamination window). Shape: the benchmark side is tiny by
    construction (eval sets), so its shingles BROADCAST — the corpus
    shingle stream joins map-side with no shuffle of corpus data, then
    one groupBy on the (corpus, bench) pair counts overlaps. The
    corpus is never self-joined; cost is one scan + one narrow
    aggregation regardless of corpus size.

    With ``collapse=True`` (default: gated on the measured dup probe,
    see ``_has_exact_dups``) the shingle explode — and the
    per-doc shingle distinct inside it, the only corpus-sized shuffle
    here — runs once per DISTINCT normalized text; overlap counts are
    a pure function of the text, so expanding rep results back to
    member doc ids afterwards is exactly equivalent (self pairs
    included, as before — callers exclude by id). Dup-heavy corpora
    (the norm for raw crawls) pay the slim fp-map join instead of
    shingling every copy: 2x at the 10x stress scale (14.1s -> 7.2s).

    CONTRACT: ``bench`` must be executor-memory small (its shingle set
    is force-broadcast, an unconditional hint AQE will not demote). A
    benchmark too big to broadcast — a merged eval suite of millions of
    rows — is a misuse; pass ``broadcast_bench=False`` to fall back to
    a plain shuffle join and let AQE pick the strategy.
    """
    if collapse is None:
        collapse = _has_exact_dups(corpus, text_col)
    if collapse:
        keyed = corpus.select(
            "doc_id", F.md5(_norm(F.col(text_col))).alias("__fp"), F.col(text_col)
        )
        reps = keyed.select(F.col("__fp").alias("doc_id"), text_col).dropDuplicates(
            ["doc_id"]
        )
        rep_pairs = contamination_pairs(
            reps, bench, text_col, n, min_overlap, broadcast_bench, collapse=False
        )
        return (
            keyed.select("doc_id", "__fp")
            .join(rep_pairs.withColumnRenamed("doc_id", "__fp"), "__fp")
            .select("doc_id", "bench_id", "overlap_ngrams")
        )
    corpus_sh = shingles(corpus, text_col, n)
    bench_sh = shingles(bench, text_col, n).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    return (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").cast("long").alias("overlap_ngrams"))
        .where(F.col("overlap_ngrams") >= min_overlap)
    )


def chunk_dedup(
    df: DataFrame, text_col: str = "text", chunk_tokens: int = 16
) -> DataFrame:
    """Substring-granular exact dedup: fixed-size token chunks, keep
    the globally FIRST occurrence of each distinct chunk.

    (doc_id, n_chunks, kept_chunks, kept_tokens) per document with at
    least one token — the bookkeeping a RefinedWeb/Stack-style
    substring-dedup pass needs to rewrite or drop documents whose
    content is mostly recycled. "First" = minimum (doc_id, chunk_idx),
    packed as doc_id * 1_000_000 + idx so the keeper reduction is a
    single BIGINT min (documents are assumed under 1M chunks — 16M
    tokens at the default — which every training corpus satisfies).

    Scale: one scan explodes chunks (size/chunk_tokens rows per doc,
    ~16x fewer than token-level suffix structures), one partial-min
    groupBy on the chunk hash finds keepers, the join back is on the
    same hash key (no re-partition under AQE), and the final per-doc
    rollup shuffles slim counter rows. No all-pairs stage, no global
    sort — the same bucketed shape as the other dedup operators.
    """
    toks = F.filter(
        F.split(_norm(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    staged = df.select(F.col("doc_id"), toks.alias("__toks")).where(
        F.size("__toks") > 0
    )
    ct = F.lit(chunk_tokens)
    n_chunks = F.ceil(F.size("__toks") / ct).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice("__toks", i * ct + 1, chunk_tokens)),
    )
    exploded = staged.select(
        "doc_id", F.posexplode(chunks).alias("idx", "chunk")
    ).select(
        "doc_id",
        "idx",
        F.md5("chunk").alias("__h"),
        F.size(F.split(F.col("chunk"), " ")).alias("__ct"),
        (F.col("doc_id") * 1_000_000 + F.col("idx")).alias("__packed"),
    )
    keepers = exploded.groupBy("__h").agg(
        F.min("__packed").alias("__first_packed")
    )
    kept = F.col("__packed") == F.col("__first_packed")
    return (
        exploded.join(keepers, "__h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(kept.cast("long")).alias("kept_chunks"),
            F.sum(F.when(kept, F.col("__ct")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_overlap: int = 1,
    collapse: bool | None = None,
) -> DataFrame:
    """Corpus minus contaminated docs (anti-join on contamination
    pairs) — the drop-side twin of contamination_pairs. ``collapse``
    passes through to the pair probe (None = measure, False = skip)."""
    hits = contamination_pairs(
        corpus, bench, text_col, n, min_overlap, collapse=collapse
    )
    return corpus.join(hits.select("doc_id").distinct(), "doc_id", "left_anti")


def dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row summary: total docs, distinct texts, exact-dup groups."""
    groups = exact_duplicates(df, text_col)
    return groups.agg(
        F.sum("dup_count").cast("long").alias("total_docs"),
        F.count("*").cast("long").alias("distinct_texts"),
        F.sum(F.when(F.col("dup_count") > 1, 1).otherwise(0))
        .cast("long")
        .alias("dup_groups"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    collapse: bool | None = None,
) -> DataFrame:
    """Directed near-containment pairs — EXACT result via asymmetric
    prefix filtering. C(A→B) = |S_A ∩ S_B| / |S_A| >= t means doc A's
    shingle set is (near-)contained in doc B's: the crawl-dedup shape
    Jaccard misses (a page quoting a whole smaller page, boilerplate
    wrappers, truncated re-posts — |B| >> |A| drives Jaccard to ~|A|/|B|
    while containment stays ~1).

    Pruning (lossless): order shingles globally by (document-frequency
    asc, shingle); if C(A→B) >= t then B must share at least one of
    A's first ``|A| - ceil(t*|A|) + 1`` shingles in that order
    (pigeonhole: missing the whole prefix caps the intersection at
    ceil(t*|A|) - 1 < t*|A|). So only A-prefixes probe the full
    inverted index — and a prefix is dominated by RARE shingles, so
    each probe touches few postings. A size filter
    (|B| >= ceil(t*|A|)) prunes before verification. Exact
    ``array_intersect`` verification on survivors only — never O(n²).

    Representative collapse (same measured-dup-ratio gate as
    ``ngram_jaccard_pairs``): exact copies collapse to one rep;
    surviving DIRECTED rep pairs expand to all cross-group member
    pairs with direction preserved, and within-group ordered pairs
    (identical texts ⊆ each other, both directions) emit containment
    1000.

    Output: (doc_a, doc_b, inter_size, size_a, size_b,
    containment_per_1000) where doc_a is near-contained in doc_b,
    doc_a != doc_b; containment int-scaled (x1000, floor) for
    cross-engine hashing.
    """
    if collapse is None:
        collapse = _has_exact_dups(df, text_col)
    if collapse:
        # 5 consumers (rep filter, cross-expansion both sides, within-
        # group both sides): unpersisted, each re-runs the md5 groupBy
        # + join — measured 8 FileScans on the containment plan. The
        # (doc_id, rep_id) frame is two slim columns at any scale.
        groups = _exact_groups(df, text_col).persist()
        sh = shingles(_rep_docs(df, groups), text_col, n)
    else:
        groups = None
        sh = shingles(df, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    packed = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("__arr")
        )
        .select(
            "doc_id",
            F.transform(F.col("__arr"), lambda s: s["shingle"]).alias("sset"),
            F.size(F.col("__arr")).cast("long").alias("set_size"),
        )
        # referenced 4x below (prefix probe, full index, and both
        # verification sides); without a persist Spark recomputes the
        # whole shingle->df-rank->pack chain each time (measured: 8
        # FileScans, 0 ReusedExchange, ~2x the query wall at sf0.1).
        # At 100 TB this frame is the natural checkpoint anyway.
        .persist()
    )
    t1000 = _t1000(threshold)
    prefix_len = (
        F.col("set_size") - _ceil_frac(t1000, F.col("set_size")) + 1
    ).cast("int")
    prefix = packed.select(
        "doc_id",
        "set_size",
        F.explode(F.slice(F.col("sset"), F.lit(1), prefix_len)).alias(
            "shingle"
        ),
    )
    # the container side indexes ALL its shingles (containment has no
    # upper size bound on B); the probe side is prefix-only, so join
    # fan-out is bounded by the postings of RARE prefix shingles
    full = packed.select(
        "doc_id",
        "set_size",
        F.explode(F.col("sset")).alias("shingle"),
    )
    size_ok = F.col("b.set_size") >= _ceil_frac(t1000, F.col("a.set_size"))
    cands = (
        prefix.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & size_ok,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = packed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("sa"),
        F.col("set_size").alias("size_a"),
    )
    sb = packed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("sb"),
        F.col("set_size").alias("size_b"),
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
    rep_pairs = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter_size", inter)
        .withColumn(
            "containment_per_1000",
            F.floor(
                F.lit(1000) * F.col("inter_size") / F.col("size_a")
            ).cast("long"),
        )
        .where(F.col("containment_per_1000") >= t1000)
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            "size_a",
            "size_b",
            "containment_per_1000",
        )
    )
    if not collapse:
        return rep_pairs
    # directed expansion: every member of A's group is contained in
    # every member of B's group — direction PRESERVED (no reorient;
    # the reverse direction, if it clears t, has its own rep pair)
    ga = groups.select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("ma")
    )
    gb = groups.select(
        F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("mb")
    )
    cross = (
        rep_pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.col("ma").alias("doc_a"),
            F.col("mb").alias("doc_b"),
            "inter_size",
            "size_a",
            "size_b",
            "containment_per_1000",
        )
    )
    # within-group ordered pairs (a != b, both directions): identical
    # texts are mutually contained; stats from the rep's packed row
    # (no-shingle groups emit nothing, matching the rep path)
    wa = groups.select("rep_id", F.col("doc_id").alias("doc_a"))
    wb = groups.select("rep_id", F.col("doc_id").alias("doc_b"))
    within = (
        wa.join(wb, "rep_id")
        .where(F.col("doc_a") != F.col("doc_b"))
        .join(
            packed.select(F.col("doc_id").alias("rep_id"), "set_size"),
            "rep_id",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("set_size").alias("inter_size"),
            F.col("set_size").alias("size_a"),
            F.col("set_size").alias("size_b"),
            F.lit(1000).cast("long").alias("containment_per_1000"),
        )
    )
    return cross.unionByName(within)
