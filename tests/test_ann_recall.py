"""Recall of the approximate-NN tiers against the exact cosine baseline.

The fixture embeddings are near-uniform random vectors — the hardest case
for ANN (no cluster structure), so thresholds are intentionally loose;
the tests pin the efficiency contract (candidate pruning) and that the
learned quantizer beats random-subset recall on average.
"""

import hashlib
import os

import pyspark.sql.functions as F
import pytest

from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
    IVF_K,
    IVF_NPROBE,
    N_QUERIES,
    TOP_K,
)
from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from tests.oracle import canonical_rows

REG = load_all()


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ivf_kmeans_contract_and_recall(spark, sf_dir):
    exact = _topk_sets(REG["cosine_topk_exact"].fn(spark, sf_dir))
    ivf = REG["ann_ivf_kmeans"].fn(spark, sf_dir)
    approx = _topk_sets(ivf)

    # contract: same schema/rank shape as the exact baseline
    assert set(ivf.columns) == {"query_id", "neighbor_id", "cosine_sim", "rnk"}
    counts = ivf.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    assert all(r.n <= TOP_K for r in counts)
    assert len(approx) == N_QUERIES

    # recall: on uniform vectors probing nprobe/k of the corpus recovers at
    # least a non-degenerate share of true neighbors
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    recall = hits / (len(exact) * TOP_K)
    assert recall >= 0.5 * IVF_NPROBE / IVF_K, f"recall {recall:.2f} degenerate"


def test_ivf_kmeans_deterministic(spark, sf_dir):
    q = REG["ann_ivf_kmeans"]
    a = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    assert a == b


def test_persisted_ivf_matches_in_memory_and_prunes_partitions(spark, sf_dir):
    """The persisted index must return exactly the in-memory IVF results
    (same seeded quantizer), and its probe join must trigger dynamic
    partition pruning — only nprobe/k of the index directories read."""
    from distributed_deep_learning_with_apache_spark_spark.registry import load_all

    reg = load_all()
    per = reg["ann_ivf_persisted"].fn(spark, sf_dir)
    mem = reg["ann_ivf_kmeans"].fn(spark, sf_dir)
    assert sorted(map(tuple, per.collect())) == sorted(map(tuple, mem.collect()))
    plan = per._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "probe join must prune index partitions"


def test_pq_adc_recall_and_compression(spark, sf_dir):
    """PQ/ADC: 16 one-byte codes must stand in for 64-float vectors with
    non-degenerate recall against the exact cosine baseline, even on the
    uniform-random worst case (measured 0.76 at sf0.001 / 0.74 at sf0.01;
    pinned loosely at >= 0.5 — 50x better than the 0.01 random-subset
    baseline)."""
    from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_encode_df,
    )

    exact = _topk_sets(REG["cosine_topk_exact"].fn(spark, sf_dir))
    pq = REG["ann_pq_adc"].fn(spark, sf_dir)
    approx = _topk_sets(pq)
    assert set(pq.columns) == {"query_id", "neighbor_id", "adc_dist", "rnk"}
    assert len(approx) == N_QUERIES

    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    recall = hits / (len(exact) * TOP_K)
    assert recall >= 0.5, f"PQ recall {recall:.2f} degenerate"

    # compression contract: every vector encodes to exactly PQ_M codes,
    # each in the 8-bit codebook domain
    codes_df, books = pq_encode_df(spark, sf_dir)
    rows = codes_df.collect()
    assert all(len(r.codes) == PQ_M for r in rows)
    assert all(0 <= c < PQ_K for r in rows for c in r.codes)
    assert len(books) == PQ_M and all(len(b) == PQ_K for b in books)


def test_pq_adc_deterministic(spark, sf_dir):
    q = REG["ann_pq_adc"]
    a = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    assert a == b


def test_matryoshka_refine_recall_and_contract(spark, sf_dir):
    """r4: the two-stage matryoshka search must (a) keep exactly TOP_K
    ranked rows per query, (b) score refine-stage cosines identically to
    the exact search for the neighbors both return, and (c) hold
    recall@5 >= 0.4 even on this uniform-random fixture — the WORST case
    for prefix-dim search (no MRL training concentrates signal in the
    prefix; measured 0.50-0.54 across SFs). Real matryoshka embeddings
    put most of the norm in the prefix, pushing recall toward 1."""
    from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    exact_rows = REG["cosine_topk_exact"].fn(spark, sf_dir).collect()
    mrl_rows = REG["ann_matryoshka_refine"].fn(spark, sf_dir).collect()
    assert len(mrl_rows) == N_QUERIES * TOP_K
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    mrl_sim = {(r.query_id, r.neighbor_id): r.cosine_sim for r in mrl_rows}
    exact_sim = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact_rows}
    shared = set(mrl_sim) & set(exact_sim)
    assert shared and all(mrl_sim[k] == exact_sim[k] for k in shared)
    hits = sum(1 for (q, n) in mrl_sim if n in exact.get(q, set()))
    recall = hits / (len(exact) * TOP_K)
    assert recall >= 0.4, f"matryoshka recall {recall:.2f} degenerate"


def test_ivf_pq_composition_recall_and_pruning(spark, sf_dir):
    """r4/r5: the composed IVF×PQ stack must (a) emit exactly top-k rows
    per query, (b) only emit neighbors whose IVF cell was among that
    query's nprobe probed cells (the I/O-pruning contract), and (c) hold
    recall@5 >= 0.5 at the nprobe=4 operating point.

    Measured nprobe curve (r5, recall@5 vs exact cosine; embeddings are
    unit-norm so L2 == cosine ranking — no metric-mismatch loss):
        nprobe:   1     2     4     8
        sf0.001:  0.28  0.34  0.56  0.66
        sf0.01:   0.32  0.42  0.58  0.68
    Reference points at the same fixtures: PQ-only 0.76/0.74, IVF-only
    0.64/0.72 — losses compose as expected; nprobe=4 (of 16 cells) is the
    chosen operating point and the pin sits just under its measured
    floor (r4's 0.3 pin would have passed a mis-tuned index)."""
    import os

    import numpy as np

    from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        build_ivf_index,
    )

    rows = REG["ann_ivf_pq_adc"].fn(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES * TOP_K
    exact = {}
    for r in REG["cosine_topk_exact"].fn(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {(r.query_id, r.neighbor_id) for r in rows}
    hits = sum(1 for q, n in got if n in exact.get(q, set()))
    recall = hits / (len(exact) * TOP_K)
    assert recall >= 0.5, f"IVF*PQ recall {recall:.2f} below the nprobe=4 operating point"

    # pruning contract: every neighbor's cell is in its query's probe set
    root = build_ivf_index(spark, sf_dir)
    assigned = {
        r.vec_id: r.cell
        for r in spark.read.parquet(os.path.join(root, "assignments"))
        .select("vec_id", "cell")
        .collect()
    }
    cents = {
        r.cell: np.asarray(r.cv)
        for r in spark.read.parquet(os.path.join(root, "centroids")).collect()
    }
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    qvs = {
        r.vec_id: np.asarray([float(x) for x in r.embedding])
        for r in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .collect()
    }
    for r in rows:
        d2 = sorted((float(((qvs[r.query_id] - cv) ** 2).sum()), c) for c, cv in cents.items())
        probed = {c for _, c in d2[:IVF_NPROBE]}
        assert assigned[r.neighbor_id] in probed, (r.query_id, r.neighbor_id)


def test_ivf_pq_refined_lifts_recall_to_ivf_ceiling(spark, sf_dir):
    """r5: the exact-rerank refine stage must (a) emit exactly top-k rows
    per query, (b) beat (or match) the unrefined ADC top-k recall, and
    (c) reach recall@5 >= 0.6 — the IVF cell-pruning ceiling (measured
    0.64/0.72 at sf0.001/sf0.01 vs 0.56/0.58 unrefined: after the exact
    rerank every remaining miss is a pruned cell, none is PQ
    quantization)."""
    from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    exact = _topk_sets(REG["cosine_topk_exact"].fn(spark, sf_dir))

    def recall(name):
        rows = REG[name].fn(spark, sf_dir).collect()
        assert len(rows) == N_QUERIES * TOP_K, name
        got = {(r.query_id, r.neighbor_id) for r in rows}
        return sum(1 for q, n in got if n in exact.get(q, set())) / (
            len(exact) * TOP_K
        )

    r_adc = recall("ann_ivf_pq_adc")
    r_ref = recall("ann_ivf_pq_refined")
    assert r_ref >= r_adc, (r_ref, r_adc)
    assert r_ref >= 0.6, f"refined recall {r_ref:.2f} below the IVF ceiling band"


# ---------------------------------------------------------------------------
# Bit-identity pins for the IVF/PQ stack at sf0.001. Every digest is the
# sha256 (first 16 hex) of tests/oracle.py::canonical_rows over the output;
# trained artifacts (centroids, codebooks) render each double with
# float.hex so the pin is exact, not 6-decimal. A change that moves any of
# these (e.g. a PQ trainer re-baseline) must re-pin them explicitly.
# ---------------------------------------------------------------------------
PINNED_SF = "sf0.001"
PINNED_DIGESTS = {
    "ann_ivf_kmeans": "7fde5bf06e6707ee",
    "ann_ivf_persisted": "7fde5bf06e6707ee",
    "ann_ivf_append_batch": "af35682ce2bbd122",
    "ann_ivf_delete_serve": "8db168bca2ab60f6",
    "ann_ivf_compact_tombstones": "8db168bca2ab60f6",
    "ann_pq_adc": "e9303c55fb28b4de",
    "ann_ivf_pq_adc": "79dd8585781263af",
    "ann_ivf_pq_refined": "e71d780aab711872",
    "ann_ivf_pq_append_batch": "a66f5f875a636ba9",
    "ivf_silhouette_gate": "64f5eaba81095110",
    "ivf_centroids": "ac9b6c4e291b3711",
    "ivf_assignments": "d38870f71d785e66",
    "pq_codebooks": "9321656ec2ae38a2",
    "pq_codes": "f675beabb2dff083",
}


def _digest(columns, rows):
    body = "\n".join(canonical_rows(list(columns), [tuple(r) for r in rows]))
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def test_ann_stack_outputs_bit_identical_to_pins(spark, sf_dir, tmp_path, monkeypatch):
    """Every listed ANN output, plus the centroids/assignments and
    codebooks/codes of a fresh build into a private root, hashes to its
    pinned digest. The corpus-keyed caches are redirected under tmp_path
    so each run exercises the build code, never a stale /tmp index."""
    from distributed_deep_learning_with_apache_spark_spark.operators import similarity

    if os.path.basename(os.path.normpath(sf_dir)) != PINNED_SF:
        pytest.skip(f"digests are pinned at {PINNED_SF}")
    monkeypatch.setattr(similarity, "IVF_INDEX_ROOT", str(tmp_path / "ivf_cache"))
    monkeypatch.setattr(similarity, "PQ_CODES_ROOT", str(tmp_path / "pq_cache"))

    got = {}
    for name in (
        "ann_ivf_kmeans",
        "ann_ivf_persisted",
        "ann_ivf_append_batch",
        "ann_ivf_delete_serve",
        "ann_ivf_compact_tombstones",
        "ann_pq_adc",
        "ann_ivf_pq_adc",
        "ann_ivf_pq_refined",
        "ann_ivf_pq_append_batch",
        "ivf_silhouette_gate",
    ):
        df = REG[name].fn(spark, sf_dir)
        got[name] = _digest(df.columns, df.collect())

    root = similarity.build_ivf_index(spark, sf_dir, root=str(tmp_path / "ivf"))
    cents = spark.read.parquet(os.path.join(root, "centroids")).collect()
    got["ivf_centroids"] = _digest(
        ["cell", "cv"], [(r.cell, [float.hex(x) for x in r.cv]) for r in cents]
    )
    assigned = spark.read.parquet(os.path.join(root, "assignments"))
    got["ivf_assignments"] = _digest(
        ["vec_id", "cell"], assigned.select("vec_id", "cell").collect()
    )
    codes_df, books = similarity.pq_encode_df(spark, sf_dir, root=str(tmp_path / "pq"))
    got["pq_codebooks"] = _digest(
        ["m", "k", "c"],
        [
            (m, k, [float.hex(float(x)) for x in c])
            for m, book in enumerate(books)
            for k, c in enumerate(book)
        ],
    )
    got["pq_codes"] = _digest(
        ["vec_id", "codes"], [(r.vec_id, list(r.codes)) for r in codes_df.collect()]
    )
    assert got == PINNED_DIGESTS, got


def test_training_sample_is_hash_ordered_deterministic_and_whole_when_it_fits(
    spark, sf_dir
):
    """The bounded training sample is a seeded hash draw over the whole id
    range (not the vec_id prefix), is identical across calls, and is the
    full corpus in vec_id order once the bound covers the corpus — the
    case every fixture is in, which keeps centroids/codes bit-identical."""
    import numpy as np

    from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
        DIM,
        _training_sample,
        as_double,
    )
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
        load_table,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    by_id = e.sort("vec_id").collect()
    n = 50
    a = _training_sample(e, n)
    b = _training_sample(e, n)
    assert a.shape == (n, DIM)
    assert np.array_equal(a, b)
    prefix = np.array([r.v for r in by_id[:n]])
    assert not np.array_equal(a, prefix), "sample degenerated to the vec_id prefix"
    full = _training_sample(e, len(by_id) + 7)
    assert np.array_equal(full, np.array([r.v for r in by_id]))


_BAD_VECTORS = {
    "null": None,
    "empty": [],
    "short": [0.5] * 63,
}


@pytest.mark.parametrize("kind", sorted(_BAD_VECTORS))
@pytest.mark.parametrize("build", ["build_ivf_index", "pq_encode_df"])
def test_build_paths_reject_bad_vectors_by_name(spark, sf_dir, tmp_path, build, kind):
    """A NULL, empty or non-DIM vector in the build input raises a named
    error (the caller's name leads the message) instead of corrupting the
    store: a NULL/short vector's l2sq fold is NULL (zip_with pads with
    NULL) and would otherwise sort into an arbitrary cell."""
    from distributed_deep_learning_with_apache_spark_spark.operators import similarity
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
        load_table,
    )

    good = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bad = spark.createDataFrame(
        [(30_000_001, _BAD_VECTORS[kind])], "vec_id long, embedding array<float>"
    )
    root = str(tmp_path / "store")
    with pytest.raises(Exception, match=build):
        getattr(similarity, build)(
            spark, sf_dir, root=root, source=good.unionByName(bad)
        )
    assert not os.path.exists(root), "a rejected build must publish nothing"
