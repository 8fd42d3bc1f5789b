"""Salted aggregation + sign-LSH similarity units."""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from rstreams_spark.functions import similarity
from rstreams_spark.operators.skew import SaltedAgg, salted_agg

SF_PAIR = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
SF_IDS = ("sf0.001", "sf0.01")


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [Row(k="hot", v=float(i)) for i in range(1000)]
        + [Row(k="cold", v=1.0), Row(k="cold", v=2.0)]
    )
    got = salted_agg(
        df, ["k"],
        [SaltedAgg.count(), SaltedAgg.sum("v"), SaltedAgg.min("v"), SaltedAgg.max("v")],
        salt_n=8, salt_on="v",
    )
    rows = {r["k"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"]) for r in got.collect()}
    assert rows["hot"] == (1000, sum(range(1000)), 0.0, 999.0)
    assert rows["cold"] == (2, 3.0, 1.0, 2.0)


def test_salted_agg_spreads_hot_key(spark):
    df = spark.createDataFrame([Row(k="hot", v=float(i)) for i in range(64)])
    salt = F.pmod(F.xxhash64(F.col("v")), F.lit(8))
    n_salts = df.withColumn("s", salt).select("s").distinct().count()
    assert n_salts > 1  # phase-1 genuinely fans the hot key out


def test_salted_join_matches_plain_join(spark):
    """Same result set as an unsalted equi-join, for inner and left,
    including a hot key dominating the big side."""
    from rstreams_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [Row(k=("hot" if i % 10 else f"cold{i}"), v=i) for i in range(200)]
    )
    small = spark.createDataFrame(
        [Row(k="hot", tag="H"), Row(k="cold10", tag="C")]
    )
    for how in ("inner", "left"):
        want = sorted(
            (r["k"], r["v"], r["tag"])
            for r in big.join(small, "k", how).collect()
        )
        got = sorted(
            (r["k"], r["v"], r["tag"])
            for r in salted_join(big, small, "k", salt_n=8, how=how).collect()
        )
        assert got == want, how
    import pytest

    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(big, small, "k", how="full")


def test_hyperplanes_deterministic():
    a = similarity.hyperplanes(4, 8)
    b = similarity.hyperplanes(4, 8)
    assert a == b
    assert {x for row in a for x in row} <= {1.0, -1.0}


def test_lsh_bucket_groups_similar_vectors(spark):
    planes = similarity.hyperplanes(4, 3)
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[0.99, 0.01, 0.0]),   # ~ same direction
            Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),    # opposite
        ]
    )
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", similarity.lsh_bucket(F.col("embedding"), planes).alias("b")
        ).collect()
    }
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_ivf_topk_finds_near_neighbors(spark):
    from rstreams_spark.queries.dedupq import ivf_topk
    from conftest import SF_SMOKE

    got = ivf_topk(spark, SF_SMOKE)
    rows = got.collect()
    assert len(rows) > 0
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for probe, neighbors in by_probe.items():
        ranks = sorted(r["rank"] for r in neighbors)
        assert ranks == list(range(1, len(ranks) + 1))
        cosines = [r["cosine"] for r in sorted(neighbors, key=lambda x: x["rank"])]
        assert cosines == sorted(cosines, reverse=True)


def test_quantized_ann_recall(spark):
    """int8-quantized vectors remain searchable: brute top-k over the
    quantized corpus recovers almost all of the float-exact top-k
    (scale factors cancel inside cosine, so error is pure rounding).
    Proves embedding_quantize is a usable storage path, not just a
    size trick."""
    from rstreams_spark.functions.similarity import brute_topk
    from rstreams_spark.queries import REGISTRY
    from rstreams_spark.queries.dedupq import ANN_K, QUANT_MAX

    sf = "/root/testdata/sf0.01"
    from rstreams_spark.queries._util import t

    vecs = t(spark, sf, "embeddings")
    amax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    # materialize scale as a column FIRST: capturing the amax
    # expression inside the next lambda would re-evaluate it per
    # element (no CSE in higher-order functions — CLAUDE.md inv. #5)
    scaled = vecs.withColumn("__scale", amax / float(QUANT_MAX))
    qvec = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") / F.col("__scale") + F.lit(0.5)
        ).cast("double"),
    )
    qcorpus = scaled.select("vec_id", qvec.alias("embedding"))
    probes = qcorpus.where(F.col("vec_id") % 50 == 0)
    got = {
        (r["probe_id"], r["vec_id"])
        for r in brute_topk(qcorpus, probes, ANN_K).collect()
    }
    truth = {
        (r["probe_id"], r["vec_id"])
        for r in REGISTRY["ann_topk"](spark, sf).collect()
    }
    assert len(got & truth) / len(truth) >= 0.9


def test_ivf_recall_vs_exact_and_nprobe_monotone(spark):
    """Quality gate for the IVF index: recall@k against the exact
    brute-force ground truth at sf0.01, and more probed cells must
    not lose recall. Floors calibrated on the deterministic
    md5-medoid + 2-round sampled-Lloyd centroids (measured:
    0.30 / 0.44 / 0.62 for nprobe 1/2/3; the r3 trained KMeans
    measured 0.34 / 0.48 / 0.72 but was oracle-opaque)."""
    from rstreams_spark.queries import REGISTRY
    from rstreams_spark.queries.dedupq import ivf_topk

    sf = "/root/testdata/sf0.01"
    truth = {(r["probe_id"], r["vec_id"]) for r in REGISTRY["ann_topk"](spark, sf).collect()}

    def recall(nprobe):
        got = {(r["probe_id"], r["vec_id"]) for r in ivf_topk(spark, sf, nprobe=nprobe).collect()}
        return len(got & truth) / len(truth)

    r1, r3 = recall(1), recall(3)
    assert r1 >= 0.25
    assert r3 >= 0.60
    assert r3 >= r1  # widening the probe set never loses recall


def test_cosine_pairs_max_bucket_requires_bucket_col(spark):
    """max_bucket without bucket_col must fail fast: the unbucketed
    all-pairs path has no bucket to bound, and silently ignoring the
    cap would strip the caller's quadratic-blowup protection."""
    import pytest

    df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
    with pytest.raises(ValueError, match="max_bucket requires bucket_col"):
        similarity.cosine_pairs(df, 0.5, max_bucket=10)


def test_cosine_pairs_bucket_cap_guard_fires(spark):
    """The in-plan assert_true guard (the SemDeDup inner-loop bound)
    actually fails the job when a bucket outgrows max_bucket — the
    contract semantic_clusters' 100 TB story rests on."""
    import pytest

    rows = [Row(vec_id=i, bucket=0, embedding=[1.0, float(i)]) for i in range(5)]
    df = spark.createDataFrame(rows)
    pairs = similarity.cosine_pairs(
        df, -1.0, bucket_col="bucket", max_bucket=3
    )
    with pytest.raises(Exception, match="max_bucket"):
        pairs.collect()
    # and under the cap it passes: 5 rows in 2 buckets of <=3
    ok = spark.createDataFrame(
        [Row(vec_id=i, bucket=i % 2, embedding=[1.0, 0.0]) for i in range(5)]
    )
    got = similarity.cosine_pairs(ok, 0.9, bucket_col="bucket", max_bucket=3)
    assert got.count() == 3 + 1  # bucket0={0,2,4}: C(3,2)=3; bucket1={1,3}: 1


def _fit_corpus(spark, sf):
    """The embeddings as ivf_topk / semantic_clusters fit them: NULL
    and zero-norm vectors excluded at entry (the oracle's _SQL_NZ)."""
    from rstreams_spark.functions.similarity import l2_norm, rankable_norm
    from rstreams_spark.queries._util import t

    return (
        t(spark, sf, "embeddings").select("vec_id", "embedding")
        .where(F.col("embedding").isNotNull())
        .where(rankable_norm(l2_norm(F.col("embedding"))))
    )


def _two_level_cells(spark, sf):
    """semantic_clusters' index stage, verbatim: the corpus-sized
    cell count, the two-level driver-row fit, the coarse tier and the
    Arrow two-level assignment."""
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import (
        _assign2_np_rows, _coarse_rows_py, _ivf_fit_rows, _n_coarse,
        semantic_cell_count,
    )

    emb = _fit_corpus(spark, sf)
    n_cells = semantic_cell_count(t(spark, sf, "embeddings").count())
    crows, grows = _coarse_rows_py(
        _ivf_fit_rows(emb, n_cells, True), _n_coarse(n_cells)
    )
    return n_cells, _assign2_np_rows(emb, crows, grows)


def _oracle_cells(sf, cte):
    with duckdb.connect() as con:
        con.sql(
            f"create view embeddings as select * from '{sf}/embeddings.parquet'"
        )
        return set(
            con.sql(f"with {cte} select vec_id, cell from assigned").fetchall()
        )


def test_semantic_clusters_buckets_on_learned_cells(spark):
    """semantic_clusters pairs only vectors sharing a learned Voronoi
    cell: every 2-member cluster must be cell-homogeneous under the
    cells its own index stage assigns."""
    from conftest import SF_SMOKE
    from rstreams_spark.queries.dedupq import semantic_clusters

    n_cells, cells = _two_level_cells(spark, SF_SMOKE)
    cmap = {r["vec_id"]: r["cell"] for r in cells.select("vec_id", "cell").collect()}
    assert set(cmap.values()) <= set(range(n_cells))
    assert len(set(cmap.values())) > 1  # a real partition, not one mega-cell

    out = semantic_clusters(spark, SF_SMOKE).collect()
    assert len(out) > 0
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    # direct pair edges exist only within a cell, so every 2-member
    # cluster must be cell-homogeneous (larger ones may chain across
    # cells only through shared members — impossible for pairs)
    for cid, members in by_cluster.items():
        if len(members) == 2:
            a, b = members
            assert cmap[a] == cmap[b]


@pytest.mark.parametrize("sf", SF_PAIR, ids=SF_IDS)
def test_two_level_cells_match_oracle(spark, sf):
    """The Arrow two-level fit + assignment semantic_clusters runs
    must put EVERY vector in the oracle's cell — seeds, Lloyd means,
    coarse routing and greedy fine argmin, tie-breaks included.
    Dim-sequential accumulation makes the d2 doubles bit-identical,
    so any mismatch is a real kernel bug, not FP noise."""
    from rstreams_spark.queries.dedupq import (
        _SQL_CELLS_ADAPTIVE, _SQL_NC_ADAPTIVE, _sql_ivf_assign2,
    )

    _, cells = _two_level_cells(spark, sf)
    got = {(r["vec_id"], r["cell"]) for r in cells.collect()}
    want = _oracle_cells(
        sf, _sql_ivf_assign2(_SQL_CELLS_ADAPTIVE, _SQL_NC_ADAPTIVE)
    )
    assert got == want and len(got) == _fit_corpus(spark, sf).count()


@pytest.mark.parametrize("sf", SF_PAIR, ids=SF_IDS)
def test_flat_cells_match_oracle(spark, sf):
    """ivf_assign_np over ivf_fit (ivf_topk's index and the streaming
    semantic gate's) must put every vector in the oracle's cell."""
    from rstreams_spark.queries.dedupq import (
        IVF_CELLS, _sql_ivf_assign, ivf_assign_np, ivf_fit,
    )

    emb = _fit_corpus(spark, sf)
    got = {
        (r["vec_id"], r["cell"])
        for r in ivf_assign_np(emb, ivf_fit(emb)).collect()
    }
    want = _oracle_cells(sf, _sql_ivf_assign(str(IVF_CELLS)))
    assert got == want and len(got) == emb.count()


def test_np_pairs_match_jvm_pairs_and_cap_fires(spark):
    """cosine_pairs_np must emit the EXACT pair set with bit-equal
    cosine doubles as the JVM self-join (dim-sequential dot/norm
    parity), and its in-kernel bucket cap must fail the job as
    loudly as the JVM assert_true guard."""
    import pytest
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark.functions import similarity
    from rstreams_spark.queries._util import t

    emb = t(spark, SF_SMOKE, "embeddings").withColumn(
        "bucket", (F.col("vec_id") % 7).cast("int")
    )
    jvm = {
        (r["id1"], r["id2"], r["cosine"])
        for r in similarity.cosine_pairs(
            emb, 0.3, bucket_col="bucket", max_bucket=4096
        ).collect()
    }
    np_ = {
        (r["id1"], r["id2"], r["cosine"])
        for r in similarity.cosine_pairs_np(
            emb, 0.3, bucket_col="bucket", max_bucket=4096
        ).collect()
    }
    assert jvm == np_ and jvm  # exact doubles, non-vacuous
    with pytest.raises(Exception, match="max_bucket"):
        similarity.cosine_pairs_np(
            emb, 0.3, bucket_col="bucket", max_bucket=3
        ).collect()


def test_np_pairs_edge_parity_nan_null(spark):
    """Degenerate-input parity of the numpy pair kernel with the JVM
    self-join: NULL-bucket rows pair with NOTHING (the join condition
    is NULL), NULL embeddings pair with nothing (NULL cosine
    filtered) instead of crashing the float64 stack, and degenerate
    norms (zero, NaN/Inf component) are EXCLUDED at entry on both
    paths per invariant 20 — the JVM twin via rankable_norm on the
    hoisted __n, the kernel via its in-kernel mask — while the
    surviving members still pair (r10: the old fail-loudly contract
    leaked NaN-cosine pairs through the JVM path, r9 advice)."""
    from rstreams_spark.functions import similarity

    vecs = spark.createDataFrame(
        [
            (2, [1.0, 0.0, 0.0], 0),
            (3, [1.0, 0.0, 0.0], 0),   # (2,3) cosine 1.0
            (4, [1.0, 0.0, 0.0], None),
            (5, [1.0, 0.0, 0.0], None),  # NULL bucket: no pairs
            (6, None, 0),                # NULL vec: no pairs
        ],
        "vec_id bigint, embedding array<double>, bucket int",
    )
    jvm = {
        (r["id1"], r["id2"], r["cosine"])
        for r in similarity.cosine_pairs(vecs, 0.3, bucket_col="bucket").collect()
    }
    np_ = {
        (r["id1"], r["id2"], r["cosine"])
        for r in similarity.cosine_pairs_np(vecs, 0.3, bucket_col="bucket").collect()
    }
    assert jvm == np_ == {(2, 3, 1.0)}

    # degenerate-norm members (zero norm, NaN/Inf component) are
    # silently EXCLUDED on both paths; the surviving same-bucket
    # members still pair with each other — and crucially the JVM
    # path no longer emits NaN-cosine pairs (NaN >= τ is TRUE under
    # Spark's NaN-greatest ordering: the r9-advice leak)
    deg = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0], 0),            # zero norm: excluded
            (2, [float("nan"), 0.0, 0.0], 0),   # NaN norm: excluded
            (3, [float("inf"), 0.0, 0.0], 0),   # Inf norm: excluded
            (4, [1.0, 0.0, 0.0], 0),
            (5, [1.0, 0.0, 0.0], 0),            # (4,5) survive
        ],
        "vec_id bigint, embedding array<double>, bucket int",
    )
    jvm_deg = {
        (r["id1"], r["id2"], r["cosine"])
        for r in similarity.cosine_pairs(deg, 0.3, bucket_col="bucket").collect()
    }
    np_deg = {
        (r["id1"], r["id2"], r["cosine"])
        for r in similarity.cosine_pairs_np(
            deg, 0.3, bucket_col="bucket"
        ).collect()
    }
    assert jvm_deg == np_deg == {(4, 5, 1.0)}


def test_np_assign_null_embedding_matches_jvm(spark):
    """NULL embeddings make every d2 fold NULL, so a SQL argmin's
    (d2, id) order degenerates to the smallest cell (flat) / the
    smallest g's smallest cell (two-level). The numpy kernels must
    land there rather than crash on the ragged batch. The oracle
    filters NULL vectors out, so it cannot pin this: the expected
    cells are the output of the retired all-JVM argmin folds
    (ivf_assign / ivf_coarse_groups + ivf_assign2) on these rows."""
    from rstreams_spark.queries.dedupq import (
        _assign2_np_rows, _coarse_rows_py, _n_coarse, ivf_assign_np,
    )

    cent_rows = [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [5.0, 5.0])]
    cents = spark.createDataFrame(
        cent_rows, "cell int, centroid array<double>"
    )
    vecs = spark.createDataFrame(
        [(1, [0.1, 0.1]), (2, None), (3, [4.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    want = {(1, 0), (2, 0), (3, 2)}
    np_ = {(r["vec_id"], r["cell"]) for r in ivf_assign_np(vecs, cents).collect()}
    assert np_ == want

    crows, grows = _coarse_rows_py(cent_rows, _n_coarse(3))
    assert [(c, g) for c, _, g in crows] == [(0, 0), (1, 1), (2, 1)]
    assert grows == [(0, [0.0, 0.0]), (1, [1.0, 1.0])]
    np2 = {
        (r["vec_id"], r["cell"])
        for r in _assign2_np_rows(vecs, crows, grows).collect()
    }
    assert np2 == want


def test_decontaminate_fuzzy_contract(spark):
    """Bipartite decontamination invariants: one row per contaminated
    TRAIN doc (never an eval doc), jaccard >= tau, and the flagged
    best-match pairs agree with a direct exact-jaccard computation
    over the same hashed shingle sets."""
    from conftest import SF_SMOKE
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import (
        DECON_EVAL_SOURCE, DECON_FUZZY_TAU, decontaminate_fuzzy,
    )

    out = decontaminate_fuzzy(spark, SF_SMOKE).collect()
    assert len(out) > 0  # the corpus has cross-shard near-dups
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))  # best-match: one row per doc
    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "source").collect()
    src = {r["doc_id"]: r["source"] for r in docs}
    for r in out:
        assert src[r["doc_id"]] != DECON_EVAL_SOURCE   # train side only
        assert src[r["eval_id"]] == DECON_EVAL_SOURCE  # matched an eval doc
        assert r["jaccard"] >= DECON_FUZZY_TAU


def test_np_kernels_ragged_dims_raise_targeted(spark):
    """Mixed-dimension embeddings in one kernel batch raise the
    targeted stack_f64 error naming offending ids — never numpy's
    opaque 'inhomogeneous shape' (ADVICE r6)."""
    import pytest
    from pyspark.sql import Row

    from rstreams_spark.functions.similarity import cosine_pairs_np

    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0], bucket=0),
            Row(vec_id=2, embedding=[0.0, 1.0], bucket=0),
            Row(vec_id=3, embedding=[1.0, 0.0, 0.0], bucket=0),
        ]
    )
    with pytest.raises(Exception, match="mixed embedding dimensions"):
        cosine_pairs_np(vecs, 0.0).collect()


def test_lsh_topk_library_matches_catalog(spark):
    """The library lsh_topk composition must return row-identical
    results to the catalog's ann_lsh_topk entries in BOTH physical
    modes — one ranked-join definition, two surfaces."""
    from conftest import SF_SMOKE

    from rstreams_spark.functions.similarity import lsh_topk
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import ANN_K, _PLANES, _ann_lsh_impl

    emb = t(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    probes = emb.where(F.col("vec_id") % 50 == 0)
    for shuffle in (False, True):
        lib = sorted(
            lsh_topk(emb, probes, ANN_K, _PLANES, shuffle=shuffle).collect()
        )
        cat = sorted(
            _ann_lsh_impl(spark, SF_SMOKE, probe_mod=50, shuffle=shuffle)
            .collect()
        )
        assert lib == cat and len(lib) > 0


def test_coarse_rows_py_matches_ivf_coarse_groups():
    """The driver-side coarse tier (`_coarse_rows_py`, the fit's and
    semantic_clusters' routing step) must pick the coarse seeds in
    hash order and route every cell by the dim-sequential d2 with the
    (d2, g) first-min tie-break, on centroids engineered to include
    an exact distance TIE between two coarse centroids. The expected
    maps are the output of the retired all-JVM `ivf_coarse_groups`
    on these rows (the oracle's gseed/c2g CTEs run the same
    row_number-over-(d2, g) argmin)."""
    from rstreams_spark.queries.dedupq import _coarse_rows_py, _n_coarse

    # seeds (hash order) are cells 0, 6, 1 -> g 0, 1, 2; cell 4 at
    # (1, 3) is exactly d2 = 10 from both g0 (0, 0) and g2 (2, 0) and
    # farther from g1 -> the tie must break to the smaller g
    rows = [
        (0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [10.0, 10.0]),
        (3, [10.5, 10.0]), (4, [1.0, 3.0]), (5, [-3.0, 7.0]),
        (6, [0.25, -0.5]),
    ]
    nc = _n_coarse(len(rows))
    assert nc == 3
    crows, grows = _coarse_rows_py(rows, nc)
    assert {c: (tuple(v), g) for c, v, g in crows} == {
        0: ((0.0, 0.0), 0), 1: ((2.0, 0.0), 2), 2: ((10.0, 10.0), 2),
        3: ((10.5, 10.0), 2), 4: ((1.0, 3.0), 0), 5: ((-3.0, 7.0), 0),
        6: ((0.25, -0.5), 1),
    }
    assert {g: tuple(v) for g, v in grows} == {
        0: (0.0, 0.0), 1: (0.25, -0.5), 2: (2.0, 0.0),
    }


def test_zero_norm_vectors_dropped_everywhere(spark):
    """r9 contract (ADVICE r8): zero-norm vectors are excluded from
    every cosine-similarity surface at entry — library AND catalog —
    because cosine is undefined for them (the 0/0 would raise under
    ANSI / NaN-rank in pandas). A zero vector must never appear as a
    probe, a neighbor, or a pair member; non-zero results are
    unaffected by its presence."""
    from rstreams_spark.functions.similarity import (
        brute_topk, cosine_pairs, lsh_topk,
    )
    from rstreams_spark.queries.dedupq import _PLANES

    rows = [
        Row(vec_id=0, embedding=[0.0] * 4),        # zero-norm "probe"
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.9, 0.1, 0.0, 0.0]),
        Row(vec_id=3, embedding=None),             # NULL vector
        Row(vec_id=50, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=100, embedding=[0.0] * 4),      # zero-norm corpus row
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    probes = vecs.where(F.col("vec_id") % 50 == 0)

    bt = brute_topk(vecs, probes, 3).collect()
    ids = {r.probe_id for r in bt} | {r.vec_id for r in bt}
    assert 0 not in ids and 100 not in ids and 3 not in ids
    assert any(r.probe_id == 50 for r in bt)

    for shuffle in (False, True):
        lt = lsh_topk(vecs, probes, 3, _PLANES, shuffle=shuffle).collect()
        ids = {r.probe_id for r in lt} | {r.vec_id for r in lt}
        assert 0 not in ids and 100 not in ids and 3 not in ids

    cp = cosine_pairs(
        vecs.where(F.col("embedding").isNotNull())
        .where(similarity.l2_norm(F.col("embedding")) > 0),
        0.5,
    ).collect()
    assert {p.id1 for p in cp} | {p.id2 for p in cp} == {1, 2}


def test_zero_norm_arrival_passes_embedding_gate(spark):
    """A zero-norm vector arriving at the streaming semantic-dedup
    gate can never be a duplicate (no defined cosine): it must PASS
    the gate — not raise, not be dropped — and zero-norm index
    vectors must be excluded at index build."""
    from rstreams_spark.streaming.dedup import (
        embedding_dedup_batch, embedding_index,
    )

    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[0.0, 0.0]),   # dropped at build
            Row(vec_id=4, embedding=None),         # dropped at build
        ],
        "vec_id bigint, embedding array<float>",
    )
    cents, indexed = embedding_index(corpus, cells=2)
    assert {r.index_id for r in indexed.collect()} == {1, 2}

    batch = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[1.0, 0.0]),  # dup of 1 -> drop
            Row(vec_id=11, embedding=[0.0, 0.0]),  # zero-norm -> pass
            Row(vec_id=12, embedding=[-1.0, 0.3]), # novel -> pass
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = embedding_dedup_batch(batch, cents, indexed, tau=0.9)
    assert {r.vec_id for r in out.collect()} == {11, 12}


def test_nonfinite_arrival_passes_embedding_gate(spark):
    """Streaming twin of the batch nonfinite_vec contract (r9
    advice): NaN > 0 is TRUE on Spark, so a bare `norm > 0` filter
    KEEPS NaN/Inf-norm vectors — a NaN-norm INDEX vector poisons
    every same-cell comparison (NaN cosine >= tau is true under
    NaN-greatest ordering) and a NaN-norm ARRIVAL is silently
    suppressed. Both filters now ride rankable_norm: non-finite
    index vectors are excluded at build, non-finite arrivals PASS
    the gate (they can never be a defined dup), and finite dups are
    still caught in their presence."""
    from rstreams_spark.streaming.dedup import (
        embedding_dedup_batch, embedding_index,
    )

    nan, inf = float("nan"), float("inf")
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[nan, 0.0]),   # NaN norm: dropped
            Row(vec_id=4, embedding=[inf, 1.0]),   # Inf norm: dropped
        ],
        "vec_id bigint, embedding array<float>",
    )
    cents, indexed = embedding_index(corpus, cells=2)
    assert {r.index_id for r in indexed.collect()} == {1, 2}

    batch = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[1.0, 0.0]),   # dup of 1 -> drop
            Row(vec_id=11, embedding=[nan, 0.0]),   # NaN norm -> pass
            Row(vec_id=12, embedding=[inf, 1.0]),   # Inf norm -> pass
            Row(vec_id=13, embedding=[-1.0, 0.3]),  # novel -> pass
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = embedding_dedup_batch(batch, cents, indexed, tau=0.9)
    assert {r.vec_id for r in out.collect()} == {11, 12, 13}


def test_ivf_fit_ragged_seed_raises_targeted_error(spark):
    """r10 (ragged_dims probe class): a mixed-dimension corpus must
    fail the fit with the targeted stack_f64 error NAMING the
    offending vec_ids — not numpy's opaque 'inhomogeneous shape'
    (which is what the centroid stack raised before the seed-time
    guard)."""
    import pytest
    from pyspark.sql import functions as F

    from rstreams_spark.queries.dedupq import _ivf_fit_rows

    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") % 13 == 4,
            F.array_repeat(F.lit(1.0).cast("float"), 32),
        ).otherwise(
            F.array_repeat(F.lit(1.0).cast("float"), 64)
        ).alias("embedding"),
    )
    with pytest.raises(Exception, match="mixed embedding dimensions"):
        _ivf_fit_rows(vecs, 16, False)
