"""Row-equality pins for the Arrow kernels. Where a kernel's query
has a DuckDB oracle, the oracle is its twin (invariant 22); the r10
similarity kernels are also pinned against JVM join+fold
compositions built here in the test (r10 advice found
routed_cosine_np / bucketed_topk_np compared only kernel-vs-kernel).

Those test-side compositions are the exact plans the kernels replaced:
broadcast/shuffled join on the route key + zip_with/aggregate dot
fold + hoisted-norm division (+ the rank window for the top-k path).
Equality is EXACT on the cosine doubles (invariant 2 — the kernels
accumulate dim-sequentially in the fold's add order).

Also pins the r10-advice fixes: NaN-cosine candidates rank FIRST
(Spark's NaN-greatest total order — a plain argsort(-cos) buries
them last), the chunked candidate merge is exact at any chunk size,
the loud max_members cap, and the targeted cross-stack
dimensionality errors.
"""

import math
import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rstreams_spark.functions.similarity import (
    bucketed_topk_np, dot, l2_norm, rankable_norm, routed_cosine_np,
)
from rstreams_spark.queries._util import t

from conftest import SF_SMOKE

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from oracle_check import canon  # noqa: E402

K = 5


def _corpus(spark, route_mod=7):
    return (
        t(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("v_norm", l2_norm(F.col("embedding")))
        .where(rankable_norm(F.col("v_norm")))
        .withColumn("bucket", F.col("vec_id") % route_mod)
        .localCheckpoint(eager=False)
    )


def _probes(corpus, probe_mod=20):
    return corpus.where(F.col("vec_id") % probe_mod == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("bucket").alias("p_route"),
        F.col("v_norm").alias("p_norm"),
    )


def _nan_safe(rows):
    # NaN != NaN would fail tuple equality; both sides' NaNs map to
    # one sentinel so a NaN cosine still compares equal-by-position
    return sorted(
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
              for v in r)
        for r in rows
    )


def test_routed_cosine_np_matches_jvm_join(spark):
    corpus = _corpus(spark)
    probes = _probes(corpus)
    prows = probes.collect()
    kern = routed_cosine_np(corpus, prows, route_col="bucket").collect()
    jvm = (
        corpus.join(
            F.broadcast(probes), F.col("bucket") == F.col("p_route")
        )
        .select(
            "probe_id", "vec_id",
            (dot(F.col("embedding"), F.col("p_emb"))
             / (F.col("v_norm") * F.col("p_norm"))).alias("cosine"),
        )
        .collect()
    )
    assert len(kern) > 0
    assert sorted(kern) == sorted(jvm)  # exact doubles, no NaN here


def _jvm_topk(corpus, probes, k):
    """The retained JVM composition bucketed_topk_np replaced:
    shuffled hash join on the route key, fold cosine, per-probe
    (cosine DESC, id ASC) rank ≤ k+1, THEN self-pair exclusion —
    the kernel's exact candidate contract."""
    joined = corpus.join(
        probes.hint("shuffle_hash"), F.col("bucket") == F.col("p_route")
    ).select(
        "probe_id", "vec_id",
        (dot(F.col("embedding"), F.col("p_emb"))
         / (F.col("v_norm") * F.col("p_norm"))).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k + 1)
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", "cosine")
    )


def _kern_topk(corpus, probes, k, **kw):
    return bucketed_topk_np(
        corpus.select("bucket", "vec_id", "embedding", "v_norm"),
        probes.select(
            F.col("p_route").alias("bucket"), "probe_id",
            F.col("p_emb").alias("embedding"),
            F.col("p_norm").alias("v_norm"),
        ),
        k, route_col="bucket", **kw,
    )


def test_bucketed_topk_np_matches_jvm_window(spark):
    corpus = _corpus(spark)
    probes = _probes(corpus)
    kern = _kern_topk(corpus, probes, K).collect()
    jvm = _jvm_topk(corpus, probes, K).collect()
    assert len(kern) > 0
    assert sorted(kern) == sorted(jvm)


def test_bucketed_topk_np_chunk_merge_exact(spark):
    """Chunked candidate selection (r10 advice: the score block no
    longer materializes bucket_members × probes at once) merges to
    the IDENTICAL candidate set at any chunk size — a global
    top-(k+1) row is its own chunk's top-(k+1)."""
    corpus = _corpus(spark, route_mod=2)  # big buckets → many chunks
    probes = _probes(corpus, probe_mod=10)
    base = sorted(_kern_topk(corpus, probes, K).collect())
    tiny = sorted(_kern_topk(corpus, probes, K, chunk=3).collect())
    assert base == tiny
    assert base == sorted(_jvm_topk(corpus, probes, K).collect())


def test_bucketed_topk_np_nan_cosine_ranks_first(spark):
    """Direct-library surface: callers supply the norm column, so a
    NaN-component vector with a finite claimed norm can reach the
    kernel (the catalog filters with rankable_norm upstream). Its
    dot fold is NaN, so cosine = NaN/finite = NaN; Spark's rank
    window sorts NaN GREATEST under desc, so the NaN row must hold a
    top-(k+1) slot — argsort(-cos) would silently bury it last (r10
    advice). The JVM twin is the semantics oracle."""
    emb_nan = [float("nan"), 0.0, 0.0, 0.0]
    rows = [(1, emb_nan, 1.0, 0)] + [
        (i, [float(i), 1.0, 0.0, 0.0], math.sqrt(i * i + 1.0), 0)
        for i in range(2, 9)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, v_norm double, "
              "bucket long"
    )
    probes = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0], 1.0, 0)],
        "probe_id long, p_emb array<double>, p_norm double, p_route long",
    )
    kern = _kern_topk(corpus, probes, 1).collect()  # take = k+1 = 2
    jvm = _jvm_topk(corpus, probes, 1).collect()
    assert _nan_safe(kern) == _nan_safe(jvm)
    got = {(r["vec_id"], "NaN" if math.isnan(r["cosine"]) else "f")
           for r in kern}
    assert (1, "NaN") in got  # NaN row occupied a top slot


def test_bucketed_topk_np_member_cap_raises(spark):
    corpus = _corpus(spark, route_mod=2)
    probes = _probes(corpus)
    with pytest.raises(Exception, match="max_members"):
        _kern_topk(corpus, probes, K, max_members=10).collect()


def test_kernels_raise_on_cross_stack_dim_mismatch(spark):
    """Internally-consistent 2-dim probes against 4-dim corpus: each
    side stacks fine on its own, so only the cross-stack check can
    catch it — the JVM zip_with would silently NULL the pairs, the
    bare numpy indexing would either truncate (narrower) or throw an
    opaque IndexError (wider). r10 advice: raise TARGETED errors."""
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.25], 2.0, 0) for i in range(1, 6)],
        "vec_id long, embedding array<double>, v_norm double, bucket long",
    )
    probes = spark.createDataFrame(
        [(100, [1.0, 2.0], 2.2, 0)],
        "probe_id long, p_emb array<double>, p_norm double, p_route long",
    )
    with pytest.raises(Exception, match="dims"):
        _kern_topk(corpus, probes, K).collect()
    with pytest.raises(Exception, match="dims"):
        routed_cosine_np(
            corpus.withColumnRenamed("bucket", "route"),
            probes.collect(),
            route_col="route",
        ).collect()


def test_minhash_signature_np_matches_jvm(spark):
    """The streaming gate's Arrow signature kernel must emit the
    IDENTICAL (doc_id, h0..h63, __shset) rows as the JVM
    64-min-aggregate it replaces (invariant 22's JVM-twin pin): same
    md5 base hashes, int64-exact permutation algebra, same
    sorted-distinct hash set."""
    from rstreams_spark.functions.dedup import (
        NUM_PERM, doc_shingles, minhash_signature, minhash_signature_np,
    )

    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "text")
    sh = doc_shingles(docs, "text", 2)
    jvm = sorted(
        minhash_signature(sh, NUM_PERM, with_hash_set=True).collect()
    )
    kern = sorted(minhash_signature_np(sh, NUM_PERM).collect())
    assert len(jvm) > 0
    assert jvm == kern


def _qrep_oracle_rows(sf_dir):
    """quality_repetition's DuckDB twin over ``sf_dir``'s documents."""
    from rstreams_spark.queries import ORACLES

    with duckdb.connect() as con:
        con.sql(
            f"create view documents as select * from '{sf_dir}/documents.parquet'"
        )
        return con.sql(ORACLES["quality_repetition"]).df()


def _assert_qrep_matches_oracle(spark, sf_dir):
    from rstreams_spark.queries.textq import quality_repetition

    got = quality_repetition(spark, sf_dir).toPandas()
    want = _qrep_oracle_rows(sf_dir)
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) > 0
    assert canon(got).equals(canon(want))


def test_quality_repetition_matches_oracle(spark):
    """quality_repetition, whose integer stats come from the Arrow
    kernel ``_qrep_stats_np``, returns its DuckDB twin's rows exactly:
    same token equality classes, same gram char masses, same
    fractions and keep flags."""
    _assert_qrep_matches_oracle(spark, SF_SMOKE)


def test_qrep_stats_np_edge_docs(spark, tmp_path):
    """Single-token (no 2-grams), two-token (no 3-grams), repeated
    single-token runs, and multi-space/empty-ish docs — the boundary
    cases of the gram counts — through the query against its oracle,
    plus literal kernel stats per doc."""
    from rstreams_spark.queries.textq import _qrep_staged, _qrep_stats_np

    docs = [
        (1, "one"),
        (2, "two tokens"),
        (3, "a a a a a a"),
        (4, "x y x y x y x y"),
        (5, "unique words only here now"),
        (6, "a  b   a  b"),
    ]
    with duckdb.connect() as con:
        con.execute("create table documents(doc_id bigint, text varchar)")
        con.executemany("insert into documents values (?, ?)", docs)
        con.sql(
            f"copy documents to '{tmp_path}/documents.parquet' (format parquet)"
        )
    _assert_qrep_matches_oracle(spark, str(tmp_path))

    kern = _qrep_stats_np(_qrep_staged(spark, str(tmp_path))).collect()
    by_id = {r["doc_id"]: r for r in kern}
    assert set(by_id) == {1, 2, 3, 4, 5, 6}
    assert by_id[1]["top2_chars"] == 0 and by_id[1]["dup3_chars"] == 0
    assert by_id[2]["dup3_chars"] == 0
    assert by_id[3]["w_distinct"] == 1
    assert by_id[5]["dup3_chars"] == 0


def test_ivf_assign_np_raises_on_dim_mismatch(spark):
    """A batch narrower than the centroid table silently argmin'd
    over a truncated centroid prefix before the r10-advice guard."""
    from rstreams_spark.queries.dedupq import _assign_np_rows

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    crows = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0])]
    with pytest.raises(Exception, match="dims"):
        _assign_np_rows(vecs, crows).collect()
