"""Dedup / similarity / multimodal queries (SURVEY §2 #24-30).

Spark side uses rstreams_spark.functions.dedup/similarity (pure
DataFrame plans). Oracles replicate every hash and every FP operation
order so values match bit-for-bit (dot products are sequential folds
in both engines; minhash permutations are md5-derived in both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import multimodal
from ..functions.videohdr import AVI_FIXED_BYTES, MP4_FIXED_BYTES
from ..functions.dedup import (
    BANDS, LSH_BUCKET_CAP, NUM_PERM, P61, connected_components_hybrid,
    doc_shingles, lsh_band_pairs, lsh_band_rows, minhash_signature,
    perm_coeffs, simhash32, winnowing_fingerprints,
)
from ..functions.core import ensure_fanout_parallelism
from ..functions.similarity import (
    brute_topk, cosine_pairs, cosine_pairs_np, hyperplanes, l2_norm,
    rankable_norm,
    lsh_bucket, stack_f64,
)
from ..session import oha_session
from ._util import SQL_TOKS, sql_h64, sql_msum, sql_mtot, t

# NUM_PERM/BANDS/LSH_BUCKET_CAP moved to functions/dedup.py in r9
# (the public LSH tuning surface, with the collision-probability
# curve documented there); re-imported above so every existing
# consumer of queries.dedupq.NUM_PERM keeps working.
JACCARD_TAU = 0.01
COSINE_TAU = 0.4
ANN_K = 5
LSH_TOPK = 3

_TOKS = SQL_TOKS.format(c="text")


def _sql_shingles(n: int) -> str:
    """DuckDB CTE text: (doc_id, shingle) distinct word n-grams."""
    if n == 1:
        gram = "toks"
    else:
        parts = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
        gram = f"[{parts} for i in range(1, len(toks) - {n - 2})]"
    return f"""
      toks as (select doc_id, {_TOKS} as toks from documents),
      sh as (select doc_id, unnest(list_distinct({gram})) as shingle from toks)
    """


NGRAM_DF_CAP = 64  # max docs a shingle may appear in (see docstring)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over a document-frequency-capped shingle
    universe.

    The shingle⨝shingle self-join is quadratic in per-shingle doc
    count (a shingle hitting m docs emits m²/2 pairs), so shingles in
    more than ``NGRAM_DF_CAP`` docs are dropped FIRST — the standard
    near-dup defense against boilerplate n-grams, and the bound that
    keeps this join linear-ish at corpus scale. Jaccard is then the
    true Jaccard over the capped universe (sizes counted post-cap,
    identically in the oracle). At the driver SFs the cap drops
    nothing (max DF: 7 at sf0.01, 25 at sf0.1), so values equal the
    uncapped round-1 results. Size tables join by shuffle — they are
    doc-count-sized, never a static broadcast.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; shingles with
    document frequency > NGRAM_DF_CAP are dropped on BOTH engines
    before pairing (boilerplate defense)
    """
    docs = t(spark, sf_dir, "documents")
    sh = doc_shingles(docs, "text", 3)
    # one shuffle on shingle; the self-join below reuses the same key
    wdf = Window.partitionBy("shingle")
    sh = (
        sh.withColumn("__df", F.count("*").over(wdf))
        .where(F.col("__df") <= NGRAM_DF_CAP)
        .drop("__df")
        # four consumers (both self-join sides + both size lookups);
        # without materialization each re-scans and re-explodes the
        # corpus (4 FileScans — same pruning-defeats-reuse failure as
        # minhash_lsh_topk, see PERF.md round-3 #1). Lazy
        # localCheckpoint, not persist(): checkpoint blocks are
        # per-invocation and GC-cleaned, while CacheManager entries
        # pin memory for the whole session and silently serve later
        # invocations (which would fake re-run timings).
        .localCheckpoint(False)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count("*").alias("inter"))
    )
    n1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2"))
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (
        inter.join(n1, "id1")
        .join(n2, "id2")
        .where(jac >= JACCARD_TAU)
        .select("id1", "id2", jac.alias("jaccard"))
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs. Cap semantics (pinned by
    tests/test_skew_corpus.py): a band bucket larger than
    LSH_BUCKET_CAP is DROPPED, not expanded — an m-member bucket
    emits m²/2 pairs, and buckets that hot are boilerplate/templated
    content by construction; byte-identical copies are exact dedup's
    job (dedup_exact flags all of them on the same corpus).

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; band buckets
    larger than LSH_BUCKET_CAP are DROPPED, not expanded (boilerplate
    defense; byte-identical copies are dedup_exact's job)
    """
    # small-buffer collect aggs (the 64-min + hash-set signature
    # rows, ~1 KB/key): build on the OHA-raised sibling session so
    # the signature stage never pays the 128-key sort fallback
    # (session.py::oha_session — scoped there, NOT session-global,
    # so large-buffer aggs keep the safe default; r8 ADVICE)
    spark = oha_session(spark)
    docs = t(spark, sf_dir, "documents")
    sh = doc_shingles(docs, "text", 2)
    sig = minhash_signature(sh, NUM_PERM)
    return lsh_band_pairs(sig, NUM_PERM, BANDS, bucket_cap=LSH_BUCKET_CAP)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup pairs → dup groups: connected components over the minhash
    LSH candidate pairs, labeling every involved doc with the min
    doc_id of its component (the canonical survivor). This is the
    step that turns pairwise dedup output into 'keep one per group'
    at corpus scale. Oracle: DuckDB recursive CTE computing min
    reachable node — identical labeling by construction.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; cluster labels
    are min-reachable-id — engine-identical by construction
    """
    # small-buffer collect aggs (the 64-min + hash-set signature
    # rows, ~1 KB/key): build on the OHA-raised sibling session so
    # the signature stage never pays the 128-key sort fallback
    # (session.py::oha_session — scoped there, NOT session-global,
    # so large-buffer aggs keep the safe default; r8 ADVICE)
    spark = oha_session(spark)
    docs = t(spark, sf_dir, "documents")
    sh = doc_shingles(docs, "text", 2)
    pairs = lsh_band_pairs(
        minhash_signature(sh, NUM_PERM), NUM_PERM, BANDS,
        bucket_cap=LSH_BUCKET_CAP,
    )
    # hybrid CC: min-label rounds first (near-clique dup graphs
    # converge in 2-4 one-shuffle rounds — star CC's half-round +
    # distinct machinery is pure fixed overhead there), star CC on
    # the label-contracted quotient only when min-label stalls
    # (organic diameter>20 graphs, where star is O(log²) rounds).
    # Equality of all three variants pinned by
    # test_star_cc_equals_min_label_* / test_hybrid_cc_*.
    cc = connected_components_hybrid(pairs)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("cluster_id")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-one: for every dup cluster (minhash-LSH
    pairs → hybrid CC) keep the member with the highest
    ``text_quality`` score (ties → smallest doc_id) — the realistic
    curation composite, where plain ``dedup_clusters`` keep-one keeps
    the min id. quality_score is a per-row double with identical op
    order in both engines (already hash-verified standalone as
    text_quality), so the argmax is engine-identical. One extra
    shuffle on cluster_id over the cluster table (≪ corpus).

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; keeper =
    argmax(quality_score) with ties to the smaller doc_id, computed on
    identical per-row doubles
    """
    from .textq import text_quality

    clusters = dedup_clusters(spark, sf_dir)
    q = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    j = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id")
    wr = w.orderBy(F.col("quality_score").desc(), F.col("doc_id"))
    return (
        j.withColumn("__rn", F.row_number().over(wr))
        .withColumn("n_members", F.count("*").over(w))
        .where(F.col("__rn") == 1)
        .select("cluster_id", "doc_id", "quality_score", "n_members")
    )


WINNOW_K, WINNOW_W = 4, 4
WINNOW_DF_CAP = 64  # max docs a fingerprint may appear in (cf. NGRAM_DF_CAP)
WINNOW_MIN_SHARED = 2


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer et
    al. 2003): distinct per-document window-min k-gram hashes — the
    local fingerprinting primitive behind MOSS-style overlap
    detection. See functions/dedup.py::winnowing_fingerprints for the
    guarantee and scale shape (one per-document window shuffle).

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; window size and
    gram length are fixed knobs; fingerprints are the portable hash
    """
    docs = t(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "text", WINNOW_K, WINNOW_W)


def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: documents
    sharing ≥ 2 selected hashes — i.e. at least two independent
    common token runs of length ≥ w+k-1 (or one long run) — are
    flagged, the fingerprint-level analog of dedup_ngram_jaccard.

    Scale shape: the fingerprint frame is document-linear; a
    window-count DF cap (≤ 64 docs per fingerprint, same discipline
    as the shingle cap) kills boilerplate mega-groups before the
    self-join, so candidate pairs stay near-linear; the capped frame
    materializes once (lazy localCheckpoint — it feeds both sides of
    the self-join, invariant 9).

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; pairs share >= 1
    winnowing fingerprint; bucket caps bound the expansion
    """
    docs = t(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs, "text", WINNOW_K, WINNOW_W)
    kept = (
        fps.withColumn(
            "__df", F.count("*").over(Window.partitionBy("fp"))
        )
        .where(F.col("__df") <= WINNOW_DF_CAP)
        .select("doc_id", "fp")
        .localCheckpoint(eager=False)
    )
    a = kept.select(F.col("doc_id").alias("id1"), "fp")
    b = kept.select(F.col("doc_id").alias("id2"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair
    """
    docs = t(spark, sf_dir, "documents")
    return simhash32(doc_shingles(docs, "text", 2))


# exact within-bucket pair joins are quadratic in bucket size (the
# SemDeDup inner loop); the in-plan guard fails loudly past this
# bound — the scale answer is finer cells, not a bigger cap
SEMANTIC_BUCKET_CAP = 4096
# semantic_clusters sizes its k-means index from the corpus: cells =
# clamp(ceil(n / TARGET), IVF_CELLS, CELL_MAX). Cells ∝ n keeps the
# within-cell pair join linear (n · TARGET/2 pairs); the MAX bounds
# the one-row centroid broadcast (4096 × 64 dims × 8 B ≈ 2 MB) —
# beyond ~CELL_MAX · BUCKET_CAP vectors the design is a two-level
# coarse→fine assignment (see ivf_fit docstring)
SEMANTIC_CELL_TARGET = 128
SEMANTIC_CELL_MAX = 4096


def semantic_cell_count(n: int) -> int:
    """Identical integer algebra to the oracle's LIMIT subquery."""
    return max(
        IVF_CELLS,
        min(
            SEMANTIC_CELL_MAX,
            (n + SEMANTIC_CELL_TARGET - 1) // SEMANTIC_CELL_TARGET,
        ),
    )


def embedding_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a label bucket.
    NULL/zero-norm vectors are dropped at entry on both engines
    (oracle `nz` CTE): cosine is undefined for them and the 0/0
    would raise under ANSI (zero_norm probe class).

    Contract: vec_id is the vector identity (must be unique — the
    fit/rank machinery is multiplicity-stable only on a set; dup_rows
    probe); NULL and zero-norm embeddings are excluded at entry
    (cosine undefined for them); pairs are bucketed by label (within-
    bucket exact compare, capped)
    """
    vecs = t(spark, sf_dir, "embeddings").where(
        rankable_norm(l2_norm(F.col("embedding")))
    )
    pairs = cosine_pairs(
        vecs, COSINE_TAU, bucket_col="label", max_bucket=SEMANTIC_BUCKET_CAP
    )
    return pairs.select("id1", "id2", "cosine")


def semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"). Precondition: unique vec_ids — the iterative
    fit is multiplicity-stable only on a set of vectors (duplicate
    rows are upstream corruption; dedup_exact is the remedy;
    dup_rows probe class, r7). Pipeline: assign every embedding to its k-means cell via
    the HIERARCHICAL index (``_ivf_fit_rows(..., two_level=True)`` /
    ``_coarse_rows_py`` / ``_assign2_np_rows`` — same
    deterministic seeds and bounded means as the ANN path's flat
    ``ivf_fit``, but every corpus pass routes through a ⌈√cells⌉
    coarse tier, and the assignment is the greedy two-step argmin,
    not the exact nearest cell), find embedding-cosine near-dup
    pairs (cos ≥ τ) WITHIN each cell, connected components over the
    pair graph, keep-one-per-cluster labeling with the min vec_id as
    the canonical survivor. The embedding-space twin of
    ``dedup_clusters``; same hybrid CC machinery, same
    recursive-CTE oracle construction.

    Scale shape: this is the real SemDeDup recipe end-to-end — the
    pair join distributes on the learned Voronoi cell (never
    all-pairs, never a fixture column), norms are hoisted above the
    join (one fold per pair), and the in-plan bucket-size guard
    (``SEMANTIC_BUCKET_CAP``) fails loudly if a cell outgrows the
    exact inner loop — the 100 TB knob is IVF_CELLS (more/finer
    cells keep members ≤ the cap; the centroid fit is one bounded
    corpus pass per Lloyd round regardless of cell count). The
    pair stage is the grouped numpy kernel ``cosine_pairs_np`` (one
    shuffle on cell, dim-sequential dots — bit-equal to the JVM/
    oracle folds); the assignment is the Arrow kernel
    ``_assign2_np_rows`` (the oracle's two-step argmin, cell for
    cell). CC is the per-round-checkpointed hybrid
    (invariants 10/11).

    Contract: vec_id is the vector identity (must be unique — the
    fit/rank machinery is multiplicity-stable only on a set; dup_rows
    probe); NULL and zero-norm embeddings are excluded at entry
    (cosine undefined for them); a cell outgrowing SEMANTIC_BUCKET_CAP
    fails loudly (finer cells, not bigger caps)
    """
    emb_all = t(spark, sf_dir, "embeddings")
    # NULL vectors excluded by contract (same as ivf_topk; mirrored in
    # the oracle's hashed/norms CTEs): they can never pair (NULL
    # cosine) and would crash the fit kernels. The filtered corpus
    # feeds 4+ consumers (seed pass, each Lloyd round, the final
    # assignment) — invariant 9: materialize once via lazy
    # localCheckpoint instead of re-scanning parquet per pass
    emb = (
        # conditional fan-out (no-op on real-lake scans): fit passes,
        # Arrow assign and the pair kernel are per-row f64 work that
        # otherwise runs at a few-file corpus's scan parallelism
        ensure_fanout_parallelism(emb_all, min_bytes=EMB_FANOUT_MIN_BYTES)
        .where(F.col("embedding").isNotNull())
        # zero-norm vectors excluded with the NULLs (same contract as
        # ivf_topk / the oracle's _SQL_NZ): no defined cosine, and the
        # pair kernel's 0/0 would otherwise raise — the filter sits
        # above the fit so centroids agree with the oracle twin
        .where(rankable_norm(l2_norm(F.col("embedding"))))
        .localCheckpoint(eager=False)
    )
    # cells ∝ corpus size keeps within-cell pair work LINEAR in n
    # (pairs ≈ n · target/2, not n²/cells): the count() is a parquet
    # footer metadata read, not a data scan. The fit and assignment
    # route through the ⌈√cells⌉ coarse tier
    # so per-vector distance work is O(√cells), not O(cells) — the
    # r5 probe showed the flat fit's O(n·cells) passes dominating
    # the decade step once cells grew with n.
    # cell sizing uses the UNFILTERED footer-metadata count (a
    # non-null-filtered count would scan the embedding column at
    # 100 TB just to size the index; NULL rows inflating the cell
    # count is harmless) — the oracle's LIMIT subquery mirrors this
    n = emb_all.count()
    if n == 0 or emb.isEmpty():
        # an empty (or all-NULL) snapshot is a valid input with a
        # well-defined answer (no clusters) — short-circuit before the
        # fit, whose zero-centroid index would otherwise crash the
        # Arrow assign kernel. Schema matches the non-empty path and
        # the oracle's natural empty result. isEmpty is a limit(1)
        # probe job, not a scan.
        return emb.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("vec_id").cast("long").alias("cluster_id"),
        ).limit(0)
    cells = semantic_cell_count(n)
    # driver-row fit + rows-kernel assignment: the whole index stage
    # is IVF_LLOYD+1 corpus jobs and zero small-table jobs (r8); the
    # oracle's _sql_ivf_assign2 is the parity twin (per-vector cells
    # pinned in tests/test_skew_similarity.py)
    cents_rows = _ivf_fit_rows(emb, cells, True)
    crows, grows = _coarse_rows_py(cents_rows, _n_coarse(cells))
    vecs = _assign2_np_rows(emb.select("vec_id", "embedding"), crows, grows)
    pairs = cosine_pairs_np(
        vecs, COSINE_TAU, bucket_col="cell", max_bucket=SEMANTIC_BUCKET_CAP
    )
    cc = connected_components_hybrid(pairs.select("id1", "id2"))
    return cc.select(F.col("node").alias("vec_id"), F.col("cluster_id"))


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force baseline. Cosines are the same sequential
    JVM folds as the oracle's list_reduce — bit-identical doubles, no
    per-row rounding (CLAUDE.md invariant #2).

    Contract: vec_id is the vector identity (must be unique — the
    fit/rank machinery is multiplicity-stable only on a set; dup_rows
    probe); NULL and zero-norm embeddings are excluded at entry
    (cosine undefined for them); probes are the vec_id % 50 subset and
    must stay user-query-sized (in-plan cap)
    """
    vecs = t(spark, sf_dir, "embeddings")
    probes = vecs.where(F.col("vec_id") % 50 == 0)
    # conditional fan-out of the CORPUS side only (no-op on real-lake
    # scans): the corpus×probe fold dots otherwise run at a few-file
    # corpus's scan parallelism (r9 scan seam). The probe branch stays
    # on the plain scan — its %-filter pushes down, and fanning it out
    # would re-run the corpus repartition per branch (invariant 9)
    out = brute_topk(
        ensure_fanout_parallelism(vecs, min_bytes=EMB_FANOUT_MIN_BYTES),
        probes, ANN_K,
    )
    return out.select(
        "probe_id", "vec_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


LSH_BITS = 6
_PLANES = hyperplanes(LSH_BITS, 64)
# loud per-bucket member bound for the FIXED-width sign-LSH shuffle
# path: with constant LSH_BITS the 2^bits buckets grow linearly with
# the corpus, so bucketed_topk_np's member frame (O(members × dims))
# would grow unbounded per task — past this the answer is more bits
# (or IVF's corpus-proportional cells), and the kernel must say so
# rather than OOM (r10 advice). 1.5M × 64-dim float64 ≈ 0.77 GB/task.
LSH_SHUFFLE_BUCKET_CAP = 1_500_000


def _ann_lsh_impl(
    spark: SparkSession, sf_dir: str, probe_mod: int, shuffle: bool
) -> DataFrame:
    """Shared LSH-bucketed ANN body behind both physical probe-join
    strategies. The *values* are identical either way (same folds,
    same rank ties); only the join's physical shape differs:

    - ``shuffle=False`` (``ann_lsh_topk``): the capped probe frame
      (``cap_probes``'s assert_true guard fires inside the bounded
      collect) rides as driver rows into the Arrow scoring kernel
      (``routed_cosine_np`` — one corpus pass, zero exchanges,
      bit-identical cosines to the fold-per-pair broadcast join it
      replaced in r10) — the user-query-sized probe contract
      (SURVEY §6).
    - ``shuffle=True`` (``ann_lsh_topk_shuffle``): the documented
      corpus-scale fallback — NO cap, NO broadcast; both sides
      shuffle on the bucket key (``shuffle_hash`` hint, probe side
      builds the hash table). This is the physical plan a
      corpus-vs-corpus probe set needs at 100 TB: partition-local
      hash joins on the LSH bucket, never a multi-GB broadcast."""
    from pyspark.sql.window import Window as W

    from ..functions.similarity import (
        MAX_PROBES, bucketed_topk_np, cap_probes, l2_norm, rankable_norm,
        routed_cosine_np,
    )

    # conditional fan-out (no-op on real-lake scans): the per-row
    # plane dots + norm folds otherwise run at a few-file corpus's
    # 1-2-task scan parallelism (r9 scan seam)
    vecs = ensure_fanout_parallelism(
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        min_bytes=EMB_FANOUT_MIN_BYTES,
    ).withColumn(
        "bucket", lsh_bucket(F.col("embedding"), _PLANES)
    ).withColumn("v_norm", l2_norm(F.col("embedding")))
    # zero-norm (and NULL) vectors are excluded at entry on BOTH
    # engines — cosine is undefined for them, and a 0/0 division
    # would raise (Spark ANSI) / NULL-rank (DuckDB). Same contract
    # as the library lsh_topk, so lib==catalog row identity holds
    # on corpora that contain a zero vector (zero_norm probe class).
    vecs = vecs.where(rankable_norm(F.col("v_norm")))
    # vecs feeds BOTH join sides (corpus + the probe derivation):
    # per invariant 9 the scan + bucket/norm folds would otherwise
    # plan twice — lazy localCheckpoint materializes them once
    vecs = vecs.localCheckpoint(eager=False)
    probes = vecs.where(F.col("vec_id") % probe_mod == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("bucket").alias("p_bucket"),
        F.col("v_norm").alias("p_norm"),
    )
    if shuffle:
        # bucket-grouped Arrow kernel (r10): both sides shuffle once
        # on the LSH bucket, the bipartite block computes in-kernel
        # (bit-identical cosines to the per-pair fold), and only
        # per-(probe, bucket) top-(k+1) rows reach the rank window
        scored = bucketed_topk_np(
            vecs.select("bucket", "vec_id", "embedding", "v_norm"),
            probes.select(
                F.col("p_bucket").alias("bucket"), "probe_id",
                F.col("p_emb").alias("embedding"),
                F.col("p_norm").alias("v_norm"),
            ),
            ANN_K,
            route_col="bucket",
            max_members=LSH_SHUFFLE_BUCKET_CAP,
        ).withColumnRenamed("cosine", "cos")
    else:
        # user-query-sized probe regime (r10, same shape as ivf_topk):
        # the capped probe frame rides as bounded driver rows into the
        # Arrow scoring kernel — cap_probes' assert_true guard
        # executes inside this bounded collect, so corpus-scaling
        # probe sets still fail loudly; cosines are bit-identical to
        # the fold-per-pair broadcast join this replaces
        probes = cap_probes(probes, MAX_PROBES, "probe_id", "ann_lsh_topk")
        prows = probes.select(
            "probe_id", "p_emb", "p_norm", F.col("p_bucket").alias("p_route")
        ).collect()
        scored = (
            routed_cosine_np(vecs, prows, route_col="bucket")
            .where(F.col("vec_id") != F.col("probe_id"))
            .withColumnRenamed("cosine", "cos")
        )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "probe_id", "vec_id",
            F.col("cos").alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: the approximate scale path. Probes only
    compare against corpus vectors in their own bucket — the
    candidate set shrinks ~2^bits×; recall trades against bits.

    The probe frame is broadcast, so it carries ``cap_probes``'s
    in-plan assert_true guard (same defense as ``brute_topk``):
    probes are user-query-sized by contract, and a corpus-derived
    probe set that grows past the cap fails loudly instead of
    shipping a multi-GB broadcast at 100× scale. Probe sets past the
    cap belong on ``ann_lsh_topk_shuffle``.

    Contract: vec_id is the vector identity (must be unique — the
    fit/rank machinery is multiplicity-stable only on a set; dup_rows
    probe); NULL and zero-norm embeddings are excluded at entry
    (cosine undefined for them); probe sets past MAX_PROBES fail
    loudly (broadcast contract) — corpus-scale probes belong on the
    _shuffle variant
    """
    return _ann_lsh_impl(spark, sf_dir, probe_mod=50, shuffle=False)


def ann_lsh_topk_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale probe fallback `cap_probes` points at: same
    LSH-bucketed ANN values, but the probe side rides a SHUFFLED hash
    join on the bucket key instead of a broadcast — uncapped, so a
    probe set as large as the corpus still plans as partition-local
    hash joins (the 100 TB shape for corpus-vs-corpus search). The
    catalog entry uses a denser probe set (vec_id % 20) than the
    broadcast entry both to exercise a distinct result and to mark
    the intended regime; tests/test_probe_shuffle.py drives a
    full-corpus probe set (probe_mod=1) through BOTH paths and
    asserts the broadcast one fails loudly while this one answers.

    Contract: vec_id is the vector identity (must be unique — the
    fit/rank machinery is multiplicity-stable only on a set; dup_rows
    probe); NULL and zero-norm embeddings are excluded at entry
    (cosine undefined for them); uncapped probe side — the corpus-vs-
    corpus physical shape
    """
    return _ann_lsh_impl(spark, sf_dir, probe_mod=20, shuffle=True)


# fan-out pays for itself only past ~a couple MiB of scanned input
# (below it the 32-way shuffle + worker spin-up exceeds the kernel
# work it parallelizes — r10 A/B at sf0.1); real lakes exceed this
# unconditionally, so the knob only shapes toy-corpus runs
EMB_FANOUT_MIN_BYTES = 3 * 2**19  # 1.5 MiB

IVF_CELLS = 16
IVF_NPROBE = 2


def _l2sq(vec: Column, cent: Column) -> Column:
    """Squared L2 distance as a sequential fold — identical op order
    to the DuckDB twin (list_reduce over (x-y)*(x-y) terms; the 0.0
    init is exact because squares are non-negative)."""
    return F.aggregate(
        F.zip_with(
            vec, cent,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


IVF_LLOYD = 2       # deterministic sampled-Lloyd refinement rounds
IVF_MEAN_CAP = 512  # per-cell member sample for the mean (sorted by id)


def _lloyd_mean(members: DataFrame) -> DataFrame:
    """Per-cell bounded-member mean as ONE traversal of the sorted
    member slice: the fold carries a dims-wide accumulator array and
    ``zip_with``-adds each member's embedding into it, so the member
    list is walked once instead of once PER DIMENSION (the r5 shape
    — 64 separate ``aggregate`` folds each re-traversing ``__sl``
    through interpreted ``element_at`` — was the dominant cost of
    the Lloyd rounds; measured ~3× faster at sf1). FP parity is
    exact: for every dim the adds happen in the identical member
    order with the identical 0.0 init, and the division by the
    member count is unchanged — same doubles as the oracle's per-dim
    list_reduce, no oracle change needed (CLAUDE.md invariant 2)."""
    dims = F.size(F.col("__sl")[0]["embedding"])
    sums = F.aggregate(
        F.col("__sl"),
        F.array_repeat(F.lit(0.0), dims),
        lambda acc, m: F.zip_with(
            acc, m["embedding"], lambda a, x: a + x.cast("double")
        ),
    )
    return members.select(
        "cell",
        F.transform(sums, lambda s: s / F.size(F.col("__sl"))).alias(
            "centroid"
        ),
    )


def ivf_fit(emb: DataFrame, cells: int = IVF_CELLS) -> DataFrame:
    """Deterministic, oracle-reproducible IVF centroids (cell,
    centroid): seeds = the ``cells`` corpus vectors with the smallest
    portable hash of their id (md5-derived), refined by IVF_LLOYD
    sampled Lloyd rounds — each round reassigns cells and recomputes
    every centroid as the sequential-fold mean of its first
    IVF_MEAN_CAP members sorted by vec_id.

    Scale shape (r8): the fit is DRIVER-ORCHESTRATED — the centroid
    table (≤ SEMANTIC_CELL_MAX rows by the clamp, the same bound that
    already ships it in the assign kernels' closures) lives as plain
    Python rows between rounds, so each Lloyd round launches exactly
    ONE Spark job (the bounded corpus pass: Arrow assign →
    groupBy → fold-mean → cells-row collect). The r7 shape paid 2-3
    extra jobs per round in eager-checkpoint scans + collects of
    cells-row frames — pure orchestration latency (PERF.md). The
    Lloyd mean stays the JVM fold bounded by IVF_MEAN_CAP; assignment
    stays the Arrow kernel (bit-equal to the oracle's argmin — see
    its parity note). Beyond a few thousand cells the honest design
    is the two-level coarse→fine assignment (``_ivf_fit_rows`` with
    ``two_level``, as ``semantic_clusters`` runs it) — same fold, one
    extra tier.
    """
    return _cents_df(emb.sparkSession, _ivf_fit_rows(emb, cells, False))


def _hash64_py(s: str, salt: int = 0) -> int:
    """Driver-side twin of ``functions.text.hash64`` (first 15 hex
    chars of md5('<salt>:'||s) parsed base-16) — used only to order
    fit seeds on the driver; parity pinned by test_skew_similarity."""
    import hashlib

    return int(hashlib.md5(f"{salt}:{s}".encode("utf-8")).hexdigest()[:15], 16)


def _cents_df(spark: SparkSession, cents_rows: list) -> DataFrame:
    """(cell, centroid) rows → a LocalRelation frame for downstream
    consumers (the assign kernel, broadcast routing). Collecting it
    back is driver-local — no job."""
    return spark.createDataFrame(
        [(c, list(v)) for c, v in cents_rows],
        "cell int, centroid array<double>",
    )


def _ivf_fit_rows(emb: DataFrame, cells: int, two_level: bool) -> list:
    """The sampled-Lloyd fit loop, centroids as driver rows: seeds =
    the ``cells`` vectors with the smallest (portable-hash(vec_id),
    vec_id) — ONE TakeOrdered corpus job — then IVF_LLOYD rounds of
    assign → bounded mean → cells-row collect (one corpus job each).
    Identical doubles to the r7 frame-per-round form: the collect →
    createDataFrame/closure round-trip is exact (binary doubles), the
    mean fold and its member order are unchanged, and the coarse
    grouping (``_coarse_rows_py``) reproduces the oracle's
    row_number-over-(d2, g) argmin bit-for-bit (dim-sequential
    squared-L2, first-min tie-break)."""
    from ..functions.text import hash64

    rows = (
        emb.select("vec_id", "embedding")
        .withColumn("__h", hash64(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(cells)
        .collect()
    )
    rows.sort(key=lambda r: (r["__h"], r["vec_id"]))
    bad = [r["vec_id"] for r in rows if r["embedding"] is None][:10]
    if bad:  # same contract the assign/mean kernels enforce
        raise ValueError(
            f"ivf fit: NULL embedding(s) in the seed sample (vec_ids "
            f"{bad}) — the fit contract excludes NULL vectors; filter "
            "upstream (callers do: `embedding IS NOT NULL`)"
        )
    # the stack_f64 ragged guard, at seed time with SEED vec_ids: a
    # mixed-dimension corpus otherwise surfaces as numpy's opaque
    # "inhomogeneous shape" from the centroid stack inside the assign
    # kernel (the ragged_dims probe class caught exactly that, r10)
    from ..functions.similarity import stack_f64

    stack_f64(
        [r["embedding"] for r in rows], [r["vec_id"] for r in rows],
        "ivf fit (seed sample)",
    )
    cents_rows = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)
    ]
    for _ in range(IVF_LLOYD):
        if two_level:
            crows, grows = _coarse_rows_py(cents_rows, _n_coarse(cells))
            assigned = _assign2_np_rows(
                emb.select("vec_id", "embedding"), crows, grows
            )
        else:
            assigned = _assign_np_rows(
                emb.select("vec_id", "embedding"), cents_rows
            )
        members = assigned.groupBy("cell").agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("vec_id"), F.col("embedding")))
                ),
                1, IVF_MEAN_CAP,
            ).alias("__sl")
        )
        mean_rows = _lloyd_mean(members).collect()  # one corpus pass
        cents_rows = sorted(
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in mean_rows
        )
    return cents_rows


def _coarse_rows_py(cents_rows: list, n_coarse: int) -> tuple:
    """Two-level routing tier over a fitted centroid table, on the
    driver: coarse seeds = the ``n_coarse`` cells with the smallest
    (portable-hash(cell), cell), g = enumeration in that order (seeds
    only — no coarse Lloyd: the tier only ROUTES the fine argmin, and
    a seed cell lands in its own group, so no group is empty); each
    cell routes to its nearest coarse centroid by the dim-sequential
    squared-L2 fold with the first-min (d2, g) tie-break — the
    oracle's gseed/c2g CTEs (``_sql_ivf_lloyd2``). Returns
    (crows=(cell, centroid, g) sorted by cell, grows=(g, centroid)
    sorted by g). Pure driver work over ≤ SEMANTIC_CELL_MAX rows."""
    import numpy as np

    order = sorted(
        cents_rows, key=lambda t: (_hash64_py(str(t[0])), t[0])
    )[:n_coarse]
    grows = [(g, cent) for g, (_cell, cent) in enumerate(order)]
    C = np.array([c for _, c in cents_rows], dtype=np.float64)
    G = np.array([c for _, c in grows], dtype=np.float64)
    acc = np.zeros((C.shape[0], G.shape[0]))
    for d in range(C.shape[1]):
        diff = C[:, d, None] - G[None, :, d]
        acc += diff * diff
    g_idx = np.argmin(acc, axis=1)  # first min == ORDER BY d2, g
    crows = [
        (cell, cent, int(g_idx[i]))
        for i, (cell, cent) in enumerate(cents_rows)
    ]
    return crows, grows


def ivf_assign_np(
    vecs: DataFrame, cents: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Adds the argmin Voronoi ``cell`` column (single-level; the
    two-level variant is ``_assign2_np_rows``), vectorized inside
    ``mapInPandas``. Dim-sequential squared-L2 accumulation
    reproduces the oracle's list_reduce fold bit-for-bit, and numpy's
    first-min argmin over cell-sorted columns equals the oracle's
    row_number ORDER BY d2, cell tie-break (``_sql_ivf_assign`` is
    the parity twin, pinned per vector in
    tests/test_skew_similarity.py). The centroid table ships in the
    closure — bounded by the fit's cell count. NULL embeddings land
    in the SMALLEST cell id (all-NULL d2 degenerates to the cell
    tie-break; callers filter NULLs by contract, so the oracle never
    sees them); a bare float64 stack would instead crash on the
    ragged batch."""
    crows = [
        (int(r["cell"]), list(r["centroid"]))
        for r in cents.select("cell", "centroid").collect()
    ]
    crows.sort(key=lambda t: t[0])
    return _assign_np_rows(vecs, crows, vec_col)


def _assign_np_rows(
    vecs: DataFrame, crows: list, vec_col: str = "embedding"
) -> DataFrame:
    """``ivf_assign_np`` body over a PRE-COLLECTED ``(cell,
    centroid)`` list sorted by cell — the driver-orchestrated fit
    (``_ivf_fit_rows``) keeps the centroid table as plain rows
    between rounds, so the per-round assignment launches ZERO
    small-table jobs (no checkpoint scan, no collect)."""
    import numpy as np

    # targeted ragged guard for direct callers (the catalog's fit
    # already raised at seed time): a mixed-dim centroid list would
    # otherwise be numpy's opaque "inhomogeneous shape" error
    C = stack_f64([c for _, c in crows], [c for c, _ in crows],
                  "ivf assign (centroid table)")
    cell_ids = np.array([c for c, _ in crows], dtype=np.int64)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in vecs.schema.fields
    )
    schema += ", cell int"

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            valid = pdf[vec_col].notna().to_numpy()
            # NULL vec → all-NULL d2 → JVM/oracle tie-break on cell:
            # the smallest cell id (cell_ids is sorted)
            out = np.full(len(pdf), cell_ids[0], dtype=np.int64)
            if valid.any():
                V = stack_f64(
                    list(pdf.loc[valid, vec_col]),
                    pdf.loc[valid, "vec_id"].to_numpy(),
                    "ivf_assign_np",
                )
                if V.shape[1] != C.shape[1]:
                    # V and C stack independently — an internally
                    # consistent batch NARROWER than the centroid
                    # table would otherwise silently argmin over a
                    # truncated centroid prefix (r10 advice)
                    raise ValueError(
                        f"ivf_assign_np: vector dims {V.shape[1]} != "
                        f"centroid dims {C.shape[1]} — vectors must "
                        "match the fitted centroid dimensionality"
                    )
                acc = np.zeros((V.shape[0], C.shape[0]))
                for d in range(V.shape[1]):
                    diff = V[:, d, None] - C[None, :, d]
                    acc += diff * diff
                out[valid] = cell_ids[np.argmin(acc, axis=1)]
            pdf["cell"] = out.astype("int32")
            yield pdf

    return vecs.mapInPandas(run, schema)


def _n_coarse(cells: int) -> int:
    """Coarse-tier size ⌈√cells⌉ — identical float algebra to the
    oracle's ceil(sqrt(x)) (IEEE sqrt is exactly rounded, so both
    engines see the same double for any integer ≤ 2^52)."""
    import math

    return max(2, math.ceil(math.sqrt(cells)))


def _assign2_np_rows(
    vecs: DataFrame, crows: list, grows: list, vec_col: str = "embedding"
) -> DataFrame:
    """Two-level Voronoi assignment over PRE-COLLECTED index rows
    (``crows`` = (cell, centroid, g) sorted by cell, ``grows`` =
    (g, centroid) sorted by g, as ``_coarse_rows_py`` returns them):
    argmin over the ⌈√cells⌉ coarse centroids picks a group, then
    argmin over that group's cells — the standard hierarchical-index
    shape. Greedy, not exact: a vector near a group boundary may land
    in a neighboring group's cell, which SemDeDup tolerates (any
    deterministic partition works) and the oracle mirrors
    (``_sql_ivf_assign2``'s gpick/asg CTEs, the parity twin pinned
    per vector in tests/test_skew_similarity.py).

    - FP parity is EXACT: squared-L2 accumulates dim-sequentially
      with a 0.0 head, the oracle's list_reduce add order; float32
      inputs cast to float64 before the subtract on both sides.
    - Argmin ties break to the FIRST minimum over cell- and g-sorted
      columns ≡ ORDER BY d2, cell / d2, g.
    - The index ships in the CLOSURE (≤ SEMANTIC_CELL_MAX rows by
      the fit's clamp); the driver-orchestrated fit keeps both
      tables as plain rows between rounds, so a Lloyd round is ONE
      corpus job.
    - NULL embeddings land in the smallest g's smallest cell (all-
      NULL d2 degenerates to the id tie-breaks; callers filter NULLs
      by contract) instead of crashing the float64 stack."""
    import numpy as np

    C = np.array([c for _, c, _ in crows], dtype=np.float64)
    cell_ids = np.array([c for c, _, _ in crows], dtype=np.int64)
    cell_g = np.array([g for _, _, g in crows], dtype=np.int64)
    G = np.array([c for _, c in grows], dtype=np.float64)
    g_ids = np.array([g for g, _ in grows], dtype=np.int64)

    def _d2(V: "np.ndarray", M: "np.ndarray") -> "np.ndarray":
        # dim-sequential accumulation: for every (row, centroid)
        # pair the adds happen in dim order with a 0.0 head —
        # bit-identical to the DuckDB list_reduce
        acc = np.zeros((V.shape[0], M.shape[0]))
        for d in range(V.shape[1]):
            diff = V[:, d, None] - M[None, :, d]
            acc += diff * diff
        return acc

    out_fields = [f for f in vecs.schema.fields]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema += ", cell int"

    # NULL vec degenerate argmin: min g's group, then min cell in it
    # (cell_ids is cell-sorted, g_ids is g-sorted)
    null_cell = int(cell_ids[cell_g == g_ids[0]][0])

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            valid = pdf[vec_col].notna().to_numpy()
            out = np.full(len(pdf), null_cell, dtype=np.int64)
            if valid.any():
                V = stack_f64(
                    list(pdf.loc[valid, vec_col]),
                    pdf.loc[valid, "vec_id"].to_numpy(),
                    "ivf assign (two-level)",
                )
                dg = _d2(V, G)
                gstar = g_ids[np.argmin(dg, axis=1)]
                dc = _d2(V, C)
                # mask cells outside each row's coarse group, then
                # first-min over cell-sorted columns == (d2, cell) min
                dc[cell_g[None, :] != gstar[:, None]] = np.inf
                out[valid] = cell_ids[np.argmin(dc, axis=1)]
            pdf["cell"] = out.astype("int32")
            yield pdf

    return vecs.mapInPandas(run, schema)


def ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE,
    probe_mod: int = 50, shuffle: bool = False,
) -> DataFrame:
    """IVF-style ANN: an inverted index of IVF_CELLS Voronoi cells

    Precondition: vec_id is the vector's IDENTITY (unique). The
    iterative fit's seed/centroid selection is multiplicity-stable
    only under unique vec_ids — duplicate embedding rows are
    upstream corruption (dedup_exact is the remedy; dup_rows probe
    class, r7, documents the divergence).

    (deterministic sampled-Lloyd centroids — ``ivf_fit``; replaces
    the r3 MLlib KMeans whose trained centroids were oracle-opaque;
    recall at nprobe=2-3 is within a few points of the trained model
    — see the calibrated floors in tests/test_skew_similarity.py).

    FP parity (CLAUDE.md invariant #2): distances, cosines and means
    are sequential JVM folds in member order sorted by vec_id,
    bit-identical to the oracle's list_reduce; means divide the fold
    by the member count (exact same operands both engines); argmin
    ties break toward the smaller cell id in both engines.

    Probe routing broadcasts only the `cells`-row centroid table; the
    ROUTED probe frame carries ``cap_probes``'s in-plan assert_true
    guard and then (broadcast mode) rides as bounded driver rows into
    the Arrow scoring kernel (``routed_cosine_np`` — one corpus pass,
    zero exchanges; r10: replaces the fold-per-pair broadcast join
    that was ~19.6 s of the 23.1 s sf10 wall). The guard executes
    inside the bounded probe collect, so corpus-scaling probe sets
    still fail loudly instead of shipping unbounded driver rows at
    100× scale (SURVEY §6 probe contract).

    Contract: vec_id is the vector identity (must be unique — the
    fit/rank machinery is multiplicity-stable only on a set; dup_rows
    probe); NULL and zero-norm embeddings are excluded at entry
    (cosine undefined for them); probe sets past MAX_PROBES fail
    loudly — corpus-scale probes belong on the _shuffle variant
    """
    from ..functions.similarity import (
        MAX_PROBES, bucketed_topk_np, cap_probes, l2_norm, rankable_norm,
        routed_cosine_np,
    )

    # prune to the 3 live columns BEFORE the Arrow kernel —
    # mapInPandas materializes its declared input schema, so an
    # unpruned frame ships the unused label column through Python;
    # and vecs feeds two consumers (assignment + probes), so per
    # invariant 9 it materializes once via lazy localCheckpoint
    vecs = (
        # conditional fan-out (no-op on real-lake scans): the fit's
        # corpus passes, the Arrow assign and the scoring kernel are
        # all per-row f64 work that otherwise inherits a few-file
        # corpus's 1-2-task scan parallelism (the r9 scan seam; at
        # sf10 the whole query ran on 2 of 32 cores)
        ensure_fanout_parallelism(
            t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            min_bytes=EMB_FANOUT_MIN_BYTES,
        )
        # NULL and ZERO-NORM vectors are excluded from similarity
        # search by contract (mirrored in the oracle's _SQL_NZ):
        # NULLs can never rank (NULL cosine) and would crash the
        # numpy assign kernel / poison the fit; zero norms have no
        # defined cosine and the 0/0 would raise under ANSI. The
        # filter sits ABOVE the fit so seeds/centroids agree with
        # the oracle's filtered hashed/norms CTEs.
        .where(F.col("embedding").isNotNull())
        .withColumn("v_norm", l2_norm(F.col("embedding")))
        .where(rankable_norm(F.col("v_norm")))
        .localCheckpoint(eager=False)
    )
    # the fit's 3 corpus passes (seed TakeOrdered + IVF_LLOYD
    # assigns) read the materialized frame, not parquet re-scans;
    # the centroid table rides as driver rows (r8) so assignment and
    # cell routing launch no small-table jobs
    cents_rows = _ivf_fit_rows(vecs, IVF_CELLS, False)
    cents = _cents_df(spark, cents_rows)
    assigned = _assign_np_rows(vecs, cents_rows)
    probes = vecs.where(F.col("vec_id") % probe_mod == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("v_norm").alias("p_norm"),
    )
    if not shuffle:
        # probe_cells (broadcast below) inherits this bound: capping
        # the probe frame up front bounds both probe-sized broadcasts
        probes = cap_probes(probes, MAX_PROBES, "probe_id", "ivf_topk")
    wc = Window.partitionBy("probe_id").orderBy(
        F.col("__d2").asc(), F.col("cell").asc()
    )
    # cell routing broadcasts CENTS (a `cells`-row frame — always
    # tiny), never the probe frame: scale-safe in both modes
    probe_cells = (
        probes.crossJoin(F.broadcast(cents))
        .withColumn("__d2", _l2sq(F.col("p_emb"), F.col("centroid")))
        .withColumn("__cr", F.row_number().over(wc))
        .where(F.col("__cr") <= nprobe)
        .select("probe_id", "p_emb", "p_norm", F.col("cell").alias("p_cell"))
    )
    if shuffle:
        # corpus-scale probe fallback: both sides shuffle ONCE on the
        # cell key into the bucket-grouped Arrow kernel — no probe
        # broadcast, no probe collect, each vector crosses Arrow once
        # per routed cell (the r10 pair-frame kernel still shipped
        # both embeddings per pair — ~35 s of transfer at sf30's 58M
        # pairs; the interpreted fold before it was ~60 s), and only
        # per-(probe, cell) top-(k+1) candidates reach the rank
        scored = bucketed_topk_np(
            assigned,
            probe_cells.select(
                F.col("p_cell").alias("cell"), "probe_id",
                F.col("p_emb").alias("embedding"),
                F.col("p_norm").alias("v_norm"),
            ),
            ANN_K,
        )
    else:
        # user-query-sized probe regime: the routed probe frame
        # (≤ max_probes × nprobe rows — cap_probes' assert_true guard
        # executes inside this bounded collect job, so corpus-scaling
        # probe sets still FAIL LOUDLY here) rides as driver rows into
        # the Arrow scoring kernel — one corpus pass, zero exchanges,
        # bit-identical cosines to the fold-per-pair broadcast join it
        # replaces (r10: that interpreted fold was ~19.6 s of
        # ivf_topk's 23.1 s at sf10; see routed_cosine_np's contract)
        prows = probe_cells.select(
            "probe_id", F.col("p_emb"), F.col("p_norm"),
            F.col("p_cell").alias("p_route"),
        ).collect()
        scored = routed_cosine_np(
            assigned, prows, route_col="cell"
        ).where(F.col("vec_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("probe_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def ivf_topk_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale probe fallback for the IVF index: identical
    values to ``ivf_topk`` (same fit, same folds, same ranks), but
    the probe→cell routed frame joins the assigned corpus via a
    SHUFFLED hash join on the cell key — uncapped, no probe
    broadcast. Only the `cells`-row centroid table is ever broadcast.
    Denser probe set (vec_id % 20) marks the intended regime;
    tests/test_probe_shuffle.py proves the broadcast path fails
    loudly at full-corpus probes while this path answers.

    Contract: vec_id is the vector identity (must be unique — the
    fit/rank machinery is multiplicity-stable only on a set; dup_rows
    probe); NULL and zero-norm embeddings are excluded at entry
    (cosine undefined for them); uncapped probe side — the corpus-vs-
    corpus physical shape
    """
    return ivf_topk(spark, sf_dir, probe_mod=20, shuffle=True)


def minhash_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact jaccard verify → top-k neighbors/doc.

    The scale path for near-dup search: the n² compare shrinks to
    LSH candidates, verification touches only those pairs.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; neighbor ranks
    break ties on neighbor_id; zero-overlap LSH collisions are dropped
    on both engines
    """
    # small-buffer collect aggs (the 64-min + hash-set signature
    # rows, ~1 KB/key): build on the OHA-raised sibling session so
    # the signature stage never pays the 128-key sort fallback
    # (session.py::oha_session — scoped there, NOT session-global,
    # so large-buffer aggs keep the safe default; r8 ADVICE)
    spark = oha_session(spark)
    docs = t(spark, sf_dir, "documents")
    sh = doc_shingles(docs, "text", 2)
    # signature AND hash set from ONE groupBy over ONE shingle
    # explode (with_hash_set), then materialize: the frame feeds
    # THREE consumers (band pairs + both verify sides) whose pruned
    # aggregates don't canonicalize equal, so without materialization
    # Catalyst re-scans and re-shingles the corpus three times
    # (measured: 3 FileScans, 0 ReusedExchange). One computation
    # serves all branches — the single-node analog of materializing
    # the signature table, which is exactly what a petabyte minhash
    # pipeline does between its shingle and verify stages. Lazy
    # localCheckpoint, not persist(): see dedup_ngram_jaccard.
    sig = minhash_signature(sh, NUM_PERM, with_hash_set=True).localCheckpoint(False)
    cands = lsh_band_pairs(sig, NUM_PERM, BANDS, bucket_cap=LSH_BUCKET_CAP)
    # exact-verify ONLY candidate pairs — that is the point of LSH.
    # Per-doc shingle sets ride as arrays of 60-bit HASHES (8-byte
    # longs vs ~15-byte strings: 2.4× faster intersects, smaller
    # exchange); |A∩B| is an in-row array_intersect per candidate, so
    # verification work is O(candidates × doc-shingles), never the
    # shingle⨝shingle blowup (popular shingles make that join
    # quadratic in matching docs). Jaccard is defined over the hash
    # sets in BOTH engines, so parity is by construction.
    sets = sig.select("doc_id", F.col("__shset").alias("shset"))
    sets = sets.withColumn("n", F.size("shset").cast("long"))
    s1 = sets.select(
        F.col("doc_id").alias("id1"), F.col("shset").alias("s1"), F.col("n").alias("n1")
    )
    s2 = sets.select(
        F.col("doc_id").alias("id2"), F.col("shset").alias("s2"), F.col("n").alias("n2")
    )
    inter = F.size(F.array_intersect(F.col("s1"), F.col("s2")))
    verified = (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1", "id2",
            (inter / (F.col("n1") + F.col("n2") - inter)).alias("jac"),
        )
        # zero-overlap LSH collisions carry no similarity signal (and
        # the SQL oracle drops them the same way)
        .where(F.col("jac") > 0)
    )
    # symmetrize in ONE pass: a union of two selects over `verified`
    # would evaluate the whole candidate+verify lineage twice (Spark
    # only reuses exchanges for identical subplans) — explode both
    # orientations from the single stream instead
    sym = verified.select(
        F.explode(
            F.array(
                F.struct(F.col("id1").alias("doc_id"), F.col("id2").alias("neighbor_id")),
                F.struct(F.col("id2").alias("doc_id"), F.col("id1").alias("neighbor_id")),
            )
        ).alias("e"),
        "jac",
    ).select("e.doc_id", "e.neighbor_id", "jac")
    w = Window.partitionBy("doc_id").orderBy(F.col("jac").desc(), F.col("neighbor_id"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= LSH_TOPK)
        .select(
            "doc_id", "neighbor_id",
            F.col("jac").alias("jaccard"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


QUANT_MAX = 127  # symmetric int8


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/transfer
    op for ANN at corpus scale (4× smaller vectors, SIMD-friendly
    int dot products downstream). scale = max|v|/127; q_i =
    floor(v_i/scale + 0.5), which stays in [-127, 127] by
    construction. floor(x+0.5) (not round()) so both engines use the
    identical half-up rule — engine round() modes differ at .5
    boundaries (CLAUDE.md invariant #2). Output is exploded to
    scalar rows so the oracle hashes every element. Narrow
    projection, no shuffle: pipelines with the scan at any SF.

    Contract: NULL embeddings pass through as no rows for that vec_id;
    the all-zero vector quantizes to all-zero (amax=0 handled
    identically on both engines); a NaN/±Inf component raises the
    same loud domain error on both engines (nonfinite_vec probe
    class, r9) — Spark's unguarded floor(NaN) would silently emit
    q=0 while DuckDB's bigint cast throws, so the symmetric guard is
    the only honest contract (invariant 19's pattern)
    """
    vecs = t(spark, sf_dir, "embeddings")
    amax_raw = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    # amax is non-finite iff ANY component is (abs + NaN-greatest max
    # on both engines): one guarded compare covers every element.
    # NaN/Inf < Inf compare false; NULL amax (NULL embedding) passes
    # through — posexplode then emits no rows for it
    amax = F.when(
        amax_raw.isNull() | (amax_raw < F.lit(float("inf"))), amax_raw
    ).otherwise(
        F.raise_error(
            F.format_string(
                "embedding outside finite-component domain"
                " (finite components required): %s",
                amax_raw.cast("string"),
            )
        )
    )
    v = vecs.withColumn("__amax", amax).withColumn(
        "scale", F.col("__amax") / F.lit(float(QUANT_MAX))
    )
    ex = v.select(
        "vec_id", "scale", "__amax",
        F.posexplode("embedding").alias("idx", "val"),
    )
    q = F.when(F.col("__amax") == 0, F.lit(0)).otherwise(
        F.floor(F.col("val").cast("double") / F.col("scale") + F.lit(0.5))
    )
    return ex.select(
        "vec_id",
        F.col("idx").cast("long").alias("idx"),
        q.cast("bigint").alias("q"),
        "scale",
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata pass: pure-Python container-header
    probe (real format/width/height for PNG/JPEG/GIF/BMP payloads),
    deterministic sha256-derived stub for non-image bytes — the
    synthetic corpus is text-bytes, so this sf run exercises the stub
    path end-to-end while tests/test_functions.py asserts byte-exact
    real metadata on crafted image fixtures. On the (ASCII) text
    corpus every output column is SQL-expressible — byte length,
    magic hex, sha256, stub dims from the digest's first two bytes —
    so the mapInPandas plumbing is fully oracle-checked; only real
    image decode has no SQL twin (fixture-tested instead).

    Contract: payloads are opaque binary; unknown/truncated containers
    yield NULL metadata rather than errors (header probe only)
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # payload build+probe is per-row CPU: redistribute when under-parallel
    return multimodal.extract_meta(multimodal.with_binary_payload(docs))


def audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-payload metadata pass: deterministic REAL RIFF/WAVE
    containers are built per document (PCM params derived from
    sha256(text) — functions/multimodal.py::with_audio_payload) and
    parsed back by the pure-Python WAV/FLAC header probe
    (functions/audiohdr.py). The oracle recomputes every parameter
    from the digest in SQL, so a build→parse round-trip failure
    anywhere in the header writer or prober breaks the hash match;
    real-world WAV (stdlib wave writer) and FLAC fixtures are
    byte-tested in tests/test_functions.py. Two stateless
    mapInPandas stages — pipelines with the scan, no shuffle.

    Contract: payloads are opaque binary; non-WAV/FLAC headers yield
    NULL metadata
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # payload build+probe is per-row CPU: redistribute when under-parallel
    return multimodal.extract_audio_meta(multimodal.with_audio_payload(docs))


def video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-payload metadata pass: deterministic REAL ISO BMFF (MP4)
    and RIFF/AVI containers are built per document (dimensions, fps
    and frame counts derived from sha256(text) —
    functions/multimodal.py::with_video_payload) and parsed back by
    the pure-Python box/chunk-walking probe
    (functions/videohdr.py). The oracle recomputes every parameter
    from the digest in SQL (container byte length is a closed form
    of the parameters: MP4_FIXED_BYTES + 4·frames for the stsz entry
    table; AVI_FIXED_BYTES header-only), so a build→parse round-trip
    failure anywhere in the writer or prober breaks the hash match;
    hand-crafted spec fixtures are byte-tested in
    tests/test_functions.py. Two stateless mapInPandas stages —
    pipelines with the scan, no shuffle.

    Contract: payloads are opaque binary; non-MP4/AVI boxes yield NULL
    metadata
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # payload build+probe is per-row CPU: redistribute when under-parallel
    return multimodal.extract_video_meta(multimodal.with_video_payload(docs))


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label per-dimension embedding statistics — the centroid /
    distribution-profiling primitive behind IVF seeding, drift
    monitoring and normalization checks.

    One narrow posexplode (pipelines with the scan) then ONE groupBy
    shuffle on (label, dim) whose cardinality is labels × dims —
    tiny and fixed regardless of corpus size, with map-side partial
    aggregation doing almost all the work. min/max are exact.

    Sum/mean ride the exact micros form over MICROS-QUANTIZED
    components: float32-derived values are not decimal-exact, so a
    plain double sum rounded at 4dp is order-dependent at scale (the
    q5/huge_values failure class — Spark's partial-agg tree vs
    DuckDB's sequential fold). floor(v*1e6 + 0.5) is bit-identical
    IEEE on both engines; the ~5e-7 quantization is ~8x coarser than
    float32's own ulp near 1 and immaterial for a 4dp/6dp profiling
    stat, and the long sums are exact and order-independent at any
    scale (invariants 2/19; the domain guard rides along).

    Contract: NULL embeddings are excluded; per-dim sums ride the
    micros form with the documented ~5e-7/row quantization walk
    """
    vecs = t(spark, sf_dir, "embeddings")
    ex = vecs.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("dim", "val"),
    ).select("label", F.col("dim").cast("long").alias("dim"),
             F.col("val").cast("double").alias("val"))
    from .tpch import _mround, _msum_parts, _mtot_d

    return ex.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        *_msum_parts("val", "e"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    ).select(
        "label", "dim", "n",
        _mround("e", 4).alias("sum_val"),
        F.round(_mtot_d("e") / F.col("n"), 6).alias("mean_val"),
        "min_val", "max_val",
    )


DECON_N = 3  # word n-gram order (3 gives real signal on this corpus)
DECON_EVAL_SOURCE = "src0"  # the held-out shard standing in for an eval set


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination — the pretraining-pipeline step that
    flags training documents sharing word n-grams with a held-out
    eval/benchmark set (the standard n-gram-overlap contamination
    check used for LLM training corpora).

    Here the ``src0`` shard plays the eval set; every other source is
    the training corpus. Output: contaminated training docs with
    their distinct shared-3-gram count.

    Scale shape: both sides explode to (doc, shingle) with fan-out
    repartition only when under-parallel; the overlap is ONE hash
    join on the shingle string (dictionary-encoded at shuffle) — the
    eval side is distinct-reduced first, so the join's build side is
    the eval vocabulary, typically ≪ train and AQE-broadcastable;
    per-doc counting is a map-side-partial groupBy. Never an n² doc
    comparison.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; the eval gram
    set is loudly capped at EVAL_GRAM_MAX (Bloom variant for corpus-
    scale eval sets)
    """
    docs = t(spark, sf_dir, "documents")
    ev = docs.where(F.col("source") == DECON_EVAL_SOURCE)
    tr = docs.where(F.col("source") != DECON_EVAL_SOURCE)
    eval_grams = doc_shingles(ev, "text", DECON_N).select("shingle").distinct()
    # doc_shingles is already distinct per doc (array_distinct) — no
    # extra distinct shuffle needed on the train side
    train_sh = doc_shingles(tr, "text", DECON_N)
    return (
        train_sh.join(eval_grams, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


DECON_FUZZY_TAU = 0.5  # standard near-dup contamination threshold


def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train/eval decontamination: training documents that are
    NEAR-duplicates of an eval/benchmark document, via minhash-LSH —
    the companion to ``decontaminate_ngrams``' exact n-gram overlap
    (which misses lightly-edited/paraphrased contamination; near-dup
    contamination passes are standard practice for LLM pretraining
    corpora). ``src0`` again plays the eval set. Output: one row per
    contaminated training doc with its best-matching eval doc and
    the exact Jaccard over hashed shingle sets.

    Scale shape: bipartite LSH — band rows for the whole corpus come
    from ONE signature pass (the materialized frame feeds banding and
    both verify sides, invariant 9), the eval side's bucket
    membership is capped (a boilerplate band key matching m eval
    docs multiplies every train hit by m — same defense as
    LSH_BUCKET_CAP on the self-join path), and the candidate join
    distributes on (band_idx, band_key). Exact verification touches
    candidates only, as arrays of 60-bit hashes (cf.
    minhash_lsh_topk). The ≥τ cut is engine-identical: Jaccard is
    one division of integer set sizes, the same operands in both
    engines (no rounding involved, CLAUDE.md invariant 2).

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; eval-side bucket
    membership is capped (same defense as LSH_BUCKET_CAP); ids must be
    distinct across train/eval sides
    """
    # small-buffer collect aggs (the 64-min + hash-set signature
    # rows, ~1 KB/key): build on the OHA-raised sibling session so
    # the signature stage never pays the 128-key sort fallback
    # (session.py::oha_session — scoped there, NOT session-global,
    # so large-buffer aggs keep the safe default; r8 ADVICE)
    spark = oha_session(spark)
    docs = t(spark, sf_dir, "documents")
    ev_ids = docs.where(F.col("source") == DECON_EVAL_SOURCE).select("doc_id")
    return fuzzy_contaminated(docs, ev_ids)


def fuzzy_contaminated(
    corpus: DataFrame,
    ev_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau: float = DECON_FUZZY_TAU,
) -> DataFrame:
    """Frame-parameterized body of ``decontaminate_fuzzy``: corpus =
    train docs ∪ eval docs (ids distinct across sides), ``ev_ids``
    marks the eval side. A pipeline that has already filtered its
    training survivors passes exactly (survivors ∪ eval shard) — the
    signature pass then touches only those documents, never the raw
    corpus (the catalog query passes the whole table because its
    contract is table-level)."""
    sh = doc_shingles(corpus, text_col, 2, id_col=id_col)
    sig = minhash_signature(
        sh, NUM_PERM, id_col=id_col, with_hash_set=True
    ).localCheckpoint(False)
    bands = lsh_band_rows(sig, NUM_PERM, BANDS, id_col=id_col)
    wb = Window.partitionBy("band_idx", "band_key")
    ev_bands = (
        bands.join(ev_ids, id_col)
        .select(F.col(id_col).alias("eval_id"), "band_idx", "band_key")
        .withColumn("__m", F.count("*").over(wb))
        .where(F.col("__m") <= LSH_BUCKET_CAP)
        .drop("__m")
    )
    tr_bands = bands.join(ev_ids, id_col, "left_anti")
    cands = (
        tr_bands.join(ev_bands, ["band_idx", "band_key"])
        .select(id_col, "eval_id")
        .distinct()
    )
    sets = sig.select(
        id_col,
        F.col("__shset").alias("shset"),
        F.size("__shset").cast("long").alias("n"),
    )
    s1 = sets.select(id_col, F.col("shset").alias("s1"), F.col("n").alias("n1"))
    s2 = sets.select(
        F.col(id_col).alias("eval_id"),
        F.col("shset").alias("s2"),
        F.col("n").alias("n2"),
    )
    inter = F.size(F.array_intersect(F.col("s1"), F.col("s2")))
    jac = inter / (F.col("n1") + F.col("n2") - inter)
    verified = (
        cands.join(s1, id_col)
        .join(s2, "eval_id")
        .select(id_col, "eval_id", jac.alias("jac"))
        .where(F.col("jac") >= tau)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("jac").desc(), F.col("eval_id"))
    return (
        verified.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, "eval_id", F.col("jac").alias("jaccard"))
    )


QUERIES = {
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash": dedup_minhash,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_best": dedup_keep_best,
    "dedup_simhash": dedup_simhash,
    "doc_winnowing": doc_winnowing,
    "dedup_winnowing": dedup_winnowing,
    "embedding_cosine_dup": embedding_cosine_dup,
    "semantic_clusters": semantic_clusters,
    "ann_topk": ann_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_topk_shuffle": ann_lsh_topk_shuffle,
    "embedding_quantize": embedding_quantize,
    "ivf_topk": ivf_topk,
    "ivf_topk_shuffle": ivf_topk_shuffle,
    "minhash_lsh_topk": minhash_lsh_topk,
    "multimodal_meta": multimodal_meta,
    "audio_meta": audio_meta,
    "video_meta": video_meta,
    "decontaminate_ngrams": decontaminate_ngrams,
    "decontaminate_fuzzy": decontaminate_fuzzy,
    "embedding_dim_stats": embedding_dim_stats,
}


def _sql_sig(num_perm: int = NUM_PERM) -> str:
    """CTEs: base hash per shingle, then minhash signature columns
    h0..h{num_perm-1} per doc via the arithmetic permutation family
    (coefficients inlined from perm_coeffs — same numbers as Spark).
    Parameterized (r9) so the LSH tuning surface can be parity-tested
    at non-default (bands, r) settings."""
    mins = ", ".join(
        f"min(({a} * (h & 1073741823) + {c} * (h >> 30) + {b}) % {P61}) as h{i}"
        for i, (a, c, b) in enumerate(perm_coeffs(num_perm))
    )
    return (
        f"hs as (select doc_id, {sql_h64('shingle')} as h from sh),\n"
        f"        sig as (select doc_id, {mins} from hs group by doc_id)"
    )


def _sql_bands(num_perm: int = NUM_PERM, bands: int = BANDS) -> str:
    """CTE: (doc_id, band_idx, band_key) rows from the signature."""
    r = num_perm // bands
    selects = []
    for bi in range(bands):
        concat = " || '-' || ".join(
            f"cast(h{bi * r + k} as varchar)" for k in range(r)
        )
        selects.append(
            f"select doc_id, {bi} as band_idx, md5({concat}) as band_key from sig"
        )
    return "bands as (" + " union all ".join(selects) + ")"


_SQL_CAND_PAIRS = f"""
  bq as (
    select band_idx, band_key from bands
    group by band_idx, band_key
    having count(*) between 2 and {LSH_BUCKET_CAP}
  ),
  bandsq as (
    select bands.* from bands join bq using (band_idx, band_key)
  ),
  pairs as (
    select distinct a.doc_id as id1, b.doc_id as id2
    from bandsq a join bandsq b
      on a.band_idx = b.band_idx and a.band_key = b.band_key
     and a.doc_id < b.doc_id
  )
"""

_H = sql_h64("shingle")
_SIMHASH_VOTES = ", ".join(
    f"sum(case when ({_H} >> {b}) & 1 = 1 then 1 else -1 end) as v{b}"
    for b in range(32)
)
_SIMHASH_VALUE = " + ".join(
    f"(case when v{b} > 0 then cast({2 ** b} as bigint) else cast(0 as bigint) end)"
    for b in range(32)
)

_SQL_DOT = (
    "list_reduce(list_transform(range(1, len(a.embedding) + 1), "
    "i -> a.embedding[i]::double * b.embedding[i]::double), (x, y) -> x + y)"
)
_SQL_NORM_A = (
    "sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1), "
    "i -> a.embedding[i]::double * a.embedding[i]::double), (x, y) -> x + y))"
)
_SQL_NORM_B = (
    "sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1), "
    "i -> b.embedding[i]::double * b.embedding[i]::double), (x, y) -> x + y))"
)
_SQL_COS = f"{_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B})"

def _sql_bucket() -> str:
    """DuckDB expression: sign-LSH bucket from inlined hyperplanes."""
    bits = []
    for j, hp in enumerate(_PLANES):
        lit = "[" + ", ".join(str(x) for x in hp) + "]"
        d = (
            f"list_reduce(list_transform(range(1, len(embedding) + 1), "
            f"i -> embedding[i]::double * ({lit})[i]), (x, y) -> x + y)"
        )
        bits.append(f"(case when {d} > 0 then cast({1 << j} as bigint) else cast(0 as bigint) end)")
    return " + ".join(bits)


def _sql_d2(v: str, c: str) -> str:
    """DuckDB squared-L2 twin of ``_l2sq`` — same sequential fold,
    same (x-y)*(x-y) term shape."""
    return (
        f"list_reduce(list_transform(range(1, len({v}) + 1), "
        f"i -> ({v}[i]::double - {c}[i]::double) * "
        f"({v}[i]::double - {c}[i]::double)), (x, y) -> x + y)"
    )


_SQL_IVF_NORM = (
    "sqrt(list_reduce(list_transform(range(1, len(embedding) + 1), "
    "i -> embedding[i]::double * embedding[i]::double), (x, y) -> x + y))"
)
# entry predicate shared by every embedding-similarity oracle: NULL
# embeddings (NULL norm), zero-norm vectors AND non-finite norms (a
# NaN/Inf component — nonfinite_vec probe class, r9) never
# participate — cosine is undefined/poisoned for them (twin of the
# Spark-side rankable_norm entry drops; NULL/NaN/Inf all compare
# false through the same two comparisons on both engines)
_SQL_NZ = (f"embedding is not null and {_SQL_IVF_NORM} > 0"
           f" and isfinite({_SQL_IVF_NORM})")
_SQL_IVF_DOT = (
    "list_reduce(list_transform(range(1, len(a.embedding) + 1), "
    "i -> a.embedding[i]::double * p.p_emb[i]::double), (x, y) -> x + y)"
)

def _sql_ivf_lloyd() -> tuple[str, str]:
    """CTE chain for the deterministic Lloyd rounds — the DuckDB twin
    of the Spark loop in ``ivf_topk`` (assign to nearest cell, then
    centroid = sequential-fold mean of the first IVF_MEAN_CAP members
    sorted by vec_id)."""
    parts = []
    prev = "cents0"
    for i in range(IVF_LLOYD):
        nxt = f"cents{i + 1}"
        parts.append(f"""
        asg{i} as (
          select vec_id, embedding, cell from (
            select n.vec_id, n.embedding, m.cell,
                   row_number() over (
                     partition by n.vec_id
                     order by {_sql_d2("n.embedding", "m.centroid")} asc,
                              m.cell asc) as rn
            from norms n cross join {prev} m
          ) where rn = 1
        ),
        {nxt} as (
          select cell,
                 list_transform(range(1, len(sl[1]) + 1),
                   d -> list_reduce(list_transform(sl, e -> e[d]::double),
                                    (x, y) -> x + y) / len(sl)) as centroid
          from (
            select cell,
                   (list(embedding order by vec_id))[1:{IVF_MEAN_CAP}] as sl
            from asg{i} group by cell
          )
        )""")
        prev = nxt
    return ",".join(parts), prev


_SQL_IVF_ROUNDS, _SQL_IVF_FINAL = _sql_ivf_lloyd()

# shared CTE chain: deterministic centroid fit + per-vector argmin
# cell assignment — the DuckDB twin of ivf_fit/ivf_assign_np, used by
# both the ANN ranking (ivf_topk, fixed IVF_CELLS) and the SemDeDup
# bucketer (semantic_clusters, corpus-sized cell count via a LIMIT
# subquery mirroring semantic_cell_count's integer algebra)
def _sql_ivf_assign(limit_expr: str) -> str:
    return f"""hashed as (
          select vec_id, embedding, {sql_h64("vec_id::varchar")} as h
          from embeddings where {_SQL_NZ}
        ),
        cents0 as (
          select row_number() over (order by h, vec_id) - 1 as cell,
                 list_transform(embedding, x -> x::double) as centroid
          from (select * from hashed order by h, vec_id limit {limit_expr})
        ),
        norms as (
          select vec_id, embedding, {_SQL_IVF_NORM} as v_norm
          from embeddings where {_SQL_NZ}
        ),
        {_SQL_IVF_ROUNDS},
        assigned as (
          select vec_id, embedding, v_norm, cell from (
            select n.vec_id, n.embedding, n.v_norm, m.cell,
                   row_number() over (
                     partition by n.vec_id
                     order by {_sql_d2("n.embedding", "m.centroid")} asc,
                              m.cell asc) as rn
            from norms n cross join {_SQL_IVF_FINAL} m
          ) where rn = 1
        )"""


def _sql_ivf_lloyd2(nc_expr: str) -> tuple[str, str]:
    """CTE chain for the TWO-LEVEL Lloyd rounds — the DuckDB twin of
    ``_ivf_fit_rows(..., two_level=True)``: per round, coarse seeds
    (smallest-hash cells), cell→coarse assignment, per-vector coarse
    pick, fine argmin among the picked group's cells, then the same
    bounded sequential-fold mean. Every argmin is a row_number over
    (d2, id) — identical tie-breaks to the Arrow kernels' first-min
    argmin."""
    parts = []
    prev = "cents0"
    for i in range(IVF_LLOYD):
        nxt = f"cents{i + 1}"
        parts.append(f"""
        gseed{i} as materialized (
          select row_number() over (order by ch, cell) - 1 as g,
                 centroid as gcentroid
          from (select cell, centroid,
                       {sql_h64("cast(cell as varchar)")} as ch
                from {prev} order by ch, cell limit {nc_expr})
        ),
        c2g{i} as materialized (
          select cell, centroid, g from (
            select c.cell, c.centroid, s.g,
                   row_number() over (partition by c.cell
                     order by {_sql_d2("c.centroid", "s.gcentroid")} asc,
                              s.g asc) as rn
            from {prev} c cross join gseed{i} s
          ) where rn = 1
        ),
        gpick{i} as materialized (
          select vec_id, g from (
            select n.vec_id, s.g,
                   row_number() over (partition by n.vec_id
                     order by {_sql_d2("n.embedding", "s.gcentroid")} asc,
                              s.g asc) as rn
            from norms n cross join gseed{i} s
          ) where rn = 1
        ),
        asg{i} as materialized (
          select vec_id, embedding, cell from (
            select n.vec_id, n.embedding, m.cell,
                   row_number() over (partition by n.vec_id
                     order by {_sql_d2("n.embedding", "m.centroid")} asc,
                              m.cell asc) as rn
            from norms n join gpick{i} p on n.vec_id = p.vec_id
                         join c2g{i} m on m.g = p.g
          ) where rn = 1
        ),
        {nxt} as materialized (
          select cell,
                 list_transform(range(1, len(sl[1]) + 1),
                   d -> list_reduce(list_transform(sl, e -> e[d]::double),
                                    (x, y) -> x + y) / len(sl)) as centroid
          from (
            select cell,
                   (list(embedding order by vec_id))[1:{IVF_MEAN_CAP}] as sl
            from asg{i} group by cell
          )
        )""")
        prev = nxt
    return ",".join(parts), prev


def _sql_ivf_assign2(cells_expr: str, nc_expr: str) -> str:
    """Two-level twin of _sql_ivf_assign — identical seeds and means,
    hierarchical routing for every corpus pass (the shape
    ``semantic_clusters`` runs: ``_ivf_fit_rows`` two-level →
    ``_coarse_rows_py`` → ``_assign2_np_rows``)."""
    rounds, final = _sql_ivf_lloyd2(nc_expr)
    return f"""hashed as (
          select vec_id, embedding, {sql_h64("vec_id::varchar")} as h
          from embeddings where {_SQL_NZ}
        ),
        cents0 as materialized (
          select row_number() over (order by h, vec_id) - 1 as cell,
                 list_transform(embedding, x -> x::double) as centroid
          from (select * from hashed order by h, vec_id limit {cells_expr})
        ),
        norms as materialized (
          select vec_id, embedding, {_SQL_IVF_NORM} as v_norm
          from embeddings where {_SQL_NZ}
        ),
        {rounds},
        gseedF as materialized (
          select row_number() over (order by ch, cell) - 1 as g,
                 centroid as gcentroid
          from (select cell, centroid,
                       {sql_h64("cast(cell as varchar)")} as ch
                from {final} order by ch, cell limit {nc_expr})
        ),
        c2gF as materialized (
          select cell, centroid, g from (
            select c.cell, c.centroid, s.g,
                   row_number() over (partition by c.cell
                     order by {_sql_d2("c.centroid", "s.gcentroid")} asc,
                              s.g asc) as rn
            from {final} c cross join gseedF s
          ) where rn = 1
        ),
        gpickF as materialized (
          select vec_id, g from (
            select n.vec_id, s.g,
                   row_number() over (partition by n.vec_id
                     order by {_sql_d2("n.embedding", "s.gcentroid")} asc,
                              s.g asc) as rn
            from norms n cross join gseedF s
          ) where rn = 1
        ),
        assigned as materialized (
          select vec_id, embedding, v_norm, cell from (
            select n.vec_id, n.embedding, n.v_norm, m.cell,
                   row_number() over (partition by n.vec_id
                     order by {_sql_d2("n.embedding", "m.centroid")} asc,
                              m.cell asc) as rn
            from norms n join gpickF p on n.vec_id = p.vec_id
                         join c2gF m on m.g = p.g
          ) where rn = 1
        )"""


# cell sizing counts ALL rows (mirrors the Spark side's unfiltered
# footer-metadata count — a non-null-filtered count would have to
# scan the embedding column at 100 TB just to size the index; a few
# NULL rows inflating the cell count is harmless)
_SQL_CELLS_ADAPTIVE = (
    f"(select greatest({IVF_CELLS}, least({SEMANTIC_CELL_MAX}, "
    f"(count(*) + {SEMANTIC_CELL_TARGET - 1}) // {SEMANTIC_CELL_TARGET})) "
    "from embeddings)"
)

_SQL_NC_ADAPTIVE = (
    f"(select greatest(2, cast(ceil(sqrt(greatest({IVF_CELLS}, "
    f"least({SEMANTIC_CELL_MAX}, (count(*) + {SEMANTIC_CELL_TARGET - 1}) "
    f"// {SEMANTIC_CELL_TARGET})))) as bigint)) from embeddings)"
)

def _sql_ivf_topk(probe_mod: int) -> str:
    """One oracle body for both physical variants: the Spark
    broadcast/shuffle split is physical-plan-only, so the twin SQL
    differs solely in the probe-set modulus."""
    return f"""
        with {_sql_ivf_assign(str(IVF_CELLS))},
        probe_cells as (
          select probe_id, p_emb, p_norm, cell as p_cell from (
            select n.vec_id as probe_id, n.embedding as p_emb,
                   n.v_norm as p_norm, m.cell,
                   row_number() over (
                     partition by n.vec_id
                     order by {_sql_d2("n.embedding", "m.centroid")} asc,
                              m.cell asc) as rn
            from norms n cross join {_SQL_IVF_FINAL} m
            where n.vec_id % {probe_mod} = 0
          ) where rn <= {IVF_NPROBE}
        ),
        scored as (
          select p.probe_id, a.vec_id,
                 {_SQL_IVF_DOT} / (a.v_norm * p.p_norm) as cos
          from assigned a join probe_cells p on a.cell = p.p_cell
          where a.vec_id != p.probe_id
        ),
        ranked as (
          select probe_id, vec_id, cos,
                 row_number() over (partition by probe_id
                                    order by cos desc, vec_id) as rank
          from scored
        )
        select probe_id, vec_id, cos as cosine, rank
        from ranked where rank <= {ANN_K}
    """


def _sql_ann_lsh_topk(probe_mod: int) -> str:
    return f"""
        with bk as (
          select vec_id, embedding, {_sql_bucket()} as bucket
          from embeddings where {_SQL_NZ}
        ), scored as (
          select b.vec_id as probe_id, a.vec_id as vec_id, {_SQL_COS} as cos
          from bk a join (select * from bk where vec_id % {probe_mod} = 0) b
            on a.bucket = b.bucket
          where a.vec_id != b.vec_id
        ), ranked as (
          select probe_id, vec_id, cos,
                 row_number() over (partition by probe_id
                                    order by cos desc, vec_id) as rank
          from scored
        )
        select probe_id, vec_id, cos as cosine, rank
        from ranked where rank <= {ANN_K}
    """


SQL_ORACLES = {
    "ivf_topk": _sql_ivf_topk(50),
    "ivf_topk_shuffle": _sql_ivf_topk(20),
    "ann_lsh_topk": _sql_ann_lsh_topk(50),
    "ann_lsh_topk_shuffle": _sql_ann_lsh_topk(20),
    "dedup_ngram_jaccard": f"""
        with {_sql_shingles(3)},
        shf as (
          select doc_id, shingle from (
            select doc_id, shingle,
                   count(*) over (partition by shingle) as df
            from sh
          ) where df <= {NGRAM_DF_CAP}
        ),
        sizes as (select doc_id, count(*) as n from shf group by doc_id),
        p as (
          select a.doc_id as id1, b.doc_id as id2, count(*) as inter
          from shf a join shf b on a.shingle = b.shingle and a.doc_id < b.doc_id
          group by 1, 2
        )
        select id1, id2,
               inter / (n1.n + n2.n - inter) as jaccard
        from p
        join sizes n1 on p.id1 = n1.doc_id
        join sizes n2 on p.id2 = n2.doc_id
        where inter / (n1.n + n2.n - inter) >= {JACCARD_TAU}
    """,
    "dedup_minhash": f"""
        with {_sql_shingles(2)},
        {_sql_sig()},
        {_sql_bands()},
        {_SQL_CAND_PAIRS}
        select id1, id2 from pairs
    """,
    "dedup_clusters": f"""
        with recursive {_sql_shingles(2)},
        {_sql_sig()},
        {_sql_bands()},
        {_SQL_CAND_PAIRS},
        nodes as (
          select id1 as n from pairs union select id2 from pairs
        ),
        e as (
          select id1 as a, id2 as b from pairs
          union select id2, id1 from pairs
        ),
        reach(a, b) as (
          select n, n from nodes
          union
          select r.a, e.b from reach r join e on r.b = e.a
        )
        select a as doc_id, min(b) as cluster_id
        from reach group by a
    """,
    "dedup_simhash": f"""
        with {_sql_shingles(2)},
        v as (select doc_id, {_SIMHASH_VOTES} from sh group by doc_id)
        select doc_id, {_SIMHASH_VALUE} as simhash from v
    """,
    "embedding_cosine_dup": f"""
        with nz as (select * from embeddings where {_SQL_NZ})
        select a.vec_id as id1, b.vec_id as id2,
               {_SQL_COS} as cosine
        from nz a join nz b
          on a.label = b.label and a.vec_id < b.vec_id
        where {_SQL_COS} >= {COSINE_TAU}
    """,
    "ann_topk": f"""
        with nz as (select * from embeddings where {_SQL_NZ}),
        scored as (
          select b.vec_id as probe_id, a.vec_id as vec_id, {_SQL_COS} as cos
          from nz a cross join
               (select * from nz where vec_id % 50 = 0) b
          where a.vec_id != b.vec_id
        ), ranked as (
          select probe_id, vec_id, cos,
                 row_number() over (partition by probe_id
                                    order by cos desc, vec_id) as rank
          from scored
        )
        select probe_id, vec_id, cos as cosine, rank
        from ranked where rank <= {ANN_K}
    """,
    "embedding_quantize": f"""
        with a0 as (
          select vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x::double))) as amax0
          from embeddings
        ),
        -- finite-component guard, twin of the Spark side's raise:
        -- amax is non-finite iff any component is (nonfinite_vec)
        a as (
          select vec_id, embedding,
                 case when amax0 is null or isfinite(amax0) then amax0
                      else error('embedding outside finite-component domain'
                                 || ' (finite components required): '
                                 || amax0::varchar)
                 end as amax
          from a0
        ),
        s as (
          select vec_id, embedding, amax, amax / {QUANT_MAX}.0 as scale from a
        )
        select vec_id,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> cast(i - 1 as bigint))) as idx,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> cast(case when amax = 0 then 0
                                else floor(embedding[i]::double / scale + 0.5)
                                end as bigint))) as q,
               scale
        from s
    """,
    "minhash_lsh_topk": f"""
        with {_sql_shingles(2)},
        {_sql_sig()},
        {_sql_bands()},
        {_SQL_CAND_PAIRS},
        hsets as (
          select doc_id, list_distinct(list(h)) as hs,
                 len(list_distinct(list(h))) as n
          from hs group by doc_id
        ),
        verified as (
          select p.id1, p.id2,
                 len(list_intersect(a.hs, b.hs))
                   / (a.n + b.n - len(list_intersect(a.hs, b.hs))) as jac
          from pairs p
          join hsets a on p.id1 = a.doc_id
          join hsets b on p.id2 = b.doc_id
          where len(list_intersect(a.hs, b.hs)) > 0
        ),
        sym as (
          select id1 as doc_id, id2 as neighbor_id, jac from verified
          union all
          select id2 as doc_id, id1 as neighbor_id, jac from verified
        ),
        ranked as (
          select doc_id, neighbor_id, jac,
                 row_number() over (partition by doc_id
                                    order by jac desc, neighbor_id) as rank
          from sym
        )
        select doc_id, neighbor_id, jac as jaccard, rank
        from ranked where rank <= {LSH_TOPK}
    """,
    "decontaminate_fuzzy": f"""
        with {_sql_shingles(2)},
        {_sql_sig()},
        {_sql_bands()},
        ev as (select doc_id from documents
               where source = '{DECON_EVAL_SOURCE}'),
        evb as (
          select b.doc_id as eval_id, band_idx, band_key
          from bands b join ev on b.doc_id = ev.doc_id
          qualify count(*) over (partition by band_idx, band_key)
                  <= {LSH_BUCKET_CAP}
        ),
        trb as (
          select * from bands
          where doc_id not in (select doc_id from ev)
        ),
        cands as (
          select distinct t.doc_id, e.eval_id
          from trb t join evb e using (band_idx, band_key)
        ),
        hsets as (
          select doc_id, list_distinct(list(h)) as hs,
                 len(list_distinct(list(h))) as n
          from hs group by doc_id
        ),
        verified as (
          select c.doc_id, c.eval_id,
                 len(list_intersect(a.hs, b.hs))
                   / (a.n + b.n - len(list_intersect(a.hs, b.hs))) as jac
          from cands c
          join hsets a on c.doc_id = a.doc_id
          join hsets b on c.eval_id = b.doc_id
        ),
        best as (
          select doc_id, eval_id, jac,
                 row_number() over (partition by doc_id
                                    order by jac desc, eval_id) as rn
          from verified where jac >= {DECON_FUZZY_TAU}
        )
        select doc_id, eval_id, jac as jaccard from best where rn = 1
    """,
    "decontaminate_ngrams": f"""
        with toks as (
          select doc_id, source, {_TOKS} as toks from documents
        ),
        sh as (
          select doc_id, source,
                 unnest(list_distinct(
                   [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    for i in range(1, len(toks) - 1)])) as shingle
          from toks
        ),
        ev as (select distinct shingle from sh
               where source = '{DECON_EVAL_SOURCE}'),
        tr as (select doc_id, shingle from sh
               where source <> '{DECON_EVAL_SOURCE}')
        select doc_id, count(*) as n_shared
        from tr join ev using (shingle)
        group by doc_id
    """,
    "embedding_dim_stats": f"""
        with ex0 as (
          select label, embedding,
                 unnest(range(1, len(embedding) + 1)) as i
          from embeddings
        ),
        ex as (
          select cast(label as bigint) as label,
                 cast(i - 1 as bigint) as dim,
                 embedding[i]::double as val
          from ex0
        )
        select label, dim,
               count(*) as n,
               {sql_msum('val', 4)} as sum_val,
               round({sql_mtot('val')} / count(*), 6) as mean_val,
               min(val) as min_val,
               max(val) as max_val
        from ex
        group by label, dim
    """,
}


def _sql_keep_best() -> str:
    """Oracle for ``dedup_keep_best``: the dedup_clusters recursive
    closure composed with textq's quality formula (same fragments as
    the standalone text_quality oracle, so the score doubles are
    bit-identical), argmax per cluster via row_number."""
    from .textq import _SQL_STOP_EN, _TOKS

    return f"""
        with recursive {_sql_shingles(2)},
        {_sql_sig()},
        {_sql_bands()},
        {_SQL_CAND_PAIRS},
        nodes as (
          select id1 as n from pairs union select id2 from pairs
        ),
        e as (
          select id1 as a, id2 as b from pairs
          union select id2, id1 from pairs
        ),
        reach(a, b) as (
          select n, n from nodes
          union
          select r.a, e.b from reach r join e on r.b = e.a
        ),
        clusters as (
          select a as doc_id, min(b) as cluster_id
          from reach group by a
        ),
        m as (
          select doc_id,
                 length(text) as n_chars,
                 length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::double as alpha,
                 len({_TOKS})::double as n_toks,
                 len(list_filter({_TOKS}, x -> list_contains({_SQL_STOP_EN}, x)))::double as n_stop
          from documents
        ),
        q as (
          select doc_id,
                 0.5 * alpha / nullif(n_chars, 0)
                   + 0.3 * n_stop / nullif(n_toks, 0)
                   + 0.2 * least(n_toks / 100.0, 1.0) as quality_score
          from m
        ),
        ranked as (
          select c.cluster_id, c.doc_id, q.quality_score,
                 row_number() over (partition by c.cluster_id
                                    order by q.quality_score desc, c.doc_id) as rn,
                 count(*) over (partition by c.cluster_id) as n_members
          from clusters c join q using (doc_id)
        )
        select cluster_id, doc_id, quality_score, n_members
        from ranked where rn = 1
    """


SQL_ORACLES["dedup_keep_best"] = _sql_keep_best()

# multimodal_meta's stub path is byte-deterministic: payload bytes
# == utf-8(text), so byte length, 4-byte magic, the sha256 content
# hash and the digest-derived stub dims all have exact DuckDB
# twins. The magic slice is BYTE-exact for any UTF-8 text: the
# first 4 chars carry ≥ the first 4 bytes, so the first 8 hex chars
# of their encoding == hex(payload[:4]) even across multi-byte
# codepoints. format is NULL for every row (no image signature can
# start a lowercase-word corpus).
SQL_ORACLES["multimodal_meta"] = """
    select doc_id,
           cast(octet_length(encode(text)) as int) as n_bytes,
           lower(substr(hex(encode(substring(text, 1, 4))), 1, 8)) as magic,
           cast(null as varchar) as format,
           cast(16 + cast(('0x' || substr(sha256(text), 1, 2)) as int) % 64
                as int) as width,
           cast(16 + cast(('0x' || substr(sha256(text), 3, 2)) as int) % 64
                as int) as height,
           sha256(text) as content_sha256
    from documents
"""


def _sql_winnow_fps() -> str:
    """CTE text: distinct (doc_id, fp) winnowing fingerprints —
    mirrors functions/dedup.py::winnowing_fingerprints exactly
    (same gram positions, same h64, same full-window cut)."""
    gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(WINNOW_K))
    return f"""
      toks as (select doc_id, {_TOKS} as toks from documents),
      g as (
        select doc_id, i - 1 as pos,
               {sql_h64(f"({gram})")} as h
        from (select doc_id, toks,
                     unnest(range(1, len(toks) - {WINNOW_K - 2})) as i
              from toks)
      ),
      win as (
        select doc_id, pos,
               min(h) over (partition by doc_id order by pos
                            rows between current row
                            and {WINNOW_W - 1} following) as fp,
               count(*) over (partition by doc_id) as n
        from g
      ),
      fps as (
        select distinct doc_id, fp from win where pos <= n - {WINNOW_W}
      )
    """


SQL_ORACLES["doc_winnowing"] = f"""
    with {_sql_winnow_fps()}
    select doc_id, fp from fps
"""

SQL_ORACLES["dedup_winnowing"] = f"""
    with {_sql_winnow_fps()},
    kept as (
      select doc_id, fp from (
        select doc_id, fp, count(*) over (partition by fp) as df from fps
      ) where df <= {WINNOW_DF_CAP}
    )
    select a.doc_id as id1, b.doc_id as id2, count(*) as n_shared
    from kept a join kept b using (fp)
    where a.doc_id < b.doc_id
    group by a.doc_id, b.doc_id
    having count(*) >= {WINNOW_MIN_SHARED}
"""

SQL_ORACLES["audio_meta"] = """
    with d as (
      -- coalesce matches the Spark payload builder's NULL->'' digest
      select doc_id,
             cast(('0x' || substr(sha256(coalesce(text, '')), 1, 2)) as int) as d0,
             cast(('0x' || substr(sha256(coalesce(text, '')), 3, 2)) as int) as d1,
             cast(('0x' || substr(sha256(coalesce(text, '')), 5, 2)) as int) as d2
      from documents
    ),
    p as (
      select doc_id,
             8000 + (d0 % 8) * 1000 as sample_rate,
             1 + (d1 % 2) as channels,
             16 + (d2 % 64) as ns
      from d
    )
    select doc_id,
           cast(44 + ns * channels * 2 as int) as n_bytes,
           'wav' as format,
           cast(sample_rate as int) as sample_rate,
           cast(channels as int) as channels,
           cast(16 as int) as bits,
           cast(ns as bigint) as n_samples,
           cast(ns * 1000 // sample_rate as bigint) as duration_ms
    from p
"""

SQL_ORACLES["video_meta"] = f"""
    with d as (
      -- coalesce matches the Spark payload builder's NULL->'' digest
      select doc_id,
             cast(('0x' || substr(sha256(coalesce(text, '')), 1, 2)) as int) as d0,
             cast(('0x' || substr(sha256(coalesce(text, '')), 3, 2)) as int) as d1,
             cast(('0x' || substr(sha256(coalesce(text, '')), 5, 2)) as int) as d2,
             cast(('0x' || substr(sha256(coalesce(text, '')), 7, 2)) as int) as d3,
             cast(('0x' || substr(sha256(coalesce(text, '')), 9, 2)) as int) as d4
      from documents
    ),
    p as (
      select doc_id,
             d0 % 2 as is_avi,
             160 + 16 * (d1 % 8) as w,
             120 + 16 * (d2 % 8) as h,
             10 + (d3 % 21) as fps,
             8 + (d4 % 64) as nf
      from d
    )
    select doc_id,
           cast(case when is_avi = 0
                then {MP4_FIXED_BYTES} + 4 * nf
                else {AVI_FIXED_BYTES} end as int) as n_bytes,
           case when is_avi = 0 then 'mp4' else 'avi' end as format,
           cast(w as int) as width,
           cast(h as int) as height,
           cast(nf as bigint) as n_frames,
           cast(case when is_avi = 0
                then nf * 1000 // fps
                else (cast(1000000 // fps as bigint) * nf * 1000) // 1000000
                end as bigint) as duration_ms
    from p
"""

SQL_ORACLES["semantic_clusters"] = f"""
    with recursive {_sql_ivf_assign2(_SQL_CELLS_ADAPTIVE, _SQL_NC_ADAPTIVE)},
    pairs as (
      select a.vec_id as id1, b.vec_id as id2
      from assigned a join assigned b
        on a.cell = b.cell and a.vec_id < b.vec_id
      where {_SQL_DOT} / (a.v_norm * b.v_norm) >= {COSINE_TAU}
    ),
    nodes as (
      select id1 as n from pairs union select id2 from pairs
    ),
    e as (
      select id1 as a, id2 as b from pairs
      union select id2, id1 from pairs
    ),
    reach(a, b) as (
      select n, n from nodes
      union
      select r.a, e.b from reach r join e on r.b = e.a
    )
    select a as vec_id, min(b) as cluster_id
    from reach group by a
"""
