"""Streaming deduplication — the live counterpart of the batch
dedup family (functions/dedup.py).

``stream_dedup_exact`` drops records whose fingerprint was already
seen, with the dedup state bounded by the watermark horizon instead
of growing forever: the distributed, fault-tolerant analog of an
ingest pipeline's "have I seen these bytes" KV set, and the missing
piece for running the exact-dedup stage on a live firehose rather
than a parquet corpus.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_fingerprint

__all__ = [
    "stream_dedup_exact", "stream_dedup_exact_against", "stream_span_dedup",
    "minhash_index", "minhash_index_fps", "stream_dedup_minhash",
    "minhash_dedup_batch",
    "embedding_index", "stream_dedup_embedding", "embedding_dedup_batch",
]


def stream_dedup_exact(
    df: DataFrame,
    text_col: str,
    ts_col: str,
    horizon: str = "1 hour",
    keys: Sequence[str] = (),
) -> DataFrame:
    """Keep the first record per content fingerprint (md5 of the
    normalized text, same fingerprint as the batch ``dedup_exact``),
    optionally scoped by ``keys``.

    State is evicted once the watermark passes ``horizon`` — a dup
    arriving later than the horizon is treated as new, which is the
    deliberate trade bounding state at (distinct fingerprints per
    horizon), not (all fingerprints ever). Runs on the engine's
    dedup state store: hash-partitioned by fingerprint, checkpointed.
    """
    fp = df.withColumn("__fp", md5_fingerprint(F.col(text_col)))
    fp = fp.withWatermark(ts_col, horizon)
    return fp.dropDuplicatesWithinWatermark([*keys, "__fp"]).drop("__fp")


def stream_dedup_exact_against(
    df: DataFrame,
    seen_fps: DataFrame,
    text_col: str,
    ts_col: str,
    horizon: str = "1 hour",
    keys: Sequence[str] = (),
) -> DataFrame:
    """Live exact dedup AGAINST AN EXISTING CORPUS — the streaming
    twin of the batch ``incremental_dedup_exact``: a document whose
    content fingerprint already exists in ``seen_fps`` (column
    ``fp``, the batch family's md5 fingerprint) never lands, and
    within the stream the first arrival per fingerprint wins
    (arrival order IS the live analog of the batch min-id keeper).

    Shape: a STATELESS stream-static left-anti join on the
    fingerprint (natively supported — no foreachBatch needed), then
    the watermark-bounded within-stream dedup. One stateful operator
    total, append-safe. At corpus scale, bucket the seen-fps table
    by fingerprint so the per-microbatch anti-join shuffles only the
    arriving batch onto the table's bucketing; fold committed
    fingerprints back into the table on the caller's refresh cadence
    (the same loop every lakehouse dedup runs).
    """
    fp = df.withColumn("__fp", md5_fingerprint(F.col(text_col)))
    fresh = fp.join(
        seen_fps.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
    )
    fresh = fresh.withWatermark(ts_col, horizon)
    return fresh.dropDuplicatesWithinWatermark([*keys, "__fp"]).drop("__fp")


def stream_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str,
    horizon: str = "1 hour",
    span_size: int = 16,
) -> DataFrame:
    """Live span-level exact substring dedup — the streaming
    counterpart of the batch ``span_dedup`` catalog query (Lee et
    al. 2021 at non-overlapping ``span_size``-token granularity):
    each document is exploded into spans and a span whose text was
    already emitted inside the watermark horizon is dropped, so the
    sink receives only first-occurrence spans (with their source doc
    id and position, from which a consumer reassembles text exactly
    like the batch operator does).

    First-arrival order stands in for the batch min-(doc_id, idx)
    keeper — on a live firehose "first seen" IS arrival order. State
    is the engine's dedup store keyed by span text, hash-partitioned
    and watermark-evicted: (distinct spans per horizon), not (all
    spans ever) — the same trade ``stream_dedup_exact`` makes.
    """
    from ..functions.text import token_chunks, tokens

    spans = df.select(
        id_col,
        ts_col,
        # materialized token column (invariant 5): token_chunks'
        # per-chunk lambda re-evaluates its token expression, so a
        # raw tokens() here re-tokenizes per chunk
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        id_col,
        ts_col,
        F.explode(
            token_chunks(F.col("__toks"), span_size, 0)
        ).alias("__c"),
    ).select(
        id_col,
        ts_col,
        F.col("__c.chunk_idx").cast("long").alias("span_idx"),
        F.col("__c.chunk_text").alias("span_text"),
        F.col("__c.n_tokens").cast("long").alias("n_tokens"),
    )
    return spans.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
        ["span_text"]
    )


MINHASH_SHINGLE_N = 2     # same gram order as the batch fuzzy family
MINHASH_DEDUP_TAU = 0.5   # near-dup threshold (cf. DECON_FUZZY_TAU)


def minhash_index_fps(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Exact-copy PRE-GATE sidecar for ``stream_dedup_minhash`` (r11):
    distinct md5 text fingerprints of index docs that CARRY at least
    one shingle (≥ ``MINHASH_SHINGLE_N`` tokens). An arriving doc
    whose fingerprint matches has the IDENTICAL non-empty shingle set
    as its index twin — jaccard exactly 1.0 ≥ tau for any tau ≤ 1 —
    so it is provably a dup before any signature work runs: on real
    ingest traffic the dup mass is dominated by exact copies, and
    each one skips the whole shingle→64-permutation→band→verify
    pipeline (the measured 85%+ of per-trigger cost — PERF.md,
    "Round 11: the minhash ingest gate").

    Docs BELOW the shingle order are excluded on purpose: their
    shingle set is empty, the minhash gate scores them 0/0 → no
    match → KEEP, so the pre-gate must keep their exact copies too.

    ``index_bands`` (the post-cap band table from ``minhash_index``)
    makes the pre-gate BIT-IDENTICAL to the fingerprint-less gate
    (r12, advice fix): an index doc duplicated past ``LSH_BUCKET_CAP``
    loses ALL its band rows to the bucket cap, so the capped gate
    KEEPS its exact copies (no candidate ever forms) — its
    fingerprint must therefore not pre-drop them. Restricting fps to
    docs that RETAIN ≥1 post-cap band row restores exact equivalence:
    a retained doc's exact copy shares its full signature, hits the
    retained bucket, and verifies at jaccard 1.0 on the capped path
    too (pinned by the gate-vs-batch-fuzzy parity test, parametrized
    over both paths, over-cap corpus included). Without
    ``index_bands`` the pre-gate is a documented strict SUPERSET of
    the capped gate's drops (it also drops exact copies of over-cap
    boilerplate — defensible dedup semantics, but not parity)."""
    from ..functions.text import tokens

    fps = docs.where(
        F.size(tokens(F.col(text_col))) >= MINHASH_SHINGLE_N
    ).select(F.col(id_col), md5_fingerprint(F.col(text_col)).alias("fp"))
    if index_bands is not None:
        fps = fps.join(
            index_bands.select(F.col("index_id").alias(id_col)).distinct(),
            id_col,
            "semi",
        )
    return fps.select("fp").distinct()


def minhash_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Batch-built LSH index for ingest-time NEAR-duplicate
    suppression: ``(index_bands, index_sets)`` over an existing
    corpus — the once-per-corpus half of ``stream_dedup_minhash``.

    ``index_bands`` is (index_id, band_idx, band_key) with
    over-popular buckets dropped at the cap (boilerplate buckets
    would make every arriving doc a candidate — the same
    ``LSH_BUCKET_CAP`` defense as the batch pair join);
    ``index_sets`` is (index_id, shset, n) — the distinct shingle
    hashes per doc for the exact-jaccard verify. One signature
    pipeline feeds both (the signature frame lazily checkpoints per
    invariant 9).

    Scale shape: at corpus scale the caller should WRITE both frames
    once (``sinks.writers.write_parquet`` with ``bucket_by`` on
    band_key / index_id) and stream against the re-read tables — the
    per-microbatch candidate join then shuffles only the arriving
    batch onto the index's bucketing instead of re-scanning the
    index per trigger. The build itself is the batch minhash
    pipeline: one shingle explode, one signature agg, one band
    explode — linear, never all-pairs.
    """
    from ..functions.dedup import (
        doc_shingles, lsh_band_rows, minhash_signature,
    )
    from ..queries.dedupq import BANDS, LSH_BUCKET_CAP, NUM_PERM
    from pyspark.sql.window import Window

    sh = doc_shingles(docs, text_col, MINHASH_SHINGLE_N, id_col=id_col)
    sig = minhash_signature(
        sh, NUM_PERM, id_col=id_col, with_hash_set=True
    ).localCheckpoint(False)
    wb = Window.partitionBy("band_idx", "band_key")
    index_bands = (
        lsh_band_rows(sig, NUM_PERM, BANDS, id_col=id_col)
        .select(F.col(id_col).alias("index_id"), "band_idx", "band_key")
        .withColumn("__m", F.count("*").over(wb))
        .where(F.col("__m") <= LSH_BUCKET_CAP)
        .drop("__m")
    )
    index_sets = sig.select(
        F.col(id_col).alias("index_id"),
        F.col("__shset").alias("shset"),
        F.size("__shset").cast("long").alias("n"),
    )
    return index_bands, index_sets


def minhash_dedup_batch(
    batch: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau: float = MINHASH_DEDUP_TAU,
    index_fps: DataFrame | None = None,
) -> DataFrame:
    """One microbatch of near-dup suppression against a static LSH
    index: signature + bands for the ARRIVING docs only, candidate
    join on (band_idx, band_key), exact-jaccard verify on candidates
    only, left-anti back onto the batch — a doc survives unless some
    index doc matches at ``jaccard ≥ tau``. Pure batch DataFrame
    ops, so it composes under ``foreachBatch`` with no stateful
    operator restrictions; the index side is never recomputed.
    Identical machinery (shingle order, permutation family, band
    keys, verify algebra) to the batch ``fuzzy_contaminated``.

    With ``index_fps`` (built by ``minhash_index_fps``) an arriving
    doc whose md5 text fingerprint matches a shingle-bearing index
    doc is dropped BEFORE the signature pipeline — jaccard exactly
    1.0 by construction, so the kept set is bit-identical to the
    fingerprint-less path while exact-copy traffic (the dominant dup
    mass on real firehoses) skips the expensive stages."""
    from ..functions.dedup import (
        doc_shingles, lsh_band_rows, minhash_signature_np,
    )
    from ..queries.dedupq import BANDS, NUM_PERM

    # the batch feeds the signature pipeline AND the final left-anti
    # — materialize once so each trigger reads its source files once
    # (invariant 9)
    batch = batch.localCheckpoint(eager=False)
    if index_fps is not None:
        # the pre-gate's drop proof is "jaccard exactly 1.0 >= tau" —
        # it silently assumed tau <= 1; make the domain loud instead
        if tau > 1.0:
            raise ValueError(
                f"index_fps pre-gate requires tau <= 1.0 (got {tau}): "
                "a fingerprint match proves jaccard 1.0, which only "
                "implies a dup when tau <= 1"
            )
        batch = (
            batch.withColumn("__fp", md5_fingerprint(F.col(text_col)))
            .join(index_fps.select(F.col("fp").alias("__fp")),
                  "__fp", "left_anti")
            .drop("__fp")
            # survivors feed the shingle pipeline AND the final
            # left-anti — same invariant-9 barrier as the batch above
            .localCheckpoint(eager=False)
        )
    sh = doc_shingles(batch, text_col, MINHASH_SHINGLE_N, id_col=id_col)
    # the Arrow kernel (row-identical to the JVM aggregation, pinned)
    # frees JVM agg threads for the rest of the trigger and measured
    # slightly ahead at bench batch sizes (PERF.md r11 A/B).
    # NO hash set here (r11): verify sets are recomputed below for
    # CANDIDATE docs only — after the fp pre-gate candidates are the
    # rare case, so collecting per-doc hash sets for every arrival
    # was the signature stage's dead weight
    sig = minhash_signature_np(sh, NUM_PERM, id_col=id_col,
                               with_hash_set=False)
    bands = lsh_band_rows(sig, NUM_PERM, BANDS, id_col=id_col)
    cands = (
        bands.join(index_bands, ["band_idx", "band_key"])
        .select(id_col, "index_id")
        .distinct()
        # feeds the verify-set derivation AND the verify join
        .localCheckpoint(eager=False)
    )
    # exact-verify hash sets for candidate docs ONLY — identical sets
    # to a with_hash_set signature pass (same shingles, same hash64),
    # but the per-doc distinct-collect runs on the candidate subset
    from ..functions.text import hash64

    cand_docs = batch.join(
        cands.select(id_col).distinct(), id_col
    )
    cand_sh = doc_shingles(cand_docs, text_col, MINHASH_SHINGLE_N,
                           id_col=id_col)
    arriving = (
        cand_sh.select(id_col, hash64(F.col("shingle")).alias("__h"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("__h")).alias("s1"))
        .withColumn("n1", F.size("s1").cast("long"))
    )
    inter = F.size(F.array_intersect(F.col("s1"), F.col("shset")))
    jac = inter / (F.col("n1") + F.col("n") - inter)
    dup_ids = (
        cands.join(arriving, id_col)
        .join(index_sets, "index_id")
        .where(jac >= tau)
        .select(id_col)
        .distinct()
    )
    return batch.join(dup_ids, id_col, "left_anti")


def stream_dedup_minhash(
    df: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    sink,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau: float = MINHASH_DEDUP_TAU,
    index_fps: DataFrame | None = None,
):
    """Ingest-time NEAR-duplicate suppression against an existing
    corpus — the live counterpart of the batch minhash-LSH dedup,
    completing the streaming dedup family (exact → span → near-dup).

    Shape: ``foreachBatch``. Cross-doc near-dup detection needs an
    LSH candidate join plus a per-doc verify aggregation — two
    operations Structured Streaming cannot chain inside one stateful
    query (stream-static anti-join on band rows keeps a doc if ANY
    band misses; the required ALL-bands-checked + verify semantics
    need a doc-level reduction after the join). ``foreachBatch``
    gives each microbatch full batch semantics, which is the
    standard production shape for "dedup the firehose against the
    lake": arriving docs are signatured and verified against the
    static index (see ``minhash_dedup_batch``), and only survivors
    reach ``sink(kept_df, epoch_id)``.

    The returned ``DataStreamWriter`` is unstarted — callers attach
    options/checkpointing and ``.start()``. New-vs-new duplicates
    WITHIN the stream are the exact gate's job (chain
    ``stream_dedup_exact`` upstream; near-dup among in-flight docs
    requires periodically folding survivors into the index — the
    documented refresh loop, same as any lakehouse dedup).
    """

    def _process(batch: DataFrame, epoch_id: int) -> None:
        sink(
            minhash_dedup_batch(
                batch, index_bands, index_sets,
                text_col=text_col, id_col=id_col, tau=tau,
                index_fps=index_fps,
            ),
            epoch_id,
        )

    return df.writeStream.foreachBatch(_process)


def embedding_index(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch-built IVF index for ingest-time SEMANTIC near-dup
    suppression — the embedding-space sibling of ``minhash_index``
    (SemDeDup at the door instead of over the lake). Returns
    ``(cents, indexed)``: the fitted centroid table and the corpus
    vectors with their cell and hoisted norm.

    Cells default to the batch SemDeDup sizing (∝ corpus size,
    clamped), and the build FAILS LOUDLY if any cell exceeds
    ``SEMANTIC_BUCKET_CAP`` members — an oversized cell would turn
    every microbatch's candidate join quadratic; the answer is more
    cells, not a bigger cap (the same contract as the batch pair
    kernel). At corpus scale the caller writes ``indexed`` once,
    bucketed by cell, and streams against the re-read table.
    """
    from pyspark.sql.window import Window

    from ..functions.similarity import l2_norm, rankable_norm
    from ..queries.dedupq import (
        SEMANTIC_BUCKET_CAP, ivf_assign_np, ivf_fit, semantic_cell_count,
    )

    # sel feeds the sizing count, the fit's seed + Lloyd passes AND
    # the final assignment — lazy localCheckpoint materializes the
    # (possibly derived) corpus pipeline once (invariant 9).
    # NULL/degenerate-norm vectors drop at entry via rankable_norm
    # (invariant 20, batch-family contract): NULLs crash the
    # fit/assign kernels, zero norms have no defined cosine, and a
    # NaN/Inf-norm index vector would poison every same-cell
    # comparison (NaN > 0 is TRUE — a bare `> 0` filter KEEPS it)
    sel = (
        vecs.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .where(rankable_norm(l2_norm(F.col(vec_col))))
        .localCheckpoint(eager=False)
    )
    if cells is None:
        cells = semantic_cell_count(sel.count())
    cents = ivf_fit(sel, cells)
    wc = Window.partitionBy("cell").orderBy(id_col)
    indexed = (
        ivf_assign_np(sel, cents)
        .withColumn("v_norm", l2_norm(F.col(vec_col)))
        .withColumn("__cn", F.row_number().over(wc))
        .where(
            F.assert_true(
                F.col("__cn") <= SEMANTIC_BUCKET_CAP,
                F.lit(
                    "embedding_index: cell exceeds SEMANTIC_BUCKET_CAP="
                    f"{SEMANTIC_BUCKET_CAP}; fit more cells so the "
                    "per-microbatch candidate join stays bounded"
                ),
            ).isNull()
        )
        .drop("__cn")
        .select(
            F.col(id_col).alias("index_id"),
            F.col(vec_col).alias("index_emb"),
            F.col("v_norm").alias("index_norm"),
            "cell",
        )
    )
    return cents, indexed


def embedding_dedup_batch(
    batch: DataFrame,
    cents: DataFrame,
    indexed: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One microbatch of semantic near-dup suppression: assign
    arriving vectors to their IVF cell (Arrow argmin kernel —
    identical cells to the oracle's argmin), join the index WITHIN
    the cell only, hoisted-norm cosine ≥ tau drops the doc. Pure
    batch ops for ``foreachBatch``; the index side is never
    re-fitted or re-assigned. Boundary semantics match batch
    SemDeDup: a near-dup pair straddling a Voronoi boundary is
    tolerated by design (deterministic partition, not exact NN)."""
    from ..functions.similarity import l2_norm, rankable_norm
    from ..queries.dedupq import ivf_assign_np

    # batch feeds the assignment AND the final left-anti — one
    # materialization per trigger (invariant 9)
    batch = batch.localCheckpoint(eager=False)
    assigned = ivf_assign_np(
        batch.select(id_col, vec_col), cents
    ).withColumn("v_norm", l2_norm(F.col(vec_col)))
    # a degenerate-norm arrival (zero OR NaN/Inf — invariant 20)
    # has no defined cosine, so it can never be a dup: it skips
    # the candidate kernel and passes the gate via the left_anti
    # below. A bare `> 0` here would KEEP a NaN-norm arrival
    # (NaN > 0 is TRUE) whose NaN cosine satisfies `>= tau`
    # under NaN-greatest ordering — silent suppression (r9
    # advice, streaming twin of the nonfinite_vec probe class).
    # r10: the same-cell compare is the cell-grouped Arrow kernel
    # (each vector crosses Arrow once per trigger; the join+fold it
    # replaces evaluated an interpreted 64-op HOF per candidate pair
    # — the dominant per-trigger cost at the measured ~8k vecs/s)
    dup_ids = _cell_dup_ids_np(
        assigned.where(rankable_norm(F.col("v_norm"))),
        indexed, tau, id_col, vec_col,
    )
    return batch.join(dup_ids, id_col, "left_anti")


def _cell_dup_ids_np(
    arrivals: DataFrame,
    indexed: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrival ids with ANY same-cell index cosine ≥ tau, as one
    cell-cogrouped Arrow stage — the gate twin of the batch family's
    ``bucketed_topk_np`` (r10). Bit-exact to the join+fold form it
    replaces: the bipartite dot block accumulates DIM-SEQUENTIALLY
    (the zip_with/aggregate fold's add order) and divides by the
    same hoisted-norm product, so the ``>= tau`` boundary decision
    is the identical double on both shapes (pinned by
    tests/test_streaming.py::test_stream_dedup_embedding_matches_jvm_model,
    which drives the gate end-to-end against an independent JVM
    join+fold model). Arrivals chunk in-kernel (1024 rows) so
    the block stays ≤ chunk × SEMANTIC_BUCKET_CAP doubles per task
    regardless of arrival skew into one cell.

    ``cogroup`` needs each side clustered by cell independently, so
    an index table WRITTEN bucketed by cell satisfies its side with
    zero exchange and each trigger shuffles only the arriving batch
    (plan-pinned in tests/test_plans.py); a plain index is shuffled
    with the arrivals (PERF.md, "One embedding-gate kernel")."""
    import numpy as np
    import pandas as pd

    from ..functions.similarity import stack_f64

    def gate(key, apdf, ipdf):
        if not len(apdf) or not len(ipdf):
            return pd.DataFrame({id_col: []}).astype({id_col: "int64"})
        pids = ipdf["index_id"].to_numpy()
        P = stack_f64(list(ipdf["index_emb"]), pids, "_cell_dup_ids_np")
        pn = ipdf["index_norm"].to_numpy(dtype=np.float64)
        out = []
        for lo in range(0, len(apdf), 1024):
            sub = apdf.iloc[lo:lo + 1024]
            ids = sub[id_col].to_numpy()
            V = stack_f64(list(sub[vec_col]), ids, "_cell_dup_ids_np")
            if V.shape[1] != P.shape[1]:
                raise ValueError(
                    f"_cell_dup_ids_np: arrival dims {V.shape[1]} != "
                    f"index dims {P.shape[1]} in cell {key} — arrivals "
                    "must match the index embedding dimensionality"
                )
            vn = sub["v_norm"].to_numpy(dtype=np.float64)
            acc = np.zeros((len(ids), len(pids)))
            for d in range(V.shape[1]):
                acc += V[:, d, None] * P[None, :, d]
            cos = acc / (vn[:, None] * pn[None, :])
            out.append(ids[(cos >= tau).any(axis=1)])
        dup = np.concatenate(out) if out else np.array([], dtype=np.int64)
        return pd.DataFrame({id_col: dup})

    return (
        arrivals.select("cell", id_col, vec_col, "v_norm")
        .groupBy("cell")
        .cogroup(
            indexed.select("cell", "index_id", "index_emb", "index_norm")
            .groupBy("cell")
        )
        .applyInPandas(gate, f"{id_col} bigint")
    )


def stream_dedup_embedding(
    df: DataFrame,
    cents: DataFrame,
    indexed: DataFrame,
    sink,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float | None = None,
):
    """Ingest-time SEMANTIC near-duplicate suppression against an
    existing embedded corpus — SemDeDup as a door gate: an arriving
    vector whose cosine against any same-cell index vector reaches
    ``tau`` (default: the batch ``COSINE_TAU``) never lands.

    Same ``foreachBatch`` shape and rationale as
    ``stream_dedup_minhash`` (cell-candidate join + per-doc verify
    can't chain inside one stateful streaming query); the returned
    ``DataStreamWriter`` is unstarted. New-vs-new semantic dups
    within the stream await the periodic index refresh, exactly like
    the minhash gate documents.
    """
    from ..queries.dedupq import COSINE_TAU

    tau_v = COSINE_TAU if tau is None else tau

    def _process(batch: DataFrame, epoch_id: int) -> None:
        sink(
            embedding_dedup_batch(
                batch, cents, indexed, tau_v, id_col=id_col, vec_col=vec_col
            ),
            epoch_id,
        )

    return df.writeStream.foreachBatch(_process)
