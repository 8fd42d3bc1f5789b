"""Deduplication primitives for LLM-scale corpora.

All variants are pure DataFrame plans (no Python in the hot path):

- exact:    md5 fingerprint of normalized text → hash groupBy.
- shingles: word n-grams via ``transform`` over the token array.
- minhash:  K salted 60-bit hashes (md5-derived, engine-portable),
            ``min`` per doc per permutation after an explode —
            one shuffle on doc_id; LSH bands = md5 of r signature
            slots; candidates = docs sharing a (band_idx, band_key).
- simhash:  per-bit weighted vote over token hashes, reassembled to
            a 32-bit value with band columns for hamming bucketing.

Scale: candidate generation is linear in Σ shingles (explode), the
band join distributes on (band_idx, band_key) — never an n² compare;
exact-jaccard verification runs only on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import hash64, tokens

__all__ = [
    "grams", "shingles", "doc_shingles", "minhash_signature",
    "minhash_signature_np",
    "lsh_band_rows", "lsh_band_pairs", "simhash32", "P61", "perm_coeffs",
    "connected_components", "connected_components_star",
    "connected_components_hybrid", "incremental_dedup_exact",
    "NUM_PERM", "BANDS", "LSH_BUCKET_CAP",
    "lsh_collision_probability", "near_dup_pairs",
]

P61 = (1 << 61) - 1  # Mersenne prime modulus for minhash permutations
_LO_MASK = (1 << 30) - 1

# ---------------------------------------------------------------------------
# The LSH tuning surface (r9: public knobs; previously module-private
# constants in queries/dedupq). A pair with Jaccard similarity s
# shares at least one of b bands of r signature slots with
# probability  P(s) = 1 - (1 - s^r)^b  — an S-curve whose inflection
# sits near (1/b)^(1/r). The knobs trade recall against candidate
# volume:
#
#   - r (= num_perm // bands) sets the curve's STEEPNESS: larger r
#     suppresses low-similarity pairs harder (collision ~ s^r), which
#     is what keeps candidate counts near-linear in corpus size. The
#     r=2 default looked fine at sf0.1 but was a SCALE BUG: ~s² band
#     collisions made pairs grow quadratically (sf1 probe: 10× docs →
#     98× pairs → dedup_clusters 15× wall). r=4 fixed it (PERF.md r4).
#   - bands sets RECALL at the target similarity: with r=4, 16 bands
#     give P(0.7) = 1-(1-0.7⁴)^16 ≈ 98.9%, the standard operating
#     point; 8 bands would drop it to ~89%.
#   - bucket_cap bounds the m²/2 pair expansion of a single bucket:
#     buckets that outgrow it at corpus scale are boilerplate/
#     templated content (byte-identical copies are exact dedup's
#     job). Raising it buys nothing at the tail — finer shingles or
#     more r is the real knob.
#
# Defaults below are the catalog's published operating point; every
# function takes them as parameters, and the oracle twins
# (queries/dedupq.py::_sql_sig/_sql_bands) accept the same (num_perm,
# bands) so any setting is parity-testable (tests/test_lsh_knobs.py
# pins a second setting end-to-end).
NUM_PERM = 64
BANDS = 16
LSH_BUCKET_CAP = 128  # drop boilerplate mega-buckets (cf. NGRAM_DF_CAP)


def lsh_collision_probability(s: float, bands: int, r: int) -> float:
    """P(a pair with Jaccard similarity ``s`` becomes an LSH
    candidate) = 1 - (1 - s**r)**bands. Use to size (bands, r) for a
    target recall at a target similarity before running anything."""
    return 1.0 - (1.0 - s ** r) ** bands


def perm_coeffs(num_perm: int) -> list[tuple[int, int, int]]:
    """Deterministic (a, c, b) coefficients for the permutation family
    h_i = (a*h_lo + c*h_hi + b) mod P61 — one base md5 hash per
    shingle, num_perm cheap arithmetic permutations derived from it.
    Coefficients are inlined into the DuckDB oracle, so parity is by
    construction."""
    import random

    rnd = random.Random(20240813)
    return [
        (rnd.randrange(1, 1 << 31) | 1, rnd.randrange(1, 1 << 31) | 1, rnd.randrange(P61))
        for _ in range(num_perm)
    ]


def grams(tok_col: Column, n: int) -> Column:
    """All overlapping word n-grams (space-joined, WITH multiplicity,
    in document order) from a token array.

    Built from ``slice`` + ``zip_with`` chains: the token expression
    is evaluated O(n) times per ROW. (A ``transform`` over an index
    sequence with ``element_at`` re-evaluates the token expression
    per ELEMENT — higher-order lambdas get no subexpression
    elimination — which is quadratic in document length.)
    """
    if n == 1:
        return tok_col
    cnt = F.size(tok_col) - (n - 1)
    out = F.slice(tok_col, 1, cnt)
    for k in range(1, n):
        out = F.zip_with(
            out, F.slice(tok_col, k + 1, cnt), lambda g, t: F.concat(g, F.lit(" "), t)
        )
    return F.when(F.size(tok_col) >= n, out).otherwise(
        F.array().cast("array<string>")
    )


def shingles(tok_col: Column, n: int) -> Column:
    """Distinct word n-grams (space-joined) from a token array."""
    return F.array_distinct(grams(tok_col, n))


def doc_shingles(docs: DataFrame, text_col: str, n: int, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) exploded view — the unit of candidate generation.

    Shingling fans each row out ~|tokens|×, so an under-parallel
    input (single-row-group files) is redistributed first; a scan
    that already carries ≥ defaultParallelism partitions passes
    through with no exchange — repartitioning a full-scale corpus
    ahead of a narrow explode would move all the data for nothing.
    """
    from .core import ensure_fanout_parallelism, expr_cache

    cache = expr_cache()
    key = ("doc_shingles", text_col, n)
    col = cache.get(key)
    if col is None:
        col = F.explode(shingles(tokens(F.col(text_col)), n)).alias("shingle")
        cache[key] = col
    return ensure_fanout_parallelism(docs, by=id_col).select(F.col(id_col), col)


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS rolling-hash scheme): hash every k-token
    gram, slide a w-hash window over the gram sequence, select each
    window's minimum hash; the distinct selected hashes are the
    document's fingerprint set. Guarantee: any shared token run of
    length ≥ w+k-1 between two documents produces at least one
    shared fingerprint — the local, position-robust complement to
    the whole-document md5 fingerprint.

    Returns distinct ``(id_col, fp)`` rows. One shuffle on the id
    (the per-document window sort — bounded by document length,
    never corpus-wide); the gram hash is the portable md5-based
    ``hash64`` so the DuckDB oracle reproduces fp values exactly.
    """
    from pyspark.sql.window import Window

    from .core import ensure_fanout_parallelism

    g = (
        ensure_fanout_parallelism(docs, by=id_col)
        .select(
            F.col(id_col),
            F.posexplode(grams(tokens(F.col(text_col)), k)).alias(
                "pos", "gram"
            ),
        )
        .select(id_col, "pos", hash64(F.col("gram")).alias("h"))
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    full = Window.partitionBy(id_col)
    sel = g.select(
        F.col(id_col),
        "pos",
        F.min("h").over(win).alias("fp"),
        F.count("*").over(full).alias("__n"),
    ).where(F.col("pos") <= F.col("__n") - w)  # full windows only
    return sel.select(id_col, "fp").distinct()


def minhash_signature(
    exploded: DataFrame,
    num_perm: int,
    id_col: str = "doc_id",
    with_hash_set: bool = False,
) -> DataFrame:
    """num_perm min-hashes per id from an exploded (id, shingle) view.

    One md5-derived 60-bit base hash per shingle; each permutation is
    (a*h_lo + c*h_hi + b) mod 2^61-1 — pure arithmetic, no further
    md5. One groupBy(id) with num_perm ``min`` aggregates — map-side
    partial agg keeps the shuffle at |ids| × num_perm values.

    ``with_hash_set=True`` additionally collects the distinct base
    hashes per id as ``__shset`` IN THE SAME aggregation — callers
    that need both the LSH signature and the exact-verify hash sets
    (minhash_lsh_topk) then shingle/hash/shuffle ONCE instead of
    running two parallel pipelines over the corpus.
    """
    from .core import expr_cache

    with_h = exploded.withColumn("__h", hash64(F.col("shingle")))
    cache = expr_cache()
    key = ("sig_aggs", num_perm, with_hash_set)
    aggs = cache.get(key)
    if aggs is None:
        hlo = F.col("__h").bitwiseAND(F.lit(_LO_MASK))
        hhi = F.shiftright(F.col("__h"), 30)
        aggs = [
            F.min(F.pmod(F.lit(a) * hlo + F.lit(c) * hhi + F.lit(b), F.lit(P61))).alias(f"h{i}")
            for i, (a, c, b) in enumerate(perm_coeffs(num_perm))
        ]
        if with_hash_set:
            # collect_set dedups INSIDE the partial-agg buffer (smaller
            # shuffle rows, no post-hoc array_distinct scan); the sort
            # gives a deterministic order, and every consumer treats
            # __shset as a SET (array_intersect sizes) — measured ~25%
            # off the signature stage vs array_distinct∘collect_list (r8)
            aggs.append(F.array_sort(F.collect_set("__h")).alias("__shset"))
        cache[key] = aggs
    return with_h.groupBy(id_col).agg(*aggs)


def minhash_signature_np(
    exploded: DataFrame,
    num_perm: int,
    id_col: str = "doc_id",
    with_hash_set: bool = True,
) -> DataFrame:
    """Arrow/numpy twin of ``minhash_signature(with_hash_set=True)``
    for PARTITION-LOCAL exploded views — identical (id, h0..h{K-1},
    __shset) rows (row-equality-pinned against the JVM aggregation,
    invariant 22). The JVM form evaluates num_perm pmod expressions
    and updates num_perm+1 agg buffers PER SHINGLE ROW — the dominant
    per-trigger cost of the streaming minhash gate (1.65 s of a
    ~4.3 s trigger at 50k docs — PERF.md, "Round 11: the minhash
    ingest gate"); here each Arrow batch computes the whole
    (rows × num_perm) permutation block in ~3·num_perm vector ops and
    reduces per-doc with one cython groupby-min.

    Exactness: the base hash stays the JVM md5 ``hash64`` (computed
    in-plan before the kernel); the permutation algebra
    (a·h_lo + c·h_hi + b) mod P61 is int64-exact in numpy (operands
    < 2^61, sum < 3·2^61 < 2^63, ``%`` on non-negatives == pmod),
    and the hash set is the same sorted-distinct list as
    ``array_sort(collect_set)``.

    CONTRACT: all rows of one id must live in ONE partition — the
    shape every narrow explode (``doc_shingles`` over a source/
    checkpointed frame) produces. The kernel merges per-id state
    across Arrow batches WITHIN a partition and emits one row per id
    at partition end; an id straddling partitions would emit partial
    signatures (duplicate id rows downstream). Inputs that have been
    re-shuffled on another key belong on ``minhash_signature``.
    Per-partition state is O(ids × (num_perm + distinct hashes))
    int64s — bounded by the partition's doc count."""
    import numpy as np
    import pandas as pd

    coeffs = perm_coeffs(num_perm)
    with_h = exploded.select(
        F.col(id_col), hash64(F.col("shingle")).alias("__h")
    )

    def run(batches):
        A = np.array([a for a, _, _ in coeffs], dtype=np.int64)
        C = np.array([c for _, c, _ in coeffs], dtype=np.int64)
        B = np.array([b for _, _, b in coeffs], dtype=np.int64)
        sigs: dict = {}
        hsets: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["__h"].to_numpy(dtype=np.int64)
            hlo = h & _LO_MASK
            hhi = h >> 30
            M = (hlo[:, None] * A[None, :] + hhi[:, None] * C[None, :]
                 + B[None, :]) % P61
            mf = pd.DataFrame(M)
            mf.insert(0, "__id", pdf[id_col].to_numpy(dtype=np.int64))
            mins = mf.groupby("__id", sort=False).min()
            for did, row in zip(mins.index.to_numpy(),
                                mins.to_numpy(dtype=np.int64)):
                prev = sigs.get(did)
                sigs[did] = row if prev is None else np.minimum(prev, row)
            if with_hash_set:
                hf = pd.DataFrame({"__id": mf["__id"], "__h": h})
                for did, grp in hf.groupby("__id", sort=False)["__h"]:
                    hsets.setdefault(did, []).append(grp.to_numpy())
        if sigs:
            ids = np.array(list(sigs), dtype=np.int64)
            out = {id_col: ids, "sig": [sigs[i] for i in ids]}
            if with_hash_set:
                out["__shset"] = [
                    np.unique(np.concatenate(hsets[i])) for i in ids
                ]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, sig array<long>"
    cols = [F.col("sig")[i].alias(f"h{i}") for i in range(num_perm)]
    if with_hash_set:
        schema += ", __shset array<long>"
        cols.append(F.col("__shset"))
    raw = with_h.mapInPandas(run, schema)
    return raw.select(id_col, *cols)


def lsh_band_rows(
    sig: DataFrame, num_perm: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band_idx, band_key) rows from a minhash signature frame —
    the shared banding step behind both the self-join candidate
    pairing (``lsh_band_pairs``) and bipartite probes (train-vs-eval
    decontamination). Band key = xxhash64 of the band's
    r=num_perm/bands signature slots — native JVM hash, 8-byte
    shuffle keys, EQUALITY semantics only (the DuckDB oracle's md5
    keys bucket identically; CLAUDE.md invariant 12)."""
    from .core import expr_cache

    r = num_perm // bands
    cache = expr_cache()
    key = ("band_explode", num_perm, bands)
    col = cache.get(key)
    if col is None:
        col = F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.xxhash64(
                        *[F.col(f"h{b * r + k}") for k in range(r)]
                    ).alias("band_key"),
                )
                for b in range(bands)
            ])
        ).alias("band")
        cache[key] = col
    return sig.select(F.col(id_col), col).select(
        id_col, "band.band_idx", "band.band_key"
    )


def lsh_band_pairs(
    sig: DataFrame,
    num_perm: int,
    bands: int,
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band (distinct id1<id2 pairs).

    Band key = xxhash64 of the band's r=num_perm/bands signature
    slots — native JVM hash, 8-byte shuffle keys (the r3 md5-of-
    concat-string keys cost 16 string builds + md5 per doc and 32-
    char shuffle keys). Band keys carry EQUALITY semantics only, so
    the DuckDB oracle's md5 keys bucket identically: the output
    pairs can differ only through a 64-bit collision between
    different slot tuples in one engine (~bands²/2^65 ≈ 1e-10 at
    bench scale).
    Shape: groupBy (band_idx, band_key) collecting the (small, by the
    LSH property) member list per bucket, then expand pairs inside
    the bucket array — ONE pass over the signature pipeline and one
    hash shuffle, where a self-join would evaluate the whole upstream
    twice (Spark reuses exchanges only for identical subplans, which
    join aliasing defeats) and shuffle both sides.

    ``bucket_cap`` drops buckets with more than that many members —
    a bucket of m docs emits m²/2 pairs, and at corpus scale the only
    buckets that grow that large are boilerplate/templated content
    (the same defense as the n-gram DF cap). None = uncapped.
    """
    band_rows = lsh_band_rows(sig, num_perm, bands, id_col)
    buckets = (
        band_rows.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if bucket_cap is not None:
        buckets = buckets.where(F.size("ids") <= bucket_cap)
    # all ordered pairs within the bucket: ids is sorted, so pairing
    # each element with its suffix gives id1 < id2
    from .core import expr_cache

    cache = expr_cache()
    pairs = cache.get(("band_pairs_expr",))
    if pairs is None:
        pairs = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                ),
            )
        )
        cache[("band_pairs_expr",)] = pairs
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .distinct()
    )


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    shingle_n: int = 2,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    tau: float | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, end to end, with the tuning
    surface exposed: shingles → signature → banded candidates
    [→ exact hashed-shingle Jaccard verify when ``tau`` is given].

    Returns (id1, id2) candidate pairs (id1 < id2), plus ``jaccard``
    when ``tau`` is set (pairs with jaccard ≥ tau only). The catalog's
    ``dedup_minhash`` is exactly this composition at the default
    knobs; size non-default knobs with ``lsh_collision_probability``
    — candidate volume scales with the collision curve at the
    corpus's actual similarity mass, so steeper (larger r) settings
    are the remedy when candidates outgrow the cluster, and more
    bands the remedy when recall at the target similarity is short.

    Scale shape is the catalog entry's: one shingle explode, one
    groupBy(doc_id) signature agg (small-buffer — callers on a hot
    path may build ``docs`` via ``session.oha_session``), one
    (band_idx, band_key) shuffle with the bucket cap bounding the m²
    expansion, and (with ``tau``) per-candidate in-row
    array_intersect verification — never a shingle⨝shingle join.
    ``num_perm`` must be divisible by ``bands``.
    """
    if num_perm % bands:
        raise ValueError(
            f"near_dup_pairs: num_perm={num_perm} not divisible by "
            f"bands={bands} (r = num_perm // bands signature slots "
            "per band must be exact)"
        )
    sh = doc_shingles(docs, text_col, shingle_n, id_col=id_col)
    sig = minhash_signature(
        sh, num_perm, id_col=id_col, with_hash_set=tau is not None
    )
    if tau is None:
        return lsh_band_pairs(
            sig, num_perm, bands, id_col=id_col, bucket_cap=bucket_cap
        )
    # signature feeds banding AND both verify sides — materialize
    # once (invariant 9; same discipline as minhash_lsh_topk)
    sig = sig.localCheckpoint(eager=False)
    cands = lsh_band_pairs(
        sig, num_perm, bands, id_col=id_col, bucket_cap=bucket_cap
    )
    sets = sig.select(
        F.col(id_col), F.col("__shset").alias("shset"),
        F.size("__shset").cast("long").alias("n"),
    )
    s1 = sets.select(
        F.col(id_col).alias("id1"), F.col("shset").alias("s1"),
        F.col("n").alias("n1"),
    )
    s2 = sets.select(
        F.col(id_col).alias("id2"), F.col("shset").alias("s2"),
        F.col("n").alias("n2"),
    )
    inter = F.size(F.array_intersect(F.col("s1"), F.col("s2")))
    return (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1", "id2",
            (inter / (F.col("n1") + F.col("n2") - inter)).alias("jaccard"),
        )
        # one division of integer sizes — engine-identical, so a
        # >= tau cut needs no rounding (CLAUDE.md invariant 2)
        .where(F.col("jaccard") >= tau)
    )


def simhash32(exploded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """32-bit simhash per id from an exploded (id, shingle) view.

    For each bit b: vote +1/−1 by token-hash bit b (token multiplicity
    weighted), set bit where the vote is positive. 32 conditional-sum
    aggregates in a single groupBy — one shuffle.
    """
    h = hash64(F.col("shingle"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(32)
    ]
    voted = exploded.groupBy(id_col).agg(*votes)
    value = None
    for b in range(32):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        value = bit if value is None else value + bit
    return voted.select(F.col(id_col), value.alias("simhash"))


def _min_label_rounds(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> tuple[DataFrame, int]:
    """Min-label propagation with pointer jumping; returns
    ``(labels, changed)`` where ``labels`` is (node, cluster_id) and
    ``changed`` is the label-change count of the LAST round — 0 means
    the labeling is a fixpoint and therefore the exact component-min
    labeling; nonzero means ``labels`` is a partial labeling (still
    component-pure: every label is a node of the same component,
    ≤ the node it labels — the contraction invariant hybrid CC needs).

    Each round every node takes ``min(own label, neighbor labels)``;
    a round is one shuffle-join edges⨝labels plus one groupBy — both
    hash-partitioned on node id. Labels only DECREASE (mins with
    same-component node ids), so ``changed == 0`` means the labeling
    is constant along every edge — exact.

    Each round is ONE job: the round's frames are LAZY
    ``localCheckpoint``s whose materialization rides the convergence
    count — an eager checkpoint plus a separate count would scan the
    round's output twice. The input edge frame is materialized once
    up front: it feeds both union branches of the symmetrized view
    (and callers pass arbitrarily expensive upstreams, e.g. the whole
    minhash pipeline — without the checkpoint each branch re-runs
    it). Driver-side loop control (the per-round count) is metadata,
    not data: no row set ever reaches the driver. On a real cluster
    use a checkpoint dir so state survives executor loss.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.localCheckpoint(eager=False)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=False)
    # seed with min(self, direct neighbors) — one groupBy that IS the
    # first propagation round, so the loop starts a hop ahead
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("__mn"))
        .select("node", F.least(F.col("node"), F.col("__mn")).alias("label"))
        .localCheckpoint(eager=False)
    )
    changed = -1
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the old label through the same select so convergence
        # detection is a filter over the checkpointed frame, not an
        # extra old⨝new join per round
        stepped = (
            labels.join(nbr, labels["node"] == nbr["node2"], "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.where(F.col("label") != F.col("__old")).count()
        labels = stepped.drop("__old")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id")), changed


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list: the cluster
    step of a dedup pipeline (dup PAIRS → dup GROUPS, from which one
    canonical doc per group survives).

    Returns (node, cluster_id) with ``cluster_id`` = the minimum node
    id in the component — a canonical, engine-independent labeling.

    Algorithm: iterative min-label propagation. Each round every node
    takes ``min(own label, neighbor labels)``; a round is one
    shuffle-join edges⨝labels plus one groupBy — both hash-partitioned
    on node id — materialized as one job (see ``_min_label_rounds``).
    Converges in ≤ diameter rounds (dup clusters are near-cliques, so
    2-3 in practice); iteration stops early the first round nothing
    changes.
    """
    labels, changed = _min_label_rounds(edges, src, dst, max_iter)
    if changed != 0:
        # returning intermediate labels would be silently WRONG (and
        # would fail the oracle's exact transitive closure) — make
        # non-convergence loud instead
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); the graph has a "
            "longer chain than expected — raise max_iter, or use "
            "connected_components_hybrid/_star for deep topologies"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (the published MapReduce CC algorithm — Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Same
    output contract as ``connected_components``: (node, cluster_id)
    with cluster_id = min node id in the component.

    Scale rationale (SURVEY §7c.3): min-label propagation moves
    labels ONE hop per round, so a path-shaped component needs
    diameter/2 rounds; the star operations rewire the edge set itself
    toward component-min hubs and converge in O(log²) rounds on any
    topology. Each half-round is one groupBy-min plus one shuffle
    join, all hash-partitioned on node id — no collect_list of
    neighborhoods, so hot hubs never materialize a giant array.
    Every round is localCheckpoint-ed to cut lineage (use a real
    checkpoint dir on a cluster). The converged labeling is verified
    with one final propagation step — exactness is asserted, never
    assumed.
    """
    ab = ("a", "b")

    def canon(e: DataFrame) -> DataFrame:
        # undirected edge set, canonical (large, small), no loops
        return (
            e.select(
                F.greatest(*ab).alias("a"), F.least(*ab).alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        # for every center u: all LARGER neighbors point to
        # m = min(Γ(u) ∪ {u})
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("__mn"))
            .select("a", F.least("a", "__mn").alias("m"))
        )
        return (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # edges directed large→small; every center u re-points its
        # smaller neighbors (and itself) at m = min neighbor
        d = canon(e)
        mins = d.groupBy("a").agg(F.min("b").alias("m"))
        joined = d.join(mins, "a")
        return (
            joined.select(F.col("a"), F.col("m").alias("b"))
            .union(
                joined.where(F.col("b") != F.col("m")).select(
                    F.col("b").alias("a"), F.col("m").alias("b")
                )
            )
        )

    # LAZY checkpoints throughout: each round's signature aggregate is
    # the action that materializes that round's edge set — one job per
    # round, where an eager checkpoint plus a separate signature
    # collect scanned every round's output twice. The input frame is
    # materialized ONCE up front: the node-universe union and the
    # final fixpoint guard below reference it three more times, and
    # callers pass arbitrarily expensive upstreams.
    e0 = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    cur = canon(e0).localCheckpoint(eager=False)
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        cur = canon(small_star(large_star(cur))).localCheckpoint(eager=False)
        sig = cur.agg(
            F.count("*").alias("n"),
            # order-independent set checksum; XOR can't overflow
            F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not stabilize within "
            f"max_iter={max_iter} rounds"
        )
    # converged edges are (node, component-min) stars; nodes the
    # canonicalization dropped (self-loop-only, singleton components)
    # come back from the original node universe labeled as themselves
    orig_nodes = (
        e0.select(F.col("a").alias("node"))
        .union(e0.select(F.col("b").alias("node")))
        .distinct()
    )
    labels = (
        cur.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("cluster_id"))
        .union(cur.select(F.col("b").alias("node"), F.col("b").alias("cluster_id")))
        .union(orig_nodes.select("node", F.col("node").alias("cluster_id")))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint(eager=False)  # materialized by the guard count below
    )
    # exactness guard: one min-label propagation round over the
    # ORIGINAL edges must be a fixpoint of this labeling
    sym = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nbr = (
        sym.join(labels, sym["b"] == labels["node"])
        .groupBy(F.col("a").alias("node2"))
        .agg(F.min("cluster_id").alias("nbr_min"))
    )
    violations = (
        labels.join(nbr, labels["node"] == nbr["node2"])
        .where(F.col("nbr_min") < F.col("cluster_id"))
        .count()
    )
    if violations:
        raise RuntimeError(
            f"connected_components_star: {violations} labels below "
            "fixpoint after convergence — star rounds produced an "
            "inconsistent labeling"
        )
    return labels


EDGES_PER_UF_TASK = 5_000_000  # ~dozens of MB of int64 pairs per task
# parallelism floor for the contraction: without it a 9.5M-edge graph
# runs 2 union-find tasks on a 32-core box (r10 sf30 probe); tasks
# smaller than this are pure scheduling overhead
MIN_EDGES_PER_UF_TASK = 250_000
# iterated-contraction bound: each pass's output rows = unique nodes
# of its input, so pass 3's input is already at the node floor —
# more passes cannot shrink it (fall through to min-label, which is
# correct over any contraction level)
MAX_CONTRACTION_LEVELS = 4


def _local_union_find(batches):
    """mapInPandas kernel: exact connected components of this
    partition's (a, b) edge subset, emitting the (node, lmin)
    component-min mapping for every node seen — including root
    self-rows, so the contracted pair graph keeps the whole node
    universe.

    Vectorized hash-to-min: remap ids to a dense range (np.unique —
    sorted, so remapped order preserves id order), then iterate
    ``lbl ← min(lbl, neighbor lbl)`` via unbuffered ``np.minimum.at``
    plus a pointer-jump ``lbl ← min(lbl, lbl[lbl])`` until fixpoint —
    O(log d) vectorized passes. Measured 3× faster than a per-edge
    Python union-find loop at the 1M-edge scale one task sees near
    the ``edges_per_task`` cap, identical output."""
    import numpy as np
    import pandas as pd

    chunks = [pdf for pdf in batches if len(pdf)]
    if not chunks:
        return
    a = np.concatenate([c["a"].to_numpy(dtype=np.int64) for c in chunks])
    b = np.concatenate([c["b"].to_numpy(dtype=np.int64) for c in chunks])
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    lbl = np.arange(len(nodes))
    while True:
        old = lbl.copy()
        np.minimum.at(lbl, ia, lbl[ib])
        np.minimum.at(lbl, ib, lbl[ia])
        lbl = np.minimum(lbl, lbl[lbl])
        if np.array_equal(lbl, old):
            break
    out = pd.DataFrame({"node": nodes, "lmin": nodes[lbl]})
    for i in range(0, len(out), 1 << 20):
        yield out.iloc[i:i + (1 << 20)]


def connected_components_hybrid(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    label_rounds: int = 8,
    max_iter: int = 25,
    edges_per_task: int = EDGES_PER_UF_TASK,
) -> DataFrame:
    """Two-phase connected components tuned for dedup graphs. Same
    output contract as the other CC variants: (node, cluster_id),
    cluster_id = component-min node id.

    Phase A — ITERATED partition-local contraction: hash-partition
    the edge list on the source node (task count = edge cap with a
    parallelism floor) and run an in-memory union-find per partition
    (Arrow ``mapInPandas``; union-by-min keeps every root the set
    minimum); each task emits its spanning-forest mapping (node,
    lmin) — a connectivity-EXACT contraction of its edge subset
    (Kiveris et al., SoCC'14 §optimizations). A single multi-task
    pass fragments components that span tasks, so the forest output
    (rows = unique nodes, strictly smaller) is re-contracted until
    it fits ONE task — and a single-task union-find IS the exact
    component-min labeling (≤3 passes in practice; a bounded level
    cap falls through to phase B, which is correct over any level).

    Phase B — min-label propagation over the contracted pair graph
    (one one-job shuffle round per remaining hop, early exit on the
    fixpoint). After an exact phase A this certifies ``changed == 0``
    in one round; a graph that still stalls (level cap hit with
    organic diameter ≫ label_rounds chains) falls back to star CC,
    which is O(log²) rounds on any topology and carries its own
    fixpoint guard.

    Exactness: phase A preserves connectivity exactly (spanning
    forests), union-by-min keeps labels component-pure; phase B's
    ``changed == 0`` IS the fixpoint proof over the contracted graph,
    and the star fallback asserts its own guard — no path returns an
    unverified labeling.

    At driver SFs the whole graph fits one correctly-sized task, so
    phase A is a single job and phase B converges immediately; at
    100 TB the same sizing yields thousands of parallel contraction
    tasks and the iterative rounds only ever see the forest skeleton.
    """
    e_all = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    e = e_all.where(F.col("a") != F.col("b"))
    n_edges = e.count()  # materializes e_all; metadata, not data

    def _uf_tasks(n: int) -> int:
        by_cap = -(-n // edges_per_task)
        par_floor = min(
            e.sparkSession.sparkContext.defaultParallelism,
            -(-n // MIN_EDGES_PER_UF_TASK),
        )
        return max(1, by_cap, par_floor)

    # ITERATED contraction (Kiveris et al., SoCC'14): one union-find
    # pass over a multi-task partitioning fragments a component that
    # spans tasks, and the fragment pair graph can carry diameter the
    # min-label phase then pays for (r10 sf30 probe: 9.5M edges → 2
    # tasks → changed=56 after 8 rounds → 40 s star fallback). Each
    # pass's (node, lmin) forest output is connectivity-exact and
    # strictly smaller (rows = unique nodes of its input), so
    # re-contracting it converges to a SINGLE task in ≤3 passes —
    # and a single-task union-find IS the exact component-min
    # labeling, which the min-label phase then certifies in one
    # round (changed == 0). Every level is lazily checkpointed and
    # materialized by its own metadata count (invariants 10/11).
    level, n_tasks = e, _uf_tasks(n_edges)
    contracted, exact = None, False
    for _ in range(MAX_CONTRACTION_LEVELS):
        contracted = (
            level.repartition(n_tasks, "a")
            .mapInPandas(_local_union_find, schema="node bigint, lmin bigint")
            .localCheckpoint(eager=False)
        )
        m = contracted.count()  # materializes this level
        if n_tasks == 1:
            exact = True  # a single-task contraction is exact
            break
        level = contracted.select(
            F.col("node").alias("a"), F.col("lmin").alias("b")
        )
        n_tasks = _uf_tasks(m)
    # the full node universe rides along as self-rows: self-loop-only
    # nodes never reach the union-find (their edges are filtered) but
    # must come out labeled by themselves — same contract as the
    # other CC variants; for everything else the self-row is absorbed
    # by the min-label seed
    universe = (
        e_all.select(F.col("a").alias("node"))
        .union(e_all.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("lmin"))
    )
    if exact:
        # the loop broke because the LAST contraction ran as ONE task:
        # a single-task union-find over the whole (possibly already
        # level-contracted) edge set IS the exact component-min
        # labeling — every level preserves connectivity and node
        # coverage, so the final mapping composes exactly. Phase B
        # here would only re-derive changed == 0 through a seed
        # aggregate plus a full propagation round (sym checkpoint,
        # join, groupBy, count — 2-3 jobs of pure fixed overhead on a
        # graph already labeled; r13: 0.3-0.5 s of dedup_clusters'
        # sf0.1 time). Exactness stays pinned by the union-find
        # property tests; multi-task contractions keep the mandatory
        # phase B below.
        return contracted.unionByName(universe).groupBy("node").agg(
            F.min("lmin").alias("cluster_id")
        )
    pairs = contracted.unionByName(universe)
    labels, changed = _min_label_rounds(pairs, "node", "lmin", label_rounds)
    if changed == 0:
        return labels
    return connected_components_star(pairs, "node", "lmin", max_iter=max_iter)


def incremental_dedup_exact(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Ingest-time exact dedup against an existing corpus: from a new
    batch keep only docs whose content fingerprint is (a) not already
    in ``seen_fps`` (column ``fp``) and (b) not duplicated within the
    batch (min id wins). Returns ``(fresh_docs, fresh_fps)`` — append
    ``fresh_fps`` to the seen table after committing ``fresh_docs``.

    This is the day-2 shape of ``dedup_exact``: the corpus-wide
    variant rescans everything; here each ingest touches only
    |batch| + a fingerprint-keyed anti-join against the seen table
    (bucket/partition the seen table by fp prefix on a real lake and
    the lookup co-locates instead of shuffling the batch).

    Precondition: ``id_col`` is UNIQUE and NON-NULL (the universal
    doc-id contract, cf. the dup_rows probe posture elsewhere). It
    matters concretely on the non-orderable-column path:
    non-orderable (e.g. map) columns rejoin on the kept id, so a duplicated id
    would silently duplicate kept rows and a NULL id would drop its
    keeper. Schemas whose columns are all orderable never take that
    join.
    """
    from pyspark.sql import types as T

    from .text import md5_fingerprint

    def _orderable(dt) -> bool:
        # mirrors Catalyst's RowOrdering.isOrderable: maps are not
        # orderable; arrays/structs inherit from their element/fields
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    fp = new_docs.withColumn("__fp", md5_fingerprint(F.col(text_col)))
    # min-id keeper via struct-argmin, NOT a min+join-back: the join
    # back on __fp silently LOST the NULL-fingerprint group (md5 of
    # NULL text; NULL keys never equi-join) while GROUP BY had kept
    # it — the oracle's group-then-not-exists keeps one NULL-fp doc,
    # and so must this (torture-corpus probe, r6). One join fewer too.
    # The struct carries only ORDERABLE columns (min() rejects e.g.
    # MapType at analysis); non-orderable ones join back on the kept
    # id — an id-keyed (unique, non-NULL by contract) join, so the
    # NULL-fp group still survives (ADVICE r6: generality regression
    # vs the old join-back form for map-typed schemas).
    dtypes = {f.name: f.dataType for f in new_docs.schema.fields}
    others = [c for c in new_docs.columns if c != id_col]
    ordered = [c for c in others if _orderable(dtypes[c])]
    unordered = [c for c in others if not _orderable(dtypes[c])]
    batch_first = (
        fp.groupBy("__fp")
        .agg(F.min(F.struct(id_col, *ordered)).alias("__r"))
        .select(
            "__fp",
            F.col(f"__r.{id_col}").alias(id_col),
            *[F.col(f"__r.{c}").alias(c) for c in ordered],
        )
    )
    if unordered:
        batch_first = batch_first.join(
            new_docs.select(id_col, *unordered), id_col, "inner"
        ).select("__fp", id_col, *others)  # restore column order
    # left_anti keeps NULL-__fp rows (no NULL match) — same as the
    # oracle's NOT EXISTS on an equality predicate
    fresh = batch_first.join(
        seen_fps.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
    )
    return fresh.drop("__fp"), fresh.select(F.col("__fp").alias("fp"))
