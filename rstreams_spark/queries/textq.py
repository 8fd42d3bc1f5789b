"""Text-analysis queries over `documents` (SURVEY §2 #19-23).

All JVM-side Catalyst expressions (no UDFs); the oracle SQL mirrors
each expression byte-for-byte in DuckDB's dialect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.core import ensure_fanout_parallelism
from ..functions.text import (
    BPE_ISH_PATTERN, STOPWORDS, bpe_ish_tokens, md5_fingerprint, norm_text,
    token_chunks, tokens,
)
from ._util import SQL_NORM, SQL_TOKS, sql_h64, t

_NORM = SQL_NORM.format(c="text")
_TOKS = SQL_TOKS.format(c="text")

# whitespace-token splitter shared by BOTH engines as an explicit
# character class: Java's \s is [ \t\n\x0B\f\r] but RE2's \s lacks
# vertical tab, so a bare \s+ silently diverges on \x0B-bearing text
# (latent oracle-parity bug; caught in the r4 review pass). The same
# literal works verbatim as a Java regex and a DuckDB/RE2 regex.
WS_PATTERN = r"[ \t\n\x0B\f\r]+"


def _ws_tokens() -> F.Column:
    return F.filter(F.split(F.col("text"), WS_PATTERN), lambda x: x != F.lit(""))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group identical normalized content, mark survivors.

    One shuffle on the 128-bit fingerprint; at 100 TB the fingerprint
    groupBy is the only wide stage and AQE handles hot fingerprints.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; the keeper per
    fingerprint group is the struct-argmin (whole-row, invariant 15)
    """
    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", md5_fingerprint(F.col("text")).alias("fingerprint"))
    groups = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )
    return (
        fp.join(groups, "fingerprint")
        .select(
            "doc_id", "fingerprint", "keep_doc_id", "n_copies",
            (F.col("doc_id") != F.col("keep_doc_id")).alias("is_dup"),
        )
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: NULL text fingerprints as NULL on both engines; the
    60-bit hash is the portable md5 form (invariant 3)
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # heavy per-row scan work: redistribute when under-parallel
    return docs.select(
        "doc_id",
        md5_fingerprint(F.col("text")).alias("fingerprint"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: tokenization uses explicit character classes
    (WS_PATTERN, invariant 14); NULL text counts 0 tokens
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # heavy per-row scan work: redistribute when under-parallel
    ws = F.size(_ws_tokens())
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(F.col("text"))).cast("long").alias("n_bpe_tokens"),
    )


# the exact character sets of text_quality's ratio counts — listed
# out so translate() (per-char table lookup) can count them instead
# of a regex char-class pass; the DuckDB twin keeps the
# length(regexp_replace(...)) form (identical integer counts)
_TQ_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_TQ_DIGIT = "0123456789"
_TQ_SPACE = " \t\n"


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: NULL/empty text scores the defined floor (no divide-by-
    zero: ratios guard the zero-token case identically on both
    engines)

    Shape (r12): TWO stacked projections — integer counts first
    (class counts via length − length(translate(text, set, '')):
    same integers as length(regexp_replace(text, '[^set]', '')), but
    a per-char lookup instead of a regex pass over every document —
    the regex form cost 15.1 s of the stock 23.3 s at sf10), then
    every ratio off those plain count columns. One projection let
    each multi-referenced expensive expression (alpha and the
    stopword HOF feed both their ratio and quality_score; tokens()
    feeds n_toks and the filter) evaluate per reference —
    CollapseProject keeps the split because the lower aliases are
    non-cheap and multi-referenced. Measured min-of-2: sf1
    3.12 → 1.88 s, sf10 23.3 → 2.6 s (the 10.1× sf10 SCALING step
    was the regex passes on the long-document tail). Ratios are the
    identical doubles (same integer inputs, same op order) — A/B
    row-equality asserted at sf0.01/sf1/sf10.
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # heavy per-row scan work: redistribute when under-parallel
    stop = F.array([F.lit(s) for s in STOPWORDS["en"]])
    nlen = F.length("text")
    counts = docs.select(
        "doc_id",
        nlen.alias("__n"),
        (nlen - F.length(F.translate(F.col("text"), _TQ_ALPHA, ""))).alias("__alpha"),
        (nlen - F.length(F.translate(F.col("text"), _TQ_DIGIT, ""))).alias("__digit"),
        (nlen - F.length(F.translate(F.col("text"), _TQ_SPACE, ""))).alias("__space"),
        tokens(F.col("text")).alias("__toks"),
    ).select(
        "doc_id", "__n", "__alpha", "__digit", "__space",
        F.size("__toks").alias("__ntoks"),
        F.size(
            F.filter(F.col("__toks"), lambda x: F.array_contains(stop, x))
        ).alias("__nstop"),
    )
    n = F.col("__n").cast("double")
    alpha = F.col("__alpha").cast("double")
    digit = F.col("__digit").cast("double")
    space = F.col("__space").cast("double")
    n_toks = F.col("__ntoks").cast("double")
    n_stop = F.col("__nstop").cast("double")
    z = F.lit(0.0)
    quality = (
        0.5 * alpha / F.nullif(n, z)
        + 0.3 * n_stop / F.nullif(n_toks, z)
        + 0.2 * F.least(n_toks / 100.0, F.lit(1.0))
    )
    return counts.select(
        "doc_id",
        F.col("__n").cast("long").alias("n_chars"),
        (alpha / F.nullif(n, z)).alias("alpha_ratio"),
        (digit / F.nullif(n, z)).alias("digit_ratio"),
        (space / F.nullif(n, z)).alias("space_ratio"),
        (n_stop / F.nullif(n_toks, z)).alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


# Gopher-style repetition cuts (Rae et al. 2021, "Scaling Language
# Models", Table A1), adapted to a line-less corpus: the signals are
# word-level — top 2-gram char fraction ≤ 1/5, duplicate 3-gram char
# fraction ≤ 9/50. Thresholds are integer-algebra rationals so the
# keep flag never touches FP division (invariant #2).
REP_TOP2_NUM, REP_TOP2_DEN = 1, 5
REP_DUP3_NUM, REP_DUP3_DEN = 9, 50


def _qrep_stats_np(staged: DataFrame) -> DataFrame:
    """Arrow/numpy repetition stats: integer (doc_id, __nc, w_total,
    w_distinct, top2_chars, dup3_chars) rows, the integers the
    oracle's per-(doc, gram) counts produce (``quality_repetition``
    is row-equality-pinned against its DuckDB twin in
    tests/test_kernel_parity.py, corpus and edge docs). The JVM form
    this replaced (r11) ran TWO interpreted ``F.aggregate``
    run-length folds (+ two array_sorts) per doc — ~2·|tokens|
    uncompiled lambda evals with struct rebuilds (invariant 22's
    seam; the dominant cost at sf10). Here the whole
    Arrow batch vectorizes: one ``pd.factorize`` builds token
    equality classes (string equality == the oracle's gram-string
    equality, since whitespace-split tokens cannot contain the join
    space), gram keys are integer codes of adjacent class pairs
    (cross-doc boundaries masked), and the per-(doc, gram) counts /
    char masses reduce with cython groupbys. Every output is an
    exact integer — the fractions and the keep flag stay in the
    shared JVM projection, so the oracle is unchanged.

    Exactness notes: gram char length = Σ token lengths + (n-1)
    separators, equal for equal gram strings, so taking it from any
    occurrence matches the oracle's length(gram); top2 = max over
    distinct 2-grams of count×len; dup3 = Σ over distinct 3-grams
    with count ≥ 2 of count×len — exactly the oracle's stats CTE."""
    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            toks_col = list(pdf["__toks"])
            counts = np.fromiter(
                (len(t) for t in toks_col), dtype=np.int64,
                count=len(toks_col),
            )
            flat = pd.Series(
                [s for t in toks_col for s in t], dtype=object
            )
            doc_ix = np.repeat(
                np.arange(len(toks_col), dtype=np.int64), counts
            )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "__nc": pdf["__nc"].to_numpy(),
                    "w_total": counts,
                    "w_distinct": np.zeros(len(counts), dtype=np.int64),
                    "top2_chars": np.zeros(len(counts), dtype=np.int64),
                    "dup3_chars": np.zeros(len(counts), dtype=np.int64),
                }
            )
            if not len(flat):
                yield out
                continue
            codes, uniq = pd.factorize(flat)
            codes = codes.astype(np.int64)
            lens = flat.str.len().to_numpy(dtype=np.int64)
            nuni = len(uniq)
            wd = (
                pd.DataFrame({"d": doc_ix, "c": codes})
                .groupby("d", sort=False)["c"].nunique()
            )
            out.loc[wd.index.to_numpy(), "w_distinct"] = wd.to_numpy()

            same_doc2 = doc_ix[:-1] == doc_ix[1:]
            if same_doc2.any():
                k2 = codes[:-1] * nuni + codes[1:]
                l2 = lens[:-1] + lens[1:] + 1
                g2 = pd.DataFrame(
                    {
                        "d": doc_ix[:-1][same_doc2],
                        "k": k2[same_doc2],
                        "l": l2[same_doc2],
                    }
                )
                per2 = g2.groupby(["d", "k"], sort=False).agg(
                    n=("l", "size"), l=("l", "first")
                )
                per2["mass"] = per2["n"].to_numpy() * per2["l"].to_numpy()
                t2 = per2.groupby(level="d", sort=False)["mass"].max()
                out.loc[t2.index.to_numpy(), "top2_chars"] = t2.to_numpy()

                # 3-grams: pair-code of (i, i+1) recombined with the
                # third token's class — stays far inside int64
                p2, _ = pd.factorize(pd.Series(k2))
                p2 = p2.astype(np.int64)
                same_doc3 = same_doc2[:-1] & (doc_ix[:-2] == doc_ix[2:])
                if same_doc3.any():
                    k3 = p2[:-1] * nuni + codes[2:]
                    l3 = lens[:-2] + lens[1:-1] + lens[2:] + 2
                    g3 = pd.DataFrame(
                        {
                            "d": doc_ix[:-2][same_doc3],
                            "k": k3[same_doc3],
                            "l": l3[same_doc3],
                        }
                    )
                    per3 = g3.groupby(["d", "k"], sort=False).agg(
                        n=("l", "size"), l=("l", "first")
                    )
                    dup = per3[per3["n"] >= 2]
                    if len(dup):
                        d3 = (
                            (dup["n"] * dup["l"])
                            .groupby(level="d", sort=False).sum()
                        )
                        out.loc[d3.index.to_numpy(), "dup3_chars"] = (
                            d3.to_numpy()
                        )
            yield out

    return staged.mapInPandas(
        run,
        "doc_id bigint, __nc bigint, w_total bigint, w_distinct bigint, "
        "top2_chars bigint, dup3_chars bigint",
    )


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (Gopher Table-A1 shape):
    per-document duplicate-word fraction, the char share of the
    single biggest 2-gram (count × gram length, the "most repeated
    phrase" signal), and the char share of all duplicated 3-grams.

    Plan: every statistic is doc-LOCAL, so no row leaves its
    document — the whole query is one map-only scan→filter→project
    with ZERO exchanges (pinned in tests/test_plans.py). The word
    and 2-/3-gram counts come from one Arrow kernel pass per batch
    (``_qrep_stats_np``). All numerators/denominators are
    exact integers; each output fraction is ONE double division of
    identical integers on both engines, and the keep flag is
    multiplication-only integer algebra — no FP threshold anywhere.
    At 100 TB: embarrassingly parallel, no shuffle at all; cost is
    bounded by document length.

    Contract: NULL/empty text yields zero gram mass and passes no
    Gopher cut; ratios guard zero denominators identically; a ROW is
    a document — byte-identical duplicate rows each yield their own
    stats row (the oracle groups grams under a row number), never a
    merged double-counted group
    """
    stats = _qrep_stats_np(_qrep_staged(spark, sf_dir)).withColumnsRenamed(
        {"w_total": "__w_total", "w_distinct": "__w_distinct",
         "top2_chars": "__top2_chars", "dup3_chars": "__dup3_chars"}
    )
    return _qrep_select(stats)


def _qrep_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, __nc, __toks) staging, the stats kernel's input.
    The per-doc work downstream is ~|tokens| per ROW: when
    the scan arrives under-parallel (few files / one row group — the
    local-corpus layout), redistribute the NARROW docs table first;
    on a real multi-file lake layout this is a no-op (measured: sf1
    went 8.9 s on a 2-split scan → 1.9 s redistributed). The token
    array materializes ONCE per row (invariant 5), and zero-token
    docs drop — the gram explode of the original plan emitted no
    rows for them, so absence IS the contract."""
    from ..functions.core import ensure_fanout_parallelism

    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )
    toks = tokens(F.col("text"))
    nc = F.greatest(F.length(norm_text(F.col("text"))), F.lit(1)).cast("long")
    return docs.select(
        "doc_id", nc.alias("__nc"), toks.alias("__toks")
    ).filter(F.size("__toks") >= 1)


def _qrep_select(stats: DataFrame) -> DataFrame:
    """Final projection: fractions are ONE double division of
    identical integers on both engines; keep is multiplication-only
    integer algebra (no FP threshold)."""
    w_total = F.greatest(F.col("__w_total"), F.lit(1))
    keep = (
        (F.col("__top2_chars") * REP_TOP2_DEN <= F.col("__nc") * REP_TOP2_NUM)
        & (F.col("__dup3_chars") * REP_DUP3_DEN <= F.col("__nc") * REP_DUP3_NUM)
    )
    return stats.select(
        "doc_id",
        F.col("__w_total").cast("long").alias("n_words"),
        ((F.col("__w_total") - F.col("__w_distinct")) / w_total).alias(
            "dup_word_frac"
        ),
        (F.col("__top2_chars") / F.col("__nc")).alias("top2gram_char_frac"),
        (F.col("__dup3_chars") / F.col("__nc")).alias("dup3gram_char_frac"),
        keep.alias("keep"),
    )


def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix curation: per-source corpus statistics and
    α=0.5 temperature-sampling weights (w_s ∝ n_tokens_s^α — the
    standard flatten-the-mix reweighting for multilingual/multi-
    source pretraining, e.g. XLM-R §3.1).

    Exactness: doc/token counts are integers; token_share is ONE
    int/int division; each raw weight is sqrt of an integer (one
    IEEE op); the normalizer Z folds the per-source sqrts in SOURCE
    NAME ORDER (sort_array over a collected struct list → sequential
    F.aggregate, mirrored by the oracle's ordered list_reduce) so
    both engines accumulate in the identical order — invariant #2's
    sequential-fold rule, not a parallel double sum.

    Scale: one map-side-partial shuffle to |sources| rows, then a
    1-row broadcast back over them. The collect_list is over SOURCES
    (a bounded dimension, ~dozens), never documents.

    Contract: NULL source groups as NULL on both engines; token counts
    are exact integers
    """
    docs = t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    ).localCheckpoint(eager=False)  # feeds totals AND the output join:
    # without it each consumer re-scans + re-tokenizes the corpus
    totals = per_src.agg(
        F.sum("n_tokens").alias("__tt"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("source"), F.col("n_tokens")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["n_tokens"]),
        ).alias("__z"),
    )
    return (
        per_src.join(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens") / F.col("__tt")).alias("token_share"),
            (F.sqrt(F.col("n_tokens")) / F.col("__z")).alias("alpha_weight"),
        )
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: NULL/empty text classifies as 'unknown'; n-gram profiles
    are engine-identical string ops

    Shape (r12): THREE stacked projections — token set, then the five
    per-language scores off the plain __toks column, then best/pred
    off the plain score columns. One projection inlined the tokenize
    into every score and every score into best + each pred branch
    (~15 tokenize evaluations per row in the before-plan;
    plans/r12/lang_id_before.txt) — fine on short documents, 10×
    on the sf10 long-document tail. Measured min-of-2: sf1 0.87 vs
    0.83 s (tie — short docs), sf10 29.2 → 2.7 s. Identical rows
    asserted at sf1/sf10 (integer scores, same tie-break).
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # heavy per-row scan work: redistribute when under-parallel
    base = docs.select(
        "doc_id",
        F.col("lang"),
        F.array_distinct(tokens(F.col("text"))).alias("__toks"),
    )
    scored = base.select(
        "doc_id",
        "lang",
        *[
            F.size(
                F.array_intersect(
                    F.col("__toks"), F.array([F.lit(s) for s in words])
                )
            ).alias(f"__s_{lang}")
            for lang, words in STOPWORDS.items()
        ],
    )
    scores = {lang: F.col(f"__s_{lang}") for lang in STOPWORDS}
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, "unknown")
    for lang in sorted(STOPWORDS):  # alphabetical tie-break
        pred = pred.when(scores[lang] == best, lang)
    return scored.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        *[scores[lang].cast("long").alias(f"s_{lang}") for lang in sorted(STOPWORDS)],
        pred.alias("pred_lang"),
    )


CHUNK_SIZE, CHUNK_OVERLAP = 64, 16
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: explode each document into sliding
    64-token windows with 16-token overlap. One narrow explode — at
    100 TB this pipelines with the scan, no shuffle at all.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; chunk boundaries
    are pure integer arithmetic over the token array
    """
    from ..functions.core import ensure_fanout_parallelism

    docs = t(spark, sf_dir, "documents")
    toks = ensure_fanout_parallelism(docs).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    )
    out = toks.select(
        "doc_id",
        F.explode(token_chunks(F.col("__toks"), CHUNK_SIZE, CHUNK_OVERLAP)).alias("c"),
    )
    return out.select(
        "doc_id",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").cast("long").alias("n_tokens"),
    )


def _sql_stoplist(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


_SQL_SCORES = {
    lang: f"len(list_intersect(list_distinct({_TOKS}), {_sql_stoplist(lang)}))"
    for lang in STOPWORDS
}
_SQL_BEST = "greatest(" + ", ".join(_SQL_SCORES[g] for g in sorted(STOPWORDS)) + ")"
_SQL_PRED = (
    "case when " + _SQL_BEST + " <= 0 then 'unknown' "
    + " ".join(
        f"when {_SQL_SCORES[lang]} = {_SQL_BEST} then '{lang}'"
        for lang in sorted(STOPWORDS)
    )
    + " end"
)

_SQL_STOP_EN = _sql_stoplist("en")

# conservative RE2-and-Java-compatible patterns (no lookaround), so
# Spark and DuckDB rewrite identically byte-for-byte
REDACT_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
REDACT_URL = r"https?://[^ \t\n]+"
REDACT_LONGNUM = r"[0-9]{9,}"  # ids/phones/cards — 9+ consecutive digits


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing stage: mask emails, URLs and long digit
    runs before training. Pure regexp_replace chain — JVM-side, no
    shuffle, pipelines with the scan; the oracle applies the same
    RE2/Java-compatible patterns so rewritten bytes match exactly.

    Contract: regexes use explicit character classes (invariant 14);
    NULL text passes through as NULL
    """
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents"), by="doc_id"
    )  # heavy per-row scan work: redistribute when under-parallel
    red = F.regexp_replace(F.col("text"), REDACT_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, REDACT_URL, "<URL>")
    red = F.regexp_replace(red, REDACT_LONGNUM, "<NUM>")
    return docs.select(
        "doc_id",
        red.alias("clean_text"),
        (F.length(F.col("text")) - F.length(red)).cast("long").alias("bytes_removed"),
    )


TOPTERMS_K = 5


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k terms by tf-idf — the corpus-statistics
    primitive behind keyword extraction / quality filters.

    idf is the RATIONAL form (N+1)/(df+1) rather than its log: both
    engines then compute the score as one integer-derived division +
    multiply, which is bit-identical, where ln() implementations may
    differ in the last ulp across libms and break hash parity
    (CLAUDE.md invariant #2 — same op order, no per-row rounding).
    Ranking is tie-broken by term, so top-k is deterministic.

    Scale shape: explode → (doc, term) count groupBy (one shuffle on
    doc+term), materialized ONCE via lazy localCheckpoint — the tf
    frame feeds both the df aggregate and the scored join, and
    without the barrier Catalyst re-scans + re-explodes the corpus
    per consumer (CLAUDE.md invariant 9; this was the r3 plan's 7th
    exchange pair) → df groupBy on term (|vocab|-sized, rides a
    broadcast back onto tf — no tf re-shuffle); corpus size N rides a
    one-row scalar broadcast. Top-k per doc is a WindowGroupLimit
    rank, partial below the exchange.

    Contract: ties in term counts break on the term string
    (deterministic total order); tokenization per invariant 14
    """
    from ..functions.core import ensure_fanout_parallelism

    docs = t(spark, sf_dir, "documents")
    term = ensure_fanout_parallelism(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = (
        term.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs") + 1).cast("double")
            / (F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPTERMS_K)
        .select(
            "doc_id", "term", "tf", "df", "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


PACK_BUDGET = 512  # tokens per packed training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents to fixed-token-budget
    training bins the way pretraining pipelines concatenate-and-chunk
    a shard: within each source shard, docs are laid end-to-end in
    doc_id order and every ``PACK_BUDGET`` tokens starts a new bin.
    Output per doc: its shard, token count, bin id and starting
    offset inside the bin.

    Scale shape: ONE window (cumulative sum) partitioned by the shard
    column — packing is embarrassingly parallel across shards, which
    is exactly how a 100 TB corpus is packed in practice (a global
    total order would serialize the whole corpus through one
    partition; a per-shard order shuffles once and scales with shard
    count). No UDFs, no iteration.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; packing is the
    deterministic first-fit over (n_tokens desc, doc_id) — order-
    independent of input layout
    """
    docs = t(spark, sf_dir, "documents")
    ws = F.size(_ws_tokens())
    d = docs.select("doc_id", "source", ws.cast("long").alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(cum / PACK_BUDGET).cast("long").alias("bin_id"),
        (cum % PACK_BUDGET).cast("long").alias("offset_in_bin"),
    )


def incremental_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup (SURVEY §2 #33): treat 3/4 of the
    corpus (doc_id % 4 != 0) as the already-ingested seen-fingerprint
    table and the remaining 1/4 as today's batch; keep batch docs
    whose content fingerprint is new both to the corpus and within
    the batch (min doc_id wins). Day-2 shape of ``dedup_exact``:
    |batch| scan + one fp-keyed anti-join instead of a corpus rescan.

    Reference parity: same seen-table semantics as rerunning the
    reference's exact-dedup over corpus+batch and diffing, without
    the rescan (CallistoLabsNYC/rstreams has no incremental variant;
    this is the scale-mandated extension).

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; arrivals dedup
    against the fingerprint index — a doc survives only if its
    fingerprint is unseen
    """
    from ..functions.dedup import incremental_dedup_exact as _inc

    docs = t(spark, sf_dir, "documents")
    seen_fps = (
        docs.filter(F.col("doc_id") % 4 != 0)
        .select(md5_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    fresh, _fresh_fps = _inc(batch, seen_fps)
    return fresh.select(
        "doc_id", md5_fingerprint(F.col("text")).alias("fingerprint")
    )


SPAN_SIZE = 16  # tokens per dedup span (non-overlapping)
# span_idx is bounded by len(tokens)/SPAN_SIZE — 1e8 leaves room for
# ~1.6-BILLION-token documents while keeping doc_id*1e8+idx inside
# bigint (doc_id domain shrinks to ~9.2e10 ids, still far past any
# corpus). Was 1e6 (~16M-token cap) through r11: the giant_doc probe
# landed a legal 20M-token document on the guard in r12 — a real
# document class at 100 TB (logs, concatenated dumps), so the domain
# widened rather than the raise staying documented.
# Public: part of the demonstrated span_dedup contract (the example
# and downstream consumers build the same keeper key).
SPAN_KEY_MUL = 100_000_000
_SPAN_KEY_MUL = SPAN_KEY_MUL  # internal alias, kept for oracle text
# largest |doc_id| whose doc_id*_SPAN_KEY_MUL+idx key fits a long
_SPAN_DOC_MAX = (2**63 - 1) // _SPAN_KEY_MUL - 1


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (span-level) dedup — Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    approximated at non-overlapping 16-token span granularity (the
    corpus has no sentence punctuation, so spans stand in for the
    C4-style sentence/line unit): every span whose text occurred
    earlier in the corpus (first occurrence = smallest
    (doc_id, span_idx)) is removed, and each document's surviving
    text is reassembled in span order.

    Exactness: the keeper key is the exact integer
    ``doc_id*1e8 + span_idx`` (min per span text — portable integer
    algebra, no struct-min dialect differences); outputs are strings
    and integer counts only, no FP anywhere.

    Scale shape: one narrow explode (~n_tokens/16 rows per doc,
    fanout-guarded), ONE shuffle on span_text for the first-occurrence
    aggregate (map-side partial min; hot boilerplate spans are exactly
    what AQE skew-join handles), a shuffle join back on span_text, and
    one shuffle on doc_id to reassemble. No self-join, no window over
    a skewed key, no driver collect — the same shape at 100 TB.

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; composite span
    keys guard the 2^61/2^62 id range loudly (documented probe
    divergence outside it)
    """
    from ..functions.core import ensure_fanout_parallelism

    docs = t(spark, sf_dir, "documents")
    # materialize the token array ONCE per row before the chunk
    # transform (invariant 5): token_chunks' per-chunk lambda
    # re-evaluates its token expression per CHUNK, so passing the
    # raw tokens() regex re-tokenized every document n_chunks times
    # (r11: the span explode was 2.6× slower that way at sf10)
    spans = ensure_fanout_parallelism(docs).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.explode(token_chunks(F.col("__toks"), SPAN_SIZE, 0)).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_idx").cast("long").alias("span_idx"),
        F.col("c.chunk_text").alias("span_text"),
        F.col("c.n_tokens").cast("long").alias("n_tokens"),
    )
    spans = (
        spans.where(
            # in-plan key-domain guard (cf. brute_topk's probe cap):
            # assert_true raises the moment a document has ≥1e8 spans
            # (≥1.6B tokens), where doc_id·1e8+idx keys would collide
            # across documents and silently corrupt keeper selection —
            # AND the moment |doc_id| outgrows the composite-key
            # domain (~9.2e10 ids; an r6 probe with 2^62 ids hit a raw
            # ANSI long-overflow here — loud either way, but this
            # message says what to do). The key is strictly monotone
            # in lexicographic (doc_id, span_idx) for EITHER sign of
            # doc_id while span_idx ∈ [0, MUL), so negative ids are
            # in-domain (the r13 negative_ids probe caught the old
            # `doc_id >= 0` clause rejecting a corpus the DuckDB twin
            # computed correctly). The bound compares both signs
            # directly: abs(-2**63) wraps to itself when ANSI mode is
            # off and would pass an abs-based check. isNull() keeps
            # every legal row
            F.assert_true(
                (F.col("span_idx") < _SPAN_KEY_MUL)
                & F.col("doc_id").between(-_SPAN_DOC_MAX, _SPAN_DOC_MAX),
                F.lit(
                    "span_dedup: (doc_id, span_idx) outside the "
                    "doc_id*1e8+idx key domain (span_idx < 1e8, "
                    "|doc_id| < 9.2e10); raise _SPAN_KEY_MUL / "
                    "re-key doc ids for corpora beyond it"
                ),
            ).isNull()
        )
        .withColumn(
            "__key", F.col("doc_id") * _SPAN_KEY_MUL + F.col("span_idx")
        )
        # feeds the first-occurrence aggregate AND the join probe side:
        # without materialization both consumers re-scan + re-chunk the
        # corpus (invariant 9)
        .localCheckpoint(eager=False)
    )
    first = spans.groupBy("span_text").agg(F.min("__key").alias("__first_key"))
    marked = spans.join(first, "span_text").withColumn(
        "kept", F.col("__key") == F.col("__first_key")
    )
    kept_struct = F.when(
        F.col("kept"), F.struct("span_idx", "span_text")
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_dup_spans"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
            "n_tokens_kept"
        ),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["span_text"],
            ),
        ).alias("dedup_text"),
    )


def doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM commonness score — the CCNet/perplexity-filter analog
    built on exact rational arithmetic instead of log-probs (ln()
    differs in the last ulp across libms; invariant #2): per document,
    the mean document-frequency share of its token occurrences,

        commonness = Σ_occurrences df(term) / (n_tokens · n_docs).

    High = boilerplate/common (head tokens), low = rare/noisy — the
    standard head/tail bucketing signal for pretraining curation.
    Numerator and denominator are exact bigints; the single double
    division is the only FP op and is bit-identical across engines.

    Scale shape: the same tf→df machinery as top_terms — (doc, term)
    count shuffle, |vocab| df aggregate joined back on term, per-doc
    sum shuffle, corpus size as a one-row broadcast. Linear in corpus
    tokens, no skew beyond the natural vocabulary head (AQE).

    Contract: doc_id is the document identity (unique); NULL/empty
    text yields no shingles, so such docs never pair; commonness is
    defined over the DF-capped shingle stream
    """
    from ..functions.core import ensure_fanout_parallelism

    docs = t(spark, sf_dir, "documents")
    term = ensure_fanout_parallelism(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = (
        term.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)  # feeds df AND the scored join
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    per_doc = (
        tf.join(df_tbl, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count("*").alias("n_terms"),
            F.sum(F.col("tf") * F.col("df")).alias("__num"),
        )
    )
    return per_doc.join(F.broadcast(n_docs)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_terms").cast("long").alias("n_distinct_terms"),
        (
            F.col("__num") / (F.col("n_tokens") * F.col("n_docs"))
        ).alias("commonness"),
    )


NOVELTY_N = 3  # n-gram size for novelty attribution


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's DISTINCT
    3-grams whose first corpus occurrence (min doc_id) is this
    document — "how much new text does this doc contribute", the
    dedup-adjacent contribution score used to rank ingest batches.
    Documents with fewer than 3 tokens contribute no grams and are
    omitted (documented; the oracle applies the same filter).

    Exactness: integer counts + ONE double division per row.

    Scale shape (r10 rewrite — the corpus-sized gram join-back is
    GONE): the per-doc distinct gram count is computed MAP-SIDE from
    ``array_distinct`` (a document's grams all live in its own row —
    no shuffle can add or remove any), so the only corpus-sized
    shuffle left is the first-seen ``min`` on gram — and ``min`` is
    distinct-insensitive, so it needs no distinct pass and its
    map-side partial collapses each gram to one row per map
    partition before the exchange. Per-gram winners then count by
    first doc (doc-keyed, output-sized), and the recombination join
    is per-DOC (two doc-count-sized frames, both already
    hash-partitioned on doc_id by their aggregates) — never per
    gram. Old shape: 3 corpus-sized exchanges + a gram join-back;
    new shape: 1 (sf10 was 35.9 s / 9.5×, the r9 sweep's biggest
    absolute — see PERF.md r10).

    Contract: doc_id is the document identity (unique); byte-
    identical duplicated rows are tolerated (the per-doc max merges
    them, min/count are insensitive — duplicate_rows probe class);
    NULL/empty/<3-token text yields no grams and the doc is omitted
    (the oracle applies the same filter).
    """
    from ..functions.core import ensure_fanout_parallelism
    from ..functions.dedup import grams

    docs = t(spark, sf_dir, "documents")
    per_doc = (
        ensure_fanout_parallelism(docs)
        .select(
            "doc_id",
            F.array_distinct(
                grams(tokens(F.col("text")), NOVELTY_N)
            ).alias("__garr"),
        )
        # the size filter sits AFTER the checkpoint barrier: pushed
        # below the Project it would substitute the alias and
        # re-evaluate the whole tokenize+gram pipeline a second time
        # per row (measured 8.1 s vs 1.2 s at sf1 — PERF.md r10)
        .localCheckpoint(eager=False)  # feeds first-seen AND the counts
        .where(F.size("__garr") > 0)
    )
    novel = (
        per_doc.select("doc_id", F.explode("__garr").alias("gram"))
        .groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("__novel"))
    )
    n_novel = F.coalesce(F.col("__novel"), F.lit(0)).cast("long")
    return (
        per_doc.groupBy("doc_id")
        .agg(F.max(F.size("__garr")).alias("__nd"))
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("__nd").cast("long").alias("n_distinct_grams"),
            n_novel.alias("n_novel_grams"),
            (n_novel / F.col("__nd").cast("long")).alias("novelty_frac"),
        )
    )


SPLIT_SALT = 7
SPLIT_TRAIN_PCT, SPLIT_VAL_PCT = 80, 10  # train/val/test = 80/10/10


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split summary: every document is
    assigned by the portable content hash ``h64(doc_id) % 100``
    (coordination-free, stable under re-runs and task retries —
    CLAUDE.md invariant 8; never a random() or positional id), and
    the query reports per-split document and token counts — the
    sanity gate run before any training job.

    Scale shape: stateless hash + one map-side-partial shuffle to 3
    rows. The assignment expression is the reusable primitive; the
    aggregate is the checkable surface.

    Contract: split assignment is a pure function of the portable
    doc_id hash (invariant 3) — stable under any input order or
    partitioning
    """
    from ..functions.text import hash64

    docs = t(spark, sf_dir, "documents")
    bucket = hash64(F.col("doc_id").cast("string"), salt=SPLIT_SALT) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    ws = F.size(_ws_tokens())
    return (
        docs.select(split.alias("split"), ws.cast("long").alias("n_tokens"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


TOKEN_BUDGET = 600   # per-source whitespace-token budget
BUDGET_SALT = 11     # distinct hash domain from dataset_split


def budget_prefix(
    df: DataFrame,
    budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: int = BUDGET_SALT,
) -> DataFrame:
    """Frame-level greedy-prefix budget gate — THE formulation (one
    per-source window cumsum over hash order, filtered on the PRIOR
    sum) shared by the catalog query, the example pipeline and the
    property test, so the three can never drift apart. Input needs
    (source, id, token-count) columns; output keeps every input
    column plus ``cum_before``."""
    from ..functions.text import hash64

    w = (
        Window.partitionBy(source_col)
        .orderBy("__bh", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn(
            "__bh", hash64(F.col(id_col).cast("string"), salt=salt)
        )
        .withColumn(
            "cum_before",
            F.coalesce(F.sum(tokens_col).over(w), F.lit(0)),
        )
        .where(F.col("cum_before") < budget)
        .drop("__bh")
    )


def budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling — the mixing step that turns
    source_mix's weights into an actual training subset (Pile/Dolma-
    style: each source contributes up to a token budget). Documents
    within a source are ordered by portable content hash
    (retry-stable, CLAUDE.md invariant 8 — never random() or
    positional ids, so the subset is identical across re-runs,
    engines and task retries) and the greedy prefix whose PRIOR
    cumulative token count is under the budget survives — every
    source keeps ≥1 doc, the budget may be exceeded only by the last
    doc's tail (the standard greedy-prefix contract).

    Exactness: integer token counts, integer cumulative sums — no FP
    anywhere. Scale shape: stateless hash + ONE per-source window
    cumsum (the pack_sequences discipline; a hot source shards the
    same way pack_sequences' range shards do). The filter is on the
    PRIOR sum so the plan stays a single window pass — no join-back,
    no second scan.

    Contract: the kept set is a pure filter on the portable hash
    ordered threshold — deterministic under the token budget; NULL
    token counts are excluded
    """
    docs = t(spark, sf_dir, "documents")
    ws = F.size(_ws_tokens()).cast("long")
    base = docs.select("doc_id", "source", ws.alias("n_tokens"))
    return budget_prefix(base, TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens", "cum_before"
    )


VOCAB_K = 32


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage — the tokenizer-design statistic: per
    source, the fraction of token OCCURRENCES covered by the
    corpus-global top-``VOCAB_K`` terms (ties → term asc). The
    drop-off across sources is the signal for vocab sizing and
    domain mismatch before training a tokenizer.

    Exactness: integer counts; coverage is ONE double division per
    source. Scale shape: one explode → ONE shuffle to (source, term)
    — materialized once (it feeds the global ranking, the covered
    sum and the totals; invariant 9) — then a distributed
    TakeOrderedAndProject top-K (never a single-partition window
    over the vocabulary) broadcast back as a semi-join.

    Contract: coverage counts distinct vocab hits per doc; NULL text
    covers nothing; tokenization per invariant 14
    """
    from ..functions.core import ensure_fanout_parallelism

    docs = t(spark, sf_dir, "documents")
    st = (
        ensure_fanout_parallelism(docs)
        .select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    topk = (
        st.groupBy("term")
        .agg(F.sum("cnt").alias("g"))
        .orderBy(F.col("g").desc(), "term")
        .limit(VOCAB_K)
        .select("term")
    )
    covered = (
        st.join(F.broadcast(topk), "term", "left_semi")
        .groupBy("source")
        .agg(F.sum("cnt").alias("covered_tokens"))
    )
    totals = st.groupBy("source").agg(F.sum("cnt").alias("n_tokens"))
    cov = F.coalesce(F.col("covered_tokens"), F.lit(0))
    return (
        totals.join(covered, "source", "left")
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            cov.cast("long").alias("covered_tokens"),
            (cov / F.col("n_tokens")).alias("coverage"),
        )
    )


OVERLAP_N = 3  # n-gram size for the cross-source overlap matrix


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix — mirror-site detection:
    for every source pair, the count of distinct 3-grams both emit
    and the gram-set Jaccard. High-Jaccard pairs are mirrored /
    scraped-twice feeds, the standard pre-dedup triage signal when
    deciding which sources to drop wholesale before per-document
    dedup (cheaper to kill a mirror at the source level than to
    near-dup 10⁹ of its documents).

    Exactness: integer gram counts; Jaccard is ONE double division
    of bigints per pair (engine-safe, invariant #2). Pairs sharing
    zero grams are omitted (inner join on gram; documented — the
    oracle's join produces the same support).

    Scale shape (r9): gram explode (fanout-guarded) → ONE corpus
    shuffle collapsing each gram to its SORTED source set
    (collect_set — ≤ S elements, sources are a low-cardinality
    dimension by construction), materialized once (feeds the
    per-source totals AND the pair expansion; invariant 9). Pair
    counts come from a MAP-SIDE i<j expansion over the set (nested
    transform/slice, ≤ S(S-1)/2 tiny structs per gram) into a
    pair-keyed aggregation over ≤ S² rows — the previous gram-keyed
    SELF-JOIN shuffled the corpus-sized gram frame twice more and
    ballooned at the second decade (sf10 23.3 s → 12.0 s,
    row-identical; the flagged 22× step was join-side spill). At
    100 TB: linear in corpus grams with one gram-keyed shuffle; no
    data-sized broadcast; hot grams collapse to ≤ S-element arrays.

    Contract: NULL source rows are excluded; overlap is computed over
    hashed shingle sets (portable hash, invariant 3)
    """
    from ..functions.core import ensure_fanout_parallelism
    from ..functions.dedup import grams

    docs = t(spark, sf_dir, "documents")
    gsets = (
        ensure_fanout_parallelism(docs)
        .select(
            "source",
            F.explode(grams(tokens(F.col("text")), OVERLAP_N)).alias("gram"),
        )
        .where(F.col("source").isNotNull())
        .groupBy("gram")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .localCheckpoint(eager=False)  # feeds totals AND pair expansion
    )
    per_src = (
        gsets.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_grams"))
        # feeds BOTH the grams_a and grams_b joins (invariant 9)
        .localCheckpoint(eager=False)
    )
    # map-side i<j pair expansion: the two-parameter transform lambda
    # binds i to the ELEMENT INDEX deliberately (invariant 13's
    # arity sniffing, used on purpose); slice(srcs, i+2, size) is the
    # strict upper triangle of the sorted set
    pairs_col = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda a, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    pairs = (
        gsets.select(F.explode(pairs_col).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_grams"))
    )
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared_grams").cast("long").alias("shared_grams"),
            F.col("grams_a").cast("long").alias("grams_a"),
            F.col("grams_b").cast("long").alias("grams_b"),
            (
                F.col("shared_grams")
                / (F.col("grams_a") + F.col("grams_b") - F.col("shared_grams"))
            ).alias("jaccard"),
        )
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "incremental_dedup_exact": incremental_dedup_exact,
    "text_redact": text_redact,
    "doc_fingerprint": doc_fingerprint,
    "token_count": token_count,
    "text_quality": text_quality,
    "quality_repetition": quality_repetition,
    "source_mix": source_mix,
    "lang_id": lang_id,
    "doc_chunks": doc_chunks,
    "pack_sequences": pack_sequences,
    "top_terms": top_terms,
    "span_dedup": span_dedup,
    "doc_commonness": doc_commonness,
    "ngram_novelty": ngram_novelty,
    "dataset_split": dataset_split,
    "budget_sample": budget_sample,
    "vocab_coverage": vocab_coverage,
    "source_overlap": source_overlap,
}

SQL_ORACLES = {
    "source_mix": f"""
        with per_src as (
          select source,
                 count(*) as n_docs,
                 sum(len({_TOKS})) as n_tokens
          from documents group by source
        ),
        tot as (
          select sum(n_tokens) as tt,
                 list_reduce(
                   list_prepend(
                     cast(0.0 as double),
                     list_transform(
                       list(cast(n_tokens as bigint) order by source),
                       x -> sqrt(x))),
                   (a, b) -> a + b) as z
          from per_src
        )
        select source,
               cast(n_docs as bigint) as n_docs,
               cast(n_tokens as bigint) as n_tokens,
               n_tokens / tt as token_share,
               sqrt(cast(n_tokens as bigint)) / z as alpha_weight
        from per_src, tot
    """,
    "quality_repetition": f"""
        -- per-ROW semantics (a row IS a document): grams group under
        -- a row number so byte-identical duplicate rows each yield
        -- their own stats row, matching the Spark side's doc-local
        -- map-only fold; rid never reaches the output, so the
        -- unordered numbering is multiset-irrelevant
        with toks as (
          select row_number() over () as rid, doc_id,
                 greatest(length({_NORM}), 1) as nc,
                 {_TOKS} as tk
          from documents
        ),
        gr as (
          select rid, doc_id, nc, 1 as n, unnest(tk) as gram from toks
          union all
          select rid, doc_id, nc, 2 as n,
                 unnest([tk[i] || ' ' || tk[i+1]
                         for i in range(1, len(tk))]) as gram
          from toks
          union all
          select rid, doc_id, nc, 3 as n,
                 unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                         for i in range(1, len(tk) - 1)]) as gram
          from toks
        ),
        cnts as (
          select rid, doc_id, nc, n, gram, count(*) as cnt
          from gr group by rid, doc_id, nc, n, gram
        ),
        stats as (
          select doc_id, nc,
                 sum(case when n = 1 then cnt end) as w_total,
                 count(case when n = 1 then 1 end) as w_distinct,
                 coalesce(max(case when n = 2
                              then cnt * length(gram) end), 0) as top2,
                 coalesce(sum(case when n = 3 and cnt > 1
                              then cnt * length(gram) end), 0) as dup3
          from cnts group by rid, doc_id, nc
        )
        select doc_id,
               cast(w_total as bigint) as n_words,
               (w_total - w_distinct) / greatest(w_total, 1) as dup_word_frac,
               top2 / nc as top2gram_char_frac,
               dup3 / nc as dup3gram_char_frac,
               (top2 * {REP_TOP2_DEN} <= nc * {REP_TOP2_NUM}
                and dup3 * {REP_DUP3_DEN} <= nc * {REP_DUP3_NUM}) as keep
        from stats
    """,
    "text_redact": f"""
        with r as (
          select doc_id, text,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, '{REDACT_EMAIL}', '<EMAIL>', 'g'),
                     '{REDACT_URL}', '<URL>', 'g'),
                   '{REDACT_LONGNUM}', '<NUM>', 'g') as clean_text
          from documents
        )
        select doc_id, clean_text,
               cast(length(text) - length(clean_text) as bigint) as bytes_removed
        from r
    """,
    "incremental_dedup_exact": f"""
        with fp as (select doc_id, md5({_NORM}) as fingerprint from documents),
        seen as (select distinct fingerprint from fp where doc_id % 4 != 0),
        batch as (select * from fp where doc_id % 4 = 0),
        first as (
          select fingerprint, min(doc_id) as doc_id
          from batch group by fingerprint
        )
        select doc_id, fingerprint from first f
        where not exists (
          select 1 from seen s where s.fingerprint = f.fingerprint
        )
    """,
    "dedup_exact": f"""
        with fp as (select doc_id, md5({_NORM}) as fingerprint from documents),
        groups as (
          select fingerprint, min(doc_id) as keep_doc_id, count(*) as n_copies
          from fp group by fingerprint
        )
        select doc_id, fp.fingerprint, keep_doc_id, n_copies,
               doc_id != keep_doc_id as is_dup
        from fp join groups using (fingerprint)
    """,
    "doc_fingerprint": f"""
        select doc_id, md5({_NORM}) as fingerprint,
               len({_TOKS}) as n_tokens
        from documents
    """,
    "token_count": f"""
        select doc_id,
               len(list_filter(string_split_regex(text, '{WS_PATTERN}'), x -> x != '')) as n_ws_tokens,
               len(regexp_extract_all(lower(translate(text, 'İ', 'I')), '{BPE_ISH_PATTERN}')) as n_bpe_tokens
        from documents
    """,
    "text_quality": f"""
        with m as (
          select doc_id,
                 length(text) as n_chars,
                 length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::double as alpha,
                 length(regexp_replace(text, '[^0-9]', '', 'g'))::double as digit,
                 length(regexp_replace(text, '[^ \t\n]', '', 'g'))::double as space,
                 len({_TOKS})::double as n_toks,
                 len(list_filter({_TOKS}, x -> list_contains({_SQL_STOP_EN}, x)))::double as n_stop
          from documents
        )
        select doc_id, n_chars,
               alpha / nullif(n_chars, 0) as alpha_ratio,
               digit / nullif(n_chars, 0) as digit_ratio,
               space / nullif(n_chars, 0) as space_ratio,
               n_stop / nullif(n_toks, 0) as stopword_ratio,
               0.5 * alpha / nullif(n_chars, 0)
                     + 0.3 * n_stop / nullif(n_toks, 0)
                     + 0.2 * least(n_toks / 100.0, 1.0) as quality_score
        from m
    """,
    "lang_id": f"""
        select doc_id, lang as label_lang,
               {", ".join(f"{_SQL_SCORES[lang]} as s_{lang}" for lang in sorted(STOPWORDS))},
               {_SQL_PRED} as pred_lang
        from documents
    """,
    "doc_chunks": f"""
        with tk as (select doc_id, {_TOKS} as toks from documents),
        ex as (
          select doc_id, toks,
                 unnest(range(0, (len(toks) - 1) // {_STRIDE} + 1)) as chunk_idx
          from tk where len(toks) > 0
        )
        select doc_id, chunk_idx,
               array_to_string(
                 toks[chunk_idx * {_STRIDE} + 1 : chunk_idx * {_STRIDE} + {CHUNK_SIZE}],
                 ' ') as chunk_text,
               least(len(toks) - chunk_idx * {_STRIDE}, {CHUNK_SIZE}) as n_tokens
        from ex
    """,
    "pack_sequences": f"""
        with d as (
          select doc_id, source,
                 len(list_filter(string_split_regex(text, '{WS_PATTERN}'),
                                 x -> x != '')) as n_tokens
          from documents
        ),
        c as (
          select doc_id, source, n_tokens,
                 coalesce(sum(n_tokens) over (
                   partition by source order by doc_id
                   rows between unbounded preceding and 1 preceding
                 ), 0) as cum
          from d
        )
        select doc_id, source, n_tokens,
               cast(floor(cum / {PACK_BUDGET}) as bigint) as bin_id,
               cast(cum % {PACK_BUDGET} as bigint) as offset_in_bin
        from c
    """,
    "top_terms": f"""
        with term as (
          select doc_id, unnest({_TOKS}) as term from documents
        ),
        tf as (
          select doc_id, term, count(*) as tf
          from term group by doc_id, term
        ),
        dft as (select term, count(*) as df from tf group by term),
        n as (select count(*) as n_docs from documents),
        scored as (
          select doc_id, term, tf, df,
                 cast(tf as double) * cast(n_docs + 1 as double)
                   / cast(df + 1 as double) as score
          from tf join dft using (term) cross join n
        ),
        ranked as (
          select doc_id, term, tf, df, score,
                 row_number() over (partition by doc_id
                                    order by score desc, term) as rank
          from scored
        )
        select doc_id, term, tf, df, score, rank
        from ranked where rank <= {TOPTERMS_K}
    """,
    "span_dedup": f"""
        -- spans are built as ONE struct comprehension per document
        -- and then unnested: the previous shape unnested the span
        -- INDEX while carrying the full token list into every span
        -- row, which re-materializes a giant document's list per
        -- span (the giant_doc probe's 10^7-token row turned that
        -- quadratic — r11); values are byte-identical
        with tk as (select doc_id, {_TOKS} as toks from documents),
        sp as (
          select doc_id,
                 unnest([{{'span_idx': i,
                   'span_text': array_to_string(
                     toks[i * {SPAN_SIZE} + 1
                          : i * {SPAN_SIZE} + {SPAN_SIZE}], ' '),
                   'n_tokens': least(len(toks) - i * {SPAN_SIZE},
                                     {SPAN_SIZE})}}
                   for i in range(0, (len(toks) - 1) // {SPAN_SIZE} + 1)])
                   as s
          from tk where len(toks) > 0
        ),
        spans as (
          select doc_id, s.span_idx as span_idx,
                 s.span_text as span_text,
                 s.n_tokens as n_tokens,
                 doc_id * {_SPAN_KEY_MUL} + s.span_idx as key
          from sp
        ),
        first as (
          select span_text, min(key) as first_key
          from spans group by span_text
        ),
        marked as (
          select s.doc_id, s.span_idx, s.span_text, s.n_tokens,
                 s.key = f.first_key as kept
          from spans s join first f using (span_text)
        )
        select doc_id,
               count(*) as n_spans,
               cast(sum(case when not kept then 1 else 0 end) as bigint)
                 as n_dup_spans,
               cast(sum(case when kept then n_tokens else 0 end) as bigint)
                 as n_tokens_kept,
               coalesce(string_agg(case when kept then span_text end,
                                   ' ' order by span_idx), '') as dedup_text
        from marked group by doc_id
    """,
    "doc_commonness": f"""
        with term as (
          select doc_id, unnest({_TOKS}) as term from documents
        ),
        tf as (
          select doc_id, term, count(*) as tf
          from term group by doc_id, term
        ),
        dft as (select term, count(*) as df from tf group by term),
        n as (select count(*) as n_docs from documents),
        per_doc as (
          select doc_id,
                 sum(tf) as n_tokens,
                 count(*) as n_terms,
                 sum(tf * df) as num
          from tf join dft using (term) group by doc_id
        )
        select doc_id,
               cast(n_tokens as bigint) as n_tokens,
               cast(n_terms as bigint) as n_distinct_terms,
               num / (n_tokens * n_docs) as commonness
        from per_doc cross join n
    """,
    "ngram_novelty": f"""
        with toks as (select doc_id, {_TOKS} as tk from documents),
        gr_all as (
          select doc_id,
                 unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                         for i in range(1, len(tk) - 1)]) as gram
          from toks
        ),
        gr as (select distinct doc_id, gram from gr_all),
        first as (select gram, min(doc_id) as first_doc from gr group by gram),
        agg as (
          select doc_id,
                 count(*) as n_distinct_grams,
                 cast(sum(case when doc_id = first_doc then 1 else 0 end)
                      as bigint) as n_novel_grams
          from gr join first using (gram) group by doc_id
        )
        select doc_id, n_distinct_grams, n_novel_grams,
               n_novel_grams / n_distinct_grams as novelty_frac
        from agg
    """,
    "source_overlap": f"""
        with toks as (select source, {_TOKS} as tk from documents),
        gr_all as (
          select source,
                 unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                         for i in range(1, len(tk) - 1)]) as gram
          from toks
        ),
        gr as (select distinct source, gram from gr_all),
        per_src as (select source, count(*) as n_grams from gr group by source),
        pairs as (
          select a.source as source_a, b.source as source_b,
                 count(*) as shared_grams
          from gr a join gr b using (gram)
          where a.source < b.source
          group by 1, 2
        )
        select source_a, source_b,
               cast(shared_grams as bigint) as shared_grams,
               cast(pa.n_grams as bigint) as grams_a,
               cast(pb.n_grams as bigint) as grams_b,
               shared_grams / (pa.n_grams + pb.n_grams - shared_grams)
                 as jaccard
        from pairs
        join per_src pa on pa.source = pairs.source_a
        join per_src pb on pb.source = pairs.source_b
    """,
    "budget_sample": f"""
        with b as (
          select doc_id, source,
                 len(list_filter(string_split_regex(text, '{WS_PATTERN}'),
                     x -> x != '')) as n_tokens,
                 {sql_h64("cast(doc_id as varchar)", salt=BUDGET_SALT)} as h
          from documents
        ),
        c as (
          select doc_id, source, cast(n_tokens as bigint) as n_tokens,
                 coalesce(sum(n_tokens) over (
                   partition by source order by h, doc_id
                   rows between unbounded preceding and 1 preceding), 0)
                   as cum_before
          from b
        )
        select doc_id, source, n_tokens,
               cast(cum_before as bigint) as cum_before
        from c where cum_before < {TOKEN_BUDGET}
    """,
    "dataset_split": f"""
        with d as (
          select case
                   when {sql_h64("cast(doc_id as varchar)", salt=SPLIT_SALT)}
                        % 100 < {SPLIT_TRAIN_PCT} then 'train'
                   when {sql_h64("cast(doc_id as varchar)", salt=SPLIT_SALT)}
                        % 100 < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} then 'val'
                   else 'test'
                 end as split,
                 len(list_filter(string_split_regex(text, '{WS_PATTERN}'),
                                 x -> x != '')) as n_tokens
          from documents
        )
        select split, count(*) as n_docs,
               cast(sum(n_tokens) as bigint) as n_tokens
        from d group by split
    """,
    "vocab_coverage": f"""
        with term as (
          select source, unnest({_TOKS}) as term from documents
        ),
        st as (
          select source, term, count(*) as cnt
          from term group by source, term
        ),
        gterms as (select term, sum(cnt) as g from st group by term),
        topk as (
          select term from gterms order by g desc, term limit {VOCAB_K}
        ),
        cov as (
          select source, sum(cnt) as covered
          from st join topk using (term) group by source
        ),
        tot as (
          select source, sum(cnt) as n_tokens from st group by source
        )
        select tot.source,
               cast(n_tokens as bigint) as n_tokens,
               cast(coalesce(covered, 0) as bigint) as covered_tokens,
               coalesce(covered, 0) / n_tokens as coverage
        from tot left join cov using (source)
    """,
}
