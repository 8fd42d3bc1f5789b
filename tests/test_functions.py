"""Text / dedup / similarity / multimodal function unit tests."""

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from rstreams_spark.functions import dedup, multimodal, similarity, text


def test_norm_and_tokens(spark):
    df = spark.createDataFrame([Row(text="Hello, World!!  foo_bar 42")])
    got = df.select(
        text.norm_text(F.col("text")).alias("n"),
        text.tokens(F.col("text")).alias("t"),
    ).collect()[0]
    assert got["n"] == "hello world foo bar 42"
    assert got["t"] == ["hello", "world", "foo", "bar", "42"]


def test_tokens_empty(spark):
    df = spark.createDataFrame([Row(text="!!!"), Row(text="")])
    got = [r["t"] for r in df.select(text.tokens(F.col("text")).alias("t")).collect()]
    assert got == [[], []]


def test_hash64_matches_md5_prefix(spark):
    df = spark.createDataFrame([Row(s="hello")])
    got = df.select(text.hash64(F.col("s")).alias("h")).collect()[0]["h"]
    expect = int(hashlib.md5(b"0:hello").hexdigest()[:15], 16)
    assert got == expect


def test_shingles(spark):
    df = spark.createDataFrame([Row(t=["a", "b", "c", "d"]), Row(t=["x"]), Row(t=[])])
    for n, expect in [
        (1, [["a", "b", "c", "d"], ["x"], []]),
        (2, [["a b", "b c", "c d"], [], []]),
        (3, [["a b c", "b c d"], [], []]),
    ]:
        got = [r["s"] for r in df.select(dedup.shingles(F.col("t"), n).alias("s")).collect()]
        assert got == expect, f"n={n}"


def test_shingles_distinct(spark):
    df = spark.createDataFrame([Row(t=["a", "a", "a"])])
    got = df.select(dedup.shingles(F.col("t"), 2).alias("s")).collect()[0]["s"]
    assert got == ["a a"]


def test_grams_keep_multiplicity_and_order(spark):
    df = spark.createDataFrame([Row(t=["a", "b", "a", "b"]), Row(t=["x"]), Row(t=[])])
    got = [r["g"] for r in df.select(dedup.grams(F.col("t"), 2).alias("g")).collect()]
    assert got == [["a b", "b a", "a b"], [], []]
    got1 = [r["g"] for r in df.select(dedup.grams(F.col("t"), 1).alias("g")).collect()]
    assert got1 == [["a", "b", "a", "b"], ["x"], []]


def test_source_mix_weights_normalize(spark):
    """α-temperature weights and token shares each sum to 1 (up to
    fold rounding) and the weights flatten the mix: the largest
    source's weight is below its raw token share."""
    from conftest import SF_SMOKE
    from rstreams_spark.queries.textq import source_mix

    rows = source_mix(spark, SF_SMOKE).collect()
    assert abs(sum(r["alpha_weight"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-9
    top = max(rows, key=lambda r: r["n_tokens"])
    assert top["alpha_weight"] < top["token_share"] or len(rows) == 1


def test_quality_repetition_flags_repetitive_doc(spark, tmp_path):
    """A doc that is one phrase repeated must trip both Gopher cuts;
    a diverse doc must keep=True with zero dup fractions."""
    import pandas as pd

    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "spam ham " * 30,  # top-2gram covers ~everything
                " ".join(f"w{i}" for i in range(60)),  # all distinct
            ],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [240, 240],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    from rstreams_spark.queries.textq import quality_repetition

    rows = {r["doc_id"]: r for r in quality_repetition(spark, sf).collect()}
    assert not rows[1]["keep"] and rows[1]["top2gram_char_frac"] > 0.5
    assert rows[1]["dup3gram_char_frac"] > 0.5 and rows[1]["dup_word_frac"] > 0.9
    assert rows[2]["keep"] and rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["dup3gram_char_frac"] == 0.0


def _write_docs(tmp_path, texts):
    import pandas as pd

    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    return sf


def test_span_dedup_removes_repeated_span(spark, tmp_path):
    """A 16-token span that re-occurs verbatim in a later document is
    removed there and kept at its first occurrence (Lee et al. span
    dedup at 16-token granularity)."""
    span = " ".join(f"s{i}" for i in range(16))
    other = " ".join(f"u{i}" for i in range(16))
    sf = _write_docs(tmp_path, [span, span + " " + other])
    from rstreams_spark.queries.textq import span_dedup

    rows = {r["doc_id"]: r for r in span_dedup(spark, sf).collect()}
    assert rows[1]["n_spans"] == 1 and rows[1]["n_dup_spans"] == 0
    assert rows[1]["dedup_text"] == span
    assert rows[2]["n_spans"] == 2 and rows[2]["n_dup_spans"] == 1
    assert rows[2]["dedup_text"] == other
    assert rows[2]["n_tokens_kept"] == 16


def test_span_dedup_guard_rejects_min_long_doc_id_without_ansi(spark, tmp_path):
    """doc_id = -2**63 lies outside the doc_id*1e8+idx key domain.
    With ANSI off, abs() of it wraps to itself, so the guard must not
    rest on abs(): the query has to fail, not wrap the key."""
    import pandas as pd
    import pytest

    from rstreams_spark.queries.textq import span_dedup

    pd.DataFrame(
        {
            "doc_id": [-(2**63), 7],
            "text": ["a b c", "a b c"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [5, 5],
        }
    ).to_parquet(f"{tmp_path}/documents.parquet")
    sub = spark.newSession()
    sub.conf.set("spark.sql.ansi.enabled", "false")
    with pytest.raises(Exception, match="key domain"):
        span_dedup(sub, str(tmp_path)).collect()


def test_doc_commonness_exact_formula(spark, tmp_path):
    """commonness = Σ df(term occurrences) / (n_tokens · n_docs),
    exact rational: docs {a b, a c} → both (2+1)/(2·2) = 0.75."""
    sf = _write_docs(tmp_path, ["a b", "a c"])
    from rstreams_spark.queries.textq import doc_commonness

    rows = {r["doc_id"]: r for r in doc_commonness(spark, sf).collect()}
    assert rows[1]["commonness"] == 0.75 == rows[2]["commonness"]
    assert rows[1]["n_tokens"] == 2 and rows[1]["n_distinct_terms"] == 2


def test_ngram_novelty_first_doc_wins(spark, tmp_path):
    """A doc's gram seen earlier (smaller doc_id) is not novel; the
    first doc always scores 1.0."""
    sf = _write_docs(tmp_path, ["x y z w", "x y z q"])
    from rstreams_spark.queries.textq import ngram_novelty

    rows = {r["doc_id"]: r for r in ngram_novelty(spark, sf).collect()}
    assert rows[1]["novelty_frac"] == 1.0 and rows[1]["n_distinct_grams"] == 2
    assert rows[2]["n_novel_grams"] == 1 and rows[2]["novelty_frac"] == 0.5


def test_source_overlap_matrix(spark, tmp_path):
    """Mirror detection: sources sharing a distinct 3-gram pair up
    with exact Jaccard; disjoint sources emit no row (inner support).
    Duplicate grams WITHIN a source count once (distinct collapse)."""
    import pandas as pd

    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            # srcA twice emits gram "a b c" — must count once
            "text": ["a b c d", "a b c", "a b c x", "p q r s"],
            "lang": ["en"] * 4,
            "source": ["srcA", "srcA", "srcB", "srcC"],
            "n_chars": [7, 5, 7, 7],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    from rstreams_spark.queries.textq import source_overlap

    rows = source_overlap(spark, sf).collect()
    assert len(rows) == 1  # srcC shares nothing → no row
    r = rows[0]
    assert (r["source_a"], r["source_b"]) == ("srcA", "srcB")
    # srcA grams {a b c, b c d}; srcB grams {a b c, b c x}; shared 1
    assert r["shared_grams"] == 1 and r["grams_a"] == 2 and r["grams_b"] == 2
    assert r["jaccard"] == 1 / 3


def test_winnowing_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee (Schleimer et al.): two docs sharing a
    token run of length ≥ w+k-1 (= 7 for k=w=4) share at least one
    fingerprint; disjoint docs share none."""
    from rstreams_spark.functions.dedup import winnowing_fingerprints

    run = " ".join(f"r{i}" for i in range(7))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=run + " " + " ".join(f"a{i}" for i in range(8))),
            Row(doc_id=2, text=" ".join(f"b{i}" for i in range(8)) + " " + run),
            Row(doc_id=3, text=" ".join(f"c{i}" for i in range(15))),
        ]
    )
    fps = winnowing_fingerprints(docs, "text", 4, 4).collect()
    by_id = {}
    for r in fps:
        by_id.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_id[1] & by_id[2], "shared 7-token run must share a fingerprint"
    assert not (by_id[1] & by_id[3]) and not (by_id[2] & by_id[3])


def test_audio_probe_parses_real_wav_and_flac():
    """Header probe vs real containers: a stdlib-wave-written WAV, a
    build_wav round-trip, a hand-packed FLAC STREAMINFO, garbage."""
    import io
    import wave

    from rstreams_spark.functions.audiohdr import build_wav, probe_audio

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(22050)
    w.writeframes(b"\x00\x00" * 50)
    w.close()
    assert probe_audio(buf.getvalue()) == ("wav", 22050, 1, 16, 50)
    assert probe_audio(build_wav(16000, 2, 16, 37)) == ("wav", 16000, 2, 16, 37)

    rate, ch, bits, n = 44100, 2, 16, 1000
    word = (rate << 44) | ((ch - 1) << 41) | ((bits - 1) << 36) | n
    flac = (
        b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
        + b"\x00" * 10 + word.to_bytes(8, "big") + b"\x00" * 16
    )
    assert probe_audio(flac) == ("flac", rate, ch, bits, n)
    assert probe_audio(b"not audio at all") is None


def test_extract_audio_meta_round_trips_digest_params(spark):
    """with_audio_payload builds REAL WAV bytes from sha256-derived
    params; extract_audio_meta must parse back exactly those params."""
    import hashlib

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="some document text"),
         Row(doc_id=2, text="another one")]
    )
    got = {
        r["doc_id"]: r
        for r in multimodal.extract_audio_meta(
            multimodal.with_audio_payload(docs)
        ).collect()
    }
    for doc_id, text in [(1, "some document text"), (2, "another one")]:
        d = hashlib.sha256(text.encode()).digest()
        r = got[doc_id]
        assert r["format"] == "wav"
        assert r["sample_rate"] == 8000 + (d[0] % 8) * 1000
        assert r["channels"] == 1 + d[1] % 2
        assert r["bits"] == 16
        assert r["n_samples"] == 16 + d[2] % 64


def test_dataset_split_partitions_every_doc(spark):
    """Split counts cover the corpus exactly once and the hash split
    lands near 80/10/10."""
    from conftest import SF_SMOKE
    from rstreams_spark.queries._util import t as load
    from rstreams_spark.queries.textq import dataset_split

    rows = {r["split"]: r for r in dataset_split(spark, SF_SMOKE).collect()}
    total = load(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows.values()) == total
    assert set(rows) <= {"train", "val", "test"}
    assert rows["train"]["n_docs"] > 0.6 * total


def test_minhash_identical_docs_same_signature(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps"),
         Row(doc_id=2, text="THE QUICK  brown FOX jumps!!"),
         Row(doc_id=3, text="a completely different sentence here")]
    )
    sh = dedup.doc_shingles(docs, "text", 2)
    sig = dedup.minhash_signature(sh, 8).collect()
    by_id = {r["doc_id"]: [r[f"h{i}"] for i in range(8)] for r in sig}
    assert by_id[1] == by_id[2]  # normalization-identical → same sig
    assert by_id[1] != by_id[3]


def test_lsh_identical_docs_are_candidates(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta"),
         Row(doc_id=2, text="alpha beta gamma delta"),
         Row(doc_id=3, text="one two three four")]
    )
    sh = dedup.doc_shingles(docs, "text", 2)
    pairs = dedup.lsh_band_pairs(dedup.minhash_signature(sh, 8), 8, 4).collect()
    assert {(r["id1"], r["id2"]) for r in pairs} == {(1, 2)}


def test_simhash_close_for_similar_docs(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="w1 w2 w3 w4 w5 w6 w7 w8"),
         Row(doc_id=2, text="w1 w2 w3 w4 w5 w6 w7 w9"),
         Row(doc_id=3, text="z1 z2 z3 z4 z5 z6 z7 z8")]
    )
    sh = dedup.doc_shingles(docs, "text", 1)
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash32(sh).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[1], got[2]) < hamming(got[1], got[3])


def test_cosine_exact(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0])]
    )
    got = [
        r["c"] for r in df.select(
            similarity.cosine(F.col("a"), F.col("b")).alias("c")
        ).collect()
    ]
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(0.0)


def test_brute_topk(spark):
    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i == j) for j in range(4)]) for i in range(4)]
        + [Row(vec_id=10, embedding=[1.0, 0.1, 0.0, 0.0])]
    )
    probes = vecs.where(F.col("vec_id") == 0)
    got = similarity.brute_topk(vecs, probes, 1).collect()
    assert len(got) == 1
    assert got[0]["vec_id"] == 10  # closest to e_0 is the (1, .1) vector


def test_brute_topk_probe_cap_enforced(spark):
    """The max_probes bound is a hard in-plan guard, not advice: a
    probe side over the cap fails the job at execution time."""
    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(8)]
    )
    with pytest.raises(Exception, match="max_probes"):
        similarity.brute_topk(vecs, vecs, 1, max_probes=4).collect()
    # at or under the cap: runs clean
    ok = similarity.brute_topk(vecs, vecs.limit(3), 1, max_probes=4)
    assert ok.count() == 3


def test_incremental_dedup_exact(spark):
    """Ingest batch against a seen-fingerprint table: already-seen
    content drops, intra-batch dups keep min id, new content passes
    and its fingerprints come back for the seen-table append."""
    import hashlib

    from rstreams_spark.functions.dedup import incremental_dedup_exact
    from rstreams_spark.functions.text import md5_fingerprint

    old = spark.createDataFrame([Row(doc_id=0, text="already seen")])
    seen = old.select(md5_fingerprint(F.col("text")).alias("fp"))
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text="already seen"),      # dup of corpus
            Row(doc_id=12, text="twice in batch"),    # intra-batch dup
            Row(doc_id=11, text="twice in batch"),    #   (11 wins)
            Row(doc_id=13, text="genuinely new"),
        ]
    )
    fresh, fresh_fps = incremental_dedup_exact(batch, seen)
    assert sorted(r["doc_id"] for r in fresh.collect()) == [11, 13]
    assert fresh_fps.count() == 2
    # appending and re-ingesting the same batch yields nothing new
    seen2 = seen.unionByName(fresh_fps)
    again, _ = incremental_dedup_exact(batch, seen2)
    assert again.count() == 0


def test_incremental_dedup_exact_map_column(spark):
    """Non-orderable columns (MapType) ride along: min() rejects
    them inside the argmin struct, so they join back on the kept id
    instead — same keeps, same min-id winners, NULL-text group
    included (ADVICE r6: the struct-argmin rewrite had regressed
    map-typed schemas that the old join-back form accepted)."""
    from rstreams_spark.functions.dedup import incremental_dedup_exact

    batch = spark.createDataFrame(
        [
            (12, "twice in batch", {"src": "b"}),
            (11, "twice in batch", {"src": "a"}),  # 11 wins
            (13, "genuinely new", {"src": "c"}),
            (15, None, {"src": "n2"}),
            (14, None, {"src": "n1"}),             # NULL-fp group: 14 wins
        ],
        "doc_id bigint, text string, meta map<string,string>",
    )
    seen = spark.createDataFrame([], "fp string")
    fresh, fresh_fps = incremental_dedup_exact(batch, seen)
    rows = {r["doc_id"]: r["meta"] for r in fresh.collect()}
    assert sorted(rows) == [11, 13, 14]
    # the map column carries the KEPT row's value, not a random dup's
    assert rows[11] == {"src": "a"} and rows[14] == {"src": "n1"}
    assert fresh.columns == ["doc_id", "text", "meta"]


def test_empty_input_edge_cases(spark):
    """Operators degrade to empty output, not errors, on empty
    inputs — at scale a filtered-out partition/day is routine."""
    from rstreams_spark.functions.dedup import (
        connected_components, doc_shingles, minhash_signature,
    )
    from rstreams_spark.operators import windows

    empty_edges = spark.createDataFrame([], "id1 bigint, id2 bigint")
    assert connected_components(empty_edges).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    sh = doc_shingles(empty_docs, "text", 2)
    assert sh.count() == 0
    assert minhash_signature(sh, 4).count() == 0

    empty_ev = spark.createDataFrame([], "key string, ts timestamp, v double")
    out = windows.tumbling_window(
        empty_ev, "key", "ts", "1 hour", F.count("*").alias("n"),
        gap_fill=True,
    )
    assert out.count() == 0


def test_connected_components_labels_min_node(spark):
    """Path 1-2-3 plus pair 10-11 plus chain 20-21-22-23 (diameter >
    1 round): every node labeled with its component minimum."""
    from rstreams_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [Row(id1=a, id2=b) for a, b in
         [(2, 1), (2, 3), (10, 11), (23, 22), (22, 21), (21, 20)]]
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_star_deep_chain(spark):
    """SURVEY §7c.3 rationale made concrete: a 300-node path (plus a
    shuffled-id clique) converges in O(log²) star rounds — far below
    the ~150 min-label rounds the same graph would need. Ids are
    permuted so the chain isn't accidentally pre-sorted toward its
    minimum."""
    import random

    from rstreams_spark.functions.dedup import connected_components_star

    rng = random.Random(7)
    ids = list(range(1000, 1300))
    rng.shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    clique = [(5, 6), (6, 7), (5, 7)]
    edges = spark.createDataFrame(
        [Row(id1=a, id2=b) for a, b in chain + clique]
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(edges, max_iter=12).collect()
    }
    lo = min(ids)
    assert all(got[n] == lo for n in ids)
    assert got[5] == got[6] == got[7] == 5
    assert len(got) == 303


def test_star_cc_equals_min_label_on_real_dup_graph(spark):
    """Both CC algorithms produce the identical labeling on the
    actual minhash-LSH dup graph (the graph dedup_clusters runs on) —
    algorithm interchangeability proven on real candidate pairs, not
    just synthetic edges."""
    from conftest import SF_SMOKE

    from rstreams_spark.functions.dedup import (
        connected_components, connected_components_star, doc_shingles,
        lsh_band_pairs, minhash_signature,
    )
    from rstreams_spark.queries._util import t as load
    from rstreams_spark.queries.dedupq import BANDS, NUM_PERM

    docs = load(spark, SF_SMOKE, "documents")
    pairs = lsh_band_pairs(
        minhash_signature(doc_shingles(docs, "text", 2), NUM_PERM),
        NUM_PERM, BANDS,
    ).localCheckpoint(eager=True)
    a = {(r["node"], r["cluster_id"])
         for r in connected_components(pairs).collect()}
    b = {(r["node"], r["cluster_id"])
         for r in connected_components_star(pairs).collect()}
    assert a == b and len(a) > 0

    from rstreams_spark.functions.dedup import connected_components_hybrid

    c = {(r["node"], r["cluster_id"])
         for r in connected_components_hybrid(pairs).collect()}
    assert a == c


def test_hybrid_cc_deep_chain_forces_contraction(spark):
    """With label_rounds far below the chain diameter, hybrid CC must
    take the contraction path: partial min-label labels collapse the
    graph, star CC finishes on the quotient, and the composed
    labeling is the exact component min (the internal fixpoint guard
    re-verifies against the original edges)."""
    import random

    from rstreams_spark.functions.dedup import connected_components_hybrid

    rng = random.Random(13)
    ids = list(range(2000, 2200))
    rng.shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    clique = [(5, 6), (6, 7), (5, 7)]
    edges = spark.createDataFrame(
        [Row(id1=a, id2=b) for a, b in chain + clique]
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components_hybrid(
            edges, label_rounds=2, max_iter=12
        ).collect()
    }
    lo = min(ids)
    assert all(got[n] == lo for n in ids)
    assert got[5] == got[6] == got[7] == 5
    assert len(got) == 203


def test_hybrid_cc_empty_and_converged_paths(spark):
    """Empty edges degrade to empty output; a graph that converges
    within label_rounds returns the min-label result directly."""
    from rstreams_spark.functions.dedup import connected_components_hybrid

    empty_edges = spark.createDataFrame([], "id1 bigint, id2 bigint")
    assert connected_components_hybrid(empty_edges).count() == 0

    edges = spark.createDataFrame(
        [Row(id1=a, id2=b) for a, b in [(2, 1), (2, 3), (10, 11)]]
    )
    got = {r["node"]: r["cluster_id"]
           for r in connected_components_hybrid(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_hybrid_cc_single_task_shortcircuit_labels(spark):
    """A graph small enough for ONE contraction task takes the r13
    fast path (no phase-B certify round) and must still label every
    node exactly — including self-loop-only nodes, which never reach
    the union-find (their edges are filtered) and ride in via the
    node universe, and the component min itself."""
    from rstreams_spark.functions.dedup import (
        connected_components, connected_components_hybrid,
    )

    rows = [(9, 2), (2, 4), (50, 51), (7, 7), (60, 60)]
    edges = spark.createDataFrame([Row(id1=a, id2=b) for a, b in rows])
    got = {r["node"]: r["cluster_id"]
           for r in connected_components_hybrid(edges).collect()}
    assert got == {2: 2, 4: 2, 9: 2, 50: 50, 51: 50, 7: 7, 60: 60}
    ref = {r["node"]: r["cluster_id"]
           for r in connected_components(edges).collect()}
    assert got == ref


def test_decode_image_gated_on_codec():
    """decode_image is a real PIL call when the codec exists, a clean
    NotImplementedError when it doesn't — same test green both ways."""
    if multimodal.HAS_PIL:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (5, 3)).save(buf, format="PNG")
        assert multimodal.decode_image(buf.getvalue())[:2] == (5, 3)
    else:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\x89PNG\r\n\x1a\n")


def test_multimodal_meta_deterministic(spark):
    docs = spark.createDataFrame([Row(doc_id=7, text="hello")])
    got = multimodal.extract_meta(multimodal.with_binary_payload(docs)).collect()[0]
    assert got["n_bytes"] == 5
    assert got["content_sha256"] == hashlib.sha256(b"hello").hexdigest()
    digest = hashlib.sha256(b"hello").digest()
    assert got["format"] is None  # text payload: stub path
    assert got["width"] == 16 + digest[0] % 64
    assert got["magic"] == b"hell".hex()


def _png_bytes(width: int, height: int) -> bytes:
    """A complete, spec-valid grayscale PNG built with stdlib only
    (signature + IHDR + IDAT of zlib'd scanlines + IEND, real CRCs)."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _gif_bytes(width: int, height: int) -> bytes:
    import struct

    return (
        b"GIF89a" + struct.pack("<HH", width, height)
        + b"\x00\x00\x00" + b"\x3b"  # no GCT, trailer
    )


def _bmp_bytes(width: int, height: int) -> bytes:
    import struct

    row = (width * 3 + 3) & ~3  # rows padded to 4 bytes
    pixels = bytes(row * height)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                    len(pixels), 2835, 2835, 0, 0)
    return header + pixels


def _jpeg_header_bytes(width: int, height: int) -> bytes:
    """SOI + APP0/JFIF + SOF0 frame header (enough of ITU-T T.81 for
    dimension probing; not a full decodable scan)."""
    import struct

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
    )


def test_probe_image_formats():
    from rstreams_spark.functions.imagehdr import probe_image

    assert probe_image(_png_bytes(640, 480)) == ("png", 640, 480)
    assert probe_image(_gif_bytes(32, 17)) == ("gif", 32, 17)
    assert probe_image(_bmp_bytes(11, 7)) == ("bmp", 11, 7)
    assert probe_image(_jpeg_header_bytes(1920, 1080)) == ("jpeg", 1920, 1080)
    assert probe_image(b"plain text payload") is None
    assert probe_image(b"\x89PNG\r\n\x1a\n") is None  # truncated
    assert probe_image(b"") is None


def test_extract_meta_real_image_payloads(spark):
    """Real (non-stub) metadata lands through the full Spark path for
    actual image containers, byte-exact, while non-image payloads in
    the same frame keep the deterministic stub — the honest mixed
    corpus case."""
    rows = [
        Row(doc_id=1, payload=bytearray(_png_bytes(640, 480))),
        Row(doc_id=2, payload=bytearray(_gif_bytes(32, 17))),
        Row(doc_id=3, payload=bytearray(_jpeg_header_bytes(1920, 1080))),
        Row(doc_id=4, payload=bytearray(_bmp_bytes(11, 7))),
        Row(doc_id=5, payload=bytearray(b"not an image")),
    ]
    got = {
        r["doc_id"]: r
        for r in multimodal.extract_meta(spark.createDataFrame(rows)).collect()
    }
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 640, 480)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("gif", 32, 17)
    assert (got[3]["format"], got[3]["width"], got[3]["height"]) == ("jpeg", 1920, 1080)
    assert (got[4]["format"], got[4]["width"], got[4]["height"]) == ("bmp", 11, 7)
    assert got[5]["format"] is None
    digest = hashlib.sha256(b"not an image").digest()
    assert got[5]["width"] == 16 + digest[0] % 64
    assert got[1]["content_sha256"] == hashlib.sha256(_png_bytes(640, 480)).hexdigest()


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_token_chunks(spark):
    from pyspark.sql import Row as R

    df = spark.createDataFrame([R(t=[f"w{i}" for i in range(10)]), R(t=[])])
    got = [
        r["c"]
        for r in df.select(text.token_chunks(F.col("t"), 4, 1).alias("c")).collect()
    ]
    # stride 3: starts 0,3,6,9 → last chunk is the 1-token tail
    chunks = [(c["chunk_idx"], c["chunk_text"], c["n_tokens"]) for c in got[0]]
    assert chunks == [
        (0, "w0 w1 w2 w3", 4), (1, "w3 w4 w5 w6", 4),
        (2, "w6 w7 w8 w9", 4), (3, "w9", 1),
    ]
    assert got[1] == []


def test_token_chunks_rejects_bad_overlap():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        text.token_chunks(F.lit(None), 4, 4)


def test_sample_frames_plumbing(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="abcdefghij"), Row(doc_id=2, text="xy")])
    got = multimodal.sample_frames(multimodal.with_binary_payload(docs), 4).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 10 bytes / 4 frames of step 2
    f1 = sorted(by_doc[1], key=lambda r: r["frame_idx"])
    assert [bytes(r["frame"]) for r in f1] == [b"ab", b"cd", b"ef", b"gh"]
    assert all(
        r["frame_sha1"] == hashlib.sha1(bytes(r["frame"])).hexdigest() for r in f1
    )
    # doc 2: only 2 bytes → 2 frames
    assert [bytes(r["frame"]) for r in sorted(by_doc[2], key=lambda r: r["frame_idx"])] == [b"x", b"y"]


def test_resize_images_plumbing(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="abcdefgh")])
    got = multimodal.resize_images(
        multimodal.with_binary_payload(docs), 2, 2
    ).collect()[0]
    assert (got["width"], got["height"]) == (2, 2)
    assert len(bytes(got["thumb"])) == 4
    assert got["thumb_sha1"] == hashlib.sha1(bytes(got["thumb"])).hexdigest()
    # deterministic: same input → same thumb
    again = multimodal.resize_images(
        multimodal.with_binary_payload(docs), 2, 2
    ).collect()[0]
    assert bytes(again["thumb"]) == bytes(got["thumb"])


def test_video_probe_parses_mp4_and_avi():
    """Container probe against the spec, three ways: build_mp4/avi
    round-trips, a hand-packed version-1 mvhd (64-bit duration — a
    path the builder never emits), and garbage."""
    import struct

    from rstreams_spark.functions.videohdr import (
        AVI_FIXED_BYTES, MP4_FIXED_BYTES, build_avi, build_mp4, probe_video,
    )

    assert probe_video(build_mp4(320, 240, 25, 100, 12)) == (
        "mp4", 320, 240, 25, 100, 12
    )
    assert len(build_mp4(320, 240, 25, 100, 12)) == MP4_FIXED_BYTES + 4 * 12
    assert probe_video(build_avi(640, 480, 40000, 30)) == (
        "avi", 640, 480, 1_000_000, 40000 * 30, 30
    )
    assert len(build_avi(640, 480, 40000, 30)) == AVI_FIXED_BYTES

    # hand-packed ISO BMFF with a version-1 mvhd: 64-bit times,
    # 32-bit timescale at payload offset 20, 64-bit duration at 24
    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    mvhd_v1 = box(
        b"mvhd",
        struct.pack(">B3x", 1)
        + struct.pack(">QQ", 0, 0)          # creation/mod (64-bit)
        + struct.pack(">I", 90000)          # timescale
        + struct.pack(">Q", 4500000),       # duration (64-bit)
    )
    p = box(b"ftyp", b"isom") + box(b"moov", mvhd_v1)
    got = probe_video(p)
    assert got is not None
    assert (got[0], got[3], got[4]) == ("mp4", 90000, 4500000)

    assert probe_video(b"definitely not a video") is None
    # truncated/malformed box sizes must not crash or loop
    assert probe_video(box(b"ftyp", b"isom")[:10]) is None
    # truncated VERSION-1 mvhd (28 payload bytes — 4 short of the
    # 64-bit duration read): must return None, not raise or misparse
    # the 64-bit fields through the version-0 branch
    short_v1 = box(
        b"mvhd",
        struct.pack(">B3x", 1) + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 90000),
    )
    assert probe_video(box(b"ftyp", b"isom") + box(b"moov", short_v1)) is None

    # multi-track file (audio + video): n_frames must count the
    # VIDEO track's samples only (not sum audio sample counts) and
    # dims come from the dimensioned track, not whichever tkhd
    # parsed last — the real-world layout the probe pre-filters at
    # scale puts the zero-dim audio trak first
    def _trak(w, h, count):
        tkhd = box(
            b"tkhd",
            b"\x00" * 76 + struct.pack(">II", w << 16, h << 16),
        )
        stsz = box(
            b"stsz", struct.pack(">B3x", 0) + struct.pack(">II", 0, count)
            + struct.pack(f">{count}I", *([0] * count)),
        )
        return box(
            b"trak",
            tkhd + box(b"mdia", box(b"minf", box(b"stbl", stsz))),
        )

    mvhd_v0 = box(
        b"mvhd",
        struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
        + struct.pack(">II", 25, 100),
    )
    audio_then_video = box(b"ftyp", b"isom") + box(
        b"moov", mvhd_v0 + _trak(0, 0, 999) + _trak(320, 240, 12)
    )
    assert probe_video(audio_then_video) == ("mp4", 320, 240, 25, 100, 12)


def test_budget_sample_greedy_prefix_contract(spark):
    """budget_sample equals a sequential greedy model: per source,
    walk docs in (hash, doc_id) order keeping while the running
    total is under the budget — every source keeps >= 1 doc, and the
    kept set is exactly the model's."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark.functions.text import hash64
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.textq import (
        BUDGET_SALT, TOKEN_BUDGET, _ws_tokens, budget_sample,
    )

    got = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["cum_before"])
        for r in budget_sample(spark, SF_SMOKE).collect()
    }
    base = (
        t(spark, SF_SMOKE, "documents")
        .select(
            "doc_id", "source",
            F.size(_ws_tokens()).cast("long").alias("n_tokens"),
            hash64(F.col("doc_id").cast("string"), salt=BUDGET_SALT).alias("h"),
        )
        .collect()
    )
    by_src: dict = {}
    for r in base:
        by_src.setdefault(r["source"], []).append(r)
    want = {}
    for src, rows in by_src.items():
        cum = 0
        for r in sorted(rows, key=lambda x: (x["h"], x["doc_id"])):
            if cum < TOKEN_BUDGET:
                want[r["doc_id"]] = (src, r["n_tokens"], cum)
            cum += r["n_tokens"]
    assert got == want
    assert {v[0] for v in got.values()} == set(by_src)  # every source kept
