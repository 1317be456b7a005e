"""Unit tests for the operator library on small synthetic frames
(golden input → exact expected output, mirroring the reference's
fixture-test style — SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omicidx_gh_etl_spark.operators import dedup, multimodal, similarity, text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokens_sql_matches_filter_form(spark):
    """The codegen-friendly tokens_sql (trim + split-on-runs +
    array_remove) is bit-identical to the literal
    filter(split(x,' '), x != '') form — including NULL, empty,
    all-spaces, leading/trailing/run-of-spaces, and tab-in-token
    edges (split is on SPACE only; tabs stay inside tokens)."""
    rows = [(None,), ("",), ("   ",), ("a b",), ("a  b",), (" a b ",),
            ("a\tb c",), ("  lone  ",), ("x",), ("a b  c   d ",)]
    df = spark.createDataFrame(rows, "text string")
    got = df.selectExpr(
        f"{dedup.tokens_sql('text')} AS new",
        "filter(split(text, ' '), x -> x != '') AS old",
    ).collect()
    for r in got:
        assert r["new"] == r["old"], (r["new"], r["old"])


def test_exact_dedup_clusters(spark):
    df = _docs(
        spark,
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")],
    )
    out = {r["keeper"]: r["n_copies"] for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 3, 3: 1}


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "one two"), (2, "one two three four")])
    sh = dedup.shingles(df, "text", "doc_id", n=3).collect()
    by_doc: dict[int, set[str]] = {}
    for r in sh:
        by_doc.setdefault(r["doc_id"], set()).add(r["shingle"])
    assert 1 not in by_doc  # < n tokens → no shingles, no descending-sequence bug
    assert by_doc[2] == {"one two three", "two three four"}


def test_jaccard_pairs_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c x} → J = 1/3
    df = _docs(spark, [(1, "a b c d"), (2, "a b c x")])
    sh = dedup.shingles(df, "text", "doc_id", n=3)
    rows = dedup.jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    assert len(rows) == 1
    assert rows[0]["d1"] == 1 and rows[0]["d2"] == 2
    assert abs(rows[0]["jaccard"] - round(1 / 3, 4)) < 1e-9


def test_minhash_identical_docs_are_candidates(spark):
    df = _docs(
        spark,
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 w6"), (3, "q r s t u v")],
    )
    sh = dedup.shingles(df, "text", "doc_id", n=3)
    pairs = {(r["d1"], r["d2"]) for r in
             dedup.minhash_lsh_candidates(sh, "doc_id").collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_docs_equal(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")])
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, "text", "doc_id").collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 2**16


def test_cosine_topk_orthonormal(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7071, 0.7071])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "qv array<double>")
    rows = similarity.cosine_topk(emb, q, k=2).collect()
    assert [r["vec_id"] for r in rows] == [1, 3]
    assert rows[0]["cos_sim"] == 1.0


def test_ivf_assign_picks_nearest(spark):
    emb = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.1, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id long, cv array<double>"
    )
    out = {r["vec_id"]: r["centroid_id"] for r in similarity.ivf_assign(emb, cents).collect()}
    assert out == {10: 0, 11: 1}


def test_langid_marker_ratio(spark):
    df = _docs(spark, [(1, "the cat in the hat"), (2, "zzz qqq www")])
    out = {r["doc_id"]: r["pred_lang"] for r in
           text.langid_heuristic(df, "text", ["doc_id"]).collect()}
    assert out == {1: "en", 2: "other"}


def test_fingerprint_normalizes_whitespace_case(spark):
    df = _docs(spark, [(1, "Hello  World"), (2, "hello world"), (3, "other")])
    out = {r["doc_id"]: r["fp"] for r in text.fingerprint(df, "text", ["doc_id"]).collect()}
    assert out[1] == out[2] != out[3]


def test_multimodal_feature_batch(spark):
    df = _docs(spark, [(1, "abc"), (2, "xyz!")])
    wrapped = multimodal.attach_binary_payload(df, "text", "doc_id")
    out = {r["doc_id"]: (r["n_bytes"], r["first_byte"], r["last_byte"])
           for r in multimodal.extract_features(wrapped).collect()}
    assert out == {1: (3, ord("a"), ord("c")), 2: (4, ord("x"), ord("!"))}


# -- skew ---------------------------------------------------------------------


def test_salted_join_matches_plain_join(spark):
    from omicidx_gh_etl_spark.operators import skew

    # hot key 1 (100 rows), cold keys 2..5
    fact = spark.createDataFrame(
        [(1, i) for i in range(100)] + [(k, 0) for k in range(2, 6)], "k int, v int"
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 5)], "k int, name string")
    got = skew.salted_join(fact, dim, on=["k"], salt_buckets=4)
    want = fact.join(dim, ["k"])
    assert got.columns == want.columns  # salt column dropped
    assert sorted(got.collect()) == sorted(want.collect())


def test_salted_join_left_keeps_unmatched(spark):
    from omicidx_gh_etl_spark.operators import skew

    fact = spark.createDataFrame([(1, 10), (9, 90)], "k int, v int")
    dim = spark.createDataFrame([(1, "a")], "k int, name string")
    got = sorted(skew.salted_join(fact, dim, on=["k"], salt_buckets=3, how="left").collect())
    want = sorted(fact.join(dim, ["k"], "left").collect())
    assert got == want


def test_two_stage_agg_matches_plain_groupby(spark):
    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.operators import skew

    df = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(1000)] + [("cold", 1, 2.0)],
        "k string, a int, x double",
    )
    got = skew.two_stage_agg(
        df, ["k"],
        {"n": ("a", "count"), "s": ("x", "sum"), "mn": ("a", "min"), "mx": ("a", "max")},
        salt_buckets=4,
    )
    want = df.groupBy("k").agg(
        F.count("a").alias("n"), F.sum("x").alias("s"),
        F.min("a").alias("mn"), F.max("a").alias("mx"),
    )
    g = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in got.collect()}
    w = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in want.collect()}
    assert g == w


# -- simhash band search / ivf search ----------------------------------------


def test_simhash_band_pairs_exact_by_pigeonhole(spark):
    from omicidx_gh_etl_spark.operators import dedup

    # hand-built 32-bit signatures: 1&2 differ in 2 bits, 1&3 in 20+
    sig = spark.createDataFrame(
        [(1, 0x0F0F0F0F), (2, 0x0F0F0F0C), (3, 0x70F0F0F0), (4, 0x0F0F0F0F)],
        "doc_id int, simhash long",
    )
    out = {(r["d1"], r["d2"]): r["hamming"]
           for r in dedup.simhash_band_pairs(sig, "doc_id", bits=32, bands=4,
                                             max_hamming=3).collect()}
    assert out == {(1, 2): 2, (2, 4): 2, (1, 4): 0}


def test_ivf_search_probes_limit_candidates(spark):
    from omicidx_gh_etl_spark.operators import similarity

    # 2 well-separated clusters on axes; centroids = axis units
    vecs = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.8, 0.2]),
        (10, [0.0, 1.0]), (11, [0.1, 0.9]), (12, [0.2, 0.8]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, cv array<double>"
    )
    q = spark.createDataFrame([(0, [1.0, 0.05])], "q_id int, qv array<double>")
    # nprobe=1: only the x-axis cell is scanned
    got = similarity.ivf_search(emb, cents, q, k=10, nprobe=1)
    ids = {r["vec_id"] for r in got.collect()}
    assert ids == {1, 2}  # cell members minus the query's own id (0)
    # nprobe=2: both cells scanned → all other vectors ranked
    got2 = similarity.ivf_search(emb, cents, q, k=10, nprobe=2)
    assert {r["vec_id"] for r in got2.collect()} == {1, 2, 10, 11, 12}


def test_ivf_search_probe_inline_matches_join_path(spark, sf_dir):
    """The driver-inlined probe map (_probe_inline_sql — zero joins,
    zero probe-side stages) returns exactly the broadcast-join path's
    rows (scores, ranks, ties), and every shape whose SQL semantics
    the driver ranking does not replicate (NULL query vector, NULL
    element, ragged length, non-integral q_id) FALLS BACK to the join
    path rather than inlining."""
    from unittest import mock

    from omicidx_gh_etl_spark.operators import similarity
    from omicidx_gh_etl_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    inline = similarity.ivf_search(e, cents, qs, k=5, nprobe=2)
    assert "BroadcastHashJoin" not in inline._jdf.queryExecution(
    ).executedPlan().toString()
    with mock.patch.object(
        similarity, "_probe_inline_sql", lambda *a, **k: None
    ):
        joined = similarity.ivf_search(e, cents, qs, k=5, nprobe=2)
    a = sorted(tuple(r) for r in inline.collect())
    b = sorted(tuple(r) for r in joined.collect())
    assert a == b and len(a) > 0

    # fallback triggers: each degenerate workload must produce the
    # SAME rows as the forced join path (they all route to it)
    dims = len(e.head(1)[0]["embedding"])
    degenerate = [
        spark.createDataFrame(
            [(0, None), (1, [1.0] * dims)], "q_id int, qv array<double>"
        ),
        spark.createDataFrame(
            [(0, [None] + [1.0] * (dims - 1))], "q_id int, qv array<double>"
        ),
        spark.createDataFrame(
            [(0, [1.0] * (dims - 1))], "q_id int, qv array<double>"
        ),
        # (a non-integral q_id also bails to the join path, but that
        # path's `vec_id != q_id` ANSI cast rejects it for both arms —
        # numeric query ids are the operator contract)
    ]
    for dq in degenerate:
        got = similarity.ivf_search(e, cents, dq, k=3, nprobe=2)
        with mock.patch.object(
            similarity, "_probe_inline_sql", lambda *a, **k: None
        ):
            want = similarity.ivf_search(e, cents, dq, k=3, nprobe=2)
        assert sorted(tuple(r) for r in got.collect()) == sorted(
            tuple(r) for r in want.collect()
        )


def test_ivf_search_nonpositive_nprobe_keeps_join_path(spark):
    """r10 advice: nprobe=0 inlined an empty map() literal (VOID type →
    AnalysisException on explode) and a NEGATIVE nprobe hit Python's
    negative slicing in the driver ranking — returning rows where the
    join path returns none. The guard routes nprobe < 1 to the join
    path, so both paths agree (empty result)."""
    from unittest import mock

    from omicidx_gh_etl_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1])], "vec_id int, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, cv array<double>"
    )
    q = spark.createDataFrame([(7, [1.0, 0.05])], "q_id int, qv array<double>")
    for nprobe in (0, -1):
        got = similarity.ivf_search(emb, cents, q, k=10, nprobe=nprobe)
        with mock.patch.object(
            similarity, "_probe_inline_sql", lambda *a, **k: None
        ):
            want = similarity.ivf_search(emb, cents, q, k=10, nprobe=nprobe)
        assert got.collect() == want.collect() == []


def test_bloom_num_hashes_bounds():
    """num_hashes < 1 must raise HERE (r10 advice) — 0 hash choices
    would emit mask SQL "()" and fail later with a confusing analyzer
    parse error at build/probe time."""
    import pytest as _pytest

    from omicidx_gh_etl_spark.operators.blooms import _word_and_mask_sql

    for bad in (0, -3):
        with _pytest.raises(ValueError, match="num_hashes"):
            _word_and_mask_sql("k", bad, 1 << 10)
    idx, mask = _word_and_mask_sql("k", 1, 1 << 10)
    assert "shiftleft" in mask


def test_winnow_shared_passage_shares_fingerprint(spark):
    from omicidx_gh_etl_spark.operators import text as T

    passage = "the quick brown fox jumps over the lazy dog"
    df = _docs(spark, [
        (1, "AAAA " + passage + " BBBB"),
        (2, "cccc dddd " + passage + " eeee"),
        (3, "completely different content with no overlap at all xyz"),
    ])
    fps = T.winnow_fingerprints(df, "text", "doc_id", k=8, window=4)
    by_doc = {i: set() for i in (1, 2, 3)}
    for r in fps.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    # winnowing guarantee: shared substring >= k + window - 1 chars
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnow_short_doc_yields_no_grams(spark):
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(spark, [(1, "short"), (2, "long enough document here")])
    out = T.winnow_fingerprints(df, "text", "doc_id", k=8, window=4)
    assert {r["doc_id"] for r in out.collect()} == {2}


# -- range join ---------------------------------------------------------------


def test_range_join_boundaries_and_bin_invariance(spark):
    from omicidx_gh_etl_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, 100), (2, 150), (3, 200), (4, 201), (5, 99)], "pid int, ts long"
    )
    intervals = spark.createDataFrame(
        [(10, 100, 200), (20, 150, 150), (30, 500, 600)], "iid int, lo long, hi long"
    )
    for w in (7, 100, 1000):  # results must not depend on bin width
        got = {
            (r["pid"], r["iid"])
            for r in range_join(points, intervals, "ts", "lo", "hi", w).collect()
        }
        assert got == {(1, 10), (2, 10), (3, 10), (2, 20)}, w  # inclusive bounds


def test_range_join_left_keeps_unmatched_points(spark):
    from omicidx_gh_etl_spark.operators.rangejoin import range_join

    points = spark.createDataFrame([(1, 100), (2, 999)], "pid int, ts long")
    intervals = spark.createDataFrame([(10, 50, 150)], "iid int, lo long, hi long")
    rows = range_join(points, intervals, "ts", "lo", "hi", 10, how="left").collect()
    by_pid = {r["pid"]: r for r in rows}
    assert len(rows) == 2
    assert by_pid[1]["iid"] == 10
    assert by_pid[2]["iid"] is None


# -- multimodal frame sampling -----------------------------------------------


def test_sample_frames_every_nth(spark):
    from omicidx_gh_etl_spark.operators import multimodal

    frames = b"".join(bytes([i]) * 4 for i in range(10))  # 10 frames of 4 bytes
    df = spark.createDataFrame([(7, bytearray(frames))], "doc_id long, payload binary")
    out = sorted(
        (r["frame_idx"], bytes(r["frame"])) for r in
        multimodal.sample_frames(df, every_n=3, frame_bytes=4).collect()
    )
    assert out == [(0, b"\x00" * 4), (3, b"\x03" * 4), (6, b"\x06" * 4), (9, b"\x09" * 4)]


def test_langid_profile_argmax_and_und(spark):
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(spark, [
        (1, "the cat of the house and the dog"),
        (2, "der hund und die katze ist nicht da"),
        (3, "le chat et la maison des les est"),
        (4, "zzz qqq www"),
    ])
    profile = spark.createDataFrame(
        list(T.DEFAULT_LANG_PROFILE), "lang string, token string, weight double"
    )
    out = {r["doc_id"]: (r["pred_lang"], r["score"])
           for r in T.langid_profile(df, "text", "doc_id", profile).collect()}
    assert out[1][0] == "en" and out[1][1] > 0
    assert out[2][0] == "de"
    assert out[3][0] == "fr"
    assert out[4] == ("und", 0.0)


def test_connected_components_chains_and_islands(spark):
    from omicidx_gh_etl_spark.operators import dedup

    # chain 1-2-3-4 (diameter 3), pair {10,11}, pair {20,21}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)], "d1 long, d2 long"
    )
    out = {r["node"]: r["component"]
           for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_repetition_stats_flags_loops(spark):
    from omicidx_gh_etl_spark.operators import text as T

    looped = ("click here " * 12).strip() + " end"  # one dominant 2-gram
    clean = ("every single word appearing within this considerably "
             "longer sentence shows up precisely once and therefore "
             "no repeated bigram can dominate its character count")
    df = spark.createDataFrame(
        [(1, looped), (2, clean)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           T.repetition_stats(df, "text", "doc_id").collect()}
    assert 0.20 < out[1]["top2gram_frac"] <= 1.0
    assert out[1]["dup5gram_frac"] > 0.15      # positional token coverage
    assert out[1]["dup5gram_frac"] <= 1.0
    assert out[2]["top2gram_frac"] < 0.20
    assert out[2]["dup5gram_frac"] == 0.0


def test_incremental_lsh_matches_full_batch_filtered(spark):
    from omicidx_gh_etl_spark.operators import dedup

    base_text = ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lambda mu nu xi omicron pi rho sigma tau")
    docs = [
        (1, base_text),
        (2, base_text + " upsilon"),           # near-dup of 1 (base pair)
        (3, "totally different words entirely here now and then some"),
        (10, base_text + " phi"),              # delta near-dup of 1/2
        (15, "totally different words entirely here now and then some more"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    is_delta = df["doc_id"] % 5 == 0
    mk = lambda d: dedup.minhash_band_signatures(
        dedup.shingles(d, "text", "doc_id", n=3), "doc_id")
    inc = {(r["d1"], r["d2"]) for r in dedup.incremental_lsh_candidates(
        mk(df.filter(~is_delta)), mk(df.filter(is_delta)), "doc_id"
    ).collect()}
    full = {(r["d1"], r["d2"]) for r in dedup.minhash_lsh_candidates(
        dedup.shingles(df, "text", "doc_id", n=3), "doc_id").collect()}
    expect = {p for p in full if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expect
    assert (1, 10) in inc and (3, 15) in inc  # cross base-delta dups found
    assert (1, 2) not in inc  # base-internal pair not re-derived


def test_remove_boilerplate_segments_newline_corpus(spark):
    from omicidx_gh_etl_spark.operators import text as T

    footer = "Copyright 2024 Example Corp"
    docs = [
        (1, f"unique first body\n{footer}\nPage 1 of 9"),
        (2, f"second doc content here\n{footer}\nPage 4 of 9"),
        (3, f"third story entirely\n{footer}\nPage 7 of 9"),
        (4, "standalone document no footer"),
    ]
    seg = spark.createDataFrame(
        [(d, i, s) for d, t in docs for i, s in enumerate(t.split("\n"))],
        "doc_id long, seg_idx int, segment string",
    )
    out = {r["doc_id"]: r for r in
           T.remove_boilerplate_segments(seg, "doc_id", min_docs=3).collect()}
    # footer recurs in 3 docs -> removed; page lines digit-fold to the
    # same canonical form across 3 docs -> removed too
    assert out[1]["text_clean"] == "unique first body"
    assert out[1]["n_removed"] == 2 and out[1]["n_segments"] == 3
    assert out[2]["text_clean"] == "second doc content here"
    assert out[4]["text_clean"] == "standalone document no footer"
    assert out[4]["n_removed"] == 0


def test_connected_components_star_matches_propagation(spark):
    from omicidx_gh_etl_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)], "d1 long, d2 long"
    )
    out = {r["node"]: r["component"]
           for r in dedup.connected_components_star(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_star_long_chain_few_rounds(spark):
    from omicidx_gh_etl_spark.operators import dedup

    # 120-node path: label propagation would need ~120 rounds; star
    # contraction must finish within its default 20 — if it didn't
    # converge, non-root labels would disagree with the chain min.
    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "d1 long, d2 long"
    )
    out = {r["node"]: r["component"]
           for r in dedup.connected_components_star(pairs).collect()}
    assert out == {i: 0 for i in range(n + 1)}


def test_connected_components_star_random_equivalence(spark):
    import random

    from omicidx_gh_etl_spark.operators import dedup

    rng = random.Random(7)
    edges = list({tuple(sorted(rng.sample(range(60), 2))) for _ in range(70)})
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    prop = {r["node"]: r["component"]
            for r in dedup.connected_components(pairs, max_iter=60).collect()}
    star = {r["node"]: r["component"]
            for r in dedup.connected_components_star(pairs).collect()}
    assert star == prop


def test_containment_catches_embedded_doc(spark):
    from omicidx_gh_etl_spark.operators import dedup

    short = "alpha beta gamma delta epsilon"
    long_ = "intro words here " + short + " trailing content follows now"
    df = _docs(spark, [(1, short), (2, long_), (3, "unrelated text entirely different")])
    sh = dedup.shingles(df, "text", "doc_id", n=3)
    cont = {(r["d1"], r["d2"]): r["containment"]
            for r in dedup.containment_pairs(sh, "doc_id", threshold=0.8).collect()}
    assert (1, 2) in cont and cont[(1, 2)] == 1.0  # fully embedded
    jac = {(r["d1"], r["d2"]) for r in
           dedup.jaccard_pairs(sh, "doc_id", threshold=0.8).collect()}
    assert (1, 2) not in jac  # symmetric jaccard misses it


def test_kmeans_fit_separates_clusters(spark):
    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.operators import similarity

    # two tight clusters around orthogonal axes (+x and +y), noisy ids
    rows = []
    for i in range(30):
        rows.append((i, [1.0, 0.02 * (i % 5)]))        # x-cluster
        rows.append((100 + i, [0.02 * (i % 5), 1.0]))  # y-cluster
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(emb, k=2, max_iter=8)
    got = {r["centroid_id"]: r["cv"] for r in cents.collect()}
    assert len(got) == 2
    # each learned centroid aligns with one axis
    axes = sorted((max(cv), cv.index(max(cv))) for cv in got.values())
    assert {a[1] for a in axes} == {0, 1}
    # assignments split the clusters exactly
    asg = similarity.ivf_assign(emb, cents)
    by_cell = {}
    for r in asg.collect():
        by_cell.setdefault(r["centroid_id"], set()).add(r["vec_id"])
    groups = sorted(by_cell.values(), key=len)
    assert {frozenset(g) for g in groups} == {
        frozenset(range(30)), frozenset(range(100, 130))
    }


def test_kmeans_pp_init_spreads_seeds(spark):
    """Farthest-point seeding must pick one seed per true cluster;
    first-k seeding on id-sorted data pathologically picks all seeds
    from ONE cluster — the exact failure mode ++ init exists to fix."""
    from omicidx_gh_etl_spark.operators import similarity

    # three tight clusters on orthogonal axes; ids ordered so the
    # first k=3 vectors all land in the x-cluster
    rows = []
    for i in range(20):
        rows.append((i, [1.0, 0.01 * (i % 4), 0.0]))
        rows.append((100 + i, [0.01 * (i % 4), 1.0, 0.0]))
        rows.append((200 + i, [0.0, 0.01 * (i % 4), 1.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seeds = similarity.kmeans_pp_init(emb, k=3)
    assert len(seeds) == 3
    axes = {max(range(3), key=lambda d: s[d]) for s in seeds}
    assert axes == {0, 1, 2}  # one seed per cluster

    # and kmeans_fit(init="farthest") nails the clustering in ONE round
    cents = similarity.kmeans_fit(emb, k=3, max_iter=1, init="farthest")
    asg = similarity.ivf_assign(emb, cents)
    cells = {}
    for r in asg.collect():
        cells.setdefault(r["centroid_id"], set()).add(r["vec_id"] // 100)
    assert all(len(v) == 1 for v in cells.values()) and len(cells) == 3

    # first-k with one round CANNOT separate three clusters: its three
    # seeds are all x-cluster points
    naive = similarity.kmeans_fit(emb, k=3, max_iter=1, init="first-k")
    cells_n = {}
    for r in similarity.ivf_assign(emb, naive).collect():
        cells_n.setdefault(r["centroid_id"], set()).add(r["vec_id"] // 100)
    assert len(cells_n) < 3 or any(len(v) > 1 for v in cells_n.values())


def test_asof_join_directions_tolerance_and_ties(spark):
    from omicidx_gh_etl_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [
            (1, 10, 100.0),
            (1, 20, 101.0),
            (1, 20, 102.0),  # tie on (key, ts): greatest payload wins
            (1, 40, 103.0),
            (2, 15, 200.0),
        ],
        "sym long, ts long, px double",
    )
    trades = spark.createDataFrame(
        [(1, 1, 9), (2, 1, 20), (3, 1, 25), (4, 1, 100), (5, 3, 50)],
        "trade_id long, sym long, ts long",
    )

    back = {
        r["trade_id"]: (r["q_ts"], r["q_px"])
        for r in asof_join(
            trades, quotes, by=["sym"], left_ts="ts", right_ts="ts",
            payload_cols=["ts", "px"], right_prefix="q_",
        ).collect()
    }
    assert back[1] == (None, None)          # nothing at-or-before ts=9
    assert back[2] == (20, 102.0)           # equal ts matches; tie → max px
    assert back[3] == (20, 102.0)
    assert back[4] == (40, 103.0)
    assert back[5] == (None, None)          # key with no right rows

    fwd = {
        r["trade_id"]: (r["q_ts"], r["q_px"])
        for r in asof_join(
            trades, quotes, by=["sym"], left_ts="ts", right_ts="ts",
            payload_cols=["ts", "px"], direction="forward", right_prefix="q_",
        ).collect()
    }
    assert fwd[1] == (10, 100.0)            # nearest at-or-after
    assert fwd[2] == (20, 101.0)            # equal ts; forward tie → min px
    assert fwd[3] == (40, 103.0)
    assert fwd[4] == (None, None)           # nothing after ts=100

    tol = {
        r["trade_id"]: r["q_ts"]
        for r in asof_join(
            trades, quotes, by=["sym"], left_ts="ts", right_ts="ts",
            payload_cols=["ts", "px"], tolerance=5, right_prefix="q_",
        ).collect()
    }
    assert tol[3] == 20                     # lag 5 ≤ tolerance
    assert tol[4] is None                   # lag 60 > tolerance voided


def test_chunk_text_udtf_overlap_and_edges(spark):
    from omicidx_gh_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(90))),  # starts 0/40/80
            (2, "one two"),                              # single short chunk
            (3, ""),                                     # no rows
            (4, "   "),                                  # whitespace → no rows
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("__chunk_docs")
    rows = spark.sql(
        "SELECT c.* FROM __chunk_docs d, LATERAL chunk_text(d.doc_id, d.text) c"
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_doc) == [1, 2]
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_chunk_tokens"] for r in c1] == [50, 50, 10]
    # stride 40: second chunk starts at w40 → 10-token overlap
    assert c1[0]["chunk"].split()[40:] == c1[1]["chunk"].split()[:10]
    assert by_doc[2][0]["chunk"] == "one two"


def test_pq_fit_encode_search_recovers_neighbors(spark):
    """PQ pipeline end to end on 3 well-separated 4-d clusters with a
    frozen codebook (as ``similarity_pq_search`` builds it): codes are
    in-range and deterministic, and ADC top-1 retrieves a member of the
    query's own cluster without touching raw vectors."""
    from omicidx_gh_etl_spark.operators import similarity

    rows = []
    for i in range(12):
        e = 0.01 * (i % 4)
        rows.append((i, [1.0, e, 0.0, e]))          # cluster A
        rows.append((100 + i, [0.0, e, 1.0, e]))    # cluster B
        rows.append((200 + i, [e, 1.0, e, 1.0]))    # cluster C
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # each subspace's 4 centroids are its slices of 4 seed vectors
    seeds = [dict(rows)[vid] for vid in (0, 100, 200, 3)]
    books = spark.createDataFrame(
        [(s, c, v[2 * s:2 * s + 2]) for s in range(2) for c, v in enumerate(seeds)],
        "subspace int, centroid_id int, cv array<double>",
    )

    codes = similarity.pq_encode(emb, books, m=2, dims=4)
    c_rows = codes.collect()
    assert len(c_rows) == len(rows) * 2  # one code per (vec, subspace)
    assert all(0 <= r["code"] < 4 for r in c_rows)
    # determinism: re-encoding yields identical codes
    again = similarity.pq_encode(emb, books, m=2, dims=4).collect()
    assert sorted(map(tuple, c_rows)) == sorted(map(tuple, again))

    queries = spark.createDataFrame(
        [(0, [0.98, 0.0, 0.02, 0.0]), (1, [0.02, 0.0, 0.98, 0.0]),
         (2, [0.0, 0.97, 0.0, 0.99])],
        "q_id long, qv array<double>",
    )
    top1 = {
        r["q_id"]: r["vec_id"]
        for r in similarity.pq_search(
            codes, books, queries, m=2, dims=4, k=1
        ).collect()
    }
    assert top1[0] < 100            # cluster A member
    assert 100 <= top1[1] < 200     # cluster B member
    assert top1[2] >= 200           # cluster C member


# --------------------------------------------------------------------------
# Heavy hitters (operators/sketch.py)
# --------------------------------------------------------------------------


def test_heavy_hitters_exact_above_threshold(spark):
    """Skewed stream across multiple partitions, k far below the
    distinct-key count so MG eviction actually runs: output must be
    exactly the keys with count > n/k."""
    from omicidx_gh_etl_spark.operators.sketch import heavy_hitters

    rows = []
    # 3 hot keys: 400, 300, 200 occurrences; 500 singleton cold keys
    for key, cnt in (("hot_a", 400), ("hot_b", 300), ("hot_c", 200)):
        rows += [(key,)] * cnt
    rows += [(f"cold_{i}",) for i in range(500)]
    # deterministic-but-mixed order so hot keys spread over partitions
    rows.sort(key=lambda r: hash(r[0]) % 97)
    df = spark.createDataFrame(rows, "k string").repartition(8)

    n = len(rows)  # 1400
    k = 10  # threshold 140 → hot_a, hot_b, hot_c qualify; eviction runs
    got = {r["key"]: r["n"]
           for r in heavy_hitters(df, "k", k, engine="mg").collect()}
    assert got == {"hot_a": 400, "hot_b": 300, "hot_c": 200}
    assert all(v > n / k for v in got.values())

    # the exact engine and the auto decision return the identical set
    exact = {r["key"]: r["n"]
             for r in heavy_hitters(df, "k", k, engine="exact").collect()}
    assert exact == got
    auto = {r["key"]: r["n"]
            for r in heavy_hitters(df, "k", k).collect()}
    assert auto == got
    # ndv_hint drives the auto decision without a stats job: a huge
    # hinted cardinality must select the MG path, a tiny one exact
    import pytest as _pytest
    with _pytest.raises(ValueError):
        heavy_hitters(df, "k", k, engine="duck")
    hinted_mg = {r["key"]: r["n"] for r in heavy_hitters(
        df, "k", k, ndv_hint=10**9).collect()}
    hinted_ex = {r["key"]: r["n"] for r in heavy_hitters(
        df, "k", k, ndv_hint=3).collect()}
    assert hinted_mg == got and hinted_ex == got


def test_heavy_hitters_null_and_empty(spark):
    from omicidx_gh_etl_spark.operators.sketch import heavy_hitters

    df = spark.createDataFrame([("a",), (None,), ("a",), ("b",)], "k string")
    got = {r["key"]: r["n"] for r in heavy_hitters(df, "k", 2).collect()}
    # n=3 non-null, threshold 1.5 → only "a" (2 > 1.5)
    assert got == {"a": 2}


# --------------------------------------------------------------------------
# Persisted ANN index (operators/ann_index.py)
# --------------------------------------------------------------------------


def test_ann_index_matches_inmemory_ivf(spark, sf_dir, tmp_path):
    from omicidx_gh_etl_spark.operators.ann_index import AnnIndex
    from omicidx_gh_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.kmeans_fit(emb, k=4, max_iter=3)
    queries = emb.limit(3).select(
        emb.vec_id.alias("q_id"), emb.embedding.alias("qv")
    )

    idx = AnnIndex(str(tmp_path / "ivf"))
    idx.build(emb, n_centroids=4, centroids=cents)
    got = idx.search(spark, queries, k=5, nprobe=2)

    want = similarity.ivf_search(emb, cents, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # probe pushdown is static: the postings scan carries an In filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan


def test_ann_index_rebuild_pins_versions(spark, sf_dir, tmp_path):
    from omicidx_gh_etl_spark.operators.ann_index import AnnIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(2).select(
        emb.vec_id.alias("q_id"), emb.embedding.alias("qv")
    )
    idx = AnnIndex(str(tmp_path / "ivf"))
    cv0, pv0 = idx.build(emb, n_centroids=3, max_iter=2)
    r0 = sorted(map(tuple, idx.search(spark, queries, k=3).collect()))

    # rebuild over half the corpus — latest changes, pinned v0 does not
    cv1, pv1 = idx.build(emb.filter("vec_id % 2 = 0"), n_centroids=3, max_iter=2)
    assert (cv1, pv1) == (cv0 + 1, pv0 + 1)
    r0_again = sorted(
        map(tuple, idx.search(spark, queries, k=3, version=(cv0, pv0)).collect())
    )
    assert r0_again == r0
    latest_ids = {t[1] for t in idx.search(spark, queries, k=3).collect()}
    assert all(v % 2 == 0 for v in latest_ids)


def test_minhash_recall_and_precision_vs_exact_jaccard(spark, sf_dir):
    """LSH banding quality gate on the synthetic corpus (planted
    near-dups at J >= 0.9 over a ~0.07 background): every high-Jaccard
    pair must be a candidate (theory: 1-(1-J^3)^4 ≈ 0.995 at J=0.9),
    and the background must not flood the buckets — a regression to a
    correlated hash family (e.g. a seed-linear one) collapses the
    band S-curve and fails the precision bound long before it fails
    identical-doc recall."""
    from omicidx_gh_etl_spark.queries import REGISTRY

    jac = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    }
    cand = {
        (r["d1"], r["d2"])
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).collect()
    }
    high = {k for k, j in jac.items() if j >= 0.9}
    assert high, "corpus should contain planted near-dups"
    assert len(high & cand) / len(high) >= 0.9  # recall on true near-dups
    # precision: candidates may include sub-0.9 pairs, but not a
    # background explosion (correlated families emit thousands here)
    assert len(cand) <= 4 * len(high)


def test_duplicate_span_runs_finds_maximal_run(spark):
    # doc 1 and doc 2 share tokens 10..29 of doc 1 at offset 5 in doc 2;
    # doc 3 shares nothing long enough.
    shared = " ".join(f"s{i}" for i in range(20))
    d1 = " ".join(f"a{i}" for i in range(10)) + " " + shared + " tail1 tail2"
    d2 = " ".join(f"b{i}" for i in range(5)) + " " + shared + " other"
    d3 = " ".join(f"c{i}" for i in range(30))
    df = _docs(spark, [(1, d1), (2, d2), (3, d3)])
    psh = dedup.positional_shingles(df, "text", "doc_id", n=8)
    runs = dedup.duplicate_span_runs(psh, "doc_id", n=8, min_len=12).collect()
    assert len(runs) == 1
    r = runs[0]
    assert (r["d1"], r["d2"]) == (1, 2)
    assert r["start1"] == 10 and r["start2"] == 5
    assert r["len_tokens"] == 20


def test_duplicate_span_runs_splits_on_edit(spark):
    # one differing token splits a 30-token copy into two runs, each
    # reported separately with exact boundaries.
    left = " ".join(f"t{i}" for i in range(15))
    right = " ".join(f"u{i}" for i in range(15))
    df = _docs(
        spark,
        [(1, left + " EDIT1 " + right), (2, left + " EDIT2 " + right)],
    )
    psh = dedup.positional_shingles(df, "text", "doc_id", n=4)
    runs = {
        (r["start1"], r["len_tokens"])
        for r in dedup.duplicate_span_runs(psh, "doc_id", n=4, min_len=10).collect()
    }
    assert runs == {(0, 15), (16, 15)}


def test_duplicate_span_runs_hot_shingle_cap(spark):
    # the same boilerplate in every doc: capping shingle frequency at 2
    # drops it before the pair join, so no spans are reported.
    boiler = " ".join(f"h{i}" for i in range(12))
    df = _docs(spark, [(i, boiler) for i in range(1, 5)])
    psh = dedup.positional_shingles(df, "text", "doc_id", n=8)
    capped = dedup.duplicate_span_runs(
        psh, "doc_id", n=8, min_len=12, max_shingle_df=2
    )
    assert capped.count() == 0
    uncapped = dedup.duplicate_span_runs(psh, "doc_id", n=8, min_len=12)
    assert uncapped.count() == 6  # all C(4,2) pairs share the span


def test_minhash_xxhash64_family_same_quality_gate(spark, sf_dir):
    """The production hash family (hash_family='xxhash64', used by the
    bench scale section) must pass the same banding quality gate as
    the oracle-checked md5 family: high recall on planted near-dups,
    no background bucket flooding."""
    from omicidx_gh_etl_spark.queries import REGISTRY
    from omicidx_gh_etl_spark.queries.tables import load_spread

    jac = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    }
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3, distinct=False)
    cand = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_lsh_candidates(
            sh, "doc_id", num_hashes=12, bands=4, hash_family="xxhash64"
        ).collect()
    }
    high = {k for k, j in jac.items() if j >= 0.9}
    assert high, "corpus should contain planted near-dups"
    assert len(high & cand) / len(high) >= 0.9
    assert len(cand) <= 4 * len(high)


def test_semantic_dedup_drops_planted_near_dups(spark):
    from omicidx_gh_etl_spark.operators import similarity

    # two well-separated clusters (cones around +x and +z, members at
    # distinct angles >= 0.1 rad apart so background cos <= ~0.995);
    # plant exact/near duplicates in each
    import math

    rows = []
    for i in range(8):
        a = 0.1 * i
        rows.append((i, [math.cos(a), math.sin(a), 0.0]))        # x-cone
        rows.append((100 + i, [0.0, math.sin(a), math.cos(a)]))  # z-cone
    rows.append((50, [1.0, 0.0, 0.0]))      # dup of vec 0 (cos = 1.0)
    rows.append((51, [1.0, 0.001, 0.0]))    # near-dup of vec 0
    rows.append((150, [0.0, 0.0, 1.0]))     # dup of vec 100
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    marked = similarity.semantic_dedup(emb, k=2, threshold=0.999, max_iter=4)
    got = {r["vec_id"]: (r["centroid_id"], r["keep"]) for r in marked.collect()}
    assert len(got) == len(rows)
    # planted dups are dropped (higher id of each qualifying pair)
    assert not got[50][1] and not got[51][1] and not got[150][1]
    # their lower-id originals survive
    assert got[0][1] and got[100][1]
    # drops happen within a cluster: dup shares its original's cell
    assert got[50][0] == got[0][0]
    assert got[150][0] == got[100][0]
    # the clusters themselves are far apart -> no cross-cluster drops
    dropped = {v for v, (_, k) in got.items() if not k}
    assert dropped == {50, 51, 150}


def test_dedup_paragraphs_rewrites_and_drops(spark):
    """C4 paragraph dedup semantics: first global occurrence kept (by
    doc_id, pos), later copies excised, fully-duplicate docs vanish,
    unique text untouched."""
    from omicidx_gh_etl_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(10))          # one full chunk
    uniq = "only here at all"
    rows = [
        (1, base + " tail one two"),     # first occurrence of `base`
        (2, base + " " + uniq),          # base chunk excised, unique kept
        (3, base),                       # fully duplicate -> dropped
        (4, "completely different words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           dedup.dedup_paragraphs(df, "text", "doc_id").collect()}
    assert out[1] == base + " tail one two"
    assert out[2] == uniq
    assert 3 not in out
    assert out[4] == "completely different words entirely"


def test_cosine_topk_tie_order(spark, sf_dir):
    """Rounded-cosine ties resolve by ascending id: with 20 copies of
    the query vector under ids 0-19 (and 20 copies each of two other
    vectors under ids 20-59), the top-7 is ids 0-6 in that order, all
    at cos_sim 1.0 — the (cos desc, id asc) total order the DuckDB
    oracle produces. Each vector's copies are stored in DESCENDING id
    order, so input order alone cannot produce the expected rows."""
    from omicidx_gh_etl_spark.operators import similarity
    from omicidx_gh_etl_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    ties = e.filter(F.col("vec_id") < 3).selectExpr(
        "explode(sequence(0, 19)) AS r", "vec_id", "embedding"
    ).selectExpr("vec_id * 20 + (19 - r) AS vec_id", "embedding")
    got = [tuple(r) for r in similarity.cosine_topk(ties, q, k=7).collect()]
    assert got == [(i, 1.0) for i in range(7)]


def test_cosine_topk_blocks_matches_sql_and_validates(spark, sf_dir):
    """The BLOCK layout scan (pack_vector_blocks → cosine_topk_blocks)
    returns exactly cosine_topk's rows, including under ties and a
    non-default block size that forces multi-block batches; the packer
    REJECTS null/ragged vectors (ingest validation, never silent)."""
    import pytest as _pytest

    from omicidx_gh_etl_spark.operators import similarity
    from omicidx_gh_etl_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    want = [tuple(r) for r in similarity.cosine_topk(e, q, k=10).collect()]
    for br in (7, 1024):  # tiny blocks → many blocks per batch
        blocks = similarity.pack_vector_blocks(
            e, "embedding", "vec_id", block_rows=br
        )
        got = [tuple(r) for r in similarity.cosine_topk_blocks(
            blocks, q, k=10
        ).collect()]
        assert got == want, f"block_rows={br}"

    # id re-basing (merged-shards convention): global = local*scale+off
    blocks = similarity.pack_vector_blocks(e, "embedding", "vec_id")
    shifted = blocks.selectExpr("*", "cast(7 as long) AS __off")
    got = {r["vec_id"] for r in similarity.cosine_topk_blocks(
        shifted, q, k=5, id_scale=10, id_offset_col="__off"
    ).collect()}
    base = {r["vec_id"] for r in similarity.cosine_topk_blocks(
        blocks, q, k=5
    ).collect()}
    assert got == {v * 10 + 7 for v in base}

    # ingest validation: nulls and ragged vectors raise, never pack
    bad_null = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="NULL vectors"):
        similarity.pack_vector_blocks(
            bad_null, "embedding", "vec_id", dims=2
        ).collect()
    bad_ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="ragged"):
        similarity.pack_vector_blocks(
            bad_ragged, "embedding", "vec_id", dims=2
        ).collect()
    # all-null dims inference fails loudly too
    with _pytest.raises(ValueError, match="all-null"):
        similarity.pack_vector_blocks(
            spark.createDataFrame(
                [(1, None)], "vec_id long, embedding array<double>"
            ),
            "embedding", "vec_id",
        )

    # COMPENSATING ragged rows (lengths 2,3,1 summing to n*dims at
    # dims=2): a total-size check alone would reshape these into the
    # WRONG id->vector mapping silently — per-row length validation
    # must catch them (code-review finding, round 8)
    comp = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0, 5.0]), (3, [6.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with _pytest.raises(Exception, match="ragged"):
        similarity.pack_vector_blocks(
            comp, "embedding", "vec_id", dims=2
        ).collect()


def test_cosine_topk_blocks_norms_blob_identical(spark, sf_dir):
    """with_norms=True (ingest-time norms blob + kernel skip of the
    einsum pass) returns exactly cosine_topk's rows."""
    from omicidx_gh_etl_spark.operators import similarity
    from omicidx_gh_etl_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    want = [tuple(r) for r in similarity.cosine_topk(e, q, k=10).collect()]
    blocks = similarity.pack_vector_blocks(
        e, "embedding", "vec_id", block_rows=13, with_norms=True
    )
    got = [tuple(r) for r in similarity.cosine_topk_blocks(
        blocks, q, k=10, norms_col="norms"
    ).collect()]
    assert got == want


def test_bm25_batch_topk_null_term_dropped(spark, sf_dir):
    """A NULL query term is dropped (it can never match a token — the
    semantics the former null-safe semi join gave for free), never a
    plan-construction crash."""
    from omicidx_gh_etl_spark.operators import text as text_ops
    from omicidx_gh_etl_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    q = spark.createDataFrame(
        [(0, "the"), (0, None), (1, None)], "q_id int, term string"
    )
    rows = text_ops.bm25_batch_topk(d, q, "text", "doc_id", k=5).collect()
    assert {r["q_id"] for r in rows} <= {0}
    clean = text_ops.bm25_batch_topk(
        d, spark.createDataFrame([(0, "the")], "q_id int, term string"),
        "text", "doc_id", k=5,
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in clean]


def test_knn_label_vote_majority_and_ties(spark):
    """Majority vote wins; a vote tie resolves to the SMALLEST label;
    per-class accuracy aggregates correctly."""
    from omicidx_gh_etl_spark.operators import similarity

    # 1-d embeddings on a line; cosine of 1-d positive vectors is 1,
    # so neighbor order is decided by the id tiebreak — make vectors
    # 2-d to give real geometry.
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 0), (11, [0.95, 0.05], 0),
            (12, [0.0, 1.0], 1), (13, [0.05, 0.95], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    probes = spark.createDataFrame(
        [
            (1, [0.9, 0.1], 0),   # 2 nearest are label 0 -> correct
            (2, [0.1, 0.9], 1),   # 2 nearest are label 1 -> correct
            (3, [0.7, 0.7], 0),   # k=4: 2 votes each -> tie -> label 0
        ],
        "q_id long, qv array<double>, true_label int",
    )
    res = {
        r["true_label"]: (r["n_probes"], r["n_correct"], r["accuracy"])
        for r in similarity.knn_label_vote(corpus, probes, k=2).collect()
    }
    assert res[0] == (2, 2, 1.0)   # probes 1 and 3... k=2 for probe 3
    assert res[1] == (1, 1, 1.0)

    # explicit tie at k=4: two 0-votes, two 1-votes -> smallest label
    res4 = {
        r["true_label"]: (r["n_probes"], r["n_correct"])
        for r in similarity.knn_label_vote(corpus, probes, k=4).collect()
    }
    assert res4[0][1] >= 1          # the tie probe resolved to label 0


def test_ivf_recall_full_probe_is_one(spark, sf_dir):
    """Probing every cell makes IVF exhaustive, so recall@k must be
    exactly 1.0 for every query; recall is in [0,1] regardless."""
    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.operators import similarity
    from omicidx_gh_etl_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    full = similarity.ivf_recall(e, cent, qs, k=5, nprobe=4)
    rows = full.collect()
    assert len(rows) == 3
    assert all(r["recall"] == 1.0 for r in rows)

    partial = similarity.ivf_recall(e, cent, qs, k=5, nprobe=1)
    assert all(0.0 <= r["recall"] <= 1.0 for r in partial.collect())


def test_dedup_paragraphs_chunker_edge_docs(spark, sf_dir):
    """The Arrow-batched chunker on the test corpus plus edge docs:
    empty and whitespace-only texts produce no chunks and drop out,
    a doc shorter than one chunk is kept whole, and runs of spaces
    collapse to single separators."""
    from omicidx_gh_etl_spark.operators import dedup
    from omicidx_gh_etl_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(90001, ""), (90002, "   "), (90003, "one two"),
         (90004, "  padded   spaces  ")],
        "doc_id long, text string",
    )
    d = d.unionByName(edge)
    chunks = {
        r["doc_id"]: (r["pos"], r["para"])
        for r in dedup.paragraph_chunks(d, "text", "doc_id")
        .filter(F.col("doc_id") > 90000).collect()
    }
    assert chunks == {90003: (0, "one two"), 90004: (0, "padded spaces")}
    out = {r["doc_id"]: r["text"]
           for r in dedup.dedup_paragraphs(d, "text", "doc_id").collect()}
    assert 90001 not in out and 90002 not in out
    assert out[90003] == "one two"
    assert out[90004] == "padded spaces"
    assert len(out) > 2  # the corpus docs survive alongside the edges


def test_dedup_paragraphs_converges_on_corpus(spark, sf_dir):
    """Behavior pin on the deterministic test corpus: repeated
    application converges (pass 3 == pass 2) and never grows the doc
    set. True single-pass idempotence is NOT guaranteed in general —
    excision shifts chunk boundaries, which can expose new cross-doc
    duplicates on a re-pass — so the pin is convergence, matching the
    C4 usage (one pass over a corpus, not a fixpoint loop)."""
    from omicidx_gh_etl_spark.operators import dedup
    from omicidx_gh_etl_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    once = dedup.dedup_paragraphs(
        d, "text", "doc_id", chunk_tokens=10
    ).localCheckpoint(eager=True)
    twice = dedup.dedup_paragraphs(
        once, "text", "doc_id", chunk_tokens=10
    ).localCheckpoint(eager=True)
    thrice = dedup.dedup_paragraphs(twice, "text", "doc_id", chunk_tokens=10)
    a = {(r["doc_id"], r["text"]) for r in once.collect()}
    b = {(r["doc_id"], r["text"]) for r in twice.collect()}
    c = {(r["doc_id"], r["text"]) for r in thrice.collect()}
    assert {x[0] for x in b} <= {x[0] for x in a}  # docs never grow
    assert b == c                                  # converged


def test_remove_duplicate_spans_excises_later_copy(spark):
    """Span excision semantics: the earlier doc keeps its copy, the
    later doc's copy of the shared >=min_len run is cut out, and a doc
    that IS entirely a duplicated span disappears."""
    from omicidx_gh_etl_spark.operators import dedup

    run = " ".join(f"r{i}" for i in range(15))       # 15-token shared run
    rows = [
        (1, "alpha beta " + run + " gamma delta"),
        (2, "uno dos " + run + " tres cuatro"),      # later copy -> excised
        (3, run),                                    # pure duplicate -> gone
        (4, "totally unrelated text here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedup.remove_duplicate_spans(
        df, "text", "doc_id", n=8, min_len=12).collect()}
    assert out[1] == "alpha beta " + run + " gamma delta"   # first copy kept
    assert out[2] == "uno dos tres cuatro"
    assert 3 not in out
    assert out[4] == "totally unrelated text here now"


def test_remove_duplicate_spans_within_document(spark):
    """A run repeated INSIDE one document is excised too (Lee 2022
    dedups the corpus as one string, not just doc pairs): the earlier
    in-document copy survives, the later copy is cut."""
    from omicidx_gh_etl_spark.operators import dedup

    run = " ".join(f"r{i}" for i in range(14))
    rows = [
        (1, run + " middle bit " + run),
        (2, "unrelated other words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedup.remove_duplicate_spans(
        df, "text", "doc_id", n=8, min_len=12).collect()}
    assert out[1] == run + " middle bit"
    assert out[2] == "unrelated other words here"


def test_knn_label_vote_string_labels_tiebreak(spark):
    """String label columns must work (round-4 advice: the old
    -label tiebreak threw CAST_INVALID_INPUT under ANSI for strings);
    vote ties resolve to the lexicographically smallest label."""
    from omicidx_gh_etl_spark.operators import similarity

    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], "news"), (11, [0.95, 0.05], "news"),
            (12, [0.0, 1.0], "blog"), (13, [0.05, 0.95], "blog"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    probes = spark.createDataFrame(
        [
            (1, [0.9, 0.1], "news"),
            (2, [0.1, 0.9], "blog"),
            (3, [0.7, 0.7], "blog"),  # k=4 tie: 2 news vs 2 blog
        ],
        "q_id long, qv array<double>, true_label string",
    )
    res = {
        r["true_label"]: (r["n_probes"], r["n_correct"], r["accuracy"])
        for r in similarity.knn_label_vote(corpus, probes, k=2).collect()
    }
    assert res["news"] == (1, 1, 1.0)
    assert res["blog"] == (2, 2, 1.0)  # probe 3's 2-NN geometry is a
    # blog/news split... k=2 takes one of each -> tie -> "blog" wins
    # (lexicographically smallest), which matches its true label

    # explicit 2-2 tie at k=4 resolves to "blog" for every probe
    res4 = {
        r["true_label"]: r["n_correct"]
        for r in similarity.knn_label_vote(corpus, probes, k=4).collect()
    }
    assert res4["blog"] == 2


def test_ivf_recall_disjoint_query_id_space(spark):
    """queries_in_corpus=False keeps a corpus row whose id collides
    with a query id in ground truth (separate id spaces); the default
    True drops it (query is its own nearest neighbor otherwise)."""
    from omicidx_gh_etl_spark.operators import similarity

    # 4 corpus vectors, ids 0-3; query id 0 collides with corpus id 0
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    cent = emb.select(
        emb.vec_id.alias("centroid_id"), emb.embedding.alias("cv")
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0])], "q_id long, qv array<double>"
    )
    # full probe: IVF is exhaustive, so recall differences come only
    # from the ground-truth self-exclusion policy
    r_member = similarity.ivf_recall(
        emb, cent, qs, k=2, nprobe=4, queries_in_corpus=True
    ).collect()[0]
    r_disjoint = similarity.ivf_recall(
        emb, cent, qs, k=2, nprobe=4, queries_in_corpus=False
    ).collect()[0]
    assert r_member["n_true"] == 2          # corpus id 0 excluded
    assert r_disjoint["n_true"] == 2        # top-2 of all 4 rows
    # disjoint mode's truth includes corpus id 0 (the collision) —
    # ivf_search still excludes it from results, so recall reflects
    # the miss instead of silently hiding it
    assert r_disjoint["recall"] < 1.0
    assert r_member["recall"] == 1.0


def test_mg_batch_merge_retains_heavy_hitters_under_eviction(spark):
    """The batch-merge MG rule (add value_counts, subtract the (k+1)-th
    largest once per batch) must keep every key with partition
    frequency > n_p/k even under constant eviction pressure — planted
    heavy hitter diluted by a sea of near-distinct keys, spread so the
    heavy rows land in EVERY partition's batches."""
    from omicidx_gh_etl_spark.operators.sketch import heavy_hitters

    k = 10
    n = 20_000
    rows = [((f"hh" if i % 9 == 0 else f"u{i}"),) for i in range(n)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {r["key"]: r["n"]
           for r in heavy_hitters(df, "k", k, engine="mg").collect()}
    # 'hh' has freq ~n/9 > n/10; everything else is unique (freq 1)
    assert set(got) == {"hh"}
    assert got["hh"] == len([1 for i in range(n) if i % 9 == 0])


# ---------------------------------------------------------------- blooms


def test_bloom_semi_join_matches_exact_semi(spark):
    """The bloom is a pruner, not the answer: whatever the false-
    positive rate, bloom_semi_join must equal a plain left_semi."""
    from omicidx_gh_etl_spark.operators import blooms

    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    small = spark.range(0, 20000, 61).select(F.col("id").alias("sk"))
    got = blooms.bloom_semi_join(big, small, "k", "sk", num_bits=1 << 14)
    exact = big.join(small.select(F.col("sk").alias("k")), "k", "left_semi")
    assert got.exceptAll(exact).count() == 0
    assert exact.exceptAll(got).count() == 0


def test_bloom_prune_no_false_negatives_and_actually_prunes(spark):
    from omicidx_gh_etl_spark.operators import blooms

    big = spark.range(0, 50000).select(F.col("id").alias("k"))
    small = spark.range(0, 50000, 97).select(F.col("id").alias("sk"))
    pruned = blooms.bloom_prune(big, small, "k", "sk",
                                num_bits=1 << 16, num_hashes=3)
    exact = big.join(small.select(F.col("sk").alias("k")), "k", "left_semi")
    # every true match survives the bloom
    assert exact.join(pruned, "k", "left_anti").count() == 0
    # and the bloom genuinely cut the big side (~516 keys + few FPs)
    n = pruned.count()
    assert n < 2000, f"bloom pruned nothing: {n} of 50000 rows kept"


def test_bloom_null_keys_dropped_like_plain_semi(spark):
    from omicidx_gh_etl_spark.operators import blooms

    big = spark.createDataFrame(
        [(None,), (1,), (2,), (99,)], "k long"
    )
    small = spark.createDataFrame([(1,), (None,)], "sk long")
    got = sorted(
        r["k"]
        for r in blooms.bloom_semi_join(big, small, "k", "sk",
                                        num_bits=1 << 10).collect()
    )
    assert got == [1]  # null never equi-matches, on either side


def test_bloom_bitmap_is_one_bounded_row(spark):
    from omicidx_gh_etl_spark.operators import blooms

    bf = blooms.bloom_bitmap(
        spark.range(1000).select(F.col("id").alias("k")), "k",
        num_bits=1 << 12,
    )
    rows = bf.collect()
    assert len(rows) == 1
    words = rows[0][0]
    assert len(words) == (1 << 12) // 64
    assert any(w != 0 for w in words)


def test_bloom_num_bits_must_be_word_aligned(spark):
    import pytest as _pytest

    from omicidx_gh_etl_spark.operators import blooms

    with _pytest.raises(ValueError):
        blooms.bloom_bitmap(
            spark.range(10).select(F.col("id").alias("k")), "k", num_bits=100
        )


# ---------------------------------------------------------------- bm25


def test_bm25_ranks_tf_and_length_sanely(spark):
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(
        spark,
        [
            (1, "apple apple pear"),          # tf=2, short
            (2, "apple " + "x " * 40 + "y"),  # tf=1, long
            (3, "pear plum"),                 # no match
            (4, "apple pear plum"),           # tf=1, short
        ],
    )
    rows = T.bm25_topk(df, "text", "doc_id", ["apple"], k=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert 3 not in ids                  # non-matching doc excluded
    assert ids[0] == 1                   # highest tf wins
    assert ids.index(4) < ids.index(2)   # same tf: shorter doc wins
    assert [r["rk"] for r in rows] == [1, 2, 3]
    assert all(r["score"] > 0 for r in rows)


def test_bm25_rejects_bad_query_terms(spark):
    import pytest as _pytest

    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(spark, [(1, "a")])
    with _pytest.raises(ValueError):
        T.bm25_topk(df, "text", "doc_id", [])
    with _pytest.raises(ValueError):
        T.bm25_topk(df, "text", "doc_id", ["a'b"])


def test_bm25_null_text_is_no_match(spark):
    from omicidx_gh_etl_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, None), (2, "apple")], "doc_id long, text string"
    )
    ids = [
        r["doc_id"]
        for r in T.bm25_topk(df, "text", "doc_id", ["apple"], k=5).collect()
    ]
    assert ids == [2]


# ---------------------------------------------------------------- ids


def test_contiguous_ids_match_global_row_number(spark):
    from pyspark.sql import Window as W

    from omicidx_gh_etl_spark.operators import ids as ids_op

    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 5000).alias("k")  # permuted unique keys
    )
    out = ids_op.assign_contiguous_ids(df, ["k"], num_partitions=7)
    try:
        got = {r["k"]: r["global_id"] for r in out.collect()}
    finally:
        ids_op.release(out)
    want = {
        r["k"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(W.partitionBy().orderBy("k"))
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(1, 5001))  # dense, 1-based


def test_contiguous_ids_empty_partitions_and_start(spark):
    from omicidx_gh_etl_spark.operators import ids as ids_op

    df = spark.range(0, 3).select(F.col("id").alias("k"))
    out = ids_op.assign_contiguous_ids(
        df, ["k"], num_partitions=8, start=100
    )  # 8 ranges over 3 rows → most partitions empty
    try:
        got = sorted((r["k"], r["global_id"]) for r in out.collect())
    finally:
        ids_op.release(out)
    assert got == [(0, 100), (1, 101), (2, 102)]


def test_contiguous_ids_rejects_bad_args(spark):
    import pytest as _pytest

    from omicidx_gh_etl_spark.operators import ids as ids_op

    df = spark.range(3).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError):
        ids_op.assign_contiguous_ids(df, [])
    with _pytest.raises(ValueError):
        ids_op.assign_contiguous_ids(df, ["k"], id_name="k")


def test_bloom_mixed_integral_key_types_still_exact(spark):
    """xxhash64 hashes INT and BIGINT representations differently —
    integral keys must widen to bigint on BOTH sides of the bloom or
    every true match silently fails the probe (reproduced before the
    fix: 0 of 10 matches survived)."""
    from omicidx_gh_etl_spark.operators import blooms

    big = spark.range(0, 100).select(F.col("id").cast("int").alias("k"))
    small = spark.range(0, 100, 10).select(F.col("id").alias("sk"))  # bigint
    got = blooms.bloom_semi_join(big, small, "k", "sk", num_bits=1 << 12)
    assert got.count() == 10

    import pytest as _pytest

    with _pytest.raises(ValueError, match="matching"):
        blooms.bloom_semi_join(
            big.select(F.col("k").cast("string").alias("k")), small,
            "k", "sk", num_bits=1 << 12,
        )


def test_contiguous_ids_empty_input(spark):
    from omicidx_gh_etl_spark.operators import ids as ids_op

    df = spark.range(0).select(F.col("id").alias("k"))
    out = ids_op.assign_contiguous_ids(df, ["k"], num_partitions=4)
    try:
        assert out.count() == 0
        assert out.schema["global_id"].dataType.simpleString() == "bigint"
    finally:
        ids_op.release(out)


# ---------------------------------------------------------------- graph


def test_pagerank_hub_wins_and_mass_conserved(spark):
    from omicidx_gh_etl_spark.operators import graph

    # star: hub H connected to leaves A..D (symmetrized = undirected)
    und = [("H", x) for x in "ABCD"]
    rows = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(rows, "src string, dst string")
    got = {r["node"]: r["rank"] for r in graph.pagerank(e, iterations=10).collect()}
    assert set(got) == {"H", "A", "B", "C", "D"}
    # no dangling nodes -> total mass stays 1 (up to rounding)
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # the hub dominates, leaves are symmetric
    assert got["H"] > got["A"]
    assert len({got[x] for x in "ABCD"}) == 1


def test_pagerank_is_run_deterministic(spark):
    """The per-iteration rounding contract: two runs (different
    partial-agg orders) must produce IDENTICAL doubles."""
    from omicidx_gh_etl_spark.operators import graph

    rows = [(f"n{i}", f"n{(i * 7 + 1) % 50}") for i in range(200)]
    e = spark.createDataFrame(rows, "src string, dst string")
    a = {r["node"]: r["rank"] for r in graph.pagerank(e, iterations=4).collect()}
    b = {r["node"]: r["rank"] for r in
         graph.pagerank(e.repartition(13), iterations=4).collect()}
    assert a == b


def test_pagerank_rejects_zero_iterations(spark):
    import pytest as _pytest

    from omicidx_gh_etl_spark.operators import graph

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError):
        graph.pagerank(e, iterations=0)


# ---------------------------------------------------------------- samplers


def test_weighted_sample_is_weighted_and_deterministic(spark):
    """Statistical sanity: with weights 100:1, heavy items dominate
    the sample; and two runs over different partitionings pick the
    IDENTICAL set (md5-derived priorities, not rand())."""
    from omicidx_gh_etl_spark.operators.samplers import (
        weighted_sample_without_replacement,
    )

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample_without_replacement(df, "w", "id", k=40).collect()
    assert len(got) == 40
    heavy = sum(1 for r in got if r["id"] < 50)
    assert heavy >= 25  # 50 items carry ~85% of total weight
    assert [r["rk"] for r in got] == sorted(r["rk"] for r in got)

    again = weighted_sample_without_replacement(
        df.repartition(17), "w", "id", k=40
    ).collect()
    assert {r["id"] for r in got} == {r["id"] for r in again}


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from omicidx_gh_etl_spark.operators.samplers import (
        weighted_sample_without_replacement,
    )

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, None), (4, 2.0)], "id long, w double"
    )
    got = weighted_sample_without_replacement(df, "w", "id", k=10).collect()
    assert [r["id"] for r in got] == [4]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        weighted_sample_without_replacement(df, "w", "id", k=0)


def test_weighted_sample_survives_large_weight_magnitudes(spark):
    """Regression: the naive ln(u)/w key rounded at 1e-8 collapses to
    one quantum once weights reach ~1e6, silently degrading the
    sample into id-ordered selection. The log-domain key is
    scale-invariant: multiplying all weights by 1e7 must yield the
    SAME sample as the unscaled weights, still weight-dominated."""
    from omicidx_gh_etl_spark.operators.samplers import (
        weighted_sample_without_replacement,
    )

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    base = spark.createDataFrame(rows, "id long, w double")
    scaled = base.selectExpr("id", "w * 1e7 AS w")
    got_base = {r["id"] for r in
                weighted_sample_without_replacement(base, "w", "id", 40).collect()}
    got_scaled = {r["id"] for r in
                  weighted_sample_without_replacement(scaled, "w", "id", 40).collect()}
    assert got_base == got_scaled
    assert sum(1 for i in got_scaled if i < 50) >= 25


def test_bloom_anti_join_matches_exact_anti(spark):
    """Bloom misses are certain non-matches (kept map-side); hits take
    the exact anti join — the union must equal a plain left_anti,
    including null-key rows (kept, like left_anti)."""
    from omicidx_gh_etl_spark.operators import blooms

    big = spark.createDataFrame(
        [(i, i % 3) for i in range(2000)] + [(None, 99)], "k long, v long"
    )
    small = spark.range(0, 2000, 7).select(F.col("id").alias("sk"))
    got = blooms.bloom_anti_join(big, small, "k", "sk", num_bits=1 << 13)
    exact = big.join(small.select(F.col("sk").alias("k")), "k", "left_anti")
    assert got.exceptAll(exact).count() == 0
    assert exact.exceptAll(got).count() == 0
    assert got.filter(F.col("k").isNull()).count() == 1


def test_bpe_learn_merges_golden_order(spark):
    """Hand-checked Sennrich order on a tiny corpus: words aa,aa,ab →
    round 1 merges (a,a) count 2; retokenized [aa],[aa],[a,b] →
    round 2 merges (a,b) count 1; nothing left to merge after."""
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(spark, [(1, "aa aa ab")])
    got = [
        (r["merge_order"], r["left"], r["right"], r["pair_count"])
        for r in T.bpe_learn_merges(df, "text", n_merges=5).collect()
    ]
    assert got == [(1, "a", "a", 2), (2, "a", "b", 1)]


def test_bpe_learn_merges_handles_runs_and_ties(spark):
    """'aaaa' + merge (a,a) must retokenize to aa,aa (left-to-right
    consumption), and count ties break lexicographically."""
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(spark, [(1, "aaaa bc bc")])
    got = [
        (r["merge_order"], r["left"], r["right"], r["pair_count"])
        for r in T.bpe_learn_merges(df, "text", n_merges=2).collect()
    ]
    # round 1: pairs (a,a)x3, (b,c)x2 -> (a,a); round 2: aaaa -> [aa,aa]
    # so pairs (aa,aa)x1, (b,c)x2 -> (b,c)
    assert got[0] == (1, "a", "a", 3)
    assert got[1] == (2, "b", "c", 2)


def test_bpe_batched_equals_sequential(spark):
    """``batch=m`` must produce the IDENTICAL merge table to the
    sequential path — the exactness contract of the prefix-disjoint +
    strict-count-trim batching (operators/text.py::bpe_learn_merges).
    The corpus mixes disjoint high-count pairs (batchable), shared
    symbols (conflict stop), count ties (trim), and a run ('aaaa')."""
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(
        spark,
        [
            (1, "the the the quick quick brown fox fox"),
            (2, "jumps over over the lazy dog dog dog"),
            (3, "aaaa abab the quick fence fence"),
        ],
    )

    def table(batch):
        return [
            (r["merge_order"], r["left"], r["right"], r["pair_count"])
            for r in T.bpe_learn_merges(
                df, "text", n_merges=12, batch=batch
            ).collect()
        ]

    seq = table(1)
    assert len(seq) == 12
    for m in (2, 4, 8):
        assert table(m) == seq, f"batch={m} diverged from sequential"


def test_bpe_batched_conflict_degrades_to_single(spark):
    """Every top pair shares a symbol -> the batch degrades to one
    merge per round, never to a wrong table."""
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(spark, [(1, "aaaa aaa aa")])
    seq = [
        (r["merge_order"], r["left"], r["right"], r["pair_count"])
        for r in T.bpe_learn_merges(df, "text", n_merges=3).collect()
    ]
    bat = [
        (r["merge_order"], r["left"], r["right"], r["pair_count"])
        for r in T.bpe_learn_merges(df, "text", n_merges=3, batch=4).collect()
    ]
    assert bat == seq


def test_rrf_fuse_score_algebra(spark):
    """RRF contract: a doc in both lists scores 1/(60+r1)+1/(60+r2),
    single-list docs score one term, ordering is (score desc, id asc),
    topk caps the output."""
    from omicidx_gh_etl_spark.operators.text import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)], "q_id int, doc_id int, rk int"
    )
    b = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2)], "q_id int, doc_id int, rk int"
    )
    got = {
        r["doc_id"]: (r["rrf_score"], r["rk"])
        for r in rrf_fuse([a, b], topk=3).collect()
    }
    # doc 20: both lists (rk 2 and 1) -> top; doc 10: 1/(61); doc 40:
    # 1/(62); doc 30 (1/63) cut by topk=3
    assert set(got) == {20, 10, 40}
    assert got[20][1] == 1
    assert got[20][0] == round(1 / 62 + 1 / 61, 6)
    assert got[10] == (round(1 / 61, 6), 2)
    assert got[40] == (round(1 / 62, 6), 3)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])


def test_lsh_multiprobe_recovers_one_bit_neighbors(spark):
    """The multi-probe contract: a near neighbor that landed across
    exactly ONE hyperplane (missed by the query's own bucket) is
    recovered by the 1-bit-flip probes; the query finds itself at
    rank 1; results are partitioning-invariant."""
    from omicidx_gh_etl_spark.operators.similarity import (
        lsh_multiprobe_topk,
    )

    # hyperplanes = 4-dim standard basis -> bucket bit p = sign(v[p])
    hyper = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)],
        "hp_id long, hv array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 1.0, 1.0]),      # bucket 1111 (the query)
            (2, [-0.1, 1.0, 1.0, 1.0]),     # bucket 0111 — one flip away
            (3, [1.0, 0.9, 1.0, 0.8]),      # bucket 1111 — same bucket
            (4, [-1.0, -1.0, -1.0, -1.0]),  # bucket 0000 — >1 flip away
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 1.0, 1.0, 1.0])], "q_id long, qv array<double>"
    )
    got = {
        r["vec_id"]: (r["rk"], r["cos_sim"])
        for r in lsh_multiprobe_topk(corpus, q, hyper, k=4).collect()
    }
    assert got[1] == (1, 1.0)        # self at rank 1
    assert 2 in got and 3 in got    # one-flip neighbor recovered
    assert 4 not in got             # 4 flips away — never probed
    b = {
        r["vec_id"]: (r["rk"], r["cos_sim"])
        for r in lsh_multiprobe_topk(
            corpus.repartition(3), q, hyper, k=4
        ).collect()
    }
    assert b == got
    # degenerate nbits=0 input is rejected, not silently brute-forced
    # (sequence(1, 0) is DESCENDING in Spark — the flip transform
    # would emit garbage probes)
    with pytest.raises(ValueError, match="hyperplane"):
        lsh_multiprobe_topk(corpus, q, hyper.filter("hp_id < 0"), k=4)

    # single-probe baseline (flip_probes=False): exact bucket only —
    # finds the same-bucket neighbor, MISSES the one-flip neighbor
    # (the recall gap the multi-probe exists to close, and what the
    # bench recall row measures at 200k)
    sp = {
        r["vec_id"] for r in lsh_multiprobe_topk(
            corpus, q, hyper, k=4, flip_probes=False
        ).collect()
    }
    assert 1 in sp and 3 in sp
    assert 2 not in sp and 4 not in sp


def test_lsh_eval_counts_and_edges(spark):
    """lsh_eval's count algebra on a controlled corpus: exact copies
    are both true pairs and candidates (recall = 1 on them); fully
    disjoint docs produce zero true pairs → NULL recall (not a 0/0
    crash); and the single-row invariants n_hit ≤ min(n_true,
    n_candidates), recall = n_hit/n_true hold."""
    from omicidx_gh_etl_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base), (2, base),  # exact pair -> jaccard 1.0
        (3, "one two three four five six seven eight nine ten"),
        (4, "uno dos tres cuatro cinco seis siete ocho nueve diez"),
    ]
    sh = dedup.shingles(_docs(spark, docs), "text", "doc_id", n=3)
    row = dedup.lsh_eval(sh, "doc_id", threshold=0.5).head()
    assert row["n_true"] >= 1 and row["n_hit"] <= row["n_true"]
    assert row["n_hit"] <= row["n_candidates"]
    assert row["recall"] == round(row["n_hit"] / row["n_true"], 4)
    # the exact pair is guaranteed caught: identical shingle sets give
    # identical signatures in every band
    assert row["n_hit"] >= 1

    disjoint = [(1, "a b c d e"), (2, "f g h i j"), (3, "k l m n o")]
    sh2 = dedup.shingles(_docs(spark, disjoint), "text", "doc_id", n=3)
    row2 = dedup.lsh_eval(sh2, "doc_id", threshold=0.5).head()
    assert row2["n_true"] == 0 and row2["n_hit"] == 0
    assert row2["recall"] is None

    # total-miss regime (the one lsh_eval exists to flag): true pairs
    # exist but banding catches NONE — recall must be 0.0, not NULL.
    # Docs share exactly one trigram ("a b c") → jaccard 1/15 ≥ 0.05
    # threshold, while bands=1 over 12 hashes needs ALL 12 minhashes
    # equal to surface a candidate (deterministically false here).
    # Before the fix, sum(t*c) over the full-outer join was NULL
    # (every product had a NULL side) and recall came back NULL.
    miss = [
        (1, "a b c d e f g h i j"),
        (2, "a b c u v w x y z q"),
    ]
    sh3 = dedup.shingles(_docs(spark, miss), "text", "doc_id", n=3)
    row3 = dedup.lsh_eval(
        sh3, "doc_id", threshold=0.05, num_hashes=12, bands=1
    ).head()
    assert row3["n_true"] == 1
    assert row3["n_candidates"] == 0 and row3["n_hit"] == 0
    assert row3["recall"] == 0.0
    assert row3["precision_at_threshold"] is None


def _sennrich_encode(text, merges):
    """Reference subword-nmt encode: lowest-rank pair present, merged
    in one left-to-right pass, repeated to fixpoint. Words are
    SPACE-split (tokens_sql semantics — tabs/newlines stay inside
    words), matching both bpe_encode engines."""
    import re

    ranks = {m: i for i, m in enumerate(merges)}
    out = []
    for w in [x for x in re.split(" +", (text or "").strip(" ")) if x]:
        word = list(w)
        while len(word) >= 2:
            best = min(
                (ranks.get((word[i], word[i + 1]), 1 << 30)
                 for i in range(len(word) - 1)),
            )
            if best == 1 << 30:
                break
            le, ri = merges[best]
            nw, i = [], 0
            while i < len(word):
                if i < len(word) - 1 and word[i] == le and word[i + 1] == ri:
                    nw.append(le + ri)
                    i += 2
                else:
                    nw.append(word[i])
                    i += 1
            word = nw
        out.extend(word)
    return out


_BPE_ENC_CORPUS = [
    (1, "aaaa"), (2, "aaa"), (3, "aaaaa"), (4, "a"), (5, ""),
    (6, "banana banaa"), (7, "the theer ther"), (8, "value val a aa"),
    (9, "aaaaaaaa"), (10, "a a aa aaa the"), (11, "  spaced   out  "),
    (12, None), (13, "aabaa ba baaa"),
    # whitespace edges: space-only tokenization keeps \t and \n INSIDE
    # words — both engines must agree ('(?s)(.)' framing, space-split
    # pandas words); merges still apply around the control chars
    (14, "a\ta aa\naa the\tthe"), (15, "\taaaa\n aa\t\naa"),
]
_BPE_ENC_TABLE = [
    ("a", "a"), ("aa", "aa"), ("b", "a"), ("ba", "n"), ("ban", "aa"),
    ("t", "h"), ("th", "e"), ("e", "r"), ("v", "a"), ("va", "l"),
]


@pytest.mark.parametrize("engine", ["sql", "pandas"])
def test_bpe_encode_matches_reference_sennrich(spark, engine):
    """Both engines == the reference subword-nmt encoder, on the
    pathological corpus: runs of a repeated symbol ('aaaa' must give
    [aaaa] via (a,a)→(aa,aa), 'aaa'→[aa,a], 'aaaaa'→[aaaa,a] — the
    double-separator framing's reason to exist), chained merges,
    multi-space text, empty and NULL documents."""
    from omicidx_gh_etl_spark.operators import text as T

    df = spark.createDataFrame(_BPE_ENC_CORPUS, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["tokens_str"])
        for r in T.bpe_encode(
            df, "text", _BPE_ENC_TABLE, "doc_id", engine=engine
        ).collect()
    }
    for i, t in _BPE_ENC_CORPUS:
        want = _sennrich_encode(t, _BPE_ENC_TABLE)
        assert got[i] == (len(want), " ".join(want)), (i, t)


def test_bpe_encode_train_then_encode_engines_agree(spark):
    """The tokenizer lifecycle: encode the corpus with a table LEARNED
    from it (bpe_learn_merges → bpe_encode). Pins (a) sql ≡ pandas on
    a trained table, (b) losslessness — per-document token
    concatenation reproduces the whitespace-normalized text."""
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quiet queue the quick aaaa aaa"),
            (3, "brown bag bound by the brook"),
            (4, ""),
        ],
    )
    merges = [
        (r["left"], r["right"])
        for r in T.bpe_learn_merges(df, "text", n_merges=12)
        .orderBy("merge_order").collect()
    ]
    assert merges, "training produced no merges"
    rows = {}
    for eng in ("sql", "pandas"):
        rows[eng] = sorted(
            (r["doc_id"], r["n_tokens"], r["tokens_str"])
            for r in T.bpe_encode(
                df, "text", merges, "doc_id", engine=eng
            ).collect()
        )
    assert rows["sql"] == rows["pandas"]
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    for doc_id, _n, toks in rows["sql"]:
        assert toks.replace(" ", "") == " ".join(texts[doc_id].split()).replace(" ", "")


def test_bpe_encode_strips_framing_chars_from_text(spark):
    """A document containing the \\x1f/\\x1e framing control chars
    must not corrupt the sql engine's separator encoding: both engines
    strip them from TEXT up front (in lockstep with the DuckDB
    oracle), so engine outputs stay identical and equal the
    clean-text encoding."""
    from omicidx_gh_etl_spark.operators import text as T

    dirty = _docs(
        spark,
        [
            (1, "ta\x1fble va\x1elue"),   # chars inside words
            (2, "\x1f\x1e table \x1f"),    # chars as stray tokens
            (3, "table value"),            # control row
        ],
    )
    clean = _docs(
        spark, [(1, "table value"), (2, "table"), (3, "table value")]
    )
    merges = [("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
              ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e")]
    want = sorted(
        (r["doc_id"], r["n_tokens"], r["tokens_str"])
        for r in T.bpe_encode(clean, "text", merges, "doc_id").collect()
    )
    for eng in ("sql", "pandas"):
        got = sorted(
            (r["doc_id"], r["n_tokens"], r["tokens_str"])
            for r in T.bpe_encode(
                dirty, "text", merges, "doc_id", engine=eng
            ).collect()
        )
        assert got == want, eng


def test_bpe_encode_rejects_illegal_symbols(spark):
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(spark, [(1, "ab")])
    for bad in [("a", "b c")], [("", "b")], [("a", "b\x1f")]:
        with pytest.raises(ValueError):
            T.bpe_encode(df, "text", bad, "doc_id")
    with pytest.raises(ValueError):
        T.bpe_encode(df, "text", [("a", "b")], "doc_id", engine="nope")
    # tab-bearing symbols are LEGAL (space-only tokenization keeps \t
    # inside words, so a trained table can contain them) and both
    # engines agree on them
    tab_df = _docs(spark, [(1, "x\ty x\ty z")])
    merges = [("x", "\t"), ("x\t", "y")]
    got = {
        eng: sorted(
            (r["doc_id"], r["n_tokens"], r["tokens_str"])
            for r in T.bpe_encode(
                tab_df, "text", merges, "doc_id", engine=eng
            ).collect()
        )
        for eng in ("sql", "pandas")
    }
    assert got["sql"] == got["pandas"]
    assert got["sql"][0][1] == 3  # [x\ty, x\ty, z]


def _pca_frame(spark, n=48, dim=6, seed=7):
    import random

    rng = random.Random(seed)
    # anisotropic: coordinate c has scale (c+1), plus a nonzero mean
    rows = [
        (
            i,
            [
                round(rng.gauss(0.5 * (c + 1), 1.0 + c), 6)
                for c in range(dim)
            ],
        )
        for i in range(n)
    ]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_covariance_matrix_matches_numpy(spark):
    import numpy as np

    from omicidx_gh_etl_spark.operators.similarity import covariance_matrix

    rows, df = _pca_frame(spark)
    x = np.array([r[1] for r in rows])
    want = np.cov(x, rowvar=False, ddof=1)
    got = np.zeros_like(want)
    for r in covariance_matrix(df, "embedding", round_to=None).collect():
        got[r["i"] - 1, r["j"] - 1] = r["cov"]
    assert np.allclose(got, want, atol=1e-9)
    # partitioning must not change the (full-precision) result beyond
    # float-sum association noise
    got2 = np.zeros_like(want)
    for r in covariance_matrix(
        df.repartition(7), "embedding", round_to=None
    ).collect():
        got2[r["i"] - 1, r["j"] - 1] = r["cov"]
    assert np.allclose(got2, want, atol=1e-9)


def test_covariance_matrix_skips_nulls(spark):
    import numpy as np

    from omicidx_gh_etl_spark.operators.similarity import covariance_matrix

    rows, _ = _pca_frame(spark, n=10)
    with_null = rows + [(99, None)]
    df = spark.createDataFrame(
        with_null, "vec_id long, embedding array<double>"
    )
    x = np.array([r[1] for r in rows])
    want = np.cov(x, rowvar=False, ddof=1)
    got = np.zeros_like(want)
    for r in covariance_matrix(df, "embedding", round_to=None).collect():
        got[r["i"] - 1, r["j"] - 1] = r["cov"]
    assert np.allclose(got, want, atol=1e-9)


def test_covariance_single_scan_and_bad_input_raises(spark):
    """The 'ONE corpus pass' claim, pinned: covariance_matrix's
    executed plan contains exactly one scan of the input (the three
    state consumers reuse the aggregate exchange). Ragged vectors and
    NULL elements raise instead of silently corrupting the moments."""
    import pytest as _pytest

    from omicidx_gh_etl_spark.operators.similarity import covariance_matrix

    rows, df = _pca_frame(spark, n=20)
    src = df.repartition(3)
    cov = covariance_matrix(src, "embedding")
    cov.collect()
    plan = cov._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-adaptive plan after a marker —
    # audit only the FINAL plan section
    final = plan.split("== Initial Plan ==")[0]
    n_arrow = final.count("MapInArrow")
    n_reused = final.count("ReusedExchange") + final.count(
        "ReusedQueryStage"
    )
    assert n_arrow - n_reused <= 1, (n_arrow, n_reused, final)

    # ragged vectors raise on EITHER path: same batch (per-batch
    # length check) or split across tasks (mixed-dim count markers
    # rejected at derivation)
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="ragged"):
        covariance_matrix(ragged, "embedding").collect()
    with _pytest.raises(Exception, match="ragged"):
        covariance_matrix(ragged.repartition(2), "embedding").collect()

    holey = spark.createDataFrame(
        [(1, [1.0, None, 3.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="NULL elements"):
        covariance_matrix(holey, "embedding").collect()


def test_covariance_state_incremental_equals_one_shot(spark):
    """The O(delta) maintenance contract: union of three disjoint
    batches' moment states → covariance identical (to float-sum
    association noise) to the one-shot pass over everything, and to
    numpy."""
    import numpy as np

    from omicidx_gh_etl_spark.operators.similarity import (
        covariance_from_state,
        covariance_matrix,
        covariance_state,
    )

    rows, df = _pca_frame(spark, n=45)
    parts = [rows[:10], rows[10:27], rows[27:]]
    state = None
    for chunk in parts:
        st = covariance_state(
            spark.createDataFrame(
                chunk, "vec_id long, embedding array<double>"
            )
        )
        state = st if state is None else state.unionByName(st)
    got = np.zeros((6, 6))
    for r in covariance_from_state(state, round_to=None).collect():
        got[r["i"] - 1, r["j"] - 1] = r["cov"]
    x = np.array([r[1] for r in rows])
    assert np.allclose(got, np.cov(x, rowvar=False, ddof=1), atol=1e-9)
    one = np.zeros((6, 6))
    for r in covariance_matrix(df, round_to=None).collect():
        one[r["i"] - 1, r["j"] - 1] = r["cov"]
    assert np.allclose(got, one, atol=1e-9)
    # state size contract: dim^2 + dim + 1 rows
    assert state.groupBy("i", "j").count().count() == 36 + 6 + 1


def test_streaming_covariance_equals_one_shot(spark, tmp_path):
    """Moment additivity under micro-batching: the foreachBatch-merged
    state over a 3-file stream derives the same rounded covariance as
    the one-shot pass (streaming/moments.py)."""
    from omicidx_gh_etl_spark.operators.similarity import covariance_matrix
    from omicidx_gh_etl_spark.streaming.moments import (
        run_streaming_covariance,
    )

    rows, df = _pca_frame(spark, n=33)
    src = str(tmp_path / "cov_src")
    df.repartition(3).write.parquet(src)
    # an EMPTY micro-batch (zero-row file) must be a no-op, not a
    # crash — the state producer emits no rows for it
    df.limit(0).coalesce(1).write.mode("append").parquet(src)
    streamed = sorted(
        (r["i"], r["j"], r["cov"])
        for r in run_streaming_covariance(
            spark, src, df.schema, "embedding"
        ).collect()
    )
    oneshot = sorted(
        (r["i"], r["j"], r["cov"])
        for r in covariance_matrix(df, "embedding").collect()
    )
    assert streamed == oneshot


def test_weighted_sample_per_group_quotas_and_small_groups(spark):
    from omicidx_gh_etl_spark.operators.samplers import (
        weighted_sample_per_group,
    )

    rows = [(i, "big", 1.0) for i in range(100)] + [
        (1000, "tiny", 5.0), (1001, "tiny", 0.0)
    ]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    got = weighted_sample_per_group(df, ["g"], "w", "id", k=10).collect()
    by_g: dict[str, list] = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r)
    assert len(by_g["big"]) == 10
    # tiny group: only 1 positive-weight row -> returned whole
    assert [r["id"] for r in by_g["tiny"]] == [1000]
    assert all(r["rk"] <= 10 for r in got)


def test_bm25_batch_matches_fixed_query_scores(spark):
    """The batch operator over a single-query table must produce
    exactly the fixed-query operator's scores (same formula, same
    rounding) for the same terms."""
    from omicidx_gh_etl_spark.operators import text as T

    df = _docs(
        spark,
        [
            (1, "apple apple pear"),
            (2, "apple " + "x " * 40 + "y"),
            (3, "pear plum"),
            (4, "apple pear plum"),
        ],
    )
    q = spark.createDataFrame([(7, "apple")], "q_id int, term string")
    batch = {
        (r["doc_id"], r["score"], r["rk"])
        for r in T.bm25_batch_topk(df, q, "text", "doc_id", k=10).collect()
    }
    fixed = {
        (r["doc_id"], r["score"], r["rk"])
        for r in T.bm25_topk(df, "text", "doc_id", ["apple"], k=10).collect()
    }
    assert batch == fixed


def test_contiguous_ids_wide_partition_count_o1_lookup(spark):
    """At the 10²–10⁵ partition counts this operator targets, the
    per-row offset lookup must be O(1): an array literal indexed by the
    dense pid (GetArrayItem), never a create_map literal (Spark's
    GetMapValue is a linear scan → O(rows × partitions))."""
    from pyspark.sql import Window as W

    from omicidx_gh_etl_spark.operators import ids as ids_op

    df = spark.range(0, 6000).select((F.col("id") * 31 % 6000).alias("k"))
    out = ids_op.assign_contiguous_ids(df, ["k"], num_partitions=300)
    try:
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "map_keys" not in analyzed and "keys: [" not in analyzed
        assert "element_at" in analyzed
        got = {r["k"]: r["global_id"] for r in out.collect()}
    finally:
        ids_op.release(out)
    want = {
        r["k"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(W.partitionBy().orderBy("k"))
        ).collect()
    }
    assert got == want


def test_bm25_index_persisted_serve_matches_batch_topk(spark, sf_dir):
    """The PERSISTED term-bucketed index (operators/bm25_index.py)
    serves scores/ranks identical to the one-shot bm25_batch_topk for
    multiple query batches — the on-disk lifecycle adds bucket pruning
    without changing a single score — and token-less docs still count
    toward n/avgdl through the persisted stats table."""
    import uuid

    from pyspark.sql import functions as F

    from omicidx_gh_etl_spark.operators import text as text_ops
    from omicidx_gh_etl_spark.operators.bm25_index import Bm25Index
    from omicidx_gh_etl_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(200).select(
        "doc_id", "text"
    ).unionByName(spark.createDataFrame(
        # the whitespace doc exercises token-less stats; the second doc
        # plants tokens with quotes/backslashes IN the corpus so the
        # serve's VALUES-literal escaping is exercised on terms that
        # really match (df > 0), not dropped by the df=0 guard
        [(999_999, "   "), (999_998, "it's a\\'b \"hi\" the")],
        "doc_id long, text string",
    ))
    name = f"bm25idx_t_{uuid.uuid4().hex[:8]}"
    idx = Bm25Index(spark, name)
    try:
        idx.build(d, "text", "doc_id", n_buckets=16)
        q1 = spark.createDataFrame(
            [(0, "the"), (0, "of"), (1, "and")], "q_id int, term string"
        )
        q2 = spark.createDataFrame(
            [(7, "data"), (7, "the"), (7, None)], "q_id int, term string"
        )
        for q in (q1, q2):
            want = sorted(
                tuple(r) for r in text_ops.bm25_batch_topk(
                    d, q, "text", "doc_id", k=7
                ).collect()
            )
            got = sorted(tuple(r) for r in idx.serve(q, k=7).collect())
            assert got == want and len(got) > 0
        # adversarial workload terms: the serve inlines the term map
        # as a SQL VALUES literal — quotes/backslashes in terms must
        # round-trip the escaping (never match, never break the plan)
        q3 = spark.createDataFrame(
            [(3, "the"), (3, "it's"), (3, "a\\'b"), (3, '"hi"')],
            "q_id int, term string",
        )
        want3 = sorted(
            tuple(r) for r in text_ops.bm25_batch_topk(
                d, q3, "text", "doc_id", k=7
            ).collect()
        )
        got3 = sorted(tuple(r) for r in idx.serve(q3, k=7).collect())
        assert got3 == want3 and len(got3) > 0

        # persisted stats counted the token-less doc
        n = spark.table(idx.stats_table).collect()[0]["__n"]
        assert n == d.count()
        # exactly one file per bucket: the pre-shuffle matched the
        # bucket spec (a mismatch writes tasks x buckets fragments)
        files = [
            r for r in spark.sql(
                f"SHOW TABLE EXTENDED LIKE '{name}_postings'"
            ).collect()
        ]
        import glob as _glob
        loc = spark.sql(f"DESCRIBE FORMATTED {name}_postings").filter(
            F.col("col_name") == "Location"
        ).collect()[0]["data_type"]
        n_files = len(_glob.glob(loc.replace("file:", "") + "/*.parquet"))
        assert n_files <= 16
    finally:
        for t in (idx.postings_table, idx.dfreq_table, idx.stats_table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bm25_index_stats_need_unique_doc_ids(spark):
    """With unique doc ids, token-less docs included, Bm25Index's
    persisted (n, avgdl) are the corpus's: n counts every document and
    avgdl averages token counts over all of them. Unique ids are the
    build's documented precondition: on a duplicate id, n counts rows."""
    import uuid

    from omicidx_gh_etl_spark.operators.bm25_index import Bm25Index

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "a dog barked"), (3, "   "), (4, "the the cat ran far")],
        "doc_id long, text string",
    )
    idx = Bm25Index(spark, f"bm25idx_t_{uuid.uuid4().hex[:8]}")

    def persisted_stats():
        return tuple(spark.table(idx.stats_table).collect()[0])

    try:
        idx.build(docs, "text", "doc_id", n_buckets=4)
        assert persisted_stats() == (4, (3 + 3 + 0 + 5) / 4)
        dup = docs.unionByName(spark.createDataFrame([(2, "a dog barked")], docs.schema))
        idx.build(dup, "text", "doc_id", n_buckets=4)
        assert persisted_stats()[0] == dup.count() == 5
    finally:
        for t in (idx.postings_table, idx.dfreq_table, idx.stats_table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
