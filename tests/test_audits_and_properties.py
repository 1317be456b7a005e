"""Audit-engine tests + property-based operator tests (hypothesis).

The property tests mirror the reference's normalize/schema invariants
(SURVEY.md §5 notes no property tests existed — a gap worth closing):
operators must hold for arbitrary token streams, not just goldens.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from omicidx_gh_etl_spark.engine.audits import AUDITS, Audit, AuditRegistry, run_audits
from omicidx_gh_etl_spark.operators import dedup

# -- audit engine ----------------------------------------------------------


def test_audit_pass_and_fail(spark, tmp_path):
    reg = AuditRegistry()

    @reg.audit("no_negatives", "m")
    def _no_neg(df):
        return df.filter(F.col("v") < 0)

    @reg.audit("no_nulls", "m")
    def _no_null(df):
        return df.filter(F.col("v").isNull())

    df = spark.createDataFrame([(1,), (-2,), (3,)], "v int")
    results = run_audits(reg, lambda n: df, ["m"], str(tmp_path / "wh"))
    by_name = {r.audit: r for r in results}
    assert by_name["no_negatives"].status == "fail"
    assert by_name["no_negatives"].bad_rows == 1
    assert by_name["no_nulls"].status == "pass"
    meta = spark.read.parquet(str(tmp_path / "wh/meta/model_audits"))
    assert meta.count() == 2


def test_set_audit_count_is_capped_and_reuses_its_code(spark, compiles):
    """``evaluate`` caps the bad rows at ``evidence_limit + 1``, and a
    second call over the same frame compiles nothing: a limit operator
    takes its codegen names from a global counter, so a capped
    ``limit(n).count()`` compiled new source on every call."""
    from omicidx_gh_etl_spark.engine.audits import evaluate

    unique = next(a for a in AUDITS.all() if a.name == "assert_unique_accession")
    ids = spark.range(30).select(F.col("id").cast("string").alias("accession"))
    df = ids.unionAll(ids)  # 30 duplicated accessions
    first = evaluate(unique, df)
    before = compiles()
    again = evaluate(unique, df)
    assert compiles() - before == 0
    assert (first.status, first.bad_rows) == (again.status, again.bad_rows) == ("fail", 21)
    assert evaluate(unique, df, evidence_limit=0).bad_rows == 30


def test_builtin_audits_registered():
    names = {a.name for a in AUDITS.all()}
    assert "assert_accession_not_null" in names
    assert "assert_unique_accession" in names


def test_runner_records_audits(spark, tmp_path):
    """End-to-end: WarehouseRunner.run() executes attached audits."""
    import datetime as dt

    from omicidx_gh_etl_spark.models import REGISTRY
    from omicidx_gh_etl_spark.engine import WarehouseRunner
    from omicidx_gh_etl_spark.schemas import SRA_ACCESSIONS_SCHEMA
    from pyspark.sql import Row

    root = tmp_path / "data"

    def acc_row(acc, typ):
        base = {f.name: None for f in SRA_ACCESSIONS_SCHEMA.fields}
        base.update(Accession=acc, Type=typ, Updated=dt.datetime(2024, 1, 5))
        return Row(**base)

    spark.createDataFrame(
        [acc_row("A1", "RUN"), acc_row("A2", "RUN")], SRA_ACCESSIONS_SCHEMA
    ).write.parquet(str(root / "sra" / "sra_accessions.parquet"))

    runner = WarehouseRunner(
        spark=spark, registry=REGISTRY, data_root=str(root),
        warehouse_root=str(tmp_path / "wh"),
    )
    runner.run(start_ds="2024-01-01", end_ds="2024-01-31",
               select=["bronze.stg_sra_accessions"])
    assert any(r.audit == "assert_unique_accession" for r in runner.audit_results)
    assert all(r.status == "pass" for r in runner.audit_results)


# -- property tests --------------------------------------------------------

tokens_st = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=0, max_size=12
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(toks=tokens_st)
def test_shingle_count_property(spark, toks):
    """|distinct trigram shingles| == |{(t[i],t[i+1],t[i+2])}| and zero
    when the doc has < 3 tokens — for arbitrary token streams."""
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {r["shingle"] for r in dedup.shingles(df, "text", "doc_id", n=3).collect()}
    want = {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.text(alphabet="xy ", min_size=0, max_size=20),
                      min_size=1, max_size=8))
def test_exact_dedup_partitions_docs(spark, texts):
    """Exact-dedup clusters partition the corpus: copy counts sum to N
    and every keeper is the min id of its text group."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = dedup.exact_dedup(df, "text", "doc_id").collect()
    assert sum(r["n_copies"] for r in out) == len(texts)
    firsts = {}
    for i, t in enumerate(texts):
        firsts.setdefault(t, i)
    assert {r["keeper"] for r in out} == set(firsts.values())


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    base=st.lists(st.sampled_from("abcdefgh"), min_size=5, max_size=10),
    n_copies=st.integers(2, 4),
    extras=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=5, max_size=10),
        min_size=0, max_size=3,
    ),
)
def test_minhash_identical_docs_always_candidates(spark, base, n_copies, extras):
    """Exact duplicates have identical MinHash signatures, so EVERY
    duplicate pair must surface as an LSH candidate (recall=1 on
    jaccard=1) — for arbitrary corpora."""
    text = " ".join(base)
    docs = [(i, text) for i in range(n_copies)]
    docs += [(100 + j, " ".join(t)) for j, t in enumerate(extras)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dedup.shingles(df, "text", "doc_id", n=3, distinct=False)
    got = {(r["d1"], r["d2"]) for r in
           dedup.minhash_lsh_candidates(sh, "doc_id").collect()}
    dup_pairs = {(a, b) for a in range(n_copies) for b in range(n_copies) if a < b}
    assert dup_pairs <= got


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=3, max_size=12),
        min_size=2, max_size=5,
    )
)
def test_containment_dominates_jaccard(spark, texts):
    """containment = inter/min ≥ jaccard = inter/union for every pair,
    and both lie in (0, 1]."""
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = dedup.shingles(df, "text", "doc_id", n=3)
    jac = {(r["d1"], r["d2"]): r["jaccard"]
           for r in dedup.jaccard_pairs(sh, "doc_id", threshold=0.0).collect()}
    cont = {(r["d1"], r["d2"]): r["containment"]
            for r in dedup.containment_pairs(sh, "doc_id", threshold=0.0).collect()}
    assert set(jac) == set(cont)  # same candidate pairs (shared shingle)
    for pair, j in jac.items():
        assert 0 < j <= cont[pair] <= 1.0


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(sigs=st.lists(st.integers(0, 2**32 - 1), min_size=2, max_size=10))
def test_simhash_band_pairs_equals_bruteforce(spark, sigs):
    """Banded hamming search is EXACT for d < bands (pigeonhole):
    band-bucket candidates + filter == brute-force n² — for arbitrary
    32-bit signatures."""
    df = spark.createDataFrame(list(enumerate(sigs)), "doc_id long, simhash long")
    got = {(r["d1"], r["d2"], r["hamming"]) for r in
           dedup.simhash_band_pairs(df, "doc_id", bits=32, bands=4,
                                    max_hamming=3).collect()}
    want = set()
    for i, a in enumerate(sigs):
        for j in range(i + 1, len(sigs)):
            h = bin(a ^ sigs[j]).count("1")
            if h <= 3:
                want.add((i, j, h))
    assert got == want


# -- as-of join vs pandas.merge_asof (independent reference impl) ----------


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),  # (key, ts)
        min_size=0, max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=0, max_size=25,
    ),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    """Backward as-of join ≡ the brute-force definition (max right ts
    ≤ left ts per key, at-or-before semantics) for arbitrary inputs.

    Right rows are deduped to one per (key, ts) keeping the max value,
    so every left row has a unique match candidate — the same
    tie-resolution the operator's payload-struct ordering produces.
    """
    from omicidx_gh_etl_spark.operators.asof import asof_join

    l_rows = [(i, k, t) for i, (k, t) in enumerate(left)]
    r_best: dict[tuple[int, int], int] = {}
    for k, t, v in right:
        r_best[(k, t)] = max(r_best.get((k, t), -1), v)
    r_rows = [(k, t, v) for (k, t), v in sorted(r_best.items())]

    ldf = spark.createDataFrame(l_rows, "lid long, k long, ts long")
    rdf = spark.createDataFrame(r_rows, "k long, ts long, v long")

    got = {
        r["lid"]: (r["r_ts"], r["r_v"])
        for r in asof_join(
            ldf, rdf, by=["k"], left_ts="ts", right_ts="ts",
            payload_cols=["ts", "v"], right_prefix="r_",
        ).collect()
    }
    want = {}
    for lid, k, t in l_rows:
        cands = [(rt, rv) for (rk, rt, rv) in r_rows if rk == k and rt <= t]
        want[lid] = max(cands) if cands else (None, None)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    spans=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 40), st.integers(0, 15)),
        min_size=1, max_size=20,
    )
)
def test_coalesce_intervals_equals_bruteforce(spark, spans):
    """coalesce_intervals == classic sweep-line merge, per key."""
    from omicidx_gh_etl_spark.operators.sequences import coalesce_intervals

    rows = [(k, s, s + d) for k, s, d in spans]
    df = spark.createDataFrame(rows, "k int, s int, e int")
    got = {(r["k"], r["ms"], r["me"]) for r in
           coalesce_intervals(df, ["k"], "s", "e").collect()}

    want = set()
    for k in {r[0] for r in rows}:
        ivs = sorted((s, e) for kk, s, e in rows if kk == k)
        cur_s, cur_e = ivs[0]
        for s, e in ivs[1:]:
            if s <= cur_e:
                cur_e = max(cur_e, e)
            else:
                want.add((k, cur_s, cur_e))
                cur_s, cur_e = s, e
        want.add((k, cur_s, cur_e))
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 30)),
        min_size=1, max_size=25,
    )
)
def test_consecutive_islands_equals_bruteforce(spark, vals):
    """consecutive_islands == run-length grouping of sorted distincts
    (duplicates collapse first)."""
    from omicidx_gh_etl_spark.operators.sequences import consecutive_islands

    df = spark.createDataFrame(vals, "k int, v int")
    got = {(r["k"], r["island_start"], r["island_len"]) for r in
           consecutive_islands(df, ["k"], "v").collect()}

    want = set()
    for k in {k for k, _ in vals}:
        vs = sorted({v for kk, v in vals if kk == k})
        start, length = vs[0], 1
        for prev, cur in zip(vs, vs[1:]):
            if cur == prev + 1:
                length += 1
            else:
                want.add((k, start, length))
                start, length = cur, 1
        want.add((k, start, length))
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),   # score (heavy ties)
            st.integers(min_value=0, max_value=20),   # n_tokens (incl. 0)
        ),
        min_size=0,
        max_size=25,
    ),
    frac=st.sampled_from([0.0, 0.25, 0.5, 1.0]),
)
def test_token_budget_select_property(spark, rows, frac):
    """For arbitrary (score, tokens) corpora and budget fractions, the
    parallel bucket formulation equals the naive sequential greedy."""
    from omicidx_gh_etl_spark.engine.curate import token_budget_select

    data = [(i, s, t) for i, (s, t) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, score_int long, n_tokens long"
    )
    got = {
        r["doc_id"]
        for r in token_budget_select(
            df, "score_int", "n_tokens", "doc_id", budget_frac=frac
        ).collect()
    }
    # reference: PREFIX greedy over (score DESC, doc_id ASC), tokens>0 —
    # the running sum is cut at the first overflow (cum is monotone, so
    # nothing after the frontier can re-enter), matching the operator's
    # contract and the naive running-sum-window SQL.
    budget = frac * sum(t for _, _, t in data)
    want, cum = set(), 0
    for i, s, t in sorted(data, key=lambda r: (-r[1], r[0])):
        if t <= 0:
            continue
        cum += t
        if cum <= budget:
            want.add(i)
    assert got == want
