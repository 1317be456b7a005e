"""ANN recall PROPERTIES pinned in the suite (r9 verdict item 2: the
measured recall-vs-cost curve lived only in a benchmark record that a
host fault could — and did — erase; the structural claims behind the
curve belong in pytest where they cannot silently vanish).

Two claims, both guaranteed by construction and therefore stable:

- **IVF recall is monotone non-decreasing in nprobe**, and equals 1.0
  when nprobe = n_centroids: each query's probed-cell set at nprobe+1
  is a superset of its set at nprobe (cells ranked by rounded centroid
  similarity with an id tiebreak — deterministic), so the candidate
  pool only grows; at nprobe = n_centroids the pool is the whole
  corpus and the search IS the brute-force truth.
- **Multi-probe LSH recall ≥ single-probe recall for the same index**
  (Lv et al. 2007's point): the multi-probe bucket set per query is
  the exact bucket plus every 1-bit flip — a strict superset of the
  single-probe set — so every truth vector reachable single-probe
  stays reachable, and vectors lost just across one hyperplane become
  reachable.

The corpus is a deterministic perturbed-replica family (each base
embedding replicated with a fixed ±lattice perturbation, so replicas
are genuine near neighbors with spread); ground truth is the exact
brute cosine (arrow gemm engine, pytest-pinned bit-identical to the
sql engine elsewhere). The MEASURED 200k-vector curve numbers
(recall/sec per config) stay in SCALING.md + BENCH_DETAIL; this test
pins the shape of the curve.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omicidx_gh_etl_spark.operators import similarity
from omicidx_gh_etl_spark.queries.tables import load_table

REP = 10
K = 5


def _perturbed_corpus(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").limit(200)
    repx = F.explode(F.sequence(F.lit(1), F.lit(REP))).alias("__rep")
    perturb = (
        "transform(cast(embedding AS array<double>), (x, j) -> "
        "x + 0.05 * (pmod(__rep * 31 + j * 17, 13) - 6))"
    )
    corpus = e.select("vec_id", "embedding", repx).select(
        (F.col("vec_id") * REP + F.col("__rep")).alias("vec_id"),
        F.expr(perturb).alias("v"),
    ).localCheckpoint(eager=True)
    probes = corpus.filter(
        (F.col("vec_id") % REP == 1) & (F.col("vec_id") < 20 * REP)
    ).select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    base = e.localCheckpoint(eager=True)
    return base, corpus, probes


def _sets(rows, id_key, order_key, k=K):
    got: dict = {}
    for r in sorted(
        rows, key=lambda r: (r["q_id"], r[order_key], int(r[id_key]))
    ):
        if int(r[id_key]) == int(r["q_id"]):
            continue  # exact self
        got.setdefault(r["q_id"], []).append(int(r[id_key]))
    return {q: set(v[:k]) for q, v in got.items()}


def _recall(got, truth):
    qs = [q for q, t in truth.items() if t]
    return sum(
        len(got.get(q, set()) & truth[q]) / len(truth[q]) for q in qs
    ) / max(len(qs), 1)


def _truth(corpus, probes):
    rows = similarity._brute_topk(
        corpus, probes.selectExpr("q_id", "qv AS qvd"), K + 1,
        "vec_id", "q_id", engine="arrow",
    ).collect()
    return _sets(
        [
            {"q_id": r["q_id"], "vec_id": r["vec_id"], "o": -r["cos_sim"]}
            for r in rows
        ],
        "vec_id", "o",
    )


def test_ivf_recall_monotone_in_nprobe_and_exact_at_full_probe(
    spark, sf_dir
):
    base, corpus, probes = _perturbed_corpus(spark, sf_dir)
    truth = _truth(corpus, probes)
    n_centroids = 10
    centroids = base.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )
    emb = corpus.selectExpr("vec_id", "v AS embedding")
    recalls = []
    for nprobe in (1, 2, 4, n_centroids):
        rows = similarity.ivf_search(
            emb, centroids, probes, k=K + 1, nprobe=nprobe
        ).collect()
        got = _sets(
            [
                {"q_id": r["q_id"], "vec_id": r["vec_id"],
                 "o": -r["cos_sim"]}
                for r in rows
            ],
            "vec_id", "o",
        )
        recalls.append(round(_recall(got, truth), 6))
    assert recalls == sorted(recalls), f"not monotone: {recalls}"
    # probing every cell scans the whole corpus: recall must be exact
    assert recalls[-1] == 1.0, recalls
    # and the curve must actually climb somewhere (a flat curve would
    # mean the probe pruning isn't pruning)
    assert recalls[0] < 1.0, recalls


def test_multiprobe_lsh_recall_at_least_single_probe(spark, sf_dir):
    base, corpus, probes = _perturbed_corpus(spark, sf_dir)
    truth = _truth(corpus, probes)
    # 4 hyperplanes: at this 2000-vector corpus the 16 buckets hold
    # ~125 vectors each, so both probe modes have real candidate pools
    # (at 8 hyperplanes the 256 buckets average ~8 vectors and BOTH
    # modes starve — recall floors say nothing there; the dense-corpus
    # 8-hyperplane servable point lives in the measured 200k curve)
    hyper = base.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("hp_id"), F.col("embedding").alias("hv")
    )
    emb = corpus.selectExpr("vec_id", "v AS embedding")
    got = {}
    for name, flip in (("multi", True), ("single", False)):
        rows = similarity.lsh_multiprobe_topk(
            emb, probes, hyper, k=K + 1, flip_probes=flip
        ).collect()
        got[name] = _recall(_sets(rows, "vec_id", "rk"), truth)
    # deterministic corpus + deterministic tiebreaks → the measured
    # gap is stable (0.73 vs 0.30 at this construction): the flip
    # probes must STRICTLY recover recall, not merely match
    assert got["multi"] > got["single"], got
    assert got["multi"] >= 0.5, got
    # single-probe must be under saturation or the comparison is
    # vacuous (everything recalled regardless of probing)
    assert got["single"] < 1.0, got
