"""Text-analysis operators for training-data pipelines.

All JVM-side expressions (no Python in the hot path):

- ``with_token_stats``   — token count, distinct ratio, avg token length
- ``langid_heuristic``   — n-gram/stopword-ratio language ID
- ``quality_flag``       — length/diversity quality scoring
- ``fingerprint``        — normalization + md5 document fingerprint
                           (whitespace-collapse canonicalization)
- ``segment_token_windows`` — document → (id, seg_idx, segment) units
  for segment-level corpus operators
- ``remove_boilerplate_segments`` — CCNet/RefinedWeb-style removal of
  segments duplicated across many documents (headers, footers, nav
  bars), by corpus-wide segment document-frequency
- ``bm25_topk``          — Okapi BM25 retrieval for a fixed small
  query; map-only tf/length expressions + 1-row stats broadcast
  (no per-term shuffle)

Scale: the per-document operators are map-only projections — no
shuffle, fully pipelined into whatever scan/write surrounds them.
``remove_boilerplate_segments`` shuffles on md5 segment hashes
(uniform, skew-free) — see its docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import tokens_expr, tokens_sql

# Tiny built-in English marker list; real pipelines plug in a proper
# profile table (one broadcast join away).
EN_MARKERS = ("the", "a", "of", "and", "to", "in")


def _markers_sql(markers: tuple[str, ...]) -> str:
    return ", ".join(f"'{m}'" for m in markers)


def with_token_stats(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    """Add n_tokens / n_distinct_tokens / distinct_ratio / avg_token_len."""
    return df.selectExpr(
        *keep, f"{tokens_sql(text_col)} AS __t"
    ).selectExpr(
        *keep,
        "size(__t) AS n_tokens",
        "size(array_distinct(__t)) AS n_distinct_tokens",
        "round(cast(size(array_distinct(__t)) as double) / size(__t), 4)"
        " AS distinct_ratio",
        "round(cast(aggregate(__t, 0L, (acc, x) -> acc + length(x))"
        " as double) / size(__t), 4) AS avg_token_len",
    )


def langid_heuristic(
    df: DataFrame,
    text_col: str,
    keep: list[str],
    markers: tuple[str, ...] = EN_MARKERS,
    threshold: float = 0.04,
) -> DataFrame:
    """Stopword-ratio language ID: share of tokens that are English
    markers; ≥ threshold → 'en'. A deterministic, corpus-scale-cheap
    heuristic (stand-in for fasttext-style models, which would be a
    Pandas UDF)."""
    toks = tokens_expr(text_col)
    d = df.withColumn("__t", toks)
    n_marker = F.expr(
        f"size(filter(__t, x -> x IN ({_markers_sql(markers)})))"
    )
    ratio = F.round(n_marker.cast("double") / F.size("__t"), 4)
    return d.select(
        *keep,
        ratio.alias("marker_ratio"),
        F.when(ratio >= threshold, "en").otherwise("other").alias("pred_lang"),
    )


def quality_flag(
    df: DataFrame,
    text_col: str,
    keep: list[str],
    min_tokens: int = 30,
    min_distinct_ratio: float = 0.2,
) -> DataFrame:
    """Quality gate: long enough + lexically diverse enough → 'ok'."""
    scored = with_token_stats(df, text_col, keep)
    return scored.selectExpr(
        "*",
        f"CASE WHEN n_tokens >= {int(min_tokens)} "
        f"AND distinct_ratio >= cast({float(min_distinct_ratio)!r} as double) "
        "THEN 'ok' ELSE 'low' END AS quality",
    )


def fingerprint_expr(text_col: str | Column) -> Column:
    """Canonical-form md5: lowercase, collapse whitespace runs, trim."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def fingerprint(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    return df.select(*keep, fingerprint_expr(text_col).alias("fp"))


def segment_token_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 10,
) -> DataFrame:
    """Document → (id, seg_idx, segment) fixed ``window``-token
    pseudo-paragraphs — the segmentation for corpora without line
    structure (and the deterministic unit used by tests/oracles).
    Map-side: tokenize, slice into windows, posexplode. Docs with no
    tokens produce no rows."""
    t = tokens_expr(text_col)
    segs = F.expr(
        f"transform(sequence(0, int(ceil(size(__t) / {window}.0)) - 1),"
        f" i -> concat_ws(' ', slice(__t, i * {window} + 1, {window})))"
    )
    return (
        df.select(F.col(id_col), t.alias("__t"))
        .filter(F.size("__t") > 0)
        .select(F.col(id_col), F.posexplode(segs).alias("seg_idx", "segment"))
    )


def boilerplate_hash_expr(seg_col: str | Column) -> Column:
    """CCNet-style segment canonicalization hash: lowercase, digit runs
    → '0', whitespace collapsed, trimmed, md5'd. Digit folding makes
    'Page 3 of 12' and 'Page 7 of 12' the same boilerplate unit."""
    c = F.col(seg_col) if isinstance(seg_col, str) else seg_col
    return F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(c), r"[0-9]+", "0"), r"\s+", " "
            )
        )
    )


def remove_boilerplate_segments(
    segments: DataFrame,
    id_col: str,
    min_docs: int = 3,
    seg_col: str = "segment",
    idx_col: str = "seg_idx",
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: drop segments whose
    canonical form appears in ≥ ``min_docs`` DISTINCT documents
    (headers, footers, cookie banners, nav bars), reassemble the rest
    in order → (id, n_segments, n_removed, text_clean).

    Scale shape (3 shuffles, all on uniform keys, no n² anywhere):
    1. segment doc-frequency: groupBy(md5 segment hash) +
       count(distinct id) — map-side partial agg, hash keys uniform.
       A corpus-hot segment is exactly what we're hunting, and it
       aggregates to ONE row, so skew cannot blow up this stage.
    2. equi-join segments → df counts on the hash (uniform); the hot
       rows fan out only as many times as they occur — same as input.
    3. reassembly: groupBy(id) + ordered collect of kept segments.
       Per-doc segment counts are bounded by doc length, so collect
       buffers stay document-sized.

    Docs whose every segment is boilerplate survive with
    ``text_clean = ''`` — dropping them is a downstream filter
    decision, not this operator's."""
    seg = segments.select(
        F.col(id_col).alias("__id"),
        F.col(idx_col).alias("__idx"),
        F.col(seg_col).alias("__seg"),
        boilerplate_hash_expr(seg_col).alias("__h"),
    )
    freq = seg.groupBy("__h").agg(
        F.countDistinct("__id").alias("__docs")
    )
    flagged = seg.join(freq, "__h").select(
        "__id",
        "__idx",
        "__seg",
        (F.col("__docs") >= min_docs).alias("__bp"),
    )
    kept_sorted = F.expr(
        "transform(array_sort(filter(__rows, r -> NOT r.bp)), r -> r.seg)"
    )
    return (
        flagged.groupBy("__id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("__idx").alias("idx"),
                    F.col("__bp").alias("bp"),
                    F.col("__seg").alias("seg"),
                )
            ).alias("__rows")
        )
        .select(
            F.col("__id").alias(id_col),
            F.size("__rows").cast("bigint").alias("n_segments"),
            F.expr("size(filter(__rows, r -> r.bp))")
            .cast("bigint")
            .alias("n_removed"),
            F.concat_ws(" ", kept_sorted).alias("text_clean"),
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.1): per document,
    the fraction of characters covered by (a) the MOST FREQUENT
    ``top_n``-gram (all its occurrences) and (b) all ``dup_n``-grams
    that occur more than once → (id, top{top_n}gram_frac,
    dup{dup_n}gram_frac). Repetition loops ("click here click here
    click here…") pass length/stopword rules but fail these.

    Definitions (matching the open implementations of the paper's
    rules, e.g. DataTrove/Dolma):

    - top fraction: occurrences × gram chars / length(text), clamped
      to 1.0 (overlapping occurrences of a self-overlapping gram like
      'x x' in 'x x x' can overcount — the clamp keeps the upper
      bound honest).
    - dup fraction: the fraction of TOKEN POSITIONS covered by at
      least one duplicated ``dup_n``-gram — a positional union, so
      overlapping duplicate grams never double-count.

    Shape: n-grams explode → count per (doc, gram) → per-doc
    aggregates; the dup side joins duplicated grams back to their
    positions and unions coverage in-array. All shuffle keys are doc
    id (+gram) — group sizes bounded by document length."""
    from .dedup import _gram_sql, positional_shingles, tokens_expr

    toks = df.select(
        F.col(id_col),
        F.length(text_col).alias("__chars"),
        F.size(tokens_expr(text_col)).alias("__ntok"),
    )
    top_toks = df.select(F.col(id_col), tokens_expr(text_col).alias("t"))
    arr = (
        f"CASE WHEN size(t) >= {top_n} THEN "
        f"transform(sequence(0, size(t) - {top_n}), i -> {_gram_sql(top_n)}) "
        f"ELSE array() END"
    )
    top = (
        top_toks.select(F.col(id_col), F.explode(F.expr(arr)).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max(F.col("c") * F.length("g")).alias("__top_chars"))
    )
    pos = positional_shingles(df, text_col, id_col, n=dup_n)
    dup_grams = (
        pos.groupBy(id_col, "shingle")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select(id_col, "shingle")
    )
    cov = (
        pos.join(dup_grams, [id_col, "shingle"])
        .groupBy(id_col)
        .agg(
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.sequence(
                                F.col("pos"), F.col("pos") + (dup_n - 1)
                            )
                        )
                    )
                )
            ).alias("__cov_toks")
        )
    )
    return (
        toks.join(top, id_col, "left")
        .join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.round(
                F.least(
                    F.coalesce(F.col("__top_chars"), F.lit(0))
                    / F.col("__chars"),
                    F.lit(1.0),
                ),
                4,
            ).alias(f"top{top_n}gram_frac"),
            F.round(
                F.coalesce(F.col("__cov_toks"), F.lit(0)) / F.col("__ntok"), 4
            ).alias(f"dup{dup_n}gram_frac"),
        )
    )


# (lang, token, weight) rows for the profile-table language ID; a real
# deployment loads a trained table (e.g. per-language token log-odds)
DEFAULT_LANG_PROFILE: tuple[tuple[str, str, float], ...] = (
    ("en", "the", 3.0), ("en", "of", 2.0), ("en", "and", 2.0),
    ("en", "to", 1.5), ("en", "in", 1.5), ("en", "a", 1.0),
    ("de", "der", 3.0), ("de", "die", 3.0), ("de", "und", 2.0),
    ("de", "das", 2.0), ("de", "ist", 1.5), ("de", "nicht", 1.5),
    ("fr", "le", 3.0), ("fr", "la", 3.0), ("fr", "et", 2.0),
    ("fr", "les", 2.0), ("fr", "des", 1.5), ("fr", "est", 1.5),
)


def langid_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    profile: DataFrame,
) -> DataFrame:
    """Language ID against a (lang, token, weight) profile table →
    (id, pred_lang, score).

    The production counterpart of :func:`langid_heuristic`'s built-in
    list: the profile is data, not code — retrain/extend it without
    touching the pipeline. Scale: tokens explode map-side, the profile
    (thousands of rows at most) broadcasts, scores aggregate once on
    (id, lang), and the winner is an argmax MAX-of-struct on id —
    no windows, two hash aggregations, no large-side shuffle beyond
    the (id, lang) agg. Docs matching no profile token get
    ('und', 0.0) via the left join. Weights should be halves/quarters
    (exactly representable) so score sums are order-exact doubles.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok"))
    scored = (
        toks.join(F.broadcast(profile), toks["tok"] == profile["token"])
        .groupBy(id_col, "lang")
        .agg(F.sum("weight").alias("s"))
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("s"), F.col("lang"))).alias("b")
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("b.lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("b.s"), F.lit(0.0)).alias("score"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): rolling char ``k``-gram hashes, keeping the
    minimum in each sliding window of ``window`` consecutive
    positions → (id, fp) distinct.

    The *local* document fingerprint: unlike the global
    :func:`fingerprint` md5, shared substrings of length
    ≥ k + window − 1 between two documents are GUARANTEED to share a
    fingerprint, so matching fps localize copied passages, not just
    whole-document duplicates. Density is ~2/(window+1) of positions.

    Plan shape: normalize → posexplode k-gram positions → hash (all
    map-side, one Generate) → sliding min via a window frame ordered
    by position — per-document sort only, so partitions stay balanced
    by document regardless of corpus size — → distinct (the one
    shuffle, on (id, fp)). Hashes are md5-derived 60-bit BIGINTs, so
    the DuckDB oracle reproduces them exactly.
    """
    qid = f"`{id_col}`"
    d = df.selectExpr(
        qid, f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' ')) AS __n"
    )
    grams = d.selectExpr(
        qid,
        # CASE guard: Spark sequence(1, 0) DESCENDS, it is not empty
        f"explode(CASE WHEN length(__n) >= {k} "
        f"THEN sequence(1, length(__n) - {k - 1}) "
        "ELSE array() END) AS pos",
        "__n",
    ).selectExpr(
        qid,
        "pos",
        f"cast(conv(substring(md5(substring(__n, pos, {k})), 1, 15), 16, 10)"
        " as bigint) AS h",
    )
    return grams.selectExpr(
        qid,
        f"min(h) OVER (PARTITION BY {qid} ORDER BY pos "
        f"ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp",
    ).distinct()


def hashed_linear_score(
    df: DataFrame,
    text_col: str,
    keep: list[str],
    n_buckets: int = 64,
    weight_seed: str = "w",
    include_n_tokens: bool = False,
) -> DataFrame:
    """Fasttext-style hashed-feature linear quality scorer — the shape
    of every cheap learned document filter (CCNet's LM filter slot,
    fasttext quality/langid classifiers): hash each token into one of
    ``n_buckets`` feature buckets, look up an integer weight per
    bucket, score = mean weight, probability = sigmoid(score).

    Offline stand-in for trained weights: weight(b) is derived from
    ``md5(weight_seed || b)`` — an arbitrary-but-fixed integer in
    [-1000, 1000], so the whole model is reproducible from a seed
    string (and by the DuckDB oracle). Swapping in real trained
    weights = replacing the weight expression with a broadcast-join
    against a (bucket, weight) table — same plan shape.

    Scale: map-only projection, no shuffle; the token loop runs as a
    codegen'd higher-order ``transform``/``aggregate`` chain (no
    Python). The integer score sum is exact in any evaluation order —
    only the final sigmoid touches floats, so the output is
    cross-engine hash-stable.
    """
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9_]+", weight_seed):
        # the seed is interpolated into an F.expr string below; an
        # unconstrained seed (quotes, backslashes) would surface as a
        # confusing SQL parse error instead of a clear ValueError
        raise ValueError(
            f"weight_seed must match [A-Za-z0-9_]+, got {weight_seed!r}"
        )
    toks = tokens_expr(text_col)
    d = df.withColumn("__t", toks).filter(F.size("__t") > 0)
    # token -> bucket: first 4 md5 hex chars -> [0, n_buckets)
    buckets = F.expr(
        f"transform(__t, x -> cast(conv(substring(md5(x), 1, 4), 16, 10)"
        f" as bigint) % {n_buckets})"
    )
    # bucket -> integer weight in [-1000, 1000]
    weights = F.expr(
        f"transform(__b, b -> cast(conv(substring("
        f"md5(concat('{weight_seed}', cast(b as string))), 1, 6), 16, 10)"
        f" as bigint) % 2001 - 1000)"
    )
    score_int = F.expr("aggregate(__w, 0L, (acc, x) -> acc + x)")
    d = d.withColumn("__b", buckets).withColumn("__w", weights)
    d = d.withColumn("__s", score_int)
    mean = F.col("__s").cast("double") / (F.size("__t") * F.lit(1000.0))
    extra = (
        [F.size("__t").cast("bigint").alias("n_tokens")]
        if include_n_tokens
        else []
    )
    return d.select(
        *keep,
        F.col("__s").alias("score_int"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 4).alias("prob_keep"),
        F.when(F.col("__s") >= 0, "keep").otherwise("drop").alias("label"),
        *extra,
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval for one query over a document corpus:
    ``(id, score, rk)`` rows for the top-k matches.

    Built for the fixed-small-query case (ad-hoc corpus search,
    contamination probes against a benchmark's question set), which
    admits a plan with NO per-term shuffle at all:

    - per-term tf and the doc length are ``size(filter(tokens, …))``
      expressions — map-only, codegen'd, pipelined into the scan;
    - corpus stats (N, avgdl, per-term df) reduce through ONE global
      aggregate of fixed width (k+2 sums) → a 1-row broadcast;
    - scoring is arithmetic on those columns; only the final top-k
      (TakeOrderedAndProject — no global sort) touches the driver.

    At 100 TB that is a single scan plus two O(1)-row exchanges —
    contrast an explode→groupBy(term,doc) inverted-index build, which
    shuffles every token occurrence (the right trade only when the
    query set is itself large; see ``text_tfidf_top_terms``).

    Scores use the Lucene idf ``ln(1 + (N-df+0.5)/(df+0.5))`` (always
    positive) and are rounded to 4 before ranking so cross-engine
    last-ulp ``ln``/division noise cannot flip ranks (id tiebreak).
    The whole score is assembled as ONE SQL string (py4j-assembly
    lesson: k Column trees cost k round trips; one parse does not).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # terms are interpolated into SQL string literals on BOTH engines;
    # quotes would break the literal and backslashes are escapes in
    # Spark ('\\b' silently becomes backspace → term never matches)
    # but literal bytes in DuckDB — reject rather than diverge
    if any("'" in t or "\\" in t for t in query_terms):
        raise ValueError(
            "query terms must not contain single quotes or backslashes"
        )
    toks = f"filter(split(coalesce(`{text_col}`, '') , ' '), x -> x != '')"
    tf_cols = {
        f"__tf{i}": f"size(filter({toks}, x -> x = '{t}'))"
        for i, t in enumerate(query_terms)
    }
    sized = df.selectExpr(
        f"`{id_col}`",
        f"size({toks}) AS __dl",
        *[f"{e} AS {name}" for name, e in tf_cols.items()],
    )
    stats = sized.selectExpr(
        "count(*) AS __n",
        "avg(__dl) AS __avgdl",
        *[
            f"sum(CASE WHEN {name} > 0 THEN 1 ELSE 0 END) AS __df{i}"
            for i, name in enumerate(tf_cols)
        ],
    )
    parts = [
        f"ln(1.0 + (__n - __df{i} + 0.5) / (__df{i} + 0.5))"
        f" * ({name} * ({k1} + 1.0))"
        f" / ({name} + {k1} * (1.0 - {b} + {b} * __dl / __avgdl))"
        for i, name in enumerate(tf_cols)
    ]
    score = f"round({' + '.join(parts)}, 4)"
    from .common import ranked_topk

    scored = (
        sized.crossJoin(F.broadcast(stats))
        .selectExpr(f"`{id_col}`", f"{score} AS score")
        .filter(F.col("score") > 0)
    )
    return ranked_topk(scored, "score", id_col, k)


def _sql_str(s: str) -> str:
    """SQL single-quoted literal with backslash+quote escaping (merge
    symbols come from corpus text and may contain either)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_learn_merges(
    df: DataFrame, text_col: str, n_merges: int = 8, batch: int = 1
) -> DataFrame:
    """Learn a BPE merge table from the corpus: ``(merge_order, left,
    right, pair_count)`` — tokenizer TRAINING, not encoding (the
    encoding side is ``text_bpe_tokens``'s fixed-vocab operator).

    Classic Sennrich BPE, distributed, and — like Sennrich's own
    implementation — trained on the (UNIQUE word, frequency) table,
    not word instances: the corpus collapses once up front to
    distinct words with counts, every round's pair counts are
    frequency-weighted sums, and the merge fold rewrites each
    distinct word once. Identical merge table, but per-round work is
    O(distinct words) instead of O(corpus tokens) — on Zipfian text
    that is orders of magnitude, and it is exact (no sampling
    needed). Each round: one explode + groupBy on uniform pair keys
    (map-side partials), argmax under a TOTAL order (count desc,
    then lexicographic — deterministic table), then a left-to-right
    ``aggregate`` fold over the symbol arrays (JVM lambda, handles
    runs correctly: "aaaa" + (a,a) → aa,aa). The vocab table is
    localCheckpoint-ed per round, so round N costs one scan of the
    CURRENT symbols, not a replay of N-1 merges; the final round
    skips the fold entirely (its retokenization is never read).

    Driver state is the merge table itself (n_merges rows) plus one
    small collect per round — O(vocab), never O(corpus).

    Scale envelope — jobs per merge. Sequential mode (``batch=1``)
    runs ONE Spark job (pair-count + argmax) and one fold per merge:
    at the hundreds of merges this module's queries and tests train,
    that is hundreds of sequential jobs, entirely fine; a production
    32k-merge vocabulary would mean 32k sequential jobs whose ~0.1-1 s
    scheduling floors dominate. ``batch=m`` amortizes that by applying
    up to m merges per round WITHOUT changing the output: each round
    takes the maximal PREFIX of the (count desc, left, right)-sorted
    pair table that is pairwise symbol-disjoint — stopping at the
    first pair that shares a symbol with an earlier accepted pair,
    whose concatenation collides with an existing symbol or an
    accepted pair's symbols/concat — then trims the batch to counts
    STRICTLY above the first excluded pair. Under those conditions
    the batched table is exactly the sequential table: applying an
    accepted merge cannot change the count of any other accepted pair
    (disjoint), old pairs can't overtake (the batch is a sorted
    prefix), and every pair a merge creates is bounded by a
    conflicting pair's count, which the strict trim puts below every
    remaining batch member — so the sequential argmax sequence is the
    batch, in order. Worst case (every top pair conflicting) degrades
    to one merge per round, never to a wrong table; the
    batched-vs-sequential equality is pinned by pytest on the test
    corpus. batch>1 adds one O(vocab) distinct-symbol collect per
    round for the concat-collision check.

    No general DuckDB oracle: the iterative re-tokenization isn't
    expressible as non-recursive SQL. Evidence is the golden pytest
    (hand-checked merge order) plus the registered fixed-round query
    ``text_bpe_learn_merges``, whose 8-merge table (first merge ``e`` +
    ``r``, 4568 pairs, at sf0.01) the strict oracle gate checks
    value-exactly against an unrolled SQL replay.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if batch < 1:
        raise ValueError("batch must be >= 1")
    spark = df.sparkSession
    vocab = (
        df.select(F.explode(tokens_expr(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    cur = vocab.select(
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .alias("s"),
        "c",
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    try:
        while len(merges) < n_merges:
            pc = (
                cur.filter(F.size("s") >= 2)
                .select(
                    F.expr(
                        "explode(transform(sequence(1, size(s) - 1),"
                        " i -> struct(element_at(s, i) AS l,"
                        " element_at(s, i + 1) AS r)))"
                    ).alias("p"),
                    "c",
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("c").alias("n"))
            )
            limit = batch * 4 + 8
            if batch > 1:
                pc = pc.persist()
            cand = (
                pc.orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
                .limit(limit)
                .collect()
            )
            if not cand:
                if batch > 1:
                    pc.unpersist()
                break
            if batch == 1:
                accepted = [cand[0]]
            else:
                # O(vocab) driver rows: the concat-collision check needs
                # the CURRENT symbol alphabet (a merge whose output token
                # already exists as a symbol would fold new pair counts
                # into existing ones, breaking the exactness bound).
                symbols = {
                    row["v"]
                    for row in pc.selectExpr("l AS v")
                    .union(pc.selectExpr("r AS v"))
                    .distinct()
                    .collect()
                }
                pc.unpersist()
                touched: set[str] = set()
                accepted = []
                stop_n = None  # count of the first excluded pair
                for i, row in enumerate(cand):
                    cat = row["l"] + row["r"]
                    if (
                        len(accepted) == batch
                        or {row["l"], row["r"], cat} & touched
                        or cat in symbols
                    ):
                        stop_n = int(row["n"])
                        break
                    touched |= {row["l"], row["r"], cat}
                    accepted.append(row)
                if stop_n is None and len(cand) == limit:
                    # the full collect window was disjoint; pairs beyond
                    # it can tie the tail — bound by the last seen count
                    stop_n = int(cand[-1]["n"])
                if stop_n is not None:
                    accepted = [a for a in accepted if int(a["n"]) > stop_n]
                # a single merge is exact regardless of conflicts
                accepted = accepted or [cand[0]]
            accepted = accepted[: n_merges - len(merges)]
            for row in accepted:
                merges.append(
                    (len(merges) + 1, row["l"], row["r"], int(row["n"]))
                )
            if len(merges) >= n_merges:
                break  # the last retokenization would never be read
            # one fold applies the whole batch: rules are symbol-disjoint,
            # so each (last-symbol, x) position matches at most one arm
            arms = "".join(
                f" WHEN size(acc) > 0"
                f" AND element_at(acc, -1) = {_sql_str(a['l'])}"
                f" AND x = {_sql_str(a['r'])}"
                f" THEN concat(slice(acc, 1, size(acc) - 1),"
                f" array({_sql_str(a['l'] + a['r'])}))"
                for a in accepted
            )
            nxt = cur.select(
                F.expr(
                    "aggregate(s, cast(array() as array<string>),"
                    f" (acc, x) -> CASE{arms}"
                    " ELSE concat(acc, array(x)) END)"
                ).alias("s"),
                "c",
            ).localCheckpoint(eager=True)
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return spark.createDataFrame(
        merges, "merge_order int, left string, right string, pair_count bigint"
    )


# BPE-encode string framing: symbols inside a word are separated by a
# DOUBLE unit separator, words by a record-separator symbol. The double
# separator is what makes each merge rule ONE literal replace() that is
# exactly Sennrich's left-to-right single pass: pattern "\x1fl\x1f\x1fr\x1f"
# consumes only the INNER halves of the flanking boundaries, so the
# leftover outer halves let the very next adjacent pair still match —
# a single-separator framing silently skips every other pair in a run
# (["a","a","a","a"] must encode to [aa, aa], not [aa, a, a]).
_BPE_US = "\x1f"  # symbol separator (unit separator)
_BPE_WB = "\x1e"  # word-boundary marker (record separator)


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    id_col: str,
    engine: str = "sql",
) -> DataFrame:
    """Tokenize the corpus with a LEARNED BPE merge table → ``(id,
    n_tokens, tokens_str)`` — the encoding half of the tokenizer
    lifecycle (:func:`bpe_learn_merges` is training; this applies the
    trained table corpus-wide, the step an LLM-data pipeline runs over
    every document it ships).

    Semantics are exactly subword-nmt/Sennrich ``encode``: per
    whitespace word, start from character symbols and repeatedly merge
    the lowest-rank adjacent pair present, each rule applied as one
    left-to-right non-overlapping pass. Iterating rules in rank order
    (the sql engine) is equivalent because a pair involving a rule's
    output symbol can only have been learned AFTER that rule — no
    earlier-rank pair ever becomes newly applicable. That argument
    needs the TRAINING invariant: every operand is a single character
    or the concatenation output of an earlier rule (always true for
    tables from :func:`bpe_learn_merges`; a hand-written table where a
    later rule's output feeds an EARLIER rule's operand would make the
    two engines legitimately diverge — don't do that).

    ``engine="sql"`` (default, oracle-matched): the whole document is
    framed as one separator-delimited string (see ``_BPE_US`` comment
    for why the separator is doubled) and each merge is ONE literal
    ``replace`` — a chain of |merges| codegen'd string ops, zero
    Python, zero shuffle (pure map). Word boundaries are ``_BPE_WB``
    symbols no merge pattern can cross. The same chain is literal
    ANSI SQL, so DuckDB replays it value-exactly.

    ``engine="pandas"``: Arrow-batched ``mapInPandas`` running the
    classic ranks-dict encoder with a per-batch distinct-word memo —
    the production path for real vocabularies (a 32k-merge table as a
    32k-deep replace chain would blow the expression tree; the Python
    encoder is O(word_len · merges_applied) per DISTINCT word and the
    ranks dict is closure-captured, broadcast once per executor).
    Output pinned identical to the sql engine by pytest.

    Scale: both engines are map-only over documents — no shuffle, no
    driver state beyond the merge table itself. Precondition: symbols
    must not contain whitespace or the two framing control chars
    (guaranteed for tables learned by :func:`bpe_learn_merges`, whose
    symbols come from whitespace tokens of text; raises otherwise).
    Corpus TEXT needs no precondition: the two framing control chars
    are stripped from documents up front, identically in both engines
    (and in the DuckDB oracle), so adversarial input can't corrupt
    the sql engine's separator framing.
    """
    if engine not in ("sql", "pandas"):
        raise ValueError(f"engine must be 'sql' or 'pandas', got {engine!r}")
    for le, ri in merges:
        for s in (le, ri):
            # spaces can never appear in symbols (words are space-split)
            # and the two framing control chars would corrupt the sql
            # engine's string encoding; anything else — including tabs
            # and newlines, which space-only tokenization leaves inside
            # words — is a legal symbol ('(?s)(.)' frames them too)
            if not s or any(c in s for c in (" ", _BPE_US, _BPE_WB)):
                raise ValueError(f"illegal merge symbol {s!r}")
    if engine == "pandas":
        return _bpe_encode_pandas(df, text_col, merges, id_col)
    us, wb = _BPE_US, _BPE_WB
    # word → "c1␟␟c2␟␟…cn␟␟"; doc → "␟␟" + pieces joined by "␞␟␟"
    # (each piece carries its trailing boundary, so the join inserts
    # exactly one word-boundary symbol between full boundaries).
    # (?s): '.' must match EVERY char incl. \n (a line terminator is
    # otherwise skipped, corrupting the framing of newline-bearing
    # words — space-only tokenization keeps \t/\n inside words).
    # translate() strips the two framing control chars from the TEXT
    # first (both engines + the DuckDB oracle do the same), so a
    # document containing ␟/␞ can't corrupt the separator framing.
    clean = f"translate(`{text_col}`, '{us}{wb}', '')"
    pieces = (
        f"transform({tokens_sql(clean)},"
        f" w -> regexp_replace(w, '(?s)(.)', '$1{us}{us}'))"
    )
    enc = f"concat('{us}{us}', concat_ws('{wb}{us}{us}', {pieces}))"
    for le, ri in merges:
        pat = _sql_str(f"{us}{le}{us}{us}{ri}{us}")
        rep = _sql_str(f"{us}{le}{ri}{us}")
        enc = f"replace({enc}, {pat}, {rep})"
    toks = (
        f"array_remove(array_remove(split({enc}, '{us}{us}'), ''), '{wb}')"
    )
    return df.selectExpr(
        f"`{id_col}`",
        f"cast(size({toks}) as bigint) AS n_tokens",
        f"concat_ws(' ', {toks}) AS tokens_str",
    )


def _bpe_encode_pandas(
    df: DataFrame, text_col: str, merges: list[tuple[str, str]], id_col: str
) -> DataFrame:
    """ranks-dict engine for :func:`bpe_encode` (see its docstring)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ranks = {(le, ri): i for i, (le, ri) in enumerate(merges)}
    id_field = df.schema[id_col]

    def encode_word(w: str, cache: dict) -> list[str]:
        got = cache.get(w)
        if got is not None:
            return got
        word = list(w)
        while len(word) >= 2:
            best_rank, best = None, None
            for i in range(len(word) - 1):
                rk = ranks.get((word[i], word[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best_rank, best = rk, (word[i], word[i + 1])
            if best is None:
                break
            le, ri = best
            out: list[str] = []
            i = 0
            while i < len(word):
                if i < len(word) - 1 and word[i] == le and word[i + 1] == ri:
                    out.append(le + ri)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            word = out
        cache[w] = word
        return word

    import re

    def _words(s: str) -> list[str]:
        # EXACTLY tokens_sql's split: trim spaces (0x20 only — Spark's
        # trim), split on space runs, drop empties. str.split() would
        # split on \t/\n too and diverge from the sql engine on
        # whitespace-bearing text (pinned by pytest). The framing
        # control chars are stripped FIRST, in lockstep with the sql
        # engine's translate() (see bpe_encode).
        s = (s or "").replace(_BPE_US, "").replace(_BPE_WB, "")
        return [w for w in re.split(" +", s.strip(" ")) if w]

    def run(batches):
        import pandas as pd

        # distinct-word memo, task-lifetime but size-capped: on heavy-
        # tailed corpora (IDs, typos, salted tokens) an unbounded dict
        # would grow with every distinct word the task ever sees
        cache: dict = {}
        for pdf in batches:
            if len(cache) > 500_000:
                cache.clear()
            toks = [
                [t for w in _words(s) for t in encode_word(w, cache)]
                for s in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": [len(t) for t in toks],
                    "tokens_str": [" ".join(t) for t in toks],
                }
            )

    schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("n_tokens", LongType(), False),
            StructField("tokens_str", StringType(), False),
        ]
    )
    return df.select(id_col, text_col).mapInPandas(run, schema)


def rrf_fuse(
    rankings: list[DataFrame],
    q_col: str = "q_id",
    id_col: str = "doc_id",
    rank_col: str = "rk",
    k_const: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N per-query
    rankings → ``(q_id, doc_id, rrf_score, rk)``: score =
    Σ_lists 1/(k_const + rank), missing entries contribute 0 — the
    standard score-free way to combine lexical (BM25) and vector
    rankings into one hybrid retrieval list (ranks are comparable
    across scorers where raw scores are not; k_const=60 is the
    published default damping the head).

    Plan: each ranking projects its reciprocal contribution map-side,
    a unionByName + groupBy(q, id) sums them (inputs are top-k lists —
    N·k rows per query, never corpus-sized), and a per-query
    WindowGroupLimit emits the fused top-k. round(·,6) keeps the
    cross-engine hash stable if N grows past the 2-term
    order-invariant case.
    """
    contribs = None
    for r in rankings:
        c = r.selectExpr(
            f"`{q_col}`",
            f"`{id_col}`",
            f"cast(1.0 as double) / ({int(k_const)} + `{rank_col}`) AS __c",
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    if contribs is None:
        raise ValueError("rrf_fuse needs at least one ranking")
    w_sql = (
        f"row_number() OVER (PARTITION BY `{q_col}`"
        f" ORDER BY rrf_score DESC, `{id_col}`)"
    )
    return (
        contribs.groupBy(q_col, id_col)
        .agg(F.round(F.sum("__c"), 6).alias("rrf_score"))
        .selectExpr(q_col, id_col, "rrf_score", f"{w_sql} AS rk")
        .filter(f"rk <= {int(topk)}")
    )


def bm25_score_pruned_postings(
    postings: DataFrame,
    qpairs: list[tuple],
    df_by_term: dict,
    n_docs: int,
    avgdl: float,
    id_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 scoring over an already term-PRUNED postings frame with the
    entire query workload inlined as driver-side literals → ``(q_id,
    id, score, rk)`` — the single-job serve kernel behind
    ``operators/bm25_index.py::Bm25Index.serve``.

    Broadcasting the query, dfreq and stats frames instead would cost
    one Spark job per broadcast of a Python-built frame (a LogicalRDD)
    before the serve action runs — ~4 jobs where the IO needs 1. A
    persisted-index
    server already holds the workload (``qpairs``), the matched-term
    document frequencies (``df_by_term``) and the corpus scalars
    (``n_docs``, ``avgdl``) ON THE DRIVER, so here they fold into the
    scan projection as literal maps (``term -> df``, ``term ->
    [q_ids]`` — workload-bounded by contract, constant-folded by
    Catalyst): the plan is one job — pruned postings scan → map-side
    explode/score → (q_id, id) aggregate → per-query rank window —
    with ONE q_id-keyed exchange as its only shuffle: an explicit
    repartition(q_id) below the aggregate serves both the aggregate's
    and the window's clustering (tests/test_plans.py pins exactly
    that; r11 measured 0.553→0.453 s / 3.100→2.595 s at the bench
    shapes vs the former two-exchange tail).

    Tried and REVERTED (r10, measured): replacing the two literal
    maps with a broadcast-hash-joined ``VALUES`` inline table —
    Spark's ``GetMapValue`` is a linear scan per lookup, so at big
    workloads the hash probe looked strictly better on paper. A/B at
    the bench shape (2M docs, 256 buckets, min-of-5/3 same window):
    2000-term batch 3.62 s (maps) vs 3.43 s (join) — within noise,
    the serve is SCAN-bound there; 200-term batch 0.66 s vs 0.80 s —
    the join's BroadcastExchange costs more than the map scans save.
    The maps stay; the equivalence test keeps the adversarial-term
    coverage added for the VALUES experiment.

    Score arithmetic is the same JVM expression tree as
    :func:`bm25_batch_topk` (idf/tf-norm ops in the same order,
    round(·,4) before ranking, id tiebreak), so results are
    bit-identical to the one-shot operator — pytest-pinned via the
    persisted index's equivalence test. Terms absent from
    ``df_by_term`` (or with df ≤ 0) cannot match any posting and are
    dropped from the maps.
    """
    qids_by_term: dict = {}
    for q_id, t in sorted(set(qpairs)):
        if t in df_by_term and df_by_term[t] > 0:
            qids_by_term.setdefault(t, []).append(q_id)
    terms = sorted(qids_by_term)
    if not terms:
        return (
            postings.filter(F.lit(False))
            .select(
                F.lit(None).cast("int").alias("q_id"),
                F.col(id_col),
                F.lit(None).cast("double").alias("score"),
                F.lit(None).cast("int").alias("rk"),
            )
        )
    df_entries: list = []
    q_entries: list = []
    for t in terms:
        df_entries += [F.lit(t), F.lit(int(df_by_term[t]))]
        q_entries += [F.lit(t), F.array(*[F.lit(q) for q in qids_by_term[t]])]
    dfm = F.create_map(*df_entries)
    qm = F.create_map(*q_entries)
    df_col = F.element_at(dfm, F.col("term"))
    idf = F.log(1.0 + (F.lit(int(n_docs)) - df_col + 0.5) / (df_col + 0.5))
    part = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("__dl") / F.lit(float(avgdl)))
        )
    )
    contrib = postings.select(
        F.explode(F.element_at(qm, F.col("term"))).alias("q_id"),
        F.col(id_col),
        part.alias("part"),
    )
    return _rank_scored_tail(contrib, id_col, k)


def _rank_scored_tail(contrib, id_col: str, k: int):
    """(q_id, id, part) contributions → positive-score top-k per query
    with ONE q_id-keyed exchange (r11, guide §2.4 "two operations keyed
    the same way share one exchange"): hashpartitioning(q_id) satisfies
    the (q_id, id) score aggregate's clustering AND the rank window's,
    so the explicit repartition below the aggregate replaces the former
    two exchanges — (q_id, id) for the aggregate, then q_id again for
    the window. The map-side partial aggregation this forgoes only
    merged same-(q_id, doc) contributions (multi-term matches of one
    query), a small reduction. Measured on the persisted-index serve at
    the bench shape (2M docs, 256 buckets, interleaved min-of-5/3 same
    window): 200-pair batch 0.553 s → 0.453 s, 2000-pair batch
    3.100 s → 2.595 s, rows bit-identical both shapes. Score
    arithmetic unchanged: round(sum(part), 4), (score desc, id)
    tiebreak, score > 0 filter."""
    from pyspark.sql import Window as W

    scored = contrib.repartition("q_id").groupBy("q_id", id_col).agg(
        F.round(F.sum("part"), 4).alias("score")
    )
    win = W.partitionBy("q_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.filter(F.col("score") > 0)
        .withColumn("rk", F.row_number().over(win).cast("int"))
        .filter(F.col("rk") <= k)
    )


def _default_rank_tail(contrib, id_col: str, k: int):
    """(q_id, id, part) contributions → positive-score top-k per query
    via Catalyst's default tail: (q_id, id) exchange for the score
    aggregate (map-side partial agg intact), then a q_id exchange whose
    traffic the map-side WindowGroupLimit bounds to ~k rows per query
    per mapper. The scale-robust shape for corpus-sized contrib
    streams — see the call sites and :func:`_rank_scored_tail` (the
    1-exchange variant for workload-bounded pruned-postings serves).
    Identical arithmetic: round(sum(part), 4), (score desc, id)
    tiebreak, score > 0 filter."""
    from pyspark.sql import Window as W

    scored = contrib.groupBy("q_id", id_col).agg(
        F.round(F.sum("part"), 4).alias("score")
    )
    win = W.partitionBy("q_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.filter(F.col("score") > 0)
        .withColumn("rk", F.row_number().over(win).cast("int"))
        .filter(F.col("rk") <= k)
    )


def bm25_batch_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    q_id_col: str = "q_id",
    q_term_col: str = "term",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    materialize: bool = True,
) -> DataFrame:
    """Okapi BM25 for a TABLE of queries: ``(q_id, id, score, rk)``
    top-k docs per query — the batch-retrieval complement of
    :func:`bm25_topk` (whose fixed-small-query plan is shuffle-free
    but whose per-term expressions can't scale to thousands of
    queries).

    Plan: the corpus text is tokenized EXACTLY ONCE into a reduced
    per-doc projection ``(id, dl, matched-terms)`` — O(query-matches)
    bytes per doc, the classic index-build intermediate — which is
    materialized (``localCheckpoint``; disable with
    ``materialize=False`` for tiny corpora). Both downstream readers
    — the corpus stats aggregate (n, avgdl over ALL docs) and the
    tf/df posting aggregates — consume the materialized form, so the
    expensive tokenization is never re-executed per subtree (the
    previous formulation re-tokenized in three subtrees; at 500 k
    docs that was ~3× the whole query's cost; an engine like DuckDB
    materializes the equivalent multi-referenced CTE automatically).
    Tokens use the codegen'd ``tokens_sql`` chain, not an interpreted
    ``filter`` lambda. Term matching is a map-side literal
    ``array_contains`` for ≤64 distinct query terms; larger query
    workloads switch to explode + broadcast term join + per-doc
    regroup (one uniform id-keyed shuffle). Then: queries broadcast
    onto the postings; per-(q_id, doc) score aggregate; rank-k window
    per query (WindowGroupLimit). At 100 TB the posting-list shuffle
    is the honest cost of batch retrieval — amortized across ALL
    queries, and the materialized projection is exactly what a real
    engine persists as its index.

    Same determinism contract as ``bm25_topk``: scores round to 4
    before ranking, doc-id tiebreak. ``queries`` must be small enough
    to broadcast (thousands of (q_id, term) rows — it is the query
    workload, not data).
    """
    from ..operators.dedup import tokens_sql

    toks = tokens_sql(f"coalesce(`{text_col}`, '')")
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_term_col).alias("term")
    ).filter(F.col("term").isNotNull()).distinct()
    # NULL terms are dropped (they can never match a token — the same
    # semantics the former null-safe semi join gave them for free)
    qterms = q.select("term").distinct()
    term_list = [r["term"] for r in qterms.collect()]
    sized = docs.selectExpr(
        f"`{id_col}`", f"{toks} AS __t"
    ).selectExpr(f"`{id_col}`", "size(__t) AS __dl", "__t")
    if len(term_list) <= 64:
        lit = "array(" + ", ".join(_sql_str(t) for t in term_list) + ")"
        perdoc = sized.selectExpr(
            f"`{id_col}`", "__dl",
            f"filter(__t, x -> array_contains({lit}, x)) AS __mt",
        )
    else:
        flagged = sized.select(
            F.col(id_col), F.col("__dl"),
            F.explode_outer("__t").alias("__tok"),
        ).join(
            F.broadcast(
                qterms.select(F.col("term").alias("__tok"))
                .withColumn("__m", F.lit(1))
            ),
            "__tok", "left",
        )
        perdoc = flagged.groupBy(id_col, "__dl").agg(
            F.collect_list(
                F.when(F.col("__m") == 1, F.col("__tok"))
            ).alias("__mt")
        )
    if materialize:
        perdoc = perdoc.localCheckpoint(eager=True)
    stats = perdoc.selectExpr("count(*) AS __n", "avg(__dl) AS __avgdl")
    postings = (
        perdoc.select(
            F.col(id_col), F.col("__dl"), F.explode("__mt").alias("term")
        )
        .groupBy(id_col, "term", "__dl")
        .agg(F.count("*").alias("tf"))
    )
    # count(tf > 0) == count(*) on postings (tf ≥ 1 by construction);
    # referencing tf keeps this subtree canonically IDENTICAL to the
    # main contrib side's postings aggregate, so AQE reuses that
    # shuffle stage instead of re-running the explode + aggregate from
    # the checkpoint (ReusedExchange — pinned in tests/test_plans.py)
    df_ = postings.groupBy("term").agg(
        F.count(F.when(F.col("tf") > 0, True)).alias("df")
    )
    contrib = (
        postings.join(F.broadcast(q), "term")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "q_id",
            F.col(id_col),
            (
                F.log(
                    1.0
                    + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
            ).alias("part"),
        )
    )
    # default 2-exchange tail: the one-shot contrib stream is
    # corpus-scan-sized, so the 1-exchange tail's q_id-bounded
    # parallelism is the wrong trade here (measured a wash: 1.293 s vs
    # 1.270 s at 500k docs x 20 queries)
    return _default_rank_tail(contrib, id_col, k)
