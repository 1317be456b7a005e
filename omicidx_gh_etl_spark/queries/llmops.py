"""Training-data pipeline operators (dedup / similarity / text /
multimodal) registered with DuckDB oracles.

These go beyond the reference's own surface (BASELINE.json north star):
the operators a 100 TB LLM-data pipeline needs, built on the
``operators`` package. Thresholds were chosen against the synthetic
corpus: planted near-dups sit at Jaccard ≥ 0.9 vs a 0.07 background;
embedding cosine tops out ≈ 0.51 on a ≈ N(0, 0.125) background.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity, text
from .base import register
from .tables import load_spread, load_table

# Shared oracle CTE: tokenization + distinct trigram shingles.
# DuckDB arrays are 1-based (t[i]); the Spark side uses 0-based t[i+k]
# over sequence(0, size-3) — same shingles.
_SHINGLE_CTE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
      list_distinct(list_transform(generate_series(1, len(t) - 2),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
    ELSE [] END) AS shingle
  FROM toks)
"""

_TOKS_CTE = """
WITH toks AS (
  SELECT doc_id, source, lang, n_chars,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents)
"""

# Shared oracle CTE: OPH minhash signature -> densified rows -> band
# signatures (must stay in lockstep with operators/dedup.py::
# minhash_lsh_candidates — one definition, used by every minhash query).
_MINHASH_BANDS_CTE = """,
hx AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 11))::BIGINT AS x FROM sh),
sig AS (
  SELECT doc_id,
         min(CASE WHEN x % 12 = 0 THEN x END) AS s0,
         min(CASE WHEN x % 12 = 1 THEN x END) AS s1,
         min(CASE WHEN x % 12 = 2 THEN x END) AS s2,
         min(CASE WHEN x % 12 = 3 THEN x END) AS s3,
         min(CASE WHEN x % 12 = 4 THEN x END) AS s4,
         min(CASE WHEN x % 12 = 5 THEN x END) AS s5,
         min(CASE WHEN x % 12 = 6 THEN x END) AS s6,
         min(CASE WHEN x % 12 = 7 THEN x END) AS s7,
         min(CASE WHEN x % 12 = 8 THEN x END) AS s8,
         min(CASE WHEN x % 12 = 9 THEN x END) AS s9,
         min(CASE WHEN x % 12 = 10 THEN x END) AS s10,
         min(CASE WHEN x % 12 = 11 THEN x END) AS s11
  FROM hx GROUP BY doc_id),
dens AS (
  SELECT doc_id,
         coalesce(s0, s1, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11) AS m0,
         coalesce(s1, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s0) AS m1,
         coalesce(s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s0, s1) AS m2,
         coalesce(s3, s4, s5, s6, s7, s8, s9, s10, s11, s0, s1, s2) AS m3,
         coalesce(s4, s5, s6, s7, s8, s9, s10, s11, s0, s1, s2, s3) AS m4,
         coalesce(s5, s6, s7, s8, s9, s10, s11, s0, s1, s2, s3, s4) AS m5,
         coalesce(s6, s7, s8, s9, s10, s11, s0, s1, s2, s3, s4, s5) AS m6,
         coalesce(s7, s8, s9, s10, s11, s0, s1, s2, s3, s4, s5, s6) AS m7,
         coalesce(s8, s9, s10, s11, s0, s1, s2, s3, s4, s5, s6, s7) AS m8,
         coalesce(s9, s10, s11, s0, s1, s2, s3, s4, s5, s6, s7, s8) AS m9,
         coalesce(s10, s11, s0, s1, s2, s3, s4, s5, s6, s7, s8, s9) AS m10,
         coalesce(s11, s0, s1, s2, s3, s4, s5, s6, s7, s8, s9, s10) AS m11
  FROM sig),
bands AS (
  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR) || ',' || CAST(m2 AS VARCHAR)) AS bsig FROM dens
  UNION ALL
  SELECT doc_id, 1 AS band, md5(CAST(m3 AS VARCHAR) || ',' || CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) AS bsig FROM dens
  UNION ALL
  SELECT doc_id, 2 AS band, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR) || ',' || CAST(m8 AS VARCHAR)) AS bsig FROM dens
  UNION ALL
  SELECT doc_id, 3 AS band, md5(CAST(m9 AS VARCHAR) || ',' || CAST(m10 AS VARCHAR) || ',' || CAST(m11 AS VARCHAR)) AS bsig FROM dens)"""

# Shared oracle macro: cosine similarity over DOUBLE[] lists.
_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)



# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy → keeper + copy count."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "text", "doc_id")


@register(
    "dedup_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    tags=("dedup", "text"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalizing document fingerprint (case/whitespace-insensitive md5)."""
    d = load_table(spark, sf_dir, "documents")
    return text.fingerprint(d, "text", ["doc_id"])


@register(
    "dedup_ngram_jaccard",
    _SHINGLE_CTE
    + """,
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2,
       round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs (inverted-index join, no n²)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3)
    return dedup.jaccard_pairs(sh, "doc_id", threshold=0.5)


@register(
    "dedup_minhash_lsh",
    _SHINGLE_CTE
    + _MINHASH_BANDS_CTE
    + """
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a
JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    """,
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(4 bands × 3) near-dup candidate pairs.

    The sub-quadratic scale path validated against dedup_ngram_jaccard.
    """
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    # distinct=False: per-seed MIN is invariant to duplicate shingles,
    # so the (interpreted, non-codegen) array_distinct is pure cost here.
    sh = dedup.shingles(d, "text", "doc_id", n=3, distinct=False)
    return dedup.minhash_lsh_candidates(sh, "doc_id", num_hashes=12, bands=4)


@register(
    "dedup_lsh_recall",
    _SHINGLE_CTE
    + _MINHASH_BANDS_CTE
    + """,
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truep AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
              AND a.doc_id < b.doc_id),
m AS (
  SELECT coalesce(t.d1, c.d1) AS d1, coalesce(t.d2, c.d2) AS d2,
         (t.d1 IS NOT NULL)::INT AS t, (c.d1 IS NOT NULL)::INT AS c
  FROM truep t FULL OUTER JOIN cand c USING (d1, d2))
SELECT CAST(sum(t) AS BIGINT) AS n_true,
       CAST(sum(c) AS BIGINT) AS n_candidates,
       CAST(sum(t * c) AS BIGINT) AS n_hit,
       CASE WHEN sum(t) > 0
            THEN round(CAST(sum(t * c) AS DOUBLE) / sum(t), 4) END
         AS recall,
       CASE WHEN sum(c) > 0
            THEN round(CAST(sum(t * c) AS DOUBLE) / sum(c), 4) END
         AS precision_at_threshold
FROM m
    """,
    tags=("dedup", "eval"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding recall/precision vs exact-Jaccard ground truth
    (operators/dedup.py::lsh_eval) — the measured S-curve check run
    before committing banding parameters to a corpus pass; at 100 TB
    this runs on a hash-stratified sample (the curve is a property of
    the parameters, not the corpus size)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3)
    return dedup.lsh_eval(sh, "doc_id", threshold=0.5)


@register(
    "dedup_containment",
    _SHINGLE_CTE
    + """,
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2,
       round(CAST(n_inter AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8
    """,
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs (|A∩B| / min(|A|,|B|) ≥ 0.8): the
    subset/quotation detector symmetric Jaccard misses — a short doc
    embedded in a long one has tiny Jaccard but containment ≈ 1."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3)
    return dedup.containment_pairs(sh, "doc_id", threshold=0.8)


@register(
    "dedup_components",
    _SHINGLE_CTE
    + _MINHASH_BANDS_CTE
    + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
  SELECT * FROM r)
SELECT a AS node, least(a, min(b)) AS component
FROM reach GROUP BY a
    """,
    tags=("dedup", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash LSH
    pair edges via iterative min-label propagation (A~B, B~C ⇒ one
    component labeled min(doc_id)) — the keeper-selection step of a
    production dedup pipeline. The oracle computes the same components
    with a recursive transitive-closure CTE (exact on the small
    near-dup graphs; the Spark side scales to corpus-size graphs)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3, distinct=False)
    pairs = dedup.minhash_lsh_candidates(sh, "doc_id", num_hashes=12, bands=4)
    return dedup.connected_components(pairs)


@register(
    "text_repetition_rules",
    """
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    g2 AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
          list_transform(generate_series(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1]) ELSE [] END) AS g
      FROM toks),
    c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
    t2 AS (SELECT doc_id, max(c * length(g)) AS top_chars FROM c2 GROUP BY 1),
    p50 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 5
                    THEN generate_series(1, len(t) - 4) ELSE [] END) AS i,
             t
      FROM toks),
    p5 AS (
      SELECT doc_id, i - 1 AS pos,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                  || t[i+3] || ' ' || t[i+4] AS g
      FROM p50),
    c5 AS (SELECT doc_id, g, count(*) AS c FROM p5 GROUP BY 1, 2),
    d5g AS (SELECT doc_id, g FROM c5 WHERE c > 1),
    cov AS (
      SELECT p.doc_id, count(DISTINCT p.pos + o.k) AS cov_toks
      FROM p5 p
      JOIN d5g USING (doc_id, g),
           UNNEST(generate_series(0, 4)) AS o(k)
      GROUP BY p.doc_id),
    m AS (
      SELECT toks.doc_id,
             round(least(CAST(coalesce(top_chars, 0) AS DOUBLE)
                   / length(text), 1.0), 4) AS top2gram_frac,
             round(CAST(coalesce(cov_toks, 0) AS DOUBLE)
                   / len(t), 4) AS dup5gram_frac
      FROM toks
      LEFT JOIN t2 USING (doc_id) LEFT JOIN cov USING (doc_id))
    SELECT doc_id, top2gram_frac, dup5gram_frac,
           (top2gram_frac <= 0.20) AS ok_top2gram,
           (dup5gram_frac <= 0.15) AS ok_dup5gram,
           (top2gram_frac <= 0.20 AND dup5gram_frac <= 0.15) AS keep
    FROM m
    """,
    tags=("text", "llm", "quality"),
)
def text_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae 2021 §A1.1), the half of the
    quality rule set ``text_gopher_quality_rules`` doesn't cover:
    reject documents whose most-frequent 2-gram covers > 20% of
    characters or whose duplicated 5-grams cover > 15% — the
    repetition-loop failure mode (scraped pagination, "click here"
    chains) that passes length/stopword rules. Thresholds are the
    paper's; the dup measure is positional token coverage (overlaps
    counted once — see repetition_stats)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    m = text.repetition_stats(d, "text", "doc_id", top_n=2, dup_n=5)
    ok_top = F.col("top2gram_frac") <= 0.20
    ok_dup = F.col("dup5gram_frac") <= 0.15
    return m.select(
        "doc_id",
        "top2gram_frac",
        "dup5gram_frac",
        ok_top.alias("ok_top2gram"),
        ok_dup.alias("ok_dup5gram"),
        (ok_top & ok_dup).alias("keep"),
    )


@register(
    "dedup_incremental_lsh",
    _SHINGLE_CTE
    + _MINHASH_BANDS_CTE
    + """
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a
JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
    """,
    tags=("dedup", "incremental"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidates: a new ingest batch (docs with
    doc_id % 5 = 0 stand in for 'today's crawl') is deduped against
    the already-indexed corpus WITHOUT recomputing corpus signatures —
    the production shape at 100 TB, where re-running full LSH per
    daily batch would rescan everything. The corpus band index
    (minhash_band_signatures) persists across ingests; per batch this
    computes delta bands + one (band, bsig) equi-join + the
    delta-internal bucket pairs — O(|delta| + matches). Oracle: full
    banding with pairs filtered to those touching a delta doc."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    is_delta = F.col("doc_id") % 5 == 0
    base_sh = dedup.shingles(
        d.filter(~is_delta), "text", "doc_id", n=3, distinct=False
    )
    delta_sh = dedup.shingles(
        d.filter(is_delta), "text", "doc_id", n=3, distinct=False
    )
    index = dedup.minhash_band_signatures(base_sh, "doc_id")
    delta = dedup.minhash_band_signatures(delta_sh, "doc_id")
    return dedup.incremental_lsh_candidates(index, delta, "doc_id")


@register(
    "text_remove_boilerplate",
    _TOKS_CTE
    + """,
seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(t[(i * 10 + 1):(i * 10 + 10)], ' ') AS segment
  FROM toks, UNNEST(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u(i)
  WHERE len(t) > 0),
hashed AS (
  SELECT doc_id, seg_idx, segment,
         md5(trim(regexp_replace(regexp_replace(lower(segment),
             '[0-9]+', '0', 'g'), '\\s+', ' ', 'g'))) AS h
  FROM seg),
freq AS (SELECT h, count(DISTINCT doc_id) AS docs FROM hashed GROUP BY h)
SELECT hashed.doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(*) FILTER (WHERE docs >= 3) AS BIGINT) AS n_removed,
       coalesce(string_agg(segment, ' ' ORDER BY seg_idx)
                FILTER (WHERE docs < 3), '') AS text_clean
FROM hashed JOIN freq USING (h)
GROUP BY hashed.doc_id
    """,
    tags=("text", "llm", "dedup"),
)
def text_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: segments whose
    canonical form (lowercase, digit runs → 0, whitespace collapsed)
    recurs in ≥3 distinct documents are dropped corpus-wide, and each
    document is reassembled from its surviving segments in order. The
    synthetic corpus has no line structure, so segmentation is fixed
    10-token pseudo-paragraphs (``segment_token_windows``); real
    corpora pass newline/sentence splits (a ``posexplode`` of
    ``split``) into the same operator. 3 shuffles, all on uniform md5/doc keys — the plan
    that survives 100 TB (see remove_boilerplate_segments)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    seg = text.segment_token_windows(d, "text", "doc_id", window=10)
    return text.remove_boilerplate_segments(seg, "doc_id", min_docs=3)


@register(
    "dedup_components_star",
    _SHINGLE_CTE
    + _MINHASH_BANDS_CTE
    + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
  SELECT * FROM r)
SELECT a AS node, least(a, min(b)) AS component
FROM reach GROUP BY a
    """,
    tags=("dedup", "iterative"),
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via alternating large-star/small-star
    contraction (Kiveris et al. 2014) over the same MinHash LSH edges
    as ``dedup_components`` — identical output contract (node →
    min-id component), O(log² n) rounds on ANY graph topology where
    label propagation needs O(diameter). The scale-safe default when
    the candidate graph may contain long chains rather than dense
    near-dup clusters. Oracle: recursive transitive-closure CTE."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3, distinct=False)
    pairs = dedup.minhash_lsh_candidates(sh, "doc_id", num_hashes=12, bands=4)
    return dedup.connected_components_star(pairs)


@register(
    "dedup_exact_substring_spans",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    psh0 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 8
                         THEN generate_series(1, len(t) - 7) ELSE [] END) AS i,
             t
      FROM toks),
    psh AS (
      SELECT doc_id, i - 1 AS pos,
             md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
                 || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])
             AS sh
      FROM psh0),
    keep AS (SELECT sh FROM psh GROUP BY sh HAVING count(*) <= 50),
    pshk AS (SELECT psh.* FROM psh JOIN keep USING (sh)),
    m AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
      FROM pshk a JOIN pshk b ON a.sh = b.sh AND a.doc_id < b.doc_id),
    runs AS (
      SELECT d1, d2, p1, p2,
             p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1)
             AS isl
      FROM m)
    SELECT d1, d2, min(p1) AS start1, min(p2) AS start2,
           CAST(count(*) + 7 AS BIGINT) AS len_tokens
    FROM runs GROUP BY d1, d2, p1 - p2, isl
    HAVING count(*) + 7 >= 12
    """,
    tags=("dedup", "text"),
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (Lee et al. 2022): maximal shared
    runs of ≥ 12 tokens between document pairs, found via positional
    8-gram anchors + gaps-islands run merging — the span-level dedup
    whole-document near-dup methods (minhash/simhash) cannot express.
    Hot-shingle cap (≤ 50 occurrences) bounds the anchor join exactly
    like a production stop-gram list. See
    operators/dedup.py::duplicate_span_runs for the scale analysis."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    psh = dedup.positional_shingles(d, "text", "doc_id", n=8)
    return dedup.duplicate_span_runs(
        psh, "doc_id", n=8, min_len=12, max_shingle_df=50
    )


@register(
    "dedup_span_excision",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    psh0 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 8
                         THEN generate_series(1, len(t) - 7) ELSE [] END) AS i,
             t
      FROM toks),
    psh AS (
      SELECT doc_id, i - 1 AS pos,
             md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
                 || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])
             AS sh
      FROM psh0),
    keep AS (SELECT sh FROM psh GROUP BY sh HAVING count(*) <= 50),
    pshk AS (SELECT psh.* FROM psh JOIN keep USING (sh)),
    m AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
      FROM pshk a JOIN pshk b
        ON a.sh = b.sh
       AND (a.doc_id < b.doc_id
            OR (a.doc_id = b.doc_id AND a.pos < b.pos))),
    runs AS (
      SELECT d1, d2, p1, p2,
             p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1)
             AS isl
      FROM m),
    spans AS (
      SELECT d2, min(p2) AS start2, count(*) + 7 AS len_tokens
      FROM runs GROUP BY d1, d2, p1 - p2, isl
      HAVING count(*) + 7 >= 12),
    rm AS (SELECT d2 AS doc_id, start2 AS s, start2 + len_tokens AS e
           FROM spans),
    toked AS (
      SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos, t[u.i] AS tok
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
    kept AS (
      SELECT k.* FROM toked k
      WHERE NOT EXISTS (
        SELECT 1 FROM rm
        WHERE rm.doc_id = k.doc_id AND k.pos >= rm.s AND k.pos < rm.e))
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
    FROM kept GROUP BY doc_id
    """,
    tags=("dedup", "text"),
)
def dedup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring excision (Lee 2022 §4): the corpus rewritten
    with later copies of every ≥12-token duplicated span cut out —
    cross-document AND within-document — the span-granular rewrite
    completing dedup_exact_substring_spans' detection. Single-pass
    retention caveats documented on
    operators/dedup.py::remove_duplicate_spans."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return dedup.remove_duplicate_spans(
        d, "text", "doc_id", n=8, min_len=12, max_shingle_df=50
    )


@register(
    "dedup_paragraphs_rewrite",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
      FROM documents),
    chunks AS (
      SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
             array_to_string(list_slice(t, u.pos*10 + 1, u.pos*10 + 10), ' ')
               AS para
      FROM toks,
           UNNEST(generate_series(0,
             CAST(ceil(len(t)/10.0) AS BIGINT) - 1)) AS u(pos)),
    keep AS (
      SELECT doc_id, pos, para FROM chunks
      QUALIFY row_number() OVER (
        PARTITION BY para ORDER BY doc_id, pos) = 1)
    SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS text
    FROM keep GROUP BY doc_id
    """,
    tags=("dedup", "text"),
)
def dedup_paragraphs_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style paragraph dedup with document REASSEMBLY (Raffel 2020
    §2.2): fixed 10-token paragraphs, global first-occurrence
    retention, surviving docs rebuilt in order — the corpus-rewrite
    half that span *detection* (dedup_exact_substring_spans) leaves to
    the caller. operators/dedup.py::dedup_paragraphs."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return dedup.dedup_paragraphs(d, "text", "doc_id", chunk_tokens=10)


@register(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    de AS (
      SELECT d.doc_id, d.source, e.v
      FROM documents d JOIN e ON e.vec_id = d.doc_id),
    h AS (SELECT vec_id AS hp_id, v AS hv FROM e WHERE vec_id < 8),
    bits AS (
      SELECT de.doc_id, h.hp_id,
             CASE WHEN list_dot_product(v, hv) >= 0 THEN '1' ELSE '0' END AS b
      FROM de CROSS JOIN h),
    buckets AS (
      SELECT doc_id, string_agg(b, '' ORDER BY hp_id) AS bucket
      FROM bits GROUP BY doc_id),
    joined AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT d1, d2,
           round({_COS.format(a='ea.v', b='eb.v')}, 4) AS cos_sim,
           CASE WHEN ea.source = eb.source THEN 1 ELSE 0 END AS same_source
    FROM joined
    JOIN de ea ON ea.doc_id = d1
    JOIN de eb ON eb.doc_id = d2
    WHERE {_COS.format(a='ea.v', b='eb.v')} >= 0.3
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over DOCUMENTS: semantic duplicates
    (paraphrases, translations, re-renderings) that shingle/minhash
    methods miss because no tokens are shared. Documents join their
    embedding row (doc_id = vec_id), pairs come from random-hyperplane
    LSH buckets (sub-quadratic; hyperplanes broadcast), and each pair
    carries whether both docs share a `source` — the signal a curation
    pipeline uses to decide cross-source contamination vs in-source
    duplication. Scale: both joins are equi-joins on ids; the pair
    join shuffles on the 8-bit bucket signature."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    de = e.join(docs, e.vec_id == docs.doc_id).select("doc_id", "embedding")
    hyper = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("hp_id"), F.col("embedding").alias("hv"))
    )
    pairs = similarity.lsh_bucket_pairs(de, hyper, threshold=0.3, id_col="doc_id")
    s1 = docs.select(F.col("doc_id").alias("d1"), F.col("source").alias("s1"))
    s2 = docs.select(F.col("doc_id").alias("d2"), F.col("source").alias("s2"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "cos_sim",
            F.when(F.col("s1") == F.col("s2"), 1).otherwise(0).alias("same_source"),
        )
    )


@register(
    "dedup_simhash",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS tok
      FROM documents),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h16 FROM toks),
    bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN CAST(floor(h16 / power(2, j)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) js
      GROUP BY doc_id, j)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (md5-derived token hashes)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    out = dedup.simhash(d, "text", "doc_id", bits=16)
    # DuckDB sum(CASE...) over BIGINT yields HUGEINT→ keep both BIGINT
    return out.select("doc_id", F.col("simhash").cast("bigint").alias("simhash"))


@register(
    "dedup_simhash_pairs",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS tok
      FROM documents),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h16 FROM toks),
    bitsums AS (
      SELECT doc_id, j,
             sum(CASE WHEN CAST(floor(h16 / power(2, j)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) js
      GROUP BY doc_id, j),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS sh
      FROM bitsums GROUP BY doc_id)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
    tags=("dedup",),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) near-dup pairs with hamming ≤ 3 via 4-band
    bucketing — exact by pigeonhole (bands > max_hamming), so the
    brute-force n² oracle produces the identical pair set."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sig = dedup.simhash(d, "text", "doc_id", bits=32).select(
        "doc_id", F.col("simhash").cast("bigint").alias("simhash")
    )
    return dedup.simhash_band_pairs(
        sig, "doc_id", "simhash", bits=32, bands=4, max_hamming=3
    )


@register(
    "text_winnow_fingerprints",
    """
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
      FROM documents),
    pos_ AS (
      SELECT doc_id, n,
             unnest(generate_series(1, greatest(length(n) - 7, 0))) AS pos
      FROM norm),
    grams AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(substring(n, pos, 8)), 1, 15))::BIGINT AS h
      FROM pos_)
    SELECT DISTINCT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM grams
    """,
    tags=("text", "dedup"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: 8-char-gram hashes,
    sliding-window-of-4 minima, distinct per doc — the local
    fingerprint that catches copied PASSAGES (guaranteed for shared
    substrings ≥ 11 chars), not just whole-doc duplicates."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return text.winnow_fingerprints(d, "text", "doc_id", k=8, window=4)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------



@register(
    "similarity_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id,
           round({_COS.format(a='v', b='qv')}, 4) AS cos_sim
    FROM e CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity",),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against a query vector (ANN exactness
    baseline; broadcast query → map-only scan + TakeOrdered)."""
    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return similarity.cosine_topk(
        e.filter(F.col("vec_id") != 0), query, k=10
    )


@register(
    "similarity_topk_blocks",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id,
           round({_COS.format(a='v', b='qv')}, 4) AS cos_sim
    FROM e CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "scale"),
)
def similarity_topk_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_topk over the BLOCK storage layout: vectors packed at
    ingest into (n, ids, vecs) fixed-width f32 blocks
    (operators/similarity.py::pack_vector_blocks), scanned with the
    frombuffer-gemv kernel (cosine_topk_blocks). Same oracle as
    similarity_topk — the layout changes transfer cost, never values.
    This is the 100-TB brute-scan path: one contiguous buffer per
    Arrow batch instead of 10M per-row blobs (the measured 10M×64
    bottleneck was per-row Arrow bookkeeping, not math)."""
    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    blocks = similarity.pack_vector_blocks(
        e.filter(F.col("vec_id") != 0), "embedding", "vec_id"
    )
    return similarity.cosine_topk_blocks(blocks, query, k=10)


@register(
    "similarity_pairs_threshold",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           round({_COS.format(a='a.v', b='b.v')}, 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS.format(a='a.v', b='b.v')} >= 0.4
    """,
    tags=("similarity",),
)
def similarity_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ 0.4 (embedding near-dup detection; quadratic
    correctness baseline — the LSH/IVF path is the scale variant)."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    return similarity.cosine_pairs(e, threshold=0.4)


@register(
    "similarity_lsh_pairs",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    h AS (SELECT vec_id AS hp_id, v AS hv FROM e WHERE vec_id < 8),
    bits AS (
      SELECT e.vec_id, h.hp_id,
             CASE WHEN list_dot_product(v, hv) >= 0 THEN '1' ELSE '0' END AS b
      FROM e CROSS JOIN h),
    buckets AS (
      SELECT vec_id, string_agg(b, '' ORDER BY hp_id) AS bucket
      FROM bits GROUP BY vec_id),
    joined AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT d1, d2,
           round({_COS.format(a='ea.v', b='eb.v')}, 4) AS cos_sim
    FROM joined
    JOIN e ea ON ea.vec_id = d1
    JOIN e eb ON eb.vec_id = d2
    WHERE {_COS.format(a='ea.v', b='eb.v')} >= 0.3
    """,
    tags=("similarity",),
)
def similarity_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs: 8-bit sign buckets
    (hyperplanes = first 8 embeddings, deterministic), exact cosine ≥
    0.3 verified only within buckets — the sub-quadratic counterpart
    of similarity_pairs_threshold."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    hyper = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("hp_id"), F.col("embedding").alias("hv")
    )
    return similarity.lsh_bucket_pairs(e, hyper, threshold=0.3)


@register(
    "similarity_multiprobe_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    h AS (SELECT vec_id AS hp_id, v AS hv FROM e WHERE vec_id < 8),
    bits AS (
      SELECT e.vec_id, h.hp_id,
             CASE WHEN list_dot_product(v, hv) >= 0 THEN '1' ELSE '0' END AS b
      FROM e CROSS JOIN h),
    buckets AS (
      SELECT vec_id, string_agg(b, '' ORDER BY hp_id) AS bucket
      FROM bits GROUP BY vec_id),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
    qb AS (SELECT q_id, bucket FROM buckets JOIN q ON buckets.vec_id = q.q_id),
    probes AS (
      SELECT q_id, bucket AS probe FROM qb
      UNION ALL
      SELECT q_id,
             substr(bucket, 1, p - 1)
             || (CASE substr(bucket, p, 1) WHEN '1' THEN '0' ELSE '1' END)
             || substr(bucket, p + 1)
      FROM qb CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS p)),
    cand AS (
      SELECT p.q_id, b.vec_id
      FROM probes p JOIN buckets b ON b.bucket = p.probe),
    scored AS (
      SELECT c.q_id, c.vec_id,
             round({_COS.format(a='e.v', b='q.qv')}, 4) AS cos_sim
      FROM cand c
      JOIN e ON e.vec_id = c.vec_id
      JOIN q ON q.q_id = c.q_id)
    SELECT q_id, vec_id, cos_sim, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
    WHERE rk <= 5
    """,
    tags=("similarity", "ann"),
)
def similarity_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (Lv 2007): each query probes its 8-bit
    sign bucket PLUS all 1-bit-flip neighbors — recall recovered on
    the query side for (nbits+1) bucket lookups instead of the
    classic fix of re-hashing/re-storing the corpus into more tables
    (operators/similarity.py::lsh_multiprobe_topk; candidates = probed
    buckets only, exact-cosine re-rank, WindowGroupLimit top-k)."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    base = load_table(spark, sf_dir, "embeddings")
    hyper = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("hp_id"), F.col("embedding").alias("hv")
    )
    probes = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return similarity.lsh_multiprobe_topk(e, probes, hyper, k=5)


@register(
    "similarity_ivf_assign",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             round({_COS.format(a='v', b='cv')}, 4) AS cos_sim
      FROM e CROSS JOIN c)
    SELECT vec_id, centroid_id, cos_sim
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id) = 1
    """,
    tags=("similarity",),
)
def similarity_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment: nearest of 10 centroids per vector
    (broadcast centroids → map-only argmax; the ANN partitioning step)."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    return similarity.ivf_assign(e, centroids)


@register(
    "similarity_ivf_search",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 10),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
    assigned AS (
      SELECT e.vec_id, c.centroid_id, e.v
      FROM e CROSS JOIN c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='v', b='cv')}, 4) DESC, centroid_id) = 1),
    probes AS (
      SELECT q.q_id, q.qv, c.centroid_id
      FROM q CROSS JOIN c
      QUALIFY row_number() OVER (
        PARTITION BY q.q_id
        ORDER BY round({_COS.format(a='qv', b='cv')}, 4) DESC, centroid_id) <= 2),
    cands AS (
      SELECT p.q_id, a.vec_id,
             round({_COS.format(a='p.qv', b='a.v')}, 4) AS cos_sim
      FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.q_id)
    SELECT q_id, vec_id, cos_sim
    FROM cands
    QUALIFY row_number() OVER (
      PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) <= 5
    """,
    tags=("similarity",),
)
def similarity_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN search: top-5 by cosine for each of 5 query
    vectors, probing the 2 nearest of 10 centroid cells — the complete
    scale path (assign → probe → cell-local scan → rank) on top of
    similarity_ivf_assign."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 10
    ).select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv"))
    queries = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 5
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    return similarity.ivf_search(e, centroids, queries, k=5, nprobe=2)


@register(
    "similarity_knn_label_probe",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    p AS (SELECT vec_id AS q_id, v AS qv, label AS true_label
          FROM e WHERE vec_id < 40),
    c AS (SELECT * FROM e WHERE vec_id >= 40),
    nb AS (
      SELECT p.q_id, p.true_label, c.label, c.vec_id,
             round({_COS.format(a='c.v', b='p.qv')}, 4) AS cos_sim
      FROM c CROSS JOIN p
      QUALIFY row_number() OVER (
        PARTITION BY p.q_id ORDER BY cos_sim DESC, c.vec_id) <= 5),
    votes AS (
      SELECT q_id, true_label, label, count(*) AS votes
      FROM nb GROUP BY 1, 2, 3),
    pred AS (
      SELECT q_id, true_label, label AS pred_label
      FROM votes
      QUALIFY row_number() OVER (
        PARTITION BY q_id ORDER BY votes DESC, label ASC) = 1)
    SELECT true_label,
           count(*) AS n_probes,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS accuracy
    FROM pred GROUP BY true_label ORDER BY true_label
    """,
    tags=("similarity", "eval"),
)
def similarity_knn_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label probe: embedding-quality eval — each held-out probe
    vector's label is predicted by majority vote of its 5 nearest
    labeled neighbors; per-class accuracy out. The standard cheap
    check that a representation's neighborhoods respect labels
    (operators/similarity.py::knn_label_vote)."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    probes = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 40
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    return similarity.knn_label_vote(
        e.filter(F.col("vec_id") >= 40), probes, k=5
    )


@register(
    "similarity_ivf_recall",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 10),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
    assigned AS (
      SELECT e.vec_id, c.centroid_id, e.v
      FROM e CROSS JOIN c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='v', b='cv')}, 4) DESC, centroid_id) = 1),
    probes AS (
      SELECT q.q_id, q.qv, c.centroid_id
      FROM q CROSS JOIN c
      QUALIFY row_number() OVER (
        PARTITION BY q.q_id
        ORDER BY round({_COS.format(a='qv', b='cv')}, 4) DESC, centroid_id) <= 2),
    ivf AS (
      SELECT p.q_id, a.vec_id,
             round({_COS.format(a='p.qv', b='a.v')}, 4) AS cos_sim
      FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.q_id
      QUALIFY row_number() OVER (
        PARTITION BY p.q_id ORDER BY cos_sim DESC, a.vec_id) <= 5),
    truth AS (
      SELECT q.q_id, e.vec_id
      FROM e CROSS JOIN q
      WHERE e.vec_id <> q.q_id
      QUALIFY row_number() OVER (
        PARTITION BY q.q_id
        ORDER BY round({_COS.format(a='e.v', b='q.qv')}, 4) DESC, e.vec_id) <= 5)
    SELECT t.q_id,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           round(CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS recall
    FROM truth t
    LEFT JOIN ivf i ON i.q_id = t.q_id AND i.vec_id = t.vec_id
    GROUP BY t.q_id ORDER BY t.q_id
    """,
    tags=("similarity", "eval"),
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the nprobe=2 IVF search vs the brute-force cosine
    ground truth, per query — the standard ANN quality metric that
    quantifies the documented recall<1 tradeoff
    (operators/similarity.py::ivf_recall)."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 10
    ).select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv"))
    queries = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 5
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    return similarity.ivf_recall(
        e, centroids, queries, k=5, nprobe=2, queries_in_corpus=True
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@register(
    "text_langid",
    _TOKS_CTE
    + """
    SELECT doc_id,
           round(CAST(len(list_filter(t,
             x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) / len(t), 4)
             AS marker_ratio,
           CASE WHEN round(CAST(len(list_filter(t,
             x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) / len(t), 4)
             >= 0.04 THEN 'en' ELSE 'other' END AS pred_lang
    FROM toks
    """,
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic per document."""
    d = load_table(spark, sf_dir, "documents")
    return text.langid_heuristic(d, "text", ["doc_id"])


@register(
    "text_quality",
    _TOKS_CTE
    + """
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
           round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
             AS distinct_ratio,
           round(CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum')
                      AS DOUBLE) / len(t), 4) AS avg_token_len,
           CASE WHEN len(t) >= 30
                 AND round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
                     >= 0.2
                THEN 'ok' ELSE 'low' END AS quality
    FROM toks
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, lexical diversity, avg token length."""
    d = load_table(spark, sf_dir, "documents")
    out = text.quality_flag(d, "text", ["doc_id"], min_tokens=30, min_distinct_ratio=0.2)
    return out.selectExpr(
        "doc_id",
        "cast(n_tokens as bigint) AS n_tokens",
        "cast(n_distinct_tokens as bigint) AS n_distinct_tokens",
        "distinct_ratio",
        "avg_token_len",
        "quality",
    )


@register(
    "text_token_stats",
    _TOKS_CTE
    + """
    SELECT source, count(*) AS n_docs,
           CAST(sum(len(t)) AS BIGINT) AS total_tokens,
           round(CAST(sum(len(t)) AS DOUBLE) / count(*), 4) AS avg_tokens
    FROM toks GROUP BY source
    """,
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source (budgeting/sampling input)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", dedup.tokens_expr("text").alias("t"))
    return toks.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("t").cast("bigint")).alias("total_tokens"),
        F.round(
            F.sum(F.size("t").cast("bigint")).cast("double") / F.count("*"), 4
        ).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


@register(
    "multimodal_binary_meta",
    """
    SELECT doc_id, 'text/plain' AS kind,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload + typed metadata struct (schema plumbing)."""
    d = load_table(spark, sf_dir, "documents")
    wrapped = multimodal.attach_binary_payload(d, "text", "doc_id")
    return wrapped.select(
        "doc_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@register(
    "multimodal_features",
    """
    WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents)
    SELECT doc_id,
           CAST(length(hx) / 2 AS INT) AS n_bytes,
           -- UTF-8 BYTE semantics (payload[0]/payload[-1] in the
           -- operator), not character codepoints: ascii(substr(..))
           -- diverges on any non-ASCII edge character; -1 on empty
           CAST(CASE WHEN hx = '' THEN -1
                ELSE ('0x' || substr(hx, 1, 2))::BIGINT END AS INT)
             AS first_byte,
           CAST(CASE WHEN hx = '' THEN -1
                ELSE ('0x' || substr(hx, -2, 2))::BIGINT END AS INT)
             AS last_byte
    FROM h
    """,
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads
    (mapInPandas; deterministic byte features stand in for decode)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    wrapped = multimodal.attach_binary_payload(d, "text", "doc_id")
    return multimodal.extract_features(wrapped, "doc_id")


@register(
    "text_langid_profile",
    """
    WITH profile(lang, token, weight) AS (VALUES
      ('en', 'the', 3.0), ('en', 'of', 2.0), ('en', 'and', 2.0),
      ('en', 'to', 1.5), ('en', 'in', 1.5), ('en', 'a', 1.0),
      ('de', 'der', 3.0), ('de', 'die', 3.0), ('de', 'und', 2.0),
      ('de', 'das', 2.0), ('de', 'ist', 1.5), ('de', 'nicht', 1.5),
      ('fr', 'le', 3.0), ('fr', 'la', 3.0), ('fr', 'et', 2.0),
      ('fr', 'les', 2.0), ('fr', 'des', 1.5), ('fr', 'est', 1.5)),
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS tok
      FROM documents),
    scored AS (
      -- VALUES literals bind as DECIMAL; the Spark side sums DOUBLE
      SELECT t.doc_id, p.lang, sum(CAST(p.weight AS DOUBLE)) AS s
      FROM toks t JOIN profile p ON t.tok = p.token
      GROUP BY 1, 2),
    best AS (
      SELECT doc_id, lang, s
      FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY s DESC, lang DESC) = 1)
    SELECT d.doc_id,
           coalesce(b.lang, 'und') AS pred_lang,
           coalesce(b.s, 0.0) AS score
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN best b ON b.doc_id = d.doc_id
    """,
    tags=("text",),
)
def text_langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via a broadcast (lang, token, weight) profile table
    with per-doc argmax — the data-driven production form of
    text_langid (profile is a table, retrainable without code
    changes)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    profile = spark.createDataFrame(
        list(text.DEFAULT_LANG_PROFILE), "lang string, token string, weight double"
    )
    return text.langid_profile(d, "text", "doc_id", profile)


@register(
    "similarity_kmeans_fit",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id, c.centroid_id, e.v
      FROM e CROSS JOIN c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='e.v', b='cv')}, 4) DESC,
                 centroid_id) = 1),
    el AS (
      SELECT centroid_id, generate_subscripts(v, 1) - 1 AS pos,
             unnest(v) AS x
      FROM assigned)
    SELECT centroid_id, CAST(pos AS INT) AS pos,
           round(CAST(sum(CAST(x AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 6) AS v
    FROM el GROUP BY 1, 2
    """,
    tags=("similarity", "ml"),
)
def similarity_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd refinement of FROZEN seeds (the 8
    smallest vec_ids) — the distributable unit of k-means training
    (operators/similarity.py::kmeans_step; kmeans_fit iterates it with
    driver-held centroids, property-pinned in pytest). Freezing the
    seeds makes the step pure scalar arithmetic — rounded-cosine
    argmax assignment + DECIMAL-sum means — so the SQL oracle replays
    it exactly, where the free-running fit's float fixpoint was
    rows-only for the driver (r1-r7). Vector rides the argmax struct:
    no corpus self-join, two uniform-key shuffles."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .filter((F.col("vec_id") < 8) & F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
        )
    )
    return similarity.kmeans_step(e, seeds)


@register(
    "similarity_kmeans_two_steps",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    c1 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    a1 AS (
      SELECT e.vec_id, c1.centroid_id, e.v
      FROM e CROSS JOIN c1
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='e.v', b='cv')}, 4) DESC,
                 centroid_id) = 1),
    el1 AS (
      SELECT centroid_id, generate_subscripts(v, 1) - 1 AS pos,
             unnest(v) AS x
      FROM a1),
    s1 AS (
      SELECT centroid_id, pos,
             round(CAST(sum(CAST(x AS DECIMAL(20,10))) AS DOUBLE)
                   / count(*), 6) AS v
      FROM el1 GROUP BY 1, 2),
    c2 AS (
      SELECT centroid_id, list(v ORDER BY pos) AS cv
      FROM s1 GROUP BY 1),
    a2 AS (
      SELECT e.vec_id, c2.centroid_id, e.v
      FROM e CROSS JOIN c2
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='e.v', b='c2.cv')}, 4) DESC,
                 centroid_id) = 1),
    el2 AS (
      SELECT centroid_id, generate_subscripts(v, 1) - 1 AS pos,
             unnest(v) AS x
      FROM a2)
    SELECT centroid_id, CAST(pos AS INT) AS pos,
           round(CAST(sum(CAST(x AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 6) AS v
    FROM el2 GROUP BY 1, 2
    """,
    tags=("similarity", "ml"),
)
def similarity_kmeans_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained Lloyd refinements from the frozen seeds — proving
    the driver-loop COMPOSITION the one-step similarity_kmeans_fit
    can't (kmeans_fit is exactly this chaining iterated): step 1's
    rounded long-form centroids are reassembled into arrays
    (array_sort(collect_list(struct(pos, v)))) and fed back as step
    2's broadcast centroids, exactly how kmeans_fit's driver loop
    round-trips them. The round(·,6) BETWEEN steps is what makes the
    chain engine-replayable — both engines re-assign against
    identically-quantized centroids, so the float fixpoint problem
    that kept free-running fits rows-only for 7 rounds never arises.
    Step-2 cells can be empty (standard Lloyd's keeps the previous
    centroid; iterating callers handle that — here absent rows ARE the
    contract, matching the SQL)."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .filter((F.col("vec_id") < 8) & F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
        )
    )
    s1 = similarity.kmeans_step(e, seeds)
    c2 = (
        s1.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pm"))
        .select(
            "centroid_id", F.expr("transform(pm, p -> p.v)").alias("cv")
        )
    )
    return similarity.kmeans_step(e, c2)


@register(
    "text_chunk_udtf",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_id,
           array_to_string(t[i*40+1 : i*40+50], ' ') AS chunk,
           CAST(len(t[i*40+1 : i*40+50]) AS INT) AS n_chunk_tokens
    FROM toks,
         LATERAL (SELECT unnest(range(0,
             1 + CAST(floor(CAST(greatest(len(t) - 1, 0) AS DOUBLE) / 40)
                      AS BIGINT))) AS i)
    WHERE i * 40 < len(t)
    """,
    tags=("udtf", "text", "llm"),
)
def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking (window 50, stride 40) via a Python
    UDTF in a SQL LATERAL join — the one-row-to-many extension surface
    (SURVEY.md §2.10 D1) exposed to SQL. The oracle reproduces the
    chunking with DuckDB list slicing."""
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_chunk")
    return spark.sql(
        "SELECT c.* FROM __docs_chunk d, "
        "LATERAL chunk_text(d.doc_id, d.text) c"
    )


def _hash_bucket(col, buckets: int = 100):
    """Deterministic [0, buckets) bucket from md5 — reproducible across
    engines and runs, unlike rand()/TABLESAMPLE (the only acceptable
    sampling basis for a training pipeline that must be re-runnable).
    DuckDB twin: ('0x' || substr(md5(x), 1, 15))::BIGINT % buckets."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    return h % buckets


@register(
    "sample_hash_stratified",
    """
    SELECT event_type, count(*) AS n_sampled,
           sum(CAST(value AS DECIMAL(18,2))) AS value_sampled
    FROM (
        SELECT event_type, value,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 AS bucket
        FROM events)
    WHERE (event_type = 'purchase')
       OR (event_type = 'click' AND bucket < 10)
       OR (event_type = 'view' AND bucket < 1)
    GROUP BY 1
    """,
    tags=("sampling", "llm"),
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling at per-class rates (purchases 100%,
    clicks 10%, views 1%) on a content hash — the class-rebalancing
    step of a curation pipeline, exactly reproducible in any engine.
    Scale: a map-only filter (no shuffle until the audit aggregate);
    at 100 TB the same expression drops rows at scan speed without
    any global coordination, unlike reservoir/exact-quota sampling."""
    from .tables import load_events

    ev = load_events(spark, sf_dir)
    b = _hash_bucket(F.col("event_id"))
    keep = (
        (F.col("event_type") == "purchase")
        | ((F.col("event_type") == "click") & (b < 10))
        | ((F.col("event_type") == "view") & (b < 1))
    )
    return (
        ev.filter(keep)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sampled"),
        )
    )


@register(
    "split_train_val_test",
    """
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM (
        SELECT n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 10 AS bucket
        FROM documents)
    GROUP BY 1
    """,
    tags=("sampling", "llm"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split on a doc-id hash: membership is a
    pure function of the id, so the split is stable under re-runs,
    engine changes, and data appends (new docs land in a split without
    moving old ones) — properties a rand() split lacks. Map-only."""
    d = load_table(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"), 10)
    split = (
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
    )


@register(
    "dedup_edit_distance_blocked",
    """
    WITH docs AS (
        SELECT doc_id, lang, text, n_chars // 50 AS blk
        FROM documents
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
           round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                     / greatest(len(a.text), len(b.text)), 4) AS edit_sim
    FROM docs a
    JOIN docs b ON a.lang = b.lang AND a.blk = b.blk
               AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) < 50
    """,
    tags=("dedup", "llm"),
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification under blocking: candidate
    pairs come from cheap equi-join blocks (language × length bucket),
    and only those pairs pay the O(len²) levenshtein — the
    block-then-verify pattern that keeps exact edit distance viable
    (all-pairs would be |docs|² DP computations). Like LSH banding,
    the block is a recall/cost tradeoff — pairs straddling a bucket
    boundary are missed; overlapping buckets (join on blk AND blk±1)
    recover them at 2× candidate cost. Both engines implement classic
    Levenshtein, so the values match exactly."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", (F.col("n_chars") / 50).cast("long").alias("blk")
    )
    a = d.select(*[F.col(c).alias(f"a_{c}") for c in d.columns])
    b = d.select(*[F.col(c).alias(f"b_{c}") for c in d.columns])
    dist = F.levenshtein("a_text", "b_text")
    return (
        a.join(
            b,
            (F.col("a_lang") == F.col("b_lang"))
            & (F.col("a_blk") == F.col("b_blk"))
            & (F.col("a_doc_id") < F.col("b_doc_id")),
        )
        .select(
            F.col("a_doc_id").alias("d1"),
            F.col("b_doc_id").alias("d2"),
            dist.cast("bigint").alias("dist"),
            F.round(
                F.lit(1.0)
                - dist.cast("double")
                / F.greatest(F.length("a_text"), F.length("b_text")),
                4,
            ).alias("edit_sim"),
        )
        .filter(F.col("dist") < 50)
    )


@register(
    "text_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 4) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
    SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored)
    WHERE rk <= 3
    """,
    tags=("text", "llm"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the IR scoring primitive for
    corpus curation (distinctive-term extraction, topic drift checks).
    Shape: one explode → (doc, term) counts; document frequency is a
    second tiny aggregate joined back BROADCAST (|terms| ≪ |rows|);
    the per-doc top-k is a ranking window with WindowGroupLimit
    pushdown. Ranking orders by the ROUNDED score so a last-ulp ln()
    difference between engines cannot flip ranks (term tiebreak)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = d.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    # corpus size as a broadcast 1-row aggregate INSIDE the plan — a
    # driver-side d.count() here would be a second full scan per run;
    # this column-pruned count comes from parquet footer stats and the
    # cross-join broadcasts one row.
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    score = F.round(
        F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 4
    )
    # df_ has one row per DISTINCT CORPUS TERM — vocabulary-
    # proportional (hundreds of millions of rows on a web corpus), so
    # no broadcast hint: a plain shuffle join on the uniform `term`
    # key scales; the 1-row corpus count is the only broadcast
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("tfidf"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


@register(
    "contamination_test_train",
    _SHINGLE_CTE
    + """,
    split AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 10 AS bucket
      FROM documents)
    SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc,
           count(*) AS n_shared_shingles
    FROM sh te
    JOIN split ste ON te.doc_id = ste.doc_id AND ste.bucket = 9
    JOIN sh tr ON te.shingle = tr.shingle
    JOIN split str ON tr.doc_id = str.doc_id AND str.bucket < 8
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
    tags=("dedup", "llm", "sampling"),
)
def contamination_test_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination detection: test-split documents that
    share ≥3 distinct trigram shingles with any train-split document —
    the leakage check every eval pipeline needs, composed from this
    repo's own primitives (hash split × shingle inverted index). The
    shingle join is the same sub-quadratic index as the Jaccard
    operator. Split membership is ``md5(doc_id) % 10`` — a pure
    function of a column the shingle frame already carries — so it is
    computed MAP-SIDE on ``sh.doc_id`` directly: zero membership
    joins, zero broadcasts of corpus-proportional id sets (train is
    80% of the corpus by construction)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 10
    )
    tagged = sh.select("doc_id", "shingle", bucket.alias("bucket"))
    te = tagged.filter(F.col("bucket") == 9).select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    tr = tagged.filter(F.col("bucket") < 8).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        te.join(tr, "shingle")
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= 3)
    )


@register(
    "similarity_pq_search",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE embedding IS NOT NULL),
    books AS (
      SELECT s.s AS subspace, vec_id AS centroid_id,
             v.e[s.s*16+1 : s.s*16+16] AS cv
      FROM v CROSS JOIN (SELECT unnest(range(4)) AS s) s
      WHERE vec_id < 16),
    codes AS (
      SELECT vec_id, subspace, centroid_id AS code
      FROM (
        SELECT v.vec_id, b.subspace, b.centroid_id,
               round(list_sum(list_transform(range(1, 17),
                 i -> (v.e[b.subspace*16 + i] - b.cv[i])
                    * (v.e[b.subspace*16 + i] - b.cv[i]))), 6) AS d2
        FROM v CROSS JOIN books b)
      QUALIFY row_number() OVER (
        PARTITION BY vec_id, subspace ORDER BY d2, centroid_id) = 1),
    q AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 3),
    lut AS (
      SELECT q.q_id, b.subspace, b.centroid_id AS code,
             round(list_sum(list_transform(range(1, 17),
               i -> (q.qv[b.subspace*16 + i] - b.cv[i])
                  * (q.qv[b.subspace*16 + i] - b.cv[i]))), 6) AS partial
      FROM q CROSS JOIN books b),
    scored AS (
      SELECT l.q_id, c.vec_id, round(sum(l.partial), 6) AS adc_dist
      FROM codes c JOIN lut l ON c.subspace = l.subspace AND c.code = l.code
      GROUP BY 1, 2)
    SELECT q_id, vec_id, adc_dist,
           CAST(row_number() OVER (
             PARTITION BY q_id ORDER BY adc_dist, vec_id) AS INT) AS rk
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY q_id ORDER BY adc_dist, vec_id) <= 5
    """,
    tags=("similarity", "ml"),
)
def similarity_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with a FROZEN codebook: per-subspace
    centroids are the sliced vectors of the 16 smallest vec_ids (m=4
    subspaces × 16 dims), so encode (rounded-L2 argmin, id tiebreak)
    and ADC search (broadcast LUT join + partial-sum top-5) are pure
    deterministic arithmetic the SQL oracle replays — the IVF family's
    frozen-seed pattern applied to PQ, which keeps the query in the
    strict oracle gate. Plan: the codes table joins a broadcast LUT
    map-side; raw vectors never move at search time."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id").filter(
        F.col("embedding").isNotNull()
    )
    base = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    dims, m = 64, 4
    sub = dims // m
    seeds = base.filter(F.col("vec_id") < 16)
    books = None
    for s in range(m):
        part = seeds.select(
            F.lit(s).cast("long").alias("subspace"),
            F.col("vec_id").alias("centroid_id"),
            F.slice(
                F.col("embedding").cast("array<double>"), s * sub + 1, sub
            ).alias("cv"),
        )
        books = part if books is None else books.unionByName(part)
    codes = similarity.pq_encode(e, books, m=m, dims=dims)
    queries = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return similarity.pq_search(codes, books, queries, m=m, dims=dims, k=5)


@register(
    "curation_pipeline_summary",
    _TOKS_CTE
    + """,
    scored AS (
      SELECT doc_id, lang, len(t) AS n_tokens,
             CASE WHEN len(t) >= 30
                   AND round(CAST(len(list_distinct(t)) AS DOUBLE)
                             / len(t), 4) >= 0.2
                  THEN 'ok' ELSE 'low' END AS quality
      FROM toks),
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    split AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       ::BIGINT % 10 < 8 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       ::BIGINT % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT s.lang, sp.split,
           count(*) AS n_docs,
           CAST(sum(CAST(s.n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
    FROM scored s
    JOIN keepers k ON s.doc_id = k.doc_id
    JOIN split sp ON s.doc_id = sp.doc_id
    WHERE s.quality = 'ok'
    GROUP BY 1, 2
    """,
    tags=("llm", "pipeline"),
)
def curation_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline in one plan — what this engine
    exists for: quality-score → drop low-quality → keep one copy per
    exact-duplicate cluster → assign hash splits → token budget per
    (lang, split). Composed entirely from the repo's own operators
    (text.quality_flag, dedup.exact_dedup keepers, the md5 split), so
    the composition itself is oracle-checked, not just the pieces.
    Scale: quality is map-only; the keeper set and split are one
    aggregate + one map; everything joins on doc_id (the keeper set
    is corpus-proportional, so its semi-join carries no broadcast
    hint — the planner shuffles on the uniform doc_id key)."""
    d = load_table(spark, sf_dir, "documents")
    scored = text.quality_flag(
        d, "text", ["doc_id", "lang"], min_tokens=30, min_distinct_ratio=0.2
    ).select("doc_id", "lang", "n_tokens", "quality")
    keepers = dedup.exact_dedup(d, "text", "doc_id").select(
        F.col("keeper").alias("doc_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 10
    )
    split = F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    return (
        scored.filter(F.col("quality") == "ok")
        # keepers ≈ the whole corpus (exact-dedup survivors) — plain
        # semi join on doc_id; no forced broadcast of a
        # corpus-proportional frame
        .join(keepers, "doc_id", "left_semi")
        .groupBy("lang", split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
        )
    )


@register(
    "lm_bigram_surprisal",
    r"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(regexp_split_to_array(lower(text), '\s+'), 1)
               AS ord,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      FROM documents),
    bg AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bigram
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
      WHERE a.tok <> '' AND b.tok <> ''),
    freq AS (
      SELECT bigram, count(*) AS n_bg,
             sum(count(*)) OVER () AS n_total
      FROM bg GROUP BY bigram)
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           round(avg(-log2(CAST(f.n_bg AS DOUBLE) / f.n_total)), 4)
             AS avg_surprisal
    FROM bg JOIN freq f USING (bigram)
    GROUP BY bg.doc_id
    """,
    tags=("text", "quality"),
)
def lm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality score: each document's mean
    bigram surprisal −log₂ p(bigram) under the corpus's own bigram
    distribution — boilerplate-heavy docs score low, out-of-domain /
    noisy docs score high (the classic perplexity-filter signal for
    training-data curation, computed without any external model).

    Scale shape: bigrams are built IN the token array (transform +
    slice — no positional self-join of an exploded token table, which
    would shuffle |tokens| rows twice); the corpus distribution is a
    bigram-keyed aggregate joined back in one pass. The oracle builds
    the same bigrams via an ordinal self-join — same multiset, join
    formulation is fine at oracle scale.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
        ).alias("t"),
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 1), "
                "(x, i) -> concat(x, ' ', element_at(t, i + 2)))"
            )
        ).alias("bigram"),
    )
    counts = bg.groupBy("bigram").agg(F.count("*").alias("n_bg"))
    # corpus total as a broadcast 1-row scalar — NOT a global window,
    # which would collapse every distinct bigram into one partition
    total = counts.agg(F.sum("n_bg").alias("n_total"))
    freq = counts.join(F.broadcast(total))
    scored = bg.join(freq, "bigram")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.avg(-F.log2(F.col("n_bg").cast("double") / F.col("n_total"))), 4
        ).alias("avg_surprisal"),
    )


@register(
    "text_redact_pii",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact user' || doc_id
                       || '@example.com or +1-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS t
      FROM documents),
    redacted AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g'),
               '\+?\d[\d-]{7,}\d', '<PHONE>', 'g') AS t_clean,
             t
      FROM seeded)
    SELECT CAST(doc_id % 5 = 0 AS BOOLEAN) AS was_seeded,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN t_clean LIKE '%<EMAIL>%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_email_redactions,
           CAST(sum(CASE WHEN t_clean LIKE '%<PHONE>%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_phone_redactions,
           CAST(sum(length(t) - length(t_clean)) AS BIGINT) AS chars_removed
    FROM redacted GROUP BY 1
    """,
    tags=("text", "curation"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/phone patterns replaced with typed
    placeholder tokens — the redaction pass every training-data
    pipeline runs before tokenization. PII is seeded deterministically
    (every 5th doc) so both engines scrub identical text; the output
    verifies redaction count and payload shrinkage per seeded class.

    Scale: pure map-side regexp_replace chain inside codegen — no
    shuffle until the audit aggregate; at 100 TB this runs at scan
    speed and the aggregate is 2 rows.
    """
    d = load_table(spark, sf_dir, "documents")
    seeded = d.withColumn(
        "t",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    redacted = seeded.withColumn(
        "t_clean",
        F.regexp_replace(
            F.regexp_replace(
                F.col("t"),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                "<EMAIL>",
            ),
            r"\+?\d[\d-]{7,}\d",
            "<PHONE>",
        ),
    )
    return redacted.groupBy(
        (F.col("doc_id") % 5 == 0).alias("was_seeded")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("t_clean").contains("<EMAIL>"), 1).otherwise(0)
        ).alias("n_email_redactions"),
        F.sum(
            F.when(F.col("t_clean").contains("<PHONE>"), 1).otherwise(0)
        ).alias("n_phone_redactions"),
        F.sum(F.length("t") - F.length("t_clean")).alias("chars_removed"),
    )


# --------------------------------------------------------------------------
# Training-sequence assembly
# --------------------------------------------------------------------------


@register(
    "pack_sequences_greedy",
    _TOKS_CTE
    + """,
sized AS (
  SELECT doc_id, doc_id % 16 AS shard, CAST(len(t) AS BIGINT) AS n_tokens
  FROM toks),
packed AS (
  SELECT shard, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
           AS offset_tokens
  FROM sized)
SELECT shard,
       CAST(coalesce(offset_tokens, 0) // 512 AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc
FROM packed
GROUP BY 1, 2
    """,
    tags=("text", "llm", "packing"),
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): documents are
    concatenated in doc_id order and cut into fixed 512-token context
    windows; each doc lands in the sequence its token offset falls in.

    The global-concatenation order is the scale trap — a single
    ORDER BY doc_id window serializes the corpus through one
    partition. Sharding first (doc_id % 16) makes packing
    embarrassingly parallel: each shard packs independently (the
    standard practice — packing quality needs *local* density, not a
    global order), and the window shuffles on the shard key.
    Output: one row per (shard, sequence) with fill stats."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sized = d.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("shard"),
        F.size(F.expr("filter(split(text, ' '), x -> x != '')"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "offset_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return packed.groupBy(
        "shard", (F.col("offset_tokens") / F.lit(512)).cast("bigint").alias("seq_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "text_gopher_quality_rules",
    _TOKS_CTE
    + """,
m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         round(CAST(n_chars AS DOUBLE) / len(t), 4) AS mean_word_len,
         round(CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to')))
               AS DOUBLE) / len(t), 4) AS stopword_frac
  FROM toks WHERE len(t) > 0)
SELECT doc_id, n_words, mean_word_len, stopword_frac,
       (n_words BETWEEN 10 AND 100000) AS ok_length,
       (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_word_len,
       (stopword_frac >= 0.01) AS ok_stopwords,
       ((n_words BETWEEN 10 AND 100000)
        AND (mean_word_len BETWEEN 3.0 AND 10.0)
        AND (stopword_frac >= 0.01)) AS keep
FROM m
    """,
    tags=("text", "llm", "quality"),
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules — the standard pretraining
    filter set (Rae 2021 §A1.1): word-count bounds, mean-word-length
    bounds, and a stopword-presence floor, each exposed as a flag plus
    the conjunctive keep decision. Pure map-side codegen — one scan,
    zero shuffles; at 100 TB this is the cheapest filter stage and
    runs first in the curation pipeline.

    mean_word_len uses n_chars/n_words (chars incl. separators ≈ the
    reference metric up to the +1/word space constant — fine for a
    band check; both engines compute the identical expression)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr("filter(split(text, ' '), x -> x != '')")
    sized = d.select(
        "doc_id",
        "n_chars",
        toks.alias("t"),
    ).filter(F.size("t") > 0)
    stop = F.expr(
        "size(filter(t, x -> x IN ('the','a','of','and','to')))"
    )
    m = sized.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_words"),
        F.round(F.col("n_chars") / F.size("t"), 4).alias("mean_word_len"),
        F.round(stop.cast("double") / F.size("t"), 4).alias("stopword_frac"),
    )
    ok_length = F.col("n_words").between(10, 100000)
    ok_word_len = F.col("mean_word_len").between(3.0, 10.0)
    ok_stop = F.col("stopword_frac") >= 0.01
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stopword_frac",
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        (ok_length & ok_word_len & ok_stop).alias("keep"),
    )


# --------------------------------------------------------------------------
# Cluster keeper selection, domain mixing, and importance weighting —
# the selection layer that sits on top of dedup/quality in a curation
# pipeline (which doc survives, which domain is over/under-sampled,
# which doc matches the target distribution).
# --------------------------------------------------------------------------


@register(
    "dedup_keep_best_per_cluster",
    _SHINGLE_CTE
    + _MINHASH_BANDS_CTE
    + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
  SELECT * FROM r),
comp AS (SELECT a AS node, least(a, min(b)) AS component
         FROM reach GROUP BY a),
q AS (
  SELECT doc_id,
         round(len(list_distinct(t)) * 1.0 / len(t), 4) AS ttr
  FROM toks WHERE len(t) > 0),
ranked AS (
  SELECT c.component, c.node, q.ttr,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.ttr DESC, c.node ASC) AS rn
  FROM comp c JOIN q ON q.doc_id = c.node)
SELECT component,
       max(CASE WHEN rn = 1 THEN node END) AS keeper,
       max(CASE WHEN rn = 1 THEN ttr END) AS keeper_ttr,
       CAST(count(*) AS BIGINT) AS n_members
FROM ranked GROUP BY component
    """,
    tags=("dedup", "llm", "iterative"),
)
def dedup_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection over near-dup clusters: LSH pairs → connected
    components → keep the HIGHEST-QUALITY member per cluster (not the
    arbitrary min-id), quality = type-token ratio, doc_id tiebreak.

    This is the decision step real pipelines get wrong by keeping
    "first seen": near-dup clusters mix clean and boilerplate-mangled
    copies, and keeping the best-scoring one measurably improves the
    corpus. Plan: the argmax is a max-of-struct aggregate over the
    (small) component assignment joined to per-doc quality — partial
    aggregation reduces each component before the exchange; no window
    over the full corpus. Oracle recomputes components by recursive
    transitive closure + a ranking window.
    """
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sh = dedup.shingles(d, "text", "doc_id", n=3, distinct=False)
    pairs = dedup.minhash_lsh_candidates(sh, "doc_id", num_hashes=12, bands=4)
    comps = dedup.connected_components(pairs)
    t = F.expr("filter(split(text, ' '), x -> x != '')")
    q = d.select(
        "doc_id",
        t.alias("t"),
    ).filter(F.size("t") > 0).select(
        "doc_id",
        F.round(
            F.size(F.array_distinct("t")) * F.lit(1.0) / F.size("t"), 4
        ).alias("ttr"),
    )
    j = comps.join(q, comps["node"] == q["doc_id"]).select(
        "component", "node", "ttr"
    )
    best = F.max(
        F.struct(
            F.col("ttr"),
            (-F.col("node")).alias("neg_node"),
            F.col("node"),
        )
    )
    return j.groupBy("component").agg(
        best.getField("node").alias("keeper"),
        best.getField("ttr").alias("keeper_ttr"),
        F.count("*").alias("n_members"),
    )


@register(
    "sample_temperature_sources",
    """
    WITH h AS (
      SELECT source, doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 AS hv
      FROM documents),
    cnt AS (SELECT source, count(*) AS n_s FROM h GROUP BY source),
    w AS (SELECT source, n_s,
                 CAST(floor(sqrt(n_s * 1000000.0)) AS BIGINT) AS w_s
          FROM cnt),
    tot AS (SELECT sum(w_s) AS s_tot, sum(n_s) AS n_tot FROM w),
    quota AS (SELECT source, n_s,
                     least(n_s, w_s * (n_tot // 2) // s_tot) AS quota
              FROM w, tot),
    ranked AS (
      SELECT h.*, row_number() OVER (PARTITION BY source
                                     ORDER BY hv, doc_id) AS rn
      FROM h)
    SELECT r.source, q.n_s AS n_total, CAST(q.quota AS BIGINT) AS quota,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(r.n_chars) AS BIGINT) AS kept_chars
    FROM ranked r JOIN quota q ON q.source = r.source
    WHERE r.rn <= q.quota
    GROUP BY 1, 2, 3
    """,
    tags=("sampling", "llm"),
)
def sample_temperature_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (α = 0.5): sample each source
    at a rate ∝ n_s^α so small domains are up-weighted relative to
    their share (the multilingual/domain-balance trick from
    GPT-3/PaLM-style data recipes), targeting half the corpus overall.

    Everything is INTEGER arithmetic end-to-end (isqrt-scaled weights,
    integer-division quotas, per-source bottom-k on an md5 hash), so
    membership is exactly reproducible in any engine — no float
    cutoff whose last ulp could flip a doc. ``kept_chars`` pins the
    exact membership set, not just the counts.

    Scale notes: quotas come from a tiny per-source aggregate
    (broadcast back); selection is bottom-k per source — the window
    sorts within source partitions only. At extreme per-source
    cardinality swap the rank for a two-pass hash threshold (approx
    quantile of hv → filter → exact trim), which needs no full sort;
    w_s·(N/2) stays within BIGINT below ~10¹⁰ docs per source.
    """
    d = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    h = d.select("source", "doc_id", "n_chars", hv.alias("hv"))
    cnt = h.groupBy("source").agg(F.count("*").alias("n_s"))
    w = cnt.select(
        "source",
        "n_s",
        F.floor(F.sqrt(F.col("n_s") * 1000000.0)).cast("bigint").alias("w_s"),
    )
    tot = w.agg(
        F.sum("w_s").alias("s_tot"), F.sum("n_s").alias("n_tot")
    )
    quota = w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_s").alias("n_total"),
        F.least(
            F.col("n_s"), F.expr("(w_s * (n_tot div 2)) div s_tot")
        ).alias("quota"),
    )
    rn = F.row_number().over(W.partitionBy("source").orderBy("hv", "doc_id"))
    kept = (
        h.withColumn("rn", rn)
        .join(F.broadcast(quota), "source")
        .filter(F.col("rn") <= F.col("quota"))
    )
    return kept.groupBy("source", "n_total", "quota").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


@register(
    "dsir_importance_weights",
    """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    bg AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(t) >= 2 THEN
                 list_transform(generate_series(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1])
               ELSE [] END) AS b
      FROM toks),
    hb AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(b), 1, 15))::BIGINT % 64 AS bkt
      FROM bg),
    dc AS (SELECT doc_id, source, bkt, count(*) AS c
           FROM hb GROUP BY 1, 2, 3),
    bcnt AS (SELECT bkt, sum(c) AS bc FROM dc GROUP BY bkt),
    tcnt AS (SELECT bkt, sum(c) AS tc FROM dc
             WHERE source = 'src0' GROUP BY bkt),
    tots AS (
      SELECT (SELECT sum(c) FROM dc WHERE source = 'src0') AS t_tot,
             (SELECT sum(c) FROM dc) AS b_tot),
    lw AS (
      SELECT b.bkt,
             ln(((coalesce(t.tc, 0) + 1.0) * (tots.b_tot + 64.0))
                / ((b.bc + 1.0) * (tots.t_tot + 64.0))) AS w
      FROM bcnt b LEFT JOIN tcnt t USING (bkt), tots)
    SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_bigrams,
           round(sum(d.c * lw.w), 4) AS dsir_weight
    FROM dc d JOIN lw USING (bkt)
    GROUP BY d.doc_id
    """,
    tags=("sampling", "llm"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): score every doc
    by how target-like its hashed-bigram profile is — log-likelihood
    ratio between the target distribution (source 'src0') and the full
    corpus over 64 md5-hashed bigram buckets, +1 smoothing.

    The data-selection step between quality filtering and sampling:
    rank raw docs by dsir_weight and keep the top mass to skew a crawl
    toward a curated target. Hashing n-grams into a fixed bucket space
    is what makes it corpus-scale: the model is a 64-number table, not
    a vocabulary.

    Plan: ONE explode+groupBy over (doc, bucket) — the only heavy
    shuffle; bucket totals, target totals, and the 64-row weight table
    all derive from that small aggregate and broadcast back. The
    per-doc score sums ≤64 weighted terms; round(4) absorbs float
    summation order across engines.
    """
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    t = F.expr("filter(split(text, ' '), x -> x != '')")
    bigrams = d.select("doc_id", "source", t.alias("t")).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN"
                " transform(sequence(0, size(t) - 2),"
                "           i -> concat(t[i], ' ', t[i+1]))"
                " ELSE array() END"
            )
        ).alias("b"),
    )
    bkt = (
        F.conv(F.substring(F.md5("b"), 1, 15), 16, 10).cast("bigint") % 64
    ).alias("bkt")
    dc = (
        bigrams.select("doc_id", "source", bkt)
        .groupBy("doc_id", "source", "bkt")
        .agg(F.count("*").alias("c"))
    )
    bcnt = dc.groupBy("bkt").agg(F.sum("c").alias("bc"))
    tcnt = (
        dc.filter(F.col("source") == "src0")
        .groupBy("bkt")
        .agg(F.sum("c").alias("tc"))
    )
    tots = dc.agg(
        F.sum(F.when(F.col("source") == "src0", F.col("c"))).alias("t_tot"),
        F.sum("c").alias("b_tot"),
    )
    lw = (
        bcnt.join(tcnt, "bkt", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bkt",
            F.log(
                ((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
                 * (F.col("b_tot") + F.lit(64.0)))
                / ((F.col("bc") + F.lit(1.0))
                   * (F.col("t_tot") + F.lit(64.0)))
            ).alias("w"),
        )
    )
    return (
        dc.join(F.broadcast(lw), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * F.col("w")), 4).alias("dsir_weight"),
        )
    )


@register(
    "dedup_semantic_clusters",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id, c.centroid_id, e.v
      FROM e CROSS JOIN c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='e.v', b='cv')}, 4) DESC,
                 centroid_id) = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE round({_COS.format(a='a.v', b='b.v')}, 4) >= 0.9)
    SELECT a.centroid_id, count(*) AS n_vectors,
           CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    GROUP BY 1
    """,
    tags=("dedup", "llm"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup summary against FROZEN cluster centers (the 8 smallest
    vec_ids): assign each vector to its nearest center, drop the
    higher-id member of every within-cluster pair with cosine ≥ 0.9 →
    one row per cluster (n_vectors, n_dropped). The cluster blocking
    turns all-pairs dedup into Σ(cluster²) work — the IVF idea applied
    to dedup (operators/similarity.py::semantic_dedup, centroids=
    provided). Freezing the centers — exactly how a production
    pipeline dedups against a PERSISTED codebook — makes assignment +
    pair dedup pure rounded arithmetic, so the query is
    oracle-value-hashed since r8; the iterative farthest-point-seeded
    fit variant stays quality-pinned in tests/test_operators.py."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").filter(
        F.col("embedding").isNotNull()
    )
    seeds = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") < 8) & F.col("embedding").isNotNull()
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )
    marked = similarity.semantic_dedup(
        emb, threshold=0.9, centroids=seeds
    )
    return (
        marked.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


_BM25_TERMS = ("vector", "stream", "merge")
_BM25_TOKS = "list_filter(string_split(coalesce(text, '') , ' '), x -> x <> '')"
_BM25_ORACLE = f"""
    WITH sized AS (
      SELECT doc_id,
             len({_BM25_TOKS}) AS dl,
             {', '.join(
                 f"len(list_filter({_BM25_TOKS}, x -> x = '{t}')) AS tf{i}"
                 for i, t in enumerate(_BM25_TERMS))}
      FROM documents),
    stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             {', '.join(
                 f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
                 for i in range(len(_BM25_TERMS)))}
      FROM sized),
    scored AS (
      SELECT doc_id,
             round({' + '.join(
                 f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
                 f" * (tf{i} * (1.2 + 1.0))"
                 f" / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
                 for i in range(len(_BM25_TERMS)))}, 4) AS score
      FROM sized CROSS JOIN stats)
    SELECT doc_id, score, CAST(rk AS INT) AS rk FROM (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM scored WHERE score > 0)
    WHERE rk <= 15
    """


@register(
    "text_bm25_topk",
    _BM25_ORACLE,
    tags=("text", "llm", "retrieval"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 for a fixed 3-term query — ad-hoc corpus
    retrieval and the scoring half of benchmark-contamination probes
    (operators/text.py::bm25_topk has the plan-shape discussion: one
    map-only scan, two 1-row broadcast aggregates, TakeOrdered — no
    per-term shuffle, unlike the tfidf inverted-index sibling).
    Ranking orders by the ROUNDED score with doc_id tiebreak so
    cross-engine ln()/division last-ulp noise cannot flip ranks."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return text.bm25_topk(
        d, "text", "doc_id", list(_BM25_TERMS), k=15, k1=1.2, b=0.75
    )


_PR_PAIRS = """
      SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS a,
             'k:' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                          % 100 AS VARCHAR) AS b
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
"""


def _pr_iter_sql(i: int) -> str:
    return f"""
    c{i} AS (
      SELECT e.dst AS node, sum(r.pr / o.odeg) AS contrib
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN odeg o ON e.src = o.src
      GROUP BY 1),
    r{i} AS (
      SELECT nodes.node,
             round((1.0 - 0.85)
                   + 0.85 * coalesce(c{i}.contrib, 0.0), 9) AS pr
      FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node)"""


_PR_ORACLE = f"""
    WITH pairs AS ({_PR_PAIRS}),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs),
    odeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 AS pr FROM nodes),
    {','.join(_pr_iter_sql(i) for i in (1, 2, 3))}
    SELECT node, r3.pr / nn.n AS pr FROM r3 CROSS JOIN nn
    """


@register(
    "graph_pagerank",
    _PR_ORACLE,
    tags=("graph", "llm", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power-method rounds, d=0.85) over the symmetrized
    user↔property bipartite graph derived from events — the
    crawl-prioritization / source-reputation primitive
    (operators/graph.py has the per-round exchange-reuse and
    per-iteration-rounding determinism story; the oracle is the same
    computation unrolled as three CTE steps). Symmetrizing removes
    dangling nodes so no leaked-mass term is needed in either
    engine."""
    from ..operators import graph
    from .tables import load_events

    ev = load_events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint") % 100
    pairs = (
        ev.select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("a"),
            F.concat(F.lit("k:"), k.cast("string")).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .distinct()
    )
    edges = pairs.union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return graph.pagerank(edges, "a", "b", iterations=3).select(
        "node", F.col("rank").alias("pr")
    )


@register(
    "sample_weighted_priority",
    """
    WITH scored AS (
      SELECT doc_id, n_chars,
             round(ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                           15))::BIGINT + 0.5)
                          / 1152921504606846976.0))
                   - ln(CAST(n_chars AS DOUBLE)), 8) AS priority
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, n_chars, priority, CAST(rk AS INT) AS rk FROM (
      SELECT doc_id, n_chars, priority,
             row_number() OVER (ORDER BY priority ASC, doc_id) AS rk
      FROM scored)
    WHERE rk <= 25
    """,
    tags=("sampling", "llm"),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement
    (probability ∝ n_chars): the deterministic one-pass replacement
    for sequential reservoir/quota samplers — map-only md5-derived
    LOG-DOMAIN priority keys (scale-invariant rounding; see
    operators/samplers.py for why the naive ln(u)/w key collapses at
    realistic weight magnitudes) + TakeOrderedAndProject, no corpus
    shuffle. The length weight is the curation shape: prefer long
    documents without hard-cutting short ones."""
    from ..operators.samplers import weighted_sample_without_replacement

    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return weighted_sample_without_replacement(
        d.select("doc_id", "n_chars"), "n_chars", "doc_id", k=25
    )


@register(
    "text_bpe_learn_merges",
    # The 8 training rounds UNROLLED as chained CTEs — each round is
    # (pair counts over the current symbol strings) → (total-order
    # argmax as a 1-row CTE) → (one framed replace applying it), the
    # same double-separator framing bpe_encode's oracle replays (the
    # replace's leftmost non-overlapping pass ≡ the Spark fold's run
    # semantics: 'aaaa' + (a,a) → aa,aa). A fixed merge COUNT makes
    # the "iterative" fixpoint a finite composition of deterministic
    # integer-arithmetic steps, which plain SQL can state — the same
    # freeze-the-iteration trick as the kmeans/PQ conversions.
    """
    WITH words AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents)
      GROUP BY 1),
    w0 AS (
      SELECT chr(31) || chr(31) ||
             array_to_string(string_split(w, ''), chr(31) || chr(31)) ||
             chr(31) || chr(31) AS ws, c
      FROM words)"""
    + "".join(
        f""",
    p{i} AS (
      SELECT t[i] AS l, t[i+1] AS r, CAST(sum(c) AS BIGINT) AS n
      FROM (SELECT list_filter(string_split(ws, chr(31) || chr(31)),
                               x -> x <> '') AS t, c
            FROM w{i - 1}),
           LATERAL (SELECT unnest(range(1, len(t))) AS i) ix
      GROUP BY 1, 2),
    b{i} AS (SELECT {i} AS merge_order, l, r, n
             FROM p{i} ORDER BY n DESC, l, r LIMIT 1)"""
        + (
            f""",
    w{i} AS (
      SELECT replace(ws,
                     chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                     chr(31) || b.l || b.r || chr(31)) AS ws, c
      FROM w{i - 1} CROSS JOIN b{i} b)"""
            if i < 8 else ""
        )
        for i in range(1, 9)
    )
    + """
    SELECT merge_order, l AS left, r AS right, n AS pair_count
    FROM ("""
    + " UNION ALL ".join(f"SELECT * FROM b{i}" for i in range(1, 9))
    + """)
    """,
    tags=("text", "llm", "tokenizer", "iterative"),
)
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING over the corpus (Sennrich merges):
    per round, corpus-wide adjacent-pair counts → deterministic
    argmax → fold-apply the merge (operators/text.py::bpe_learn_merges
    has the scale story — per-round cost is one scan of the current
    symbols, driver state is the merge table only). Oracle-backed
    since r8: a FIXED merge count (8) unrolls the training loop into
    chained SQL rounds whose per-round argmax and framed-replace
    application DuckDB replays value-exactly (exact integer counts +
    total order ⇒ no float drift across rounds, unlike k-means)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return text.bpe_learn_merges(d, "text", n_merges=8)


# Fixed merge table for the encode query — rank order, and every
# operand is a single char or an earlier rule's output (the training
# invariant bpe_encode's rank-order pass requires). Includes an l==r
# rule (g,g) — the run edge the double-separator framing exists for —
# and two full-word chains (t→a→b→l→e = "table", v→a→l→u→e = "value").
_BPE_ENC_MERGES = [
    ("g", "g"), ("a", "gg"),
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("r", "o"), ("ro", "w"),
]


def _bpe_enc_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB replay of bpe_encode's sql engine: same double-separator
    framing, same literal replace chain (operators/text.py::bpe_encode
    documents why leftmost non-overlapping replace over the doubled
    separator IS Sennrich's single pass)."""
    us, wb = "\x1f", "\x1e"
    # translate() strips the framing chars from TEXT first, in
    # lockstep with both Spark engines (operators/text.py::bpe_encode)
    enc = (
        f"'{us}{us}' || array_to_string(list_transform("
        f"list_filter(string_split("
        f"translate(COALESCE(text, ''), '{us}{wb}', ''), ' '),"
        f" x -> x <> ''),"
        # (?s) in lockstep with the Spark engine: '.' must frame \n too
        f" w -> regexp_replace(w, '(?s)(.)', '\\1{us}{us}', 'g')),"
        f" '{wb}{us}{us}')"
    )
    for le, ri in merges:
        pat = f"{us}{le}{us}{us}{ri}{us}".replace("'", "''")
        rep = f"{us}{le}{ri}{us}".replace("'", "''")
        enc = f"replace({enc}, '{pat}', '{rep}')"
    toks = (
        f"list_filter(string_split({enc}, '{us}{us}'),"
        f" x -> x <> '' AND x <> '{wb}')"
    )
    return f"""
    SELECT doc_id,
           CAST(len({toks}) AS BIGINT) AS n_tokens,
           array_to_string({toks}, ' ') AS tokens_str
    FROM documents
    """


@register(
    "text_bpe_encode",
    _bpe_enc_oracle(_BPE_ENC_MERGES),
    tags=("text", "llm", "tokenizer"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer ENCODING with a trained merge table — the
    corpus-wide tokenization pass an LLM-data pipeline runs over every
    shipped document (train with text_bpe_learn_merges, encode here).
    Map-only: |merges| codegen'd literal replaces per document, no
    shuffle, no Python (operators/text.py::bpe_encode; the pandas
    ranks-dict engine is the production path for 32k-merge vocabs,
    pinned identical by pytest)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return text.bpe_encode(d, "text", _BPE_ENC_MERGES, "doc_id")


@register(
    "sample_weighted_per_source",
    """
    WITH scored AS (
      SELECT source, doc_id, n_chars,
             round(ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                           15))::BIGINT + 0.5)
                          / 1152921504606846976.0))
                   - ln(CAST(n_chars AS DOUBLE)), 8) AS priority
      FROM documents WHERE n_chars > 0)
    SELECT source, doc_id, n_chars, priority, CAST(rk AS INT) AS rk FROM (
      SELECT source, doc_id, n_chars, priority,
             row_number() OVER (PARTITION BY source
                                ORDER BY priority ASC, doc_id) AS rk
      FROM scored)
    WHERE rk <= 5
    """,
    tags=("sampling", "llm"),
)
def sample_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Efraimidis-Spirakis: an exact length-weighted
    5-document quota PER SOURCE (operators/samplers.py::
    weighted_sample_per_group) — the per-source mixture-quota shape,
    vs sample_hash_stratified's rate-based thinning. One exchange on
    the group key; WindowGroupLimit caps per-group state at k."""
    from ..operators.samplers import weighted_sample_per_group

    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return weighted_sample_per_group(
        d.select("source", "doc_id", "n_chars"),
        ["source"], "n_chars", "doc_id", k=5,
    )


_BM25_BATCH_Q = [(1, "vector"), (1, "stream"), (2, "merge"), (2, "batch")]


@register(
    "text_bm25_batch_topk",
    f"""
    WITH q(q_id, term) AS (VALUES
      {', '.join(f"({i}, '{t}')" for i, t in _BM25_BATCH_Q)}),
    sized AS (
      SELECT doc_id, {_BM25_TOKS} AS t FROM documents),
    stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl FROM sized),
    postings AS (
      SELECT doc_id, term, dl, count(*) AS tf FROM (
        SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM sized)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
    contrib AS (
      SELECT q.q_id, p.doc_id,
             ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (p.tf * (1.2 + 1.0))
             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS part
      FROM postings p
      JOIN q ON p.term = q.term
      JOIN dfreq ON p.term = dfreq.term
      CROSS JOIN stats s),
    scored AS (
      SELECT q_id, doc_id, round(sum(part), 4) AS score
      FROM contrib GROUP BY 1, 2)
    SELECT q_id, doc_id, score, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, doc_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored WHERE score > 0)
    WHERE rk <= 10
    """,
    tags=("text", "llm", "retrieval"),
)
def text_bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 for a query TABLE (2 queries here): one inverted-index
    build semi-filtered to the query-term union, stats and df from
    the same postings, top-10 per query — the batch-retrieval
    complement of the shuffle-free fixed-query text_bm25_topk
    (operators/text.py::bm25_batch_topk has the plan discussion:
    posting-shuffle cost amortized across all queries)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    q = spark.createDataFrame(_BM25_BATCH_Q, "q_id int, term string")
    return text.bm25_batch_topk(d, q, "text", "doc_id", k=10)


@register(
    "retrieval_rrf_hybrid",
    f"""
    WITH q(q_id, term) AS (VALUES
      {', '.join(f"({i}, '{t}')" for i, t in _BM25_BATCH_Q)}),
    sized AS (
      SELECT doc_id, {_BM25_TOKS} AS t FROM documents),
    stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl FROM sized),
    postings AS (
      SELECT doc_id, term, dl, count(*) AS tf FROM (
        SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM sized)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
    contrib AS (
      SELECT q.q_id, p.doc_id,
             ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (p.tf * (1.2 + 1.0))
             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS part
      FROM postings p
      JOIN q ON p.term = q.term
      JOIN dfreq ON p.term = dfreq.term
      CROSS JOIN stats s),
    tscored AS (
      SELECT q_id, doc_id, round(sum(part), 4) AS score
      FROM contrib GROUP BY 1, 2),
    trank AS (
      SELECT q_id, doc_id, rk FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, doc_id) AS rk
        FROM tscored WHERE score > 0)
      WHERE rk <= 20),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT vec_id AS q_id, v AS qvd FROM e WHERE vec_id < 3),
    vscored AS (
      SELECT qv.q_id, e.vec_id AS doc_id,
             round({_COS.format(a='e.v', b='qv.qvd')}, 4) AS cos_sim
      FROM e CROSS JOIN qv),
    vrank AS (
      SELECT q_id, doc_id, rk FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, doc_id) AS rk
        FROM vscored)
      WHERE rk <= 20),
    contribs AS (
      SELECT q_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rk) AS c FROM trank
      UNION ALL
      SELECT q_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rk) AS c FROM vrank),
    fused AS (
      SELECT q_id, doc_id, round(sum(c), 6) AS rrf_score
      FROM contribs GROUP BY 1, 2)
    SELECT q_id, doc_id, rrf_score, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, doc_id, rrf_score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY rrf_score DESC, doc_id) AS rk
      FROM fused)
    WHERE rk <= 10
    """,
    tags=("text", "llm", "retrieval", "similarity"),
)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) and brute-cosine top-20
    (vector; query embeddings = the docs' own vec_id 1/2 — the 1:1
    doc↔vector linkage the synthetic tables provide) fused by
    reciprocal-rank fusion (operators/text.py::rrf_fuse, k=60) into
    one top-10 per query — the standard score-free lexical+vector
    combination retrieval pipelines ship. Both input rankings are
    top-k lists, so fusion cost is N·k rows per query regardless of
    corpus size."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    q_terms = spark.createDataFrame(_BM25_BATCH_Q, "q_id int, term string")
    trank = text.bm25_batch_topk(
        d, q_terms, "text", "doc_id", k=20
    ).select("q_id", "doc_id", "rk")
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    probes = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 3
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    vrank = similarity.cosine_batch_topk(e, probes, k=20).selectExpr(
        "q_id", "vec_id AS doc_id", "rk"
    )
    return text.rrf_fuse([trank, vrank], topk=10)


# Per-process guard so repeated builder calls (parity gate, plan-doc
# generation, bench warm runs) rebuild the persisted index only once —
# the managed tables are mode=overwrite idempotent either way.
_BM25_INDEX_BUILT: set[str] = set()


@register(
    "text_bm25_index_serve",
    f"""
    WITH q(q_id, term) AS (VALUES
      {', '.join(f"({i}, '{t}')" for i, t in _BM25_BATCH_Q)}),
    sized AS (
      SELECT doc_id, {_BM25_TOKS} AS t FROM documents),
    stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl FROM sized),
    postings AS (
      SELECT doc_id, term, dl, count(*) AS tf FROM (
        SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM sized)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
    contrib AS (
      SELECT q.q_id, p.doc_id,
             ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (p.tf * (1.2 + 1.0))
             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS part
      FROM postings p
      JOIN q ON p.term = q.term
      JOIN dfreq ON p.term = dfreq.term
      CROSS JOIN stats s),
    scored AS (
      SELECT q_id, doc_id, round(sum(part), 4) AS score
      FROM contrib GROUP BY 1, 2)
    SELECT q_id, doc_id, score, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, doc_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored WHERE score > 0)
    WHERE rk <= 10
    """,
    tags=("text", "llm", "retrieval"),
)
def text_bm25_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 from a PERSISTED term-bucketed index: build once
    (operators/bm25_index.py::Bm25Index — postings Hive-bucketed by
    term), then serve the query batch from the on-disk form with the
    scan bucket-pruned to the query terms (SelectedBucketsCount in the
    plan; tests/test_plans.py pins it). Scores/ranks identical to
    text_bm25_batch_topk — the oracle is the same SQL — but the corpus
    text is never re-tokenized at serve time: the index-once /
    query-many lifecycle of the reference's published remote marts
    (/root/reference/DEPLOYMENT.md:436-507)."""
    from ..operators.bm25_index import Bm25Index, index_name_for

    name = index_name_for(sf_dir)
    idx = Bm25Index(spark, name)
    if name not in _BM25_INDEX_BUILT:
        d = load_spread(spark, sf_dir, "documents", "doc_id")
        idx.build(d, "text", "doc_id", n_buckets=32)
        _BM25_INDEX_BUILT.add(name)
    q = spark.createDataFrame(_BM25_BATCH_Q, "q_id int, term string")
    return idx.serve(q, k=10)
