"""Retrieval queries: BM25 top-k over the documents corpus — the sparse
(lexical) retrieval path that complements the dense ANN family
(q70/q71/q111/q114).  A RAG/eval pipeline at 100 TB retrieves with BOTH:
an inverted-postings lexical scorer and an embedding index.

BM25 per Robertson et al. (Okapi, TREC-3) with k1=1.2, b=0.75.  Two
deviations keep the score EXACTLY reproducible across engines (the
repo's integer-parity discipline, cf. q136/q137):

- the IDF keeps Robertson–Spärck Jones's rational form
  ``(N - df + 0.5) / (df + 0.5)`` WITHOUT the log: ln is not correctly
  rounded in IEEE (Java vs libm differ in the last ulp — measured on
  q55), while the rational form is exact in BIGINTs as
  ``(2N - 2df + 1) / (2df + 1)``.  Per term the mapping is monotone, so
  single-term rankings are identical to log-BM25; multi-term sums
  weight high-IDF terms more steeply (documented operator semantics,
  pinned by the oracle).
- ``avglen`` is quantized to ``al_q = total_tokens div n_docs`` so the
  per-term score is one integer expression:

  ``score_q6(t, d) = (1e6 · (2N-2df+1) · 44 · al_q · tf)
                 div ((2df+1) · (20·al_q·tf + 6·al_q + 18·len))``

  which is BM25's ``idf · tf·(k1+1) / (tf + k1·(1-b+b·len/avglen))``
  with k1=6/5, b=3/4 and fractions cleared by 20·al_q.  All factors fit
  int64 with ≥10³ headroom at 100× this corpus (al_q is scale-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from hadoop_sync_spark.functions.text import normalize, tokens
from hadoop_sync_spark.io import local_frame
from hadoop_sync_spark.queries import register
from hadoop_sync_spark.queries._util import t
from hadoop_sync_spark.queries.text import _SQL_NORM_TOKENS

#: fixed query workload (terms chosen to exist at every fixture SF)
_BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("spark-join", ("spark", "join")),
    ("table-scan-merge", ("table", "scan", "merge")),
    ("vector-stream", ("vector", "stream")),
)
_BM25_K = 5

_QUERY_ROWS_SQL = " UNION ALL ".join(
    f"SELECT '{qid}' AS query_id, '{term}' AS term"
    for qid, terms in _BM25_QUERIES
    for term in terms
)


@register(
    "q139_bm25_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_SQL_NORM_TOKENS}) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, term
    ), doclen AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id
    ), df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(len) // COUNT(*) AS BIGINT) AS al_q
        FROM doclen
    ), queries AS ({_QUERY_ROWS_SQL}
    ), scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(SUM(
                   (1000000 * (2 * s.n - 2 * df.df + 1) * 44 * s.al_q
                    * tf.tf)
                   // ((2 * df.df + 1)
                       * (20 * s.al_q * tf.tf + 6 * s.al_q + 18 * dl.len))
               ) AS BIGINT) AS bm25_q6
        FROM queries q
        JOIN tf ON tf.term = q.term
        JOIN df ON df.term = q.term
        JOIN doclen dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, rnk, doc_id, bm25_q6 FROM (
        SELECT query_id, doc_id, bm25_q6,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY bm25_q6 DESC, doc_id) AS rnk
        FROM scored
    ) WHERE rnk <= {_BM25_K}
    """,
    tags=("text", "retrieval", "bm25", "topk"),
)
def q139_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} per query over an inverted-postings view of the
    corpus (module note above: exact rational-IDF scoring in BIGINTs,
    bit-identical to the DuckDB oracle — per-term truncation then
    integer sum, so reduction order cannot move the score).

    Scale: the exploded token frame aggregates ONCE into postings
    (doc_id, term, tf) with map-side combine; the (tiny, fixed) query
    term list broadcasts onto the postings scan so everything but the
    matching postings dies at the scan; doc lengths join on doc_id
    (doc-scale shuffle); per-query ranking is a windowed top-k over only
    the matched docs — no global sort, no all-pairs anything.  The
    corpus stats (N, total tokens) reduce to one driver row, the same
    bounded-collect class as q55's n_docs."""
    out, tf_handle = _bm25_pipeline(spark, sf_dir)
    from hadoop_sync_spark.queries._util import materialize_and_free

    return materialize_and_free(out, [tf_handle])


def _bm25_pipeline(spark: SparkSession, sf_dir: str):
    """(ranked top-k frame, persisted postings handle) — factored so
    tests can assert on the LAZY plan (the registered fn materializes
    into a LocalRelation to free the postings cache, which hides the
    join strategy from .explain)."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(normalize(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    ).persist()
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("len"))
    n_docs, total_len = doclen.agg(
        F.count("*"), F.sum("len")
    ).collect()[0]
    al_q = int(total_len) // int(n_docs)

    qrows = local_frame(
        spark,
        [(qid, term) for qid, terms in _BM25_QUERIES for term in terms],
        "query_id string, term string",
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf_num = 2 * int(n_docs) - 2 * F.col("df") + 1
    score_t = (
        (F.lit(1_000_000) * idf_num * F.lit(44 * al_q) * F.col("tf"))
        .cast("long")
        .alias("_num")
    )
    den_t = (
        (2 * F.col("df") + 1)
        * (
            F.lit(20 * al_q) * F.col("tf")
            + F.lit(6 * al_q)
            + F.lit(18) * F.col("len")
        )
    ).cast("long").alias("_den")
    scored = (
        tf.join(F.broadcast(qrows), "term")
        .join(F.broadcast(df_.join(F.broadcast(qrows.select("term").distinct()), "term")), "term")
        .join(doclen, "doc_id")
        .select("query_id", "doc_id", score_t, den_t)
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.expr("_num div _den")).alias("bm25_q6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_q6").desc(), "doc_id"
    )
    out = (
        scored.select(
            "query_id",
            F.row_number().over(w).cast("long").alias("rnk"),
            "doc_id",
            "bm25_q6",
        )
        .filter(F.col("rnk") <= _BM25_K)
        .select("query_id", "rnk", "doc_id", "bm25_q6")
    )
    return out, tf


q139_bm25_topk.__doc__ = q139_bm25_topk.__doc__.format(k=_BM25_K)
