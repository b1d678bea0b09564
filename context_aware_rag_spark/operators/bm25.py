"""BM25 keyword retrieval over the document corpus.

The reference retrieves context by embedding similarity only
(graph_retrieval/base.py chunk vector search); production RAG almost
always pairs that with a lexical leg (hybrid retrieval), so the engine
gets the standard one: Okapi BM25 with the Lucene idf variant
(Robertson & Zaragoza 2009; ln(1 + (N - df + .5)/(df + .5)), which is
always positive).

Determinism discipline (same as operators/lm.py): each (query-term,
doc) contribution is rounded to integer MICRO-NATS before the
per-(query, doc) sum, so the aggregate is order-independent exact
integer arithmetic and the DuckDB twin can reproduce it bit-for-bit.
The float expression itself is pure-double arithmetic over exact
integer counts with identical parenthesization on both engines.

100 TB shape: ONE corpus tokenize scan feeds term frequencies
(groupBy(doc, term) — map-side combined, shuffle bounded by distinct
(doc, term)); document lengths come from size(words) on the same scan
(no extra shuffle); df is a vocabulary-sized agg over the tf frame.
The query side is tiny and explicitly broadcast — df lookup joins the
broadcast query terms first, so the postings join streams the tf frame
past a broadcast hash table and the only wide exchange in the whole
plan is the tf aggregation itself. Zipf-hot query terms (stopwords)
fan out the postings join; callers should drop stopword-only queries
or rely on AQE skew handling — idf makes their contribution ~0 anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# bounded-probe election for the query side (r6): retrieval queries are
# tiny by contract (the existing plan already broadcast them twice),
# but each F.broadcast(<derived frame>) build is its own blocking job
# that RE-RUNS the query-side subtree — at bench shape the repeated
# builds and scans were most of the operator wall outside the tf agg.
# Below this many (query, term) rows the terms are collected ONCE: the
# token filter becomes a codegen'd InSet predicate (no broadcast, no
# semi-join) and the query frame a local relation whose broadcast costs
# no recompute. Above the cap the broadcast-semi-join plan is unchanged
# (same distributed-fallback pattern as the small-graph elections).
SMALL_QUERY_TERM_CAP = 4_096


def _words(text_col):
    # identical tokenization convention to textmetrics/lm and the SQL
    # twins' regexp_split_to_array(lower(trim(text)), '\s+')
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def _collect_query_side(qterms: DataFrame, cap: int):
    """Bounded probe: (rows, local_frame) when the exploded query-term
    frame has <= cap rows, else (None, None). The local relation is
    row-identical to ``qterms`` (order immaterial: every consumer is a
    join or a distinct-set filter)."""
    head = qterms.limit(cap + 1).collect()
    if len(head) > cap:
        return None, None
    spark = qterms.sparkSession
    return head, spark.createDataFrame(head, qterms.schema)


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Score every (query, doc) pair sharing at least one term.

    Returns (query_id, doc_id, score_micro) where ``score_micro`` is
    the BM25 score in integer micro-nats: per distinct query term t,

        round(1e6 * idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)))

    summed over matching terms (dl/avgdl is computed as the exact
    integer product dl*n_docs divided by the exact integer sum_dl, so
    both engines divide the same two numbers).

    Not lazy: the query side is collected eagerly at call time
    (``_collect_query_side``, at most SMALL_QUERY_TERM_CAP + 1 rows), so
    the query-side subtree runs even if the returned plan is never
    used, and a streaming ``queries`` frame fails here.
    """
    words = _words(F.col(text_col))
    toks = docs.select(
        F.col(id_col), F.explode(words).alias("term"), F.size(words).alias("dl")
    )
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_words(F.col(query_text_col)))).alias("term"),
    )
    # only query terms ever contribute a score: filter the token stream
    # against the (tiny) distinct query-term set BEFORE the (doc, term)
    # aggregation, so the wide tf exchange carries matching tokens only
    # — the full-vocabulary tf agg (corpus-token-sized) never runs.
    # df/tf for the surviving terms are unchanged: filtering by term
    # cannot change a per-term count. Below SMALL_QUERY_TERM_CAP the
    # filter is a collected InSet and the query frame a local relation
    # (see the cap's comment); above it, broadcast semi-join as before.
    q_rows, q_local = _collect_query_side(qterms, SMALL_QUERY_TERM_CAP)
    if q_rows is not None:
        term_set = sorted({r["term"] for r in q_rows if r["term"] is not None})
        toks_q = toks.filter(
            F.col("term").isin(term_set) if term_set else F.lit(False)
        )
        qterms = q_local
    else:
        toks_q = toks.join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        )
    tf = (
        toks_q.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .localCheckpoint()
    )
    # corpus stats come from the doc table directly (one narrow agg):
    # previously derived from the full tf frame, whose doc set is
    # exactly the docs with a non-NULL token array (split() yields at
    # least [""] for any non-NULL text)
    stats = docs.select(F.size(words).alias("dl")).filter(
        F.col("dl").isNotNull()
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # df lookup against the broadcast query terms FIRST: the result is
    # query-sized, so the postings join below is broadcast too
    q_with_df = F.broadcast(
        df_counts.join(F.broadcast(qterms), "term")
    )
    contrib = (
        tf.join(q_with_df, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b)
                        * (F.col("dl") * F.col("n_docs"))
                        / F.col("sum_dl")
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    return contrib.groupBy("query_id", id_col).agg(
        F.sum("c_micro").alias("score_micro")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Top-``k`` documents per query by BM25, deterministic tie-break
    on ascending doc id. One window shuffle keyed on query_id (query
    count is small by construction — it is the broadcast side)."""
    scored = bm25_scores(
        docs,
        queries,
        k1=k1,
        b=b,
        id_col=id_col,
        text_col=text_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "score_micro")
    )


def ql_scores(
    docs: DataFrame,
    queries: DataFrame,
    mu: float = 2000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood scoring (Zhai & Lafferty,
    SIGIR 2001) — the language-modeling leg of lexical retrieval,
    complementing BM25's tf-saturation model (the two disagree most on
    verbose queries and short docs, which is why trec runs both).

    Rank-equivalent decomposition (Zhai & Lafferty eq. 6) over
    candidate docs (>= 1 matching term):

        score(q,d) = sum_{t in q cap d} qtf_t
                       * ln(1 + tf_td * total_cf / (mu * cf_t))
                     + n_q * ln(mu / (dl_d + mu))

    with cf_t the corpus frequency of t, total_cf the corpus token
    count and n_q the query token count WITH multiplicity. The
    doc-independent sum_t qtf*ln p(t|C) is dropped (rank-equivalent;
    documented so scores are comparable within a query, not across
    corpora). Scores are negative-capable (the dl normalizer): a long
    doc pays its smoothing mass.

    Determinism discipline: identical to :func:`bm25_scores` — each
    matched-term contribution AND the per-doc normalizer are rounded
    to integer micro-nats before the order-independent sum; float
    expressions are pure-double over exact integer counts with
    identical parenthesization on both engines.

    100 TB shape: the SAME single-scan tf/cf plan as bm25_scores (cf
    is a vocabulary-sized agg over the tf frame — no second corpus
    scan), broadcast query terms, one wide exchange (the tf agg).

    Like :func:`bm25_scores`, the query side is collected eagerly at
    call time, so a streaming ``queries`` frame fails here.
    """
    words = _words(F.col(text_col))
    toks = docs.select(
        F.col(id_col), F.explode(words).alias("term"), F.size(words).alias("dl")
    )
    qtf = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(_words(F.col(query_text_col))).alias("term"),
    ).groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))
    # same query-term pushdown as bm25_scores: per-term sums (tf, cf)
    # are unchanged by dropping other terms' tokens, and total_cf comes
    # from the doc table directly (docs with a non-NULL token array).
    # Same bounded-probe election as bm25_scores (InSet + local query
    # relation below the cap, broadcast semi-join above).
    q_rows, q_local = _collect_query_side(qtf, SMALL_QUERY_TERM_CAP)
    if q_rows is not None:
        term_set = sorted({r["term"] for r in q_rows if r["term"] is not None})
        toks_q = toks.filter(
            F.col("term").isin(term_set) if term_set else F.lit(False)
        )
        qtf = q_local
    else:
        toks_q = toks.join(
            F.broadcast(qtf.select("term").distinct()), "term", "left_semi"
        )
    tf = (
        toks_q.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .localCheckpoint()
    )
    stats = docs.select(F.size(words).alias("dl")).filter(
        F.col("dl").isNotNull()
    ).agg(
        F.sum("dl").cast("long").alias("total_cf"),
    )
    cf_counts = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cf"))
    n_q = qtf.groupBy("query_id").agg(F.sum("qtf").cast("long").alias("n_q"))
    q_with_cf = F.broadcast(cf_counts.join(F.broadcast(qtf), "term"))
    contrib = (
        tf.join(q_with_cf, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            F.col("dl"),
            F.round(
                F.col("qtf")
                * F.log(
                    F.lit(1.0)
                    + (F.col("tf") * F.col("total_cf"))
                    / (F.lit(mu) * F.col("cf"))
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    per_doc = contrib.groupBy("query_id", id_col).agg(
        F.sum("c_micro").alias("_match_micro"),
        F.first("dl").alias("dl"),
    )
    return per_doc.join(F.broadcast(n_q), "query_id").select(
        "query_id",
        id_col,
        (
            F.col("_match_micro")
            + F.round(
                F.col("n_q")
                * F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))
                * F.lit(1000000.0)
            ).cast("long")
        ).alias("score_micro"),
    )


def ql_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    mu: float = 2000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Top-``k`` documents per query by Dirichlet query likelihood,
    deterministic tie-break on ascending doc id (the bm25_topk
    contract, so rankeval/fusion consume either run unchanged)."""
    scored = ql_scores(
        docs,
        queries,
        mu=mu,
        id_col=id_col,
        text_col=text_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "score_micro")
    )


def sample_doc_queries(
    docs: DataFrame,
    doc_ids: "list[int]",
    n_words: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic query set for tests/benchmarks: the first
    ``n_words`` tokens of the chosen documents ("more like this" —
    retrieval by exemplar). Reproducible on any engine from the same
    corpus, no external query log needed."""
    words = _words(F.col(text_col))
    return docs.filter(F.col(id_col).isin(list(doc_ids))).select(
        F.col(id_col).alias("query_id"),
        F.array_join(F.slice(words, 1, n_words), " ").alias("query_text"),
    )
