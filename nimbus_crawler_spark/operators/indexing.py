"""Search-index and tokenizer-training aggregations over the crawled corpus.

A crawler's canonical downstream consumers are (1) a search index and (2) a
tokenizer/vocabulary trainer — the reference feeds its extracted text to
exactly such consumers via the blob store (/root/reference/internal/storage/
minio.go text objects); these operators are the Spark-side aggregations
those consumers run first.

* ``inverted_index`` — bounded term→postings construction (the index-build
  map-reduce): per-(term, doc) term frequencies, document-frequency gating
  (stopword elimination by df cap, hapax elimination by df floor), and
  impact-ordered postings pruning (keep only the ``max_postings`` highest-tf
  docs per term — static index pruning à la Carmel et al., SIGIR'01).
* ``bpe_pair_counts`` — adjacent-token-pair frequencies, the inner-loop
  count of BPE vocabulary training (Sennrich et al. 2016): the top pair is
  the next merge candidate. Pairs are bigram shingles, so this reuses the
  lambda-bound ``shingles`` kernel (O(tokens), not O(tokens²)).
* ``bm25_topk`` — the query side of the index: Okapi BM25 (Robertson &
  Zaragoza 2009, the Lucene idf variant) top-k retrieval for one query
  over the corpus.

Scale design (all three):
- tokenization is pure codegen (split + filter), fused into the scan;
- every aggregation is a hash agg with map-side partial combine: the
  (token, doc) key of ``inverted_index``'s first agg is skew-proof (the key
  includes doc_id), and its second agg inputs ONE row per (token, doc), so
  even a stopword token contributes ≤ |docs| pre-combined rows spread over
  all partitions — never one task's buffer;
- the per-term postings cut uses the shared rank-filtered window
  (``topk_per_group``); because the window's partition key is exactly the
  df-join's key, Catalyst emits one of two safe shapes (both plan-pinned in
  tests and captured in BENCH/PLANS.md): under a sort-merge join the window
  exchange is elided entirely — the ``WindowGroupLimit`` streams over the
  join's sort order with ZERO additional shuffles — and under a broadcast
  df-join a MAP-SIDE ``WindowGroupLimit`` prunes every partition to its
  per-term top-k before the one exchange. Either way no task buffers a
  stopword-grade postings list (sort-based rank tracking, spillable);
- top-k selection in ``bpe_pair_counts`` is a distributed TakeOrdered
  (orderBy + limit), with the rank window only over the ≤ top_k survivors —
  the same tiny-side-plan pattern as ``textstats.term_stats``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nimbus_crawler_spark.operators.similarity import topk_per_group
from nimbus_crawler_spark.operators.textdedup import _tokens, shingles


def inverted_index(
    docs: DataFrame,
    min_doc_freq: int = 2,
    max_doc_freq: int = 1_000_000,
    max_postings: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bounded inverted index: (token, doc_freq, doc_id, term_freq,
    posting_rank), one row per kept posting.

    Terms with document frequency outside [min_doc_freq, max_doc_freq] are
    dropped (hapaxes index nothing useful; stopwords index everything), and
    each surviving term keeps only its ``max_postings`` highest-term-
    frequency documents, ranked by (term_freq desc, doc_id asc) — a
    deterministic total order, so the output is oracle-comparable.

    Two shuffles total: the (token, doc) tf agg and the token df agg; the
    df table is one row per term, so the join back is an ordinary
    skew-tolerant equi-join (AQE splits any hot build partitions; small df
    tables broadcast). The postings cut is bounded in both join shapes —
    exchange elided under sort-merge, map-side WindowGroupLimit under
    broadcast (plan-pinned in tests) — see module docstring.
    """
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("term_freq"))
    )
    df_gate = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq").between(min_doc_freq, max_doc_freq))
    )
    ranked = topk_per_group(
        tf.join(df_gate, "token"),
        "token",
        [F.desc("term_freq"), F.asc("doc_id")],
        max_postings,
        rank_name="posting_rank",
    )
    return ranked.select("token", "doc_freq", "doc_id", "term_freq", "posting_rank")


def bpe_pair_counts(
    docs: DataFrame,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top adjacent-token-pair frequencies: (pair, n_occurrences, rank) —
    the merge-candidate count of one BPE training round over the corpus.

    ``pair`` is the two tokens joined by a single space (bigram shingle).
    Occurrences count every adjacency, including repeats within a document
    (BPE merges by corpus frequency, not document frequency). Ties break by
    pair ascending for a deterministic, oracle-comparable result.
    """
    pairs = docs.select(
        F.explode(shingles(F.col(text_col), n=2)).alias("pair")
    )
    agg = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_k)
    )
    w = Window.partitionBy(F.pmod(F.col("n_occurrences"), F.lit(1))).orderBy(F.desc("n_occurrences"), F.asc("pair"))  # constant-0 partition (non-foldable): same single-task semantics over <=k post-limit rows, no WindowExec WARN
    return agg.withColumn("rank", F.row_number().over(w))


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval: (doc_id, score, rank) for one query.

    idf is the Lucene variant ln(1 + (N - df + 0.5)/(df + 0.5)) — always
    positive, so a stopword-grade query term degrades gracefully instead of
    flipping sign. N counts all docs (empty ones included), dl is the
    whitespace-token count, avgdl its corpus mean.

    Scale design: the query's token set is a small driver-side literal, so
    an ``isin`` codegen predicate directly above the explode drops every
    non-query token BEFORE any shuffle — only query-term postings ever hit
    the wire, never the full corpus token stream. N/avgdl is a one-row
    aggregate broadcast into the score projection; df per query term is a
    ≤|query|-row aggregate, also broadcast. The final top-k is a distributed
    TakeOrdered (orderBy + limit). Ordering uses the ROUNDED score (6 dp)
    with doc_id ascending as tie-break: float summation order varies across
    engines and partitionings, so ordering on the rounded value is what
    makes the result deterministic and oracle-comparable.
    """
    qterms = sorted({t for t in query.lower().split() if t})
    if not qterms:
        raise ValueError("query must contain at least one token")
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("tk")
    )
    # one tiny row: corpus size + mean doc length (cross-join broadcast)
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
    )
    hits = (
        toks.select("doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("token"))
        .where(F.col("token").isin(qterms))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = hits.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        hits.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    # constant-0 partition key that Catalyst cannot fold away (a bare lit(0)
    # becomes an unpartitioned window and a WindowExec WARN): one task over
    # the <= k post-limit rows. Hashed first, as in ranking.py, so a string
    # or null doc_id still lands in that one partition.
    w = Window.partitionBy(F.pmod(F.xxhash64("doc_id"), F.lit(1))).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return scored.withColumn("rank", F.row_number().over(w))
