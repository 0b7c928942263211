"""Document-level deduplication operators for training-data pipelines.

These extend the crawl engine's URL/content dedup (SURVEY.md §2.5) with the
operators a 100 TB web-text curation pipeline needs: exact hash dedup,
MinHash+LSH near-dup, SimHash, and shingle-Jaccard verification. All are
built from JVM-side expressions only (split/explode/window/groupBy — no
Python in the hot path) and use *portable* hashing (md5 hex strings) so every
operator has a DuckDB-checkable SQL oracle in ``__spark_entry__.py``.

Scale notes (the point of each design):
* exact dedup — one shuffle on the 128-bit content hash; at 100 TB this is
  the cheapest possible grouping key and AQE handles hash skew (empty docs).
* MinHash: signatures are ``min(md5(i||':'||shingle))`` per permutation i —
  a min-aggregate per (doc, i), so map-side partial aggregation does almost
  all the work before the shuffle. LSH banding turns all-pairs O(n²) into
  per-bucket candidate generation; candidate verification joins are bounded
  by bucket sizes, not corpus size.
* SimHash: 32-bit fingerprint via per-hex-char votes — a single groupBy(doc)
  aggregation; Hamming-near pairs then join on band keys, never all-pairs.
* shingle Jaccard — exact verification restricted to candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _spread(df: DataFrame, max_bytes: int = 1 << 30) -> DataFrame:
    """Give CPU-heavy per-row expansions (shingle explode × k hashes) full
    cluster parallelism even when the input is a small one-file scan — a
    single-row-group parquet otherwise pins the whole operator to ONE task.

    Gated on the scan's FILE count (``inputFiles`` reads the logical plan —
    no RDD conversion, no job): a 100 TB table has file count ≫ core count,
    so this is a no-op there and the extra shuffle is never paid at scale;
    non-file inputs (already shuffled/derived frames) pass through untouched.
    Additionally gated on the plan's size estimate (r6): a SINGLE file over
    ``max_bytes`` is already scan-parallel via byte-range splits
    (``spark.sql.files.maxPartitionBytes``), so repartitioning it would pay
    a large shuffle for parallelism the scan gets free.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan — partitioning came from a shuffle
        n_files = 0
    if not (0 < n_files < target):
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 0
    if size > max_bytes:
        return df
    return df.repartition(target)


def _materialize(df: DataFrame) -> DataFrame:
    """Compute-once pin for a subtree consumed by MULTIPLE downstream
    branches (both sides of a self-join, candidate generation + verify).

    Without it Spark plans the subtree once per consumer; static exchange
    reuse only collapses canonically-identical exchanges, and the verified r2
    plans showed the SimHash fingerprint aggregation executed per band side
    (8×) and the MinHash signature aggregation per self-join side (2×) — an
    8×/2× tax on the heaviest aggregation at corpus scale. ``localCheckpoint``
    materializes the (small: one row per doc) signature/fingerprint table
    once; every consumer then plans against the stored result."""
    return df.localCheckpoint(eager=True)


def _tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased (portable: string_split_regex in DuckDB)."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")


def shingles(text: Column, n: int = 3) -> Column:
    """n-token shingles in document order (may repeat). Documents shorter
    than n tokens yield an empty array (guarded: Spark's ``sequence(1, k)``
    with k < 1 would generate a *descending* sequence).

    The token array is bound ONCE as a lambda variable via the outer
    single-element ``transform`` before any ``element_at`` indexes it.
    Referencing the raw ``_tokens(text)`` subtree inside the inner lambda
    instead makes Catalyst re-evaluate the whole split+filter per
    ``element_at`` call — O(tokens²) per document, measured 14-24× slower
    on the sf0.1 corpus (8.4 s → 0.6 s to build bigrams for 5k docs)."""

    def build(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(tk) - (n - 1))
        return F.when(F.size(tk) >= n, F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(tk, (i + k).cast("int")) for k in range(n)]
            ),
        )).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(_tokens(text)), build), 1)


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text): (content_hash, n_docs, keeper)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper_doc_id"),
        )
    )


def first_wins(df: DataFrame, key: Column | str, id_col: str = "doc_id") -> DataFrame:
    """First-wins survivor row per ``key`` — the ONE sanctioned shape for
    keep-first dedup in this engine.

    ``min_by`` aggregate, not a per-key window: a boilerplate document
    duplicated 10^7-10^8 times would funnel its whole group (full payload
    rows included) into one window task. The aggregate buffers exactly ONE
    candidate row per group per partition (map-side combinable); ``id_col``
    must be unique so the winner is deterministic and identical to
    ``row_number()==1`` over ``orderBy(id_col)``. The struct captures
    ``df.columns`` in order and ``_r.*`` restores them."""
    key_c = F.col(key) if isinstance(key, str) else key
    return (
        df.groupBy(key_c.alias("_k"))
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_r"))
        .select("_r.*")
    )


def exact_dedup_keep_first(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """First-wins survivor set (analog of crawl content dedup D3)."""
    return first_wins(docs, F.md5(F.col(text_col)), id_col)


def minhash_signatures_wide(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, s0..s{k-1}): per-permutation min signatures, one column each.

    Single-pass shape for scale: ONE row per (doc, shingle) carrying the
    k-element hash array (computed map-side by ``transform``), then one
    groupBy(doc) with k elementwise ``min`` aggregates — map-side partial
    aggregation shrinks the shuffle to one row per (doc, partition), k× fewer
    pre-shuffle rows than the explode-perms formulation.

    String-min over md5 hex is a valid permutation proxy (uniform order on
    shingles) and — unlike xxhash64/murmur — is bit-identical across engines,
    which keeps the operator oracle-checkable.
    """
    sh = _spread(docs).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias("shingle"),
    )
    hashes = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda p: F.md5(F.concat_ws(":", p, F.col("shingle"))),
    )
    return (
        sh.select(id_col, hashes.alias("_hs"))
        .groupBy(id_col)
        .agg(*[F.min(F.element_at("_hs", i + 1)).alias(f"s{i}") for i in range(num_hashes)])
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, perm, sig): long-form view of ``minhash_signatures_wide``."""
    wide = minhash_signatures_wide(docs, num_hashes, shingle_n, id_col, text_col)
    return wide.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"s{i}") for i in range(num_hashes)])).alias(
            "perm", "sig"
        ),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band bucket.

    Band keys are projected straight off the wide signature row (md5 of the
    band's sigs in perm order) — no second aggregation shuffle; the only
    shuffles are the signature groupBy and the bucket self-join. The wide
    signature table is materialized once (``_materialize``) so the
    shingle-explode + k-min aggregation — the dominant cost at corpus scale —
    is computed exactly once, not once per self-join side."""
    rows_per_band = num_hashes // bands
    wide = _materialize(
        minhash_signatures_wide(docs, num_hashes, shingle_n, id_col, text_col)
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"s{band * rows_per_band + j}") for j in range(rows_per_band)]
                    )
                ).alias("band_key"),
            )
            for band in range(bands)
        ]
    )
    band_keys = wide.select(id_col, F.explode(band_structs).alias("_bk")).select(
        id_col, F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key")
    )
    a = band_keys.select(F.col(id_col).alias("a"), "band", "band_key")
    b = band_keys.select(F.col(id_col).alias("b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def shingle_sets(
    docs: DataFrame, shingle_n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(_id, _sh, _n_sh): materialized distinct-shingle set per document —
    computed once and shared by candidate generation and exact verification."""
    return _materialize(
        _spread(docs).select(
            F.col(id_col).alias("_id"),
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("_sh"),
        ).withColumn("_n_sh", F.size("_sh"))
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float = 0.7,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact distinct-shingle Jaccard for candidate pairs: (a, b, jaccard).

    ``sets`` (from ``shingle_sets``) shares one materialized shingle table
    with the caller's candidate generation. A size-ratio prefilter runs
    before the O(|set|) intersection: J(a,b) ≤ min(|A|,|B|)/max(|A|,|B|), so
    pairs whose set sizes alone rule out the threshold never pay for the
    array intersect — semantics-free (only provably-failing pairs drop)."""
    sh = sets if sets is not None else shingle_sets(docs, shingle_n, id_col, text_col)
    j = (
        pairs.join(
            sh.select(F.col("_id").alias("a"), F.col("_sh").alias("sh_a"), F.col("_n_sh").alias("n_a")),
            "a",
        )
        .join(
            sh.select(F.col("_id").alias("b"), F.col("_sh").alias("sh_b"), F.col("_n_sh").alias("n_b")),
            "b",
        )
        .where(F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b"))
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .withColumn(
            "jaccard",
            # explicit HALF_UP (see textstats.round_half_up): small-integer
            # ratios can land exactly on .5 boundaries
            F.floor(
                F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(1.0) * 1000000
                + F.lit(0.5)
            )
            / 1000000,
        )
    )
    return j.where(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify."""
    cands = minhash_lsh_candidates(docs, num_hashes, bands, shingle_n)
    return jaccard_verify(cands, docs, threshold, shingle_n)


def decontaminate(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: training documents sharing ≥1 n-gram with
    any evaluation document — (doc_id, n_shared_ngrams), one row per
    contaminated training doc (GPT-3 appendix C / PaLM style, which drop
    train docs with 13-gram eval overlap; the n is a parameter because the
    principle, not the constant, is the operator).

    Scale design: the eval side of the join is a benchmark suite — thousands
    of documents against a 10^10-doc corpus — so its distinct n-gram set is
    broadcast and the training corpus NEVER shuffles for the join; the only
    exchange is the per-doc hit count, keyed by doc_id with map-side partial
    aggregation. Shingling is the same JVM-side kernel as MinHash
    (``shingles``), distinct per doc on both sides so ``n_shared_ngrams``
    counts distinct shared n-grams.
    """

    def doc_shingles(docs: DataFrame) -> DataFrame:
        return _spread(docs).select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias(
                "shingle"
            ),
        )

    ev = doc_shingles(eval_docs).select("shingle").distinct()
    return (
        doc_shingles(train_docs)
        .join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(doc_id, simhash): ``bits``-bit SimHash from token md5 hex chars.

    Bit j votes +1 if hex char j of md5(token) is in 8..f (top bit of the
    nibble), else −1; fingerprint bit j = 1 iff the vote sum is positive.
    Portable across engines (md5 + substr + sum only). bits ≤ 32 (md5 hex len).
    """
    tok = _spread(docs).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("token")
    ).withColumn("h", F.md5("token"))
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else (fp + bit)
    return agg.select(id_col, fp.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash: band join (pigeonhole: ≤max_hamming diffs
    over ``bands`` bands ⇒ some band equal when bands > max_hamming), then
    exact Hamming verify via bit_count(xor).

    The fingerprint table is materialized once (``_materialize``); all band
    keys are projected off it in ONE explode (mirroring the MinHash
    ``band_structs`` shape) — the token-explode + vote aggregation, the
    dominant cost at corpus scale, is computed exactly once rather than once
    per band side (8× in the pre-materialization plan).

    First-matching-band emission (r6): a pair agreeing in k bands used to be
    emitted k times and collapsed by a ``distinct`` — on a near-dup-dense
    corpus that exchange carried ~4× the result size (sf0.1: 3.3M result
    pairs, ~13M emitted). Every band key is a pure function of the
    fingerprint (``(simhash >> j·band_bits) & mask``), so the join can
    require all LOWER bands to differ — each pair then leaves the join
    exactly once (from its minimal agreeing band) and the distinct exchange
    disappears from the plan. Result set is identical by construction."""
    fps = _materialize(simhash_fingerprints(docs, id_col, text_col, bits))
    band_bits = bits // bands
    mask = (1 << band_bits) - 1

    def band_key(fp: Column, j: int) -> Column:
        return F.shiftright(fp, j * band_bits).bitwiseAND(F.lit(mask))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                band_key(F.col("simhash"), band).alias("band_key"),
            )
            for band in range(bands)
        ]
    )
    banded = fps.select(
        F.col(id_col), F.col("simhash"), F.explode(band_structs).alias("_bk")
    ).select(
        id_col, "simhash", F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key")
    )
    a = banded.select(F.col(id_col).alias("a"), F.col("simhash").alias("sh_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("b"), F.col("simhash").alias("sh_b"), "band", "band_key")
    # emit from the minimal agreeing band only: for every lower band j the
    # two fingerprints' band keys must DIFFER (cheap bit math the optimizer
    # folds into the join condition) — pairs are unique without a distinct
    first_band = F.lit(True)
    for j in range(bands - 1):
        first_band = first_band & (
            (F.col("band") <= F.lit(j))
            | (band_key(F.col("sh_a"), j) != band_key(F.col("sh_b"), j))
        )
    return (
        a.join(b, ["band", "band_key"])
        .where((F.col("a") < F.col("b")) & first_band)
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_doc_freq: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup: rare-shingle candidate generation
    (doc-frequency ≤ max_doc_freq bounds the self-join fan-out — the standard
    trick that keeps this O(candidates), not O(n²)), then exact verify.

    The tokenize+shingle pass is computed once (``shingle_sets``) and shared
    by doc-frequency counting, the candidate self-join, and verification.
    ``max_doc_freq`` is a silent coverage cap (pairs sharing only high-DF
    shingles are never candidates) — pass an ``Observation`` to surface the
    candidate-pair count on the consuming action (no extra job):
    ``obs.get["candidate_pairs"]`` after the result is materialized."""
    sets = shingle_sets(docs, shingle_n, id_col, text_col)
    sh = sets.select(F.col("_id").alias(id_col), F.explode("_sh").alias("shingle"))
    # Two-phase doc-frequency gate. Phase 1 is a plain count (partial-agg
    # friendly: map-side combine, constant memory per key) — crucially it runs
    # BEFORE any collect_set, so a stop-word shingle that appears in ~every
    # document of a web corpus never materializes an O(n) doc array in an
    # aggregation buffer. Phase 2 collects doc lists only for shingles that
    # survived the DF ≤ max_doc_freq filter (each list is ≤ max_doc_freq
    # elements by construction); the semi-join output is hash-partitioned on
    # `shingle`, so the following groupBy reuses that exchange. The (a<b)
    # pair combinations are then emitted JVM-side from the bounded array with
    # nested `transform` — no rare-shingle self-join shuffle.
    dfc = _materialize(
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    )
    rare = dfc.where((F.col("_df") >= 2) & (F.col("_df") <= max_doc_freq)).select("shingle")
    holders = (
        sh.join(rare, "shingle", "left_semi")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set(id_col)).alias("_ids"))
    )
    pair_structs = F.flatten(
        F.transform(
            "_ids",
            lambda x, i: F.transform(
                F.slice("_ids", i + 2, F.size("_ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    # groupBy(a,b) instead of the former distinct — same exchange, but the
    # count is |A ∩ B ∩ Rare| for free: the pair (a,b) is emitted once per
    # rare shingle both docs hold.
    cands = (
        holders.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_shared_rare"))
    )
    if observation is not None:
        cands = cands.observe(observation, F.count(F.lit(1)).alias("candidate_pairs"))
    # Intersection upper-bound prune BEFORE the array-bearing verify joins
    # (the verify's array_intersect over every candidate dominated this
    # operator: sf0.1 emits 1.12M candidates for a 256-row result).
    #   |A∩B| = |A∩B∩Rare| + |A∩B∩Common| ≤ _shared_rare + min(|A∩C|,|B∩C|)
    # (df-1 shingles are never shared), and J(a,b) is monotone in the
    # intersection, so a pair whose bound already fails the threshold —
    # through the SAME floor(x·1e6+0.5) rounding the verify applies, making
    # the drop decision exactly the comparison the kept path would make on a
    # value ≥ the true one — can be dropped with zero effect on the result.
    # |X∩Common| is one narrow aggregate over the shingle stream; both prune
    # joins carry two ints per doc (skew-free, doc_id-keyed).
    common = dfc.where(F.col("_df") > max_doc_freq).select("shingle")
    per_doc = (
        sets.select(F.col("_id"), F.col("_n_sh"))
        .join(
            sh.join(common, "shingle", "left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("_n_common"))
            .withColumnRenamed(id_col, "_id"),
            "_id",
            "left",
        )
        .select("_id", "_n_sh", F.coalesce("_n_common", F.lit(0)).alias("_n_common"))
    )
    bounded = (
        cands.join(
            per_doc.select(
                F.col("_id").alias("a"), F.col("_n_sh").alias("_na"), F.col("_n_common").alias("_ca")
            ),
            "a",
        )
        .join(
            per_doc.select(
                F.col("_id").alias("b"), F.col("_n_sh").alias("_nb"), F.col("_n_common").alias("_cb")
            ),
            "b",
        )
        .withColumn("_ub", F.col("_shared_rare") + F.least("_ca", "_cb"))
        .where(
            F.floor(
                F.col("_ub") / (F.col("_na") + F.col("_nb") - F.col("_ub")) * 1000000
                + F.lit(0.5)
            )
            / 1000000
            >= threshold
        )
        .select("a", "b")
    )
    return jaccard_verify(bounded, docs, threshold, shingle_n, id_col, text_col, sets=sets)


def remove_repeated_lines(
    docs: DataFrame,
    min_docs: int = 2,
    line_sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RefinedWeb/CCNet-style boilerplate line removal: drop every line that
    occurs (trim-exact) in >= ``min_docs`` DISTINCT documents, and reassemble
    each document from its surviving lines in original order —
    (doc_id, text_clean, n_lines_kept, n_lines_dropped).

    Navigation menus, cookie banners, and footer text repeat across a site's
    pages; a line's cross-document frequency is the cheapest boilerplate
    signal (RefinedWeb §Line-wise filtering, CCNet paragraph dedup). Lines
    are compared by ``md5(trim(line))`` so indentation/padding differences
    collapse; empty lines repeat everywhere and are dropped with the rest.
    ``line_sep`` is a LITERAL separator (escaped before the split regex) and
    is also the join separator for ``text_clean``. Every input document
    returns exactly one row — a document whose lines are all boilerplate
    survives with ``text_clean = ''`` so downstream length filters (not a
    silent row loss) decide its fate.

    Scale shape, explicitly:
    * line doc-frequency = ``distinct(line, doc) -> groupBy(line).count()``
      — both steps partial-aggregate map-side, so reducers see at most one
      row per (line, task), never the raw occurrence stream;
    * the drop decision is a LEFT ANTI join of the line stream against the
      >=min_docs key set, keyed by the 128-bit line hash. A mega-hot line
      ("Home") concentrates its rows on one join key; AQE's skew-join
      splitting handles exactly this shape (the build side is keys-only and
      replicates per split). Nothing all-pairs, nothing per-doc unbounded;
    * reassembly groups by doc — the per-task buffer is one document's
      surviving lines, bounded by document size exactly like the parser;
    * per-doc line totals come from a pure projection over the original
      text (``size(split(..))``), NOT a second pass over the line stream.

    Reference analog: none — the crawler dedups whole pages by content hash
    (internal/parser flow); this extends that to intra-document line
    granularity for the training-data family.
    """
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    import re as _re

    sep_re = _re.escape(line_sep)
    split_col = F.split(F.col(text_col), sep_re, -1)
    lines = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(split_col).alias("pos", "line"),
    ).withColumn("_k", F.md5(F.trim(F.col("line"))))
    boiler = (
        lines.select("_k", "doc_id")
        .distinct()
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("_k")
    )
    kept = lines.join(boiler, "_k", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            line_sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("_kept"),
    )
    totals = docs.select(
        F.col(id_col).alias("doc_id"), F.size(split_col).alias("_n")
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        F.coalesce("_kept", F.lit(0)).cast("int").alias("n_lines_kept"),
        (F.col("_n") - F.coalesce("_kept", F.lit(0))).cast("int").alias("n_lines_dropped"),
    )
