"""One crawl round as a single declarative DataFrame lineage (SURVEY.md §3.2).

The reference's per-message pipeline (crawler.go:92-259 → parser.go:80-229)
becomes, per round r:

    eligible  = url_state WHERE status∈(pending,crawling) AND next_round≤r AND depth≤max_depth
    domains  ⊕= robots rows for newly-seen politeness keys       (J2/S14)
    allowed   = eligible ⋈ broadcast(domains) robots-gated       (F5)
    selected  = politeness token-bucket window rank               (O1/O2, F6)
    fetched   = selected ⋈ pages ON url                           (J4/S8 — the "fetch")
    fail path = retry++ / failed / backoff next_round             (U4, P11)
    parsed    = sha2 dedup (J3/D3) → parse pandas UDF (P7/P8) → keys (P6)
    children  = posexplode(links) → depth gate (F11) → hostname (F12)
                → intra-round first-wins (D2) → anti-join seen set (J1)
    MERGE url_state, domains; APPEND crawl_results, quarantine, lineage; commit

Everything except the pandas-UDF kernels stays in whole-stage codegen:
sha2, xxhash64, window ranks, joins, explode are all JVM-side expressions.
Column pruning pushes the ``pages`` scan down to (url, html, lang) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..schemas import (
    CRAWL_RESULTS_SCHEMA,
    LINEAGE_SCHEMA,
    QUARANTINE_SCHEMA,
    URL_STATE_SCHEMA,
)
from ..functions.udfs import (
    crawl_delay_udf,
    hostname_udf,
    html_key_udf,
    parse_page_udf,
    registrable_domain_udf,
    robots_allowed_udf,
    text_key_udf,
)
from ..operators.politeness import advance_clock, politeness_select
from ..store import SnapshotStore

_STATE_COLS = [f.name for f in URL_STATE_SCHEMA.fields]


def _with_keys(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("url_hash", F.xxhash64("url")).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def _backoff_rounds_expr(retry, cfg: CrawlConfig):
    """Column mirror of functions/backoff.backoff_rounds — same IEEE-double
    op order (base + (jitter·0.5)·base, ·1000.0, /round_ms, ceil, min 1) so
    engine and oracle stay bit-identical for any configured jitter."""
    base = F.pow(F.lit(2.0), retry)
    secs = base + F.lit(cfg.backoff_jitter * 0.5) * base
    return F.greatest(F.lit(1), F.ceil(secs * 1000.0 / cfg.round_ms))


def _mat(df: DataFrame) -> DataFrame:
    """Materialize a round-scoped intermediate: an eager localCheckpoint pays
    one planning pass up front and every consumer then plans against a tiny
    LogicalRDD. Measured fastest against a lazy checkpoint and against
    ``persist()``, which keeps the lineage, so every action re-analyzes the
    full tree."""
    return df.localCheckpoint(eager=True)


def _pkey(cfg: CrawlConfig):
    if cfg.politeness_key == "registrable_domain":
        return registrable_domain_udf(F.col("host"))
    return F.col("host")


def discover_domains(
    pkeys: DataFrame, domains: DataFrame, pages: DataFrame, cfg: CrawlConfig, r: int
) -> DataFrame:
    """Robots rows for politeness keys not yet in ``domains`` (J5 + S14).

    Robots bodies come from the closed world: the reference fetches
    https://<domain>/robots.txt (robots.go:122); missing page ⇒ empty body
    ⇒ allow-all at default delay (robots.go:137-141). ``pkeys`` needs one
    column ``pkey``; shared by the per-round upsert below and the bench
    seeder (plans/bench.py) so a pre-seeded warehouse holds byte-identical
    domain rows to the ones round 0 would have built.
    """
    robots_pages = pages.where(F.col("url").endswith("/robots.txt")).select(
        F.col("url").alias("_robots_url"), F.col("html").cast("string").alias("robots_body")
    )
    return (
        pkeys.distinct()
        .join(domains.select(F.col("host").alias("pkey")), "pkey", "left_anti")
        .withColumn("_robots_url", F.concat(F.lit("https://"), F.col("pkey"), F.lit("/robots.txt")))
        .join(robots_pages, "_robots_url", "left")
        .select(
            F.col("pkey").alias("host"),
            F.col("robots_body"),
            (
                crawl_delay_udf(F.col("robots_body"))
                if cfg.respect_robots_txt
                # robots disabled ⇒ default pacing (crawler.go:152-169)
                else F.lit(cfg.default_crawl_delay_ms).cast("int")
            ).alias("crawl_delay_ms"),
            F.lit(0).cast("long").alias("next_free_ms"),
            F.lit(r).cast("long").alias("first_seen_round"),
        )
    )


def run_round(
    spark: SparkSession,
    store: SnapshotStore,
    pages: DataFrame,
    cfg: CrawlConfig,
    r: int,
    fetched_total: int,
) -> dict:
    """Execute round ``r``; commits atomically; returns progress stats.

    ``stage_secs`` in the returned stats is the wall time between the round's
    materialization barriers (eager localCheckpoints + the commit), plus the
    commit's own sub-steps under ``commit_sub`` — ``perf_counter`` ticks in
    this process that start no Spark job."""
    import time as _time

    stage_secs: dict = {}
    _tick_last = [_time.perf_counter()]

    def _tick(label: str) -> None:
        now = _time.perf_counter()
        stage_secs[label] = round(now - _tick_last[0], 2)
        _tick_last[0] = now

    state = store.read("url_state")
    domains = store.read("domains")

    seen_filter = store.read("seen_filter")
    if cfg.use_seen_bloom:
        c = store.latest_commit()
        if c is None or "seen_filter" not in c.get("tables", {}):
            # Invariant: the Bloom filter must contain EVERY url in url_state
            # (a miss is treated as certainly-new). First round with the
            # filter enabled builds it from the full state; afterwards it is
            # updated incrementally with each round's new children.
            from ..operators.dedup import update_seen_filter

            seen_filter = update_seen_filter(
                state.select("url_hash", "bucket"),
                seen_filter,
                cfg.bloom_nbits_per_bucket,
                cfg.bloom_num_hashes,
            ).localCheckpoint(eager=True)

    frontier = state.where(F.col("status").isin("pending", "crawling"))
    # frontier size is DERIVED from the previous round's merge metrics (no
    # count job over state); fallback scan-count only for pre-metric markers
    c = store.latest_commit()
    frontier_pending = None
    if c is not None:
        m = c.get("meta", {})
        if "frontier_pending_after" in m:
            frontier_pending = m["frontier_pending_after"]
    if frontier_pending is None:
        frontier_pending = frontier.count()
    if frontier_pending == 0:
        store.commit(
            r,
            meta={
                "frontier_pending": 0,
                "frontier_pending_after": 0,
                "scheduled": 0,
                "fetched": 0,
                "fetched_total": fetched_total,
                "config_hash": cfg.config_hash(),
            },
        )
        return {
            "frontier_pending": 0,
            "frontier_pending_after": 0,
            "scheduled": 0,
            "fetched": 0,
            "fetched_total": fetched_total,
        }

    backpressured = (
        cfg.frontier_backpressure is not None and frontier_pending > cfg.frontier_backpressure
    )

    # O4: lossy frontier trim (queue/publisher.go:12,29-33 — XAdd MaxLen
    # evicts the oldest stream entries). Keep the newest `frontier_trim`
    # rows by (discovered_round, depth, seq); victims become 'trimmed'
    # (terminal — they stay in the seen set, exactly like a stranded
    # pending row in the reference's DB after its stream entry is evicted).
    trimmed = None
    if cfg.frontier_trim is not None and frontier_pending > cfg.frontier_trim:
        from ..operators.ranking import global_row_number

        n_drop = frontier_pending - cfg.frontier_trim
        ranked = global_row_number(
            frontier,
            ["discovered_round", "depth", "seq"],
            "_age_rank",
            num_partitions=cfg.shuffle_partitions,
        )
        trimmed = _mat(ranked.where(F.col("_age_rank") < n_drop).drop("_age_rank"))
        frontier = ranked.where(F.col("_age_rank") >= n_drop).drop("_age_rank")

    eligible = frontier.where(
        (F.col("next_round") <= r) & (F.col("depth") <= cfg.max_depth)
    ).withColumn("pkey", _pkey(cfg))

    # --- domains upsert for newly-seen politeness keys (J5 + S14) -----------
    # Empty-probe first: a steady-state round (and every pre-seeded bench
    # round) discovers no new keys, so the robots corpus scan, the union, and
    # a full re-checkpoint of the domains table are all skipped — the round
    # pays one distinct+anti-join probe and reads domains straight from the
    # store's parquet. Discovery rounds fall through to the upsert.
    new_pkeys = eligible.select("pkey").join(
        domains.select(F.col("host").alias("pkey")), "pkey", "left_anti"
    )
    if new_pkeys.isEmpty():
        domains_all = domains
    else:
        domains_all = _mat(
            domains.unionByName(
                discover_domains(eligible.select("pkey"), domains, pages, cfg, r)
            )
        )
    _tick("domains")

    # --- robots gate (F5), evaluated EXACTLY ONCE per round ------------------
    # The verdict column is checkpointed on a slim projection (bodies
    # dropped): robots_body is ~KB per row, so letting downstream jobs
    # (politeness fast-path check, fetch broadcast build, the delta write's
    # denied branch) re-derive the gate would rebuild the body-bearing
    # broadcast and re-ship every body through Arrow 3× per round. After
    # this barrier the bodies exist only inside domains_all.
    base = eligible.join(
        F.broadcast(
            domains_all.select(
                F.col("host").alias("pkey"),
                "robots_body",
                "crawl_delay_ms",
                "next_free_ms",
            )
        ),
        "pkey",
    )
    gated = _mat(
        base.withColumn(
            "_allowed",
            robots_allowed_udf("robots_body", "url")
            if cfg.respect_robots_txt
            else F.lit(True),
        ).drop("robots_body")
    )

    # --- politeness token bucket (O1/O2) ------------------------------------
    selected = politeness_select(
        gated.where(F.col("_allowed")),
        round_idx=r,
        round_ms=cfg.round_ms,
        salt_buckets=cfg.host_salt_buckets,
        round_capacity=cfg.round_capacity,
        key_col="pkey",
        try_fast_path=cfg.round_ms >= cfg.politeness_fastpath_min_round_ms,
        # fast path = a filter over the gated cache (no extra barrier); the
        # rank path shuffles, so its output is checkpointed before the four
        # consumers below (fetch broadcast, clock, failed anti-join, delta)
        materialize=_mat,
    ).drop("_allowed", "next_free_ms", "host_rank")
    _tick("select")

    # Robots-denied rows: the verdict is already a cached column, so the
    # delta-write job reads it back instead of re-running the pandas UDF.
    # Politeness-deferred rows stay in the frontier (no upsert), exactly as
    # before — they are _allowed and simply not selected.
    denied = gated.where(~F.col("_allowed"))

    clock = advance_clock(selected, key_col="pkey")

    # --- fetch = closed-world join (J4/S8) + content-type gate (F8) ---------
    # INNER join, selected side broadcast when the frontier is round-sized:
    # page payloads then NEVER shuffle — the join is a map-side hash probe on
    # the pages scan and html dies inside the same fused projection below.
    # Missing pages / null html / binary rows simply don't survive the gate
    # and surface on the failure path via the anti-join (U4).
    fetch_small = frontier_pending <= cfg.fetch_broadcast_max_rows
    sel_side = F.broadcast(selected) if fetch_small else selected
    fetched = pages.select("url", "html", "lang").join(sel_side, "url").where(
        F.col("html").isNotNull() & (F.coalesce(F.col("lang"), F.lit("")) != "binary")
    )

    # hash / keys / parse all in ONE map-side projection over the fetch join
    # output: the html bytes cross to the Python workers exactly once (Spark
    # fuses the pandas UDFs in a single ArrowEvalPython node), sha2 runs where
    # the bytes live, and html is dropped before anything materializes.
    # Divergence note: the reference dedups content BEFORE parsing
    # (parser.go:111-128) to save the parse; here duplicate pages are parsed
    # and their parse output discarded — identical results, and the dup
    # fraction is bounded, while re-shuffling html to parse after the dedup
    # verdict would cost far more at scale.
    ok_rows = _mat(
        fetched
        .withColumn("content_hash", F.sha2(F.col("html"), 256))
        .withColumn("html_bytes", F.length("html").cast("long"))
        .withColumn("html_key", html_key_udf("url"))
        .withColumn("text_key", text_key_udf("url"))
        .withColumn("_parsed", parse_page_udf("html", "url"))
        .withColumn("text", F.col("_parsed.text"))
        .withColumn("links", F.col("_parsed.links"))
        .drop("_parsed", "html", "lang")
    )
    _tick("fetch_parse")

    # Ordering + dedup decisions run on a SLIM projection of the cached parse
    # output — page payloads never enter a window shuffle, and the corpus is
    # scanned (and hashed) exactly once per round.
    #
    # crawl_seq: global fetch order = frontier priority (depth, seq),
    # computed by the literal-bounds distributed rank (no single-
    # partition window — scale-safe for politeness-unbounded mega rounds).
    from ..operators.ranking import global_row_number

    slim = ok_rows.select("url", "depth", "seq", "content_hash")
    # first-wins content dedup WITHOUT a per-hash window: a boilerplate
    # template fetched from 10^6+ mirror URLs in one round would funnel its
    # whole hash group into one window task. The winner is the minimum
    # (depth, seq) — the exact order crawl_seq ranks — so a map-side-
    # combinable min aggregate joined back flags duplicates identically
    # (one row per hash on the build side; AQE handles probe-side skew).
    first_fetch = slim.groupBy("content_hash").agg(
        F.min(F.struct("depth", "seq")).alias("_first")
    )
    ranked = global_row_number(
        slim, ["depth", "seq"], "crawl_seq",
        num_partitions=cfg.shuffle_partitions, start=fetched_total,
        # frontier size is a free upper bound on fetched rows — spares the
        # rank's blocking count job (bounds affect load balance only)
        approx_count=frontier_pending,
    ).join(first_fetch, "content_hash")
    # Cross-round half of D3: hashes already parsed in PRIOR rounds. A parsed
    # row implies a past round with n_fetched ≥ 1, so fetched_total == 0 (the
    # caller's running total, restored from the commit marker on resume)
    # proves the state holds no parsed rows — the scan + distinct subtree is
    # skipped entirely on round 0 and on every full-frontier bench round.
    if fetched_total > 0:
        prior_hashes = (
            state.where(F.col("status") == "parsed")
            .select("content_hash")
            .distinct()
            .withColumn("_prior_dup", F.lit(True))
        )
        ranked = ranked.join(prior_hashes, "content_hash", "left")
        prior_dup = F.col("_prior_dup").isNotNull()
    else:
        prior_dup = F.lit(False)
    flags = _mat(
        ranked.withColumn(
            "dup_content",
            (F.struct("depth", "seq") > F.col("_first")) | prior_dup,
        )
        .select("url", "crawl_seq", "dup_content")
    )
    _tick("rank_dedup")
    # cheap map-side stitch of two cached sets — consumers re-join from
    # cache instead of re-materializing a third full copy of text+links
    hashed = ok_rows.join(F.broadcast(flags) if fetch_small else flags, "url")

    failed_rows = selected.join(ok_rows.select("url"), "url", "left_anti").withColumn(
        "_retry", F.col("retry_count") + 1
    )

    parsed = hashed.where(~F.col("dup_content"))

    # --- children (F10/F11/F12, D2, J1) -------------------------------------
    if backpressured:
        children = spark.createDataFrame([], URL_STATE_SCHEMA)
    else:
        exploded = (
            parsed.where(F.col("depth") + 1 <= cfg.max_depth)
            .select(
                F.col("seq").alias("parent_seq"),
                (F.col("depth") + 1).alias("depth"),
                # cap the per-page link fan-out to the seq stride so child
                # seq = parent_seq·stride + pos + 1 can never collide with
                # the next parent's range (parser.go:196-208 uses the same
                # bounded stride)
                F.posexplode(F.slice("links", 1, cfg.max_links_per_page)).alias("pos", "url"),
            )
            .withColumn("host", hostname_udf("url"))
            .where(F.col("host").isNotNull() & (F.col("host") != ""))
            .withColumn(
                "seq",
                F.col("parent_seq") * F.lit(cfg.max_links_per_page) + F.col("pos") + 1,
            )
        )
        # per-URL first-wins (D2 in-round half) as a min aggregate, not a
        # window: a hub URL linked from every page of a large domain would
        # put all its discovery rows in one window task. (depth, seq) is
        # injective across parents (seq = parent_seq·M + pos), so the min
        # struct is the exact row_number()==1 winner; host rides inside the
        # struct (it is a function of url — any winner carries the same one).
        deduped = (
            exploded.groupBy("url")
            .agg(F.min(F.struct("depth", "seq", "host")).alias("_m"))
            .select(
                "url",
                F.col("_m.host").alias("host"),
                F.col("_m.depth").alias("depth"),
                F.col("_m.seq").alias("seq"),
            )
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.state_buckets)).cast("int"))
        )
        if cfg.use_seen_bloom:
            # J1 at scale: Bloom-negative children skip the exact anti-join
            # entirely; positives are verified exactly — no false drops.
            from ..operators.dedup import filter_unseen

            unseen = filter_unseen(deduped, state, seen_filter)
        else:
            unseen = deduped.join(state.select("url"), "url", "left_anti")
        children = (
            unseen
            .select(  # noqa: E131
                "url",
                F.col("host"),
                F.col("depth").cast("int"),
                F.col("seq").cast("long"),
                F.lit("pending").alias("status"),
                F.lit(0).alias("retry_count"),
                F.lit(r + 1).cast("long").alias("next_round"),
                F.lit(None).cast("string").alias("content_hash"),
                F.lit(None).cast("string").alias("html_key"),
                F.lit(None).cast("string").alias("text_key"),
                F.lit(r).cast("long").alias("discovered_round"),
            )
        )
        # materialized once: consumed by BOTH the url_state merge and the
        # seen_filter incremental update (otherwise the explode→dedup→bloom
        # pipeline runs twice)
        children = _mat(_with_keys(children, cfg.state_buckets).select(*_STATE_COLS))
        _tick("children")

    # --- state updates (U1-U6) ----------------------------------------------
    def as_state(df: DataFrame, **overrides) -> DataFrame:
        cols = []
        for name in _STATE_COLS:
            if name in overrides:
                cols.append(overrides[name].alias(name))
            else:
                cols.append(F.col(name))
        return df.select(*cols)

    upd_denied = as_state(denied, status=F.lit("skipped"))
    upd_failed = as_state(
        failed_rows,
        status=F.when(F.col("_retry") >= cfg.max_retries, "failed").otherwise("crawling"),
        retry_count=F.col("_retry"),
        next_round=F.when(F.col("_retry") >= cfg.max_retries, F.col("next_round")).otherwise(
            F.lit(r) + _backoff_rounds_expr(F.col("_retry"), cfg)
        ).cast("long"),
    )
    # ONE pass over the cached fetch output for both outcomes (the former
    # dup/parsed branch pair made the delta-write job deserialize the
    # text+links-bearing ok_rows cache twice). Dup pages: reference stores
    # only status + html link (parser.go:123; content_hash is persisted
    # solely by UpdateURLParsed) — hash and text_key stay null.
    dup = F.col("dup_content")
    upd_ok = as_state(
        hashed,
        status=F.when(dup, F.lit("skipped")).otherwise(F.lit("parsed")),
        content_hash=F.when(dup, F.lit(None).cast("string")).otherwise(F.col("content_hash")),
        html_key=F.col("html_key"),
        text_key=F.when(dup, F.lit(None).cast("string")).otherwise(F.col("text_key")),
    )

    # Bucket-partial MERGE: the round ships only its upserts (touched rows +
    # new children); the store rewrites just the buckets they hash into and
    # keeps every untouched bucket's files — per-round write cost is
    # O(round footprint), not O(total state).
    upserts = (
        upd_denied.unionByName(upd_failed)
        .unionByName(upd_ok)
        .unionByName(children)
        .select(*_STATE_COLS)
    )
    if trimmed is not None:
        upserts = upserts.unionByName(as_state(trimmed, status=F.lit("trimmed")))

    # --- domains politeness clock advance -----------------------------------
    new_domains_state = (
        domains_all.join(clock, domains_all["host"] == clock["pkey"], "left")
        .select(
            domains_all["host"],
            "robots_body",
            "crawl_delay_ms",
            F.coalesce(F.col("new_next_free_ms"), F.col("next_free_ms")).alias("next_free_ms"),
            "first_seen_round",
        )
    )

    # --- outputs -------------------------------------------------------------
    # single pass over the cached fetch output (dup rows just null out the
    # text columns in place — no second union branch re-reading the cache)
    results = hashed.select(
        F.lit(r).cast("long").alias("round"),
        F.col("crawl_seq"),
        "url",
        "depth",
        "host",
        "content_hash",
        "html_key",
        "dup_content",
        F.when(~dup, F.col("text")).alias("text"),
        F.when(~dup, F.col("text_key")).alias("text_key"),
        F.when(~dup, F.coalesce(F.size("links"), F.lit(0))).alias("n_links"),
        F.col("html_bytes"),
    )

    quarantine = failed_rows.where(F.col("_retry") >= cfg.max_retries).select(
        F.lit(r).cast("long").alias("round"),
        "url",
        "depth",
        "host",
        F.lit("max_retries").alias("reason"),
        F.col("_retry").alias("retry_count"),
    )

    def _stage_lineage(df, stage, bytes_col):
        return (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.countDistinct("host").alias("distinct_hosts"),
                F.coalesce(F.sum(bytes_col), F.lit(0)).cast("long").alias("bytes"),
            )
            .select(
                F.lit(r).cast("long").alias("round"),
                F.lit(stage).alias("stage"),
                "partition_id",
                "rows",
                "distinct_hosts",
                "bytes",
            )
        )

    lineage = _stage_lineage(hashed, "fetch_ok", F.col("html_bytes")).unionByName(
        _stage_lineage(failed_rows, "fetch_fail", F.lit(0))
    )

    snapshots = {"domains": new_domains_state}
    if cfg.use_seen_bloom:
        from ..operators.dedup import update_seen_filter

        snapshots["seen_filter"] = update_seen_filter(
            children.select("url_hash", "bucket"),
            seen_filter,
            cfg.bloom_nbits_per_bucket,
            cfg.bloom_num_hashes,
        )

    # Per-round counters ride the delta write as Observations — no dedicated
    # count() jobs. Upsert rows map 1:1 onto round outcomes:
    #   parsed | skipped+html_key  → fetched-ok (dup or parsed)    [scheduled]
    #   crawling | failed          → fetch failures (retry/dead)   [scheduled]
    #   skipped + null html_key    → robots-denied (not scheduled)
    #   discovered_round == r      → new children
    # and every non-child upsert row left the frontier unless its new status
    # is pending/crawling again.
    metric_exprs = {
        "n_rows": F.count(F.lit(1)),
        "n_children": F.count(F.when(F.col("discovered_round") == r, 1)),
        "n_pending_now": F.count(F.when(F.col("status").isin("pending", "crawling"), 1)),
        "n_fetched": F.count(
            F.when(
                (F.col("status") == "parsed")
                | ((F.col("status") == "skipped") & F.col("html_key").isNotNull()),
                1,
            )
        ),
        "n_failed": F.count(F.when(F.col("status").isin("crawling", "failed"), 1)),
    }

    def finalize(collected: dict) -> dict:
        mm = collected["url_state"]
        n_fetched = int(mm["n_fetched"])
        return {
            "scheduled": n_fetched + int(mm["n_failed"]),
            "fetched": n_fetched,
            "fetched_total": fetched_total + n_fetched,
            "frontier_pending_after": frontier_pending
            - (int(mm["n_rows"]) - int(mm["n_children"]))
            + int(mm["n_pending_now"]),
        }

    marker = store.commit(
        r,
        snapshots=snapshots,
        merges={"url_state": upserts},
        appends={"crawl_results": results, "quarantine": quarantine, "lineage": lineage},
        meta={
            "frontier_pending": frontier_pending,
            "config_hash": cfg.config_hash(),
            "backpressured": backpressured,
        },
        merge_metrics={"url_state": metric_exprs},
        meta_fn=finalize,
    )
    # no explicit release of round-scoped storage: every intermediate above
    # is a localCheckpoint (never in the CacheManager, so unpersist() would
    # be a no-op). Its blocks live until the checkpointed RDD is GC'd on the
    # driver, and the ContextCleaner then drops them asynchronously, which
    # keeps executor storage per-round across a long crawl.
    _tick("commit")

    fm = marker["meta"]
    stats = {
        "frontier_pending": frontier_pending,
        "frontier_pending_after": fm["frontier_pending_after"],
        "scheduled": fm["scheduled"],
        "fetched": fm["fetched"],
        "fetched_total": fm["fetched_total"],
        "stage_secs": {**stage_secs, "commit_sub": fm["commit_sub_secs"]},
    }
    if fm["scheduled"] == 0 and fm["frontier_pending_after"] > 0:
        # pure wait round (every pending URL is backing off): tell the loop
        # how far to fast-forward — rounds in (r, min_next) are provably
        # no-ops (nothing eligible), identical to the oracle's `continue`.
        # One tiny agg job, only on this rare path.
        min_next = frontier.agg(F.min("next_round")).collect()[0][0]
        if min_next is not None and min_next > r + 1:
            stats["skip_to"] = int(min_next)
    return stats
