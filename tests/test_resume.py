"""Resumability (north rule): kill after round k, resume, identical final
state; uncommitted round data is ignored (SURVEY.md §4.3.4)."""

import json

import pytest

from nimbus_crawler_spark.config import CrawlConfig
from nimbus_crawler_spark.plans.crawl import crawl
from nimbus_crawler_spark.sources.corpus import corpus_to_pages_df, make_corpus
from nimbus_crawler_spark.store import SnapshotStore


@pytest.fixture(scope="module")
def small(spark):
    corpus = make_corpus(seed=11, n_hosts=3, pages_per_host=6)
    return corpus, corpus_to_pages_df(spark, corpus)


@pytest.fixture(scope="module")
def lossless_final(spark, small, tmp_path_factory):
    """One uninterrupted reference crawl, shared by every equality test."""
    corpus, pages = small
    wh = str(tmp_path_factory.mktemp("ref") / "full")
    crawl(spark, wh, pages, corpus.seeds_text, CrawlConfig(round_ms=4000), max_rounds=60)
    return _final_state(spark, wh)


def _final_state(spark, wh):
    store = SnapshotStore(spark, wh)
    return (
        {r["url"]: (r["status"], r["retry_count"]) for r in store.read("url_state").collect()},
        sorted(
            (r["crawl_seq"], r["url"]) for r in store.read_appends("crawl_results").collect()
        ),
        store.latest_commit()["meta"].get("fetched_total"),
    )


def test_interrupt_and_resume_equals_uninterrupted(spark, small, lossless_final, tmp_path):
    corpus, pages = small
    cfg = CrawlConfig(round_ms=4000)

    # "kill" after 3 rounds, then resume to completion
    wh = str(tmp_path / "resumed")
    crawl(spark, wh, pages, corpus.seeds_text, cfg, max_rounds=3)
    crawl(spark, wh, pages, None, cfg, max_rounds=60, resume=True)
    assert _final_state(spark, wh) == lossless_final


def test_resume_without_fetched_total_counts_content_dups(spark, small, lossless_final, tmp_path):
    """A marker without ``fetched_total`` (older format, externally seeded
    warehouse) makes resume recount it from state. Content-dup rows
    (skipped, html_key set) were fetched and hold crawl_seq values too; a
    recount of parsed rows alone would hand those numbers out again."""
    from pyspark.sql import functions as F

    corpus, pages = small
    cfg = CrawlConfig(round_ms=4000)
    wh = tmp_path / "legacy"
    crawl(spark, str(wh), pages, corpus.seeds_text, cfg, max_rounds=3)
    state = SnapshotStore(spark, str(wh)).read("url_state")
    assert state.where((F.col("status") == "skipped") & F.col("html_key").isNotNull()).count() > 0

    marker = max((wh / "_commits").glob("c*.json"))
    m = json.loads(marker.read_text())
    del m["meta"]["fetched_total"]
    marker.write_text(json.dumps(m))

    crawl(spark, str(wh), pages, None, cfg, max_rounds=60, resume=True)
    _, results, fetched_total = _final_state(spark, str(wh))
    seqs = [s for s, _ in results]
    assert len(seqs) == len(set(seqs)), "crawl_seq reused after resume"
    assert (results, fetched_total) == lossless_final[1:]


def test_uncommitted_round_data_is_ignored(spark, small, lossless_final, tmp_path):
    corpus, pages = small
    cfg = CrawlConfig(round_ms=4000)
    wh = tmp_path / "torn"
    crawl(spark, str(wh), pages, corpus.seeds_text, cfg, max_rounds=2)
    store = SnapshotStore(spark, str(wh))
    committed = store.latest_round()

    # simulate a torn write: version dir beyond the last commit, no marker
    torn = wh / "url_state" / "v99999999"
    torn.mkdir(parents=True)
    (torn / "part-00000.parquet").write_bytes(b"garbage not parquet")
    # and a leftover commit tmp file
    (wh / "_commits" / ".tmp-99999999.json").write_text("{}")

    assert store.latest_round() == committed  # torn data invisible
    crawl(spark, str(wh), pages, None, cfg, max_rounds=60, resume=True)
    assert _final_state(spark, str(wh))[0] == lossless_final[0]


def test_commit_marker_contents(spark, small, tmp_path):
    corpus, pages = small
    wh = str(tmp_path / "meta")
    crawl(spark, wh, pages, corpus.seeds_text, CrawlConfig(), max_rounds=2)
    store = SnapshotStore(spark, wh)
    c = store.latest_commit()
    assert c["round"] == 1
    assert "url_state" in c["tables"] and "domains" in c["tables"]
    assert "crawl_results" in c["appends"]
    assert "config_hash" in c["meta"]
    # markers are sequential and json-valid
    commits = sorted((tmp_path / "meta" / "_commits").glob("c*.json"))
    assert len(commits) == 3  # seed + 2 rounds
    for p in commits:
        json.loads(p.read_text())


def _mk_state(spark, urls, status="pending", buckets=32):
    from pyspark.sql import functions as F

    from nimbus_crawler_spark.schemas import URL_STATE_SCHEMA

    rows = [(u, 0, 0, "h", 0, i, status, 0, 0, None, None, None, 0) for i, u in enumerate(urls)]
    df = spark.createDataFrame(rows, URL_STATE_SCHEMA)
    return df.withColumn("url_hash", F.xxhash64("url")).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int")
    )


def test_bucket_partial_merge_writes_scale_with_round(spark, tmp_path):
    """A merge commit rewrites only touched buckets: bytes << full snapshot,
    untouched buckets served from prior segment files (Iceberg MERGE analog)."""
    store = SnapshotStore(spark, str(tmp_path / "merge"))
    base = [f"https://h/{i}" for i in range(400)]
    store.commit(-1, snapshots={"url_state": _mk_state(spark, base)})
    base_bytes = store.latest_commit()["meta"]["write_stats"]["url_state"]["bytes"]

    upd = _mk_state(spark, base[:5] + ["https://h/new1", "https://h/new2"], status="parsed")
    store.commit(0, merges={"url_state": upd})
    c = store.latest_commit()
    assert isinstance(c["tables"]["url_state"], dict)  # composite bucket map
    st = c["meta"]["write_stats"]["url_state"]
    assert st["touched_buckets"] < 32 and not st["compacted"]
    assert st["bytes"] < base_bytes / 2  # O(round), not O(state)

    got = {r["url"]: r["status"] for r in store.read("url_state").collect()}
    assert len(got) == 402
    assert got["https://h/0"] == "parsed" and got["https://h/new1"] == "parsed"
    assert got["https://h/399"] == "pending"  # untouched bucket still served


def test_compaction_boundary_resume_with_torn_segment(spark, tmp_path):
    """Read-path exactness at EVERY round of a merge sequence that crosses
    the compaction boundary, with a simulated kill between segment write and
    marker at the boundary round and a store re-open (resume) mid-sequence.

    The torn attempt leaves segment/delta dirs with no marker — they must be
    invisible, and the retried commit (overwrite mode) must supersede them;
    non-compacting merge commits must stay O(round), not O(state), on both
    sides of the compaction."""
    wh = tmp_path / "cb"
    store = SnapshotStore(spark, str(wh), max_segments=6)
    base = [f"https://h/{i}" for i in range(200)]
    store.commit(-1, snapshots={"url_state": _mk_state(spark, base)})
    base_bytes = store.latest_commit()["meta"]["write_stats"]["url_state"]["bytes"]
    expected = {u: "pending" for u in base}

    for r in range(9):  # crosses the 6-segment cap (compaction fires mid-loop)
        if r == 3:
            store = SnapshotStore(spark, str(wh), max_segments=6)  # resume re-open
        upd_urls = [f"https://h/x{r}-{j}" for j in range(3)] + [base[r]]
        if r == 4:
            # kill between segment write and marker: a prior attempt at THIS
            # round left garbage segment + delta dirs and a commit tmp file
            for rel in (f"url_state/m{r + 1:08d}", f"url_state/u{r + 1:08d}"):
                d = wh / rel
                d.mkdir(parents=True, exist_ok=True)
                (d / "part-00000.parquet").write_bytes(b"garbage not parquet")
            (wh / "_commits" / f".tmp-{r + 1:08d}.json").write_text("{}")
            # torn data is invisible before the retry commits
            got = {row["url"]: row["status"] for row in store.read("url_state").collect()}
            assert got == expected
        store.commit(r, merges={"url_state": _mk_state(spark, upd_urls, status="parsed")})
        for u in upd_urls:
            expected[u] = "parsed"
        got = {row["url"]: row["status"] for row in store.read("url_state").collect()}
        assert got == expected, f"read-path mismatch after round {r}"
        st = store.latest_commit()["meta"]["write_stats"]["url_state"]
        if not st["compacted"]:
            assert st["bytes"] < base_bytes / 2  # O(round) on both sides

    markers = [
        json.loads(p.read_text()) for p in sorted((wh / "_commits").glob("c*.json"))
    ]
    assert any(
        m["meta"]["write_stats"].get("url_state", {}).get("compacted") for m in markers[1:]
    )
    # final entry shape: a composite bucket map or a post-compaction snapshot
    entry = markers[-1]["tables"]["url_state"]
    if isinstance(entry, dict):
        dirs = set(entry["buckets"].values()) | ({entry["star"]} if entry["star"] else set())
        assert len(dirs) <= 6


def test_time_travel_reads(spark, tmp_path):
    """Iceberg-style time travel: read(table, as_of_round=r) reproduces the
    exact post-commit state of round r (across bucket-partial merges), and
    read_appends truncates to the deltas committed by then."""
    from nimbus_crawler_spark.schemas import LINEAGE_SCHEMA

    store = SnapshotStore(spark, str(tmp_path / "tt"))
    base = [f"https://h/{i}" for i in range(60)]
    store.commit(-1, snapshots={"url_state": _mk_state(spark, base)})
    history = {-1: {u: "pending" for u in base}}
    for r in range(3):
        upd = [base[r], f"https://h/n{r}"]
        lineage = spark.createDataFrame(
            [(r, "fetch_ok", 0, 1, 1, 0)], LINEAGE_SCHEMA
        )
        store.commit(
            r,
            merges={"url_state": _mk_state(spark, upd, status="parsed")},
            appends={"lineage": lineage},
        )
        history[r] = dict(history[r - 1])
        for u in upd:
            history[r][u] = "parsed"
    for r in (-1, 0, 1, 2):
        got = {
            row["url"]: row["status"]
            for row in store.read("url_state", as_of_round=r).collect()
        }
        assert got == history[r], f"time travel to round {r}"
        n_appends = store.read_appends("lineage", as_of_round=r).count()
        assert n_appends == r + 1
    # latest == as_of latest; before-first-commit is empty
    assert store.read("url_state").count() == store.read("url_state", as_of_round=2).count()
    assert store.read("url_state", as_of_round=-2).count() == 0


def test_merge_compaction_bounds_segments(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "compact"), max_segments=3)
    base = [f"https://h/{i}" for i in range(50)]
    store.commit(-1, snapshots={"url_state": _mk_state(spark, base)})
    for r in range(4):
        store.commit(r, merges={"url_state": _mk_state(spark, [f"https://h/x{r}"])})
    c = store.latest_commit()
    # live segment count stays bounded by max_segments
    entry = c["tables"]["url_state"]
    if isinstance(entry, dict):
        dirs = set(entry["buckets"].values()) | ({entry["star"]} if entry["star"] else set())
        assert len(dirs) <= 3
    assert any(
        json.loads((tmp_path / "compact" / "_commits" / p.name).read_text())["meta"][
            "write_stats"
        ]["url_state"].get("compacted")
        for p in sorted((tmp_path / "compact" / "_commits").glob("c*.json"))[1:]
    )
    got = {r["url"] for r in store.read("url_state").collect()}
    assert got == set(base) | {f"https://h/x{r}" for r in range(4)}
