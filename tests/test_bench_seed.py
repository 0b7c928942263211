"""The bench seeder's pre-fetched domains table must be a pure head start.

``seed_full_frontier`` (plans/bench.py) commits a domains table built by the
round's own ``discover_domains`` kernel so the measured mega round is a
steady-state fetch round (no first-contact robots discovery inside the timed
region). That is only honest if the seeding changes NOTHING about what the
round computes: these tests pin that a seeded and an unseeded warehouse
produce byte-identical round output, and that the seeded round really does
take the empty-probe path (no rediscovery).
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from nimbus_crawler_spark.config import CrawlConfig
from nimbus_crawler_spark.plans.bench import seed_full_frontier
from nimbus_crawler_spark.plans.round import run_round
from nimbus_crawler_spark.schemas import DOMAINS_SCHEMA
from nimbus_crawler_spark.sources.corpus import corpus_to_pages_df, make_corpus
from nimbus_crawler_spark.store import SnapshotStore


@pytest.fixture(scope="module")
def no_timing_switch():
    """Stage timing needs no switch: the rounds below run with the old
    ``NIMBUS_ROUND_TIMING`` variable unset."""
    with pytest.MonkeyPatch.context() as mp:
        mp.delenv("NIMBUS_ROUND_TIMING", raising=False)
        yield


@pytest.fixture(scope="module")
def seeded_pair(spark, no_timing_switch):
    """Two warehouses over the same corpus: one domains-seeded (the bench
    template shape), one seeded with an EMPTY domains table (the discovery
    shape) — each run through one politeness-unbounded round."""
    corpus = make_corpus(seed=11, n_hosts=6, pages_per_host=5, fanout=4)
    pages_dir = tempfile.mkdtemp(prefix="nimbus-seedtest-pages-")
    corpus_to_pages_df(spark, corpus).write.mode("overwrite").parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    cfg = CrawlConfig(round_ms=3_600_000, max_depth=3, shuffle_partitions=4)

    out = {}
    for mode in ("seeded", "plain"):
        wh = tempfile.mkdtemp(prefix=f"nimbus-seedtest-{mode}-")
        store = SnapshotStore(spark, wh)
        if mode == "seeded":
            seed_full_frontier(spark, store, pages_dir, cfg)
        else:
            # same seeding minus the domains head start: reuse the real
            # seeder, then re-point the commit's domains at an empty table
            # (marker JSON edit — the store's own read path picks it up)
            import json
            import os

            seed_full_frontier(spark, store, pages_dir, cfg)
            empty_rel = "domains/v_empty"
            spark.createDataFrame([], DOMAINS_SCHEMA).write.mode("overwrite").parquet(
                os.path.join(wh, empty_rel)
            )
            mpath = store._commit_path(-1)
            marker = json.loads(open(mpath).read())
            marker["tables"]["domains"] = empty_rel
            with open(mpath, "w") as f:
                json.dump(marker, f)
            store = SnapshotStore(spark, wh)  # drop any cached marker state
        stats = run_round(spark, store, pages, cfg, 0, 0)
        out[mode] = {
            "stats": stats,
            "results": store.read_appends("crawl_results")
            .select("url", "crawl_seq", "content_hash", "dup_content")
            .orderBy("crawl_seq")
            .collect(),
            "domains": {
                r["host"]: r
                for r in store.read("domains").collect()
            },
        }
    return out


def test_round_output_identical(seeded_pair):
    s, p = seeded_pair["seeded"], seeded_pair["plain"]
    assert s["stats"]["fetched"] == p["stats"]["fetched"] > 0
    assert s["results"] == p["results"]


def test_domains_rows_identical_modulo_seed_marker(seeded_pair):
    s, p = seeded_pair["seeded"]["domains"], seeded_pair["plain"]["domains"]
    assert set(s) == set(p)
    for host in s:
        for col in ("robots_body", "crawl_delay_ms", "next_free_ms"):
            assert s[host][col] == p[host][col], (host, col)
        # the ONLY allowed divergence: the seed marker vs discovery round
        assert s[host]["first_seen_round"] == -1
        assert p[host]["first_seen_round"] == 0


def test_seeded_round_takes_empty_probe_path(seeded_pair):
    # no row was rediscovered: every domains row still carries the seed
    # marker after the round (a fall-through to the upsert would have
    # stamped first_seen_round = 0 on at least the rediscovered keys)
    assert all(
        r["first_seen_round"] == -1 for r in seeded_pair["seeded"]["domains"].values()
    )


def test_stage_secs_always_reported(seeded_pair):
    """The stage ticks are local perf_counter calls that start no Spark
    job, so every round reports them: all six stages plus the
    commit's sub-steps, read back from the commit marker."""
    for mode in ("seeded", "plain"):
        st = seeded_pair[mode]["stats"]["stage_secs"]
        assert set(st) == {
            "domains", "select", "fetch_parse", "rank_dedup", "children", "commit", "commit_sub"
        }
        assert set(st["commit_sub"]) == {"delta", "writes", "stats"}
        assert all(v >= 0 for k, v in st.items() if k != "commit_sub")
