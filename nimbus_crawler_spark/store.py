"""Snapshot-committed table store — the engine's Iceberg-shaped persistence.

The reference coordinates state across Redis streams + Postgres + MinIO; the
batch engine replaces all three with versioned tables and **atomic round
commits** (SURVEY.md §4.3.4). Design target is Apache Iceberg (`MERGE INTO`,
snapshot isolation, bucket partition pruning); this sandbox has no Iceberg
runtime jar, so the same semantics are provided by a parquet snapshot catalog:

* each round writes new table versions under ``<warehouse>/<table>/v<round>``
  and append deltas under ``<warehouse>/<table>/r<round>``;
* a round is visible only after its commit marker
  ``<warehouse>/_commits/c<round>.json`` lands via atomic ``os.rename`` — the
  exact analog of an Iceberg snapshot commit, and the engine's resumability
  anchor: on restart the max committed marker wins and any uncommitted
  version directories are dead data (reference analog: XAUTOCLAIM redelivery,
  consumer.go:112-162, and the stale 'crawling' reset, url.go ResetStale).
* ``url_state`` is hash-bucketed by ``pmod(xxhash64(url), N)`` and committed
  via **bucket-partial MERGE** (`commit(merges=...)`): only buckets touched
  by the round's upserts are rewritten into a new segment
  ``<table>/m<round>``; untouched buckets keep their prior segment files.
  The marker tracks a per-bucket → segment mapping, so per-round bytes
  written scale with the round's footprint, not total state size — the
  copy-on-write MERGE Iceberg performs on bucket-partitioned tables. When
  the live-segment count exceeds ``max_segments`` the commit compacts back
  to a single full snapshot (Iceberg's rewrite_data_files analog).

Swapping this class for a real Iceberg catalog changes only ``read``/``commit``
(DataFrame ``MERGE INTO``), not any plan code.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import EMPTY_SCHEMAS

_COMMITS = "_commits"

# merge key per bucket-partial table (rows are full replacements keyed here)
_MERGE_KEYS = {"url_state": "url"}


class SnapshotStore:
    def __init__(self, spark: SparkSession, warehouse: str | os.PathLike, max_segments: int = 16):
        self.spark = spark
        self.warehouse = Path(warehouse)
        self.max_segments = max_segments
        (self.warehouse / _COMMITS).mkdir(parents=True, exist_ok=True)

    # ---- commit log ----

    def _commit_path(self, round_idx: int) -> Path:
        return self.warehouse / _COMMITS / f"c{round_idx + 1:08d}.json"

    def latest_commit(self) -> dict | None:
        return self.commit_for(None)

    def commit_for(self, round_idx: int | None) -> dict | None:
        """Marker of the newest commit ≤ ``round_idx`` (time travel), or the
        latest commit when ``round_idx`` is None — Iceberg snapshot-id reads.
        Markers are immutable once renamed in, so any historical round's full
        table state (snapshots, bucket maps, append lists) stays readable
        until a later compaction's superseded segments are vacuumed."""
        commits = sorted((self.warehouse / _COMMITS).glob("c*.json"))
        if round_idx is not None:
            cap = f"c{round_idx + 1:08d}.json"
            commits = [p for p in commits if p.name <= cap]
        if not commits:
            return None
        return json.loads(commits[-1].read_text())

    def latest_round(self) -> int | None:
        c = self.latest_commit()
        return None if c is None else c["round"]

    # ---- reads ----

    def read(self, table: str, as_of_round: int | None = None) -> DataFrame:
        """Snapshot of a versioned table (empty DF before first commit).

        ``as_of_round`` reads the table as of that round's commit (the newest
        commit ≤ the given round) — Iceberg time travel. Table entries are
        either a plain segment path (full snapshot) or a composite
        ``{"star": path, "buckets": {bucket: path}}`` from bucket-partial
        merges: the star segment serves every bucket not explicitly remapped;
        each merge segment serves the buckets mapped to it (an ``IN`` filter
        the parquet scan prunes with row-group bucket stats).
        """
        c = self.commit_for(as_of_round)
        if c is None or table not in c["tables"]:
            return self.spark.createDataFrame([], EMPTY_SCHEMAS[table])
        entry = c["tables"][table]
        if isinstance(entry, str):
            return self.spark.read.schema(EMPTY_SCHEMAS[table]).parquet(
                str(self.warehouse / entry)
            )
        buckets: dict[str, str] = entry.get("buckets", {})
        by_dir: dict[str, list[int]] = {}
        for b, rel in buckets.items():
            by_dir.setdefault(rel, []).append(int(b))
        scans = []
        star = entry.get("star")
        if star:
            scan = self.spark.read.schema(EMPTY_SCHEMAS[table]).parquet(
                str(self.warehouse / star)
            )
            if buckets:
                scan = scan.where(~F.col("bucket").isin([int(b) for b in buckets]))
            scans.append(scan)
        for rel, bs in by_dir.items():
            scans.append(
                self.spark.read.schema(EMPTY_SCHEMAS[table])
                .parquet(str(self.warehouse / rel))
                .where(F.col("bucket").isin(bs))
            )
        if not scans:
            return self.spark.createDataFrame([], EMPTY_SCHEMAS[table])
        out = scans[0]
        for s in scans[1:]:
            out = out.unionByName(s)
        return out

    def read_appends(self, table: str, as_of_round: int | None = None) -> DataFrame:
        """Union of committed append deltas for an append-only table, up to
        ``as_of_round`` when given (time travel)."""
        c = self.commit_for(as_of_round)
        paths = [] if c is None else c.get("appends", {}).get(table, [])
        if not paths:
            return self.spark.createDataFrame([], EMPTY_SCHEMAS[table])
        return self.spark.read.schema(EMPTY_SCHEMAS[table]).parquet(
            *[str(self.warehouse / p) for p in paths]
        )

    # ---- commit ----

    def _dir_bytes(self, rel: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.warehouse / rel):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    def commit(
        self,
        round_idx: int,
        snapshots: dict[str, DataFrame] | None = None,
        appends: dict[str, DataFrame] | None = None,
        merges: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
        merge_metrics: dict[str, dict] | None = None,
        meta_fn=None,
    ) -> dict:
        """Write table data, then publish the round atomically via the marker.

        ``snapshots`` replace the table in full. ``merges`` upsert rows into a
        bucket-partial table: only the buckets present in the upsert DataFrame
        are rewritten (prior rows of those buckets are carried over, rows
        matching the merge key are replaced) — the Iceberg `MERGE INTO`
        copy-on-write on bucket partitions. ``appends`` add a delta
        (crawl_results / lineage / quarantine).

        ``merge_metrics[name]`` is a dict of aggregate Columns observed on the
        merged table's delta write (zero extra jobs — they ride the same
        action); the results land in ``meta["merge_metrics"][name]`` and are
        passed to ``meta_fn(collected)`` whose return is folded into meta —
        this is how the engine derives its per-round counters without
        dedicated count() jobs.
        """
        _sub: dict[str, float] = {}
        _t0 = [time.perf_counter()]

        def _sub_tick(label: str) -> None:
            now = time.perf_counter()
            _sub[label] = round(now - _t0[0], 2)
            _t0[0] = now

        overlap = set(snapshots or {}) & set(merges or {})
        if overlap:
            # a snapshot and a merge of the same table in one commit would
            # mix data: the merge bases prior_df on the PREVIOUS commit while
            # entry['star'] would point at the just-queued new snapshot
            raise ValueError(f"snapshot+merge of the same table in one commit: {sorted(overlap)}")
        prev = self.latest_commit()
        tables = dict(prev["tables"]) if prev else {}
        all_appends = {k: list(v) for k, v in (prev.get("appends", {}) if prev else {}).items()}

        # Independent tables write as concurrent Spark jobs (the scheduler
        # interleaves their stages); atomicity still comes solely from the
        # marker rename below, so a failure mid-write leaves no visible state.
        # Snapshot + append writes START before the merge phase: they don't
        # depend on the merge delta, so they overlap the serial delta write
        # on the pool instead of waiting behind it.
        from concurrent.futures import ThreadPoolExecutor

        jobs: list[tuple[str, str, object]] = []
        for name, df in (snapshots or {}).items():
            rel = f"{name}/v{round_idx + 1:08d}"
            tables[name] = rel
            jobs.append((name, rel, df))
        for name, df in (appends or {}).items():
            rel = f"{name}/r{round_idx + 1:08d}"
            all_appends.setdefault(name, []).append(rel)
            jobs.append((name, rel, df))

        def write(job):
            _name, rel, df = job
            df.write.mode("overwrite").parquet(str(self.warehouse / rel))

        # the pool lives inside one try/finally: if the merge phase below (or
        # a failed future) raises, every in-flight background write is
        # cancelled-or-awaited before commit() propagates — no straggler
        # thread keeps writing into paths a re-run of the same round_idx
        # would overwrite concurrently
        pool = ThreadPoolExecutor(max_workers=6)
        futures = []
        try:
            futures += [pool.submit(write, j) for j in jobs]
            merge_jobs, merge_info, merge_tmp, collected_metrics = self._plan_merges(
                round_idx, merges, merge_metrics, tables
            )
            _sub_tick("delta")
            futures += [pool.submit(write, j) for j in merge_jobs]
            for f in futures:
                f.result()
        finally:
            # success: all futures done, shutdown is instant. Failure: cancel
            # queued writes and WAIT for running ones so nothing is in flight
            # when the exception (or the marker publish) leaves this frame.
            pool.shutdown(wait=True, cancel_futures=True)
        jobs += merge_jobs
        _sub_tick("writes")
        write_stats = {
            name: {"bytes": self._dir_bytes(rel), **merge_info.get(name, {})}
            for name, rel, _df in jobs
        }
        final_meta = {**(meta or {}), "write_stats": write_stats}
        if collected_metrics:
            final_meta["merge_metrics"] = collected_metrics
        if meta_fn is not None:
            final_meta.update(meta_fn(collected_metrics))
        # final tick BEFORE the marker is serialized, so the on-disk commit
        # and the returned marker carry identical timing (the marker-file
        # write itself — a ~1 KB JSON — is the only untimed step)
        _sub_tick("stats")
        final_meta["commit_sub_secs"] = _sub
        marker = {
            "round": round_idx,
            "tables": tables,
            "appends": all_appends,
            "meta": final_meta,
            "committed_at": time.time(),
        }
        tmp = self.warehouse / _COMMITS / f".tmp-{round_idx + 1:08d}.json"
        tmp.write_text(json.dumps(marker, indent=1))
        os.rename(tmp, self._commit_path(round_idx))  # atomic publish
        for urel in merge_tmp:  # delta dirs are folded into segments — drop
            shutil.rmtree(self.warehouse / urel, ignore_errors=True)
        return marker

    def _plan_merges(self, round_idx, merges, merge_metrics, tables):
        """Materialize each merge delta and plan its segment write.

        Mutates ``tables`` in place; returns (merge_jobs, merge_info,
        merge_tmp, collected_metrics). The delta writes here run inline (they
        gate the Observation that decides the touched buckets); only the
        resulting segment writes are handed back to the caller's pool."""
        from pyspark.sql import Observation

        merge_jobs: list[tuple[str, str, object]] = []
        merge_info: dict[str, dict] = {}
        merge_tmp: list[str] = []
        collected_metrics: dict[str, dict] = {}
        for name, upserts_df in (merges or {}).items():
            key = _MERGE_KEYS.get(name, "url")
            cols0 = [f.name for f in EMPTY_SCHEMAS[name].fields]
            # phase 1: materialize the upsert delta ONCE (its lineage is the
            # round's update plan — evaluating it twice would re-run UDFs);
            # touched buckets + caller metrics ride along as an Observation
            # on the same job
            obs = Observation()
            extra = (merge_metrics or {}).get(name, {})
            obs_cols = [F.collect_set("bucket").alias("__bs")] + [
                c.alias(k) for k, c in extra.items()
            ]
            urel = f"{name}/u{round_idx + 1:08d}"
            upserts_df.select(*cols0).observe(obs, *obs_cols).write.mode(
                "overwrite"
            ).parquet(str(self.warehouse / urel))
            merge_tmp.append(urel)
            upserts = self.spark.read.schema(EMPTY_SCHEMAS[name]).parquet(
                str(self.warehouse / urel)
            )
            got = obs.get
            touched = sorted(got["__bs"])
            collected_metrics[name] = {k: got[k] for k in extra}
            if not touched:
                continue  # nothing to merge — prior mapping stands
            prior_entry = tables.get(name)
            prior_df = self.read(name)
            cols = cols0
            # normalize prior entry to composite form
            if prior_entry is None:
                entry = {"star": None, "buckets": {}}
            elif isinstance(prior_entry, str):
                entry = {"star": prior_entry, "buckets": {}}
            else:
                entry = {"star": prior_entry.get("star"), "buckets": dict(prior_entry["buckets"])}
            new_buckets = dict(entry["buckets"])
            live_dirs = {rel for rel in new_buckets.values()}
            if entry["star"]:
                live_dirs.add(entry["star"])
            compact = len(live_dirs) + 1 > self.max_segments
            if compact:
                rel = f"{name}/v{round_idx + 1:08d}"
                full = (
                    prior_df.join(upserts.select(key), key, "left_anti")
                    .unionByName(upserts.select(*cols))
                    .select(*cols)
                )
                tables[name] = rel
                merge_jobs.append((name, rel, full))
            else:
                rel = f"{name}/m{round_idx + 1:08d}"
                seg = (
                    prior_df.where(F.col("bucket").isin(touched))
                    .join(upserts.select(key), key, "left_anti")
                    .unionByName(upserts.select(*cols))
                    .select(*cols)
                    # co-locate buckets so the read-side IN filters prune
                    # whole row groups / files via bucket min-max stats
                    .repartition(max(1, min(len(touched), 8)), "bucket")
                    .sortWithinPartitions("bucket", key)
                )
                for b in touched:
                    new_buckets[str(b)] = rel
                tables[name] = {"star": entry["star"], "buckets": new_buckets}
                merge_jobs.append((name, rel, seg))
            merge_info[name] = {"touched_buckets": len(touched), "compacted": compact}
        return merge_jobs, merge_info, merge_tmp, collected_metrics

    def destroy(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
