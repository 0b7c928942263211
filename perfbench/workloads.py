"""The workloads. Each builds its inputs from the seed into the run's own
directory and runs one untimed warm-up step in ``setup``, then exposes
``stage`` (untimed preparation of step i), ``step`` (the timed call into the
program, returning items completed), ``check`` (correctness of every step,
run after timing) and ``layers`` / ``job_layers`` (per-layer numbers for the
traced run).

Why these three:
* mega_round — one politeness-unbounded round over a heavy-DOM frontier:
  the parse kernel and its Arrow boundary do most of the work, the store
  writes one merge touching every bucket, politeness takes its fast path.
* crawl_loop — rounds of a light-DOM crawl where politeness binds: per-round
  fixed cost (job count, planning, small bucket-partial commits, segment
  reads, the seen filter) dominates and parsing does little.
* dedup_pipeline — minhash, n-gram and simhash + connected components over
  seeded documents: only ``operators.textdedup`` and ``operators.graph``
  work; no parse UDF and no store.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from nimbus_crawler_spark.config import CrawlConfig
from nimbus_crawler_spark.functions import extract, udfs
from nimbus_crawler_spark.functions.robots import robots_allowed
from nimbus_crawler_spark.functions.urlnorm import hostname, parse_url
from nimbus_crawler_spark.operators import graph, textdedup
from nimbus_crawler_spark.operators.dedup import _test_bits
from nimbus_crawler_spark.plans import crawl as crawl_mod
from nimbus_crawler_spark.plans import round as round_mod
from nimbus_crawler_spark.plans.bench import _write_pages_parquet, seed_full_frontier
from nimbus_crawler_spark.sim.oracle import simulate
from nimbus_crawler_spark.sources.corpus import make_corpus
from nimbus_crawler_spark.store import SnapshotStore

from perfbench import eventlog
from perfbench.docgen import make_documents, write_documents
from perfbench.spans import Tracer, self_times


def force(df) -> tuple[int, int]:
    """Evaluate every output column: row count plus an xor of xxhash64 over
    all columns, computed JVM-side (the methodology of ``bench.py``)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _median(xs, default=0.0) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


class Workload:
    name = ""

    def __init__(self, spark, root: str, seed: int, tracer: Tracer, cores: int):
        self.spark = spark
        self.root = os.path.join(root, self.name)
        os.makedirs(self.root, exist_ok=True)
        self.seed = seed
        self.tracer = tracer
        self.cores = cores
        # set-up phases in seconds: input_s, seed_s, warmup_s
        self.phase_s: dict[str, float] = {"input_s": 0.0, "seed_s": 0.0, "warmup_s": 0.0}

    # --- subclass interface ---
    def setup(self) -> None:
        """Generate inputs, seed state, run the untimed warm-up step."""
        raise NotImplementedError

    def stage(self, i: int) -> None:
        """Untimed preparation of step ``i``."""

    def step(self, i: int) -> int:
        raise NotImplementedError

    def check(self, n_steps: int) -> list[bool]:
        raise NotImplementedError

    def install_spans(self) -> None:
        pass

    def layers(self, steps: list[dict]) -> dict[str, float]:
        """Per-layer numbers that need the live session."""
        raise NotImplementedError

    def job_layers(self, steps: list[dict], jobs: list[eventlog.Job]) -> dict[str, float]:
        """Per-layer numbers from the event log, read after the session stops."""
        return {}

    # --- shared helpers ---
    def _phase(self, key: str, t0: float) -> None:
        self.phase_s[key] += time.perf_counter() - t0

    def _span_median(self, name: str, steps: list[dict], self_time: bool = False) -> float:
        selfs = self_times(self.tracer.spans) if self_time else None
        per_step: dict[int, float] = {}
        for s in self.tracer.by_name(name):
            v = selfs[s.id] if self_time else s.duration
            per_step[s.step] = per_step.get(s.step, 0.0) + v
        return _median([per_step.get(st["i"], 0.0) for st in steps if st["traced"]])

    def _span_windows(self, name: str, steps: list[dict], jobs) -> list[dict]:
        traced = {st["i"] for st in steps if st["traced"]}
        return [
            eventlog.window_totals(jobs, s.start, s.end)
            for s in self.tracer.by_name(name)
            if s.step in traced
        ]


# --------------------------------------------------------------------------
# crawl workloads: shared parse/UDF/store/seen-filter layer measurements
# --------------------------------------------------------------------------


def _parse_layer(pages: list[dict], limit: int) -> dict[str, float]:
    """In-process ``parse_page`` pages/s on one core, and the share of pages
    the streaming fast path hands to the stdlib tree parser (counted by
    wrapping ``extract.parse_html``, which ``parse_page`` calls only then)."""
    sample = pages[:limit]
    fallbacks = [0]
    orig = extract.parse_html

    def counting(html):
        fallbacks[0] += 1
        return orig(html)

    extract.parse_html = counting
    try:
        t = time.perf_counter()
        for p in sample:
            extract.parse_page(p["html"], p["url"])
        wall = time.perf_counter() - t
    finally:
        extract.parse_html = orig
    return {
        "parse.pages_per_s_core": len(sample) / wall if wall > 0 else 0.0,
        "parse.fallback_share": fallbacks[0] / len(sample) if sample else 0.0,
    }


def _udf_layer(spark, pages_df) -> dict[str, float]:
    """One Spark pass of ``parse_page_udf`` over the fetchable (html, url),
    and the same pass through a no-op pandas UDF with the same output
    schema: the Arrow/pandas transfer floor."""

    @pandas_udf(udfs._PARSE_RESULT)
    def noop(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"text": [None] * len(html), "links": [None] * len(html)})

    src = pages_df.where(
        F.col("html").isNotNull()
        & (F.coalesce(F.col("lang"), F.lit("")) != "binary")
        & ~F.col("url").endswith("/robots.txt")
    ).select("html", "url")
    out = {}
    for key, fn in (("udf.parse_s_per_kpage", udfs.parse_page_udf), ("udf.noop_s_per_kpage", noop)):
        t = time.perf_counter()
        n, _ = force(src.select(fn("html", "url").alias("p")).select("p.text", "p.links"))
        out[key] = (time.perf_counter() - t) / max(n, 1) * 1000.0
    return out


def _store_layer(store_dirs: list[str], spark, items: int) -> dict[str, float]:
    """Bytes written per item, live url_state segments and compactions, from
    the commit markers of the step warehouses."""
    total_bytes, compactions, live = 0, 0, []
    for wh in store_dirs:
        commits = sorted(os.listdir(os.path.join(wh, "_commits")))
        store = SnapshotStore(spark, wh)
        for name in commits:
            if not name.startswith("c"):
                continue
            m = store.commit_for(int(name[1:9]) - 1)
            if m["round"] < 0:
                continue  # the seed commit is set-up, not a step
            ws = m["meta"].get("write_stats", {})
            total_bytes += sum(t.get("bytes", 0) for t in ws.values())
            compactions += int(bool(ws.get("url_state", {}).get("compacted")))
        entry = store.latest_commit()["tables"].get("url_state")
        if isinstance(entry, dict):
            live.append(len({*entry["buckets"].values(), *([entry["star"]] if entry["star"] else [])}))
        elif entry:
            live.append(1)
    return {
        "store.bytes_per_item": total_bytes / max(items, 1),
        "store.live_segments": _median(live),
        "store.compactions": float(compactions),
    }


def _bloom_fpp(spark, wh: str, state_buckets: int, n_probe: int = 20000) -> float:
    """Share of URLs known to be absent (``.invalid`` hosts) that the
    committed seen filter reports present."""
    filt = {
        r["bucket"]: r for r in SnapshotStore(spark, wh).read("seen_filter").collect()
    }
    probe = (
        spark.range(n_probe)
        .select(F.concat(F.lit("https://absent-"), F.col("id").cast("string"), F.lit(".invalid/p")).alias("url"))
        .select(
            F.xxhash64("url").alias("h"),
            F.pmod(F.xxhash64("url"), F.lit(state_buckets)).cast("int").alias("b"),
        )
        .collect()
    )
    by_bucket: dict[int, list[int]] = {}
    for r in probe:
        by_bucket.setdefault(r["b"], []).append(r["h"])
    positives = 0
    for b, hs in by_bucket.items():
        row = filt.get(b)
        if row is None:
            continue
        bits = np.frombuffer(row["bits"], dtype=np.uint8)
        positives += int(_test_bits(bits, np.array(hs, dtype=np.int64), int(row["k"]), int(row["nbits"])).sum())
    return positives / n_probe


def _write_pages(corpus, path: str, files: int) -> None:
    """Pages parquet split into ``files`` files so the fetch scan (and with
    it the parse) runs on every core."""
    _write_pages_parquet(corpus, path, rows_per_file=max(1, math.ceil(len(corpus.pages) / files)))


def _fetchable(corpus) -> list[dict]:
    return [
        p for p in corpus.pages
        if p["lang"] not in ("binary", "robots") and not p["url"].endswith("/robots.txt")
    ]


class _CrawlLayers(Workload):
    """Round/store/parse layer numbers shared by both crawl workloads."""

    state_buckets = 32
    parse_limit = 300

    def _round_layers(self, steps) -> dict[str, float]:
        stats = [s for st in steps if st["traced"] for s in st.get("rounds", [])]
        stage = [s.get("stage_secs", {}) for s in stats]
        out = {
            f"round.{k}_s": _median([s.get(k) for s in stage])
            for k in ("domains", "select", "fetch_parse", "rank_dedup", "children", "commit")
        }
        out["store.delta_s"] = _median([s.get("commit_sub", {}).get("delta") for s in stage])
        out["store.writes_s"] = _median([s.get("commit_sub", {}).get("writes") for s in stage])
        out["round.self_s"] = self._span_median("round", steps, self_time=True)
        out["store.commit_s"] = self._span_median("store.commit", steps)
        return out

    def job_layers(self, steps, jobs) -> dict[str, float]:
        win = self._span_windows("round", steps, jobs)
        out = {f"round.{k}": _median([w[k] for w in win]) for k in ("jobs", "tasks", "shuffle_mb", "gc_s")}
        fetched = _median([s["fetched"] for st in steps if st["traced"] for s in st["rounds"]], 1.0)
        out["round.jobs_per_item"] = out["round.jobs"] / max(fetched, 1.0)
        return out

    def install_spans(self) -> None:
        self.tracer.wrap(round_mod, "run_round", "round")
        self.tracer.wrap(crawl_mod, "run_round", "round")
        self.tracer.wrap(crawl_mod, "crawl", "crawl")
        self.tracer.wrap(SnapshotStore, "commit", "store.commit")


class MegaRound(_CrawlLayers):
    """One step = one ``run_round`` on a fresh copy of a warehouse pre-seeded
    with every page of a heavy-DOM corpus (``seed_full_frontier``). A one-hour
    round lets politeness take its fast path; pages of ~28 KB with ~1.5k
    elements make fetch_parse the largest stage.

    The warm-up round runs on a copy of the same seeded warehouse: a round's
    cost here is mostly fixed per-job cost, so a smaller input would cost
    about as much to warm up on and would need a seeding of its own."""

    name = "mega_round"
    hosts = 200
    heavy_dom = 500

    def _cfg(self):
        return CrawlConfig(
            round_ms=3_600_000, max_depth=3, shuffle_partitions=2 * self.cores,
            state_buckets=self.state_buckets,
        )

    def setup(self) -> None:
        t = time.perf_counter()
        self.corpus = make_corpus(
            seed=self.seed, n_hosts=self.hosts, pages_per_host=10, fanout=4, zipf_s=0.12,
            para_words=(60, 160), heavy_dom=self.heavy_dom,
            dup_content_pairs=max(2, self.hosts // 50), binary_rows=max(1, self.hosts // 100),
        )
        pages_path = os.path.join(self.root, "pages")
        _write_pages(self.corpus, pages_path, 2 * self.cores)
        self.pages_df = self.spark.read.parquet(pages_path)
        self._phase("input_s", t)
        t = time.perf_counter()
        self.seeded = os.path.join(self.root, "seeded")
        seed_full_frontier(self.spark, SnapshotStore(self.spark, self.seeded), pages_path, self._cfg())
        self._phase("seed_s", t)
        t = time.perf_counter()
        self.stage("warm")
        self._run(self._wh("warm"), self.pages_df)
        self._phase("warmup_s", t)
        self.stats: dict[int, dict] = {}

    def _run(self, wh: str, pages_df) -> dict:
        return round_mod.run_round(self.spark, SnapshotStore(self.spark, wh), pages_df, self._cfg(), 0, 0)

    def _wh(self, i) -> str:
        return os.path.join(self.root, f"step-{i}")

    def stage(self, i) -> None:
        shutil.copytree(self.seeded, self._wh(i))

    def step(self, i: int) -> int:
        self.stats[i] = stats = self._run(self._wh(i), self.pages_df)
        return int(stats["fetched"])

    def expected(self) -> dict[str, str]:
        """url → golden text of every page the round must fetch: every
        non-robots page whose robots rules allow it and that is not a
        binary row (politeness cannot bind in a one-hour round)."""
        by_url = self.corpus.pages_by_url()
        out = {}
        for p in self.corpus.pages:
            u = p["url"]
            host = hostname(u)
            if u.endswith("/robots.txt") or not host or p["lang"] == "binary":
                continue
            robots = by_url.get(f"https://{host}/robots.txt")
            pu = parse_url(u)
            if robots_allowed(robots["html"].decode() if robots else None, pu.request_uri() if pu else "/"):
                out[u] = p["text"]
        return out

    def check(self, n_steps: int) -> list[bool]:
        """Each step fetched exactly the expected pages, and every non-duplicate
        row's ``crawl_results.text`` is byte-identical to the golden text."""
        want = self.expected()
        oks = []
        for i in range(n_steps):
            if i not in self.stats:
                oks.append(False)
                continue
            rows = (
                SnapshotStore(self.spark, self._wh(i)).read_appends("crawl_results")
                .select("url", "dup_content", "text").collect()
            )
            got = {r["url"]: r for r in rows}
            oks.append(
                self.stats[i]["fetched"] == len(want) == len(rows)
                and set(got) == set(want)
                and all(r["dup_content"] or r["text"] == want[u] for u, r in got.items())
            )
        return oks

    def layers(self, steps) -> dict[str, float]:
        for st in steps:
            st["rounds"] = [self.stats[st["i"]]] if st["i"] in self.stats else []
        traced = [st["i"] for st in steps if st["traced"]]
        out = self._round_layers(steps)
        out.update(_store_layer([self._wh(i) for i in traced], self.spark,
                                sum(self.stats[i]["fetched"] for i in traced)))
        out["seen.bloom_fpp"] = _bloom_fpp(self.spark, self._wh(traced[-1]), self.state_buckets)
        out.update(_parse_layer(_fetchable(self.corpus), self.parse_limit))
        out.update(_udf_layer(self.spark, self.pages_df))
        return out


class CrawlLoop(_CrawlLayers):
    """One step = one round of a resumable crawl (``crawl(max_rounds=1,
    resume=True)``) over a light-DOM corpus with ``make_corpus``'s special
    rows. Every host has the same page count and a round is 200 ms of crawl
    time, so politeness allows about one fetch per host per round: a crawl
    spans tens of rounds and its rounds stay alike. The crawl's own first
    round (the seeds only: a small input of the same shape) is the untimed
    warm-up, so timed rounds are steady-state rounds."""

    name = "crawl_loop"
    hosts = 48
    pages_per_host = 12

    def _cfg(self):
        return CrawlConfig(round_ms=200, shuffle_partitions=2 * self.cores, state_buckets=self.state_buckets)

    def setup(self) -> None:
        t = time.perf_counter()
        self.corpus = make_corpus(
            seed=self.seed, n_hosts=self.hosts, pages_per_host=self.pages_per_host, fanout=5, zipf_s=0.0
        )
        path = os.path.join(self.root, "pages")
        _write_pages(self.corpus, path, self.cores)
        self.pages_df = self.spark.read.parquet(path)
        self._phase("input_s", t)
        self.crawls: list[dict] = []  # {"wh", "steps": [step or None per round], "stats": [...]}
        self._start_crawl()

    def _start_crawl(self) -> None:
        t = time.perf_counter()
        wh = os.path.join(self.root, f"crawl-{len(self.crawls)}")
        crawl_mod.seed(self.spark, SnapshotStore(self.spark, wh), self.corpus.seeds_text, self._cfg())
        self._phase("seed_s", t)
        self.crawls.append({"wh": wh, "steps": [], "stats": []})
        t = time.perf_counter()
        self._round(None)
        self._phase("warmup_s", t)

    def _round(self, i: int | None) -> dict:
        c = self.crawls[-1]
        summary = crawl_mod.crawl(
            self.spark, c["wh"], self.pages_df, None, self._cfg(), max_rounds=1, resume=True
        )
        c["steps"].append(i)
        c["stats"].append(summary.round_stats[0])
        return summary.round_stats[0]

    def stage(self, i: int) -> None:
        if self.crawls[-1]["stats"][-1]["frontier_pending_after"] == 0:
            self._start_crawl()  # frontier exhausted: continue on a new crawl

    def step(self, i: int) -> int:
        return int(self._round(i)["fetched"])

    def step_rounds(self, i: int) -> list[dict]:
        return [s for c in self.crawls for j, s in zip(c["steps"], c["stats"]) if j == i]

    def check(self, n_steps: int) -> list[bool]:
        """Each crawl against ``sim.oracle.simulate`` run for the same number
        of rounds: per round, crawl order and extracted text; at the crawl's
        last round also the seen set and every status."""
        by_url = self.corpus.pages_by_url()
        ok = {i: False for i in range(n_steps)}
        for c in self.crawls:
            oracle = simulate(by_url, self.corpus.seeds_text, self._cfg(), max_rounds=len(c["steps"]))
            store = SnapshotStore(self.spark, c["wh"])
            results = store.read_appends("crawl_results").collect()
            state = dict(store.read("url_state").select("url", "status").collect())
            final_ok = state == {u: s["status"] for u, s in oracle.url_state.items()}
            for r, i in enumerate(c["steps"]):
                eng = sorted(
                    (x["crawl_seq"], x["url"], x["depth"], None if x["dup_content"] else x["text"])
                    for x in results if x["round"] == r
                )
                ora = [
                    (o["crawl_seq"], o["url"], o["depth"], oracle.extracted.get(o["url"], {}).get("text"))
                    for o in oracle.crawl_order if o["round"] == r
                ]
                if i is not None:
                    ok[i] = eng == ora and len(eng) > 0 and (final_ok or r < len(c["steps"]) - 1)
        return [ok[i] for i in range(n_steps)]

    def layers(self, steps) -> dict[str, float]:
        for st in steps:
            st["rounds"] = self.step_rounds(st["i"])
        out = self._round_layers(steps)
        # bytes of every committed round of the crawls, per URL they fetched
        fetched = sum(s["fetched"] for c in self.crawls for s in c["stats"])
        out.update(_store_layer([c["wh"] for c in self.crawls], self.spark, fetched))
        out["seen.bloom_fpp"] = _bloom_fpp(self.spark, self.crawls[-1]["wh"], self.state_buckets)
        out.update(_parse_layer(_fetchable(self.corpus), self.parse_limit))
        out.update(_udf_layer(self.spark, self.pages_df))
        return out


# --------------------------------------------------------------------------
# dedup_pipeline
# --------------------------------------------------------------------------

# the parameters __spark_entry__.py uses for these queries
MINHASH = dict(threshold=0.2, num_hashes=16, bands=4, shingle_n=3)
NGRAM = dict(threshold=0.3, shingle_n=3, max_doc_freq=20)
SIMHASH = dict(max_hamming=1, bits=16, bands=2)


class DedupPipeline(Workload):
    """One step = one pass of ``minhash_dedup_pairs``, ``ngram_jaccard_pairs``
    and ``dedup_survivors(docs, simhash_near_pairs(docs))``. Each result is
    materialized once (``localCheckpoint``) and forced (row count plus
    xxhash64 over every column), so the check reads the step's own rows
    instead of computing the pass again."""

    name = "dedup_pipeline"
    n_docs = 2000
    exact_share = 0.1
    near_share = 0.2

    def _docs(self, n: int, tag: str):
        t = time.perf_counter()
        docs = make_documents(self.seed, n, self.exact_share, self.near_share)
        path = os.path.join(self.root, f"docs-{tag}")
        write_documents(docs, path)
        self._phase("input_s", t)
        return docs, self.spark.read.parquet(path)

    def _pass(self, docs_df) -> dict:
        def run(df):
            df = df.localCheckpoint(eager=True)
            return df, force(df)

        out = {}
        with self.tracer.span("minhash"):
            out["minhash"] = run(textdedup.minhash_dedup_pairs(docs_df, **MINHASH))
        with self.tracer.span("ngram"):
            out["ngram"] = run(textdedup.ngram_jaccard_pairs(docs_df, **NGRAM))
        with self.tracer.span("cc"):
            out["survivors"] = run(
                graph.dedup_survivors(docs_df, textdedup.simhash_near_pairs(docs_df, **SIMHASH))
            )
        return out

    def setup(self) -> None:
        """The warm-up pass runs on the step's own documents: after a pass
        over a smaller input the first full-size pass was still 10-30%
        slower than the next."""
        self.docs, self.docs_df = self._docs(self.n_docs, "main")
        t = time.perf_counter()
        self._pass(self.docs_df)
        self._phase("warmup_s", t)
        self.outputs: dict[int, dict] = {}

    def step(self, i: int) -> int:
        self.outputs[i] = self._pass(self.docs_df)
        return self.n_docs

    def install_spans(self) -> None:
        self.tracer.wrap(textdedup, "simhash_near_pairs", "simhash")
        self.tracer.wrap(textdedup, "minhash_lsh_candidates", "minhash.lsh")
        self.tracer.wrap(textdedup, "shingle_sets", "textdedup.shingle_sets")
        self.tracer.wrap(graph, "connected_components", "cc.components")

    def check(self, n_steps: int) -> list[bool]:
        """Per step: every minhash and n-gram pair meets its threshold by
        exact Jaccard recomputed in Python, and the survivors equal a Python
        union-find over the simhash pairs (collected once; each pair's
        Hamming distance recomputed). All steps must agree."""
        pairs = [tuple(r) for r in textdedup.simhash_near_pairs(self.docs_df, **SIMHASH).collect()]
        fps = {d["doc_id"]: _simhash(d["text"], SIMHASH["bits"]) for d in self.docs}
        pairs_ok = all(
            a < b and bin(fps[a] ^ fps[b]).count("1") == ham <= SIMHASH["max_hamming"]
            for a, b, ham in pairs
        )
        comps = _union_find([d["doc_id"] for d in self.docs], [(a, b) for a, b, _ in pairs])
        want_survivors = sorted((min(c), len(c)) for c in comps.values())
        self.n_simhash_pairs = len(pairs)
        self.n_components = sum(1 for c in comps.values() if len(c) > 1)
        sets = {d["doc_id"]: _shingle_set(d["text"], 3) for d in self.docs}

        def step_ok(out: dict) -> bool:
            for key, params in (("minhash", MINHASH), ("ngram", NGRAM)):
                for a, b, jac in out[key][0].collect():
                    want = _rounded_jaccard(sets[a], sets[b])
                    if not (a < b and want == jac and want >= params["threshold"]):
                        return False
            survivors = sorted(tuple(r) for r in out["survivors"][0].collect())
            return survivors == want_survivors

        first = next(iter(self.outputs.values()), None)
        oks = []
        for i in range(n_steps):
            out = self.outputs.get(i)
            oks.append(
                out is not None and pairs_ok and step_ok(out)
                and all(out[k][1] == first[k][1] for k in out)
            )
        return oks

    def layers(self, steps) -> dict[str, float]:
        out = next(iter(self.outputs.values()))
        candidates = textdedup.minhash_lsh_candidates(
            self.docs_df, MINHASH["num_hashes"], MINHASH["bands"], MINHASH["shingle_n"]
        ).count()
        cc = {s.step: s.duration for s in self.tracer.by_name("cc")}
        simhash = {s.step: s.duration for s in self.tracer.by_name("simhash")}
        return {
            "minhash.s": self._span_median("minhash", steps),
            "minhash.candidates": float(candidates),
            "minhash.verified_share": out["minhash"][1][0] / max(candidates, 1),
            "ngram.s": self._span_median("ngram", steps),
            "ngram.pairs": float(out["ngram"][1][0]),
            "simhash.s": self._span_median("simhash", steps),
            "simhash.pairs": float(self.n_simhash_pairs),
            # forced dedup_survivors, less the simhash pair generation inside it
            "cc.s": _median([cc[i] - simhash.get(i, 0.0) for i in cc]),
            "cc.components": float(self.n_components),
        }

    def job_layers(self, steps, jobs) -> dict[str, float]:
        return {
            "cc.jobs": _median([w["jobs"] for w in self._span_windows("cc.components", steps, jobs)]),
            "dedup.shuffle_mb": _median([w["shuffle_mb"] for w in self._span_windows("step", steps, jobs)]),
        }


def _shingle_set(text: str, n: int) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _rounded_jaccard(a: set, b: set) -> float:
    uni = len(a | b)
    j = len(a & b) / uni if uni else 1.0
    return math.floor(j * 1000000 + 0.5) / 1000000


def _simhash(text: str, bits: int) -> int:
    votes = [0] * bits
    for tok in text.lower().split():
        h = hashlib.md5(tok.encode()).hexdigest()
        for j in range(bits):
            votes[j] += 1 if h[j] in "89abcdef" else -1
    return sum(1 << j for j in range(bits) if votes[j] > 0)


def _union_find(nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, list[int]]:
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    return comps


WORKLOADS = {w.name: w for w in (MegaRound, CrawlLoop, DedupPipeline)}

# Every per-layer metric a traced run prints, with its unit. A layer a
# workload does not touch reads 0 there.
LAYER_METRICS = {
    "setup.session_s": "s",
    "setup.input_s": "s",
    "setup.seed_s": "s",
    "setup.warmup_s": "s",
    "parse.pages_per_s_core": "1/s",
    "parse.fallback_share": "share",
    "udf.parse_s_per_kpage": "s",
    "udf.noop_s_per_kpage": "s",
    "round.domains_s": "s",
    "round.select_s": "s",
    "round.fetch_parse_s": "s",
    "round.rank_dedup_s": "s",
    "round.children_s": "s",
    "round.commit_s": "s",
    "round.self_s": "s",
    "round.jobs": "count",
    "round.jobs_per_item": "count",
    "round.tasks": "count",
    "round.shuffle_mb": "MB",
    "round.gc_s": "s",
    "step.cpu_util": "share",
    "store.commit_s": "s",
    "store.delta_s": "s",
    "store.writes_s": "s",
    "store.bytes_per_item": "B",
    "store.live_segments": "count",
    "store.compactions": "count",
    "seen.bloom_fpp": "share",
    "minhash.s": "s",
    "minhash.candidates": "count",
    "minhash.verified_share": "share",
    "ngram.s": "s",
    "ngram.pairs": "count",
    "simhash.s": "s",
    "simhash.pairs": "count",
    "cc.s": "s",
    "cc.components": "count",
    "cc.jobs": "count",
    "dedup.shuffle_mb": "MB",
    "host.steal_share": "share",
    "host.probe_before_s": "s",
    "host.probe_after_s": "s",
    "trace.items_per_s": "1/s",
    "trace.overhead_share": "share",
    "trace.layer_cover_share": "share",
}
