"""Tiny smoke runs of each workload: set-up, one traced step, the
correctness check (which must pass, and must fail on a tampered output),
and the per-layer numbers."""

import os
import shutil
import subprocess
import sys

import pytest

from perfbench.spans import Tracer
from perfbench.workloads import CrawlLoop, DedupPipeline, MegaRound

CORES = 2


@pytest.fixture(scope="module")
def spark():
    from nimbus_crawler_spark.session import build_session

    s = build_session(app_name="perfbench-tests", master=f"local[{CORES}]", shuffle_partitions=2 * CORES)
    yield s
    s.stop()


class TinyMega(MegaRound):
    hosts, warm_hosts, heavy_dom = 6, 3, 20


class TinyCrawl(CrawlLoop):
    hosts, pages_per_host = 4, 4


class TinyDedup(DedupPipeline):
    n_docs = 150


def _run_one_step(cls, spark, tmp_path):
    tracer = Tracer(enabled=True)
    wl = cls(spark, str(tmp_path), 5, tracer, CORES)
    wl.setup()
    assert set(wl.phase_s) == {"input_s", "seed_s", "warmup_s"}
    wl.install_spans()
    os.environ["NIMBUS_ROUND_TIMING"] = "1"
    try:
        wl.stage(0)
        tracer.step = 0
        with tracer.span("step"):
            items = wl.step(0)
    finally:
        tracer.unwrap()
        os.environ.pop("NIMBUS_ROUND_TIMING")
    steps = [{"i": 0, "traced": True, "items": items}]
    assert items > 0
    assert wl.check(1) == [True]
    return wl, steps


def test_mega_round(spark, tmp_path):
    wl, steps = _run_one_step(TinyMega, spark, tmp_path)
    layers = wl.layers(steps)
    assert layers["round.fetch_parse_s"] > 0 and layers["store.commit_s"] > 0
    assert layers["parse.pages_per_s_core"] > 0 and layers["udf.noop_s_per_kpage"] > 0
    assert layers["seen.bloom_fpp"] < 0.01
    # a wrong golden text must fail the step
    page = next(p for p in wl.corpus.pages if "/p/" in p["url"] and p["url"] in wl.expected())
    page["text"] += "x"
    assert wl.check(1) == [False]


def test_crawl_loop(spark, tmp_path):
    wl, steps = _run_one_step(TinyCrawl, spark, tmp_path)
    layers = wl.layers(steps)
    assert layers["round.commit_s"] > 0 and layers["store.bytes_per_item"] > 0
    # the oracle re-parses the corpus: changed page bytes must fail the step
    for p in wl.corpus.pages:
        if p["lang"] == "en" and p["html"]:
            p["html"] = p["html"].replace(b"<p>", b"<p>changed ")
    assert wl.check(1) == [False]


def test_dedup_pipeline(spark, tmp_path):
    wl, steps = _run_one_step(TinyDedup, spark, tmp_path)
    layers = wl.layers(steps)
    assert layers["minhash.s"] > 0 and layers["cc.s"] > 0 and layers["simhash.pairs"] > 0
    assert layers["cc.components"] > 0  # planted near-duplicates form clusters
    # a survivor set missing one document must fail the step
    df, forced = wl.outputs[0]["survivors"]
    wl.outputs[0]["survivors"] = (df.where(df.doc_id != df.first()["doc_id"]), forced)
    assert wl.check(1) == [False]


def test_run_exits_nonzero_without_the_program(tmp_path):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mega_round", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
    assert not (tmp_path / ".perfbench-tmp").exists()
