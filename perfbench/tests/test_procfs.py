import json
import os
import subprocess
import sys
import time

from perfbench import procfs


def test_descendants_finds_children_and_memory_is_summed():
    child = subprocess.Popen([sys.executable, "-c", "import time; b = bytearray(64 << 20); time.sleep(30)"])
    try:
        deadline = time.time() + 10
        while time.time() < deadline and procfs.tree_rss_bytes(child.pid) < 60 << 20:
            time.sleep(0.1)
        assert child.pid in procfs.descendants(os.getpid())
        assert procfs.tree_rss_bytes(os.getpid()) >= procfs.tree_rss_bytes(child.pid) >= 60 << 20
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in procfs.descendants(os.getpid())


def test_tree_cpu_seconds_grows_with_work():
    before = procfs.tree_cpu_seconds(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert procfs.tree_cpu_seconds(os.getpid()) - before >= 0.2


def test_sampler_sees_peak_and_stops():
    sampler = procfs.RssSampler(os.getpid(), interval_s=0.02).start()
    block = bytearray(80 << 20)
    block[::4096] = b"x" * len(block[::4096])  # touch every page
    time.sleep(0.2)
    del block
    peak = sampler.stop()
    assert peak >= 80 << 20
    assert not sampler._thread.is_alive()


def test_steal_share_and_probe():
    a = procfs.cpu_jiffies()
    time.sleep(0.05)
    b = procfs.cpu_jiffies()
    assert 0.0 <= procfs.steal_share(a, b) <= 1.0
    assert procfs.steal_share(a, a) == 0.0
    assert procfs.host_probe(10_000) > 0


STOP_TREE_SCRIPT = r"""
import json, os, subprocess, sys, time
from perfbench import procfs

assert procfs.become_subreaper()
# an orphan: its parent shell exits at once, so it re-parents to this process
subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], stdout=open("orphan.pid", "w"), check=True)
stubborn = subprocess.Popen([sys.executable, "-c",
    "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"])
orphan = int(open("orphan.pid").read())
time.sleep(0.3)
assert orphan in procfs.descendants(os.getpid())
t = time.monotonic()
left = procfs.stop_tree(os.getpid(), grace_s=1.0, kill_s=2.0)
print(json.dumps({"left": left, "pids": [orphan, stubborn.pid], "s": time.monotonic() - t}))
"""


def test_stop_tree_ends_orphans_and_stubborn_children(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", STOP_TREE_SCRIPT], cwd=tmp_path, capture_output=True,
                         text=True, timeout=30, env={**os.environ, "PYTHONPATH": root})
    assert out.returncode == 0, out.stderr
    res = json.loads(out.stdout.splitlines()[-1])
    assert res["left"] == []
    assert 1.0 <= res["s"] < 3.0  # the stubborn child needed SIGKILL
    for pid in res["pids"]:
        assert not os.path.exists(f"/proc/{pid}")
