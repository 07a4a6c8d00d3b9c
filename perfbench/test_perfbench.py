"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

import inputs
import procstat
import stats
from spans import Span, Tracer, covered, self_times


# --- tail percentile rule ----------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert stats.tail([float(i) for i in range(19)]) is None
    t = stats.tail([float(i) for i in range(1, 21)])
    assert t == {"value": 10.0, "percentile": 50.0, "n": 20}


@pytest.mark.parametrize("n, pct", [(40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0),
                                    (10_000, 99.9)])
def test_tail_picks_highest_qualifying_percentile(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    t = stats.tail(values)
    assert t["percentile"] == pct and t["n"] == n
    assert sum(1 for v in values if v > t["value"]) >= stats.TAIL_MIN_BEYOND


def test_tail_counts_only_samples_strictly_beyond():
    # ties at the percentile value are not "beyond" it
    assert stats.tail([1.0] * 15 + [2.0] * 9) is None
    assert stats.tail([1.0] * 15 + [2.0] * 10)["value"] == 1.0


# --- span self time ----------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(6.0)
    assert covered((0, 10), [(-5, -1), (11, 12)]) == 0.0
    assert covered((0, 10), []) == 0.0


def test_self_time_subtracts_children_only_once():
    spans = [
        Span(1, "op", 0.0, 10.0, None, 0),
        Span(2, "a", 1.0, 4.0, 1, 0),
        Span(3, "b", 3.0, 6.0, 1, 0),  # overlaps a: concurrent children
        Span(4, "a.inner", 1.5, 3.5, 2, 0),  # a grandchild of op
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0)
    assert st[2] == pytest.approx(3.0 - 2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(2.0)


def test_tracer_nests_spans_and_restores_wrapped_functions():
    mod = type(sys)("fake_layer")

    def work(x):
        time.sleep(0.01)
        return x + 1

    mod.work = work
    tr = Tracer()
    tr.wrap("layer.work", work, mod)
    with tr.span("op"):
        assert mod.work(1) == 2
    tr.unwrap_all()
    assert mod.work is work
    op, = (s for s in tr.spans if s.name == "op")
    inner, = (s for s in tr.spans if s.name == "layer.work")
    assert inner.parent == op.id
    totals = tr.by_name()
    assert totals["op"]["self_s"] == pytest.approx(
        totals["op"]["wall_s"] - totals["layer.work"]["wall_s"])


# --- /proc sampling ----------------------------------------------------------

_BUSY = """
import sys, time
block = bytearray(200 * 1024 * 1024)
for i in range(0, len(block), 4096):
    block[i] = 1
sys.stdout.write("ready\\n"); sys.stdout.flush()
t = time.process_time()
while time.process_time() - t < 1.0:
    pass
"""


def test_tree_cpu_and_rss_see_a_busy_child():
    me = os.getpid()
    cpu0 = procstat.tree_cpu(me)["total"]
    rss0 = procstat.tree_rss_bytes(me)
    child = subprocess.Popen([sys.executable, "-c", _BUSY], stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline().strip() == b"ready"
        assert child.pid in procstat.tree_pids(me)
        assert procstat.tree_rss_bytes(me) - rss0 > 150e6
        with procstat.RssSampler(me, interval_s=0.05) as sampler:
            child.wait(timeout=30)
        assert sampler.peak - rss0 > 150e6
    finally:
        child.kill()
        child.wait(timeout=30)
    # the reaped child's CPU moved into this process's cutime
    assert procstat.tree_cpu(me)["total"] - cpu0 >= 0.9
    assert child.pid not in procstat.tree_pids(me)


def test_python_worker_share_counts_python_descendants_only():
    me = os.getpid()
    before = procstat.tree_cpu(me)
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.process_time()\n"
                              "while time.process_time()-t<0.5: pass\ninput()"],
                             stdin=subprocess.PIPE)
    try:
        time.sleep(1.0)
        during = procstat.tree_cpu(me)
        assert during["python_workers"] - before["python_workers"] >= 0.4
    finally:
        child.communicate(b"\n", timeout=30)


# --- seed windows and seeded inputs ------------------------------------------

def test_seed_windows_do_not_overlap():
    n = stats.WINDOW_ROWS
    windows = sorted(stats.seed_window(s, n) for s in range(200))
    for (a0, a1), (b0, b1) in zip(windows, windows[1:]):
        assert a1 <= b0
    assert stats.WINDOW_ROWS % 1000 == 0
    assert stats.seed_window(stats.MAX_SEED - 1, n)[1] <= 10**12


def test_any_integer_seed_selects_a_window():
    n = 20_000
    for seed in (-1, stats.MAX_SEED, 2**31 - 1, 2**64 + 7):
        start, end = stats.seed_window(seed, n)
        assert start == (seed % stats.MAX_SEED) * stats.WINDOW_ROWS
        assert end - start == n and end <= 10**12
    assert stats.seed_window(stats.MAX_SEED + 3, n) == stats.seed_window(3, n)


@pytest.mark.parametrize("n", [0, -1, stats.WINDOW_ROWS + 1])
def test_seed_window_rejects_bad_sizes(n):
    with pytest.raises(ValueError):
        stats.seed_window(0, n)


def _fake_dimension():
    rows = [
        {"entry_id": 0, "source": "EU-Sanctions", "names": ["Sergei Ivanovich Neverov"],
         "dob_epoch": [-253411200], "dob_year": [1961], "dob_text": None},
        {"entry_id": 5, "source": "OFAC-Consolidated", "names": ["Bandit Outlaw"],
         "dob_epoch": None, "dob_year": None, "dob_text": None},
    ]
    for i, (first, src, year) in enumerate([("Alice", "HMT-Sanctions", 1950),
                                            ("Alice", "EU-Sanctions", 1951),
                                            ("Boris", "OFAC-SDN", 1950)]):
        rows.append({"entry_id": 12 + i, "source": src, "names": [f"{first} Genersson{i}"],
                     "dob_epoch": None, "dob_year": [year], "dob_text": None})
    return rows


def test_probe_mix_is_seeded_and_expects_reference_verdicts():
    dim = _fake_dimension()
    a = inputs.probe_mix(dim, 7, 300)
    assert a == inputs.probe_mix(dim, 7, 300)
    assert a != inputs.probe_mix(dim, 8, 300)
    assert {p["kind"] for p in a} == set(inputs.PROBE_KINDS)
    for p in a:
        kw = p["kwargs"]
        if p["kind"] == "exact_name" and kw["first_name"] == "Alice":
            # digits are stripped from name tokens: every Alice entry
            # is a candidate, and the least source wins
            assert (p["matched"], p["list"]) == (1, "EU-Sanctions")
        if p["kind"] == "name_dob" and kw["first_name"] == "Alice":
            year = int(kw["date_of_birth"][:4])
            assert p["list"] == {1950: "HMT-Sanctions", 1951: "EU-Sanctions"}[year]
        if p["kind"] in ("dob_mismatch", "miss"):
            assert p["matched"] == 0 and p["list"] is None
