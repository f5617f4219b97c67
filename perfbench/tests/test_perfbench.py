"""Tests for the benchmark's own arithmetic and generators (no Spark).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tally, self_times, tail_percentile  # noqa: E402


# ------------------------------------------------------ percentile rule

def test_percentile_needs_ten_samples_above():
    assert tail_percentile([1.0] * 5) is None
    assert tail_percentile(list(range(19))) is None  # p50 has only 9 above
    assert tail_percentile(list(range(20))) == (50.0, 9)  # 10 above rank 10


def test_percentile_picks_the_highest_qualifying():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs) == (90.0, 90.0)  # 91..100 are above
    ys = [float(i) for i in range(1, 1001)]
    assert tail_percentile(ys) == (99.0, 990.0)


def test_percentile_counts_strictly_above_with_ties():
    # 95 equal values then 5 larger: nothing but the top 5 is "above"
    assert tail_percentile([1.0] * 95 + [2.0] * 5) is None
    assert tail_percentile([1.0] * 80 + [2.0] * 20) == (75.0, 1.0)


def test_summary_reports_count_and_median():
    s = spans.summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}


# ----------------------------------------------------- span self times

def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_children_once():
    spans_ = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, 0),
        _span(2, "b", 2.0, 5.0, 0),  # overlaps a: union is [1, 5]
    ]
    st = self_times(spans_)
    assert st["op"] == pytest.approx(6.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(3.0)


def test_self_time_clips_children_and_sums_names():
    spans_ = [
        _span(0, "op", 0.0, 4.0),
        _span(1, "w", 3.0, 6.0, 0),  # runs past its parent: only 1 s counts
        _span(2, "op", 10.0, 12.0),
        _span(3, "w", 10.5, 11.0, 2),
    ]
    st = self_times(spans_)
    assert st["op"] == pytest.approx(3.0 + 1.5)
    assert st["w"] == pytest.approx(3.0 + 0.5)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    t = spans.Tracer("run", enabled=False)
    seen = []
    t.enable(lambda sid, name: seen.append(name))
    with t.span("outer"):
        with t.span("inner"):
            pass
    by_name = {s.name: s for s in t.spans}
    assert by_name["inner"].parent == by_name["outer"].span_id
    assert by_name["outer"].parent is None
    assert {s.run_id for s in t.spans} == {"run"}
    assert seen == ["outer", "inner", "outer", None]  # innermost open span
    off = spans.Tracer("run", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_patched_wraps_inner_calls_and_restores_them():
    import types

    mod = types.ModuleType("prog")
    mod.inner = lambda x: x + 1
    mod.entry = lambda x: mod.inner(x) * 2  # looks ``inner`` up at call time
    original = mod.inner
    t = spans.Tracer("r", enabled=True)
    keep: dict = {}
    with spans.patched(t, mod, {"entry": "e", "inner": "i"}, keep):
        with t.span("op"):
            assert mod.entry(3) == 8
    assert mod.inner is original
    by_name = {s.name: s for s in t.spans}
    assert by_name["i"].parent == by_name["e"].span_id
    assert by_name["e"].parent == by_name["op"].span_id
    assert keep["i"] == [((3,), {}, 4)]
    with t.paused():
        mod.entry(1)
    assert len(t.spans) == 3 and t.enabled


def test_paired_overhead_uses_only_keys_run_both_ways():
    samples = [("a", True, 1.2), ("a", False, 1.0), ("a", False, 1.4),
               ("b", True, 2.2), ("b", False, 2.0),
               ("c", True, 9.0)]  # never untraced: not a pair
    d, ratio = spans.paired_overhead(samples)
    assert d == pytest.approx((1.2 + 2.2) - (1.2 + 2.0))
    assert ratio == pytest.approx(3.4 / 3.2 - 1.0)
    assert spans.paired_overhead([("c", True, 1.0)]) is None


# ------------------------------------------------------- schedules

class _Part(workloads.Part):
    def __init__(self, label, keys):
        super().__init__("w", 0)
        self.label, self._keys = label, keys

    def keys(self):
        return self._keys


def test_schedule_interleaves_parts_and_traced_rounds_pair_every_key():
    wl = workloads.Workload.__new__(workloads.Workload)
    wl.rounds = 2
    wl.parts = [_Part("a", ["a0", "a1", "a2"]), _Part("b", ["b0"])]
    order = [(r, k) for r, _, _, k in wl.schedule()]
    assert order == [(0, "a0"), (0, "a1"), (0, "b0"), (0, "a2"),
                     (1, "a0"), (1, "a1"), (1, "b0"), (1, "a2")]
    modes: dict = {}
    for r, i, p, k in wl.schedule():
        modes.setdefault(k, []).extend(p.trace_modes(r, i, k))
    assert all(sorted(m) == [False, True] for m in modes.values())


def test_query_passes_pair_traced_and_untraced_within_one_round():
    q = workloads.Queries("w", 0)
    modes = [(q.pair_key(0, k), m) for i, k in enumerate(q.keys())
             for m in q.trace_modes(0, i, k)]
    assert len({key for key, _ in modes}) == 1
    assert {m for _, m in modes} == {False, True}


def test_query_read_figure_sums_per_query_medians():
    q = workloads.Queries("w", 0)
    q.latencies = [("a", 1.0), ("b", 2.0), ("a", 9.0), ("b", 2.2), ("a", 1.2), ("b", 2.4)]
    assert q.read_p50([{}]) == pytest.approx(1.2 + 2.2)  # a's 9.0 outlier drops out
    assert q.read_p50([]) is None


def test_vector_steps_end_at_the_compaction():
    for rounds in (1, 2, 3):
        v = workloads.Vectors("w", 0, rounds)
        assert v.first_batch + v.steps - 1 == 16  # COMPACT_EVERY


# ------------------------------------------------- failure counting

def test_failed_checks_count_as_failed_operations():
    t = Tally()
    t.op(True)
    t.op(False, "boom")
    t.checks([("rows", True, ""), ("nulls", False, "3 vs 4"), ("dups", False, "1")])
    assert (t.attempted, t.failed) == (5, 3)
    assert t.error_rate == pytest.approx(0.6)
    assert t.errors[0] == "boom" and "nulls" in t.errors[1]


def test_empty_tally_has_zero_error_rate():
    assert Tally().error_rate == 0.0


# ------------------------------------------------ generator determinism

def _tree_equal(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    return all(_tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_census_inputs_are_a_function_of_the_seed(tmp_path):
    kw = dict(shard_rows=30, small_rows=10)
    t1 = gen.census_inputs(str(tmp_path / "a"), 7, **kw)
    t2 = gen.census_inputs(str(tmp_path / "b"), 7, **kw)
    t3 = gen.census_inputs(str(tmp_path / "c"), 8, **kw)
    assert t1 == t2
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _tree_equal(str(tmp_path / "a"), str(tmp_path / "c"))


def _decoded_is_null(kind: str, cell: str, year: int, maps) -> bool:
    """Plain-Python model of the census decode conventions."""
    if cell == "":
        return True
    if kind.startswith("code:"):
        return cell not in maps[kind[5:]]
    if kind == "flag":
        return cell not in ("0", "1")
    if kind == "int":
        return not cell.isdigit()
    if kind == "date":
        if year > 2014:
            d, m, _ = (cell.split("/") + ["", ""])[:3]
            return not (d.isdigit() and m.isdigit())
        return cell[2:5] not in set(gen._MONTHS)
    return False


def test_census_planted_nulls_match_the_files(tmp_path):
    root = str(tmp_path / "in")
    truth = gen.census_inputs(root, 3, shard_rows=300, small_rows=200)
    maps = gen.census_maps()
    assert len(maps["CO_MUNICIPIO"]) > 1024  # the broadcast decode path runs
    with open(os.path.join(root, "sidecars", "maps.json")) as f:
        assert json.load(f) == maps
    for (table, year), n in truth["rows"].items():
        kinds = dict(gen.TABLES[table])
        files = ([f"{table}_{r}.csv" for r in gen.REGIONS] if table in gen.SHARDED
                 else [f"{table}.csv"])
        rows = []
        for name in files:
            with open(os.path.join(root, "raw", str(year), name), newline="") as f:
                rows += list(csv.DictReader(f, delimiter="|"))
        assert len(rows) == n
        for col, want in truth["nulls"][(table, year)].items():
            got = sum(_decoded_is_null(kinds[col], r[col], year, maps) for r in rows)
            assert got == want, (table, year, col)
    assert ("gestores", 2013) not in truth["rows"]


def test_corpus_docs_are_deterministic_and_alphabetic():
    a, ta = gen.corpus_docs(5, 400)
    b, tb = gen.corpus_docs(5, 400)
    c, _ = gen.corpus_docs(6, 400)
    assert a.equals(b) and ta == tb
    assert not a.equals(c)
    texts = a.column("text").to_pylist()
    for i in ta["exact_dup_ids"]:
        assert texts.count(texts[i]) >= 2
    # tokens like "w123" would fail max_digit_ratio; only the planted
    # digit tables may carry digits
    assert all(w.isalpha() for lang in gen.LANGS for w in gen._vocab(lang))
    assert all(w.isalpha() for line in gen.BOILERPLATE for w in line.split())
    assert set(a.column("lang").to_pylist()) <= set(gen.LANGS)


def test_vectors_are_deterministic():
    a = gen.vector_stream(9, dim=8, n_base=50, n_batches=2, batch=5, queries=3)
    b = gen.vector_stream(9, dim=8, n_base=50, n_batches=2, batch=5, queries=3)
    assert np.array_equal(a[0], b[0])
    assert all(np.array_equal(x, y) for x, y in zip(a[1] + a[2], b[1] + b[2]))


def test_star_tables_are_deterministic(tmp_path):
    r1 = gen.star_tables(str(tmp_path / "a"), 4, 0.001)
    r2 = gen.star_tables(str(tmp_path / "b"), 4, 0.001)
    assert r1 == r2 and r1["lineitem"] == 6000
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))
