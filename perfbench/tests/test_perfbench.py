"""Tests of the benchmark's own code: generator determinism and the
tail-percentile rule.  Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


def _landing(tmp, seed):
    seeds = gen.write_seeds(os.path.join(tmp, "seeds"), seed)
    counts = {ds: gen.write_landing_day(os.path.join(tmp, "landing"), seeds, ds,
                                        "2024-01-01", 500, seed, (2023, 2024))
              for ds in gen.DATASETS}
    return seeds, counts


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, names in os.walk(root) for n in names)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _landing(str(a), 7)
    _landing(str(b), 7)
    for d in (a, b):
        gen.write_tpch(str(d / "sf"), 7, 0.001)
        gen.write_corpus(str(d / "corpus"), 7, "part-00", 0, 50)
        gen.write_corpus(str(d / "corpus"), 7, "part-01", 50, 5)
    files = _files(str(a))
    assert files == _files(str(b)) and len(files) == 3 + 3 + 7 + 4
    for f in files:
        assert filecmp.cmp(a / f, b / f, shallow=False), f


def test_other_seed_gives_other_inputs(tmp_path):
    _landing(str(tmp_path / "a"), 7)
    _landing(str(tmp_path / "b"), 8)
    f = os.path.join("landing", "sim", "dt=2024-01-01", "part-0.csv")
    assert not filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)


def test_seed_cardinalities_and_recorded_counts(tmp_path):
    seeds, counts = _landing(str(tmp_path), 3)
    assert len(seeds.mun_codes) == gen.N_MUNICIPIOS
    assert len({c // 10 for c in seeds.mun_codes}) == gen.N_MUNICIPIOS  # 6-digit keys unique
    assert len(seeds.cbo_codes) == gen.N_CBO and len(seeds.cid_codes) == gen.N_CID
    for ds, c in counts.items():
        path = gen.landing_path(str(tmp_path / "landing"), ds, "2024-01-01")
        with open(path) as f:
            lines = f.read().splitlines()
        assert len(lines) == 1 + c.raw_rows
        assert c.raw_bytes == os.path.getsize(path)
        bad = sum(1 for line in lines[1:] if line.split(";")[0] in gen.BAD_DATES)
        assert c.kept_rows == c.raw_rows - bad
        assert 0 < bad < 0.06 * c.raw_rows  # about 2% malformed event dates


@pytest.mark.parametrize("n, level", [
    (1, 100.0), (19, 100.0), (20, 50.0), (39, 50.0), (40, 75.0),
    (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert stats.tail_level(n) == level
    if level < 100:
        assert n * (1000 - round(level * 10)) >= 10 * 1000


def test_latency_summary_reports_the_tail_percentile():
    xs = [i / 1000 for i in range(1, 101)]  # 1..100 ms
    s = stats.latency_summary(xs)
    assert s["n"] == 100 and s["tail_level"] == 90.0
    assert s["p50_ms"] == pytest.approx(50.5)
    assert s["tail_ms"] == pytest.approx(90.1)
    assert s["beyond_tail"] == 10


def test_overhead_ratio_is_the_median_ratio_over_operation_kinds():
    untraced = {"a": [1.0, 1.0], "b": [2.0], "c": [1.0]}
    traced = {"a": [1.2, 1.2], "b": [2.2], "c": [3.0]}
    assert stats.overhead_ratio(untraced, traced) == pytest.approx(0.2)


def test_corpus_append_continues_the_ids(tmp_path):
    import pyarrow.parquet as pq

    gen.write_corpus(str(tmp_path), 3, "part-00", 0, 100)
    gen.write_corpus(str(tmp_path), 3, "part-01", 100, 1)
    for table, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        ids = pq.read_table(str(tmp_path / f"{table}.parquet"))[col].to_pylist()
        assert sorted(ids) == list(range(101))


def test_declared_per_layer_metrics_match_what_a_traced_run_reports():
    import json

    import workloads
    from spans import Tracer

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    run = workloads.Run(None, Tracer(None, enabled=False), 0, str(root))
    reported = set(workloads.layer_metrics(run, 4))
    reported |= {"session.start_s", "etl.bootstrap_warehouse_s", "trace.overhead_ratio"}
    assert reported == declared
