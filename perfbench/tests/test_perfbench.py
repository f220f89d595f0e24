"""Unit tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import run
from perfbench.phases import Interval, PhaseClock, fold_event_log, instrumented
from perfbench.stats import Checks, median, percentile, summary, tail
from perfbench.workloads import DOCUMENTS, WORKLOADS, _filing_matches, sample_documents

HERE = Path(__file__).parent
CANNED = str(HERE / "canned_eventlog.jsonl")
ROOT = HERE.parent.parent


def canned_fold():
    intervals = [
        Interval("seed", "timed", 900.0, 2000.0),
        Interval("commit", "timed", 2000.0, 3000.0),
    ]
    return fold_event_log(CANNED, intervals)


def test_fold_attributes_jobs_by_submission_time():
    fold = canned_fold()
    seed, commit = fold.get("timed", "seed"), fold.get("timed", "commit")
    assert (seed.jobs, commit.jobs) == (1, 1)
    # job 2 was submitted after the last interval closed
    assert fold.jobs == 3 and fold.unattributed_jobs == 1
    # stage 2 belongs to the unattributed job; stage 7 to no job at all
    assert fold.unattributed_tasks == 2


def test_fold_sums_task_metrics_per_phase():
    fold = canned_fold()
    seed, commit = fold.get("timed", "seed"), fold.get("timed", "commit")
    # both stage-0 tasks ran in job 0, the first job that listed stage 0
    assert seed.exec_run_s == pytest.approx(2.0)
    assert seed.exec_cpu_s == pytest.approx(1.25)
    assert seed.gc_s == pytest.approx(0.1)
    assert seed.shuffle_write_mb == pytest.approx(1.0)
    assert commit.exec_run_s == pytest.approx(2.0)
    assert commit.shuffle_read_mb == pytest.approx(2.0)
    assert commit.spill_mb == pytest.approx(3.0)  # disk bytes, not memory
    total = fold.total("timed")
    assert total.exec_run_s == pytest.approx(seed.exec_run_s + commit.exec_run_s)
    assert fold.total("setup").jobs == 0


def test_fold_separates_parse_kernels_from_other_python_nodes():
    seed = canned_fold().get("timed", "seed")
    # the text-reading node is a parse kernel; the url-only node is not
    assert seed.parse_py["py_run_s"] == pytest.approx(1.0)
    assert seed.py["py_run_s"] == pytest.approx(1.3)
    assert seed.parse_py["py_boot_s"] == pytest.approx(0.05)
    assert seed.parse_py["py_init_s"] == pytest.approx(0.02)
    assert seed.parse_py["py_sent_mb"] == pytest.approx(2.0)
    assert seed.parse_py["py_recv_mb"] == pytest.approx(1.0)
    commit = canned_fold().get("timed", "commit")
    assert commit.py["py_run_s"] == pytest.approx(0.9)
    assert commit.parse_py["py_run_s"] == 0


def test_clock_intervals_are_contiguous_and_sectioned():
    clock = PhaseClock()
    clock.begin("timed")
    clock.switch("discover", 0)
    clock.record("run_wave", 1.5)
    clock.begin("recrawl")
    clock.record("run_wave", 9.0)
    clock.close()
    for a, b in zip(clock.intervals, clock.intervals[1:]):
        assert a.end_ms == b.start_ms
    assert [iv.section for iv in clock.intervals] == ["setup", "timed", "timed", "recrawl"]
    assert clock.calls["timed"]["run_wave"] == [1.5]
    assert clock.calls["recrawl"]["run_wave"] == [9.0]
    assert set(clock.wall_s("timed")) == {"bench", "discover"}


def test_instrumented_restores_the_program():
    from edgar_spark.frontier import crawler
    from edgar_spark.frontier.bloom import ShardedBloom
    from edgar_spark.icelite.table import IceliteCatalog

    before = (dict(crawler.Crawler.__dict__), crawler.consolidate_facts,
              dict(IceliteCatalog.__dict__), dict(ShardedBloom.__dict__))
    with instrumented(PhaseClock()):
        assert crawler.Crawler.__dict__["run"] is not before[0]["run"]
        assert isinstance(crawler.Crawler.__dict__["resume"], classmethod)
    after = (dict(crawler.Crawler.__dict__), crawler.consolidate_facts,
             dict(IceliteCatalog.__dict__), dict(ShardedBloom.__dict__))
    assert after == before


def test_median_and_percentile():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    with pytest.raises(ValueError):
        median([])


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None
    # 100 samples: p90 has 10 beyond it, p99 only 1
    t = tail([float(x) for x in range(100)])
    assert t == {"p": 90.0, "value": 89.0, "beyond": 10}
    assert tail([float(x) for x in range(1000)])["p"] == 99.0
    s = summary([2.0, 1.0, 3.0])
    assert s == {"p50": 2.0, "tail": None, "n": 3}


def _synthetic_filing():
    from edgar_spark.parse import meta
    from edgar_spark.synth import corpus

    i = 7
    an = corpus.accession_of(i, "10-K", corpus.filing_dates("10-K", 1)[0])
    exp = corpus.expected_filing(i, an)
    got = dict(exp)
    got["collected"] = [f.go_name for f in meta.COLLECTED_ORDER if exp[f.col] is not None]
    return got, exp, meta


def test_fail_ratio_counts_failed_checks():
    got, exp, meta = _synthetic_filing()
    checks = Checks()
    checks.check("filing", _filing_matches(got, exp, meta))
    assert (checks.attempted, checks.failed, checks.fail_ratio) == (1, 0, 0.0)

    wrong = dict(exp, revenue=exp["revenue"] + 1.0)  # a wrong expected value
    checks.check("filing-wrong", _filing_matches(got, wrong, meta), "revenue")
    checks.check("missing", _filing_matches(None, exp, meta))
    assert (checks.attempted, checks.failed) == (3, 2)
    assert checks.fail_ratio == pytest.approx(2 / 3)
    assert checks.failures == ["filing-wrong: revenue", "missing"]


def test_benchmark_json_matches_the_runner():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_names()
    assert [w["name"] for w in spec["workloads"]] == sorted(WORKLOADS)


def test_repetitions_depend_on_the_arguments_only():
    crawl, curate = WORKLOADS["crawl_bulk"], WORKLOADS["curate_docs"]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert run.repetitions(crawl, spec["run_seconds"]) == 2
    assert run.repetitions(curate, spec["run_seconds"]) == 2
    assert run.repetitions(crawl, 1) == 1  # at least one


def test_documents_sample_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    def ids(seed, name):
        sample_documents(seed, 50, tmp_path / name)
        return pq.read_table(tmp_path / name / "documents.parquet").column("doc_id").to_pylist()

    first, again, other = ids(1, "a"), ids(1, "b"), ids(2, "c")
    assert first == again and first != other
    assert len(set(first)) == 50
    assert set(first) <= set(pq.read_table(DOCUMENTS).column("doc_id").to_pylist())
