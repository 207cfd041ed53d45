"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pyarrow.parquet as pq
import pytest

from perfbench import corpus, feeds, run, stats, workloads, worker

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")
TAIL_CAPTURE_BYTES = 4600  # the stdout tail a result must survive


def _digest(tables) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(tables[name].to_pandas().to_csv(index=False).encode())
    return h.hexdigest()


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(root, f), path).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- seeded inputs --------------------------------------------------------------


def test_corpus_is_deterministic_per_seed_and_differs_between_seeds():
    a = _digest(corpus.build_tables(5, 0.001))
    assert a == _digest(corpus.build_tables(5, 0.001))
    assert a != _digest(corpus.build_tables(6, 0.001))


def test_corpus_files_are_byte_identical_for_a_seed(tmp_path):
    corpus.write_corpus(str(tmp_path / "a"), 11, 0.001)
    corpus.write_corpus(str(tmp_path / "b"), 11, 0.001)
    corpus.write_corpus(str(tmp_path / "c"), 12, 0.001)
    assert _dir_digest(str(tmp_path / "a")) == _dir_digest(str(tmp_path / "b"))
    assert _dir_digest(str(tmp_path / "a")) != _dir_digest(str(tmp_path / "c"))


def test_corpus_row_counts_follow_scale():
    rows = {n: t.num_rows for n, t in corpus.build_tables(1, 0.1).items()}
    assert rows["lineitem"] == 600_000 and rows["orders"] == 150_000
    assert rows["documents"] == 5_000 and rows["embeddings"] == 2_000


# column types of the fixture corpus (FIXTURES.md section 5); the rest of
# each schema is checked by name
FIXTURE_TYPES = {
    ("events", "ts"): "timestamp[ns]",
    ("orders", "o_orderdate"): "timestamp[us]",
    ("lineitem", "l_shipdate"): "timestamp[us]",
    ("embeddings", "embedding"): "list<element: float>",
}
FIXTURE_COLUMNS = {
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def test_corpus_schema_follows_the_fixture_types(tmp_path):
    corpus.write_corpus(str(tmp_path), 1, 0.001)
    schemas = {
        name: pq.read_schema(str(tmp_path / f"{name}.parquet"))
        for name in ("events", "orders", "lineitem", "documents", "embeddings")
    }
    for (table, col), typ in FIXTURE_TYPES.items():
        assert str(schemas[table].field(col).type) == typ, (table, col)
    for table, cols in FIXTURE_COLUMNS.items():
        assert schemas[table].names == cols
    # stored as parquet TIMESTAMP(NANOS), the files catalog.load_table restores
    ts = json.loads(pq.ParquetFile(str(tmp_path / "events.parquet")).schema.column(1).logical_type.to_json())
    assert (ts["Type"], ts["timeUnit"], ts["isAdjustedToUTC"]) == ("Timestamp", "nanoseconds", False)


def test_feeds_are_deterministic_per_seed_and_differ_between_seeds(tmp_path):
    small = feeds.Sizes(ntas=20, food_years=3, zips=40, months=6, slice_updates=5, slice_new=2)
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        fs = feeds.write_feeds(str(tmp_path / d), seed, rounds=2, sizes=small)
    assert list(fs.initial) == list(workloads.DATASETS)
    assert list(fs.rounds[0]) == list(workloads.ROUND_DATASETS)
    assert _dir_digest(str(tmp_path / "a")) == _dir_digest(str(tmp_path / "b"))
    assert _dir_digest(str(tmp_path / "a")) != _dir_digest(str(tmp_path / "c"))


def test_reference_keeps_last_nulls_bad_values_and_sentinels():
    ref = feeds.Reference()
    food = feeds.pd.DataFrame({
        ":id": ["1", "2", "3"],
        "Data Year": ["2020", "2020", "2021"],
        "NTA2020": ["NT0001", "NT0001", "NT0001"],
        "Supply Gap": ["10", "oops", "30"],
        "Supply Gap Percent": ["50", "150", "-1"],
    })
    assert ref.apply("food_supply_gap", food) == 2
    t = ref.tables["food_supply_gap"]
    row = t[t["year"] == 2020].iloc[0]
    assert math.isnan(row["supply_gap_lbs"]) and math.isnan(row["supply_gap_pct"])  # kept last
    acs = feeds.pd.DataFrame({
        "B17001_002E": ["10", "-999999999"], "B17001_001E": ["100", "100"],
        "B19013_001E": ["-666666666", "50000"], "zcta": ["10001", "10002"],
    })
    assert ref.apply("census_acs", acs) == 2
    a = ref.tables["census_acs"].set_index("zip_code")
    assert math.isnan(a.loc["10001", "median_household_income"])
    assert math.isnan(a.loc["10002", "poverty_rate"])


# -- statistics -------------------------------------------------------------------


@pytest.mark.parametrize("n,p", [(20, 50), (28, 64), (40, 75), (100, 90), (1000, 99), (19, 47), (10, 100)])
def test_tail_percentile_examples(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(11, 600):
        p = stats.tail_percentile(n)
        assert n - math.ceil(p / 100 * n) >= stats.TAIL_MIN_BEYOND
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < stats.TAIL_MIN_BEYOND


def test_percentile_is_nearest_rank():
    xs = list(range(1, 41))
    assert stats.percentile(xs, 75) == 30  # ten samples (31..40) beyond


def _passes(later_s, traced_idx):
    first = {"index": 0, "kind": "first", "s": 30.0, "traced": True}
    return [first] + [
        {"index": i, "kind": "later", "s": s, "traced": i in traced_idx}
        for i, s in enumerate(later_s, start=1)
    ]


def test_overhead_compares_a_traced_pass_with_its_untraced_neighbours():
    # a steady 0.2 s/pass drift cancels: pass 5 is 10% over the mean of 4 and 6
    later = [6.0, 5.8, 5.6, 5.4, 5.2 * 1.1, 5.0]
    assert run.overhead_pct(_passes(later, {5})) == pytest.approx(10.0)
    # a traced pass without an untraced pass on both sides is not compared
    assert run.overhead_pct(_passes([5.0, 6.0], {2})) == 0.0


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_later_passes_sit_between_untraced_ones(workload):
    n, traced = workloads.later_passes(workload, traced=True)
    assert traced and all(1 < i < n for i in traced)
    assert all(i - 1 not in traced and i + 1 not in traced for i in traced)
    assert workloads.later_passes(workload, traced=False) == (workloads.LATER_PASSES[workload], ())


def test_steal_share_is_the_steal_counter_over_all_cpu_time():
    assert run.steal_pct([5] * 8, [15, 5, 5, 15, 5, 5, 5, 10]) == pytest.approx(20.0)
    assert len(run.cpu_jiffies()) == 8


# -- correctness accounting -----------------------------------------------------------


class _FakeContext:
    def setJobGroup(self, *_args):  # noqa: N802 (Spark API name)
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_wrong_row_count_is_a_failed_operation(monkeypatch):
    r = worker.QueryRun({"workload": "query", "trace": 0})
    r.spark = _FakeSpark()
    monkeypatch.setattr(r, "run_query", lambda fn, sf_dir: 41)
    r.query_op("query", "q", None, 0, "unused", want=42)
    r.query_op("query", "q", None, 0, "unused", want=41)
    attempted, failed, failures = run.tally(r.ops)
    assert (attempted, failed) == (2, 1)
    assert "41 != expected 42" in failures[0]


def test_warmup_operations_are_checked_but_not_timed():
    r = worker.QueryRun({"workload": "query", "trace": 0})
    r.spark = _FakeSpark()
    r.warmup(lambda: r.op("query", "q", -1, lambda: 1, lambda result, rec: "wrong"))
    r.op("query", "q", 0, lambda: 1, lambda result, rec: None)
    assert len(r.warmup_ops) == 1 and len(r.ops) == 1
    assert run.tally(r.warmup_ops + r.ops)[:2] == (2, 1)


def test_first_and_later_pass_metrics_are_medians_of_their_passes():
    passes = [("first", 5.0), ("first", 4.0), ("first", 4.4), ("later", 2.0), ("later", 3.0)]
    raw = {
        "t_first_op": 100.0,
        "ops": [
            {"kind": "query", "name": "q3_shipping_priority", "pass": i, "s": s, "err": None, "traced": False}
            for i, (_kind, s) in enumerate(passes)
        ],
        "passes": [{"index": i, "kind": k, "s": s, "traced": False} for i, (k, s) in enumerate(passes)],
    }
    m, _detail = run.end_to_end("query", raw, t_spawn=90.0, peak_rss=1000.0)
    assert m == {"setup_s": 10.0, "first_pass_s": 4.4, "pass_s": 2.5, "peak_rss_mb": 1000.0}


def test_exception_is_a_failed_operation():
    r = worker.QueryRun({"workload": "query", "trace": 0})
    r.spark = _FakeSpark()

    def boom():
        raise RuntimeError("engine failure")

    r.op("query", "q", 0, boom, lambda result, rec: None)
    assert run.tally(r.ops)[1] == 1


# -- result line ---------------------------------------------------------------------------


def _line(units: dict) -> str:
    metrics = {k: stats.metric(123456.78901234567 + i, u) for i, (k, u) in enumerate(units.items())}
    return stats.result_line(True, 123456, 0, metrics)


@pytest.mark.parametrize("units", [workloads.END_TO_END, workloads.PER_LAYER])
def test_result_line_parses_from_the_stdout_tail(units):
    noise = "".join(f"log line {i} " + "x" * 150 + "\n" for i in range(200))
    detail = json.dumps({"perfbench": {"detail": "y" * 6000}})
    stdout = noise + detail + "\n" + _line(units) + "\n"
    tail = stdout.encode()[-TAIL_CAPTURE_BYTES:].decode(errors="replace")
    last = json.loads(tail.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert set(last["metrics"]) == set(units)
    assert all(set(m) == {"value", "unit"} for m in last["metrics"].values())


# -- BENCHMARK.json agrees with the code -----------------------------------------------------


def test_benchmark_json_matches_the_metric_catalogue():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER

