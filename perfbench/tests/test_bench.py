"""Tests of the benchmark's own logic: python3 -m pytest perfbench/tests"""
import json
import os
import re
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SF = 0.001


def load(path):
    with open(path) as f:
        return json.load(f)


# -- percentiles and sample counts -------------------------------------------

def test_percentile_interpolates_between_ranks():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_a_percentile_needs_ten_samples_beyond_it():
    assert stats.min_samples(50) == 20
    assert stats.min_samples(90) == 100
    assert stats.min_samples(99) == 1000
    assert stats.supported(100, 90) and not stats.supported(99, 90)


def test_spread_is_interquartile_range_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = stats.quartiles(xs)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([2.0] * 10) == 0.0


def test_pairs_won_counts_ties_for_neither_side():
    assert stats.pairs_won([2, 2, 2, 2], [1, 2, 3, 1], "lower") == 0.5
    assert stats.pairs_won([2, 2], [3, 2], "higher") == 0.5
    with pytest.raises(ValueError):
        stats.pairs_won([1], [1, 2], "lower")


# -- the hash of scripts/check.py ---------------------------------------------

def test_hash_ignores_row_order_but_not_values():
    a = pa.table({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pa.table({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert oracle.summary(a) == oracle.summary(b)
    c = pa.table({"k": [1, 2, 4], "v": ["x", "y", "z"]})
    assert oracle.summary(a)[2] != oracle.summary(c)[2]


def test_hash_is_dtype_sensitive_and_rejects_list_cells():
    ints = pa.table({"n": pa.array([4568], pa.int64())})
    floats = pa.table({"n": pa.array([4568.0], pa.float64())})
    assert oracle.summary(ints)[2] != oracle.summary(floats)[2]
    nested = pa.table({"a": [[1, 2], [3]]})
    with pytest.raises((TypeError, ValueError)):
        oracle.summary(nested)


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    return gen.ensure_base(str(tmp_path_factory.mktemp("data")), SF)


def test_check_accepts_a_match_and_names_each_kind_of_mismatch(base, tmp_path):
    sql = "SELECT n_regionkey AS r, count(*) AS n FROM nation GROUP BY 1"
    good = pa.table({"n": pa.array([5] * 5, pa.int64()), "r": pa.array(range(5), pa.int32())})
    cases = {
        "q_ok": good.take([4, 2, 0, 1, 3]),
        "q_rows": good.slice(0, 4),
        "q_cols": good.rename_columns(["n", "region"]),
        "q_value": good.set_column(0, "n", pa.array([5, 5, 5, 5, 6], pa.int64())),
    }
    for name, tbl in cases.items():
        os.makedirs(tmp_path / name)
        pq.write_table(tbl, tmp_path / name / "part-0.parquet")
    names = list(cases) + ["q_threw", "q_no_sql"]
    sqls = {n: sql for n in names if n != "q_no_sql"}
    cache = oracle.OracleCache(str(tmp_path / "cache.json"))
    got = oracle.check(names, sqls, base, gen.read_stamp(base), str(tmp_path), cache,
                       {"q_threw": "boom"})
    assert got["q_ok"] is None
    assert got["q_rows"].startswith("rows")
    assert got["q_cols"].startswith("columns")
    assert got["q_value"] == "hash mismatch"
    assert got["q_threw"] == "spark failed: boom"
    assert got["q_no_sql"] == "no oracle SQL"
    cache.save()
    assert len(oracle.OracleCache(str(tmp_path / "cache.json")).entries) == 1


def test_a_query_fails_when_any_of_its_checks_fails():
    got = run.worst([{"q_a": None, "q_b": "hash mismatch", "q_c": None},
                     {"q_a": None, "q_b": None, "q_c": "rows 3 != 4"}], ["build", "probe"])
    assert got == {"q_a": None, "q_b": "build: hash mismatch", "q_c": "probe: rows 3 != 4"}


# -- generated copies -----------------------------------------------------------

def test_base_matches_the_landed_testdata_schema(base):
    schemas = {t: pq.read_schema(os.path.join(base, f"{t}.parquet")) for t in gen.TABLES}
    assert schemas["nation"].field("n_nationkey").type == pa.int32()
    assert schemas["events"].field("ts").type == pa.timestamp("us")
    assert schemas["embeddings"].field("embedding").type == pa.list_(pa.float32())
    for t in gen.TABLES:
        md = pq.ParquetFile(os.path.join(base, f"{t}.parquet")).metadata
        assert md.num_row_groups == 1 and md.num_rows == gen.row_counts(SF)[t]


def test_copies_are_seeded_permutations_with_the_base_layout(base, tmp_path):
    a = gen.ensure_copy(base, str(tmp_path / "a"), 7, "measured")
    assert gen.ensure_copy(base, str(tmp_path / "a"), 7, "measured") == a
    gen.ensure_copy(base, str(tmp_path / "b"), 7, "warmup")
    gen.ensure_copy(base, str(tmp_path / "c"), 7, "measured")
    read = lambda d: pq.read_table(os.path.join(tmp_path, d, "lineitem.parquet"))
    assert read("a").equals(read("c"))
    assert not read("a").equals(read("b"))
    assert read("a").sort_by("l_orderkey").num_rows == read("b").num_rows
    gen.check_copy(base, str(tmp_path / "b"), 7, "warmup")


@pytest.mark.parametrize("tamper", ["reorder", "row_groups", "drop_file", "types"])
def test_check_copy_rejects_a_copy_that_breaks_an_invariant(base, tmp_path, tamper):
    out = str(tmp_path / "copy")
    gen.ensure_copy(base, out, 3, "measured")
    path = os.path.join(out, "orders.parquet")
    tbl = pq.read_table(path)
    if tamper == "reorder":
        pq.write_table(tbl.take(list(range(tbl.num_rows))[::-1]), path)
    elif tamper == "row_groups":
        pq.write_table(tbl, path, row_group_size=tbl.num_rows // 2)
    elif tamper == "drop_file":
        os.remove(path)
    else:
        pq.write_table(tbl.set_column(0, "o_orderkey", tbl["o_orderkey"].cast(pa.int32())), path)
    with pytest.raises(ValueError):
        gen.check_copy(base, out, 3, "measured")


# -- BENCHMARK.json and the metrics it points to ---------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_meets_the_contract():
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"] and bench["command"][1].startswith("perfbench/")
    assert 1 <= bench["run_seconds"] <= 60 and 2 <= len(bench["workloads"]) <= 8
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert len(names) == len(set(names))
    assert len(json.dumps(bench)) < 64 * 1024


def test_workloads_and_layers_agree_with_benchmark_json():
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load(os.path.join(BENCH_DIR, "workloads.json"))
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    assert [m["name"] for m in bench["per_layer"]] == list(spec["layers"])
    for text in spec["layers"].values():
        assert re.match(r"^(first|warm|run): .*\bmoves?\b", text)


def fake_record(traced):
    counts = {k: 1.0 for k in run.PASS_SUMS}
    counts.update({"batch_ms": [10.0, 20.0], "exec.task_skew": 1.5,
                   "stream.batch_jobs": 4, "stream.job_batches": 2})
    call = {"q": "q_x", "build_s": 0.1, "action_s": 0.2, "error": None,
            "build": counts if traced else {}, "action": counts if traced else {}}
    p = lambda kind, wall=1.0: {"kind": kind, "wall_s": wall, "cpu_s": 2.0, "steal_s": 0.0,
                                "clean": True, "calls": [call], "load1": [1.0, 2.0],
                                "counts": counts, "cached_mb": 3.0}
    return {"setups_s": [9.0, 8.0], "setup_s": 8.0, "main_s": 0.5, "warmup_s": 4.0,
            "table_load_s": {"t": 0.1}, "staging": [{"k": 0.5}, {"k": 0.4, "j": 0.2}, {"k": 0.9}],
            "jvm_gc_s": 0.1, "heap_peak_mb": 100.0, "peak_rss_mb": 500.0, "cpus": 4,
            "passes": [p("warmup"), p("warmup"), p("warmup"),
                       p("first", 5.0), p("warm"), p("first", 3.0), p("warm"), p("first", 4.0),
                       p("warm")]}


def test_emitted_metrics_are_exactly_the_declared_ones():
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    e2e = run.end_to_end(fake_record(False))
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    assert e2e["setup_s"] == (8.5, 2) and e2e["query_s.p50"] == (pytest.approx(0.3), 3)
    # the median of the first passes, one per measured copy
    assert e2e["first_pass_s"] == (4.0, 3) and e2e["warm_pass_s"] == (1.0, 3)
    layers = run.per_layer(fake_record(True), 42)
    assert set(layers) == {m["name"] for m in bench["per_layer"]}
    assert layers["stream.jobs_per_batch"][0] == 2.0
    assert layers["setup.session_s"] == (7.5, 1)
    assert layers["staging.build_s"] == (pytest.approx(0.6), 3)
    assert layers["staging.artifacts"] == (1, 3)
    first = run.query_breakdown(fake_record(True))["q_x"]["first"]
    assert first["build_s"] == 0.1 and first["exec.jobs"] == 2.0
    # three counter slices per pass (build, action, pass end), 1 s of tasks each
    assert layers["exec.core_util"][0] == pytest.approx(3.0 / (1.0 * 4))


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("target", "__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    import subprocess
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_dedup",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert r.returncode != 0 and r.stdout == ""
