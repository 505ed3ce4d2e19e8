"""Tests of the benchmark's own pure helpers (no Spark):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pytest

import catalog
import datagen
import measure
import oracle

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")


# ---- percentiles and sample counts ----------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert measure.tail_percentile(n) == want


def test_summarize_reports_count_median_and_supported_tail():
    small = measure.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}
    big = measure.summarize([float(i) for i in range(100)])
    assert big["n"] == 100 and big["p50"] == 49.5
    assert big["p90"] == pytest.approx(89.1)


def test_percentile_matches_statistics_inclusive_quantiles():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert measure.percentile(xs, 25) == pytest.approx(q1)
    assert measure.percentile(xs, 50) == pytest.approx(q2)
    assert measure.percentile(xs, 75) == pytest.approx(q3)


def test_empty_samples_raise():
    with pytest.raises(ValueError):
        measure.summarize([])


# ---- process-tree CPU --------------------------------------------------------

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"


def test_tree_cpu_counts_an_exited_and_reaped_child():
    before = measure.tree_cpu_seconds(os.getpid())
    subprocess.run([sys.executable, "-c", _BURN], check=True)  # exits, is reaped
    after = measure.tree_cpu_seconds(os.getpid())
    assert after - before >= 0.35


def test_tree_cpu_counts_a_live_grandchild():
    # a child that starts a burning grandchild and waits on it
    script = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {(_BURN + 'time.sleep(30)')!r}])\n"
    )
    before = measure.tree_cpu_seconds(os.getpid())
    proc = subprocess.Popen([sys.executable, "-c", script])
    try:
        deadline = time.monotonic() + 20
        while measure.tree_cpu_seconds(os.getpid()) - before < 0.35:
            assert time.monotonic() < deadline, "grandchild CPU never counted"
            time.sleep(0.05)
        assert len(measure.tree_pids(os.getpid())) >= 3
    finally:
        for pid in measure.tree_pids(proc.pid):
            os.kill(pid, 9)
        proc.wait(timeout=10)
    assert not measure.alive(proc.pid)


def test_stat_parsing_survives_spaces_and_parens_in_comm(tmp_path):
    pid_dir = tmp_path / "4242"
    pid_dir.mkdir()
    fields = ["S", "1"] + ["0"] * 9 + ["150", "50", "30", "20"] + ["0"] * 30
    (pid_dir / "stat").write_text("4242 (odd (name) x) " + " ".join(fields) + "\n")
    assert measure._read_stat(str(pid_dir / "stat")) == (4242, 1, 250)
    assert measure.tree_cpu_seconds(4242, proc=str(tmp_path)) == 250 / measure.CLK_TCK


def test_process_age_is_positive_and_grows():
    a = measure.process_age_s()
    time.sleep(0.05)
    assert 0 < a <= measure.process_age_s()


# ---- metric names and BENCHMARK.json -----------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "op_ms.p50", "query.dd2_ngram_jaccard.cpu_s", "a-1"])
def test_valid_metric_names(name):
    assert measure.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65])
def test_invalid_metric_names(name):
    assert not measure.valid_metric_name(name)


def test_catalog_names_and_units_are_valid_and_unique():
    metrics = catalog.END_TO_END + catalog.PER_LAYER
    names = [n for n, _, _ in metrics] + list(catalog.WORKLOADS)
    assert len(names) == len(set(names))
    assert all(measure.valid_metric_name(n) for n in names)
    assert all(measure.valid_unit(u) for _, u, _ in metrics)
    assert all(b in ("higher", "lower") for _, _, b in metrics)
    assert len(catalog.PER_LAYER) <= 128


def test_benchmark_json_matches_the_catalog():
    with open(BENCHMARK_JSON) as f:
        raw = f.read()
    assert len(raw.encode()) <= 64 * 1024
    bench = json.loads(raw)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert bench["command"][:2] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert [w["name"] for w in bench["workloads"]] == list(catalog.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["why"] == catalog.WORKLOADS[w["name"]]
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(x) for x in catalog.END_TO_END
    ]
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(x) for x in catalog.PER_LAYER
    ]
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])


# ---- inputs and oracle comparison --------------------------------------------


def test_tables_are_a_function_of_the_seed():
    a, b, c = datagen.make_tables(7), datagen.make_tables(7), datagen.make_tables(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.ROWS["lineitem"]
    assert a["orders"].schema.field("o_orderdate").type == pa.timestamp("us")
    assert a["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())


def test_canon_keeps_integer_valued_floats_visibly_float():
    rows = [(34.0, 2), (None, 1)]
    assert oracle.canon(rows, ["b", "a"]) == [("1", "∅"), ("2", "34.0")]
    assert oracle.canon([(34,)], ["x"]) != oracle.canon([(34.0,)], ["x"])
    nan = float("nan")
    assert oracle.null_nan_sig([(None,)], ["x"]) != oracle.null_nan_sig([(nan,)], ["x"])


def test_oracle_digest_is_cached_and_still_catches_a_wrong_result(tmp_path):
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, None, 2.0]}), tmp_path / "t.parquet")
    sql = "SELECT k, v FROM t"
    right = [(1, 0.5), (2, None), (3, 2.0)]
    cache = tmp_path / "cache"
    first = oracle.DuckOracle(str(tmp_path), ["t"], str(cache))
    assert first.compare(sql, ["K", "v"], right[::-1]) is None
    first.close()
    assert len(list(cache.iterdir())) == 1
    again = oracle.DuckOracle(str(tmp_path), ["t"], str(cache))
    assert again.compare(sql, ["k", "v"], right) is None
    assert again.con is None  # answered from the cache
    assert again.compare(sql, ["k", "v"], [(1, 0.5), (2, None), (3, 2.5)]) == (
        "values differ from oracle"
    )
    nan = float("nan")
    assert again.compare(sql, ["k", "v"], [(1, 0.5), (2, nan), (3, 2.0)]) == (
        "NULL/NaN signature differs from oracle"
    )
    assert "rows" in again.compare(sql, ["k", "v"], right[:2])
    again.close()
