"""Tests of the benchmark itself: inputs, oracle check, cleanup, tracing.

Run from the repository root: ``python -m pytest graftbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from graftbench import inputs, run  # noqa: E402
from graftbench.oracle import OracleCache, digest, fingerprint  # noqa: E402
from graftbench.trace import parse_metric, split_metric_map  # noqa: E402


def _size(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_inputs_are_a_function_of_the_seed(workload, tmp_path):
    gen = inputs.GENERATORS[workload]
    a = gen(5, str(tmp_path / "a"))
    b = gen(5, str(tmp_path / "b"))
    c = gen(6, str(tmp_path / "c"))
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a) != fingerprint(c)
    assert abs(_size(c) - _size(a)) < 0.05 * _size(a)


def test_documents_plant_the_stated_duplicate_share(tmp_path):
    import pyarrow.parquet as pq

    data = inputs.write_iterative(3, str(tmp_path))
    for name, rows in inputs.IT_ROWS.items():
        assert pq.read_metadata(f"{data}/{name}.parquet").num_rows == rows
    texts = pq.read_table(f"{data}/documents.parquet", columns=["text"])["text"].to_pylist()
    by_len: dict[int, list[list[str]]] = {}
    for t in texts:
        words = t.split(" ")
        by_len.setdefault(len(words), []).append(words)
    # An edited copy keeps the base's length and >= 90% of its words in
    # place; two independent random documents essentially never do.
    near = 0
    for docs in by_len.values():
        for i, a in enumerate(docs):
            if any(sum(x == y for x, y in zip(a, b)) >= 0.9 * len(a) for j, b in enumerate(docs) if j != i):
                near += 1
    share = near / len(texts)
    assert 0.8 * inputs.DOC_DUP_SHARE <= share <= 1.2 * inputs.DOC_DUP_SHARE


def test_oracle_rejects_one_perturbed_row(tmp_path):
    from mock_map_reduce_spark import registry

    registry.load_all()
    data = inputs.write_iterative(4, str(tmp_path / "in"))
    oracle = OracleCache(
        str(tmp_path / "digests.json"), run._oracle_tables("iterative", data), fingerprint(data), str(tmp_path)
    )
    sql = registry.ORACLES["streaming_tumbling_counts"]
    con = oracle._connect()
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    assert digest(cols, rows) == oracle.expected(sql)
    i = cols.index("n_events")
    bad = list(rows)
    bad[7] = tuple(v + 1 if j == i else v for j, v in enumerate(bad[7]))
    assert digest(cols, bad) != oracle.expected(sql)
    assert digest(cols, rows[:-1]) != oracle.expected(sql)
    oracle.close()
    # A second cache over the same file answers without DuckDB.
    again = OracleCache(str(tmp_path / "digests.json"), {}, fingerprint(data), str(tmp_path))
    assert again.expected(sql) == digest(cols, rows)


def test_parse_status_store_metric_strings():
    assert parse_metric("Some(291 ms)") == pytest.approx(0.291)
    assert parse_metric("2.1 KiB") == pytest.approx(2.1 * 1024)
    assert parse_metric("26,136") == 26136
    assert parse_metric("0.0 B") == 0.0
    assert parse_metric("None") == 0.0
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.2 s (187 ms, 375 ms, 383 ms (stage 4.0: task 9))"
    ) == pytest.approx(1.2)
    assert parse_metric("(min, med, max (stageId: taskId)):\n(1, 2, 3 (stage 5.0: task 6))") == 2
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")
    raw = (
        "HashMap(1665 -> 26,136, 1899 -> total (min, med, max (stageId: taskId))\n"
        "298 ms (58 ms, 66 ms, 110 ms (stage 14.0: task 25)), 1823 -> 1027.9 KiB)"
    )
    values = {k: parse_metric(v) for k, v in split_metric_map(raw).items()}
    assert values == {1665: 26136, 1899: pytest.approx(0.298), 1823: pytest.approx(1027.9 * 1024)}


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "graftbench/run.py"]
    listed = {w["name"] for w in bench["workloads"]}
    assert listed == set(run.WARMUP_PASSES) == set(run.COLD_STARTS) == set(inputs.GENERATORS)
    assert all(n >= 1 for n in run.COLD_STARTS.values())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert all(m["better"] == "lower" for m in bench["end_to_end"])
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        name: row[:2] for name, row in run.LAYERS.items()
    }
    for name, (_, _, moves, on, off) in run.LAYERS.items():
        for w in (on + " " + off).split():
            assert w in ("all", "-") or w in run.WARMUP_PASSES, name
        for m in moves.split():
            assert m == "-" or m in run.END_TO_END, name


@pytest.fixture(scope="module")
def spark():
    from mock_map_reduce_spark.session import get_spark

    return get_spark("graftbench-test")


def test_iterative_pass_leaves_nothing_persisted(spark, tmp_path):
    from mock_map_reduce_spark import registry

    registry.load_all()
    data = inputs.write_iterative(8, str(tmp_path / "in"))
    oracle = OracleCache(
        str(tmp_path / "digests.json"), run._oracle_tables("iterative", data), fingerprint(data), str(tmp_path)
    )
    bench = run.Run(spark, "iterative", data, str(tmp_path), oracle, traced=True)
    rec = bench.one_pass("test", traced=True)
    oracle.close()
    assert rec["ok"], rec.get("error")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert not spark.streams.active
    assert not [t for t in spark.catalog.listTables() if t.isTemporary]
    layers = rec["layers"]
    assert layers["catalog.build_jobs"] > 0
    assert layers["streaming.batches"] >= 1
    assert layers["sink.write_s"] == 0
    assert 0 < layers["trace.overhead_s"] < 0.05 * rec["wall_s"]
