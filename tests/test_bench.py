"""The bench's two outputs: the one-line summary that ends stdout and the
plain-name ``BENCH_MEDIANS.json`` record."""

from __future__ import annotations

import json

import pytest

import bench
from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES


@pytest.mark.smoke
def test_medians_file_schema_roundtrips(tmp_path) -> None:
    timings = {
        name: round(0.1 + (i % 17) * 0.37, 4)
        for i, name in enumerate(ALL_QUERIES)
    }
    path = str(tmp_path / "BENCH_MEDIANS.json")
    bench.write_medians_file(
        timings, 0.1, cpus=32, reps=3,
        cold=["sim_pq_topk", "text_bpe_merges"], path=path,
    )
    with open(path) as fh:
        payload = json.load(fh)
    assert payload["metric"] == "headline_queries_medians"
    assert payload["sf"] == 0.1
    assert payload["cpus"] == 32
    assert payload["reps"] == 3
    assert payload["n"] == len(timings)
    assert payload["medians"] == {k: timings[k] for k in sorted(timings)}
    assert payload["cold"] == ["sim_pq_topk", "text_bpe_merges"]
    assert payload["total"] == round(sum(timings.values()), 4)
    assert set(payload["medians"]) == set(ALL_QUERIES)


def test_main_times_every_catalog_entry(
    spark, sf_dir, tmp_path, monkeypatch, capsys
) -> None:
    names = ["agg_count_total", "win_ma7"]
    path = str(tmp_path / "BENCH_MEDIANS.json")
    monkeypatch.setattr(
        bench, "ALL_QUERIES", {n: ALL_QUERIES[n] for n in names}
    )
    monkeypatch.setattr(bench, "MEDIANS_PATH", path)
    monkeypatch.setattr(bench, "get_spark", lambda **_: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    # cpus comes from the session, not from this variable's default
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)

    bench.main()

    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["metric"] == "headline_queries_total_runtime"
    assert summary["unit"] == "sec"
    assert summary["n_queries"] == 2
    with open(path) as fh:
        payload = json.load(fh)
    assert sorted(payload["medians"]) == names
    assert payload["reps"] == 1
    assert payload["cpus"] == spark.sparkContext.defaultParallelism
    assert summary["value"] == payload["total"]
    assert summary["sf"] == payload["sf"]
