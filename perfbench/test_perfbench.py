"""Tests of the benchmark's own parts: seeded generation and the oracle's
key->row model. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import tracing  # noqa: E402

TINY = {
    "migrate_verify": {"tables": 2, "rows": 300, "miss": 5, "diff": 5, "extra": 3},
    "cdc_binlog_bulk": {"rows": 300, "batches": 3, "events": 120},
}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_same_inputs(tmp_path, workload):
    a = gen.generate(workload, 5, TINY[workload], str(tmp_path / "a"))
    b = gen.generate(workload, 5, TINY[workload], str(tmp_path / "b"))
    c = gen.generate(workload, 6, TINY[workload], str(tmp_path / "c"))
    assert a["input_sha256"] == b["input_sha256"]
    assert a["input_sha256"] != c["input_sha256"]


def test_scalar_and_vector_rows_agree():
    ids = np.array([1, 7, 99_999, 2**40], dtype=np.int64)
    vers = np.array([0, 1, 5, 2], dtype=np.int64)
    t = gen.rows_table(11, ids, ids * 3, vers)
    for i, (rid, ver) in enumerate(zip(ids.tolist(), vers.tolist())):
        assert t.column("c")[i].as_py() == gen.row_c(11, rid, ver)
        assert t.column("pad")[i].as_py() == gen.row_pad(11, rid)
    assert len(t.column("c")[0].as_py()) == 119 and len(t.column("pad")[0].as_py()) == 59


def _initial_state(path: str) -> dict:
    t = pq.read_table(path)
    return {r["id"]: r for r in t.to_pylist()}


def _apply(state: dict, row_type: str, before, after) -> None:
    if row_type == "delete":
        del state[int(before["id"])]
    else:
        row = {"id": int(after["id"]), "k": int(after["k"]), "c": after["c"], "pad": after["pad"]}
        state[row["id"]] = row


def _digest(state: dict) -> list[int]:
    return [len(state), sum(gen.row_crc(r["id"], r["k"], r["c"], r["pad"]) for r in state.values())]


def _binlog_events(manifest: dict) -> list[tuple]:
    from ape_dts_spark.sources.binlog_file import parse_binlog_bytes

    tables = {(gen.SCHEMA, manifest["tb"]): gen.binlog_table(manifest["tb"], 101)}
    out = []
    for path in [p for d in manifest["batches"] for p in sorted(glob.glob(os.path.join(d, "*")))]:
        with open(path, "rb") as f:
            rows = parse_binlog_bytes(f.read(), tables)
        out += [(r["row_type"], r["before"], r["after"]) for r in rows
                if r["row_type"] in ("insert", "update", "delete")]
    return out


def test_binlog_files_replay_to_model_and_a_dropped_event_is_caught(tmp_path):
    """The binlog chain, decoded and replayed independently, reaches the
    model's digest; dropping a key's last event does not. (Earlier events
    of a key are overwritten by its full after-image, so only the last one
    can change the final state.)"""
    m = gen.generate("cdc_binlog_bulk", 3, TINY["cdc_binlog_bulk"], str(tmp_path / "in"))
    events = _binlog_events(m)
    want = m["after_batch"][-1]["digest"]
    assert len(events) == sum(f["n_events"] for f in m["after_batch"])
    assert any(b and b["c"] != a["c"] for t, b, a in events if t == "update")  # non-index updates
    state = _initial_state(m["initial"])
    assert _digest(state) == m["preload"]
    for e in events:
        _apply(state, *e)
    assert _digest(state) == want

    last = {int((b or a)["id"]): j for j, (_, b, a) in enumerate(events)}
    rng = np.random.default_rng(0)
    for drop in rng.choice(sorted(last.values()), size=5, replace=False):
        state = _initial_state(m["initial"])
        for j, e in enumerate(events):
            if j != drop:
                _apply(state, *e)
        assert _digest(state) != want, f"dropping event {drop} went unnoticed"


def test_migrate_verify_expectations(tmp_path):
    m = gen.generate("migrate_verify", 2, TINY["migrate_verify"], str(tmp_path / "in"))
    first, second = m["tables"][:2]
    src = pq.read_table(os.path.join(m["source"], f"{first}.parquet")).to_pylist()
    k_min = int(m["where"][first].split(">=")[1])
    kept = {r["id"]: r for r in src if r["k"] >= k_min}
    assert _digest(kept) == m["expect"]["snapshot"][first]
    assert m["route"][second] in m["expect"]["snapshot"]
    replica = {r["id"]: r for r in pq.read_table(os.path.join(m["replica"], f"{first}.parquet")).to_pylist()}
    source = {r["id"]: r for r in src}
    exp = m["expect"]["check"][first]
    assert sorted(set(source) - set(replica)) == exp["miss"]
    assert sorted(set(replica) - set(source)) == exp["extra"]
    assert sorted(i for i in source if i in replica and source[i] != replica[i]) == exp["diff"]


def test_per_layer_spec_matches_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = [(x["name"], x["unit"]) for x in json.load(f)["per_layer"]]
    assert declared == tracing.per_layer_spec()
    assert len(declared) <= 128


def test_union_and_self_time():
    assert tracing._union_len([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [{"start": 0.0, "end": 10.0}, {"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}]
    assert tracing._self_time(spans, 0, {0: [1, 2]}) == 6.0
