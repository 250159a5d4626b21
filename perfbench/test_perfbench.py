"""Tests of the benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from oracle import fingerprint  # noqa: E402
from tracing import Span, Tracer, beyond, pct  # noqa: E402

ROOT = os.path.dirname(HERE)


def _load(name):
    with open(os.path.join(ROOT if name == "BENCHMARK.json" else HERE, name), encoding="utf-8") as fh:
        return json.load(fh)


def _live_inputs(seed, out_dir):
    c = _load("config.json")["workloads"]["cdc_live"]
    log = gen.ChangeLog(seed, c["keys"], hot_share=c["hot_share"], hot_keys=c["hot_keys"],
                        zipf_s=c["zipf_s"], delete_share=c["delete_share"])
    events = log.seed_all() + log.changes(4000)
    per_file = int(c["rate"] * c["interval_s"])
    return gen.write_files(events, out_dir, per_file, "live"), events


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, _ = _live_inputs(7, str(tmp_path / "a"))
    b, _ = _live_inputs(7, str(tmp_path / "b"))
    c, _ = _live_inputs(8, str(tmp_path / "c"))
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))
    assert gen.read_schedule(7, 0.5, 20) == gen.read_schedule(7, 0.5, 20)


def test_generated_changes_follow_the_envelope_contract(tmp_path):
    paths, events = _live_inputs(3, str(tmp_path))
    ops = {e.op for e in events}
    assert ops == {"c", "u", "d"}
    assert [e.lsn for e in events] == sorted(e.lsn for e in events)
    first = json.loads(open(paths[0], encoding="utf-8").readline())
    value = json.loads(first["value"])
    assert json.loads(first["key"]) == {"id": value["after"]["id"]}
    assert value["source"]["lsn"] == events[0].lsn
    assert value["after"]["create_time"].endswith("Z")


def test_hot_keys_are_skewed():
    log = gen.ChangeLog(1, 5000, hot_share=0.5, hot_keys=500, zipf_s=1.1)
    picks = [e.key for e in log.changes(20000)]
    hot = set(log.keys[:500])
    share = sum(k in hot for k in picks) / len(picks)
    assert 0.5 < share < 0.6  # half Zipf over the hot set, plus their uniform share
    assert picks.count(log.keys[0]) > 20 * picks.count(log.keys[-1]) + 1


def _ev(seq, key, op, lsn):
    if op == "d":
        return gen.Event(seq, key, op, lsn, 1000 + seq, None, None, None)
    return gen.Event(seq, key, op, lsn, 1000 + seq, 1000, f"m {seq}", "u")


def test_reference_fold_insert_update_delete_resurrect():
    events = [
        _ev(0, "a", "c", 10),
        _ev(1, "b", "c", 20),
        _ev(2, "a", "u", 30),   # update wins over the insert
        _ev(3, "b", "d", 40),   # delete removes b
        _ev(4, "c", "c", 50),
        _ev(5, "c", "d", 60),
        _ev(6, "c", "c", 70),   # resurrection after the delete
        _ev(7, "a", "u", 25),   # an older LSN arriving late loses
    ]
    state = gen.reference_fold(events)
    assert set(state) == {"a", "c"}
    assert state["a"] == (30, ("m 2", "u", 1000, 1002))
    assert state["c"][0] == 70
    # a stale insert after a delete must not resurrect the key
    assert "b" not in gen.reference_fold(events + [_ev(8, "b", "c", 35)])


def test_metric_names_units_and_owners():
    bench = _load("BENCHMARK.json")
    layers = _load("layers.json")
    cfg = _load("config.json")
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert [m["name"] for m in bench["per_layer"]] == list(layers)
    workloads = {w["name"] for w in bench["workloads"]}
    assert workloads == set(cfg["workloads"])
    for n, meta in layers.items():
        assert meta["workloads"] and set(meta["workloads"]) <= workloads, n
        assert meta["moves"], n
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_tail_percentile_has_ten_samples_beyond_it():
    bench = _load("BENCHMARK.json")
    c = _load("config.json")["workloads"]["cdc_live"]
    events_per_window = c["rate"] * bench["run_seconds"]
    lat = [float(i % 997) for i in range(int(events_per_window))]
    assert beyond(lat, 95) >= 10
    assert beyond(list(range(100)), 95) == 5
    assert pct([1.0, 2.0, 3.0, 4.0], 50) == 2.5


def test_self_time_subtracts_children():
    t = Tracer(True, "r")
    t.add(Span(1, "parent", "stream", 0.0, 10.0, None, "r", 1))
    t.add(Span(2, "a", "keyed_state", 1.0, 4.0, 1, "r", 1))
    t.add(Span(3, "b", "sinks", 3.0, 6.0, 1, "r", 1))
    t.add(Span(4, "orphan", "rest", 7.0, 8.0, None, "r", 2))
    st = t.self_times()
    assert st["stream"] == 5.0  # 10 minus the union [1, 6]
    assert st["keyed_state"] == 3.0 and st["sinks"] == 3.0
    t.adopt_by_containment([t.spans[0]])
    assert t.spans[3].parent == 1
    assert t.self_times()["stream"] == 4.0


def test_fingerprint_is_order_insensitive_and_type_strict():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
    c = pd.DataFrame({"x": [1.0, 2.0], "y": ["p", "q"]})
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a) != fingerprint(c)
    assert fingerprint(a, rows_only=True) == fingerprint(c, rows_only=True)
