"""REST ingress (reference A14) — MessageRestController semantics over HTTP.

Replays the controller contract (MessageRestController.kt:15-29 +
MessageService.kt:18-39) against the stdlib server: insert assigns an id
with create_time == update_time (CdcApplicationTests.kt:25 invariant),
update preserves create_time and bumps update_time, update of a missing
id is a typed 404, delete returns 204 and removes the row, GET serves
the materialized snapshot.
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

import pytest

from cdc_example_spark.operators.keyed_state import KeyedStateSink
from cdc_example_spark.streaming.rest import MessageRestServer

UTC = dt.timezone.utc


@pytest.fixture()
def server(spark, tmp_path):
    sink = KeyedStateSink(path=str(tmp_path / "state"), num_buckets=8)
    clock_now = {"t": dt.datetime(2025, 10, 26, 23, 21, 7, tzinfo=UTC)}
    srv = MessageRestServer(spark, sink, clock=lambda: clock_now["t"]).start()
    try:
        yield srv, clock_now
    finally:
        srv.stop()


def _call(port, method, path, body=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        method=method,
        data=None if body is None else json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw) if raw else None
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, json.loads(raw) if raw else None


def test_rest_upsert_delete_roundtrip(server):
    srv, clock = server

    # insert: id assigned, createTime == updateTime (reference invariant)
    code, saved = _call(srv.port, "POST", "/api/messages",
                        {"username": "alice", "message": "hello"})
    assert code == 200
    assert saved["id"] and saved["username"] == "alice"
    assert saved["createTime"] == saved["updateTime"]

    # update at a later clock: create_time preserved, update_time bumped
    clock["t"] = clock["t"] + dt.timedelta(minutes=2)
    code, updated = _call(srv.port, "POST", "/api/messages",
                          {"id": saved["id"], "username": "alice",
                           "message": "hello again"})
    assert code == 200
    assert updated["id"] == saved["id"]
    assert updated["createTime"] == saved["createTime"]
    assert updated["updateTime"] != saved["updateTime"]
    assert updated["message"] == "hello again"

    # GET serves the materialized row
    code, listing = _call(srv.port, "GET", "/api/messages")
    assert code == 200
    assert [r["message"] for r in listing] == ["hello again"]

    # DELETE → 204, row gone; repeat delete stays a no-op 204
    code, _ = _call(srv.port, "DELETE", f"/api/messages/{saved['id']}")
    assert code == 204
    code, listing = _call(srv.port, "GET", "/api/messages")
    assert listing == []
    code, _ = _call(srv.port, "DELETE", f"/api/messages/{saved['id']}")
    assert code == 204


def test_rest_update_missing_id_is_404_and_bad_body_400(server):
    srv, _ = server
    code, err = _call(srv.port, "POST", "/api/messages",
                      {"id": "00000000-0000-0000-0000-000000000000",
                       "username": "x", "message": "y"})
    assert code == 404 and "non-existent" in err["error"]

    code, err = _call(srv.port, "POST", "/api/messages", {"username": "x"})
    assert code == 400

    code, _ = _call(srv.port, "GET", "/api/nope")
    assert code == 404


def test_rest_get_waits_out_a_concurrent_apply(spark, tmp_path, monkeypatch):
    """A GET that arrives while a streaming apply is committing waits for
    the apply and then serves the whole post-batch id set — never the
    partial table of a half-committed bucket rewrite. The apply is held
    inside _overwrite_touched with one bucket directory moved aside,
    the window where dynamic partition overwrite has removed a bucket's
    old files but not yet moved its new ones in."""
    import os
    import threading

    from cdc_example_spark.streaming.envelope import decode_envelope, route_changes
    from tests.cdc_fixtures import envelope, row_image

    t = "2025-10-26T23:21:07.598794Z"
    sink = KeyedStateSink(path=str(tmp_path / "state"), num_buckets=8)

    def apply(records):
        raw = spark.createDataFrame(records, "key STRING, value STRING")
        sink.apply_changes(route_changes(decode_envelope(raw)))

    pre = {f"k{i:02d}" for i in range(24)}
    apply([envelope("i", k, after=row_image(k, t, t, "m", "ann")) for k in sorted(pre)])
    post = (pre - {"k00", "k01"}) | {f"n{i:02d}" for i in range(20)}
    batch = [envelope("d", k, after=None) for k in ("k00", "k01")] + [
        envelope("i", k, after=row_image(k, t, t, "m", "bob"))
        for k in sorted(post - pre)
    ]

    entered, release = threading.Event(), threading.Event()
    real_overwrite = KeyedStateSink._overwrite_touched

    def held_overwrite(self, out, touched):
        victim = os.path.join(
            self.path, min(d for d in os.listdir(self.path) if d.startswith("bucket="))
        )
        os.rename(victim, victim + ".aside")
        entered.set()
        assert release.wait(120)
        os.rename(victim + ".aside", victim)
        return real_overwrite(self, out, touched)

    monkeypatch.setattr(KeyedStateSink, "_overwrite_touched", held_overwrite)
    srv = MessageRestServer(spark, sink).start()
    try:
        applier = threading.Thread(target=apply, args=(batch,))
        applier.start()
        assert entered.wait(120)
        got = {}

        def get():
            got["code"], got["body"] = _call(srv.port, "GET", "/api/messages")
            got["after_release"] = release.is_set()

        getter = threading.Thread(target=get)
        getter.start()
        getter.join(3.0)
        assert "code" not in got, "GET returned while the apply was mid-commit"
        release.set()
        applier.join(120)
        getter.join(120)
    finally:
        release.set()
        srv.stop()
    assert got["code"] == 200 and got["after_release"]
    ids = {m["id"] for m in got["body"]}
    assert ids in (pre, post), sorted(ids)
