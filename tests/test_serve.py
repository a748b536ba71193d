"""HTTP serving layer: contract parity with the reference's POST
/api/query (auth, DTO shape, in-band execution errors)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from graph_loom_spark.graph import PropertyGraph
from graph_loom_spark.interface import CypherSession
from graph_loom_spark.serve import QueryServer


@pytest.fixture()
def server(spark, tmp_path):
    sess = CypherSession(PropertyGraph.empty(spark))
    qs = QueryServer(sess, api_key="sekrit", timeout_s=120, log_dir=str(tmp_path / "logs"))
    httpd = qs.serve(port=0)  # ephemeral port
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def _post(base, body, key="sekrit"):
    req = urllib.request.Request(
        f"{base}/api/query",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json", **({"X-API-Key": key} if key else {})},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_auth_required(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, {"query": "MATCH (n:X) RETURN n"}, key=None)
    assert ei.value.code == 401


def test_query_roundtrip_dto_shape(server):
    code, out = _post(server, {"query": 'CREATE (p:Person {name:"Neo"})'})
    assert code == 200
    assert out["mutated"] is True

    code, out = _post(
        server, {"query": "MATCH (p:Person {name:$n}) RETURN p", "params": {"n": "Neo"}}
    )
    assert code == 200
    assert out["affected_nodes"] == 0
    [row] = out["rows"]
    assert row["kind"] == "node"
    assert row["label"] == "Person"
    assert row["metadata"] == {"name": "Neo"}


def test_execution_error_400_text(server):
    # server.rs handle_query: Ok(Err(e)) → HttpResponse::BadRequest().body(e)
    try:
        _post(server, {"query": "THIS IS NOT A QUERY"})
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        body = e.read().decode()
        assert body  # error text in the body, not JSON
        assert not body.startswith("{")


def test_bad_request(server):
    code_out = None
    try:
        _post(server, {"params": {"x": "y"}})
    except urllib.error.HTTPError as e:
        code_out = e.code
    assert code_out == 400


def test_autosave_on_mutation_and_idle(spark, tmp_path):
    """Reference main.rs:248-265: the headless server snapshots every
    interval WHEN DIRTY — a mutation triggers exactly one versioned
    save, an idle server writes nothing further."""
    import os
    import time

    from graph_loom_spark.graph import PropertyGraph as PG

    sess = CypherSession(PropertyGraph.empty(spark))
    qs = QueryServer(sess, timeout_s=120, log_dir=str(tmp_path / "logs"))
    httpd = qs.serve(port=0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    save_dir = str(tmp_path / "snap")
    qs.start_autosave(save_dir, interval_s=0.3)
    try:
        # read-only query: must NOT trigger a save
        _post(base, {"query": "MATCH (p:Person) RETURN p"}, key=None)
        time.sleep(1.0)
        assert PG.list_versions(save_dir) == []

        _post(base, {"query": 'CREATE (p:Person {name:"Trinity"})'}, key=None)
        deadline = time.time() + 10
        while time.time() < deadline and not PG.list_versions(save_dir):
            time.sleep(0.2)
        versions = PG.list_versions(save_dir)
        assert len(versions) >= 1  # the mutation was snapshotted

        # saved snapshot round-trips with the mutation applied (wait for
        # the edges half — list_versions sees the dir as soon as the
        # nodes write starts)
        vdir = os.path.join(save_dir, "versions", sorted(versions)[-1])
        while time.time() < deadline and not os.path.exists(
            os.path.join(vdir, "edges", "_SUCCESS")
        ):
            time.sleep(0.2)
        loaded = PG.load(spark, vdir)
        assert loaded.nodes.count() == 1

        # idle: no further saves accumulate
        n_before = len(PG.list_versions(save_dir))
        time.sleep(1.2)
        assert len(PG.list_versions(save_dir)) == n_before
    finally:
        qs.stop_autosave()
        httpd.shutdown()


def test_keep_alive_replies_are_not_held_back():
    """Headers and body leave in two writes; with Nagle on, the body
    waits for the client's delayed ACK (~40 ms) on every keep-alive
    reply. A stub session keeps Spark out of the timing."""
    import http.client
    import statistics
    import time

    from graph_loom_spark.result import QueryOutcome

    class Stub:
        def execute(self, query, params=None):
            return QueryOutcome()

    qs = QueryServer(Stub(), timeout_s=10)
    httpd = qs.serve(port=0)
    conn = http.client.HTTPConnection("127.0.0.1", httpd.server_address[1], timeout=10)
    try:
        body = json.dumps({"query": "MATCH (n) RETURN n", "log": False})
        times = []
        for _ in range(50):
            t0 = time.perf_counter()
            conn.request("POST", "/api/query", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            assert resp.status == 200 and json.loads(resp.read())["rows"] == []
            times.append(time.perf_counter() - t0)
    finally:
        conn.close()
        httpd.shutdown()
        httpd.server_close()
    assert statistics.median(times) < 0.010, times
