"""User CLI (M3): command groups driven via main(argv).

These tests pin the JVM-free surface (scope and stream metadata, kvt
create/put/get, and kvt list on a table below the driver-side scan
bound), which must never start a SparkSession, and kvt list's Spark
fallback above that bound. stream read, which always needs the JVM, is
covered end-to-end by the module docstring's manual drive.
"""

import json

import pytest

from pravega_spark.cli import main


def run(capsys, *argv):
    rc = main(list(argv))
    out = capsys.readouterr().out.strip()
    return rc, out


def test_scope_and_stream_lifecycle(tmp_path, capsys):
    root = str(tmp_path / "store")
    rc, out = run(capsys, "--root", root, "scope", "create", "demo")
    assert rc == 0 and json.loads(out) == {"created": True}
    rc, out = run(capsys, "--root", root, "scope", "create", "demo")
    assert json.loads(out) == {"created": False}  # idempotent-ish: reports existing
    rc, out = run(capsys, "--root", root, "scope", "list")
    assert out.splitlines() == ["demo"]

    rc, out = run(capsys, "--root", root, "stream", "create", "demo/s1", "--segments", "3")
    assert json.loads(out) == {"created": True}
    rc, out = run(capsys, "--root", root, "stream", "list", "demo")
    assert out.splitlines() == ["s1"]
    rc, out = run(capsys, "--root", root, "stream", "info", "demo/s1")
    doc = json.loads(out)
    assert doc["scope"] == "demo" and len(doc["segments"]) == 3

    rc, out = run(capsys, "--root", root, "stream", "seal", "demo/s1")
    assert json.loads(out) == {"sealed": True}
    rc, out = run(capsys, "--root", root, "stream", "delete", "demo/s1")
    assert json.loads(out) == {"deleted": True}
    rc, out = run(capsys, "--root", root, "stream", "list", "demo")
    assert out == ""


def test_bad_qualified_name(tmp_path, capsys):
    with pytest.raises(SystemExit):
        main(["--root", str(tmp_path), "stream", "info", "noslash"])


def test_kvt_put_get_never_start_spark(tmp_path, capsys, monkeypatch):
    def no_spark(args):
        raise AssertionError("kvt create/put/get must not start a SparkSession")

    monkeypatch.setattr("pravega_spark.cli._store", no_spark)
    root = str(tmp_path / "store")
    rc, out = run(capsys, "--root", root, "kvt", "create", "demo/t1")
    assert rc == 0 and json.loads(out) == {"created": True, "table": "demo/t1"}
    rc, out = run(capsys, "--root", root, "kvt", "put", "demo/t1", "k", "v1")
    assert rc == 0 and json.loads(out) == {"version": 1}
    rc, out = run(capsys, "--root", root, "kvt", "get", "demo/t1", "k")
    assert rc == 0 and json.loads(out) == {"value": "v1", "version": 1}
    rc, out = run(capsys, "--root", root, "kvt", "put", "demo/t1", "k", "v2")
    assert rc == 0 and json.loads(out) == {"version": 2}
    rc, out = run(capsys, "--root", root, "kvt", "get", "demo/t1", "k")
    assert json.loads(out) == {"value": "v2", "version": 2}
    rc, out = run(capsys, "--root", root, "kvt", "get", "demo/t1", "absent")
    assert rc == 0 and json.loads(out) is None


def _kvt_rows(capsys, root):
    for args in (("create", "demo/t1"), ("put", "demo/t1", "b", "v1"),
                 ("put", "demo/t1", "a", "v2"), ("put", "demo/t1", "b", "v3")):
        assert run(capsys, "--root", root, "kvt", *args)[0] == 0
    rc, out = run(capsys, "--root", root, "kvt", "list", "demo/t1")
    assert rc == 0
    return [json.loads(line) for line in out.splitlines()]


WANT_LIST = [{"pk": "a", "sk": "", "value": "v2", "version": 2},
             {"pk": "b", "sk": "", "value": "v3", "version": 3}]


def test_kvt_list_never_starts_spark_below_the_bound(tmp_path, capsys, monkeypatch):
    def no_spark(*args, **kwargs):
        raise AssertionError("kvt list on a bounded table must not start a SparkSession")

    monkeypatch.setattr("pravega_spark.cli._store", no_spark)
    monkeypatch.setattr("pravega_spark.session.get_spark", no_spark)
    assert _kvt_rows(capsys, str(tmp_path / "store")) == WANT_LIST


def test_kvt_list_above_the_bound_runs_the_spark_scan(spark, tmp_path, capsys, monkeypatch):
    import pravega_spark.cli as cli
    import pravega_spark.kvt as kvt_mod

    started = []
    store = cli._store
    monkeypatch.setattr(cli, "_store", lambda args: started.append(args) or store(args))
    monkeypatch.setattr(kvt_mod, "ROW_CACHE_BYTES", 0)
    assert _kvt_rows(capsys, str(tmp_path / "store")) == WANT_LIST
    assert len(started) == 1  # kvt list, and no other command
