"""User CLI (M3): command groups driven via main(argv).

These tests pin the JVM-free surface (scope and stream metadata, kvt
create/put/get), which must never start a SparkSession. The JVM-backed
commands (stream read, kvt list) are covered end-to-end by the module
docstring's manual drive.
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
