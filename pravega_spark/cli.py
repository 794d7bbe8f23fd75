"""Thin user CLI (SURVEY §2.11 M3 — cli/user scope/stream/kvs commands).

Reference: ``cli/user/src/main/java/io/pravega/cli/user/{scope,stream,kvs}``.
Mirrors the same command groups over the Spark-native engine:

    python -m pravega_spark.cli --root /data/store scope create myscope
    python -m pravega_spark.cli --root /data/store stream create myscope/s1 --segments 4
    python -m pravega_spark.cli --root /data/store stream list myscope
    python -m pravega_spark.cli --root /data/store stream info myscope/s1
    python -m pravega_spark.cli --root /data/store stream read myscope/s1 --limit 10
    python -m pravega_spark.cli --root /data/store kvt create myscope/t1
    python -m pravega_spark.cli --root /data/store kvt put myscope/t1 k v
    python -m pravega_spark.cli --root /data/store kvt get myscope/t1 k

The SparkSession is created lazily — metadata-only commands (scope ops,
stream list/info), stream append and kvt create/delete/put/get never
start a JVM; stream read does, and kvt list only for a table whose log
is above the driver-side scan bound (``kvt.ROW_CACHE_BYTES``).
"""

from __future__ import annotations

import argparse
import json
import sys


def _split_qualified(name: str) -> tuple[str, str]:
    if "/" not in name:
        raise SystemExit(f"expected scope/name, got: {name}")
    scope, rest = name.split("/", 1)
    return scope, rest


def _store(args):
    from pravega_spark.session import get_spark
    from pravega_spark.store import StreamStore

    return StreamStore(get_spark("pravega-cli"), args.root)


def _meta(args):
    from pravega_spark.metadata import MetadataStore

    return MetadataStore(args.root)


def cmd_scope(args) -> int:
    meta = _meta(args)
    if args.action in ("create", "delete") and not args.name:
        print(json.dumps({"error": f"scope {args.action} requires a name"}), file=sys.stderr)
        return 2
    if args.action == "create":
        print(json.dumps({"created": meta.create_scope(args.name)}))
    elif args.action == "delete":
        print(json.dumps({"deleted": meta.delete_scope(args.name, recursive=args.recursive)}))
    elif args.action == "list":
        for s in meta.list_scopes():
            print(s)
    return 0


def cmd_stream(args) -> int:
    from pravega_spark.config import ScalingPolicy, StreamConfiguration

    if args.action in ("list",):
        meta = _meta(args)
        for s in meta.list_streams(args.name, tag=args.tag):
            print(s)
        return 0
    scope, stream = _split_qualified(args.name)
    if args.action in ("create", "seal", "delete", "info"):
        meta = _meta(args)
        if args.action == "create":
            cfg = StreamConfiguration(
                scaling=ScalingPolicy.fixed(args.segments), tags=args.tag_values or []
            )
            print(json.dumps({"created": meta.create_stream(scope, stream, cfg)}))
        elif args.action == "seal":
            meta.seal_stream(scope, stream)
            print(json.dumps({"sealed": True}))
        elif args.action == "delete":
            meta.delete_stream(scope, stream)
            print(json.dumps({"deleted": True}))
        elif args.action == "info":
            doc = meta.get_stream(scope, stream)
            doc["segments"] = meta.get_segments(scope, stream)
            print(json.dumps(doc, indent=2))
        return 0
    if args.action == "append":
        return cmd_stream_append(args)
    if args.action in ("attr-get", "attr-set"):
        from pravega_spark.store import StreamStore

        st = StreamStore(None, args.root)  # metadata-only: no Spark needed
        if args.action == "attr-get":
            print(json.dumps(st.get_attributes(scope, stream, args.segment)))
        else:
            upd = [args.attr_key, args.attr_kind, int(args.attr_value or 0)]
            if args.attr_kind == "replace_if_equals":
                upd.append(None if args.expected is None else int(args.expected))
            print(json.dumps(st.update_attributes(scope, stream, args.segment, [tuple(upd)])))
        return 0
    store = _store(args)
    if args.action == "read":
        df = store.read(scope, stream)
        for row in df.orderBy("segment_id", "offset").limit(args.limit).collect():
            d = row.asDict()
            if d.get("payload") is not None:
                try:
                    d["payload"] = bytes(d["payload"]).decode("utf-8")
                except UnicodeDecodeError:
                    d["payload"] = bytes(d["payload"]).hex()
            print(json.dumps(d, default=str))
    return 0


def cmd_stream_append(args) -> int:
    """Hot-tier append from stdin — no JVM: rows go through
    StreamStore.append_events (the writeEvent ack path)."""
    from pravega_spark.store import StreamStore

    scope, stream = _split_qualified(args.name)
    store = StreamStore(None, args.root)  # append path never touches Spark
    rows = [json.loads(ln) for ln in sys.stdin if ln.strip()]
    if not rows:
        print(json.dumps({"appended": 0}))
        return 0
    missing = [i for i, r in enumerate(rows) if "routing_key" not in r]
    if missing:
        print(json.dumps({"error": f"rows {missing[:5]} lack 'routing_key'"}), file=sys.stderr)
        return 2
    events = [
        {"routing_key": r["routing_key"], "payload": json.dumps(r.get("event", {})).encode()}
        for r in rows
    ]
    tails = store.append_events(scope, stream, events)
    print(json.dumps({"appended": len(rows), "tails": tails}))
    return 0


def cmd_kvt(args) -> int:
    from pravega_spark.errors import SparkRequiredException
    from pravega_spark.kvt import KeyValueTableManager

    scope, name = _split_qualified(args.name)
    # no JVM: metadata docs, driver-side parquet writes, Arrow key
    # lookups and, for a bounded table, the Arrow scan of kvt list
    mgr = KeyValueTableManager(None, args.root)
    if args.action == "create":
        # whether the table was NEWLY created (scripts probe it for an
        # existing table), with its qualified name
        t = mgr.create_key_value_table(scope, name)
        print(json.dumps({"created": t.was_created, "table": f"{scope}/{name}"}))
    elif args.action == "delete":
        print(json.dumps({"deleted": mgr.delete_key_value_table(scope, name)}))
    elif args.action == "put":
        print(json.dumps({"version": mgr.open(scope, name).put(args.key, args.value)}))
    elif args.action == "get":
        got = mgr.open(scope, name).get(args.key)
        print(json.dumps({"value": got[0], "version": got[1]} if got else None))
    else:
        try:
            rows = mgr.open(scope, name).iterate_all_arrow().to_pylist()
        except SparkRequiredException:  # above the bound: the Spark scan
            t = KeyValueTableManager(_store(args).spark, args.root).open(scope, name)
            rows = [row.asDict() for row in t.iterate_all().collect()]
        for row in rows:
            print(json.dumps({k: row[k] for k in ("pk", "sk", "value", "version")}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pravega-spark", description=__doc__.splitlines()[0])
    p.add_argument("--root", required=True, help="store root (local path or URI)")
    sub = p.add_subparsers(dest="group", required=True)

    ps = sub.add_parser("scope")
    ps.add_argument("action", choices=["create", "delete", "list"])
    # name optional only for list: a forgotten name on create/delete
    # must not silently operate on the empty-string scope (validated in
    # cmd_scope)
    ps.add_argument("name", nargs="?", default="")
    ps.add_argument("--recursive", action="store_true")
    ps.set_defaults(fn=cmd_scope)

    pst = sub.add_parser("stream")
    pst.add_argument("action", choices=["create", "seal", "delete", "list", "info", "read",
                                        "append", "attr-get", "attr-set"])
    pst.add_argument("name", help="scope/stream (or scope for list)")
    pst.add_argument("--segments", type=int, default=4)
    pst.add_argument("--tag", default=None)
    pst.add_argument("--tag-values", nargs="*", default=None)
    pst.add_argument("--limit", type=int, default=20)
    pst.add_argument("--segment", type=int, default=0, help="segment id for attr-get/attr-set")
    pst.add_argument("--attr-key", default=None)
    pst.add_argument("--attr-value", default=None)
    pst.add_argument("--attr-kind", default="replace",
                     choices=["replace", "replace_if_equals", "accumulate", "remove"])
    pst.add_argument("--expected", default=None, help="comparison value for replace_if_equals")
    pst.set_defaults(fn=cmd_stream)

    pk = sub.add_parser("kvt")
    pk.add_argument("action", choices=["create", "delete", "put", "get", "list"])
    pk.add_argument("name", help="scope/table")
    pk.add_argument("key", nargs="?")
    pk.add_argument("value", nargs="?")
    pk.set_defaults(fn=cmd_kvt)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
