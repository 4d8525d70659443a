"""CLI: ``python -m zcollection_spark ls|inspect|drop`` — parity with the
reference's ``zcollection ls/inspect/drop`` (``cli/main.py:27-113``)."""

from __future__ import annotations

import argparse
import json
import sys


def _open(path: str, mode: str = "r"):
    """Open either layout (``open_collection`` reads the root config's
    ``data_format``)."""
    from . import get_spark, open_collection
    spark = get_spark("zcs-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return open_collection(spark, path, mode=mode)


def cmd_ls(args: argparse.Namespace) -> int:
    coll = _open(args.path)
    partitions = coll.partitions(filters=args.filter,
                                 at_generation=args.at_generation)
    if args.json:
        print(json.dumps(partitions, indent=1))
    else:
        for rel in partitions:
            print(rel)
    return 0


def cmd_inspect(args: argparse.Namespace) -> int:
    coll = _open(args.path)
    doc = {
        "path": coll.path,
        "axis": coll.axis,
        "partitioning": coll.partitioning.to_json(),
        "generation": coll.generation(),
        "stats_columns": getattr(coll, "stats_columns", []),
        "cluster_by": getattr(coll, "cluster_by", []),
        "cluster_mode": getattr(coll, "cluster_mode", "range"),
        "n_partitions": len(coll.partitions()),
        "dimensions": [
            {"name": d.name, "size": d.size} for d in
            coll.schema.dimensions],
        "variables": [
            {"name": v.name, "dtype": v.dtype,
             "dimensions": list(v.dimensions), "immutable": v.immutable}
            for v in coll.schema.variables],
    }
    print(json.dumps(doc, indent=1))
    return 0


def cmd_drop(args: argparse.Namespace) -> int:
    coll = _open(args.path, mode="rw")
    doomed = coll.partitions(filters=args.filter)
    if not doomed:
        print("nothing matches")
        return 0
    if not args.yes:
        print(f"would drop {len(doomed)} partitions:")
        for rel in doomed[:20]:
            print(f"  {rel}")
        answer = input("proceed? [y/N] ").strip().lower()
        if answer != "y":
            print("aborted")
            return 1
    dropped = coll.drop_partitions(filters=args.filter)
    print(f"dropped {len(dropped)} partitions")
    return 0


def cmd_stats(args: argparse.Namespace) -> int:
    """Per-partition rows/files/bytes — the ANALYZE-style health view
    (spot small-file buildup before it hurts)."""
    from pathlib import Path
    coll = _open(args.path)
    rows: dict = {}
    if args.rows:
        df = coll._load(filters=args.filter,
                        variables=coll.partitioning.keys)
        rows = {tuple(int(r[k]) for k in coll.partitioning.keys): r["n"]
                for r in (df.groupBy(*coll.partitioning.keys)
                          .agg({"*": "count"})
                          .withColumnRenamed("count(1)", "n").collect())}
    out = []
    for rel in coll.partitions(filters=args.filter):
        part_dir = Path(coll.path, rel)
        files = list(part_dir.glob("*.parquet")) or \
            [p for p in part_dir.rglob("*") if p.is_file()]
        entry = {"partition": rel, "files": len(files),
                 "bytes": sum(f.stat().st_size for f in files)}
        if args.rows:
            key = tuple(coll.partitioning.decode(rel).values())
            entry["rows"] = rows.get(key, 0)
        out.append(entry)
    print(json.dumps(out, indent=1))
    return 0


def cmd_verify(args: argparse.Namespace) -> int:
    """fsck-style health check: catalog vs on-disk partitions, plus (for
    zarr layouts) per-partition group-metadata readability."""
    from pathlib import Path
    from zcollection_spark.collection import staging as staging_proto
    coll = _open(args.path,
                 mode="rw" if (args.repair or args.gc) else "r")
    on_disk = set(coll._fs.list_partition_dirs(
        coll.path, coll.partitioning.depth))
    in_catalog = set(coll._catalog.read() or [])
    staged = coll._fs.list_dirs(
        f"{coll.path}/{staging_proto.STAGING_RELPATH}")
    report = {
        "partitions_on_disk": len(on_disk),
        "partitions_in_catalog": len(in_catalog),
        "missing_from_catalog": sorted(on_disk - in_catalog),
        "missing_from_disk": sorted(in_catalog - on_disk),
        "interrupted_inserts": sorted(staged),
        "unreadable": [],
    }
    for rel in sorted(on_disk):
        marker = Path(coll.path, rel, "zarr.json")
        if marker.exists():
            try:
                json.loads(marker.read_text())
            except ValueError:
                report["unreadable"].append(rel)
    ok = not (report["missing_from_catalog"]
              or report["missing_from_disk"] or report["unreadable"]
              or report["interrupted_inserts"])
    report["status"] = "OK" if ok else "INCONSISTENT (run repair)"
    print(json.dumps(report, indent=1))
    if not ok and args.repair:
        # run recovery explicitly first so the roll-forward/quarantine
        # outcome is reported; repair_catalog's internal recover() then
        # finds nothing left to do (idempotent).  The catalog MUST be
        # passed: a rolled-forward streaming insert commits its txn
        # version here — without it a replayed micro-batch would
        # double-apply (the exactly-once contract)
        recovered = staging_proto.recover(coll._fs, coll.path,
                                          coll._catalog)
        repaired = coll.repair_catalog()
        print(json.dumps({
            "rolled_forward": recovered["published"],
            "quarantined": recovered["quarantined"],
            "catalog_partitions": len(repaired)}, indent=1))
        ok = True
    if args.gc:
        gc = staging_proto.gc_quarantine(coll._fs, coll.path,
                                         older_than=args.older_than)
        pruned = coll._catalog.prune_history(args.keep_generations)
        # prune_history sweeps sidecar blooms itself when snapshots
        # fall off (count in last_swept); the explicit call covers the
        # nothing-pruned case — together they report everything swept
        swept = set(coll._catalog.last_swept)
        swept |= set(coll._catalog.sweep_blooms())
        print(json.dumps({"gc_deleted": gc["deleted"],
                          "gc_kept": gc["kept"],
                          "generations_pruned": len(pruned),
                          "blooms_swept": len(swept)}, indent=1))
    return 0 if ok else 1


def cmd_changes(args: argparse.Namespace) -> int:
    """Incremental partition diff since a catalog generation — the ops
    surface of ``Collection.changes`` (pipelines script against it:
    process ``added``, invalidate ``removed``, persist ``to``)."""
    coll = _open(args.path)
    if args.since is None:
        print(json.dumps({"generation": coll.generation(),
                          "history": coll._catalog.history()}, indent=1))
        return 0
    from .errors import StoreError
    try:
        print(json.dumps(coll.changes(args.since), indent=1))
        return 0
    except StoreError as exc:
        print(json.dumps({"error": str(exc)}, indent=1))
        return 1


def cmd_history(args: argparse.Namespace) -> int:
    """Commit ledger, newest first (``Collection.history``) — what each
    catalog generation added/replaced/removed, DESCRIBE-HISTORY style."""
    coll = _open(args.path)
    print(json.dumps(coll.history(limit=args.limit), indent=1))
    return 0


def cmd_pin(args: argparse.Namespace) -> int:
    """Pin/unpin/list generations kept readable forever (copy-on-
    republish retention — ``Collection.pin_generation``).  ``--stale``
    lists what a partial read of a generation would miss."""
    from .errors import StoreError
    coll = _open(args.path, mode="rw" if (args.add is not None
                                          or args.remove is not None)
                 else "r")
    try:
        if args.add is not None:
            pins = coll.pin_generation(args.add)
        elif args.remove is not None:
            pins = coll.unpin_generation(args.remove)
        else:
            pins = coll.pinned_generations()
        out = {"pins": pins}
        if args.stale is not None:
            out["stale"] = coll.stale_partitions(args.stale)
        print(json.dumps(out, indent=1))
        return 0
    except (ValueError, StoreError) as exc:
        # StoreError covers store faults, a corrupt pin ledger, and a
        # lost pin-ledger CAS race (CommitConflictError subclasses it)
        # — all must honor the JSON error contract, not a traceback
        print(json.dumps({"error": str(exc)}, indent=1))
        return 1


def cmd_compact(args: argparse.Namespace) -> int:
    coll = _open(args.path, mode="rw")
    report = coll.compact(filters=args.filter,
                          min_files=args.min_files)
    compacted = {rel: n for rel, n in report.items() if n > 1}
    print(f"compacted {len(compacted)} of {len(report)} partitions "
          f"({sum(report.values())} files -> {len(report)})")
    return 0


def cmd_manifest(args: argparse.Namespace) -> int:
    """Publish the file manifest that makes the collection servable
    from a LIST-less read-only store (plain HTTP/CDN — fs.HttpFS)."""
    coll = _open(args.path, mode="rw")
    if coll.data_format == "zarr3":
        # zarr3: chunk names derive from zarr metadata — HTTP serving
        # needs no manifest (fs.HttpFS chunk reads are pure GETs)
        print("zarr3 collections need no manifest; serve the directory "
              "as-is (chunk names come from zarr metadata)")
        return 0
    manifest = coll.write_manifest()
    print(f"wrote _catalog/files.json: {len(manifest)} partitions, "
          f"{sum(len(v) for v in manifest.values())} files")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="zcollection_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p_ls = sub.add_parser("ls", help="list partitions")
    p_ls.add_argument("path")
    p_ls.add_argument("--filter", default=None)
    p_ls.add_argument("--at-generation", type=int, default=None,
                      dest="at_generation",
                      help="list the partition set AS OF this committed "
                           "generation (time-travel; refuses loudly if "
                           "any listed partition was republished or "
                           "dropped since, or the snapshot was pruned)")
    p_ls.add_argument("--json", action="store_true")
    p_ls.set_defaults(fn=cmd_ls)

    p_in = sub.add_parser("inspect", help="show schema summary")
    p_in.add_argument("path")
    p_in.set_defaults(fn=cmd_inspect)

    p_drop = sub.add_parser("drop", help="drop partitions (guarded)")
    p_drop.add_argument("path")
    p_drop.add_argument("--filter", default=None)
    p_drop.add_argument("--yes", action="store_true",
                        help="skip confirmation")
    p_drop.set_defaults(fn=cmd_drop)

    p_st = sub.add_parser("stats", help="per-partition files/bytes[/rows]")
    p_st.add_argument("path")
    p_st.add_argument("--filter", default=None)
    p_st.add_argument("--rows", action="store_true",
                      help="also count rows (scans data)")
    p_st.set_defaults(fn=cmd_stats)

    p_vf = sub.add_parser("verify",
                          help="catalog/disk consistency check")
    p_vf.add_argument("path")
    p_vf.add_argument("--repair", action="store_true",
                      help="rewrite the catalog when inconsistent")
    p_vf.add_argument("--gc", action="store_true",
                      help="delete quarantined debris past --older-than")
    p_vf.add_argument("--keep-generations", type=int, default=64,
                      dest="keep_generations", metavar="N",
                      help="catalog commit snapshots to retain "
                           "(incremental consumers diff against these)")
    p_vf.add_argument("--older-than", type=float, default=7 * 86400.0,
                      dest="older_than", metavar="SECONDS",
                      help="quarantine TTL for --gc (default 7 days; "
                           "0 purges unstamped debris too)")
    p_vf.set_defaults(fn=cmd_verify)

    p_cp = sub.add_parser("compact",
                          help="rewrite partitions as one file each")
    p_cp.add_argument("path")
    p_cp.add_argument("--filter", default=None)
    p_cp.add_argument("--min-files", type=int, default=2,
                      dest="min_files", metavar="N",
                      help="skip partitions with fewer files (cost "
                           "proportional to fragmentation)")
    p_cp.set_defaults(fn=cmd_compact)

    p_mf = sub.add_parser(
        "manifest", help="publish _catalog/files.json (serve the "
                         "collection over read-only HTTP)")
    p_mf.add_argument("path")
    p_mf.set_defaults(fn=cmd_manifest)

    p_ch = sub.add_parser(
        "changes", help="partitions added/removed since a generation "
                        "(no --since: print generation + history)")
    p_ch.add_argument("path")
    p_ch.add_argument("--since", type=int, default=None, metavar="GEN")
    p_ch.set_defaults(fn=cmd_changes)

    p_hi = sub.add_parser(
        "history", help="commit ledger, newest first (what each "
                        "generation added/replaced/removed)")
    p_hi.add_argument("path")
    p_hi.add_argument("--limit", type=int, default=10)
    p_hi.set_defaults(fn=cmd_history)

    p_pin = sub.add_parser(
        "pin", help="pin/unpin/list generations kept readable forever "
                    "(copy-on-republish retention)")
    p_pin.add_argument("path")
    p_pin.add_argument("--add", type=int, default=None, metavar="GEN")
    p_pin.add_argument("--remove", type=int, default=None,
                       metavar="GEN")
    p_pin.add_argument("--stale", type=int, default=None, metavar="GEN",
                       help="also list partitions a gen-GEN read "
                            "cannot reconstruct")
    p_pin.set_defaults(fn=cmd_pin)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
