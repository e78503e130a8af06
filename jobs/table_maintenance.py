"""spark-submit job: snapshot-table maintenance (the Iceberg-procedures
analog for `aezspark.tables` tables — e.g. the streaming zone-counts sink or
a PartitionCheckpointer state dir).

    python tools/make_pyfiles.py
    spark-submit --py-files build/aezspark.zip jobs/table_maintenance.py \
        --table /path/to/table status
    ... compact [--target-mb 128] [--stat-cols a,b]
    ... expire  [--keep-last 3]
    ... vacuum  [--grace-s 3600]
    ... plan    --col country --lo X --hi Y      # scan-planning telemetry
    ... delete  --col doc_id --lo X --hi Y       # copy-on-write row delete
    ... changelog --after N [--until M] [--col c --lo X --hi Y] [--show 5]

`status` prints the snapshot chain (id, operation, files, summary), the
current table properties (e.g. a checkpoint's `checkpoint_done_keys`) and
the orphan file count; `plan` shows planned-vs-total files for a range probe
(the manifest-stats pruning a reader would get) without reading any data;
`changelog` is the incremental-consumer example (read_appends): the rows
appended after snapshot N, planned purely from manifests — compaction
rewrites are skipped, an overwrite in the range refuses loudly.
Maintenance order in production: compact → expire → vacuum; vacuum's grace
window keeps in-flight appends safe (tables.py docstrings).

Stat columns: maintenance inherits the table's persisted `stat_cols`
property, so CLI compaction recomputes manifest min/max for the rewritten
files without the caller re-declaring them; --stat-cols overrides.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("status")
    p = sub.add_parser("compact")
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--stat-cols", default=None,
                   help="comma-separated override; default: inherit the "
                        "table's persisted stat_cols property")
    p = sub.add_parser("expire")
    p.add_argument("--keep-last", type=int, default=3)
    p = sub.add_parser("vacuum")
    p.add_argument("--grace-s", type=float, default=3600.0)
    p = sub.add_parser("plan")
    p.add_argument("--col", required=True)
    p.add_argument("--lo", default=None)
    p.add_argument("--hi", default=None)
    p = sub.add_parser("delete")
    p.add_argument("--col", required=True)
    p.add_argument("--lo", default=None)
    p.add_argument("--hi", default=None)
    p = sub.add_parser("changelog")
    p.add_argument("--after", type=int, required=True,
                   help="emit rows appended AFTER this snapshot id")
    p.add_argument("--until", type=int, default=None)
    p.add_argument("--col", default=None)
    p.add_argument("--lo", default=None)
    p.add_argument("--hi", default=None)
    p.add_argument("--show", type=int, default=5,
                   help="sample rows to print (0: count only)")
    args = ap.parse_args()

    from aezspark.session import get_spark
    from aezspark.tables import SnapshotTable

    stat_cols = (tuple(args.stat_cols.split(","))
                 if getattr(args, "stat_cols", None) else None)
    tbl = SnapshotTable(get_spark("aezspark-table-maintenance"), args.table,
                        stat_cols=stat_cols)

    if args.cmd == "status":
        for s in tbl.snapshots():
            cur = "*" if s["snapshot_id"] == tbl.current_snapshot_id() else " "
            print(f"{cur} snap {s['snapshot_id']:>4} parent "
                  f"{str(s['parent_id']):>4} {s['operation']:<10} "
                  f"files={len(s['files'])} summary={s['summary']}")
        print(f"properties: {tbl.properties()}")
        print(f"orphan data files: {len(tbl.orphan_files())}")
    elif args.cmd == "compact":
        sid = tbl.compact(target_file_bytes=args.target_mb << 20)
        print(f"compacted -> snapshot {sid}" if sid is not None
              else "already compact (no-op)")
    elif args.cmd == "expire":
        expired = tbl.expire_snapshots(keep_last=args.keep_last)
        print(f"expired snapshots: {expired or 'none'}")
    elif args.cmd == "vacuum":
        removed = tbl.vacuum(grace_seconds=args.grace_s)
        print(f"vacuumed {len(removed)} orphan file(s) or staging dir(s)")
    elif args.cmd == "plan":
        where = {args.col: (_conv(args.lo), _conv(args.hi))}
        planned = tbl.planned_files(where=where)
        total = len(tbl.snapshot()["files"])
        print(f"planned {len(planned)}/{total} files for "
              f"{args.col} in [{args.lo}, {args.hi}]")
        for f in planned:
            print(f"  {f}")
    elif args.cmd == "delete":
        where = {args.col: (_conv(args.lo), _conv(args.hi))}
        sid = tbl.delete_where(where)
        if sid is None:
            print("no rows match (no-op, no snapshot committed)")
        else:
            s = tbl.snapshot(sid)["summary"]
            print(f"delete -> snapshot {sid}: {s['deleted_rows']} row(s) "
                  f"removed ({s['dropped_files']} file(s) dropped whole, "
                  f"{s['rewritten_files']} rewritten)")
    elif args.cmd == "changelog":
        where = ({args.col: (_conv(args.lo), _conv(args.hi))}
                 if args.col else None)
        df = tbl.read_appends(args.after, until_snapshot_id=args.until,
                              where=where)
        until = args.until if args.until is not None \
            else tbl.current_snapshot_id()
        print(f"appended rows after snap {args.after} (until {until}): "
              f"{df.count()}")
        if args.show:
            df.show(args.show, truncate=False)


def _conv(v):
    if v is None:
        return None
    try:
        return int(v)
    except ValueError:
        return v


if __name__ == "__main__":
    main()
