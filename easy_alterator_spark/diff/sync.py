"""Table-to-table schema sync (Entry 2, SURVEY.md §3.2).

Re-expresses the reference's ``sync_tables`` (process.py:16-109) over
catalog snapshots: full schema (partition + data columns) of the
source is the desired state; target is altered to match. The legacy
path is bit-rotted in the reference (``intial_checks`` doesn't exist,
``logger.info.critical`` would raise — SURVEY.md §0); this implements
the documented intent.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from ..ddl.render import hive_alter_statements
from ..ddl.types import is_compatible, normalize_hive_type
from .catalog import apply_statements, snapshot_catalog


class SyncError(Exception):
    pass


def sync_tables(
    spark: SparkSession,
    src: str,
    tgt: str,
    part_check: bool = True,
    validate: bool = False,
    force: bool = False,
) -> dict[str, Any]:
    """Sync ``tgt``'s schema to match ``src``. Returns a report dict;
    raises :class:`SyncError` on validation failures (partition drift,
    incompatible type changes without --force), mirroring the
    reference's raise-on-failure contract (process.py:69-88)."""
    cat_cols, cat_tables = snapshot_catalog(spark, [src, tgt])
    present = {r["table_name"] for r in cat_tables.collect()}
    for t in (src, tgt):
        if t not in present:
            raise SyncError(f"table not found in catalog: {t}")

    # one collect of the snapshot, ordered on the driver: partition
    # columns first, each kind by position
    cols: dict[str, list[dict[str, Any]]] = {src: [], tgt: []}
    for r in sorted(cat_cols.collect(), key=lambda r: (not r["is_partition"], r["position"])):
        cols[r["table_name"]].append(
            {"Name": r["name"], "Type": r["type"], "is_partition": r["is_partition"]}
        )

    sp = [c for c in cols[src] if c["is_partition"]]
    tp = [c for c in cols[tgt] if c["is_partition"]]
    part_drift = len(sp) != len(tp) or any(
        (a["Name"], a["Type"]) != (b["Name"], b["Type"]) for a, b in zip(sp, tp)
    )
    if part_check and part_drift:
        raise SyncError("Partition column check failed.")

    # diff DATA columns only: ALTER TABLE ADD/REPLACE COLUMNS cannot
    # change Hive partition keys, so with part_check off a partition
    # mismatch is REPORTED (partition_drift) but never rendered as
    # data-column DDL (it would silently create same-named data
    # columns instead of repartitioning).
    src_map = {c["Name"]: c["Type"] for c in cols[src] if not c["is_partition"]}
    tgt_map = {c["Name"]: c["Type"] for c in cols[tgt] if not c["is_partition"]}
    new_cols = [
        {"Name": n, "Type": t} for n, t in src_map.items() if n not in tgt_map
    ]
    removed_cols = [
        {"Name": n, "Type": t} for n, t in tgt_map.items() if n not in src_map
    ]
    changed = [
        (n, tgt_map[n], src_map[n])
        for n in src_map
        if n in tgt_map
        and normalize_hive_type(src_map[n]) != normalize_hive_type(tgt_map[n])
    ]
    if changed and not force:
        bad = [c for c in changed if not is_compatible(c[1], c[2], "athena")]
        if bad:
            raise SyncError(f"Data type Validation failed for {tgt}: {bad}")
    # type changes sync as delete+add (REPLACE COLUMNS), like the
    # alterator's compatible path
    new_cols += [{"Name": n, "Type": new} for n, _, new in changed]
    removed_cols += [{"Name": n, "Type": old} for n, old, _ in changed]

    statements: list[str] = []
    if new_cols or removed_cols:
        statements = hive_alter_statements(
            tgt,
            new_cols,
            removed_cols,
            catalog_schema=[
                {"Name": c["Name"], "Type": c["Type"]}
                for c in cols[tgt]
                if not c["is_partition"]
            ],
        )
        if not validate:
            apply_statements(spark, statements)
    return {
        "source": src,
        "target": tgt,
        "validate": validate,
        "statements": statements,
        "details": {"add": new_cols, "delete": removed_cols},
        "partition_drift": part_drift,
    }
