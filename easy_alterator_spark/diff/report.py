"""Run-report assembly (A1): outcome rows -> the reference's JSON shape.

The heavy lifting (routing, joins, classification) happens in Spark;
this module collects the outcome rows of the one diff plan
(:func:`easy_alterator_spark.diff.hive.hive_diff`) in one action — tiny
by construction, one row per DDL file, each Iceberg table's diff riding
on one of its rows — and shapes the nested report exactly like the
reference's ``get_results`` (alterator.py:741-796) and the Iceberg
handler's cleaned nested dict (iceberg_schema_handler.py:578-700).
It orders each Iceberg table's column moves on the driver
(:func:`position_moves`), as the reference does.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from ..ddl.position import plan_moves


def clean(result):
    """Recursively drop empty values (parity with
    iceberg_schema_handler.clean_results:682-700)."""
    if isinstance(result, dict):
        out = {}
        for k, v in result.items():
            cv = clean(v)
            if cv or cv == 0:
                out[k] = cv
        return out
    if isinstance(result, list):
        return [clean(x) for x in result]
    return result


def position_moves(cands) -> list[dict[str, str | None]]:
    """The ordered moves of one ``iceberg_diff`` row's
    ``position_candidates``: every candidate's ``after`` is a directive,
    the valid ones are the changes."""
    cands = cands or []
    return plan_moves(
        {c["name"]: c["after"] for c in cands},
        {c["name"]: c["after"] for c in cands if c["valid"]},
    )


def _row_to_iceberg_entry(r) -> dict[str, Any]:
    if r["sequence_mismatch"]:
        return {
            "table_name": r["full_name"],
            "sequenceMismatch": "True",
            "migration": str(bool(r["requires_migration"])),
        }
    updated: dict[str, Any] = {
        "compatible": _dicts(r["compatible"]),
        "incompatible": _dicts(r["incompatible"]),
        "position_changes": position_moves(r["position_candidates"]),
    }
    if r["first_col"]:
        updated["position_changes"] = updated["position_changes"] + [
            {"first": r["first_col"]}
        ]
    entry = {
        "table_name": r["full_name"],
        "columns": {
            "new": _dicts(r["new_cols"]),
            "dropped": list(r["dropped"] or []),
            "renamed": _dicts(r["renamed"]),
            "updated": updated,
        },
        "partition_columns": {
            "new": _dicts(r["part_new"]),
            "dropped": list(r["part_dropped"] or []),
            "replaced": _dicts(r["part_replaced"]),
        },
        "tblprops": {
            "new": dict(r["props_new"] or {}),
            "removed": list(r["props_removed"] or []),
            "updated": dict(r["props_updated"] or {}),
        },
        "migration": str(bool(r["requires_migration"])),
    }
    return clean(entry)


def _dicts(structs) -> list[dict[str, Any]]:
    """The diff's structs as report entries: each already carries the
    report's keys, in the report's order."""
    return [c.asDict() for c in structs or []]


def build_report(outcomes: DataFrame, validate: bool = True, force: bool = False) -> dict[str, Any]:
    """Collect the outcome rows once and shape the reference report JSON.

    Args:
        outcomes: output of :func:`easy_alterator_spark.diff.hive.hive_diff`.
            Each Iceberg table is reported once, from the one routed
            file whose ``iceberg`` column carries the table's diff.

    Success entries carry ``previous_version``/``current_version`` as
    None; :func:`easy_alterator_spark.cli.run_alterator` fills them from
    the catalog around the apply.
    """
    success, skipped, new, identical = [], [], [], []
    errored, non_parquet, iceberg, format_changed = [], [], [], []

    for r in outcomes.collect():
        o = r["outcome"]
        if o == "skipped":
            if r["reason"] in ("TableNameNotExtracted", "NonCreateSQL"):
                skipped.append(
                    {
                        "table_name": r["table_name"] or "",
                        "filename": r["file_path"],
                        "reason": r["reason"],
                    }
                )
            elif r["reason"] in (
                "IncompatibleDataTypeError",
                "IncompatibleDataTypeAndPartitionValidationError",
            ):
                skipped.append(
                    {
                        "table_name": r["table_name"],
                        "reason": r["reason"],
                        "details": {
                            "compatible": [
                                {
                                    "Name": c["Name"],
                                    "Type": c["Type"],
                                    "updated_type": c["updated_type"],
                                }
                                for c in (r["compatible"] or [])
                            ],
                            "incompatible": _dicts(r["incompatible"]),
                            "add": _dicts(r["add"]),
                            "delete": _dicts(r["delete"]),
                        },
                    }
                )
            else:  # partition validation reasons
                skipped.append({"table_name": r["table_name"], "reason": r["reason"]})
        elif o == "errored":
            errored.append(r["table_name"])
        elif o == "new":
            new.append(r["table_name"])
        elif o == "non_parquet":
            non_parquet.append(r["table_name"])
        elif o == "format_changed":
            format_changed.append({**r["format_change"].asDict(), "table_name": r["table_name"]})
        elif o == "iceberg":
            ice = r["iceberg"]
            if ice is None:  # another file naming the table carries its diff
                continue
            if r["format_change"] is not None:
                format_changed.append({**r["format_change"].asDict(), "table_name": r["table_name"]})
            if ice["error"]:
                errored.append(
                    {
                        "table_name": r["table_name"],
                        "reason": "ValidationError",
                        "error": ice["error"],
                    }
                )
            else:
                entry = _row_to_iceberg_entry(ice)
                has_updates = any(
                    entry.get(k)
                    for k in ("columns", "partition_columns", "tblprops", "sequenceMismatch")
                )
                if has_updates:
                    iceberg.append(entry)
                elif r["format_change"] is None:
                    identical.append(r["table_name"])
        elif o == "identical":
            identical.append(r["table_name"])
        elif o == "success":
            success.append(
                {
                    "table_name": r["table_name"],
                    "previous_version": None,
                    "current_version": None,
                    "details": {"add": _dicts(r["add"]), "delete": _dicts(r["delete"])},
                }
            )

    total = (
        len(success)
        + len(skipped)
        + len(new)
        + len(identical)
        + len(errored)
        + len(non_parquet)
        + len(iceberg)
        + len(format_changed)
    )
    return {
        "ResponseMetadata": {
            "validation": validate,
            "force": force,
            "stats": {
                "num_tables_analyzed": total,
                "num_updates": len(success),
                "num_skipped": len(skipped),
                "num_new": len(new),
                "num_errored": len(errored),
                "num_identical": len(identical),
                "num_non_parquet_tables": len(non_parquet),
                "num_iceberg_tables": len(iceberg),
                "num_format_changed_tables": len(format_changed),
            },
        },
        "success_tables": success,
        "skipped_tables": skipped,
        "new_tables": new,
        "identical_tables": identical,
        "errored_tables": errored,
        "non_parquet_tables": non_parquet,
        "iceberg_tables": iceberg,
        "format_changed_tables": format_changed,
    }
