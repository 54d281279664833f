"""Schema-diff engine: DDL corpus vs catalog snapshot, corpus-wide.

The reference diffs one table at a time in a Python loop of small
pandas merges (/root/reference/src/bin/alterator.py:518). Here the
whole corpus is one Spark plan, and each table is diffed inside one
row: the catalog snapshot is folded into a sorted array per table
(one ``groupBy``), broadcast-joined onto the parsed DDL rows, and every
pandas merge becomes a row-local higher-order expression (``filter``,
``exists``, ``transform``, ``array_sort``) over two small arrays. So 458
or 458k tables is the same few-stage plan. :mod:`.hive` and
:mod:`.iceberg` map each reference merge to its expression. Catalog
snapshots are plain DataFrames (FIXTURES.md B2/B3), fed either from
test fixtures or from the live Spark catalog
(:mod:`easy_alterator_spark.diff.catalog`).

Both paths are one plan: :func:`hive_diff` routes every file and
carries each Iceberg table's diff as its ``iceberg`` column, so
:func:`build_report` shapes the whole report from one collect.
:func:`iceberg_diff` is that column alone, one row per table.
"""

from .hive import hive_diff  # noqa: F401
from .iceberg import iceberg_diff  # noqa: F401
from .report import build_report  # noqa: F401
