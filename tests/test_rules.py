"""Unit + property tests for the type rule book and the position
cascade engine (SURVEY.md §5.3)."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

from easy_alterator_spark.ddl.position import plan_moves
from easy_alterator_spark.ddl.types import (
    decimal_compatible,
    is_compatible,
    normalize_hive_type,
    normalize_iceberg_ddl_type,
)


class TestCompatibility:
    def test_athena_matrix(self):
        assert is_compatible("int", "bigint", "athena")
        assert is_compatible("string", "varchar", "athena")
        assert is_compatible("float", "double", "athena")
        assert not is_compatible("bigint", "double", "athena")
        assert not is_compatible("bigint", "int", "athena")  # no narrowing

    def test_iceberg_matrix(self):
        assert is_compatible("int", "long", "iceberg")
        assert not is_compatible("string", "varchar", "iceberg")

    def test_decimal_widening(self):
        assert is_compatible("decimal(18, 7)", "decimal(20, 7)")
        assert not is_compatible("decimal(18, 7)", "decimal(20, 8)")
        assert not is_compatible("decimal(18, 7)", "decimal(17, 7)")

    def test_unparseable_decimal_is_compatible_quirk(self):
        # reference rule_book.py:285 falls through to True
        assert decimal_compatible("decimal", "decimal(10, 2)")
        assert is_compatible("decimal", "decimal", "athena")

    @given(
        p1=st.integers(1, 38), s1=st.integers(0, 10),
        p2=st.integers(1, 38), s2=st.integers(0, 10),
    )
    @settings(max_examples=200, deadline=None)
    def test_decimal_widening_property(self, p1, s1, p2, s2):
        got = decimal_compatible(f"decimal({p1}, {s1})", f"decimal({p2}, {s2})")
        assert got == (s1 == s2 and p2 > p1)


class TestNestedWidening:
    """Element-wise Iceberg-legal widening inside complex types (r3
    verdict task 5). Divergence from the reference: it cannot parse
    nested types at all (alterator.py:75-78 drops them)."""

    def test_array_element_widening(self):
        assert is_compatible("array<int>", "array<bigint>", "iceberg")
        assert is_compatible("array<int>", "array<long>", "iceberg")
        assert is_compatible("array<float>", "array<double>", "iceberg")
        assert not is_compatible("array<bigint>", "array<int>", "iceberg")
        assert not is_compatible("array<int>", "array<string>", "iceberg")

    def test_struct_field_widening(self):
        assert is_compatible(
            "struct<a:int,b:string>", "struct<a:bigint,b:string>", "iceberg"
        )
        assert is_compatible(
            "struct<a:decimal(10,2)>", "struct<a:decimal(12,2)>", "iceberg"
        )
        # scale change / narrowing stay incompatible (strict — no
        # parse-failure quirk inside nested types)
        assert not is_compatible(
            "struct<a:decimal(10,2)>", "struct<a:decimal(12,3)>", "iceberg"
        )
        # field rename is NOT a type change
        assert not is_compatible(
            "struct<a:int>", "struct<b:int>", "iceberg"
        )
        # arity change
        assert not is_compatible(
            "struct<a:int>", "struct<a:int,b:int>", "iceberg"
        )

    def test_map_and_deep_nesting(self):
        assert is_compatible(
            "map<string,array<struct<k:string,v:int>>>",
            "map<string,array<struct<k:string,v:bigint>>>",
            "iceberg",
        )
        assert not is_compatible(
            "map<string,int>", "map<int,bigint>", "iceberg"
        )
        # long/bigint spelling alias folds to equal
        assert is_compatible("array<long>", "array<bigint>", "iceberg")

    def test_athena_stays_exact_match_only(self):
        assert not is_compatible("array<int>", "array<bigint>", "athena")

    @given(
        depth=st.integers(1, 4),
        promote=st.booleans(),
        demote=st.booleans(),
    )
    @settings(max_examples=100, deadline=None)
    def test_recursion_depth_property(self, depth, promote, demote):
        """Wrap a leaf in `depth` layers of array/struct/map; the pair
        is compatible iff the leaf change is a legal promotion."""
        leaf_old = "int"
        leaf_new = "bigint" if promote else "int"
        if demote:
            leaf_old, leaf_new = leaf_new, leaf_old
        old, new = leaf_old, leaf_new
        for i in range(depth):
            kind = ("array", "struct", "map")[i % 3]
            if kind == "array":
                old, new = f"array<{old}>", f"array<{new}>"
            elif kind == "struct":
                old, new = f"struct<f{i}:{old}>", f"struct<f{i}:{new}>"
            else:
                old, new = f"map<string,{old}>", f"map<string,{new}>"
        expect = (old == new) or (leaf_old == "int" and leaf_new == "bigint")
        assert is_compatible(old, new, "iceberg") == expect


class TestNormalization:
    def test_hive_decimal_spacing(self):
        assert normalize_hive_type("decimal(10,2)") == "decimal(10, 2)"
        assert normalize_hive_type("int") == "int"

    def test_iceberg_vocab(self):
        assert normalize_iceberg_ddl_type("varchar(10)") == "string"
        assert normalize_iceberg_ddl_type("bigint") == "long"
        assert normalize_iceberg_ddl_type("timestamp") == "timestamptz"
        assert normalize_iceberg_ddl_type("decimal(18,7)") == "decimal(18, 7)"

    def test_idempotent(self):
        for t in ("string", "decimal(10, 2)", "long", "timestamptz"):
            assert normalize_iceberg_ddl_type(t) == t or t == "timestamptz"


class TestPlanMoves:
    def test_direct_only(self):
        assert plan_moves({"c": "a"}, {"c": "a"}) == [
            {"name": "c", "after": "a", "reason": "direct"}
        ]

    def test_cascade_chain(self):
        # worked example shape (column_position_manager.py:132-156):
        # moving X drags everything transitively declared after it
        directives = {"b": "x", "c": "b", "d": "c"}
        moves = plan_moves(directives, {"b": "x"})
        assert [m["name"] for m in moves] == ["b", "c", "d"]
        assert moves[0]["reason"] == "direct"
        assert all(m["reason"] == "cascade" for m in moves[1:])

    def test_cycle_dropped(self):
        # A after B, B after A: Kahn's sort silently drops the cycle
        moves = plan_moves({"a": "b", "b": "a"}, {"a": "b"})
        assert moves == []

    def test_unrelated_not_dragged(self):
        directives = {"c": "a", "z": "y"}
        moves = plan_moves(directives, {"c": "a"})
        assert [m["name"] for m in moves] == ["c"]

    def test_sibling_order_ignores_hash_seed(self):
        """Columns declared after the same anchor move in directive (DDL)
        order, so the report's moves do not depend on the driver's
        ``PYTHONHASHSEED``."""
        code = (
            "from easy_alterator_spark.ddl.position import plan_moves\n"
            "d = {'x': 'w', 'b': 'x', 'c': 'x', 'e': 'x', 'f': 'b', 'g': 'c'}\n"
            "print(','.join(m['name'] for m in plan_moves(d, {'x': 'w'})))"
        )
        root = Path(__file__).resolve().parent.parent
        orders = {
            subprocess.run(
                [sys.executable, "-c", code],
                env={**os.environ, "PYTHONHASHSEED": str(seed)},
                cwd=root,
                capture_output=True,
                text=True,
                check=True,
            ).stdout.strip()
            for seed in range(6)
        }
        assert orders == {"x,b,c,e,f,g"}

    @given(
        st.dictionaries(
            st.sampled_from("abcdefgh"),
            st.sampled_from("abcdefgh"),
            max_size=8,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_topological_validity(self, directives):
        directives = {k: v for k, v in directives.items() if k != v}
        if not directives:
            return
        changed = next(iter(directives))
        moves = plan_moves(directives, {changed: directives[changed]})
        names = [m["name"] for m in moves]
        assert len(names) == len(set(names))  # no duplicates
        # anchors that are themselves moved must be moved first
        pos = {n: i for i, n in enumerate(names)}
        for m in moves:
            if m["after"] in pos:
                assert pos[m["after"]] < pos[m["name"]]
