"""The benchmark's own tests: seeded generators, the expected-outcome
table of the cli_alter corpus, the correctness checkers and span
self-time arithmetic. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [os.path.dirname(HERE), ROOT]

import checks  # noqa: E402
import fixtures as fx  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402

# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_cli_corpus_is_deterministic_per_seed():
    assert fx.cli_corpus("db", 25, 7) == fx.cli_corpus("db", 25, 7)
    assert fx.cli_corpus("db", 25, 7) != fx.cli_corpus("db", 25, 8)


@pytest.mark.parametrize("n", [1, 7, 25, 100])
def test_kind_counts_do_not_depend_on_seed(n):
    counts = fx.kind_counts(n)
    assert sum(counts.values()) == n
    for seed in (1, 2, 3):
        kinds = [e["kind"] for e in fx.cli_corpus("db", n, seed)]
        assert {k: kinds.count(k) for k in counts} == counts


def test_star_schema_is_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    fx.write_star_schema(str(tmp_path / "a"), 5)
    fx.write_star_schema(str(tmp_path / "b"), 5)
    fx.write_star_schema(str(tmp_path / "c"), 6)
    for name in os.listdir(tmp_path / "a"):
        a = pq.read_table(tmp_path / "a" / name)
        assert a.equals(pq.read_table(tmp_path / "b" / name)), name
    docs = pq.read_table(tmp_path / "a" / "documents.parquet")
    assert docs.num_rows == fx.SF01_ROWS["documents"]
    assert not docs.equals(pq.read_table(tmp_path / "c" / "documents.parquet"))


def test_floor_pair_count_does_not_depend_on_seed():
    docs = {s: fx.floor_documents(400, s).to_pandas() for s in (1, 2)}
    assert not docs[1]["text"].equals(docs[2]["text"])
    pairs = {s: checks.exact_jaccard_pairs(d, 0.9) for s, d in docs.items()}
    assert len(pairs[1][0]) == len(pairs[2][0]) > 0
    assert sorted(pairs[1][2]) == sorted(pairs[2][2])


def test_genh_documents_match_the_repository_generator():
    ref = fx.gen_documents(300, random.Random(11), entropy="high")
    assert fx.genh_documents(300, 11).equals(ref)


# ---------------------------------------------------------------------------
# expected-outcome table
# ---------------------------------------------------------------------------

OUTCOME = {
    "hive_identical": "identical",
    "hive_add": "success",
    "hive_incompatible": "skipped",
    "hive_new": "new",
    "hive_migration": "migration",
    "ice_identical": "identical",
    "ice_add": "iceberg",
    "ice_props": "iceberg",
}


def test_expected_outcome_per_kind():
    for e in fx.cli_corpus("db", 100, 3):
        exp = e["expect"]
        assert exp["outcome"] == OUTCOME[e["kind"]]
        if e["kind"] == "hive_add":
            assert e["ddl_cols"][: len(e["catalog_cols"])] == e["catalog_cols"]
            assert e["ddl_cols"][len(e["catalog_cols"]) :] == exp["add"]
        if e["kind"] == "hive_incompatible":
            (name,) = exp["incompatible"]
            old = dict(e["catalog_cols"])[name]
            assert old in fx.INCOMPATIBLE_FROM and dict(e["ddl_cols"])[name] == "string"
        if e["kind"] == "hive_new":
            assert e["catalog_cols"] is None
        if e["kind"] in ("hive_add", "ice_add", "ice_props"):
            assert checks.expected_statements(e)
        else:
            assert checks.expected_statements(e) == []


def _report_for(plan):
    """The report a correct program produces for ``plan``."""
    r = {k: [] for k in ("success_tables", "skipped_tables", "new_tables", "identical_tables",
                          "errored_tables", "non_parquet_tables", "iceberg_tables",
                          "format_changed_tables")}
    for e in plan:
        t, exp = e["table"], e["expect"]
        o = exp["outcome"]
        if o == "identical":
            r["identical_tables"].append(t)
        elif o == "success":
            r["success_tables"].append({"table_name": t, "details": {
                "add": [{"Name": c, "Type": ty} for c, ty in exp["add"]], "delete": []}})
        elif o == "skipped":
            r["skipped_tables"].append({"table_name": t, "reason": exp["reason"], "details": {
                "incompatible": [{"Name": c} for c in exp["incompatible"]]}})
        elif o == "new":
            r["new_tables"].append(t)
        elif o == "migration":
            r["format_changed_tables"].append({"table_name": t})
            r["iceberg_tables"].append({"table_name": "glue_catalog." + t, "migration": "True"})
        elif "new" in exp:
            r["iceberg_tables"].append({"table_name": t, "migration": "False",
                                        "columns": {"new": [{"name": c} for c in exp["new"]]}})
        else:
            r["iceberg_tables"].append({"table_name": t, "migration": "False", "tblprops": {
                "updated": {k: "x" for k in exp["props_updated"]}}})
    r["applied_statements"] = [s for e in plan for s in checks.expected_statements(e)]
    return r


def test_check_report_accepts_the_expected_report():
    plan = fx.cli_corpus("db", 25, 4)
    assert checks.check_report(plan, _report_for(plan)) == []
    assert checks.check_apply(plan, _report_for(plan)) == []


def test_check_report_flags_each_wrong_table():
    plan = fx.cli_corpus("db", 25, 4)
    report = _report_for(plan)
    moved = report["success_tables"].pop()
    report["identical_tables"].append(moved["table_name"])
    report["new_tables"].append("db.stray")
    fails = checks.check_report(plan, report)
    assert [f.split(":")[0] for f in fails] == [moved["table_name"], "db.stray"]
    report = dict(_report_for(plan), apply_errors={plan[0]["table"]: "boom"})
    assert checks.check_apply(plan, report)


# ---------------------------------------------------------------------------
# query checkers
# ---------------------------------------------------------------------------


def test_compare_frames_is_dtype_sensitive():
    a = pd.DataFrame({"k": [1, 2], "v": [70, 3]})
    assert checks.compare_frames("q", a, a.iloc[::-1]) == []
    assert checks.compare_frames("q", a, a.astype({"v": "float64"}))
    assert checks.compare_frames("q", a, a.iloc[:1])


def _docs(n, vocab, seed):
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(vocab, k=rng.randint(3, 9))) for _ in range(n)]
    texts += texts[:5]  # exact duplicates
    return pd.DataFrame({"doc_id": range(len(texts)), "text": texts})


def _brute(docs, t):
    sets = [set(x.split()) for x in docs["text"]]
    out = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= t:
                out.add((i, j))
    return out


@pytest.mark.parametrize("vocab", [list("abcdef"), [f"w{i}" for i in range(5000)]])
def test_exact_jaccard_pairs_matches_brute_force(vocab):
    docs = _docs(120, vocab, 2)
    a, b, jac = checks.exact_jaccard_pairs(docs, 0.5)
    assert set(zip(a.tolist(), b.tolist())) == _brute(docs, 0.5)
    assert ((jac >= 0.5) & (jac <= 1)).all()


def test_check_dedup_pairs_flags_missing_and_wrong_jac():
    docs = _docs(80, list("abcde"), 3)
    a, b, jac = checks.exact_jaccard_pairs(docs, 0.6)
    got = pd.DataFrame({"doc_id_a": a, "doc_id_b": b, "jac": jac.round(4)})
    assert checks.check_dedup_pairs("d", got, docs, 0.6) == []
    assert checks.check_dedup_pairs("d", got.iloc[1:], docs, 0.6)
    assert checks.check_dedup_pairs("d", got.assign(jac=got["jac"] + 0.001), docs, 0.6)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        Span(1, "op", None, 0.0, 10.0),
        Span(2, "a", 1, 1.0, 4.0),
        Span(3, "b", 1, 5.0, 9.0),
        Span(4, "c", 3, 6.0, 7.5),
    ]
    st = self_times(spans)
    assert st == {1: 3.0, 2: 3.0, 3: 2.5, 4: 1.5}
    assert sum(st.values()) == spans[0].duration


def test_tracer_spans_nest_and_sum_to_the_root():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("x"):
            with tr.span("y"):
                pass
        with tr.span("x"):
            pass
    root, x1, y, x2 = tr.spans
    assert (x1.parent, y.parent, x2.parent) == (root.sid, x1.sid, root.sid)
    tot = tr.totals()
    assert tot["x"]["calls"] == 2
    assert sum(t["self_s"] for t in tot.values()) == pytest.approx(root.duration)


def test_patch_wraps_and_restores():
    import types

    mod = types.ModuleType("m")
    mod.f = lambda v: v + 1
    sys.modules["perfbench_test_mod"] = mod
    tr = Tracer()
    tr.patch("perfbench_test_mod", "f", "m.f")
    assert mod.f(1) == 2 and [s.name for s in tr.spans] == ["m.f"]
    tr.unpatch()
    mod.f(1)
    assert len(tr.spans) == 1


# ---------------------------------------------------------------------------
# BENCHMARK.json
# ---------------------------------------------------------------------------


def test_benchmark_json_names_every_metric_once():
    doc = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    assert {m["name"] for m in doc["end_to_end"]} >= {"setup_s"}
    import workloads

    spans = {s for _, _, s in workloads.CLI_SPANS}
    per_layer = {m["name"] for m in doc["per_layer"]}
    assert {f"{s}_s" for s in spans} <= per_layer
    for label in workloads.HEAVY_LABELS:
        assert f"{label}.execute_s" in per_layer
    for _, q, _ in workloads.QUERY_MIX_RUNS:
        assert f"queries.{q}.build_s" in per_layer
