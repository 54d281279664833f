"""Correctness checks the benchmark runs outside its timed region.

Each check returns a list of failure messages (empty when the output is
correct). Query results are compared with the repository's differential
gate (``tests/util.py``): both sides fetched through pandas, columns
sorted by name, rows sorted, values compared with their dtype (an int
70 is not a float 70.0) and floats exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from tests.util import canon_rows

# ---------------------------------------------------------------------------
# query results vs DuckDB oracle SQL
# ---------------------------------------------------------------------------


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    a = canon_rows(list(got.columns), list(got.itertuples(index=False, name=None)))
    b = canon_rows(list(want.columns), list(want.itertuples(index=False, name=None)))
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    if bad:
        i = bad[0]
        return [f"{name}: {len(bad)} rows differ from oracle, first {a[i]} != {b[i]}"]
    return []


# ---------------------------------------------------------------------------
# dedup_minhash_lsh: exact all-pairs Jaccard, independent of the program
# ---------------------------------------------------------------------------
# The registered DuckDB oracle is an all-pairs self-join that takes over
# a minute on 5000 documents; this computes the same pair set (token
# sets of lowercased whitespace tokens, Jaccard >= threshold, jac rounded
# to 4 places) in about a second.


def _token_sets(texts) -> list[frozenset]:
    return [frozenset(t for t in str(x).lower().split() if t) for x in texts]


def _pairs_dense(ids, sets, vocab, threshold):
    index = {w: i for i, w in enumerate(vocab)}
    x = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for r, s in enumerate(sets):
        x[r, [index[w] for w in s]] = 1.0
    size = x.sum(axis=1)
    out_a, out_b, out_i, out_u = [], [], [], []
    for lo in range(0, len(sets), 512):
        inter = x[lo : lo + 512] @ x.T
        union = size[lo : lo + 512, None] + size[None, :] - inter
        rows = np.arange(lo, min(lo + 512, len(sets)))[:, None]
        keep = (np.arange(len(sets))[None, :] > rows) & (inter >= threshold * union)
        r, c = np.nonzero(keep)
        out_a.append(r + lo)
        out_b.append(c)
        out_i.append(inter[r, c])
        out_u.append(union[r, c])
    a, b = np.concatenate(out_a), np.concatenate(out_b)
    inter, union = np.concatenate(out_i), np.concatenate(out_u)
    ok = inter / union >= threshold  # the oracle's double comparison
    return ids[a[ok]], ids[b[ok]], (inter / union)[ok]


def _pairs_prefix(ids, sets, threshold):
    """All-pairs with prefix filtering: two sets with Jaccard >= t share
    a token among their |s| - ceil(t|s|) + 1 rarest tokens."""
    df: dict[str, int] = {}
    for s in sets:
        for w in s:
            df[w] = df.get(w, 0) + 1
    postings: dict[str, list[int]] = {}
    cand: set[tuple[int, int]] = set()
    for r, s in enumerate(sets):
        toks = sorted(s, key=lambda w: (df[w], w))
        p = len(toks) - math.ceil(threshold * len(toks)) + 1
        for w in toks[:p]:
            for o in postings.get(w, ()):
                cand.add((o, r))
            postings.setdefault(w, []).append(r)
    a, b, jac = [], [], []
    for o, r in cand:
        inter = len(sets[o] & sets[r])
        j = inter / (len(sets[o]) + len(sets[r]) - inter)
        if j >= threshold:
            a.append(o)
            b.append(r)
            jac.append(j)
    a, b = np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
    return ids[a], ids[b], np.array(jac)


def exact_jaccard_pairs(docs: pd.DataFrame, threshold: float):
    """(doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b."""
    docs = docs.sort_values("doc_id")
    ids = docs["doc_id"].to_numpy()
    sets = _token_sets(docs["text"])
    vocab = sorted(set().union(*sets))
    if len(vocab) <= 4096:
        return _pairs_dense(ids, sets, vocab, threshold)
    return _pairs_prefix(ids, sets, threshold)


def check_dedup_pairs(name: str, got: pd.DataFrame, docs: pd.DataFrame, threshold: float) -> list[str]:
    a, b, jac = exact_jaccard_pairs(docs, threshold)
    want = pd.DataFrame({"doc_id_a": a, "doc_id_b": b, "exact": jac})
    if sorted(got.columns) != ["doc_id_a", "doc_id_b", "jac"]:
        return [f"{name}: columns {sorted(got.columns)}"]
    m = got.merge(want, on=["doc_id_a", "doc_id_b"], how="outer", indicator=True)
    extra = int((m["_merge"] == "left_only").sum())
    missing = int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    # jac must be a 4-place rounding of the exact ratio
    off = int((np.abs(both["jac"] - both["exact"]) > 5e-5 + 1e-9).sum())
    if extra or missing or off:
        return [f"{name}: {extra} extra pairs, {missing} missing pairs, {off} wrong jac (of {len(want)})"]
    return []


# ---------------------------------------------------------------------------
# cli_alter: report vs the generator's expected outcomes
# ---------------------------------------------------------------------------


def _index_report(report: dict) -> dict[str, list[tuple[str, dict]]]:
    seen: dict[str, list[tuple[str, dict]]] = {}
    for key in (
        "success_tables",
        "skipped_tables",
        "new_tables",
        "identical_tables",
        "errored_tables",
        "non_parquet_tables",
        "iceberg_tables",
        "format_changed_tables",
    ):
        for e in report.get(key, []):
            entry = e if isinstance(e, dict) else {"table_name": e}
            name = entry.get("table_name", "")
            if name.startswith("glue_catalog."):
                name = name.split(".", 1)[1]
            seen.setdefault(name, []).append((key, entry))
    return seen


def expected_statements(e: dict) -> list[str]:
    """The ALTER statements the apply run must issue for one table."""
    db, tbl = e["table"].split(".")
    t = f"`{db}`.`{tbl}`"
    exp = e["expect"]
    if exp["outcome"] == "success":
        cols = ", ".join(f"`{c}` {ty}" for c, ty in exp["add"])
        return [f"ALTER TABLE {t} ADD COLUMNS ({cols})"]
    if e["kind"] == "ice_add":
        # no `-- after:` directive in the DDL: the column is appended
        c, ty = e["ddl_cols"][-1]
        return [f"ALTER TABLE {t} ADD COLUMN `{c}` {ty}"]
    if e["kind"] == "ice_props":
        kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(e["ddl_props"].items()) if e["ice_props"].get(k) != v)
        return [f"ALTER TABLE {t} SET TBLPROPERTIES ({kv})"]
    return []


def check_table(e: dict, found: list[tuple[str, dict]]) -> list[str]:
    """One table's report entries against its expected outcome."""
    t, exp = e["table"], e["expect"]
    keys = sorted(k for k, _ in found)
    outcome = exp["outcome"]
    if outcome == "identical":
        return [] if keys == ["identical_tables"] else [f"{t}: expected identical, got {keys}"]
    if outcome == "new":
        return [] if keys == ["new_tables"] else [f"{t}: expected new, got {keys}"]
    if outcome == "migration":
        if keys != ["format_changed_tables", "iceberg_tables"]:
            return [f"{t}: expected migration, got {keys}"]
        ice = dict(found)["iceberg_tables"]
        return [] if ice.get("migration") == "True" else [f"{t}: migration flag {ice.get('migration')}"]
    entry = dict(found).get(
        {"success": "success_tables", "skipped": "skipped_tables", "iceberg": "iceberg_tables"}[outcome]
    )
    if entry is None or len(found) != 1:
        return [f"{t}: expected {outcome}, got {keys}"]
    if outcome == "success":
        got = [(c["Name"], c["Type"]) for c in entry["details"]["add"]]
        if got != exp["add"] or entry["details"]["delete"]:
            return [f"{t}: add {got} delete {entry['details']['delete']} != {exp['add']}"]
    elif outcome == "skipped":
        got = [c["Name"] for c in entry["details"]["incompatible"]]
        if entry["reason"] != exp["reason"] or got != exp["incompatible"]:
            return [f"{t}: skipped {entry['reason']} {got} != {exp['reason']} {exp['incompatible']}"]
    elif "new" in exp:
        got = [c["name"] for c in entry.get("columns", {}).get("new", [])]
        if got != exp["new"] or entry.get("migration") != "False":
            return [f"{t}: iceberg new {got} != {exp['new']}"]
    elif "props_updated" in exp:
        got = sorted(entry.get("tblprops", {}).get("updated", {}))
        if got != exp["props_updated"] or entry.get("columns"):
            return [f"{t}: iceberg props {got} != {exp['props_updated']}"]
    return []


def check_report(plan: list[dict], report: dict) -> list[str]:
    """One message per table whose report entries are wrong, and one per
    reported table that is not in the corpus."""
    seen = _index_report(report)
    fails: list[str] = []
    for e in plan:
        fails += check_table(e, seen.pop(e["table"], []))
    fails += [f"{t}: not in the corpus" for t in seen]
    return fails


def check_apply(plan: list[dict], report: dict) -> list[str]:
    """Apply errors, and applied statements that differ from the
    expected ALTERs."""
    fails = [f"{t}: apply error {msg}" for t, msg in report.get("apply_errors", {}).items()]
    want = sorted(s for e in plan for s in expected_statements(e))
    got = sorted(report.get("applied_statements", []))
    if got != want:
        fails.append(f"applied statements differ: {sorted(set(got) ^ set(want))[:4]}")
    return fails
