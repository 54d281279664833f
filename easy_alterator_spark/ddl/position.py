"""Column-position dependency engine (O3 in SURVEY.md §2.6).

Given per-column ``AFTER x`` directives, moving one column drags every
column that (transitively) declared itself positioned after it. This
module computes the ordered move list: the direct move first, then its
cascade closure in topological order, so emitting
``ALTER TABLE .. ALTER COLUMN c AFTER x`` statements in list order
always references columns that are already in place.

Deliberately driver-side: per-table graphs are tens of nodes
(SURVEY.md §4.2): the report orders each collected ``iceberg_diff``
row's ``position_candidates`` with :func:`plan_moves`, siblings in
directive (DDL) order whatever the ``PYTHONHASHSEED``. Semantics match
the reference's cascade engine (column_position_manager.py:15-129),
including its quirk that cycles among ``after`` directives are silently
dropped by the Kahn-style sort (FIXTURES.md B6 pins this).
"""

from __future__ import annotations

from collections import defaultdict, deque


def plan_moves(
    directives: dict[str, str | None], changes: dict[str, str | None]
) -> list[dict[str, str | None]]:
    """Ordered position moves for ``changes`` plus their cascades.

    Args:
        directives: every column's declared ``after`` target (or None),
            i.e. the full positioning intent from the DDL.
        changes: the subset that actually needs to move (validated
            against the live schema by the caller).

    Returns:
        list of ``{"name", "after", "reason": "direct"|"cascade"}`` in
        application order.
    """
    # reverse edges: target -> columns declared after it
    followers: dict[str, list[str]] = defaultdict(list)
    for col, after in directives.items():
        if after:
            followers[after].append(col)

    current_after = dict(directives)
    moves: list[dict[str, str | None]] = []
    emitted: set[str] = set()

    for changed, new_after in changes.items():
        if changed in emitted:
            continue

        # cascade closure: the changed column plus everything declared
        # (transitively) after it
        affected: set[str] = set()
        stack = [changed]
        while stack:
            col = stack.pop()
            if col in affected:
                continue
            affected.add(col)
            stack.extend(followers[col])

        current_after[changed] = new_after

        # Kahn topological order within the affected subgraph, following
        # after-edges (a column moves only after its anchor moved).
        indeg = {col: 0 for col in affected}
        out_edges: dict[str, list[str]] = defaultdict(list)
        for col in (c for c in current_after if c in affected):
            anchor = current_after.get(col)
            if anchor and anchor in affected:
                out_edges[anchor].append(col)
                indeg[col] += 1
        queue = deque(sorted(col for col in affected if indeg[col] == 0))
        while queue:
            col = queue.popleft()
            if col not in emitted:
                moves.append(
                    {
                        "name": col,
                        "after": current_after.get(col),
                        "reason": "direct" if col == changed else "cascade",
                    }
                )
                emitted.add(col)
            for nxt in out_edges[col]:
                indeg[nxt] -= 1
                if indeg[nxt] == 0:
                    queue.append(nxt)
        # NB: nodes left with indeg > 0 form a cycle and are dropped —
        # intentional parity with the reference's behavior.

    return moves
