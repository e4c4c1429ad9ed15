"""Unified materialized-view maintenance: ONE entry point that inspects
the view definition's analyzed Catalyst plan and picks the maintenance
algebra automatically (SURVEY §12 round-6 item 5 — the unification of
``lake_ivm_view_table`` / ``lake_ivm_agg_table``).

A view is declared as a plain DataFrame program over source snapshots::

    mv = AutoMaterializedView(
        spark, path,
        sources={"li": lineitem_cow, "om": orders_mor},
        plan_fn=lambda t: t["li"].join(t["om"], ...).select(...),
    )
    mv.refresh()       # classify -> seed or advance, minimal commits
    mv.serve()         # current view contents (a real lake table snapshot)

``refresh`` walks the ANALYZED logical plan (via the JVM tree — node
classes, grouping/aggregate expressions, join conditions, and expression
IDs for lineage) and classifies the view:

- **aggregate** — top node is ``Aggregate`` over ONE source: maintained
  by signed retraction.  The below-aggregate Project/Filter chain is
  REPLAYED over the source's CDC feed (preimages = sign −1, postimages =
  sign +1), the aggregate is rewritten into its delta form
  (``count(1)`` → Σ sign; ``count(x)`` → Σ sign·[x IS NOT NULL];
  ``sum(x)`` → Σ sign·coalesce(x,0) plus a hidden non-null counter so
  an all-NULL group still serves SQL-correct NULL), and the merged
  groups land as one upsert commit + one delete commit for groups whose
  row count nets to zero.  ``avg`` is auto-rewritten to hidden
  exact-sum + non-null-count columns and served as their ratio (the
  classic IVM decomposition).  The variance family (``stddev[_samp]``,
  ``stddev_pop``, ``variance``, ``var_samp``, ``var_pop``) decomposes
  to hidden power sums — Σx, Σx², non-null count — all three signed-
  summable, served through the textbook moment formula
  ``(Σx² − (Σx)²/n) / (n or n−1)`` (√ for stddev); exactness under
  retraction holds when the argument is integral (the registry query
  feeds integer cents), since the hidden sums then never round.
  ``min``/``max`` are NOT retraction-
  maintainable (a deleted row may have been the extreme), so they use
  the standard fallback: insert-only (clean) groups combine
  monotonically, retraction-touched (dirty) groups re-derive their
  extremes from the source — work ∝ rows of dirty groups, never the
  table.  ``count(DISTINCT x)`` is maintained with the textbook
  PER-VALUE auxiliary state: a nested lake table per distinct alias
  (``.aux_<alias>``, keyed on group keys + value) holds the signed
  row count of every live (group, value) pair; an advance merges the
  feed's per-value deltas into the aux table and recounts ONLY the
  touched groups — storage ∝ Σ distinct values, advance work ∝ the
  change set.  Values are keyed by their cast-to-string (injective
  for the primitive types); other DISTINCT aggregates still raise
  ``UnsupportedViewError`` instead of silently approximating.
  A linear Project/Filter chain ABOVE the aggregate (HAVING, derived
  outputs like ratio-of-sums) is recorded and re-applied at SERVE time:
  the stored state keeps every group, so groups entering or leaving a
  HAVING set as their aggregates change cost no maintenance work.
- **join** — exactly one INNER or LEFT OUTER equi-join of TWO sources:
  maintained by change-key re-derivation (LEFT OUTER needs no extra
  bookkeeping — re-derivation runs the user's own plan, so a dim delete
  flips its fact rows to null-extended instead of dead, and a dim
  insert upgrades them; the preserved side must be the fact, since a
  preserved dim row has no fact record key to serve as row identity).
  The fact source is found by LINEAGE: the
  view's key column must alias some source's ``_hoodie_record_key``
  (expression-ID resolution through the plan's Alias chain, not name
  matching).  Advance = (fact keys touched in range) ∪ (fact rows
  joining a dim key changed in range, dim deletes included via CDC
  before-images) → re-derive those rows against latest snapshots, one
  delete commit for vanished view rows, one upsert for the rest.
- **window** — Project/Filter above ONE Window over one or more UNION
  ALL branches (rank, top-k per group, running aggregates; a single
  source is the one-branch union, with no tag column): maintained by
  WHOLE-PARTITION re-derivation, because one changed row reshuffles
  every rank in its partition.  Touched partitions, per branch = old
  locations from the stored view ∪ new locations from the source
  (never from the windowed plan, whose top-k filter may hide a changed
  row); the plan re-runs over the SOURCES RESTRICTED to those
  partitions (input restriction commutes with whole partitions; an
  output semi-join would not be pushed below the top-k filter), and
  vanished rows become view deletes.  A window over a join tree
  (**window_tree**) finds its touched partitions by image replay
  through the tree instead, since a dim change can move rows between
  partitions; both re-rank through one tail.  A Window anywhere else
  in a plan is refused — the row-granular algebras would silently
  miss the partition reshuffle.
- **select** — single source, no join/aggregate (the everyday
  project/filter view): the join algebra degenerated to zero dim
  sources — touched record keys re-derived through the plan, rows the
  filter now rejects becoming view deletes.
- **agg_tree** — Aggregate (or DISTINCT) over a tree of one or more
  INNER / LEFT / RIGHT / FULL OUTER equi-joins in a single
  declaration: a two-source join is the one-join tree, a star or
  snowflake rollup a deeper one, and a self-join gives each
  occurrence its own leaf.  One recursive SIGNED delta serves every
  tree: each INNER node applies the bilinear join rule of DBSP,
  Δ(L⋈R) = ΔL⋈R_target ∪ L_anchor⋈ΔR, with ΔL and ΔR the children's
  own deltas and each static side pruned to the delta's join keys by
  a broadcast semi-join; LEFT / FULL OUTER nodes add a presence-flip
  correction for rows entering or leaving the null-extension.  The
  feed flows into the same retraction merge as single-source aggregates;
  min/max re-derive their dirty groups through the tree, restricted
  to those groups at the group-carrying leaf when it is not
  null-extended.
- **union** — UNION ALL of N Project/Filter branches over N sources
  under a (literal tag, record key) identity: each branch advances
  independently by change-key re-derivation over its own chain.
- **distinct** — SELECT DISTINCT / df.distinct(): the degenerate
  aggregate (group by every column, signed count decides membership);
  dropDuplicates on a key subset refuses (arbitrary survivor).

Operational posture: refreshes hold an advisory lock
(ConcurrentRefreshError names a dead holder's lock), and a source
rolled back or archived past the view's anchor raises
ViewHistoryLostError pointing at the explicit ``reseed()`` recovery.

Scale shape (100 TB): every advance is proportional to the CHANGE SET,
never the view or source size — changed keys come from touched file
groups only, dim change keys are broadcast, every dirty-group /
touched-partition restriction is applied to the INPUTS (measured on
4.1: PushDownLeftSemiAntiJoin does NOT push an output-side semi-join
below a Filter or Aggregate, so relying on the optimizer would
silently re-derive the whole table), and the view is a real COW table
so its writes touch only hash-routed file groups.  Reference parity: this generalizes the same
incremental algebra the reference applies to its materialized delete
view (DeleteView.java:99-140 — seed once, advance per commit, serve the
stored state); oracle queries prove every advance converges to the
from-scratch recompute bit-exactly.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.cow import RECORD_KEY_FIELD, META_FIELDS, CowTable

# Literal touched-partition predicate bound for window advances: a delta
# touching more partitions than this re-derives full-input. MEASURED
# round 9 (SCALE.md, "Round 9: window-advance touched-predicate cliff
# measured"): the OR
# predicate's Catalyst planning cost grows superlinearly with clause
# count — 256 clauses planned in ~5s, 1024 took ~40s, eating most of
# the 65s benefit H18 measured at 1.6M rows — and a left-deep fold of
# 1024 clauses overflowed the JVM stack outright (fixed: balanced
# fold). 256 is the measured-sane bound.
WINDOW_TOUCHED_PRED_MAX = 256

# Chunk multiplier: between PRED_MAX and PRED_MAX*CHUNKS_MAX touched
# partitions the literal predicate is applied CHUNKED — K union branches
# of ≤PRED_MAX clauses each over the same re-derivation plan. Catalyst's
# planning cost is superlinear in the clause count of ONE predicate
# (256 ≈ 5s, 1024 ≈ 40s, measured round 9) but linear in the number of
# bounded-size branches, so chunking extends the touched-partition fast
# path 16x before the full-input fallback; each branch's predicate still
# pushes below the Window, and branches keep disjoint partitions (the
# touched tuples are distinct), so the union is duplicate-free.
WINDOW_TOUCHED_CHUNKS_MAX = 16


def _balanced_any(conds: list) -> "F.Column":
    """OR a list of Columns as a BALANCED tree. A left-deep fold of ~1024
    clauses overflows the JVM stack in Spark 4's recursive
    ColumnNode-to-Expression conversion (StackOverflowError at the old
    WINDOW_TOUCHED_PRED_MAX; SCALE.md, "Round 9: window-advance
    touched-predicate cliff measured"); depth log2(n) converts fine and
    plans faster."""
    while len(conds) > 1:
        conds = [
            conds[i] | conds[i + 1] if i + 1 < len(conds) else conds[i]
            for i in range(0, len(conds), 2)
        ]
    return conds[0]


def _part_cond(a: str, b: str, cols: list) -> "F.Column":
    """Null-safe equality of the partition columns ``cols`` between the
    frames aliased ``a`` and ``b`` — the touched-partition match every
    window advance uses."""
    from functools import reduce

    return reduce(
        lambda x, y: x & y,
        [F.col(f"{a}.{p}").eqNullSafe(F.col(f"{b}.{p}")) for p in cols],
    )


def _where_touched_chunked(
    rederived: "DataFrame", touched_rows: list, out_parts: list
) -> "DataFrame":
    """Restrict ``rederived`` to the touched partition tuples via literal
    predicates, chunked to ≤WINDOW_TOUCHED_PRED_MAX clauses per union
    branch (see WINDOW_TOUCHED_CHUNKS_MAX). One chunk degenerates to the
    plain single-predicate restriction; no touched tuples restrict to no
    rows."""
    from functools import reduce

    if not touched_rows:
        return rederived.where(F.lit(False))
    step = WINDOW_TOUCHED_PRED_MAX
    parts = []
    for i in range(0, len(touched_rows), step):
        conds = [
            reduce(
                lambda x, y: x & y,
                [F.col(o).eqNullSafe(F.lit(row[o])) for o in out_parts],
            )
            for row in touched_rows[i:i + step]
        ]
        parts.append(rederived.where(_balanced_any(conds)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


__all__ = ["AutoMaterializedView", "UnsupportedViewError", "classify_view"]

_HIDDEN_N = "__mv_n"  # signed row count per group (dead-group detector)

# the view kinds stored as aggregate state (group keys + hidden counters)
_AGG_KINDS = ("aggregate", "agg_union", "agg_tree")

# the variance family, all maintained through signed power sums
# (Σx, Σx², non-null n); "samp" members divide by n−1, "pop" by n
_MOMENT_FNS = {
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
}
_MOMENT_POP = {"stddev_pop", "var_pop"}
_MOMENT_SQRT = {"stddev", "stddev_samp", "stddev_pop"}


class UnsupportedViewError(ValueError):
    """The view plan is outside the self-maintainable surface; the error
    message names the offending node so the caller can rewrite the view
    (e.g. min/max -> argmax re-derivation, avg -> sum/count columns)."""


class ConcurrentRefreshError(RuntimeError):
    """Another refresh holds the view's advisory lock.  Two concurrent
    advances would race the anchor sidecar and double-apply deltas; the
    error names the lock file and holder so a dead holder's lock can be
    removed and the refresh retried."""


class ViewHistoryLostError(RuntimeError):
    """A source no longer has incremental history at the view's anchor —
    it was rolled back past the anchor, or its timeline was archived
    beyond it.  The stored view is still a correct snapshot OF ITS
    ANCHOR, but no change feed can bridge anchor → latest; the only
    sound recovery is ``reseed()`` (rebuild from the current
    snapshots), which this error names instead of doing silently."""


# ------------------------------------------------------------------------
# plan introspection helpers (py4j over the analyzed logical plan)
# ------------------------------------------------------------------------
def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _out_ids(df: DataFrame) -> dict[int, str]:
    """exprId -> column name for a DataFrame's analyzed output."""
    out = df._jdf.queryExecution().analyzed().output()
    return {a.exprId().id(): a.name() for a in _seq(out)}


def _alias_refs(plan) -> dict[int, list[int]]:
    """exprId of every Alias in the plan -> exprIds it references
    (the lineage edges used to resolve a view column to its source)."""
    refs: dict[int, list[int]] = {}

    def walk(n):
        if _cls(n) == "Project":
            for e in _seq(n.projectList()):
                if _cls(e) == "Alias":
                    refs[e.exprId().id()] = [
                        a.exprId().id() for a in _seq(e.references().toSeq())
                    ]
        for c in _children(n):
            walk(c)

    walk(plan)
    return refs


def _resolve_to_source(
    expr_id: int, refs: dict[int, list[int]], sources: dict[str, dict[int, str]]
) -> tuple[str, str] | None:
    """Follow alias lineage until an exprId lands in some source's output;
    returns (source_name, source_column) or None."""
    seen, frontier = set(), [expr_id]
    while frontier:
        eid = frontier.pop()
        if eid in seen:
            continue
        seen.add(eid)
        for name, ids in sources.items():
            if eid in ids:
                return name, ids[eid]
        frontier.extend(refs.get(eid, []))
    return None


def classify_view(df: DataFrame, snapshots: dict[str, DataFrame]) -> dict:
    """Classify a view DataFrame against its source snapshots.

    Returns ``{"kind": "aggregate", "group": [(name, sql)], "aggs":
    [(alias, fn, arg_sql)], "chain": [...], "source": name}`` or
    ``{"kind": "join", ...}`` / ``{"kind": "select", ...}`` — everything
    the maintenance algebras need, extracted from the Catalyst tree.
    """
    plan = df._jdf.queryExecution().analyzed()
    src_ids = {n: _out_ids(s) for n, s in snapshots.items()}
    refs = _alias_refs(plan)
    quals = _collect_qualifiers(plan)

    if _cls(plan) == "Aggregate":
        return _classify_aggregate(plan, src_ids, refs, snapshots, quals)
    if _cls(plan) in ("Deduplicate", "Distinct"):
        return _classify_distinct(plan, snapshots, quals, src_ids, refs)

    # peel a linear Project/Filter chain ABOVE an aggregate (HAVING and
    # derived output columns like ratio-of-sums): the maintained state is
    # the full underlying aggregate — groups enter and leave a HAVING set
    # as their aggregates change, so the filter/projection re-applies at
    # serve time, never at maintenance time
    post, node = [], plan
    snap_plans = [
        s._jdf.queryExecution().analyzed() for s in snapshots.values()
    ]
    while _cls(node) in ("Project", "Filter", "SubqueryAlias"):
        # stop at a source-snapshot boundary: a MOR source's own plan is
        # a Project/Filter/Window tree (the log merge) — its internals
        # are the source's implementation, not view structure
        if any(node.sameResult(sp) for sp in snap_plans):
            break
        if _cls(node) == "Filter":
            post.append(("filter", _strip_quals(node.condition().sql(), quals)))
        elif _cls(node) == "Project":
            items = []
            for p in _seq(node.projectList()):
                if _cls(p) == "Alias":
                    items.append((p.name(), _strip_quals(p.child().sql(), quals)))
                else:
                    items.append((p.name(), _strip_quals(p.sql(), quals)))
            post.append(("project", items))
        # SubqueryAlias (SQL-declared views): qualifier wrapper only —
        # transparent to the descent
        node = _children(node)[0]
        if any(node.sameResult(sp) for sp in snap_plans):
            break
        if _cls(node) == "Aggregate":
            spec = _classify_aggregate(node, src_ids, refs, snapshots, quals)
            spec["post"] = post  # top-down; serve applies bottom-up
            return spec
        if _cls(node) in ("Deduplicate", "Distinct"):
            spec = _classify_distinct(node, snapshots, quals, src_ids, refs)
            spec["post"] = post
            return spec
        if _cls(node) == "Window":
            return _classify_window(node, src_ids, refs, _out_ids(df),
                                    snapshots, quals)

    if _cls(plan) == "Window":
        return _classify_window(plan, src_ids, refs, _out_ids(df), snapshots,
                                quals)

    if _cls(plan) == "Union":
        return _classify_union(plan, src_ids, refs, snapshots, quals)

    # a Window anywhere ELSE would silently maintain wrong: the key/join
    # algebras re-derive touched ROWS, but a rank reshuffles its whole
    # partition when any member changes — refuse instead of approximating.
    # The search stops at source-snapshot boundaries (node output == a
    # source's output ids): a Window INSIDE a source's own plan — e.g. the
    # MOR merge's row_number — is the source's implementation detail, not
    # part of the view the user asked to maintain.
    src_bounds = {frozenset(ids) for ids in src_ids.values()}
    wins = []

    def _findw(n):
        if frozenset(a.exprId().id() for a in _seq(n.output())) in src_bounds:
            return
        if _cls(n) == "Window":
            wins.append(n)
        for c in _children(n):
            _findw(c)

    _findw(plan)
    if wins:
        raise UnsupportedViewError(
            "window functions are maintainable only as the top-level "
            "window-view shape (Project/Filter above ONE Window over one "
            "source) — a window inside a join or select view would need "
            "whole-partition re-derivation the change-key algebra does "
            "not do"
        )

    # find join nodes anywhere in the tree
    joins = []

    def find(n):
        if _cls(n) == "Join":
            joins.append(n)
        for c in _children(n):
            find(c)

    find(plan)
    out_ids = _out_ids(df)
    if joins:
        return _classify_join(df, joins, src_ids, refs, out_ids, quals)

    # select view: single source project/filter
    if len(snapshots) != 1:
        raise UnsupportedViewError(
            "a join-free view must read exactly one source"
        )
    (src_name,) = snapshots
    key = _find_view_key(out_ids, refs, src_ids, want_source=src_name)
    return {"kind": "select", "source": src_name, "key": key}


def _find_view_key(
    out_ids: dict[int, str],
    refs: dict[int, list[int]],
    src_ids: dict[str, dict[int, str]],
    want_source: str | None = None,
) -> dict:
    """The view's row identity: the output column whose lineage resolves
    to some source's ``_hoodie_record_key``.  Exactly one must exist."""
    hits = []
    for eid, name in out_ids.items():
        hit = _resolve_to_source(eid, refs, src_ids)
        if hit and hit[1] == RECORD_KEY_FIELD:
            hits.append({"name": name, "source": hit[0]})
    if want_source is not None:
        hits = [h for h in hits if h["source"] == want_source]
    if len(hits) != 1:
        raise UnsupportedViewError(
            "change-key maintenance needs exactly one view column aliasing "
            f"a source's {RECORD_KEY_FIELD} (found {len(hits)}: {hits}) — "
            "it is the view's row identity"
        )
    return hits[0]


def _descend_chain(node, snapshots: dict[str, DataFrame]) -> tuple[list, tuple]:
    """Descend a linear Project/Filter chain from ``node``; returns
    (top-down chain nodes, terminal) where terminal is ``("source",
    name, terminal_node)`` when the chain bottoms out on a source
    snapshot's own plan root, or ``("node", n)`` at the first
    non-Project/Filter node.  The terminal node matters because the
    analyzer DEDUPLICATES attribute ids when a plan reads the same
    source twice (self-joins, two union branches over one table): the
    terminal's output attrs may carry fresh exprIds absent from the
    snapshot's own output — ``_source_local_ids`` maps them back
    positionally."""
    snap_plans = {n: s._jdf.queryExecution().analyzed() for n, s in snapshots.items()}
    chain = []
    while True:
        for name, sp in snap_plans.items():
            if node.sameResult(sp):
                return chain, ("source", name, node)
        if _cls(node) == "SubqueryAlias":  # qualifier wrapper: transparent
            node = _children(node)[0]
            continue
        if _cls(node) not in ("Project", "Filter"):
            return chain, ("node", node)
        chain.append(node)
        node = _children(node)[0]


def _source_local_ids(term, snapshots: dict[str, DataFrame]) -> dict[int, str]:
    """exprId -> source column name for a ``("source", name, node)``
    terminal, keyed on the TERMINAL node's (possibly deduplicated)
    output attrs — positional against the snapshot's schema, which
    ``sameResult`` guarantees matches."""
    _kind, name, node = term
    cols = snapshots[name].columns
    return {
        a.exprId().id(): cols[i] for i, a in enumerate(_seq(node.output()))
    }


def _collect_qualifiers(plan) -> set[str]:
    """Every SubqueryAlias name in the plan: the complete set of
    qualifiers attribute references can print with (temp views
    registered for a SQL-declared view, auto-generated subquery
    names).  Python-API plans have none."""
    quals = set()

    def walk(n):
        if _cls(n) == "SubqueryAlias":
            try:
                quals.add(n.alias())
            except Exception:  # noqa: BLE001 — best-effort, name-only
                pass
        for c in _children(n):
            walk(c)

    walk(plan)
    return quals


def _strip_quals(sql: str, quals: set[str]) -> str:
    """Drop ``<qualifier>.`` prefixes from a printed expression so the
    maintenance replays resolve by bare column name against replayed
    DataFrames (which carry no SubqueryAlias).  Only the plan's OWN
    qualifier names are stripped, and never inside single-quoted string
    literals, so struct-field access and literals survive."""
    if not quals:
        return sql
    import re as _re

    pat = _re.compile(
        r"`?(?:" + "|".join(_re.escape(q) for q in sorted(quals)) + r")`?\."
    )
    parts = _re.split(r"('(?:[^']|'')*')", sql)
    return "".join(p if j % 2 else pat.sub("", p) for j, p in enumerate(parts))


def _chain_to_spec(nodes: list, quals: set[str] = frozenset()) -> list:
    """(kind, payload) replay specs for a Project/Filter node chain —
    plain SQL strings (qualifiers stripped), so maintenance needs no
    JVM handles."""
    spec = []
    for n in nodes:
        if _cls(n) == "Filter":
            spec.append(("filter", _strip_quals(n.condition().sql(), quals)))
        else:
            items = []
            for p in _seq(n.projectList()):
                if _cls(p) == "Alias":
                    items.append(
                        (p.name(), _strip_quals(p.child().sql(), quals))
                    )
                else:
                    items.append((p.name(), _strip_quals(p.sql(), quals)))
            spec.append(("project", items))
    return spec


def _replay_spec(chain_spec: list, df: DataFrame, extra: tuple = ()) -> DataFrame:
    """Re-run a (kind, payload) chain bottom-up over rows carrying the
    chain's input columns; ``extra`` columns ride along through
    projects (e.g. a CDC ``op`` column)."""
    for kind, payload in reversed(chain_spec):
        if kind == "filter":
            df = df.filter(F.expr(payload))
        else:
            df = df.select(
                *[F.expr(sql).alias(name) for name, sql in payload],
                *[F.col(c) for c in extra if c in df.columns],
            )
    return df


def _classify_aggregate(plan, src_ids, refs, snapshots, quals=frozenset()) -> dict:
    group, aggs = [], []
    out_aliases = [
        a for a in _seq(plan.aggregateExpressions()) if _cls(a) == "Alias"
    ]
    for e in _seq(plan.groupingExpressions()):
        if _cls(e) in ("AttributeReference", "Alias"):
            name = e.name()
            sql = _strip_quals(
                e.child().sql() if _cls(e) == "Alias" else e.sql(), quals
            )
        else:
            # groupBy(expr.alias(name)) strips the alias from the grouping
            # list (it survives only in the output) — recover the stored
            # column name from the output alias carrying the SAME expression
            hits = [a for a in out_aliases if a.child().sql() == e.sql()]
            if not hits:
                raise UnsupportedViewError(
                    f"grouping expression {e.sql()} must be a column, or "
                    "aliased into the view output (it names the stored key)"
                )
            name, sql = hits[0].name(), _strip_quals(e.sql(), quals)
        group.append((name, sql))
    if not group:
        # GLOBAL aggregates (grand totals): a hidden constant group key
        # gives the merge/dead/recount machinery a join key and the
        # stored table a record key; serve() strips it from the output
        group = [("__mv_all", "1")]
    group_names = {n for n, _ in group}
    for e in _seq(plan.aggregateExpressions()):
        if _cls(e) == "AttributeReference" and e.name() in group_names:
            continue  # the grouping columns re-listed in the output
        if _cls(e) != "Alias":
            raise UnsupportedViewError(
                f"aggregate output {e.sql()} must be aliased (the stored "
                "column name)"
            )
        ae = e.child()
        if _cls(ae) != "AggregateExpression":
            if e.name() in group_names:
                continue  # a derived grouping column re-listed in the output
            raise UnsupportedViewError(
                f"non-aggregate output {e.sql()} in an aggregate view"
            )
        fn = ae.aggregateFunction()
        fname = fn.prettyName()
        if ae.isDistinct():
            if fname != "count" or fn.children().size() != 1:
                raise UnsupportedViewError(
                    f"{e.sql()}: only COUNT(DISTINCT x) carries per-value "
                    "auxiliary state; other DISTINCT aggregates are not "
                    "maintainable"
                )
            aggs.append((
                e.name(),
                "count_distinct",
                _strip_quals(_seq(fn.children())[0].sql(), quals),
            ))
            continue
        if fname not in (
            "count", "sum", "avg", "min", "max", "approx_count_distinct"
        ) and (fname not in _MOMENT_FNS):
            raise UnsupportedViewError(
                f"{e.sql()}: supported aggregates are count/sum/avg/"
                "stddev/variance (retraction), min/max (dirty-group "
                "re-derivation), and approx_count_distinct (mergeable "
                "HLL state, rebuilt from per-value aux on retraction)"
            )
        arg = _seq(fn.children())
        arg_sql = _strip_quals(arg[0].sql(), quals) if arg else "1"
        aggs.append((e.name(), fname, arg_sql))
    if not aggs:
        raise UnsupportedViewError("aggregate view with no count/sum outputs")
    chain, term = _descend_chain(_children(plan)[0], snapshots)
    if term[0] == "source":
        return {
            "kind": "aggregate",
            "source": term[1],
            "group": group,
            "aggs": aggs,
            "chain": _chain_to_spec(chain, quals),
        }
    if _cls(term[1]) == "Join":
        return _classify_agg_tree(
            group, aggs, chain, term[1], snapshots, plan, quals
        )
    if _cls(term[1]) == "Union":
        return _classify_agg_union(group, aggs, chain, term[1], snapshots, quals)
    if _cls(term[1]) == "Aggregate":
        inner = _classify_aggregate(term[1], src_ids, refs, snapshots, quals)
        return _compose_agg_stage(group, aggs, chain, inner, quals)
    if _cls(term[1]) in ("Deduplicate", "Distinct"):
        # aggregate over SELECT DISTINCT (count distinct combinations):
        # the distinct is the degenerate inner aggregate, staged the
        # same way
        inner = _classify_distinct(term[1], snapshots, quals, src_ids, refs)
        return _compose_agg_stage(group, aggs, chain, inner, quals)
    raise UnsupportedViewError(
        f"node {_cls(term[1])} between the aggregate and its source; "
        "only Project/Filter chains (optionally over one equi-join, a "
        "UNION ALL of chains, or another aggregate) can be maintained "
        "below an aggregate"
    )


# inner-aggregate outputs whose serve expression is a plain SQL string —
# the set an auto-staged outer aggregate can consume (every supported
# aggregate: the moment formula and the sketch estimate are spelled as
# the SAME expression trees serve() builds, so the stage CDC's preimage
# rows reproduce previously-asserted values exactly)
_STAGE_SERVE_FNS = (
    "count", "sum", "avg", "min", "max", "count_distinct",
    "approx_count_distinct",
) + tuple(sorted(_MOMENT_FNS))


def _stage_serve_sql(alias: str, fn: str) -> str:
    """The plain-SQL twin of serve()'s expression for one inner-
    aggregate output over the stage table's stored columns."""
    if fn == "sum":
        return f"CASE WHEN `__nn_{alias}` > 0 THEN `{alias}` END"
    if fn == "avg":
        return (
            f"CASE WHEN `__avg_cnt_{alias}` > 0 THEN "
            f"CAST(`__avg_sum_{alias}` AS DOUBLE) / `__avg_cnt_{alias}` END"
        )
    if fn in _MOMENT_FNS:
        n = f"`__mc_{alias}`"
        s1 = f"CAST(`__m1_{alias}` AS DOUBLE)"
        s2 = f"CAST(`__m2_{alias}` AS DOUBLE)"
        css = f"greatest({s2} - {s1} * {s1} / {n}, 0.0D)"
        if fn in _MOMENT_POP:
            v = f"CASE WHEN {n} > 0 THEN {css} / {n} END"
        else:
            v = f"CASE WHEN {n} > 1 THEN {css} / ({n} - 1) END"
        return f"sqrt({v})" if fn in _MOMENT_SQRT else v
    if fn == "approx_count_distinct":
        return f"hll_sketch_estimate(`{alias}`)"
    return f"`{alias}`"  # count / count_distinct / min / max


def _compose_agg_stage(group, aggs, mid_nodes, inner, quals) -> dict:
    """Aggregate OVER an aggregate (per-order totals → per-customer
    rollups of order totals), AUTO-STAGED: the inner aggregate becomes
    a hidden child view on a real lake table (the manual view-over-view
    recipe, synthesized), and the outer classifies as a plain aggregate
    whose source is the child's backing table — its CDC feed retracts
    old group rows and asserts new ones, which is exactly the signed
    feed the outer merge needs.  The outer's chain starts with the
    child's SERVE projection (NULL-sum / avg-ratio semantics spelled as
    SQL over the stored hidden counters), so the outer sees the same
    rows the user's inner aggregate would produce."""
    if inner["kind"] not in _AGG_KINDS + ("agg_stage",):
        raise UnsupportedViewError(
            f"aggregate over a {inner['kind']} view is not auto-stageable"
        )
    items = [(n, f"`{n}`") for n, _sql in inner["group"]]
    for alias, fn, _arg in inner["aggs"]:
        if fn not in _STAGE_SERVE_FNS:
            raise UnsupportedViewError(
                f"inner aggregate output {alias} ({fn}) has no plain-SQL "
                "serve projection — stage manually"
            )
        items.append((alias, _stage_serve_sql(alias, fn)))
    return {
        "kind": "agg_stage",
        "group": group,
        "aggs": aggs,
        # bottom-up replay: the child's serve projection runs FIRST
        # (list tail), then the user's mid chain
        "chain": _chain_to_spec(mid_nodes, quals) + [("project", items)],
        "inner": inner,
    }


def _classify_agg_union(
    group, aggs, mid_nodes, union_node, snapshots, quals=frozenset()
) -> dict:
    """Aggregate over UNION ALL, maintained DIRECTLY by the signed
    retraction merge — no staging, no intermediate table, no tag
    contract: union-all is a multiset sum, so
    Δ(B1 ∪all … ∪all Bn) = ΔB1 ∪all … ∪all ΔBn, and each branch's
    CDC feed (replayed through that branch's own Project/Filter chain)
    enters the shared merge independently.  The SAME source may appear
    in several branches (self-union shapes): each branch contributes
    its own delta — exactly the multiset semantics.  Branch outputs
    align POSITIONALLY (SQL UNION rules); feeds rename every branch to
    the union's output names, and the chain between the union and the
    aggregate replays on top via spec["chain"].  This supersedes the
    manual union-view + aggregate-view staging for aggregate shapes:
    no intermediate table, no per-branch literal tags, and work stays
    change-sized per branch (untouched branches contribute nothing)."""
    branches = []
    out_names = [a.name() for a in _seq(union_node.output())]
    for child in _children(union_node):
        nodes, term = _descend_chain(child, snapshots)
        if term[0] != "source":
            raise UnsupportedViewError(
                f"UNION branch below an aggregate bottoms out at "
                f"{_cls(term[1])}; each branch must be a Project/Filter "
                "chain over one source"
            )
        branches.append({
            "source": term[1],
            "chain": _chain_to_spec(nodes, quals),
            "out_names": [a.name() for a in _seq(child.output())],
        })
    return {
        "kind": "agg_union",
        "group": group,
        "aggs": aggs,
        # feeds reach _agg_delta already renamed to the union's output
        # names; the mid chain (union -> aggregate) replays over them
        "chain": _chain_to_spec(mid_nodes, quals),
        "branches": branches,
        "out_names": out_names,
    }


def _resolve_literal(eid: int, nodes: list) -> str | None:
    """Follow an output attr down a top-down Project/Filter chain; if it
    resolves to an Alias of a Literal, return that literal's SQL."""
    cur = eid
    for n in nodes:
        if _cls(n) != "Project":
            continue
        for p in _seq(n.projectList()):
            if _cls(p) == "Alias" and p.exprId().id() == cur:
                ch = p.child()
                if _cls(ch) == "Literal":
                    return ch.sql()
                if _cls(ch) == "AttributeReference":
                    cur = ch.exprId().id()
                    break
                return None
            if _cls(p) == "AttributeReference" and p.exprId().id() == cur:
                break  # pass-through; keep descending
    return None


def _classify_union(plan, src_ids, refs, snapshots, quals=frozenset(),
                    kids=None) -> dict:
    """UNION ALL views (multi-source append — N ingest feeds fused into
    one logical table): each branch is a Project/Filter chain over a
    source, maintained independently by change-key re-derivation over
    that branch's chain.  Row identity is (tag, record key): every
    branch must project its source's record key into a COMMON output
    column AND a DISTINCT LITERAL tag column (e.g.
    ``lit('web').alias('src')``) — record keys from different sources
    may collide, so the tag disambiguates storage and deletes.

    ``kids=[plan]`` classifies ``plan`` itself as the ONE branch of a
    one-input union (a single-source window): one branch needs no tag,
    so ``tag_col``/``tag_pos`` are None and the record key alone is the
    identity."""
    kids = _children(plan) if kids is None else kids
    out_names = [a.name() for a in _seq(plan.output())]
    branches, key_idx, tag_cands = [], None, None
    for child in kids:
        nodes, term = _descend_chain(child, snapshots)
        if term[0] != "source":
            raise UnsupportedViewError(
                f"UNION branch bottoms out at {_cls(term[1])}; each branch "
                "must be a Project/Filter chain over one source — stage "
                "joins/aggregates below a union as view-over-view"
            )
        # resolve against the branch's TERMINAL attrs (deduplicated ids
        # when several branches read one source), not the global ids
        local = {term[1]: _source_local_ids(term, snapshots)}
        child_out = _seq(child.output())
        k_idx = None
        for i, a in enumerate(child_out):
            hit = _resolve_to_source(a.exprId().id(), refs, local)
            if hit and hit[1] == RECORD_KEY_FIELD:
                k_idx = i
        if k_idx is None:
            raise UnsupportedViewError(
                f"UNION branch over '{term[1]}' does not project the "
                f"source's {RECORD_KEY_FIELD} — it is the branch's row "
                "identity"
            )
        if key_idx is None:
            key_idx = k_idx
        elif key_idx != k_idx:
            raise UnsupportedViewError(
                "UNION branches project their record keys at different "
                "output positions — align the branch projections"
            )
        # literal output positions of this branch (tag candidates):
        # follow each output attr down the chain — union name-alignment
        # adapters add pass-through Projects above the literal's Alias
        lits = {}
        for i, a in enumerate(child_out):
            lit_sql = _resolve_literal(a.exprId().id(), nodes)
            if lit_sql is not None:
                lits[i] = lit_sql
        tag_cands = (
            set(lits) if tag_cands is None else tag_cands & set(lits)
        )
        branches.append(
            {"source": term[1], "chain": _chain_to_spec(nodes, quals),
             "lits": lits}
        )
    tag_idx = None
    if len(branches) > 1:  # one branch needs no discriminator
        for i in sorted(tag_cands or ()):
            vals = [b["lits"][i] for b in branches]
            if len(set(vals)) == len(vals):
                tag_idx = i
                break
        if tag_idx is None:
            raise UnsupportedViewError(
                "UNION view needs a discriminator: every branch must "
                "project a LITERAL tag column with pairwise-distinct "
                "values (e.g. lit('web').alias('src')) — record keys from "
                "different sources may collide, so (tag, key) is the row "
                "identity"
            )
    for b in branches:
        lits = b.pop("lits")
        if tag_idx is not None:
            b["tag_sql"] = lits[tag_idx]
    return {
        "kind": "union",
        "branches": branches,
        "key": {"name": out_names[key_idx]},
        "key_pos": key_idx,
        "tag_col": None if tag_idx is None else out_names[tag_idx],
        "tag_pos": tag_idx,
        "out_names": out_names,
    }


def _classify_distinct(node, snapshots, quals=frozenset(), src_ids=None,
                       refs=None) -> dict:
    """SELECT DISTINCT / df.distinct(): the degenerate aggregate —
    group by every output column, no aggregate outputs, the hidden
    signed row count alone decides membership (a combination leaves
    the view when its last source row retracts).  dropDuplicates on a
    key SUBSET refuses: it keeps an arbitrary row per key, which is
    not a deterministic view (use a window view with an explicit
    order instead)."""
    out_attrs = _seq(node.output())
    if _cls(node) == "Deduplicate":
        keys = {a.exprId().id() for a in _seq(node.keys())}
        if keys != {a.exprId().id() for a in out_attrs}:
            raise UnsupportedViewError(
                "dropDuplicates on a key SUBSET keeps an arbitrary row per "
                "key — not a deterministic view; use DISTINCT over exactly "
                "the columns you want, or a window view with an explicit "
                "order and rn = 1"
            )
    chain, term = _descend_chain(_children(node)[0], snapshots)
    group = [(a.name(), a.name()) for a in out_attrs]
    if term[0] == "source":
        return {
            "kind": "aggregate",
            "source": term[1],
            "group": group,
            "aggs": [],
            "chain": _chain_to_spec(chain, quals),
        }
    if _cls(term[1]) == "Union":
        # DISTINCT over UNION ALL — the multi-feed ingest-dedup shape:
        # the degenerate aggregate rides the agg_union algebra (per-
        # branch signed CDC deltas; the hidden count decides membership)
        return _classify_agg_union(group, [], chain, term[1], snapshots, quals)
    if _cls(term[1]) == "Aggregate" and src_ids is not None:
        # DISTINCT over a GROUP BY (distinct values of a rollup column):
        # the aggregate stages as the hidden child, the distinct is the
        # degenerate outer — the mirror of aggregate-over-DISTINCT
        inner = _classify_aggregate(term[1], src_ids, refs, snapshots, quals)
        return _compose_agg_stage(group, [], chain, inner, quals)
    if _cls(term[1]) == "Join":
        # DISTINCT over equi-joins: the degenerate aggregate-over-tree
        # (a two-source join is the one-join tree)
        return _classify_agg_tree(
            group, [], chain, term[1], snapshots, node, quals
        )
    raise UnsupportedViewError(
        f"node {_cls(term[1])} between DISTINCT and its source; a "
        "DISTINCT view must be a Project/Filter chain over one source, "
        "one equi-join, or a UNION ALL of chains"
    )


def _join_end(expr, left_ids, right_ids, synth, quals):
    """Resolve one end of a join equality to ``(side, column_name,
    ref_ids)``: a plain column (casts unwrapped) passes through; a
    ONE-SIDED expression (``date_trunc(ts) = d.day``, ``a % 2 = rk``)
    synthesizes a hidden projected column on its side — the classifier
    prepends ``synth[side]`` as a projection at that side's replay top,
    so every downstream join/probe/jk-frame sees a plain column.
    Returns ``None`` when the end straddles both sides."""
    e = expr
    while _cls(e) == "Cast":
        e = e.child()
    if _cls(e) == "AttributeReference":
        i = e.exprId().id()
        if i in left_ids:
            return "left", left_ids[i], {i}
        if i in right_ids:
            return "right", right_ids[i], {i}
        return None
    refs = {a.exprId().id() for a in _seq(expr.references().toSeq())}
    if refs and refs <= set(left_ids):
        side = "left"
    elif refs and refs <= set(right_ids):
        side = "right"
    else:
        return None
    name = f"__mv_jke{len(synth['left']) + len(synth['right'])}"
    synth[side].append((name, _strip_quals(expr.sql(), quals)))
    return side, name, refs


def _build_join_tree(node, snapshots, quals, needed_ids, seen):
    """Recursively classify a join subtree (shared by aggregate-over-
    tree and window-over-tree classification): Project/Filter chains
    over sources at the leaves, INNER / LEFT OUTER equi-joins above
    (RIGHT normalizes by swap), collision drops driven by
    ``needed_ids``, one-sided expression join keys synthesized as
    replay-time hidden columns."""
    nodes, term = _descend_chain(node, snapshots)
    if term[0] == "source":
        # SELF-JOIN leaves: a source appearing at several leaves gets an
        # occurrence-unique pseudo name — the delta identity is
        # occurrence-based, so every leaf carries its own delta; the
        # view registers each pseudo name as an alias of the real table
        # (same timeline, same anchors) at spec-setup time
        real = term[1]
        leaf = real
        if leaf in seen:
            occ = 2
            while f"{real}__occ{occ}" in seen:
                occ += 1
            leaf = f"{real}__occ{occ}"
        seen.add(leaf)
        # this occurrence's record-key attr id (positional against the
        # snapshot schema — sameResult guarantees alignment): lets
        # window-over-self-join classification find the output column
        # carrying EACH occurrence's record key (composite identity)
        local = _source_local_ids(term, snapshots)
        rk_id = next(
            (i for i, c in local.items() if c == RECORD_KEY_FIELD), None
        )
        return {
            "src": leaf,
            "real_src": real,
            "chain": _chain_to_spec(nodes, quals),
            "out_names": [a.name() for a in _seq(node.output())],
            "srcs": [leaf],
            "rk_id": rk_id,
        }
    jn = term[1]
    if _cls(jn) != "Join":
        raise UnsupportedViewError(
            f"node {_cls(jn)} inside an aggregate-over-join tree; "
            "each branch must be Project/Filter chains over sources "
            "and equi-joins"
        )
    jt = jn.joinType().sql()
    swap = jt == "RIGHT OUTER"
    if swap:
        jt = "LEFT OUTER"  # normalize: A right-join B == B left-join A
    if jt not in ("INNER", "LEFT OUTER", "FULL OUTER"):
        raise UnsupportedViewError(
            f"{jt} join inside an aggregate-over-join tree: INNER, "
            "LEFT OUTER and FULL OUTER compose"
        )
    cond = jn.condition()
    if cond.isEmpty():
        raise UnsupportedViewError(
            "cross join inside an aggregate-over-join tree: no join "
            "key to map changes to dirty groups"
        )
    eqs = []

    def _walk_cond(c):
        if _cls(c) == "And":
            _walk_cond(c.left())
            _walk_cond(c.right())
        elif _cls(c) == "EqualTo":
            eqs.append(c)
        else:
            raise UnsupportedViewError(
                f"join condition {c.sql()} must be a conjunction of "
                "plain-column equalities"
            )

    def _unwrap_cast(e):
        while _cls(e) == "Cast":
            e = e.child()
        return e

    _walk_cond(cond.get())
    lnode, rnode = (_children(jn) + [None, None])[:2]
    if swap:
        lnode, rnode = rnode, lnode
    left_ids = {a.exprId().id(): a.name() for a in _seq(lnode.output())}
    right_ids = {a.exprId().id(): a.name() for a in _seq(rnode.output())}
    pairs = []
    synth = {"left": [], "right": []}
    for e in eqs:
        ea = _join_end(e.left(), left_ids, right_ids, synth, quals)
        eb = _join_end(e.right(), left_ids, right_ids, synth, quals)
        if ea is None or eb is None or ea[0] == eb[0]:
            raise UnsupportedViewError(
                f"join equality {e.sql()} must take one column (or a "
                "one-sided expression) from each side of the join"
            )
        l_end, r_end = (ea, eb) if ea[0] == "left" else (eb, ea)
        pairs.append((l_end[1], r_end[1]))
    need_l = {left_ids[i] for i in needed_ids if i in left_ids}
    need_r = {right_ids[i] for i in needed_ids if i in right_ids}
    both = need_l & need_r
    if both:
        raise UnsupportedViewError(
            f"aggregate-over-join tree references column name(s) "
            f"{sorted(both)} from BOTH sides of one join — rename in "
            "the per-side projections so the replayed join is "
            "unambiguous"
        )
    collide = set(left_ids.values()) & set(right_ids.values())
    lspec, rspec = (_build_join_tree(lnode, snapshots, quals, needed_ids, seen),
                    _build_join_tree(rnode, snapshots, quals, needed_ids, seen))
    for side_spec, items in (
        (lspec, synth["left"]), (rspec, synth["right"])
    ):
        if items:
            # applied at REPLAY time as select("*", expr) — a static
            # all-columns projection would have to predict which
            # collision drops survive inside the subtree
            side_spec.setdefault("synth", []).extend(items)
    return {
        "jt": {"INNER": "inner", "LEFT OUTER": "left",
               "FULL OUTER": "full"}[jt],
        "pairs": pairs,
        "left": lspec,
        "right": rspec,
        "drop_l": sorted(collide - need_l),
        "drop_r": sorted(collide - need_r),
        "right_srcs": rspec["srcs"],
        "mid": _chain_to_spec(nodes, quals),
        "srcs": lspec["srcs"] + rspec["srcs"],
    }


def _synth(df: DataFrame, node: dict) -> DataFrame:
    """Append a tree node's synthesized join-key columns (one-sided
    expression keys, ``_join_end``) as select("*", expr) — applied at
    replay time, because a static all-columns projection would break on
    CDC feeds, which carry payload + op columns, not the snapshot's
    meta columns."""
    items = node.get("synth", [])
    if not items:
        return df
    return df.select("*", *[F.expr(sql).alias(nm) for nm, sql in items])


def _tree_leaves(node) -> list[dict]:
    """The leaf specs of a classified join tree, left to right."""
    if "src" in node:
        return [node]
    return _tree_leaves(node["left"]) + _tree_leaves(node["right"])


def _classify_agg_tree(
    group, aggs, mid_nodes, join_root, snapshots, agg_node, quals=frozenset()
) -> dict:
    """Aggregate (or DISTINCT) over a tree of one or more equi-joins —
    a two-source join is the one-join tree, the TPC-H Q5 rollup
    (star/snowflake below GROUP BY) a deeper one — maintained by a
    SIGNED feed into the shared retraction merge.  Every tree takes the
    one recursive identity ``_tree_signed_delta``: the bilinear join
    rule at each INNER node, plus a presence-flip correction at LEFT /
    FULL OUTER nodes (FULL decomposes as
    T = (L LEFT R) ⊎ (R ANTI L) × null_L).  RIGHT joins normalize by a
    side swap; self-joins become occurrence-named leaves.

    Work shape: every term joins ONE change-sized side against static
    sides semi-pruned to its join keys.  min/max retractions re-derive
    their dirty groups through the whole tree, with the group-carrying
    leaf's INPUT restricted to those groups when every group key is a
    plain column of one non-null-extended leaf (the other leaves prune
    through the equi-join build)."""
    # names consumed ABOVE any join: the aggregate, the mid chain, and
    # every join condition in the tree — collision drops keep exactly
    # these and refuse genuinely ambiguous ones
    needed_ids = {
        a.exprId().id() for a in _seq(agg_node.references().toSeq())
    }
    for n in mid_nodes:
        needed_ids |= {a.exprId().id() for a in _seq(n.references().toSeq())}

    def _collect_conds(n):
        if _cls(n) == "Join" and not n.condition().isEmpty():
            needed_ids.update(
                a.exprId().id()
                for a in _seq(n.condition().get().references().toSeq())
            )
        for c in _children(n):
            _collect_conds(c)

    _collect_conds(join_root)
    tree = _build_join_tree(join_root, snapshots, quals, needed_ids, set())
    # leaf-input restriction for the rebuild: every group key a plain
    # column of exactly one leaf — the 100 TB lever that keeps the
    # recompute tree member-sized instead of table-sized
    group_src = None
    if not any(k == "project" for k, _ in _chain_to_spec(mid_nodes, quals)):
        cands = set()
        for _n, sql in group:
            hit = [
                lf["src"] for lf in _tree_leaves(tree)
                if sql in lf["out_names"]
            ]
            cands.add(hit[0] if len(hit) == 1 else None)
        if len(cands) == 1:
            group_src = cands.pop()

    # restricting a NULL-EXTENDED leaf is unsound: dropping its
    # non-dirty rows flips unrelated preserved rows into null-extension
    # and pollutes the NULL group's rebuild
    def _null_extended(n):
        if "src" in n:
            return set()
        out = _null_extended(n["left"]) | _null_extended(n["right"])
        if n["jt"] in ("left", "full"):
            out |= set(n["right_srcs"])
        if n["jt"] == "full":
            out |= set(n["srcs"]) - set(n["right_srcs"])
        return out

    if group_src is not None and group_src in _null_extended(tree):
        group_src = None

    return {
        "kind": "agg_tree",
        "group": group,
        "aggs": aggs,
        "chain": [],  # feeds reach _agg_delta already pre-replayed
        "mid": _chain_to_spec(mid_nodes, quals),
        "tree": tree,
        "sources": tree["srcs"],
        "group_src": group_src,
    }


def _jk_frame(df: DataFrame, cols: list) -> DataFrame:
    """Distinct join-key tuples of ``df`` as ``__mv_jk{i}`` columns."""
    return df.select(
        *[F.col(c).alias(f"__mv_jk{i}") for i, c in enumerate(cols)]
    ).distinct()


def _jk_cond(cols: list, nullsafe: bool):
    """AND-composed condition matching ``cols`` against a _jk_frame."""
    from functools import reduce

    terms = [
        F.col(c).eqNullSafe(F.col(f"__mv_jk{i}"))
        if nullsafe
        else F.col(c) == F.col(f"__mv_jk{i}")
        for i, c in enumerate(cols)
    ]
    return reduce(lambda a, b: a & b, terms)


def _final_name(tid: int, out_ids: dict[int, str], refs) -> str | None:
    """The view output column carrying window-input attr ``tid``: the
    same exprId (pass-through) or a pure rename (an alias referencing
    ONLY it — transitive reach would false-match e.g. the rank column,
    whose window expression also references the partition attr)."""
    return next(
        (name for eid, name in out_ids.items() if eid == tid), None
    ) or next(
        (name for eid, name in out_ids.items() if refs.get(eid) == [tid]),
        None,
    )


def _window_parts(win_node, out_ids, refs) -> list:
    """The window's PARTITION BY as (view output name, partition attr)
    pairs — the one partition-spec resolver of both window
    classifiers.  Each partition expression must be a plain column that
    the view projects: stored rows map back to their partitions
    through it."""
    pspec = _seq(win_node.partitionSpec())
    if not pspec:
        raise UnsupportedViewError(
            "window without PARTITION BY: every change would re-derive the "
            "whole table (one global partition) — give the window a "
            "partition or use a plain select view"
        )
    parts = []
    for e in pspec:
        if _cls(e) != "AttributeReference":
            raise UnsupportedViewError(
                f"window partition expression {e.sql()} must be a plain "
                "column (pre-compute derived partitions in a select below)"
            )
        out_name = _final_name(e.exprId().id(), out_ids, refs)
        if out_name is None:
            raise UnsupportedViewError(
                f"window partition column {e.sql()} must be projected into "
                "the view output — it maps stored rows to their partitions"
            )
        parts.append((out_name, e))
    return parts


def _classify_window(win_node, src_ids, refs, out_ids, snapshots,
                     quals=frozenset()) -> dict:
    """Window views (rank / top-k per group / running aggregates) over
    one source or a UNION ALL of sources, maintained by WHOLE-PARTITION
    re-derivation: one changed row reshuffles every rank in its
    partition, so the advance re-runs the user's OWN plan (any window
    function) over exactly the touched partitions and swaps them in.
    Work ∝ rows of touched partitions, never the table.

    A single source is the one-branch union: the window's input chain
    is the branch, with no tag column, and the source's record key is
    the row identity.  Over a UNION ALL (rank across merged ingest
    feeds) the identity is the union contract's (tag, key).  Detection
    is per branch (see _advance_window): changed keys name the
    partitions rows LEAVE and ENTER through the branch chain replayed
    over their before- and after-images — union is a multiset sum, so
    branches never interact.  The partition column maps per branch to
    possibly-different source columns (``part_src_cols``, SQL over the
    source's raw columns); a source feeding several branches is
    restricted to the OR of its branches' restrictions — superset-safe
    because the output post-trims to exactly the touched tuples — and a
    branch whose partition is derived from renamed intermediates
    (None) disables input restriction for its source.  Joins below the
    window classify as ``window_tree``."""
    child = _children(win_node)[0]
    _nodes, term = _descend_chain(child, snapshots)
    if term[0] == "source":
        top, kids = child, [child]
    elif _cls(term[1]) == "Union":
        # The analyzer routinely inserts pass-through Projects between
        # the window and the union (withColumn re-projection); those
        # preserve exprIds and are transparent. Anything computing or
        # filtering between them is not — fold it into the branches.
        for n in _nodes:
            if _cls(n) != "Project" or any(
                _cls(p) != "AttributeReference"
                for p in _seq(n.projectList())
            ):
                raise UnsupportedViewError(
                    "projections/filters between the window and the "
                    "UNION are not maintainable — fold them into each "
                    "union branch so the branch chains carry them"
                )
        top, kids = term[1], _children(term[1])
    else:
        # joins below the window — the multi-source composition
        return _classify_window_tree(
            win_node, src_ids, refs, out_ids, snapshots, quals
        )
    uspec = _classify_union(top, src_ids, refs, snapshots, quals, kids=kids)
    top_out = _seq(top.output())
    pos_of = {a.exprId().id(): i for i, a in enumerate(top_out)}
    parts = _window_parts(win_node, out_ids, refs)
    for _o, e in parts:
        if e.exprId().id() not in pos_of:
            raise UnsupportedViewError(
                f"window partition column {e.sql()} must be a UNION "
                "output column"
            )
    key_final = _final_name(
        top_out[uspec["key_pos"]].exprId().id(), out_ids, refs
    )
    tag_final = None
    if uspec["tag_pos"] is not None:
        tag_final = _final_name(
            top_out[uspec["tag_pos"]].exprId().id(), out_ids, refs
        )
    if key_final is None or (uspec["tag_pos"] is not None
                             and tag_final is None):
        raise UnsupportedViewError(
            "a window view must project its input's record-key column "
            "(and over a UNION, the tag column) into its output — it is "
            "the row identity"
        )

    # per-branch partition-to-source-column mapping for input restriction
    for kid, br in zip(kids, uspec["branches"]):
        nodes, term = _descend_chain(kid, snapshots)
        local = _source_local_ids(term, snapshots)
        kid_out = _seq(kid.output())
        cols = [
            _chain_col_sql(
                kid_out[pos_of[e.exprId().id()]].exprId().id(), nodes, local,
                quals,
            )
            for _o, e in parts
        ]
        br["part_src_cols"] = cols if all(c is not None for c in cols) else None

    return {
        "kind": "window",
        "branches": uspec["branches"],
        "key": {"name": key_final},
        "tag_col": tag_final,
        "in_names": uspec["out_names"],
        "parts": [
            (o, uspec["out_names"][pos_of[e.exprId().id()]]) for o, e in parts
        ],
    }


def _classify_window_tree(
    win_node, src_ids, refs, out_ids, snapshots, quals=frozenset()
) -> dict:
    """Window views over a JOIN TREE (top-k per region after a dim
    join): the composition of two existing algebras — touched
    partitions come from IMAGE-REPLAY detection through the classified
    join tree (each changed source's CDC images re-run the tree at both
    boundaries, naming the partitions they leave and enter), and the
    re-derivation re-runs the user's OWN plan with the partition-
    carrying source's snapshot restricted to the touched partition
    tuples (the other sources prune through the join; the output is
    post-trimmed to exactly the touched partitions, so a LEFT-extended
    partition source — where input restriction is unsound — falls back
    to a full-input pass that is still output-exact).  Row identity is
    the fact's record key, like every join view — except over a
    SELF-JOIN tree (round 7, lifting the F15 refusal), where one fact
    key names several output rows: there the identity is the COMPOSITE
    tuple of every duplicate-leaf occurrence's record key (each
    occurrence must project its own record key into the output) plus
    the non-duplicated sources' view key if one is projected."""
    parts, psrcs = [], set()
    for out_name, e in _window_parts(win_node, out_ids, refs):
        hit = _resolve_to_source(e.exprId().id(), refs, src_ids)
        if hit is None:
            raise UnsupportedViewError(
                f"window partition column {e.sql()} does not resolve to "
                "a source column"
            )
        psrcs.add(hit[0])
        # (output name, window-input name, source column name): detection
        # reads the tree replay (window-input names), the input
        # restriction reads the source snapshot (source names)
        parts.append((out_name, e.name(), hit[1]))
    if len(psrcs) != 1:
        raise UnsupportedViewError(
            f"window partition columns span sources {sorted(psrcs)} — "
            "partition by one source's columns (per-source value "
            "restriction cannot name exact partition tuples)"
        )
    (part_src,) = psrcs
    # needed names for collision drops: everything the view output or
    # the window expressions transitively reference, plus join conds
    def _closure(ids):
        seen, stack = set(), list(ids)
        while stack:
            i = stack.pop()
            if i in seen:
                continue
            seen.add(i)
            stack.extend(refs.get(i, []))
        return seen

    needed_ids = _closure(out_ids.keys()) | _closure(
        a.exprId().id() for a in _seq(win_node.references().toSeq())
    )

    def _collect_conds(n):
        if _cls(n) == "Join" and not n.condition().isEmpty():
            needed_ids.update(
                a.exprId().id()
                for a in _seq(n.condition().get().references().toSeq())
            )
        for c in _children(n):
            _collect_conds(c)

    child = _children(win_node)[0]
    nodes, term = _descend_chain(child, snapshots)
    if term[0] != "node" or _cls(term[1]) != "Join":
        raise UnsupportedViewError(
            "a multi-source window view must sit over a join tree"
        )
    for n in nodes:
        needed_ids |= {a.exprId().id() for a in _seq(n.references().toSeq())}
    _collect_conds(term[1])
    tree = _build_join_tree(term[1], snapshots, quals, needed_ids, set())

    def _has_full(n):
        if "src" in n:
            return False
        return (n["jt"] == "full" or _has_full(n["left"])
                or _has_full(n["right"]))

    if _has_full(tree):
        raise UnsupportedViewError(
            "window view over a FULL OUTER join tree: touched-partition "
            "detection's preserved-side pass assumes one null-extending "
            "side — aggregate the tree, or split the view"
        )

    dups = [
        lf["real_src"] for lf in _tree_leaves(tree)
        if lf.get("real_src") != lf["src"]
    ]
    key_cols = None
    if dups:
        # a self-join emits several rows per fact record key, so the
        # single-key identity would collapse them — switch to the
        # COMPOSITE identity: one output column per duplicate-leaf
        # occurrence, each carrying that occurrence's own record key
        # (resolved through the leaf's positional rk attr id), plus the
        # ordinary view key of the non-duplicated sources if projected
        dup_set = set(dups)
        occ_cols = []
        for leaf in _tree_leaves(tree):
            real = leaf.get("real_src", leaf["src"])
            if real not in dup_set:
                continue
            rk = leaf.get("rk_id")
            names = [
                name
                for eid, name in out_ids.items()
                if rk is not None and rk in _closure([eid])
            ]
            if len(names) != 1:
                raise UnsupportedViewError(
                    f"window view over a self-join tree: occurrence "
                    f"'{leaf['src']}' of '{real}' must project its "
                    f"{RECORD_KEY_FIELD} into the view output exactly "
                    f"once (found {len(names)}) — the per-occurrence "
                    "record keys form the composite row identity"
                )
            occ_cols.append(names[0])
        nondup_hits = []
        for eid, name in out_ids.items():
            hit = _resolve_to_source(eid, refs, src_ids)
            if (
                hit
                and hit[1] == RECORD_KEY_FIELD
                and hit[0] not in dup_set
            ):
                nondup_hits.append({"name": name, "source": hit[0]})
        if len(nondup_hits) > 1:
            raise UnsupportedViewError(
                "window view over a self-join tree: more than one "
                "non-duplicated source projects a record key — exactly "
                f"one may serve as the view key (found {nondup_hits})"
            )
        key_cols = [h["name"] for h in nondup_hits] + occ_cols
        key = (
            nondup_hits[0]
            if nondup_hits
            else {"name": occ_cols[0], "source": sorted(dup_set)[0]}
        )
    else:
        key = _find_view_key(out_ids, refs, src_ids)

    def _null_extended(n):
        if "src" in n:
            return set()
        out = _null_extended(n["left"]) | _null_extended(n["right"])
        if n["jt"] == "left":
            out |= set(n["right_srcs"])
        return out

    return {
        "kind": "window_tree",
        "key": key,
        "key_cols": key_cols,  # composite identity (self-join trees only)
        "parts": parts,
        "part_src": part_src,
        # touched-partition INPUT restriction is patched into the
        # partition source's snapshot and replayed through the USER's
        # plan — which reads a self-joined table once per occurrence
        # from the same snapshot, so restricting it would also filter
        # the PARTNER occurrences and silently drop cross-partition
        # pairs (fuzz seed 3). A duplicated partition source therefore
        # cannot take snapshot-level restriction, same as a
        # null-extended one — the advance instead applies the touched
        # tuples as a literal predicate on the plan OUTPUT, which
        # Catalyst pushes below the Window to exactly the producing
        # occurrence (see _rerank_touched).
        "restrict_ok": part_src not in _null_extended(tree)
        and not (dups and part_src in set(dups)),
        "tree": tree,
        "sources": tree["srcs"],
        "mid": _chain_to_spec(nodes, quals),
    }


def _chain_col_sql(eid: int, nodes: list, src_cols: dict[int, str],
                   quals=frozenset()) -> str | None:
    """Follow an output exprId top-down through a Project/Filter chain;
    returns SQL over the SOURCE's raw columns — the column name for
    pass-through/rename hops, or the printed expression for a DERIVED
    hop whose references all land directly in the source's output (so
    the SQL replays verbatim over the source snapshot).  None when the
    value is derived from renamed/derived intermediates (restriction
    then falls back to a full-input pass for that source)."""
    for n in nodes:
        if _cls(n) != "Project":
            continue  # Filter: attributes pass through unchanged
        nxt = None
        for p in _seq(n.projectList()):
            if p.exprId().id() != eid:
                continue
            if _cls(p) == "Alias":
                ch = p.child()
                if _cls(ch) == "AttributeReference":
                    nxt = ch.exprId().id()
                    break
                ok = all(
                    a.exprId().id() in src_cols
                    for a in _seq(ch.references().toSeq())
                )
                return _strip_quals(ch.sql(), quals) if ok else None
            nxt = eid  # pass-through
            break
        if nxt is None:
            return None  # not produced by this project at all
        eid = nxt
    return src_cols.get(eid)


def _classify_one_join(join_node, fact, anchored, src_ids, refs, out_ids,
                       quals=frozenset()):
    """Classify ONE equi-join node against the set of already-anchored
    sources.  Returns a dim probe spec when exactly one end of the
    join is anchored (the other is the new arm), ``None`` when neither
    end is anchored yet (the caller defers the node until the arm it
    hangs off is attached — bushy snowflake plans join arms together
    before reaching the fact tree), and raises for shapes the
    change-key algebra cannot maintain.

    Join-key ends may be EXPRESSIONS over one source's raw columns
    (``f.l_orderkey % 10 == d.bucket``): the arm side computes over the
    arm's CDC frame, and a tree-side expression (or a plain column not
    projected into the view output) probes SOURCE-SIDE — changed arm
    values map to affected fact record keys through the fact snapshot's
    own expression value — as long as the tree side is the FACT itself
    (a snowflake arm's tree-side values live mid-plan, reachable only
    through a projected output column)."""
    jt = join_node.joinType().sql()
    if jt not in ("INNER", "LEFT OUTER"):
        raise UnsupportedViewError(
            f"{jt} join: INNER and LEFT OUTER equi-joins are change-"
            "key-maintainable (RIGHT/FULL outer put dim-only rows in "
            "the view, which have no fact record key to serve as row "
            "identity)"
        )
    cond = join_node.condition()
    if cond.isEmpty():
        raise UnsupportedViewError("cross join has no change-key mapping")
    cond = cond.get()
    eqs = []

    def _walk_cond(c):
        if _cls(c) == "And":
            _walk_cond(c.left())
            _walk_cond(c.right())
        elif _cls(c) == "EqualTo":
            eqs.append(c)
        else:
            raise UnsupportedViewError(
                f"join condition {c.sql()} must be a conjunction of "
                "column / one-sided-expression equalities"
            )

    def _unwrap_cast(e):
        while _cls(e) == "Cast":
            e = e.child()
        return e

    def _end(e):
        """One side of an equality -> {src, src_col|None, expr_id|None,
        expr_sql|None}."""
        attr = _unwrap_cast(e)
        if _cls(attr) == "AttributeReference":
            hit = _resolve_to_source(attr.exprId().id(), refs, src_ids)
            if hit is None:
                raise UnsupportedViewError(
                    f"join key {attr.sql()} does not resolve to a "
                    "source column"
                )
            return {"src": hit[0], "src_col": hit[1],
                    "expr_id": attr.exprId().id(), "expr_sql": None}
        # expression end: every referenced attr must sit DIRECTLY in one
        # source's output (raw source columns), so the printed SQL
        # replays over that source's snapshot / CDC frame verbatim
        ref_ids = [a.exprId().id() for a in _seq(e.references().toSeq())]
        owners = set()
        for rid in ref_ids:
            owner = next(
                (n for n, ids in src_ids.items() if rid in ids), None
            )
            if owner is None:
                raise UnsupportedViewError(
                    f"expression join key {e.sql()} references renamed/"
                    "derived columns — write it over the source's raw "
                    "columns, or pre-project it and join on the column"
                )
            owners.add(owner)
        if len(owners) != 1:
            raise UnsupportedViewError(
                f"expression join key {e.sql()} mixes columns of "
                f"{sorted(owners)} — each end must use ONE source"
            )
        return {"src": owners.pop(), "src_col": None, "expr_id": None,
                "expr_sql": _strip_quals(e.sql(), quals)}

    _walk_cond(cond)
    pairs = []  # per equality: {source: end-dict}
    for e in eqs:
        ends = {}
        for side in (e.left(), e.right()):
            d = _end(side)
            ends[d["src"]] = d
        if len(ends) != 2:
            raise UnsupportedViewError(
                f"join equality {e.sql()} resolves to one source; "
                "each must take one column from each side of the join"
            )
        pairs.append(ends)
    srcs = set(pairs[0])
    if any(set(p) != srcs for p in pairs):
        raise UnsupportedViewError(
            "every equality of one join must relate the SAME two "
            "sources"
        )
    in_tree = srcs & anchored
    if len(in_tree) == 2:
        raise UnsupportedViewError(
            f"sources {sorted(srcs)} join twice (a cycle) — alias one "
            "of them as a second source or stage"
        )
    if not in_tree:
        return None  # defer: the arm this node hangs off isn't attached yet
    (probe_src,) = in_tree
    (arm,) = srcs - in_tree
    if jt == "LEFT OUTER":
        # the PRESERVED side must carry the anchored (probe) source:
        # a preserved arm row with no tree match would have no fact
        # record key to serve as row identity
        left_ids = {
            a.exprId().id() for a in _seq(join_node.left().output())
        }
        probe_end = pairs[0][probe_src]
        on_left = (
            probe_end["expr_id"] in left_ids
            if probe_end["expr_id"] is not None
            # expression end: resolve by which side's output carries the
            # arm's attrs instead (the arm end is always a whole side)
            else pairs[0][arm].get("expr_id") not in left_ids
        )
        if not on_left:
            raise UnsupportedViewError(
                "LEFT OUTER view: the left (preserved) side must carry "
                f"the fact tree (here: {probe_src}); a preserved "
                f"'{arm}' row has no row identity"
            )
    # tree-side mapping: an end projected into the view OUTPUT probes
    # through the stored column (works for fact AND snowflake arms); an
    # expression / unprojected end probes through the FACT SNAPSHOT's
    # own value — fact-only, all-or-nothing per dim (the two probe
    # frames cannot share a conjunction)
    probe_out, fact_exprs, arm_sqls = [], [], []
    for p in pairs:
        tree_end, arm_end = p[probe_src], p[arm]
        arm_sqls.append(
            arm_end["expr_sql"]
            if arm_end["expr_sql"] is not None
            else arm_end["src_col"]
        )
        out = (
            out_ids.get(tree_end["expr_id"])
            if tree_end["expr_id"] is not None
            else None
        )
        if out is not None:
            probe_out.append(out)
        else:
            fact_exprs.append(
                tree_end["expr_sql"]
                if tree_end["expr_sql"] is not None
                else tree_end["src_col"]
            )
    if probe_out and fact_exprs:
        raise UnsupportedViewError(
            f"join onto '{arm}' mixes output-projected and expression/"
            "unprojected tree-side keys — project every tree-side key "
            "into the view output, or none"
        )
    if fact_exprs and probe_src != fact:
        # snowflake arm with MID-PLAN tree-side values (an expression
        # over the parent dim, or a parent-dim column not projected
        # into the output — SURVEY §12 lead 3): probe TRANSITIVELY.
        # Changed arm values map to affected PARENT-dim rows through
        # the parent's own snapshot expression values (sound by the
        # same argument as the fact-expression route: parent rows
        # changed in-window already ride the parent's OWN probe, so
        # unchanged snapshot values equal stored-join-time values),
        # then fold into the parent's probe route — recursively, until
        # a projected column or the fact is reached.
        return {
            "name": arm,
            "probe_out_cols": [],
            "probe_fact_exprs": [],
            "probe_via": {"parent": probe_src, "tree_exprs": fact_exprs},
            "dim_join_cols": arm_sqls,
        }
    return {
        "name": arm,
        "probe_out_cols": probe_out,
        "probe_fact_exprs": fact_exprs,
        "probe_via": None,
        "dim_join_cols": arm_sqls,
    }


def _classify_join(df, join_nodes, src_ids, refs, out_ids,
                   quals=frozenset()) -> dict:
    """One or more equi-joins onto ONE fact — STAR and SNOWFLAKE
    shapes: every join pairs a new source (the "arm") with one source
    already anchored to the fact tree (the fact itself, or a
    previously-attached dim), and the anchored side's join columns
    must ride in the view output.  The probe machinery maps a changed
    arm key to affected stored rows through the OUTPUT column — it is
    indifferent to which source the column came from, so a snowflake
    arm (dim joined to another dim) costs the same one change-probe as
    a star dim, no staging.  Nodes are resolved by fixpoint: a bushy
    plan that joins two arms together BEFORE attaching them to the
    fact tree defers that node until one side anchors."""
    key = _find_view_key(out_ids, refs, src_ids)
    fact = key["source"]
    dims = []
    anchored = {fact}
    pending = list(join_nodes)
    while pending:
        progressed, deferred = False, []
        for join_node in pending:
            res = _classify_one_join(
                join_node, fact, anchored, src_ids, refs, out_ids, quals
            )
            if res is None:
                deferred.append(join_node)
                continue
            dims.append(res)
            anchored.add(res["name"])
            progressed = True
        if not progressed:
            raise UnsupportedViewError(
                "join view has a subtree that never attaches to the "
                "fact's record-key lineage — every source must join "
                "(directly or through other dims) onto the fact tree"
            )
        pending = deferred
    return {"kind": "join", "fact": fact, "key": key, "dims": dims}


# ------------------------------------------------------------------------
# the unified entry point
# ------------------------------------------------------------------------
class AutoMaterializedView:
    """A maintained view over lake-table sources, stored as a real COW
    table (so it gets time travel, incremental tailing, and delete views
    for free).  ``refresh`` classifies the plan and runs the minimal
    advance; a fully-advanced view refreshes with ZERO writes."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sources: dict[str, CowTable],
        plan_fn,
        num_file_groups: int = 4,
    ):
        self.spark = spark
        self.path = path
        self.sources = sources
        self.plan_fn = plan_fn
        self.num_file_groups = num_file_groups
        self._anchor_path = os.path.join(path, "_view_anchor")
        self._spec = None
        self._stage = None  # hidden child view of an auto-staged plan

    # -- classification (lazy, cached per instance) ---------------------
    def spec(self) -> dict:
        if self._spec is None:
            snaps = {n: t.snapshot() for n, t in self.sources.items()}
            spec = classify_view(self.plan_fn(snaps), snaps)
            if spec["kind"] == "agg_stage":
                spec = self._setup_stage(spec)
            self._extend_leaf_aliases(spec)
            self._spec = spec
        return self._spec

    def _extend_leaf_aliases(self, spec: dict) -> None:
        """SELF-JOIN trees: duplicate leaves carry occurrence-unique
        pseudo names (``<src>__occN``, _build_join_tree); register each
        as an alias of its REAL table so every name-keyed surface —
        snapshots, anchors, CDC feeds, input restriction — works
        unchanged (same table, same timeline, identical anchor
        values)."""
        self._leaf_alias: dict[str, str] = {}
        for lf in _tree_leaves(spec["tree"]) if spec.get("tree") else []:
            real = lf.get("real_src", lf["src"])
            if lf["src"] != real:
                self._leaf_alias[lf["src"]] = real
                self.sources.setdefault(lf["src"], self.sources[real])

    def _fill_leaf_aliases(self, d: dict | None) -> dict | None:
        """Mirror real-source entries of a caller-supplied per-source
        dict (seed_as_of / to) onto the pseudo leaf names."""
        alias = getattr(self, "_leaf_alias", None)
        if d is None or not alias:
            return d
        d = dict(d)
        for pseudo, real in alias.items():
            if pseudo not in d and real in d:
                d[pseudo] = d[real]
        return d

    def _setup_stage(self, spec: dict) -> dict:
        """Materialize an auto-staged plan: the inner aggregate becomes
        a hidden child view (a SIBLING dir — the seed wipes self.path),
        and the outer rewrites to a plain aggregate over the child's
        backing table.  refresh() drives the child first; its CDC feed
        (old group rows retracted, new ones asserted) is the outer's
        signed delta."""
        inner = spec["inner"]
        deepest = inner
        while deepest["kind"] == "agg_stage":
            deepest = deepest["inner"]
        if deepest["kind"] == "aggregate":
            src_names = [deepest["source"]]
        elif deepest["kind"] == "agg_union":
            src_names = sorted({b["source"] for b in deepest["branches"]})
        else:  # agg_tree: real tables (self-join leaves share one)
            src_names = sorted({
                lf.get("real_src", lf["src"])
                for lf in _tree_leaves(deepest["tree"])
            })
        stage = AutoMaterializedView(
            self.spark,
            self.path.rstrip("/") + ".stage0",
            {n: self.sources[n] for n in src_names},
            plan_fn=None,  # every aggregate kind replays from its spec
            num_file_groups=self.num_file_groups,
        )
        # stacked rollups recurse: the child stages its own inner, so a
        # 3-level GROUP BY chains .stage0.stage0 tables, each advancing
        # off the one below's CDC
        stage._spec = (
            stage._setup_stage(inner)
            if inner["kind"] == "agg_stage"
            else inner
        )
        stage._extend_leaf_aliases(stage._spec)
        self._stage = stage
        self.sources = {"__stage0": stage.table}
        return {
            "kind": "aggregate",
            "source": "__stage0",
            "group": spec["group"],
            "aggs": spec["aggs"],
            "chain": spec["chain"],
            "post": spec.get("post", []),
            "staged": True,
        }

    def _key_fields(self) -> list[str]:
        if self._spec is None:
            s = self._read_spec_summary()
            if s is not None:
                return s["key_fields"]
        return self._spec_key_fields(self.spec())

    @staticmethod
    def _spec_key_fields(spec: dict) -> list[str]:
        if spec["kind"] in _AGG_KINDS:
            return [n for n, _ in spec["group"]]
        if spec.get("tag_col"):  # union identity (tag, key)
            return [spec["tag_col"], spec["key"]["name"]]
        if spec.get("key_cols"):  # window over a self-join tree
            return spec["key_cols"]
        return [spec["key"]["name"]]

    @property
    def table(self) -> CowTable:
        return CowTable(
            self.spark,
            self.path,
            key_fields=self._key_fields(),
            partition_field=None,
            num_file_groups=self.num_file_groups,
        )

    # -- anchor sidecar -------------------------------------------------
    def _read_anchor(self) -> dict | None:
        try:
            with open(self._anchor_path) as f:
                return json.load(f)
        except OSError:
            return None

    def _write_anchor(self, anchor: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(self._anchor_path, "w") as f:
            json.dump(anchor, f)

    # -- serve-spec sidecar ----------------------------------------------
    # Classification (spec()) analyzes the user plan through Catalyst —
    # measured ~0.5-0.8s of driver time per view. A fully-advanced view
    # needs NONE of it: serving and key resolution only use a JSON-sized
    # summary (kind, group/agg aliases, post chain, key fields), so the
    # summary persists next to the anchor and the common
    # "already advanced, just serve" call never touches the classifier.
    # Views with pseudo-leaf aliases (self-join trees) or a hidden stage
    # mark themselves ineligible — their refresh needs live spec state —
    # and simply keep the classify-first path.  The version bumps when
    # a stored kind name stops existing (v2: the two-source aggregate-
    # over-join kind became the one-join agg_tree; v3: window-over-union
    # became the one-or-more-branch window), so an old summary
    # re-classifies instead of serving through the wrong branch.
    _SPEC_SUMMARY_VERSION = 3

    def _spec_summary_path(self) -> str:
        return os.path.join(self.path, "_view_spec")

    def _read_spec_summary(self) -> dict | None:
        try:
            with open(self._spec_summary_path()) as f:
                s = json.load(f)
        except (OSError, ValueError):
            return None
        return s if s.get("v") == self._SPEC_SUMMARY_VERSION else None

    def _write_spec_summary(self, spec: dict) -> None:
        summary = {
            "v": self._SPEC_SUMMARY_VERSION,
            "kind": spec["kind"],
            "group_names": [n for n, _ in spec.get("group") or []],
            "aggs": [[a, fn] for a, fn, _ in spec.get("aggs") or []],
            "post": spec.get("post", []),
            "key_fields": self._spec_key_fields(spec),
            # pseudo-leaf aliases of self-join trees (anchor keys carry
            # them; the fast path mirrors real latest values onto them)
            "leaf_alias": dict(getattr(self, "_leaf_alias", None) or {}),
            # ineligible for the no-classify fast path: hidden stage views
            # must be driven on refresh
            "fast_ok": self._stage is None,
        }
        try:
            os.makedirs(self.path, exist_ok=True)
            with open(self._spec_summary_path(), "w") as f:
                json.dump(summary, f)
        except OSError:
            pass  # summary is an optimization, never required

    # -- refresh ---------------------------------------------------------
    def refresh(
        self,
        seed_as_of: dict[str, str] | None = None,
        to: dict[str, str] | None = None,
    ) -> dict:
        """Seed (first call) or advance the view.  ``seed_as_of`` pins the
        seed to early source commits so later refreshes exercise the
        incremental path; default seeds at the sources' latest.  ``to``
        bounds the advance target per source (default: each source's
        latest commit) — the stepwise-replay hook that lets a streaming
        driver advance the view ONE source commit at a time.

        Refreshes hold an advisory lock (O_EXCL lock file NEXT TO the
        view dir — the seed wipes the dir itself): two concurrent
        advances would race the anchor sidecar and double-apply deltas,
        so the second caller gets ConcurrentRefreshError instead."""
        # no-classify fast path: when the persisted serve-spec says this
        # view has no hidden stage / pseudo leaves and the anchor already
        # equals the advance target, there is nothing to classify, seed,
        # or advance — return without building the Catalyst plan at all
        # (the anchor is written only AFTER an advance commits, so an
        # equal anchor proves the stored state is current; same lock-free
        # read serve() has always done).
        if self._spec is None:
            s = self._read_spec_summary()
            if s is not None and s.get("fast_ok"):
                anchor = self._read_anchor()
                target = dict(to) if to else {
                    n: t.timeline.latest_timestamp()
                    for n, t in self.sources.items()
                }
                # mirror real-source targets onto self-join pseudo leaves
                # (same mapping _fill_leaf_aliases applies on the slow
                # path; the summary persists it so no classification runs)
                for pseudo, real in (s.get("leaf_alias") or {}).items():
                    if pseudo not in target and real in target:
                        target[pseudo] = target[real]
                if anchor is not None and anchor == target:
                    return {
                        "kind": s["kind"], "advanced": False, "anchor": anchor
                    }
        spec = self.spec()
        seed_as_of = self._fill_leaf_aliases(seed_as_of)
        to = self._fill_leaf_aliases(to)
        if self._stage is not None:
            # advance the hidden child first (bounded targets pass
            # through in the ORIGINAL source names), then aim the outer
            # at the child's resulting tail
            self._stage.refresh(seed_as_of=seed_as_of, to=to)
            st = self._stage.table.timeline.latest_timestamp()
            seed_as_of = {"__stage0": st} if seed_as_of else None
            to = {"__stage0": st}
        lock = self.path.rstrip("/") + ".refresh_lock"
        parent = os.path.dirname(lock)
        if parent:
            os.makedirs(parent, exist_ok=True)
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = f.read().strip() or "?"
            except OSError:
                holder = "?"
            raise ConcurrentRefreshError(
                f"another refresh of {self.path} holds {lock} "
                f"(holder: {holder}); if that process died, remove the "
                "lock file and retry"
            ) from None
        try:
            os.write(fd, f"pid={os.getpid()}".encode())
            os.close(fd)
            latest = to or {
                n: t.timeline.latest_timestamp()
                for n, t in self.sources.items()
            }
            anchor = self._read_anchor()
            if anchor is None:
                at = seed_as_of or latest
                shutil.rmtree(self.path, ignore_errors=True)
                self._seed(spec, at)
                self._write_anchor(at)
                self._write_spec_summary(spec)
                anchor = at
            if anchor == latest:
                self._write_spec_summary(spec)
                return {
                    "kind": spec["kind"], "advanced": False, "anchor": anchor
                }
            from ..plans.timeline import TimelineError

            for n, t in self.sources.items():
                if anchor.get(n) not in t.timeline.all_timestamps():
                    raise ViewHistoryLostError(
                        f"source '{n}' no longer has the view's anchor "
                        f"commit {anchor.get(n)} (rolled back?): no change "
                        "feed bridges the anchor to the present — call "
                        "reseed() to rebuild from the current snapshots"
                    )
            try:
                self._advance(spec, anchor, latest)
            except TimelineError as e:
                raise ViewHistoryLostError(
                    "a source's incremental history at the view's anchor "
                    f"is gone ({e}): call reseed() to rebuild from the "
                    "current snapshots"
                ) from e
            self._write_anchor(latest)
            self._write_spec_summary(spec)
            return {"kind": spec["kind"], "advanced": True, "anchor": latest}
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def drop(self) -> None:
        """Remove ALL on-disk state for this view: the backing table
        (anchor sidecar lives inside it), the refresh lock, and —
        recursively — every auto-staged hidden child view
        (``<path>.stage0``, ``<path>.stage0.stage0`` for stacked
        rollups) with ITS lock. The full-cleanup contract
        ``sql.drop_materialized_view`` documents."""
        if self._stage is not None:
            self._stage.drop()
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.remove(self.path.rstrip("/") + ".refresh_lock")
        except OSError:
            pass

    def reseed(self) -> dict:
        """Rebuild the view from the CURRENT source snapshots — the
        recovery for ViewHistoryLostError (source rolled back past the
        anchor, or timeline archived beyond it).  Explicit by design:
        reseeding discards the view's own commit history."""
        if self._stage is not None:
            self._stage.drop()
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.remove(self._anchor_path)
        except OSError:
            pass
        return self.refresh()

    def _commit_base(self, latest: dict) -> int:
        """Maintenance commits stamp after BOTH the advance target and
        the view's own tail — stepwise replays where two consecutive
        advances share a source timestamp must not collide."""
        vl = self.table.timeline.latest_timestamp()
        return max(int(max(latest.values())), int(vl) if vl else 0)

    def _commit_delta(
        self, dead: DataFrame, live: DataFrame, base: int,
        table: CowTable | None = None,
    ) -> None:
        """One advance's write to ``table`` (default: the view): ONE
        group rewrite at ``base + 1`` (``CowTable.apply_delta``) in which
        the ``dead`` keys delete and the ``live`` rows upsert, applied as
        one weighted update the way DBSP applies a Z-set delta. A key on
        both sides ends live; an empty delta commits nothing."""
        (table or self.table).apply_delta(live, dead, f"{base + 1:014d}")

    def serve(self) -> DataFrame:
        snap = self.table.snapshot()
        # serving needs only the summary-sized view of the spec; use the
        # persisted sidecar when classification hasn't run this instance
        if self._spec is None:
            s = self._read_spec_summary()
        else:
            s = None
        if s is not None:
            kind = s["kind"]
            group_names = s["group_names"]
            aggs = [(a, fn, None) for a, fn in s["aggs"]]
            post = s.get("post", [])
        else:
            spec = self.spec()
            kind = spec["kind"]
            group_names = [n for n, _ in spec.get("group") or []]
            aggs = spec.get("aggs") or []
            post = spec.get("post", [])
        if kind not in _AGG_KINDS:
            keep = [c for c in snap.columns if c not in META_FIELDS]
            return snap.select(*keep)
        cols = [
            F.col(n) for n in group_names if not n.startswith("__mv_")
        ]
        for alias, fn, _arg in aggs:
            if fn == "sum":
                # SQL semantics: SUM over zero non-null inputs is NULL
                cols.append(
                    F.when(F.col(f"__nn_{alias}") > 0, F.col(alias))
                    .alias(alias)
                )
            elif fn == "avg":
                # served as the exact-sum / non-null-count ratio
                cols.append(
                    F.when(
                        F.col(f"__avg_cnt_{alias}") > 0,
                        F.col(f"__avg_sum_{alias}").cast("double")
                        / F.col(f"__avg_cnt_{alias}"),
                    ).alias(alias)
                )
            elif fn in _MOMENT_FNS:
                # textbook moment formula over the maintained power sums;
                # greatest(·, 0) absorbs the −ε a zero-variance group can
                # produce when (Σx)²/n rounds above Σx² in double (sqrt
                # would yield NaN); inside the when() so n≤threshold still
                # serves SQL-correct NULL.  The registry oracle spells the
                # SAME expression tree so both engines round identically.
                n = F.col(f"__mc_{alias}")
                s1 = F.col(f"__m1_{alias}").cast("double")
                s2 = F.col(f"__m2_{alias}").cast("double")
                css = F.greatest(s2 - s1 * s1 / n, F.lit(0.0))
                if fn in _MOMENT_POP:
                    v = F.when(n > 0, css / n)
                else:
                    v = F.when(n > 1, css / (n - F.lit(1)))
                if fn in _MOMENT_SQRT:
                    v = F.sqrt(v)
                cols.append(v.alias(alias))
            elif fn == "approx_count_distinct":
                # the stored state is the mergeable HLL sketch; serve the
                # estimate (exact below the sketch's sparse-mode capacity,
                # ~1.6% rsd at the default lgK beyond)
                cols.append(F.hll_sketch_estimate(F.col(alias)).alias(alias))
            else:
                cols.append(F.col(alias))
        out = snap.select(*cols)
        # re-apply the post-aggregation chain (HAVING / derived columns)
        # bottom-up: the stored state keeps EVERY group so membership
        # changes need no maintenance work
        for pkind, payload in reversed(post):
            if pkind == "filter":
                out = out.filter(F.expr(payload))
            else:
                out = out.select(
                    *[F.expr(sql).alias(name) for name, sql in payload]
                )
        return out

    # -- algebra: signed retraction (aggregate views) --------------------
    def _replay_chain(self, spec: dict, df: DataFrame) -> DataFrame:
        """Re-run the below-aggregate Project/Filter chain (bottom-up)
        over a feed carrying a ``__mv_sign`` column."""
        for kind, payload in reversed(spec["chain"]):
            if kind == "filter":
                df = df.filter(F.expr(payload))
            else:
                df = df.select(
                    *[F.expr(sql).alias(name) for name, sql in payload],
                    F.col("__mv_sign"),
                )
        return df

    @staticmethod
    def _minmax_aliases(spec: dict) -> list[str]:
        """Aliases that re-derive on retraction from the SOURCE: min/max
        (a deleted row may have BEEN the extreme, and no smaller state
        can recover the runner-up).  approx_count_distinct used to live
        here too — an HLL sketch merges under insert but cannot
        subtract — but it now rebuilds from its per-value aux table
        instead (`_hll_aux_aliases`), which is (group, value)-sized
        rather than source-sized."""
        return [a for a, fn, _ in spec["aggs"] if fn in ("min", "max")]

    @staticmethod
    def _distinct_aliases(spec: dict) -> list[tuple[str, str]]:
        return [(a, arg) for a, fn, arg in spec["aggs"] if fn == "count_distinct"]

    @staticmethod
    def _hll_aux_aliases(spec: dict) -> list[tuple[str, str]]:
        """approx_count_distinct aliases, whose sketches are backed by a
        per-value aux table (the E4 COUNT DISTINCT state, reused): on
        retraction the group's sketch rebuilds from the aux table's live
        values — never from the source, whose dirty groups could be
        arbitrarily large at 100 TB while aux is bounded by the live
        DISTINCT value set.  Every aggregate kind advances through the
        signed merge, so every one keeps this state."""
        return [
            (a, arg) for a, fn, arg in spec["aggs"]
            if fn == "approx_count_distinct"
        ]

    def _aux_table(self, alias: str) -> CowTable:
        """Per-value state for one COUNT(DISTINCT) output: a nested lake
        table (dot-dir = service dir, invisible to orphan walks) keyed on
        group keys + the value's string form, one row per live (group,
        value) pair with its signed row count ``__mv_vn``."""
        group_names = [n for n, _ in self.spec()["group"]]
        return CowTable(
            self.spark,
            os.path.join(self.path, f".aux_{alias}"),
            key_fields=group_names + ["__mv_val"],
            partition_field=None,
            num_file_groups=self.num_file_groups,
        )

    def _value_state(self, spec: dict, arg: str, feed: DataFrame) -> DataFrame:
        """Signed per-(group, value) row counts from a feed: the delta the
        aux table merges.  NULL arguments never enter (COUNT DISTINCT
        ignores them); the value keys by its cast-to-string."""
        df = self._replay_chain(spec, feed)
        keys = [F.expr(sql).alias(name) for name, sql in spec["group"]]
        x = F.expr(arg)
        return (
            df.filter(x.isNotNull())
            .groupBy(*keys, x.cast("string").alias("__mv_val"))
            .agg(F.sum("__mv_sign").cast("long").alias("__mv_vn"))
        )

    def _agg_delta(
        self,
        spec: dict,
        feed: DataFrame,
        only_groups: DataFrame | None = None,
    ) -> DataFrame:
        """Group the signed feed into delta rows matching the stored
        schema (user cols + hidden counters + __mv_n).  min/max columns
        carry the INSERT-side extreme only; ``__mv_dirty`` flags groups
        any retraction touched — those must re-derive their extremes
        (a deleted/updated row may have BEEN the extreme).

        ``only_groups`` (group-name columns) restricts the feed to the
        named groups BEFORE aggregating — the restriction must land
        below the groupBy ourselves, because a semi-join left above the
        Aggregate is not pushed down (measured on 4.1)."""
        from functools import reduce

        df = self._replay_chain(spec, feed)
        if only_groups is not None:
            gk = [f"__mv_gk{i}" for i in range(len(spec["group"]))]
            dg = only_groups.select(
                *[
                    F.col(n).alias(t)
                    for (n, _sql), t in zip(spec["group"], gk)
                ]
            )
            cond = reduce(
                lambda a, b: a & b,
                [
                    F.expr(sql).eqNullSafe(F.col(f"__dg.{t}"))
                    for t, (_n, sql) in zip(gk, spec["group"])
                ],
            )
            df = df.join(F.broadcast(dg.alias("__dg")), cond, "left_semi")
        sign = F.col("__mv_sign")
        aggs = [F.sum(sign).cast("long").alias(_HIDDEN_N)]
        for alias, fn, arg in spec["aggs"]:
            x = F.expr(arg)
            if fn == "count":
                contrib = sign if arg == "1" else sign * x.isNotNull().cast("long")
                aggs.append(F.sum(contrib).cast("long").alias(alias))
            elif fn == "count_distinct":
                # correct on an insert-only feed (the seed); on a CDC
                # delta the advance OVERWRITES this column with the
                # aux-table recount of every touched group
                aggs.append(
                    F.count_distinct(F.when(sign > 0, x)).alias(alias)
                )
            elif fn == "sum":
                # exact delta over coalesce(x, 0) + non-null counter
                aggs.append(F.sum(sign * F.coalesce(x, F.lit(0))).alias(alias))
                aggs.append(
                    F.sum(sign * x.isNotNull().cast("long"))
                    .cast("long")
                    .alias(f"__nn_{alias}")
                )
            elif fn == "avg":
                # decomposed to exact sum + non-null count; served as ratio
                aggs.append(
                    F.sum(sign * F.coalesce(x, F.lit(0))).alias(f"__avg_sum_{alias}")
                )
                aggs.append(
                    F.sum(sign * x.isNotNull().cast("long"))
                    .cast("long")
                    .alias(f"__avg_cnt_{alias}")
                )
            elif fn in _MOMENT_FNS:
                # signed power sums: Σx, Σx², non-null count — each a plain
                # summable column, so the merge path needs no special case
                aggs.append(
                    F.sum(sign * F.coalesce(x, F.lit(0))).alias(f"__m1_{alias}")
                )
                aggs.append(
                    F.sum(sign * F.coalesce(x * x, F.lit(0))).alias(
                        f"__m2_{alias}"
                    )
                )
                aggs.append(
                    F.sum(sign * x.isNotNull().cast("long"))
                    .cast("long")
                    .alias(f"__mc_{alias}")
                )
            elif fn == "approx_count_distinct":
                # mergeable Datasketches HLL over the INSERT side only
                # (retraction rows null out and are ignored), hashed over
                # the value's STRING form — the same representation the
                # per-value aux table stores — so a sketch rebuilt from
                # aux is state-identical to one unioned incrementally
                # (HLL updates are idempotent per hashed value, so
                # duplicates in either path don't matter)
                aggs.append(
                    F.hll_sketch_agg(
                        F.when(sign > 0, x.cast("string"))
                    ).alias(alias)
                )
            else:  # min / max: monotone under inserts only
                ins = F.when(sign > 0, x)
                aggs.append((F.min(ins) if fn == "min" else F.max(ins)).alias(alias))
        if self._minmax_aliases(spec):
            aggs.append(
                F.max(F.when(sign < 0, F.lit(1)).otherwise(F.lit(0))).alias(
                    "__mv_dirty"
                )
            )
        keys = [F.expr(sql).alias(name) for name, sql in spec["group"]]
        return df.groupBy(*keys).agg(*aggs)

    def _seed(self, spec: dict, at: dict[str, str]) -> None:
        snaps = {n: t.snapshot(at[n]) for n, t in self.sources.items()}
        ts = max(at.values())
        if spec["kind"] in _AGG_KINDS:
            if spec["kind"] == "aggregate":
                feed = snaps[spec["source"]].withColumn("__mv_sign", F.lit(1))
            elif spec["kind"] == "agg_union":
                feed = self._agg_union_full_feed(spec, snaps)
            else:
                feed = self._agg_tree_full_feed(spec, snaps)
            seed = self._agg_delta(spec, feed)
            if "__mv_dirty" in seed.columns:
                seed = seed.drop("__mv_dirty")  # delta-only flag
            self.table.bulk_insert(seed, ts)
            for alias, arg in self._distinct_aliases(spec) + self._hll_aux_aliases(
                spec
            ):
                self._aux_table(alias).bulk_insert(
                    self._value_state(spec, arg, feed), ts
                )
        else:
            self.table.bulk_insert(self.plan_fn(snaps), ts)

    def _advance(self, spec, anchor: dict, latest: dict) -> None:
        if spec["kind"] == "aggregate":
            self._advance_aggregate(spec, anchor, latest)
        elif spec["kind"] == "agg_union":
            self._advance_agg_union(spec, anchor, latest)
        elif spec["kind"] == "agg_tree":
            self._advance_agg_tree(spec, anchor, latest)
        elif spec["kind"] == "window":
            self._advance_window(spec, anchor, latest)
        elif spec["kind"] == "window_tree":
            self._advance_window_tree(spec, anchor, latest)
        elif spec["kind"] == "union":
            self._advance_union(spec, anchor, latest)
        else:
            self._advance_change_keys(spec, anchor, latest)

    def _advance_aggregate(self, spec, anchor, latest) -> None:
        src = self.sources[spec["source"]]
        feed = src.cdc(
            anchor[spec["source"]],
            latest[spec["source"]],
            include_update_preimages=True,
        ).withColumn(
            "__mv_sign",
            F.when(F.col("op").isin("insert", "update"), F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )

        def full_feed(_dirty_keys):
            return src.snapshot(latest[spec["source"]]).withColumn(
                "__mv_sign", F.lit(1)
            )

        self._merge_agg_delta(spec, feed, latest, full_feed)

    # -- algebra: per-branch deltas (aggregate-over-UNION-ALL views) -----
    def _union_branch_feed(self, spec, branch, df: DataFrame) -> DataFrame:
        """Replay one union branch's chain over a signed frame and
        rename its outputs POSITIONALLY to the union's column names
        (SQL UNION aligns by position; names come from the first
        branch), keeping the sign column."""
        d = _replay_spec(branch["chain"], df, extra=("__mv_sign",))
        return d.select(
            *[
                F.col(bn).alias(on)
                for bn, on in zip(branch["out_names"], spec["out_names"])
            ],
            F.col("__mv_sign"),
        )

    def _agg_union_full_feed(self, spec, snaps) -> DataFrame:
        from functools import reduce

        parts = [
            self._union_branch_feed(
                spec, b, snaps[b["source"]].withColumn("__mv_sign", F.lit(1))
            )
            for b in spec["branches"]
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _advance_agg_union(self, spec, anchor, latest) -> None:
        """Advance an aggregate-over-UNION-ALL view: union-all is a
        multiset sum, so the view's delta is the union of each branch's
        signed CDC delta replayed through that branch's own chain —
        straight into the shared retraction merge.  Untouched branches
        contribute nothing; a source feeding N branches contributes N
        branch deltas (the multiset semantics of self-union)."""
        from functools import reduce

        sign = F.when(
            F.col("op").isin("insert", "update"), F.lit(1)
        ).otherwise(F.lit(-1))
        terms = []
        for b in spec["branches"]:
            s = b["source"]
            if anchor[s] == latest[s]:
                continue
            cdc = self.sources[s].cdc(
                anchor[s], latest[s], include_update_preimages=True
            )
            terms.append(
                self._union_branch_feed(
                    spec, b, cdc.withColumn("__mv_sign", sign)
                )
            )
        if not terms:
            return
        feed = reduce(lambda a, b: a.unionByName(b), terms)

        def full_feed(_dirty_keys):
            snaps = {
                n: t.snapshot(latest[n]) for n, t in self.sources.items()
            }
            return self._agg_union_full_feed(spec, snaps)

        self._merge_agg_delta(spec, feed, latest, full_feed)

    def _merge_agg_delta(self, spec, feed, latest, full_feed_fn) -> None:
        """Merge a SIGNED feed's aggregate delta into the stored state —
        the shared retraction engine behind every aggregate kind.
        ``full_feed_fn(dirty_keys)`` supplies an insert-only full feed
        (optionally pre-restricted to the dirty groups) for the
        re-derive-on-retraction aliases (min/max)."""
        from functools import reduce

        delta = self._agg_delta(spec, feed).localCheckpoint(eager=True)
        group_names = [n for n, _ in spec["group"]]
        mm = self._minmax_aliases(spec)
        cd = [a for a, _ in self._distinct_aliases(spec)]
        hl = [a for a, _ in self._hll_aux_aliases(spec)]
        summable = [
            c
            for c in delta.columns
            if c not in group_names
            and c not in mm
            and c not in cd
            and c not in hl
            and c != "__mv_dirty"
        ]
        s = (
            self.table.snapshot()
            .select(*group_names, *summable, *mm, *cd, *hl)
            .alias("s")
        )
        d = delta.alias("d")
        # null-safe full-outer merge: group keys may legitimately be NULL
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"s.{k}").eqNullSafe(F.col(f"d.{k}")) for k in group_names],
        )
        j = s.join(d, cond, "full_outer")
        out = [
            F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k)
            for k in group_names
        ]
        out += [
            (
                F.coalesce(F.col(f"s.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
            for c in summable
        ]
        # min/max: untouched groups keep the stored extreme; insert-only
        # (clean) groups combine monotonically; retraction-touched (dirty)
        # groups get NULL here and re-derive below
        present_d = F.col(f"d.{_HIDDEN_N}").isNotNull()
        for alias, fn, _arg in spec["aggs"]:
            if fn not in ("min", "max", "approx_count_distinct"):
                continue
            if fn == "approx_count_distinct":
                su, du = F.col(f"s.{alias}"), F.col(f"d.{alias}")
                # hll_union of a stored sketch with the insert-delta
                # sketch; either side absent (brand-new group / group
                # untouched by this delta) passes through.  No dirty
                # handling here: any group whose non-null values changed
                # appears in the value delta below and gets its sketch
                # REBUILT from the aux table's live values, overwriting
                # this column; a retraction of only-NULL arguments never
                # touched the sketch, so the union stands correct.
                comb = (
                    F.when(su.isNull(), du)
                    .when(du.isNull(), su)
                    .otherwise(F.hll_union(su, du))
                )
                out.append(
                    F.when(~present_d, su).otherwise(comb).alias(alias)
                )
                continue
            comb = (F.least if fn == "min" else F.greatest)(
                F.col(f"s.{alias}"), F.col(f"d.{alias}")
            )
            out.append(
                F.when(~present_d, F.col(f"s.{alias}"))
                .when(F.col("d.__mv_dirty") == 1, F.lit(None))
                .otherwise(comb)
                .alias(alias)
            )
        # count-distinct: absolute-valued columns — EXISTING groups keep
        # the stored count (a feed touching only NULL arguments changes
        # nothing, and any non-null change lands in the value delta and
        # recounts below); brand-new groups take the delta's feed-distinct
        # count, which the recount also corrects if an in-window delete
        # retracted one of their values
        present_s = F.col(f"s.{_HIDDEN_N}").isNotNull()
        for alias in cd:
            out.append(
                F.when(present_s, F.col(f"s.{alias}"))
                .otherwise(F.col(f"d.{alias}"))
                .alias(alias)
            )
        if mm:
            out.append(
                F.when(present_d, F.coalesce(F.col("d.__mv_dirty"), F.lit(0)))
                .otherwise(F.lit(0))
                .alias("__mv_dirty")
            )
        merged = j.select(*out).localCheckpoint(eager=True)
        if mm:
            dirty_keys = merged.filter(F.col("__mv_dirty") == 1).select(*group_names)
            merged = merged.drop("__mv_dirty")
            if dirty_keys.count() > 0:
                # re-derive extremes for dirty groups from the source —
                # work ∝ rows of retraction-touched groups, never the
                # table: the group restriction lands BELOW the groupBy
                # (only_groups), where a post-aggregation semi-join would
                # not be pushed
                re_rows = self._agg_delta(
                    spec, full_feed_fn(dirty_keys), only_groups=dirty_keys
                ).select(
                    *group_names,
                    *[F.col(a).alias(f"__re_{a}") for a in mm],
                )
                mcond = reduce(
                    lambda a, b: a & b,
                    [
                        F.col(f"m.{k}").eqNullSafe(F.col(f"r.{k}"))
                        for k in group_names
                    ],
                )
                merged = (
                    merged.alias("m")
                    .join(re_rows.alias("r"), mcond, "left_outer")
                    .select(
                        *[F.col(f"m.{k}").alias(k) for k in group_names],
                        *[
                            F.col(f"m.{c}").alias(c)
                            for c in merged.columns
                            if c not in group_names and c not in mm
                        ],
                        *[
                            F.coalesce(F.col(f"r.__re_{a}"), F.col(f"m.{a}"))
                            .alias(a)
                            for a in mm
                        ],
                    )
                    .localCheckpoint(eager=True)
                )
        base = self._commit_base(latest)
        for (alias, arg), is_hll in [
            (p, False) for p in self._distinct_aliases(spec)
        ] + [(p, True) for p in self._hll_aux_aliases(spec)]:
            # per-value delta from the SAME signed feed; empty = no
            # non-null-value change, stored counts/sketches stand as-is
            vd = self._value_state(spec, arg, feed).localCheckpoint(eager=True)
            if vd.count() == 0:
                continue
            aux = self._aux_table(alias)
            touched = vd.select(*group_names).distinct()
            tcond = reduce(
                lambda a, b: a & b,
                [F.col(f"a.{k}").eqNullSafe(F.col(f"t.{k}")) for k in group_names],
            )
            # only the touched groups' value rows participate — the merge
            # and recount scale with the change set, never the aux table
            aux_rel = (
                aux.snapshot()
                .select(*group_names, "__mv_val", "__mv_vn")
                .alias("a")
                .join(touched.alias("t"), tcond, "left_semi")
            )
            vcond = reduce(
                lambda a, b: a & b,
                [
                    F.col(f"a.{k}").eqNullSafe(F.col(f"v.{k}"))
                    for k in group_names + ["__mv_val"]
                ],
            )
            mv_cols = [
                F.coalesce(F.col(f"a.{k}"), F.col(f"v.{k}")).alias(k)
                for k in group_names + ["__mv_val"]
            ] + [
                (
                    F.coalesce(F.col("a.__mv_vn"), F.lit(0))
                    + F.coalesce(F.col("v.__mv_vn"), F.lit(0))
                ).alias("__mv_vn")
            ]
            mergedv = (
                aux_rel.alias("a")
                .join(vd.alias("v"), vcond, "full_outer")
                .select(*mv_cols)
                .localCheckpoint(eager=True)
            )
            deadv = mergedv.filter(F.col("__mv_vn") <= 0).select(
                *group_names, "__mv_val"
            )
            livev = mergedv.filter(F.col("__mv_vn") > 0)
            self._commit_delta(deadv, livev, base, aux)
            # recount every touched group over its FULL merged value set
            # (zero-count rows included so a group whose last value died
            # serves 0, not its stale stored count).  HLL aliases rebuild
            # the SKETCH from the live values instead — hll_sketch_agg
            # skips NULLs and returns an EMPTY sketch (estimate 0) when
            # every value died, so the same overwrite join serves both
            if is_hll:
                recount = mergedv.groupBy(*group_names).agg(
                    F.hll_sketch_agg(
                        F.when(F.col("__mv_vn") > 0, F.col("__mv_val"))
                    ).alias("__rc")
                )
            else:
                recount = mergedv.groupBy(*group_names).agg(
                    F.sum((F.col("__mv_vn") > 0).cast("long")).alias("__rc")
                )
            rcond = reduce(
                lambda a, b: a & b,
                [F.col(f"m.{k}").eqNullSafe(F.col(f"r.{k}")) for k in group_names],
            )
            merged = (
                merged.alias("m")
                .join(F.broadcast(recount.alias("r")), rcond, "left_outer")
                .select(
                    *[
                        F.coalesce(F.col("r.__rc"), F.col(f"m.{c}")).alias(c)
                        if c == alias
                        else F.col(f"m.{c}").alias(c)
                        for c in merged.columns
                    ]
                )
                .localCheckpoint(eager=True)
            )
        # emit in the seed's stored order so writes align positionally too
        stored_order = [
            c for c in delta.columns if c not in group_names and c != "__mv_dirty"
        ]
        merged = merged.select(*group_names, *stored_order)
        live = merged.filter(F.col(_HIDDEN_N) > 0)
        dead = merged.filter(F.col(_HIDDEN_N) <= 0).select(*group_names)
        self._commit_delta(dead, live, base)

    # -- algebra: image-replay dirty groups (aggregate-over-join trees) --
    def _replay_tree(
        self, node, snaps, override=None, flip_for=None, restrict=None,
        restrict_join=None, extra=(),
    ) -> DataFrame:
        """Re-run a classified join tree over source snapshots.
        ``override`` swaps one leaf's INPUT frame (CDC images for
        detection); ``flip_for`` names the changed source whose
        detection pass is running — LEFT joins with that source on the
        null-extended side run as INNER (see _classify_agg_tree);
        ``restrict`` = (src, dirty_frame, cond) semi-joins one leaf's
        post-chain rows to the dirty groups (the rebuild's leaf-input
        restriction); ``restrict_join`` = (join_node, jk_frame)
        semi-joins that join's PRESERVED side to the touched join keys
        (null-safe) — the null-extension-aware detection for changed
        sources under a LEFT join."""
        from functools import reduce

        if "src" in node:
            base = (override or {}).get(node["src"])
            if base is None:  # delta terms omit the changed source's snap
                base = snaps[node["src"]]
            df = _replay_spec(node["chain"], base, extra=extra)
            if restrict is not None and restrict[0] == node["src"]:
                df = df.alias("__s").join(
                    F.broadcast(restrict[1].alias("__dg")),
                    restrict[2],
                    "left_semi",
                )
            return _synth(df, node)
        left = self._replay_tree(
            node["left"], snaps, override, flip_for, restrict, restrict_join,
            extra,
        ).drop(*node["drop_l"])
        right = self._replay_tree(
            node["right"], snaps, override, flip_for, restrict, restrict_join,
            extra,
        ).drop(*node["drop_r"])
        if restrict_join is not None and node is restrict_join[0]:
            left = left.join(
                F.broadcast(restrict_join[1]),
                _jk_cond([lc for lc, _rc in node["pairs"]], True),
                "left_semi",
            )
        jt = node["jt"]
        if flip_for is not None and jt == "left" and flip_for in node["right_srcs"]:
            jt = "inner"
        cond = reduce(
            lambda a, b: a & b,
            [F.col(lc) == F.col(rc) for lc, rc in node["pairs"]],
        )
        return _synth(
            _replay_spec(node["mid"], left.join(right, cond, jt),
                         extra=extra),
            node,
        )

    def _tree_signed_delta(
        self, node, anchor, latest, snaps_a, snaps_t
    ) -> DataFrame | None:
        """Signed delta of a classified join SUBTREE between the anchor
        and target states (``snaps_a`` / ``snaps_t``, the sources'
        snapshots at each boundary, built once per refresh) — one
        recursive identity for every join type.  An INNER node applies
        the bilinear join rule of DBSP to its children's deltas:

          Δ(L ⋈ R) = (ΔL ⋈ R_t) ⊎ (L_a ⋈ ΔR)

        A LEFT OUTER node extends it to the null-extension:

          Δ(L ⟕ R) = (ΔL ⟕ R_t) ⊎ (L_a ⋈ ΔR) ⊎ (L_a ⋉ flip(R)) × null_R

        Derivation: L⟕R = L⋈R ⊎ (L▷R)×null_R; the inner part is the
        rule above, the anti part splits as ΔL▷R_t (folded into
        term 1, since ΔL⟕R_t = ΔL⋈R_t ⊎ ΔL▷R_t×null) plus
        L_a▷R_t − L_a▷R_a — which is exactly L_a restricted to join
        keys whose PRESENCE in R flipped: +1 where a key vanished from
        R (rows re-enter the null-extension), −1 where one appeared
        (rows leave it).  FULL OUTER nodes decompose as
        T = (L ⟕ R) ⊎ (R ▷ L) × null_L — the left-join part takes the
        identity above, and the R-anti summand its own symmetric
        delta: ΔR ▷ L_t (null_L-extended, keeping ΔR's signs) plus
        R_a ⋉ flip(L) × null_L with ΔL's keys as flip candidates.

        Change-sized by construction: the static side of each inner
        term is semi-pruned to the delta side's distinct join keys
        (broadcast); every flipped key carries at least one ΔR row, so
        the flip candidates are ΔR's keys too, and R's presence at each
        boundary is probed with broadcast semi-joins against them.  Each
        delta side is checkpointed once: it is read for its keys, for its
        join and by every merge pass over the feed (one per COUNT
        DISTINCT / HLL alias), and re-reading a leaf's CDC instead ran
        more Spark jobs per refresh, not fewer.  Returns None when no
        source under the subtree changed."""
        from functools import reduce

        if "src" in node:
            s = node["src"]
            if anchor[s] == latest[s]:
                return None
            sign = F.when(
                F.col("op").isin("insert", "update"), F.lit(1)
            ).otherwise(F.lit(-1))
            cdc = self.sources[s].cdc(
                anchor[s], latest[s], include_update_preimages=True
            ).withColumn("__mv_sign", sign)
            return _synth(
                _replay_spec(node["chain"], cdc, extra=("__mv_sign",)), node
            )

        def _delta(side, drop):
            d = self._tree_signed_delta(side, anchor, latest, snaps_a, snaps_t)
            if d is None:
                return None
            return d.drop(*drop).localCheckpoint(eager=True)

        dl = _delta(node["left"], node["drop_l"])
        dr = _delta(node["right"], node["drop_r"])
        if dl is None and dr is None:
            return None
        lcols = [lc for lc, _rc in node["pairs"]]
        rcols = [rc for _lc, rc in node["pairs"]]
        cond = reduce(
            lambda a, b: a & b,
            [F.col(lc) == F.col(rc) for lc, rc in node["pairs"]],
        )
        jk_names = [f"__mv_jk{i}" for i in range(len(lcols))]

        def _flip_rows(d_keys, probe_side, probe_cols, keep_side,
                       keep_cols, null_side_schema):
            """Presence-flip correction term: among ``d_keys`` (the
            changed side's distinct join keys), keys that vanished from
            ``probe_side`` between the boundaries (+1) re-enter the
            null-extension of ``keep_side``'s anchor rows; gained keys
            (−1) leave it. Change-sized: probes and the keep-side scan
            are broadcast-semi-pruned to the candidates."""
            def present(snaps, at_anchor):
                p = self._replay_tree(probe_side["node"], snaps).drop(
                    *probe_side["drop"]
                )
                return p.join(
                    F.broadcast(d_keys), _jk_cond(probe_cols, False),
                    "left_semi",
                ).select(
                    *[F.col(c).alias(j) for c, j in zip(probe_cols, jk_names)],
                    F.lit(at_anchor).alias("__mv_at"),
                )

            # one aggregation over both boundaries: a key present only
            # at the anchor scores max + min - 1 = +1, only at the
            # target -1, at both 0
            at = F.col("__mv_at")
            flips = (
                present(snaps_a, 1).unionByName(present(snaps_t, 0))
                .groupBy(*jk_names)
                .agg((F.max(at) + F.min(at) - 1).alias("__mv_sign"))
                .filter(F.col("__mv_sign") != 0)
                .localCheckpoint(eager=True)
            )
            nulls = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in null_side_schema.fields
            ]
            keep = self._replay_tree(keep_side["node"], snaps_a).drop(
                *keep_side["drop"]
            )
            return (
                keep.join(F.broadcast(flips), _jk_cond(keep_cols, False),
                          "inner")
                .drop(*jk_names)
                .select("*", *nulls)
            )

        lspec = {"node": node["left"], "drop": node["drop_l"]}
        rspec = {"node": node["right"], "drop": node["drop_r"]}
        terms = []
        if dl is not None:
            dl_keys = _jk_frame(dl, lcols)
            r_t = self._replay_tree(node["right"], snaps_t).drop(
                *node["drop_r"]
            )
            r_t_pruned = r_t.join(
                F.broadcast(dl_keys), _jk_cond(rcols, False), "left_semi"
            )
            # ΔL ⟕ R_t: the left join folds the ΔL▷R_t anti term in —
            # its unmatched rows null-extend natively with ΔL's signs.
            # A FULL node takes "left" here too: its R-anti part is a
            # separate summand with its own delta below
            terms.append(dl.join(
                r_t_pruned, cond, "inner" if node["jt"] == "inner" else "left"
            ))
            if node["jt"] == "full":
                # Δ of (R ▷ L) × null_L w.r.t. L's changes: L-key flips
                terms.append(_flip_rows(
                    dl_keys, lspec, lcols, rspec, rcols,
                    self._replay_tree(node["left"], snaps_t)
                    .drop(*node["drop_l"]).schema,
                ))
        if dr is not None:
            dr_keys = _jk_frame(dr, rcols)
            l_a = self._replay_tree(node["left"], snaps_a).drop(
                *node["drop_l"]
            )
            l_a_pruned = l_a.join(
                F.broadcast(dr_keys), _jk_cond(lcols, False), "left_semi"
            )
            terms.append(l_a_pruned.join(dr, cond, "inner"))
            if node["jt"] in ("left", "full"):
                # presence-flip correction: candidates = ΔR's keys
                terms.append(_flip_rows(
                    dr_keys, rspec, rcols, lspec, lcols,
                    self._replay_tree(node["right"], snaps_t)
                    .drop(*node["drop_r"]).schema,
                ))
            if node["jt"] == "full":
                # ΔR ▷ L_t × null_L (the R-anti summand's delta-side
                # term; L_t pruned to ΔR's keys — pruning cannot change
                # an anti verdict against keys outside the probe set)
                l_t = self._replay_tree(node["left"], snaps_t).drop(
                    *node["drop_l"]
                )
                l_t_pruned = l_t.join(
                    F.broadcast(dr_keys), _jk_cond(lcols, False), "left_semi"
                )
                null_l = [
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in l_t.schema.fields
                ]
                terms.append(
                    dr.join(l_t_pruned, cond, "left_anti")
                    .select("*", *null_l)
                )
        out = reduce(lambda a, b: a.unionByName(b), terms)
        return _synth(
            _replay_spec(node["mid"], out, extra=("__mv_sign",)), node
        )

    def _agg_tree_full_feed(self, spec, snaps, restrict=None) -> DataFrame:
        df = self._replay_tree(spec["tree"], snaps, restrict=restrict)
        return _replay_spec(spec["mid"], df).withColumn("__mv_sign", F.lit(1))

    def _tree_touched(
        self, spec, anchor, latest, sel_exprs
    ) -> DataFrame | None:
        """IMAGE-REPLAY touched-set detection over a classified join
        tree: for each changed source S and each boundary, the tree
        re-runs with S's leaf replaced by S's CDC images (before-images
        at the anchor, after-images at the target; other leaves at that
        boundary's snapshots) and ``sel_exprs`` name what the caller is
        tracking (group keys for aggregates, partition columns for
        windows).  S under a LEFT join's null-extended side uses the
        pooled-key preserved-side pass instead (a pure delete has empty
        after-images — the null-extension flip set exists only at the
        target state, invisible to inner-flipping).  Returns the
        distinct checkpointed frame, or None when nothing changed."""
        from functools import reduce

        changed = [s for s in spec["sources"] if anchor[s] != latest[s]]
        if not changed:
            return None

        def _outer_left_with(node, s):
            # outermost LEFT join whose null-extended side contains s
            if "src" in node:
                return None
            if node["jt"] == "left" and s in node["right_srcs"]:
                return node
            return _outer_left_with(node["left"], s) or _outer_left_with(
                node["right"], s
            )

        parts = []
        for s in changed:
            cdc = self.sources[s].cdc(
                anchor[s], latest[s], include_update_preimages=True
            )
            before = cdc.filter(F.col("op").isin("delete", "update_preimage"))
            after = cdc.filter(F.col("op").isin("insert", "update"))
            jnode = _outer_left_with(spec["tree"], s)
            if jnode is None:
                for imgs, at in ((before, anchor), (after, latest)):
                    snaps = {
                        n: t.snapshot(at[n]) for n, t in self.sources.items()
                    }
                    df = self._replay_tree(
                        spec["tree"], snaps, override={s: imgs}, flip_for=s
                    )
                    parts.append(
                        _replay_spec(spec["mid"], df).select(*sel_exprs)
                    )
                continue
            # pooled-key preserved-side pass (see docstring)
            jk_parts = []
            rcs = [rc for _lc, rc in jnode["pairs"]]
            for imgs, at in ((before, anchor), (after, latest)):
                snaps = {
                    n: t.snapshot(at[n]) for n, t in self.sources.items()
                }
                arm = self._replay_tree(
                    jnode["right"], snaps, override={s: imgs}, flip_for=s
                )
                jk_parts.append(_jk_frame(arm, rcs))
            jks = (
                jk_parts[0].unionByName(jk_parts[1])
                .distinct()
                .localCheckpoint(eager=True)
            )
            for at in (anchor, latest):
                snaps = {
                    n: t.snapshot(at[n]) for n, t in self.sources.items()
                }
                df = self._replay_tree(
                    spec["tree"], snaps, restrict_join=(jnode, jks)
                )
                parts.append(_replay_spec(spec["mid"], df).select(*sel_exprs))
        return (
            reduce(lambda a, b: a.unionByName(b), parts)
            .distinct()
            .localCheckpoint(eager=True)
        )

    def _advance_agg_tree(self, spec, anchor, latest) -> None:
        """Advance an aggregate-over-join-tree view by the SIGNED feed
        of ``_tree_signed_delta`` (the bilinear join rule per INNER
        node, plus presence-flip corrections under LEFT / FULL OUTER
        nodes), replacing the round-6 member-sized dirty-group
        re-derivation.  The feed merges through the shared retraction
        engine; min/max/DISTINCT retractions re-derive their dirty
        groups from ``full_feed`` (leaf-input-restricted when the
        group keys live on one non-null-extended leaf)."""
        from functools import reduce

        snaps_a = {n: t.snapshot(anchor[n]) for n, t in self.sources.items()}
        snaps_t = {n: t.snapshot(latest[n]) for n, t in self.sources.items()}
        feed = self._tree_signed_delta(
            spec["tree"], anchor, latest, snaps_a, snaps_t
        )
        if feed is None:
            return
        feed = _replay_spec(spec["mid"], feed, extra=("__mv_sign",))

        def full_feed(dirty_keys):
            restrict = None
            if spec.get("group_src") is not None and dirty_keys is not None:
                rcond = reduce(
                    lambda a, b: a & b,
                    [
                        F.col(f"__s.{sql}").eqNullSafe(
                            F.col(f"__dg.{name}")
                        )
                        for name, sql in spec["group"]
                    ],
                )
                restrict = (spec["group_src"], dirty_keys, rcond)
            return self._agg_tree_full_feed(spec, snaps_t, restrict=restrict)

        self._merge_agg_delta(spec, feed, latest, full_feed)

    # -- algebra: whole-partition re-derivation (window views) -----------
    def _advance_window(self, spec, anchor, latest) -> None:
        """Per-branch touched-partition detection for a window over one
        or more union branches: each changed source's keys name the
        partitions its rows LEAVE and ENTER — the branch chain replayed
        over the keys' rows in the source at the anchor (before-images)
        and at the target (after-images).  Never the windowed plan or
        the stored view: a filter above the window (a top-k, or a value
        filter) may hide a changed row whose partition-mates it still
        moves.  Each source is then restricted to the OR of its
        branches' partition-column restrictions; a branch with no
        source-column mapping leaves its source full."""
        from functools import reduce

        by_src: dict[str, list] = {}
        for br in spec["branches"]:
            by_src.setdefault(br["source"], []).append(br)
        pieces = []
        for s, brs in by_src.items():
            if anchor[s] == latest[s]:
                continue
            src = self.sources[s]
            d_keys = self._changed_keys_of(src, anchor[s], latest[s])
            for ts in (anchor[s], latest[s]):
                image = src.snapshot(ts).join(d_keys, RECORD_KEY_FIELD, "left_semi")
                for br in brs:
                    red = _replay_spec(br["chain"], image).toDF(*spec["in_names"])
                    pieces.append(
                        red.select(*[F.col(i).alias(o) for o, i in spec["parts"]])
                    )
        if not pieces:
            return
        touched = (
            reduce(lambda a, b: a.unionByName(b), pieces)
            .distinct()
            .localCheckpoint(eager=True)
        )
        restrict = {
            s: [b["part_src_cols"] for b in brs]
            for s, brs in by_src.items()
            if all(b["part_src_cols"] for b in brs)
        }
        self._rerank_touched(
            spec, touched, latest, restrict, len(restrict) < len(by_src)
        )

    def _advance_window_tree(self, spec, anchor, latest) -> None:
        """Touched-partition detection for a window over a join tree:
        IMAGE REPLAY through the tree (before-images at the anchor
        cover deletes and moves-out; after-images at the target cover
        inserts, moves-in, and null-extension flips) — a dim change
        can move rows between partitions through the join, which no
        per-source key lookup sees.  The partition source's snapshot
        is restricted unless that is unsound (``restrict_ok`` False:
        a null-extended partition source, where restriction fabricates
        null-extensions, or a self-joined one, where it would also
        filter PARTNER occurrences)."""
        sel = [F.col(w).alias(o) for o, w, _s in spec["parts"]]
        touched = self._tree_touched(spec, anchor, latest, sel)
        if touched is None:
            return
        restrict = {}
        if spec["restrict_ok"]:
            restrict[spec["part_src"]] = [
                [f"`{sc}`" for _o, _w, sc in spec["parts"]]
            ]
        self._rerank_touched(
            spec, touched, latest, restrict, not spec["restrict_ok"]
        )

    def _rerank_touched(self, spec, touched, latest, restrict,
                        full_input) -> None:
        """The one re-rank tail of every window advance: re-run the
        user's OWN plan over the latest snapshots with each source in
        ``restrict`` (name -> per-branch lists of partition SQL over its
        raw columns, aligned with ``spec["parts"]``) semi-joined to the
        ``touched`` partition tuples — input restriction commutes with
        whole partitions, whereas a semi-join left above the plan is
        NOT pushed below the top-k Filter (measured on 4.1) — then
        post-trim the output to exactly the touched tuples, which keeps
        an OR of branch restrictions or an unrestricted source
        output-exact.  Vanished rows of touched partitions become view
        deletes.

        ``full_input`` (some partition-carrying source reads its full
        snapshot): the touched tuples become a LITERAL predicate on
        the plan's OUTPUT partition columns, which Catalyst pushes
        through the Window, a Union and each branch's Project down to
        exactly the producing scan or occurrence — the sound
        restriction, derived by the optimizer instead of by snapshot
        substitution (measured 2.6-3.6x refresh win at 0.1-1.6M rows,
        SCALE.md round-8).  Chunked past WINDOW_TOUCHED_PRED_MAX
        clauses; a delta touching more than PRED_MAX * CHUNKS_MAX
        partitions re-derives full-input (the window is then mostly
        recomputed anyway).  Only this path needs the touched count."""
        from functools import reduce

        keys = self._spec_key_fields(spec)
        out_parts = [p[0] for p in spec["parts"]]
        snaps = {}
        for name, src in self.sources.items():
            snap = src.snapshot(latest[name])
            if name in restrict:
                # partition values computed on the UNALIASED snapshot
                # (derived-partition SQL must resolve against source
                # columns, not the join's ambiguous namespace), then the
                # OR-of-branches semi-join against the touched tuples
                helpers, conds = [], []
                for bi, cols in enumerate(restrict[name]):
                    terms = []
                    for i, (sql, o) in enumerate(zip(cols, out_parts)):
                        cname = f"__mv_wp{bi}_{i}"
                        snap = snap.withColumn(cname, F.expr(sql))
                        helpers.append(cname)
                        terms.append(
                            F.col(f"__s.{cname}").eqNullSafe(F.col(f"__t.{o}"))
                        )
                    conds.append(reduce(lambda x, y: x & y, terms))
                snap = (
                    snap.alias("__s")
                    .join(F.broadcast(touched.alias("__t")),
                          reduce(lambda x, y: x | y, conds), "left_semi")
                    .drop(*helpers)
                )
            snaps[name] = snap
        rederived = self.plan_fn(snaps)
        if full_input:
            n = touched.count()
            if n == 0:
                return
            if n <= WINDOW_TOUCHED_PRED_MAX * WINDOW_TOUCHED_CHUNKS_MAX:
                rederived = _where_touched_chunked(
                    rederived, touched.collect(), out_parts
                )
        rederived = (
            rederived.alias("r")
            .join(F.broadcast(touched.alias("t")),
                  _part_cond("r", "t", out_parts), "left_semi")
            .localCheckpoint(eager=True)
        )
        # every stored key of a touched partition is a delete marker; the
        # rederived ones end live
        dead = (
            self.table.snapshot().select(*keys, *out_parts)
            .alias("v")
            .join(F.broadcast(touched.alias("t")),
                  _part_cond("v", "t", out_parts), "left_semi")
            .select(*keys)
        )
        self._commit_delta(dead, rederived, self._commit_base(latest))

    # -- algebra: per-branch change-key re-derivation (union views) ------
    def _advance_union(self, spec, anchor, latest) -> None:
        """Each branch advances independently: the branch source's
        changed record keys restrict its SNAPSHOT (input restriction),
        the branch chain replays over just those rows, and vanished
        keys become (tag, key) deletes.  Branch work ∝ that source's
        change set; untouched branches cost nothing."""
        key = spec["key"]["name"]
        tag = spec["tag_col"]
        ups, deads = [], []
        for br in spec["branches"]:
            s = br["source"]
            if anchor[s] == latest[s]:
                continue
            src = self.sources[s]
            d_keys = self._changed_keys_of(
                src, anchor[s], latest[s]
            ).localCheckpoint(eager=True)
            restricted = src.snapshot(latest[s]).join(
                F.broadcast(d_keys), RECORD_KEY_FIELD, "left_semi"
            )
            red = _replay_spec(br["chain"], restricted).toDF(
                *spec["out_names"]
            )
            ups.append(red)
            # every changed key is a marker; the replayed ones end live
            deads.append(d_keys.select(
                F.expr(br["tag_sql"]).alias(tag),
                F.col(RECORD_KEY_FIELD).alias(key),
            ))
        if not ups:
            return
        from functools import reduce

        rederived = reduce(
            lambda a, b: a.unionByName(b), ups
        ).localCheckpoint(eager=True)
        dead = reduce(lambda a, b: a.unionByName(b), deads)
        self._commit_delta(dead, rederived, self._commit_base(latest))

    # -- algebra: change-key re-derivation (select / join views) ---------
    def _changed_keys_of(self, src, begin: str, end: str) -> DataFrame:
        """Record keys ``src`` touched in (begin, end], one
        ``RECORD_KEY_FIELD`` column.  COW: inserts/updates from the
        incremental read + deletes from the materialized per-commit
        delete-view feed — touched file groups only, never a full diff.
        MOR: delta tombstones live in LOGS, which the COW delete-view
        feed cannot see — the inherited net-effect cdc names every
        touched key (inserts, updates, deletes) through the
        merge-correct boundary snapshots instead."""
        from ..sources.delete_view import delete_views_between
        from ..sources.mor import MorTable

        if isinstance(src, MorTable):
            return src.cdc(begin, end).select(RECORD_KEY_FIELD).distinct()
        return (
            src.incremental(begin, end)
            .select(RECORD_KEY_FIELD)
            .union(
                delete_views_between(
                    self.spark, src.base_path, begin, end
                ).select(RECORD_KEY_FIELD)
            )
            .distinct()
        )

    def _changed_fact_keys(self, spec, anchor, latest) -> DataFrame:
        fact_name = spec.get("fact", spec.get("source"))
        fact = self.sources[fact_name]
        key_name = spec["key"]["name"]
        return self._changed_keys_of(
            fact, anchor[fact_name], latest[fact_name]
        ).select(F.col(RECORD_KEY_FIELD).alias(key_name))

    def _probe_affected(
        self, spec, dspec, d_vals, snaps, full, view_snap, d_fact, key
    ):
        """(touched_extra, affected_extra) for changed arm values
        ``d_vals`` (columns ``__d_dim_key{i}``) probing through
        ``dspec``'s tree-side route:

        - projected output column(s): probe the stored/full rows
          directly;
        - fact-side expression / unprojected fact column: map to fact
          RECORD KEYS through the fact snapshot's own expression value
          (fact rows changed in-window already ride d_fact, so
          snapshot values equal stored values);
        - mid-plan snowflake values (``probe_via``): translate the
          value set through the PARENT dim's snapshot — parent rows
          whose tree-side expression matches a changed value yield the
          parent's OWN arm-join values, which recurse into the
          parent's probe route (parent rows changed in-window ride the
          parent's own probe, same soundness argument)."""
        from functools import reduce

        fjcs = dspec["probe_out_cols"]
        if fjcs:
            probe = reduce(
                lambda a, b: a & b,
                [
                    F.col(c) == F.col(f"__d_dim_key{i}")
                    for i, c in enumerate(fjcs)
                ],
            )
            touched_extra = full.join(d_fact, key, "left_anti").join(
                F.broadcast(d_vals), probe, "left_semi"
            )
            affected_extra = (
                view_snap.select(key, *fjcs)
                .join(d_fact, key, "left_anti")
                .join(F.broadcast(d_vals), probe, "left_semi")
                .select(key)
            )
            return touched_extra, affected_extra
        via = dspec.get("probe_via")
        if via is not None:
            parent = next(
                d for d in spec["dims"] if d["name"] == via["parent"]
            )
            probe = reduce(
                lambda a, b: a & b,
                [
                    F.col(f"__p{i}") == F.col(f"__d_dim_key{i}")
                    for i in range(len(via["tree_exprs"]))
                ],
            )
            parent_vals = (
                snaps[via["parent"]]
                .select(
                    *[
                        F.expr(sql).alias(f"__p{i}")
                        for i, sql in enumerate(via["tree_exprs"])
                    ],
                    *[
                        F.expr(sql).alias(f"__pv{i}")
                        for i, sql in enumerate(parent["dim_join_cols"])
                    ],
                )
                .join(F.broadcast(d_vals), probe, "left_semi")
                .select(
                    *[
                        F.col(f"__pv{i}").alias(f"__d_dim_key{i}")
                        for i in range(len(parent["dim_join_cols"]))
                    ]
                )
                .distinct()
            )
            return self._probe_affected(
                spec, parent, parent_vals, snaps, full, view_snap,
                d_fact, key,
            )
        exprs = dspec["probe_fact_exprs"]
        probe = reduce(
            lambda a, b: a & b,
            [
                F.col(f"__probe{i}") == F.col(f"__d_dim_key{i}")
                for i in range(len(exprs))
            ],
        )
        extra = (
            snaps[spec["fact"]]
            .select(
                F.col(RECORD_KEY_FIELD).alias(key),
                *[
                    F.expr(sql).alias(f"__probe{i}")
                    for i, sql in enumerate(exprs)
                ],
            )
            .join(F.broadcast(d_vals), probe, "left_semi")
            .select(key)
        )
        touched_extra = (
            full.join(d_fact, key, "left_anti").join(extra, key, "left_semi")
        )
        affected_extra = (
            view_snap.select(key)
            .join(d_fact, key, "left_anti")
            .join(extra, key, "left_semi")
        )
        return touched_extra, affected_extra

    def _advance_change_keys(self, spec, anchor, latest) -> None:
        key = spec["key"]["name"]
        d_fact = self._changed_fact_keys(spec, anchor, latest)
        snaps = {n: t.snapshot(latest[n]) for n, t in self.sources.items()}
        full = self.plan_fn(snaps)
        touched = full.join(d_fact, key, "left_semi")
        view_snap = self.table.snapshot()
        affected = view_snap.select(key).join(d_fact, key, "left_semi")
        if spec["kind"] == "join":
            from functools import reduce

            for dspec in spec["dims"]:
                dn = dspec["name"]
                if anchor[dn] == latest[dn]:
                    continue
                # dim changes: CDC before-images catch dim deletes, and
                # update PREIMAGES catch join-column mutations — an
                # update that moves a dim row from join value y1 to y2
                # must probe BOTH (rows that joined y1 go stale/dead,
                # rows at y2 gain the match); after-images alone would
                # leave the y1 rows serving the old joined values
                dim = self.sources[dn]
                d_dim = (
                    dim.cdc(
                        anchor[dn], latest[dn],
                        include_update_preimages=True,
                    )
                    .select(
                        *[
                            F.expr(c).alias(f"__d_dim_key{i}")
                            for i, c in enumerate(dspec["dim_join_cols"])
                        ]
                    )
                    .distinct()
                )
                t_x, a_x = self._probe_affected(
                    spec, dspec, d_dim, snaps, full, view_snap, d_fact, key
                )
                touched = touched.unionByName(t_x)
                affected = affected.unionByName(a_x)
            # a row can be hit through TWO dims' probes — dedup by the
            # row identity before writing (rows are identical copies)
            touched = touched.dropDuplicates([key])
            affected = affected.dropDuplicates([key])
        # every affected key is a marker; the rederived ones end live
        rederived = touched.localCheckpoint(eager=True)
        self._commit_delta(
            affected.localCheckpoint(eager=True), rederived,
            self._commit_base(latest),
        )
