"""Spark SQL surface: expose a lake table's views as named temp views so
users query with ``spark.sql`` instead of the Python API — the switch-over
surface for SQL-first consumers of the reference (whose output was likewise
a registered Dataset, DeleteSupport.java:94-95).

Temp views are lazily-planned DataFrames: registering costs metadata only,
and every downstream ``spark.sql`` gets full Catalyst treatment (pushdown
into the pruned snapshot scans, broadcast of small sides) exactly as the
Python API does — there is no second engine here, just names.
"""

from __future__ import annotations

from .sources.cow import CowTable
from .sources.delete_view import DeleteView


def register_views(table: CowTable, name: str) -> list[str]:
    """Register ``<name>`` (snapshot), ``<name>_history`` (commit stats),
    and ``<name>_deletes_<ts>`` for every commit that deleted rows. Returns
    the registered view names."""
    created = [name, f"{name}_history"]
    table.snapshot().createOrReplaceTempView(name)
    table.commit_history().createOrReplaceTempView(f"{name}_history")
    for ts in table.timeline.timestamps():
        meta = table.timeline.commit_metadata(ts)
        if meta.total_records_deleted > 0:
            vn = f"{name}_deletes_{ts}"
            DeleteView(table.spark, table.base_path, ts).dataset().createOrReplaceTempView(vn)
            created.append(vn)
    return created


# -- materialized-view DDL -------------------------------------------------
import os
import re

from pyspark.sql import DataFrame, SparkSession

from .plans.ivm import AutoMaterializedView

_MV_DDL = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)


def create_materialized_view(
    spark: SparkSession,
    path: str,
    sources: dict[str, CowTable],
    ddl: str,
) -> tuple[str, AutoMaterializedView]:
    """``CREATE MATERIALIZED VIEW <name> AS SELECT ...`` over lake tables
    — the SQL twin of declaring an ``AutoMaterializedView`` in Python.

    The ``sources`` dict names the lake tables the SELECT may reference;
    each plan evaluation registers the CURRENT snapshots under those
    names and plans the SELECT with ``spark.sql``, so classification
    (aggregate / agg_tree / join / select / window off the analyzed
    Catalyst tree) and every maintenance algebra work unchanged —
    including the algebras that re-run the plan over RESTRICTED inputs
    (touched partitions, dirty groups): the restriction rides in as the
    temp view body.  ``refresh_materialized_view`` advances the backing
    table and (re)binds ``<name>`` as a temp view serving the stored
    state, so SQL consumers read the view by name.

    Returns ``(view_name, mv)``.  Reference parity: the reference
    likewise serves its materialized product as a registered dataset
    (DeleteSupport.java:94-95); this extends that surface to arbitrary
    maintained views."""
    m = _MV_DDL.match(ddl)
    if m is None:
        raise ValueError(
            "expected CREATE MATERIALIZED VIEW <name> AS SELECT ...; got "
            f"{ddl[:80]!r}"
        )
    name, select = m.group(1), m.group(2).rstrip().rstrip(";")

    def plan_fn(snaps: dict[str, DataFrame]) -> DataFrame:
        for n, df in snaps.items():
            df.createOrReplaceTempView(n)
        return spark.sql(select)

    return name, AutoMaterializedView(spark, path, sources, plan_fn)


def refresh_materialized_view(
    name: str, mv: AutoMaterializedView, **refresh_kwargs
) -> DataFrame:
    """Advance the view and (re)bind ``<name>`` to the served state."""
    mv.refresh(**refresh_kwargs)
    served = mv.serve()
    served.createOrReplaceTempView(name)
    return served


def drop_materialized_view(
    spark: SparkSession, name: str, mv: AutoMaterializedView
) -> None:
    """``DROP MATERIALIZED VIEW``: unbind the temp view and remove the
    backing table, its aux tables, anchor sidecar, refresh lock, and
    (recursively) any auto-staged hidden child views with their locks."""
    spark.catalog.dropTempView(name)
    mv.drop()


# -- DDL dialect + session catalog -----------------------------------------
_MV_CATALOG: dict[str, AutoMaterializedView] = {}

_REFRESH_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_RE = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$", re.IGNORECASE
)


def ddl(
    spark: SparkSession,
    stmt: str,
    *,
    path: str | None = None,
    sources: dict[str, CowTable] | None = None,
) -> DataFrame | None:
    """One entry point for the materialized-view DDL dialect:

    - ``CREATE MATERIALIZED VIEW <n> AS SELECT ...`` (needs ``path`` +
      ``sources``): classifies, seeds/advances, binds ``<n>`` as a temp
      view, registers in the session catalog, returns the served frame.
    - ``REFRESH MATERIALIZED VIEW <n>``: advances + rebinds by name.
    - ``DROP MATERIALIZED VIEW <n>``: unbinds, removes the backing
      table, forgets the catalog entry.
    - ``SHOW MATERIALIZED VIEWS``: one row per registered view (name,
      kind, path, anchor).

    The catalog is SESSION-scoped bookkeeping only — the durable state
    is the backing lake table + anchor sidecar on disk, so a new
    session re-creates entries with the same CREATE and continues
    incrementally (the seed path is skipped when the anchor exists)."""
    m = _MV_DDL.match(stmt)
    if m is not None:
        if path is None or sources is None:
            raise ValueError(
                "CREATE MATERIALIZED VIEW needs path= and sources="
            )
        name, mv = create_materialized_view(spark, path, sources, stmt)
        _MV_CATALOG[name] = mv
        return refresh_materialized_view(name, mv)
    m = _REFRESH_RE.match(stmt)
    if m is not None:
        name = m.group(1)
        if name not in _MV_CATALOG:
            raise ValueError(f"unknown materialized view {name!r}")
        return refresh_materialized_view(name, _MV_CATALOG[name])
    m = _DROP_RE.match(stmt)
    if m is not None:
        name = m.group(1)
        if name not in _MV_CATALOG:
            raise ValueError(f"unknown materialized view {name!r}")
        drop_materialized_view(spark, name, _MV_CATALOG.pop(name))
        return None
    if _SHOW_RE.match(stmt):
        rows = [
            (n, mv.spec()["kind"], mv.path,
             str(mv._read_anchor() or {}))
            for n, mv in sorted(_MV_CATALOG.items())
        ]
        return spark.createDataFrame(
            rows or [], "name string, kind string, path string, anchor string"
        )
    raise ValueError(
        "unsupported statement; expected CREATE/REFRESH/DROP MATERIALIZED "
        f"VIEW or SHOW MATERIALIZED VIEWS, got {stmt[:80]!r}"
    )
