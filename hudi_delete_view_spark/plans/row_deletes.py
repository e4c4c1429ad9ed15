"""Which rows did a commit delete? The format-free half of every delete
view (the reference pairs each rewritten file with its predecessor and
anti-joins on the record key, ``HudiDeleteHandle.java:44-81``).

Each format only decodes its metadata into the parts a commit names,
and ``delete_view`` assembles them. The five views and their parts:

- native COW (``DeleteView``): the before-images its write kept are the
  answer (served without this module); commits without them are the
  keyed rewrite on ``(file id, record key)``;
- native MOR (``MorTable.delete_view``): log tombstones select an exact
  part; base rewrites' before-images are another (the keyed rewrite when
  a commit has none);
- foreign Hudi MOR: the log blocks' tombstones select an exact part;
- Delta: rows by DV position, plus the keyed rewrite;
- Iceberg: rows by position, equality deletes (exact), the keyed
  rewrite.

This module reads the parts back:

- ``dv_positions``: the one executor-side deletion-vector reader. Delta
  DVs and Iceberg v3 Puffin DVs share one envelope ([int32 BE size]
  [magic + portable 64-bit roaring][int32 BE CRC32]), parsed by
  ``roaring.read_dv_from_file``. A blob is ``(kind, src, offset,
  size)``: kind ``"inline"`` carries a Z85 payload in ``src``, kind
  ``"file"`` a path, the envelope's offset and the DV's byte size.
- ``delete_view``: the union of the parts — exact parts, rows newly
  dead by position, and the keyed copy-on-write rewrite.

Every change feed extends that answer over a window: ``net_changes``
diffs two keyed boundary images once and stamps each net-changed key
(deletes with the commit that deleted them). The native, foreign-Hudi
and Delta CDCs only decode their metadata into its inputs.
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .roaring import parse_dv_blob, read_dv_from_file, z85_decode

# Below this many rows, a relation whose size commit stats bound before
# any data is read (delete stamps, a CDC's contributor keys) broadcasts
# (~30-byte keys -> tens of MB built); above it the shuffled join is the
# right call at any scale — the guard degrades, never breaks.
BROADCAST_ROWS = 2_000_000

# Stamps that feed two consumers (the contributor set and the stamp join)
# persist only past this many rows: below it one extra persist+materialize
# job costs more than the duplicated small scan it saves (measured ~+0.3 s
# at sf0.1's ~17k deletes); above it the barrier halves a scan+aggregation
# that grows with the delete volume.
STAMPS_PERSIST_MIN_ROWS = 100_000


def _read_blob(kind: str, src: str, offset: int, size: int) -> list[int]:
    if kind == "inline":
        return parse_dv_blob(z85_decode(src))
    with open(src, "rb") as f:
        f.seek(offset)
        return read_dv_from_file(f.read(size + 8), 0, size)


def _parse(batches):
    import pandas as pd

    for pdf in batches:
        rows = []
        for target, blobs in pdf.itertuples(index=False):
            blob, *superseded = json.loads(blobs)
            positions = _read_blob(*blob)
            if superseded:
                dead = set().union(*(_read_blob(*b) for b in superseded))
                positions = [p for p in positions if p not in dead]
            rows.extend((target, p) for p in positions)
        yield pd.DataFrame(rows, columns=["target", "pos"])


def dv_positions(spark: SparkSession, work: list[tuple]) -> DataFrame:
    """``(target, pos)`` rows of the non-empty ``work``: one
    ``(target, blob, superseded blobs)`` item per deletion vector.

    Blobs parse inside Spark tasks (the driver ships only descriptors;
    a day's DVs across 10k files never transit it). The superseded
    blobs — DVs are cumulative, one per file — are subtracted in the
    same task, so a commit's own delta costs no anti-join."""
    rows = [(target, json.dumps([blob, *superseded]))
            for target, blob, superseded in work]
    return (
        spark.createDataFrame(rows, "target string, blobs string")
        .repartition(min(len(rows), 64))
        .mapInPandas(_parse, "target string, pos long")
    )


def delete_view(
    spark: SparkSession,
    schema: T.StructType,
    *,
    error: type[Exception] = ValueError,
    what: str = "the commit",
    exact: Sequence[DataFrame] = (),
    by_position: tuple[DataFrame, DataFrame] | None = None,
    removed: DataFrame | None = None,
    added: DataFrame | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """The rows ``what`` (e.g. ``"commit 5"``) deleted, in ``schema``.
    ``error`` and ``what`` only name the refusal below.

    - ``exact``: parts that already are deleted rows.
    - ``by_position``: ``(rows, positions)`` — rows carrying the
      positions' ordinal columns, inner-joined to the positions the
      commit newly deleted.
    - ``removed``: the removed files' live rows at the parent; rows
      whose key survives in ``added`` (the added files' live rows, None
      when the commit added none) were rewritten, not deleted. Needs
      ``key_cols``; refused with ``error`` when absent.

    Returns their union, or an empty frame with ``schema``."""
    names = [f.name for f in schema.fields]
    parts = list(exact)
    if by_position is not None:
        rows, positions = by_position
        parts.append(
            rows.join(positions, positions.columns, "inner").select(*names)
        )
    if removed is not None:
        if not key_cols:
            raise error(
                f"{what} removed data files (copy-on-write shape): pass "
                "key_cols to reconstruct which of their rows did not "
                "survive"
            )
        if added is not None:
            removed = removed.join(
                added.select(*key_cols), key_cols, "left_anti"
            )
        parts.append(removed)
    if not parts:
        return spark.createDataFrame([], schema)
    return reduce(DataFrame.unionByName, parts)


def net_diff(
    before: DataFrame, after: DataFrame, on: list[str],
    updated: Column | None = None,
) -> DataFrame:
    """The full-outer diff of two keyed image sides on ``on``: ``before``
    carries the image struct ``__before``, ``after`` carries ``__after``
    (either may carry more columns). Keeps every one-sided key and the
    pairs ``updated`` marks (every pair when None), with ``op``: insert
    (no before), delete (no after) or update."""
    j = before.join(after, on, "full_outer")
    if updated is not None:
        j = j.filter(
            F.col("__before").isNull() | F.col("__after").isNull() | updated
        )
    return j.withColumn(
        "op",
        F.when(F.col("__before").isNull(), F.lit("insert"))
        .when(F.col("__after").isNull(), F.lit("delete"))
        .otherwise(F.lit("update")),
    )


def net_changes(
    before: DataFrame,
    after: DataFrame,
    on: list[str],
    *,
    keys: list[str],
    stamp: str,
    updated: Column | None = None,
    after_stamp: Column | None = None,
    stamps: DataFrame | None = None,
    stamp_rows: int | None = None,
    changed_rows: int | None = None,
    preimages: bool = False,
) -> DataFrame:
    """Net-effect change feed: one row per key ``net_diff`` keeps, as
    ``op``, ``keys``, ``stamp``, then the image's fields — the after-image
    for inserts and updates, the before-image for deletes.

    - ``stamps``: the key columns plus ``__stamp``, the commit that last
      deleted each key; it stamps deletes, and every row when
      ``after_stamp`` (an expression over the after side) is None.
      Without it every row takes ``after_stamp``.
    - ``stamp_rows``: a driver-side bound on the stamps' rows (None:
      unknown). At most ``BROADCAST_ROWS`` broadcasts the stamp join,
      which keys on the stamps' own key columns, not on ``on``: it then
      does not shuffle the wide diff again. Catalyst cannot see the
      bound, hence the hint.
    - ``changed_rows``: set when ``after`` holds only rows written in
      the window. The before side is then cut to keys that are in
      ``after`` or in ``stamps`` (a semi-join, broadcast when the bound
      is at most ``BROADCAST_ROWS``), so every pair is an update. The
      stamps feed two consumers, and persist past
      ``STAMPS_PERSIST_MIN_ROWS`` stamp rows: the call then runs one
      Spark job eagerly (the count that fills the cache) instead of only
      building a plan, and the stamps stay cached until
      ``operators.util.unpersist_operator_caches()``.
    - ``preimages``: each update also emits an ``update_preimage`` row
      with the before-image, stamped like its postimage, in the same
      ``explode`` — a union of a second selection would run both
      boundary images and the diff join again."""
    skeys = [] if stamps is None else [
        c for c in stamps.columns if c != "__stamp"
    ]
    if changed_rows is not None:
        if stamp_rows > STAMPS_PERSIST_MIN_ROWS:
            from ..operators.util import register_cache

            stamps = register_cache(stamps)
        contrib = after.select(*skeys).unionByName(stamps.select(*skeys))
        if changed_rows <= BROADCAST_ROWS:
            contrib = F.broadcast(contrib)
        before = before.join(contrib, skeys, "left_semi")
    j = net_diff(before, after, on, updated)
    change = after_stamp
    if stamps is not None:
        if stamp_rows is not None and stamp_rows <= BROADCAST_ROWS:
            stamps = F.broadcast(stamps)
        j = j.join(stamps, skeys, "left")
        if after_stamp is None:
            change = F.col("__stamp")
        else:
            change = F.when(
                F.col("op") == "delete", F.col("__stamp")
            ).otherwise(after_stamp)

    def rec(op: Column, img: Column) -> Column:
        return F.struct(
            op.alias("op"), *[F.col(k).alias(k) for k in keys],
            change.alias(stamp), img.alias("__img"),
        )

    main = rec(
        F.col("op"),
        F.when(F.col("op") == "delete", F.col("__before"))
        .otherwise(F.col("__after")),
    )
    recs = F.array(main)
    if preimages:
        recs = F.when(F.col("op") == "update", F.array(
            main, rec(F.lit("update_preimage"), F.col("__before"))
        )).otherwise(recs)
    return j.select(F.explode(recs).alias("__r")).select(
        "__r.op", *[f"__r.{k}" for k in keys], f"__r.{stamp}", "__r.__img.*"
    )
