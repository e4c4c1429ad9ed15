"""Which rows did a commit delete? The format-free half of every delete
view (the reference pairs each rewritten file with its predecessor and
anti-joins on the record key, ``HudiDeleteHandle.java:44-81``).

Each format only decodes its metadata into the parts a commit names,
and ``delete_view`` assembles them. The five views and their parts:

- native COW (``DeleteView``): its file pairs are the keyed rewrite on
  ``(file id, record key)`` (the two-phase scale shape: one exact part);
- native MOR (``MorTable.delete_view``): log tombstones select an exact
  part; base rewrites are the keyed rewrite;
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
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .roaring import parse_dv_blob, read_dv_from_file, z85_decode


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
