"""Block → pair → verify: the candidate-generation skeleton shared by
the dedup, co-reference and linking operators.

Every near-dup / co-reference generator in the package has the same
shape (SparkER, "Scaling Entity Resolution in Spark", EDBT 2019):

1. blocking — rows ``(key, id)``: a document under each of its LSH
   band buckets, rare shingles or fingerprints; a node under each of
   its neighbours; an entity under each page that links it;
2. block purging and filtering — :func:`cap_blocks` drops blocks
   larger than ``max_block`` (boilerplate shingles, celebrity
   neighbours: their pair fan-out is quadratic and their signal nil)
   and, with the default ``min_block=2``, blocks of one row, which
   can never witness a pair;
3. pairing — :func:`pairs_from_blocks` self-joins the blocks on the
   key into ``(a, b)`` rows with ``a < b``: a bucketed equi-join,
   never a cross join, whose largest key group is bounded by the cap;
4. verification — the caller joins its own scorer onto the pairs.

Builders persist an intermediate that feeds several plan branches;
:func:`materialize` is their one ``eager`` contract, and
:class:`CacheHandle` hands the caches of a lazy result back to the
caller. This module imports nothing from the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def _keys(key) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def cap_blocks(rows: DataFrame, key, max_block: int | None,
               min_block: int = 2) -> DataFrame:
    """The rows of ``rows`` whose ``key`` group (one column name or a
    list of them) holds ``min_block..max_block`` rows; ``max_block``
    None keeps every size. Rows are counted, so a caller that wants
    distinct ids per block passes distinct ``(key, id)`` rows."""
    keys = _keys(key)
    size = F.col("_block_size")
    keep = size >= min_block
    if max_block is not None:
        keep = keep & (size <= max_block)
    sized = rows.groupBy(*keys).agg(F.count("*").alias("_block_size"))
    return rows.join(sized.filter(keep).select(*keys), keys, "left_semi")


def pairs_from_blocks(rows: DataFrame, key, id_col: str) -> DataFrame:
    """One ``(a, b)`` row with ``a < b`` for each block two ids share:
    the within-block self equi-join on ``key``. ``rows`` must be
    distinct on ``(key, id_col)``; a pair then appears once per shared
    block, so callers finish with ``.distinct()`` (candidate set) or
    ``groupBy("a", "b").count()`` (overlap size)."""
    keys = _keys(key)
    left = rows.select(*keys, F.col(id_col).alias("a"))
    right = rows.select(*keys, F.col(id_col).alias("b"))
    return left.join(right, keys).filter(F.col("a") < F.col("b")).select(
        "a", "b")


class CacheHandle:
    """Explicit handle to the internal persisted dependencies of a
    lazy (``eager=False``) builder result. The builders persist an
    intermediate (signatures / LSH buckets / fingerprints) that feeds
    2-3 plan branches; the plan node is unreachable from the returned
    DataFrame, so the builder hands this handle back alongside it:
    ``pairs, caches = minhash_dedup_pairs(.., eager=False)``. Call
    :meth:`release` after the terminal action, or use it as a context
    manager. Idempotent. ``deps`` may mix DataFrames and other handles;
    a handle's DataFrames are taken over.

    (Round-4 attached the dependency list as a Python attribute on the
    returned DataFrame; any derived frame — filter/select/join —
    silently lost it and release became a no-op, leaking the cache for
    the session. An explicit handle survives arbitrary derivation —
    ADVICE r04.)"""

    def __init__(self, deps):
        self._deps = [
            d for x in deps
            for d in (x._deps if isinstance(x, CacheHandle) else [x])
        ]

    def release(self) -> None:
        while self._deps:
            self._deps.pop().unpersist()

    def __enter__(self) -> "CacheHandle":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def materialize(out: DataFrame, deps, eager: bool):
    """The builders' ``eager`` contract. ``eager=False``: the plan
    stays lazy and the result is ``(out, CacheHandle(deps))`` — call
    ``handle.release()`` after your terminal action. ``eager=True``:
    the small output is materialized with ``localCheckpoint`` and
    ``deps`` are released before returning, so repeated calls in a
    long-lived session cannot accumulate executor storage."""
    handle = CacheHandle(deps)
    if not eager:
        return out, handle
    with handle:
        return out.localCheckpoint(eager=True)
