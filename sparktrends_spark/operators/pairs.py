"""Candidate-pair generation for LSH families (MinHash bands, SimHash
blocks, hyperplane tables) without a global DISTINCT.

OR-amplified LSH emits a candidate pair once per band/table the two
items collide in; naive generation explodes (id, band, key) and
DISTINCTs the joined pairs. At 100 TB the candidate-pair set is the
largest frame in the whole dedup query, and that DISTINCT is a full
exchange of it.

``first_collision_pairs`` removes it: band t emits a pair iff the two
ids collide in t and in NO earlier band (equi-join keyed on band t's
hash with earlier-bands-differ join filters, unioned over bands). The
emitted pair set is identical to DISTINCT-over-all-bands — each pair
appears exactly once, attributed to its first colliding band — but
dedup happens inside each bucket-keyed hash join, so candidate pairs
are never shuffled again after generation. It also lets the join carry
small per-item payloads (sketches, vectors, norms) straight into the
verify stage, skipping the attach-by-id joins the DISTINCT path forces
(payloads must never ride through a distinct).

Cost model: the base frame is one row per item carrying all L band
keys (never exploded), so the extra predicate work is O(L) column
compares per joined pair — tiny next to a pair-set exchange. Keys must
be non-null (a null key would silently drop its row from every
band's predicate); LSH hashes are by construction.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame

#: Column-name prefix the base frame must use for its band keys.
KEY_PREFIX = "_k"


def _internal_drop_temp_view(spark, name: str) -> None:
    """Drop a temp view's NAME BINDING only, via SessionCatalog.

    Factored out so tests can monkeypatch the internal surface away
    and exercise ``transient_views``' public-API fallback."""
    jss = spark._jsparkSession  # type: ignore[attr-defined]
    jss.sessionState().catalog().dropTempView(name)


@contextmanager
def transient_views(*frames: DataFrame) -> Iterator[list[str]]:
    """Register uuid-named temp views for ``frames``, dropping them on
    exit WITHOUT uncaching: the public ``Catalog.dropTempView`` also
    uncaches any cached plan equal to the view's, which would silently
    unpersist a caller's pinned frame (measured as a 3x bench
    regression on doc_minhash_pairs). The SessionCatalog drop removes
    only the name binding; if that internal surface moves, the fallback
    drops through the public API and then RE-PERSISTS any frame whose
    pin the drop stole (the data re-materializes once on next use
    instead of once per downstream reference — the perf cliff shrinks
    to a single recompute, and correctness is unaffected either way).
    The re-persist covers only the frames passed in: a frame the
    caller built FROM a view and cached inside the block can also lose
    its pin to that cascade, and it is not restored. ``spark.sql``
    analyzes eagerly, so frames built inside the block stay valid
    after the views are gone."""
    spark = frames[0].sparkSession
    names = [f"_tv_{uuid.uuid4().hex}" for _ in frames]
    for df, name in zip(frames, names):
        df.createOrReplaceTempView(name)
    try:
        yield names
    finally:
        for df, name in zip(frames, names):
            try:
                _internal_drop_temp_view(spark, name)
            except Exception:  # defensive fallback (tested)
                level = df.storageLevel
                spark.catalog.dropTempView(name)
                if (level.useMemory or level.useDisk) and not (
                    df.storageLevel.useMemory or df.storageLevel.useDisk
                ):
                    df.persist(level)


def first_collision_pairs(
    base: DataFrame,
    n_bands: int,
    id_col: str,
    out_ids: tuple[str, str] = ("doc_a", "doc_b"),
    carry: Sequence[tuple[str, str, str]] = (),
) -> DataFrame:
    """Emit each colliding (smaller id, larger id) pair exactly once.

    ``base``: one row per item with band-key columns ``_k0.._k{L-1}``
    plus ``id_col`` and any payload columns. ``carry`` lists
    ``(payload_col, a_alias, b_alias)`` to project both sides' payloads
    into the output. Catalyst extracts the band-key equality as the
    hash-join key and evaluates the id/earlier-band predicates as join
    filters — each branch stays a hash join, never a loop join.

    The whole L-branch union builds through ONE ``spark.sql`` call over
    a transient view of ``base``: one parse + one analysis pass instead
    of ~5 DataFrame ops per band, each a py4j round trip re-analyzing a
    growing tree (guide §5, the driver should do almost no work;
    measured 0.16 s → 0.06 s per warm minhash-shaped build on this
    box). The view is dropped before returning — ``spark.sql`` analyzes
    eagerly, so the returned frame no longer needs it. Catalyst trees
    are identical to the per-band join/selectExpr chain modulo
    expression ids (UNION ALL by position == unionByName here: every
    branch projects the same names in the same order).
    """
    with transient_views(base) as (view,):
        parts = []
        for t in range(n_bands):
            conds = [
                f"_fca.`{KEY_PREFIX}{t}` = _fcc.`{KEY_PREFIX}{t}`",
                f"_fca.`{id_col}` < _fcc.`{id_col}`",
            ]
            conds += [
                f"_fca.`{KEY_PREFIX}{s}` != _fcc.`{KEY_PREFIX}{s}`"
                for s in range(t)
            ]
            sel = [
                f"_fca.`{id_col}` AS `{out_ids[0]}`",
                f"_fcc.`{id_col}` AS `{out_ids[1]}`",
            ]
            for payload, alias_a, alias_b in carry:
                sel += [
                    f"_fca.`{payload}` AS `{alias_a}`",
                    f"_fcc.`{payload}` AS `{alias_b}`",
                ]
            parts.append(
                f"SELECT {', '.join(sel)}\n"
                f"FROM `{view}` _fca JOIN `{view}` _fcc"
                f" ON {' AND '.join(conds)}"
            )
        return base.sparkSession.sql("\nUNION ALL\n".join(parts))
