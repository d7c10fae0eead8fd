"""SQL surface: the engine's planes as temp views + rewrite-aware spark.sql.

The reference exposes its query surface as gRPC RPCs (grpcinterface/
serve.go); the idiomatic Spark equivalent of "a surface every client can
hit" is SQL text over registered views. This module provides both halves:

- ``register_views(db)`` registers

  * ``{prefix}_points``       — the MVCC (uuid, time, value) snapshot at the
    registration-time store version. Repeatable read: the view is pinned to
    that version even as new inserts commit (quasar.go:241-270's
    read-at-version semantics); call ``register_views`` again to advance.
    With ``include_buffers=True`` (default) each uncommitted write buffer is
    union-merged in, so SQL reads are read-your-writes like every facade
    read path (pqm.go:434-476).
  * ``{prefix}_streams``      — live metadata registry rows (uuid,
    collection, tags, annotations, annotation_version).
  * ``{prefix}_rollup_pw{L}`` — each materialized rollup-ladder level
    (uuid, bucket, vmin, vsum[, vq], vmax, cnt), for users who want to
    aggregate pre-reduced rows by hand.

- ``sql(db, text)`` (also ``BTrDB.sql``) runs ``spark.sql(text)`` and, when
  the analyzed plan is the canonical aligned-stat aggregate over the points
  view, serves it from the best materialized ladder level via
  plans.rewrite.rewrite_aligned_stat — the reference's transparent
  stored-aggregate descent (qtree/qtree.go:925-947) for SQL text. The
  rewrite is skipped whenever it could be inexact:

  * the queried stream has an uncommitted buffer (ladder holds committed
    data only — same guard as BTrDB.aligned_windows);
  * the store has committed past the registered view's version (the ladder
    tracks latest-committed; the view is pinned older);
  * the plan is not provably canonical (any other SQL passes through
    untouched).

Canonical aligned-stat SQL shape (2**pw-aligned start/end, aggregates
aliased — see plans/rewrite.py for why each constraint exists)::

    SELECT shiftleft(shiftright(time, 38), 38) AS t,
           min(value) AS vmin, avg(value) AS vmean,
           max(value) AS vmax, count(value) AS cnt
    FROM btrdb_points
    WHERE uuid = 'click' AND time >= {s} AND time < {e}
    GROUP BY shiftleft(shiftright(time, 38), 38)

The fleet (dashboard) shape is served too: ``GROUP BY uuid, <bucket>`` with
``uuid IN (...)`` or no uuid predicate at all routes to the chunk-pruned
whole-level scan (serve_aligned_all), guarded by ANY relevant stream's
uncommitted buffer.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, List

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from btrdb_server_spark.api import BTrDB


def register_views(
    db: "BTrDB", prefix: str = "btrdb", include_buffers: bool = True
) -> List[str]:
    """Register the engine's planes as temp views (see module docstring).
    Returns the registered view names. Safe to call repeatedly — each call
    re-pins ``{prefix}_points`` to the current store version."""
    names: List[str] = []
    pts = db.store.points_at(None)
    if include_buffers:
        for u in list(db._buffers):
            bdf = db._buffer_df(u)
            if bdf is not None:
                pts = pts.unionByName(bdf)
    pts.createOrReplaceTempView(f"{prefix}_points")
    names.append(f"{prefix}_points")

    db.registry.live_df().createOrReplaceTempView(f"{prefix}_streams")
    names.append(f"{prefix}_streams")

    if db.ladder is not None:
        for pw in db.ladder.levels:
            if db.ladder.has_level(pw):
                db.ladder.level(pw).createOrReplaceTempView(f"{prefix}_rollup_pw{pw}")
                names.append(f"{prefix}_rollup_pw{pw}")

    # The rewrite in sql() is exact only while the ladder (latest committed)
    # and the pinned view describe the same version.
    db._sql_view_version = db.store.version
    return names


def sql(db: "BTrDB", text: str) -> DataFrame:
    """``spark.sql(text)`` with transparent ladder serving for canonical
    aligned-stat aggregations (module docstring); every other statement is
    returned exactly as Spark analyzed it."""
    run = getattr(db.spark, "_btrdb_sql_orig", None) or db.spark.sql
    return _maybe_rewrite(db, run(text))


def _maybe_rewrite(db: "BTrDB", df: DataFrame) -> DataFrame:
    """Serve an analyzed DataFrame from the rollup ladder when (and only
    when) the rewrite is provably exact — the guard set shared by
    ``db.sql()`` and the plain-``spark.sql`` hook."""
    if db.ladder is None:
        return df
    if getattr(db, "_sql_view_version", None) != db.store.version:
        return df  # view pinned to an older version than the ladder serves
    from btrdb_server_spark.plans.rewrite import _match_shape, rewrite_aligned_stat

    m = _match_shape(df)
    if m is None:
        return df  # non-canonical: pass through untouched
    buffered = (
        any(db._buffers.values())  # fleet over every stream
        if m["uuids"] is None
        else any(db._buffers.get(u) for u in m["uuids"])
    )
    if buffered:
        return df  # buffered stream(s): the raw view (buffer merged) is the truth
    return rewrite_aligned_stat(df, db.ladder)


def install_sql_hook(db: "BTrDB", prefix: str = "btrdb") -> None:
    """Make PLAIN ``spark.sql(text)`` on this session transparently serve
    canonical aligned-stat aggregations from the rollup ladder — no
    ``db.sql()`` routing required.

    This is the pure-Python analog of a Catalyst extension rule: a
    production JVM deployment would register exactly plans/rewrite.py's
    analyzed-plan match via ``SparkSessionExtensions.injectOptimizerRule``
    (Scala class on the classpath, which a Python-only build cannot ship).
    Here the session HANDLE's ``sql`` entry point is wrapped instead — an
    instance attribute shadowing the class method, so every caller holding
    this SparkSession gets the rewrite, while other sessions (and the
    original method, kept at ``spark._btrdb_sql_orig``) are untouched.
    The wrapped path applies the same exactness guards as ``db.sql()``
    (canonical shape, aligned bounds, version-pinned views, no uncommitted
    buffers) and passes every other statement through byte-identical.

    Idempotent; re-installing rebinds the hook to the given facade.
    Registers/refreshes the temp views as a side effect (the rewrite's
    exactness contract needs the view pinned to the current version)."""
    register_views(db, prefix)
    spark = db.spark
    orig = getattr(spark, "_btrdb_sql_orig", None) or spark.sql

    def hooked_sql(text, *args, **kwargs):
        if args or kwargs:  # parameterized/kwargs forms: pass through
            return orig(text, *args, **kwargs)
        return _maybe_rewrite(db, orig(text))

    spark._btrdb_sql_orig = orig
    spark.sql = hooked_sql


def uninstall_sql_hook(spark) -> None:
    """Restore the session's original ``sql`` method (no-op if unhooked)."""
    orig = getattr(spark, "_btrdb_sql_orig", None)
    if orig is not None:
        del spark.sql  # remove the instance shadow; class method resumes
        del spark._btrdb_sql_orig
