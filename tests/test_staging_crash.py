"""Failure injection for the BATCH executor's staged table swap
(round-9 VERDICT item 5 — the streaming maintainers' kill-restart
proofs, applied to FileCatalog.write_table).

Law: a kill at ANY point of the swap leaves the table readable as
either the OLD contents or the NEW contents — never neither, never a
mix — for Parquet, CSV and JSON catalogs alike; and the next sync (or
even just the next read) heals the layout and converges. The swap is
``layout.swap_write``'s two-rename ``__old__`` protocol; the one window
where the path is momentarily absent (between the renames) is healed by
``layout.recover``, which runs whenever the table is resolved or written.
"""

import os

import pytest

from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.sources.catalog import FileCatalog

FMTS = ("parquet", "csv", "json")


def _mk(spark, tmp_path, fmt, tag, rows):
    d = tmp_path / f"{fmt}_{tag}"
    d.mkdir()
    cat = FileCatalog(spark, str(d), pk_map={"t": ("k",)}, fmt=fmt)
    df = spark.createDataFrame(rows, "k long, v string")
    df.write.format(fmt).options(
        **cat.write_options
    ).save(cat.table_path("t"))
    return cat


OLD = [(i, f"old-{i}") for i in range(20)]
NEW = [(i, f"new-{i}") for i in range(25)]


def _read(cat):
    cat.invalidate()
    return sorted(
        (r["k"], r["v"])
        for r in cat.table("t").df.select("k", "v").collect()
    )


def _norm(rows):
    return sorted((int(k), v) for k, v in rows)


class Boom(RuntimeError):
    pass


@pytest.mark.parametrize("fmt", FMTS)
@pytest.mark.parametrize("window", ["staged", "old_moved", "swapped"])
def test_kill_in_every_swap_window_is_old_or_new(
    spark, tmp_path, fmt, window
):
    cat = _mk(spark, tmp_path, fmt, window, OLD)
    new_df = spark.createDataFrame(NEW, "k long, v string")

    def hook(stage):
        if stage == window:
            raise Boom(stage)

    cat._crash_hook = hook
    with pytest.raises(Boom):
        cat.write_table(new_df, "t")
    cat._crash_hook = None
    got = _norm(_read(cat))
    # old-or-new, per window: before the swap -> OLD; between the
    # renames -> OLD (restored by layout.recover); after -> NEW
    want = _norm(NEW) if window == "swapped" else _norm(OLD)
    assert got == want, window
    # the layout healed: a clean write then reads NEW with no residue
    cat.write_table(new_df, "t")
    assert _norm(_read(cat)) == _norm(NEW)
    path = cat.table_path("t")
    assert not os.path.exists(path + ".__old__")


@pytest.mark.parametrize("fmt", FMTS)
def test_sync_after_kill_converges(spark, tmp_path, fmt):
    """Executor-level: a kill mid-swap during a real sync's write, then
    a plain re-run, must converge slave == master."""
    master = _mk(spark, tmp_path, fmt, "m", NEW)
    slave = _mk(spark, tmp_path, fmt, "s", OLD)

    def hook(stage):
        if stage == "old_moved":
            raise Boom(stage)

    slave._crash_hook = hook
    rep = sync(master, slave)
    assert not rep.ok  # the injected kill surfaced as a unit error
    slave._crash_hook = None
    rep2 = sync(master, slave)
    assert rep2.ok, [r.error for r in rep2.results if r.error]
    assert _norm(_read(slave)) == _norm(_read(master)) == _norm(NEW)
