"""Session-configurable materialization of multiply-consumed subtrees.

Operators in this package pin intermediates — signature frames, pair
lists, classify keys, loop-invariant edge lists — so that N downstream
consumers do not re-execute the producing subtree N times (guide §5:
materialize to truncate duplicated subtrees; AQE's broadcast
conversions defeat the ReusedExchange sharing these shapes historically
relied on). The default mechanism is ``localCheckpoint``: cheap, no
cache-manager registration, blocks freed by the ContextCleaner when the
frame is collected.

``localCheckpoint`` stores blocks on executor-local disk with TRUNCATED
lineage: on a multi-node cluster, losing one executor mid-query makes
the pinned RDD unrecoverable (no recompute path) — the guide blesses it
only "when fault tolerance of that intermediate is not critical"
(§5). At 100 TB that is a policy decision, not an operator decision
(VERDICT r12 item 3), so every pin site routes through :func:`pin`,
governed by one session conf:

``mysql_syncer_spark.pin_mode``
    * ``local`` (default) — ``localCheckpoint``; right for single-node
      / bench / short jobs where executor loss means job loss anyway.
    * ``reliable`` — ``DataFrame.checkpoint`` into the session's
      checkpoint directory (HDFS/object store at scale): the pinned
      intermediate survives executor loss. Requires a checkpoint dir:
      ``SparkContext.setCheckpointDir`` or the conf
      ``mysql_syncer_spark.checkpoint_dir`` (read once per session on
      first use).
    * ``off`` — no materialization: consumers recompute the subtree
      (values unchanged — pins are placement/latency only). The
      at-scale escape hatch when recomputation is cheaper than
      persisting an intermediate, and the A/B lever for measuring what
      a pin buys. Sites that REQUIRE materialization for correctness
      (staging a frame that is about to overwrite its own input path;
      freezing a non-deterministic draw) pass ``required=True`` and
      keep a local pin even in ``off`` mode.

Values are mode-independent by contract: every pinned subtree is either
deterministic or consumed only once per action path; the dedup-pipeline
equivalence across all three modes is pytest-gated
(tests/test_pin_modes.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: session conf key selecting the pin mechanism
PIN_MODE_CONF = "mysql_syncer_spark.pin_mode"
#: optional session conf naming the reliable-checkpoint directory
CHECKPOINT_DIR_CONF = "mysql_syncer_spark.checkpoint_dir"

_MODES = ("local", "reliable", "off")


def pin_mode(df: DataFrame) -> str:
    """The effective pin mode of ``df``'s session (default ``local``)."""
    try:
        mode = df.sparkSession.conf.get(PIN_MODE_CONF, "local")
    except Exception:
        return "local"
    if mode not in _MODES:
        raise ValueError(
            f"{PIN_MODE_CONF} must be one of {_MODES}, got {mode!r}"
        )
    return mode


def pin(df: DataFrame, eager: bool = True, required: bool = False) -> DataFrame:
    """Materialize ``df`` per the session's pin mode (module docstring).

    ``eager=False`` defers materialization to the first action that
    computes the frame (the lazy fold-chain idiom). ``required=True``
    marks a correctness pin (staging / non-determinism freeze): it is
    never skipped — ``off`` mode downgrades it to a local pin rather
    than dropping it.
    """
    mode = pin_mode(df)
    if mode == "off" and not required:
        return df
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            ckpt = df.sparkSession.conf.get(CHECKPOINT_DIR_CONF, None)
            if not ckpt:
                raise ValueError(
                    f"{PIN_MODE_CONF}=reliable needs a checkpoint dir: "
                    f"call SparkContext.setCheckpointDir or set "
                    f"{CHECKPOINT_DIR_CONF}"
                )
            sc.setCheckpointDir(ckpt)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
