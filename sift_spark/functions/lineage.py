"""Lineage cuts for the iterative operators (CC, label loops).

Every iterative operator must truncate lineage once per round —
otherwise the logical plan grows by a join per round and Catalyst
re-analysis dominates the round cost (measured at sf0.1: the CC
rounds were plan-analysis-bound, not shuffle-bound). :func:`cut` is
the one sanctioned way to do it, and it encodes two decisions:

**No separate count job per round.** ``localCheckpoint(eager=True)``
runs its own count job, and the loop's convergence probe then runs
another job over the materialized blocks; at small scale scheduled
jobs ARE the floor (the sf0.1 CC family measured 33-39 jobs/query).
``cut`` defaults to ``eager=False``: the caller's probe aggregate
becomes the materializing action, the checkpoint blocks are written
as a side effect of the job the loop was already running, and lineage
is truncated when it completes. The lazy form still schedules work at
the call: the checkpoint builds the frame's RDD there, and under AQE
that plans the final physical plan, which runs every shuffle stage of
the frame at the call (one job each). Only the last stage, the one
that writes the blocks, waits for the probe. Measured in the
pipeline's ``duplicate_clusters``: 5 jobs inside the edge-list cut,
then 2 more in its gate ``count()``. Contract for the lazy form:
the cut frame's FIRST action must be a single full-scan consumer (the
probe aggregate). A frame consumed by multiple racing stages before
any full materialization would compute its partitions more than once
— those call sites (the initial edge list, multi-consumer artifacts)
pass ``eager=True``.

**A fault-tolerant mode for real clusters.** ``localCheckpoint``
stores blocks on executors with NO lineage to rebuild them: on a
1000-executor cluster an executor loss makes the blocks unrecoverable
and fails the query mid-iteration — routine at 100 TB, invisible in
``local[*]``. Setting the session conf ``spark.sift.checkpoint`` to
``reliable`` switches every iterative operator to reliable
``DataFrame.checkpoint()`` into ``spark.sift.checkpoint.dir`` (any
Hadoop-visible path — HDFS/S3 on a cluster; defaults to a local temp
dir so single-node runs work out of the box). Reliable checkpoints
survive executor loss: the cost is the checkpoint write itself plus
Spark's recompute-for-write (the checkpointed RDD is computed once
for the job and once more when the files are written — the documented
``RDD.checkpoint`` behavior), so it is the scale/robustness setting,
not the small-SF speed setting. Output is bit-identical in both modes
(tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CHECKPOINT_MODE_CONF = "spark.sift.checkpoint"
CHECKPOINT_DIR_CONF = "spark.sift.checkpoint.dir"


def checkpoint_mode(spark) -> str:
    mode = spark.conf.get(CHECKPOINT_MODE_CONF, "local")
    if mode not in ("local", "reliable"):
        raise ValueError(
            f"{CHECKPOINT_MODE_CONF}={mode!r}: expected 'local' or 'reliable'"
        )
    return mode


def _single_machine_master(master: str) -> bool:
    """True when every executor shares the driver's filesystem —
    ``local[...]`` and ``local-cluster[...]`` only. On any real
    cluster master (spark://, yarn, k8s://) a driver-local temp dir
    would be written per-machine and be UNREADABLE by a relaunched
    executor on another host — silently voiding the executor-loss
    guarantee reliable mode exists for, so we refuse to default it."""
    return master.startswith("local[") or master.startswith("local-cluster[")


def _ensure_checkpoint_dir(spark) -> None:
    sc = spark.sparkContext
    try:
        current = sc.getCheckpointDir()
    except AttributeError:  # older pyspark
        opt = sc._jsc.sc().getCheckpointDir()
        current = opt.get() if opt.isDefined() else None
    if current:
        return
    configured = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if not configured:
        if not _single_machine_master(sc.master):
            raise ValueError(
                f"{CHECKPOINT_MODE_CONF}=reliable on master {sc.master!r} "
                f"requires {CHECKPOINT_DIR_CONF} to point at shared "
                "storage (HDFS/S3): a driver-local temp dir is not "
                "visible to relaunched executors on other hosts, which "
                "defeats the recovery guarantee"
            )
        import tempfile

        configured = tempfile.mkdtemp(prefix="sift-spark-ckpt-")
    sc.setCheckpointDir(configured)


def cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage per the session checkpoint mode.

    ``eager=False`` (the loop default): under AQE the frame's shuffle
    stages run here; the caller's next action (its convergence probe)
    runs the last stage and writes the blocks. Only valid when that
    next action is a single full-scan consumer — see the module
    docstring. ``eager=True``: materialize immediately (multi-consumer
    frames, one-off cuts outside loops).

    In ``reliable`` mode the cut is always eager: a lazy reliable
    checkpoint would leave the pre-cut lineage live inside the probe
    job and recompute it again at write time; eager keeps the write
    adjacent to the materialization and the failure semantics simple.
    """
    spark = df.sparkSession
    if checkpoint_mode(spark) == "reliable":
        _ensure_checkpoint_dir(spark)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)
