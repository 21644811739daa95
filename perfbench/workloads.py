"""Workload definitions, input staging and the fixed op schedule.

A workload is a write mode plus a compaction interval; the sizes are
shared module constants.  Everything a run does is decided
here before the first timed op, from the workload, ``--seed`` and
``--seconds`` alone: the event stream, how it is cut into delivery
epochs, which keys each lookup probes and where the scans, filtered
reads and compactions fall.  Nothing depends on the clock or on the
host's core count.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow.dataset as pa_ds
import pyspark.sql.functions as F

from rocket_etl_spark.generate import change_events


# Both workloads apply the same seeded stream: a 40k-event base (about
# 28k live keys after LWW) and 2k-event epochs, over 200 repos x 1000
# paths with power-law repo skew and 5% deletes.  Delivery runs up to
# SHUFFLE_BOUND positions out of order, so epochs overlap.  Sized so that
# set-up plus about 20 s of ops keeps a run under one minute.
BASE_EVENTS = 40_000
EPOCH_EVENTS = 2_000
SHUFFLE_BOUND = 1_500
N_REPOS, PATHS_PER_REPO = 200, 1_000
MAX_CONTENT_BLOCKS = 12  # content is 70..~800 chars
NUM_BUCKETS = 8
LOOKUPS_PER_EPOCH, KEYS_PER_LOOKUP = 2, 4
FILTER_EPOCHS_BACK = 2  # the filtered read returns rows changed in the last 2 epochs
# Warm-up rounds of the op mix (one epoch's ops each) on a throwaway
# copy of the loaded base.  After one round the first two timed MOR
# commits still ran 30-50% slower than the last ones (JIT warm-up);
# after two they were level.  A round costs about as much as a timed
# epoch, so a run has one timed epoch fewer for it.
WARMUP_ROUNDS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str  # merge_batch write mode: "cow" or "mor"
    # sizes the epoch count only: an epoch with its reads and its share of
    # compaction took 3.5-5.5 s on a 4-core host, depending on its load
    epoch_s_estimate: float
    compact_every: int  # compact() after every Nth epoch


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # copy-on-write: per-commit fixed cost and keep-side file growth
        Workload("trickle_cow", "cow", epoch_s_estimate=4.8, compact_every=3),
        # merge-on-read: cheap commits, reads reconcile base with deltas
        Workload("trickle_mor", "mor", epoch_s_estimate=4.8, compact_every=2),
    )
}


@dataclass(frozen=True)
class Op:
    kind: str  # commit | lookup | filter | scan | compact
    epoch: int  # trickle epoch this op follows (its delivery prefix)
    keys: tuple = ()  # lookup probe keys
    since: int = 0  # filter threshold on last_event_seq


def n_epochs(w: Workload, seconds: int) -> int:
    """Epochs in the timed section: sized from the op-cost estimate so a
    run measures about ``seconds`` on the reference host, but fixed by
    the arguments so two runs apply exactly the same schedule."""
    return max(w.compact_every, int(seconds / w.epoch_s_estimate + 0.5))


def stage_events(
    spark, seed: int, epochs: int, stage_dir: Path
) -> tuple[dict[int, int], dict[int, list[tuple]]]:
    """Generate the run's event stream and write it partitioned by
    delivery epoch (``_ep=-1`` is the base load, ``0..epochs-1`` the
    trickle).  Epochs are cut by ``delivery_order``, so an event can
    arrive in a later epoch than a newer event for the same key.

    Returns the events per epoch and, per epoch, a seeded ~2% sample of
    the keys delivered in it: the pool lookups draw from.  Deleted and
    overwritten keys stay in the pool, so lookups also probe keys that
    must return nothing."""
    total = BASE_EVENTS + epochs * EPOCH_EVENTS
    ev = change_events(
        spark, total, seed=seed, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
        shuffle_bound=SHUFFLE_BOUND, max_content_blocks=MAX_CONTENT_BLOCKS,
    )
    pos = F.col("delivery_order") - F.lit(BASE_EVENTS)
    ep = F.when(pos < 0, F.lit(-1)).otherwise(
        F.least(F.lit(epochs - 1), F.floor(pos / F.lit(EPOCH_EVENTS)))
    )
    ev = ev.withColumn("_ep", ep.cast("int"))
    ev.repartition("_ep").write.partitionBy("_ep").parquet(str(stage_dir))

    # index the staged files driver-side: a Spark job here would cost
    # seconds of the run's budget for 50k tiny rows
    staged = pa_ds.dataset(
        stage_dir, format="parquet", partitioning="hive",
        ignore_prefixes=[".", "_SUCCESS"],  # the default "_" would drop the _ep= dirs
    )
    cols = staged.to_table(columns=["_ep", "event_seq", "repo", "path"]).to_pydict()
    rows = sorted(zip(cols["event_seq"], cols["_ep"], cols["repo"], cols["path"]))
    counts: dict[int, int] = {}
    pool: dict[int, list[tuple]] = {}
    rng = random.Random(seed)
    for _, e, repo, path in rows:
        counts[e] = counts.get(e, 0) + 1
        if rng.random() < 0.02:
            pool.setdefault(e, []).append((repo, path))
    return counts, pool


def schedule(w: Workload, seed: int, epochs: int, pool: dict[int, list[tuple]]) -> list[Op]:
    """The closed-loop op sequence.  After each epoch's commit come its
    point lookups (half the keys from the epoch just delivered, the rest
    from earlier epochs and the base), then a "changed since" filtered
    read over the last two epochs and a full scan; every
    ``compact_every`` epochs a compaction."""
    rng = random.Random(seed)
    ops: list[Op] = []
    for i in range(epochs):
        ops.append(Op("commit", i))
        older = [k for e in range(-1, i) for k in pool.get(e, ())]
        recent = pool.get(i, []) or older
        for _ in range(LOOKUPS_PER_EPOCH):
            half = KEYS_PER_LOOKUP // 2
            keys = rng.sample(recent, half) + rng.sample(older, KEYS_PER_LOOKUP - half)
            ops.append(Op("lookup", i, keys=tuple(keys)))
        since = BASE_EVENTS + max(0, i + 1 - FILTER_EPOCHS_BACK) * EPOCH_EVENTS
        ops.append(Op("filter", i, since=since))
        ops.append(Op("scan", i))
        if (i + 1) % w.compact_every == 0:
            ops.append(Op("compact", i))
    return ops
