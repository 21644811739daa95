"""Property tests (hypothesis): engine == oracle under arbitrary event
orderings, batch boundaries, and key/op mixes."""

from __future__ import annotations

import hashlib

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from rocket_etl_spark.lake.lookup import filtered_read, lookup
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import EVENTS_DDL, create_repo_files_table, replay_batch

_KEYS = [("r0", "a.py"), ("r0", "b.py"), ("r1", "a.py"), ("r1", "c.go"), ("r2", "z.rs")]


def _assert_lookups_match(table, ora):
    """Point lookups (driver-side pyarrow reads) equal the oracle's rows:
    every key probed at once, each key alone (live, deleted or never
    written) and an unknown key."""
    unknown = ("r9", "never.py")
    for probe in [[*_KEYS, unknown], *([k] for k in _KEYS), [unknown]]:
        got = lookup(table, probe).toPandas()
        want = ora[[(r, p) in probe for r, p in zip(ora["repo"], ora["path"])]]
        assert len(got) == len(want), (probe, got, want)
        if len(want):
            got = got.sort_values(["repo", "path"]).reset_index(drop=True)
            pd.testing.assert_frame_equal(
                got[ora.columns], want.reset_index(drop=True), check_dtype=False
            )


def _sql_lit(v):
    return f"'{v}'" if isinstance(v, str) else str(v)


def _assert_filters_match(table, ora, probes):
    """Zone-map-pruned reads equal the oracle filtered the same way: each
    ``(col, lo, hi)`` probe (either bound may be None) goes through
    ``filtered_read`` as a SQL predicate, once as ``col = v`` when the
    bounds are equal and once as a ``>=``/``<=`` range."""
    for col, lo, hi in probes:
        rng = [f"{col} >= {_sql_lit(lo)}"] * (lo is not None)
        rng += [f"{col} <= {_sql_lit(hi)}"] * (hi is not None)
        preds = [" AND ".join(rng)]
        if lo is not None and lo == hi:
            preds.append(f"{col} = {_sql_lit(lo)}")
        keep = pd.Series(True, index=ora.index)
        if lo is not None:
            keep &= ora[col] >= lo
        if hi is not None:
            keep &= ora[col] <= hi
        want = ora[keep].reset_index(drop=True)
        for pred in preds:
            got = filtered_read(table, pred).toPandas()
            assert len(got) == len(want), (pred, got, want)
            if len(want):
                got = got.sort_values(["repo", "path"]).reset_index(drop=True)
                pd.testing.assert_frame_equal(got[ora.columns], want, check_dtype=False)


@st.composite
def read_probes(draw):
    """Value predicates (``lang = v``, ``last_event_seq >= n``) and
    key-range predicates for ``_assert_filters_match``."""
    probes = []
    for _ in range(draw(st.integers(1, 3))):
        col = draw(st.sampled_from(["lang", "last_event_seq", "repo", "path"]))
        if col == "lang":
            v = draw(st.sampled_from(["python", "cpp", "go", "rust"]))
            probes.append((col, v, v))
        elif col == "last_event_seq":
            probes.append((col, draw(st.integers(0, 40)), None))
        else:
            vals = sorted({k[col == "path"] for k in _KEYS})
            lo = draw(st.none() | st.sampled_from(vals))
            hi = draw(st.sampled_from(vals)) if lo is None else draw(
                st.none() | st.sampled_from([v for v in vals if v >= lo])
            )
            probes.append((col, lo, hi))
    return probes


@st.composite
def event_log(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    for seq in range(n):
        k = draw(st.integers(0, len(_KEYS) - 1))
        op = draw(st.sampled_from(["upsert", "upsert", "upsert", "delete"]))
        repo, path = _KEYS[k]
        rows.append(
            {
                "event_seq": seq,
                "event_ts": pd.Timestamp("2020-01-01") + pd.Timedelta(seconds=seq),
                "op": op,
                "repo": repo,
                "path": path,
                "commit": hashlib.sha1(f"{seq}".encode()).hexdigest(),
                "lang": draw(st.sampled_from(["py", "Python", "C++", "go"])),
                "content": f"content-{repo}-{path}-v{seq}",
            }
        )
    # arbitrary arrival order + arbitrary batch boundaries + at-least-once
    # duplicate deliveries (same event replayed verbatim)
    perm = draw(st.permutations(range(n)))
    shuffled = [rows[i] for i in perm]
    for _ in range(draw(st.integers(0, 3))):
        shuffled.append(shuffled[draw(st.integers(0, len(shuffled) - 1))])
    m = len(shuffled)
    n_cuts = draw(st.integers(0, min(3, m - 1)))
    cuts = sorted(draw(st.sets(st.integers(1, m - 1), min_size=n_cuts, max_size=n_cuts))) if m > 1 else []
    bounds = [0, *cuts, m]
    return [shuffled[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1) if bounds[i] < bounds[i + 1]]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(batches=event_log(), probes=read_probes())
def test_any_order_any_batching_matches_oracle(spark, tmp_path_factory, batches, probes):
    tmp = tmp_path_factory.mktemp("prop")
    table = create_repo_files_table(spark, tmp / "t", num_buckets=4)
    pdfs = []
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdfs.append(pdf)
        df = spark.createDataFrame(pdf, EVENTS_DDL)
        replay_batch(table, df, epoch_id=i)
    eng = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle(pdfs)
    if len(ora) == 0:
        assert len(eng) == 0
    else:
        pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)
    _assert_lookups_match(table, ora)
    _assert_filters_match(table, ora, probes)


# ------------------------------------------------- round-2 property tests
@given(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=120),
)
@settings(max_examples=200, deadline=None)
def test_fence_encoding_is_exact(epochs):
    """{hwm, above} must encode EXACTLY the committed set under any commit
    order (duplicates included), with `above` bounded by the gap window."""
    from rocket_etl_spark.lake.table import fence_add

    fences: dict = {}
    committed: set = set()
    for e in epochs:
        fences = fence_add(fences, "app", e)
        committed.add(e)
        f = fences["app"]
        got = set(range(f["hwm"] + 1)) | set(f["above"])
        assert got == committed
        assert f["hwm"] + 1 not in set(f["above"])  # hwm fully advanced
        # 'above' never exceeds the number of distinct uncommitted gaps
        assert len(f["above"]) <= max(committed) - f["hwm"] if committed else True


@given(
    st.lists(
        st.lists(st.sampled_from(list("abcdefgh")), min_size=1, max_size=12),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([0.3, 0.5, 0.7]),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_filter_exact_on_random_corpora(spark, docs, threshold):
    """Prefix filtering must return EXACTLY the brute-force pair set for
    arbitrary token multisets and thresholds (unigram shingles)."""
    import pyspark.sql.functions as F

    from rocket_etl_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, " ".join(toks), "x") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, n=1, threshold=threshold).collect()
    }
    # brute force in plain python
    sets = {i: set(toks) for i, toks in enumerate(docs)}
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = max(len(sets[a] | sets[b]), 1)
                if round(inter / union, 4) >= threshold:
                    want.add((a, b))
    assert got == want


# ------------------------------------------------- round-5 property test
@st.composite
def maintenance_plan(draw):
    """Per-batch (write mode, post-batch maintenance action) pairs."""
    n = draw(st.integers(2, 4))
    plan = []
    for _ in range(n):
        mode = draw(st.sampled_from(["cow", "cow", "mor"]))
        action = draw(
            st.sampled_from(
                [
                    "none", "none", "evolve", "compact", "migrate", "expire",
                    "branch", "branch-drop",
                ]
            )
        )
        nb = draw(st.sampled_from([2, 3, 5, 8, 16]))
        plan.append((mode, action, nb))
    return plan


def _event(seq, lang, repo="r0", path="a.py"):
    """One upsert row shaped like ``event_log``'s."""
    return {
        "event_seq": seq,
        "event_ts": pd.Timestamp("2020-01-01") + pd.Timedelta(seconds=seq),
        "op": "upsert",
        "repo": repo,
        "path": path,
        "commit": hashlib.sha1(f"{seq}".encode()).hexdigest(),
        "lang": lang,
        "content": f"content-{repo}-{path}-v{seq}",
    }


# A late merge-on-read epoch re-delivers an older order of a key whose
# winner sits in a copy-on-write base file (under the current layout, or
# under a retired one after ``evolve``), and the probe matches only the
# stale row's value: the planner's delta-safety rules decide the answer.
_LATE_STALE_MOR = [[_event(10, "Python")], [_event(5, "go")]]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(batches=event_log(), plan=maintenance_plan(), probes=read_probes())
@example(
    batches=_LATE_STALE_MOR,
    plan=[("cow", "none", 2), ("mor", "none", 2)],
    probes=[("lang", "go", "go")],
)
@example(
    batches=_LATE_STALE_MOR,
    plan=[("cow", "evolve", 2), ("mor", "none", 2)],
    probes=[("lang", "go", "go")],
)
def test_chaos_maintenance_interleavings_match_oracle(
    spark, tmp_path_factory, batches, plan, probes
):
    """Arbitrary interleavings of COW/MOR merges with bucket-spec
    evolution, compaction (plain + bulk-migrate), and aggressive snapshot
    expiry must still converge to the pure-SQL LWW oracle — physical
    layout and maintenance scheduling can never change the logical state,
    and point lookups and zone-map-pruned reads answer from the same
    state."""
    from rocket_etl_spark.lake.maintenance import (
        compact,
        evolve_buckets,
        expire_snapshots,
    )

    from rocket_etl_spark.lake.branch import (
        branch_table,
        create_branch,
        drop_branch,
        publish_branch,
    )

    tmp = tmp_path_factory.mktemp("chaos")
    table = create_repo_files_table(spark, tmp / "t", num_buckets=4)
    pdfs = []
    for i, rows in enumerate(batches):
        mode, action, nb = plan[i % len(plan)]
        pdf = pd.DataFrame(rows)
        df = spark.createDataFrame(pdf, EVENTS_DDL)
        if action == "branch":
            # the epoch arrives via a staged branch + atomic publish —
            # must be indistinguishable from a direct merge
            create_branch(table, f"b{i}")
            replay_batch(branch_table(table, f"b{i}"), df, epoch_id=i, mode=mode)
            publish_branch(table, f"b{i}")
            pdfs.append(pdf)
            continue
        if action == "branch-drop":
            # staged but dropped: the epoch must leave NO trace in state
            create_branch(table, f"d{i}")
            replay_batch(branch_table(table, f"d{i}"), df, epoch_id=i, mode=mode)
            drop_branch(table, f"d{i}")
            continue  # deliberately NOT in the oracle's delivered set
        pdfs.append(pdf)
        replay_batch(table, df, epoch_id=i, mode=mode)
        if action == "evolve":
            try:
                evolve_buckets(table, nb)
            except ValueError:  # un-folded MOR deltas: fold, then evolve
                compact(table, min_files=1)
                evolve_buckets(table, nb)
        elif action == "compact":
            compact(table)
        elif action == "migrate":
            compact(table, migrate_legacy=True)
        elif action == "expire":
            expire_snapshots(table, keep_last=1, orphan_min_age_s=0.0)
    eng = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle(pdfs)
    if len(ora) == 0:
        assert len(eng) == 0
    else:
        pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)
    _assert_lookups_match(table, ora)
    _assert_filters_match(table, ora, probes)
