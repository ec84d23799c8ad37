"""asof_stable_version window reduction ≡ the reference reader's
LITERAL sequential securing fold (wikipedia_history_reader.py:233-299
+ end-of-stream finalization :370-383), re-implemented step by step
below and compared on randomized revision streams.

This is the strongest parity proof for the one genuinely temporal
operator: the Spark side is prefix-max window algebra, the oracle is
the stateful per-revision walk with prev/secured/max_time_lapse
tracking exactly as the reference writes it.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F

DAY = 86400


def _reference_fold(revs: list[datetime], cut: datetime, min_days: int, look_back: int):
    """The reader's per-(page, cut) state machine, literally.

    revs: revision timestamps sorted ascending (distinct).
    Returns the secured revision ts (or None if the page has no
    revision ≤ cut)."""
    prev = None            # prev_revision_date
    secured = None         # secured_revision_date
    field = None           # field_revision_date (last processed)
    mtb = 0.0              # max_time_lapse_between_revisions

    for ts in revs:
        in_cut = ts <= cut
        # processing condition (reader:239-244): rev ≤ cut OR prev ≤ cut
        if not (in_cut or (prev is not None and prev <= cut)):
            continue
        if prev is None:
            # first one: puts it anyway (:246-255)
            secured = ts
            field = ts
            prev = ts
            continue
        lapse_from_cut_days = (cut - ts).days  # timedelta.days truncates
        if lapse_from_cut_days > look_back:
            # branch 1 (:262-272): old at cut → secure current
            # (current is ≤ cut here by construction: lapse > 0)
            secured = ts
            field = ts
            prev = ts
        else:
            # else branch (:280-299): check PREV's lifetime
            lapse = (ts - prev).total_seconds()
            if lapse > mtb or (lapse / DAY) >= min_days:
                secured = prev
                mtb = max(lapse, mtb)
            field = ts
            prev = ts

    # end-of-stream finalization (:370-383)
    if prev is not None:
        lapse_to_cut = (cut - prev).total_seconds()
        if mtb > 0.0 and (mtb <= lapse_to_cut or (lapse_to_cut / DAY) >= min_days):
            secured = field
    return secured


def test_asof_matches_reference_fold_randomized(spark):
    from tempel_spark.operators.asof import asof_stable_version

    rng = random.Random(11)
    base = datetime(2020, 1, 1)
    cuts = [datetime(2021, 1, 1), datetime(2022, 1, 1)]
    min_days, look_back = 7, 30

    rows = []
    expected = {}
    for key in range(60):
        n = rng.randint(1, 12)
        # gaps from hours to ~4 months, stream may cross the cuts
        ts_list = []
        t = base + timedelta(days=rng.uniform(0, 500))
        for _ in range(n):
            ts_list.append(t)
            t = t + timedelta(seconds=rng.randint(3600, 120 * DAY))
        ts_list = sorted(set(ts_list))
        for ts in ts_list:
            rows.append((f"k{key:03d}", ts))
        for cut in cuts:
            ref = _reference_fold(ts_list, cut, min_days, look_back)
            if any(ts <= cut for ts in ts_list):
                expected[(f"k{key:03d}", cut)] = ref

    df = spark.createDataFrame(rows, "page string, rev_ts timestamp")
    out = asof_stable_version(
        df,
        key_cols=["page"],
        snapshots=[c.strftime("%Y-%m-%d %H:%M:%S") for c in cuts],
        min_days_stable=min_days,
        max_look_back_days=look_back,
    )
    got = {(r.page, r.snapshot_ts): r.rev_ts for r in out.collect()}

    assert set(got) == set(expected)
    mismatches = [
        (k, got[k], expected[k]) for k in expected
        if got[k] != (expected[k] if expected[k] is not None else got[k])
    ]
    # expected None means the fold secured nothing post-init — the
    # init itself secured the FIRST revision ≤ cut, which both sides
    # model; _reference_fold returns that first revision in that case
    # (init sets secured), so None never actually occurs for keys with
    # a revision ≤ cut.
    assert not mismatches, mismatches[:5]


def test_finalization_branch_secures_young_unsuperseded_newest(spark):
    """Deterministic trigger of reader:370-383 — the newest revision
    is only 5 days old at the cut (< min_days=7, < look_back=30) and
    has NO successor, but its age exceeds the recorded max lapse
    (1 day), so the finalization secures it. Without branch (c) the
    winner would wrongly stay at the older secured revision."""
    from tempel_spark.operators.asof import asof_stable_version

    rows = [
        ("p", "2021-01-01 00:00:00"),
        ("p", "2021-01-02 00:00:00"),  # rev0 lived 1d → secured, mtb=1d
        ("p", "2021-01-03 00:00:00"),  # rev1 lived 1d = mtb, < min → not secured
    ]
    df = spark.createDataFrame(rows, "page string, rev_ts string").withColumn(
        "rev_ts", F.to_timestamp("rev_ts")
    )
    cut = "2021-01-08 00:00:00"  # newest is 5 days old at the cut
    out = asof_stable_version(
        df, ["page"], snapshots=[cut], min_days_stable=7, max_look_back_days=30
    ).collect()
    assert len(out) == 1
    assert str(out[0].rev_ts) == "2021-01-03 00:00:00"
    # sanity: the literal fold agrees
    from datetime import datetime

    ref = _reference_fold(
        [datetime(2021, 1, 1), datetime(2021, 1, 2), datetime(2021, 1, 3)],
        datetime(2021, 1, 8), 7, 30,
    )
    assert ref == datetime(2021, 1, 3)
