"""applyInPandasWithState: first-seen surface dedup across
micro-batch runs — state must persist between reruns."""

from __future__ import annotations

import tempfile


def test_first_seen_surfaces_state_across_runs(spark):
    from tempel_spark.streaming.stateful import stream_first_seen_surfaces
    from tempel_spark.synth import synth_transcripts

    snaps = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015, 2016)]
    t1 = synth_transcripts(spark, n_convs=15, n_entities=6, seed=1)
    t2 = synth_transcripts(spark, n_convs=15, n_entities=6, seed=1)  # same corpus → all dupes
    t3 = synth_transcripts(spark, n_convs=15, n_entities=6, seed=99)  # some new surfaces

    with tempfile.TemporaryDirectory(prefix="state_") as tmp:
        inp, outp, ck = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"
        t1.write.parquet(f"{inp}/b1")
        stream_first_seen_surfaces(spark, f"{inp}/*", outp, ck, snaps)
        n1 = spark.read.parquet(outp).count()
        assert n1 > 0

        # identical corpus again → ZERO new first-seen rows
        t2.write.parquet(f"{inp}/b2")
        stream_first_seen_surfaces(spark, f"{inp}/*", outp, ck, snaps)
        n2 = spark.read.parquet(outp).count()
        assert n2 == n1, "state failed to suppress already-seen surfaces"

        # new seed → some genuinely new surfaces, and only those appear
        t3.write.parquet(f"{inp}/b3")
        stream_first_seen_surfaces(spark, f"{inp}/*", outp, ck, snaps)
        out = spark.read.parquet(outp)
        n3 = out.count()
        assert n3 > n2
        # vocabulary property: (snapshot, surface) unique across all runs
        assert out.select("snapshot_ts", "surface").distinct().count() == n3


def test_windowed_agg_watermark_late_data(spark):
    """Watermarked event-time windows (streaming/windowed.py): a late
    row INSIDE the horizon lands in its original window before it
    finalizes; a row LATER than the horizon is dropped; finalized
    windows are emitted exactly once across reruns."""
    from tempel_spark.streaming.windowed import stream_windowed_turn_counts

    def rows_df(*ts_list):
        return spark.createDataFrame(
            [(f"c{i}", 0, "user", "text", "", ts) for i, ts in enumerate(ts_list)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
        ).selectExpr("conv_id", "turn_idx", "role", "text", "tool", "CAST(ts_s AS TIMESTAMP) AS ts")

    with tempfile.TemporaryDirectory(prefix="wm_") as tmp:
        inp, outp, ck = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"

        # batch 1: three rows in the 10:00 window → watermark 8:30, nothing finalizes
        rows_df("2015-06-01 10:00:00", "2015-06-01 10:10:00", "2015-06-01 10:30:00").write.parquet(f"{inp}/b1")
        stream_windowed_turn_counts(spark, f"{inp}/*", outp, ck)
        import glob
        emitted = lambda: (
            spark.read.parquet(outp).collect() if glob.glob(f"{outp}/*.parquet") else []
        )
        assert emitted() == []

        # batch 2: a LATE row for 10:xx (inside the 2h horizon) plus a
        # 14:00 row that advances the watermark to 12:00 → the 10:00
        # window finalizes WITH the late row counted
        rows_df("2015-06-01 10:20:00", "2015-06-01 14:00:00").write.parquet(f"{inp}/b2")
        stream_windowed_turn_counts(spark, f"{inp}/*", outp, ck)
        got = {(r.window_start.hour, r.n_turns) for r in emitted()}
        assert (10, 4) in got, got  # 3 on-time + 1 late

        # batch 3: a TOO-LATE 10:40 row (watermark 12:00 already past
        # the window) must be dropped — the finalized window row is
        # never restated or duplicated
        rows_df("2015-06-01 10:40:00", "2015-06-01 18:00:00").write.parquet(f"{inp}/b3")
        stream_windowed_turn_counts(spark, f"{inp}/*", outp, ck)
        final = [r for r in emitted() if r.window_start.hour == 10]
        assert len(final) == 1 and final[0].n_turns == 4


def test_stream_sessionize_gap_and_timeout(spark):
    """Gap sessionization (streaming/sessionize.py): a turn past the
    gap closes the previous session in the SAME batch (data path); a
    session with no further turns closes when the watermark passes
    last+gap (event-time timeout); closed sessions are emitted
    exactly once across reruns."""
    import glob

    from tempel_spark.streaming.sessionize import stream_sessionize

    def rows_df(*items):  # (conv_id, ts)
        return spark.createDataFrame(
            [(c, i, "user", "text", "", ts) for i, (c, ts) in enumerate(items)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
        ).selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                     "CAST(ts_s AS TIMESTAMP) AS ts")

    with tempfile.TemporaryDirectory(prefix="sess_") as tmp:
        inp, outp, ck = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"
        run = lambda: stream_sessionize(spark, f"{inp}/*", outp, ck,
                                        watermark="10 minutes")
        emitted = lambda: (
            spark.read.parquet(outp).collect() if glob.glob(f"{outp}/*.parquet") else []
        )

        # b1: A has two close turns, B one → nothing closes yet
        rows_df(("A", "2015-06-01 10:00:00"), ("A", "2015-06-01 10:10:00"),
                ("B", "2015-06-01 10:05:00")).write.parquet(f"{inp}/b1")
        run()
        assert emitted() == []

        # b2: A turn at 12:00 — 1h50 gap → A's first session closes
        # IMMEDIATELY (data path, no watermark needed)
        rows_df(("A", "2015-06-01 12:00:00")).write.parquet(f"{inp}/b2")
        run()
        got = {(r.conv_id, r.session_end.strftime("%H:%M"), r.n_turns) for r in emitted()}
        assert ("A", "10:10", 2) in got, got

        # b3 + b4: ticker turns push the watermark past B's 10:35
        # timeout and then past A's 12:30 timeout
        rows_df(("T", "2015-06-01 14:00:00")).write.parquet(f"{inp}/b3")
        run()
        rows_df(("T", "2015-06-01 16:00:00")).write.parquet(f"{inp}/b4")
        run()
        got = {(r.conv_id, r.session_end.strftime("%H:%M"), r.n_turns) for r in emitted()}
        assert ("B", "10:05", 1) in got, got       # timeout close
        assert ("A", "12:00", 1) in got, got       # second A session via timeout
        # exactly-once: no duplicate session rows
        rows = [(r.conv_id, str(r.session_start)) for r in emitted()]
        assert len(rows) == len(set(rows))


def test_stream_sessionize_splits_gap_separated_late_turn(spark):
    """With watermark > gap, a watermark-permitted late turn arriving
    more than `gap` BEFORE the open session's start must become its own
    immediately-closed session (round-3 ADVICE) — not be absorbed into
    the open session via start = min(...)."""
    import glob

    from tempel_spark.streaming.sessionize import stream_sessionize

    def rows_df(*items):  # (conv_id, ts)
        return spark.createDataFrame(
            [(c, i, "user", "text", "", ts) for i, (c, ts) in enumerate(items)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
        ).selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                     "CAST(ts_s AS TIMESTAMP) AS ts")

    with tempfile.TemporaryDirectory(prefix="sess_late_") as tmp:
        inp, outp, ck = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"
        run = lambda: stream_sessionize(spark, f"{inp}/*", outp, ck,
                                        watermark="3 hours")
        emitted = lambda: (
            spark.read.parquet(outp).collect() if glob.glob(f"{outp}/*.parquet") else []
        )

        # b1: A opens a session at 10:00; ticker T sets max event time
        rows_df(("A", "2015-06-01 10:00:00"),
                ("T", "2015-06-01 12:00:00")).write.parquet(f"{inp}/b1")
        run()
        assert emitted() == []
        # b2: late A turn at 09:15 — above the 09:00 watermark, but
        # 45 min (> gap) before the open session's 10:00 start →
        # emitted as its own closed session in this same batch
        rows_df(("A", "2015-06-01 09:15:00")).write.parquet(f"{inp}/b2")
        run()
        got = {(r.conv_id, r.session_start.strftime("%H:%M"),
                r.session_end.strftime("%H:%M"), r.n_turns) for r in emitted()}
        assert ("A", "09:15", "09:15", 1) in got, got
        # the 10:00 session is still open (not emitted, start unchanged)
        assert not any(c == "A" and s == "09:15" and e != "09:15" for c, s, e, _ in got)
        # b3: ticker far ahead times the 10:00 session out with its
        # original start — proves it was never rewound to 09:15
        rows_df(("T", "2015-06-02 12:00:00")).write.parquet(f"{inp}/b3")
        run()
        got = {(r.conv_id, r.session_start.strftime("%H:%M"), r.n_turns) for r in emitted()}
        assert ("A", "10:00", 1) in got, got
