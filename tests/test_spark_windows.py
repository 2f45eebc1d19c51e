"""Windowed operators: sessionize, lag/lead, as-of join (zero leakage),
rolling vectors (turn-/time-/session-bounded; the stream kernel over
whole conversations == over the router's (conv_id, block) segments)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kmertools_spark.operators import (
    asof_join,
    asof_join_auto,
    backfill_features_auto,
    backfill_features_stream,
    lag_lead_features,
    sessionize,
)

GAP = 1800.0


def _asof_auto_small(*a, **kw):
    """auto router with a threshold low enough that test data routes
    SOME entities hot (cold bucket 0 next to bucketed hot entities)"""
    kw.setdefault("hot_threshold", 3)
    kw.setdefault("n_buckets", 5)
    return asof_join_auto(*a, **kw)


def _asof_all_hot(*a, **kw):
    """auto router at its all-hot edge: every entity with a feature row
    is bucketed; only unmatched and NULL keys stay in bucket 0"""
    return asof_join_auto(*a, hot_threshold=0, n_buckets=5, **kw)


ASOF_IMPLS = {
    "window": asof_join,
    "auto": _asof_auto_small,
    "all_hot": _asof_all_hot,
}
from kmertools_spark.oracle import composition_matrix
from kmertools_spark.sources import synth_transcripts_pdf

@pytest.fixture(scope="module")
def tdf(spark):
    pdf = synth_transcripts_pdf(n_convs=20, mean_turns=10, skew_factor=20, seed=11)
    return spark.createDataFrame(pdf), pdf


def oracle_sessions(pdf: pd.DataFrame, gap_s: float) -> dict:
    out = {}
    for conv, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        ts = g["ts"].astype("int64").to_numpy() // 10**6  # ms
        seq = np.zeros(len(g), dtype=int)
        for i in range(1, len(g)):
            seq[i] = seq[i - 1] + (1 if ts[i] - ts[i - 1] > gap_s * 1000 else 0)
        for t, s in zip(g["turn_idx"], seq):
            out[(conv, int(t))] = int(s)
    return out


def test_sessionize_matches_oracle(spark, tdf):
    df, pdf = tdf
    got = sessionize(df, gap_seconds=GAP).select("conv_id", "turn_idx", "session_seq").toPandas()
    exp = oracle_sessions(pdf, GAP)
    assert len(got) == len(pdf)
    for _, r in got.iterrows():
        assert exp[(r.conv_id, int(r.turn_idx))] == r.session_seq
    # fixture sanity: sessions actually split somewhere
    assert got["session_seq"].max() >= 1


def test_lag_lead(spark, tdf):
    df, pdf = tdf
    got = (
        lag_lead_features(df)
        .select("conv_id", "turn_idx", "prev_len", "next_len", "prev_role", "gap_ms")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
    )
    for conv, g in got.groupby("conv_id"):
        src = pdf[pdf.conv_id == conv].sort_values("turn_idx")
        lens = src["text"].str.len().tolist()
        assert g["prev_len"].tolist()[1:] == [float(x) for x in lens[:-1]] or g[
            "prev_len"
        ].tolist()[1:] == lens[:-1]
        assert pd.isna(g["prev_len"].iloc[0])
        assert pd.isna(g["gap_ms"].iloc[0])
        assert (g["gap_ms"].iloc[1:] >= 0).all()


def _probe_frame(pdf):
    """Probes hitting exact turn timestamps (tie fixture), mid-gaps,
    before-any-history, and unknown conv ids."""
    rows = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        ts = g["ts"].tolist()
        rows.append((conv, ts[0]))  # exact tie with first turn -> null
        rows.append((conv, ts[-1] + pd.Timedelta(seconds=5)))  # after all
        if len(ts) > 2:
            rows.append((conv, ts[2]))  # exact tie mid-history
        rows.append((conv, ts[0] - pd.Timedelta(seconds=60)))  # before any
    rows.append(("conv_never_seen", pdf["ts"].iloc[0]))
    return pd.DataFrame(rows, columns=["conv_id", "probe_ts"])


def oracle_asof(pdf, probes):
    exp = {}
    for _, p in probes.iterrows():
        hist = pdf[(pdf.conv_id == p.conv_id) & (pdf.ts < p.probe_ts)]
        if len(hist) == 0:
            exp[(p.conv_id, p.probe_ts)] = None
        else:
            exp[(p.conv_id, p.probe_ts)] = int(
                hist.sort_values(["ts", "turn_idx"]).iloc[-1]["turn_idx"]
            )
    return exp


@pytest.mark.parametrize("impl", ["window", "auto", "all_hot"])
def test_asof_join_strict_leakage_semantics(spark, tdf, impl):
    df, pdf = tdf
    probes = _probe_frame(pdf)
    pdf_probes = spark.createDataFrame(probes)
    fn = ASOF_IMPLS[impl]
    got = fn(df, pdf_probes, value_cols=("turn_idx",)).toPandas()
    exp = oracle_asof(pdf, probes)
    assert len(got) == len(probes)
    for _, r in got.iterrows():
        e = exp[(r.conv_id, r.probe_ts)]
        if e is None:
            assert pd.isna(r.asof_turn_idx), (r.conv_id, r.probe_ts)
        else:
            assert int(r.asof_turn_idx) == e, (r.conv_id, r.probe_ts)


def test_asof_equal_ts_tiebreak_and_no_torn_rows(spark):
    """Equal-timestamp feature rows must resolve to the LARGEST turn_idx
    (ORDER BY ts DESC, turn_idx DESC oracle semantics), and all value
    columns must come from that same row (no torn rows when the latest
    row carries a null)."""
    ts = pd.Timestamp("2024-01-01 12:00:00")
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c1", "c1"],
                "turn_idx": [2, 5, 1],
                "text": ["AAAA", "CCCC", "GGGG"],
                "tool": ["x", None, "y"],
                "ts": [ts, ts, ts - pd.Timedelta(hours=1)],
            }
        )
    )
    probes = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["c1"], "probe_ts": [ts + pd.Timedelta(hours=1)]})
    )
    for impl in ASOF_IMPLS.values():
        row = impl(feats, probes, value_cols=("turn_idx", "text", "tool")).first()
        assert row.asof_turn_idx == 5, impl.__name__
        assert row.asof_text == "CCCC", impl.__name__
        assert row.asof_tool is None, impl.__name__  # whole-row, not torn


def test_asof_duplicate_probe_multiplicity(spark, tdf):
    """Every asof plan must preserve duplicate probe rows with the same
    multiplicity (r2 ADVICE item 3)."""
    df, pdf = tdf
    probes = _probe_frame(pdf)
    tripled = pd.concat([probes, probes.head(4), probes.head(4)])
    sp = spark.createDataFrame(tripled)
    for impl in ASOF_IMPLS.values():
        got = impl(df, sp, value_cols=("turn_idx",)).toPandas()
        assert len(got) == len(tripled), impl.__name__
        counts = got.groupby(["conv_id", "probe_ts"]).size()
        want = tripled.groupby(["conv_id", "probe_ts"]).size()
        assert counts.sort_index().equals(want.sort_index()), impl.__name__


def test_asof_auto_skew_routing_equality(spark):
    """r3 VERDICT item 3: a whale entity must route through the
    bucketed within-entity plan and produce EXACTLY the window plan's
    rows, with and without a staleness bound (test_plan_shape pins the
    routed plan's partitioning)."""
    rng = np.random.RandomState(11)
    base = pd.Timestamp("2024-01-01")
    rows = [
        ("whale", i, base + pd.Timedelta(seconds=int(s)))
        for i, s in enumerate(rng.randint(0, 5_000_000, 5000))
    ]
    for c in range(20):
        for i in range(int(rng.randint(1, 8))):
            rows.append(
                (f"c{c}", i, base + pd.Timedelta(seconds=int(rng.randint(0, 5_000_000))))
            )
    feat = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts"])
    probes = feat.sample(200, random_state=5)[["conv_id", "ts"]].rename(
        columns={"ts": "probe_ts"}
    )
    fdf = spark.createDataFrame(feat)
    pr = spark.createDataFrame(probes)

    def norm(df):
        return (
            df.toPandas()
            .sort_values(["conv_id", "probe_ts", "asof_turn_idx"])
            .reset_index(drop=True)
        )

    want = norm(asof_join(fdf, pr))
    got = norm(asof_join_auto(fdf, pr, hot_threshold=1000, n_buckets=16))
    pd.testing.assert_frame_equal(want, got)
    # tolerance flows through the carry (original event time preserved)
    want_t = norm(asof_join(fdf, pr, tolerance_ms=600_000))
    got_t = norm(asof_join_auto(fdf, pr, tolerance_ms=600_000, hot_threshold=1000))
    pd.testing.assert_frame_equal(want_t, got_t)


def test_asof_zero_leakage_property(spark, tdf):
    """Perturbing any row at ts >= probe_ts must not change results."""
    df, pdf = tdf
    probes = _probe_frame(pdf).iloc[:20]
    pr = spark.createDataFrame(probes)
    base = asof_join(df, pr).toPandas().sort_values(["conv_id", "probe_ts"]).reset_index(drop=True)
    # mutate all future rows' text/turn_idx wildly
    cut = probes["probe_ts"].min()
    pdf2 = pdf.copy()
    fut = pdf2["ts"] >= cut
    pdf2.loc[fut, "turn_idx"] = pdf2.loc[fut, "turn_idx"] + 10_000
    df2 = spark.createDataFrame(pdf2)
    got2 = asof_join(df2, pr).toPandas().sort_values(["conv_id", "probe_ts"]).reset_index(drop=True)
    # probes strictly before the cut see identical features
    mask = base["probe_ts"] <= cut
    pd.testing.assert_frame_equal(base[mask].reset_index(drop=True), got2[mask].reset_index(drop=True))


def rolling_oracle(pdf, k, n):
    exp = {}
    for conv, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        texts = g["text"].tolist()
        counts = composition_matrix(texts, k, norm=False)
        pref = np.vstack([np.zeros((1, counts.shape[1])), np.cumsum(counts, 0)])
        for i, t in enumerate(g["turn_idx"]):
            lo = max(0, i - n + 1)
            win = pref[i + 1] - pref[lo]
            win = win / max(1.0, win.sum())
            exp[(conv, int(t))] = win
    return exp


def time_oracle(pdf, k, horizon):
    exp = {}
    for conv, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        counts = composition_matrix(g["text"].tolist(), k, norm=False)
        ts = g["ts"].astype("int64").to_numpy() // 10**6
        for i, t in enumerate(g["turn_idx"]):
            sel = (ts >= ts[i] - horizon * 1000) & (ts <= ts[i])
            win = counts[sel & (np.arange(len(g)) <= i)].sum(0)
            win = win / max(1.0, win.sum())
            exp[(conv, int(t))] = win
    return exp


def session_oracle(pdf, k, gap_s):
    sess = oracle_sessions(pdf, gap_s)
    exp = {}
    for conv, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        counts = composition_matrix(g["text"].tolist(), k, norm=False)
        seqs = np.array([sess[(conv, int(t))] for t in g["turn_idx"]])
        for i, t in enumerate(g["turn_idx"]):
            win = counts[(seqs == seqs[i]) & (np.arange(len(g)) <= i)].sum(0)
            win = win / max(1.0, win.sum())
            exp[(conv, int(t))] = win
    return exp


def assert_windows(got, exp):
    """every output row's roll_vec equals the oracle window, and every
    oracle row is output exactly once"""
    assert len(got) == len(exp)
    assert {(r.conv_id, int(r.turn_idx)) for r in got.itertuples()} == exp.keys()
    for r in got.itertuples():
        assert np.allclose(np.array(r.roll_vec), exp[(r.conv_id, int(r.turn_idx))], rtol=1e-9)


@pytest.mark.parametrize("chunk", [None, 4])
def test_rolling_turn_vectors(spark, tdf, chunk):
    """chunk=None: the plain stream; chunk=4: hot_threshold=0 sends
    every conversation through the router's (conv_id, block) segments."""
    df, pdf = tdf
    if chunk is None:
        r = backfill_features_stream(df, k=4, n_turns=3)
    else:
        r = backfill_features_auto(df, k=4, n_turns=3, hot_threshold=0, chunk=chunk)
    assert_windows(r.toPandas(), rolling_oracle(pdf, 4, 3))


def test_backfill_stream_matches_composable(spark, tdf):
    """backfill_features_stream (sorted-merge mapInPandas with
    cross-batch carry) equals the composable sessionize+composition+
    rolling formulation."""
    from kmertools_spark.functions import composition_vector

    df, pdf = tdf

    def sorted_pdf(d):
        return d.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    stream = sorted_pdf(backfill_features_stream(df, k=4, n_turns=3))
    comp = sorted_pdf(
        sessionize(df).withColumn("v", composition_vector(4)("text")).select(
            "conv_id", "turn_idx", "session_seq", "v"
        )
    )
    assert len(stream) == len(pdf)
    assert np.allclose(np.vstack(stream["vec"]), np.vstack(comp["v"]))
    assert (stream["session_seq"].to_numpy() == comp["session_seq"].to_numpy()).all()
    assert_windows(stream, rolling_oracle(pdf, 4, 3))


def test_rolling_time_vectors(spark, tdf):
    df, pdf = tdf
    horizon = 900.0
    got = backfill_features_stream(df, k=4, mode="time", time_seconds=horizon).toPandas()
    assert_windows(got, time_oracle(pdf, 4, horizon))


def test_rolling_session_vectors(spark, tdf):
    df, pdf = tdf
    got = backfill_features_stream(df, k=4, mode="session", gap_seconds=GAP).toPandas()
    assert_windows(got, session_oracle(pdf, 4, GAP))


def test_rolling_carry_across_arrow_batches(spark, tdf):
    """All three window modes through ONE partition cut into 7-row Arrow
    batches: windows and sessions that straddle a batch boundary must
    come out of the carry (for 'session', the one running count row)."""
    df, pdf = tdf
    batch = 7
    srt = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    sess = oracle_sessions(pdf, GAP)
    key = [(c, int(t)) for c, t in zip(srt["conv_id"], srt["turn_idx"])]
    # fixture sanity: some session is open across a batch boundary
    assert any(
        key[i][0] == key[i - 1][0] and sess[key[i]] == sess[key[i - 1]] > 0
        for i in range(batch, len(key), batch)
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        for mode, exp in (
            ("turns", rolling_oracle(pdf, 4, 3)),
            ("time", time_oracle(pdf, 4, 900.0)),
            ("session", session_oracle(pdf, 4, GAP)),
        ):
            got = backfill_features_stream(
                df, k=4, n_turns=3, mode=mode, time_seconds=900.0, n_partitions=1
            ).toPandas()
            assert_windows(got, exp)
            assert {
                (r.conv_id, int(r.turn_idx)): r.session_seq for r in got.itertuples()
            } == sess
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _routed_matches_stream(df, hot_threshold, chunk, **kw):
    """backfill_features_auto with a tiny hot_threshold (so the blocked
    hot branch really runs) == backfill_features_stream"""

    def sorted_pdf(d):
        return d.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    sizes = df.groupBy("conv_id").count().toPandas()
    assert (sizes["count"] > hot_threshold).any()
    auto = sorted_pdf(
        backfill_features_auto(df, k=4, hot_threshold=hot_threshold, chunk=chunk, **kw)
    )
    stream = sorted_pdf(backfill_features_stream(df, k=4, **kw))
    assert len(auto) == len(stream)
    assert (auto["conv_id"] == stream["conv_id"]).all()
    assert (auto["turn_idx"] == stream["turn_idx"]).all()
    assert (auto["session_seq"].to_numpy() == stream["session_seq"].to_numpy()).all()
    assert np.allclose(np.vstack(auto["vec"]), np.vstack(stream["vec"]), rtol=1e-12)
    assert np.allclose(
        np.vstack(auto["roll_vec"]), np.vstack(stream["roll_vec"]), rtol=1e-12
    )
    return sizes


def test_rolling_chunked_sparse_turn_idx(spark, tdf):
    """Chunk blocks derive from ROW position, not turn_idx values:
    a filtered (sparse/non-0-based) subset must produce identical
    windows through the hot branch's blocks and the plain stream
    (round-1 advice regression)."""
    df, _ = tdf
    # keep ~half the turns -> gaps everywhere, including block borders
    sub = df.where((F.col("turn_idx") % 3 != 1) & (F.col("turn_idx") >= 2))
    _routed_matches_stream(sub, hot_threshold=3, n_turns=3, chunk=4)


def test_backfill_auto_routes_and_matches_stream(spark, tdf):
    """backfill_features_auto == backfill_features_stream on a mixed
    corpus (hot conversation + tail), with the hot conversations
    actually routed through the blocked segments (tiny hot_threshold)."""
    df, _ = tdf
    sizes = _routed_matches_stream(df, hot_threshold=8, n_turns=3, chunk=8)
    # sanity: the threshold really split the corpus (some conv is cold)
    assert (sizes["count"] <= 8).any()
    # a NULL conv_id next to hot keys routes cold (skew.hot_key_split):
    # its rows must come out, windowed as the plain stream windows them
    hot_conv = sizes.sort_values("count")["conv_id"].iloc[-1]
    nulls = df.where(F.col("conv_id") == hot_conv).limit(3).withColumn(
        "conv_id", F.lit(None).cast("string")
    )

    def null_rows(d):
        return d.where(F.col("conv_id").isNull()).toPandas().sort_values("turn_idx")

    with_null = df.unionByName(nulls)
    got = null_rows(backfill_features_auto(with_null, k=4, hot_threshold=8, chunk=8))
    want = null_rows(backfill_features_stream(with_null, k=4))
    assert len(got) == 3
    assert got["turn_idx"].tolist() == want["turn_idx"].tolist()
    assert np.allclose(np.vstack(got["roll_vec"]), np.vstack(want["roll_vec"]))


@pytest.mark.parametrize("impl", ["window", "auto", "all_hot"])
def test_asof_join_tolerance_staleness(spark, impl):
    """tolerance_ms (merge_asof semantics): a probe whose latest
    preceding feature is older than the bound gets nulls; a fresh pick
    is unchanged. Both physical plans agree with a python oracle."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 12:00:00")
    feat = pd.DataFrame(
        {
            "conv_id": ["a", "a", "b", "c"],
            "turn_idx": [0, 1, 0, 0],
            "ts": [
                base,                                  # a: stale for p1
                base + pd.Timedelta(minutes=55),       # a: fresh for p1
                base - pd.Timedelta(hours=3),          # b: stale only
                base + pd.Timedelta(minutes=90),       # c: AFTER the probe
            ],
        }
    )
    probes = pd.DataFrame(
        {
            "conv_id": ["a", "b", "c", "d"],
            "probe_ts": [base + pd.Timedelta(minutes=60)] * 4,
        }
    )
    fdf = spark.createDataFrame(feat)
    pdf_ = spark.createDataFrame(probes)
    fn = ASOF_IMPLS[impl]
    got = {
        r.conv_id: (None if r.asof_turn_idx is None else int(r.asof_turn_idx))
        for r in fn(fdf, pdf_, value_cols=("turn_idx",), tolerance_ms=3_600_000).collect()
    }
    # a: picks turn 1 (5 min stale, within 1h); b: only row is 4h stale
    # -> null; c: feature is in the future -> null; d: no features -> null
    assert got == {"a": 1, "b": None, "c": None, "d": None}
    # without tolerance, b resolves
    got_free = {
        r.conv_id: (None if r.asof_turn_idx is None else int(r.asof_turn_idx))
        for r in fn(fdf, pdf_, value_cols=("turn_idx",)).collect()
    }
    assert got_free["b"] == 0 and got_free["a"] == 1


@pytest.mark.parametrize("impl", ["window", "auto", "all_hot"])
def test_asof_join_null_key_probes_survive(spark, impl):
    """A probe row with a NULL key (or NULL ts) must emit a null-valued
    output row in BOTH physical plans, not vanish (code-review r3)."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01")
    feat = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"], "turn_idx": [0], "ts": [base]})
    )
    probes = spark.createDataFrame(
        [
            ("a", (base + pd.Timedelta(minutes=1)).to_pydatetime()),
            (None, base.to_pydatetime()),
            ("zz", None),
        ],
        "conv_id string, probe_ts timestamp",
    )
    fn = ASOF_IMPLS[impl]
    rows = fn(feat, probes, value_cols=("turn_idx",)).collect()
    assert len(rows) == 3, rows
    got = {(r.conv_id, r.asof_turn_idx) for r in rows}
    assert ("a", 0) in got
    assert (None, None) in got
    assert ("zz", None) in got


@pytest.mark.parametrize("impl", ["window", "auto", "all_hot"])
def test_asof_join_null_key_features_never_match(spark, impl):
    """A feature row with NULL key or NULL ts must never be picked —
    equality joins (the SQL oracle) skip NULLs, so the
    window plan must too (code-review r3 pass 2)."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01")
    feat = spark.createDataFrame(
        [
            (None, 7, base.to_pydatetime()),
            ("a", 3, None),
            ("a", 0, (base - pd.Timedelta(minutes=5)).to_pydatetime()),
        ],
        "conv_id string, turn_idx int, ts timestamp",
    )
    probes = spark.createDataFrame(
        [("a", base.to_pydatetime()), (None, base.to_pydatetime())],
        "conv_id string, probe_ts timestamp",
    )
    fn = ASOF_IMPLS[impl]
    got = {r.conv_id: r.asof_turn_idx for r in fn(feat, probes, value_cols=("turn_idx",)).collect()}
    assert got == {"a": 0, None: None}


def test_asof_bucketed_sub_millisecond_carry(spark):
    """code-review r4 finding 3: two events inside ONE millisecond — the
    hot entity's per-bucket carry must pick by FULL-precision (ts, ord),
    not by (ms, ord), or a later-bucket probe is served the wrong row.
    Also covers the same-ms in-bucket tie. With 4 buckets over the
    400 s event range, the three early events share bucket 0, the
    +100 s probe falls in bucket 1 and reads bucket 0's carry."""
    base = pd.Timestamp("2024-01-01 10:00:00")
    feat = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a", "a", "a"],
                "turn_idx": [0, 5, 1, 7],
                "ts": [
                    base - pd.Timedelta(seconds=100),
                    base + pd.Timedelta(microseconds=100),
                    base + pd.Timedelta(microseconds=900),
                    base + pd.Timedelta(seconds=300),
                ],
            }
        )
    )
    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a"],
                "probe_ts": [
                    base + pd.Timedelta(microseconds=500),  # in-ms tie
                    base + pd.Timedelta(seconds=100),       # later bucket
                ],
            }
        )
    )

    def norm(df):
        return sorted(
            (r.probe_ts, r.asof_turn_idx) for r in df.collect()
        )

    want = norm(asof_join(feat, probes))
    # probe@+500us sees only the +100us event (turn 5); probe@+100s
    # sees the +900us event (turn 1, the full-precision latest)
    assert [v for _, v in want] == [5, 1]
    assert norm(asof_join_auto(feat, probes, hot_threshold=0, n_buckets=4)) == want


def _edge_frames(spark):
    """Feature and probe frames for the bucketing edges. Hot entities:
    ``span`` (events over five centuries, so (tms - lo) * 2**20
    overflows int64), ``flat`` (every event at one ts, hi == lo) and
    ``nullts`` (some NULL-ts feature rows); cold: ``c0``..``c2``.
    Probes fall before each hot entity's first event, after its last,
    on and between events, and carry NULL keys and NULL ts."""
    from datetime import datetime, timedelta

    rng = np.random.RandomState(23)
    t0 = datetime(1750, 1, 1)
    span = datetime(2250, 1, 1) - t0
    rows = [("span", i, t0 + span * float(f)) for i, f in enumerate(np.sort(rng.rand(40)))]
    rows += [("flat", i, datetime(2024, 3, 1, 12)) for i in range(6)]
    base = datetime(2024, 1, 1)
    for i in range(12):
        ts = None if i % 4 == 1 else base + timedelta(minutes=int(rng.randint(0, 600)))
        rows.append(("nullts", i, ts))
    for c in range(3):
        for i in range(2):
            rows.append((f"c{c}", i, base + timedelta(minutes=int(rng.randint(0, 600)))))
    rows.append((None, 99, base))
    probes = []
    for key in ("span", "flat", "nullts", "c0", "c1", "c2"):
        ts = sorted(t for c, _, t in rows if c == key and t is not None)
        probes += [
            (key, ts[0] - timedelta(days=1)),  # before the first event
            (key, ts[-1] + timedelta(days=1)),  # after the last
            (key, ts[len(ts) // 2]),  # on an event
            (key, ts[0] + (ts[-1] - ts[0]) / 3),  # between events
            (key, None),  # NULL ts
        ]
    probes += [(None, base + timedelta(hours=1)), (None, None)]
    return (
        spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp"),
        spark.createDataFrame(probes, "conv_id string, probe_ts timestamp"),
    )


@pytest.mark.parametrize("tolerance_ms", [None, 3 * 3_600_000])
@pytest.mark.parametrize("n_buckets", [1, 4, 2**20])
def test_asof_auto_bucket_edges_match_window(spark, n_buckets, tolerance_ms):
    """asof_join_auto with three hot entities equals asof_join on every
    bucketing edge (see _edge_frames), for one bucket, a few, and 2**20
    over five centuries (the clamped, product-free bucket cannot
    overflow), with and without a staleness bound."""
    from kmertools_spark.operators.skew import hot_keys

    feat, probes = _edge_frames(spark)
    assert {r[0] for r in hot_keys(feat, "conv_id", 5)} == {"span", "flat", "nullts"}

    def norm(df):
        return sorted(
            (str(r.conv_id), str(r.probe_ts), r.asof_turn_idx) for r in df.collect()
        )

    want = norm(asof_join(feat, probes, tolerance_ms=tolerance_ms))
    got = norm(
        asof_join_auto(
            feat, probes, tolerance_ms=tolerance_ms, hot_threshold=5, n_buckets=n_buckets
        )
    )
    assert len(got) == probes.count()
    assert got == want
    assert sum(v is not None for *_, v in want) >= (16 if tolerance_ms is None else 3)
    with pytest.raises(ValueError, match="n_buckets"):
        asof_join_auto(feat, probes, hot_threshold=5, n_buckets=0)


_ASOF_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from kmertools_spark.operators import asof_join_auto
from kmertools_spark.session import get_spark
from kmertools_spark.sources import synth_transcripts_pdf

work = sys.argv[1]
spark = get_spark("asof-retry", master="local[2,2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
src = os.path.join(work, "src")
spark.createDataFrame(synth_transcripts_pdf(n_convs=12, mean_turns=6, seed=5)) \
    .repartition(2).write.parquet(src)
turns = spark.read.parquet(src)


def passthrough(df, tag=None):
    # with a tag, passes every batch on and then fails the first task
    # attempt of each stage that runs it (a union renumbers partitions,
    # so "first task" stands in for "partition 0"); one marker file per
    # injected failure
    def gen(batches):
        ctx = TaskContext.get()
        yield from batches
        if tag is None or ctx.attemptNumber() != 0:
            return
        try:
            fd = os.open(os.path.join(work, f"{tag}-{ctx.stageId()}"),
                         os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            return
        os.close(fd)
        raise RuntimeError("injected first-attempt failure")
    return df.mapInArrow(gen, df.schema)


feats_src = turns.select("conv_id", "turn_idx", "ts", "text")
probes_src = turns.select(
    "conv_id", (F.col("ts") + F.expr("INTERVAL 90 SECONDS")).alias("probe_ts"))
out = {}
for name, ftag, ptag in (("clean", None, None), ("features", "f", None),
                         ("probes", None, "p")):
    res = asof_join_auto(passthrough(feats_src, ftag), passthrough(probes_src, ptag),
                         value_cols=("turn_idx", "text"), hot_threshold=3, n_buckets=4)
    row = res.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*res.columns))).first()
    out[name] = [row[0], row[1]]
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    out[name + "_pin"] = [[i.memSize(), i.diskSize()] for i in infos]
out["injected"] = sorted(f.split("-")[0] for f in os.listdir(work) if "-" in f)
spark.stop()
print(json.dumps(out))
"""


def test_asof_auto_retry_gives_same_result(tmp_path):
    """Task retries at local[2,2] (one retry allowed per task) give the
    result of a clean run, whether the failed attempt is in the features'
    mapInArrow while the sizing job fills the pin, or in a probes-side
    mapInArrow of a later stage that reads the pin. The pin is on disk
    only: no stored RDD holds a byte in memory."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    r = subprocess.run(
        [sys.executable, "-c", _ASOF_RETRY_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    # the features run in one stage (the pinned sizing job), the probes
    # in the window's and the carry's exchanges
    assert out["injected"].count("f") == 1
    assert out["injected"].count("p") >= 1
    assert out["clean"][0] > 0
    assert out["features"] == out["clean"] == out["probes"]
    for name in ("clean", "features", "probes"):
        pins = out[name + "_pin"]
        assert pins and all(mem == 0 and disk > 0 for mem, disk in pins), pins


def test_rolling_chunked_window_wider_than_chunk(spark, tdf):
    """code-review r4: a window WIDER than the chunk (n_turns - 1 >
    chunk) must replicate carry rows as many blocks ahead as the window
    needs — the old two-block special case silently truncated it."""
    df, _ = tdf
    _routed_matches_stream(df, hot_threshold=3, n_turns=8, chunk=4, norm=False)


def test_rolling_time_null_ts_raises(spark):
    """code-review r5: NULL ts used to cast NaT to INT64_MIN and return
    silently wrong windows; every pandas window kernel shares the
    guard_null_ts defense. The stream kernel derives session_seq from
    ts, so a 'turns' window raises too unless session_seq is given."""
    import pandas as pd
    import pytest

    pdf = pd.DataFrame(
        {
            "conv_id": ["c", "c", "c"],
            "turn_idx": [0, 1, 2],
            "text": ["aaaa", "cccc", "gggg"],
            "ts": pd.Series(
                [pd.Timestamp("2024-01-01"), pd.NaT, pd.Timestamp("2024-01-01 00:10:00")]
            ).astype("datetime64[us]"),
        }
    )
    df = spark.createDataFrame(pdf)
    for mode in ("time", "turns", "session"):
        with pytest.raises(Exception, match="NULL ts"):
            backfill_features_stream(df, k=2, mode=mode, n_turns=2).collect()
    # with session_seq supplied, turns/session windows never read ts
    given = df.withColumn("session_seq", F.lit(0))
    for mode in ("turns", "session"):
        assert backfill_features_stream(given, k=2, mode=mode, n_turns=2).count() == 3
