"""As-of join: union-window strategy vs cogroup merge_asof strategy vs the
pandas merge_asof oracle — all three must agree."""

import numpy as np
import pandas as pd
import pytest

from recipeselectors_spark.operators import asof
from tests import oracles


@pytest.fixture(scope="module")
def frames():
    rng = np.random.default_rng(11)
    convs = [f"conv-{i:03d}" for i in range(12)]
    base = pd.Timestamp("2026-02-01")

    feat_rows = []
    for ci, c in enumerate(convs):
        n = 40 if ci == 0 else int(rng.integers(2, 12))  # one hot conversation
        t = base + pd.Timedelta(seconds=int(rng.integers(0, 3600)))
        for _ in range(n):
            t = t + pd.Timedelta(seconds=int(rng.integers(1, 500)))
            feat_rows.append((c, t, float(rng.normal()), float(rng.integers(0, 5))))
    features = pd.DataFrame(feat_rows, columns=["conv_id", "ts", "v1", "v2"])

    spine_rows = []
    for ci, c in enumerate(convs):
        n = 15 if ci == 0 else int(rng.integers(1, 6))
        t = base
        for _ in range(n):
            t = t + pd.Timedelta(seconds=int(rng.integers(1, 2000)))
            spine_rows.append((c, t, int(rng.integers(0, 2))))
    spine = pd.DataFrame(spine_rows, columns=["conv_id", "ts", "label"])
    # exact-match probe: one spine ts equal to a feature ts
    spine.loc[0, "ts"] = features.loc[0, "ts"]
    for f in (features, spine):
        f["ts"] = f["ts"].astype("datetime64[us]")
    return spine, features


KEY = ["conv_id", "ts"]


def _check(got: pd.DataFrame, want: pd.DataFrame):
    a = got.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    b = want.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b)
    for c in ("v1", "v2"):
        np.testing.assert_allclose(
            a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float), equal_nan=True
        )
    assert (a["label"] == b["label"]).all()


@pytest.mark.parametrize("tolerance", [None, 600])
def test_union_strategy(spark, frames, tolerance):
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_union(
        s, f, ["v1", "v2"], tolerance_s=tolerance
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"], tolerance_s=tolerance)
    _check(got, want)


@pytest.mark.parametrize("tolerance", [None, 600])
def test_cogroup_strategy(spark, frames, tolerance):
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance, num_shards=4
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"], tolerance_s=tolerance)
    _check(got, want)


@pytest.mark.parametrize("tolerance", [None, 600])
def test_union_carries_whole_rows_with_nulls(spark, frames, tolerance):
    """ADVICE r1 (medium): the carried payload is the latest feature ROW —
    its internal NULLs included — not a per-column last-non-null mix; both
    strategies and the pandas merge_asof oracle must agree."""
    spine, features = frames
    features = features.copy()
    # poke NULLs into v1 on even rows and v2 on every third row: a
    # per-column carry would backfill these from OLDER rows
    features.loc[features.index % 2 == 0, "v1"] = np.nan
    features.loc[features.index % 3 == 0, "v2"] = np.nan
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    want = oracles.asof_join(spine, features, ["v1", "v2"], tolerance_s=tolerance)
    got_u = asof.asof_join_union(
        s, f, ["v1", "v2"], tolerance_s=tolerance
    ).toPandas()
    got_c = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance, num_shards=4
    ).toPandas()
    _check(got_u, want)
    _check(got_c, want)


def test_shard_map_balances_and_isolates_skew(spark, frames):
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    hot = asof.hot_conv_shards(s, f, num_shards=4, skew_factor=1.0)
    # the hot conversation is detected and gets a DEDICATED shard (>= N)
    assert "conv-000" in set(hot["conv_id"])
    hot_shard = hot.loc[hot["conv_id"] == "conv-000", "shard"].iloc[0]
    assert hot_shard >= 4
    # the driver-side map is bounded by the hot-key count, NOT the conv count
    assert len(hot) < 12

    tagged = asof.with_shard(f, 4, hot, on="conv_id").toPandas()
    # every row got exactly one shard; conversations are never split
    assert tagged["shard"].notna().all()
    assert (tagged.groupby("conv_id")["shard"].nunique() == 1).all()
    # hot conv rides alone on its dedicated shard
    hot_rows = tagged[tagged["shard"] == hot_shard]
    assert set(hot_rows["conv_id"]) == {"conv-000"}


def test_with_shard_deterministic_and_complete(spark, frames):
    spine, features = frames
    s = spark.createDataFrame(spine)
    a = asof.with_shard(s, 8).toPandas().sort_values(["conv_id", "ts"])
    b = asof.with_shard(s, 8).toPandas().sort_values(["conv_id", "ts"])
    assert (a["shard"].to_numpy() == b["shard"].to_numpy()).all()
    assert a["shard"].between(0, 7).all()


def test_cogroup_sample_frac_drops_nothing(spark, frames):
    """ADVICE r1 (high): a sampled shard map must never drop conversations —
    sampling tunes hot detection only, membership is hash-based."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], num_shards=4, sample_frac=0.05
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"])
    _check(got, want)


def test_asof_empty_features(spark, frames):
    """No feature rows at all: every spine row survives with NULL values."""
    spine, features = frames
    s = spark.createDataFrame(spine)
    f = spark.createDataFrame(
        features.head(0),
        schema="conv_id string, ts timestamp_ntz, v1 double, v2 double",
    )
    for got in (
        asof.asof_join_union(s, f, ["v1", "v2"]).toPandas(),
        asof.asof_join_cogroup(s, f, ["v1", "v2"], num_shards=4).toPandas(),
    ):
        assert len(got) == len(spine)
        assert got["v1"].isna().all() and got["v2"].isna().all()


def test_asof_hypothesis_vs_merge_asof(spark):
    """Randomized conversations with heavy ts ties and tiny/empty sides:
    both strategies must match pandas merge_asof exactly."""
    from hypothesis import given, settings, strategies as st

    rows = st.lists(
        st.tuples(
            st.integers(0, 3),        # conv
            st.integers(0, 20),       # ts seconds (ties likely)
            st.integers(-5, 5),       # value
        ),
        min_size=0, max_size=25,
    )

    @settings(max_examples=12, deadline=None)
    @given(spine_rows=rows, feat_rows=rows)
    def check(spine_rows, feat_rows):
        base = pd.Timestamp("2026-03-01")

        def mk(rs, val_col):
            pdf = pd.DataFrame(
                {
                    "conv_id": [f"c{r[0]}" for r in rs],
                    "ts": [base + pd.Timedelta(seconds=r[1]) for r in rs],
                    val_col: [float(r[2]) for r in rs],
                }
            )
            pdf["ts"] = pdf["ts"].astype("datetime64[us]")
            return pdf

        spine = mk(spine_rows, "label")
        feats = mk(feat_rows, "v1")
        # merge_asof ties among equal feature ts pick the LAST sorted row;
        # make (conv, ts) unique on the feature side so the carried row is
        # well-defined in all three implementations
        feats = feats.drop_duplicates(["conv_id", "ts"], keep="last")
        if len(spine) == 0:
            return
        s = spark.createDataFrame(spine)
        f = spark.createDataFrame(
            feats, schema="conv_id string, ts timestamp_ntz, v1 double"
        )
        if len(feats):
            want = oracles.asof_join(spine, feats, ["v1"])
        else:  # merge_asof chokes on empty object-dtype keys
            want = spine.copy()
            want["v1"] = np.nan
        got_u = asof.asof_join_union(s, f, ["v1"]).toPandas()
        got_c = asof.asof_join_cogroup(s, f, ["v1"], num_shards=3).toPandas()
        for got in (got_u, got_c):
            a = got.sort_values(["conv_id", "ts", "label"], kind="mergesort").reset_index(drop=True)
            b = want.sort_values(["conv_id", "ts", "label"], kind="mergesort").reset_index(drop=True)
            assert len(a) == len(b)
            np.testing.assert_allclose(
                a["v1"].to_numpy(dtype=float),
                b["v1"].to_numpy(dtype=float),
                equal_nan=True,
            )

    check()


@pytest.mark.parametrize("direction", ["forward", "nearest"])
def test_cogroup_direction_variants(spark, frames, direction):
    """The cogroup path supports forward/nearest as-of semantics (the
    union-window form is backward-only by construction)."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], num_shards=4, direction=direction
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"], direction=direction)
    _check(got, want)


def test_oversized_conversation_warns(spark):
    """A conversation bigger than the Arrow-group budget triggers the
    max_conv_rows guard (actionable warning + metric) while the join result
    stays correct — whole-conversation locality is by design (SURVEY §4),
    so the guard is the visibility mechanism, not a row splitter."""
    import warnings as W

    import pandas as pd
    from pyspark.sql import functions as F

    n = 500
    spine = pd.DataFrame({
        "conv_id": ["giant"] * n + ["tiny"],
        "ts": pd.to_datetime(list(range(1, n + 1)) + [5], unit="s"),
    })
    feats = pd.DataFrame({
        "conv_id": ["giant", "tiny"],
        "ts": pd.to_datetime([0, 0], unit="s"),
        "v": [1.0, 2.0],
    })
    s, f = spark.createDataFrame(spine), spark.createDataFrame(feats)
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        hot = asof.hot_conv_shards(s, f, num_shards=4, max_conv_rows=100)
    assert any("max_conv_rows" in str(r.message) for r in rec)
    assert hot.attrs["max_conv_rows"] >= n
    # and the join itself still produces every spine row
    out = asof.asof_join_cogroup(
        s, f, ["v"], num_shards=4, hot_pdf=hot
    )
    assert out.count() == n + 1
    # quiet when the budget is honored
    with W.catch_warnings(record=True) as rec2:
        W.simplefilter("always")
        asof.hot_conv_shards(s, f, num_shards=4, max_conv_rows=10_000)
    assert not any("max_conv_rows" in str(r.message) for r in rec2)


def _sliced(s, f, **kw):
    """The sliced path, reached through the public join: a max_conv_rows
    budget below the largest conversation (its size warning is expected).
    Returns (rows, executed plan)."""
    import warnings as W

    with W.catch_warnings():
        W.simplefilter("ignore", RuntimeWarning)
        out = asof.asof_join_cogroup(s, f, num_shards=4, **kw)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert asof.SLICE in plan
    return out.toPandas(), plan


@pytest.mark.parametrize("tolerance", [600, 1800, 7200])
def test_sliced_cogroup_matches_unsliced(spark, frames, tolerance):
    """The spine-side time-slice decomposition (the oversized-conversation
    mitigation): identical output to the plain cogroup backward+tolerance
    join at several slice widths (the width is the tolerance)."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    want = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance, num_shards=4
    ).toPandas()
    got, _ = _sliced(
        s, f, value_cols=["v1", "v2"], tolerance_s=tolerance, max_conv_rows=1
    )
    _check(got, want)


def test_sliced_cogroup_splits_giant_conversation(spark):
    """A single 5000-row conversation spanning many slices: the sliced join
    stays correct AND the spine splits into groups of one slice width,
    never the whole conversation."""
    from pyspark.sql import functions as F

    n = 5000
    spine = pd.DataFrame({
        "conv_id": ["giant"] * n,
        "ts": pd.to_datetime(np.arange(1, n + 1) * 10, unit="s"),
        "label": np.arange(n) % 3,
    })
    feats = pd.DataFrame({
        "conv_id": ["giant"] * (n // 2),
        "ts": pd.to_datetime(np.arange(1, n // 2 + 1) * 17, unit="s"),
        "v1": np.arange(n // 2, dtype=float),
        "v2": np.ones(n // 2),
    })
    s, f = spark.createDataFrame(spine), spark.createDataFrame(feats)
    want = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=120, num_shards=4
    ).toPandas()
    got, _ = _sliced(
        s, f, value_cols=["v1", "v2"], tolerance_s=120, max_conv_rows=1000
    )
    _check(got, want)
    # group-size bound: the slice width is the 120 s tolerance, so the
    # biggest (shard, slice) spine group is 12 rows, never 5000
    from recipeselectors_spark.operators.windows import epoch_s

    sizes = (
        s.withColumn("sl", F.floor(epoch_s(F.col("ts")) / F.lit(120)))
        .groupBy("sl").count().agg(F.max("count")).collect()[0][0]
    )
    assert sizes <= 12


def test_sliced_cogroup_guards(spark, frames):
    """Above the budget, joins that cannot be time-sliced raise instead of
    building one oversized Arrow group."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    with pytest.warns(RuntimeWarning, match="max_conv_rows"):
        with pytest.raises(RuntimeError, match="tolerance_s=None"):
            asof.asof_join_cogroup(
                s, f, ["v1"], num_shards=4, max_conv_rows=1
            )
    with pytest.warns(RuntimeWarning, match="max_conv_rows"):
        with pytest.raises(RuntimeError, match="nearest"):
            asof.asof_join_cogroup(
                s, f, ["v1"], tolerance_s=600, num_shards=4,
                direction="nearest", max_conv_rows=1,
            )


@pytest.mark.parametrize("tolerance", [600, 1800])
def test_sliced_cogroup_forward(spark, frames, tolerance):
    """direction='forward' slicing (feature replicated to floor((t-tol)/W)
    instead of floor((t+tol)/W)): identical to the unsliced forward join
    at multiple widths."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    want = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance, num_shards=4,
        direction="forward",
    ).toPandas()
    got, _ = _sliced(
        s, f, value_cols=["v1", "v2"], tolerance_s=tolerance,
        direction="forward", max_conv_rows=1,
    )
    _check(got, want)


def test_cogroup_auto_slices_pathological_conversation(spark):
    """A conversation above max_conv_rows makes asof_join_cogroup slice
    UNPROMPTED (VERDICT r4 #6) — same rows out — and raise a clear error
    when no finite tolerance makes slicing possible; max_conv_rows=None
    opts out into the single-group plan."""
    import warnings as W

    n = 400
    spine = pd.DataFrame({
        "conv_id": ["giant"] * n + ["tiny"],
        "ts": pd.to_datetime(list(range(1, n + 1)) + [5], unit="s"),
    })
    feats = pd.DataFrame({
        "conv_id": ["giant", "tiny"],
        "ts": pd.to_datetime([0, 3], unit="s"),
        "v": [1.0, 2.0],
    })
    s, f = spark.createDataFrame(spine), spark.createDataFrame(feats)

    got, _ = _sliced(s, f, value_cols=["v"], tolerance_s=10, max_conv_rows=100)
    assert len(got) == n + 1
    with W.catch_warnings():
        W.simplefilter("ignore", RuntimeWarning)  # the size warning — expected
        # no finite tolerance -> slicing impossible -> loud error, not an OOM
        with pytest.raises(RuntimeError, match="max_conv_rows"):
            asof.asof_join_cogroup(
                s, f, ["v"], num_shards=4, max_conv_rows=100
            )
    # explicit opt-out keeps the single-group plan
    out = asof.asof_join_cogroup(s, f, ["v"], num_shards=4, max_conv_rows=None)
    assert asof.SLICE not in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == n + 1


def test_sliced_cogroup_zero_tolerance(spark, frames):
    """tolerance_s=0 (exact-timestamp matches only) is legal: the slice
    width is 1s and the result equals the unsliced join."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    want = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=0, num_shards=4
    ).toPandas()
    got, _ = _sliced(
        s, f, value_cols=["v1", "v2"], tolerance_s=0, max_conv_rows=1
    )
    _check(got, want)


def test_sliced_cogroup_plan_shape(spark, frames):
    """Physical-plan pin: exactly one exchange per side, no SinglePartition
    stage, no extra shuffle from the slice replication (a map-side
    explode). (shard, __slice__) keys the cogroup only when sliced; the
    unsliced plan carries no slice column at all."""
    import re

    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    _, sliced = _sliced(
        s, f, value_cols=["v1", "v2"], tolerance_s=600, max_conv_rows=1
    )
    plain = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=600, num_shards=4
    )
    unsliced = plain._jdf.queryExecution().executedPlan().toString()
    assert asof.SLICE not in plain._jdf.queryExecution().toString()
    for plan, keys in (
        (sliced, r"shard#\d+, __slice__#\d+L, 4\)"),
        (unsliced, r"shard#\d+, 4\)"),
    ):
        assert "SinglePartition" not in plan
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert len(re.findall(r"Exchange hashpartitioning\(" + keys, plan)) == 2, plan
        assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan
