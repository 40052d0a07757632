"""As-of join correctness vs DuckDB's native ASOF JOIN, both strategies,
strict and non-strict, salted and unsalted."""

import pytest
from pyspark.sql import functions as F

from tests.utils import assert_frames_match
from video_features_spark.operators import asof_join
from video_features_spark.operators.asof import assert_no_leakage


def _feat(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # unique (key, ts) build side => deterministic as-of answer for any engine
    return (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("feat_price"))
        .withColumnRenamed("o_custkey", "user_id")
    )


def _oracle(duck, strict):
    op = ">" if strict else ">="
    return duck.execute(
        f"""
        WITH feat AS (
          SELECT o_custkey AS user_id, o_orderdate, max(o_totalprice) AS feat_price
          FROM orders GROUP BY 1, 2
        )
        SELECT e.user_id, e.ts, e.event_id,
               f.feat_price, f.o_orderdate AS o_orderdate_asof
        FROM events e ASOF LEFT JOIN feat f
          ON e.user_id = f.user_id AND e.ts {op} f.o_orderdate
        """
    ).df()


@pytest.mark.parametrize("strategy", ["window", "merge"])
@pytest.mark.parametrize("strict", [True, False])
def test_asof_matches_duckdb(spark, duck, sf_dir, strategy, strict):
    probe = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "event_id")
    res = asof_join(
        probe, _feat(spark, sf_dir), on=["user_id"], left_ts="ts",
        right_ts="o_orderdate", strict=strict, strategy=strategy,
    )
    assert_frames_match(res.toPandas(), _oracle(duck, strict))


@pytest.mark.parametrize("strategy", ["window", "merge"])
def test_asof_salted_matches_unsalted(spark, sf_dir, strategy):
    probe = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "event_id")
    feat = _feat(spark, sf_dir)
    plain = asof_join(probe, feat, ["user_id"], "ts", "o_orderdate", strategy=strategy)
    # threshold low enough that many keys are "hot" => salting path exercised
    salted = asof_join(
        probe, feat, ["user_id"], "ts", "o_orderdate", strategy=strategy,
        salt_threshold=2, num_salts=4,
    )
    assert_frames_match(salted.toPandas(), plain.toPandas())


def test_leakage_gate(spark, sf_dir):
    probe = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "event_id")
    res = asof_join(probe, _feat(spark, sf_dir), ["user_id"], "ts", "o_orderdate", strict=True)
    assert_no_leakage(res, "ts", "o_orderdate_asof", strict=True)
    # matched rows exist at all (the gate isn't vacuous)
    assert res.filter(F.col("o_orderdate_asof").isNotNull()).count() > 0


# ---------------------------------------------------------------------------
# Property-based: random tiny tables vs a local pd.merge_asof reference
# ---------------------------------------------------------------------------

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

_row = st.tuples(st.integers(0, 3), st.integers(0, 20))  # (entity, ts-seconds)


def _ref_asof(probe: pd.DataFrame, build: pd.DataFrame, strict: bool) -> pd.DataFrame:
    probe = probe.sort_values("ts", kind="mergesort").reset_index(drop=True)
    build = build.sort_values("fts", kind="mergesort").reset_index(drop=True)
    out = pd.merge_asof(
        probe, build, left_on="ts", right_on="fts", by="e",
        direction="backward", allow_exact_matches=not strict,
    )
    return out.rename(columns={"fts": "fts_asof"})


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    probe_rows=st.lists(_row, min_size=1, max_size=25),
    build_rows=st.lists(_row, min_size=0, max_size=25),
    strict=st.booleans(),
    strategy=st.sampled_from(["window", "merge"]),
)
def test_asof_property_vs_pandas(spark, probe_rows, build_rows, strict, strategy):
    """Duplicate probe timestamps, empty build sides, equal-ts boundaries,
    entities present on only one side — all must match pd.merge_asof. Build
    keys deduped: multiple build rows at one (entity, ts) are ambiguous by
    construction (any engine may pick either payload)."""
    base = pd.Timestamp("2024-01-01")
    probe = pd.DataFrame(
        {"e": [r[0] for r in probe_rows],
         "ts": [base + pd.Timedelta(seconds=r[1]) for r in probe_rows]}
    )
    probe["pid"] = range(len(probe))
    build = pd.DataFrame(
        {"e": pd.array([r[0] for r in build_rows], dtype="int64"),
         "fts": pd.to_datetime([base + pd.Timedelta(seconds=r[1]) for r in build_rows])}
    ).drop_duplicates(["e", "fts"])
    build["val"] = (build["e"] * 1000 + build["fts"].astype("int64") % 997).astype("int64")

    sp = spark.createDataFrame(probe, "e long, ts timestamp, pid long")
    sb = (
        spark.createDataFrame(build, "e long, fts timestamp, val long")
        if len(build)
        else spark.createDataFrame([], "e long, fts timestamp, val long")
    )
    got = (
        asof_join(sp, sb, on=["e"], left_ts="ts", right_ts="fts",
                  strict=strict, strategy=strategy)
        .toPandas()
        .sort_values("pid", kind="mergesort")
        .reset_index(drop=True)
    )
    ref = _ref_asof(probe, build, strict).sort_values("pid", kind="mergesort").reset_index(drop=True)
    assert got["pid"].tolist() == ref["pid"].tolist()
    assert got["val"].astype("float64").equals(ref["val"].astype("float64"))
    got_ts = pd.to_datetime(got["fts_asof"])
    ref_ts = pd.to_datetime(ref["fts_asof"])
    assert got_ts.isna().equals(ref_ts.isna()) and (got_ts.dropna() == ref_ts.dropna()).all()


@pytest.mark.parametrize("strategy", ["window", "merge"])
def test_asof_duplicate_build_ts_deterministic(spark, strategy):
    """Build rows sharing (key, ts) with DIFFERENT payloads: the chosen row
    must be deterministic (max payload-hash) across partitionings and
    identical between the two strategies."""
    probe = spark.createDataFrame(
        [("k1", 100), ("k1", 50), ("k2", 100)], "key string, ts long"
    ).select("key", F.timestamp_seconds("ts").alias("ts"))
    build = spark.createDataFrame(
        [("k1", 10, "a"), ("k1", 10, "b"), ("k1", 10, "c"), ("k2", 10, "x"), ("k2", 10, "y")],
        "key string, fts long, payload string",
    ).select("key", F.timestamp_seconds("fts").alias("fts"), "payload")

    def run(b, strat):
        res = asof_join(
            probe, b, on=["key"], left_ts="ts", right_ts="fts",
            strict=True, strategy=strat,
        )
        return sorted((r["key"], r["ts"], r["payload"]) for r in res.collect())

    base = run(build.repartition(1), strategy)
    assert base == run(build.repartition(7), strategy)
    assert base == run(build.orderBy(F.desc("payload")).repartition(3), strategy)
    # both strategies pick the SAME winner among the duplicate-(key, ts) rows
    other = "merge" if strategy == "window" else "window"
    assert base == run(build, other)
    # every probe matched something (ts > build ts for all)
    assert all(p is not None for _, _, p in base)


# ~50% of rows land on entity 0 — the hot-key shape salting exists for
_skewed_entity = st.sampled_from([0, 0, 0, 0, 0, 1, 2, 3, 4])


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    probes=st.lists(st.tuples(_skewed_entity, st.integers(0, 20)), min_size=1, max_size=30),
    builds=st.lists(
        st.tuples(_skewed_entity, st.integers(0, 20), st.integers(0, 4)),
        min_size=0, max_size=30,
    ),
    strict=st.booleans(),
)
def test_asof_salted_strategies_agree_on_adversarial_skew(spark, probes, builds, strict):
    """Round-3 gate for the payload-hash tiebreak (asof.py): on tables where
    one key holds ~half the rows AND build rows duplicate (key, ts) with
    DIFFERENT payloads, the salted window path, the unsalted window path, and
    the merge path must produce identical rows — salting and the cogrouped
    merge must not change which duplicate wins."""
    probe = spark.createDataFrame(
        [(e, ts, i) for i, (e, ts) in enumerate(probes)], "e long, ts long, pid long"
    ).select("e", F.timestamp_seconds("ts").alias("ts"), "pid")
    build = spark.createDataFrame(
        [(e, ts, f"p{v}") for e, ts, v in builds] or [],
        "e long, fts long, payload string",
    ).select("e", F.timestamp_seconds("fts").alias("fts"), "payload")

    def run(strategy, salt):
        res = asof_join(
            probe, build, on=["e"], left_ts="ts", right_ts="fts",
            strict=strict, strategy=strategy,
            salt_threshold=salt, num_salts=4,
        )
        return sorted(
            (r["pid"], r["payload"], r["fts_asof"]) for r in res.collect()
        )

    unsalted = run("window", None)
    assert unsalted == run("window", 1)   # every key over threshold -> salted
    assert unsalted == run("merge", None)
    assert unsalted == run("merge", 1)


def test_merge_unmatched_probe_with_array_payload(spark):
    """An unmatched probe in a non-empty bucket: ``pd.merge_asof`` fills its
    array<float> payload with a float NaN, which Arrow cannot convert to a
    list. The merge strategy must return a null payload, as window does."""
    probe = spark.createDataFrame(
        [("k", 3600, 1), ("k", 5 * 3600, 2)], "key string, ts long, pid long"
    ).select("key", F.timestamp_seconds("ts").alias("ts"), "pid")
    build = spark.createDataFrame(
        [("k", 3 * 3600, [0.5, 1.5])], "key string, fts long, emb array<float>"
    ).select("key", F.timestamp_seconds("fts").alias("fts"), "emb")

    def run(strategy):
        res = asof_join(probe, build, on=["key"], left_ts="ts", right_ts="fts", strategy=strategy)
        return sorted((r["pid"], r["emb"], r["fts_asof"]) for r in res.collect())

    window = run("window")
    assert [(pid, emb) for pid, emb, _ in window] == [(1, None), (2, [0.5, 1.5])]
    assert run("merge") == window
