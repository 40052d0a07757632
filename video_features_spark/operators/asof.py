"""Point-in-time (as-of) join: for every probe row (entity, probe_ts), attach the
latest build-side row of the same entity with ``build_ts < probe_ts`` (strict,
leakage-free) or ``<=`` (non-strict). Left-outer: probes with no qualifying build
row keep nulls.

This is the north-rule centerpiece. The reference has no relational joins — its
closest analog is the consecutive-frame overlap pairing
(``/root/reference/models/_base/base_flow_extractor.py:78-84``) — so the design
here is Spark-first, not a port.

Two physical strategies
-----------------------
``window`` (default, all-JVM):
    Union probe+build rows tagged by side, then one window pass per entity:
    ``last(build_payload, ignorenulls=True)`` over
    ``(entity ORDER BY ts, side_tag ROWS UNBOUNDED PRECEDING..CURRENT)``.
    Strictness is encoded purely in the sort: for strict ``<`` probes sort
    *before* builds at equal ts (so an equal-ts feature is outside the frame);
    for ``<=`` builds sort first. One shuffle, no Python, whole-stage codegen
    end-to-end, streaming window frame (O(1) state per row). This is the shape
    that survives 100 TB: sort-merge within range partitions, no N×M blowup.

``merge`` (bucketed cogrouped sort-merge):
    hash keys into ~2×parallelism buckets, cogroup on the bucket, and run
    ``pd.merge_asof(by=keys, allow_exact_matches=not strict)`` per bucket —
    the per-key backward merge happens in C, one Arrow exchange per bucket
    instead of one per key. Both strategies are sort-merge joins: the window
    strategy's physical plan is hash-partition → sort-within-partitions →
    streaming frame (Spark's Window operator), i.e. the same shape the north
    rule names, executed entirely in the JVM. Use ``merge`` when downstream
    pandas-side feature logic should ride along in the same pass.

Skew
----
``salt_threshold`` activates explicit hot-key salting (north rule: "explicit
salting for hot phash buckets"): probe rows of hot entities are split across
``num_salts`` buckets by a deterministic hash; the hot entity's build rows are
*replicated* to every bucket so each probe still sees the full timeline —
correctness-preserving fan-out, same trick as broadcast-salted joins. Hot-key
detection is an aggregation on the probe side (at cluster scale: a sampled
sketch); the hot set is broadcast-joined to both sides.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

_SALT = "__asof_salt"


def _with_salt(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_threshold: int | None,
    num_salts: int,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Attach a salt column to both sides; hot keys fan probe rows out across
    ``num_salts`` buckets and replicate build rows into all of them."""
    if not salt_threshold:
        return left, right, list(on)
    hot = (
        left.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > salt_threshold)
        .select(*on, F.lit(True).alias("__hot"))
    )
    lcols, rcols = left.columns, right.columns
    left = (
        left.join(F.broadcast(hot), list(on), "left")
        .withColumn(
            _SALT,
            F.when(F.col("__hot"), F.pmod(F.xxhash64(*lcols), F.lit(num_salts)).cast("int"))
            .otherwise(F.lit(0)),
        )
        .drop("__hot", "__cnt")
    )
    right = (
        right.join(F.broadcast(hot), list(on), "left")
        .withColumn(
            "__salts",
            F.when(F.col("__hot"), F.sequence(F.lit(0), F.lit(num_salts - 1)))
            .otherwise(F.array(F.lit(0))),
        )
        .withColumn(_SALT, F.explode("__salts"))
        .select(*rcols, _SALT)
    )
    return left, right, [*on, _SALT]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    strict: bool = True,
    strategy: str = "window",
    salt_threshold: int | None = None,
    num_salts: int = 16,
) -> DataFrame:
    """As-of join ``left`` (probe/labels) against ``right`` (build/features).

    Returns all ``left`` columns plus ``right_cols`` (default: every non-key,
    non-ts right column) taken from the qualifying build row, plus the matched
    build timestamp as ``{right_ts}_asof`` (null when no match).
    """
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    right_cols = list(right_cols)
    if strategy == "window":
        return _asof_window(
            left, right, on, left_ts, right_ts, right_cols, strict, salt_threshold, num_salts
        )
    if strategy == "merge":
        return _asof_merge(
            left, right, on, left_ts, right_ts, right_cols, strict, salt_threshold, num_salts
        )
    raise ValueError(f"strategy must be window|merge, got {strategy!r}")


def _build_tiebreak(right_cols, asof_ts):
    """Deterministic tiebreak among build rows sharing (key, ts): xxhash64 of
    the full build payload. Without it, which duplicate-(key, ts) build row the
    as-of join picks depends on input partitioning/order (datagen produces such
    dups: same phash+ts, different embeddings). Both strategies use the SAME
    hash so window and merge pick the same winner: the max-hash row."""
    return F.xxhash64(F.struct(*[F.col(c) for c in right_cols], F.col(asof_ts)))


def _asof_window(
    left, right, on, left_ts, right_ts, right_cols, strict, salt_threshold, num_salts
):
    left, right, keys = _with_salt(left, right, on, salt_threshold, num_salts)
    asof_ts = f"{right_ts}_asof"
    # side tag controls tie behavior at equal ts: the window frame ends at the
    # current row, so whichever side sorts LAST at a given ts "sees" the other.
    probe_tag, build_tag = (0, 1) if strict else (1, 0)
    lpay = [c for c in left.columns if c not in keys and c != left_ts and c != _SALT]

    l_u = left.select(
        *keys,
        F.col(left_ts).cast("timestamp").alias("__ts"),
        F.lit(probe_tag).alias("__tag"),
        F.struct(*[F.col(c) for c in lpay]).alias("__lpay") if lpay else F.lit(None).alias("__lpay"),
        F.lit(None).cast(
            "struct<" + ",".join(f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in right_cols)
            + f",`{asof_ts}`:timestamp>"
        ).alias("__rpay"),
    )
    r_u = right.select(
        *keys,
        F.col(right_ts).cast("timestamp").alias("__ts"),
        F.lit(build_tag).alias("__tag"),
        F.lit(None).cast(l_u.schema["__lpay"].dataType.simpleString()).alias("__lpay"),
        F.struct(
            *[F.col(c) for c in right_cols], F.col(right_ts).cast("timestamp").alias(asof_ts)
        ).alias("__rpay"),
    )
    u = l_u.unionByName(r_u).withColumn(
        "__tb",
        F.when(F.col("__tag") == build_tag, _build_tiebreak(["__rpay." + c for c in right_cols], f"__rpay.{asof_ts}"))
        .otherwise(F.lit(0)),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__tag", "__tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("__fill", F.last("__rpay", ignorenulls=True).over(w))
    probes = filled.filter(F.col("__tag") == probe_tag)
    out_cols = (
        [F.col(k) for k in on]
        + [F.col("__ts").alias(left_ts)]
        + [F.col(f"__lpay.{c}").alias(c) for c in lpay]
        + [F.col(f"__fill.{c}").alias(c) for c in right_cols]
        + [F.col(f"__fill.{asof_ts}").alias(asof_ts)]
    )
    return probes.select(*out_cols)


def _asof_merge(
    left, right, on, left_ts, right_ts, right_cols, strict, salt_threshold, num_salts
):
    """Bucketed cogrouped sort-merge: hash the (salted) key into ~2×parallelism
    buckets, cogroup on the BUCKET (not the raw key — one Python/Arrow call per
    key would dominate at high key cardinality), sort each side inside pandas,
    and let ``pd.merge_asof(by=keys)`` run the per-key backward merge in C.
    Requires non-null join keys on the probe side (merge_asof ``by`` contract);
    use the window strategy when probes may carry null keys."""
    left, right, keys = _with_salt(left, right, on, salt_threshold, num_salts)
    asof_ts = f"{right_ts}_asof"
    nbuckets = max(2 * left.sparkSession.sparkContext.defaultParallelism, 16)
    bucket = F.pmod(F.xxhash64(*keys), F.lit(nbuckets)).alias("__bucket")
    lsel = left.select("*", bucket)
    rsel = right.select(
        *keys,
        F.col(right_ts).cast("timestamp").alias("__rts"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        # same payload hash as the window strategy so both pick the same
        # winner among duplicate-(key, ts) build rows
        F.xxhash64(
            F.struct(*[F.col(c) for c in right_cols], F.col(right_ts).cast("timestamp"))
        ).alias("__tb"),
        bucket,
    )

    out_fields = [
        f"`{c}` {lsel.schema[c].dataType.simpleString()}"
        for c in lsel.columns
        if c not in (_SALT, "__bucket")
    ]
    out_fields += [f"`{c}` {right.schema[c].dataType.simpleString()}" for c in right_cols]
    out_fields += [f"`{asof_ts}` timestamp"]
    schema = ", ".join(out_fields)
    lcols = [c for c in lsel.columns if c not in (_SALT, "__bucket")]
    rename = {f"__r_{c}": c for c in right_cols}
    allow_exact = not strict
    by = list(keys)

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=lcols + right_cols + [asof_ts])
        lpdf = lpdf.sort_values(left_ts, kind="mergesort")
        if rpdf.empty:
            merged = lpdf.copy()
            for c in right_cols:
                merged[c] = None
            merged[asof_ts] = pd.NaT
            return merged[lcols + right_cols + [asof_ts]]
        # ties on __rts resolved by the payload hash: merge_asof backward picks
        # the LAST eligible row, so the max-hash duplicate wins (matches window)
        rpdf = rpdf.sort_values(["__rts", "__tb"], kind="mergesort")
        rpdf[asof_ts] = rpdf["__rts"]
        merged = pd.merge_asof(
            lpdf,
            rpdf[by + ["__rts", asof_ts] + list(rename)],
            left_on=left_ts,
            right_on="__rts",
            by=by,
            direction="backward",
            allow_exact_matches=allow_exact,
        ).rename(columns=rename)
        # unmatched probes get a float NaN in every right column, which Arrow
        # cannot convert to a list (array<float> payloads): make those nulls
        for c in right_cols:
            if merged[c].dtype == object:
                merged[c] = merged[c].where(merged[c].notna(), None)
        return merged[lcols + right_cols + [asof_ts]]

    grouped = lsel.groupBy("__bucket").cogroup(rsel.groupBy("__bucket"))
    return grouped.applyInPandas(merge, schema=schema)


LEAKAGE_ERROR = "temporal leakage:"


def _leaks(label_ts: str, asof_ts: str, strict: bool):
    """Rows whose matched feature timestamp is not strictly before (or, for
    ``strict=False``, not at or before) the label timestamp."""
    later = F.col(asof_ts) >= F.col(label_ts) if strict else F.col(asof_ts) > F.col(label_ts)
    return F.col(asof_ts).isNotNull() & later


def assert_no_leakage(
    result: DataFrame, label_ts: str, asof_ts: str, strict: bool = True
) -> None:
    """Zero-temporal-leakage gate (north rule): every matched feature timestamp
    must be strictly before (or ≤) its label timestamp. Raises on violation."""
    n = result.filter(_leaks(label_ts, asof_ts, strict)).count()
    if n:
        raise AssertionError(f"{LEAKAGE_ERROR} {n} rows with {asof_ts} {'>=' if strict else '>'} {label_ts}")


def guard_no_leakage(
    result: DataFrame, label_ts: str, asof_ts: str, strict: bool = True, key_cols: Sequence[str] = ()
) -> DataFrame:
    """``assert_no_leakage`` as a row-level guard inside the plan, for a caller
    that materialises ``result`` anyway: every row passes unchanged, and the
    first leaking row fails the job evaluating it (``raise_error``, message
    starting ``LEAKAGE_ERROR`` and naming the row) — no separate pass over
    the input. A write job that fails this way commits nothing."""
    row = F.concat_ws(
        " ", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in (*key_cols, label_ts, asof_ts)]
    )
    leak = F.raise_error(F.concat(F.lit(f"{LEAKAGE_ERROR} "), row))
    return result.filter(F.when(_leaks(label_ts, asof_ts, strict), leak).otherwise(F.lit(True)))
