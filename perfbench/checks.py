"""Output checks against references computed without the engine (pandas,
pyarrow, plain Python). Each check returns a list of failure messages; an
empty list means the check passed. Tables are read back with pyarrow, so
inputs and outputs go through the same timestamp decoding."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def read(path: str, columns: list[str], **kwargs) -> pd.DataFrame:
    """Read parquet as pandas, timestamps as naive UTC nanoseconds (Spark's
    INT96 columns read naive, UTC-annotated ones read zoned)."""
    # Spark's hive-style partition dirs (``__part=3``) start with "_", which
    # pyarrow skips by default
    return _naive_ns(
        pq.read_table(path, columns=columns, ignore_prefixes=[".", "_SUCCESS"], **kwargs).to_pandas()
    )


def collect(df) -> pd.DataFrame:
    """A Spark result as pandas (Arrow transfer), timestamps as in ``read``."""
    return _naive_ns(df.toPandas())


def _naive_ns(df: pd.DataFrame) -> pd.DataFrame:
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert(None)
        if pd.api.types.is_datetime64_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    return df


def digest(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent digest of the rows' ``cols`` (nulls spelled out)."""
    rows = sorted(
        "|".join("" if pd.isna(v) else str(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def asof_reference(
    probes: pd.DataFrame, build: pd.DataFrame, by: str, probe_ts: str, build_ts: str
) -> pd.DataFrame:
    """Strict (``build_ts < probe_ts``) backward as-of match per key; adds
    ``<build_ts>_asof`` (NaT when nothing qualifies)."""
    b = build[[by, build_ts]].drop_duplicates().sort_values(build_ts, kind="mergesort")
    b[f"{build_ts}_asof"] = b[build_ts]
    out = pd.merge_asof(
        probes.sort_values(probe_ts, kind="mergesort"),
        b.rename(columns={build_ts: "__bts"}),
        left_on=probe_ts,
        right_on="__bts",
        by=by,
        direction="backward",
        allow_exact_matches=False,
    )
    return out.drop(columns="__bts")


def check_asof(out: pd.DataFrame, ref: pd.DataFrame, cols: list[str], label_ts: str, asof_ts: str) -> list[str]:
    errors = []
    if len(out) != len(ref):
        errors.append(f"row count {len(out)} != reference {len(ref)}")
    leaks = int((out[asof_ts].notna() & (out[asof_ts] >= out[label_ts])).sum())
    if leaks:
        errors.append(f"{leaks} rows with {asof_ts} >= {label_ts}")
    if digest(out, cols) != digest(ref, cols):
        errors.append(f"({', '.join(cols)}) digest differs from pandas merge_asof reference")
    return errors


def check_embeddings(out: pd.DataFrame, images: pd.DataFrame, model: str, sample: int, seed: int) -> list[str]:
    """Embeddings of a seed-chosen sample of matched rows equal the in-process
    decode + ``preprocess_and_embed`` output bit for bit (this process pins
    BLAS to one thread, as the engine's Python workers run)."""
    from video_features_spark.functions.codec import decode_image
    from video_features_spark.functions.embed import preprocess_and_embed

    matched = out[out["ts_asof"].notna()]
    if matched.empty:
        return ["no matched rows to sample embeddings from"]
    pick = matched.sample(n=min(sample, len(matched)), random_state=seed)
    src = images.set_index(["entity_id", "ts"])
    errors = []
    for row in pick.itertuples(index=False):
        img = src.loc[(row.entity_id, row.ts_asof)]
        want = preprocess_and_embed([decode_image(img["bytes"], img["fmt"])], model)[0]
        got = np.asarray(row.embedding, dtype=np.float32)
        if got.shape != want.shape or not np.array_equal(got, want):
            errors.append(f"embedding of {row.entity_id}@{row.ts_asof} differs from in-process embed")
    return errors


def check_windows(out: pd.DataFrame, feats: pd.DataFrame, keys: pd.DataFrame,
                  entities: list, phashes: list) -> list[str]:
    """lag/lead and forward-fill per sampled entity (``feats`` holds their
    rows), session ids per sampled phash (from ``keys``, every row's ids),
    against pandas ``shift``/``ffill``/``cumsum`` over the same order."""
    errors = []
    order = ["ts", "image_id"]
    got = out.set_index("image_id")
    for ent in entities:
        f = feats[feats["entity_id"] == ent].sort_values(order, kind="mergesort")
        g = got.loc[f["image_id"]]
        for col, want in (
            ("embedding_lag1", f["embedding"].shift(1)),
            ("embedding_lead1", f["embedding"].shift(-1)),
        ):
            if not all(map(_same_array, g[col], want)):
                errors.append(f"{col} differs from pandas shift for entity {ent}")
        want_fill = f["caption"].ffill()
        if not g["caption_filled"].fillna("\0").tolist() == want_fill.fillna("\0").tolist():
            errors.append(f"caption_filled differs from pandas ffill for entity {ent}")
    for ph in phashes:
        f = keys[keys["phash"] == ph].sort_values(order, kind="mergesort")
        gap = f["ts"].diff().dt.total_seconds()
        want = (gap.isna() | (gap > 3600)).astype(int).cumsum()
        if got.loc[f["image_id"], "session_id"].tolist() != want.tolist():
            errors.append(f"session_id differs from pandas cumsum for phash {ph}")
    return errors


def _same_array(a, b) -> bool:
    """Equal arrays, or both missing (None from Arrow, NaN from a shift)."""
    missing_a, missing_b = (x is None or (np.isscalar(x) and pd.isna(x)) for x in (a, b))
    if missing_a or missing_b:
        return missing_a and missing_b
    return np.array_equal(np.asarray(a), np.asarray(b))


def shingles(text: str, n: int = 5) -> set[str]:
    return {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}


def check_dedup(groups: pd.DataFrame, pairs: pd.DataFrame, docs: pd.DataFrame,
                threshold: float, sample: int, seed: int) -> list[str]:
    errors = []
    comp = groups.set_index("id")["component"]
    split = pairs[pairs["id_a"].map(comp) != pairs["id_b"].map(comp)]
    if len(split):
        errors.append(f"{len(split)} verified pairs span two components")
    comp_min = groups.groupby("component")["id"].min()
    if not (comp_min.index == comp_min.values).all():
        errors.append("a component is not labelled by its smallest id")
    kept = groups[groups["is_kept"]]
    if sorted(kept["id"]) != sorted(comp_min.values):
        errors.append("survivors are not exactly each component's smallest id")
    if pairs.empty:
        errors.append("no verified near-duplicate pairs")
        return errors
    text = docs.set_index("doc_id")["text"]
    for row in pairs.sample(n=min(sample, len(pairs)), random_state=seed).itertuples(index=False):
        a, b = shingles(text[row.id_a]), shingles(text[row.id_b])
        j = len(a & b) / len(a | b)
        if j < threshold - 1e-9:
            errors.append(f"pair ({row.id_a}, {row.id_b}) recomputes to jaccard {j:.3f}")
    return errors


def check_curated(out: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    errors = []
    if out.empty:
        errors.append("curate_corpus kept no documents")
    if out["doc_id"].duplicated().any():
        errors.append("curate_corpus emitted a document twice")
    if not out["doc_id"].isin(docs["doc_id"]).all():
        errors.append("curate_corpus emitted an unknown doc_id")
    if (out["quality"] < 0.3).any() or (out["lang_pred"] != "en").any():
        errors.append("curate_corpus kept a document below its quality or language gate")
    return errors
