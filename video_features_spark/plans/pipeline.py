"""Declarative job spec → DataFrame pipeline (the reference's "config is the
query" surface, Spark-shaped).

The reference drives everything from an OmegaConf DictConfig merged from a
per-feature YAML + CLI overrides (``/root/reference/main.py:8-10``) and
validates/rewrites it in ``sanity_check`` (``utils/utils.py:74-132``). Here the
spec is a frozen dataclass; ``validate`` is the sanity_check analog (device
fallback becomes model-registry lookup, path rewriting becomes partition
columns), and ``build`` assembles the logical plan declaratively — Catalyst
owns the physical plan.
"""

from __future__ import annotations

from collections.abc import Collection
from dataclasses import dataclass, field

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.embed import MODEL_REGISTRY


@dataclass(frozen=True)
class FeatureJobSpec:
    """One point-in-time feature-extraction job over the input_hint table."""

    images_path: str                 # media table (images OR audio clips)
    labels_path: str
    output_path: str
    model: str = "clip-small-det"
    modality: str = "image"          # image | audio | video (reference feature_type dispatch)
    strict: bool = True              # leakage-free: feature.ts strictly < label_ts
    salt_threshold: int | None = None  # probe rows/entity before hot-key salting
    num_parts: int = 64              # checkpoint/resume granularity
    snapshot_id: str = "snapshot-0"
    precision: str = "fp32"          # fp32 | fp16 weight quantization (image)
    augment_seed: int | None = None  # seeded deterministic augmentation (image)
    extra_feature_cols: tuple[str, ...] = field(default_factory=tuple)

    def validate(self) -> None:
        """sanity_check analog (utils/utils.py:74-132): fail fast on the driver."""
        if self.modality not in ("image", "audio", "video"):
            raise ValueError(f"modality must be image|audio|video, got {self.modality!r}")
        if self.modality in ("image", "video") and self.model not in MODEL_REGISTRY:
            raise ValueError(
                f"unknown model {self.model!r}; registry: {sorted(MODEL_REGISTRY)}"
            )
        if self.precision not in ("fp32", "fp16"):
            raise ValueError(f"precision must be fp32|fp16, got {self.precision!r}")
        if self.num_parts < 1:
            raise ValueError("num_parts must be >= 1")
        if self.salt_threshold is not None and self.salt_threshold < 1:
            raise ValueError("salt_threshold must be >= 1 when set")
        if self.output_path in (self.images_path, self.labels_path):
            raise ValueError("output_path must differ from input paths")  # out≠tmp rule


REQUIRED_IMAGE_COLS = ("image_id", "bytes", "fmt", "entity_id", "ts")
REQUIRED_AUDIO_COLS = ("clip_id", "audio", "entity_id", "ts")
REQUIRED_VIDEO_COLS = ("video_id", "video", "entity_id", "ts")
REQUIRED_LABEL_COLS = ("entity_id", "label_ts")
KEY = "entity_id"  # the as-of join key, and the checkpoint partition key


def _read_inputs(spark: SparkSession, spec: FeatureJobSpec) -> tuple[DataFrame, DataFrame]:
    """The validated spec's (media, labels) snapshot reads, schema-checked."""
    from ..sources.tables import read_snapshot

    spec.validate()
    media = read_snapshot(spark, spec.images_path, spec.snapshot_id)
    labels = read_snapshot(spark, spec.labels_path, spec.snapshot_id)
    required = {
        "image": REQUIRED_IMAGE_COLS,
        "audio": REQUIRED_AUDIO_COLS,
        "video": REQUIRED_VIDEO_COLS,
    }[spec.modality]
    for c in required:
        if c not in media.columns:
            raise ValueError(f"{spec.modality} table missing column {c!r}")
    for c in REQUIRED_LABEL_COLS:
        if c not in labels.columns:
            raise ValueError(f"labels table missing column {c!r}")
    return media, labels


def _pending(
    media: DataFrame, labels: DataFrame, num_parts: int, skip_parts: Collection[int]
) -> tuple[DataFrame, DataFrame]:
    """Both scans without the rows of the checkpoint parts in ``skip_parts``.
    The part id must equal the one ``checkpointed_write`` gives the joined
    output, so it hashes the key cast to the type that output carries: the
    as-of join unions the two sides, which widens their key types."""
    if not skip_parts:
        return media, labels
    from ..sources.checkpoint import part_id

    key_type = labels.select(KEY).unionByName(media.select(KEY)).schema[KEY].dataType
    pending = ~part_id([F.col(KEY).cast(key_type)], num_parts).isin(*skip_parts)
    return media.filter(pending), labels.filter(pending)


def build(
    spark: SparkSession, spec: FeatureJobSpec, skip_parts: Collection[int] = ()
) -> DataFrame:
    """Assemble the flagship logical plan: scan → decode+embed (Arrow UDF) →
    strict as-of join → leakage-safe training rows. Pure plan construction —
    nothing executes until the caller writes/collects. Rows of the checkpoint
    parts (of ``spec.num_parts``) in ``skip_parts`` are filtered out of both
    scans, below every Python stage: Catalyst cannot push a filter through a
    Python map node, so one applied to the output would still embed them."""
    from ..operators.asof import asof_join
    from ..operators.features import extract_image_features

    media, labels = _pending(*_read_inputs(spark, spec), spec.num_parts, skip_parts)
    if spec.modality == "audio":
        from ..operators.audio import extract_audio_features

        # clip-level feature = the first 0.96 s example's embedding (one row
        # per clip, deterministic); quarantined clips drop out of the build
        # side the same way undecodable images do
        feats = extract_audio_features(media, spec.model).filter(
            F.col("error").isNull() & (F.col("example_idx") == 0)
        )
    elif spec.modality == "video":
        from ..operators.video import extract_video_frames

        # container -> frame stream -> the SAME image embed operator; each
        # frame is a feature row at its derived event time (clip ts + idx/fps)
        frames = (
            extract_video_frames(media)
            .filter(F.col("error").isNull())
            .select(
                F.col("video_id").alias("image_id"),
                "entity_id",
                F.col("frame_ts").alias("ts"),
                "bytes",
                "fmt",
            )
        )
        feats = extract_image_features(
            frames, spec.model, precision=spec.precision, augment_seed=spec.augment_seed
        )
    else:
        feats = extract_image_features(
            media, spec.model, precision=spec.precision, augment_seed=spec.augment_seed
        )
    right_cols = ["entity_id", "ts", "embedding", *spec.extra_feature_cols]
    return asof_join(
        labels,
        feats.select(*right_cols),
        on=["entity_id"],
        left_ts="label_ts",
        right_ts="ts",
        strict=spec.strict,
        salt_threshold=spec.salt_threshold,
    )


def run(spark: SparkSession, spec: FeatureJobSpec) -> dict:
    """Execute the spec end-to-end into its checkpointed output base and
    return the writer's resume stats; re-run after a failure to resume.

    One embed pass: the parts the manifest marks done are read before
    planning and filtered out of both scans below the Python stage, so each
    pending image is decoded and embedded exactly once and committed ones not
    at all. A base with every label's part committed is a no-op: nothing is
    built or written. The leakage gate is fused into the write
    (``guard_no_leakage``): every written row is checked before commit, and a
    leak fails the write with ``AssertionError`` before any data or manifest
    row lands."""
    from ..operators.asof import LEAKAGE_ERROR, guard_no_leakage
    from ..sources.checkpoint import checkpointed_write, resume_state

    done, _ = resume_state(spark, spec.output_path, spec.snapshot_id)
    if done:
        # output rows are exactly the label rows (left-outer as-of join)
        _, labels = _pending(*_read_inputs(spark, spec), spec.num_parts, done)
        if labels.isEmpty():
            return {"parts_total": spec.num_parts, "parts_skipped": len(done),
                    "parts_written": 0, "rows_written": 0}
    joined = guard_no_leakage(
        build(spark, spec, skip_parts=done), "label_ts", "ts_asof", strict=spec.strict, key_cols=[KEY]
    )
    try:
        return checkpointed_write(
            joined,
            spec.output_path,
            [KEY],
            num_parts=spec.num_parts,
            snapshot_id=spec.snapshot_id,
        )
    except SparkRuntimeException as e:
        msg = (e.getMessageParameters() or {}).get("errorMessage", "")
        if e.getCondition() != "USER_RAISED_EXCEPTION" or not msg.startswith(LEAKAGE_ERROR):
            raise
        raise AssertionError(msg) from e
