"""Job-spec gates: validation (the reference sanity_check analog,
/root/reference/utils/utils.py:74-132) and end-to-end spec execution with
resume semantics."""

import os

import pytest

from video_features_spark.plans import FeatureJobSpec, build, run


def test_validate_rejects_bad_specs(tmp_path):
    good = dict(
        images_path=str(tmp_path / "i"), labels_path=str(tmp_path / "l"),
        output_path=str(tmp_path / "o"),
    )
    FeatureJobSpec(**good).validate()
    with pytest.raises(ValueError, match="unknown model"):
        FeatureJobSpec(**good, model="nope").validate()
    with pytest.raises(ValueError, match="num_parts"):
        FeatureJobSpec(**good, num_parts=0).validate()
    with pytest.raises(ValueError, match="salt_threshold"):
        FeatureJobSpec(**good, salt_threshold=0).validate()
    with pytest.raises(ValueError, match="output_path"):
        FeatureJobSpec(
            images_path=str(tmp_path), labels_path=str(tmp_path / "l"),
            output_path=str(tmp_path),
        ).validate()


def test_build_checks_schema(spark, tmp_path):
    p = str(tmp_path / "imgs")
    spark.range(3).write.parquet(p)  # wrong schema on purpose
    spec = FeatureJobSpec(images_path=p, labels_path=p, output_path=str(tmp_path / "o"))
    with pytest.raises(ValueError, match="image table missing"):
        build(spark, spec)


def test_run_end_to_end_and_resume(spark, tmp_path):
    from video_features_spark.sources.datagen import generate_images, generate_labels

    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "out"))
    generate_images(spark, 120, n_entities=6).write.parquet(ip)
    generate_labels(spark, 60, n_entities=6).write.parquet(lp)
    spec = FeatureJobSpec(
        images_path=ip, labels_path=lp, output_path=op, num_parts=8
    )
    stats = run(spark, spec)
    assert stats["parts_written"] >= 1 and stats["rows_written"] == 60
    # second run on the finished base: the same stats as a checkpointed_write
    # that skips every part, and nothing embedded, written or appended
    files = _files(op)
    since = _executions(spark)
    stats2 = run(spark, spec)
    assert stats2 == {"parts_total": 8, "parts_skipped": stats["parts_written"],
                      "parts_written": 0, "rows_written": 0}
    assert _files(op) == files
    assert _python_rows(spark, since) == 0
    assert os.path.isdir(os.path.join(op, "_manifest"))


def _files(base):
    """Every file under ``base`` with its size and modification time."""
    return {
        os.path.join(d, f): (os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
        for d, _, fs in os.walk(base) for f in fs
    }


def _executions(spark):
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def _python_rows(spark, since):
    """Rows out of every MapInArrow node (the image embed stage, one row out
    per row in) in the SQL executions numbered ``since`` and later, read from
    the session's SQL metrics."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    execs = store.executionsList().iterator()
    while execs.hasNext():
        eid = execs.next().executionId()
        if eid < since:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith("MapInArrow"):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                    total += int(values.apply(m.accumulatorId()).replace(",", ""))
    return total


def _inputs(spark, tmp_path, n_images=160, n_labels=80, n_entities=16):
    from video_features_spark.sources.datagen import generate_images, generate_labels

    ip, lp = str(tmp_path / "imgs"), str(tmp_path / "lbls")
    generate_images(spark, n_images, n_entities=n_entities).write.parquet(ip)
    generate_labels(spark, n_labels, n_entities=n_entities).write.parquet(lp)
    return ip, lp


def _rows(df):
    """The joined rows as a multiset (unmatched probes carry nulls)."""
    from collections import Counter

    return Counter(
        (r[0], r[1], r[2], None if r[3] is None else tuple(r[3]))
        for r in df.select("entity_id", "label_ts", "ts_asof", "embedding").collect()
    )


def test_resume_embeds_only_pending_parts(spark, tmp_path):
    """A base with about half its parts committed (a job killed midway):
    the resumed run's Python stage receives only the images of pending parts,
    and the final output equals a one-shot run."""
    from pyspark.sql import functions as F

    from video_features_spark.sources.checkpoint import (
        PART_COL, checkpointed_write, read_checkpointed, with_partition_id,
    )

    ip, lp = _inputs(spark, tmp_path)
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=str(tmp_path / "out"), num_parts=8)
    keyed = with_partition_id(build(spark, spec), ["entity_id"], 8)
    parts = sorted(r[0] for r in keyed.select(PART_COL).distinct().collect())
    committed = parts[: len(parts) // 2]
    assert committed and len(committed) < len(parts)
    checkpointed_write(
        keyed.filter(F.col(PART_COL).isin(*committed)).drop(PART_COL),
        spec.output_path, ["entity_id"], num_parts=8,
    )
    pending_images = (
        with_partition_id(spark.read.parquet(ip), ["entity_id"], 8)
        .filter(~F.col(PART_COL).isin(*committed)).count()
    )
    assert 0 < pending_images < 160

    since = _executions(spark)
    stats = run(spark, spec)
    assert _python_rows(spark, since) == pending_images
    assert stats["parts_skipped"] == len(committed)
    assert stats["parts_written"] == len(parts) - len(committed)

    one_shot = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=str(tmp_path / "one"), num_parts=8)
    run(spark, one_shot)
    got = read_checkpointed(spark, spec.output_path)
    assert got.count() == 80
    assert _rows(got) == _rows(read_checkpointed(spark, one_shot.output_path))


def test_leaky_join_fails_the_write_and_commits_nothing(spark, tmp_path, monkeypatch):
    """The leakage gate fused into the write: a joined row whose feature is
    not strictly before its label aborts the job with AssertionError, before
    any data file or manifest row lands."""
    from pyspark.sql import functions as F

    import video_features_spark.operators.asof as asof
    from video_features_spark.sources.checkpoint import load_manifest

    ip, lp = _inputs(spark, tmp_path, n_images=60, n_labels=30, n_entities=6)
    real = asof.asof_join

    def leaky(*args, **kwargs):
        out = real(*args, **kwargs)
        return out.withColumn("ts_asof", F.col("label_ts") + F.expr("INTERVAL 1 SECOND"))

    monkeypatch.setattr(asof, "asof_join", leaky)
    out = str(tmp_path / "out")
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=out, num_parts=4)
    with pytest.raises(AssertionError, match="temporal leakage: entity_id=.* ts_asof="):
        run(spark, spec)
    assert not [f for f in _files(out) if f.endswith(".parquet")]
    assert load_manifest(spark, out) is None


def test_pushed_filter_matches_output_parts_for_integer_keys(spark, tmp_path):
    """The part filter on the scans hashes the key at the joined output's
    type: int labels joined with bigint media come out bigint, and the
    filtered build keeps exactly the output rows ``with_partition_id`` puts
    in the pending parts."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from video_features_spark.sources.checkpoint import PART_COL, with_partition_id
    from video_features_spark.sources.datagen import generate_images, generate_labels

    ip, lp = str(tmp_path / "imgs"), str(tmp_path / "lbls")
    number = F.regexp_extract("entity_id", r"(\d+)", 1)
    generate_images(spark, 160, n_entities=16).withColumn(
        "entity_id", number.cast("bigint")).write.parquet(ip)
    generate_labels(spark, 80, n_entities=16).withColumn(
        "entity_id", number.cast("int")).write.parquet(lp)
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=str(tmp_path / "o"), num_parts=8)
    joined = build(spark, spec)
    assert joined.schema["entity_id"].dataType == LongType()
    # the fixture exercises the type question: hashing the labels' own int
    # key would put some label in a different part
    labels = spark.read.parquet(lp)
    assert with_partition_id(labels, ["entity_id"], 8).join(
        with_partition_id(labels.withColumn("entity_id", F.col("entity_id").cast("bigint")), ["entity_id"], 8)
        .withColumnRenamed(PART_COL, "as_long"), ["entity_id", "label_ts"],
    ).filter(F.col(PART_COL) != F.col("as_long")).count() > 0

    keyed = with_partition_id(joined, ["entity_id"], 8)
    parts = sorted(r[0] for r in keyed.select(PART_COL).distinct().collect())
    skip = set(parts[::2])
    expected = keyed.filter(~F.col(PART_COL).isin(*skip)).drop(PART_COL)
    assert 0 < expected.count() < 80
    assert _rows(build(spark, spec, skip_parts=skip)) == _rows(expected)


def test_audio_job_spec_end_to_end_and_resume(spark, tmp_path):
    from video_features_spark.plans.pipeline import FeatureJobSpec, run
    from video_features_spark.sources.datagen import generate_audio, generate_labels

    clips = str(tmp_path / "clips")
    labels = str(tmp_path / "labels")
    out = str(tmp_path / "out")
    generate_audio(spark, 30, n_entities=5).write.parquet(clips)
    generate_labels(spark, 20, n_entities=5).write.parquet(labels)
    spec = FeatureJobSpec(
        images_path=clips, labels_path=labels, output_path=out,
        model="vggish-det", modality="audio", num_parts=4,
    )
    stats = run(spark, spec)
    assert stats["parts_written"] > 0 and stats["rows_written"] == 20
    # re-run resumes to a no-op
    stats2 = run(spark, spec)
    assert stats2["parts_written"] == 0 and stats2["parts_skipped"] == stats["parts_written"]


def test_job_spec_validates_modality_and_precision(tmp_path):
    import pytest as _pytest

    from video_features_spark.plans.pipeline import FeatureJobSpec

    base = dict(images_path="a", labels_path="b", output_path="c")
    with _pytest.raises(ValueError, match="modality"):
        FeatureJobSpec(**base, modality="text").validate()
    FeatureJobSpec(**base, modality="video").validate()  # S2 path is real now
    with _pytest.raises(ValueError, match="precision"):
        FeatureJobSpec(**base, precision="int8").validate()
    FeatureJobSpec(**base, modality="audio", model="vggish-det").validate()
    FeatureJobSpec(**base, precision="fp16", augment_seed=7).validate()


def test_video_job_spec_end_to_end_and_resume(spark, tmp_path):
    """S2 composition through the job spec: MJPEG-AVI clips → frame stream →
    embed → strict as-of → checkpointed write; re-run resumes to a no-op."""
    from pyspark.sql import functions as F

    from video_features_spark.plans.pipeline import FeatureJobSpec, run
    from video_features_spark.sources.datagen import generate_labels, generate_videos

    clips = str(tmp_path / "clips")
    labels = str(tmp_path / "labels")
    out = str(tmp_path / "out")
    generate_videos(spark, 10, n_entities=5).write.parquet(clips)
    generate_labels(spark, 20, n_entities=5).write.parquet(labels)
    spec = FeatureJobSpec(
        images_path=clips, labels_path=labels, output_path=out,
        modality="video", num_parts=4,
    )
    stats = run(spark, spec)
    assert stats["parts_written"] > 0 and stats["rows_written"] == 20
    joined = spark.read.parquet(out + "/data")
    assert joined.filter(F.col("embedding").isNotNull()).count() > 0
    stats2 = run(spark, spec)
    assert stats2["parts_written"] == 0 and stats2["parts_skipped"] == stats["parts_written"]
