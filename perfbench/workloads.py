"""The workloads. Each is a closed loop: one client issues one operation
at a time, and an operation is two timed steps (spans ``step1``, ``step2``).

Every workload implements:
- ``prepare``: seeded inputs (untimed work, but inside ``setup_s``);
- ``warm``: warm-up operations, also inside ``setup_s``;
- ``op``: the timed operation; returns the engine's job statistics, if any;
- ``check``: output checks against engine-free references;
- ``ladder`` and ``layers``: the traced run's layer-by-layer materialisation
  and the per-layer metrics derived from its spans and the event log;
- ``side`` and ``check_side`` (optional): layers that only the traced run
  reaches, and their output checks.

Why each workload exists, and which metric each layer should move, is in
NOTES.md next to this file.
"""

from __future__ import annotations

import os

import checks
import inputs
import numpy as np
import pandas as pd
import video_features_spark.operators.asof as asof
import video_features_spark.operators.dedup as dedup
import video_features_spark.operators.features as features
import video_features_spark.operators.text as text
import video_features_spark.operators.windows as windows
import video_features_spark.plans.pipeline as pipeline
import video_features_spark.sources.checkpoint as checkpoint
import video_features_spark.sources.tables as tables
from pyspark.sql import functions as F
from spans import duration, inside

# Engine functions are always called through their module (``asof.asof_join``,
# never a bare imported name), so a traced run's span wrappers, installed on
# the modules, see every call.

MODEL = "clip-small-det"
NUM_PARTS = 16  # checkpoint partitions (the resume granule)
GAP_SECONDS = 3600


def noop(df) -> None:
    """Materialise every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    items = 0  # input items per operation, for items_per_s

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.path = lambda *p: os.path.join(ctx.work, *p)
        self.stats: list = []  # per-operation engine statistics
        self.measured: dict[str, float] = {}  # counts taken by the checks and the ladder

    def side(self) -> None:
        """Layers that only traced runs reach, run after the traced operation."""

    def check_side(self) -> list[str]:
        return []

    def span(self, name):
        return self.ctx.tracer.span(name)


# ---------------------------------------------------------------------------
# point-in-time feature jobs
# ---------------------------------------------------------------------------


class PitJob(Workload):
    """The flagship job: a fresh ``plans.run`` into an empty output base
    (step 1), then the same job again on the now finished base (step 2,
    every checkpoint partition already committed)."""

    name = "pit_job"
    n_images = 2000
    n_entities = 80  # 25 images per entity: uniform keys, every part non-empty
    n_labels = 1000

    def prepare(self):
        ctx = self.ctx
        self.items = self.n_images
        self.images, self.labels = self.path("images"), self.path("labels")
        inputs.write_images(self.spark, self.images, self.n_images, self.n_entities, ctx.seed, 2 * ctx.cores)
        inputs.write_labels(
            self.spark, self.labels, self.n_labels, self.n_entities,
            self.n_images // self.n_entities, ctx.seed,
        )

    def spec(self, base: str):
        return pipeline.FeatureJobSpec(self.images, self.labels, base, model=MODEL, num_parts=NUM_PARTS)

    def run_job(self, base: str) -> dict:
        return pipeline.run(self.spark, self.spec(base))

    def warm(self):
        # the second job still runs ~15% slow while the JVM compiles its hot
        # paths; from the third on, jobs repeat within a few percent
        self.op(-1)
        self.op(-2)

    def op(self, k: int):
        base = self.path(f"job{k}")
        with self.span("step1"):
            fresh = self.run_job(base)
        with self.span("step2"):
            rerun = self.run_job(base)
        self.stats.append((fresh, rerun))
        self.last_base = base
        return [fresh, rerun]

    def check_stats(self) -> list[str]:
        errors = []
        for fresh, rerun in self.stats:
            if fresh["parts_skipped"] or fresh["rows_written"] != self.n_labels:
                errors.append(f"fresh job wrote {fresh}, expected {self.n_labels} rows and 0 skipped")
            if rerun["parts_written"] or rerun["parts_skipped"] != fresh["parts_written"]:
                errors.append(f"re-run of a finished job wrote {rerun}")
        return errors

    def check(self) -> list[str]:
        out = checks.read(
            os.path.join(self.last_base, "data"), ["entity_id", "label_ts", "ts_asof", "embedding"]
        )
        self.measured["rows_out"] = len(out)
        labels = checks.read(self.labels, ["entity_id", "label_ts"])
        images = checks.read(self.images, ["entity_id", "ts", "bytes", "fmt"])
        ref = checks.asof_reference(labels, images, "entity_id", "label_ts", "ts")
        errors = checks.check_asof(out, ref, ["entity_id", "label_ts", "ts_asof"], "label_ts", "ts_asof")
        errors += checks.check_embeddings(out, images, MODEL, 16, self.ctx.seed)
        return errors + self.check_stats()

    # -- traced run --------------------------------------------------------

    def ladder(self):
        with self.span("ladder.scan_images"):
            noop(tables.read_snapshot(self.spark, self.images).select(
                "image_id", "entity_id", "ts", "bytes", "fmt"))
        with self.span("ladder.scan_labels"):
            noop(tables.read_snapshot(self.spark, self.labels))
        with self.span("ladder.features"):
            feats = features.extract_image_features(tables.read_snapshot(self.spark, self.images), MODEL)
            self.measured["quarantined"] = feats.agg(
                F.sum(F.col("error").isNotNull().cast("int"))).first()[0]
        spec = self.spec(self.path("ladder_base"))
        with self.span("ladder.pipeline"):
            noop(pipeline.build(self.spark, spec))
        # the leakage gate reads only the two timestamps of the joined rows
        with self.span("ladder.gate_input"):
            noop(pipeline.build(self.spark, spec).select("label_ts", "ts_asof"))

    def layers(self, tr, ev, op, side) -> dict:
        """Per pass: scan, features and as-of from the ladder. Per operation:
        the spans of plan building, the gate and the checkpointed write, each
        less the pass it re-ran (as-of output for the write, its two
        timestamp columns for the gate)."""
        x = {n: tr.executing(tr.one(f"ladder.{n}"))
             for n in ("scan_images", "scan_labels", "features", "pipeline", "gate_input")}
        scans = [ev.summary(tr.one(f"ladder.{n}")) for n in ("scan_images", "scan_labels")]
        feat = ev.summary(tr.one("ladder.features"))
        pipe = ev.summary(tr.one("ladder.pipeline"))
        runs = [ev.summary(s) for s in tr.find("plans.run", op)]
        gates = tr.find("gate.assert_no_leakage", op)
        cks = tr.find("checkpoint.checkpointed_write", op)
        writes = [s for s in tr.find("sink.parquet", op)
                  if s["path"].endswith("/data") and any(inside(s, c) for c in cks)]
        written = sum(st["rows_written"] for st in self.traced_stats)
        m = {
            "sources.scan_s": sum(duration(tr.one(f"ladder.{n}")) for n in ("scan_images", "scan_labels")),
            "sources.scan_tasks": sum(s["tasks"] for s in scans),
            "sources.scan_bytes": sum(s["file_bytes"] for s in scans),
            "features.self_s": x["features"] - x["scan_images"],
            "features.tasks": feat["python_tasks"],
            "features.python_init_s": feat["python_init_ms"] / 1000,
            "features.python_run_s": feat["python_run_ms"] / 1000,
            "features.bytes_to_python": feat["bytes_to_python"],
            "features.bytes_from_python": feat["bytes_from_python"],
            "features.rows_quarantined": self.measured["quarantined"],
            "asof.self_s": x["pipeline"] - max(x["features"], x["scan_labels"]),
            "asof.shuffle_bytes": pipe["shuffle_bytes"],
            "asof.task_skew": pipe["task_skew"],
            "asof.rows_out": self.measured["rows_out"],
            "gate.self_s": sum(map(duration, gates)) - len(gates) * x["gate_input"],
            "checkpoint.write_s": sum(map(duration, writes)) - len(writes) * x["pipeline"],
            "checkpoint.manifest_s": sum(map(duration, cks)) - sum(map(duration, writes)),
            "checkpoint.parts_written": sum(st["parts_written"] for st in self.traced_stats),
            "checkpoint.parts_skipped": sum(st["parts_skipped"] for st in self.traced_stats),
            "plans.build_s": tr.total("plans.build", op),
            "plans.jobs": runs[0]["jobs"],
            "plans.embed_rows_per_written_row": sum(r["python_rows"] for r in runs) / max(written, 1),
            "trace.pipeline_passes": ev.summary(op)["python_rows"] / self.n_images,
        }
        m["trace.accounted_s"] = (
            m["plans.build_s"] + m["gate.self_s"] + len(gates) * x["gate_input"]
            + m["checkpoint.manifest_s"] + m["checkpoint.write_s"] + len(writes) * x["pipeline"]
        )
        return m


# ---------------------------------------------------------------------------
# JVM-only operators: skewed as-of join and windows, then text dedup/curation
# ---------------------------------------------------------------------------


class Operators(Workload):
    """Step 1: the north rule's phash-keyed strict as-of join over a feature
    table with two hot phash keys. Step 2: lag/lead and backfill on
    ``entity_id``, then sessionize on ``phash`` (shuffle, sort and skew; no
    Python). Traced runs also run ``curate_corpus`` (quality and language
    gates, then ``minhash_dedup`` -> ``dedup_groups`` over the kept rows) over
    a seeded document set with near-copy clusters."""

    name = "operators"
    n_images = 1000
    copies = 24  # the feature table holds n_images * copies rows
    n_docs = 400
    # minhash_dedup's own defaults, passed to curate_corpus too, so both
    # text operators band the same signature
    dedup_args = dict(n_hashes=32, bands=8, shingle_n=5, threshold=0.5)

    def prepare(self):
        self.feats_path, self.docs_path = self.path("features"), self.path("documents.parquet")
        inputs.write_phash_features(self.feats_path, self.n_images, self.ctx.seed, 2 * self.ctx.cores, self.copies)
        inputs.write_documents(self.docs_path, self.n_docs, self.ctx.seed)
        self.items = self.n_images * self.copies

    def frames(self):
        feats = tables.read_snapshot(self.spark, self.feats_path)
        probes = feats.select(
            "image_id", "phash", (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("label_ts")
        )
        return feats, probes, feats.select("phash", "ts", "embedding")

    def joined(self):
        _, probes, build = self.frames()
        # required arguments only: the default strategy, no salting knobs
        return asof.asof_join(probes, build, on=["phash"], left_ts="label_ts", right_ts="ts")

    def windowed(self):
        feats, _, _ = self.frames()
        out = windows.lag_lead(feats, ["entity_id"], "ts", "embedding", tiebreak_col="image_id")
        out = windows.backfill(out, ["entity_id"], "ts", ["caption"], tiebreak_col="image_id")
        return windows.sessionize(out, ["phash"], "ts", GAP_SECONDS, tiebreak_col="image_id")

    def docs(self):
        return tables.read_snapshot(self.spark, self.docs_path)

    def pairs(self):
        return dedup.minhash_dedup(self.docs(), "doc_id", "text", **self.dedup_args)

    def curated(self):
        a = self.dedup_args
        return text.curate_corpus(
            self.docs(), jaccard_threshold=a["threshold"], n_hashes=a["n_hashes"], bands=a["bands"]
        )

    def warm(self):
        # both plans are short and keep getting faster for many runs while
        # the JVM compiles; timed on that curve, a slow host fits fewer
        # operations in the window and its median lands earlier on the curve,
        # which widens the spread between runs: six rounds before timing
        for k in range(-1, -7, -1):
            self.op(k)

    def op(self, k: int):
        with self.span("step1"), self.span("op.asof"):
            noop(self.joined())
        with self.span("step2"), self.span("op.windows"):
            noop(self.windowed())
        return []

    def side(self):
        # the curated documents (a few hundred rows) land in parquet, so the
        # check reads what the traced run produced
        with self.span("op.curate"):
            self.curated().write.mode("overwrite").parquet(self.path("curated"))
        # the text half of the ladder
        docs = self.docs()
        # the dedup operators spread a single-split scan over the session's
        # cores before hashing; the ladder does the same so its steps see
        # the parallelism the operation saw
        spread = docs.repartition(self.spark.sparkContext.defaultParallelism, "doc_id")
        a = self.dedup_args
        with self.span("ladder.scan_docs"):
            noop(docs)
        with self.span("ladder.signatures"):
            noop(dedup.minhash_signatures(spread, "doc_id", "text", a["n_hashes"], a["shingle_n"]))
        sigs = dedup.minhash_signatures(spread, "doc_id", "text", a["n_hashes"], a["shingle_n"])
        self.measured["candidates"] = dedup.lsh_candidate_pairs(sigs, "doc_id", a["bands"]).count()
        pairs = self.pairs()
        with self.span("ladder.verify"):
            self.measured["verified"] = pairs.count()

    def check_side(self) -> list[str]:
        return self.check_text()

    def check(self) -> list[str]:
        return self.check_asof_windows()

    def check_asof_windows(self) -> list[str]:
        out = checks.collect(self.joined().select("image_id", "phash", "label_ts", "ts_asof"))
        self.measured["rows_out"] = len(out)
        keys = checks.read(self.feats_path, ["image_id", "entity_id", "phash", "ts"])
        probes = keys[["image_id", "phash"]].assign(label_ts=keys["ts"] + pd.Timedelta(minutes=5))
        ref = checks.asof_reference(probes, keys, "phash", "label_ts", "ts")
        errors = checks.check_asof(out, ref, ["image_id", "phash", "label_ts", "ts_asof"], "label_ts", "ts_asof")

        rng = np.random.default_rng(self.ctx.seed)
        entities = sorted(rng.choice(keys["entity_id"].unique(), 3, replace=False))
        counts = keys["phash"].value_counts()
        phashes = [int(counts.index[0]), int(rng.choice(counts.index[2:]))]  # hottest + a cold one
        win = checks.collect(
            self.windowed()
            .filter(F.col("entity_id").isin(entities) | F.col("phash").isin(phashes))
            .select("image_id", "embedding_lag1", "embedding_lead1", "caption_filled", "session_id")
        )
        feats = checks.read(
            self.feats_path, ["image_id", "entity_id", "phash", "ts", "caption", "embedding"],
            filters=[("entity_id", "in", entities)],
        )
        return errors + checks.check_windows(win, feats, keys, entities, phashes)

    def check_text(self) -> list[str]:
        # minhash_dedup and dedup_groups over every document, the groups
        # built from the very pairs they are checked against
        pairs = checks.collect(self.pairs().select("id_a", "id_b"))
        groups = (
            checks.collect(dedup.dedup_groups(self.spark.createDataFrame(pairs)))
            if len(pairs) else pd.DataFrame({"id": [], "component": [], "is_kept": []})
        )
        curated = checks.read(self.path("curated"), ["doc_id", "lang_pred", "quality"])
        docs = checks.read(self.docs_path, ["doc_id", "text"])
        return (
            checks.check_dedup(groups, pairs, docs, self.dedup_args["threshold"], 32, self.ctx.seed)
            + checks.check_curated(curated, docs)
        )

    # -- traced run --------------------------------------------------------

    def ladder(self):
        feats, probes, build = self.frames()
        for name, df in (("scan_probes", probes), ("scan_build", build), ("scan_feats", feats)):
            with self.span(f"ladder.{name}"):
                noop(df)

    def layers(self, tr, ev, op, side) -> dict:
        """As-of: its probe and build scans run side by side, so its input
        costs the slower of the two. Windows: less the feature scan.
        Dedup: signatures from the ladder; candidates are what
        ``minhash_dedup`` spent beyond them inside the traced
        ``curate_corpus`` (banding, self-join, candidate probe); the verify
        pass from the ladder; components are ``dedup_groups`` less that
        verify pass, which it runs when it consumes the lazy pairs. Text: the
        curate call less its scan and the dedup calls inside it. Only as-of
        and windows make up the timed operation, so only they are accounted
        against it."""
        lad = {n: tr.one(f"ladder.{n}") for n in ("scan_probes", "scan_build", "scan_feats")}
        lad.update({n: tr.one(f"ladder.{n}", side) for n in ("scan_docs", "signatures", "verify")})
        d = {n: duration(s) for n, s in lad.items()}
        sub = {n: tr.one(f"op.{n}", op) for n in ("asof", "windows")}
        sub["curate"] = tr.one("op.curate", side)
        j, w = ev.summary(sub["asof"]), ev.summary(sub["windows"])
        scans = [ev.summary(lad[n]) for n in ("scan_probes", "scan_build", "scan_feats", "scan_docs")]
        asof_in = max(d["scan_probes"], d["scan_build"])
        mhd = duration(tr.one("dedup.minhash_dedup", sub["curate"]))
        groups = duration(tr.one("dedup.dedup_groups", sub["curate"]))
        signatures = d["signatures"] - d["scan_docs"]
        m = {
            "sources.scan_s": d["scan_probes"] + d["scan_build"] + d["scan_feats"] + d["scan_docs"],
            "sources.scan_tasks": sum(s["tasks"] for s in scans),
            "sources.scan_bytes": sum(s["file_bytes"] for s in scans),
            "asof.self_s": duration(sub["asof"]) - asof_in,
            "asof.shuffle_bytes": j["shuffle_bytes"],
            "asof.task_skew": j["task_skew"],
            "asof.rows_out": self.measured["rows_out"],
            "windows.self_s": duration(sub["windows"]) - d["scan_feats"],
            "windows.shuffle_bytes": w["shuffle_bytes"],
            "windows.exchanges": w["exchanges"],
            "windows.task_skew": w["task_skew"],
            "dedup.signatures_s": signatures,
            # curate hashes rows it has already scanned and scored
            "dedup.candidates_s": mhd - signatures,
            "dedup.verify_s": d["verify"],
            "dedup.components_s": groups - d["verify"],
            "dedup.candidate_pairs": self.measured["candidates"],
            "dedup.verified_ratio": self.measured["verified"] / max(self.measured["candidates"], 1),
            "text.curate_self_s": duration(sub["curate"]) - d["scan_docs"] - mhd - groups,
            "text.jobs": ev.summary(sub["curate"])["jobs"],
        }
        m["trace.accounted_s"] = asof_in + m["asof.self_s"] + d["scan_feats"] + m["windows.self_s"]
        return m


WORKLOADS = {w.name: w for w in (PitJob, Operators)}
