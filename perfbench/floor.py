"""The no-engine floor of the image kernel: decode + preprocess + embed run
by a pool of worker processes over the same parquet files, no Spark, no JVM.
Each worker reads its own files, so the pool measures the kernel and the
disk, not pickling through the parent.

The workers are plain child processes (``python3 floor.py ROOT MODEL FILE...``),
each waited for; ``multiprocessing`` is not used because its pools start a
resource-tracker process that outlives the benchmark by a moment."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

BATCH = 256


def _chunk(root: str, paths: list[str], model: str) -> int:
    if root not in sys.path:
        sys.path.insert(0, root)
    import pyarrow.parquet as pq

    from video_features_spark.functions.codec import decode_image
    from video_features_spark.functions.embed import preprocess_and_embed

    done = 0
    for path in paths:
        t = pq.read_table(path, columns=["bytes", "fmt"])
        blobs, fmts = t["bytes"].to_pylist(), t["fmt"].to_pylist()
        for i in range(0, len(blobs), BATCH):
            imgs = [decode_image(b, f) for b, f in zip(blobs[i : i + BATCH], fmts[i : i + BATCH])]
            preprocess_and_embed(imgs, model)
            done += len(imgs)
    return done


def pool_images_per_s(root: str, images_dir: str, model: str, workers: int) -> float:
    files = sorted(glob.glob(os.path.join(images_dir, "*.parquet")))
    shards = [files[i::workers] for i in range(workers)]
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), root, model, *shard],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for shard in shards
    ]
    try:
        for p in procs:  # each has imported the kernel and filled the page cache
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError("floor worker failed during warm-up")
        t0 = time.perf_counter()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        n = sum(json.loads(p.stdout.readline())["images"] for p in procs)
        dt = time.perf_counter() - t0
    finally:
        for p in procs:
            _stop_worker(p)
    return n / dt


def _stop_worker(p: subprocess.Popen, timeout: float = 30) -> None:
    """Close the worker's pipes and wait for it to end; kill it if it hangs."""
    for fh in (p.stdin, p.stdout):
        try:
            fh.close()
        except OSError:
            pass
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()


def kernel_ms_per_image(images_dir: str, model: str, n: int) -> tuple[float, float]:
    """In-process decode and embed cost per image over the first ``n`` rows
    (this process pins BLAS to one thread)."""
    import pyarrow.parquet as pq

    from video_features_spark.functions.codec import decode_image
    from video_features_spark.functions.embed import preprocess_and_embed

    t = pq.read_table(images_dir, columns=["bytes", "fmt"]).slice(0, n)
    blobs, fmts = t["bytes"].to_pylist(), t["fmt"].to_pylist()
    preprocess_and_embed([decode_image(blobs[0], fmts[0])], model)  # load weights
    t0 = time.perf_counter()
    imgs = [decode_image(b, f) for b, f in zip(blobs, fmts)]
    t1 = time.perf_counter()
    for i in range(0, len(imgs), BATCH):
        preprocess_and_embed(imgs[i : i + BATCH], model)
    t2 = time.perf_counter()
    return 1000 * (t1 - t0) / len(imgs), 1000 * (t2 - t1) / len(imgs)


def _worker(root: str, model: str, paths: list[str]) -> None:
    """One pool worker: warm up on the first file, report ready, wait for
    the go line, run every file and print the image count."""
    _chunk(root, paths[:1], model)
    print("ready", flush=True)
    if sys.stdin.readline().strip() != "go":
        return
    print(json.dumps({"images": _chunk(root, paths, model)}), flush=True)


if __name__ == "__main__":
    _worker(sys.argv[1], sys.argv[2], sys.argv[3:])
