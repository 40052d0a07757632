"""Seeded input tables. The same seed gives the same tables, byte for byte.

Images and labels come from the engine's own generator
(``sources.datagen``), so they carry its built-in skew: two base patterns own
about 30% of rows, which makes two phash keys hot, while ``entity_id`` is
uniform. Documents are generated here: the engine has no document generator.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Function words per language: they carry the trigrams the engine's language
# profiles score ("the", "ing", " de", "ent", ...), so the language gate of
# curate_corpus keeps and drops rows.
_FUNCTION_WORDS = {
    "en": "the and of to in is that with for on as at by from this they which being".split(),
    "es": "de la el en los las que con para una por como pero sus entre desde".split(),
    "fr": "le la les des une que pour dans avec sur par est sont mais comme entre".split(),
}


def write_documents(path: str, n_docs: int, seed: int) -> pa.Table:
    """``(doc_id long, text string)``. Each original document mixes its
    language's function words with content words drawn from 3000 seeded
    pseudo-words, so unrelated documents share few shingles. A quarter of the
    documents are near-copies of an earlier one (1-3 words replaced), which
    gives MinHash-LSH real duplicate clusters; 10% are Spanish or French and
    5% are shouted or punctuation-heavy, so both curate gates drop rows."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    content = ["".join(rng.choice(letters, int(rng.integers(4, 10)))) for _ in range(3000)]
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = content[int(rng.integers(0, len(content)))]
            texts.append(" ".join(words))
            continue
        lang = "es" if u < 0.30 else "fr" if u < 0.35 else "en"
        n = int(rng.integers(15, 51))
        words = [
            str(rng.choice(_FUNCTION_WORDS[lang])) if rng.random() < 0.35
            else content[int(rng.integers(0, len(content)))]
            for _ in range(n)
        ]
        text = " ".join(words)
        if rng.random() < 0.05:
            text = text.upper() + " !!! ??? ..."
        texts.append(text)
    table = pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": texts})
    pq.write_table(table, path)
    return table


def write_images(spark, path: str, n_images: int, n_entities: int, seed: int, parts: int) -> None:
    from video_features_spark.sources.datagen import generate_images

    (
        generate_images(spark, n_images, n_entities=n_entities, seed=seed, partitions=parts)
        .write.mode("overwrite").parquet(path)
    )


def write_labels(
    spark, path: str, n_labels: int, n_entities: int, images_per_entity: int, seed: int
) -> None:
    from video_features_spark.sources.datagen import generate_labels

    (
        generate_labels(
            spark, n_labels, n_entities=n_entities, images_per_entity=images_per_entity,
            seed=seed, partitions=spark.sparkContext.defaultParallelism,
        )
        .write.mode("overwrite").parquet(path)
    )


def write_phash_features(path: str, n_images: int, seed: int, files: int, copies: int) -> None:
    """The engine's synthetic images (50 per entity), decoded and embedded in
    this process by the engine's own kernel, written ``copies`` times: each
    copy shifted by whole years and given fresh image ids. Key frequencies,
    and so the phash skew, are kept; the table grows without paying the
    embed again, and no Spark Python worker starts during set-up.
    Timestamps are written as UTC instants, as Spark writes them."""
    import pandas as pd

    from video_features_spark.functions.codec import decode_image
    from video_features_spark.functions.embed import preprocess_and_embed
    from video_features_spark.sources.datagen import _row

    rows = [_row(seed, rid, max(n_images // 50, 1), 0.10) for rid in range(n_images)]
    image_id, entity_id, ts, blobs, _, _, fmts, caption, phash = map(list, zip(*rows))
    emb = preprocess_and_embed([decode_image(bytes(b), f) for b, f in zip(blobs, fmts)], "clip-small-det")
    base = pd.DataFrame({"image_id": image_id, "entity_id": entity_id, "phash": phash,
                         "ts": pd.to_datetime(ts), "caption": caption})
    dim = emb.shape[1]
    per_file = -(-n_images * copies // files)
    table = pa.concat_tables([
        pa.Table.from_pandas(
            base.assign(image_id=base["image_id"] + f"-{c}", ts=base["ts"] + pd.DateOffset(years=c)),
            preserve_index=False,
        ).append_column(
            "embedding",
            pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_images + 1) * dim, dim, dtype=np.int32)), pa.array(emb.ravel())
            ),
        )
        for c in range(copies)
    ])
    table = table.set_column(
        table.schema.get_field_index("ts"), "ts", table["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    os.makedirs(path)
    for k in range(files):
        pq.write_table(table.slice(k * per_file, per_file), os.path.join(path, f"part-{k:03d}.parquet"))
