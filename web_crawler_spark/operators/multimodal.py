"""Multimodal column plumbing: binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns (same as the pages
table's html per input_hint). The Spark-side machinery — schema, Arrow batch
shape, mapInPandas iterator contract, payload pruning — is real and tested;
the actual codec step is STUBBED behind ``decode_stub`` with a deterministic
fake (the decode libs are not in this container). Swapping in PIL/ffmpeg is
a one-function change inside the iterator.

The stub's digest math is deliberately SQL-expressible so the driver's
DuckDB oracle can verify the full pipeline value-exactly:

    H       = little-endian uint64 of md5(payload) digest bytes [8:16]
              (== DuckDB's md5_number_lower)
    value_i = ((H + i * 2654435761) % 1_000_000) / 1e6   for i in 0..7

Output is exploded to one row per (media_id, idx) — scalar columns only, so
the driver's order-insensitive hash has no unhashable list cells.

Batch-shape contract: mapInPandas receives an iterator of pandas DataFrames
(one per Arrow batch, ~spark.sql.execution.arrow.maxRecordsPerBatch rows);
per-batch numpy work amortizes Python overhead exactly like the parse UDF.
At scale the binary payload is pruned from the output projection, so the
(large) media bytes are scanned once and never reshuffled.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import read_fixture

MEDIA_DDL = ("media_id bigint, kind string, payload binary, mime string, "
             "width int, height int, duration_ms int")

FEATURE_DDL = ("media_id bigint, kind string, idx int, value double, "
               "decode_ok boolean")

N_FEATURES = 8
_MIX = 2654435761          # Knuth multiplicative-hash constant


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded pseudo-bytes)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = hashlib.blake2b(f"{seed}:{i}".encode(),
                                  digest_size=32).digest() * 4
        rows.append((i, kind, bytearray(payload), f"application/x-fake-{kind}",
                     64 if kind == "image" else None,
                     64 if kind == "image" else None,
                     1000 * (i % 7) if kind != "image" else None))
    return spark.createDataFrame(rows, schema=MEDIA_DDL)


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table derived from the driver's documents parquet: payload =
    UTF-8 bytes of the trimmed text (an opaque blob as far as the decode
    path is concerned), kind cycling through the three modalities. Pure
    JVM expressions — the oracle can restate the construction in SQL."""
    docs = read_fixture(spark, sf_dir, "documents")
    kind = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                        (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.trim(F.col("text")), "UTF-8").alias("payload"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        (F.col("doc_id") % 7 * 1000).cast("int").alias("duration_ms"))


def decode_stub(payload: bytes, kind: str) -> list[float]:
    """STUB: replace with PIL.Image.open / soundfile / pyav frame-sample.
    Deterministic fake 'feature': 8 floats folded from the md5 digest
    (md5_number_lower-compatible, see module docstring)."""
    d = hashlib.md5(payload or b"").digest()
    h = int.from_bytes(d[8:16], "little")
    return [((h + i * _MIX) % 1_000_000) / 1e6 for i in range(N_FEATURES)]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, N_FEATURES rows
    per media item out; the payload column is pruned from the output so the
    (large) binary never reshuffles. Decode failures quarantine as
    decode_ok=false rows with null values (T6 semantics: never crash)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, idxs, vals, oks = [], [], [], [], []
            for mid, payload, kind in zip(pdf["media_id"], pdf["payload"],
                                          pdf["kind"]):
                try:
                    feat = decode_stub(payload, kind)
                    ok = True
                except Exception:
                    feat = [None] * N_FEATURES
                    ok = False
                for i, v in enumerate(feat):
                    ids.append(mid)
                    kinds.append(kind)
                    idxs.append(i)
                    vals.append(v)
                    oks.append(ok)
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "idx": idxs,
                                "value": vals, "decode_ok": oks})

    return media.mapInPandas(run, schema=FEATURE_DDL)


RESIZE_DDL = ("media_id bigint, width int, height int, thumb binary, "
              "thumb_md5 string, decode_ok boolean")

FRAME_DDL = ("media_id bigint, frame_idx int, frame_ts_ms int, "
             "frame_md5 string, decode_ok boolean")


def resize_stub(payload: bytes, w: int, h: int) -> bytes:
    """STUB: replace with PIL Image.open(...).resize((w, h)).tobytes().
    Deterministic fake thumbnail: md5(payload + ':WxH') digest tiled to a
    64-byte blob — SQL-expressible so the oracle checks the full path."""
    return hashlib.md5((payload or b"") + f":{w}x{h}".encode()).digest() * 4


def resize_images(media: DataFrame, w: int = 8, h: int = 8) -> DataFrame:
    """Image resize over the binary payload column (mapInPandas, images
    only — the filter prunes other modalities BEFORE the python boundary,
    and the input payload never appears in the output, so at scale the
    original bytes are scanned once and only thumb-sized data shuffles).
    Decode failures quarantine as decode_ok=false rows (T6 semantics)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, thumbs, md5s, oks = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    t = resize_stub(payload, w, h)
                    ids.append(mid); thumbs.append(t)
                    md5s.append(hashlib.md5(
                        (payload or b"") + f":{w}x{h}".encode()).hexdigest())
                    oks.append(True)
                except Exception:
                    ids.append(mid); thumbs.append(None)
                    md5s.append(None); oks.append(False)
            yield pd.DataFrame({"media_id": ids, "width": w, "height": h,
                                "thumb": thumbs, "thumb_md5": md5s,
                                "decode_ok": oks})

    return (media.filter(F.col("kind") == "image")
            .select("media_id", "payload")
            .mapInPandas(run, schema=RESIZE_DDL))


def sample_frames(media: DataFrame, every_ms: int = 2000) -> DataFrame:
    """Video frame sampling (mapInPandas): one row per sampled timestamp
    0, every_ms, ... <= duration_ms; the frame 'decode' is the stub
    signature md5(payload + ':frame:<ts>'). Only video rows reach the
    python boundary; the payload is scanned once and never re-emitted."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, md5s, oks = [], [], [], [], []
            for mid, payload, dur in zip(pdf["media_id"], pdf["payload"],
                                         pdf["duration_ms"]):
                try:
                    n = int(dur or 0) // every_ms + 1
                    for i in range(n):
                        ts = i * every_ms
                        ids.append(mid); idxs.append(i); tss.append(ts)
                        md5s.append(hashlib.md5(
                            (payload or b"") + f":frame:{ts}".encode())
                            .hexdigest())
                        oks.append(True)
                except Exception:
                    ids.append(mid); idxs.append(0); tss.append(0)
                    md5s.append(None); oks.append(False)
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs,
                                "frame_ts_ms": tss, "frame_md5": md5s,
                                "decode_ok": oks})

    return (media.filter(F.col("kind") == "video")
            .select("media_id", "payload", "duration_ms")
            .mapInPandas(run, schema=FRAME_DDL))
