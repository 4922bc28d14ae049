"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via mapInPandas in Arrow batches.

The decode step is a deterministic STUB: it produces a fake "decode"
(shape + checksum derived from the bytes) so the Spark-side plumbing —
schema, batching, partition sizing — is real and tested. A real
cv2/PIL/librosa decode would replace the body of the batch function and
keep its in/out shape.

The fake decode is ORACLE-EXACT, not just deterministic: every derived
column is a pure function of md5 over the payload's lowercase hex
(checksum = md5(payload.hex()); width/height/features = hex-slice
arithmetic on that digest), so DuckDB recomputes the whole operator with
md5()/hex()/substr() over the same parquet payload bytes — the decode stub
gets a full value-level oracle row like every other operator.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, checksum string, "
    "width int, height int, features array<float>"
)


def fake_media_record(gid: int, seed: int = 42) -> dict:
    """One deterministic fake media row (pure python — shared by the Spark
    synthesizer below and the oracle's parquet fixture builder, so both
    engines decode byte-identical payloads). Payload length varies with the
    id so n_bytes is a non-constant column."""
    h = hashlib.blake2b(f"{seed}:{gid}".encode(), digest_size=32).digest()
    kind = ["image", "audio", "video"][int(gid) % 3]
    return {
        "media_id": int(gid),
        "kind": kind,
        "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
        "payload": h * (4 + int(gid) % 5),
        "meta": {"seed": str(seed)},
    }


def synthesize_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests: payload = seeded bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([fake_media_record(gid, seed) for gid in pdf["id"]])

    return spark.range(n).mapInPandas(
        gen, schema="media_id long, kind string, mime string, payload binary, meta map<string,string>"
    )


def decode_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract each media payload. Arrow-batched
    mapInPandas: one pandas batch of binary payloads in, one batch of
    fixed-width feature rows out — the exact shape a real cv2/librosa decode
    would use (payload bytes never pass through the driver)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # column-wise over the Arrow batch (no iterrows): hashing is
            # inherently per-payload, everything else is list/ndarray ops.
            # checksum = md5 of the payload's LOWERCASE HEX — the cross-engine
            # form (DuckDB 1.0 md5 accepts VARCHAR only: md5(lower(hex(p))))
            payloads = [bytes(p or b"") for p in pdf["payload"]]
            digests = [hashlib.md5(p.hex().encode()).hexdigest() for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": digests,
                    "width": [16 + (int(d[:4], 16) % 64) for d in digests],
                    "height": [16 + (int(d[4:8], 16) % 64) for d in digests],
                    "features": [
                        [int(d[i : i + 2], 16) / 255.0 for i in range(0, 16, 2)]
                        for d in digests
                    ],
                }
            )

    return df.mapInPandas(op, schema=_FEATURE_SCHEMA)

