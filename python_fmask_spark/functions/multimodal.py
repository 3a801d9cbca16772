"""Multimodal column handling: opaque ``binary`` payloads with typed
metadata, decoded / feature-extracted via Arrow-batched ``mapInPandas``.

The documents table's ``html`` column IS the binary payload here (the
container has no image/audio codecs, so the decode step for those
modalities is STUBBED — deterministic fake features clearly marked —
while the Spark-side plumbing: schema, batch iteration, partitioning,
UDF signatures, is real and tested).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..derive import documents_wide_sql
from ..dialect import blob_to_str, octet_len, sha256_hex

# ---------------------------------------------------------------------------
# SQL surface (oracle-checkable): binary metadata + decode round-trip
# ---------------------------------------------------------------------------


def q_html_meta(d: str) -> str:
    """Binary payload metadata + byte-identity: html must decode back to
    '<html>' || text || '</html>' (per-row invariant, BASELINE.json)."""
    decoded = blob_to_str("html", d)
    return f"""
WITH docs AS ({documents_wide_sql(d, 'documents')})
SELECT url, {octet_len('html', d)} AS html_bytes,
  {sha256_hex(decoded, d)} AS html_sha256,
  (case when {decoded} =
        concat('<html>', text, '</html>') then 1 else 0 end) AS roundtrip_ok
FROM docs"""


# ---------------------------------------------------------------------------
# mapInPandas feature extraction (Arrow batches; decode step stubbed)
# ---------------------------------------------------------------------------

FEATURE_DIM = 8
FEATURES_SCHEMA = ("url string, modality string, n_bytes long, "
                   "features array<float>, feat_milli string")


def _fake_decode_features(payload: bytes, modality: str) -> np.ndarray:
    """STUB decoder: the container lacks image/audio codecs, so this
    derives a deterministic feature vector from a sha256 of the payload.
    In production this is the only function to replace (PIL/ffmpeg/etc.);
    everything around it — batching, schema, partitioning — is real."""
    digest = hashlib.sha256(modality.encode() + payload).digest()
    ints = np.frombuffer(digest[:FEATURE_DIM * 4], dtype=np.uint32)
    return (ints / np.float64(2 ** 32)).astype(np.float32)


def extract_features(df: DataFrame, payload_col: str = "html",
                     modality: str = "html") -> DataFrame:
    """Arrow-batched feature extraction over a binary column.

    Plan shape: narrow projection -> mapInPandas (no shuffle); at scale
    this pipelines with the parquet scan and never materializes payloads
    outside the Arrow batch."""
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(df.sparkSession)
    cols = df.select("url", payload_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            feats = [_fake_decode_features(bytes(p), modality)
                     for p in payloads]
            # feat_milli: driver/oracle-safe serialization — floor of the
            # float32 features scaled by 1e6 (float32->float64 is exact, so
            # both engines floor identical doubles; see q_features_oracle).
            milli = [",".join(
                str(int(v)) for v in
                np.floor(f.astype(np.float64) * 1e6).astype(np.int64))
                for f in feats]
            yield pd.DataFrame({
                "url": pdf["url"],
                "modality": modality,
                "n_bytes": payloads.map(len).astype("int64"),
                "features": [f.tolist() for f in feats],
                "feat_milli": milli,
            })

    return cols.mapInPandas(run, schema=FEATURES_SCHEMA)


def q_features_oracle(d: str) -> str:
    """SQL rendering of the stub feature extraction — the DuckDB oracle
    for the mapInPandas path (the Spark side runs ``extract_features``;
    the driver compare proves the Arrow-batched UDF == this SQL).

    Reproduces _fake_decode_features bit-for-bit: sha256 over
    modality-prefix + payload bytes, 8 little-endian uint32 words from
    the digest, word/2^32 rounded to float32, then floor(f32 * 1e6)
    (float32->float64 is exact so the floor is engine-independent)."""
    from ..dialect import SPARK, hexint
    # payload = encode('<html>' || text || '</html>'); prefix 'html' ->
    # the hashed bytes are exactly utf8('html<html>' || text || '</html>').
    hashed = "concat('html<html>', text, '</html>')"
    digest = sha256_hex(hashed, d)
    f32 = ("cast({w} as float)" if d == SPARK else "cast({w} as REAL)")

    def word(i: int) -> str:
        # little-endian uint32 from hex chars [i*8, i*8+8)
        terms = " + ".join(
            f"{hexint(f'substr(dig, {i * 8 + j * 2 + 1}, 2)', d)} * {256 ** j}"
            for j in range(4))
        return f"({terms})"

    feats = ", ".join(
        "cast(floor(cast(" + f32.format(w=f"({word(i)} / 4294967296.0)")
        + " as double) * 1000000) as bigint)"
        for i in range(FEATURE_DIM))
    return f"""
WITH docs AS ({documents_wide_sql(d, 'documents')}),
dig AS (
  SELECT url, {digest} AS dig, {octet_len('html', d)} AS n_bytes FROM docs
)
SELECT url, 'html' AS modality, n_bytes,
  concat_ws(',', {feats}) AS feat_milli
FROM dig"""
