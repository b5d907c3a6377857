"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY.md §2C).

Design: media travels as BinaryType columns with sidecar metadata —
the reference's stance taken to the engine level (its data plane moves
opaque byte[] batches, ShuffleClientImpl.java:1373; typing lives at the
edges). Decode / feature-extract run as Arrow-batched mapInPandas so
each task streams record batches without materializing a partition.

The actual codecs (PIL/libav) are NOT in this container — decode_media
is a clearly marked stub; fake_decode_meta is the deterministic stand-in
that keeps the Spark-side plumbing (schema, batch iteration, partition
layout) real and testable.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from celeborn_spark.operators import _spread, hold

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, format string, fake_width int, fake_height int"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo payload: utf-8 bytes of the text column. Real pipelines read
    image/audio bytes from parquet BinaryType or object-store URIs."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def decode_media(payload: bytes) -> dict:
    """Real media decode — requires PIL/av, absent from this container."""
    raise NotImplementedError(
        "media codecs are not available in this environment; "
        "use fake_decode_meta for plumbing tests"
    )


def fake_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Deterministic stand-in decoder over Arrow batches (mapInPandas).

    Emits per-payload metadata computed purely from the bytes (length,
    sniffed 'format', fake dimensions) so tests can pin schema, batch
    shape and determinism without real codecs.
    """
    id_c, pay_c = id_col, payload_col

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[pay_c]
            n_bytes = payloads.map(len)
            first = payloads.map(lambda b: b[:1] or b"\x00")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_c],
                    "n_bytes": n_bytes.astype("int64"),
                    "format": first.map(lambda b: "textish" if 97 <= b[0] <= 122 else "binary"),
                    "fake_width": (n_bytes % 1920).astype("int32"),
                    "fake_height": (n_bytes % 1080).astype("int32"),
                }
            )

    return _spread(df.select(id_c, pay_c), id_c).mapInPandas(
        decode_batches, schema=DECODE_SCHEMA
    )


def decode_meta_jvm(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """JVM-side form of fake_decode_meta: the fake codec is pure byte
    arithmetic (length, first-byte class, modular dims), which built-in
    functions express inside whole-stage codegen — no Python worker, no
    Arrow transfer. This is the production query path; fake_decode_meta
    stays as the Arrow-plumbing demo for codecs that genuinely need
    Python, and tests pin that the two agree row-for-row."""
    n_bytes = F.octet_length(payload_col)
    # first utf-8 char code: agrees with the kernel's first-BYTE class
    # test because [97, 122] only contains single-byte (ASCII) chars —
    # multi-byte leads and empty payloads fall outside in both forms.
    first = F.ascii(F.col(payload_col).cast("string"))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_bytes.cast("long").alias("n_bytes"),
        F.when(first.between(97, 122), "textish").otherwise("binary").alias("format"),
        F.pmod(n_bytes, F.lit(1920)).cast("int").alias("fake_width"),
        F.pmod(n_bytes, F.lit(1080)).cast("int").alias("fake_height"),
    )


FEATURES_SCHEMA = "doc_id long, n_chars long, n_vowels long, n_digits long, n_spaces long"
RESIZE_SCHEMA = "doc_id long, out_chars int, resized_md5 string"
FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_chars int, frame_md5 string"


def fake_extract_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Feature-extraction stand-in: per-payload character-class counts
    (integer features — engine-exact, no float rounding) through the
    same Arrow mapInPandas loop a real image/audio featurizer (CLIP
    embedding, mel spectrogram) would use. Counts are computed in
    vectorized pandas str ops, not per-row Python."""

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[payload_col].map(lambda b: bytes(b).decode("utf-8"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_chars": texts.str.len().astype("int64"),
                    "n_vowels": texts.str.count(r"[aeiou]").astype("int64"),
                    "n_digits": texts.str.count(r"[0-9]").astype("int64"),
                    "n_spaces": texts.str.count(r" ").astype("int64"),
                }
            )

    return _spread(df.select(id_col, payload_col), id_col).mapInPandas(
        feature_batches, schema=FEATURES_SCHEMA
    )


def fake_resize_media(
    df: DataFrame,
    out_chars: int = 100,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize stand-in: cyclically tile the decoded payload to exactly
    `out_chars` characters and fingerprint the result — the plumbing
    (binary in, Arrow batches, per-row kernel, deterministic output) of
    a real `PIL.Image.resize`, which would slot into the same loop.
    Rows with empty payloads are dropped (nothing to resize)."""
    import hashlib

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[payload_col].map(lambda b: bytes(b).decode("utf-8"))
            keep = texts.map(len) > 0
            texts = texts[keep]
            resized = texts.map(lambda s: (s * (out_chars // len(s) + 1))[:out_chars])
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col][keep],
                    "out_chars": resized.map(len).astype("int32"),
                    "resized_md5": resized.map(
                        lambda s: hashlib.md5(s.encode("utf-8")).hexdigest()
                    ),
                }
            )

    return _spread(df.select(id_col, payload_col), id_col).mapInPandas(
        resize_batches, schema=RESIZE_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    frame_chars: int = 64,
    every_n: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame-sampling stand-in: treat the decoded payload as a sequence
    of fixed-size frames and emit every `every_n`-th one — the 1->N
    row fan-out shape of real video frame extraction, driven through
    Arrow record batches (output rows are not 1:1 with input rows,
    which is exactly what mapInPandas allows and mapped UDFs don't)."""
    import hashlib
    import math

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, digests = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                s = bytes(payload).decode("utf-8")
                n_frames = math.ceil(len(s) / frame_chars)
                for k in range(0, n_frames, every_n):
                    frame = s[k * frame_chars : (k + 1) * frame_chars]
                    ids.append(doc_id)
                    idxs.append(k)
                    lens.append(len(frame))
                    digests.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_chars": pd.Series(lens, dtype="int32"),
                    "frame_md5": pd.Series(digests, dtype="object"),
                }
            )

    return _spread(df.select(id_col, payload_col), id_col).mapInPandas(
        frame_batches, schema=FRAMES_SCHEMA
    )


def chunk_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    chunk_bytes: int = 64,
) -> DataFrame:
    """(id, chunk_idx, offset, n_bytes, chunk_md5) — split each binary
    payload into fixed-size chunks with a per-chunk digest: the chunked
    serving layout of the reference's data plane (A14: ReducePartition
    files are fetched as 8 MiB chunks with an in-memory chunk index,
    docs/developers/storage.md:37-46; A21: per-unit integrity digests).
    A reader resumes/verifies/parallelizes per chunk instead of per
    blob — the layout a 100 TB media table needs so one 4 GiB video
    never pins one task.

    Zero-shuffle: sequence+posexplode fan-out with BINARY substring
    slices, all codegen; the digest is computed on the chunk bytes.
    Fan-out is bounded by payload_size/chunk_bytes (+1)."""
    if chunk_bytes < 1:
        raise ValueError(f"chunk_bytes must be >= 1, got {chunk_bytes}")
    n = F.octet_length(F.col(payload_col))
    n_chunks = F.ceil(n / F.lit(chunk_bytes)).cast("int")
    out = _spread(df, id_col).select(
        F.col(id_col),
        F.col(payload_col),
        F.posexplode(
            F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
        ).alias("chunk_idx", "_i"),
    )
    sliced = out.select(
        id_col,
        "chunk_idx",
        (F.col("chunk_idx") * chunk_bytes).alias("offset"),
        F.substring(
            F.col(payload_col), F.col("chunk_idx") * chunk_bytes + 1, chunk_bytes
        ).alias("_chunk"),
    )
    return sliced.select(
        id_col,
        "chunk_idx",
        "offset",
        F.octet_length("_chunk").alias("n_bytes"),
        F.md5("_chunk").alias("chunk_md5"),
    )


ENERGY_SCHEMA = "doc_id long, frame_id int, n_bytes int, rms double"


def fake_frame_energy(
    df: DataFrame,
    frame_bytes: int = 32,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    dp: int = 6,
) -> DataFrame:
    """Audio-style frame-energy extraction stand-in: window the binary
    payload into fixed ``frame_bytes`` non-overlapping frames and emit
    each frame's RMS byte energy through the Arrow mapInPandas loop —
    the exact plumbing (binary in, framing, per-frame numeric kernel,
    slim numeric rows out) of a real librosa/torchaudio energy or
    mel-band featurizer, which would slot into the same iterator. Only
    FULL frames are scored (a real hop-windowed featurizer drops the
    tail the same way).

    Parity: byte values are exact integers, the per-frame sum of
    squares is an exact int (< 2^53), rms = sqrt(sum/frame_bytes)
    rounds dp — bit-identical to the SQL mirror's
    sqrt(sum(ascii^2)/N) on the ASCII payloads.

    Scale shape: _spread repartitions the single-split parquet input
    BEFORE the CPU-heavy kernel (the repo's map-stage rule); output is
    (payload_bytes / frame_bytes) slim rows per doc."""
    import numpy as np

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized fan-out (guide §4.2): stack every FULL frame of the
        # batch into one (total_frames, frame_bytes) matrix and compute
        # all sum-of-squares at once. np.sqrt is correctly-rounded IEEE
        # like math.sqrt; the final decimal rounding stays Python's
        # round() per element (np.round's scale-and-rint differs in the
        # last ulp on some values — exactness contract).
        for pdf in batches:
            pays = pdf[payload_col].to_numpy()
            n_frames = np.fromiter(
                (len(p) // frame_bytes for p in pays),
                dtype=np.int64,
                count=len(pays),
            )
            total = int(n_frames.sum())
            if total == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "frame_id": pd.Series([], dtype="int32"),
                        "n_bytes": pd.Series([], dtype="int32"),
                        "rms": pd.Series([], dtype="float64"),
                    }
                )
                continue
            frames = (
                np.frombuffer(
                    b"".join(
                        bytes(p[: f * frame_bytes])
                        for p, f in zip(pays, n_frames)
                        if f
                    ),
                    dtype=np.uint8,
                )
                .reshape(total, frame_bytes)
                .astype(np.int64)
            )
            sq = (frames * frames).sum(axis=1)
            first = np.cumsum(n_frames) - n_frames
            fids = np.arange(total, dtype=np.int64) - np.repeat(first, n_frames)
            raw_rms = np.sqrt(sq / frame_bytes)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(
                        np.repeat(pdf[id_col].to_numpy(), n_frames),
                        dtype="int64",
                    ),
                    "frame_id": pd.Series(fids, dtype="int32"),
                    "n_bytes": pd.Series(
                        np.full(total, frame_bytes, dtype=np.int64),
                        dtype="int32",
                    ),
                    "rms": pd.Series(
                        [round(float(x), dp) for x in raw_rms], dtype="float64"
                    ),
                }
            )

    return _spread(df.select(id_col, payload_col), id_col).mapInPandas(
        energy_batches, schema=ENERGY_SCHEMA
    )


AHASH_SCHEMA = "doc_id long, n_bytes int, hash_hi long, hash_lo long"


def fake_ahash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Average-hash perceptual signature stand-in over Arrow batches
    (mapInPandas): the leading 64 payload bytes act as the 8x8 luma
    grid a real aHash would get from resize+grayscale (PIL absent —
    the grid REPLACES the decode step, the honest-stub discipline),
    bit_j = (64 * b_j > sum(b)) — exact integer comparisons, no
    division. Emitted as two 32-bit halves (hash_hi = bits 0-31,
    hash_lo = bits 32-63) so downstream XOR/bit_count algebra never
    touches the int64 sign bit. Payloads under 64 bytes are skipped
    (a real pipeline drops undecodable assets the same way).

    Scale shape: _spread repartitions before the kernel; output is
    one slim row per asset. A real pHash/aHash (PIL resize + DCT)
    slots into the same iterator with the same schema."""
    import numpy as np

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One vectorized pass per batch (guide §4.2): the per-row
        # Python loop this replaces spent its time in interpreter
        # overhead (one np.frombuffer + 4 tiny array ops per row);
        # stacking the leading 64 bytes of every payload into one
        # (n, 64) matrix computes the identical integer bit algebra
        # in a handful of whole-batch NumPy ops.
        w32 = 1 << np.arange(32, dtype=np.int64)
        for pdf in batches:
            pays = pdf[payload_col].to_numpy()
            lens = np.fromiter(
                (len(p) for p in pays), dtype=np.int64, count=len(pays)
            )
            keep = lens >= 64
            n_keep = int(keep.sum())
            if n_keep == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "n_bytes": pd.Series([], dtype="int32"),
                        "hash_hi": pd.Series([], dtype="int64"),
                        "hash_lo": pd.Series([], dtype="int64"),
                    }
                )
                continue
            grid = (
                np.frombuffer(
                    b"".join(bytes(p[:64]) for p in pays[keep]), dtype=np.uint8
                )
                .reshape(n_keep, 64)
                .astype(np.int64)
            )
            s = grid.sum(axis=1, keepdims=True)
            bits = 64 * grid > s
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(
                        pdf[id_col].to_numpy()[keep], dtype="int64"
                    ),
                    "n_bytes": pd.Series(lens[keep], dtype="int32"),
                    "hash_hi": pd.Series(
                        (bits[:, :32] * w32).sum(axis=1), dtype="int64"
                    ),
                    "hash_lo": pd.Series(
                        (bits[:, 32:] * w32).sum(axis=1), dtype="int64"
                    ),
                }
            )

    return _spread(df.select(id_col, payload_col), id_col).mapInPandas(
        hash_batches, schema=AHASH_SCHEMA
    )


def ahash_near_dup(
    hashes: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Hamming near-duplicate SIGNATURE pairs over 64-bit perceptual
    hashes via 4x16-bit band buckets — the binary-code LSH:
    candidates come from four band-keyed equi-joins, NEVER an
    all-pairs scan; the exact bit_count(XOR) filter removes false
    candidates. Recall contract: a pair within Hamming distance d
    shares a band with CERTAINTY only for d <= 3 (d differing bits
    can cover at most d of the 4 bands); for 4 <= d <= max_hamming
    the band join is a high-recall candidate generator, not an
    exhaustive one (differing bits must spread across all four bands
    to escape), and precision is always exact. The DuckDB oracle
    runs the SAME banded algebra, so the emitted set is
    bit-checkable either way. The image-near-dup companion of
    the MinHash text pipeline. Output one row per DISTINCT-signature
    pair: (rep_a, rep_b, n_a, n_b, hamming) with rep = the group's
    min doc id and n = its multiplicity; rep_a < rep_b.

    DEDUPE-BEFORE-PAIRING (the r11 sf1-rung lesson): low-entropy
    payloads (small vocabularies, templated assets) repeat signatures
    heavily, and banding the RAW corpus made one 16-bit bucket hold
    12k+ docs at sf1 (~3e8 candidates in one band, 37x wall growth
    for 10x rows). Identical signatures are exact perceptual dups —
    the exact-dedup desk's job — so this operator first collapses to
    the signature CATALOG (vocabulary-bounded, NOT corpus-bounded:
    4.5k distinct sigs at both sf0.1 and sf1 here) and bands THAT;
    multiplicities ride along. Candidate mass is now bounded by
    catalog collisions at any corpus size; hamming-0 mass lives in
    the n columns, not in quadratic pair output.

    Scale shape (100 TB of assets): one signature-keyed dedup over
    row mass; band values key the catalog-sized shuffle."""
    sig = (
        hashes.groupBy("hash_hi", "hash_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("rep"),
        )
        .transform(hold)  # signature catalog, referenced by 4 lanes
    )
    h = sig.select(
        "rep",
        "n_docs",
        "hash_hi",
        "hash_lo",
        (F.col("hash_hi") % 65536).alias("b0"),
        (F.col("hash_hi") / 65536).cast("long").alias("b1"),
        (F.col("hash_lo") % 65536).alias("b2"),
        (F.col("hash_lo") / 65536).cast("long").alias("b3"),
    )
    lanes = None
    for i in range(4):
        lane = h.select(
            F.lit(i).alias("lane"),
            F.col(f"b{i}").alias("bv"),
            "rep",
            "n_docs",
            "hash_hi",
            "hash_lo",
        )
        lanes = lane if lanes is None else lanes.unionAll(lane)
    left = lanes.select(
        "lane",
        "bv",
        F.col("rep").alias("rep_a"),
        F.col("n_docs").alias("n_a"),
        F.col("hash_hi").alias("ha_hi"),
        F.col("hash_lo").alias("ha_lo"),
    )
    right = lanes.select(
        "lane",
        "bv",
        F.col("rep").alias("rep_b"),
        F.col("n_docs").alias("n_b"),
        F.col("hash_hi").alias("hb_hi"),
        F.col("hash_lo").alias("hb_lo"),
    )
    pairs = (
        left.join(right, ["lane", "bv"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select(
            "rep_a",
            "rep_b",
            "n_a",
            "n_b",
            (
                F.expr("bit_count(ha_hi ^ hb_hi)")
                + F.expr("bit_count(ha_lo ^ hb_lo)")
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


AHASH_ORACLE_CORE = """
    ah_docs AS (
        SELECT doc_id, text, octet_length(encode(text)) AS n
        FROM documents
    ),
    ah_vals AS (
        SELECT doc_id, n, j,
               CAST(ascii(substr(text, CAST(j + 1 AS INTEGER), 1))
                    AS BIGINT) AS b
        FROM ah_docs, (SELECT unnest(range(0, 64)) AS j)
        WHERE n >= 64
    ),
    ah_tot AS (
        SELECT doc_id, CAST(max(n) AS INTEGER) AS n_bytes,
               CAST(sum(b) AS BIGINT) AS s
        FROM ah_vals GROUP BY doc_id
    ),
    ah_bits AS (
        SELECT v.doc_id, t.n_bytes, v.j,
               CASE WHEN 64 * v.b > t.s THEN 1 ELSE 0 END AS bit
        FROM ah_vals v JOIN ah_tot t ON v.doc_id = t.doc_id
    ),
    ah_hash AS (
        SELECT doc_id, max(n_bytes) AS n_bytes,
               CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
                             ELSE 0 END) AS BIGINT) AS hash_hi,
               CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
                             ELSE 0 END) AS BIGINT) AS hash_lo
        FROM ah_bits GROUP BY doc_id
    )"""


def ahash_oracle_sql() -> str:
    """DuckDB mirror of `fake_ahash` over the documents payloads."""
    return f"""
    WITH {AHASH_ORACLE_CORE}
    SELECT doc_id, n_bytes, hash_hi, hash_lo FROM ah_hash
    """


def ahash_near_dup_oracle_sql(max_hamming: int = 6) -> str:
    """DuckDB mirror of `ahash_near_dup` (signature-catalog band
    join, exact xor/bit_count filter; DuckDB spells XOR as xor())."""
    return f"""
    WITH {AHASH_ORACLE_CORE},
    ah_sig AS (
        SELECT hash_hi, hash_lo, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS rep
        FROM ah_hash GROUP BY 1, 2
    ),
    ah_bands AS (
        SELECT rep, n_docs, hash_hi, hash_lo,
               CAST(hash_hi % 65536 AS BIGINT) AS b0,
               CAST(hash_hi // 65536 AS BIGINT) AS b1,
               CAST(hash_lo % 65536 AS BIGINT) AS b2,
               CAST(hash_lo // 65536 AS BIGINT) AS b3
        FROM ah_sig
    ),
    ah_lanes AS (
        SELECT 0 AS lane, b0 AS bv, rep, n_docs, hash_hi, hash_lo
        FROM ah_bands
        UNION ALL
        SELECT 1, b1, rep, n_docs, hash_hi, hash_lo FROM ah_bands
        UNION ALL
        SELECT 2, b2, rep, n_docs, hash_hi, hash_lo FROM ah_bands
        UNION ALL
        SELECT 3, b3, rep, n_docs, hash_hi, hash_lo FROM ah_bands
    )
    SELECT DISTINCT l.rep AS rep_a, r.rep AS rep_b,
           l.n_docs AS n_a, r.n_docs AS n_b,
           CAST(bit_count(xor(l.hash_hi, r.hash_hi))
                + bit_count(xor(l.hash_lo, r.hash_lo)) AS BIGINT) AS hamming
    FROM ah_lanes l JOIN ah_lanes r
      ON l.lane = r.lane AND l.bv = r.bv AND l.rep < r.rep
    WHERE bit_count(xor(l.hash_hi, r.hash_hi))
          + bit_count(xor(l.hash_lo, r.hash_lo)) <= {max_hamming}
    """


DHASH_SCHEMA = "doc_id long, n_bytes int, hash_hi long, hash_lo long"


def fake_dhash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Difference-hash perceptual signature stand-in over Arrow
    batches (mapInPandas): the leading 72 payload bytes act as the
    8x9 luma grid a real dHash would get from resize+grayscale (PIL
    absent — the grid REPLACES the decode step, the same honest-stub
    discipline as `fake_ahash`), bit_(i,j) = grid[i][j] >
    grid[i][j+1] — GRADIENT structure where aHash reads brightness-
    vs-mean, so the two signatures fail independently and their
    intersection is the standard cheap near-dup ensemble. Emitted as
    two 32-bit halves like `fake_ahash` so downstream XOR/bit_count
    algebra never touches the int64 sign bit. Payloads under 72
    bytes are skipped.

    Cites the reference's columnar encode surface the same way as
    fake_ahash (SURVEY.md §2A A9/A10).

    Scale shape: _spread repartitions before the kernel; one slim
    row per asset; a real dHash (PIL resize) slots into the same
    iterator with the same schema."""
    import numpy as np

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized like fake_ahash (guide §4.2): one (n, 8, 9) tensor
        # per batch, identical integer gradient-bit algebra.
        w32 = 1 << np.arange(32, dtype=np.int64)
        for pdf in batches:
            pays = pdf[payload_col].to_numpy()
            lens = np.fromiter(
                (len(p) for p in pays), dtype=np.int64, count=len(pays)
            )
            keep = lens >= 72
            n_keep = int(keep.sum())
            if n_keep == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "n_bytes": pd.Series([], dtype="int32"),
                        "hash_hi": pd.Series([], dtype="int64"),
                        "hash_lo": pd.Series([], dtype="int64"),
                    }
                )
                continue
            grid = (
                np.frombuffer(
                    b"".join(bytes(p[:72]) for p in pays[keep]), dtype=np.uint8
                )
                .reshape(n_keep, 8, 9)
                .astype(np.int64)
            )
            bits = (grid[:, :, :8] > grid[:, :, 1:]).reshape(n_keep, 64)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(
                        pdf[id_col].to_numpy()[keep], dtype="int64"
                    ),
                    "n_bytes": pd.Series(lens[keep], dtype="int32"),
                    "hash_hi": pd.Series(
                        (bits[:, :32] * w32).sum(axis=1), dtype="int64"
                    ),
                    "hash_lo": pd.Series(
                        (bits[:, 32:] * w32).sum(axis=1), dtype="int64"
                    ),
                }
            )

    return _spread(df.select(id_col, payload_col), id_col).mapInPandas(
        hash_batches, schema=DHASH_SCHEMA
    )


DHASH_ORACLE_CORE = """
    dh_docs AS (
        SELECT doc_id, text, octet_length(encode(text)) AS n
        FROM documents
    ),
    dh_vals AS (
        SELECT doc_id, n, p,
               CAST(ascii(substr(text, CAST(p + 1 AS INTEGER), 1))
                    AS BIGINT) AS b
        FROM dh_docs, (SELECT unnest(range(0, 72)) AS p)
        WHERE n >= 72
    ),
    dh_bits AS (
        SELECT l.doc_id, l.n, (l.p // 9) * 8 + (l.p % 9) AS j,
               CASE WHEN l.b > r.b THEN 1 ELSE 0 END AS bit
        FROM dh_vals l
        JOIN dh_vals r ON r.doc_id = l.doc_id AND r.p = l.p + 1
        WHERE l.p % 9 < 8
    ),
    dh_hash AS (
        SELECT doc_id, CAST(max(n) AS INTEGER) AS n_bytes,
               CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
                             ELSE 0 END) AS BIGINT) AS hash_hi,
               CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
                             ELSE 0 END) AS BIGINT) AS hash_lo
        FROM dh_bits GROUP BY doc_id
    )"""


def dhash_oracle_sql() -> str:
    """DuckDB mirror of `fake_dhash` over the documents payloads."""
    return f"""
    WITH {DHASH_ORACLE_CORE}
    SELECT doc_id, n_bytes, hash_hi, hash_lo FROM dh_hash
    """


def dhash_near_dup_oracle_sql(max_hamming: int = 6) -> str:
    """DuckDB mirror of `ahash_near_dup` applied to the dHash
    signature space (`fake_dhash`): same signature-catalog 4x16-bit
    band join + exact xor/bit_count filter, over the gradient-bit
    hashes instead of the brightness-bit ones. CTEs are dn_-prefixed
    (CTE names collide across reused fragment chains — CLAUDE.md)."""
    return f"""
    WITH {DHASH_ORACLE_CORE},
    dn_sig AS (
        SELECT hash_hi, hash_lo, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS rep
        FROM dh_hash GROUP BY 1, 2
    ),
    dn_bands AS (
        SELECT rep, n_docs, hash_hi, hash_lo,
               CAST(hash_hi % 65536 AS BIGINT) AS b0,
               CAST(hash_hi // 65536 AS BIGINT) AS b1,
               CAST(hash_lo % 65536 AS BIGINT) AS b2,
               CAST(hash_lo // 65536 AS BIGINT) AS b3
        FROM dn_sig
    ),
    dn_lanes AS (
        SELECT 0 AS lane, b0 AS bv, rep, n_docs, hash_hi, hash_lo
        FROM dn_bands
        UNION ALL
        SELECT 1, b1, rep, n_docs, hash_hi, hash_lo FROM dn_bands
        UNION ALL
        SELECT 2, b2, rep, n_docs, hash_hi, hash_lo FROM dn_bands
        UNION ALL
        SELECT 3, b3, rep, n_docs, hash_hi, hash_lo FROM dn_bands
    )
    SELECT DISTINCT l.rep AS rep_a, r.rep AS rep_b,
           l.n_docs AS n_a, r.n_docs AS n_b,
           CAST(bit_count(xor(l.hash_hi, r.hash_hi))
                + bit_count(xor(l.hash_lo, r.hash_lo)) AS BIGINT) AS hamming
    FROM dn_lanes l JOIN dn_lanes r
      ON l.lane = r.lane AND l.bv = r.bv AND l.rep < r.rep
    WHERE bit_count(xor(l.hash_hi, r.hash_hi))
          + bit_count(xor(l.hash_lo, r.hash_lo)) <= {max_hamming}
    """


def near_dup_crosscheck(
    ahash_pairs: DataFrame, dhash: DataFrame, confirm_hamming: int = 16
) -> DataFrame:
    """Cross-space confirmation of the aHash near-dup tier: for each
    banded aHash candidate pair, the dHash (gradient) Hamming
    distance between the two representatives, and a confirmed flag at
    ``confirm_hamming`` — the precision stage of the cheap perceptual
    ensemble (brightness-profile twins that are NOT gradient twins
    are usually global-luma artifacts, not near-dups; pairs flagged
    by BOTH spaces are the quarantine set). Output one row per aHash
    candidate pair whose BOTH reps carry a dHash (payloads >= 72
    bytes — inner-join semantics, mirrored in the oracle):
    (rep_a, rep_b, hamming_ahash, hamming_dhash, confirmed).

    Scale shape (100 TB): the pair side is the banded candidate set
    (catalog-bounded, never corpus-quadratic); the two signature
    joins are doc-id-keyed equi-joins against the slim hash relation."""
    da = dhash.select(
        F.col("doc_id").alias("rep_a"),
        F.col("hash_hi").alias("da_hi"),
        F.col("hash_lo").alias("da_lo"),
    )
    db = dhash.select(
        F.col("doc_id").alias("rep_b"),
        F.col("hash_hi").alias("db_hi"),
        F.col("hash_lo").alias("db_lo"),
    )
    hd = (
        F.bit_count(F.col("da_hi").bitwiseXOR(F.col("db_hi")))
        + F.bit_count(F.col("da_lo").bitwiseXOR(F.col("db_lo")))
    ).cast("long")
    return (
        ahash_pairs.select("rep_a", "rep_b", F.col("hamming").alias("hamming_ahash"))
        .join(da, "rep_a")
        .join(db, "rep_b")
        .select(
            "rep_a",
            "rep_b",
            "hamming_ahash",
            hd.alias("hamming_dhash"),
            F.when(hd <= confirm_hamming, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("confirmed"),
        )
    )


def near_dup_crosscheck_oracle_sql(
    max_hamming_a: int = 6, confirm_hamming: int = 16
) -> str:
    """DuckDB mirror of `near_dup_crosscheck` over the aHash banded
    pair tier and the dHash signature relation (ncx_-prefixed CTEs;
    the ah_/dh_ cores compose in one WITH, prefixes disjoint)."""
    return f"""
    WITH {AHASH_ORACLE_CORE},
    {DHASH_ORACLE_CORE},
    ncx_sig AS (
        SELECT hash_hi, hash_lo, CAST(min(doc_id) AS BIGINT) AS rep
        FROM ah_hash GROUP BY 1, 2
    ),
    ncx_bands AS (
        SELECT rep, hash_hi, hash_lo,
               CAST(hash_hi % 65536 AS BIGINT) AS b0,
               CAST(hash_hi // 65536 AS BIGINT) AS b1,
               CAST(hash_lo % 65536 AS BIGINT) AS b2,
               CAST(hash_lo // 65536 AS BIGINT) AS b3
        FROM ncx_sig
    ),
    ncx_lanes AS (
        SELECT 0 AS lane, b0 AS bv, rep, hash_hi, hash_lo FROM ncx_bands
        UNION ALL
        SELECT 1, b1, rep, hash_hi, hash_lo FROM ncx_bands
        UNION ALL
        SELECT 2, b2, rep, hash_hi, hash_lo FROM ncx_bands
        UNION ALL
        SELECT 3, b3, rep, hash_hi, hash_lo FROM ncx_bands
    ),
    ncx_pairs AS (
        SELECT DISTINCT l.rep AS rep_a, r.rep AS rep_b,
               CAST(bit_count(xor(l.hash_hi, r.hash_hi))
                    + bit_count(xor(l.hash_lo, r.hash_lo)) AS BIGINT)
                   AS hamming_ahash
        FROM ncx_lanes l JOIN ncx_lanes r
          ON l.lane = r.lane AND l.bv = r.bv AND l.rep < r.rep
        WHERE bit_count(xor(l.hash_hi, r.hash_hi))
              + bit_count(xor(l.hash_lo, r.hash_lo)) <= {max_hamming_a}
    )
    SELECT p.rep_a, p.rep_b, p.hamming_ahash,
           CAST(bit_count(xor(da.hash_hi, db.hash_hi))
                + bit_count(xor(da.hash_lo, db.hash_lo)) AS BIGINT)
               AS hamming_dhash,
           CAST(CASE WHEN bit_count(xor(da.hash_hi, db.hash_hi))
                          + bit_count(xor(da.hash_lo, db.hash_lo))
                          <= {confirm_hamming}
                     THEN 1 ELSE 0 END AS BIGINT) AS confirmed
    FROM ncx_pairs p
    JOIN dh_hash da ON da.doc_id = p.rep_a
    JOIN dh_hash db ON db.doc_id = p.rep_b
    """
