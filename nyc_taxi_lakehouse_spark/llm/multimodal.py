"""Multimodal columns: opaque binary payloads + typed metadata.

Treats media (image/audio/video) as `binary` columns with a metadata struct,
per the 100 TB training-pipeline pattern: the lake stores bytes + metadata;
decode / feature-extraction runs as Arrow-batched Pandas functions over
mapInPandas so each executor processes whole record batches.

No media codecs exist in this container, so the decode step is a STUB
(`decode_image_stub`) with a deterministic fake implementation — the
Spark-side plumbing (schema, batch iteration, UDF signature, partitioning)
is real and tested. Swap `_FAKE_DECODER` for a real PIL/ffmpeg call on a
cluster with codecs installed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.detsql import DUCK, SPARK, Dialect
from ..plans.ckpt import register_run_checkpoint, round_checkpoint
from ..registry import df_query, sql_query
from ..sources.tables import load_tables


def to_multimodal(documents: DataFrame) -> DataFrame:
    """Build a multimodal table from documents: payload = utf8 bytes of the
    text (standing in for image bytes), metadata = typed struct."""
    return documents.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(F.col("text").cast("binary")).alias("n_bytes"),
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def decode_image_stub(payload: bytes) -> dict:
    """STUB decode — deterministic fake standing in for a real image decode.

    Real implementation would be e.g. PIL.Image.open(io.BytesIO(payload));
    unavailable in this container (no image libs). The fake derives stable
    pseudo-dimensions from the byte content so tests are reproducible.
    """
    if not isinstance(payload, (bytes, bytearray)):
        raise NotImplementedError("decode requires raw bytes")
    h = sum(payload[:16]) if payload else 0
    return {"width": 64 + h % 64, "height": 64 + (h * 7) % 64, "channels": 3}


def extract_features(mm: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over the multimodal table.

    mapInPandas keeps whole record batches in Arrow — the pattern a real
    image-resize / frame-sample / embed step would use. Emits one row per
    payload with decoded pseudo-dimensions + a byte-histogram feature.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_image_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "channels": [d["channels"] for d in decoded],
                    "mean_byte": [
                        (sum(p) / len(p)) if len(p) else 0.0 for p in pdf["payload"]
                    ],
                }
            )

    return mm.mapInPandas(
        run,
        "doc_id long, n_bytes int, width int, height int, channels int, mean_byte double",
    )


def _meta_sql(d: Dialect) -> str:
    """Metadata projection is oracle-checkable: byte length + md5 agree
    across engines without touching the stub decoder."""
    blob = "CAST(text AS BINARY)" if d.name == "spark" else "encode(text)"
    return f"""
SELECT
  doc_id,
  CAST(octet_length({blob}) AS INT) AS n_bytes,
  md5(text) AS payload_md5,
  lang,
  source
FROM documents
"""


sql_query(
    "q_multimodal_meta",
    spark_sql=_meta_sql(SPARK),
    duck_sql=_meta_sql(DUCK),
    tables=["documents"],
    doc="Multimodal metadata projection: binary payload byte length + "
    "content md5 — the catalog-side half of the multimodal pipeline, "
    "oracle-checked. Decode/feature half is q_multimodal_features.",
)


_FEATURES_ORACLE = """
WITH b AS (
  SELECT doc_id,
         length(text) AS n_bytes,
         CAST(list_sum(list_transform(range(1, 17),
              i -> ord(substr(text, i, 1)))) AS INT) AS h16,
         CAST(list_sum(list_transform(range(1, length(text) + 1),
              i -> ord(substr(text, i, 1)))) AS BIGINT) AS byte_sum
  FROM documents
)
SELECT doc_id,
       CAST(n_bytes AS INT) AS n_bytes,
       CAST(64 + h16 % 64 AS INT) AS width,
       CAST(64 + (h16 * 7) % 64 AS INT) AS height,
       3 AS channels,
       CAST(byte_sum AS DOUBLE) / n_bytes AS mean_byte
FROM b
"""


@df_query(
    "q_multimodal_features",
    duck_sql=_FEATURES_ORACLE,
    tables=["documents"],
    doc="Multimodal decode + feature extraction via Arrow-batched mapInPandas"
    " over binary payloads (stubbed decoder — no codecs in container; "
    "plumbing is real: schema, batching, struct metadata). The stub is "
    "deterministic byte arithmetic, so the oracle recomputes it in SQL "
    "(payloads are ASCII → byte == codepoint) — the Arrow round trip "
    "itself is hash-verified, not just row-counted.",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return extract_features(to_multimodal(t["documents"]))


# ---------------------------------------------------------------------------
# Resize + frame-sample plumbing (STUB transforms, real Spark pipeline).
# ---------------------------------------------------------------------------


def resize_image_stub(payload: bytes, target_w: int, target_h: int) -> bytes:
    """STUB resize — a real pipeline would decode, resample (PIL/cv2) and
    re-encode; here the deterministic fake truncates/pads the byte stream to
    an area-proportional length so output sizes are checkable."""
    if not isinstance(payload, (bytes, bytearray)):
        raise NotImplementedError("resize requires raw bytes")
    target_len = max(1, (target_w * target_h) // 64)
    out = bytes(payload[:target_len])
    return out + b"\x00" * (target_len - len(out))


def resize_images(mm: DataFrame, target_w: int = 32, target_h: int = 32) -> DataFrame:
    """Batch resize over mapInPandas: payload -> resized payload + new meta.

    The Spark contract a real resampler drops into: binary in/out, Arrow
    batches, metadata struct rebuilt with the new dimensions. One map-only
    stage — no shuffle, scales linearly with executors.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            resized = [resize_image_stub(p, target_w, target_h) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "width": target_w,
                    "height": target_h,
                    "n_bytes": [len(r) for r in resized],
                }
            )

    return mm.select("doc_id", "payload").mapInPandas(
        run, "doc_id long, payload binary, width int, height int, n_bytes long"
    )


def sample_frames(mm: DataFrame, every_n_bytes: int = 256, max_frames: int = 8) -> DataFrame:
    """Frame sampling: one input payload -> up to max_frames rows (video ->
    keyframe pattern). The stub slices the byte stream at fixed strides; a
    real implementation seeks keyframes via ffmpeg. Output is EXPLODED (one
    row per frame) — the shape downstream per-frame embedding jobs expect."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_no": [], "frame": []}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                if not isinstance(payload, (bytes, bytearray)):
                    raise NotImplementedError("frame sampling requires raw bytes")
                for i in range(min(max_frames, max(1, len(payload) // every_n_bytes))):
                    rows["doc_id"].append(did)
                    rows["frame_no"].append(i)
                    rows["frame"].append(bytes(payload[i * every_n_bytes:(i + 1) * every_n_bytes]))
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return mm.select("doc_id", "payload").mapInPandas(
        run, "doc_id long, frame_no int, frame binary"
    )


_RESIZE_ORACLE = """
SELECT doc_id,
       lower(hex(encode(substr(text, 1, 16)))) AS payload_hex,
       32 AS width,
       32 AS height,
       CAST(16 AS BIGINT) AS n_bytes
FROM documents
"""


@df_query(
    "q_multimodal_resize",
    duck_sql=_RESIZE_ORACLE,
    tables=["documents"],
    doc="Batch image-resize plumbing (mapInPandas, binary in/out, metadata "
    "rebuilt) — stub resampler, real Spark contract. The stub truncates to "
    "the area-proportional length (32x32 -> 16 bytes; every corpus doc is "
    ">= 48 chars so the zero-pad branch never fires here — pinned "
    "separately in tests/test_multimodal_json.py), so the resized bytes "
    "are oracle-checkable once canonicalized through lower(hex(payload)) "
    "— raw binary columns compare differently across engines, hex is "
    "byte-identical.",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    resized = resize_images(to_multimodal(t["documents"]), target_w=32, target_h=32)
    return resized.select(
        "doc_id",
        F.lower(F.hex("payload")).alias("payload_hex"),
        "width",
        "height",
        "n_bytes",
    )


_FRAMES_ORACLE = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, least(8, greatest(1, length(text) // 256)))) AS frame_no
  FROM documents
)
SELECT doc_id,
       CAST(frame_no AS INT) AS frame_no,
       lower(hex(encode(substr(text, frame_no * 256 + 1, 256)))) AS frame_hex
FROM f
"""


@df_query(
    "q_multimodal_frames",
    duck_sql=_FRAMES_ORACLE,
    tables=["documents"],
    doc="Frame-sampling plumbing: one payload -> up to 8 frame rows "
    "(exploded shape downstream per-frame embedding jobs expect). Stub "
    "keyframe slicer at fixed 256-byte strides, real mapInPandas "
    "contract; the frame bytes are oracle-checked via the hex "
    "canonicalization (each frame = one substring slice in SQL).",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    frames = sample_frames(to_multimodal(t["documents"]))
    return frames.select(
        "doc_id", "frame_no", F.lower(F.hex("frame")).alias("frame_hex")
    )


@df_query(
    "q_multimodal_bytes",
    duck_sql="""
SELECT doc_id,
       'text/plain' AS mime,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
       md5(lower(hex(CAST(text AS BLOB)))) AS payload_md5,
       substring(lower(hex(CAST(text AS BLOB))), 1, 16) AS head_hex
FROM documents
""",
    tables=["documents"],
    doc="Byte-level verification of the binary payload column itself (not "
    "just metadata): octet length, an md5 content checksum, and the first "
    "8 bytes as hex — computed on the Spark side over the real "
    "binary-typed column and oracle-checked against DuckDB's BLOB "
    "functions. Engines disagree on md5(BLOB) availability and hex case, "
    "so the checksum canonicalizes through lower(hex(payload)) — "
    "byte-identical both sides. Map-only, codegen, no shuffle; this is "
    "the integrity-manifest pass a multimodal lake runs after ingest.",
)
def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    mm = to_multimodal(t["documents"])
    hexp = F.lower(F.hex("payload"))
    return mm.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.octet_length("payload").cast("int").alias("n_bytes"),
        F.md5(hexp).alias("payload_md5"),
        F.substring(hexp, 1, 16).alias("head_hex"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup detection over the multimodal payload (image
# dedup shape: decode -> 64-pixel average-hash -> banded Hamming pairs).
# ---------------------------------------------------------------------------

_AHASH_PIXELS = 64
_AHASH_CHUNKS = 4  # 4 x 16-bit chunks; Hamming <= 3 => >= 1 identical chunk
_AHASH_MAX_D = 3


def ahash_chunks(payload: bytes) -> list[int]:
    """Average-hash of a decoded 64-pixel strip, packed as four 16-bit
    chunks. The 'decode' is the stub convention (payload bytes ARE the
    pixel source — swap for a real thumbnail decode on a codec-equipped
    cluster); the hash algebra (strided sample, mean threshold, bit pack)
    is the real aHash. All-integer, so the SQL oracle can recompute it
    exactly from the text the payload was built from."""
    n = len(payload)
    stride = max(1, n // _AHASH_PIXELS)
    px = [payload[i * stride] for i in range(_AHASH_PIXELS)]
    total = sum(px)
    bits = [1 if _AHASH_PIXELS * p > total else 0 for p in px]
    return [
        sum(bits[c * 16 + j] << j for j in range(16))
        for c in range(_AHASH_CHUNKS)
    ]


def _phash_table(mm: DataFrame) -> DataFrame:
    """mapInPandas decode+hash over the multimodal table (the Arrow-batched
    path a real image pipeline uses); one row per payload with the four
    chunk columns."""
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"c{c}", T.IntegerType()) for c in range(_AHASH_CHUNKS)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) < _AHASH_PIXELS:
                    continue
                rows.append([doc_id, *ahash_chunks(bytes(payload))])
            yield pd.DataFrame(rows, columns=["doc_id"] + [f"c{c}" for c in range(_AHASH_CHUNKS)])

    return mm.select("doc_id", "payload").mapInPandas(run, schema=schema)


def _phash_oracle_sql() -> str:
    """Exact SQL recomputation of the aHash chunks from the text (the
    payload is the utf8 bytes of text), then the banded pair join."""
    px = [
        f"ascii(substr(text, 1 + {i} * greatest(length(text) // {_AHASH_PIXELS}, 1), 1))"
        for i in range(_AHASH_PIXELS)
    ]
    tot = " + ".join(f"p{i}" for i in range(_AHASH_PIXELS))
    pix_cols = ",\n    ".join(f"{e} AS p{i}" for i, e in enumerate(px))
    chunk_exprs = ",\n    ".join(
        "("
        + " + ".join(
            f"(CASE WHEN {_AHASH_PIXELS} * p{c * 16 + j} > tot THEN 1 ELSE 0 END) * {1 << j}"
            for j in range(16)
        )
        + f") AS c{c}"
        for c in range(_AHASH_CHUNKS)
    )
    bands = " OR ".join(f"a.c{c} = b.c{c}" for c in range(_AHASH_CHUNKS))
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(_AHASH_CHUNKS))
    return f"""
WITH pix AS (
  SELECT doc_id,
    {pix_cols}
  FROM documents WHERE length(text) >= {_AHASH_PIXELS}
),
tot AS (SELECT *, {tot} AS tot FROM pix),
h AS (
  SELECT doc_id,
    {chunk_exprs}
  FROM tot
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS INT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id AND ({bands})
WHERE {ham} <= {_AHASH_MAX_D}
"""


@df_query(
    "q_multimodal_phash_dedup",
    duck_sql=_phash_oracle_sql(),
    tables=["documents"],
    doc="Perceptual-hash near-dup detection over the multimodal payload — "
    "the image-dedup pipeline shape: Arrow-batched decode+aHash "
    "(mapInPandas; stub decode per module convention, real hash "
    "algebra), then EXACT pigeonhole banding on the four 16-bit chunks "
    "(Hamming <= 3 over 64 bits guarantees an identical chunk) and a "
    "bit_count(xor) verify — never the all-pairs space, the same "
    "candidate discipline as q_dedup_simhash_pairs but over binary "
    "payloads. All-integer, so the oracle recomputes the hash from the "
    "payload's source text and the gate is hash-exact.",
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    mm = to_multimodal(t["documents"])
    # 3 plan references below
    h = register_run_checkpoint(round_checkpoint(_phash_table(mm)))
    h.createOrReplaceTempView("phash_h")
    # The oracle writes the OR-of-bands join (fine for a reference
    # engine); here each band becomes an EQUI-join key via a 4-row
    # explode, so candidates come from hash joins on (band, value) — the
    # same pigeonhole discipline as q_dedup_simhash_pairs. An OR join
    # condition would compile to a nested-loop over all pairs (the plan
    # linter rejects exactly that).
    stack = ", ".join(f"{c}, c{c}" for c in range(_AHASH_CHUNKS))
    ham = " + ".join(
        f"bit_count(ha.c{c} ^ hb.c{c})" for c in range(_AHASH_CHUNKS)
    )
    return spark.sql(f"""
        WITH bands AS (
          SELECT doc_id, stack({_AHASH_CHUNKS}, {stack}) AS (band, val)
          FROM phash_h
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b, CAST({ham} AS INT) AS hamming
        FROM cand c
        JOIN phash_h ha ON c.doc_a = ha.doc_id
        JOIN phash_h hb ON c.doc_b = hb.doc_id
        WHERE {ham} <= {_AHASH_MAX_D}
    """)


# --- Video scene-change detection over frame signatures ------------------

_SCENE_JUMP_T = 300


def frame_signatures(frames: DataFrame) -> DataFrame:
    """Per-frame content signature (byte sum — the stub stand-in for a real
    frame histogram/phash; same Arrow-batched codec seam as ahash_chunks)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_no": pdf["frame_no"],
                    "sig": [int(sum(f)) for f in pdf["frame"]],
                }
            )

    return frames.mapInPandas(run, "doc_id long, frame_no int, sig long")


_SCENES_ORACLE = f"""
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, least(8, greatest(1, length(text) // 256)))) AS frame_no
  FROM documents
),
sig AS (
  SELECT doc_id, frame_no,
         CAST(list_sum(list_transform(
           range(frame_no * 256 + 1, least(frame_no * 256 + 256, length(text)) + 1),
           i -> ord(substr(text, i, 1)))) AS BIGINT) AS sig
  FROM f
),
j AS (
  SELECT doc_id, frame_no, sig,
         abs(sig - lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_no)) AS jump
  FROM sig
)
SELECT
  doc_id,
  CAST(COUNT(*) AS INT) AS n_frames,
  CAST(SUM(CASE WHEN jump > {_SCENE_JUMP_T} THEN 1 ELSE 0 END) AS INT) AS n_cuts,
  CAST(MIN(CASE WHEN jump > {_SCENE_JUMP_T} THEN frame_no END) AS INT) AS first_cut_frame,
  CAST(MAX(jump) AS BIGINT) AS max_jump
FROM j
GROUP BY doc_id
"""


@df_query(
    "q_scene_changes",
    duck_sql=_SCENES_ORACLE,
    tables=["documents"],
    doc="Video scene-change detection over sampled frames: per-frame "
    "content signatures (stub byte-sum standing in for a frame histogram "
    "— the codec seam is the same mapInPandas contract as every decode "
    "step here), LAG distance between consecutive frames, a cut wherever "
    "the jump exceeds the threshold; per-video cut count / first cut / "
    "max jump. The signature pass is the only Python; the temporal logic "
    "(LAG + rollup) shares one doc_id exchange. At scale frames arrive "
    "already exploded from the decoder, partition by (video, shard) and "
    "the window never crosses videos. Exact integer arithmetic end-to-end "
    "— oracle recomputes signatures from the payload's source bytes "
    "(same convention as q_multimodal_phash_dedup).",
)
def q_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    sigs = frame_signatures(sample_frames(to_multimodal(t["documents"])))
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    j = sigs.withColumn("jump", F.abs(F.col("sig") - F.lag("sig").over(w)))
    cut = F.when(F.col("jump") > _SCENE_JUMP_T, 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_frames"),
        F.sum(cut).cast("int").alias("n_cuts"),
        F.min(F.when(F.col("jump") > _SCENE_JUMP_T, F.col("frame_no"))).cast("int").alias("first_cut_frame"),
        F.max("jump").cast("bigint").alias("max_jump"),
    )


# --- Audio VAD-style energy segmentation ----------------------------------

_VAD_FRAME = 160       # samples per frame (10 ms at 16 kHz)
_VAD_MAX_FRAMES = 16
_VAD_THRESHOLD = 325000  # voiced if frame energy exceeds this


def frame_energies(mm: DataFrame) -> DataFrame:
    """Per-frame signal energy over an audio payload: bytes as centered
    8-bit samples, energy = Σ(b−128)² per 160-sample frame. The DSP stub
    behind the same Arrow-batched codec seam as every decode step here (a
    real pipeline drops in soxr/librosa at exactly this function)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_no": [], "energy": []}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                if not isinstance(payload, (bytes, bytearray)):
                    raise NotImplementedError("energy requires raw bytes")
                for k in range(min(_VAD_MAX_FRAMES, len(payload) // _VAD_FRAME)):
                    frame = payload[k * _VAD_FRAME:(k + 1) * _VAD_FRAME]
                    rows["doc_id"].append(did)
                    rows["frame_no"].append(k)
                    rows["energy"].append(sum((b - 128) * (b - 128) for b in frame))
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return mm.select("doc_id", "payload").mapInPandas(
        run, "doc_id long, frame_no int, energy long"
    )


_VAD_ORACLE = f"""
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, least({_VAD_MAX_FRAMES}, length(text) // {_VAD_FRAME})))
           AS frame_no
  FROM documents WHERE length(text) >= {_VAD_FRAME}
),
e AS (
  SELECT doc_id, frame_no,
         CAST(list_sum(list_transform(
           range(frame_no * {_VAD_FRAME} + 1, frame_no * {_VAD_FRAME} + {_VAD_FRAME} + 1),
           i -> (ord(substr(text, i, 1)) - 128) * (ord(substr(text, i, 1)) - 128)))
           AS BIGINT) AS energy
  FROM f
),
v AS (
  SELECT doc_id, frame_no, energy,
         CASE WHEN energy > {_VAD_THRESHOLD} THEN 1 ELSE 0 END AS voiced,
         frame_no - CAST(SUM(CASE WHEN energy > {_VAD_THRESHOLD} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY frame_no
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS island
  FROM e
),
seg AS (
  SELECT doc_id, island, CAST(COUNT(*) AS INT) AS seg_len
  FROM v WHERE voiced = 1 GROUP BY doc_id, island
)
SELECT
  e.doc_id,
  CAST(COUNT(*) AS INT) AS n_frames,
  CAST(SUM(CASE WHEN e.energy > {_VAD_THRESHOLD} THEN 1 ELSE 0 END) AS INT)
    AS n_voiced,
  CAST(MAX(e.energy) AS BIGINT) AS max_energy,
  COALESCE(s.n_segments, 0) AS n_segments,
  COALESCE(s.longest_segment, 0) AS longest_segment
FROM e
LEFT JOIN (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_segments,
         CAST(MAX(seg_len) AS INT) AS longest_segment
  FROM seg GROUP BY doc_id
) s ON e.doc_id = s.doc_id
GROUP BY e.doc_id, s.n_segments, s.longest_segment
"""


@df_query(
    "q_audio_vad",
    duck_sql=_VAD_ORACLE,
    tables=["documents"],
    doc="Audio VAD-style energy segmentation — the third modality's "
    "pipeline shape (image: phash dedup; video: scene cuts; audio: THIS): "
    "per-frame energies from the Arrow-batched DSP seam, a voiced/unvoiced "
    "threshold, then gaps-and-islands run grouping (frame_no − running "
    "voiced count) for speech-segment count and longest run per clip. "
    "Energy extraction is the only Python; thresholding, islands, and "
    "rollups are window/agg SQL sharing one doc_id exchange. Integer "
    "arithmetic end-to-end; oracle recomputes energies from the payload's "
    "source bytes (q_scene_changes convention).",
)
def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    e = frame_energies(to_multimodal(t["documents"]))
    voiced = F.when(F.col("energy") > _VAD_THRESHOLD, 1).otherwise(0)
    w = Window.partitionBy("doc_id").orderBy("frame_no").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = e.withColumn("voiced", voiced).withColumn(
        "island", F.col("frame_no") - F.sum("voiced").over(w).cast("int")
    )
    seg = (
        v.where("voiced = 1")
        .groupBy("doc_id", "island")
        .agg(F.count("*").cast("int").alias("seg_len"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_segments"),
            F.max("seg_len").cast("int").alias("longest_segment"),
        )
    )
    base = v.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_frames"),
        F.sum("voiced").cast("int").alias("n_voiced"),
        F.max("energy").cast("bigint").alias("max_energy"),
    )
    return base.join(seg, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        "n_voiced",
        "max_energy",
        F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
        F.coalesce("longest_segment", F.lit(0)).alias("longest_segment"),
    )


# ---------------------------------------------------------------------------
# mapInArrow — the zero-copy Arrow-native batch API (Spark 4), demonstrated
# on payload fingerprinting with a hash-verified oracle.
# ---------------------------------------------------------------------------


def payload_fingerprints_arrow(mm: DataFrame) -> DataFrame:
    """Per-payload (doc_id, n_bytes, md5_hex) computed in mapInArrow batches.

    mapInArrow hands the worker RAW pyarrow.RecordBatch objects — no
    Arrow→pandas conversion on either side, which for large binary columns
    (exactly this media-payload shape) removes the per-batch copy + object
    boxing mapInPandas pays. The batch boundary and schema contract are
    otherwise identical, so this is the drop-in upgrade path for every
    mapInPandas codec stub in this module once real decoders exist."""
    import pyarrow as pa

    def fp(batches):
        import hashlib

        for batch in batches:
            ids = batch.column("doc_id")
            payloads = batch.column("payload")
            md5s = []
            lens = []
            for buf in payloads:
                b = buf.as_py() or b""
                md5s.append(hashlib.md5(b).hexdigest())
                lens.append(len(b))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(lens, pa.int64()), pa.array(md5s, pa.string())],
                names=["doc_id", "n_bytes", "md5_hex"],
            )

    return mm.select("doc_id", "payload").mapInArrow(
        fp, "doc_id bigint, n_bytes bigint, md5_hex string"
    )


def _register_arrow_fp() -> None:
    from ..registry import df_query
    from ..sources.tables import load_tables

    @df_query(
        "q_multimodal_arrow_fp",
        duck_sql="""
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       md5(text) AS md5_hex
FROM documents
""",
        tables=["documents"],
        doc="Arrow-NATIVE payload fingerprinting via Spark 4 mapInArrow: "
        "raw pyarrow.RecordBatch in, RecordBatch out — no Arrow→pandas "
        "copy on the multi-megabyte binary column, the upgrade path for "
        "every mapInPandas codec seam in this module. The md5+length "
        "output is hash-verified against the engines' own SQL md5 over "
        "the same bytes, so the Python seam provably sees EXACTLY the "
        "payload bytes (no truncation, no encoding drift). Pure map — "
        "partition-parallel, zero shuffle at any scale.",
    )
    def q_multimodal_arrow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = load_tables(spark, sf_dir, ["documents"])
        return payload_fingerprints_arrow(to_multimodal(t["documents"]))


_register_arrow_fp()
