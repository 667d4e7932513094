"""§2.9 LLM-data-pipeline: multimodal columns.

Multimodal payloads are opaque ``binary`` columns with typed metadata
(SURVEY.md / task brief).  The container has no image/audio libraries,
but uncompressed rasters need none: ``decode_image`` is a REAL
pure-numpy decoder for binary PPM (P6) and 24-bit BMP, hash-verified
end-to-end by x_multimodal_decode; everything Spark-side — binary
schema, Arrow batch transfer, mapInPandas plumbing, partitioning — is
real and oracle-checked where deterministic.  Only compressed formats
(JPEG/PNG) are out of scope, rejected with a clear error.

- multimodal_join:          text table x vector table in one plan (oracle)
- multimodal_binary_stats:  binary payloads through an Arrow-batched
                            mapInPandas pipeline, per-payload metadata
                            out (oracle — byte math is deterministic)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, load_tables
from ..functions.pystage import python_stage_width, to_width
from ..registry import query


def decode_image(payload: bytes) -> dict:
    """Pure-numpy decoder for the two classic UNCOMPRESSED raster
    formats — binary PPM (P6) and 24-bit uncompressed BMP.  Both are
    header + raw RGB bytes, so no imaging library is needed; compressed
    formats (JPEG/PNG) are rejected with a clear error rather than
    stubbed.  Returns ``{"format", "width", "height", "pixels"}`` with
    pixels a (height, width, 3) uint8 RGB array.

    PPM P6: ASCII header "P6 <w> <h> <maxval>" with '#' comments and
    arbitrary whitespace, one whitespace byte, then w*h*3 raw bytes in
    row-major top-down RGB order (maxval must be <= 255).

    BMP: 'BM' magic, pixel-data offset at byte 10, BITMAPINFOHEADER
    (width int32 @18, height int32 @22, bpp uint16 @28 == 24,
    compression uint32 @30 == 0), rows padded to 4-byte stride and
    stored BOTTOM-UP in BGR order — both quirks undone here.
    """
    import numpy as np

    if payload[:2] == b"P6":
        pos = 2
        fields: list[int] = []
        while len(fields) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and payload[pos : pos + 1].isdigit():
                pos += 1
            if start == pos:
                raise ValueError("malformed PPM header")
            fields.append(int(payload[start:pos]))
        pos += 1  # exactly one whitespace byte separates header and data
        w, h, maxval = fields
        if maxval > 255:
            raise ValueError("16-bit PPM not supported")
        need = w * h * 3
        data = payload[pos : pos + need]
        if len(data) < need:
            raise ValueError("truncated PPM pixel data")
        px = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
        return {"format": "ppm", "width": w, "height": h, "pixels": px}

    if payload[:2] == b"BM":
        off = int.from_bytes(payload[10:14], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
        if bpp != 24 or comp != 0:
            raise ValueError("only 24-bit uncompressed BMP supported")
        top_down = h < 0
        h = abs(h)
        stride = ((w * 3 + 3) // 4) * 4
        data = payload[off : off + stride * h]
        if len(data) < stride * h:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(data, dtype=np.uint8).reshape(h, stride)
        px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        if not top_down:
            px = px[::-1]  # bottom-up -> top-down
        return {"format": "bmp", "width": w, "height": h, "pixels": np.ascontiguousarray(px)}

    raise ValueError("unsupported image format (PPM P6 and 24-bit BMP only)")


def weave_ppm(data: bytes, w: int, h: int) -> bytes:
    """Deterministically weave a binary-PPM (P6) image from arbitrary
    payload bytes: the w*h*3 pixel bytes are the payload cycled to
    length.  This is the corpus-side fake for a container with no image
    files — the DECODER above is real, and the closed-form byte math of
    the weave is what makes its output oracle-checkable."""
    need = w * h * 3
    if not data:
        body = b"\x00" * need
    else:
        reps = -(-need // len(data))
        body = (data * reps)[:need]
    return b"P6\n%d %d\n255\n" % (w, h) + body


def weave_bmp(data: bytes, w: int, h: int) -> bytes:
    """Deterministically weave a 24-bit uncompressed BMP whose LOGICAL
    image (row-major top-down RGB) is the payload cycled to w*h*3 bytes
    — the same logical weave as ``weave_ppm``, but encoded with every
    BMP quirk the decoder must undo: BGR channel order, rows stored
    BOTTOM-UP, and each row padded to a 4-byte stride.  Decoding the
    woven file must therefore reproduce the cycled payload exactly,
    which is what makes the BMP path oracle-checkable."""
    import numpy as np

    need = w * h * 3
    if not data:
        body = np.zeros(need, dtype=np.uint8)
    else:
        reps = -(-need // len(data))
        body = np.frombuffer((data * reps)[:need], dtype=np.uint8)
    logical = body.reshape(h, w, 3)  # top-down RGB
    bgr_bottom_up = logical[::-1, :, ::-1]  # the two stored-order quirks
    stride = ((w * 3 + 3) // 4) * 4
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : w * 3] = bgr_bottom_up.reshape(h, w * 3)
    pix = padded.tobytes()
    header = (
        b"BM"
        + (54 + len(pix)).to_bytes(4, "little")  # file size
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")  # pixel-data offset
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER size
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)  # positive => bottom-up
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB (uncompressed)
        + len(pix).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 dpi x/y
        + (0).to_bytes(4, "little") * 2  # palette sizes
    )
    return header + pix


def extract_binary_metadata(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: per-payload metadata from binary blobs.

    Stands in for decode/feature-extract/resize: identical batch shape,
    schema, and Arrow path as a real decoder, with deterministic byte
    math instead of libjpeg.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "first_byte": payloads.map(lambda b: b[0] if len(b) else 0).astype("int64"),
                "byte_sum": payloads.map(lambda b: sum(b) % 1_000_000_007).astype("int64"),
            }
        )


@query(
    "multimodal_join",
    category="llm_multimodal",
    oracle=(
        "SELECT lang, label, COUNT(*) AS cnt "
        "FROM documents JOIN embeddings ON doc_id = vec_id "
        "GROUP BY lang, label"
    ),
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents x embeddings: label distribution per language — a text
    column and a vector column flowing through one plan."""
    docs, emb = load_tables(spark, sf_dir, "documents", "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "x_multimodal_binary_stats",
    category="llm_multimodal",
    oracle=(
        "SELECT doc_id, "
        "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, "
        "CAST(ord(text[1]) AS BIGINT) AS first_byte "
        "FROM documents"
    ),
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text -> binary payload -> Arrow-batched
    mapInPandas -> typed metadata.

    The payload here is utf-8 text (the corpus is ASCII tokens) so the
    byte math is oracle-checkable; a real corpus would carry image/audio
    bytes through the identical plan.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    out = docs.mapInPandas(
        extract_binary_metadata,
        schema="doc_id long, n_bytes long, first_byte long, byte_sum long",
    )
    return out.select("doc_id", "n_bytes", "first_byte")


_RESIZE_BOX = 224  # target square, the standard vision-model input box


def plan_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: letterbox-fit resize planning per payload.

    Source dimensions come from deterministic byte math (a real pipeline
    reads them from the image header — that decode is the stubbed step,
    see decode_image); the aspect-preserving fit into the target box is
    the REAL geometry every vision preprocessor runs.  Vectorized numpy
    float64 so the arithmetic is bit-identical to the SQL oracle.
    """
    import numpy as np

    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64").to_numpy()
        src_w = 16 + n_bytes % 64
        src_h = 16 + (n_bytes * 31 % 1009) % 48
        scale = np.minimum(_RESIZE_BOX / src_w, _RESIZE_BOX / src_h)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "src_w": src_w,
                "src_h": src_h,
                "out_w": np.floor(src_w * scale).astype("int64"),
                "out_h": np.floor(src_h * scale).astype("int64"),
            }
        )


@query(
    "x_multimodal_resize",
    category="llm_multimodal",
    oracle=(
        "WITH dims AS (SELECT doc_id, "
        "  16 + octet_length(CAST(text AS BLOB)) % 64 AS src_w, "
        "  16 + (octet_length(CAST(text AS BLOB)) * 31 % 1009) % 48 AS src_h "
        "  FROM documents) "
        "SELECT doc_id, CAST(src_w AS BIGINT) AS src_w, CAST(src_h AS BIGINT) AS src_h, "
        f"CAST(floor(src_w * least({_RESIZE_BOX}.0 / src_w, {_RESIZE_BOX}.0 / src_h)) AS BIGINT) AS out_w, "
        f"CAST(floor(src_h * least({_RESIZE_BOX}.0 / src_w, {_RESIZE_BOX}.0 / src_h)) AS BIGINT) AS out_h "
        "FROM dims"
    ),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: binary payload -> Arrow-batched mapInPandas ->
    aspect-preserving letterbox plan (src dims, fitted dims) — the third
    of the brief's decode/feature-extract/resize/frame-sample quartet,
    same stubbed-decode discipline as the others."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return docs.mapInPandas(
        plan_resize,
        schema="doc_id long, src_w long, src_h long, out_w long, out_h long",
    )


# Dimension formulas for the two decode keys: DIFFERENT moduli so the
# container formats are exercised on different shapes (the BMP one
# hits stride-padded widths for 3 of every 4 values).  The SQL and
# Python spellings must stay in lockstep — both derive from n alone.
_PPM_DIMS_SQL = ("4 + n % 12", "4 + (n * 31 % 1009) % 12")
_BMP_DIMS_SQL = ("4 + n % 11", "4 + (n * 37 % 1013) % 11")


def _PPM_DIMS(n: int) -> tuple[int, int]:
    return 4 + n % 12, 4 + (n * 31 % 1009) % 12


def _BMP_DIMS(n: int) -> tuple[int, int]:
    return 4 + n % 11, 4 + (n * 37 % 1013) % 11


def _decode_stats_frame(pdf: pd.DataFrame, weave, dims, fmt: str) -> pd.DataFrame:
    """Shared worker core for both decode keys: weave each payload into
    a `fmt` container at the key's dimensions, decode it with the REAL
    decoder, reduce to exact integer pixel stats.  Per-image python is
    the honest shape here — decoding is inherently per-image — and the
    Arrow batch boundary keeps transfer vectorized."""
    import numpy as np

    ids, ws, hs, sums, frs, lbs = [], [], [], [], [], []
    for doc_id, data in zip(pdf["doc_id"], pdf["payload"]):
        data = bytes(data)
        w, h = dims(len(data))
        img = decode_image(weave(data, w, h))
        if img["format"] != fmt or img["width"] != w or img["height"] != h:
            raise ValueError(f"{fmt} decode mismatch for doc {doc_id}")
        px = img["pixels"].astype(np.int64)
        ids.append(doc_id)
        ws.append(img["width"])
        hs.append(img["height"])
        sums.append(int(px.sum()))
        frs.append(int(px[0, 0, 0]))
        lbs.append(int(px[-1, -1, 2]))
    return pd.DataFrame(
        {
            "doc_id": ids,
            "width": ws,
            "height": hs,
            "px_sum": sums,
            "first_r": frs,
            "last_b": lbs,
        }
    )


_HEX_BYTE = (
    "(instr('0123456789ABCDEF', substr(hx, CAST(2 * {i} + 1 AS INT), 1)) - 1) * 16 "
    "+ (instr('0123456789ABCDEF', substr(hx, CAST(2 * {i} + 2 AS INT), 1)) - 1)"
)


def _px_stats_oracle(w_sql: str, h_sql: str) -> str:
    """The decode keys' closed-form oracle, parameterized by the
    dimension formulas: the woven image's pixel array is the payload
    cycled to w*h*3 bytes regardless of container format, so px_sum =
    (full cycles) x (total byte sum) + (prefix remainder sum), and the
    corner pixels are single indexed bytes — all via hex-pair byte
    extraction on the BLOB."""
    b = _HEX_BYTE.format(i="i")
    return (
        "WITH p AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx, "
        "  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n FROM documents), "
        f"d AS (SELECT doc_id, hx, n, {w_sql} AS w, {h_sql} AS h FROM p), "
        "e AS (SELECT doc_id, hx, n, w, h, w * h * 3 AS need FROM d), "
        "f AS (SELECT doc_id, w, h, n, need, "
        f"  COALESCE(list_sum(list_transform(range(0, n), i -> {b})), 0) AS sum_all, "
        f"  COALESCE(list_sum(list_transform(range(0, need % n), i -> {b})), 0) AS pre_rem, "
        f"  list_sum(list_transform([CAST(0 AS BIGINT)], i -> {b})) AS first_r, "
        f"  list_sum(list_transform([(need - 1) % n], i -> {b})) AS last_b "
        "  FROM e) "
        "SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, "
        "CAST((need // n) * sum_all + pre_rem AS BIGINT) AS px_sum, "
        "CAST(first_r AS BIGINT) AS first_r, CAST(last_b AS BIGINT) AS last_b "
        "FROM f"
    )


def decode_pixel_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: weave a P6 PPM from each payload, decode it
    with the REAL decoder, and reduce the pixel array to exact integer
    stats (shared core: ``_decode_stats_frame``)."""
    for pdf in batches:
        yield _decode_stats_frame(pdf, weave_ppm, _PPM_DIMS, "ppm")


@query(
    "x_multimodal_decode",
    category="llm_multimodal",
    oracle=_px_stats_oracle(*_PPM_DIMS_SQL),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode, hash-verified: each document's
    bytes are woven into a binary-PPM (P6) image (pixel bytes = payload
    cycled to w*h*3), decoded by ``decode_image`` — an actual header
    parser + raster reader, not byte math — and reduced to exact pixel
    stats.  The oracle recomputes the stats from the weave's closed
    form (cycle count x total byte sum + prefix remainder, via hex-pair
    byte extraction), so a hash match proves the decoder's header
    parse, dimension handling, and pixel layout are correct.  The same
    decoder's 24-bit-BMP path (stride padding, bottom-up BGR rows) is
    hash-verified by the sibling key x_multimodal_decode_bmp and
    unit/fuzz-tested in tests/test_multimodal.py.

    Scale shape: one Arrow-batched mapInPandas pass, no shuffle; output
    is 6 ints per document.  On a real corpus the weave disappears and
    the decode consumes the binary column directly — identical plan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return docs.mapInPandas(
        decode_pixel_stats,
        schema=(
            "doc_id long, width long, height long, px_sum long, "
            "first_r long, last_b long"
        ),
    )


def decode_pixel_stats_bmp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: weave a 24-bit BMP from each payload, decode
    it with the REAL decoder, and reduce to exact integer pixel stats.
    The weave encodes BGR + bottom-up rows + stride padding; the stats
    are over the DECODED (logical RGB top-down) array, so any mistake
    in undoing those quirks shifts px_sum/first_r/last_b and fails the
    oracle hash."""
    for pdf in batches:
        yield _decode_stats_frame(pdf, weave_bmp, _BMP_DIMS, "bmp")


@query(
    "x_multimodal_decode_bmp",
    category="llm_multimodal",
    oracle=_px_stats_oracle(*_BMP_DIMS_SQL),
)
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BMP half of the real-decoder evidence: x_multimodal_decode
    hash-verifies the PPM path; this key drives the SAME decoder
    through a woven 24-bit BMP — BGR channel order, bottom-up row
    storage, and 4-byte stride padding all encoded by ``weave_bmp``
    and undone by ``decode_image`` — and hash-checks the decoded pixel
    stats against the weave's container-independent closed form.  The
    dimension formulas differ from the PPM key's (w via n%11, h via
    n*37%1013) so the two keys exercise different shapes, including
    stride-padded widths (w*3 % 4 != 0 for 3 of every 4 widths).

    Scale shape: identical to x_multimodal_decode — one Arrow-batched
    mapInPandas pass, no shuffle, 6 ints out per document."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return docs.mapInPandas(
        decode_pixel_stats_bmp,
        schema=(
            "doc_id long, width long, height long, px_sum long, "
            "first_r long, last_b long"
        ),
    )


_AUDIO_FRAME = 64  # bytes per analysis frame (a stand-in sample rate)


@query(
    "x_multimodal_audio_energy",
    category="llm_multimodal",
    oracle=(
        "WITH p AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS h, "
        "  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n FROM documents), "
        f"f AS (SELECT doc_id, n, i AS frame_idx FROM p, "
        f"  LATERAL (SELECT unnest(range(0, n // {_AUDIO_FRAME})) AS i) r), "
        "s AS (SELECT doc_id, frame_idx, "
        "  CAST(list_sum(list_transform(list_transform("
        f"    range(0, {_AUDIO_FRAME}), "
        "    j -> (instr('0123456789ABCDEF', substr(p.h, "
        f"      CAST((frame_idx * {_AUDIO_FRAME} + j) * 2 + 1 AS INT), 1)) - 1) * 16 "
        "       + (instr('0123456789ABCDEF', substr(p.h, "
        f"      CAST((frame_idx * {_AUDIO_FRAME} + j) * 2 + 2 AS INT), 1)) - 1)), "
        "    b -> b * b)) AS BIGINT) AS energy "
        "  FROM f JOIN p USING (doc_id, n)) "
        f"SELECT doc_id, frame_idx, CAST({_AUDIO_FRAME} AS BIGINT) AS n_samples, "
        "energy FROM s"
    ),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style frame feature extraction: the payload's byte stream
    is treated as 8-bit PCM, cut into fixed 64-byte frames (trailing
    partial frame dropped, as a hop-aligned analysis window would), and
    each frame reduced to its exact integer ENERGY (sum of squared
    sample values) — the per-frame feature a voice-activity or silence
    filter runs before any model sees the audio.  Nothing here
    is faked: samples are the UTF-8 BYTE values (extracted via an
    ISO-8859-1 char-per-byte decode — one linear pass per row), so
    multibyte characters can never misalign a frame, and the byte-level
    math is deterministic — the whole modality path is hash-checked
    (the DuckDB twin reads the same bytes via hex pairs).

    Scale shape (r13, guide §4.2): the byte squaring/summing runs as an
    Arrow mapInPandas numpy kernel — np.frombuffer over the UTF-8
    bytes, reshape to frames, one vectorized int64 square-sum per frame
    — exactly "the x_multimodal_binary_stats path" this docstring
    always named as the real-decode shape.  Integer energies are
    order-free, so the kernel is bit-identical to the former
    interpreted per-byte JVM fold (digest-proven at sf0.001/0.01/0.1);
    measured 1.58 -> 0.25 s at sf0.1.  Task width comes from
    ``functions.pystage`` (sized by input bytes), so the Python stage
    never pays per-task worker cost for KB-sized slices.  A NULL text
    has no bytes and yields no frames, as in the oracle."""
    import numpy as np

    docs = to_width(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        python_stage_width(spark, sf_dir, "documents"),
    )

    def frame_energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids, fidx, es = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                nf = len(b) // _AUDIO_FRAME
                if nf == 0:
                    continue
                e = (
                    b[: nf * _AUDIO_FRAME]
                    .astype(np.int64)
                    .reshape(nf, _AUDIO_FRAME)
                    ** 2
                ).sum(axis=1)
                ids.append(np.full(nf, doc_id, dtype=np.int64))
                fidx.append(np.arange(nf, dtype=np.int64))
                es.append(e)
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "frame_idx": np.concatenate(fidx),
                    "energy": np.concatenate(es),
                }
            )

    return docs.mapInPandas(
        frame_energies, schema="doc_id long, frame_idx long, energy long"
    ).select(
        "doc_id",
        "frame_idx",
        F.lit(_AUDIO_FRAME).cast("long").alias("n_samples"),
        "energy",
    )


_PHASH_BYTES = 256  # 16x16 "gray image" prefix; 2x2-byte blocks -> 64 bits
_PHASH_MAX_HAM = 6  # report pairs within this Hamming distance


# CTE chain ending in ``ham`` (doc_a, doc_b, hamming) — shared between
# the x_multimodal_phash_dedup oracle and x_dedup_phash_clusters'
# (clustering.py), which runs connected components over the same pairs.
PHASH_HAM_SQL = (
    "p AS (SELECT doc_id, text AS img FROM documents "
        f"  WHERE octet_length(CAST(text AS BLOB)) >= {_PHASH_BYTES}), "
        "blk AS (SELECT doc_id, k, CAST(list_sum(list_transform("
        "    [0, 1, 16, 17], "
        "    o -> ascii(substr(img, CAST((k // 8) * 32 + (k % 8) * 2 "
        "         + o + 1 AS INT), 1)))) AS BIGINT) AS bsum "
        "  FROM p, unnest(range(0, 64)) AS t(k)), "
        "tot AS (SELECT doc_id, CAST(SUM(bsum) AS BIGINT) AS total "
        "  FROM blk GROUP BY 1), "
        "bits AS (SELECT b.doc_id, b.k // 16 AS band, "
        "  CASE WHEN 64 * b.bsum > t.total THEN 1 ELSE 0 END "
        "    << CAST(b.k % 16 AS INT) AS bv "
        "  FROM blk b JOIN tot t USING (doc_id)), "
        "bands AS (SELECT doc_id, band, CAST(SUM(bv) AS BIGINT) AS v "
        "  FROM bits GROUP BY 1, 2), "
        "sig AS (SELECT doc_id, "
        "  CAST(SUM(CASE WHEN band = 0 THEN v ELSE 0 END) AS BIGINT) AS b0, "
        "  CAST(SUM(CASE WHEN band = 1 THEN v ELSE 0 END) AS BIGINT) AS b1, "
        "  CAST(SUM(CASE WHEN band = 2 THEN v ELSE 0 END) AS BIGINT) AS b2, "
        "  CAST(SUM(CASE WHEN band = 3 THEN v ELSE 0 END) AS BIGINT) AS b3 "
        "  FROM bands GROUP BY 1), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "  FROM bands a JOIN bands b ON a.band = b.band AND a.v = b.v "
        "  AND a.doc_id < b.doc_id), "
        "ham AS (SELECT c.doc_a, c.doc_b, "
        "  CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1)) "
        "     + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) "
        "    AS BIGINT) AS hamming "
        "  FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id "
        "  JOIN sig sb ON c.doc_b = sb.doc_id)"
)


@query(
    "x_multimodal_phash_dedup",
    category="llm_multimodal",
    oracle=(
        "WITH "
        + PHASH_HAM_SQL
        + f" SELECT doc_a, doc_b, hamming FROM ham "
        f"WHERE hamming <= {_PHASH_MAX_HAM}"
    ),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for binary media — the
    image-dedup step of a multimodal curation pipeline, run here on the
    payload's first 256 bytes as a 16x16 gray 'image' (a real pHash
    swaps in a DCT over decoded pixels; the signature/banding/verify
    dataflow is exactly this).  Average-hash signature: 2x2-byte block
    sums thresholded against the global block mean (compared as exact
    integers, 64*block > total — no division), packed into four 16-bit
    bands; candidate pairs must share at least one identical band
    (the SimHash/LSH banding discipline — NEVER all-pairs), then
    verified by exact Hamming distance over the four bands via
    bit_count(xor), keeping pairs within distance 6.

    Scale shape: signature extraction is a per-row JVM projection
    (bounded 64-block fold); the candidate join is a bucketed
    self-equi-join on (band, value) — 2^16 buckets per band bound the
    collision rate; the verify join is equi on doc_id.  All integer
    arithmetic, fully hash-checkable."""
    # The block fold below addresses only bytes 1.._PHASH_BYTES (max
    # element_at index = (7*32 + 7*2 + 17) + 1 = 256), so the char array
    # is built over the payload PREFIX, not the whole document — at real
    # payload sizes (KBs-MBs) splitting the full string into per-char
    # rows was the dominant per-row cost and all of it dead work.
    p = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.encode("text", "UTF-8")) >= _PHASH_BYTES)
        .select(
            "doc_id",
            F.transform(
                F.split(
                    F.substring(
                        F.decode(F.encode("text", "UTF-8"), "ISO-8859-1"),
                        1,
                        _PHASH_BYTES,
                    ),
                    "",
                ),
                lambda c: F.ascii(c).cast("long"),
            ).alias("bs"),
        )
    )
    # all 64 block sums in one per-doc HOF pass over a byte-value array
    # (one ISO-8859-1 decode + split per row), then posexplode the sums
    # — exploding k first would copy the payload string into all 64
    # block rows (the x_multimodal_audio_energy lesson)
    blk = p.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 63), k -> "
                "CAST(aggregate(transform(array(0, 1, 16, 17), "
                "o -> element_at(bs, CAST((k DIV 8) * 32 + (k % 8) * 2 "
                "+ o + 1 AS INT))), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT))"
            )
        ).alias("k", "bsum"),
    )
    tot = blk.groupBy("doc_id").agg(F.sum("bsum").alias("total"))
    bits = blk.join(tot, "doc_id").select(
        "doc_id",
        (F.col("k") / 16).cast("long").alias("band"),
        F.expr(
            "shiftleft(CASE WHEN 64 * bsum > total THEN 1 ELSE 0 END, "
            "CAST(k % 16 AS INT))"
        )
        .cast("long")
        .alias("bv"),
    )
    # Lazy localCheckpoint: the band table feeds both candidate-join
    # sides and both signature pivots — without it the 64-block
    # extraction subtree executes four times (the dedup_minhash
    # recompute fix, functions/minhash.py).
    bands = (
        bits.groupBy("doc_id", "band")
        .agg(F.sum("bv").cast("long").alias("v"))
        .localCheckpoint(eager=False)
    )
    sig = bands.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("band") == i, F.col("v")).otherwise(0))
            .cast("long")
            .alias(f"b{i}")
            for i in range(4)
        ]
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "v"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band", "v"
    )
    cand = (
        a.join(b, ["band", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)],
    )
    ham = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1) "
                "+ bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS BIGINT)"
            ).alias("hamming"),
        )
    )
    return ham.filter(F.col("hamming") <= _PHASH_MAX_HAM)


def _hist_oracle(w_sql: str, h_sql: str) -> str:
    """Closed-form 8-bin pixel histogram of the woven image: the pixel
    array is the payload cycled to w*h*3 bytes, so bin_j = (full
    cycles) x (payload count of bytes with value DIV 32 = j) + (prefix
    remainder count) — hex-pair byte extraction, same discipline as
    _px_stats_oracle."""
    b = _HEX_BYTE.format(i="i")
    bins_all = ", ".join(
        f"COALESCE(list_sum(list_transform(range(0, n), i -> "
        f"CASE WHEN ({b}) // 32 = {j} THEN 1 ELSE 0 END)), 0) AS a{j}"
        for j in range(8)
    )
    bins_pre = ", ".join(
        f"COALESCE(list_sum(list_transform(range(0, need % n), i -> "
        f"CASE WHEN ({b}) // 32 = {j} THEN 1 ELSE 0 END)), 0) AS p{j}"
        for j in range(8)
    )
    out = ", ".join(
        f"CAST((need // n) * a{j} + p{j} AS BIGINT) AS bin{j}" for j in range(8)
    )
    return (
        "WITH p AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx, "
        "  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n FROM documents), "
        f"d AS (SELECT doc_id, hx, n, {w_sql} AS w, {h_sql} AS h FROM p), "
        "e AS (SELECT doc_id, hx, n, w, h, w * h * 3 AS need FROM d), "
        f"f AS (SELECT doc_id, w, h, n, need, {bins_all}, {bins_pre} FROM e) "
        "SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, "
        f"{out} FROM f"
    )


def decode_pixel_histogram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: weave a P6 PPM per payload, decode with the
    REAL decoder, reduce the decoded array to an 8-bin (32-value-wide)
    intensity histogram via numpy bincount."""
    import numpy as np

    for pdf in batches:
        ids, ws, hs = [], [], []
        bins = [[] for _ in range(8)]
        for doc_id, data in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(data)
            w, h = _PPM_DIMS(len(data))
            img = decode_image(weave_ppm(data, w, h))
            if img["format"] != "ppm" or img["width"] != w or img["height"] != h:
                raise ValueError(f"ppm decode mismatch for doc {doc_id}")
            counts = np.bincount(
                img["pixels"].reshape(-1) >> 5, minlength=8
            ).astype(np.int64)
            ids.append(doc_id)
            ws.append(w)
            hs.append(h)
            for j in range(8):
                bins[j].append(int(counts[j]))
        out = {"doc_id": ids, "width": ws, "height": hs}
        for j in range(8):
            out[f"bin{j}"] = bins[j]
        yield pd.DataFrame(out)


@query(
    "x_multimodal_histogram",
    category="llm_multimodal",
    oracle=_hist_oracle(*_PPM_DIMS_SQL),
)
def multimodal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel-agnostic 8-bin intensity histogram of each DECODED image
    — the classic cheap visual feature (dedup blocking, brightness /
    quality gates) driven through the REAL decoder: payload woven into
    a P6 PPM, parsed by ``decode_image``, histogrammed with numpy
    bincount on the decoded array.  The oracle recomputes every bin
    from the weave's closed form (cycle count x payload bin census +
    prefix remainder), so a hash match proves decoder AND reduction —
    a different reduction of the same decode path x_multimodal_decode
    verifies, catching errors a sum can cancel (e.g. swapped bytes).

    Scale shape: one Arrow-batched mapInPandas pass, no shuffle; 8
    ints per image out."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return docs.mapInPandas(
        decode_pixel_histogram,
        schema=(
            "doc_id long, width long, height long, "
            + ", ".join(f"bin{j} long" for j in range(8))
        ),
    )


def _patch_oracle(w_sql: str, h_sql: str) -> str:
    """Closed-form 2x2-grid patch sums of the woven image: pixel (x, y)
    channel c is payload byte ((y*w + x)*3 + c) % n, and a patch row's
    bytes are CONTIGUOUS (indices (y*w + x0)*3 .. (y*w + x1)*3), so
    each patch sum is a sum of per-row segment sums — nested
    list_transform with the outer y reference, same hex-pair byte
    extraction as _px_stats_oracle.  The pixel index cycles over the
    payload (the weave repeats it to w*h*3 bytes), so every byte
    lookup is at index i % n — without the modulus, indexes past the
    payload read NULL hex pairs and the sum silently COALESCEs to 0
    (caught by the first replay of this oracle)."""
    b = _HEX_BYTE.format(i="(i % n)")

    def seg(y0: str, y1: str, x0: str, x1: str) -> str:
        return (
            f"CAST(COALESCE(list_sum(list_transform(range({y0}, {y1}), y -> "
            f"list_sum(list_transform(range((y * w + {x0}) * 3, "
            f"(y * w + {x1}) * 3), i -> {b})))), 0) AS BIGINT)"
        )

    rows = []
    for pi in (0, 1):
        for pj in (0, 1):
            y0 = f"{pi} * (h // 2)"
            y1 = f"({pi} + 1) * (h // 2)"
            x0 = f"{pj} * (w // 2)"
            x1 = f"({pj} + 1) * (w // 2)"
            rows.append(
                f"SELECT doc_id, CAST(w AS BIGINT) AS width, "
                f"CAST(h AS BIGINT) AS height, "
                f"CAST({pi} AS BIGINT) AS patch_row, "
                f"CAST({pj} AS BIGINT) AS patch_col, "
                f"{seg(y0, y1, x0, x1)} AS px_sum, "
                f"CAST((h // 2) * (w // 2) * 3 AS BIGINT) AS n_bytes "
                "FROM e"
            )
        # (patch loop continues)
    union = " UNION ALL ".join(rows)
    return (
        "WITH p AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx, "
        "  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n FROM documents), "
        f"e AS (SELECT doc_id, hx, n, {w_sql} AS w, {h_sql} AS h FROM p), "
        f"u AS ({union}) "
        "SELECT doc_id, width, height, patch_row, patch_col, px_sum, "
        "  n_bytes, CAST(1000 * px_sum // n_bytes AS BIGINT) AS mean_milli "
        "FROM u"
    )


def decode_patchify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: weave a P6 PPM per payload, decode with the
    REAL decoder, split the decoded array into a 2x2 patch grid
    (floor-half tiles; odd edge rows/cols cropped, the ViT rule) and
    emit one row per patch with its exact byte sum."""
    import numpy as np

    for pdf in batches:
        out = {
            "doc_id": [], "width": [], "height": [],
            "patch_row": [], "patch_col": [], "px_sum": [],
            "n_bytes": [], "mean_milli": [],
        }
        for doc_id, data in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(data)
            w, h = _PPM_DIMS(len(data))
            img = decode_image(weave_ppm(data, w, h))
            if img["format"] != "ppm" or img["width"] != w or img["height"] != h:
                raise ValueError(f"ppm decode mismatch for doc {doc_id}")
            px = img["pixels"].astype(np.int64)  # (h, w, 3)
            ph, pw = h // 2, w // 2
            for pi in range(2):
                for pj in range(2):
                    tile = px[pi * ph : (pi + 1) * ph, pj * pw : (pj + 1) * pw]
                    s = int(tile.sum())
                    nb = ph * pw * 3
                    out["doc_id"].append(doc_id)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["patch_row"].append(pi)
                    out["patch_col"].append(pj)
                    out["px_sum"].append(s)
                    out["n_bytes"].append(nb)
                    out["mean_milli"].append(1000 * s // nb)
        yield pd.DataFrame(out)


@query(
    "x_multimodal_patchify",
    category="llm_multimodal",
    oracle=_patch_oracle(*_PPM_DIMS_SQL),
)
def multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style PATCH EXTRACTION through the real decoder: each decoded
    image splits into a 2x2 grid of floor-half tiles (odd edge pixels
    cropped — the standard resize-to-multiple rule) and every patch
    emits its exact intensity sum and milli-mean — the per-patch
    reduction a vision-transformer ingest pipeline runs before
    projection, exercised end-to-end (weave -> P6 parse -> positional
    tiling -> per-tile reduce).  Positional correctness is the point:
    the histogram/stats reductions are position-blind, but a decoder
    that transposed, mirrored, or stride-slipped the array produces
    identical histograms and DIFFERENT patch sums, so the oracle's
    closed form (patch rows are contiguous payload segments modulo the
    cycle) pins pixel PLACEMENT, not just membership.  Python //
    floor-vs-trunc never fires: sums of unsigned bytes are
    non-negative.

    Scale shape: one Arrow-batched mapInPandas pass, no shuffle; 4
    rows of integers per image out (patch grids for real models are
    14x14+ — same dataflow, bigger constant)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return docs.mapInPandas(
        decode_patchify,
        schema=(
            "doc_id long, width long, height long, patch_row long, "
            "patch_col long, px_sum long, n_bytes long, mean_milli long"
        ),
    )
