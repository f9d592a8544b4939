import pytest

from mcp_local_rag_spark.operators import multimodal as mm


@pytest.fixture()
def media(spark):
    rows = [(1, bytearray(b"\x89PNGfakebytes1")), (2, bytearray(b"\x89PNGfakebytes2"))]
    df = spark.createDataFrame(rows, "id long, data binary")
    return mm.media_table(df, id_col="id", content_col="data", modality="image")


def test_media_table_schema(media):
    row = media.first()
    assert row.modality == "image"
    assert row.media_meta.n_bytes == 14
    assert len(row.media_meta.content_hash) == 64


def test_sample_frames_udtf_shape(spark):
    df = spark.createDataFrame([(7, bytearray(b"videobytes"))], "id long, data binary")
    vids = mm.media_table(df, id_col="id", content_col="data", modality="video")
    frames = mm.sample_frames(vids, every_n=5, n_frames=3).collect()
    assert [(r.media_id, r.frame_index) for r in frames] == [("7", 0), ("7", 5), ("7", 10)]
    assert len({r.frame for r in frames}) == 3


def test_caption_postprocess_and_chunk_append(spark):
    """Captions become dedicated chunks appended after the text chunks with
    continuing indices; control chars stripped, 1000-char cap, empty
    captions dropped (reference visual.ts:151-159, shared.ts:96-127)."""
    text_chunks = spark.createDataFrame(
        [("/d.pdf", 0, "intro"), ("/d.pdf", 1, "body"), ("/e.pdf", 0, "only")],
        "doc_key string, chunk_index int, text string",
    )
    captions = spark.createDataFrame(
        [
            ("/d.pdf", 2, "A chart of\x07 revenue.\n"),
            ("/d.pdf", 1, "  An early diagram. "),
            ("/d.pdf", 3, "\x00\x1f"),           # empty after strip -> dropped
            ("/orphan.pdf", 1, "No text chunks doc."),
            ("/e.pdf", 9, "x" * 1500),
        ],
        "doc_key string, page_num int, caption string",
    )
    rows = {
        (r.doc_key, r.chunk_index): r.text
        for r in mm.caption_chunks(text_chunks, captions).collect()
    }
    # /d.pdf text chunks end at 1 -> captions at 2, 3, ordered by page
    assert rows[("/d.pdf", 2)] == "[Visual content on page 1: An early diagram.]"
    assert rows[("/d.pdf", 3)] == "[Visual content on page 2: A chart of revenue.]"
    # doc with no text chunks starts at 0
    assert rows[("/orphan.pdf", 0)] == "[Visual content on page 1: No text chunks doc.]"
    # 1000-char cap with ellipsis
    capped = rows[("/e.pdf", 1)]
    assert capped.startswith("[Visual content on page 9: " + "x" * 100)
    assert "…" in capped and len(capped) < 1100
    assert ("/d.pdf", 4) not in rows  # empty caption dropped


def test_visual_pipeline_candidates_to_caption_chunks(spark):
    """T10->T12 end-to-end with injected render/caption: candidate pages
    (from block geometry) are rendered+captioned and land as dedicated
    chunks after the text chunks."""
    from mcp_local_rag_spark.operators.pdf_layout import visual_candidates

    blocks = spark.createDataFrame(
        [
            # page 1 of /v.pdf: large image -> candidate
            ("/v.pdf", 1, 300.0, 300.0, "image", 100.0, 100.0, 200.0, 200.0),
            # page 2: tiny image -> NOT a candidate
            ("/v.pdf", 2, 300.0, 300.0, "image", 0.0, 0.0, 10.0, 10.0),
        ],
        "doc_key string, page int, page_width double, page_height double,"
        " kind string, x0 double, y0 double, x1 double, y1 double",
    )
    cands = visual_candidates(blocks, doc_col="doc_key")
    docs = spark.createDataFrame(
        [("/v.pdf", bytearray(b"%PDF-fake-bytes"))], "doc_key string, content binary"
    )
    captions = mm.caption_candidate_pages(
        docs, cands,
        render_fn=mm.fake_page_renderer, caption_fn=mm.fake_captioner,
    )
    rows = captions.collect()
    assert [(r.doc_key, r.page_num) for r in rows] == [("/v.pdf", 1)]
    assert rows[0].caption.startswith("figure ")

    # deterministic: same doc/crop -> same caption
    again = mm.caption_candidate_pages(
        docs, cands, render_fn=mm.fake_page_renderer, caption_fn=mm.fake_captioner
    ).collect()
    assert again[0].caption == rows[0].caption

    text_chunks = spark.createDataFrame(
        [("/v.pdf", 0, "intro text")], "doc_key string, chunk_index int, text string"
    )
    final = mm.caption_chunks(text_chunks, captions).collect()
    assert final[0].chunk_index == 1
    assert final[0].text.startswith("[Visual content on page 1: figure ")


def test_default_page_renderer_without_fitz_uses_geometry_raster():
    """No pymupdf: the stdlib geometry renderer produces a REAL PNG from
    real PDF bytes (T11 no longer stubs out); invalid bytes still raise."""
    import importlib.util
    import struct
    import zlib as _zlib

    import pytest as _pytest

    from mcp_local_rag_spark.sources.pdf_mini import PdfError, build_pdf

    if importlib.util.find_spec("fitz") is not None:
        _pytest.skip("pymupdf present; covered by real-backend smoke test")

    with _pytest.raises(PdfError):
        mm.default_page_renderer(b"x", 0, None)

    data = build_pdf(
        [[(50.0, 700.0, 20.0, "A headline"), (50.0, 400.0, 10.0, "body words")]]
    )
    png = mm.default_page_renderer(data, 0, None)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", png[16:24])
    # full page at 200 DPI: 612x792 pt * 200/72
    assert (w, h) == (1700, 2200)
    # there are dark pixels where the text boxes are
    idat = png[png.index(b"IDAT") + 4 :]
    raw = _zlib.decompress(idat[: len(idat) - 12])
    assert b"\x20" in raw
    # crop renders just the region, scaled by the same DPI
    crop = {"x0": 40.0, "y0": 690.0, "x1": 240.0, "y1": 730.0}
    png_crop = mm.default_page_renderer(data, 0, crop)
    cw, ch = struct.unpack(">II", png_crop[16:24])
    assert (cw, ch) == (round(200 * 200 / 72), round(40 * 200 / 72))
    # deterministic
    assert mm.default_page_renderer(data, 0, crop) == png_crop


def test_captioner_interface_contract(spark):
    """Pin the T12 decode/captioner batch contract: render_fn is called
    once per candidate page with (bytes, int, dict-with-x0..y1|None) and
    caption_fn receives EXACTLY the render output bytes and returns str —
    the seam a real VLM (SmolVLM / Qwen2.5-VL, captioners/fast.ts:38,
    quality.ts:43-49) drops into unchanged."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators.pdf_layout import visual_candidates

    blocks = spark.createDataFrame(
        [
            ("/c.pdf", 0, 200.0, 100.0, "image", 10.0, 10.0, 90.0, 60.0),
            ("/c.pdf", 1, 200.0, 100.0, "image", 0.0, 0.0, 1.0, 1.0),
        ],
        "doc_key string, page int, page_width double, page_height double,"
        " kind string, x0 double, y0 double, x1 double, y1 double",
    )
    cands = visual_candidates(blocks, doc_col="doc_key")
    n_candidates = cands.filter(F.col("is_candidate")).count()
    assert n_candidates == 1
    docs = spark.createDataFrame(
        [("/c.pdf", bytearray(b"%PDF-contract"))], "doc_key string, content binary"
    )

    def recording_render(doc_bytes, page_num, crop):
        assert type(doc_bytes) is bytes and doc_bytes == b"%PDF-contract"
        assert type(page_num) is int
        assert crop is None or set(crop) == {"x0", "y0", "x1", "y1"}
        if crop is not None:
            assert all(type(v) is float for v in crop.values())
        return b"PNG:" + f"{page_num}:{crop}".encode()

    def recording_caption(image_bytes):
        assert type(image_bytes) is bytes and image_bytes.startswith(b"PNG:")
        return "caption of " + image_bytes.decode()

    rows = mm.caption_candidate_pages(
        docs, cands, render_fn=recording_render, caption_fn=recording_caption
    ).collect()
    # one caption per candidate page, carrying the rendered bytes through
    assert len(rows) == n_candidates
    assert rows[0].page_num == 0
    assert rows[0].caption.startswith("caption of PNG:0:")


def test_visual_ingest_end_to_end_real_pdf(spark, tmp_path):
    """ingest_file(visual=True) on REAL pdf bytes: the figure page is
    detected from actual image-XObject blocks, rendered, captioned
    (deterministic fake), and appended as a caption chunk after the text
    chunks; the plain-text page contributes none."""
    from mcp_local_rag_spark.engine import RagEngine
    from mcp_local_rag_spark.sources.pdf_mini import build_pdf

    body = ("This is the running text of the figure document, long enough "
            "to produce a text chunk of respectable size for the test.")
    data = build_pdf(
        [[(50, 700, 12, body)], [(50, 700, 12, "A second page of plain prose "
                                               "with no figures at all here.")]],
        # page-1 image covers ~40% of the page -> candidate
        images=[[(100, 200, 350, 400)], []],
        title="Figure Doc",
    )
    pdf_path = tmp_path / "fig.pdf"
    pdf_path.write_bytes(data)
    eng = RagEngine(spark, str(tmp_path / "chunks_vis"), db_path=str(tmp_path / "db"))
    res = eng.ingest_file(str(pdf_path), visual=True)
    rows = sorted(
        eng.chunks().select("chunkIndex", "text").collect(),
        key=lambda r: r.chunkIndex,
    )
    caps = [r for r in rows if r.text.startswith("[Visual content on page ")]
    assert len(caps) == 1, rows
    # caption chunk indices continue AFTER the text chunks
    assert caps[0].chunkIndex == max(r.chunkIndex for r in rows)
    assert res["chunkCount"] == len(rows)
    # same file WITHOUT visual: no caption chunks
    eng2 = RagEngine(spark, str(tmp_path / "chunks_novis"), db_path=str(tmp_path / "db2"))
    eng2.ingest_file(str(pdf_path))
    assert not [
        r for r in eng2.chunks().select("text").collect()
        if r.text.startswith("[Visual content")
    ]


# --------------------------------------------------------------------------
# round-9: real decode lanes for uncompressed containers (no external libs)

import numpy as np


def test_sample_frames_real_y4m(spark):
    frames = [np.full((4, 6), 10 * i, dtype=np.uint8) for i in range(12)]
    stream = mm.encode_y4m(frames)
    df = spark.createDataFrame([(3, bytearray(stream))], "id long, data binary")
    vids = mm.media_table(df, id_col="id", content_col="data", modality="video")
    out = mm.sample_frames(vids, every_n=5, n_frames=4).collect()
    # index 15 is past the 12-frame stream -> only 0, 5, 10 emitted
    assert [r.frame_index for r in out] == [0, 5, 10]
    for r in out:
        plane = mm.decode_netpbm(bytes.fromhex(r.frame))
        assert np.array_equal(plane, frames[r.frame_index])


def test_y4m_unsupported_chroma_gates():
    stream = b"YUV4MPEG2 W4 H2 F25:1 C444\nFRAME\n" + bytes(4 * 2 * 3)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.decode_y4m(stream)


def test_gif_roundtrip_and_lzw_edges():
    """True-LZW GIF87a codec: randomized palette/size roundtrip fuzz
    (dict growth through several width increments), the 256-color
    palette ceiling, the cScSc decoder case, palette overflow, and the
    interlace contract seam."""
    import numpy as np
    import pytest as _pytest

    import mcp_local_rag_spark.operators.multimodal as mm

    rng = np.random.RandomState(7)
    for _ in range(60):
        h, w = rng.randint(1, 48), rng.randint(1, 48)
        ncol = int(rng.choice([1, 2, 5, 31, 256]))
        pal = rng.randint(0, 256, (ncol, 3), dtype=np.uint8)
        img = pal[rng.randint(0, ncol, (h, w))]
        out = mm.decode_gif(mm.encode_gif(img))
        assert out.dtype == np.uint8 and (out == img).all()

    # cScSc: a run of one symbol forces the code==len(table) branch
    img = np.zeros((1, 40, 3), dtype=np.uint8)
    assert (mm.decode_gif(mm.encode_gif(img)) == img).all()

    # magic dispatch routes GIF bytes without an injected decoder
    blob = mm.encode_gif(img)
    assert blob[:6] == b"GIF87a"
    assert (mm.default_image_decoder(blob) == img).all()

    # >256 distinct colors cannot be paletted
    y, x = np.mgrid[0:32, 0:32]
    rich = np.stack([y * 8 % 256, x * 8 % 256, (y + x) % 256], axis=-1).astype(np.uint8)
    with _pytest.raises(ValueError, match="palette overflow"):
        mm.encode_gif(rich)

    # interlaced frames are a contract seam, not silent garbage
    interlaced = bytearray(mm.encode_gif(np.zeros((2, 2, 3), dtype=np.uint8)))
    # image descriptor starts after header(13) + GCT; flag byte is at +9
    gct_len = (2 << (interlaced[10] & 0x07)) * 3
    interlaced[13 + gct_len + 9] |= 0x40
    with _pytest.raises(NotImplementedError, match="interlaced"):
        mm.decode_gif(bytes(interlaced))


def test_png_roundtrip_filters_and_seams():
    """8-bit PNG codec: roundtrip across gray/gray+alpha/RGB/RGBA with
    the per-row filter cycle (every filter decodes on every image >= 5
    rows tall), the T11 renderer's own output decoding through the
    magic dispatch, and the interlace/16-bit contract seams."""
    import struct
    import numpy as np
    import pytest as _pytest

    import mcp_local_rag_spark.operators.multimodal as mm
    from mcp_local_rag_spark.sources.pdf_mini import _png_gray

    rng = np.random.RandomState(3)
    for ch in (0, 2, 3, 4):
        for _ in range(8):
            h, w = rng.randint(5, 40), rng.randint(1, 40)
            shape = (h, w) if ch == 0 else (h, w, ch)
            img = rng.randint(0, 256, shape, dtype=np.uint8)
            for cyc in (True, False):
                out = mm.decode_png(mm.encode_png(img, cycle_filters=cyc))
                assert out.shape == img.shape and (out == img).all()

    # the renderer's filter-0 grayscale PNG decodes via the dispatch
    buf = bytearray(range(48))
    g = mm.default_image_decoder(_png_gray(buf, 8, 6))
    assert g.shape == (6, 8) and g[0, 1] == 1 and g[5, 7] == 47

    # seams: interlace flag / 16-bit depth
    blob = bytearray(mm.encode_png(np.zeros((2, 2, 3), dtype=np.uint8)))
    ih = blob.index(b"IHDR")
    interlaced = bytearray(blob)
    interlaced[ih + 4 + 12] = 1  # interlace byte (last of IHDR data)
    # CRC now wrong but IHDR is parsed before any check — decode sees flag
    with _pytest.raises(NotImplementedError, match="interlace"):
        mm.decode_png(bytes(interlaced))
    deep = bytearray(blob)
    deep[ih + 4 + 8] = 16  # bit depth byte
    with _pytest.raises(NotImplementedError, match="8-bit"):
        mm.decode_png(bytes(deep))
