"""PDF layout + header/footer strip pipeline (reference T5/T6/T10).

The mupdf byte-decode step needs pymupdf (not in this container), but
everything AFTER extraction is relational math over an items table
(doc, page, x, y, font_size, text) or a blocks table (page geometry) —
implemented and tested here against synthetic layouts:

  * T6 text assembly (src/parser/pdf-filter.ts:48-82): group items into
    lines by rounded Y, X-ascending within a line, lines top-down (the
    reference inverts mupdf's Y axis, src/parser/pdf-extract.ts:112).
  * T5 stage 1 header/footer hints (src/parser/pdf-filter.ts:331-403):
    items with font_size < 0.7 * page-median in the top/bottom 10% bands.
  * T10 visual-candidate detection (src/pdf-visual/detector.ts:263-309):
    page is a candidate iff largest effective image block >= 10% page area
    OR total >= 15% OR >= 5 vector strokes; crop rect = padded union
    (8% pad, min 12pt), full page when union > 85%.

All pure DataFrame ops — window/percentile/array_sort — no UDFs.

Below the DataFrame operators sits the per-document strip-decision
pipeline (T5 stage 2, src/parser/pdf-filter.ts:430-636): sample 5 center
pages, embed first/last Y-merged sentences, median pairwise cosine >= 0.85
(0.75 when stage-1 hints agree) => strip that boundary sentence from EVERY
page. These are plain Python functions because the algorithm is
sequential per document; in the Spark pipeline they run inside the
per-file parse ``mapInPandas`` — parallel across documents, the 100 TB
axis. The embedder is injected (``embed_fn``) so tests drive them with
deterministic pseudo-embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# T10 constants (src/pdf-visual/detector.ts:27-48)
MIN_LARGEST_IMAGE_RATIO = 0.10
MIN_TOTAL_IMAGE_RATIO = 0.15
MIN_VECTOR_STROKES = 5
CROP_PAD_RATIO = 0.08
CROP_PAD_MIN_PT = 12.0
FULL_PAGE_RATIO = 0.85

# T5 constants (src/parser/pdf-filter.ts:298-303, 331-403)
SMALL_FONT_RATIO = 0.7
EDGE_BAND_RATIO = 0.10


def visual_candidates(
    blocks: DataFrame,
    *,
    doc_col: str = "doc",
    page_col: str = "page",
) -> DataFrame:
    """T10 page rule over a blocks table:
    (doc, page, page_width, page_height, kind['image'|'stroke'],
     x0, y0, x1, y1).

    Output per page: is_candidate, crop rect (padded union of image blocks,
    full page if the union covers > 85%).
    """
    area = (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))
    page_area = F.col("page_width") * F.col("page_height")
    img = F.col("kind") == "image"
    agg = blocks.groupBy(doc_col, page_col).agg(
        F.max("page_width").alias("page_width"),
        F.max("page_height").alias("page_height"),
        F.max(F.when(img, area)).alias("_largest_img"),
        F.sum(F.when(img, area).otherwise(F.lit(0.0))).alias("_total_img"),
        F.sum(F.when(~img, 1).otherwise(0)).alias("_strokes"),
        F.min(F.when(img, F.col("x0"))).alias("_ux0"),
        F.min(F.when(img, F.col("y0"))).alias("_uy0"),
        F.max(F.when(img, F.col("x1"))).alias("_ux1"),
        F.max(F.when(img, F.col("y1"))).alias("_uy1"),
    )
    pa = F.col("page_width") * F.col("page_height")
    is_cand = (
        (F.coalesce(F.col("_largest_img") / pa, F.lit(0.0)) >= MIN_LARGEST_IMAGE_RATIO)
        | (F.col("_total_img") / pa >= MIN_TOTAL_IMAGE_RATIO)
        | (F.col("_strokes") >= MIN_VECTOR_STROKES)
    )
    union_area = (F.col("_ux1") - F.col("_ux0")) * (F.col("_uy1") - F.col("_uy0"))
    pad = F.greatest(
        CROP_PAD_RATIO * F.greatest(F.col("_ux1") - F.col("_ux0"), F.col("_uy1") - F.col("_uy0")),
        F.lit(CROP_PAD_MIN_PT),
    )
    full_page = (union_area / pa) > FULL_PAGE_RATIO
    crop = F.when(
        F.col("_ux0").isNull() | full_page,
        F.struct(
            F.lit(0.0).alias("x0"), F.lit(0.0).alias("y0"),
            F.col("page_width").alias("x1"), F.col("page_height").alias("y1"),
        ),
    ).otherwise(
        F.struct(
            F.greatest(F.col("_ux0") - pad, F.lit(0.0)).alias("x0"),
            F.greatest(F.col("_uy0") - pad, F.lit(0.0)).alias("y0"),
            F.least(F.col("_ux1") + pad, F.col("page_width")).alias("x1"),
            F.least(F.col("_uy1") + pad, F.col("page_height")).alias("y1"),
        )
    )
    return agg.select(
        doc_col, page_col, is_cand.alias("is_candidate"), crop.alias("crop"),
        (F.col("_total_img") / pa).alias("image_ratio"),
        F.col("_strokes").alias("n_strokes"),
    )


# ===========================================================================
# T5 stage 2 — per-document strip decision (pdf-filter.ts:430-636)
# Pages are dicts: {"page": int, "page_height": float|None,
#                   "items": [{"x","y","font_size","text"}, ...]}

SIMILARITY_THRESHOLD = 0.85   # pdf-filter.ts:298
BOOSTED_THRESHOLD = 0.75      # pdf-filter.ts:303
MIN_PAGES = 3
SAMPLE_PAGES = 5
TITLE_MIN_FONT_SIZE = 14.0    # title-extractor.ts:9


def join_page_items(items: list[dict]) -> str:
    """T6 reading-order assembly of one page (pdf-filter.ts:48-69):
    lines by rounded Y, Y descending, X ascending, space-joined."""
    groups: dict[int, list[dict]] = {}
    for it in items:
        groups.setdefault(round(it["y"]), []).append(it)
    lines = [
        " ".join(i["text"] for i in sorted(group, key=lambda i: i["x"]))
        for _, group in sorted(groups.items(), key=lambda kv: -kv[0])
    ]
    return "\n".join(lines).strip()


def split_items_into_sentences_with_y(items: list[dict]) -> list[dict]:
    """Y-merged sentence split of one page (pdf-filter.ts:107-166):
    items in reading order, newline on Y change, sentence-split, each
    sentence tagged with the Y of the item containing its first char."""
    from ..chunking.splitter import split_sentences

    if not items:
        return []
    ordered = sorted(items, key=lambda i: (-i["y"], i["x"]))
    char_to_item: list[tuple[int, dict]] = []
    full = ""
    prev_y: float | None = None
    for it in ordered:
        if prev_y is not None and abs(prev_y - it["y"]) > 1:
            full = full.rstrip() + "\n"
        char_to_item.append((len(full), it))
        full += f"{it['text']} "
        prev_y = it["y"]

    out: list[dict] = []
    search_start = 0
    for sent in split_sentences(full):
        pos = full.find(sent.strip(), search_start)
        if pos == -1:
            # benign skip: Y map is only used for boundary detection
            continue
        item = next(
            (it for start, it in reversed(char_to_item) if start <= pos),
            ordered[0],
        )
        out.append({"text": sent, "y": item["y"]})
        search_start = pos + len(sent)
    return out


def sample_center_pages(pages: list, sample_size: int = SAMPLE_PAGES) -> list:
    """Center pages are content, not cover/TOC/index (pdf-filter.ts:272-278)."""
    center = len(pages) // 2
    start = max(0, center - sample_size // 2)
    end = min(len(pages), start + sample_size)
    return pages[start:end]


def median_pairwise_similarity(embeddings: list) -> float:
    """All-pairs cosine -> sorted median (even count: mean of the middle
    two), outlier-robust (pdf-filter.ts:239-266). A6's driver-side twin."""
    import numpy as np

    n = len(embeddings)
    if n < 2:
        return 1.0
    sims: list[float] = []
    for i in range(n):
        for j in range(i + 1, n):
            a = np.asarray(embeddings[i], dtype=np.float64)
            b = np.asarray(embeddings[j], dtype=np.float64)
            na, nb = float(np.linalg.norm(a)), float(np.linalg.norm(b))
            sims.append(float(np.dot(a, b)) / (na * nb) if na and nb else 0.0)
    if not sims:
        return 0.0
    sims.sort()
    mid = len(sims) // 2
    if len(sims) % 2 == 0:
        return (sims[mid - 1] + sims[mid]) / 2
    return sims[mid]


def detect_block_attribute_candidates(
    pages: list[dict],
    *,
    min_pages: int = MIN_PAGES,
    sample_pages: int = SAMPLE_PAGES,
) -> dict:
    """Stage 1 (pdf-filter.ts:331-403): candidate header/footer line Ys =
    rounded Y of items with font < 0.7 * median in the top/bottom 10%."""
    empty = {"median_font_size": 0.0, "header_ys": set(), "footer_ys": set()}
    if len(pages) < min_pages:
        return empty
    sampled = sample_center_pages(pages, sample_pages)
    sizes = sorted(
        it["font_size"] for p in sampled for it in p["items"] if it["font_size"] > 0
    )
    if not sizes:
        return empty
    mid = len(sizes) // 2
    median = (
        (sizes[mid - 1] + sizes[mid]) / 2 if len(sizes) % 2 == 0 else sizes[mid]
    )
    if median == 0:
        return {**empty, "median_font_size": median}
    page_height = next(
        (p["page_height"] for p in sampled if p.get("page_height")), None
    ) or max((it["y"] for p in sampled for it in p["items"]), default=0.0)
    if page_height == 0:
        return {**empty, "median_font_size": median}
    threshold = median * SMALL_FONT_RATIO
    header_ys, footer_ys = set(), set()
    for p in sampled:
        for it in p["items"]:
            if it["font_size"] >= threshold:
                continue
            ry = round(it["y"])
            if it["y"] > page_height * (1 - EDGE_BAND_RATIO):
                header_ys.add(ry)
            if it["y"] < page_height * EDGE_BAND_RATIO:
                footer_ys.add(ry)
    return {"median_font_size": median, "header_ys": header_ys, "footer_ys": footer_ys}


def detect_sentence_patterns(
    pages: list[dict],
    embed_fn,
    *,
    similarity_threshold: float = SIMILARITY_THRESHOLD,
    boosted_threshold: float = BOOSTED_THRESHOLD,
    min_pages: int = MIN_PAGES,
    sample_pages: int = SAMPLE_PAGES,
    block_hints: dict | None = None,
) -> dict:
    """Stage 2 decision (pdf-filter.ts:492-575): embed sampled boundary
    sentences; median pairwise cosine >= threshold (boosted when a stage-1
    hint Y matches) => strip that boundary from every page."""
    result = {
        "remove_first_sentence": False,
        "remove_last_sentence": False,
        "header_similarity": 0.0,
        "footer_similarity": 0.0,
    }
    if len(pages) < min_pages:
        return result
    sampled = sample_center_pages(pages, sample_pages)
    page_sents = [split_items_into_sentences_with_y(p["items"]) for p in sampled]

    firsts = [s[0]["text"] for s in page_sents if s]
    lasts = [s[-1]["text"] for s in page_sents if len(s) > 1]

    def _decide(sentences, ys, candidate_ys):
        sims = embed_fn(sentences)
        median = median_pairwise_similarity(sims)
        threshold = similarity_threshold
        if candidate_ys and any(round(y) in candidate_ys for y in ys):
            threshold = boosted_threshold
        return median, median >= threshold

    hints = block_hints or {}
    if len(firsts) >= min_pages:
        ys = [s[0]["y"] for s in page_sents if s]
        sim, detected = _decide(firsts, ys, hints.get("header_ys"))
        result["header_similarity"] = sim
        result["remove_first_sentence"] = detected
    if len(lasts) >= min_pages:
        ys = [s[-1]["y"] for s in page_sents if len(s) > 1]
        sim, detected = _decide(lasts, ys, hints.get("footer_ys"))
        result["footer_similarity"] = sim
        result["remove_last_sentence"] = detected
    return result


def filter_page_boundary_sentences(pages: list[dict], embed_fn, **config) -> list[str]:
    """Main T5 entry (pdf-filter.ts:591-636): per-page filtered text with
    detected boundary sentences stripped from EVERY page."""
    if len(pages) < config.get("min_pages", MIN_PAGES):
        return [join_page_items(p["items"]) for p in pages]
    hints = detect_block_attribute_candidates(
        pages,
        min_pages=config.get("min_pages", MIN_PAGES),
        sample_pages=config.get("sample_pages", SAMPLE_PAGES),
    )
    patterns = detect_sentence_patterns(pages, embed_fn, block_hints=hints, **config)
    if not patterns["remove_first_sentence"] and not patterns["remove_last_sentence"]:
        return [join_page_items(p["items"]) for p in pages]
    out = []
    for p in pages:
        sents = split_items_into_sentences_with_y(p["items"])
        if patterns["remove_first_sentence"] and sents:
            sents = sents[1:]
        if patterns["remove_last_sentence"] and sents:
            sents = sents[:-1]
        out.append(" ".join(s["text"] for s in sents))
    return out


def extract_pdf_title(
    metadata_title: str | None,
    first_page_chunk_text: str | None,
    file_name: str,
    first_page_font_hint: dict | None = None,
) -> str:
    """PDF title chain (title-extractor.ts:131-162): metadata /Title unless
    it looks like a file path -> page-1 largest-font text when > 14pt ->
    page-1 first semantic chunk -> filename."""
    from ..sources.docx import filename_title

    if metadata_title and metadata_title.strip():
        t = metadata_title.strip()
        if "/" not in t and "\\" not in t:
            return t
    if (
        first_page_font_hint
        and first_page_font_hint.get("font_size", 0) > TITLE_MIN_FONT_SIZE
        and str(first_page_font_hint.get("text", "")).strip()
    ):
        return str(first_page_font_hint["text"]).strip()
    if first_page_chunk_text and first_page_chunk_text.strip():
        return first_page_chunk_text.strip()
    return filename_title(file_name)


def parse_pdf_with_fitz(path: str, content: bytes) -> dict:
    """Full PDF decode when pymupdf is importable: structured text with
    positions (pdf-extract.ts:112 inverts mupdf's top-down Y), stage-1+2
    header/footer strip, PDF title chain. Callers reach this through
    parsers.parse_pdf_bytes, which import-guards fitz."""
    import fitz

    from ..embedder import pseudo_embed

    doc = fitz.open(stream=content, filetype="pdf")
    pages = []
    for pno, page in enumerate(doc):
        height = float(page.rect.height)
        items = []
        for x0, y0, x1, y1, text, *_ in page.get_text("words"):
            items.append(
                {
                    "x": float(x0),
                    # invert: mupdf y grows downward, the pipeline expects up
                    "y": height - float(y0),
                    "font_size": 0.0,
                    "text": text,
                }
            )
        pages.append({"page": pno, "page_height": height, "items": items})

    def _embed(sentences):
        return [pseudo_embed(s, 64) for s in sentences]

    page_texts = filter_page_boundary_sentences(pages, _embed)
    text = "\n\n".join(t for t in page_texts if t)
    meta_title = (doc.metadata or {}).get("title")
    first_items = pages[0]["items"] if pages else []
    font_hint = (
        max(first_items, key=lambda i: i["font_size"]) if first_items else None
    )
    title = extract_pdf_title(
        meta_title,
        page_texts[0].strip() if page_texts else None,
        path.rsplit("/", 1)[-1],
        {"text": font_hint["text"], "font_size": font_hint["font_size"]}
        if font_hint
        else None,
    )
    return {"text": text, "title": title, "atomic_ranges": []}
