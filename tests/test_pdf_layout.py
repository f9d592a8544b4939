from mcp_local_rag_spark.operators import pdf_layout as pl


def _blocks(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc string, page int, page_width double, page_height double,"
        " kind string, x0 double, y0 double, x1 double, y1 double",
    )


def test_visual_candidate_large_image(spark):
    # 100x100 image on 300x300 page = 11% of area -> candidate via largest
    rows = [("d", 1, 300.0, 300.0, "image", 100.0, 100.0, 200.0, 200.0)]
    out = pl.visual_candidates(_blocks(spark, rows)).first()
    assert out.is_candidate
    # crop = union padded by max(8% of 100pt, 12pt) = 12pt
    assert (out.crop.x0, out.crop.y0, out.crop.x1, out.crop.y1) == (88.0, 88.0, 212.0, 212.0)


def test_visual_candidate_stroke_rule_and_negative(spark):
    strokes = [("d", 2, 300.0, 300.0, "stroke", float(i), 0.0, float(i + 1), 1.0) for i in range(5)]
    tiny_img = [("d", 3, 300.0, 300.0, "image", 0.0, 0.0, 10.0, 10.0)]
    out = {r.page: r for r in pl.visual_candidates(_blocks(spark, strokes + tiny_img)).collect()}
    assert out[2].is_candidate  # 5 strokes
    assert not out[3].is_candidate  # 0.1% image, no strokes
    # page with no image blocks -> crop is full page
    assert (out[2].crop.x1, out[2].crop.y1) == (300.0, 300.0)


def test_visual_candidate_full_page_crop(spark):
    rows = [("d", 4, 100.0, 100.0, "image", 1.0, 1.0, 99.0, 99.0)]  # 96% union
    out = pl.visual_candidates(_blocks(spark, rows)).first()
    assert out.is_candidate
    assert (out.crop.x0, out.crop.y0, out.crop.x1, out.crop.y1) == (0.0, 0.0, 100.0, 100.0)


# ---------------------------------------------------------------------------
# T5 stage 2: full strip-decision path against hand-computed medians
# (reference pdf-filter.ts:450-636)


def _page(page_no, body_text, header=None, footer=None, height=800.0):
    """Synthetic position rows: optional small-font header at y=790 /
    footer at y=10, one body line per sentence at descending center Ys."""
    items = []
    if header:
        items.append({"x": 10.0, "y": 790.0, "font_size": 6.0, "text": header})
    for i, line in enumerate(body_text):
        items.append(
            {"x": 10.0, "y": 500.0 - 20.0 * i, "font_size": 12.0, "text": line}
        )
    if footer:
        items.append({"x": 10.0, "y": 10.0, "font_size": 6.0, "text": footer})
    return {"page": page_no, "page_height": height, "items": items}


def _const_embed(mapping):
    """Deterministic embedder: sentence -> fixed vector via mapping fn."""

    def _embed(sentences):
        return [mapping(s) for s in sentences]

    return _embed


def test_median_pairwise_similarity_hand_computed():
    # vectors at 0, 0, 90 degrees: pair sims [1, 0, 0] -> sorted [0,0,1],
    # odd count -> middle = 0
    e = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    assert pl.median_pairwise_similarity(e) == 0.0
    # two identical vectors -> [1] -> 1; fewer than 2 -> 1.0 by contract
    assert pl.median_pairwise_similarity([[1.0, 0.0], [1.0, 0.0]]) == 1.0
    assert pl.median_pairwise_similarity([[1.0, 0.0]]) == 1.0
    # four vectors, even pair count: sims [1,0,0,0,0,1] -> median (0+0)/2
    e4 = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, -1.0]]
    assert pl.median_pairwise_similarity(e4) == 0.0


def test_block_attribute_candidates_hand_computed():
    pages = [
        _page(i, [f"Body {i} one.", f"Body {i} two."],
              header="Running Header", footer=f"Page {i}")
        for i in range(5)
    ]
    hints = pl.detect_block_attribute_candidates(pages)
    # font sizes per page: [6, 12, 12, 6]; 20 values sorted = ten 6s then
    # ten 12s -> even-count median (6+12)/2 = 9; threshold 6.3; the 6pt
    # header at y=790 > 720 and footer at y=10 < 80 qualify
    assert hints["median_font_size"] == 9.0
    assert hints["header_ys"] == {790}
    assert hints["footer_ys"] == {10}


def test_strip_decision_repeating_header_footer():
    """Identical header/footer sentences across center pages -> median sim 1
    >= 0.85 -> stripped from EVERY page; distinct bodies survive."""
    pages = [
        _page(i, [f"Unique body sentence number {i} stands alone."],
              header="Confidential Report.", footer="Page footer text.")
        for i in range(5)
    ]

    # header/footer texts embed identically; bodies are mutually orthogonal
    def mapping(s):
        if s == "Confidential Report.":
            return [1.0, 0.0, 0.0]
        if s == "Page footer text.":
            return [0.0, 1.0, 0.0]
        # distinct direction per body sentence: derive from the number
        n = int("".join(c for c in s if c.isdigit()) or 0)
        vec = [0.0] * 8
        vec[3 + (n % 5)] = 1.0
        return vec

    out = pl.filter_page_boundary_sentences(pages, _const_embed(mapping))
    assert len(out) == 5
    for i, text in enumerate(out):
        assert "Confidential" not in text
        assert "footer" not in text
        assert f"Unique body sentence number {i}" in text


def test_strip_decision_distinct_boundaries_kept():
    """Boundary sentences that embed orthogonally (median 0 < 0.85) are
    kept on every page."""
    pages = [
        _page(i, [f"Chapter {i} opening line differs."], footer=f"distinct tail {i}.")
        for i in range(5)
    ]

    def mapping(s):
        n = int("".join(c for c in s if c.isdigit()) or 0)
        vec = [0.0] * 12
        vec[(n * 2 + (1 if "tail" in s else 0)) % 12] = 1.0
        return vec

    out = pl.filter_page_boundary_sentences(pages, _const_embed(mapping))
    assert all(f"distinct tail {i}." in out[i] for i in range(5))


def test_strip_decision_boosted_threshold_via_hints():
    """Median sim 0.8 sits between boosted (0.75) and normal (0.85)
    thresholds: stripped ONLY because the stage-1 small-font hint at the
    same Y boosts the threshold (pdf-filter.ts:476-481)."""
    pages = [
        _page(i, [f"Body text number {i} is unique here."], header="Header v.")
        for i in range(5)
    ]

    def mapping(s):
        if s == "Header v.":
            return None  # replaced below per-call
        n = int("".join(c for c in s if c.isdigit()) or 0)
        vec = [0.0] * 16
        vec[6 + (n % 5)] = 1.0
        return vec

    # headers embed with pairwise cosine exactly 0.8
    import math

    a = [1.0, 0.0]
    call = {"n": 0}

    def embed(sentences):
        out = []
        for s in sentences:
            if s == "Header v.":
                # alternate two unit vectors at cos = 0.8
                if call["n"] % 2 == 0:
                    out.append(a)
                else:
                    out.append([0.8, 0.6])
                call["n"] += 1
            else:
                out.append(mapping(s))
        return out

    # all-pairs of [a, b, a, b, a] with cos(a,b)=0.8: sims are 1 or 0.8;
    # 10 pairs -> sorted [0.8 x6, 1 x4] -> median = 0.8
    pats = pl.detect_sentence_patterns(pages, embed)
    assert not pats["remove_first_sentence"]  # 0.8 < 0.85 unboosted
    assert abs(pats["header_similarity"] - 0.8) < 1e-9

    call["n"] = 0
    hints = pl.detect_block_attribute_candidates(pages)
    assert 790 in hints["header_ys"]
    pats2 = pl.detect_sentence_patterns(pages, embed, block_hints=hints)
    assert pats2["remove_first_sentence"]  # 0.8 >= 0.75 boosted


def test_strip_decision_min_pages_guard():
    pages = [_page(i, ["Body."], header="H.") for i in range(2)]
    out = pl.filter_page_boundary_sentences(pages, _const_embed(lambda s: [1.0]))
    assert len(out) == 2 and all("H." in t for t in out)


def test_pdf_title_chain():
    assert pl.extract_pdf_title("Meta Title", "chunk", "f.pdf") == "Meta Title"
    # path-looking metadata rejected -> font hint wins when > 14pt
    assert (
        pl.extract_pdf_title(
            "/tmp/source.pdf", "chunk text",
            "f.pdf", {"text": "Big Title", "font_size": 18.0},
        )
        == "Big Title"
    )
    # small font hint skipped -> first chunk
    assert (
        pl.extract_pdf_title(
            None, "First chunk text", "f.pdf", {"text": "small", "font_size": 10.0}
        )
        == "First chunk text"
    )
    assert pl.extract_pdf_title(None, None, "my-doc_v2.pdf") == "my doc v2"


def test_split_items_sentences_with_y():
    items = [
        {"x": 10.0, "y": 700.0, "font_size": 12.0, "text": "First sentence."},
        {"x": 10.0, "y": 680.0, "font_size": 12.0, "text": "Second one here."},
    ]
    out = pl.split_items_into_sentences_with_y(items)
    assert [s["text"] for s in out] == ["First sentence.", "Second one here."]
    assert [s["y"] for s in out] == [700.0, 680.0]
