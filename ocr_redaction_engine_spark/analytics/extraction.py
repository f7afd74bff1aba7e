"""Main-content extraction over interleaved web/PDF documents: HTML
boilerplate strip, DOM block heuristics, and PDF-layout reading-order
recovery (the north-rule extraction triad).

The reference engine extracts per-document content with per-page OCR +
rule kernels (/root/reference/documents/*/document_coordinates.py); this
module is the web-corpus generalization of that *extraction* stage: given
a raw marked-up page, segment it into DOM blocks, score each block by
text mass vs link density (the jusText/Readability family of heuristics,
Kohlschütter et al. boilerplate detection), keep content blocks, and
reassemble the main text in original order.

Everything is pure Catalyst — regexp_replace / split / posexplode /
higher-order functions / one hash-agg per doc — so the same plan scales
from the sf0.01 oracle gate to a 100 TB crawl with zero Python in the
hot path. The markup materializer (``as_html``) builds a deterministic
page around each ``documents.text`` row (nav + sidebar + footer + script
junk) so the stripper has real boilerplate to remove and the DuckDB
oracle can rebuild byte-identical input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# closing tags that end a DOM block (block-level segmentation points)
BLOCK_SPLIT = r"</p>|</div>|</nav>|</footer>"
# anchors: capture the link text for link-density scoring
ANCHOR_TEXT = r"<a [^>]*>([^<]*)</a>"


# The DOM-block expressions, as Column builders shared by these grouped
# operators and the extraction job's per-span strip
# (extraction_pipeline._narrow_kind_spans). Each side keeps its own keep
# predicate: here on the rounded ``link_density`` column, there on the
# unrounded ratio.

def strip_script_style(html) -> Column:
    """``html`` with <script>/<style> elements dropped *with their contents*
    (their text is never content)."""
    return F.regexp_replace(
        F.regexp_replace(html, r"(?s)<script[^>]*>.*?</script>", " "),
        r"(?s)<style[^>]*>.*?</style>", " ")


def block_text(block) -> Column:
    """A block's visible text: tags stripped, whitespace collapsed."""
    return F.trim(F.regexp_replace(F.regexp_replace(block, r"<[^>]*>", " "),
                                   r"\s+", " "))


def anchor_chars(block) -> Column:
    """Characters of anchor text in a block (link-density numerator)."""
    return F.aggregate(
        F.regexp_extract_all(block, F.lit(ANCHOR_TEXT), F.lit(1)),
        F.lit(0).cast("long"), lambda a, x: a + F.length(x))


def as_html(docs: DataFrame) -> DataFrame:
    """Deterministically wrap each document's text in a web page with the
    classic boilerplate furniture: head script/style junk, a nav link bar,
    the content split over two <p> blocks inside <div id=main>, a
    link-only sidebar, and a footer with legal links. Pure concat/substr/
    md5 so the DuckDB oracle reproduces the bytes exactly."""
    half = "greatest(cast(floor(length(text) / 2) as int), 1)"
    return docs.select(
        "doc_id",
        F.expr(
            "concat("
            "'<html><head><title>', cast(doc_id as string), '</title>',"
            "'<script type=\"text/javascript\">var t=\"', substring(md5(text), 1, 8), '\";trk();</script>',"
            "'<style>.m{margin:0}</style></head><body>',"
            "'<nav><a href=\"/\">Home</a><a href=\"/a\">About</a><a href=\"/c\">Contact</a></nav>',"
            f"'<div id=\"main\"><p>', substring(text, 1, {half}), '</p>',"
            f"'<p>', substring(text, {half} + 1), '</p></div>',"
            "'<div class=\"side\"><a href=\"/x\">', substring(md5(cast(doc_id as string)), 1, 6),"
            "'</a><a href=\"/y\">', substring(md5(cast(doc_id as string)), 7, 6),"
            "'</a><a href=\"/z\">', substring(md5(cast(doc_id as string)), 13, 6), '</a></div>',"
            "'<footer>Copyright Example Site - <a href=\"/p\">Privacy</a><a href=\"/t\">Terms</a></footer>',"
            "'</body></html>')"
        ).alias("html"),
    )


def html_blocks(pages: DataFrame) -> DataFrame:
    """Segment ``(doc_id, html)`` into DOM blocks and score each one.

    1. drop <script>/<style> *with their contents* (their text is never
       content);
    2. split on closing block-level tags, posexplode to keep document
       order;
    3. per block: visible text (tags stripped, whitespace collapsed),
       anchor-text mass, link density = anchor chars / text chars.

    One narrow projection + one generate — no shuffle; block scoring is
    embarrassingly parallel at any scale."""
    blocks = pages.select(
        "doc_id",
        F.posexplode(F.split(strip_script_style("html"), BLOCK_SPLIT))
        .alias("pos", "block"),
    )
    n_links = F.expr("size(regexp_extract_all(block, '<a ', 0))")
    out = blocks.select(
        "doc_id",
        "pos",
        block_text("block").alias("btext"),
        n_links.alias("n_links"),
        anchor_chars("block").alias("anchor_chars"),
    )
    return out.withColumn(
        "text_len", F.length("btext")
    ).withColumn(
        "link_density",
        F.round(F.col("anchor_chars") / F.greatest(F.col("text_len"), F.lit(1)), 6),
    )


def strip_boilerplate(
    pages: DataFrame, min_len: int = 40, max_link_density: float = 0.2,
) -> DataFrame:
    """Keep content blocks (long enough, link-sparse) and reassemble the
    main text in original DOM order — the boilerplate-strip operator.

    The nav/sidebar/footer die on link density (their text is mostly
    anchors), head junk dies on length; the two content paragraphs
    survive. Per-doc reassembly is a single hash-agg with an in-memory
    ``sort_array`` over (pos, text) structs — the only shuffle, on the
    natural key."""
    b = html_blocks(pages)
    kept = b.filter(
        (F.col("text_len") >= min_len) & (F.col("link_density") <= max_link_density)
    )
    return kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "btext"))),
                lambda s: s["btext"],
            ),
        ).alias("main_text"),
        F.count("*").cast("long").alias("n_kept"),
        F.sum("text_len").cast("long").alias("content_chars"),
    )


def dom_main_block(pages: DataFrame) -> DataFrame:
    """Readability-style candidate selection: score every DOM block by
    text mass discounted by link density, pick the per-document argmax —
    the 'main content container' heuristic, as a window top-1 (shuffle on
    doc_id only)."""
    b = html_blocks(pages).withColumn(
        "score", F.round(F.col("text_len") * (1 - F.col("link_density")), 6)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("pos"))
    return (
        b.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("pos").alias("best_pos"),
            "score",
            F.substring("btext", 1, 40).alias("preview"),
        )
    )


def classify_blocks(pages: DataFrame, short_len: int = 40,
                    good_len: int = 80, max_link_density: float = 0.2) -> DataFrame:
    """jusText-style context-sensitive block classification (Pomikálek
    2011): a raw per-block label from length + link density, then a
    neighbor-smoothing pass — the step the plain ``strip_boilerplate``
    threshold filter lacks, where a borderline block is rescued by the
    company it keeps (a short caption inside an article is content; the
    same block between two nav bars is chrome).

    Raw labels: ``bad`` (link_density > ``max_link_density``), ``good``
    (text_len ≥ ``good_len``), ``near`` (≥ ``short_len``), else
    ``short``. Smoothing, deliberately simplified to ADJACENT blocks so
    the rule is engine-portable and O(1) per block: ``near`` is promoted
    to good when either neighbor is raw-good; ``short`` only when BOTH
    neighbors are (a bare fragment needs stronger evidence than a
    near-paragraph); ``bad`` is never promoted.

    One window per document ordered by block position — per-doc block
    counts are bounded by page size, so the partition key is skew-free
    at any corpus scale; everything else is the [[html_blocks]] map-only
    scan. Returns (doc_id, pos, text_len, link_density, label_raw,
    label), content = rows with label in ('good',).
    """
    b = html_blocks(pages)
    raw = (
        F.when(F.col("link_density") > max_link_density, F.lit("bad"))
        .when(F.col("text_len") >= good_len, F.lit("good"))
        .when(F.col("text_len") >= short_len, F.lit("near"))
        .otherwise(F.lit("short"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    labeled = b.withColumn("label_raw", raw).withColumn(
        "prev_good", F.lag("label_raw").over(w) == "good").withColumn(
        "next_good", F.lead("label_raw").over(w) == "good")
    prev_good = F.coalesce(F.col("prev_good"), F.lit(False))
    next_good = F.coalesce(F.col("next_good"), F.lit(False))
    final = (
        F.when(F.col("label_raw") == "good", F.lit("good"))
        .when((F.col("label_raw") == "near") & (prev_good | next_good),
              F.lit("good"))
        .when((F.col("label_raw") == "short") & prev_good & next_good,
              F.lit("good"))
        .otherwise(F.col("label_raw"))
    )
    return labeled.select(
        "doc_id", "pos", "text_len", "link_density",
        "label_raw", final.alias("label"))


def extraction_eval(pages: DataFrame, truth_pos: tuple[int, ...] = (1, 2),
                    short_len: int = 40, good_len: int = 80,
                    max_link_density: float = 0.2) -> DataFrame:
    """Extraction-quality evaluation: block-level confusion of the
    [[classify_blocks]] content classifier against constructed ground
    truth, reduced to corpus micro precision/recall/F1.

    The evaluation corpus is self-labeling: [[as_html]] builds each page
    deterministically, so the blocks at ``truth_pos`` (the two <p> halves
    of ``documents.text``; positions 1 and 2 after the block split) are
    content BY CONSTRUCTION and everything else (head junk, nav, sidebar,
    footer) is boilerplate — the cleaneval-style labeled-page setup
    (Pomikálek 2011 evaluates jusText exactly this way), with labels
    derived instead of hand-annotated. An empty content slot (odd corner:
    1-char documents leave the second <p> blank) carries no extractable
    text and is counted as non-content.

    Predicted content = final ``label == 'good'`` (after neighbor
    smoothing). Metrics are corpus-micro counts in integer micro-units
    (``tp·1e6 DIV (tp+fp)`` etc.), the same cross-engine-exact discipline
    as the rest of the analytics layer; NULL when a denominator is zero.

    Shape: the [[html_blocks]] map-only scan + the per-doc smoothing
    window, then ONE global agg — partial aggregation combines map-side,
    so the final exchange carries one row per task regardless of corpus
    size. This is the continuous-eval job a production extraction
    pipeline runs next to the extractor at 100 TB.

    Returns one row: (n_blocks, tp, fp, fn, tn, precision_e6, recall_e6,
    f1_e6).
    """
    # The scalar summary is BY CONSTRUCTION a reduce of the confusion
    # detail: one truth/pred definition lives in extraction_confusion, and
    # these tp/fp/fn/tn are sums over its <=16 bounded cells — the summary
    # cannot de-sync from its own detail view.
    cells = extraction_confusion(
        pages, truth_pos=truth_pos, short_len=short_len, good_len=good_len,
        max_link_density=max_link_density,
    )
    pred = F.col("label") == "good"
    truth = F.col("is_content")

    def cell_sum(cond) -> F.Column:
        return F.coalesce(
            F.sum(F.when(cond, F.col("n_blocks")).otherwise(F.lit(0))),
            F.lit(0)).cast("long")

    agg = cells.agg(
        F.coalesce(F.sum("n_blocks"), F.lit(0)).cast("long").alias("n_blocks"),
        cell_sum(truth & pred).alias("tp"),
        cell_sum(~truth & pred).alias("fp"),
        cell_sum(truth & ~pred).alias("fn"),
        cell_sum(~truth & ~pred).alias("tn"),
    )
    return agg.select(
        "n_blocks", "tp", "fp", "fn", "tn",
        F.expr("CASE WHEN tp + fp > 0 THEN CAST(tp * 1000000 DIV (tp + fp)"
               " AS BIGINT) END").alias("precision_e6"),
        F.expr("CASE WHEN tp + fn > 0 THEN CAST(tp * 1000000 DIV (tp + fn)"
               " AS BIGINT) END").alias("recall_e6"),
        F.expr("CASE WHEN 2 * tp + fp + fn > 0 THEN "
               "CAST(2 * tp * 1000000 DIV (2 * tp + fp + fn) AS BIGINT) END"
               ).alias("f1_e6"),
    )


def extraction_confusion(pages: DataFrame, truth_pos: tuple[int, ...] = (1, 2),
                         short_len: int = 40, good_len: int = 80,
                         max_link_density: float = 0.2) -> DataFrame:
    """Confusion DETAIL for the extraction evaluator: block counts by
    (label_raw, label, is_content) — the long-form view behind
    [[extraction_eval]]'s scalar summary, which is what you read to see
    what the jusText smoothing pass actually did (every cell where
    ``label_raw != label`` is a smoothing promotion; whether it lands in
    the is_content=true or =false column is whether the rescue was right).

    Group key cardinality is bounded by construction (4 raw labels × 2
    final × 2 truth), so the hash agg combines map-side and the exchange
    carries at most 16 rows per task at any corpus size — no skew surface.
    """
    labeled = classify_blocks(
        pages, short_len=short_len, good_len=good_len,
        max_link_density=max_link_density,
    )
    truth = (F.col("pos").isin(list(truth_pos)) & (F.col("text_len") > 0))
    return (
        labeled.withColumn("is_content", truth)
        .groupBy("label_raw", "label", "is_content")
        .agg(F.count("*").cast("long").alias("n_blocks"))
    )


def reading_order(docs: DataFrame, max_tokens: int = 24) -> DataFrame:
    """PDF/layout reading-order recovery for a two-column page.

    Real PDF parsing is environment-gated here (no pdf libs in the
    sandbox; cf. the OCR word-box tokenizer's fixture/payload modes in
    operators/tokenize.py), so the word boxes are synthesized
    deterministically: token i of each document lands in column i%2 at
    row (i-1)//2 — i.e. the ORIGINAL token order interleaves the two
    columns, exactly what a naive y-then-x scan of a two-column PDF
    produces. The operator recovers the true reading order by sorting
    (column, y, x) per page — column-major — which is the layout-parse
    step a crawler runs on every PDF page at 100 TB.

    Pure Catalyst: split + slice + posexplode + one window; the shuffle
    key is doc_id."""
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.slice(F.split(F.trim("text"), r"\s+"), 1, max_tokens)
        ).alias("pos0", "token"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("orig_pos"),
        "token",
        (F.col("pos0") % 2).alias("col_id"),
        (F.floor(F.col("pos0") / 2) * 12 + 5).cast("long").alias("y"),
        ((F.col("pos0") % 2) * 300 + (F.length("token") % 7) * 3).cast("long").alias("x"),
    )
    w = Window.partitionBy("doc_id").orderBy("col_id", "y", "x", "orig_pos")
    return toks.withColumn("read_pos", F.row_number().over(w)).select(
        "doc_id", "orig_pos", "token", "col_id", "y", "x", "read_pos"
    )


def as_html_meta(docs: DataFrame) -> DataFrame:
    """Deterministic page markup with a metadata-rich <head>: charset,
    description (first 40 chars of the content), canonical link, og:locale.
    Same pure concat/substr construction as ``as_html`` so the DuckDB
    oracle rebuilds the bytes exactly (the corpus text is whitespace+word
    tokens — no quote/angle escaping surface)."""
    return docs.select(
        "doc_id",
        F.expr(
            "concat("
            "'<html><head><meta charset=\"utf-8\">',"
            "'<title>Doc ', cast(doc_id as string), ' - Example Site</title>',"
            "'<meta name=\"description\" content=\"', substring(text, 1, 40), '\">',"
            "'<link rel=\"canonical\" href=\"https://example.com/docs/', cast(doc_id as string), '\">',"
            "'<meta property=\"og:locale\" content=\"', lang, '\">',"
            "'</head><body><div id=\"main\"><p>', text, '</p></div></body></html>')"
        ).alias("html"),
    )


def page_metadata(pages: DataFrame) -> DataFrame:
    """Head-metadata extraction — the WARC-to-document-metadata stage of a
    web pipeline: title, meta description, canonical URL, og:locale, and the
    <meta> tag count per page. Pure regexp_extract projections (patterns are
    RE2-compatible, no backtracking constructs) — map-only, zero shuffles,
    embarrassingly parallel at any corpus size."""
    return pages.select(
        "doc_id",
        F.regexp_extract("html", r"<title>([^<]*)</title>", 1).alias("title"),
        F.regexp_extract(
            "html", r'<meta name="description" content="([^"]*)"', 1
        ).alias("description"),
        F.regexp_extract(
            "html", r'<link rel="canonical" href="([^"]*)"', 1
        ).alias("canonical_url"),
        F.regexp_extract(
            "html", r'<meta property="og:locale" content="([^"]*)"', 1
        ).alias("og_locale"),
        F.expr("size(regexp_extract_all(html, '<meta ', 0))").alias("n_meta_tags"),
    )


def synth_table_boxes(docs: DataFrame, max_tokens: int = 24,
                      n_cols: int = 3) -> DataFrame:
    """Deterministic table-page word boxes (real PDF decode is
    environment-gated, cf. :func:`reading_order`): token i of each document
    is cell (row i÷C, col i%C) of an R×C table, with md5 jitter of ±3 px on
    y and ±5 px on x — the noisy boxes a real PDF/OCR table emits. Pure
    expressions; any engine rebuilds identical input."""
    jy = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", "doc_id", F.col("pos0").cast("string"), F.lit("jy"))), 1, 4),
        16, 10).cast("long") % 7) - 3
    jx = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", "doc_id", F.col("pos0").cast("string"), F.lit("jx"))), 1, 4),
        16, 10).cast("long") % 11) - 5
    return (docs.select(
        "doc_id",
        F.posexplode(F.slice(F.split(F.trim("text"), r"\s+"), 1, max_tokens))
         .alias("pos0", "token"))
        .select(
            "doc_id", "token",
            (F.expr(f"pos0 DIV {n_cols}") * 20 + 10 + jy).cast("long").alias("y"),
            ((F.col("pos0") % n_cols) * 100 + 10 + jx).cast("long").alias("x")))


def recover_table(boxes: DataFrame, row_gap: int = 8,
                  col_gap: int = 20) -> DataFrame:
    """Table-structure recovery from word boxes — the layout-parse step
    between OCR and a structured row/column extraction: cluster boxes into
    ROWS by y-gap (a new row starts where the y jump exceeds ``row_gap``)
    and into COLUMNS by x-gap, both as per-page lag-window + running-sum
    cluster ids. No grid parameters are assumed; the structure is read off
    the gaps, so ragged jitter and variable column widths survive.

    Scale shape: two per-page windows (each page's history only — the
    shuffle key is doc_id, no global sort) and nothing else; output is one
    row per box with (row_id, col_id) cell coordinates.
    """
    wy = Window.partitionBy("doc_id").orderBy("y", "x", "token")
    wx = Window.partitionBy("doc_id").orderBy("x", "y", "token")
    with_rows = (
        boxes
        .withColumn(
            "row_brk",
            (F.col("y") - F.lag("y").over(wy) > row_gap).cast("long"))
        .withColumn(
            "row_id",
            F.coalesce(
                F.sum("row_brk").over(
                    wy.rowsBetween(Window.unboundedPreceding, 0)),
                F.lit(0)))
        .withColumn(
            "col_brk",
            (F.col("x") - F.lag("x").over(wx) > col_gap).cast("long"))
        .withColumn(
            "col_id",
            F.coalesce(
                F.sum("col_brk").over(
                    wx.rowsBetween(Window.unboundedPreceding, 0)),
                F.lit(0))))
    return with_rows.select("doc_id", "row_id", "col_id", "token", "y", "x")
