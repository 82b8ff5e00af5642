"""PDF / layout parse: positioned-text-box documents → reading-order text.

The north-star extraction pipeline names three front-ends — HTML
boilerplate strip (core/extract.py), DOM heuristics (core/dom.py), and
PDF/LAYOUT PARSE — this module is the third.  The reference
(cl-readability) is HTML-only, so the layout semantics here follow the
published document-layout-analysis literature instead: two-level
projection-profile cutting (a y-section sweep, then an x-column sweep
per section — the alternating cuts of recursive XY-cut, Nagy & Seth
1984), y-overlap line grouping (O'Gorman's docstrum
neighborhood idea collapsed to 1-D), cross-page repeated header/footer
removal (the standard pdfplumber/GROBID recipe: digit-folded line text
repeating at the same page edge on enough pages), vertical-gap paragraph
assembly, and de-hyphenation at intra-paragraph line joins.

Split of responsibilities (the multimodal-codec stance,
pipeline/multimodal.py): the BYTE-level PDF decode requires a real codec
(pdfminer.six / pypdf — not in this runtime image), so
:func:`decode_pdf_boxes` is an Arrow-batched mapInPandas stage whose
non-fake mode raises NotImplementedError per contract, while ``fake=True``
parses the deterministic toy payload format below.  Everything AFTER
decode — :func:`assemble_layout` — is REAL distributed logic in pure JVM
expressions (windows / aggregations / regexes; zero python stages) and is
what a real decoder would feed.

Toy payload format (UTF-8, produced by :func:`make_toy_pdf`)::

    PDFFAKE1
    page <width> <height>
    box <x0> <y0> <x1> <y1> <size> <text to end of line>

Coordinates are TOP-DOWN (y0 = distance of the box top from the page
top, y1 > y0); a real pdfminer adapter must flip PDF's bottom-up y.
Boxes are text chunks (words, spans, or whole lines — the column sweep
works on the page-wide x-interval union, so intra-line word gaps do not
split columns: only a gutter no box on the page spans does).

Scale shape (100 TB): the ENTIRE assembly runs in ONE doc-keyed exchange
— every window partitions by a key list with ``doc_id`` as a prefix and
every aggregation key contains ``doc_id``, so Spark's EnsureRequirements
satisfies all of them with the single ``hashpartitioning(doc_id)`` and
inserts only partition-local sorts (plan golden in
tests/test_pdf_layout.py).  Repeated-header detection is a WINDOW
aggregation, not a groupBy + self-join back onto the decoded frame — the
decode stage is the expensive subtree and Spark has no cross-branch
subplan reuse (PLANS.md), so the no-branch formulation needs no pin.
Per-task work is bounded by the largest single document (the
gopher_repetition stance): a whale PDF is one task, a skewed CORPUS is
not a skewed plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Explicit edge-whitespace class for box text (space/tab/FF/CR/VT) —
#: the LINE_EDGE_WS stance from functions/dedup.py: never java ``\s``,
#: which disagrees with RE2/python on U+000B.
_BOX_TRIM_RE = r"^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$"

PDF_BOX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("page", IntegerType(), True),
        StructField("box_idx", IntegerType(), True),
        StructField("page_w", DoubleType(), True),
        StructField("page_h", DoubleType(), True),
        StructField("x0", DoubleType(), True),
        StructField("y0", DoubleType(), True),
        StructField("x1", DoubleType(), True),
        StructField("y1", DoubleType(), True),
        StructField("size", DoubleType(), True),
        StructField("text", StringType(), True),
        StructField("status", StringType(), False),
    ]
)


def make_toy_pdf(pages: list[dict]) -> bytes:
    """Serialize ``[{"w":, "h":, "boxes": [(x0,y0,x1,y1,size,text), ...]},
    ...]`` into the toy payload format.  Box text must be newline-free
    (one payload line per box — real extractors emit line/span chunks)."""
    out = ["PDFFAKE1"]
    for p in pages:
        out.append(f"page {p['w']:g} {p['h']:g}")
        for (x0, y0, x1, y1, size, text) in p["boxes"]:
            if "\n" in text:
                raise ValueError("box text must be newline-free")
            out.append(f"box {x0:g} {y0:g} {x1:g} {y1:g} {size:g} {text}")
    return "\n".join(out).encode("utf-8")


def _parse_toy_pdf(payload: bytes) -> list[tuple]:
    """payload → [(page, page_w, page_h, x0, y0, x1, y1, size, text)].
    Raises ValueError on malformed payloads (mapped to status
    'parse_error' by the decoder)."""
    text = bytes(payload).decode("utf-8")
    lines = text.split("\n")
    if not lines or lines[0] != "PDFFAKE1":
        raise ValueError("bad magic")
    boxes: list[tuple] = []
    page = -1
    page_w = page_h = 0.0
    for raw in lines[1:]:
        if raw.strip() == "":
            continue
        if raw.startswith("page "):
            parts = raw.split()
            if len(parts) != 3:
                raise ValueError("bad page line")
            page += 1
            page_w, page_h = float(parts[1]), float(parts[2])
        elif raw.startswith("box "):
            if page < 0:
                raise ValueError("box before page")
            parts = raw.split(" ", 6)
            if len(parts) < 7:
                raise ValueError("bad box line")
            x0, y0, x1, y1, size = (float(v) for v in parts[1:6])
            boxes.append((page, page_w, page_h, x0, y0, x1, y1, size, parts[6]))
        else:
            raise ValueError("unknown record")
    return boxes


def decode_pdf_boxes(
    df: DataFrame,
    fake: bool = True,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(doc_id, payload:binary) → one row per positioned text box
    (PDF_BOX_SCHEMA), Arrow-batched via mapInPandas.

    The real decoder (pdfminer.six ``extract_pages`` → LTTextLine boxes
    with the y axis flipped top-down) is not in this runtime image, so
    ``fake=False`` raises NotImplementedError per the multimodal-codec
    contract; ``fake=True`` parses the deterministic toy format
    (module doc), which exercises the exact Arrow batch shapes a real
    decoder would produce.

    EVERY input doc yields >= 1 row: bad payloads yield one sentinel row
    (status 'null_payload' / 'parse_error', box fields NULL) and
    zero-box payloads one 'empty' sentinel, so the downstream assembly
    can return one row per input doc without re-branching over this
    (expensive) stage."""
    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # the decode is a CPU-bound python stage — floor the parallelism so
    # a byte-sized scan (or a narrow payload-building projection over
    # one) cannot serialize it onto one or two cores
    sel = ensure_parallelism(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(payload_col).alias("payload"),
        )
    )

    def mapper(batches):
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "PDF decode requires pdfminer.six/pypdf — not in this "
                    "runtime image; use fake=True for the toy-format decoder"
                )
            if len(pdf):
                fast = _decode_batch_vectorized(pdf)
                if fast is not None:
                    yield fast
                    continue
            rows: list[tuple] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                doc_id = int(doc_id)
                if payload is None:
                    rows.append(
                        (doc_id, None, None, None, None, None, None, None,
                         None, None, None, "null_payload")
                    )
                    continue
                try:
                    boxes = _parse_toy_pdf(payload)
                except (ValueError, UnicodeDecodeError):
                    rows.append(
                        (doc_id, None, None, None, None, None, None, None,
                         None, None, None, "parse_error")
                    )
                    continue
                if not boxes:
                    rows.append(
                        (doc_id, None, None, None, None, None, None, None,
                         None, None, None, "empty")
                    )
                    continue
                for idx, (pg, pw, ph, x0, y0, x1, y1, size, text) in enumerate(
                    boxes
                ):
                    rows.append(
                        (doc_id, pg, idx, pw, ph, x0, y0, x1, y1, size, text,
                         "ok")
                    )
            cols = list(zip(*rows)) if rows else [[] for _ in range(12)]
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(cols[0], dtype="Int64"),
                    "page": pd.array(cols[1], dtype="Int32"),
                    "box_idx": pd.array(cols[2], dtype="Int32"),
                    "page_w": pd.array(cols[3], dtype="Float64"),
                    "page_h": pd.array(cols[4], dtype="Float64"),
                    "x0": pd.array(cols[5], dtype="Float64"),
                    "y0": pd.array(cols[6], dtype="Float64"),
                    "x1": pd.array(cols[7], dtype="Float64"),
                    "y1": pd.array(cols[8], dtype="Float64"),
                    "size": pd.array(cols[9], dtype="Float64"),
                    "text": cols[10],
                    "status": cols[11],
                }
            )

    return sel.mapInPandas(mapper, PDF_BOX_SCHEMA)


def _decode_batch_vectorized(pdf: pd.DataFrame) -> "pd.DataFrame | None":
    """Vectorized fast path for a batch where EVERY payload is a
    well-formed toy document with >= 1 box: pyarrow line split +
    numpy page/box accounting + one C-level float cast, instead of
    5M+ python ``float()`` calls over the line loop (measured 17 s →
    ~3 s on the 50k-doc sf1.0 bench corpus).  Returns None on ANY
    anomaly — null/blank/malformed payloads, blank or unknown lines,
    zero-box docs, non-plain-numeric fields — and the caller falls
    back to the row loop, the semantics of record (so sentinel rows,
    error statuses and python float parsing quirks stay
    byte-identical)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if pdf["payload"].isna().any():
        return None
    try:
        arr = pa.array(pdf["payload"].tolist(), type=pa.binary())
        texts = pc.cast(arr, pa.string())  # validates utf-8
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return None
    lines_list = pc.split_pattern(texts, "\n")
    lengths = pc.list_value_length(lines_list).to_numpy()
    if (lengths < 2).any():
        return None
    lines = pc.list_flatten(lines_list)
    n = len(lines)
    doc_starts = np.zeros(len(pdf), dtype=np.int64)
    np.cumsum(lengths[:-1], out=doc_starts[1:])
    row_doc = np.repeat(np.arange(len(pdf), dtype=np.int64), lengths)
    is_page = pc.starts_with(lines, "page ").to_numpy(zero_copy_only=False)
    is_box = pc.starts_with(lines, "box ").to_numpy(zero_copy_only=False)
    # every line must be the magic (at its doc start), a page line,
    # or a box line — anything else (incl. blank) → slow path
    is_magic = np.zeros(n, dtype=bool)
    is_magic[doc_starts] = True
    if not (is_magic | is_page | is_box).all():
        return None
    magic_ok = pc.equal(
        pc.list_element(lines_list, 0), "PDFFAKE1"
    ).to_numpy(zero_copy_only=False)
    if not magic_ok.all():
        return None
    if (is_page[doc_starts] | is_box[doc_starts]).any():
        return None
    # page numbering per doc + "box before page" guard
    page_cum = np.cumsum(is_page)
    page_of_row = page_cum - page_cum[doc_starts[row_doc]] - 1
    if (page_of_row[is_box] < 0).any():
        return None
    # zero-box docs need an 'empty' sentinel — slow path
    box_counts = np.zeros(len(pdf), dtype=np.int64)
    np.add.at(box_counts, row_doc[is_box], 1)
    if (box_counts == 0).any():
        return None
    # page dims: the few page lines parse in python with the slow
    # path's exact split semantics
    page_idx = np.flatnonzero(is_page)
    pws = np.empty(len(page_idx), dtype=np.float64)
    phs = np.empty(len(page_idx), dtype=np.float64)
    lines_py = lines.to_pylist()
    for j, li in enumerate(page_idx):
        parts = lines_py[li].split()
        if len(parts) != 3:
            return None
        try:
            pws[j] = float(parts[1])
            phs[j] = float(parts[2])
        except ValueError:
            return None
    # box fields: split " " max 6 → exactly 7 parts, plain-numeric
    # coordinate fields only (so python float() agrees byte-for-byte)
    box_lines = lines.filter(pa.array(is_box))
    splits = pc.split_pattern(box_lines, " ", max_splits=6)
    if not pc.all(
        pc.equal(pc.list_value_length(splits), 7)
    ).as_py():
        return None
    num_re = r"^-?[0-9]+(\.[0-9]+)?$"
    cols = []
    for i in range(1, 6):
        part = pc.list_element(splits, i)
        if not pc.all(pc.match_substring_regex(part, num_re)).as_py():
            return None
        cols.append(pc.cast(part, pa.float64()).to_numpy())
    box_text = pc.list_element(splits, 6)
    # assemble (order = doc order, then line order — the loop's order)
    box_rows = np.flatnonzero(is_box)
    doc_of_box = row_doc[box_rows]
    box_cum = np.cumsum(is_box)
    # doc starts are magic lines (asserted above), so box_cum at the
    # doc start counts exactly the boxes of earlier docs
    box_idx = box_cum[box_rows] - 1 - box_cum[doc_starts[doc_of_box]]
    page_ord = page_cum[box_rows] - 1  # global page-line ordinal
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": pd.array(doc_ids[doc_of_box], dtype="Int64"),
            "page": pd.array(page_of_row[box_rows], dtype="Int32"),
            "box_idx": pd.array(box_idx, dtype="Int32"),
            "page_w": pd.array(pws[page_ord], dtype="Float64"),
            "page_h": pd.array(phs[page_ord], dtype="Float64"),
            "x0": pd.array(cols[0], dtype="Float64"),
            "y0": pd.array(cols[1], dtype="Float64"),
            "x1": pd.array(cols[2], dtype="Float64"),
            "y1": pd.array(cols[3], dtype="Float64"),
            "size": pd.array(cols[4], dtype="Float64"),
            "text": box_text.to_pylist(),
            "status": "ok",
        }
    )



def assemble_layout(
    boxes: DataFrame,
    col_gap_tol: float = 1.0,
    band_gap_tol: float = 32.0,
    header_band: float = 0.1,
    footer_band: float = 0.1,
    repeat_min_pages: int = 2,
    repeat_frac: float = 0.5,
    para_gap_factor: float = 0.8,
    min_size_frac: float = 0.6,
) -> DataFrame:
    """Positioned text boxes (PDF_BOX_SCHEMA rows) → one row per doc:
    (doc_id, status, extracted_text, n_pages, n_boxes, n_tiny_dropped,
    n_lines, n_repeated_removed, n_paragraphs, chars_out).

    Layout rules (each a published-recipe heuristic, module doc):

    1. **Tiny-text drop** — boxes with ``size < min_size_frac x`` the
       doc's mean box size are marginalia (page furniture, watermarks)
       and are dropped with accounting (``n_tiny_dropped``).
    2. **Section split, then column split** — the two XY-cut levels.
       First a y-sweep per page: a vertical whitespace gap wider than
       ``band_gap_tol`` (points) that NO box spans starts a new
       SECTION — this is what separates a page-wide title banner from
       the column region below it, so the banner cannot bridge the
       columns' gutter.  ``band_gap_tol`` must exceed intra-column
       paragraph spacing (default 32pt): a smaller value would shred
       one column run into sections and interleave the columns
       section-by-section.  Then the x-sweep per (page, section):
       a box starting beyond the running x-coverage (+``col_gap_tol``)
       opens a new column.  Both are interval-union gap-finding: a
       gutter only splits if NO box in the region spans it, so word
       gaps inside lines never do (some longer line covers them),
       while a true two-column gutter does.  A banner whose clearance
       to the body is under ``band_gap_tol`` still joins the columns —
       the single-level caveat, now bounded to tight layouts.
    3. **Line grouping** — within a column, the same sweep over y:
       boxes whose y-intervals overlap the running coverage share a
       line; line text is its boxes sorted by x0 joined with spaces.
    4. **Repeated header/footer removal** — a line whose top sits in the
       top ``header_band`` (resp. bottom ``footer_band``) fraction of
       the page and whose digit-folded lowercase text recurs in that
       band on ``>= max(repeat_min_pages, ceil(repeat_frac * n_pages))``
       distinct pages is page furniture ("ACME Report", "Page 7") and
       every occurrence is removed (``n_repeated_removed``).  Digit
       folding makes "Page 1"/"Page 2" one key.  Computed as a WINDOW
       over (doc, band, folded text) — no self-join back onto the
       decode stage (see module doc).
    5. **Paragraph assembly** — within a column, a vertical gap
       ``> para_gap_factor x`` the current line's height starts a new
       paragraph.  Paragraphs do not merge across columns or pages (the
       honest simplification; continuation merging needs hyphenation
       language models).
    6. **De-hyphenation + line join** — inside a paragraph,
       ``letter-\\n lowercase-letter`` joins are re-fused without the
       hyphen (ASCII classes on purpose: java/RE2/python ``\\p{L}``
       parity is not portable, the repo's explicit-class stance), then
       remaining line breaks become spaces (PDF line breaks are
       typographic, not semantic).
    7. **Reading order** — paragraphs ordered by (page, section,
       column, paragraph top y); doc text joins them with blank lines.

    Sentinel rows (status != 'ok') carry bad-payload docs through to the
    output: their extracted_text is NULL and metrics are 0.  Docs whose
    boxes ALL drop (tiny/empty) come out status 'ok' with an empty
    string — decoded-but-no-content, distinct from undecodable.

    Scale shape: single doc-keyed exchange, see module doc."""
    # kwarg guards BEFORE any plan is built: reject nonsense at call
    # time, not mid-action
    if not (0.0 <= header_band <= 1.0) or not (0.0 <= footer_band <= 1.0):
        raise ValueError("header_band/footer_band must be fractions in [0, 1]")
    if repeat_min_pages < 1:
        raise ValueError("repeat_min_pages must be >= 1")
    if not (0.0 <= repeat_frac <= 1.0):
        raise ValueError("repeat_frac must be in [0, 1]")
    if (
        col_gap_tol < 0
        or band_gap_tol < 0
        or para_gap_factor < 0
        or min_size_frac < 0
    ):
        raise ValueError(
            "col_gap_tol/band_gap_tol/para_gap_factor/min_size_frac "
            "must be >= 0"
        )
    w_doc = Window.partitionBy("doc_id")
    b = boxes.withColumn(
        "_btext", F.regexp_replace(F.col("text"), _BOX_TRIM_RE, "")
    )
    real = (F.col("status") == "ok") & (F.coalesce(F.col("_btext"), F.lit("")) != "")
    b = b.withColumn("_real", real)
    b = b.withColumn(
        "_mean_size",
        F.avg(F.when(F.col("_real"), F.col("size"))).over(w_doc),
    )
    b = b.withColumn(
        "_tiny",
        F.col("_real")
        & (F.col("size") < F.lit(float(min_size_frac)) * F.col("_mean_size")),
    )
    b = b.withColumn("_use", F.col("_real") & ~F.col("_tiny"))

    # 2a. section sweep (XY-cut level 1): y-interval-union gaps wider
    # than band_gap_tol split the page into vertical sections, so a
    # page-wide banner lives in its OWN section and cannot bridge the
    # column gutter below it
    w_s = (
        Window.partitionBy("doc_id", "page")
        .orderBy("y0", "y1", "box_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_sy1 = F.max(F.when(F.col("_use"), F.col("y1"))).over(w_s)
    sec_break = F.when(
        F.col("_use"),
        F.coalesce(
            F.col("y0") > prev_sy1 + F.lit(float(band_gap_tol)), F.lit(True)
        ),
    ).otherwise(F.lit(False))
    w_sr = (
        Window.partitionBy("doc_id", "page")
        .orderBy("y0", "y1", "box_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = b.withColumn("_sec", F.sum(sec_break.cast("int")).over(w_sr))

    # 2b. column sweep (XY-cut level 2): interval-union gaps over x,
    # per (doc, page, section)
    w_x = (
        Window.partitionBy("doc_id", "page", "_sec")
        .orderBy("x0", "x1", "box_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_x1 = F.max(F.when(F.col("_use"), F.col("x1"))).over(w_x)
    col_break = F.when(
        F.col("_use"),
        F.coalesce(
            F.col("x0") > prev_x1 + F.lit(float(col_gap_tol)), F.lit(True)
        ),
    ).otherwise(F.lit(False))
    w_xr = (
        Window.partitionBy("doc_id", "page", "_sec")
        .orderBy("x0", "x1", "box_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = b.withColumn("_col", F.sum(col_break.cast("int")).over(w_xr))

    # 3. line sweep: y-overlap grouping within (doc, page, sec, col)
    w_y = (
        Window.partitionBy("doc_id", "page", "_sec", "_col")
        .orderBy("y0", "y1", "box_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_y1 = F.max(F.when(F.col("_use"), F.col("y1"))).over(w_y)
    line_break = F.when(
        F.col("_use"),
        F.coalesce(F.col("y0") >= prev_y1, F.lit(True)),
    ).otherwise(F.lit(False))
    w_yr = (
        Window.partitionBy("doc_id", "page", "_sec", "_col")
        .orderBy("y0", "y1", "box_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = b.withColumn("_line", F.sum(line_break.cast("int")).over(w_yr))

    lines = b.groupBy("doc_id", "page", "_sec", "_col", "_line").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_use"),
                            F.struct(
                                F.col("x0"), F.col("box_idx"), F.col("_btext")
                            ),
                        )
                    )
                ),
                lambda s: s["_btext"],
            ),
        ).alias("_ltext"),
        F.min(F.when(F.col("_use"), F.col("y0"))).alias("_ytop"),
        F.max(F.when(F.col("_use"), F.col("y1"))).alias("_ybot"),
        F.first("page_h", ignorenulls=True).alias("_ph"),
        F.sum(F.col("_real").cast("long")).alias("_nreal"),
        F.sum(F.col("_tiny").cast("long")).alias("_ntiny"),
        F.max(F.when(F.col("status") != "ok", F.col("status"))).alias("_err"),
    )
    lines = lines.withColumn("_luse", F.col("_ltext") != "")

    # 4. repeated header/footer: window over (doc, band, digit-folded text)
    band = F.when(
        F.col("_luse") & (F.col("_ytop") / F.col("_ph") <= F.lit(float(header_band))),
        F.lit("top"),
    ).when(
        F.col("_luse")
        & (F.col("_ybot") / F.col("_ph") >= F.lit(1.0 - float(footer_band))),
        F.lit("bot"),
    )
    lines = lines.withColumn("_band", band)
    lines = lines.withColumn(
        "_fold",
        F.when(
            F.col("_band").isNotNull(),
            F.regexp_replace(F.lower(F.col("_ltext")), "[0-9]+", "#"),
        ),
    )
    w_rep = Window.partitionBy("doc_id", "_band", "_fold")
    lines = lines.withColumn(
        "_rep_pages", F.size(F.collect_set("page").over(w_rep))
    )
    lines = lines.withColumn(
        "_n_pages",
        F.size(
            F.collect_set(F.when(F.col("_luse"), F.col("page"))).over(w_doc)
        ),
    )
    rep_needed = F.greatest(
        F.lit(int(repeat_min_pages)),
        F.ceil(F.lit(float(repeat_frac)) * F.col("_n_pages")).cast("int"),
    )
    lines = lines.withColumn(
        "_rep_drop",
        F.col("_band").isNotNull() & (F.col("_rep_pages") >= rep_needed),
    )
    lines = lines.withColumn("_keep", F.col("_luse") & ~F.col("_rep_drop"))

    # 5. paragraph sweep: vertical-gap breaks within (doc, page, sec, col)
    w_p = (
        Window.partitionBy("doc_id", "page", "_sec", "_col")
        .orderBy("_line")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_bot = F.max(F.when(F.col("_keep"), F.col("_ybot"))).over(w_p)
    para_break = F.when(
        F.col("_keep"),
        F.coalesce(
            (F.col("_ytop") - prev_bot)
            > F.lit(float(para_gap_factor)) * (F.col("_ybot") - F.col("_ytop")),
            F.lit(True),
        ),
    ).otherwise(F.lit(False))
    w_pr = (
        Window.partitionBy("doc_id", "page", "_sec", "_col")
        .orderBy("_line")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lines = lines.withColumn("_para", F.sum(para_break.cast("int")).over(w_pr))

    paras = lines.groupBy("doc_id", "page", "_sec", "_col", "_para").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("_line"), F.col("_ltext")),
                        )
                    )
                ),
                lambda s: s["_ltext"],
            ),
        ).alias("_ptext_nl"),
        F.min(F.when(F.col("_keep"), F.col("_ytop"))).alias("_py"),
        F.sum("_nreal").alias("_nreal"),
        F.sum("_ntiny").alias("_ntiny"),
        F.sum(F.col("_luse").cast("long")).alias("_nlines"),
        F.sum(F.col("_rep_drop").cast("long")).alias("_nrep"),
        F.max("_err").alias("_err"),
        F.max("_n_pages").alias("_n_pages"),
    )
    # 6. de-hyphenation, then typographic line breaks -> spaces
    ptext = F.regexp_replace(
        F.col("_ptext_nl"), "([A-Za-z])-\n([a-z])", "$1$2"
    )
    ptext = F.regexp_replace(ptext, "\n", " ")
    paras = paras.withColumn("_ptext", ptext)

    # 7. reading order + doc assembly
    out = paras.groupBy("doc_id").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_ptext") != "",
                            F.struct(
                                F.col("page"),
                                F.col("_sec"),
                                F.col("_col"),
                                F.col("_py"),
                                F.col("_para"),
                                F.col("_ptext"),
                            ),
                        )
                    )
                ),
                lambda s: s["_ptext"],
            ),
        ).alias("_text"),
        F.max("_err").alias("_err"),
        F.coalesce(F.max("_n_pages"), F.lit(0)).alias("n_pages"),
        F.sum("_nreal").cast("long").alias("n_boxes"),
        F.sum("_ntiny").cast("long").alias("n_tiny_dropped"),
        F.sum("_nlines").cast("long").alias("n_lines"),
        F.sum("_nrep").cast("long").alias("n_repeated_removed"),
        F.sum((F.col("_ptext") != "").cast("long")).alias("n_paragraphs"),
    )
    # coalesce: _err is NULL for clean docs, and NULL & false is NULL —
    # an un-coalesced `~failed` would null out every clean doc's text
    failed = F.coalesce(
        F.col("_err").isin("null_payload", "parse_error")
        & (F.col("n_boxes") == 0),
        F.lit(False),
    )
    return out.select(
        "doc_id",
        F.when(failed, F.col("_err")).otherwise(F.lit("ok")).alias("status"),
        F.when(~failed, F.col("_text")).alias("extracted_text"),
        "n_pages",
        "n_boxes",
        "n_tiny_dropped",
        "n_lines",
        "n_repeated_removed",
        "n_paragraphs",
        F.when(~failed, F.length("_text")).otherwise(F.lit(0))
        .cast("long")
        .alias("chars_out"),
    )


def pdf_extract(
    df: DataFrame,
    fake: bool = True,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    **layout_kwargs,
) -> DataFrame:
    """(doc_id, payload) → reading-order extracted text per doc:
    decode (:func:`decode_pdf_boxes`) then layout assembly
    (:func:`assemble_layout`).  One output row per input doc (the
    decoder's >=1-row-per-doc sentinel contract)."""
    return assemble_layout(
        decode_pdf_boxes(df, fake=fake, id_col=id_col, payload_col=payload_col),
        **layout_kwargs,
    )
