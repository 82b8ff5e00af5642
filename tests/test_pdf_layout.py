"""PDF/layout parse: decode stub contract, layout assembly semantics
(differential vs the independent python reference), hand-authored
goldens derived from the written rules, and the physical-plan golden
for the one-exchange scale claim."""

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from cl_readability_spark.pipeline.pdf_layout import (
    _BOX_TRIM_RE,
    _parse_toy_pdf,
    assemble_layout,
    decode_pdf_boxes,
    make_toy_pdf,
    pdf_extract,
)


def synthetic_pdfs(spark, n: int = 32, seed: int = 7):
    """Deterministic toy-PDF corpus: two-column pages with a repeated
    header, digit-varying footer, a hyphen-split line pair, and a
    tiny-font margin note — the layout features the assembly must handle."""
    rows = []
    for i in range(n):
        rng = random.Random(f"{seed}:{i}")
        n_pages = 2 + rng.randrange(3)
        pages = []
        for pg in range(n_pages):
            boxes = [
                (50.0, 20.0, 250.0, 32.0, 10.0, f"Acme Quarterly {i}"),
                (280.0, 760.0, 330.0, 770.0, 9.0, f"Page {pg + 1}"),
                (560.0, 300.0, 568.0, 380.0, 4.0, "DRAFT watermark"),
            ]
            for ci, x in enumerate((50.0, 320.0)):
                y = 120.0
                for para in range(2):
                    n_ln = 2 + rng.randrange(3)
                    for ln in range(n_ln):
                        word = f"w{rng.randrange(1000)}"
                        tail = (
                            "contin-"
                            if ln == 0 and para == 0
                            else f"t{rng.randrange(100)}"
                        )
                        if ln == 1 and para == 0:
                            tail = "uation here"
                        boxes.append(
                            (
                                x,
                                y,
                                x + 220.0,
                                y + 12.0,
                                10.0,
                                f"body {i} p{pg} c{ci} {word} {tail}",
                            )
                        )
                        y += 14.0
                    y += 24.0
            rng.shuffle(boxes)
            pages.append({"w": 612.0, "h": 792.0, "boxes": boxes})
        rows.append((i, bytearray(make_toy_pdf(pages))))
    return spark.createDataFrame(
        rows, "doc_id long, payload binary"
    )


# Python differential oracle: the SAME layout rules implemented
# independently over the decoded box lists — plain loops, no Spark.  Drift
# in either implementation flips the comparison.
def layout_reference(
    boxes: list[tuple],
    col_gap_tol: float = 1.0,
    band_gap_tol: float = 32.0,
    header_band: float = 0.1,
    footer_band: float = 0.1,
    repeat_min_pages: int = 2,
    repeat_frac: float = 0.5,
    para_gap_factor: float = 0.8,
    min_size_frac: float = 0.6,
) -> dict:
    """Reference implementation over ONE doc's decoded boxes
    ``[(page, page_w, page_h, x0, y0, x1, y1, size, text), ...]``.
    Returns the assemble_layout output row as a dict (status 'ok')."""
    trim = re.compile(_BOX_TRIM_RE)
    real = [
        (pg, ph, x0, y0, x1, y1, size, trim.sub("", text), idx)
        for idx, (pg, _pw, ph, x0, y0, x1, y1, size, text) in enumerate(boxes)
        if trim.sub("", text) != ""
    ]
    n_boxes = len(real)
    mean_size = (
        sum(r[6] for r in real) / n_boxes if n_boxes else None
    )
    kept_boxes = (
        [r for r in real if not (r[6] < min_size_frac * mean_size)]
        if n_boxes
        else []
    )
    n_tiny = n_boxes - len(kept_boxes)

    # section sweep (y), then column sweep (x) per section, per page
    by_page: dict[int, list] = {}
    for r in kept_boxes:
        by_page.setdefault(r[0], []).append(r)
    line_recs = []
    for pg, bs in by_page.items():
        bs.sort(key=lambda r: (r[3], r[5], r[8]))  # y0, y1, box_idx
        secs: list[list] = []
        run_sy1 = None
        for r in bs:
            if run_sy1 is None or r[3] > run_sy1 + band_gap_tol:
                secs.append([])
            secs[-1].append(r)
            run_sy1 = r[5] if run_sy1 is None else max(run_sy1, r[5])
        for si, sb in enumerate(secs):
            sb.sort(key=lambda r: (r[2], r[4], r[8]))  # x0, x1, box_idx
            cols: list[list] = []
            run_x1 = None
            for r in sb:
                if run_x1 is None or r[2] > run_x1 + col_gap_tol:
                    cols.append([])
                cols[-1].append(r)
                run_x1 = r[4] if run_x1 is None else max(run_x1, r[4])
            for ci, cb in enumerate(cols):
                cb.sort(key=lambda r: (r[3], r[5], r[8]))  # y0, y1, box_idx
                lns: list[list] = []
                run_y1 = None
                for r in cb:
                    if run_y1 is None or r[3] >= run_y1:
                        lns.append([])
                    lns[-1].append(r)
                    run_y1 = r[5] if run_y1 is None else max(run_y1, r[5])
                for li, lb in enumerate(lns):
                    lb.sort(key=lambda r: (r[2], r[8]))
                    line_recs.append(
                        {
                            "page": pg,
                            "sec": si,
                            "col": ci,
                            "line": li,
                            "ytop": min(r[3] for r in lb),
                            "ybot": max(r[5] for r in lb),
                            "ph": lb[0][1],
                            "text": " ".join(r[7] for r in lb),
                        }
                    )
    n_lines = len(line_recs)
    n_pages = len({l["page"] for l in line_recs})

    # repeated header/footer
    digit = re.compile("[0-9]+")
    for l in line_recs:
        if l["ytop"] / l["ph"] <= header_band:
            l["band"] = "top"
        elif l["ybot"] / l["ph"] >= 1.0 - footer_band:
            l["band"] = "bot"
        else:
            l["band"] = None
        l["fold"] = (
            digit.sub("#", l["text"].lower()) if l["band"] else None
        )
    rep_pages: dict[tuple, set] = {}
    for l in line_recs:
        if l["band"]:
            rep_pages.setdefault((l["band"], l["fold"]), set()).add(l["page"])
    needed = max(repeat_min_pages, math.ceil(repeat_frac * n_pages))
    n_rep = 0
    kept_lines = []
    for l in line_recs:
        if l["band"] and len(rep_pages[(l["band"], l["fold"])]) >= needed:
            n_rep += 1
        else:
            kept_lines.append(l)

    # paragraph assembly per (page, sec, col)
    by_col: dict[tuple, list] = {}
    for l in kept_lines:
        by_col.setdefault((l["page"], l["sec"], l["col"]), []).append(l)
    paras = []
    for (pg, si, ci), lns in by_col.items():
        lns.sort(key=lambda l: l["line"])
        cur: list = []
        prev_bot = None
        for l in lns:
            gap_break = (
                prev_bot is None
                or (l["ytop"] - prev_bot)
                > para_gap_factor * (l["ybot"] - l["ytop"])
            )
            if gap_break and cur:
                paras.append((pg, si, ci, cur))
                cur = []
            cur.append(l)
            prev_bot = l["ybot"] if prev_bot is None else max(prev_bot, l["ybot"])
        if cur:
            paras.append((pg, si, ci, cur))
    hyph = re.compile("([A-Za-z])-\n([a-z])")
    ptexts = []
    for pg, si, ci, lns in paras:
        joined = "\n".join(l["text"] for l in lns)
        joined = hyph.sub(r"\1\2", joined).replace("\n", " ")
        ptexts.append((pg, si, ci, min(l["ytop"] for l in lns), joined))
    ptexts.sort(key=lambda p: (p[0], p[1], p[2], p[3]))
    text = "\n\n".join(p[4] for p in ptexts)
    return {
        "status": "ok",
        "extracted_text": text,
        "n_pages": n_pages,
        "n_boxes": n_boxes,
        "n_tiny_dropped": n_tiny,
        "n_lines": n_lines,
        "n_repeated_removed": n_rep,
        "n_paragraphs": len(ptexts),
        "chars_out": len(text),
    }


def _diff(spark, payloads: dict[int, bytes], **kw):
    """Run pdf_extract AND layout_reference over the same payloads and
    assert every output field matches exactly."""
    df = spark.createDataFrame(
        [(d, bytearray(p)) for d, p in payloads.items()],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r.asDict() for r in pdf_extract(df, **kw).collect()}
    assert set(got) == set(payloads)
    for d, pay in payloads.items():
        ref = layout_reference(_parse_toy_pdf(pay), **kw)
        for k, v in ref.items():
            assert got[d][k] == v, (d, k, got[d][k], v)
    return got


def test_pdf_extract_matches_reference(spark):
    """The synthetic corpus (two-column pages, repeated header,
    digit-varying footer, hyphen-split pair, tiny watermark) matches the
    independent python reference on every field, text included."""
    pdfs = synthetic_pdfs(spark, n=8)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in pdfs.collect()}
    got = _diff(spark, payloads)
    # the constructed features actually fired: repeats removed, tiny
    # dropped, >1 column, hyphen fused
    r0 = got[0]
    assert r0["n_repeated_removed"] > 0
    assert r0["n_tiny_dropped"] > 0
    assert "contin-" not in r0["extracted_text"]  # fused
    assert "continbody" in r0["extracted_text"] or "contin" in r0["extracted_text"]
    assert "Acme Quarterly" not in r0["extracted_text"]  # header removed
    assert "Page 1" not in r0["extracted_text"]  # footer removed
    assert "DRAFT" not in r0["extracted_text"]  # tiny watermark dropped


def test_pdf_layout_randomized_differential(spark):
    """Seeded random box soup — overlapping boxes, whitespace-only and
    tab-edged text, digit-heavy lines, boxes straddling band edges,
    single-page docs (repeat rule must NOT fire: min 2 pages) — byte-
    equal between engine and reference."""
    rng = random.Random("pdf-diff-1")
    payloads = {}
    for d in range(12):
        n_pages = 1 + rng.randrange(3)
        pages = []
        for _pg in range(n_pages):
            boxes = []
            for _b in range(rng.randrange(18)):
                x0 = rng.randrange(0, 500)
                y0 = rng.randrange(0, 760)
                w = 10 + rng.randrange(200)
                h = 8 + rng.randrange(8)
                size = rng.choice([4.0, 8.0, 9.5, 10.0, 10.0, 12.0])
                text = rng.choice(
                    [
                        f"word{rng.randrange(20)} tail{rng.randrange(5)}",
                        "Page 7",
                        "  \t ",
                        "\tindented text\t",
                        "1234 5678",
                        "ends with hyp-",
                        "lower start",
                        "",
                    ]
                )
                boxes.append(
                    (float(x0), float(y0), float(x0 + w), float(y0 + h),
                     size, text)
                )
            pages.append({"w": 612.0, "h": 792.0, "boxes": boxes})
        payloads[d] = make_toy_pdf(pages)
    _diff(spark, payloads)


def test_pdf_layout_param_differential(spark):
    """Non-default knobs (bands, gap factor, tiny threshold, repeat
    fraction) flow identically through both implementations."""
    pdfs = synthetic_pdfs(spark, n=4, seed=11)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in pdfs.collect()}
    _diff(
        spark,
        payloads,
        header_band=0.2,
        footer_band=0.05,
        para_gap_factor=0.3,
        min_size_frac=0.8,
        repeat_frac=0.9,
        repeat_min_pages=3,
        col_gap_tol=30.0,
    )


def test_pdf_sentinels_one_row_per_doc(spark):
    """NULL payload -> 'null_payload', garbage bytes -> 'parse_error'
    (both with NULL text), a valid zero-box payload -> 'ok' with empty
    text: every input doc yields exactly one output row."""
    df = spark.createDataFrame(
        [
            (1, None),
            (2, bytearray(b"\xff\xfe not a pdf")),
            (3, bytearray(b"PDFFAKE1\npage 612 792")),
            (4, bytearray(make_toy_pdf(
                [{"w": 612.0, "h": 792.0,
                  "boxes": [(50.0, 200.0, 250.0, 212.0, 10.0, "only line")]}]
            ))),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in pdf_extract(df).collect()}
    assert len(rows) == 4
    assert rows[1]["status"] == "null_payload"
    assert rows[1]["extracted_text"] is None
    assert rows[2]["status"] == "parse_error"
    assert rows[2]["extracted_text"] is None
    assert rows[3]["status"] == "ok"
    assert rows[3]["extracted_text"] == ""
    assert rows[3]["n_pages"] == 0
    assert rows[4]["status"] == "ok"
    assert rows[4]["extracted_text"] == "only line"
    assert rows[4]["n_pages"] == 1
    assert rows[4]["chars_out"] == len("only line")


def test_pdf_fake_false_raises(spark):
    """The real-codec contract: non-fake decode raises per the
    multimodal stub stance (pdfminer absent in this runtime)."""
    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="pdfminer"):
        decode_pdf_boxes(df, fake=False).collect()


def test_pdf_layout_authored_golden(spark):
    """Hand-authored golden DERIVED FROM THE WRITTEN RULES (never from
    the engine): 2 pages; a repeated top-band header and digit-folded
    footer are removed; the 4pt margin note is tiny (mean size 76/9 ~
    8.44, 0.6x -> 5.07); the two body lines 2pt apart form one
    paragraph whose 'contin-'/'uation' join de-hyphenates; page-1 body
    follows as its own paragraph."""
    pages = []
    for pg in range(2):
        boxes = [
            (50.0, 20.0, 250.0, 32.0, 10.0, "Doc Report"),
            (280.0, 760.0, 330.0, 770.0, 9.0, f"Page {pg + 1}"),
            (300.0, 400.0, 308.0, 480.0, 4.0, "margin note"),
        ]
        if pg == 0:
            boxes += [
                (50.0, 200.0, 270.0, 212.0, 10.0, "alpha 7 contin-"),
                (50.0, 214.0, 270.0, 226.0, 10.0, "uation beta 7"),
            ]
        else:
            boxes += [(50.0, 200.0, 270.0, 212.0, 10.0, "gamma 7 solo")]
        pages.append({"w": 612.0, "h": 792.0, "boxes": boxes})
    df = spark.createDataFrame(
        [(7, bytearray(make_toy_pdf(pages)))], "doc_id long, payload binary"
    )
    row = pdf_extract(df).collect()[0]
    assert row["status"] == "ok"
    assert (
        row["extracted_text"]
        == "alpha 7 continuation beta 7\n\ngamma 7 solo"
    )
    assert row["n_pages"] == 2
    assert row["n_boxes"] == 9
    assert row["n_tiny_dropped"] == 2
    assert row["n_lines"] == 7
    assert row["n_repeated_removed"] == 4
    assert row["n_paragraphs"] == 2


def test_pdf_column_reading_order_golden(spark):
    """Two true columns (no box spans the gutter): the left column reads
    fully before the right, top-to-bottom inside each — and a single
    page means the repeat rule cannot fire (min 2 pages)."""
    # 18pt row gap: a paragraph break (> 0.8 x line height) but NOT a
    # section break (< the 32pt band_gap_tol) — pure column ordering
    boxes = [
        (320.0, 230.0, 540.0, 242.0, 10.0, "right later"),
        (50.0, 230.0, 270.0, 242.0, 10.0, "left second"),
        (320.0, 200.0, 540.0, 212.0, 10.0, "right first"),
        (50.0, 200.0, 270.0, 212.0, 10.0, "left first"),
    ]
    df = spark.createDataFrame(
        [(1, bytearray(make_toy_pdf([{"w": 612.0, "h": 792.0, "boxes": boxes}])))],
        "doc_id long, payload binary",
    )
    row = pdf_extract(df).collect()[0]
    assert (
        row["extracted_text"]
        == "left first\n\nleft second\n\nright first\n\nright later"
    )
    assert row["n_repeated_removed"] == 0


def test_pdf_banner_over_columns_golden(spark):
    """The second XY-cut level: a page-wide banner ABOVE two columns
    must not bridge their gutter.  The banner's y-clearance (> the
    32pt band_gap_tol) puts it in its own section, the body section
    x-splits into two true columns, and reading order is banner, then
    all of the left column, then all of the right — NOT interleaved
    row-by-row (the single-level failure mode)."""
    boxes = [
        # banner spans the full width, including the gutter
        (50.0, 40.0, 540.0, 56.0, 14.0, "A Banner Spanning Both Columns"),
        # two-column body, 60pt below the banner
        (50.0, 120.0, 270.0, 132.0, 10.0, "left one"),
        (320.0, 120.0, 540.0, 132.0, 10.0, "right one"),
        (50.0, 160.0, 270.0, 172.0, 10.0, "left two"),
        (320.0, 160.0, 540.0, 172.0, 10.0, "right two"),
    ]
    df = spark.createDataFrame(
        [(1, bytearray(make_toy_pdf([{"w": 612.0, "h": 792.0, "boxes": boxes}])))],
        "doc_id long, payload binary",
    )
    row = pdf_extract(df).collect()[0]
    assert row["extracted_text"] == (
        "A Banner Spanning Both Columns"
        "\n\nleft one\n\nleft two\n\nright one\n\nright two"
    )
    # and with the section cut disabled via a huge tolerance, the
    # banner bridges the gutter: one column, y-interleaved — the
    # documented single-level behavior this feature exists to fix
    flat = pdf_extract(df, band_gap_tol=10_000.0).collect()[0]
    assert flat["extracted_text"] == (
        "A Banner Spanning Both Columns"
        "\n\nleft one right one\n\nleft two right two"
    )


def test_pdf_word_boxes_do_not_split_columns(spark):
    """WORD-level boxes: the gap between words is covered by a longer
    line elsewhere in the column, so the interval-union sweep keeps one
    column; the words join into one line in x order."""
    boxes = [
        (50.0, 200.0, 90.0, 212.0, 10.0, "first"),
        (130.0, 200.0, 180.0, 212.0, 10.0, "second"),
        # the long line underneath spans the word gap
        (50.0, 214.0, 270.0, 226.0, 10.0, "a long covering line below"),
    ]
    df = spark.createDataFrame(
        [(1, bytearray(make_toy_pdf([{"w": 612.0, "h": 792.0, "boxes": boxes}])))],
        "doc_id long, payload binary",
    )
    row = pdf_extract(df).collect()[0]
    # 2 lines, one paragraph (2pt gap): the typographic line break
    # becomes a space at paragraph join
    assert row["extracted_text"] == "first second a long covering line below"
    assert row["n_lines"] == 2
    assert row["n_paragraphs"] == 1


def test_pdf_layout_kwarg_guards(spark):
    """Nonsense knobs are rejected at call time, before any action."""
    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    boxes = decode_pdf_boxes(df)
    with pytest.raises(ValueError, match="band"):
        assemble_layout(boxes, header_band=1.5)
    with pytest.raises(ValueError, match="repeat_min_pages"):
        assemble_layout(boxes, repeat_min_pages=0)
    with pytest.raises(ValueError, match="repeat_frac"):
        assemble_layout(boxes, repeat_frac=-0.1)
    with pytest.raises(ValueError, match=">= 0"):
        assemble_layout(boxes, min_size_frac=-1)


def test_pdf_assemble_plan_shape(spark):
    """Physical-plan golden for the scale claim (module doc): exactly ONE
    python stage (the Arrow decode) and exactly ONE exchange — on
    doc_id — for the whole assembly; every window partitions with
    doc_id as its first key (per-task work bounded by one document)."""
    import re as _re

    out = pdf_extract(synthetic_pdfs(spark, n=2))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    exch = _re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
    assert len(exch) == 1 and "doc_id" in exch[0], exch
    wins = _re.findall(r"windowspecdefinition\(([^,)]+)", plan)
    assert wins and all("doc_id" in w for w in wins), wins


def test_pdf_front_end_composes_into_curate(spark):
    """The PDF front-end is interchangeable with the HTML one: its
    (doc_id, extracted_text) output flows straight into the standard
    curate() chain — planted whole-doc duplicates dedup, short husks
    fall to the quality gate."""
    from cl_readability_spark.functions.curation import curate

    pages = [
        {
            "w": 612.0,
            "h": 792.0,
            "boxes": [
                (50.0, 200.0 + 14 * k, 270.0, 212.0 + 14 * k, 10.0,
                 f"shared body line {k} with enough words to pass the gate")
                for k in range(8)
            ],
        }
    ]
    dup_pay = bytearray(make_toy_pdf(pages))
    uniq = [
        (
            i,
            bytearray(
                make_toy_pdf(
                    [
                        {
                            "w": 612.0,
                            "h": 792.0,
                            "boxes": [
                                (50.0, 200.0 + 14 * k, 270.0, 212.0 + 14 * k,
                                 10.0,
                                 f"unique doc {i} line {k} rambling filler "
                                 f"words to clear the length gate easily")
                                for k in range(8)
                            ],
                        }
                    ]
                )
            ),
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(
        uniq + [(10, dup_pay), (11, dup_pay), (12, dup_pay)],
        "doc_id long, payload binary",
    )
    extracted = pdf_extract(df).filter(F.col("status") == "ok")
    curated = curate(
        extracted,
        text_col="extracted_text",
        key_cols=("doc_id",),
        min_chars=50,
        min_stopword_bp=0,
    )
    rows = {r["doc_id"]: r for r in curated.collect()}
    assert len(rows) == 7
    dup_kept = [d for d in (10, 11, 12) if rows[d]["kept"]]
    assert len(dup_kept) == 1  # exact duplicates collapse to one
    assert all(rows[i]["kept"] for i in range(4))


def test_assemble_layout_direct_boxes(spark):
    """assemble_layout is public for pre-decoded corpora (a real
    pdfminer adapter lands its boxes here): feeding PDF_BOX_SCHEMA rows
    directly gives the same result as the composed path."""
    pdfs = synthetic_pdfs(spark, n=3)
    boxes = decode_pdf_boxes(pdfs)
    a = {r["doc_id"]: r.asDict() for r in assemble_layout(boxes).collect()}
    b = {r["doc_id"]: r.asDict() for r in pdf_extract(pdfs).collect()}
    assert a == b


def test_vectorized_decode_matches_row_loop(spark):
    """r9: the vectorized toy-decode fast path must be row-identical to
    the _parse_toy_pdf row loop on well-formed payloads — and must bail
    (return None) on every anomaly class so the loop keeps owning the
    sentinel semantics."""
    import numpy as np
    import pandas as pd

    from cl_readability_spark.pipeline.pdf_layout import (
        _decode_batch_vectorized,
        _parse_toy_pdf,
        make_toy_pdf,
    )

    payloads = [
        make_toy_pdf(
            [
                {
                    "w": 612,
                    "h": 792,
                    "boxes": [
                        (50, 20 + 14 * k, 270, 32 + 14 * k, 10,
                         f"doc {d} pg {p} line {k} with  double space")
                        for k in range(5)
                    ],
                }
                for p in range(2)
            ]
        )
        for d in range(7)
    ]
    pdf = pd.DataFrame({"doc_id": pd.array(range(7), dtype="Int64"),
                        "payload": payloads})
    fast = _decode_batch_vectorized(pdf)
    assert fast is not None
    slow_rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        for idx, (pg, pw, ph, x0, y0, x1, y1, size, text) in enumerate(
            _parse_toy_pdf(payload)
        ):
            slow_rows.append((int(doc_id), pg, idx, pw, ph, x0, y0, x1, y1,
                              size, text, "ok"))
    fast_rows = [tuple(r) for r in fast.itertuples(index=False, name=None)]
    assert fast_rows == slow_rows

    # anomaly classes must all bail to the row loop
    def bails(payload):
        p2 = pd.DataFrame({"doc_id": pd.array([0], dtype="Int64"),
                           "payload": [payload]})
        return _decode_batch_vectorized(p2) is None

    assert bails(None)                                   # null payload
    assert bails(b"not a pdf")                           # bad magic
    assert bails(b"PDFFAKE1\npage 612 792")              # zero boxes
    assert bails(b"PDFFAKE1\nbox 1 2 3 4 5 t")           # box before page
    assert bails(b"PDFFAKE1\npage 612 792\nweird line")  # unknown record
    assert bails(b"PDFFAKE1\npage 612\nbox 1 2 3 4 5 t")   # bad page line
    assert bails(b"PDFFAKE1\npage 612 792\nbox 1 2 3 t")   # short box line
    assert bails(b"PDFFAKE1\npage 612 792\nbox 1 2 3 4 1e5 t")  # non-plain num
    assert bails(b"PDFFAKE1\npage 612 792\n\nbox 1 2 3 4 5 t")  # blank line
    assert bails(b"\xff\xfe\x00PDFFAKE1")                # invalid utf-8
