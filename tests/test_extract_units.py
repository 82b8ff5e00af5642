"""Per-operator tests for the extraction passes (SURVEY §2.3-2.6)."""

import pytest

from cl_readability_spark.core.config import DEFAULT_CONFIG, ExtractorConfig
from cl_readability_spark.core.dom import (
    get_elements_by_tag,
    parse_html,
)
from cl_readability_spark.core.extract import (
    clean_classes,
    clean_conditionally,
    clean_many,
    clean_styles,
    extract,
    fix_relative_urls,
    get_article_title,
    mark_data_tables,
    prepare_document,
    remove_scripts,
    replace_brs,
    simplify_nested_elements,
    unwrap_noscript_images,
)

FLAGS_ALL = {"strip_unlikelys": True, "weight_classes": True, "clean_conditionally": True}


def body_of(html):
    return parse_html(html).body


# --- remove-scripts (readability.lisp:626-630) ---
def test_remove_scripts():
    doc = parse_html("<body><script>a()</script><noscript><img src='x.png'></noscript><p>t</p></body>")
    remove_scripts(doc)
    assert not get_elements_by_tag(doc, "script")
    assert not get_elements_by_tag(doc, "noscript")
    assert len(get_elements_by_tag(doc, "p")) == 1


# --- replace-brs (readability.lisp:314-349) ---
def test_replace_brs_double_br_becomes_p():
    body = body_of("<div>foo<br>bar<br> <br><br>abc</div>")
    replace_brs(body)
    # the example from readability.lisp:341-347: <br> chains collapse; text
    # after a 2+ run lands in a new <p>
    div = get_elements_by_tag(body, "div")[0]
    ps = get_elements_by_tag(div, "p")
    assert len(ps) == 1
    # JS keeps the whitespace text node between the removed <br>s: " abc"
    assert ps[0].text_content().strip() == "abc"
    assert "foo" in div.text_content()
    # the single intervening br between foo and bar survives
    assert len(get_elements_by_tag(div, "br")) == 1


def test_replace_brs_pulls_phrasing_into_p():
    body = body_of("<div>a<br><br><b>bold</b> tail<p>stop</p></div>")
    replace_brs(body)
    ps = get_elements_by_tag(body, "p")
    new_p = ps[0]
    assert new_p.text_content() == "bold tail"
    assert ps[1].text_content() == "stop"


def test_replace_brs_inside_p_retags_parent_to_div():
    # ref's broken (set-tag-name ) branch at readability.lisp:339 — JS
    # semantics: parent <p> becomes <div>
    body = body_of("<p>a<br><br>b</p>")
    replace_brs(body)
    assert not get_elements_by_tag(body, "br")
    divs = [e for e in get_elements_by_tag(body, "div")]
    assert len(divs) == 1
    assert get_elements_by_tag(divs[0], "p")[0].text_content() == "b"


# --- prepare-document (readability.lisp:351-358) ---
def test_prepare_document_styles_and_font():
    doc = parse_html("<html><head><style>p{}</style></head><body><font size=3>x</font></body></html>")
    prepare_document(doc)
    assert not get_elements_by_tag(doc, "style")
    assert not get_elements_by_tag(doc, "font")
    assert get_elements_by_tag(doc, "span")[0].text_content() == "x"


# --- unwrap-noscript-images (readability.lisp:577-624) ---
def test_unwrap_noscript_images_removes_placeholder_imgs():
    doc = parse_html("<body><img id='placeholder'><img src='keep.png'></body>")
    unwrap_noscript_images(doc)
    imgs = get_elements_by_tag(doc, "img")
    assert len(imgs) == 1
    assert imgs[0].get("src") == "keep.png"


def test_unwrap_noscript_images_swaps_lazy_img():
    doc = parse_html(
        "<body><img src='placeholder.gif' class='lazy'>"
        "<noscript><img src='real.jpg'></noscript></body>"
    )
    unwrap_noscript_images(doc)
    imgs = get_elements_by_tag(doc.body, "img")
    assert len(imgs) == 1
    assert imgs[0].get("src") == "real.jpg"
    # prior attrs preserved as data-old-* when conflicting
    assert imgs[0].get("data-old-src") == "placeholder.gif"


# --- clean-styles (readability.lisp:360-372) ---
def test_clean_styles_strips_presentational_attrs():
    body = body_of('<div style="x" align="left" bgcolor="red" data-keep="1"><table width="5" height="2"><tr><td>x</td></tr></table></div>')
    clean_styles(body)
    div = get_elements_by_tag(body, "div")[0]
    assert div.attrs == {"data-keep": "1"}
    table = get_elements_by_tag(body, "table")[0]
    assert "width" not in table.attrs and "height" not in table.attrs


def test_clean_styles_skips_svg():
    body = body_of('<svg style="fill:red"><rect style="x"/></svg>')
    clean_styles(body)
    svg = get_elements_by_tag(body, "svg")[0]
    assert svg.get("style") == "fill:red"


# --- clean (readability.lisp:382-391) ---
def test_clean_removes_tag_but_keeps_video_embed():
    body = body_of(
        "<div><iframe src='https://www.youtube.com/embed/a'></iframe>"
        "<iframe src='https://ads.example.com/x'></iframe></div>"
    )
    clean_many(body, ("iframe",))
    iframes = get_elements_by_tag(body, "iframe")
    assert len(iframes) == 1
    assert "youtube" in iframes[0].get("src")


# --- clean-conditionally (readability.lisp:442-505) ---
def test_clean_conditionally_removes_link_heavy_div():
    html = (
        "<body><div id='wrap'><div id='nav'>"
        + "".join(f"<a href='/{i}'>link {i}</a> " for i in range(20))
        + "</div></div></body>"
    )
    body = body_of(html)
    clean_conditionally(body, "div", FLAGS_ALL)
    assert not get_elements_by_tag(body, "div")  # weight 0 < 25, density > 0.2


def test_clean_conditionally_keeps_comma_rich_content():
    text = "word, " * 15
    body = body_of(f"<body><div><div id='x'>{text}</div></div></body>")
    clean_conditionally(body, "div", FLAGS_ALL)
    assert get_elements_by_tag(body, "div")


def test_clean_conditionally_negative_class_removed():
    keep = "<p>" + "Real content with plenty of words, commas, and sentences. " * 4 + "</p>"
    body = body_of(
        f"<body><div>{keep}<div class='sidebar'>short text, here</div></div></body>"
    )
    clean_conditionally(body, "div", FLAGS_ALL)
    divs = get_elements_by_tag(body, "div")
    assert len(divs) == 1  # only the wrapper survives (sidebar weight −25 < 0)
    assert "Real content" in divs[0].text_content()


def test_clean_conditionally_input_heavy_form_region():
    keep = "<p>" + "Real content with plenty of words, commas, and sentences. " * 4 + "</p>"
    body = body_of(
        f"<body><div>{keep}<div id='f'><input><input><input>"
        "<p>one paragraph, here</p></div></div></body>"
    )
    clean_conditionally(body, "div", FLAGS_ALL)
    divs = get_elements_by_tag(body, "div")
    assert len(divs) == 1  # inputs(3) > p(1)//3 → #f removed
    assert divs[0].get("id") is None


def test_clean_conditionally_respects_flag_off():
    flags = dict(FLAGS_ALL, clean_conditionally=False)
    body = body_of("<body><div><div class='sidebar'>x, y</div></div></body>")
    clean_conditionally(body, "div", flags)
    assert len(get_elements_by_tag(body, "div")) == 2


def test_clean_conditionally_keeps_data_table():
    rows = "".join(f"<tr><td>{i}</td><td>{i}</td></tr>" for i in range(12))
    body = body_of(f"<body><div><table><thead><tr><th>h</th></tr></thead>{rows}</table></div></body>")
    mark_data_tables(body)
    clean_conditionally(body, "table", FLAGS_ALL)
    assert get_elements_by_tag(body, "table")


def test_clean_conditionally_skips_code_descendants():
    body = body_of("<body><code><div id='in-code'>x</div></code></body>")
    clean_conditionally(body, "div", FLAGS_ALL)
    assert get_elements_by_tag(body, "div")


# --- mark-data-tables (JS _markDataTables) ---
def test_mark_data_tables():
    body = body_of(
        "<body>"
        "<table id='p' role='presentation'><tr><td>x</td></tr></table>"
        "<table id='s' summary='data'><tr><td>x</td></tr></table>"
        "<table id='c'><caption>cap</caption><tr><td>x</td></tr></table>"
        "<table id='small'><tr><td>x</td></tr></table>"
        "</body>"
    )
    mark_data_tables(body)
    t = {tb.get("id"): tb.data_table for tb in get_elements_by_tag(body, "table")}
    assert t == {"p": False, "s": True, "c": True, "small": False}


# --- fix-relative-urls (readability.lisp:182-221) ---
def test_fix_relative_urls():
    body = body_of(
        '<div><a href="/page">rel</a><a href="#frag">frag</a>'
        '<img src="img/pic.png"><img srcset="a.png 1x, b/c.png 2x"></div>'
    )
    fix_relative_urls(body, "https://example.com/articles/post.html")
    a_rel, a_frag = get_elements_by_tag(body, "a")
    assert a_rel.get("href") == "https://example.com/page"
    assert a_frag.get("href") == "#frag"
    img1, img2 = get_elements_by_tag(body, "img")
    assert img1.get("src") == "https://example.com/articles/img/pic.png"
    assert img2.get("srcset") == (
        "https://example.com/articles/a.png 1x, https://example.com/articles/b/c.png 2x"
    )


def test_fix_relative_urls_javascript_link_to_text():
    body = body_of('<div><a href="javascript:void(0)">click me</a></div>')
    fix_relative_urls(body, "https://example.com/")
    assert not get_elements_by_tag(body, "a")
    assert "click me" in body.text_content()


def test_fix_relative_urls_javascript_link_with_children_to_span():
    body = body_of('<div><a href="javascript:x()"><b>go</b> now</a></div>')
    fix_relative_urls(body, "https://example.com/")
    assert not get_elements_by_tag(body, "a")
    span = get_elements_by_tag(body, "span")[0]
    assert span.text_content() == "go now"


def test_fix_relative_urls_no_base_noop():
    body = body_of('<div><a href="/page">rel</a></div>')
    fix_relative_urls(body, None)
    assert get_elements_by_tag(body, "a")[0].get("href") == "/page"


def test_fix_relative_urls_moved_base_resolves_hash():
    """JS _fixRelativeUris: '#frag' is untouched ONLY when baseURI ==
    documentURI; a <base href> that moved the base resolves it."""
    body = body_of('<div><a href="#frag">frag</a></div>')
    fix_relative_urls(
        body,
        "https://cdn.example.net/v2/",
        "https://example.com/post.html",
    )
    assert (
        get_elements_by_tag(body, "a")[0].get("href")
        == "https://cdn.example.net/v2/#frag"
    )


def test_document_base_uri_rules():
    """HTML-spec base resolution: first <base> with an href wins; a
    relative base href resolves against the page URL; an href-less
    <base> is skipped; no <base> → the page URL itself."""
    from cl_readability_spark.core.dom import parse_html
    from cl_readability_spark.core.extract import _document_base_uri

    page = "https://example.com/articles/post.html"
    doc = parse_html(
        "<html><head><base target='_top'>"
        "<base href='../static/'><base href='https://other.example/'>"
        "</head><body></body></html>",
        None,
    )
    assert _document_base_uri(doc, page) == "https://example.com/static/"
    doc2 = parse_html("<html><head></head><body></body></html>", None)
    assert _document_base_uri(doc2, page) == page
    doc3 = parse_html(
        "<html><head><base href='https://cdn.example.net/a/'></head>"
        "<body></body></html>",
        None,
    )
    assert _document_base_uri(doc3, None) == "https://cdn.example.net/a/"


# --- simplify-nested-elements (readability.lisp:223-243) ---
def test_simplify_nested_elements_hoists_single_child():
    body = body_of('<div id="outer" data-a="1"><div id="inner"><p>x</p></div></div>')
    simplify_nested_elements(body)
    divs = get_elements_by_tag(body, "div")
    assert len(divs) == 1
    # JS copies the outer node's attrs OVER the child's before replacing
    assert divs[0].get("id") == "outer"
    assert divs[0].get("data-a") == "1"
    assert get_elements_by_tag(divs[0], "p")[0].text_content() == "x"


def test_simplify_nested_elements_removes_empty():
    body = body_of("<div><section>  </section><p>x</p></div>")
    simplify_nested_elements(body)
    assert not get_elements_by_tag(body, "section")


def test_simplify_nested_elements_keeps_readability_ids():
    body = body_of('<div id="readability-page-1"><div><p>x</p></div></div>')
    simplify_nested_elements(body)
    assert get_elements_by_tag(body, "div")


# --- clean-classes (readability.lisp:166-180) ---
def test_clean_classes():
    body = body_of('<div class="a keep b"><p class="x">t</p></div>')
    clean_classes(body, frozenset(["keep"]))
    div = get_elements_by_tag(body, "div")[0]
    assert div.get("class") == "keep"
    assert get_elements_by_tag(body, "p")[0].get("class") is None


# --- get-article-title (readability.lisp:245-293) ---
@pytest.mark.parametrize(
    "title,extra,expected",
    [
        # separator split keeps first part when ≥3 words
        ("The Longest Article Ever Written | Some Site", "", "The Longest Article Ever Written"),
        # ≤4-word result reverts to the original (JS word-count guard)
        ("My Great Article | Example Site", "", "My Great Article | Example Site"),
        # colon split takes the part after the last colon
        ("Example Site: The Longest Article Ever Written", "", "The Longest Article Ever Written"),
        # short title falls back to the single h1
        ("Tiny", "<h1>The Real Heading Of This Article</h1>", "The Real Heading Of This Article"),
    ],
)
def test_get_article_title(title, extra, expected):
    doc = parse_html(f"<html><head><title>{title}</title></head><body>{extra}<p>x</p></body></html>")
    assert get_article_title(doc) == expected


# --- byline via full extract (readability-plump.lisp:128-135) ---
LONG_P = (
    "<p>"
    + "This paragraph carries the actual article content, with commas, length, "
    "and sentences enough to win the candidate scoring outright. " * 5
    + "</p>"
)


def test_extract_byline_rel_author():
    html = (
        "<html><body><div id='main'>"
        '<div rel="author">John Q. Writer</div>'
        + LONG_P * 3
        + "</div></body></html>"
    )
    r = extract(html)
    assert r.status == "ok"
    assert r.byline == "John Q. Writer"
    assert "John Q. Writer" not in (r.extracted_text or "")


def test_extract_byline_class_regex():
    html = (
        "<html><body><div id='main'>"
        '<div class="byline">Jane Reporter</div>'
        + LONG_P * 3
        + "</div></body></html>"
    )
    r = extract(html)
    assert r.byline == "Jane Reporter"


# --- retry loop (globals.lisp:74-86) ---
def test_retry_loop_relaxes_flags_for_short_unlikely_article():
    # all content is inside class="sidebar" (unlikely) — first pass strips it,
    # retry without strip-unlikelys recovers it
    html = (
        "<html><body><div class='sidebar'>"
        + LONG_P * 3
        + "</div></body></html>"
    )
    r = extract(html)
    assert r.status == "ok"
    assert r.retries >= 1
    assert "actual article content" in r.extracted_text


def test_short_doc_keeps_best_attempt():
    html = "<html><body><p>Tiny but real content, with a comma.</p></body></html>"
    r = extract(html)
    assert r.status == "ok"
    assert r.retries == 3  # exhausted all three flags
    assert "Tiny but real" in r.extracted_text


# --- content spans invariants ---
def test_spans_cover_blocks():
    html = "<html><body><div id='m'>" + LONG_P * 4 + "</div></body></html>"
    r = extract(html)
    assert r.status == "ok"
    assert r.content_spans
    text = r.extracted_text
    for start, end in r.content_spans:
        assert 0 <= start <= end <= len(text)
    # spans non-overlapping, ordered
    for (s1, e1), (s2, e2) in zip(r.content_spans, r.content_spans[1:]):
        assert e1 <= s2


def test_extract_never_raises_on_junk():
    for junk in ["", "<", "<<<>>>", "</div></div>", "<p " + "a" * 10000, "\x00\x01", None]:
        r = extract(junk if junk is not None else "")
        assert r.status in ("ok", "no_content", "error")
