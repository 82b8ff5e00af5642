"""Main-content extraction — the full grab-article algorithm.

Faithful to the reference where it implements a step (constants cataloged in
SURVEY.md §1-2; e.g. score base table readability-plump.lisp:161-190, strip
gates readability-plump.lisp:202-261, cleaning battery readability.lisp:
351-630) and to the Readability.js semantics its TODOs cite where it does not
(top-candidate selection / sibling merge / retry loop — TODO markers at
readability-plump.lisp:256,259; byline+header-dup at :214-215; metadata at
:330-341).  Deviations resolved per SURVEY.md §2.9 (always toward JS).

Pure Python, no Spark imports: this module is the body of the vectorized UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace as dc_replace
from urllib.parse import urljoin

from cl_readability_spark.core import regexes as R
from cl_readability_spark.core.config import (
    ALTER_TO_DIV_EXCEPTIONS,
    DEPRECATED_SIZE_ATTRIBUTE_ELEMS,
    DEFAULT_CONFIG,
    ExtractorConfig,
    PRESENTATIONAL_ATTRIBUTES,
    TAGS_TO_SCORE,
    UNLIKELY_ROLES,
)
from cl_readability_spark.core.dom import (
    Document,
    Element,
    Text,
    TooManyElementsError,
    get_elements_by_tag,
    get_next_node,
    has_ancestor_tag,
    iter_elements,
    next_node_skip_ws,
    node_next_sibling,
    parse_html,
    remove_and_get_next,
    set_node_tag,
)
from cl_readability_spark.core.text import (
    get_class_weight,
    get_inner_text,
    get_link_density,
    get_text_density,
    has_child_block_element,
    has_single_tag_inside,
    is_element_without_content,
    is_phrasing_content,
    is_probably_visible,
    is_single_image,
    is_video_embed,
    is_whitespace,
    text_similarity,
    word_count,
)

# Readability.js REGEXPS.commas (the reference counts ASCII commas only,
# readability-plump.lisp:174 — identical on ASCII input; JS superset wins
# per fixture rule)
COMMAS = re.compile("[,،﹐︐︑⹁⸴⸲，]")


# every value ExtractResult.status takes; the resume job's batch report
# tallies exactly these
STATUSES = ("ok", "no_content", "too_many_elements", "error")


@dataclass
class ExtractResult:
    """Mirror of nparse's multiple values (readability-plump.lisp:347-358)
    plus the north-star output columns and per-row metrics."""

    status: str = "ok"  # one of STATUSES
    extracted_text: str | None = None
    extracted_html: str | None = None
    content_spans: list[tuple[int, int]] = field(default_factory=list)
    title: str | None = None
    byline: str | None = None
    excerpt: str | None = None
    site_name: str | None = None
    published_time: str | None = None
    dir: str | None = None  # article text direction (JS _articleDir)
    lang: str | None = None
    text_length: int = 0
    candidates_scored: int = 0
    retries: int = 0
    chars_in: int = 0
    chars_kept: int = 0
    error: str | None = None


# ---------------------------------------------------------------------------
# bulk helpers (Readability._removeNodes / _replaceNodeTags,
# readability.lisp:143-164)
# ---------------------------------------------------------------------------

def _remove_nodes(nodes: list[Element], pred=None) -> None:
    # reverse order so children are judged before their parents are removed
    # (readability.lisp:446 reverse-iteration note)
    for node in reversed(nodes):
        if node.parent is not None:
            if pred is None or pred(node):
                node.detach()


def _replace_node_tags(nodes: list[Element], tag: str) -> None:
    for node in nodes:
        set_node_tag(node, tag)


def _clone(node, parent=None):
    if isinstance(node, Text):
        t = Text(node.data)
        t.parent = parent
        return t
    el = Element(node.tag, dict(node.attrs))
    el.parent = parent
    kids = [_clone(c, el) for c in node.children]
    for i, c in enumerate(kids):
        c._pos = i
    el.children = kids
    return el


# ---------------------------------------------------------------------------
# Pre-passes (SURVEY §2.3 #39-42)
# ---------------------------------------------------------------------------

def remove_scripts(doc: Element) -> None:
    """readability.lisp:626-630 — drop <script> and <noscript>."""
    _remove_nodes(get_elements_by_tag(doc, "script", "noscript"))


def unwrap_noscript_images(doc: Document) -> None:
    """Readability._unwrapNoscriptImages (readability.lisp:577-624).

    Our parser materializes <noscript> content as real elements (it is raw
    text only in scripting-enabled browsers), so the innerHTML round-trip of
    the JS becomes a direct child move."""
    for img in reversed(get_elements_by_tag(doc, "img")):
        keep = False
        for name, value in img.attrs.items():
            if name in ("src", "srcset", "data-src", "data-srcset"):
                keep = True
                break
            if R.IMAGE_EXT.search(value):
                keep = True
                break
        if not keep:
            img.detach()

    for noscript in get_elements_by_tag(doc, "noscript"):
        tmp = Element("div")
        for c in list(noscript.children):
            tmp.append_child(c)
        if not is_single_image(tmp):
            # put children back (we only borrowed them for the check)
            for c in list(tmp.children):
                noscript.append_child(c)
            continue
        prev = noscript.previous_element_sibling
        if prev is not None and is_single_image(prev):
            prev_img = prev if prev.tag == "img" else get_elements_by_tag(prev, "img")[0]
            new_img = get_elements_by_tag(tmp, "img")
            new_img = tmp if tmp.tag == "img" else (new_img[0] if new_img else None)
            if new_img is None:
                continue
            for name, value in list(prev_img.attrs.items()):
                if value == "":
                    continue
                if name in ("src", "srcset") or R.IMAGE_EXT.search(value):
                    if new_img.get(name) == value:
                        continue
                    attr_name = name
                    if name in new_img.attrs:
                        attr_name = "data-old-" + name
                    new_img.set(attr_name, value)
            first = tmp.first_element_child
            if first is not None and noscript.parent is not None:
                noscript.parent.replace_child(first, prev)


def replace_brs(elem: Element) -> None:
    """Readability._replaceBrs (readability.lisp:314-349): runs of 2+ <br>
    become a <p> that swallows following phrasing content.  The ref's broken
    `(set-tag-name )` branch at readability.lisp:339 is implemented with the
    JS semantics: a new <p> whose parent is a <p> retags the parent to
    <div>."""
    for br in get_elements_by_tag(elem, "br"):
        if br.parent is None:
            continue
        nxt = node_next_sibling(br)
        replaced = False
        nxt = next_node_skip_ws(nxt)
        while nxt is not None and isinstance(nxt, Element) and nxt.tag == "br":
            replaced = True
            sib = node_next_sibling(nxt)
            nxt.detach()
            nxt = next_node_skip_ws(sib)
        if replaced:
            p = Element("p")
            br.parent.replace_child(p, br)
            nxt = p.next_sibling
            while nxt is not None:
                if isinstance(nxt, Element) and nxt.tag == "br":
                    next_elem = next_node_skip_ws(node_next_sibling(nxt))
                    if isinstance(next_elem, Element) and next_elem.tag == "br":
                        break
                if not is_phrasing_content(nxt):
                    break
                sibling = node_next_sibling(nxt)
                p.append_child(nxt)
                nxt = sibling
            while p.last_child is not None and is_whitespace(p.last_child):
                p.children[-1].detach()
            if p.parent is not None and p.parent.tag == "p":
                set_node_tag(p.parent, "div")


def prepare_document(doc: Document) -> None:
    """Readability._prepDocument (readability.lisp:351-358)."""
    _remove_nodes(get_elements_by_tag(doc, "style"))
    body = doc.body
    if body is not None:
        replace_brs(body)
    _replace_node_tags(get_elements_by_tag(doc, "font"), "span")


# ---------------------------------------------------------------------------
# Metadata (SURVEY §2.5 #58)
# ---------------------------------------------------------------------------

def get_article_title(doc: Document) -> str:
    """Readability._getArticleTitle (readability.lisp:245-293)."""
    cur = orig = ""
    titles = get_elements_by_tag(doc, "title")
    if titles:
        cur = orig = get_inner_text(titles[0])
    title_had_hierarchical_separators = False

    if R.TITLE_SEPARATOR.search(cur):
        title_had_hierarchical_separators = bool(
            R.TITLE_HIERARCHICAL_SEPARATOR.search(cur)
        )
        cur = R.TITLE_FIRST_PART.sub(r"\1", orig)
        if word_count(cur) < 3:
            cur = R.TITLE_LAST_PART.sub(r"\1", orig)
    elif ": " in cur:
        trimmed = cur.strip()
        match = any(
            h.text_content().strip() == trimmed
            for h in get_elements_by_tag(doc, "h1", "h2")
        )
        if not match:
            idx = orig.rfind(":")
            cur = orig[idx + 1:]
            if word_count(cur) < 3:
                cur = orig[orig.find(":") + 1:]
            elif word_count(orig[: orig.find(":")]) > 5:
                cur = orig
    elif len(cur) > 150 or len(cur) < 15:
        h_ones = get_elements_by_tag(doc, "h1")
        if len(h_ones) == 1:
            cur = get_inner_text(h_ones[0])

    cur = R.NORMALIZE.sub(" ", cur.strip())
    cur_wc = word_count(cur)
    if cur_wc <= 4 and (
        not title_had_hierarchical_separators
        or cur_wc != word_count(R.TITLE_ANY_SEPARATOR.sub("", orig)) - 1
    ):
        cur = orig
    return cur


def _check_byline(node: Element, match_string: str, state: dict) -> bool:
    """Readability._checkByline (get-byline, readability-plump.lisp:128-135;
    first-found wins per JS)."""
    if state.get("byline"):
        return False
    attrs = node.attrs
    rel = attrs.get("rel")
    itemprop = attrs.get("itemprop")
    if (
        rel == "author"
        or (itemprop is not None and "author" in itemprop)
        or R.BYLINE.search(match_string)
    ):
        text = node.text_content().strip()
        if 0 < len(text) < 100:
            state["byline"] = text
            return True
    return False


def _header_duplicates_title(node: Element, state: dict) -> bool:
    """Readability._headerDuplicatesTitle (TODO at readability-plump.lisp:215,
    implemented from JS)."""
    if node.tag not in ("h1", "h2"):
        return False
    title = state.get("title") or ""
    if not title:
        return False
    heading = get_inner_text(node, False)
    return bool(heading) and text_similarity(title, heading) > 0.75


# ---------------------------------------------------------------------------
# Scoring (SURVEY §2.4 #54)
# ---------------------------------------------------------------------------

def _initialize_node(node: Element, weight_classes: bool) -> None:
    """Readability._initializeNode — exact base table of
    readability-plump.lisp:166-172: div +5; pre/td/blockquote +3;
    address/ol/ul/dl/dd/dt/li/form −3; h1-h6/th −5; + class weight."""
    tag = node.tag
    if tag == "div":
        score = 5.0
    elif tag in ("pre", "td", "blockquote"):
        score = 3.0
    elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
        score = -3.0
    elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
        score = -5.0
    else:
        score = 0.0
    node.score = score + get_class_weight(node, weight_classes)


def _get_node_ancestors(node: Element, max_depth: int = 0) -> list[Element]:
    """Readability._getNodeAncestors (recursive-parents twin,
    readability-plump.lisp:137-144; JS depth semantics)."""
    ancestors: list[Element] = []
    i = 0
    while node.parent is not None:
        ancestors.append(node.parent)
        i += 1
        if max_depth and i == max_depth:
            break
        node = node.parent
    return ancestors


# ---------------------------------------------------------------------------
# grab-article (SURVEY §2.4 #56 — completed from the JS semantics the
# TODOs at readability-plump.lisp:256,259 cite)
# ---------------------------------------------------------------------------

def grab_article(
    doc: Document,
    cfg: ExtractorConfig,
    state: dict,
    rebuild=None,
) -> Element | None:
    page = doc.body
    if page is None:
        return None

    state.setdefault("cfg", cfg)
    flags = {
        "strip_unlikelys": cfg.strip_unlikelys,
        "weight_classes": cfg.weight_classes,
        "clean_conditionally": cfg.clean_conditionally,
    }
    # Pristine-body cache for the retry restores (JS: page.innerHTML kept as
    # a string).  When the caller can re-derive the pre-grab body (extract()
    # passes ``rebuild`` = fresh parse + the deterministic pre-passes), the
    # cache is built LAZILY on first retry — most documents succeed on the
    # first attempt and never pay for it.
    page_cache = None if rebuild is not None else [_clone(c) for c in page.children]
    attempts: list[tuple[Element, int]] = []

    while True:
        article = _grab_article_once(doc, page, flags, state)
        text_len = (
            len(get_inner_text(article, True)) if article is not None else 0
        )
        if article is not None and text_len >= cfg.char_threshold:
            return article

        if article is not None:
            attempts.append((article, text_len))
        if flags["strip_unlikelys"]:
            flags["strip_unlikelys"] = False
        elif flags["weight_classes"]:
            flags["weight_classes"] = False
        elif flags["clean_conditionally"]:
            flags["clean_conditionally"] = False
        else:
            # keep the longest attempt (JS sorts attempts by textLength desc)
            if not attempts:
                return None
            attempts.sort(key=lambda a: a[1], reverse=True)
            if attempts[0][1] == 0:
                return None
            return attempts[0][0]
        state["retries"] = state.get("retries", 0) + 1
        # restore the body for the next attempt (JS: page.innerHTML = cache);
        # done only when another attempt actually runs
        if page_cache is None:
            page_cache = rebuild()
        page.children = []
        if not (
            flags["strip_unlikelys"]
            or flags["weight_classes"]
            or flags["clean_conditionally"]
        ):
            # final attempt — no further restore can happen, so the cache
            # can be MOVED in instead of cloned
            for c in page_cache:
                c.parent = page
                c._pos = len(page.children)
                page.children.append(c)
        else:
            for c in page_cache:
                page.append_child(_clone(c))


def _grab_article_once(
    doc: Document, page: Element, flags: dict, state: dict
) -> Element | None:
    strip_unlikely = flags["strip_unlikelys"]
    weight_classes = flags["weight_classes"]
    elements_to_score: list[Element] = []

    # *visibility-checker* hook (globals.lisp:32-33): config override,
    # defaulting to _isProbablyVisible
    visible = state["cfg"].visibility_checker or is_probably_visible

    # --- strip + rewrap pass (readability-plump.lisp:202-255 gates,
    #     JS _grabArticle traversal) ---
    node: Element | None = doc.html
    while node is not None:
        if node.tag == "html":
            state.setdefault("lang", node.get("lang"))

        attrs = node.attrs
        match_string = attrs.get("class", "") + " " + attrs.get("id", "")

        if not visible(node):
            node = remove_and_get_next(node)
            continue
        if attrs.get("aria-modal") == "true" and attrs.get("role") == "dialog":
            node = remove_and_get_next(node)
            continue
        if _check_byline(node, match_string, state):
            node = remove_and_get_next(node)
            continue
        if _header_duplicates_title(node, state):
            node = remove_and_get_next(node)
            continue
        if strip_unlikely:
            if (
                R.UNLIKELY_CANDIDATES.search(match_string)
                and not R.MAYBE_CANDIDATE.search(match_string)
                and not has_ancestor_tag(node, "table")
                and not has_ancestor_tag(node, "code")
                and node.tag not in ("body", "a")
            ):
                node = remove_and_get_next(node)
                continue
            if attrs.get("role") in UNLIKELY_ROLES:
                node = remove_and_get_next(node)
                continue
        if node.tag in (
            "div", "section", "header", "h1", "h2", "h3", "h4", "h5", "h6",
        ) and is_element_without_content(node):
            node = remove_and_get_next(node)
            continue

        if node.tag in TAGS_TO_SCORE:
            elements_to_score.append(node)

        if node.tag == "div":
            # wrap stray phrasing children into <p> (the ref's reduce at
            # readability-plump.lisp:234-248 is buggy — JS loop semantics)
            p: Element | None = None
            child = node.first_child
            while child is not None:
                next_sib = node_next_sibling(child)
                if is_phrasing_content(child):
                    if p is not None:
                        p.append_child(child)
                    elif not is_whitespace(child):
                        p = Element("p")
                        node.replace_child(p, child)
                        p.append_child(child)
                elif p is not None:
                    while p.last_child is not None and is_whitespace(p.last_child):
                        p.children[-1].detach()
                    p = None
                child = next_sib

            if has_single_tag_inside(node, "p") and get_link_density(node) < 0.25:
                new_node = node.element_children[0]
                node.parent.replace_child(new_node, node)
                node = new_node
                elements_to_score.append(node)
            elif not has_child_block_element(node):
                node = set_node_tag(node, "p")
                elements_to_score.append(node)

        node = get_next_node(node)

    # --- score paragraphs, propagate to ancestors ÷(1, 2, 3·level)
    #     (constants of readability-plump.lisp:178-188, JS direction) ---
    candidates: list[Element] = []
    for el in elements_to_score:
        if el.parent is None or not isinstance(el.parent, Element):
            continue
        inner_text = get_inner_text(el)
        if len(inner_text) < 25:
            continue
        ancestors = _get_node_ancestors(el, 5)
        if not ancestors:
            continue
        content_score = 1.0
        content_score += len(COMMAS.findall(inner_text)) + 1
        content_score += min(len(inner_text) // 100, 3)
        for level, ancestor in enumerate(ancestors):
            if (
                not isinstance(ancestor, Element)
                or ancestor.tag == "#document"
                or ancestor.parent is None
                or not isinstance(ancestor.parent, Element)
                or ancestor.parent.tag == "#document"
            ):
                continue
            if ancestor.score is None:
                _initialize_node(ancestor, weight_classes)
                candidates.append(ancestor)
            if level == 0:
                divider = 1.0
            elif level == 1:
                divider = 2.0
            else:
                divider = level * 3.0
            ancestor.score += content_score / divider

    state["candidates_scored"] = state.get("candidates_scored", 0) + len(candidates)

    # --- top-candidate pool (*max-top-candidates* = 5, globals.lisp:64-68) ---
    top_candidates: list[Element] = []
    n_top = state["cfg"].n_top_candidates
    for candidate in candidates:
        candidate_score = candidate.score * (1 - get_link_density(candidate))
        candidate.score = candidate_score
        for t in range(n_top):
            if t >= len(top_candidates) or candidate_score > top_candidates[t].score:
                top_candidates.insert(t, candidate)
                if len(top_candidates) > n_top:
                    top_candidates.pop()
                break

    top_candidate = top_candidates[0] if top_candidates else None
    needed_to_create_top_candidate = False

    if top_candidate is None or top_candidate.tag == "body":
        top_candidate = Element("div")
        needed_to_create_top_candidate = True
        for c in list(page.children):
            top_candidate.append_child(c)
        page.append_child(top_candidate)
        _initialize_node(top_candidate, weight_classes)
    else:
        # alternative-ancestor consensus (JS MINIMUM_TOPCANDIDATES = 3)
        alternative_ancestors = [
            _get_node_ancestors(tc)
            for tc in top_candidates[1:]
            if tc.score / top_candidate.score >= 0.75
        ]
        if len(alternative_ancestors) >= 3:
            parent = top_candidate.parent
            while parent is not None and parent.tag != "body":
                count = sum(1 for lst in alternative_ancestors if parent in lst)
                if count >= 3:
                    top_candidate = parent
                    break
                parent = parent.parent
        if top_candidate.score is None:
            _initialize_node(top_candidate, weight_classes)

        # parent-climb: better-scored ancestors within threshold
        parent = top_candidate.parent
        last_score = top_candidate.score
        score_threshold = last_score / 3.0
        while parent is not None and parent.tag not in ("body", "#document"):
            if parent.score is None:
                parent = parent.parent
                continue
            if parent.score < score_threshold:
                break
            if parent.score > last_score:
                top_candidate = parent
                break
            last_score = parent.score
            parent = parent.parent

        # single-child hoist
        parent = top_candidate.parent
        while (
            parent is not None
            and parent.tag not in ("body", "#document")
            and len(parent.element_children) == 1
        ):
            top_candidate = parent
            parent = top_candidate.parent
        if top_candidate.score is None:
            _initialize_node(top_candidate, weight_classes)

    # --- sibling merge (threshold max(10, 0.2·topScore)) ---
    article_content = Element("div")
    sibling_threshold = max(10.0, top_candidate.score * 0.2)
    parent_of_top = top_candidate.parent
    siblings = list(parent_of_top.element_children) if parent_of_top else [top_candidate]
    for sibling in siblings:
        append = False
        if sibling is top_candidate:
            append = True
        else:
            content_bonus = 0.0
            if (
                sibling.class_name == top_candidate.class_name
                and top_candidate.class_name != ""
            ):
                content_bonus += top_candidate.score * 0.2
            if sibling.score is not None and (
                sibling.score + content_bonus >= sibling_threshold
            ):
                append = True
            elif sibling.tag == "p":
                link_density = get_link_density(sibling)
                node_content = get_inner_text(sibling)
                node_length = len(node_content)
                if node_length > 80 and link_density < 0.25:
                    append = True
                elif (
                    node_length < 80
                    and node_length > 0
                    and link_density == 0
                    and R.SENTENCE_DOT.search(node_content)
                ):
                    append = True
        if append:
            if sibling.tag not in ALTER_TO_DIV_EXCEPTIONS:
                sibling = set_node_tag(sibling, "div")
            article_content.append_child(sibling)

    # article direction: first dir attr on parentOfTopCandidate, topCandidate,
    # or the parent's ancestors (JS captures the parent BEFORE the sibling
    # merge reparents topCandidate into articleContent)
    dir_nodes = [parent_of_top, top_candidate]
    if parent_of_top is not None:
        dir_nodes += _get_node_ancestors(parent_of_top)
    for anc in dir_nodes:
        if (
            isinstance(anc, Element)
            and anc.tag != "#document"
            and anc.get("dir")
        ):
            state["dir"] = anc.get("dir")
            break

    # --- post-grab cleanup battery runs before the length check (JS) ---
    prep_article(article_content, top_candidate, flags, state)

    if needed_to_create_top_candidate:
        top_candidate.set("id", "readability-page-1")
        top_candidate.set("class", "page")
    else:
        div = Element("div")
        div.set("id", "readability-page-1")
        div.set("class", "page")
        for c in list(article_content.children):
            div.append_child(c)
        article_content.append_child(div)

    return article_content


# ---------------------------------------------------------------------------
# prep-article battery (SURVEY §2.3 #43-52)
# ---------------------------------------------------------------------------

_PRESENTATIONAL_SET = frozenset(PRESENTATIONAL_ATTRIBUTES)


def clean_styles(e: Element) -> None:
    """Readability._cleanStyles (readability.lisp:360-372).  Iterative, and
    scans the (usually tiny) present-attribute set against the removal set
    rather than probing all 12 removal names per element."""
    stack = [e]
    while stack:
        el = stack.pop()
        if el.tag == "svg":
            continue
        attrs = el.attrs
        if attrs:
            drop = [a for a in attrs if a in _PRESENTATIONAL_SET]
            for a in drop:
                del attrs[a]
            if el.tag in DEPRECATED_SIZE_ATTRIBUTE_ELEMS:
                attrs.pop("width", None)
                attrs.pop("height", None)
        for child in el.children:
            if child.tag is not None:
                stack.append(child)


def _get_row_and_column_count(table: Element) -> tuple[int, int]:
    rows = 0
    columns = 0
    for tr in get_elements_by_tag(table, "tr"):
        try:
            rowspan = int(tr.get("rowspan") or 1)
        except ValueError:
            rowspan = 1
        rows += rowspan
        cols_in_row = 0
        for cell in get_elements_by_tag(tr, "td"):
            try:
                colspan = int(cell.get("colspan") or 1)
            except ValueError:
                colspan = 1
            cols_in_row += colspan
        columns = max(columns, cols_in_row)
    return rows, columns


def mark_data_tables(root: Element) -> None:
    """Readability._markDataTables (TODO at readability.lisp:541, JS
    semantics)."""
    for table in get_elements_by_tag(root, "table"):
        if table.get("role") == "presentation":
            table.data_table = False
            continue
        if table.get("datatable") == "0":
            table.data_table = False
            continue
        if table.get("summary"):
            table.data_table = True
            continue
        captions = get_elements_by_tag(table, "caption")
        if captions and captions[0].children:
            table.data_table = True
            continue
        if any(
            get_elements_by_tag(table, t)
            for t in ("col", "colgroup", "tfoot", "thead", "th")
        ):
            table.data_table = True
            continue
        if get_elements_by_tag(table, "table"):
            table.data_table = False
            continue
        rows, columns = _get_row_and_column_count(table)
        if rows >= 10 or columns > 4:
            table.data_table = True
            continue
        table.data_table = rows * columns > 10


def fix_lazy_images(root: Element) -> None:
    """Readability._fixLazyImages (TODO at readability.lisp:541-548, JS)."""
    for elem in get_elements_by_tag(root, "img", "picture", "figure"):
        src = elem.get("src") or ""
        m = R.B64_DATA_URL.match(src)
        if m:
            if m.group(1) == "image/svg+xml":
                continue
            src_could_be_removed = False
            for name, value in elem.attrs.items():
                if name == "src":
                    continue
                if R.IMAGE_EXT.search(value or ""):
                    src_could_be_removed = True
                    break
            if src_could_be_removed:
                b64_start = src.lower().find("base64") + 7
                if len(src) - b64_start < 133:
                    elem.remove_attr("src")
        if (elem.get("src") or elem.get("srcset")) and "lazy" not in elem.class_name.lower():
            continue
        for name, value in list(elem.attrs.items()):
            if name in ("src", "srcset", "alt"):
                continue
            copy_to = None
            if R.LAZY_IMAGE_VALUE.search(value or ""):
                copy_to = "srcset"
            elif R.LAZY_IMAGE_SINGLE.match(value or ""):
                copy_to = "src"
            if copy_to:
                if elem.tag in ("img", "picture"):
                    elem.set(copy_to, value)
                elif elem.tag == "figure" and not get_elements_by_tag(
                    elem, "img", "picture"
                ):
                    img = Element("img")
                    img.set(copy_to, value)
                    elem.append_child(img)


def clean_many(e: Element, tags: tuple[str, ...]) -> None:
    """Readability._clean (readability.lisp:382-391) over several tags in
    one tree scan: drop every ``tags`` element, keeping allowed video
    embeds.  Fusing adjacent _clean calls keeps their semantics — removals
    of distinct tags don't interact (JS _removeNodes skips
    already-detached nodes the same way)."""

    def pred(node: Element) -> bool:
        if node.tag in ("object", "embed", "iframe") and is_video_embed(node):
            return False
        return True

    _remove_nodes(get_elements_by_tag(e, *tags), pred)


def clean_matched_nodes(e: Element, filter_fn) -> None:
    """Readability._cleanMatchedNodes (share-element cleanup, TODO at
    readability.lisp:541-548)."""
    end_marker = get_next_node(e, ignore_self_and_kids=True)
    nxt = get_next_node(e)
    while nxt is not None and nxt is not end_marker:
        if filter_fn(nxt, nxt.class_name + " " + nxt.id):
            nxt = remove_and_get_next(nxt)
        else:
            nxt = get_next_node(nxt)


def clean_headers(e: Element, weight_classes: bool) -> None:
    """Readability._cleanHeaders (readability.lisp:507-514)."""
    _remove_nodes(
        get_elements_by_tag(e, "h1", "h2"),
        lambda node: get_class_weight(node, weight_classes) < 0,
    )


def clean_conditionally(
    e: Element, tag: str, flags: dict
) -> None:
    """Readability._cleanConditionally (readability.lisp:442-505) with the
    JS 7-clause haveToRemove rule (the ref collapsed the weight clause —
    SURVEY §2.9 readability.lisp:496-499) and the li−100 literal
    (readability.lisp:454)."""
    if not flags["clean_conditionally"]:
        return
    weight_classes = flags["weight_classes"]

    def pred(node: Element) -> bool:
        # one inner-text computation per node (it is re-used 4×: list ratio,
        # comma gate, content length, density denominators)
        node_text = get_inner_text(node)

        if tag == "table" and node.data_table:
            return False
        if has_ancestor_tag(node, "table", -1, lambda t: t.data_table):
            return False
        if has_ancestor_tag(node, "code"):
            return False

        weight = get_class_weight(node, weight_classes)
        if weight < 0:
            return True

        # Comma-rich nodes (the common case for real article containers) are
        # kept without ANY subtree scan: every stat below — including the
        # ul/ol list-ratio — is consumed only inside this branch, so the JS
        # order (which computes the ratio upfront) is observationally
        # identical but pays 1-8 extra full-subtree scans per node.
        if node_text.count(",") < 10:
            # ONE subtree traversal gathers every per-tag stat the 7-clause
            # rule needs (the naive form is up to 8 separate scans).  Same
            # document order as get_elements_by_tag, so the
            # first-video-embed early exit is unchanged.
            p = img = li_raw = inputs = 0
            lists: list[Element] = []
            headings: list[Element] = []
            embeds: list[Element] = []
            anchors: list[Element] = []
            stack = list(reversed(node.children))
            while stack:
                n = stack.pop()
                if n.tag is not None:
                    t = n.tag
                    if t == "p":
                        p += 1
                    elif t == "img":
                        img += 1
                    elif t == "li":
                        li_raw += 1
                    elif t == "input":
                        inputs += 1
                    elif t == "ul" or t == "ol":
                        lists.append(n)
                    elif t in ("h1", "h2", "h3", "h4", "h5", "h6"):
                        headings.append(n)
                    elif t in ("object", "embed", "iframe"):
                        embeds.append(n)
                    elif t == "a":
                        anchors.append(n)
                    kids = n.children
                    if kids:
                        stack.extend(reversed(kids))

            is_list = tag in ("ul", "ol")
            if not is_list:
                list_length = sum(len(get_inner_text(lst)) for lst in lists)
                total = len(node_text)
                is_list = total > 0 and list_length / total > 0.9

            li = li_raw - 100
            content_length = len(node_text)
            # _getTextDensity over h1-h6
            heading_density = (
                sum(len(get_inner_text(h, True)) for h in headings) / content_length
                if content_length
                else 0.0
            )
            embed_count = 0
            for embed in embeds:
                for value in embed.attrs.values():
                    if R.VIDEOS.search(value):
                        return False
                if embed.tag == "object" and R.VIDEOS.search(embed.inner_html()):
                    return False
                embed_count += 1
            # _getLinkDensity (0.3 '#'-href discount, empty-href guard)
            if content_length == 0:
                link_density = 0.0
            else:
                link_len = 0.0
                for a in anchors:
                    href = a.get("href") or ""
                    coeff = 0.3 if href.startswith("#") else 1.0
                    link_len += len(get_inner_text(a)) * coeff
                link_density = link_len / content_length
            have_to_remove = (
                (img > 1 and p / img < 0.5 and not has_ancestor_tag(node, "figure"))
                or (not is_list and li > p)
                or (inputs > p // 3)
                or (
                    not is_list
                    and heading_density < 0.9
                    and content_length < 25
                    and (img == 0 or img > 2)
                    and not has_ancestor_tag(node, "figure")
                )
                or (not is_list and weight < 25 and link_density > 0.2)
                or (weight >= 25 and link_density > 0.5)
                or ((embed_count == 1 and content_length < 75) or embed_count > 1)
            )
            # allow simple lists of images (JS)
            if is_list and have_to_remove:
                for child in node.element_children:
                    if len(child.element_children) > 1:
                        return have_to_remove
                if img == li_raw:
                    return False
            return have_to_remove
        return False

    _remove_nodes(get_elements_by_tag(e, tag), pred)


def prep_article(
    article_content: Element, top_candidate: Element, flags: dict, state: dict
) -> None:
    """Readability._prepArticle (readability.lisp:532-575 + the JS-only
    steps: markDataTables, fixLazyImages, share cleanup).

    NB the ref's br-before-p step is inverted (readability.lisp:558-560
    removes a <br> UNLESS followed by <p>); we keep the JS direction —
    remove the <br> WHEN the next element is a <p>."""
    clean_styles(article_content)
    mark_data_tables(article_content)
    fix_lazy_images(article_content)

    clean_conditionally(article_content, "form", flags)
    clean_conditionally(article_content, "fieldset", flags)
    clean_many(article_content, ("object", "embed", "footer", "link", "aside"))

    share_threshold = state["cfg"].char_threshold
    for child in article_content.element_children:
        clean_matched_nodes(
            child,
            lambda node, match_string: bool(R.SHARE_ELEMENTS.search(match_string))
            and len(node.text_content()) < share_threshold,
        )

    clean_many(article_content, ("iframe", "input", "textarea", "select", "button"))
    clean_headers(article_content, flags["weight_classes"])

    clean_conditionally(article_content, "table", flags)
    clean_conditionally(article_content, "ul", flags)
    clean_conditionally(article_content, "div", flags)

    _replace_node_tags(get_elements_by_tag(article_content, "h1"), "h2")

    def empty_paragraph(p: Element) -> bool:
        # fused single walk, early exit — boolean-equivalent to "no
        # img/embed/object/iframe descendant AND no non-whitespace text"
        # (= count==0 and not get_inner_text(p, False))
        stack = list(p.children)
        while stack:
            c = stack.pop()
            t = c.tag
            if t is None:
                if c.data.strip():
                    return False
            else:
                if t in ("img", "embed", "object", "iframe"):
                    return False
                if c.children:
                    stack.extend(c.children)
        return True

    _remove_nodes(get_elements_by_tag(article_content, "p"), empty_paragraph)

    for br in get_elements_by_tag(article_content, "br"):
        if br.parent is None:
            continue
        nxt = next_node_skip_ws(node_next_sibling(br))
        if isinstance(nxt, Element) and nxt.tag == "p":
            br.detach()

    for table in get_elements_by_tag(article_content, "table"):
        tbody = (
            table.first_element_child
            if has_single_tag_inside(table, "tbody")
            else table
        )
        if has_single_tag_inside(tbody, "tr"):
            row = tbody.first_element_child
            if has_single_tag_inside(row, "td"):
                cell = row.first_element_child
                tag = (
                    "p"
                    if all(is_phrasing_content(c) for c in cell.children)
                    else "div"
                )
                cell = set_node_tag(cell, tag)
                if table.parent is not None:
                    table.parent.replace_child(cell, table)


# ---------------------------------------------------------------------------
# post-process (SURVEY §2.3 #47-49, #53)
# ---------------------------------------------------------------------------

def _to_absolute_uri(uri: str, base: str | None, keep_hash: bool = True) -> str:
    if not base or (keep_hash and uri.startswith("#")):
        return uri
    try:
        return urljoin(base, uri)
    except ValueError:
        return uri


def _document_base_uri(doc, document_url: str | None) -> str | None:
    """The document's effective base URI, HTML-spec style: the FIRST
    ``<base>`` element carrying a non-empty href, resolved against the
    document URL (what a browser exposes as ``document.baseURI``, which
    is what Readability.js's ``_fixRelativeUris`` resolves against); no
    such element → the document URL itself."""
    for el in iter_elements(doc):
        if el.tag == "base":
            href = (el.get("href") or "").strip()
            if href:
                try:
                    return urljoin(document_url or "", href) or document_url
                except ValueError:
                    return document_url
            # spec: only the first <base> with an href counts
    return document_url


_SAME_AS_BASE = object()


def fix_relative_urls(
    article_content: Element, base: str | None, document_url=_SAME_AS_BASE
) -> None:
    """Readability._fixRelativeUris (readability.lisp:182-221) + the srcset
    rewrite the ref left TODO (readability.lisp:210-217).

    ``base`` is the resolution base (the browser's baseURI — a ``<base
    href>`` moves it, see ``_document_base_uri``); ``document_url`` is the
    page's own URI.  Per the JS source, in-page hash links (``#frag``) are
    left untouched ONLY when baseURI == documentURI — when a ``<base>``
    changed the base, ``#frag`` resolves against it like any other
    relative URL.  Omitting ``document_url`` means "same as base" (the
    no-<base> case), which keeps hash links alone."""
    keep_hash = document_url is _SAME_AS_BASE or base == document_url
    for link in reversed(get_elements_by_tag(article_content, "a")):
        href = link.get("href")
        if not href or link.parent is None:
            continue
        if href.startswith("javascript:"):
            if len(link.children) == 1 and isinstance(link.children[0], Text):
                text = Text(link.children[0].data)
                link.parent.replace_child(text, link)
            else:
                container = Element("span")
                for c in list(link.children):
                    container.append_child(c)
                link.parent.replace_child(container, link)
        else:
            link.set("href", _to_absolute_uri(href, base, keep_hash))

    for media in get_elements_by_tag(
        article_content, "img", "picture", "figure", "video", "audio", "source"
    ):
        src = media.get("src")
        poster = media.get("poster")
        srcset = media.get("srcset")
        if src:
            media.set("src", _to_absolute_uri(src, base, keep_hash))
        if poster:
            media.set("poster", _to_absolute_uri(poster, base, keep_hash))
        if srcset:
            media.set(
                "srcset",
                R.SRCSET_URL.sub(
                    lambda m: _to_absolute_uri(m.group(1), base, keep_hash)
                    + (m.group(2) or "")
                    + m.group(3),
                    srcset,
                ),
            )


def simplify_nested_elements(article_content: Element) -> None:
    """Readability._simplifyNestedElements (readability.lisp:223-243)."""
    node: Element | None = article_content
    while node is not None:
        if (
            node.parent is not None
            and node.tag in ("div", "section")
            and not node.id.startswith("readability")
        ):
            if is_element_without_content(node):
                node = remove_and_get_next(node)
                continue
            if has_single_tag_inside(node, "div") or has_single_tag_inside(
                node, "section"
            ):
                child = node.element_children[0]
                for name, value in node.attrs.items():
                    child.set(name, value)
                node.parent.replace_child(child, node)
                node = child
                continue
        node = get_next_node(node)


def clean_classes(e: Element, preserved: frozenset[str]) -> None:
    """Readability._cleanClasses (readability.lisp:166-180)."""
    class_name = e.get("class")
    if class_name:
        kept = [c for c in class_name.split() if c in preserved]
        if kept:
            e.set("class", " ".join(kept))
        else:
            e.remove_attr("class")
    else:
        e.remove_attr("class")
    for child in e.element_children:
        clean_classes(child, preserved)


def post_process_content(
    article_content: Element, cfg: ExtractorConfig, base_uri=_SAME_AS_BASE
) -> None:
    """Readability._postProcessContent (readability.lisp:132-140).
    ``base_uri`` is the document's effective base (``_document_base_uri``);
    omitted → the config's document_url (the no-<base> case)."""
    if base_uri is _SAME_AS_BASE:
        base_uri = cfg.document_url
    fix_relative_urls(article_content, base_uri, cfg.document_url)
    simplify_nested_elements(article_content)
    if not cfg.keep_classes:
        clean_classes(article_content, cfg.preserved_classes)


# ---------------------------------------------------------------------------
# Entry point (nparse, readability-plump.lisp:324-359)
# ---------------------------------------------------------------------------

def _build_text_and_spans(article_content: Element) -> tuple[str, list[tuple[int, int]]]:
    """Deterministic output definition (SURVEY §1.5): blocks = the top-level
    children of the readability-page-1 wrapper; extracted_text = their
    normalized inner texts joined by blank lines; spans = [start,end) char
    offsets of each block within extracted_text."""
    page = None
    for el in iter_elements(article_content):
        if el.get("id") == "readability-page-1":
            page = el
            break
    if page is None:
        page = article_content

    parts: list[str] = []
    for child in page.children:
        if isinstance(child, Text):
            t = R.NORMALIZE.sub(" ", child.data.strip())
        else:
            t = get_inner_text(child)
        if t:
            parts.append(t)
    if not parts:
        whole = get_inner_text(page)
        if whole:
            parts = [whole]

    spans: list[tuple[int, int]] = []
    pos = 0
    out: list[str] = []
    for i, part in enumerate(parts):
        if i:
            pos += 2  # the "\n\n" separator
        spans.append((pos, pos + len(part)))
        pos += len(part)
        out.append(part)
    return "\n\n".join(out), spans


def extract(
    html: str,
    url: str | None = None,
    config: ExtractorConfig = DEFAULT_CONFIG,
    include_html: bool = True,
) -> ExtractResult:
    """The flagship path (nparse, readability-plump.lisp:324-359): parse →
    unwrap noscript images → remove scripts → prep document → title/lang →
    grab article (with retry loop) → post-process → text + spans.

    Never raises: poison rows come back with status='error'
    (conditions.lisp → status mapping, SURVEY §2.7)."""
    result = ExtractResult(chars_in=len(html) if html else 0)
    if config.document_url is None and url is not None:
        config = dc_replace(config, document_url=url)
    try:
        doc = parse_html(html or "", config.max_elements)
    except TooManyElementsError as exc:
        result.status = "too_many_elements"
        result.error = str(exc)
        return result
    except Exception as exc:  # noqa: BLE001 — poison row must not kill the job
        result.status = "error"
        result.error = f"{type(exc).__name__}: {exc}"
        return result

    try:
        from cl_readability_spark.core.metadata import (
            get_article_metadata,
            get_json_ld,
        )

        state: dict = {"cfg": config, "retries": 0, "candidates_scored": 0}
        unwrap_noscript_images(doc)
        jsonld = get_json_ld(doc)  # before remove_scripts (JS order)
        remove_scripts(doc)
        prepare_document(doc)
        # read <base href> before grab-article detaches the content from
        # the document (the browser baseURI Readability.js resolves with)
        base_uri = _document_base_uri(doc, config.document_url)

        html_el = doc.html
        if html_el is not None and html_el.get("lang"):
            result.lang = html_el.get("lang")
        metadata = get_article_metadata(doc, jsonld, get_article_title(doc))
        result.title = metadata["title"]
        result.excerpt = metadata["excerpt"]
        result.site_name = metadata["site_name"]
        result.published_time = metadata["published_time"]
        state["title"] = metadata["title"] or ""

        def _rebuild_body_children() -> list:
            # Re-derive the pristine pre-grab body for a retry restore: a
            # fresh parse plus the SAME deterministic pre-passes that ran
            # above (metadata readers in between do not mutate the DOM), so
            # the children returned are value-identical to an eager clone
            # taken before the first attempt (differential-tested).
            d2 = parse_html(html or "", config.max_elements)
            unwrap_noscript_images(d2)
            remove_scripts(d2)
            prepare_document(d2)
            b2 = d2.body
            return list(b2.children) if b2 is not None else []

        article = grab_article(doc, config, state, rebuild=_rebuild_body_children)
        result.retries = state.get("retries", 0)
        result.candidates_scored = state.get("candidates_scored", 0)
        result.byline = metadata["byline"] or state.get("byline")
        result.dir = state.get("dir")
        if result.lang is None:
            result.lang = state.get("lang")

        if article is None:
            result.status = "no_content"
            return result

        post_process_content(article, config, base_uri)

        if not result.excerpt:
            # JS: first paragraph of the article content stands in
            paragraphs = get_elements_by_tag(article, "p")
            if paragraphs:
                result.excerpt = paragraphs[0].text_content().strip() or None

        text, spans = _build_text_and_spans(article)
        result.extracted_text = text
        result.content_spans = spans
        if include_html:
            result.extracted_html = article.serialize()
        result.text_length = len(text)
        result.chars_kept = len(text)
        return result
    except Exception as exc:  # noqa: BLE001
        result.status = "error"
        result.error = f"{type(exc).__name__}: {exc}"
        return result
