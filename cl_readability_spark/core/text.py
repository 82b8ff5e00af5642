"""Text metrics & predicates — the scoring signals (SURVEY.md §2.2).

Constants mirror the reference exactly: link-density ``#``-href 0.3 discount
(readability.lisp:408-423), class-weight ±25 (readability.lisp:425-440),
phrasing-content (readability.lisp:295-306, with the JS child-*nodes*
recursion the ref's FIXME at :301 asks for).
"""

from __future__ import annotations

import re

from cl_readability_spark.core import regexes as R
from cl_readability_spark.core.config import PHRASING_ELEMENTS
from cl_readability_spark.core.dom import Element, Text, get_elements_by_tag


# Readability.REGEXPS.hasContent — a text node "has content" only when it
# ends in a non-space character (JS quirk, kept for parity)
_HAS_CONTENT = re.compile(r"\S$")


def get_inner_text(node, normalize_spaces: bool = True) -> str:
    """Readability._getInnerText (readability.lisp:60-67): trimmed text
    content, whitespace runs collapsed to single spaces."""
    text = (node.text_content() if isinstance(node, Element) else node.data).strip()
    if normalize_spaces:
        return R.NORMALIZE.sub(" ", text)
    return text


def text_length(node) -> int:
    """readability.lisp:68-70."""
    return len(get_inner_text(node))


def word_count(text: str) -> int:
    """utils.lisp:13-16 / JS wordCount: whitespace-split length."""
    return len(text.split())


def get_link_density(element: Element) -> float:
    """Readability._getLinkDensity (readability.lisp:408-423): Σ over <a> of
    text-length × (0.3 if href starts '#' else 1) ÷ total text length.
    Empty-href guard per SURVEY.md §2.9 (the ref errors on empty href)."""
    total = text_length(element)
    if total == 0:
        return 0.0
    link_len = 0.0
    for a in get_elements_by_tag(element, "a"):
        href = a.get("href") or ""
        coeff = 0.3 if href.startswith("#") else 1.0
        link_len += text_length(a) * coeff
    return link_len / total


def get_class_weight(element: Element, weight_classes: bool = True) -> int:
    """Readability._getClassWeight (readability.lisp:425-440): ±25 per
    positive/negative regex hit on class and on id; 0 when the
    FLAG_WEIGHT_CLASSES flag is off."""
    if not weight_classes:
        return 0
    weight = 0
    class_name = element.class_name
    if class_name:
        if R.NEGATIVE.search(class_name):
            weight -= 25
        if R.POSITIVE.search(class_name):
            weight += 25
    node_id = element.id
    if node_id:
        if R.NEGATIVE.search(node_id):
            weight -= 25
        if R.POSITIVE.search(node_id):
            weight += 25
    return weight


def get_text_density(element: Element, tags: tuple[str, ...]) -> float:
    """Readability._getTextDensity: Σ len(inner text of matching descendants)
    ÷ len(inner text of element)."""
    total = len(get_inner_text(element, True))
    if total == 0:
        return 0.0
    children_len = sum(
        len(get_inner_text(el, True)) for el in get_elements_by_tag(element, *tags)
    )
    return children_len / total


def is_phrasing_content(node) -> bool:
    """Readability._isPhrasingContent (readability.lisp:295-306).  Follows JS:
    a/del/ins recurse over all child *nodes* (the ref recurses over element
    children only — FIXME at readability.lisp:301, resolved per SURVEY §2.9)."""
    if isinstance(node, Text):
        return True
    if node.tag in PHRASING_ELEMENTS:
        return True
    if node.tag in ("a", "del", "ins"):
        return all(is_phrasing_content(c) for c in node.children)
    return False


def is_whitespace(node) -> bool:
    """Readability._isWhitespace (readability.lisp:308-312)."""
    if isinstance(node, Text):
        return node.is_whitespace
    return node.tag == "br"


def is_element_without_content(node: Element) -> bool:
    """Readability._isElementWithoutContent (readability.lisp:120-130): no
    non-whitespace text, and the direct-child count equals the *descendant*
    br+hr count (JS compares children.length against
    getElementsByTagName('br'/'hr') which search the whole subtree).

    Single fused walk: any non-whitespace text node short-circuits False
    (boolean-equivalent to stripping the joined text), the same pass counts
    the br/hr descendants — the naive form re-walked the subtree twice."""
    n_kids = 0
    n_br_hr = 0
    stack = list(node.children)
    for c in stack:
        if c.tag is not None:
            n_kids += 1
    while stack:
        c = stack.pop()
        t = c.tag
        if t is None:
            if c.data.strip():
                return False
        else:
            if t == "br" or t == "hr":
                n_br_hr += 1
            if c.children:
                stack.extend(c.children)
    return n_kids == 0 or n_kids == n_br_hr


def has_single_tag_inside(element: Element, tag: str) -> bool:
    """Readability._hasSingleTagInsideElement (readability.lisp:516-530).
    Text nodes count as content via REGEXPS.hasContent = /\\S$/ — i.e. only
    when they END in a non-space character (JS quirk, kept for parity)."""
    kids = element.element_children
    if len(kids) != 1 or kids[0].tag != tag:
        return False
    return not any(
        isinstance(c, Text) and _HAS_CONTENT.search(c.data) for c in element.children
    )


def is_single_image(node) -> bool:
    """Readability._isSingleImage helper of _unwrapNoscriptImages
    (readability.lisp:577-587)."""
    if not isinstance(node, Element):
        return False
    if node.tag == "img":
        return True
    kids = node.element_children
    if len(kids) != 1 or node.text_content().strip() != "":
        return False
    return is_single_image(kids[0])


def is_video_embed(element: Element) -> bool:
    """readability.lisp:374-380: object/embed/iframe whose any attribute (or
    object inner HTML) matches the videos regex."""
    if element.tag not in ("object", "embed", "iframe"):
        return False
    for v in element.attrs.values():
        if R.VIDEOS.search(v):
            return True
    if element.tag == "object" and R.VIDEOS.search(element.inner_html()):
        return True
    return False


def is_probably_visible(element: Element) -> bool:
    """Readability._isProbablyVisible — implemented from JS semantics (the
    ref's node-visible-p inverts the fallback-image clause, SURVEY §2.9)."""
    style = element.get("style") or ""
    if style:
        if R.DISPLAY_NONE.search(style) or R.VISIBILITY_HIDDEN.search(style):
            return False
    if "hidden" in element.attrs:
        return False
    if element.get("aria-hidden") == "true" and "fallback-image" not in element.class_name:
        return False
    return True


def text_similarity(text_a: str, text_b: str) -> float:
    """Readability._textSimilarity: 1 − (length of B-tokens not in A ÷ length
    of all B-tokens), tokens lowercase \\W+-split."""
    tokens_a = [t for t in R.NON_WORD.split(text_a.lower()) if t]
    tokens_b = [t for t in R.NON_WORD.split(text_b.lower()) if t]
    if not tokens_a or not tokens_b:
        return 0.0
    set_a = set(tokens_a)
    uniq_b = [t for t in tokens_b if t not in set_a]
    distance_b = len(" ".join(uniq_b)) / len(" ".join(tokens_b))
    return 1 - distance_b


def has_child_block_element(element: Element) -> bool:
    """Readability._hasChildBlockElement (readability-plump.lisp:147-156)."""
    from cl_readability_spark.core.config import DIV_TO_P_ELEMENTS

    for c in element.element_children:
        if c.tag in DIV_TO_P_ELEMENTS or has_child_block_element(c):
            return True
    return False
