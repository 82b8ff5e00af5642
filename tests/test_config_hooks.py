"""Config-surface hook: *visibility-checker* (globals.lisp:32-33)."""

from cl_readability_spark.core.config import ExtractorConfig
from cl_readability_spark.core.extract import extract
from cl_readability_spark.core.readerable import is_readerable

LONG = (
    "Paragraph body with commas, clauses, and plenty of length to score well "
    "in candidate selection, keeping it firmly inside the article. " * 4
)

HTML = (
    "<html><body><div id='page'>"
    f"<p>{LONG}</p><p>{LONG}</p>"
    f"<div class='promobox'><p>PROMO-TEXT {LONG}</p></div>"
    "</div></body></html>"
)


def hide_promobox(element) -> bool:
    return "promobox" not in element.class_name


def test_visibility_checker_changes_extraction():
    default_text = extract(HTML).extracted_text
    assert "PROMO-TEXT" in default_text  # visible by the default predicate

    cfg = ExtractorConfig(visibility_checker=hide_promobox)
    hooked_text = extract(HTML, config=cfg).extracted_text
    assert "PROMO-TEXT" not in hooked_text
    assert "Paragraph body with commas" in hooked_text


def test_visibility_checker_gates_readerable():
    assert is_readerable(HTML) is True
    cfg = ExtractorConfig(visibility_checker=lambda el: False)
    assert is_readerable(HTML, cfg) is False

