"""The regex table that drives scoring (reference: regex.lisp:6-55).

Patterns are byte-for-byte those of the reference / Readability.js REGEXPS.
Compiled case-insensitive where Readability.js uses ``/.../i`` — the Lisp
compiled them case-sensitively (latent deviation, SURVEY.md §2.9); fixtures
follow the JS behavior.
"""

from __future__ import annotations

import re

# regex.lisp:9-10 — REGEXPS.unlikelyCandidates
UNLIKELY_CANDIDATES = re.compile(
    r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|disqus"
    r"|extra|footer|gdpr|header|legends|menu|related|remark|replies|rss|shoutbox"
    r"|sidebar|skyscraper|social|sponsor|supplemental|ad-break|agegate|pagination"
    r"|pager|popup|yom-remote",
    re.I,
)

# regex.lisp:12-13 — REGEXPS.okMaybeItsACandidate
MAYBE_CANDIDATE = re.compile(r"and|article|body|column|content|main|shadow", re.I)

# regex.lisp:15-16 — REGEXPS.positive
POSITIVE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination|post|text|blog|story",
    re.I,
)

# regex.lisp:18-19 — REGEXPS.negative
NEGATIVE = re.compile(
    r"-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|foot"
    r"|footer|footnote|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share"
    r"|shoutbox|sidebar|skyscraper|sponsor|shopping|tags|tool|widget",
    re.I,
)

# regex.lisp:21-22 — REGEXPS.extraneous (upstream _cleanMatchedNodes)
EXTRANEOUS = re.compile(
    r"print|archive|comment|discuss|e[\-]?mail|share|reply|all|login|sign|single|utility",
    re.I,
)

# regex.lisp:24-25 — REGEXPS.byline
BYLINE = re.compile(r"byline|author|dateline|writtenby|p-author", re.I)

# regex.lisp:27 — REGEXPS.normalize (no /i needed)
NORMALIZE = re.compile(r"\s{2,}")

# regex.lisp:31-32 — REGEXPS.videos
VIDEOS = re.compile(
    r"\/\/(www\.)?((dailymotion|youtube|youtube-nocookie|player\.vimeo|v\.qq)\.com"
    r"|(archive|upload\.wikimedia)\.org|player\.twitch\.tv)",
    re.I,
)

# regex.lisp:34-35
IMAGE_EXT = re.compile(r"\.(jpg|jpeg|png|webp)", re.I)

# regex.lisp:37-38 — REGEXPS.shareElements
SHARE_ELEMENTS = re.compile(r"(\b|_)(share|sharedaddy)(\b|_)", re.I)

# regex.lisp:48-49 — REGEXPS.srcsetUrl
SRCSET_URL = re.compile(r"(\S+)(\s+[\d.]+[xw])?(\s*(?:,|$))")

# regex.lisp:51-52 — REGEXPS.b64DataUrl
B64_DATA_URL = re.compile(r"^data:\s*([^\s;,]+)\s*;\s*base64\s*,", re.I)

# Readability.js title helpers (inline in _getArticleTitle)
TITLE_SEPARATOR = re.compile(r" [\|\-\\\/>»] ")
TITLE_HIERARCHICAL_SEPARATOR = re.compile(r" [\\\/>»] ")
TITLE_FIRST_PART = re.compile(r"(.*)[\|\-\\\/>»] .*", re.I | re.S)
TITLE_LAST_PART = re.compile(r"[^\|\-\\\/>»]*[\|\-\\\/>»](.*)", re.I | re.S)
TITLE_ANY_SEPARATOR = re.compile(r"[\|\-\\\/>»]+")

# Readability.js _fixLazyImages helpers
LAZY_IMAGE_VALUE = re.compile(r"\.(jpg|jpeg|png|webp)\s+\d", re.I)
LAZY_IMAGE_SINGLE = re.compile(r"^\s*\S+\.(jpg|jpeg|png|webp)\S*\s*$", re.I)

# Sentence-ish ending used by the sibling-merge P rule (Readability.js L1199)
SENTENCE_DOT = re.compile(r"\.( |$)")

# Readability.js _textSimilarity tokenizer
NON_WORD = re.compile(r"\W+", re.UNICODE)

# Style-attribute parsing for _isProbablyVisible (we have no CSSOM)
DISPLAY_NONE = re.compile(r"(?:^|;)\s*display\s*:\s*none(?:\s*(?:;|$))", re.I)
VISIBILITY_HIDDEN = re.compile(r"(?:^|;)\s*visibility\s*:\s*hidden(?:\s*(?:;|$))", re.I)
