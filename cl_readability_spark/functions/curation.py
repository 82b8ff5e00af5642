"""Corpus curation: the composed training-data pipeline over extraction
output — quality gating, exact dedup, MinHash near-dup pruning — as one
flag-based pass (extract → flags → filter), so the whole curation is a
single job with a one-row audit report instead of a count() per stage.

Flag semantics (gates attributed HIERARCHICALLY, so the report's per-gate
drop counts partition ``rows_in`` exactly):
- ``quality_ok``   — length bounds + stopword ratio + langid gate
- ``contaminated`` — shares a word n-gram with the benchmark set
                     (``functions/decontam.py``; all-False when no
                     ``benchmark_hashes`` are supplied).  Placed BEFORE
                     dedup on purpose: a contaminated doc must never be
                     the kept representative of a duplicate cluster
                     while its clean near-dups get dropped.
- ``exact_keep``   — first quality_ok, non-contaminated row (by key) of
                     each normalized-text fingerprint; always False for
                     quality-failed or contaminated rows
- ``near_dup_drop``— row is a non-representative member of a verified
                     MinHash near-duplicate cluster (``policy="clusters"``,
                     the default: connected components over the verified
                     pairs, keep the minimum-key representative), or the
                     higher-key side of each verified pair
                     (``policy="pairwise"``); computed over the
                     quality+exact survivors only
- ``kept``         — quality_ok AND exact_keep AND NOT near_dup_drop

so  rows_in = dropped_quality + dropped_contaminated + dropped_exact_dup
            + dropped_near_dup + rows_kept  holds as an identity
(asserted in tests).

Plan shape: the expensive extraction subtree feeding ``curate`` is
referenced on BOTH sides of the near-dup prune (survivors → minhash →
drops, then drops joined back).  Spark has no cross-branch subplan reuse
(PLANS.md), so by default the flagged frame is pinned once
(``materialize="disk"``) before the branch — extraction runs exactly
once per curation (plan-shape-tested under ``"local_checkpoint"``: zero
MapInArrow in the final DAG, the single extraction pass lives in the
survivor-count job that materializes the checkpoint).  ``materialize`` is the only pin knob: the branching
rewrite stages' input pins follow it (``curate``).  In production the
equivalent is curating from the committed sink table (pipeline/sink.py);
pass ``materialize="none"`` when the input is already a materialized
table.

At 100 TB: the wide ops are one fingerprint window (or groupBy), the
minhash bucket shuffle, and the pair anti-join — all keyed, all
AQE-manageable; no driver-side loops, no collect.
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from cl_readability_spark.functions.dedup import (
    dup_clusters,
    minhash_near_dups,
    minhash_params,
)
from cl_readability_spark.functions.incremental import content_fingerprint
from cl_readability_spark.functions.pins import attach_pins, release_pinned

# quality_flag's stopword and language-marker lists; the DuckDB oracles
# (functions/sqltwins.py: quality_score, langid) build from these SAME
# lists, so both engines count the same tokens.
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "on", "for", "with"]
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "los", "las", "que", "y", "una"],
    "fr": ["le", "les", "et", "est", "une", "dans"],
}


def _token_occurrences(lowered, tokens) -> "F.Column":
    """Count of whitespace-delimited tokens of ``lowered`` (an already
    lower+trimmed Column) equal to any of ``tokens`` — occurrences, not
    distinct hits, so it is value-identical to
    ``size(filter(split(lowered, '\\s+'), x -> x.isin(tokens)))`` but a
    single codegen'd ``regexp_count`` instead of an interpreted lambda
    HOF (the PLANS.md HOF rule; the gopher_flags alpha-count precedent
    at :163).  Each match consumes one leading separator (or ^), the
    lookahead leaves the trailing separator for the next token's match,
    and java's alternation backtracking makes prefix-shadowing ("a" vs
    "and") a non-issue.  ``\\s`` here is java's class — the SAME class
    the splitter uses, so boundaries agree by construction."""
    pat = r"(?:^|\s)(?:" + "|".join(tokens) + r")(?=\s|$)"
    return F.regexp_count(lowered, F.lit(pat))


def quality_flag(
    text_col,
    min_chars: int = 100,
    max_chars: int = 200_000,
    min_stopword_bp: int = 100,
    langs: tuple[str, ...] = ("en",),
):
    """Boolean Column: length window + stopword-ratio floor + langid gate
    (the quality_score/langid twin heuristics composed as one expression).
    Fully whole-stage-codegen: the stopword and language-marker counts
    are ``regexp_count`` projections (``_token_occurrences``), not
    lambda HOFs — value-identical to the filter-HOF form (differential
    test in tests/test_curation.py) with no interpreted per-row eval in
    ``curate()``'s flagship gate (round-7 verdict task 1)."""
    n_chars = F.length(text_col)
    lowered = F.lower(F.trim(text_col))
    words = F.split(lowered, r"\s+")
    n_words = F.size(words)
    n_stop = _token_occurrences(lowered, STOPWORDS)
    stop_bp = F.when(n_words > 0, n_stop * 10000 / n_words).otherwise(0)
    scores = {
        lang: _token_occurrences(lowered, m)
        for lang, m in LANG_MARKERS.items()
    }
    best = None
    for lang in LANG_MARKERS:
        cond = None
        for other in LANG_MARKERS:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        best = F.when(cond, lang) if best is None else best.when(cond, lang)
    lang_pred = best.otherwise(list(LANG_MARKERS)[-1])
    return (
        (n_chars >= min_chars)
        & (n_chars <= max_chars)
        & (stop_bp >= min_stopword_bp)
        & lang_pred.isin(*langs)
    )


# the 8 stopwords of the Gopher rules (Rae et al. 2021 §A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_ratio_bp: int = 1000,
    min_alpha_word_bp: int = 8000,
    min_stopwords: int = 2,
) -> DataFrame:
    """Adds the Gopher document-quality rule columns (Rae et al. 2021
    §A1.1 — the standard LLM pre-training text filter): ``n_words``,
    ``n_chars`` (non-whitespace), ``n_symbols`` ('#' chars + '...'
    occurrences), ``n_alpha_words`` (words containing a letter),
    ``n_stopwords`` (distinct hits among the Gopher 8), and the combined
    ``gopher_ok``.  Ratio thresholds are basis points and every rule is
    evaluated with integer CROSS-MULTIPLICATION — no floats, so the
    flags are engine-exact (the ``gopher_quality`` DuckDB twin hash-
    matches these exact expressions).  Whitespace is the EXPLICIT class
    ``[ \\t\\n\\f\\r]`` on both engines — java-regex ``\\s`` includes
    vertical tab U+000B, RE2's does not, so ``\\s`` would silently
    diverge the two engines' word splits on VT-bearing text.  Filter
    ``gopher_ok`` as a pre-training gate, or AND it into ``curate``'s
    quality gate upstream.

    Plan shape: ONE fully whole-stage-codegen projection — the alpha
    count is a ``regexp_count`` of word-start-to-first-letter matches
    (definitionally the number of words containing a letter), not a
    lambda HOF, which Catalyst would run interpreted per row (PLANS.md
    HOF note; the round-6 1M sweep measured that lambda as real wall
    time); no shuffle, no python stage — scan → project at any scale.

    NOTE: the six flag columns are added with ``withColumn`` and will
    REPLACE same-named input columns; rename yours first if they
    collide (n_words/n_chars/n_symbols/n_alpha_words/n_stopwords/
    gopher_ok)."""
    lowered = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    # explicit whitespace class == RE2's \s (the DuckDB twin's engine);
    # java \s would add U+000B and split differently on VT-bearing text
    ws = "[ \t\n\f\r]"
    words = F.split(lowered, f"{ws}+")
    n = F.size(words).cast("long")
    chars = F.length(F.regexp_replace(lowered, f"{ws}+", "")).cast("long")
    n_hash = (
        F.length(lowered) - F.length(F.replace(lowered, F.lit("#")))
    ).cast("long")
    n_ellipsis = (
        (F.length(lowered) - F.length(F.replace(lowered, F.lit("...")))) / 3
    ).cast("long")
    # words containing a letter, WITHOUT a lambda HOF (interpreted,
    # breaks whole-stage codegen): count matches of word-start →
    # first letter.  A match consumes one separator (or ^) plus the
    # token's prefix through a letter; \S* cannot cross whitespace and
    # mid-token positions can never re-match (no ^/separator there), so
    # matches biject with letter-bearing tokens — definitionally
    # len(filter(words, contains [a-z])).
    n_alpha = F.regexp_count(
        lowered, F.lit(f"(^|{ws})[^ \t\n\f\r]*[a-z]")
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    ok = (
        n.between(min_words, max_words)
        & (min_mean_word_len * n <= chars)
        & (chars <= max_mean_word_len * n)
        & ((n_hash + n_ellipsis) * 10000 <= n * max_symbol_ratio_bp)
        & (n_alpha * 10000 >= n * min_alpha_word_bp)
        & (n_stop >= min_stopwords)
    )
    return (
        df.withColumn("n_words", n)
        .withColumn("n_chars", chars)
        .withColumn("n_symbols", (n_hash + n_ellipsis).cast("long"))
        .withColumn("n_alpha_words", n_alpha)
        .withColumn("n_stopwords", n_stop)
        .withColumn("gopher_ok", ok)
    )


# --- C4 line/page cleaning pattern literals (Raffel et al. 2020 §2.2).
# c4_filters builds the Spark expressions and the c4_planted DuckDB
# oracle (tests/local_twins.py) builds its SQL from these SAME literals, so
# the two engines are in lockstep by construction.  Valid in BOTH Java
# regex and RE2: no lookaround, ``[^\n]`` instead of ``.`` (Java's dot
# excludes \r and the unicode line separators, RE2's only \n), explicit
# whitespace classes (java \s and RE2 \s disagree on U+000B), and the
# Spark side prepends ``(?d)`` (UNIX_LINES) so Java's multiline ^ treats
# ONLY \n as a line break — which RE2 always does.  Line filters apply
# to ``text || '\n'`` with a MANDATORY trailing \n in each pattern (the
# "terminator convention"): no pattern can match the empty string, so
# the engines' divergent empty-match behaviors never engage (probed:
# RE2 double-counts interior empty lines under ^...$, Java refuses ^ at
# end-of-input; with the mandatory \n both agree on every case of the
# randomized differential suite in tests/test_curation.py).
C4_INTRA_WS = r"[ \t\f\r]"  # intra-line ws (NOT \x0b: VT is word-
#                             internal, matching gopher_flags' class)
C4_NONWS = r"[^ \t\f\r\n]"  # one word character (non-ws, non-newline)
C4_JS_LINE_RE = r"(?i:[^\n]*javascript[^\n]*)"
C4_NO_TERMINAL_RE = r"[^\n]*[^ \t\f\r\n.!?\"”]" + C4_INTRA_WS + "*"
C4_SENTENCE_RE = r"[.!?]+"  # sentence-terminal runs (count heuristic)


def c4_short_line_re(min_words: int) -> str:
    """Full-line regex matching lines with FEWER than ``min_words``
    whitespace-separated words (word = maximal C4_NONWS run).  For
    ``min_words <= 0`` returns None (nothing is short)."""
    if min_words <= 0:
        return None
    w, nw = C4_INTRA_WS, C4_NONWS
    if min_words == 1:
        return f"{w}*"
    return f"{w}*(?:{nw}+{w}+){{0,{min_words - 2}}}{nw}*{w}*"


def c4_drop_line_re(min_words: int = 3) -> str:
    """The composed drop-line pattern body (no engine prefix): a full
    line matching ANY of javascript / too-few-words / no-terminal-
    punctuation, INCLUDING its mandatory trailing newline."""
    short = c4_short_line_re(min_words)
    alts = [C4_JS_LINE_RE] + ([short] if short else []) + [C4_NO_TERMINAL_RE]
    return "^(?:" + "|".join(alts) + ")\\n"


def c4_badword_re(badwords) -> str:
    """Word-boundary-ish alternation over plain lowercase words for the
    page-level bad-word flag, without ``\\b`` (metachar-free boundary
    classes keep Java and RE2 in lockstep).  Match against lowercased
    text."""
    import re as _re

    alts = "|".join(_re.escape(w) for w in badwords)
    return f"(?:^|[^a-z0-9])(?:{alts})(?:[^a-z0-9]|$)"


def c4_filters(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    badwords: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020 §2.2) — the FILTER
    half of the C4 recipe, complementing ``line_dedup`` (its dedup
    half).  Line level, applied in this order per line: drop lines
    containing "javascript" (any case); drop lines with fewer than
    ``min_words_per_line`` words (paper: 3 — the released TF pipeline
    tightened it to 5; parameterized here); drop lines whose last
    non-whitespace character is not terminal punctuation (period,
    exclamation, question mark, straight or curly end quote — the
    paper's "terminal punctuation mark (i.e. a period, exclamation
    mark, question mark, or end quotation mark)").  Page level, flags
    only (C4 REMOVES such pages; filter on ``c4_keep``): contains
    "lorem ipsum" (case-insensitive), contains a curly bracket ``{``,
    contains a ``badwords`` entry (plain lowercase words, matched with
    non-alphanumeric boundaries — C4 used the public "List of Dirty,
    Naughty, Obscene or Otherwise Bad Words", which ships externally;
    pass your list), and fewer than ``min_sentences`` sentences (paper:
    5).  ``n_sentences`` counts ``[.!?]+`` runs in the CLEANED text — a
    documented heuristic where the TF pipeline uses an NLTK sentence
    splitter (line filtering first, page gates on what remains, as
    there).

    Adds: ``c4_text`` (surviving lines joined by \\n; NULL iff the
    input text was NULL — original line bytes preserved, like
    ``line_dedup``), ``n_lines``, ``n_kept_lines``,
    ``n_drop_javascript`` / ``n_drop_short_line`` /
    ``n_drop_no_terminal`` (attribution in that precedence order, so
    they partition the dropped lines exactly:
    ``n_lines = n_kept_lines + the three drop counts`` is an identity,
    asserted in tests), ``has_lorem_ipsum``, ``has_curly_brace``,
    ``has_badword``, ``n_sentences``, ``c4_keep``.  Same collision
    caveat as ``gopher_flags``: these are ``withColumn`` additions.

    Plan shape: ONE fully whole-stage-codegen projection — the line
    battery is a multiline ``regexp_replace`` over ``text || '\\n'``
    plus ``regexp_count`` s of nested-union patterns (count(JS),
    count(JS|SHORT); differences give exact per-reason attribution
    without conjunction regexes), all built from the shared
    C4 literals above (mandatory-``\\n`` terminator convention;
    the Spark side alone prepends ``(?d)`` so Java's line semantics
    match RE2's \\n-only model — rationale on the literals).  No
    explode, no shuffle, no lambda HOF, no python stage: scan → project
    at any scale, trivially AQE-free and skew-free.

    Cites C4 for semantics: Raffel et al. 2020 (JMLR 21(140)) §2.2;
    reference repo has no counterpart (its scope ends at extraction —
    readability-plump.lisp).
    """
    nn = F.col(text_col).isNotNull()
    txt = F.coalesce(F.col(text_col), F.lit(""))
    t = F.concat(txt, F.lit("\n"))
    zero = F.lit(0).cast("long")

    def count(col, pattern):
        return F.when(nn, F.regexp_count(col, F.lit(pattern))).otherwise(
            zero
        ).cast("long")

    sp = "(?dm)"  # d = UNIX_LINES (\n-only, like RE2); m = multiline ^
    drop_re = sp + c4_drop_line_re(min_words_per_line)
    kept_t = F.regexp_replace(t, drop_re, "")
    n_lines = count(t, r"\n")
    n_kept = count(kept_t, r"\n")
    c4_text = F.when(
        nn,
        F.when(kept_t == "", F.lit("")).otherwise(
            F.substring(kept_t, 1, F.length(kept_t) - 1)
        ),
    )
    n_js = count(t, sp + r"^(?:" + C4_JS_LINE_RE + r")\n")
    short = c4_short_line_re(min_words_per_line)
    if short is None:
        n_js_short = n_js
    else:
        n_js_short = count(
            t, sp + r"^(?:" + C4_JS_LINE_RE + "|" + short + r")\n"
        )
    lowered = F.lower(txt)
    has_lorem = nn & lowered.contains("lorem ipsum")
    has_curly = nn & txt.contains("{")
    has_bad = (
        (nn & lowered.rlike(c4_badword_re(badwords)))
        if badwords
        else F.lit(False)
    )
    n_sentences = count(F.coalesce(c4_text, F.lit("")), C4_SENTENCE_RE)
    keep = (
        nn
        & ~has_lorem
        & ~has_curly
        & ~has_bad
        & (n_sentences >= F.lit(min_sentences))
    )
    return (
        df.withColumn("c4_text", c4_text)
        .withColumn("n_lines", n_lines)
        .withColumn("n_kept_lines", n_kept)
        .withColumn("n_drop_javascript", n_js)
        .withColumn("n_drop_short_line", n_js_short - n_js)
        .withColumn("n_drop_no_terminal", n_lines - n_kept - n_js_short)
        .withColumn("has_lorem_ipsum", has_lorem)
        .withColumn("has_curly_brace", has_curly)
        .withColumn("has_badword", has_bad)
        .withColumn("n_sentences", n_sentences)
        .withColumn("c4_keep", keep)
    )


# Gopher repetition thresholds (Rae et al. 2021 Table A1), in basis
# points: a document is repetition-flagged when ANY fraction exceeds its
# threshold.  Shared with the DuckDB twin (closed-form planted corpus).
GOPHER_REPETITION_THRESHOLDS_BP = {
    "dup_line_fraction": 3000,
    "dup_para_fraction": 3000,
    "dup_line_char_fraction": 2000,
    "dup_para_char_fraction": 2000,
    "top_2gram_char_fraction": 2000,
    "top_3gram_char_fraction": 1800,
    "top_4gram_char_fraction": 1600,
    "dup_5gram_char_fraction": 1500,
    "dup_6gram_char_fraction": 1400,
    "dup_7gram_char_fraction": 1300,
    "dup_8gram_char_fraction": 1200,
    "dup_9gram_char_fraction": 1100,
    "dup_10gram_char_fraction": 1000,
}


def gopher_repetition_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The Gopher REPETITION rules (Rae et al. 2021 §A1.1 Table A1 —
    the other half of the MassiveText quality filter next to
    ``gopher_flags``): per document,

    - ``dup_line_fraction`` / ``dup_para_fraction`` — fraction of
      non-empty lines (split on ``\\n``) / paragraphs (split on blank
      lines, ``\\n{2,}``) that are repeats of an earlier identical one;
    - ``dup_line_char_fraction`` / ``dup_para_char_fraction`` —
      fraction of those units' characters contained in the repeats;
    - ``top_{2,3,4}gram_char_fraction`` — fraction of word characters
      covered by the single most frequent word n-gram (occurrences ×
      the gram's non-space characters, over total word characters); a
      gram must occur at least TWICE to count (a unique n-gram is not
      repetition — without the guard every short document would trip
      the rule on its longest unique 2-gram);
    - ``dup_{5..10}gram_char_fraction`` — fraction of word characters
      covered by n-grams occurring more than once, counting each WORD
      POSITION at most once however many duplicated grams overlap it
      (the paper's "taking care not to count characters that occur in
      overlapping n-grams more than once").

    ``repetition_ok`` is True when no fraction exceeds its Table A1
    threshold (``GOPHER_REPETITION_THRESHOLDS_BP``); every comparison is
    integer cross-multiplied, so the flags are engine-exact.  All
    "characters" are non-separator characters (line/para chars = the
    unit's bytes as split; gram chars = word characters, excluding the
    joining spaces); words come from the same explicit whitespace split
    as ``gopher_flags`` (lowercased — Gopher's dedup normalization).

    Plan shape (100 TB): the line/paragraph stats are ONE whole-stage-
    codegen projection — no lambda HOFs: dup counts via
    ``size - size(array_distinct)``, char sums via
    ``length(concat_ws('', arr))`` vs the distinct array.  The n-gram
    stats are a single posexplode of words + ONE window pass per doc
    (``lead(word, k)`` builds every 2..10-gram in one sort, partitions
    bounded by document length) feeding two keyed aggregations: gram
    counts on (doc, n, gram-hash) and the positional union on
    (doc, n, word-idx) — both partial-aggregate map-side and every key
    is bounded by a single document's size, so no corpus-wide hot keys
    exist by construction.  Returns one row per input row (id + the 13
    integer numerator/denominator pairs folded to fractions in basis
    points + ``repetition_ok``).

    The gram aggregates are joined back onto the per-doc base — the
    input subtree is referenced in several plan branches, so run this
    over a scan/sink-staged frame (deterministic, re-evaluates
    identically) or a pinned one (``curate``'s repetition stage pins
    its keyed input) — the PLANS.md materialize-before-self-join rule."""
    from pyspark.sql.window import Window

    text = F.coalesce(F.col(text_col), F.lit(""))
    # --- line / paragraph stats: pure codegen projection ---
    def unit_stats(sep_pattern: str, prefix: str):
        trimmed = F.regexp_replace(
            text, f"^(?:{sep_pattern})+|(?:{sep_pattern})+$", ""
        )
        arr = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
            F.split(trimmed, f"(?:{sep_pattern})+")
        )
        distinct = F.array_distinct(arr)
        return {
            f"n_{prefix}": F.size(arr).cast("long"),
            f"n_dup_{prefix}": (F.size(arr) - F.size(distinct)).cast("long"),
            f"{prefix}_chars": F.length(F.concat_ws("", arr)).cast("long"),
            f"dup_{prefix}_chars": (
                F.length(F.concat_ws("", arr))
                - F.length(F.concat_ws("", distinct))
            ).cast("long"),
        }

    # paragraphs split on \n{2,} (any blank-line run), not literal
    # \n\n — an odd-length newline run must not glue a stray \n onto
    # the next paragraph (round-7 review finding)
    stats = {**unit_stats(r"\n", "lines"), **unit_stats(r"\n{2,}", "paras")}
    lowered = F.lower(F.trim(text))
    ws = "[ \t\n\f\r]"
    words = F.when(
        F.length(lowered) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(lowered, f"{ws}+"))
    base = df.select(
        F.col(id_col).alias("_id"),
        words.alias("_words"),
        *[v.alias(k) for k, v in stats.items()],
    )
    base = base.withColumn(
        "word_chars", F.length(F.concat_ws("", F.col("_words"))).cast("long")
    )

    # --- n-gram stats: one explode + one lead-window pass ---
    w_pos = base.select(
        "_id", F.posexplode("_words").alias("_idx", "_word")
    )
    win = Window.partitionBy("_id").orderBy("_idx")
    lead_cols = [F.col("_word").alias("_w0")] + [
        F.lead("_word", k).over(win).alias(f"_w{k}") for k in range(1, 10)
    ]
    led = w_pos.select("_id", "_idx", *lead_cols)
    # stack the 2..10-gram per position as (n, gram) structs; a gram is
    # valid only when its last word exists (lead returned non-null)
    gram_structs = F.array(
        *[
            F.struct(
                F.lit(n).alias("n"),
                F.when(
                    F.col(f"_w{n - 1}").isNotNull(),
                    F.concat_ws(
                        " ", *[F.col(f"_w{k}") for k in range(n)]
                    ),
                ).alias("gram"),
            )
            for n in range(2, 11)
        ]
    )
    grams = (
        led.select(
            "_id", "_idx", F.explode(gram_structs).alias("_g")
        )
        .select(
            "_id",
            "_idx",
            F.col("_g.n").alias("_n"),
            F.col("_g.gram").alias("_gram"),
        )
        .filter(F.col("_gram").isNotNull())
    )
    # gram occurrence counts; char length of a gram's words excludes the
    # n-1 joining spaces
    gram_counts = grams.groupBy("_id", "_n", "_gram").agg(
        F.count("*").alias("_cnt"),
        F.collect_list("_idx").alias("_starts"),
    )
    gram_counts = gram_counts.withColumn(
        "_gram_chars",
        (F.length("_gram") - (F.col("_n") - 1)).cast("long"),
    )
    # top gram per (doc, n) for n in 2..4 — deterministic tie-break via
    # the struct ordering (count, covered chars, gram)
    top = (
        gram_counts.filter(F.col("_n") <= 4)
        .groupBy("_id", "_n")
        .agg(
            F.max(
                F.struct(
                    F.col("_cnt"),
                    (F.col("_cnt") * F.col("_gram_chars")).alias("_cov"),
                    F.col("_gram"),
                )
            ).alias("_top")
        )
        .groupBy("_id")
        .pivot("_n", [2, 3, 4])
        # a gram occurring ONCE is not repetition: without the count>=2
        # guard every short document trips the top-gram rule (a unique
        # 2-gram easily covers >20% of a 10-word doc), which is not the
        # filter's intent (Rae et al. flag REPEATED content)
        .agg(
            F.first(
                F.when(
                    F.col("_top._cnt") > 1, F.col("_top._cov")
                ).otherwise(F.lit(0))
            )
        )
        .select(
            "_id",
            *[
                F.coalesce(F.col(str(n)), F.lit(0))
                .cast("long")
                .alias(f"top_{n}gram_chars")
                for n in (2, 3, 4)
            ],
        )
    )
    # duplicated 5..10-grams: union of covered WORD POSITIONS per (doc,
    # n), then sum those words' lengths — the no-double-counting rule
    covered = (
        gram_counts.filter((F.col("_n") >= 5) & (F.col("_cnt") > 1))
        .select(
            "_id",
            "_n",
            F.explode("_starts").alias("_start"),
        )
        .select(
            "_id",
            "_n",
            F.explode(
                F.sequence(
                    F.col("_start"), F.col("_start") + F.col("_n") - 1
                )
            ).alias("_idx"),
        )
        .distinct()
        .join(w_pos, ["_id", "_idx"])
        .groupBy("_id")
        .pivot("_n", list(range(5, 11)))
        .agg(F.sum(F.length("_word")))
        .select(
            "_id",
            *[
                F.coalesce(F.col(str(n)), F.lit(0))
                .cast("long")
                .alias(f"dup_{n}gram_chars")
                for n in range(5, 11)
            ],
        )
    )
    joined = (
        base.drop("_words")
        .join(top, "_id", "left")
        .join(covered, "_id", "left")
    )
    for n in (2, 3, 4):
        joined = joined.withColumn(
            f"top_{n}gram_chars",
            F.coalesce(F.col(f"top_{n}gram_chars"), F.lit(0)).cast("long"),
        )
    for n in range(5, 11):
        joined = joined.withColumn(
            f"dup_{n}gram_chars",
            F.coalesce(F.col(f"dup_{n}gram_chars"), F.lit(0)).cast("long"),
        )
    thr = GOPHER_REPETITION_THRESHOLDS_BP
    exceed = (
        (
            F.col("n_dup_lines") * 10000
            > F.col("n_lines") * thr["dup_line_fraction"]
        )
        | (
            F.col("n_dup_paras") * 10000
            > F.col("n_paras") * thr["dup_para_fraction"]
        )
        | (
            F.col("dup_lines_chars") * 10000
            > F.col("lines_chars") * thr["dup_line_char_fraction"]
        )
        | (
            F.col("dup_paras_chars") * 10000
            > F.col("paras_chars") * thr["dup_para_char_fraction"]
        )
    )
    for n in (2, 3, 4):
        exceed = exceed | (
            F.col(f"top_{n}gram_chars") * 10000
            > F.col("word_chars") * thr[f"top_{n}gram_char_fraction"]
        )
    for n in range(5, 11):
        exceed = exceed | (
            F.col(f"dup_{n}gram_chars") * 10000
            > F.col("word_chars") * thr[f"dup_{n}gram_char_fraction"]
        )
    out = joined.withColumn("repetition_ok", ~exceed).withColumnRenamed(
        "_id", id_col
    )
    return out


def _row_key(key_cols: tuple[str, ...]):
    return F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])


_MATERIALIZE_MODES = ("disk", "local_checkpoint", "persist", "none")
_POLICIES = ("clusters", "pairwise")

# surviving docs above which curate_near_dups picks the rehash minhash
# plan over the arrays plan (measured crossover, BENCH round 5: the
# rehash plan's fixed costs — extra python pass + candidate joins —
# lose ~1.3-2.6 s at 5k docs, while the arrays plan's bucket exchange
# carries bands × the shingle volume, ~50 GB of spill at 1M docs × 13
# bands)
CARRY_THRESHOLD = 100_000


def _stage_pin(
    df: DataFrame, mode: str | None, eager: bool = True
) -> tuple[DataFrame, list[DataFrame]]:
    """Pin ``df`` per ``mode`` (a ``materialize`` mode, or None = no
    pin); returns (frame, release pins):

    - ``"disk"`` — lazy ``persist(DISK_ONLY)``: fault-tolerant (lineage
      kept, lost blocks recompute), released via the returned pins.  The
      cluster-safe default.  DISK_ONLY because the pinned frames carry
      the full text: a deserialized on-heap copy of a large corpus is
      GBs of objects (measured: a 2.7 GB-text corpus OOMs an 8 GB local
      heap under MEMORY_AND_DISK unrolling, and reads back from disk in
      seconds).
    - ``"persist"`` — lazy ``persist(MEMORY_AND_DISK)`` (small corpora /
      interactive), released like ``"disk"``.
    - ``"local_checkpoint"`` — ``localCheckpoint()``, eager unless
      ``eager=False`` leaves it to the caller's first action: additionally
      TRUNCATES lineage, which is what bounds the composed chain's PLAN
      SIZE — each branching stage references its input ~3×, so with
      lineage kept the final logical tree replicates the whole upstream
      ~3^k times and Catalyst ANALYSIS dominates wall time (measured on
      the sf0.01 curation_full twin: 55 jobs totalling 10.6 s of
      execution under 17.2 s of driver-side gaps; truncation halves the
      query).  Single-JVM / local-mode semantics: an executor loss makes
      the frame unrecoverable (the _RoundPinner "local" trade).  No
      release handle — localCheckpoint storage is reclaimed by the
      ContextCleaner once the frame is collected.
    - ``None`` / ``"none"`` — unchanged."""
    if mode not in (None, *_MATERIALIZE_MODES):
        raise ValueError(f"unknown materialize mode: {mode!r}")
    if mode is None or mode == "none":
        return df, []
    from pyspark import StorageLevel

    if mode == "local_checkpoint":
        # DISK_ONLY storage: the default localCheckpoint level holds
        # deserialized rows on-heap, and a bench/session running many
        # operators accumulates those blocks until the ContextCleaner
        # catches up — measured as a late-session slowdown.  Disk blocks
        # keep the lineage truncation without the heap pressure.
        return df.localCheckpoint(
            eager=eager, storageLevel=StorageLevel.DISK_ONLY
        ), []
    pinned = df.persist(
        StorageLevel.DISK_ONLY if mode == "disk"
        else StorageLevel.MEMORY_AND_DISK
    )
    return pinned, [pinned]


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB oracle): no lookaround, no backrefs, non-capturing groups
# only.  ORDER IS SIGNIFICANT — patterns are applied top to bottom and
# earlier replacements remove their spans from later patterns' view
# (16-digit cards are consumed before any shorter digit rule could bite
# a fragment; the SSN rule runs before IPv4 so a dashed triple is never
# half-eaten).  Precision choices, documented honestly:
# - CARD is grouping-shaped (4-4-4-4 with separators, or a bare 16-digit
#   run), NOT Luhn-validated — Luhn needs arithmetic, not regex; some
#   non-card 16-digit ids will redact.  13/15-digit PANs (unseparated
#   Visa-13/Amex) are NOT matched — a bare \d{13,16} eats too many
#   order/tracking numbers.
# - PHONE matches +country forms with or without separators (E.164
#   '+15551234567' included) and separated/parenthesized 3-3-4 national
#   forms; bare 10-digit runs without a '+' are left alone (they are
#   usually ids, not numbers).
# - IPV4 is shape-only (octets up to 999 match) and will redact
#   dotted-quad version strings — the standard recall-over-precision
#   trade for a pre-training scrub.
# Extend with locale-specific patterns (IBANs, national ids) at
# deployment — each entry is one codegen'd regexp_replace, so the cost
# is one scan regardless of count.  The pii_redact DuckDB oracle
# (functions/sqltwins.py) builds its chain from this SAME tuple.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b(?:\d{4}[- ]){3}\d{4}\b|\b\d{16}\b", "[CARD]"),
    (r"\+\d{1,3}[-. ]?\(?\d{1,4}\)?(?:[-. ]?\d{2,4}){2,3}\b"
     r"|(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b", "[PHONE]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IPV4]"),
)


def redact_pii(text_col):
    """Column: ``text_col`` with PII spans replaced by typed tokens —
    the standard pre-training scrub, pure JVM expressions (SURVEY-beyond
    ops; oracle-checked as the ``pii_redact`` twin)."""
    out = text_col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def curate_flags(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    min_chars: int = 100,
    min_stopword_bp: int = 100,
    langs: tuple[str, ...] = ("en",),
    benchmark_hashes=None,  # list[int] | numpy int64 array
    extra_quality_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stage 1 of curation — adds ``quality_ok``, ``contaminated`` and
    ``exact_keep`` (hierarchical: the exact-dup keeper is the first
    QUALITY, NON-CONTAMINATED row of each fingerprint; quality-failed or
    contaminated rows are never keepers).  Pure JVM unless
    ``benchmark_hashes`` is supplied, which adds the one stateless
    decontamination Arrow stage (no joins/shuffles); the only wide op
    remains ONE window over the content fingerprint.  Sink-staged
    pipelines write this frame to a table and run ``curate_near_dups``
    over the read-back, so the window is computed exactly once."""
    df = extracted.withColumn("_row_key", _row_key(key_cols))
    q = quality_flag(F.col(text_col), min_chars,
                     min_stopword_bp=min_stopword_bp, langs=langs)
    # extra_quality_cols: boolean gate columns already ON the frame
    # (c4_keep, repetition_ok, a caller's gopher_ok) ANDed into the
    # quality gate — their drops land in dropped_quality, preserving the
    # hierarchical attribution identity; the per-row component flags
    # remain on the frame for per-stage attribution
    for c in extra_quality_cols:
        q = q & F.col(c)
    df = df.withColumn("quality_ok", F.coalesce(q, F.lit(False)))
    if benchmark_hashes is not None and len(benchmark_hashes):
        from cl_readability_spark.functions.decontam import decontaminate

        # decontaminate's default gram width and seed (13, 42) are
        # benchmark_ngram_hashes' defaults: a hash set computed with other
        # values hashes corpus grams differently and matches nothing
        df = decontaminate(
            df, text_col=text_col, hashes=benchmark_hashes,
        ).drop("n_contaminated_grams")
    else:
        df = df.withColumn("contaminated", F.lit(False))
    w = Window.partitionBy(content_fingerprint(text_col)).orderBy(
        F.col("quality_ok").desc(), F.col("contaminated"), F.col("_row_key")
    )
    return df.withColumn(
        "exact_keep",
        F.col("quality_ok")
        & ~F.col("contaminated")
        & (F.row_number().over(w) == 1),
    ).drop("_row_key")


def curate_near_dups(
    flagged: DataFrame,
    text_col: str = "extracted_text",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    jaccard_threshold: float = 0.8,
    materialize: str = "disk",
    policy: str = "clusters",
    cluster_opts: dict | None = None,
    minhash_k: int = 5,
) -> DataFrame:
    """Stage 2 of curation — adds ``near_dup_drop`` (MinHash near-dup
    prune over the quality+exact survivors) and ``kept`` to a frame that
    already carries the stage-1 flags.  ``minhash_k`` is the shingle
    width in words forwarded to ``minhash_near_dups`` (see ``curate``);
    the LSH banding is recall-sized from ``jaccard_threshold``
    (``minhash_params``).

    The minhash exchange plan is picked here, from the survivor count:
    "rehash" above ``CARRY_THRESHOLD`` docs, "arrays" below (see
    ``minhash_near_dups``).  The count is an ACTION at call time, and
    it is the one action that materializes the pin — the disk/persist
    cache, or the ``"local_checkpoint"`` checkpoint, taken lazily for
    this — so a pinned mode evaluates ``flagged`` once and pays no
    extra job for the choice.  Under ``materialize="none"`` the count
    is its own scan of ``flagged``.

    ``policy`` selects which side of a verified near-dup relation drops:

    - ``"clusters"`` (default): connected components over the verified
      pairs (``dup_clusters``), drop everything but the minimum-key
      representative of each duplicate cluster — the standard corpus-
      dedup policy (deterministic, exactly one survivor per duplicate
      equivalence class, independent of pair enumeration order).  Costs
      the O(log n)-round label propagation over the pair set — tiny
      next to the minhash stage, since pairs ≪ corpus.  ``cluster_opts``
      forwards to ``dup_clusters`` (e.g. ``{"checkpoint_mode":
      "reliable", "checkpoint_dir": ...}`` on a real cluster).
    - ``"pairwise"``: drop the higher-key side of every verified pair
      (the round-2/3 behavior).  Cheaper by one small iterative job but
      key-order-dependent: two docs that are both near-dups of a third
      (but not of each other) BOTH survive or not depending only on key
      layout — e.g. pairs (A,C),(B,C) keep {A,B} while a cluster sees
      one duplicate class and keeps {A}.  Kept for pipelines that want
      maximal retention over canonical keep-one.

    ``materialize`` controls how ``flagged`` is pinned before the two
    plan branches reference it (module doc, "Plan shape"; the modes are
    ``_stage_pin``'s):
    - "disk" (default): persist at ``StorageLevel.DISK_ONLY``,
      materialized by the survivor count — rows serialized to
      executor-local disk, near-zero heap.
    - "local_checkpoint": localCheckpoint at DISK_ONLY storage,
      materialized by the survivor count — additionally truncates
      lineage (the plan-shape proof uses this: the upstream stages
      vanish from the final DAG) and registers no pin to release.
    - "persist": MEMORY_AND_DISK cache (small corpora / interactive).
    - "none": lazy; only correct when ``flagged`` is already a
      materialized table (e.g. the written flags table — then the double
      branch costs two pruned columnar scans, no recomputation)."""
    if policy not in _POLICIES:
        raise ValueError(f"unknown near-dup policy: {policy!r}")
    df = flagged.withColumn("_row_key", _row_key(key_cols))
    survivor_cond = F.col("quality_ok") & F.col("exact_keep")
    df, pins = _stage_pin(df, materialize, eager=False)
    # the survivor count is the action that materializes the pin (the
    # disk/persist cache or the lazy checkpoint): a JVM-side count of
    # the internal rows — one job, where a DataFrame count under AQE
    # adds a shuffle job, and no row conversion
    surv_count = df.filter(survivor_cond)._jdf.queryExecution().toRdd().count()

    # near-dup pairs over the surviving candidates only (quality+exact
    # gates shrink the minhash input before its bucket shuffle)
    survivors = df.filter(survivor_cond).select(
        F.col("_row_key").alias("doc_id"), F.col(text_col).alias("text")
    )
    pairs = minhash_near_dups(
        survivors, k=minhash_k, jaccard_threshold=jaccard_threshold,
        carry="rehash" if surv_count > CARRY_THRESHOLD else "arrays",
    )
    if policy == "clusters":
        clusters = dup_clusters(pairs, **(cluster_opts or {}))
        drops = (
            clusters.filter(F.col("id") != F.col("cluster_rep"))
            .select(F.col("id").alias("_row_key"))
            .withColumn("near_dup_drop", F.lit(True))
        )
    else:
        drops = (
            pairs.select(F.col("id_b").alias("_row_key"))
            .distinct()
            .withColumn("near_dup_drop", F.lit(True))
        )
    # the rehash minhash plan pins its candidate frames internally —
    # forward those handles so release_curated drops them too
    mh_pins = list(getattr(pairs, "_clrs_pinned", []) or [])
    df = df.join(drops, "_row_key", "left").withColumn(
        "near_dup_drop", F.coalesce(F.col("near_dup_drop"), F.lit(False))
    )
    out = df.withColumn(
        "kept",
        F.col("quality_ok") & F.col("exact_keep") & ~F.col("near_dup_drop"),
    ).drop("_row_key")
    # the persisted frame stays registered with the session cache manager
    # until unpersisted — hand the caller the release handle (long-lived
    # sessions curating several corpora should call release_curated on the
    # EXACT frame returned here, once done with the result — see pins.py)
    return attach_pins(out, *pins, *mh_pins)


# the generic release helper (pins.py) under the curation-specific name
release_curated = release_pinned


def _join_back(
    df: DataFrame,
    text_col: str,
    key_cols: tuple[str, ...],
    pin: str | None,
    key: str,
    operator,
    columns: dict[str, str],
) -> tuple[DataFrame, list[DataFrame]]:
    """Runs the row-keyed ``operator(keyed, id_col=key, text_col=...)``
    over ``df`` keyed by the row key, and joins its ``columns``
    (output name → operator column) back 1:1 on that unique key —
    skew-free by construction.  An output named ``text_col`` replaces
    the input text.  Returns (frame, release pins).  ``pin``
    (``_stage_pin``) materializes the KEYED INPUT frame: the operator's
    aggregation and probe plus this join's left side read it in three
    plan branches, and for a nondeterministic upstream all three must
    read the same bytes."""
    keyed, pins = _stage_pin(df.withColumn(key, _row_key(key_cols)), pin)
    right = operator(keyed, id_col=key, text_col=text_col).select(
        key, *[F.col(src).alias(out) for out, src in columns.items()]
    )
    left = keyed.drop(text_col) if text_col in columns else keyed
    return left.join(right, key).drop(key), pins


def line_dedup_rewrite(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    pin: str | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """``curate``'s line stage as a standalone step (also used by
    scripts/corpus_pipeline.py's decomposed sink path): C4 cross-document
    line dedup (``functions.dedup.line_dedup``) keyed by the row key,
    ``text_col`` rewritten from the surviving lines, and
    ``line_dedup_n_lines`` / ``line_dedup_n_kept`` audit columns.
    Returns (rewritten frame, pins); ``pin`` (None | "disk" |
    "local_checkpoint") materializes the keyed input (``_join_back``),
    and only "disk" returns pins."""
    from cl_readability_spark.functions.dedup import line_dedup

    return _join_back(
        extracted, text_col, key_cols, pin, "_ld_key", line_dedup,
        {
            text_col: "deduped_text",
            "line_dedup_n_lines": "n_lines",
            "line_dedup_n_kept": "n_kept_lines",
        },
    )


# Stage runners: run(frame, setting, text_col, key_cols, pin) ->
# (frame, release pins); setting is the curate argument that turned the
# stage on.
def _url_stage(df, url_col, text_col, key_cols, pin):
    from cl_readability_spark.functions.urls import url_dedup

    df, pins = _stage_pin(df, pin)
    out = url_dedup(
        df, url_col=url_col, id_col=None, id_cols=key_cols,
        keep_col="url_keep",
    )
    return out, pins


def _c4_stage(df, c4_opts, text_col, key_cols, pin):
    out = c4_filters(df, text_col=text_col, **c4_opts)
    return (
        out.withColumnRenamed("n_lines", "c4_n_lines")
        .withColumnRenamed("n_kept_lines", "c4_n_kept_lines")
        .withColumn(text_col, F.coalesce(F.col("c4_text"), F.lit("")))
        .drop("c4_text")
    ), []


def _substring_stage(df, k, text_col, key_cols, pin):
    from cl_readability_spark.functions.dedup import substring_dedup

    return _join_back(
        df, text_col, key_cols, pin, "_sd_key",
        functools.partial(substring_dedup, k=k),
        {
            text_col: "dedup_text",
            "substr_dedup_n_tokens": "n_tokens",
            "substr_dedup_n_kept": "n_kept_tokens",
        },
    )


def _repetition_stage(df, _on, text_col, key_cols, pin):
    return _join_back(
        df, text_col, key_cols, pin, "_gr_key", gopher_repetition_flags,
        {"repetition_ok": "repetition_ok"},
    )


# curate's optional stages in run order, ahead of curate_flags and
# curate_near_dups: (name, runner, gate column ANDed into quality_ok,
# branches).  A branching stage reads its input in several plan
# branches, so it takes a pin (curate's docstring, "Stage pins").
_STAGES = (
    ("url_dedup", _url_stage, "url_keep", True),
    ("line_dedup", lambda df, _on, *a: line_dedup_rewrite(df, *a), None, True),
    ("c4", _c4_stage, "c4_keep", False),
    ("substring_dedup", _substring_stage, None, True),
    ("gopher_repetition", _repetition_stage, "repetition_ok", True),
)


def curate(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    jaccard_threshold: float = 0.8,
    min_chars: int = 100,
    min_stopword_bp: int = 100,
    langs: tuple[str, ...] = ("en",),
    materialize: str = "disk",
    policy: str = "clusters",
    cluster_opts: dict | None = None,
    benchmark_hashes=None,  # list[int] | numpy int64 array
    line_dedup: bool = False,
    substring_dedup_k: int | None = None,
    c4: bool = False,
    c4_opts: dict | None = None,
    gopher_repetition: bool = False,
    minhash_k: int = 5,
    url_col: str | None = None,
) -> DataFrame:
    """Adds the curation flags to ``extracted`` (see module doc); filter on
    ``kept`` for the final corpus, aggregate the flags for the report.

    The optional stages below run first, in ``_STAGES`` order, each only
    when its argument is set; a stage's gate column ANDs into the
    quality gate, so its drops land in ``dropped_quality`` (hierarchical
    attribution preserved) with the per-row flag kept.  Then
    ``curate_flags`` (quality, decontamination, exact dedup) and
    ``curate_near_dups`` (see it for the ``materialize`` modes, the
    near-dup drop ``policy``, ``cluster_opts`` and the minhash plan it
    picks from the survivor count).  ``benchmark_hashes``
    (``decontam.benchmark_ngram_hashes`` at its default gram width and
    seed) enables the decontamination gate.  ``minhash_k`` sets the
    near-dup shingle width in words (default 5, the standard 5-word
    shingles; 1 = word-set Jaccard, for corpora where duplicates vary
    token ORDER — template-permuted boilerplate — which contiguous
    shingles undercount).  Every argument is checked before the first
    stage, whose pin may be an eager checkpoint job.

    ``url_col`` (a column name, e.g. ``"url"``) runs URL-level dedup
    (``functions.urls.url_dedup``) — the deployment order: a crawl sees
    the same page under tracking-param/case/slash variants, and
    collapsing those is far cheaper than letting the content stages
    rediscover them.  Adds ``canon_url`` and the gate ``url_keep``, true
    on one row per canonical URL; rows with NULL/blank URLs are all
    kept (a missing URL is not evidence of duplication).  The winner is
    the minimum row key under the same ``min(struct(key_cols...))``
    ordering ``line_dedup`` uses per line, so when URL-duplicate rows
    carry identical text the URL winner is also the line winner:
    composing both never line-empties a URL winner in favor of its
    doomed loser.

    ``line_dedup=True`` runs C4-style cross-document line dedup (Raffel
    et al. 2020 §2.2; ``line_dedup_rewrite``) — the C4 ordering: line-
    level dedup before the doc-level gates — rewriting ``text_col`` from
    the deduped lines and adding ``line_dedup_n_lines`` /
    ``line_dedup_n_kept``.  The division of labor is deliberate and
    pinned in tests/test_curation.py: line dedup subsumes exact doc-dedup
    (a whole-doc duplicate's every line duplicates the first copy, so
    the copy dedups to an empty husk) and the husks then fall to the
    QUALITY gate — ``dropped_quality`` absorbs what ``dropped_exact_dup``
    would have counted.

    ``c4=True`` runs the C4 FILTER battery (Raffel et al. 2020 §2.2;
    ``c4_filters``, with ``c4_opts`` forwarded: min_words_per_line,
    min_sentences, badwords).  The line filters rewrite ``text_col``
    from the surviving lines (NULL input → '' husk, which the quality
    gate absorbs), with audit columns ``c4_n_lines`` /
    ``c4_n_kept_lines`` (the line stage owns the unprefixed names) and
    the per-reason drop counts; the page-level ``c4_keep`` is the gate,
    with the per-row ``has_*`` flags kept.  It sits between the line
    stage and the substring stage on purpose: the C4 line filters are
    line-granularity, while substring dedup's rebuild is whitespace-
    normalized (newlines collapse), so after it every document would be
    one line — and ExactSubstr (Lee et al. 2021) runs on the already
    line-cleaned corpus, the paper's own staging.  One projection: no
    join, no pin.

    ``substring_dedup_k`` (an int >= 2, e.g. 50) runs ExactSubstr
    duplicated-run removal (Lee et al. 2021;
    ``functions.dedup.substring_dedup``), rewriting ``text_col`` from
    the surviving tokens (a whitespace-normalized rebuild — the
    operator contract) and adding ``substr_dedup_n_tokens`` /
    ``substr_dedup_n_kept``.  Every occurrence of a duplicated run goes
    (the operator's ``keep="none"``, the paper's anti-memorization
    stance), so an exact whole-document duplicate of >= k tokens empties
    EVERY copy, the first included, and the husks fall to the QUALITY
    gate like the line stage's.

    ``gopher_repetition=True`` runs the Gopher repetition battery (Rae
    et al. 2021 Table A1; ``gopher_repetition_flags``) on the text as
    the rewrite stages left it — gates judge what would actually ship —
    joining only the gate ``repetition_ok`` back (callers wanting the 13
    fraction columns run the flags operator directly).

    Stage pins follow ``materialize`` — the one pin knob.  Each
    branching stage (all but c4) evaluates its input in 2-3 plan
    branches.  Over a scan that is a repeated pruned read, but over the
    OUTPUT of an earlier branching stage every branch re-runs the whole
    upstream chain of joins.  So:

    - ``"local_checkpoint"`` localCheckpoints EVERY branching stage's
      input (the first included — the mode for a NONDETERMINISTIC
      caller frame that is not sink-staged), TRUNCATING lineage so the
      composed chain's plan size stays linear in stage count instead of
      ~3^k — the single-JVM / bench shape; it registers no pins (see
      ``_stage_pin`` for the measured rationale and the fault-tolerance
      trade).
    - every other mode pins (DISK_ONLY) a branching stage's input only
      when an earlier branching stage produced it — never the first
      stage's caller-supplied input.  These pins ride the returned
      frame's registry handles (``release_curated``).

    Value-neutral either way: pins change execution, never results."""
    if materialize not in _MATERIALIZE_MODES:
        raise ValueError(f"unknown materialize mode: {materialize!r}")
    if policy not in _POLICIES:
        raise ValueError(f"unknown near-dup policy: {policy!r}")
    if substring_dedup_k is not None and substring_dedup_k < 2:
        raise ValueError(
            f"substring_dedup_k must be >= 2, got {substring_dedup_k}"
        )
    if minhash_k < 1:
        raise ValueError(f"minhash_k must be >= 1, got {minhash_k}")
    minhash_params(jaccard_threshold)  # raises outside (0, 1)
    # unknown option names raise TypeError here, as in the call itself
    if c4:
        inspect.signature(c4_filters).bind(extracted, **(c4_opts or {}))
    if policy == "clusters":
        inspect.signature(dup_clusters).bind(
            extracted, **(cluster_opts or {})
        )
    # resolves the named columns (analysis only, no job)
    extracted.select(text_col, *key_cols, *([url_col] if url_col else []))

    settings = {
        "url_dedup": url_col,
        "line_dedup": line_dedup or None,
        "c4": (c4_opts or {}) if c4 else None,
        "substring_dedup": substring_dedup_k,
        "gopher_repetition": gopher_repetition or None,
    }
    derived = False  # did a branching stage produce the current frame?
    pins: list[DataFrame] = []
    gates: list[str] = []
    for name, run, gate, branches in _STAGES:
        if settings[name] is None:
            continue
        pin = None
        if branches:
            pin = "disk" if derived else None
            if materialize == "local_checkpoint":
                pin = materialize
            derived = True
        extracted, stage_pins = run(
            extracted, settings[name], text_col, key_cols, pin
        )
        pins += stage_pins
        if gate is not None:
            gates.append(gate)
    flagged = curate_flags(
        extracted, text_col, key_cols, min_chars, min_stopword_bp, langs,
        benchmark_hashes, tuple(gates),
    )
    out = curate_near_dups(
        flagged, text_col, key_cols, jaccard_threshold, materialize,
        policy, cluster_opts, minhash_k,
    )
    return attach_pins(out, *pins) if pins else out


def curation_report(curated: DataFrame) -> DataFrame:
    """One-row audit: total rows, per-gate drop counts, final kept count.
    The gates are attributed hierarchically (module doc), so
    rows_in == dropped_quality + dropped_contaminated + dropped_exact_dup
    + dropped_near_dup + rows_kept — the drop columns partition the input
    exactly."""
    return curated.agg(
        F.count("*").alias("rows_in"),
        F.sum((~F.col("quality_ok")).cast("long")).alias("dropped_quality"),
        F.sum(
            (F.col("quality_ok") & F.col("contaminated")).cast("long")
        ).alias("dropped_contaminated"),
        F.sum(
            (
                F.col("quality_ok")
                & ~F.col("contaminated")
                & ~F.col("exact_keep")
            ).cast("long")
        ).alias("dropped_exact_dup"),
        F.sum(F.col("near_dup_drop").cast("long")).alias("dropped_near_dup"),
        F.sum(F.col("kept").cast("long")).alias("rows_kept"),
    )


def source_mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 42,
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic per-source mixture sampling — the "mixture weights"
    stage of multi-source training corpora (The Pile, Gao et al. 2020
    §1, assembles sources at per-source epoch counts like Wikipedia×3;
    DoReMi, Xie et al. 2023, reweights domains the same way): each
    source gets a weight ``w >= 0``, and every row is emitted
    ``floor(w)`` times plus one more with probability ``frac(w)`` — so
    ``w = 0.25`` downsamples to a quarter, ``w = 2.5`` yields 2-3 copies
    per row (expected row mass is exactly ``w`` per source), ``w = 0``
    drops the source, and integral weights replicate exactly.  Sources
    absent from ``weights`` get ``default_weight``.

    Sampling is a pure HASH function of (seed, ``key_col``) — no RNG
    state, no ``F.rand()``: re-running the job, changing partitioning,
    or resuming after a crash selects the SAME rows (the repo-wide
    determinism contract; `split_assign`'s md5 recipe extended from one
    hex nibble to a 32-bit uniform).  The fractional draw u is
    ``int(md5(seed \\x1f key)[:8 hex]) / 2^32``; changing ``seed``
    redraws independently.  ``key_col`` values should be unique per row
    (pipeline row keys are) — duplicate keys draw identically.

    Adds ``mix_weight`` (the resolved per-row weight) and ``epoch``
    (0-based copy index, so downstream shuffles/packing can treat
    replicas as distinct rows); all input columns pass through.

    Scale shape: one whole-stage-codegen projection (md5 + literal-map
    lookup) and a Generate for the replication — NO shuffle, no python,
    no skew surface at any corpus size.  Upsampled mass is created
    row-local, so a 10x source never concentrates anywhere.

    Reference scope note: cl-readability ends at extraction; semantics
    follow the public mixture-weight recipes cited above.
    """
    if default_weight < 0:
        raise ValueError(f"default_weight must be >= 0, got {default_weight}")
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for source {s!r} must be >= 0, got {w}")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.lit(str(seed)),
                        F.col(key_col).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    if weights:
        wmap = F.create_map(
            *[
                F.lit(v)
                for key in sorted(weights)
                for v in (key, float(weights[key]))
            ]
        )
        w = F.coalesce(
            F.element_at(wmap, F.col(source_col).cast("string")),
            F.lit(float(default_weight)),
        )
    else:
        w = F.lit(float(default_weight))
    epochs = (
        F.floor(w).cast("int")
        + F.when(u < w - F.floor(w), F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    return (
        df.withColumn("mix_weight", w.cast("double"))
        .withColumn("_epochs", epochs)
        .filter(F.col("_epochs") >= 1)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("_epochs") - 1))
        )
        .drop("_epochs")
    )
