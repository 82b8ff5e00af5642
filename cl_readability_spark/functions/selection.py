"""Data selection for training corpora: DSIR importance resampling.

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", arXiv:2302.03169) selects pretraining examples
that look like a TARGET distribution (e.g. curated high-quality text)
out of a large SOURCE corpus (e.g. raw web), without training a model:

1. Featurize every example as hashed n-gram counts over ``n_buckets``
   buckets (the paper uses 10k buckets over unigrams+bigrams).
2. Fit bag-of-hashed-ngrams distributions p (target) and q (source) on
   samples of each, with additive smoothing.
3. Importance log-weight per example: ``log w(x) = Σ_b c_b(x) ·
   (log p[b] − log q[b])`` over its bucket counts ``c_b``.
4. Resample k examples WITHOUT replacement with probability ∝ w(x) —
   the Gumbel-top-k trick: rank by ``log w(x) + Gumbel(0,1)`` and take
   the top k.

Everything here is deterministic and JVM-side: bucket hashing and the
Gumbel draw both come from the repo's md5 recipe (split_assign /
source_mix_sample — engine-stable across Spark, DuckDB and python, no
RNG state, identical under re-run / repartition / crash-resume), the
distribution fit is a pair of bucket-count aggregations (≤ n_buckets
rows each — NEVER a driver collect), and the weight pass is one gram
explode + one broadcast join + a map-side-combining per-doc sum.

At 100 TB: fit p and q on SAMPLES (pass ``target=``/``source=`` frames
of a few hundred thousand docs — the paper's own setting) so the only
full-corpus pass is the weight pass: explode grams (row-local), join
the ≤ n_buckets-row λ table (broadcast — no shuffle), partial-aggregate
per doc (a doc's grams are co-located, so the map side collapses to one
row per doc before the exchange).  The top-k is TakeOrdered — no global
sort.  Tokenization uses the repo's explicit whitespace class
(curation.py gopher note: java ``\\s`` and RE2 disagree on U+000B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the engine-parity whitespace class (== RE2's \s; see curation.py)
_WS = "[ \t\n\f\r]"


def _words(text_col):
    """Lower-cased whitespace tokens.  Edges are stripped with the FULL
    whitespace class, not ``F.trim`` (ASCII-space-only — the line_dedup
    ADVICE lesson: a tab-leading doc would otherwise split into a
    phantom '' token and hash it into a bucket); empty text → empty
    array (split of '' would likewise yield [''])."""
    t_expr = F.regexp_replace(
        F.lower(F.coalesce(text_col, F.lit(""))), f"^{_WS}+|{_WS}+$", ""
    )
    # bind the trimmed string ONCE (single-element-array + transform
    # lambda): referencing t_expr in both the emptiness check and the
    # split re-runs the regexp_replace per reference under interpreted
    # HOF eval (the ngram_array lesson — no subexpression elimination)
    return F.element_at(
        F.transform(
            F.array(t_expr),
            lambda t: F.when(
                t == "", F.array().cast("array<string>")
            ).otherwise(F.split(t, f"{_WS}+")),
        ),
        1,
    )


def _grams(text_col, ngrams: tuple[int, ...]):
    """The hashed-feature gram array: unigrams and/or space-joined
    bigrams.  The bigram build is ``zip_with`` over two ``slice``s of
    the words array (w[0:n-1] ⊗ w[1:n-1]) — one HOF pass, interpreted,
    but CRITICALLY with no reference to the words EXPRESSION inside the
    lambda.  The first shipped shape indexed ``element_at(words, i)``
    per position, and because HOFs run interpreted (no codegen, no
    subexpression elimination) every ``element_at`` re-evaluated the
    whole lower+trim-regex+split tokenization — O(words²) work per doc.
    Invisible on toy text; on the 1M transcript corpus (~3 KB HTML
    turns) the weight pass pinned 32 cores in ``RegExpReplace``
    interpreted eval for 50+ minutes before being killed (jstack
    diagnosis).  The slice form re-evaluates the tokenization a small
    CONSTANT number of times per doc (size + two slices) whatever the
    doc length."""
    bad = set(ngrams) - {1, 2}
    if bad or not set(ngrams) & {1, 2}:
        raise ValueError(f"ngrams must be a non-empty subset of (1, 2), got {ngrams}")

    def build(w):
        parts = []
        if 1 in ngrams:
            parts.append(w)
        if 2 in ngrams:
            parts.append(
                F.when(F.size(w) < 2, F.array().cast("array<string>")).otherwise(
                    F.zip_with(
                        F.slice(w, 1, F.size(w) - 1),
                        F.slice(w, 2, F.size(w) - 1),
                        lambda a, b: F.concat_ws(" ", a, b),
                    )
                )
            )
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    # bind the words array ONCE (ngram_array's single-element-array +
    # transform trick): the slices/size guards then reference the lambda
    # variable, not the tokenize expression — interpreted HOF eval has no
    # subexpression elimination, so the direct form re-tokenized per
    # reference (a constant-factor cost the module docstring already
    # bounds, now removed outright)
    return F.element_at(F.transform(F.array(_words(text_col)), build), 1)


def _bucket(gram_col, n_buckets: int):
    """Hashed-ngram bucket: first 8 md5 hex chars as a 32-bit int, mod
    n_buckets — the split_assign/mix_sample md5 recipe (exact in every
    engine; no shared 64-bit int hash needed)."""
    return F.pmod(
        F.conv(F.substring(F.md5(gram_col), 1, 8), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )


def _bucket_counts(corpus: DataFrame, text_col: str, n_buckets: int, ngrams):
    return (
        corpus.select(F.explode(_grams(F.col(text_col), ngrams)).alias("_g"))
        .select(_bucket(F.col("_g"), n_buckets).alias("_b"))
        .groupBy("_b")
        .agg(F.count("*").alias("_c"))
    )


def dsir_logweights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    ngrams: tuple[int, ...] = (1, 2),
    alpha: float = 1.0,
    source: DataFrame | None = None,
) -> DataFrame:
    """Per-example DSIR importance log-weight: ``dsir_logw(x) = Σ_b
    c_b(x)·λ_b`` with ``λ_b = log((t_b+α)/(T+αB)) − log((s_b+α)/(S+αB))``
    where t/s are bucket counts over the target/source fit corpora (T/S
    their totals, B = n_buckets, α additive smoothing).  ``source``
    defaults to ``df`` itself (the paper's raw-corpus setting); at scale
    pass SAMPLES for both fits so only the weight pass reads the full
    corpus.  Returns ``df`` + ``dsir_logw`` (docs with no grams score
    0.0 — an empty product, not a missing row).

    Plan shape: two bounded bucket-count aggregations (≤ B rows out),
    a B-row λ table broadcast into the gram-explode pass, per-doc sum
    with map-side combine, and one row-key join back onto ``df`` —
    no window, no driver collect, no python.

    Length bias (inherent to the paper's product form): logw sums one λ
    per gram OCCURRENCE, so on corpora where λ skews negative an empty
    or very short doc can out-rank real text (0.0 beats any negative
    sum).  Gate length/quality FIRST (``curate``'s Gopher gates) and
    resample the survivors — the standard composition."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from pyspark.sql.window import Window

    # When the source fit is df itself (the paper's raw-corpus setting —
    # and the bench/oracle shape), the corpus would be tokenized + md5-
    # bucketed TWICE: once for the source fit and once for the weight
    # pass (measured at sf1.0: each full-corpus gram pass is ~12 s of the
    # 32 s query).  Instead build the per-(doc, bucket) count frame ONCE,
    # pin it DISK_ONLY (narrow: id + two longs, collapsed map-side
    # because a doc's grams are row-local), and derive BOTH the source
    # bucket counts (Σ over docs) and the per-doc weights (Σ c_b·λ_b)
    # from it.  Counts are value-identical; the weight sum regroups the
    # per-gram λ sum by bucket, which only reorders float addition —
    # inside the oracle's 6-dp rounding by a ~1e-9 margin (the DuckDB
    # twin already sums in its own order).  The pin rides the returned
    # frame's release handle (pins.release_pinned).
    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # tokenize+md5 passes are CPU-bound — parallelism floor on each fit/
    # weight input (no-op on inputs already spanning the cores)
    df = ensure_parallelism(df)
    target = ensure_parallelism(target)
    id_bucket_counts = None
    tc = _bucket_counts(target, text_col, n_buckets, ngrams)
    if source is None:
        from pyspark.storagelevel import StorageLevel

        id_bucket_counts = (
            df.select(
                F.col(id_col),
                F.explode(_grams(F.col(text_col), ngrams)).alias("_g"),
            )
            .select(id_col, _bucket(F.col("_g"), n_buckets).alias("_b"))
            .groupBy(id_col, "_b")
            .agg(F.count("*").alias("_c"))
            .persist(StorageLevel.DISK_ONLY)
        )
        sc = id_bucket_counts.groupBy("_b").agg(F.sum("_c").alias("_c"))
    else:
        sc = _bucket_counts(
            ensure_parallelism(source), text_col, n_buckets, ngrams
        )
    a, b = float(alpha), int(n_buckets)
    # λ over a range(B) bucket SPINE so every possible bucket has a row
    # (a never-seen-bucket fallback branch would re-reference the count
    # subplans — no cross-branch subplan reuse, so each reference is a
    # full fit-corpus scan).  Totals come from a global window over the
    # B-row spine for the same reason (one task holding B tiny rows —
    # bounded by construction; re-referencing tc/sc for a totals agg
    # would scan the fit corpora twice).  Net: each fit corpus is
    # scanned exactly ONCE.
    spine = df.sparkSession.range(b).select(F.col("id").alias("_b"))
    counts = (
        spine.join(F.broadcast(tc.withColumnRenamed("_c", "_ct")), "_b", "left")
        .join(F.broadcast(sc.withColumnRenamed("_c", "_cs")), "_b", "left")
        .select(
            "_b",
            F.coalesce(F.col("_ct"), F.lit(0)).alias("_ct"),
            F.coalesce(F.col("_cs"), F.lit(0)).alias("_cs"),
        )
    )
    tot_w = Window.partitionBy(F.lit(1))
    lam_tbl = counts.select(
        "_b",
        (
            F.log(
                (F.col("_ct") + F.lit(a))
                / (F.sum("_ct").over(tot_w) + F.lit(a * b))
            )
            - F.log(
                (F.col("_cs") + F.lit(a))
                / (F.sum("_cs").over(tot_w) + F.lit(a * b))
            )
        ).alias("_lam"),
    )
    # inner join is safe: the spine covers every bucket a gram can hash to
    if id_bucket_counts is not None:
        weights = (
            id_bucket_counts.join(F.broadcast(lam_tbl), "_b")
            .groupBy(id_col)
            .agg(F.sum(F.col("_c") * F.col("_lam")).alias("dsir_logw"))
        )
    else:
        doc_grams = df.select(
            F.col(id_col), F.explode(_grams(F.col(text_col), ngrams)).alias("_g")
        ).select(id_col, _bucket(F.col("_g"), n_buckets).alias("_b"))
        weights = (
            doc_grams.join(F.broadcast(lam_tbl), "_b")
            .groupBy(id_col)
            .agg(F.sum("_lam").alias("dsir_logw"))
        )
    out = df.join(weights, id_col, "left").withColumn(
        "dsir_logw", F.coalesce(F.col("dsir_logw"), F.lit(0.0))
    )
    if id_bucket_counts is not None:
        from cl_readability_spark.functions.pins import attach_pins

        out = attach_pins(out, id_bucket_counts)
    return out


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    ngrams: tuple[int, ...] = (1, 2),
    alpha: float = 1.0,
    source: DataFrame | None = None,
) -> DataFrame:
    """DSIR resampling: k examples without replacement with probability
    ∝ exp(dsir_logw) — the Gumbel-top-k construction (rank by
    ``dsir_logw + Gumbel(0,1)``, take the top k; equivalent to
    sequential sampling from the softmax, Xie et al. §2).  The Gumbel
    draw is ``−ln(−ln(u))`` with u the repo's deterministic md5 32-bit
    uniform of (seed, id) shifted to (0,1) open — pure hash, no RNG
    state, stable under re-run and resume.  Ties in ``dsir_key`` break
    by id for full determinism.  The top-k executes as
    TakeOrderedAndProject — no global sort at any corpus size."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    weighted = dsir_logweights(
        df, target, text_col, id_col, n_buckets, ngrams, alpha, source
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f", F.lit(str(seed)), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    out = (
        weighted.withColumn("dsir_key", F.col("dsir_logw") - F.log(-F.log(u)))
        .orderBy(F.desc("dsir_key"), F.asc(id_col))
        .limit(int(k))
    )
    # forward the logweights pass's pin handle (source-fit reuse) so
    # release_pinned on the returned frame drops it too
    mh_pins = list(getattr(weighted, "_clrs_pinned", []) or [])
    if mh_pins:
        from cl_readability_spark.functions.pins import attach_pins

        out = attach_pins(out, *mh_pins)
    return out
