"""DuckDB-parity twins not registered in ``__spark_entry__.queries()``.

Same ``(builder, sql)`` contract as ``SQL_TWINS`` in
``cl_readability_spark/functions/sqltwins.py``: a DataFrame builder
``(spark, sf_dir) -> DataFrame`` and an ANSI-SQL string for DuckDB over the
same parquet views.  ``queries()`` has no room for them (its 50-entry cap
is full), so ``tests/test_queries_oracle.py`` checks each one against its
oracle and ``bench.py`` times ``split_leak_planted``.  No production run executes them, so they live
under ``tests/`` and stay out of the ``--py-files`` package.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cl_readability_spark.functions.curation import (
    C4_JS_LINE_RE,
    C4_SENTENCE_RE,
    c4_badword_re,
    c4_drop_line_re,
    c4_short_line_re,
)
from cl_readability_spark.functions.sqltwins import _docs, _embs


# --- TPC-H-style relational twins over the driver tables: the classic scan
#     → broadcast-join → partial-agg shapes the metrics/lineage rollups use
#     at scale.  Money math is integerized (×100, bigint) so cross-engine
#     sums are order-independent and hash-equal. ---

def _tbl(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (map-side partial agg → final agg)."""
    li = _tbl(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(disc_cents).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_disc_cents,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """orders ⋈ broadcast(customer) → top-10 by revenue (TakeOrdered)."""
    orders = _tbl(spark, sf_dir, "orders")
    customer = _tbl(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("revenue_cents"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue_cents DESC, c_custkey ASC
LIMIT 10
"""


def q_regional_customers(spark, sf_dir):
    """customer ⋈ broadcast(nation) ⋈ broadcast(region) rollup — the
    dim-chain broadcast shape."""
    customer = _tbl(spark, sf_dir, "customer")
    nation = _tbl(spark, sf_dir, "nation")
    region = _tbl(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias("acctbal_cents"),
        )
        .orderBy("r_name")
    )


SQL_REGIONAL_CUSTOMERS = """
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q_user_event_seq(spark, sf_dir):
    """Ordered per-key sequence aggregation (collect_list + array_sort vs
    DuckDB's ordered string_agg) over the events table."""
    ev = _tbl(spark, sf_dir, "events")
    seq = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
    )
    return (
        ev.groupBy("user_id")
        .agg(seq.alias("event_seq"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


SQL_USER_EVENT_SEQ = """
SELECT user_id,
       string_agg(event_type, ',' ORDER BY event_id) AS event_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- 18g2. repetition_score — intra-document repetition (the
#     Gopher/MassiveText duplicate-n-gram quality rule: heavily
#     self-repeating documents are low-quality training text).  Counts
#     word 3-grams vs DISTINCT word 3-grams; ``repetitive`` flags docs
#     whose duplicate-gram fraction exceeds 20%, via integer
#     cross-multiplication (n_distinct*10 < n_grams*8) so the twin is
#     float-free and hashes identically across engines.  Docs under 3
#     words have zero grams and are never repetitive. ---
def q_repetition_score(spark, sf_dir):
    # plant a repetitive class (every 7th doc gets a 40x-repeated phrase
    # appended) so BOTH flag outcomes exist on the driver corpus — the
    # word-salad docs alone never cross the 20% duplicate-gram flag
    # threshold (verified: 0 of 500 FLAGGED; ~27 do contain at least one
    # duplicate gram), which would make the flag a vacuous check
    planted = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(F.col("text"), F.lit(" "), F.expr("repeat('spam spam wonderful ', 40)")),
    ).otherwise(F.col("text"))
    # coalesce on BOTH sides: Spark's when-guard would score a NULL text
    # as zero grams while DuckDB's list functions propagate NULL — the
    # twin must agree even on corpora with null rows
    words = F.split(F.lower(F.trim(F.coalesce(planted, F.lit("")))), r"\s+")
    n = F.size(words)
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams).cast("long")
    n_distinct = F.size(F.array_distinct(grams)).cast("long")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n.cast("long").alias("n_words"),
        n_grams.alias("n_grams3"),
        n_distinct.alias("n_distinct_grams3"),
        ((n_grams > 0) & (n_distinct * 10 < n_grams * 8)).alias("repetitive"),
    )


SQL_REPETITION_SCORE = r"""
WITH g AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(coalesce(
           CASE WHEN doc_id % 7 = 0
                THEN text || ' ' || repeat('spam spam wonderful ', 40)
                ELSE text END, ''))), '\s+') AS w
  FROM documents
),
t AS (
  SELECT doc_id,
         len(w) AS n_words,
         list_transform(range(0, len(w) - 2),
                        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS grams
  FROM g
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(len(grams) AS BIGINT) AS n_grams3,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams3,
       len(grams) > 0 AND len(list_distinct(grams)) * 10 < len(grams) * 8
         AS repetitive
FROM t
"""


# --- 18f2b. c4_planted — the C4 cleaning battery (Raffel et al. 2020
#     §2.2, curation.c4_filters) hash-checked end to end.  The planted
#     corpus appends to every doc's word-salad text one line per filter
#     category (a kept sentence, a short line, a javascript line, a
#     no-terminal line) plus modulo-classed page-flag lines (curly brace
#     %5, badword %7, lorem ipsum %3, a 5-sentence booster %2), so every
#     line rule, every drop-attribution bucket, and both page-verdict
#     outcomes exist by construction.  The DuckDB oracle recomputes the
#     WHOLE battery from the SAME shared pattern literals (module top:
#     terminator convention, (?d) only on the Java side) — c4_text is
#     compared byte-for-byte, so line survival, byte preservation, and
#     the count algebra are all inside the hash. ---
def q_c4_planted(spark, sf_dir):
    from cl_readability_spark.functions.curation import c4_filters

    docs = _docs(spark, sf_dir)
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("Keep this planted sentence."),
            F.lit("short one"),
            F.lit("JavaScript required to view this page."),
            F.lit("this line has no terminal punctuation"),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(2)) == 0,
                F.lit("One. Two! Three? Four. Five."),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                F.lit("Curly brace { page marker."),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(7)) == 0,
                F.lit("the naughty word appears here."),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                F.lit("Lorem ipsum dolor sit amet."),
            ),
        ).alias("text"),
    )
    return c4_filters(corpus, badwords=("naughty",)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "c4_text",
        "n_lines",
        "n_kept_lines",
        "n_drop_javascript",
        "n_drop_short_line",
        "n_drop_no_terminal",
        "has_lorem_ipsum",
        "has_curly_brace",
        "has_badword",
        "n_sentences",
        "c4_keep",
    )


def _c4_sql_lit(pattern: str) -> str:
    return "'" + pattern.replace("'", "''") + "'"


_C4_DROP_LIT = _c4_sql_lit("(?m)" + c4_drop_line_re(3))
_C4_JS_LIT = _c4_sql_lit("(?m)^(?:" + C4_JS_LINE_RE + ")\\n")
_C4_JSS_LIT = _c4_sql_lit(
    "(?m)^(?:" + C4_JS_LINE_RE + "|" + c4_short_line_re(3) + ")\\n"
)
_C4_SENT_LIT = _c4_sql_lit(C4_SENTENCE_RE)
_C4_BAD_LIT = _c4_sql_lit(c4_badword_re(("naughty",)))

SQL_C4_PLANTED = f"""
WITH c AS (
  SELECT doc_id, concat_ws(chr(10), text,
    'Keep this planted sentence.',
    'short one',
    'JavaScript required to view this page.',
    'this line has no terminal punctuation',
    CASE WHEN doc_id % 2 = 0 THEN 'One. Two! Three? Four. Five.' END,
    CASE WHEN doc_id % 5 = 0 THEN 'Curly brace {{ page marker.' END,
    CASE WHEN doc_id % 7 = 0 THEN 'the naughty word appears here.' END,
    CASE WHEN doc_id % 3 = 0 THEN 'Lorem ipsum dolor sit amet.' END
  ) AS text FROM documents
), k AS (
  SELECT doc_id, text, text || chr(10) AS t,
         regexp_replace(text || chr(10), {_C4_DROP_LIT}, '', 'g') AS kt
  FROM c
), m AS (
  SELECT doc_id, text,
         CASE WHEN kt = '' THEN ''
              ELSE substr(kt, 1, length(kt) - 1) END AS c4_text,
         CAST(len(regexp_extract_all(t, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(regexp_extract_all(kt, chr(10))) AS BIGINT)
           AS n_kept_lines,
         CAST(len(regexp_extract_all(t, {_C4_JS_LIT})) AS BIGINT) AS n_js,
         CAST(len(regexp_extract_all(t, {_C4_JSS_LIT})) AS BIGINT) AS n_jss
  FROM k
), s AS (
  SELECT doc_id, text, c4_text, n_lines, n_kept_lines, n_js, n_jss,
         CAST(len(regexp_extract_all(c4_text, {_C4_SENT_LIT})) AS BIGINT)
           AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         contains(text, '{{') AS has_curly_brace,
         regexp_matches(lower(text), {_C4_BAD_LIT}) AS has_badword
  FROM m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, c4_text, n_lines, n_kept_lines,
       n_js AS n_drop_javascript,
       n_jss - n_js AS n_drop_short_line,
       n_lines - n_kept_lines - n_jss AS n_drop_no_terminal,
       has_lorem_ipsum, has_curly_brace, has_badword, n_sentences,
       NOT has_lorem_ipsum AND NOT has_curly_brace AND NOT has_badword
         AND n_sentences >= 5 AS c4_keep
FROM s
"""


# --- 18f4. substring_dedup_planted — ExactSubstr-style duplicated-
#     substring removal (functions/dedup.py:substring_dedup, Lee et al.
#     2021 §4.1) with a fully GENERIC SQL twin: the oracle re-derives
#     token k-grams, duplicate grams (count >= 2 corpus-wide, counting
#     within-doc multiplicity), covered positions, and the surviving-
#     token rebuild from scratch in DuckDB — string grams vs the Spark
#     side's two xxhash64 gram keys over per-token hashes (equivalent
#     absent a 128-bit-grade collision, which the value hash would
#     catch).  The planted corpus layers three duplication shapes on the
#     real documents text: a 12-token block shared by every doc_id%3==0
#     (cross-document run), a doc-specific 8-token sentence repeated
#     TWICE in doc_id%7==0 docs (within-document multiplicity — both
#     copies must go under keep="none"), and a doc-unique tail token
#     (pins the trailing-gram edge).  Natural k=8 dups in the real text
#     are detected identically by both engines.  dedup_text is compared
#     byte-for-byte, so removal, original-token preservation, and
#     rebuild order are all inside the hash. ---
SUBSTR_SHARED = (
    "the shared boilerplate navigation footer block appears on many "
    "pages verbatim"
)


def q_substring_dedup_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import substring_dedup

    docs = _docs(spark, sf_dir)
    rep = F.concat(
        F.lit("rw"),
        F.col("doc_id").cast("string"),
        F.lit(" q1 q2 q3 q4 q5 q6 q7"),
    )
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(SUBSTR_SHARED)),
            F.when(F.col("doc_id") % 7 == 0, rep),
            F.when(F.col("doc_id") % 7 == 0, rep),
            F.concat(F.lit("tail"), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return substring_dedup(planted, k=8, dup_join_salt=4).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_kept_tokens",
        "dedup_text",
    )


SQL_SUBSTRING_DEDUP_PLANTED = (
    r"""
WITH base AS (
  SELECT doc_id,
         concat_ws(' ', text,
           CASE WHEN doc_id % 3 = 0 THEN '__SHARED__' END,
           CASE WHEN doc_id % 7 = 0
                THEN 'rw' || CAST(doc_id AS VARCHAR) || ' q1 q2 q3 q4 q5 q6 q7' END,
           CASE WHEN doc_id % 7 = 0
                THEN 'rw' || CAST(doc_id AS VARCHAR) || ' q1 q2 q3 q4 q5 q6 q7' END,
           'tail' || CAST(doc_id AS VARCHAR)) AS t
  FROM documents
),
-- tokenize with the EXPLICIT dedup.TOKEN_SPLIT_RE whitespace class
-- (space/tab/LF/FF/CR — never \s: java and RE2 disagree on VT)
tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(t, '[ \t\n\f\r]+'),
                     x -> x <> '') AS toks
  FROM base
),
gidx AS (
  SELECT doc_id, toks, unnest(range(greatest(len(toks) - 7, 0))) AS pos
  FROM tok
),
g AS (
  -- gram key = the lowercased token run itself (the Spark side keys on
  -- two xxhash64s of the per-token hash run — same equality)
  SELECT doc_id, pos, lower(array_to_string(toks[pos + 1 : pos + 8], ' ')) AS gram
  FROM gidx
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT m.doc_id, m.pos + o.o AS cpos
  FROM (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)) m
  CROSS JOIN (SELECT unnest(range(8)) AS o) o
),
tokrow AS (
  SELECT doc_id, u['i'] - 1 AS pos, u['tok'] AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(toks, (x, i) -> {'i': i, 'tok': x})) AS u
        FROM tok)
),
kept AS (
  SELECT t.doc_id, count(*) AS nk, string_agg(t.tok, ' ' ORDER BY t.pos) AS txt
  FROM tokrow t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
  WHERE c.doc_id IS NULL
  GROUP BY t.doc_id
)
SELECT CAST(tok.doc_id AS BIGINT) AS doc_id,
       CAST(len(tok.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(kept.nk, 0) AS BIGINT) AS n_kept_tokens,
       coalesce(kept.txt, '') AS dedup_text
FROM tok LEFT JOIN kept ON tok.doc_id = kept.doc_id
""".replace("__SHARED__", SUBSTR_SHARED)
)


# --- LOCAL twin: dedup_weights_planted — soft dedup (SoftDeDup, He et
#     al. 2024) on a planted-multiplicity corpus: every 5 consecutive
#     doc_ids share one synthetic text, so the exact-dup commonness of
#     each doc is its group's size (5, or the ragged tail) and the
#     weight is n**-0.5 (non-default alpha exercises the pow path).
#     The SQL re-derives n by grouping on the SAME planted key — the
#     planted-group recipe of dedup_minhash_planted.  LOCAL_TWINS (the
#     driver registry is at its 50-row cap), enforced by the rehearsal
#     in tests/test_queries_oracle.py. ---
def q_dedup_weights_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import dedup_weights

    group = F.floor(F.col("doc_id") / 5).cast("long")
    corpus = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("planted dup text "), group.cast("string")).alias(
            "text"
        ),
    )
    out = dedup_weights(corpus, id_col="doc_id", text_col="text", alpha=0.5)
    return out.select(
        "doc_id",
        "dup_count",
        F.round("dup_weight", 6).alias("dup_weight"),
    )


SQL_DEDUP_WEIGHTS_PLANTED = """
WITH c AS (
  SELECT doc_id // 5 AS g, COUNT(*) AS n FROM documents GROUP BY g
)
SELECT d.doc_id,
       CAST(c.n AS BIGINT) AS dup_count,
       CAST(ROUND(POWER(c.n, -0.5), 6) AS DOUBLE) AS dup_weight
FROM documents d JOIN c ON d.doc_id // 5 = c.g
"""


# --- LOCAL twin: doc_chunks — context-window chunking re-derived
#     GENERICALLY in DuckDB (tokenize with the engine-exact explicit
#     whitespace class, ceil-div window count, 1-based inclusive list
#     slice) at an overlapping config (max=32, stride=24) so the
#     ragged-tail and overlap arithmetic are both exercised on real
#     document text.  LOCAL_TWINS (driver registry at its 50-row cap),
#     enforced by the tests/test_queries_oracle.py rehearsal. ---
def q_doc_chunks(spark, sf_dir):
    from cl_readability_spark.functions.packing import doc_chunks

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return doc_chunks(docs, max_tokens=32, stride=24)


SQL_DOC_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(text, '\w+|[^\w \t\n\f\r]') AS t
  FROM documents
),
meta AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) = 0 THEN 0
              ELSE 1 + (GREATEST(len(t) - 32, 0) + 23) // 24 END AS nc
  FROM toks
),
ch AS (
  SELECT doc_id, t, n, unnest(range(nc)) AS chunk_idx FROM meta
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 24 AS BIGINT) AS tok_start,
       CAST(LEAST(chunk_idx * 24 + 32, n) AS BIGINT) AS tok_end,
       CAST(LEAST(chunk_idx * 24 + 32, n) - chunk_idx * 24 AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
         AS chunk_text
FROM ch
"""


# --- LOCAL twin: semantic_decontam — the embedding-space benchmark
#     decontamination screen re-derived in DuckDB with its OWN vector
#     machinery (list_cosine_similarity over DOUBLE[] casts — the
#     embeddings parquet is float32, and computing in float32 on one
#     engine but float64 on the other could flip the x10k rounding):
#     benchmark = every 10th vector, so bench members hit themselves at
#     cosine ~1.0 (ROUNDED x10k = 10000 on both engines — the rint-not-
#     floor call in the operator) and generic dim-64 vectors sit far
#     from the 9999 threshold. ---
def q_semantic_decontam(spark, sf_dir):
    from cl_readability_spark.functions.decontam import semantic_decontam

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    bench = embs.filter(F.col("vec_id") % 10 == 0).select("embedding")
    out = semantic_decontam(embs, bench, threshold_x10k=9999)
    return out.select(
        "vec_id",
        "semantic_max_sim_x10k",
        F.col("semantically_contaminated").cast("int").alias(
            "semantically_contaminated"
        ),
    )


SQL_SEMANTIC_DECONTAM = """
WITH bench AS (
  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE vec_id % 10 = 0
),
sims AS (
  SELECT a.vec_id,
         CAST(ROUND(MAX(list_cosine_similarity(
             CAST(a.embedding AS DOUBLE[]), b.e)) * 10000) AS INTEGER) AS s
  FROM embeddings a, bench b
  GROUP BY a.vec_id
)
SELECT vec_id,
       s AS semantic_max_sim_x10k,
       CAST(s >= 9999 AS INTEGER) AS semantically_contaminated
FROM sims
"""


# --- LOCAL twin: bpe_word_counts — the DISTRIBUTED half of the BPE
#     trainer (functions/bpe.py): BPE training needs only the word-type
#     frequency table, so hash-checking the top-V word counts (count
#     DESC, word ASC — the deterministic cap ordering) pins the one
#     corpus pass the fit performs; the driver-side merge loop is
#     pinned by the incremental-vs-naive differential in
#     tests/test_bpe.py. ---
def q_bpe_word_counts(spark, sf_dir):
    from cl_readability_spark.functions.bpe import word_counts

    return word_counts(
        _docs(spark, sf_dir).select("text"), max_types=200
    )


SQL_BPE_WORD_COUNTS = """
WITH w AS (
  SELECT unnest(string_split_regex(
           regexp_replace(lower(coalesce(text, '')),
                          '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g'),
           '[ \t\n\f\r]+')) AS word
  FROM documents
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n
FROM w
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 200
"""


# --- LOCAL twin: incremental_exact — the round-8 bucketed-catalog
#     incremental dedup (functions/incremental.py) on a planted split:
#     catalog = docs with doc_id % 3 == 0 (written as a REAL bucketed
#     saveAsTable inside the twin — the probe exercises the exact
#     production path, bucketed scan and all), batch = the remaining
#     docs PLUS the catalog docs re-keyed +100000 (exact text copies →
#     guaranteed catalog hits).  The SQL re-derives in_catalog via an
#     EXISTS anti-pattern over the same md5(normalized) fingerprint and
#     batch_keep via the same min-doc_id window.  LOCAL_TWINS (driver
#     registry at its 50-row cap; rotates in round 9). ---
def q_incremental_exact(spark, sf_dir):
    import shutil

    from cl_readability_spark.functions.incremental import (
        incremental_exact_dedup,
        write_exact_catalog,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    table = "clrs_twin_inc_exact"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(f"{warehouse}/{table}{suffix}", ignore_errors=True)
    write_exact_catalog(
        docs.filter(F.col("doc_id") % 3 == 0), table, n_buckets=8
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0).unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    out = incremental_exact_dedup(batch, table)
    return out.select(
        "doc_id",
        "fingerprint",
        F.col("in_catalog").cast("int").alias("in_catalog"),
        F.col("batch_keep").cast("int").alias("batch_keep"),
    )


SQL_INCREMENTAL_EXACT = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(coalesce(text, '')),
                            '[^a-z0-9]', '', 'g')) AS fingerprint
  FROM documents
),
batch AS (
  SELECT doc_id, fingerprint FROM fp WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, fingerprint FROM fp
  WHERE doc_id % 3 = 0
)
SELECT b.doc_id,
       b.fingerprint,
       CAST(EXISTS (SELECT 1 FROM fp c
                    WHERE c.doc_id % 3 = 0
                      AND c.fingerprint = b.fingerprint) AS INT)
         AS in_catalog,
       CAST(ROW_NUMBER() OVER (PARTITION BY b.fingerprint
                               ORDER BY b.doc_id) = 1 AS INT)
         AS batch_keep
FROM batch b
"""


# --- LOCAL twin: ingest_planted — the round-8 incremental ingest LOOP
#     (pipeline/ingest.py) hash-checked end to end on the 18c planted
#     curation corpus, keyed (conv_id, turn_idx): batch 1 = the corpus,
#     batch 2 = a full re-keyed copy.  Batch 1's kept roles {0,5..9}
#     land in the exact catalog, so batch 2's copies of roles 0 and 3
#     (rot(0) — role 3 IS role 0's text) and the fillers 5-9 are
#     exact_in_catalog; role 4 ('tiny') was never kept (quality) so its
#     copy re-fails quality; roles 1/2 (rot(1)/rot(2)) were near-dup-
#     dropped so their fingerprints are NOT in the catalog — they re-
#     enter curate() where, with their batch-1 cluster-mate rot(0)
#     already catalog-dropped, the {1,2} cluster keeps its min key:
#     role 1 is KEPT, role 2 near-dup-dropped.  Every outcome is
#     closed-form; catalog-skipped rows carry -1 curation flags (they
#     never reached curate()).  Exercises in ONE hash row: the resume
#     anti-join path, the bucketed catalog probe, the post-commit
#     catalog append, and the probe→curate composition.  LOCAL_TWINS
#     (driver registry at its 50-row cap; rotates in round 9). ---
def q_ingest_planted(spark, sf_dir):
    import shutil
    import tempfile

    from cl_readability_spark.functions.incremental import (
        write_exact_catalog,
    )
    from cl_readability_spark.pipeline.ingest import ingest_batch
    from cl_readability_spark.pipeline.resume import CheckpointedSink

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    # the 18c planted-corpus construction (see _curation_planted_curated)
    g = (F.col("doc_id") / 10).cast("long").cast("string")
    role = F.pmod(F.col("doc_id"), F.lit(10))
    cycle = [F.lit("the"), F.lit("and"), F.lit("is")] + [
        F.concat(F.lit("w"), g, F.lit(f"x{j}")) for j in range(7)
    ]

    def rot(s: int):
        words = (cycle[s:] + cycle[:s]) * 3
        return F.concat_ws(" ", *words)

    filler = F.concat_ws(
        " ",
        F.lit("the"),
        F.lit("and"),
        F.lit("is"),
        *[
            F.concat(
                F.lit("u"), F.col("doc_id").cast("string"), F.lit(f"x{j}")
            )
            for j in range(27)
        ],
    )
    text = (
        F.when(role == 4, F.lit("tiny"))
        .when(role == 1, rot(1))
        .when(role == 2, rot(2))
        .when(role >= 5, filler)
        .otherwise(rot(0))
    )
    batch1 = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        text.alias("extracted_text"),
    )
    batch2 = batch1.withColumn(
        "conv_id", F.concat(F.lit("b2-"), F.col("conv_id"))
    )

    table = "clrs_twin_ingest_exact"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(f"{warehouse}/{table}{suffix}", ignore_errors=True)
    empty = spark.createDataFrame(
        [], "_ingest_id string, extracted_text string"
    )
    write_exact_catalog(
        empty, table, text_col="extracted_text", id_col="_ingest_id",
        n_buckets=8,
    )
    root = tempfile.mkdtemp(prefix="clrs_twin_ingest_sink_")
    try:
        sink = CheckpointedSink(root)
        opts = {"policy": "clusters", "materialize": "none"}
        for b in (batch1, batch2):
            ingest_batch(
                b, sink, exact_table=table, pre_extracted=True,
                curate_opts=opts,
            )
        written = (
            sink.read(spark)
            .filter(F.col("conv_id").startswith("b2-"))
            .select(
                "conv_id",
                F.col("exact_in_catalog").cast("int").alias(
                    "exact_in_catalog"
                ),
                F.coalesce(F.col("quality_ok").cast("int"), F.lit(-1))
                .alias("quality_ok"),
                F.coalesce(F.col("exact_keep").cast("int"), F.lit(-1))
                .alias("exact_keep"),
                F.coalesce(F.col("near_dup_drop").cast("int"), F.lit(-1))
                .alias("near_dup_drop"),
                F.col("kept").cast("int").alias("kept"),
            )
        )
        # materialize before the tmpdir vanishes
        out = spark.createDataFrame(
            written.collect(), schema=written.schema
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


SQL_INGEST_PLANTED = """
SELECT 'b2-' || CAST(doc_id AS VARCHAR)                        AS conv_id,
       CAST(doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) AS INT)      AS exact_in_catalog,
       CASE WHEN doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) THEN -1
            WHEN doc_id % 10 = 4 THEN 0 ELSE 1 END            AS quality_ok,
       CASE WHEN doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) THEN -1
            WHEN doc_id % 10 = 4 THEN 0 ELSE 1 END            AS exact_keep,
       CASE WHEN doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) THEN -1
            WHEN doc_id % 10 = 2 THEN 1 ELSE 0 END            AS near_dup_drop,
       CAST(doc_id % 10 = 1 AS INT)                           AS kept
FROM documents
"""


# --- LOCAL twin: epoch_shuffle — deterministic training-order shuffle
#     (functions/assembly.py).  The oracle recomputes the md5 shuffle
#     key (seed \x1f doc_id — the split_assign/mix_sample portable-hash
#     recipe) and the first-8-hex-chars shard bucket from scratch in
#     DuckDB; any divergence in key bytes, hex casing, or the 32-bit
#     conversion breaks the hash.  LOCAL_TWINS (driver registry at its
#     50-row cap), enforced by the tests/test_queries_oracle.py
#     rehearsal. ---
def q_epoch_shuffle(spark, sf_dir):
    from cl_readability_spark.functions.assembly import epoch_shuffle

    out = epoch_shuffle(
        _docs(spark, sf_dir).select("doc_id"),
        seed=17,
        id_cols=("doc_id",),
        n_shards=8,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "shuffle_key",
        F.col("shard").cast("long").alias("shard"),
    )


SQL_EPOCH_SHUFFLE = """
WITH k AS (
  SELECT doc_id,
         md5('17' || chr(31) || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       shuffle_key,
       CAST(CAST(('0x' || substr(shuffle_key, 1, 8)) AS UBIGINT) % 8
            AS BIGINT) AS shard
FROM k
"""


# --- LOCAL twin: token_budget — deterministic greedy token-budget
#     assembly (functions/assembly.py:token_budget_sample).  The engine
#     computes the running token total with the scalable two-phase
#     prefix sum (range partition → in-partition window + broadcast
#     offsets); the oracle re-derives the SAME selection with the plain
#     global window DuckDB can afford — so the twin checks that the
#     distributed prefix sum is value-identical to the textbook
#     single-threaded cumulative sum, per doc (cum_before AND the
#     selected flag, integers, engine-exact).  Priority = trimmed char
#     length (desc), tiebreak doc_id, tokens = the word_count twin's
#     expression, budget 9,000 of the corpus' ~27k total (selects 102
#     of 500 docs at sf0.01 — signal both ways).  LOCAL_TWINS (driver
#     registry at its 50-row cap). ---
def q_token_budget(spark, sf_dir):
    from cl_readability_spark.functions.assembly import token_budget_sample

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
        F.length(F.trim(F.col("text"))).cast("long").alias("prio"),
    )
    out = token_budget_sample(
        toks,
        9000,
        token_col="n_tokens",
        priority_col="prio",
        id_col="doc_id",
        n_ranges=8,
        join_back=False,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "budget_tokens",
        "cum_before_tokens",
        F.col("selected").cast("int").alias("selected"),
    )


SQL_TOKEN_BUDGET = r"""
WITH t AS (
  SELECT doc_id,
         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(length(trim(text)) AS BIGINT) AS prio
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY prio DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       n_tokens AS budget_tokens,
       cb AS cum_before_tokens,
       CAST(cb < 9000 AS INTEGER) AS selected
FROM c
"""


# --- LOCAL twin: ngram_top — exact corpus n-gram heavy hitters
#     (functions/ngrams.py:ngram_counts).  The oracle rebuilds the
#     trigram stream generically in DuckDB (lower+trim, the explicit
#     engine-parity whitespace class, 1-based inclusive list slices
#     over a generate_series of gram starts) and re-aggregates with
#     GROUP BY / HAVING — checking the zip_with-over-slices gram
#     builder and the occurrence semantics (every repeat counts, not
#     document frequency).  min_count=4 keeps 620 of 16k distinct
#     trigrams at sf0.01 — the HAVING filter carries signal.
#     LOCAL_TWINS (driver registry at its 50-row cap). ---
def q_ngram_top(spark, sf_dir):
    from cl_readability_spark.functions.ngrams import ngram_counts

    return ngram_counts(
        _docs(spark, sf_dir), text_col="text", n=3, min_count=4
    ).select("gram", F.col("n_occurrences").cast("long").alias("n_occurrences"))


SQL_NGRAM_TOP = """
WITH norm AS (
  SELECT lower(trim(text)) AS t FROM documents
),
w AS (
  SELECT regexp_split_to_array(t, '[ \t\n\f\r]+') AS words
  FROM norm WHERE t <> ''
),
g AS (
  SELECT array_to_string(words[i:i+2], ' ') AS gram
  FROM w, LATERAL unnest(generate_series(1, len(words) - 2)) AS s(i)
  WHERE len(words) >= 3
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY gram HAVING COUNT(*) >= 4
"""


# --- LOCAL twin: rank_buckets — stratified score-rank bucketing
#     (functions/assembly.py:rank_buckets — the machinery under
#     lm.ppl_partition's CCNet head/middle/tail cut; the LM score core
#     has its own 6dp twin, lm_ppl, so this one scores with the EXACT
#     integer n_chars to keep rank ties engine-deterministic).  The
#     engine computes the per-language rank with the scalable two-phase
#     prefix COUNT (range partition → in-partition row_number +
#     broadcast offsets); the oracle re-derives it with the plain
#     row_number()/count(*) global window DuckDB can afford, and the
#     SAME floor-rank bucket rule 1 + (rank-1)*3 // n.  NULLS FIRST is
#     explicit in the SQL (DuckDB defaults ASC to NULLS LAST; Spark to
#     NULLS FIRST).  LOCAL_TWINS (driver registry at its 50-row cap). ---
def q_rank_buckets(spark, sf_dir):
    from cl_readability_spark.functions.assembly import rank_buckets

    out = rank_buckets(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        "n_chars",
        n_buckets=3,
        group_cols=("lang",),
        id_col="doc_id",
        ascending=True,
        labels=("head", "middle", "tail"),
        n_ranges=8,
        join_back=False,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score_rank").cast("long").alias("score_rank"),
        F.col("rank_bucket").cast("int").alias("rank_bucket"),
        F.col("rank_bucket_label").alias("bucket_label"),
    )


SQL_RANK_BUCKETS = """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY n_chars ASC NULLS FIRST, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rk AS BIGINT) AS score_rank,
       CAST(1 + ((rk - 1) * 3) // n AS INTEGER) AS rank_bucket,
       CASE 1 + ((rk - 1) * 3) // n
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket_label
FROM r
"""


# --- LOCAL twin: url_dedup_planted — URL canonicalization + URL-level
#     dedup (functions/urls.py).  Both engines build the SAME planted
#     raw-URL corpus from doc_id (4 variants per page group: shouty
#     scheme/host + www + utm params; explicit :80 + trailing slash +
#     reordered params; mixed-case host + fbclid; fragment-only).  The
#     engine canonicalizes with the codegen projection and picks
#     winners with the skew-safe min(struct) agg; the oracle re-derives
#     the WHOLE canonical contract generically in DuckDB SQL — RFC 3986
#     appendix-B regex split, lower scheme/host, www/default-port
#     strip, trailing-slash strip, list-level tracking-param filter
#     (RE2 has no lookahead, so the oracle filters whole params after
#     splitting — same whole-param semantics as the engine's
#     boundary-anchored regex), byte-wise param sort — and keeps
#     min(doc_id) per canonical group via a window.  NULL/blank URLs
#     are kept (no duplication evidence).  LOCAL_TWINS (driver registry
#     at its 50-row cap). ---
def q_url_dedup_planted(spark, sf_dir):
    from cl_readability_spark.functions.urls import url_dedup

    d = F.col("doc_id")
    g = d % 100
    h = (g % 7).cast("string")
    gs = g.cast("string")
    ds = d.cast("string")
    raw = (
        F.when(d % 23 == 0, F.lit(None).cast("string"))
        .when(d % 23 == 1, F.lit("  "))
        .when(
            d % 4 == 0,
            F.concat(
                F.lit("HTTP://WWW.Site"), h, F.lit(".COM/page/"), gs,
                F.lit("?utm_source=feed&x=1&b=2"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("http://site"), h, F.lit(".com:80/page/"), gs,
                F.lit("/?b=2&x=1"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("http://Site"), h, F.lit(".com/page/"), gs,
                F.lit("?x=1&b=2&fbclid=f"), ds,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://site"), h, F.lit(".com/page/"), gs,
                F.lit("#s"), ds,
            )
        )
    )
    docs = _docs(spark, sf_dir).select("doc_id").withColumn("url", raw)
    out = url_dedup(docs, url_col="url", id_col="doc_id")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "canon_url",
        F.col("url_keep").cast("int").alias("url_keep"),
    )


SQL_URL_DEDUP_PLANTED = r"""
WITH raw AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 23 = 0 THEN NULL
      WHEN doc_id % 23 = 1 THEN '  '
      WHEN doc_id % 4 = 0 THEN
        'HTTP://WWW.Site' || (doc_id % 100) % 7 || '.COM/page/'
        || doc_id % 100 || '?utm_source=feed&x=1&b=2'
      WHEN doc_id % 4 = 1 THEN
        'http://site' || (doc_id % 100) % 7 || '.com:80/page/'
        || doc_id % 100 || '/?b=2&x=1'
      WHEN doc_id % 4 = 2 THEN
        'http://Site' || (doc_id % 100) % 7 || '.com/page/'
        || doc_id % 100 || '?x=1&b=2&fbclid=f' || doc_id
      ELSE
        'http://site' || (doc_id % 100) % 7 || '.com/page/'
        || doc_id % 100 || '#s' || doc_id
    END AS url
  FROM documents
),
t AS (SELECT doc_id, trim(url) AS s FROM raw),
p AS (
  SELECT doc_id, s,
    lower(COALESCE(regexp_extract(s, '^(?:([^:/?#]+):)', 1), '')) AS scheme,
    regexp_matches(s, '^(?:[^:/?#]+:)?//') AS has_auth,
    COALESCE(regexp_extract(s, '^(?:[^:/?#]+:)?(?://([^/?#]*))?', 1), '') AS rawauth,
    COALESCE(regexp_extract(s,
      '^(?:[^:/?#]+:)?(?://[^/?#]*)?([^?#]*)', 1), '') AS rawpath,
    COALESCE(regexp_extract(s, '^[^?#]*\?([^#]*)', 1), '') AS rawq
  FROM t
),
a AS (
  SELECT doc_id, s, scheme, has_auth, rawpath, rawq,
    COALESCE(regexp_extract(rawauth,
      '^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$', 1), '') AS userinfo,
    lower(COALESCE(regexp_extract(rawauth,
      '^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$', 2), '')) AS host0,
    COALESCE(regexp_extract(rawauth,
      '^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$', 3), '') AS port0
  FROM p
),
c AS (
  SELECT doc_id, s, scheme, has_auth, userinfo,
    CASE WHEN starts_with(host0, 'www.')
              AND contains(substr(host0, 5), '.')
         THEN substr(host0, 5) ELSE host0 END AS host,
    CASE WHEN port0 = '' OR (scheme = 'http' AND port0 = '80')
              OR (scheme = 'https' AND port0 = '443')
         THEN '' ELSE ':' || port0 END AS port,
    CASE WHEN length(
           CASE WHEN has_auth AND rawpath = '' THEN '/' ELSE rawpath END
         ) > 1
         THEN regexp_replace(
           CASE WHEN has_auth AND rawpath = '' THEN '/' ELSE rawpath END,
           '/$', '')
         ELSE CASE WHEN has_auth AND rawpath = '' THEN '/' ELSE rawpath END
    END AS path,
    COALESCE(array_to_string(
      list_sort(
        list_filter(string_split(rawq, '&'),
          x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[A-Za-z0-9_]+|fbclid|gclid|gclsrc|dclid|msclkid|yclid|igshid|mc_cid|mc_eid|_hsenc|_hsmi|_ga|vero_id|oly_anon_id|oly_enc_id)(=[^&]*)?$'))),
      '&'), '') AS q
  FROM a
),
canon AS (
  SELECT doc_id,
    CASE WHEN s IS NULL OR s = '' THEN NULL ELSE
      (CASE WHEN scheme = '' THEN '' ELSE scheme || ':' END)
      || (CASE WHEN has_auth THEN '//' || userinfo || host || port
               ELSE '' END)
      || path
      || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
    END AS canon_url
  FROM c
),
keep AS (
  SELECT doc_id, canon_url,
    CASE WHEN canon_url IS NULL THEN 1
         WHEN doc_id = min(doc_id) OVER (PARTITION BY canon_url)
         THEN 1 ELSE 0 END AS url_keep
  FROM canon
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, canon_url,
       CAST(url_keep AS INTEGER) AS url_keep
FROM keep
"""


# --- LOCAL twin: tfidf_topk — per-document top-k salient terms
#     (functions/keywords.py).  The oracle re-derives tf (occurrence
#     counts per doc), df (DOCUMENT counts via COUNT(DISTINCT doc_id)
#     — the engine gets the same number from the array_distinct
#     explode), the smoothed sklearn idf ln((1+N)/(1+df))+1 with N =
#     ALL corpus rows (incl. blank/null docs — docs.count() parity),
#     and the (tfidf DESC, word ASC) rank.  Scores hash-checked at
#     x10k fixed point (the cosine-twin convention).  LOCAL_TWINS
#     (driver registry at its 50-row cap). ---
def q_tfidf_topk(spark, sf_dir):
    from cl_readability_spark.functions.keywords import tfidf_topk

    out = tfidf_topk(
        _docs(spark, sf_dir).select("doc_id", "text"),
        k=3,
        strategy="broadcast",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "word",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(F.col("tfidf") * 10000, 0).cast("long").alias("tfidf_x10k"),
        F.col("term_rank").cast("int").alias("term_rank"),
    )


SQL_TFIDF_TOPK = r"""
WITH w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+'))
           AS word
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word
),
dfx AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word
),
n AS (SELECT COUNT(*) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.word, tf.tf, dfx.df,
         tf.tf * (ln((1.0 + n.n) / (1.0 + dfx.df)) + 1.0) AS tfidf
  FROM tf JOIN dfx USING (word) CROSS JOIN n
),
r AS (
  SELECT s.*,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, word ASC
         ) AS term_rank
  FROM s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, word,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(round(tfidf * 10000) AS BIGINT) AS tfidf_x10k,
       CAST(term_rank AS INTEGER) AS term_rank
FROM r WHERE term_rank <= 3
"""



# --- LOCAL twin: sft_planted — SFT training-example assembly
#     (functions/sft.py:sft_examples) re-derived GENERICALLY in DuckDB.
#     Both engines build the SAME 6-turn transcript corpus closed-form
#     from documents (roles user/assistant/user/assistant/tool/
#     assistant, text = the doc's text, so per-turn token counts vary
#     10-99); the SQL recomputes the maximal-fitting-suffix selection
#     from first principles — window cumsum + the inclusive
#     cum0[j] >= cum0[p] - budget membership predicate as a self-join —
#     and the rendered context via ordered string_agg, so any
#     divergence in the suffix boundary, token counting, truncation
#     flag, or byte-level rendering breaks the hash.  Budget 60 vs the
#     ~54-token median turn gives signal on every path: idx-1 targets
#     split into kept-full vs dropped-entirely (first turn alone over
#     budget ⇒ zero context ⇒ min_context_turns drops it), idx-3/5
#     targets mostly truncate to a proper suffix with varying
#     n_context_turns.  LOCAL_TWINS (driver registry at its 50-row
#     cap; round-9 rotation candidate). ---
def q_sft_planted(spark, sf_dir):
    from cl_readability_spark.functions.sft import sft_examples

    doc = F.col("doc_id")
    pos = (doc % 6).cast("int")
    role = F.element_at(
        F.array(
            F.lit("user"),
            F.lit("assistant"),
            F.lit("user"),
            F.lit("assistant"),
            F.lit("tool"),
            F.lit("assistant"),
        ),
        pos + 1,
    )
    tr = _docs(spark, sf_dir).select(
        F.floor(doc / 6).cast("long").cast("string").alias("conv_id"),
        pos.cast("long").alias("turn_idx"),
        role.alias("role"),
        F.col("text").alias("text"),
    )
    return sft_examples(tr, max_context_tokens=60)


SQL_SFT_PLANTED = """
WITH t AS (
  SELECT CAST(doc_id // 6 AS VARCHAR) AS conv_id,
         CAST(doc_id % 6 AS BIGINT) AS turn_idx,
         (['user','assistant','user','assistant','tool','assistant'])
           [CAST(doc_id % 6 AS INTEGER) + 1] AS role,
         text,
         CAST(length(regexp_extract_all(text, '[^ \t\n\f\r]+'))
              AS BIGINT) AS toks
  FROM documents
),
c AS (
  SELECT *, sum(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
p AS (
  SELECT g.conv_id, g.turn_idx AS target_idx, g.text AS target_text,
         g.toks AS target_tokens,
         x.turn_idx AS ctx_idx, x.toks AS ctx_toks,
         x.role || ': ' || x.text AS ctx_line
  FROM c g JOIN c x
    ON x.conv_id = g.conv_id AND x.turn_idx < g.turn_idx
   AND x.cum - x.toks >= g.cum - g.toks - 60
  WHERE g.role = 'assistant'
)
SELECT conv_id,
       target_idx,
       MIN(ctx_idx) AS context_start_idx,
       CAST(COUNT(*) AS BIGINT) AS n_context_turns,
       CAST(SUM(ctx_toks) AS BIGINT) AS context_tokens,
       CAST(MAX(target_tokens) AS BIGINT) AS target_tokens,
       MIN(ctx_idx) > 0 AS truncated,
       string_agg(ctx_line, chr(10) ORDER BY ctx_idx) AS context_text,
       MAX(target_text) AS target_text
FROM p
GROUP BY conv_id, target_idx
"""


# --- LOCAL twin: split_leak_planted — cross-split leakage audit
#     (functions/decontam.py:split_leakage, exact mode) over a planted
#     corpus covering every semantic class: a train→test exact copy
#     (doc_id%20=0), a train→val copy (%20=5), a train row copied into
#     BOTH protected splits (%20=12 ⇒ leaks_into 'test,val'), a
#     val→test copy that must NOT flag (protected↔protected), and a
#     train→train copy that must NOT flag (no protected match).  The
#     twin is generic: the SQL recomputes the normalized md5
#     fingerprint, the protected-side aggregate, and the join from
#     scratch, so incidental text collisions in the synthetic corpus
#     are handled identically by construction.  LOCAL_TWINS (driver
#     registry at its 50-row cap; round-9 rotation candidate). ---
def q_split_leak_planted(spark, sf_dir):
    from cl_readability_spark.functions.decontam import split_leakage

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("id"), "text"
    )
    doc = F.col("id")
    base = docs.select(
        doc.alias("id"),
        F.when(doc % 10 == 8, "val")
        .when(doc % 10 == 9, "test")
        .otherwise("train")
        .alias("split"),
        "text",
    )

    def _copies(mod, rem, offset, split):
        return docs.filter(doc % mod == rem).select(
            (doc + offset).alias("id"),
            F.lit(split).alias("split"),
            "text",
        )

    corpus = (
        base.unionByName(_copies(20, 0, 100_000, "test"))
        .unionByName(_copies(20, 5, 100_000, "val"))
        .unionByName(_copies(20, 12, 110_000, "val"))
        .unionByName(_copies(20, 12, 120_000, "test"))
        .unionByName(_copies(10, 8, 200_000, "test"))
        .unionByName(_copies(20, 7, 300_000, "train"))
    )
    return split_leakage(corpus, id_col="id")


SQL_SPLIT_LEAK_PLANTED = """
WITH corpus AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 10 = 8 THEN 'val'
              WHEN doc_id % 10 = 9 THEN 'test'
              ELSE 'train' END AS split,
         text
  FROM documents
  UNION ALL SELECT doc_id + 100000, 'test', text FROM documents
    WHERE doc_id % 20 = 0
  UNION ALL SELECT doc_id + 100000, 'val', text FROM documents
    WHERE doc_id % 20 = 5
  UNION ALL SELECT doc_id + 110000, 'val', text FROM documents
    WHERE doc_id % 20 = 12
  UNION ALL SELECT doc_id + 120000, 'test', text FROM documents
    WHERE doc_id % 20 = 12
  UNION ALL SELECT doc_id + 200000, 'test', text FROM documents
    WHERE doc_id % 10 = 8
  UNION ALL SELECT doc_id + 300000, 'train', text FROM documents
    WHERE doc_id % 20 = 7
),
fp AS (
  SELECT id, split,
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           AS fingerprint
  FROM corpus
),
prot AS (
  SELECT fingerprint,
         array_to_string(list_sort(list(DISTINCT split)), ',')
           AS leaks_into,
         CAST(count(*) AS BIGINT) AS n_protected_matches
  FROM fp
  WHERE split IN ('val', 'test')
  GROUP BY fingerprint
)
SELECT t.id AS id, t.split AS split, t.fingerprint AS fingerprint,
       p.leaks_into AS leaks_into,
       p.n_protected_matches AS n_protected_matches
FROM fp t JOIN prot p USING (fingerprint)
WHERE t.split NOT IN ('val', 'test')
"""


# --- LOCAL twin: sft_dataset_planted — the COMPOSED transcript
#     deployment path (functions/sft.py:sft_dataset: assembly →
#     example-fingerprint exact dedup → conversation-level split
#     assignment; conv_gate=False here — the gate has its own
#     conv_flags twin).  Corpus = the sft_planted 6-turn recipe, plus
#     every 9th conversation rewritten to a FIXED per-position text —
#     those ~9 conversations are byte-identical, so their examples
#     collapse to ONE winner each (min conv_id under STRING ordering —
#     '17' < '8' — pinning the lexicographic winner rule in both
#     engines), while the winner's conversation-level split lands it in
#     exactly one split.  The SQL re-derives the whole chain: suffix
#     assembly, md5 example fingerprint, row_number winner, md5-hex
#     split buckets (seed 7).  LOCAL_TWINS (driver registry at its
#     50-row cap; round-9 rotation candidate). ---
def q_sft_dataset_planted(spark, sf_dir):
    from cl_readability_spark.functions.sft import sft_dataset

    doc = F.col("doc_id")
    pos = (doc % 6).cast("int")
    conv = F.floor(doc / 6).cast("long")
    role = F.element_at(
        F.array(
            F.lit("user"),
            F.lit("assistant"),
            F.lit("user"),
            F.lit("assistant"),
            F.lit("tool"),
            F.lit("assistant"),
        ),
        pos + 1,
    )
    text = F.when(
        conv % 9 == 8,
        F.concat(F.lit("dup turn body number "), pos.cast("string")),
    ).otherwise(F.col("text"))
    tr = _docs(spark, sf_dir).select(
        conv.cast("string").alias("conv_id"),
        pos.cast("long").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
    )
    return sft_dataset(
        tr,
        max_context_tokens=60,
        conv_gate=False,
        ts_col=None,
        split_seed=7,
    )


SQL_SFT_DATASET_PLANTED = """
WITH t AS (
  SELECT CAST(doc_id // 6 AS VARCHAR) AS conv_id,
         CAST(doc_id % 6 AS BIGINT) AS turn_idx,
         (['user','assistant','user','assistant','tool','assistant'])
           [CAST(doc_id % 6 AS INTEGER) + 1] AS role,
         CASE WHEN (doc_id // 6) % 9 = 8
              THEN 'dup turn body number ' || CAST(doc_id % 6 AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
tk AS (
  SELECT *, CAST(length(regexp_extract_all(text, '[^ \t\n\f\r]+'))
                 AS BIGINT) AS toks
  FROM t
),
c AS (
  SELECT *, sum(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM tk
),
p AS (
  SELECT g.conv_id, g.turn_idx AS target_idx, g.text AS target_text,
         g.toks AS target_tokens,
         x.turn_idx AS ctx_idx, x.toks AS ctx_toks,
         x.role || ': ' || x.text AS ctx_line
  FROM c g JOIN c x
    ON x.conv_id = g.conv_id AND x.turn_idx < g.turn_idx
   AND x.cum - x.toks >= g.cum - g.toks - 60
  WHERE g.role = 'assistant'
),
ex AS (
  SELECT conv_id,
         target_idx,
         MIN(ctx_idx) AS context_start_idx,
         CAST(COUNT(*) AS BIGINT) AS n_context_turns,
         CAST(SUM(ctx_toks) AS BIGINT) AS context_tokens,
         CAST(MAX(target_tokens) AS BIGINT) AS target_tokens,
         MIN(ctx_idx) > 0 AS truncated,
         string_agg(ctx_line, chr(10) ORDER BY ctx_idx) AS context_text,
         MAX(target_text) AS target_text
  FROM p
  GROUP BY conv_id, target_idx
),
fp AS (
  SELECT *, md5(context_text || chr(31) || target_text) AS fingerprint
  FROM ex
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY fingerprint
                               ORDER BY conv_id, target_idx) AS rn
  FROM fp
)
SELECT conv_id, target_idx, context_start_idx, n_context_turns,
       context_tokens, target_tokens, truncated, context_text,
       target_text, fingerprint,
       CASE WHEN substr(md5('7' || chr(31) || conv_id), 1, 1)
                 IN ('c', 'd') THEN 'val'
            WHEN substr(md5('7' || chr(31) || conv_id), 1, 1)
                 IN ('e', 'f') THEN 'test'
            ELSE 'train' END AS split
FROM w
WHERE rn = 1
"""


LOCAL_TWINS: dict[str, tuple] = {
    "repetition_score": (q_repetition_score, SQL_REPETITION_SCORE),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_customers": (q_top_customers, SQL_TOP_CUSTOMERS),
    "regional_customers": (q_regional_customers, SQL_REGIONAL_CUSTOMERS),
    "user_event_seq": (q_user_event_seq, SQL_USER_EVENT_SEQ),
    "dedup_weights_planted": (
        q_dedup_weights_planted,
        SQL_DEDUP_WEIGHTS_PLANTED,
    ),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "semantic_decontam": (q_semantic_decontam, SQL_SEMANTIC_DECONTAM),
    "bpe_word_counts": (q_bpe_word_counts, SQL_BPE_WORD_COUNTS),
    "incremental_exact": (q_incremental_exact, SQL_INCREMENTAL_EXACT),
    "ingest_planted": (q_ingest_planted, SQL_INGEST_PLANTED),
    "epoch_shuffle": (q_epoch_shuffle, SQL_EPOCH_SHUFFLE),
    "token_budget": (q_token_budget, SQL_TOKEN_BUDGET),
    "ngram_top": (q_ngram_top, SQL_NGRAM_TOP),
    "rank_buckets": (q_rank_buckets, SQL_RANK_BUCKETS),
    "url_dedup_planted": (q_url_dedup_planted, SQL_URL_DEDUP_PLANTED),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    # retired from the driver registry mid-round-8 to fund the two new
    # composed twins (see the SQL_TWINS note)
    "c4_planted": (q_c4_planted, SQL_C4_PLANTED),
    "substring_dedup_planted": (
        q_substring_dedup_planted,
        SQL_SUBSTRING_DEDUP_PLANTED,
    ),
    "sft_planted": (q_sft_planted, SQL_SFT_PLANTED),
    "split_leak_planted": (q_split_leak_planted, SQL_SPLIT_LEAK_PLANTED),
    "sft_dataset_planted": (q_sft_dataset_planted, SQL_SFT_DATASET_PLANTED),
}
